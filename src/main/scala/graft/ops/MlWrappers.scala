package graft.ops

import org.apache.spark.ml.classification.{LogisticRegression => MlLogisticRegression}
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.ml.regression.{LinearRegression => MlLinearRegression}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Gradient-based / regularized model fits.
  *
  * The reference ships modified ClickHouse `stochasticLinearRegression` /
  * `stochasticLogisticRegression` (method ∈ {SGD…,'Lasso'}; CH
  * AggregateFunctionMLMethod.h:1-436, test 13_lasso.sql) and a Python IRLS
  * logistic driven by repeated `MatrixMultiplication` passes
  * (regression.py:45-255). Spark-first: the SGD/Lasso surface maps onto
  * `spark.ml`'s L-BFGS/OWL-QN optimizers (elasticNet gives Lasso exactly),
  * and IRLS maps onto our own weighted one-pass OLS aggregate — one scan per
  * iteration, O(k²) driver state, no per-row driver traffic.
  */
object MlWrappers {

  case class LinearFit(coefficients: Array[Double], intercept: Double) {
    def predict(xs: Seq[Column]): Column =
      xs.zipWithIndex.map { case (x, i) => x.cast("double") * lit(coefficients(i)) }
        .reduce(_ + _) + lit(intercept)
  }

  /** Optimizer names the reference's `stochastic_*_regression` accepts
    * (AggregateFunctionMLMethod.h:360-375 weights updaters + the 'Lasso'
    * proximal variant). They pick the descent flavor, not the model: every
    * updater converges to the same (regularized) least-squares / logistic
    * optimum, which is what spark.ml's batch L-BFGS/OWL-QN computes
    * directly — so the name is validated for surface parity and the fit
    * itself always runs the deterministic batch path. */
  private val OptimizerNames = Set("SGD", "Momentum", "Nesterov", "Adam", "Lasso")
  private def checkMethod(method: String): Unit =
    require(OptimizerNames.contains(method),
      s"unknown method '$method'; expected one of ${OptimizerNames.mkString(", ")}")

  /** `stochastic_linear_regression(..., method)` equivalent: linear fit
    * with L1 (lasso) / L2 (ridge) regularization. */
  def stochasticLinearRegression(df: DataFrame, y: Column, xs: Seq[Column],
                                 l1: Double = 0.0, l2: Double = 0.0,
                                 maxIter: Int = 100,
                                 method: String = "Lasso"): LinearFit = {
    checkMethod(method)
    val (reg, elastic) =
      if (l1 == 0 && l2 == 0) (0.0, 0.0)
      else (l1 + l2, if (l1 + l2 == 0) 0.0 else l1 / (l1 + l2))
    val prepared = assemble(df, y, xs)
    val m = new MlLinearRegression()
      .setRegParam(reg).setElasticNetParam(elastic).setMaxIter(maxIter)
      .setLabelCol("__label").setFeaturesCol("__features")
      .fit(prepared)
    LinearFit(m.coefficients.toArray, m.intercept)
  }

  /** Logistic fit with GLM inference: stderr/z/p per coefficient (xs order,
    * intercept fields separate), from the final IRLS iteration's
    * (XᵀWX)⁻¹ — the Fisher information inverse (dispersion 1), exactly the
    * summary the reference prints (regression.py:203-255). Inference arrays
    * are empty for the spark.ml path (no Fisher information surfaced). */
  case class LogisticFit(coefficients: Array[Double], intercept: Double,
                         iterations: Int, converged: Boolean,
                         stderr: Array[Double] = Array.empty,
                         interceptStderr: Double = Double.NaN) {
    /** P(y=1|x) = σ(xᵀβ + b) as a codegen'd column. */
    def predictProba(xs: Seq[Column]): Column = {
      val lin = xs.zipWithIndex.map { case (x, i) => x.cast("double") * lit(coefficients(i)) }
        .reduce(_ + _) + lit(intercept)
      lit(1.0) / (lit(1.0) + exp(-lin))
    }
    def zValues: Array[Double] =
      coefficients.zip(stderr).map { case (c, s) => c / s }
    def pValues: Array[Double] =
      zValues.map(z => 2.0 * (1.0 - graft.stats.Dist.normCdf(math.abs(z))))
    def interceptZ: Double = intercept / interceptStderr
    def interceptP: Double =
      2.0 * (1.0 - graft.stats.Dist.normCdf(math.abs(interceptZ)))

    /** R-style per-coefficient summary rows: (name, estimate, stderr, z, p). */
    def summaryRows(names: Seq[String]): Seq[(String, Double, Double, Double, Double)] =
      names.zipWithIndex.map { case (nm, i) =>
        (nm, coefficients(i), stderr(i), zValues(i), pValues(i))
      } :+ (("(intercept)", intercept, interceptStderr, interceptZ, interceptP))
  }

  /** `stochastic_logistic_regression` equivalent via spark.ml (L-BFGS /
    * OWL-QN for L1). */
  def stochasticLogisticRegression(df: DataFrame, y: Column, xs: Seq[Column],
                                   l1: Double = 0.0, l2: Double = 0.0,
                                   maxIter: Int = 100,
                                   method: String = "Lasso"): LogisticFit = {
    checkMethod(method)
    val (reg, elastic) =
      if (l1 == 0 && l2 == 0) (0.0, 0.0)
      else (l1 + l2, if (l1 + l2 == 0) 0.0 else l1 / (l1 + l2))
    val m = new MlLogisticRegression()
      .setRegParam(reg).setElasticNetParam(elastic).setMaxIter(maxIter)
      .setLabelCol("__label").setFeaturesCol("__features")
      .fit(assemble(df, y, xs))
    LogisticFit(m.coefficients.toArray, m.intercept, m.summary.totalIterations, true)
  }

  /** IRLS logistic with the reference's loop shape (regression.py:143-200):
    * each iteration is ONE weighted-OLS aggregate pass — working response
    * z = η + (y−p)/(p(1−p)), weight w = p(1−p), both codegen'd expressions.
    *
    * The iterate's coefficients enter as a broadcast one-row frame, NOT as
    * inline literals: inlined doubles change the generated source every
    * iteration, so a D-iteration fit would janino-compile D distinct
    * stages (measured 17 s cold vs 2.4 s warm on 6M rows before this).
    * With the coefficients behind an attribute reference the iteration
    * plan's source is identical every pass and the whole loop compiles
    * once. (A foldable typedLit would not work: element_at(literal,
    * literal) constant-folds back to an inlined double.) */
  def logisticIrls(df: DataFrame, y: Column, xs: Seq[Column],
                   maxIter: Int = 25, tol: Double = 1e-8,
                   maxCells: Int = 4096): LogisticFit = {
    require(maxIter > 0, "maxIter must be positive (stderr needs a final fit)")
    val spark = df.sparkSession
    import spark.implicits._
    val k = xs.length
    var beta = Array.fill(k + 1)(0.0) // xs coefs ++ bias
    var converged = false
    var it = 0
    var lastModel: OlsModel = null
    // every iteration is one aggregate scan over the SAME (y, x...) slice;
    // without the cache each of the ~10-20 iterations re-reads and
    // re-projects the source (at sf0.1 that is the whole q34 runtime).
    // MEMORY_AND_DISK by default, released before returning.
    val slim = df.select(y.cast("double").as("__y") +:
      xs.zipWithIndex.map { case (x, i) => x.cast("double").as(s"__x$i") }: _*)
      .persist()
    try {
      val yd = col("__y")
      val xsS = (0 until k).map(i => col(s"__x$i"))
      // design collapse (graft.stats.LocalCollapse): z is linear in y given
      // x and w depends only on x, so per-x-cell y moments are exact
      val cellsOpt = graft.stats.DesignCells.collectByX(slim, "__y", maxCells)
      cellsOpt match {
        case Some(cells) =>
          while (it < maxIter && !converged) {
            val buf = graft.agg.OlsBuf.zero(k + 1)
            var i = 0
            while (i < cells.length) {
              val c = cells(i)
              var eta = beta(k)
              var m = 0
              while (m < k) { eta += c.xs(m) * beta(m); m += 1 }
              val p0 = 1.0 / (1.0 + math.exp(-eta))
              val p = math.min(math.max(p0, 1e-10), 1.0 - 1e-10)
              val w = p * (1.0 - p)
              // z = η + (y − p)/w = (η − p/w) + y/w
              buf.addCellYMoments(eta - p / w, 1.0 / w, c.sumY, c.sumY2,
                c.xs :+ 1.0, w, c.n)
              i += 1
            }
            val m = Regression.modelFromBuf(buf, k, useBias = true)
            lastModel = m
            val next = m.summary.coefficients
            val delta = next.zip(beta).map { case (a, b) => math.abs(a - b) }.max
            beta = next
            converged = delta < tol
            it += 1
          }
        case None =>
      while (it < maxIter && !converged) {
        val withBeta = slim.crossJoin(broadcast(Seq(Tuple1(beta.toSeq)).toDF("__beta")))
        val b = col("__beta")
        val eta = xsS.zipWithIndex.map { case (x, i) =>
          x * element_at(b, i + 1)
        }.reduce(_ + _) + element_at(b, k + 1)
        val p0 = lit(1.0) / (lit(1.0) + exp(-eta))
        // clamp away from 0/1 so weights stay positive-definite
        val p = least(greatest(p0, lit(1e-10)), lit(1.0 - 1e-10))
        val w = p * (lit(1.0) - p)
        val z = eta + (yd - p) / w
        val m = Regression.fitOls(withBeta, z, xsS, useBias = true, weight = w)
        lastModel = m
        val next = m.summary.coefficients // xs ++ bias
        val delta = next.zip(beta).map { case (a, b) => math.abs(a - b) }.max
        beta = next
        converged = delta < tol
        it += 1
      }
      }
    } finally {
      slim.unpersist()
      ()
    }
    // cov(β) = (XᵀWX)⁻¹ at the final weights (GLM dispersion 1); the
    // weighted OlsBuf accumulates exactly XᵀWX, so its inverse is already
    // on the model. Order matches coefficients: xs then bias.
    val se = (0 to k).map(i => math.sqrt(lastModel.xtxInv(i)(i))).toArray
    LogisticFit(beta.take(k), beta(k), it, converged, se.take(k), se(k))
  }

  /** Poisson GLM fit with inference: stderr/z/p per coefficient (xs
    * order, intercept separate) from the final IRLS iteration's
    * (XᵀWX)⁻¹, plus the Pearson dispersion φ = Σ(y−μ)²/μ / (n−p) — the
    * overdispersion readout that tells a count-metric experimenter
    * whether the Poisson variance assumption holds (φ ≫ 1 ⇒ scale the
    * stderrs by √φ, the quasi-Poisson correction, or move to a
    * negative-binomial model). */
  case class PoissonFit(coefficients: Array[Double], intercept: Double,
                        iterations: Int, converged: Boolean,
                        stderr: Array[Double], interceptStderr: Double,
                        dispersion: Double, n: Long) {
    /** E[y|x] = exp(xᵀβ + b) as a codegen'd column. */
    def predictMean(xs: Seq[Column]): Column = {
      val lin = xs.zipWithIndex.map { case (x, i) => x.cast("double") * lit(coefficients(i)) }
        .reduce(_ + _) + lit(intercept)
      exp(lin)
    }
    def zValues: Array[Double] =
      coefficients.zip(stderr).map { case (c, s) => c / s }
    def pValues: Array[Double] =
      zValues.map(z => 2.0 * (1.0 - graft.stats.Dist.normCdf(math.abs(z))))
  }

  /** IRLS Poisson regression (log link) — the count-outcome sibling of
    * [[logisticIrls]] and the GLM the reference's OLS/logistic surface
    * stops short of: per iteration, with η = Xβ and μ = exp(η),
    *
    *   w = μ,   z = η + (y − μ)/μ
    *
    * and the update is ONE weighted-OLS aggregate pass (McCullagh &
    * Nelder 1989 §2.5's canonical-link scoring). Same 100 TB shape as
    * logisticIrls: the iterate rides a broadcast one-row frame so the
    * whole loop janino-compiles once (see logisticIrls' note), the
    * (y, x…) slice is persisted across the ~5-15 iterations, O(k²)
    * driver state. The intercept starts at log(ȳ) (the null model) so
    * the first exp() stays in range on any y scale. Rows with a null or
    * negative outcome are dropped listwise (a count can't be negative —
    * the Poisson likelihood is undefined there). */
  def poissonIrls(df: DataFrame, y: Column, xs: Seq[Column],
                  maxIter: Int = 25, tol: Double = 1e-8,
                  maxCells: Int = 4096): PoissonFit = {
    require(maxIter > 0, "maxIter must be positive (stderr needs a final fit)")
    val spark = df.sparkSession
    import spark.implicits._
    val k = xs.length
    val slim = df.select(y.cast("double").as("__y") +:
      xs.zipWithIndex.map { case (x, i) => x.cast("double").as(s"__x$i") }: _*)
      .filter(col("__y").isNotNull && col("__y") >= 0.0)
      .persist()
    try {
      val yd = col("__y")
      val xsS = (0 until k).map(i => col(s"__x$i"))
      // design collapse (graft.stats.LocalCollapse): z is linear in y given
      // x and μ depends only on x, so per-x-cell y moments are exact
      val cellsOpt = graft.stats.DesignCells.collectByX(slim, "__y", maxCells)
      cellsOpt match {
        case Some(cells) =>
          val nRows = cells.map(_.n).sum
          val ybar = cells.map(_.sumY).sum / nRows
          require(nRows > k + 1,
            s"poisson_reg: need more than ${k + 1} rows, got $nRows")
          require(ybar > 0.0,
            "poisson_reg: outcome is all-zero — the log link has no MLE")
          var beta = Array.fill(k)(0.0) :+ math.log(ybar)
          var converged = false
          var it = 0
          var lastModel: OlsModel = null
          def muOf(c: graft.stats.DesignCells.XCell): Double = {
            var eta = beta(k)
            var m = 0
            while (m < k) { eta += c.xs(m) * beta(m); m += 1 }
            math.min(math.max(math.exp(eta), 1e-10), 1e15)
          }
          while (it < maxIter && !converged) {
            val buf = graft.agg.OlsBuf.zero(k + 1)
            var i = 0
            while (i < cells.length) {
              val c = cells(i)
              var eta = beta(k)
              var m0 = 0
              while (m0 < k) { eta += c.xs(m0) * beta(m0); m0 += 1 }
              val mu = math.min(math.max(math.exp(eta), 1e-10), 1e15)
              // z = η + (y − μ)/μ = (η − 1) + y/μ
              buf.addCellYMoments(eta - 1.0, 1.0 / mu, c.sumY, c.sumY2,
                c.xs :+ 1.0, mu, c.n)
              i += 1
            }
            val m = Regression.modelFromBuf(buf, k, useBias = true)
            lastModel = m
            val next = m.summary.coefficients
            val delta = next.zip(beta).map { case (a, b) => math.abs(a - b) }.max
            beta = next
            converged = delta < tol
            it += 1
          }
          // Pearson dispersion at the converged μ: per-cell closed form
          // Σ(y−μ)²/μ = (Σy² − 2μΣy + nμ²)/μ
          var pearson = 0.0
          var i = 0
          while (i < cells.length) {
            val c = cells(i)
            val mu = muOf(c)
            pearson += (c.sumY2 - 2.0 * mu * c.sumY + c.n * mu * mu) / mu
            i += 1
          }
          val phi = pearson / (nRows - k - 1).toDouble
          val se = (0 to k).map(i0 => math.sqrt(lastModel.xtxInv(i0)(i0))).toArray
          return PoissonFit(beta.take(k), beta(k), it, converged,
            se.take(k), se(k), phi, nRows)
        case None =>
      }
      val head = slim.agg(count(lit(1)).as("n"), avg(yd).as("ybar")).head()
      val nRows = head.getAs[Long]("n")
      val ybar = head.getAs[Double]("ybar")
      require(nRows > k + 1, s"poisson_reg: need more than ${k + 1} rows, got $nRows")
      require(ybar > 0.0, "poisson_reg: outcome is all-zero — the log link has no MLE")
      var beta = Array.fill(k)(0.0) :+ math.log(ybar) // xs coefs ++ bias
      var converged = false
      var it = 0
      var lastModel: OlsModel = null
      while (it < maxIter && !converged) {
        val withBeta = slim.crossJoin(broadcast(Seq(Tuple1(beta.toSeq)).toDF("__beta")))
        val b = col("__beta")
        val eta = xsS.zipWithIndex.map { case (x, i) =>
          x * element_at(b, i + 1)
        }.reduce(_ + _) + element_at(b, k + 1)
        // clamp μ away from 0 (weight must stay positive-definite) and
        // from overflow while the iterate is far from the optimum
        val mu = least(greatest(exp(eta), lit(1e-10)), lit(1e15))
        val z = eta + (yd - mu) / mu
        val m = Regression.fitOls(withBeta, z, xsS, useBias = true, weight = mu)
        lastModel = m
        val next = m.summary.coefficients // xs ++ bias
        val delta = next.zip(beta).map { case (a, b) => math.abs(a - b) }.max
        beta = next
        converged = delta < tol
        it += 1
      }
      // Pearson dispersion at the converged μ: one more aggregate scan
      val withBeta = slim.crossJoin(broadcast(Seq(Tuple1(beta.toSeq)).toDF("__beta")))
      val b = col("__beta")
      val eta = xsS.zipWithIndex.map { case (x, i) =>
        x * element_at(b, i + 1)
      }.reduce(_ + _) + element_at(b, k + 1)
      val mu = least(greatest(exp(eta), lit(1e-10)), lit(1e15))
      val pearson = withBeta.agg(
        sum(org.apache.spark.sql.functions.pow(yd - mu, 2) / mu).as("x2")).head().getAs[Double]("x2")
      val phi = pearson / (nRows - k - 1).toDouble
      val se = (0 to k).map(i => math.sqrt(lastModel.xtxInv(i)(i))).toArray
      PoissonFit(beta.take(k), beta(k), it, converged, se.take(k), se(k), phi, nRows)
    } finally {
      slim.unpersist()
      ()
    }
  }

  /** [[poissonIrls]] as a summary frame — one row per term (xs order,
    * then "(intercept)"): (term, estimate, stderr, z_value, p_value)
    * with the fit-level n / dispersion / iterations / converged columns
    * repeated per row (the calibration-ece single-scan convenience). */
  def poissonSummaryDf(df: DataFrame, y: Column, xs: Seq[Column],
                       names: Seq[String], maxIter: Int = 25): DataFrame = {
    require(names.length == xs.length,
      s"poisson_reg: ${xs.length} covariates but ${names.length} names")
    val spark = df.sparkSession
    import spark.implicits._
    val fit = poissonIrls(df, y, xs, maxIter = maxIter)
    val rows = names.indices.map { i =>
      (names(i), fit.coefficients(i), fit.stderr(i), fit.zValues(i),
        fit.pValues(i), fit.n, fit.dispersion, fit.iterations, fit.converged)
    } :+ (("(intercept)", fit.intercept, fit.interceptStderr,
      fit.intercept / fit.interceptStderr,
      2.0 * (1.0 - graft.stats.Dist.normCdf(
        math.abs(fit.intercept / fit.interceptStderr))),
      fit.n, fit.dispersion, fit.iterations, fit.converged))
    rows.toDF("term", "estimate", "stderr", "z_value", "p_value", "n",
      "dispersion", "iterations", "converged")
  }

  /** Gamma GLM fit (log link) with inference. */
  case class GammaFit(coefficients: Array[Double], intercept: Double,
                      iterations: Int, converged: Boolean,
                      stderr: Array[Double], interceptStderr: Double,
                      dispersion: Double, n: Long) {
    def zValues: Array[Double] =
      coefficients.zip(stderr).map { case (c, s) => c / s }
    def pValues: Array[Double] =
      zValues.map(z => 2.0 * (1.0 - graft.stats.Dist.normCdf(math.abs(z))))
  }

  /** IRLS Gamma regression (log link) — the POSITIVE-CONTINUOUS-outcome
    * sibling of [[poissonIrls]]: revenue per user, latency, LTV —
    * right-skewed positive outcomes with a roughly constant coefficient
    * of variation (Var(y) = φμ², exactly the mean-variance shape that
    * makes OLS-on-levels heteroskedastic and OLS-on-logs answer a
    * different question: E[ln y], not ln E[y]). exp(β) reads as a mean
    * RATIO, the number a revenue experiment wants.
    *
    * The log-link gamma IRLS is the cleanest of the family: the Fisher
    * weight (dμ/dη)²/V(μ) = μ²/(φμ²) is CONSTANT, so each iteration is
    * one UNWEIGHTED OLS of the working response z = η + (y−μ)/μ — the
    * [[logisticIrls]] broadcast-iterate shape with w = 1. SEs are
    * φ̂·(XᵀX)⁻¹ with the Pearson dispersion φ̂ = Σ((y−μ̂)/μ̂)²/(n−p)
    * (φ is a free parameter here, unlike Poisson's fixed 1 — omitting
    * it would understate every SE by the outcome's CV²). The
    * intercept-only fit closes exactly: μ̂ = ȳ (spec-pinned).
    *
    * Rows with y ≤ 0 are a NAMED error (the gamma density has no mass
    * there — a zero-inflated outcome needs a hurdle upstream), not a
    * silent filter. */
  def gammaIrls(df: DataFrame, y: Column, xs: Seq[Column],
                maxIter: Int = 25, tol: Double = 1e-8,
                maxCells: Int = 4096): GammaFit = {
    require(maxIter > 0, "maxIter must be positive (stderr needs a final fit)")
    val spark = df.sparkSession
    import spark.implicits._
    val k = xs.length
    val complete = (y +: xs).map(_.isNotNull).reduce(_ && _)
    val slim = df.filter(complete).select(y.cast("double").as("__y") +:
      xs.zipWithIndex.map { case (x, i) => x.cast("double").as(s"__x$i") }: _*)
      .persist()
    try {
      val yd = col("__y")
      val xsS = (0 until k).map(i => col(s"__x$i"))
      // design collapse (graft.stats.LocalCollapse): the gamma IRLS weight
      // is constant and z is linear in y given x, so per-x-cell moments are exact
      val cellsOpt = graft.stats.DesignCells.collectByX(slim, "__y", maxCells)
      cellsOpt match {
        case Some(cells) =>
          val nRows = cells.map(_.n).sum
          val bad = cells.map(_.nNonPos).sum
          require(bad == 0,
            s"gamma_reg: $bad rows have y <= 0 — the " +
              "gamma density has no mass there (hurdle or shift the outcome)")
          require(nRows > k + 1,
            s"gamma_reg: need more than ${k + 1} rows, got $nRows")
          val ybar = cells.map(_.sumY).sum / nRows
          var beta = Array.fill(k)(0.0) :+ math.log(ybar)
          var converged = false
          var it = 0
          var lastModel: OlsModel = null
          def muOf(c: graft.stats.DesignCells.XCell): Double = {
            var eta = beta(k)
            var m = 0
            while (m < k) { eta += c.xs(m) * beta(m); m += 1 }
            math.min(math.max(math.exp(eta), 1e-300), 1e300)
          }
          while (it < maxIter && !converged) {
            val buf = graft.agg.OlsBuf.zero(k + 1)
            var i = 0
            while (i < cells.length) {
              val c = cells(i)
              var eta = beta(k)
              var m0 = 0
              while (m0 < k) { eta += c.xs(m0) * beta(m0); m0 += 1 }
              val mu = math.min(math.max(math.exp(eta), 1e-300), 1e300)
              // z = η + (y − μ)/μ = (η − 1) + y/μ; w = 1 (log link)
              buf.addCellYMoments(eta - 1.0, 1.0 / mu, c.sumY, c.sumY2,
                c.xs :+ 1.0, 1.0, c.n)
              i += 1
            }
            val m = Regression.modelFromBuf(buf, k, useBias = true)
            lastModel = m
            val next = m.summary.coefficients
            val delta = next.zip(beta).map { case (a, b2) => math.abs(a - b2) }.max
            beta = next
            converged = delta < tol
            it += 1
          }
          // Pearson: Σ((y−μ)/μ)² = (Σy² − 2μΣy + nμ²)/μ²
          var pearson = 0.0
          var i = 0
          while (i < cells.length) {
            val c = cells(i)
            val mu = muOf(c)
            pearson += (c.sumY2 - 2.0 * mu * c.sumY + c.n * mu * mu) / (mu * mu)
            i += 1
          }
          val phi = pearson / (nRows - k - 1).toDouble
          val se = (0 to k).map(i0 =>
            math.sqrt(phi * lastModel.xtxInv(i0)(i0))).toArray
          return GammaFit(beta.take(k), beta(k), it, converged,
            se.take(k), se(k), phi, nRows)
        case None =>
      }
      val head = slim.agg(count(lit(1)).as("n"), avg(yd).as("ybar"),
        sum(when(yd <= 0.0, 1L).otherwise(0L)).as("bad")).head()
      val nRows = head.getAs[Long]("n")
      require(head.getAs[Long]("bad") == 0,
        s"gamma_reg: ${head.getAs[Long]("bad")} rows have y <= 0 — the " +
          "gamma density has no mass there (hurdle or shift the outcome)")
      require(nRows > k + 1,
        s"gamma_reg: need more than ${k + 1} rows, got $nRows")
      val ybar = head.getAs[Double]("ybar")
      var beta = Array.fill(k)(0.0) :+ math.log(ybar) // xs coefs ++ bias
      var converged = false
      var it = 0
      var lastModel: OlsModel = null
      while (it < maxIter && !converged) {
        val withBeta = slim.crossJoin(
          broadcast(Seq(Tuple1(beta.toSeq)).toDF("__beta")))
        val b = col("__beta")
        // foldLeft from the bias term: the intercept-only fit (k = 0)
        // is legitimate here — it closes exactly to ln(mean y)
        val eta = xsS.zipWithIndex.map { case (x, i) =>
          x * element_at(b, i + 1)
        }.foldLeft(element_at(b, k + 1): Column)(_ + _)
        val mu = least(greatest(exp(eta), lit(1e-300)), lit(1e300))
        val z = eta + (yd - mu) / mu
        val m = Regression.fitOls(withBeta, z, xsS, useBias = true)
        lastModel = m
        val next = m.summary.coefficients // xs ++ bias
        val delta = next.zip(beta).map { case (a, b2) => math.abs(a - b2) }.max
        beta = next
        converged = delta < tol
        it += 1
      }
      // Pearson dispersion at the converged μ: one more aggregate scan
      val withBeta = slim.crossJoin(
        broadcast(Seq(Tuple1(beta.toSeq)).toDF("__beta")))
      val b = col("__beta")
      val eta = xsS.zipWithIndex.map { case (x, i) =>
        x * element_at(b, i + 1)
      }.foldLeft(element_at(b, k + 1): Column)(_ + _)
      val mu = least(greatest(exp(eta), lit(1e-300)), lit(1e300))
      val pearson = withBeta.agg(
        sum(org.apache.spark.sql.functions.pow((yd - mu) / mu, 2)).as("x2"))
        .head().getAs[Double]("x2")
      val phi = pearson / (nRows - k - 1).toDouble
      val se = (0 to k).map(i =>
        math.sqrt(phi * lastModel.xtxInv(i)(i))).toArray
      GammaFit(beta.take(k), beta(k), it, converged, se.take(k), se(k),
        phi, nRows)
    } finally {
      slim.unpersist()
      ()
    }
  }

  /** [[gammaIrls]] as a summary frame — the [[poissonSummaryDf]]
    * shape. */
  def gammaSummaryDf(df: DataFrame, y: Column, xs: Seq[Column],
                     names: Seq[String], maxIter: Int = 25): DataFrame = {
    require(names.length == xs.length,
      s"gamma_reg: ${xs.length} covariates but ${names.length} names")
    val spark = df.sparkSession
    import spark.implicits._
    val fit = gammaIrls(df, y, xs, maxIter = maxIter)
    val rows = names.indices.map { i =>
      (names(i), fit.coefficients(i), fit.stderr(i), fit.zValues(i),
        fit.pValues(i), fit.n, fit.dispersion, fit.iterations,
        fit.converged)
    } :+ (("(intercept)", fit.intercept, fit.interceptStderr,
      fit.intercept / fit.interceptStderr,
      2.0 * (1.0 - graft.stats.Dist.normCdf(
        math.abs(fit.intercept / fit.interceptStderr))),
      fit.n, fit.dispersion, fit.iterations, fit.converged))
    rows.toDF("term", "estimate", "stderr", "z_value", "p_value", "n",
      "dispersion", "iterations", "converged")
  }

  /** Negative-binomial (NB2) regression — the overdispersed-count sibling
    * of [[poissonIrls]]: log link, Var(y) = μ + αμ². Real count data
    * (events per user, tokens per doc, crashes per build) routinely
    * carries Var ≫ mean, where the Poisson SEs are too small by
    * √dispersion and every p-value lies; NB2 models the overdispersion
    * instead of post-hoc inflating (Cameron & Trivedi 2013 ch. 3-4).
    *
    * Two stages, both distributed:
    *  1. [[poissonIrls]] for the pilot means, then α̂ by the
    *     Cameron-Trivedi auxiliary moment regression (their eq. 3.37,
    *     no-intercept OLS of ((y−μ̂)²−μ̂)/μ̂ on μ̂, which closes to
    *     α̂ = Σ((y−μ̂)² − μ̂) / Σμ̂² — ONE aggregate);
    *  2. IRLS with the NB2 working weight w = μ/(1 + αμ) (the Fisher
    *     scoring weight for fixed α), same broadcast-iterate shape as
    *     the Poisson loop, SEs from the converged (XᵀWX)⁻¹.
    *
    * α̂ ≤ 0 (under-dispersed or equi-dispersed data) is a NAMED error
    * pointing back at poisson_reg — fitting NB2 there would divide by a
    * vanishing variance ratio and report garbage α. α is method-of-
    * moments, not ML — the standard two-step estimator; its own
    * sampling error is not propagated into the SEs (documented, as in
    * the textbook treatment). */
  def negBinIrls(df: DataFrame, y: Column, xs: Seq[Column],
                 maxIter: Int = 25, tol: Double = 1e-8,
                 maxCells: Int = 4096): NegBinFit = {
    val spark = df.sparkSession
    import spark.implicits._
    val k = xs.length
    val pilot = poissonIrls(df, y, xs, maxIter = maxIter, tol = tol)
    val slim = df.select(y.cast("double").as("__y") +:
      xs.zipWithIndex.map { case (x, i) => x.cast("double").as(s"__x$i") }: _*)
      .filter(col("__y").isNotNull && col("__y") >= 0.0)
      .persist()
    try {
      val yd = col("__y")
      val xsS = (0 until k).map(i => col(s"__x$i"))
      // design collapse (graft.stats.LocalCollapse) keyed on the FULL (y, x…)
      // row: the NB2 likelihood's lgamma(y + r) is nonlinear in y
      val cellsOpt = graft.stats.DesignCells.collect(slim, maxCells)
      cellsOpt match {
        case Some((cells, cnts)) =>
          val pilotBeta0 = pilot.coefficients :+ pilot.intercept
          def muAt(b: Array[Double], cell: Array[Double]): Double = {
            var eta = b(k)
            var m = 0
            while (m < k) { eta += cell(m + 1) * b(m); m += 1 }
            math.min(math.max(math.exp(eta), 1e-10), 1e15)
          }
          def etaAt(b: Array[Double], cell: Array[Double]): Double = {
            var eta = b(k)
            var m = 0
            while (m < k) { eta += cell(m + 1) * b(m); m += 1 }
            eta
          }
          var num = 0.0; var den = 0.0
          var i = 0
          while (i < cells.length) {
            val cell = cells(i); val w = cnts(i).toDouble
            val pmu = muAt(pilotBeta0, cell)
            val yv = cell(0)
            num += w * ((yv - pmu) * (yv - pmu) - pmu)
            den += w * pmu * pmu
            i += 1
          }
          val alpha = num / den
          require(alpha > 0,
            f"neg_bin: moment dispersion alpha = $alpha%.6f <= 0 — the data " +
              "is not overdispersed; use poisson_reg")
          var beta = pilotBeta0
          var converged = false
          var it = 0
          var lastModel: OlsModel = null
          while (it < maxIter && !converged) {
            val buf = graft.agg.OlsBuf.zero(k + 1)
            i = 0
            while (i < cells.length) {
              val cell = cells(i)
              val eta = etaAt(beta, cell)
              val mu = math.min(math.max(math.exp(eta), 1e-10), 1e15)
              val z = eta + (cell(0) - mu) / mu
              val w = mu / (1.0 + alpha * mu)
              val xsB = new Array[Double](k + 1)
              var m = 0
              while (m < k) { xsB(m) = cell(m + 1); m += 1 }
              xsB(k) = 1.0
              buf.addCell(z, xsB, w, cnts(i))
              i += 1
            }
            val m = Regression.modelFromBuf(buf, k, useBias = true)
            lastModel = m
            val next = m.summary.coefficients
            val delta = next.zip(beta).map { case (a, b) => math.abs(a - b) }.max
            beta = next
            converged = delta < tol
            it += 1
          }
          val se = (0 to k).map(i0 =>
            math.sqrt(lastModel.xtxInv(i0)(i0))).toArray
          import org.apache.commons.math3.special.Gamma.logGamma
          var ss = 0.0; var sx2 = 0.0; var nn = 0L; var llPois = 0.0
          i = 0
          while (i < cells.length) {
            val cell = cells(i); val w = cnts(i).toDouble
            val pmu = muAt(pilotBeta0, cell)
            val yv = cell(0)
            val u = ((yv - pmu) * (yv - pmu) - pmu) / pmu
            val auxRes = u - alpha * pmu
            ss += w * auxRes * auxRes
            sx2 += w * pmu * pmu
            nn += cnts(i)
            llPois += w * (yv * math.log(pmu) - pmu - logGamma(yv + 1.0))
            i += 1
          }
          val alphaSe = math.sqrt(ss / (nn - 1).toDouble / sx2)
          val r0 = 1.0 / alpha
          val lgR0 = logGamma(r0)
          var llNb = 0.0
          i = 0
          while (i < cells.length) {
            val cell = cells(i); val w = cnts(i).toDouble
            val fmu = muAt(beta, cell)
            val yv = cell(0)
            llNb += w * (logGamma(yv + r0) - lgR0 - logGamma(yv + 1.0) +
              r0 * math.log(r0 / (r0 + fmu)) +
              yv * math.log(fmu / (r0 + fmu)))
            i += 1
          }
          val lr = 2.0 * (llNb - llPois)
          val lrP = 0.5 *
            (1.0 - graft.stats.Dist.chiSqCdf(math.max(lr, 0.0), 1.0))
          return NegBinFit(beta.take(k), beta(k), alpha, it, converged,
            se.take(k), se(k), pilot.n, alphaSe, llPois, llNb, lr, lrP)
        case None =>
      }
      def muOf(beta: Array[Double]): (DataFrame, Column) = {
        val withBeta =
          slim.crossJoin(broadcast(Seq(Tuple1(beta.toSeq)).toDF("__beta")))
        val b = col("__beta")
        val eta = xsS.zipWithIndex.map { case (x, i) =>
          x * element_at(b, i + 1)
        }.reduce(_ + _) + element_at(b, k + 1)
        (withBeta, least(greatest(exp(eta), lit(1e-10)), lit(1e15)))
      }
      val pilotBeta = pilot.coefficients :+ pilot.intercept
      val (pf, pmu) = muOf(pilotBeta)
      val mom = pf.agg(
        sum((yd - pmu) * (yd - pmu) - pmu).as("num"),
        sum(pmu * pmu).as("den")).head()
      val alpha = mom.getAs[Double]("num") / mom.getAs[Double]("den")
      require(alpha > 0,
        f"neg_bin: moment dispersion alpha = $alpha%.6f <= 0 — the data " +
          "is not overdispersed; use poisson_reg")
      var beta = pilotBeta
      var converged = false
      var it = 0
      var lastModel: OlsModel = null
      while (it < maxIter && !converged) {
        val (withBeta, mu) = muOf(beta)
        val b2 = col("__beta")
        val eta = xsS.zipWithIndex.map { case (x, i) =>
          x * element_at(b2, i + 1)
        }.reduce(_ + _) + element_at(b2, k + 1)
        val z = eta + (yd - mu) / mu
        val w = mu / (lit(1.0) + lit(alpha) * mu)
        val m = Regression.fitOls(withBeta, z, xsS, useBias = true, weight = w)
        lastModel = m
        val next = m.summary.coefficients
        val delta = next.zip(beta).map { case (a, b) => math.abs(a - b) }.max
        beta = next
        converged = delta < tol
        it += 1
      }
      val se = (0 to k).map(i => math.sqrt(lastModel.xtxInv(i)(i))).toArray
      // α uncertainty + Poisson-vs-NB2 adjudication (one extra aggregate
      // per frame, riding the cached slim):
      //  - alpha_se: the plain OLS SE of the Cameron-Trivedi auxiliary
      //    no-intercept regression that DEFINED α̂ (u = ((y−μ̂)²−μ̂)/μ̂ on
      //    μ̂): se² = Σ(u−α̂μ̂)²/(n−1) / Σμ̂² — the textbook auxiliary
      //    t-test for overdispersion (CT 2013 §3.4), at the pilot μ̂.
      //  - LR test vs Poisson: 2(llNB2 − llPois) with the moment α̂
      //    plugged in (llNB2 at the ML α would be ≥ this, so the
      //    statistic is conservative — the documented two-step caveat);
      //    α = 0 sits on the boundary, so p = ½·P(χ²₁ > LR) (the
      //    Self-Liang ½χ²₀+½χ²₁ mixture).
      val lg = udf((v: Double) =>
        org.apache.commons.math3.special.Gamma.logGamma(v))
      val (pf2, pmu2) = muOf(pilotBeta)
      val u = ((yd - pmu2) * (yd - pmu2) - pmu2) / pmu2
      val auxRes = u - lit(alpha) * pmu2
      val aux = pf2.agg(
        sum(auxRes * auxRes).as("ss"),
        sum(pmu2 * pmu2).as("sx2"),
        count(lit(1)).as("nn"),
        sum(yd * log(pmu2) - pmu2 - lg(yd + 1.0)).as("ll_pois")).head()
      val nAux = aux.getAs[Long]("nn").toDouble
      val alphaSe = math.sqrt(
        aux.getAs[Double]("ss") / (nAux - 1) / aux.getAs[Double]("sx2"))
      val r = 1.0 / alpha
      // lgamma(r) is a scalar — fold it driver-side instead of calling
      // the udf once per row on a constant
      val lgR = org.apache.commons.math3.special.Gamma.logGamma(r)
      val (ff, fmu) = muOf(beta)
      val llNb = ff.agg(sum(
        lg(yd + r) - lit(lgR) - lg(yd + 1.0) +
          lit(r) * log(lit(r) / (lit(r) + fmu)) +
          yd * log(fmu / (lit(r) + fmu))).as("ll")).head().getAs[Double]("ll")
      val llPois = aux.getAs[Double]("ll_pois")
      val lr = 2.0 * (llNb - llPois)
      val lrP = 0.5 *
        (1.0 - graft.stats.Dist.chiSqCdf(math.max(lr, 0.0), 1.0))
      NegBinFit(beta.take(k), beta(k), alpha, it, converged,
        se.take(k), se(k), pilot.n, alphaSe, llPois, llNb, lr, lrP)
    } finally {
      slim.unpersist()
      ()
    }
  }

  case class NegBinFit(coefficients: Array[Double], intercept: Double,
                       alpha: Double, iterations: Int, converged: Boolean,
                       stderr: Array[Double], interceptStderr: Double,
                       n: Long, alphaSe: Double, llPois: Double,
                       llNb: Double, lrStat: Double, lrP: Double) {
    def zValues: Array[Double] =
      coefficients.zip(stderr).map { case (c, s) => c / s }
    def pValues: Array[Double] = zValues.map(z =>
      2.0 * (1.0 - graft.stats.Dist.normCdf(math.abs(z))))
  }

  /** [[negBinIrls]] as a summary frame — one row per term (xs order, then
    * "(intercept)"): (term, estimate, stderr, z_value, p_value) with the
    * fit-level n / alpha / alpha_se / alpha_t / lr_stat / lr_p /
    * iterations / converged repeated per row (alpha_se is the
    * Cameron-Trivedi auxiliary-regression SE; lr_stat/lr_p the
    * boundary-corrected Poisson-vs-NB2 likelihood ratio). */
  def negBinSummaryDf(df: DataFrame, y: Column, xs: Seq[Column],
                      names: Seq[String], maxIter: Int = 25): DataFrame = {
    require(names.length == xs.length,
      s"neg_bin: ${xs.length} covariates but ${names.length} names")
    val spark = df.sparkSession
    import spark.implicits._
    val fit = negBinIrls(df, y, xs, maxIter = maxIter)
    val rows = names.indices.map { i =>
      (names(i), fit.coefficients(i), fit.stderr(i), fit.zValues(i),
        fit.pValues(i), fit.n, fit.alpha, fit.alphaSe,
        fit.alpha / fit.alphaSe, fit.lrStat, fit.lrP,
        fit.iterations, fit.converged)
    } :+ (("(intercept)", fit.intercept, fit.interceptStderr,
      fit.intercept / fit.interceptStderr,
      2.0 * (1.0 - graft.stats.Dist.normCdf(
        math.abs(fit.intercept / fit.interceptStderr))),
      fit.n, fit.alpha, fit.alphaSe, fit.alpha / fit.alphaSe,
      fit.lrStat, fit.lrP, fit.iterations, fit.converged))
    rows.toDF("term", "estimate", "stderr", "z_value", "p_value", "n",
      "alpha", "alpha_se", "alpha_t", "lr_stat", "lr_p",
      "iterations", "converged")
  }

  /** AUC of a score column against binary labels via the Mann-Whitney
    * rank-sum identity AUC = (R₁ − n₁(n₁+1)/2)/(n₁n₀), computed with the
    * same shuffle-by-value average-rank aggregation as RankTests — O(distinct
    * scores) state, no driver collection (replaces the reference's
    * sampled-AUC eval, regression.py:203-255). */
  def auc(df: DataFrame, score: Column, label: Column): Double = {
    val byValue = df
      .filter(label.isNotNull)
      .select(score.cast("double").as("v"), label.cast("int").as("y"))
      .filter(!isnan(col("v")) && col("v").isNotNull)
      .groupBy(col("v"))
      .agg(count(lit(1)).as("cnt"),
        sum(when(col("y") === 1, 1L).otherwise(0L)).as("cnt1"))
    val r = RangeCumSum.withCumSums(byValue, Seq(col("v")), Seq("cnt")) { (cum, _) =>
      cum.withColumn("avgRank", (col("cum_cnt") - col("cnt") + col("cum_cnt") + 1) / 2.0)
        .agg(sum(col("cnt1") * col("avgRank")).as("r1"),
          sum(col("cnt1")).as("n1"), sum(col("cnt")).as("n")).head()
    }
    val r1 = r.getAs[Double]("r1")
    val n1 = r.getAs[Long]("n1").toDouble
    val n0 = r.getAs[Long]("n").toDouble - n1
    if (n1 == 0 || n0 == 0) Double.NaN
    else (r1 - n1 * (n1 + 1) / 2.0) / (n1 * n0)
  }

  private def assemble(df: DataFrame, y: Column, xs: Seq[Column]): DataFrame = {
    val named = df.select(y.cast("double").as("__label") +:
      xs.zipWithIndex.map { case (c, i) => c.cast("double").as(s"__x$i") }: _*)
    new VectorAssembler()
      .setInputCols(xs.indices.map(i => s"__x$i").toArray)
      .setOutputCol("__features")
      .transform(named)
  }
}
