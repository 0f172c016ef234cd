package graft.ops

import scala.jdk.CollectionConverters._

import graft.stats.DesignCells
import graft.stats.DesignCells.XCell
import org.apache.commons.math3.special.Gamma.logGamma
import org.apache.spark.ml.classification.{LogisticRegression => MlLogisticRegression}
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.ml.regression.{LinearRegression => MlLinearRegression}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

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

  // ------------------------------------------------------------ GLM IRLS
  //
  // Logistic, Poisson, Gamma and NB2 are one Fisher-scoring algorithm
  // (McCullagh & Nelder 1989 §2.5) parameterized by the mean function and
  // the working weight: each fit slices its input once, collapses it once,
  // and runs the shared loop [[irls]] over the design cells or the rows.

  /** A GLM family of [[irls]]: the clamped mean μ(η), the Fisher weight
    * w(μ) and the link slope g′(μ) = dη/dμ, each as a Double (cells) and
    * as a Column (rows). The working response z = η + (y − μ)·g′(μ) is
    * linear in y — z = a + b·y with b = g′(μ), a = η − μ·b — and w depends
    * on x only, so per-x-cell y moments give the exact weighted-OLS pass. */
  private final case class Family(mean: Double => Double, meanCol: Column => Column,
                                  weight: Double => Double, weightCol: Column => Column,
                                  slope: Double => Double, slopeCol: Column => Column)

  /** Log link: μ = exp(η) clamped to [lo, hi] — away from 0 so the weight
    * stays positive-definite, and from overflow while the iterate is far
    * from the optimum — with g′(μ) = 1/μ. */
  private def logLink(lo: Double, hi: Double)(weight: Double => Double,
                                              weightCol: Column => Column): Family =
    Family(eta => math.min(math.max(math.exp(eta), lo), hi),
      eta => least(greatest(exp(eta), lit(lo)), lit(hi)),
      weight, weightCol, 1.0 / _, lit(1.0) / _)

  /** Logit link: p = σ(η) clamped away from 0/1, w = p(1 − p) = 1/g′(p). */
  private val logisticFamily = Family(
    eta => math.min(math.max(1.0 / (1.0 + math.exp(-eta)), 1e-10), 1.0 - 1e-10),
    eta => least(greatest(lit(1.0) / (lit(1.0) + exp(-eta)), lit(1e-10)),
      lit(1.0 - 1e-10)),
    p => p * (1.0 - p), p => p * (lit(1.0) - p),
    p => 1.0 / (p * (1.0 - p)), p => lit(1.0) / (p * (lit(1.0) - p)))
  private val poissonFamily = logLink(1e-10, 1e15)(mu => mu, mu => mu)
  private val gammaFamily = logLink(1e-300, 1e300)(_ => 1.0, _ => lit(1.0))
  private def negBinFamily(alpha: Double) = logLink(1e-10, 1e15)(
    mu => mu / (1.0 + alpha * mu), mu => mu / (lit(1.0) + lit(alpha) * mu))

  /** The fits' listwise-complete slice `__y, __x0…` (doubles): a row with
    * a null outcome or covariate is dropped before anything is summed, so
    * counts, dispersions and moment statistics see exactly the rows the
    * weighted-OLS passes do. */
  private def glmSlice(df: DataFrame, y: Column, xs: Seq[Column],
                       maxIter: Int): DataFrame = {
    require(maxIter > 0, "maxIter must be positive (stderr needs a final fit)")
    val named = y.cast("double").as("__y") +:
      xs.zipWithIndex.map { case (x, i) => x.cast("double").as(s"__x$i") }
    df.select(named: _*)
      .filter(("__y" +: xs.indices.map(i => s"__x$i")).map(col(_).isNotNull).reduce(_ && _))
  }

  /** [[glmSlice]] for a count outcome: a negative y is dropped too (the
    * Poisson and NB2 likelihoods are undefined there). */
  private def countSlice(df: DataFrame, y: Column, xs: Seq[Column],
                         maxIter: Int): DataFrame =
    glmSlice(df, y, xs, maxIter).filter(col("__y") >= 0.0)

  /** The prepared input of [[irls]]: the slice and, when the design
    * collapse took them, its cells (x values with the y moments). */
  private final case class Design(slim: DataFrame, k: Int, cells: Option[Array[XCell]]) {
    def y: Column = col("__y")
    def xCols: Seq[Column] = (0 until k).map(i => col(s"__x$i"))

    /** The slice with the iterate β as a broadcast one-row frame, and
      * η = Xβ over it, folded from the intercept (k = 0 is the intercept
      * alone). The coefficients enter as an attribute reference, NOT as
      * inline literals: inlined doubles change the generated source every
      * iteration, so a D-iteration fit would janino-compile D distinct
      * stages (measured 17 s cold vs 2.4 s warm on 6M rows before this).
      * Behind the attribute the iteration plan's source is identical every
      * pass and the whole loop compiles once. (A foldable typedLit would
      * not work: element_at(literal, literal) constant-folds back to an
      * inlined double.) */
    def atBeta(beta: Array[Double]): (DataFrame, Column) = {
      val spark = slim.sparkSession
      import spark.implicits._
      val b = col("__beta")
      (slim.crossJoin(broadcast(Seq(Tuple1(beta.toSeq)).toDF("__beta"))),
        xCols.zipWithIndex.foldLeft(element_at(b, k + 1)) { case (eta, (x, i)) =>
          eta + x * element_at(b, i + 1)
        })
    }

    /** (n, Σy, #{y ≤ 0}) — summed over the cells, else one aggregate. */
    def moments: (Long, Double, Long) = cells match {
      case Some(cs) => (cs.map(_.n).sum, cs.map(_.sumY).sum, cs.map(_.nNonPos).sum)
      case None =>
        val r = slim.agg(count(lit(1)), coalesce(sum(y), lit(0.0)),
          count(when(y <= 0.0, 1))).head()
        (r.getLong(0), r.getDouble(1), r.getLong(2))
    }
  }

  /** `fit` over the prepared [[Design]], its slice persisted only on the
    * row path ([[DesignCells.persistUnlessCollapsed]]). */
  private def withDesign[T](slim: DataFrame, k: Int, cells: Option[Array[XCell]])(
      fit: Design => T): T =
    DesignCells.persistUnlessCollapsed(slim, cells)(c => fit(Design(slim, k, c)))

  /** The design collapse of the fits whose statistics are at most
    * quadratic in y given x: by the covariates, carrying y moments. */
  private def byX[T](slim: DataFrame, k: Int, maxCells: Int)(fit: Design => T): T =
    withDesign(slim, k, DesignCells.collectByX(slim, "__y", maxCells))(fit)

  /** η = β_k + Σ xᵢβᵢ for one cell, folded from the intercept like the
    * row path's. */
  private def etaAt(beta: Array[Double], xs: Array[Double]): Double = {
    var eta = beta(xs.length)
    var m = 0
    while (m < xs.length) { eta += xs(m) * beta(m); m += 1 }
    eta
  }

  /** A finished [[irls]] loop: β (xs then intercept) and the final
    * iteration's (XᵀWX)⁻¹ — the Fisher information inverse, since the
    * weighted OlsBuf accumulates exactly XᵀWX. */
  private final case class Irls(beta: Array[Double], iterations: Int, converged: Boolean,
                                xtxInv: Array[Array[Double]]) {
    /** √(φ·[(XᵀWX)⁻¹]ᵢᵢ) in β order (GLM dispersion φ; 1 for the
      * fixed-dispersion families). */
    def se(phi: Double): Array[Double] =
      xtxInv.indices.map(i => math.sqrt(phi * xtxInv(i)(i))).toArray
  }

  /** The IRLS loop of every GLM fit, with the reference's loop shape
    * (regression.py:143-200): each iteration is ONE weighted-OLS pass of
    * the working response z on X with weight w — over the cells in plain
    * Scala (`OlsBuf.addCellYMoments`, O(cells·k²)), else one aggregate
    * over the rows ([[Design.atBeta]]) — until no coefficient moves by
    * `tol`. */
  private def irls(d: Design, fam: Family, beta0: Array[Double],
                   maxIter: Int, tol: Double): Irls = {
    val k = d.k
    var beta = beta0
    var it = 0
    var converged = false
    var lastModel: OlsModel = null
    while (it < maxIter && !converged) {
      lastModel = d.cells match {
        case Some(cells) =>
          val buf = graft.agg.OlsBuf.zero(k + 1)
          cells.foreach { c =>
            val eta = etaAt(beta, c.xs)
            val mu = fam.mean(eta)
            val b = fam.slope(mu)
            buf.addCellYMoments(eta - mu * b, b, c.sumY, c.sumY2, c.xs :+ 1.0,
              fam.weight(mu), c.n)
          }
          Regression.modelFromBuf(buf, k, useBias = true)
        case None =>
          val (rows, eta) = d.atBeta(beta)
          val mu = fam.meanCol(eta)
          Regression.fitOls(rows, eta + (d.y - mu) * fam.slopeCol(mu), d.xCols,
            useBias = true, weight = fam.weightCol(mu))
      }
      val next = lastModel.summary.coefficients // xs ++ bias
      converged = next.zip(beta).map { case (a, b) => math.abs(a - b) }.max < tol
      beta = next
      it += 1
    }
    Irls(beta, it, converged, lastModel.xtxInv)
  }

  /** Sums over the design's rows at β, μ = `fam`'s mean: over the cells
    * in plain Scala (`cell(i, c, μ)` is the i-th cell's whole
    * contribution), else ONE aggregate of `row(y, μ)` over the rows. */
  private def sumsAt(d: Design, fam: Family, beta: Array[Double])(
      cell: (Int, XCell, Double) => Seq[Double],
      row: (Column, Column) => Seq[Column]): Seq[Double] = d.cells match {
    case Some(cells) =>
      cells.indices.map(i => cell(i, cells(i), fam.mean(etaAt(beta, cells(i).xs))))
        .transpose.map(_.sum)
    case None =>
      val (rows, eta) = d.atBeta(beta)
      val sums = row(d.y, fam.meanCol(eta)).map(sum)
      rows.agg(sums.head, sums.tail: _*).head().toSeq.map(_.asInstanceOf[Double])
  }

  /** Pearson dispersion φ̂ = Σ(y − μ̂)²/V(μ̂) / (n − p) at β, per cell from
    * the y moments: Σ(y − μ)² = Σy² − 2μΣy + nμ². */
  private def pearson(d: Design, fam: Family, beta: Array[Double], n: Long,
                      v: Double => Double, vCol: Column => Column): Double =
    sumsAt(d, fam, beta)(
      (_, c, mu) => Seq((c.sumY2 - 2.0 * mu * c.sumY + c.n * mu * mu) / v(mu)),
      (y, mu) => Seq(pow(y - mu, 2) / vCol(mu))).head / (n - d.k - 1).toDouble

  /** IRLS logistic: w = p(1−p), z = η + (y−p)/(p(1−p)), dispersion 1, so
    * the SEs are the final (XᵀWX)⁻¹'s — exactly the summary the reference
    * prints (regression.py:203-255). */
  def logisticIrls(df: DataFrame, y: Column, xs: Seq[Column],
                   maxIter: Int = 25, tol: Double = 1e-8,
                   maxCells: Int = 4096): LogisticFit = {
    val k = xs.length
    byX(glmSlice(df, y, xs, maxIter), k, maxCells) { d =>
      val f = irls(d, logisticFamily, new Array[Double](k + 1), maxIter, tol)
      val se = f.se(1.0)
      LogisticFit(f.beta.take(k), f.beta(k), f.iterations, f.converged,
        se.take(k), se(k))
    }
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

  /** The Poisson IRLS on a prepared design, with n — [[poissonIrls]] and
    * [[negBinIrls]]'s pilot. The intercept starts at log(ȳ) (the null
    * model) so the first exp() stays in range on any y scale. */
  private def poissonStage(d: Design, maxIter: Int, tol: Double): (Irls, Long) = {
    val (n, sumY, _) = d.moments
    require(n > d.k + 1, s"poisson_reg: need more than ${d.k + 1} rows, got $n")
    val ybar = sumY / n
    require(ybar > 0.0, "poisson_reg: outcome is all-zero — the log link has no MLE")
    (irls(d, poissonFamily, Array.fill(d.k)(0.0) :+ math.log(ybar), maxIter, tol), n)
  }

  /** IRLS Poisson regression (log link) — the count-outcome sibling of
    * [[logisticIrls]] and the GLM the reference's OLS/logistic surface
    * stops short of: per iteration, with η = Xβ and μ = exp(η),
    *
    *   w = μ,   z = η + (y − μ)/μ
    *
    * (McCullagh & Nelder 1989 §2.5's canonical-link scoring). Rows with a
    * null or negative outcome are dropped listwise (a count can't be
    * negative — the Poisson likelihood is undefined there). */
  def poissonIrls(df: DataFrame, y: Column, xs: Seq[Column],
                  maxIter: Int = 25, tol: Double = 1e-8,
                  maxCells: Int = 4096): PoissonFit = {
    val k = xs.length
    byX(countSlice(df, y, xs, maxIter), k, maxCells) { d =>
      val (f, n) = poissonStage(d, maxIter, tol)
      val phi = pearson(d, poissonFamily, f.beta, n, mu => mu, mu => mu)
      val se = f.se(1.0)
      PoissonFit(f.beta.take(k), f.beta(k), f.iterations, f.converged,
        se.take(k), se(k), phi, n)
    }
  }

  /** One GLM summary frame, checked for `names` before `fit` runs: a row
    * per term — xs under `names`, then "(intercept)" — of (term, estimate,
    * stderr, z_value, p_value), Wald z with its two-sided normal p,
    * followed by the fit-level (name, value, type) columns repeated on
    * every row (the calibration-ece single-scan convenience). `fit` gives
    * the estimates and stderrs in β order (xs, then intercept). */
  private def glmSummary(df: DataFrame, verb: String, xs: Seq[Column], names: Seq[String])(
      fit: => (Array[Double], Array[Double], Seq[(String, Any, DataType)])): DataFrame = {
    require(names.length == xs.length,
      s"$verb: ${xs.length} covariates but ${names.length} names")
    val (est, se, fitCols) = fit
    val rows = (names :+ "(intercept)").zipWithIndex.map { case (term, i) =>
      val z = est(i) / se(i)
      Row.fromSeq(Seq(term, est(i), se(i), z,
        2.0 * (1.0 - graft.stats.Dist.normCdf(math.abs(z)))) ++ fitCols.map(_._2))
    }
    val schema = StructType(StructField("term", StringType) +:
      (Seq("estimate", "stderr", "z_value", "p_value").map((_, DoubleType)) ++
        fitCols.map { case (nm, _, t) => (nm, t) })
        .map { case (nm, t) => StructField(nm, t, nullable = false) })
    df.sparkSession.createDataFrame(rows.asJava, schema)
  }

  /** [[poissonIrls]] as a summary frame — one row per term (xs order,
    * then "(intercept)"): (term, estimate, stderr, z_value, p_value)
    * with the fit-level n / dispersion / iterations / converged columns
    * repeated per row. */
  def poissonSummaryDf(df: DataFrame, y: Column, xs: Seq[Column],
                       names: Seq[String], maxIter: Int = 25): DataFrame =
    glmSummary(df, "poisson_reg", xs, names) {
      val f = poissonIrls(df, y, xs, maxIter = maxIter)
      (f.coefficients :+ f.intercept, f.stderr :+ f.interceptStderr,
        Seq(("n", f.n, LongType), ("dispersion", f.dispersion, DoubleType),
          ("iterations", f.iterations, IntegerType),
          ("converged", f.converged, BooleanType)))
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
    * one UNWEIGHTED OLS of the working response z = η + (y−μ)/μ. SEs are
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
    val k = xs.length
    byX(glmSlice(df, y, xs, maxIter), k, maxCells) { d =>
      val (n, sumY, bad) = d.moments
      require(bad == 0, s"gamma_reg: $bad rows have y <= 0 — the " +
        "gamma density has no mass there (hurdle or shift the outcome)")
      require(n > k + 1, s"gamma_reg: need more than ${k + 1} rows, got $n")
      val f = irls(d, gammaFamily, Array.fill(k)(0.0) :+ math.log(sumY / n), maxIter, tol)
      val phi = pearson(d, gammaFamily, f.beta, n, mu => mu * mu, mu => mu * mu)
      val se = f.se(phi)
      GammaFit(f.beta.take(k), f.beta(k), f.iterations, f.converged,
        se.take(k), se(k), phi, n)
    }
  }

  /** [[gammaIrls]] as a summary frame — the [[poissonSummaryDf]]
    * shape. */
  def gammaSummaryDf(df: DataFrame, y: Column, xs: Seq[Column],
                     names: Seq[String], maxIter: Int = 25): DataFrame =
    glmSummary(df, "gamma_reg", xs, names) {
      val f = gammaIrls(df, y, xs, maxIter = maxIter)
      (f.coefficients :+ f.intercept, f.stderr :+ f.interceptStderr,
        Seq(("n", f.n, LongType), ("dispersion", f.dispersion, DoubleType),
          ("iterations", f.iterations, IntegerType),
          ("converged", f.converged, BooleanType)))
    }

  /** Negative-binomial (NB2) regression — the overdispersed-count sibling
    * of [[poissonIrls]]: log link, Var(y) = μ + αμ². Real count data
    * (events per user, tokens per doc, crashes per build) routinely
    * carries Var ≫ mean, where the Poisson SEs are too small by
    * √dispersion and every p-value lies; NB2 models the overdispersion
    * instead of post-hoc inflating (Cameron & Trivedi 2013 ch. 3-4).
    *
    * Two stages on one prepared design:
    *  1. the Poisson fit for the pilot means, then α̂ by the
    *     Cameron-Trivedi auxiliary moment regression (their eq. 3.37,
    *     no-intercept OLS of ((y−μ̂)²−μ̂)/μ̂ on μ̂, which closes to
    *     α̂ = Σ((y−μ̂)² − μ̂) / Σμ̂² — ONE sum);
    *  2. IRLS with the NB2 working weight w = μ/(1 + αμ) (the Fisher
    *     scoring weight for fixed α), SEs from the converged (XᵀWX)⁻¹.
    *
    * α̂ uncertainty and the Poisson-vs-NB2 adjudication:
    *  - alpha_se: the plain OLS SE of the auxiliary no-intercept
    *    regression that DEFINED α̂ (u = ((y−μ̂)²−μ̂)/μ̂ on μ̂):
    *    se² = Σ(u−α̂μ̂)²/(n−1) / Σμ̂² — the textbook auxiliary t-test for
    *    overdispersion (CT 2013 §3.4), at the pilot μ̂.
    *  - LR test vs Poisson: 2(llNB2 − llPois) with the moment α̂ plugged
    *    in (llNB2 at the ML α would be ≥ this, so the statistic is
    *    conservative — the documented two-step caveat); α = 0 sits on the
    *    boundary, so p = ½·P(χ²₁ > LR) (the Self-Liang ½χ²₀+½χ²₁ mixture).
    *
    * The design collapse is keyed on the FULL (y, x…) row, because
    * lgamma(y + r) is nonlinear in y: each row cell is a y-moment cell
    * whose rows share y, so both IRLS stages run on it unchanged.
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
    val k = xs.length
    val slim = countSlice(df, y, xs, maxIter)
    val rowCells = DesignCells.collect(slim, maxCells)
    val ys = rowCells.fold(Array.empty[Double])(_._1.map(_(0)))
    withDesign(slim, k, rowCells.map { case (cells, cnts) =>
      cells.indices.map { i =>
        val (yv, c) = (cells(i)(0), cnts(i))
        XCell(cells(i).tail, c, c * yv, c * yv * yv, if (yv <= 0.0) c else 0L)
      }.toArray
    }) { d =>
      val (pilot, n) = poissonStage(d, maxIter, tol)
      val lg = udf((v: Double) => logGamma(v))
      // at the pilot μ̂, with e = (y−μ̂)²−μ̂ and u = e/μ̂: α̂'s moments Σe and
      // Σμ̂², Σu² for the auxiliary residual sum Σ(u−α̂μ̂)² = Σu² − (Σe)²/Σμ̂²,
      // and the Poisson log-likelihood
      val Seq(num, den, uu, llPois) = sumsAt(d, poissonFamily, pilot.beta)(
        (i, c, mu) => {
          val (yv, w) = (ys(i), c.n.toDouble)
          val e = (yv - mu) * (yv - mu) - mu
          Seq(w * e, w * mu * mu, w * (e / mu) * (e / mu),
            w * (yv * math.log(mu) - mu - logGamma(yv + 1.0)))
        },
        (yc, mu) => {
          val e = (yc - mu) * (yc - mu) - mu
          Seq(e, mu * mu, (e / mu) * (e / mu), yc * log(mu) - mu - lg(yc + 1.0))
        })
      val alpha = num / den
      require(alpha > 0,
        f"neg_bin: moment dispersion alpha = $alpha%.6f <= 0 — the data " +
          "is not overdispersed; use poisson_reg")
      val nb = negBinFamily(alpha)
      val f = irls(d, nb, pilot.beta, maxIter, tol)
      val alphaSe = math.sqrt((uu - num * num / den) / (n - 1).toDouble / den)
      val r = 1.0 / alpha
      val lgR = logGamma(r) // a scalar: folded driver-side, not per row
      val Seq(llNb) = sumsAt(d, nb, f.beta)(
        (i, c, mu) => {
          val yv = ys(i)
          Seq(c.n * (logGamma(yv + r) - lgR - logGamma(yv + 1.0) +
            r * math.log(r / (r + mu)) + yv * math.log(mu / (r + mu))))
        },
        (yc, mu) => Seq(lg(yc + r) - lit(lgR) - lg(yc + 1.0) +
          lit(r) * log(lit(r) / (lit(r) + mu)) + yc * log(mu / (lit(r) + mu))))
      val lr = 2.0 * (llNb - llPois)
      val lrP = 0.5 *
        (1.0 - graft.stats.Dist.chiSqCdf(math.max(lr, 0.0), 1.0))
      val se = f.se(1.0)
      NegBinFit(f.beta.take(k), f.beta(k), alpha, f.iterations, f.converged,
        se.take(k), se(k), n, alphaSe, llPois, llNb, lr, lrP)
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
                      names: Seq[String], maxIter: Int = 25): DataFrame =
    glmSummary(df, "neg_bin", xs, names) {
      val f = negBinIrls(df, y, xs, maxIter = maxIter)
      (f.coefficients :+ f.intercept, f.stderr :+ f.interceptStderr,
        Seq(("n", f.n, LongType), ("alpha", f.alpha, DoubleType),
          ("alpha_se", f.alphaSe, DoubleType),
          ("alpha_t", f.alpha / f.alphaSe, DoubleType),
          ("lr_stat", f.lrStat, DoubleType), ("lr_p", f.lrP, DoubleType),
          ("iterations", f.iterations, IntegerType),
          ("converged", f.converged, BooleanType)))
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
