package graft.ops

import graft.stats.{DesignCells, LinAlg, Newton}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multinomial (softmax) logistic regression — R `nnet::multinom`'s
  * model, completing the categorical-GLM family beside
  * [[MlWrappers.logisticIrls]] (binary) and [[Ordinal.ordinalLogit]]
  * (ordered): UNORDERED outcomes (variant arms, content categories,
  * routing decisions) where ordinal's single shared slope is the wrong
  * structure.
  *
  *   P(Y = j | x) = exp(η_j) / Σ_l exp(η_l),  η_1 ≡ 0 (the lowest
  *   level is the reference class, nnet's convention), η_j = β_j'x̃
  *
  * The log-likelihood is globally concave; the fit still runs the
  * damped ascent-guaranteed [[graft.stats.Newton]] for uniformity and
  * float safety. SEs from the inverse observed information. With
  * J = 2 the model IS binary logistic regression for class 2 vs class
  * 1 — coefficients and SEs identical (spec-pinned against
  * logisticIrls to 1e-6).
  *
  * 100 TB shape: ONE distributed aggregate per iteration — the per-row
  * class probabilities are codegen softmax columns over literal-β
  * linear terms, gradient (J−1)(k+1) sums, Hessian
  * (J−1)J/2 · (k+1)(k+2)/2 sums, read by position into one moment
  * vector — then an O(((J−1)(k+1))³) driver solve. Levels bounded by
  * maxLevels BEFORE collection.
  */
object Multinomial {

  /** One entry per non-reference class (levels(1)..levels(J−1)), each
    * with intercept-first coefficient vectors. */
  case class MultinomialFit(levels: Array[Double],
                            estimates: Array[Array[Double]],
                            stderr: Array[Array[Double]],
                            n: Long, iterations: Int, logLik: Double)

  def multinomialLogit(df: DataFrame, y: Column, xs: Seq[Column],
                       names: Seq[String], maxIter: Int = 50,
                       tol: Double = 1e-9,
                       maxLevels: Int = 20,
                       maxCells: Int = 4096): MultinomialFit = {
    require(xs.nonEmpty, "multinomial_logit: need at least one covariate")
    require(names.length == xs.length,
      s"multinomial_logit: ${xs.length} covariates but ${names.length} names")
    val k = xs.length
    val complete = (y +: xs).map(_.isNotNull).reduce(_ && _)
    val base = df.filter(complete).select(
      y.cast("double").as("__y") +:
        xs.zipWithIndex.map { case (x, j) => x.cast("double").as(s"__x$j") }: _*)
    // design collapse (graft.stats.LocalCollapse). Columns: 0 = __y, 1..k = __x*.
    DesignCells.persistUnlessCollapsed(base, DesignCells.collect(base, maxCells)) { cellsOpt =>
      val levels = DesignCells.outcomeLevels(base, cellsOpt, maxLevels, "multinomial_logit")(
        s"multinomial_logit: more than $maxLevels distinct outcome " +
          "levels — bucket the outcome first (or raise maxLevels knowingly)")
      val nJ = levels.length
      val kp = k + 1 // intercept + covariates, intercept first
      val np = (nJ - 1) * kp
      val cIdx = array_position(typedLit(levels.toSeq), col("__y"))
        .cast("int")
      val n = cellsOpt match {
        case Some((_, cnts)) => cnts.sum
        case None => base.count()
      }
      require(n > np.toLong,
        s"multinomial_logit: $n complete rows cannot identify $np parameters")
      def xcol(m: Int): Column = if (m == 0) lit(1.0) else col(s"__x${m - 1}")
      // parameter layout: class j (2..J) block of kp entries
      def pix(j: Int, m: Int): Int = (j - 2) * kp + m
      // the moment vector at β, in the row path's aggregate order: ll, the
      // gradient in parameter order, then Σ w_jl·x_m1·x_m2 for classes
      // j ≤ l and terms m1 ≤ m2, nested in that order
      val hEntries = for {
        j <- 2 to nJ; l <- j to nJ; m1 <- 0 until kp; m2 <- m1 until kp
      } yield (j, l, m1, m2)

      def momentsDist(at: Array[Double]): Array[Double] = {
        // eta_j for non-reference classes, clamped for exp safety
        val etas = (2 to nJ).map { j =>
          least(greatest(
            (0 until kp).map(m => xcol(m) * lit(at(pix(j, m))))
              .reduce(_ + _), lit(-50.0)), lit(50.0))
        }
        val denom = etas.map(exp).foldLeft(lit(1.0): Column)(_ + _)
        val probs = etas.map(e => exp(e) / denom) // P_2..P_J
        val cc = cIdx
        // ll_i = eta_{c} - ln(denom), eta_1 = 0
        val etaOfC = (2 to nJ).foldLeft(when(cc === 1, lit(0.0))) {
          (acc, j) => acc.when(cc === j, etas(j - 2))
        }
        val grad = for { j <- 2 to nJ; m <- 0 until kp }
          yield sum(((cc === j).cast("double") - probs(j - 2)) * xcol(m))
        val hess = hEntries.map { case (j, l, m1, m2) =>
          val w =
            if (j == l) probs(j - 2) * (lit(1.0) - probs(j - 2))
            else lit(0.0) - probs(j - 2) * probs(l - 2)
          sum(w * xcol(m1) * xcol(m2))
        }
        DesignCells.sums(base, sum(etaOfC - log(denom)) +: (grad ++ hess))
      }
      // driver-side mirror of momentsDist over the collapsed cells: the
      // SAME per-row softmax formulas (η clamps included) times the cell
      // count, in deterministic sorted-cell order
      def momentsLocal(cells: Array[Array[Double]], cnts: Array[Long])
                      (at: Array[Double]): Array[Double] = {
        val cellCat = cells.map(c => levels.indexOf(c(0)) + 1)
        val acc = new Array[Double](1 + np + hEntries.length)
        val etas = new Array[Double](nJ - 1)
        var i = 0
        while (i < cells.length) {
          val cell = cells(i)
          val w = cnts(i).toDouble
          val c = cellCat(i)
          def xv(m: Int): Double = if (m == 0) 1.0 else cell(m)
          var j = 2
          while (j <= nJ) {
            var e = 0.0
            var m = 0
            while (m < kp) { e += xv(m) * at(pix(j, m)); m += 1 }
            etas(j - 2) = math.min(math.max(e, -50.0), 50.0)
            j += 1
          }
          // denom = 1 + Σ exp(η_j), left fold order as the Column code
          var denom = 1.0
          j = 2
          while (j <= nJ) { denom += math.exp(etas(j - 2)); j += 1 }
          val etaOfC = if (c == 1) 0.0 else etas(c - 2)
          acc(0) += w * (etaOfC - math.log(denom))
          var hi = 1 + np // hEntries order
          j = 2
          while (j <= nJ) {
            val pj = math.exp(etas(j - 2)) / denom
            val resid = (if (c == j) 1.0 else 0.0) - pj
            var m = 0
            while (m < kp) { acc(1 + pix(j, m)) += w * resid * xv(m); m += 1 }
            var l = j
            while (l <= nJ) {
              val pl = math.exp(etas(l - 2)) / denom
              val wjl = if (j == l) pj * (1.0 - pj) else -pj * pl
              var m1 = 0
              while (m1 < kp) {
                var m2 = m1
                while (m2 < kp) {
                  acc(hi) += w * wjl * xv(m1) * xv(m2)
                  hi += 1
                  m2 += 1
                }
                m1 += 1
              }
              l += 1
            }
            j += 1
          }
          i += 1
        }
        acc
      }
      val momentsAt: Array[Double] => Array[Double] = cellsOpt match {
        case Some((cells, cnts)) => momentsLocal(cells, cnts)
        case None => momentsDist
      }
      // ll, gradient and observed information (+Σ w x x', the Fisher
      // information with w as built) from the moments
      def toStats(m: Array[Double]): Newton.Stats = {
        val info = LinAlg.zeros(np, np)
        hEntries.indices.foreach { e =>
          val (j, l, m1, m2) = hEntries(e)
          val v = m(1 + np + e)
          info(pix(j, m1))(pix(l, m2)) = v; info(pix(j, m2))(pix(l, m1)) = v
          info(pix(l, m1))(pix(j, m2)) = v; info(pix(l, m2))(pix(j, m1)) = v
        }
        (m(0), m.slice(1, 1 + np), info)
      }

      val fit = Newton.maximize("multinomial_logit", new Array[Double](np), maxIter, tol)(
        at => toStats(momentsAt(at)))
      MultinomialFit(levels,
        Array.tabulate(nJ - 1, kp)((j, m) => fit.estimates(j * kp + m)),
        Array.tabulate(nJ - 1, kp)((j, m) => fit.stderr(j * kp + m)),
        n, fit.iterations, fit.logLik)
    }
  }

  /** Softmax predicted class probabilities — the APPLY verb after
    * [[multinomialLogit]] (the ordinal_score pattern): adds
    * prob_1..prob_J (class probabilities in level order; prob_1 is the
    * reference class) and pred_class (1-based argmax, ties to the
    * LOWEST class) to every input row. `betas` is one intercept-first
    * row per non-reference class, flattened in class order —
    * [[multinomialLogit]]'s estimate blocks verbatim.
    *
    * 100 TB shape: a pure per-row codegen softmax projection — no
    * aggregate, no shuffle, no collect. */
  def multinomialScore(df: DataFrame, xs: Seq[Column],
                       betas: Array[Double], nClasses: Int): DataFrame = {
    val k = xs.length
    val kp = k + 1
    require(nClasses >= 2,
      s"multinomial_score: need >= 2 classes, got $nClasses")
    require(betas.length == (nClasses - 1) * kp,
      s"multinomial_score: $nClasses classes with $k covariates need " +
        s"${(nClasses - 1) * kp} betas (intercept-first per " +
        s"non-reference class), got ${betas.length}")
    def xcol(m: Int): Column =
      if (m == 0) lit(1.0) else xs(m - 1).cast("double")
    val etas = (2 to nClasses).map { j =>
      least(greatest((0 until kp).map(m =>
        xcol(m) * lit(betas((j - 2) * kp + m))).reduce(_ + _),
        lit(-50.0)), lit(50.0))
    }
    val denom = etas.map(exp).foldLeft(lit(1.0): Column)(_ + _)
    val probs = (lit(1.0) / denom) +: etas.map(e => exp(e) / denom)
    val withP = df.select(
      col("*") +: probs.zipWithIndex.map { case (p, i) =>
        p.as(s"prob_${i + 1}") }: _*)
    val pred = (2 to nClasses).foldLeft((lit(1), col("prob_1"))) {
      case ((bestIx, bestP), j) =>
        val better = col(s"prob_$j") > bestP
        (when(better, lit(j)).otherwise(bestIx),
          when(better, col(s"prob_$j")).otherwise(bestP))
    }._1
    withP.withColumn("pred_class", pred)
  }
}
