package graft.ops

import graft.stats.{DesignCells, LinAlg, Newton}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Proportional-odds (cumulative-logit) ordinal regression — R
  * `MASS::polr`'s model, the missing middle between [[MlWrappers]]'
  * binary logistic and a full multinomial: ordered outcomes (severity
  * tiers, star ratings, LLM-judge grades 1..5) where binary collapsing
  * throws away the ordering and multinomial ignores it.
  *
  *   P(Y ≤ j | x) = σ(θ_j − x'β),  θ_1 < … < θ_{J−1}
  *
  * (polr's sign convention: positive β pushes mass to HIGHER
  * categories). Fit by [[graft.stats.Newton]] on (θ, β) — the
  * cumulative-logit likelihood is concave, but the driver's ridge +
  * likelihood backtracking also enforces the threshold ordering for
  * free: a step that crosses thresholds makes some row's cell
  * probability non-positive, the trial likelihood goes NaN, and the line
  * search rejects it. SEs from the inverse observed
  * information at the optimum.
  *
  * With J = 2 the model IS binary logistic regression: β identical and
  * θ_1 = −intercept (spec-pinned against logisticIrls to 1e-6).
  *
  * 100 TB shape: ONE distributed aggregate per iteration — the
  * per-row category picks its (θ_c, θ_{c−1}) pair via when-chains over
  * a literal level array, every gradient/Hessian entry is a codegen
  * `sum()` (O((J+k)²) of them), read by position into one moment
  * vector. O((J+k)³) driver solve. Levels are the sorted distinct
  * numeric values of y, bounded by maxLevels.
  */
object Ordinal {

  /** `terms` = cut_1.. cut_{J−1} (thresholds, ascending) then the
    * covariate names. */
  case class OrdinalFit(terms: Array[String], estimates: Array[Double],
                        stderr: Array[Double], zValues: Array[Double],
                        pValues: Array[Double], levels: Array[Double],
                        n: Long, iterations: Int, logLik: Double)

  def ordinalLogit(df: DataFrame, y: Column, xs: Seq[Column],
                   names: Seq[String], maxIter: Int = 50,
                   tol: Double = 1e-9, maxLevels: Int = 50,
                   maxCells: Int = 4096): OrdinalFit = {
    require(xs.nonEmpty, "ordinal_logit: need at least one covariate")
    require(names.length == xs.length,
      s"ordinal_logit: ${xs.length} covariates but ${names.length} names")
    val k = xs.length
    val complete = (y +: xs).map(_.isNotNull).reduce(_ && _)
    val base = df.filter(complete).select(
      y.cast("double").as("__y") +:
        xs.zipWithIndex.map { case (x, j) => x.cast("double").as(s"__x$j") }: _*)
    // design collapse (graft.stats.LocalCollapse). Columns: 0 = __y, 1..k = __x*.
    DesignCells.persistUnlessCollapsed(base, DesignCells.collect(base, maxCells)) { cellsOpt =>
      val levels = DesignCells.outcomeLevels(base, cellsOpt, maxLevels, "ordinal_logit")(
        s"ordinal_logit: more than $maxLevels distinct outcome levels — " +
          "this is not an ordinal outcome (bucket it first, or raise " +
          "maxLevels knowingly)")
      val nJ = levels.length
      val nTh = nJ - 1
      val np = nTh + k
      // category index 1..J via the sorted level array
      val cIdx = array_position(typedLit(levels.toSeq), col("__y"))
        .cast("int")
      val counts = cellsOpt match {
        case Some((cells, cnts)) =>
          cells.indices.groupBy(i => levels.indexOf(cells(i)(0)) + 1)
            .map { case (c, is) => c -> is.map(cnts).sum }
        case None =>
          base.groupBy(cIdx.as("__c")).agg(count(lit(1)).as("n"))
            .collect().map(r => r.getInt(0) -> r.getAs[Long]("n")).toMap
      }
      val n = counts.values.sum
      require(n > np.toLong,
        s"ordinal_logit: $n complete rows cannot identify $np parameters")
      // init: thresholds at the empirical cumulative logits, beta = 0
      val theta0 = new Array[Double](np)
      var cum = 0L
      (1 to nTh).foreach { j =>
        cum += counts.getOrElse(j, 0L)
        val p = math.min(math.max(cum.toDouble / n, 1e-6), 1.0 - 1e-6)
        theta0(j - 1) = math.log(p / (1.0 - p))
      }
      // the moment vector at (θ, β), in the row path's aggregate order:
      // ll, the gradient in parameter order (∂θ_j then ∂β_l), then the
      // Hessian's θ_j diagonal, its adjacent-threshold cross terms θ_j θ_{j+1},
      // its θ_j β_l block and its β upper triangle
      def hth(j: Int) = np + j
      def hthx(j: Int) = np + nTh + j
      def hc(j: Int, l: Int) = np + 2 * nTh + (j - 1) * k + l
      def hb(l1: Int, l2: Int) = np + 2 * nTh + nTh * k + l1 * (2 * k - l1 + 1) / 2 + l2 - l1

      // ONE distributed pass at `at`: ll + every gradient/Hessian moment
      def momentsDist(at: Array[Double]): Array[Double] = {
        val eta =
          if (at.drop(nTh).forall(_ == 0.0)) lit(0.0)
          else (0 until k).map(j => col(s"__x$j") * lit(at(nTh + j)))
            .reduce(_ + _)
        def thC(j: Int): Column = lit(at(j - 1)) // theta_j, j = 1..J-1
        def sig(c: Column): Column = lit(1.0) / (lit(1.0) + exp(lit(0.0) - c))
        // per-row A = theta_c - eta (or +inf), B = theta_{c-1} - eta
        // (or -inf) via when-chains over the category index
        val cc = cIdx
        def chainA(f: Int => Column, last: Column): Column =
          (1 to nTh).foldLeft(when(cc === nJ, last)) { (acc, j) =>
            acc.when(cc === j, f(j))
          }
        def chainB(f: Int => Column, first: Column): Column =
          (2 to nJ).foldLeft(when(cc === 1, first)) { (acc, j) =>
            acc.when(cc === j, f(j - 1))
          }
        val fA0 = chainA(j => sig(thC(j) - eta), lit(1.0))  // F(A); F(+inf)=1
        val fB0 = chainB(j => sig(thC(j) - eta), lit(0.0))  // F(B); F(-inf)=0
        val p0 = fA0 - fB0
        val p = greatest(p0, lit(1e-300))
        val dA = fA0 * (lit(1.0) - fA0) // f(A); 0 at +inf
        val dB = fB0 * (lit(1.0) - fB0) // f(B); 0 at -inf
        val dpA = dA * (lit(1.0) - lit(2.0) * fA0) // f'(A)
        val dpB = dB * (lit(1.0) - lit(2.0) * fB0) // f'(B)
        val gEta = lit(0.0) - (dA - dB) / p
        val hEta = (dpA - dpB) / p - (dA - dB) * (dA - dB) / (p * p)
        // threshold-j masks: row contributes through A iff c == j,
        // through B iff c == j+1
        def mA(j: Int): Column = (cc === j).cast("double")
        def mB(j: Int): Column = (cc === j + 1).cast("double")
        def xcol(l: Int): Column = col(s"__x$l")
        val aggs = scala.collection.mutable.ArrayBuffer.empty[Column]
        aggs += sum(log(p0))
        (1 to nTh).foreach { j => aggs += sum(mA(j) * dA / p - mB(j) * dB / p) }
        (0 until k).foreach { l => aggs += sum(gEta * xcol(l)) }
        (1 to nTh).foreach { j =>
          aggs += sum(mA(j) * (dpA / p - dA * dA / (p * p)) +
            mB(j) * (lit(0.0) - dpB / p - dB * dB / (p * p)))
        }
        (1 until nTh).foreach { j => // adjacent-threshold cross: rows c == j+1
          aggs += sum(mB(j) * dA * dB / (p * p))
        }
        (1 to nTh).foreach { j =>
          (0 until k).foreach { l =>
            aggs += sum((mA(j) * (lit(0.0) - dpA / p +
              dA * (dA - dB) / (p * p)) +
              mB(j) * (dpB / p - dB * (dA - dB) / (p * p))) * xcol(l))
          }
        }
        (0 until k).foreach { l1 =>
          (l1 until k).foreach { l2 => aggs += sum(hEta * xcol(l1) * xcol(l2)) }
        }
        DesignCells.sums(base, aggs.toSeq)
      }
      // driver-side mirror of momentsDist over the collapsed cells: the
      // SAME per-row formulas (clamps, the skip-nonpositive-p0 behavior
      // of Spark's null-skipping sum(log(p0))) times the cell count, in
      // deterministic sorted-cell order
      def momentsLocal(cells: Array[Array[Double]], cnts: Array[Long])
                      (at: Array[Double]): Array[Double] = {
        def sig(v: Double): Double = 1.0 / (1.0 + math.exp(-v))
        val cellCat = cells.map(c => levels.indexOf(c(0)) + 1)
        val m = new Array[Double](hb(k, k))
        var i = 0
        while (i < cells.length) {
          val cell = cells(i)
          val w = cnts(i).toDouble
          val c = cellCat(i)
          var eta = 0.0
          var l = 0
          while (l < k) { eta += cell(l + 1) * at(nTh + l); l += 1 }
          val fA = if (c == nJ) 1.0 else sig(at(c - 1) - eta)
          val fB = if (c == 1) 0.0 else sig(at(c - 2) - eta)
          val p0 = fA - fB
          val p = math.max(p0, 1e-300)
          val dA = fA * (1.0 - fA)
          val dB = fB * (1.0 - fB)
          val dpA = dA * (1.0 - 2.0 * fA)
          val dpB = dB * (1.0 - 2.0 * fB)
          val gEta = -(dA - dB) / p
          val hEta = (dpA - dpB) / p - (dA - dB) * (dA - dB) / (p * p)
          // Spark's sum(log(p0)) skips null (p0 <= 0) contributions and
          // is NaN-sticky on NaN — mirror both
          if (p0.isNaN) m(0) = Double.NaN
          else if (p0 > 0.0) m(0) += w * math.log(p0)
          if (c <= nTh) {
            m(c) += w * dA / p
            m(hth(c)) += w * (dpA / p - dA * dA / (p * p))
          }
          if (c >= 2) {
            m(c - 1) -= w * dB / p
            m(hth(c - 1)) += w * (-dpB / p - dB * dB / (p * p))
            if (c - 1 < nTh) m(hthx(c - 1)) += w * dA * dB / (p * p)
          }
          l = 0
          while (l < k) {
            val xv = cell(l + 1)
            m(1 + nTh + l) += w * gEta * xv
            if (c <= nTh)
              m(hc(c, l)) += w * (-dpA / p + dA * (dA - dB) / (p * p)) * xv
            if (c >= 2 && c - 1 <= nTh)
              m(hc(c - 1, l)) += w * (dpB / p - dB * (dA - dB) / (p * p)) * xv
            var l2 = l
            while (l2 < k) {
              m(hb(l, l2)) += w * hEta * xv * cell(l2 + 1)
              l2 += 1
            }
            l += 1
          }
          i += 1
        }
        m
      }
      val momentsAt: Array[Double] => Array[Double] = cellsOpt match {
        case Some((cells, cnts)) => momentsLocal(cells, cnts)
        case None => momentsDist
      }
      // ll, gradient and observed information from the moments
      def toStats(m: Array[Double]): Newton.Stats = {
        val h = LinAlg.zeros(np, np)
        (1 to nTh).foreach(j => h(j - 1)(j - 1) = m(hth(j)))
        (1 until nTh).foreach { j =>
          h(j - 1)(j) = m(hthx(j)); h(j)(j - 1) = h(j - 1)(j)
        }
        (1 to nTh).foreach { j =>
          (0 until k).foreach { l =>
            h(j - 1)(nTh + l) = m(hc(j, l))
            h(nTh + l)(j - 1) = h(j - 1)(nTh + l)
          }
        }
        (0 until k).foreach { l1 =>
          (l1 until k).foreach { l2 =>
            h(nTh + l1)(nTh + l2) = m(hb(l1, l2))
            h(nTh + l2)(nTh + l1) = h(nTh + l1)(nTh + l2)
          }
        }
        (m(0), m.slice(1, 1 + np), h.map(_.map(x => -x)))
      }

      val fit = Newton.maximize("ordinal_logit", theta0, maxIter, tol)(at => toStats(momentsAt(at)))
      OrdinalFit(((1 to nTh).map(j => s"cut_$j") ++ names).toArray, fit.estimates,
        fit.stderr, fit.zValues, fit.pValues, levels, n, fit.iterations, fit.logLik)
    }
  }

  /** Ordinal predicted class probabilities — the APPLY verb after
    * [[ordinalLogit]] (the isotonic_score / aft_survival pattern): adds
    * prob_1..prob_J (category probabilities in level order,
    * P(Y = j | x) = σ(θ_j − η) − σ(θ_{j−1} − η)) and pred_class (the
    * 1-based argmax) to every input row. `thetas`/`betas` are
    * [[ordinalLogit]]'s estimate vector split at the cut count —
    * explicit values score a STORED model as pure codegen per-row
    * arithmetic (the form whose oracle stays live SQL); pass the fit's
    * estimates to chain. Thresholds must ascend (named error).
    *
    * 100 TB shape: a pure per-row projection — no aggregate, no
    * shuffle, no collect. */
  def ordinalScore(df: DataFrame, xs: Seq[Column], thetas: Array[Double],
                   betas: Array[Double]): DataFrame = {
    require(xs.length == betas.length,
      s"ordinal_score: ${xs.length} covariates but ${betas.length} betas")
    require(thetas.nonEmpty, "ordinal_score: need at least one threshold")
    require(thetas.zip(thetas.tail).forall { case (a, b) => a < b },
      s"ordinal_score: thresholds must strictly ascend, got " +
        thetas.mkString(","))
    val nJ = thetas.length + 1
    val eta =
      if (betas.forall(_ == 0.0)) lit(0.0)
      else xs.zip(betas).map { case (x, b) => x.cast("double") * lit(b) }
        .reduce(_ + _)
    def sig(c: Column): Column = lit(1.0) / (lit(1.0) + exp(lit(0.0) - c))
    val cum = (1 to (nJ - 1)).map(j => sig(lit(thetas(j - 1)) - eta))
    val probs = (1 to nJ).map { j =>
      val hi = if (j == nJ) lit(1.0) else cum(j - 1)
      val lo = if (j == 1) lit(0.0) else cum(j - 2)
      (hi - lo).as(s"prob_$j")
    }
    val withP = df.select(col("*") +: probs: _*)
    val pred = (2 to nJ).foldLeft((lit(1), col("prob_1"))) {
      case ((bestIx, bestP), j) =>
        val better = col(s"prob_$j") > bestP
        (when(better, lit(j)).otherwise(bestIx),
          when(better, col(s"prob_$j")).otherwise(bestP))
    }._1
    withP.withColumn("pred_class", pred)
  }
}
