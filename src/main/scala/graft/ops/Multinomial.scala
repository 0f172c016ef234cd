package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
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
  * damped ascent-guaranteed Newton (the [[Aft]] recipe) for uniformity
  * and float safety. SEs from the inverse observed information. With
  * J = 2 the model IS binary logistic regression for class 2 vs class
  * 1 — coefficients and SEs identical (spec-pinned against
  * logisticIrls to 1e-6).
  *
  * 100 TB shape: ONE distributed aggregate per iteration — the per-row
  * class probabilities are codegen softmax columns over literal-β
  * linear terms, gradient (J−1)(k+1) sums, Hessian
  * (J−1)J/2 · (k+1)(k+2)/2 sums — then an O(((J−1)(k+1))³) driver
  * solve; an accepted line-search trial's stats row doubles as the
  * next iteration's aggregate. Levels bounded by maxLevels BEFORE
  * collection.
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
    base.persist()
    try {
      // design collapse (graft.stats.LocalCollapse). Columns: 0 = __y, 1..k = __x*.
      val cellsOpt = graft.stats.DesignCells.collect(base, maxCells)
      val levels = graft.stats.DesignCells.outcomeLevels(base, cellsOpt,
          maxLevels, "multinomial_logit")(
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

      def statsAtDist(at: Array[Double]): Row = {
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
        val aggs = scala.collection.mutable.ArrayBuffer.empty[Column]
        aggs += sum(etaOfC - log(denom)).as("ll")
        (2 to nJ).foreach { j =>
          val resid = (cc === j).cast("double") - probs(j - 2)
          (0 until kp).foreach { m =>
            aggs += sum(resid * xcol(m)).as(s"g${j}_$m")
          }
        }
        (2 to nJ).foreach { j =>
          (j to nJ).foreach { l =>
            val w =
              if (j == l) probs(j - 2) * (lit(1.0) - probs(j - 2))
              else lit(0.0) - probs(j - 2) * probs(l - 2)
            (0 until kp).foreach { m1 =>
              (m1 until kp).foreach { m2 =>
                aggs += sum(w * xcol(m1) * xcol(m2))
                  .as(s"h${j}_${l}_${m1}_$m2")
              }
            }
          }
        }
        base.agg(aggs.head, aggs.tail.toSeq: _*).head()
      }
      // driver-side mirror of statsAtDist over the collapsed cells: the
      // SAME per-row softmax formulas (η clamps included) times the cell
      // count, in deterministic sorted-cell order. Field names match
      // the aggregate aliases so gradNegH reads either row.
      def statsAtLocal(cells: Array[Array[Double]], cnts: Array[Long])
                      (at: Array[Double]): Row = {
        val cellCat = cells.map(c => levels.indexOf(c(0)) + 1)
        var ll = 0.0
        val g = Array.ofDim[Double](nJ + 1, kp)
        // h(j)(l)(m1)(m2) for j <= l, m1 <= m2
        val h = Array.ofDim[Double](nJ + 1, nJ + 1, kp, kp)
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
          ll += w * (etaOfC - math.log(denom))
          j = 2
          while (j <= nJ) {
            val pj = math.exp(etas(j - 2)) / denom
            val resid = (if (c == j) 1.0 else 0.0) - pj
            var m = 0
            while (m < kp) { g(j)(m) += w * resid * xv(m); m += 1 }
            var l = j
            while (l <= nJ) {
              val pl = math.exp(etas(l - 2)) / denom
              val wjl = if (j == l) pj * (1.0 - pj) else -pj * pl
              var m1 = 0
              while (m1 < kp) {
                var m2 = m1
                while (m2 < kp) {
                  h(j)(l)(m1)(m2) += w * wjl * xv(m1) * xv(m2)
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
        val names0 = scala.collection.mutable.ArrayBuffer.empty[String]
        val vals = scala.collection.mutable.ArrayBuffer.empty[Double]
        names0 += "ll"; vals += ll
        (2 to nJ).foreach { j =>
          (0 until kp).foreach { m => names0 += s"g${j}_$m"; vals += g(j)(m) }
        }
        (2 to nJ).foreach { j =>
          (j to nJ).foreach { l =>
            (0 until kp).foreach { m1 =>
              (m1 until kp).foreach { m2 =>
                names0 += s"h${j}_${l}_${m1}_$m2"; vals += h(j)(l)(m1)(m2)
              }
            }
          }
        }
        val schema = org.apache.spark.sql.types.StructType(names0.map(f =>
          org.apache.spark.sql.types.StructField(f,
            org.apache.spark.sql.types.DoubleType)).toSeq)
        new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
          vals.map(_.asInstanceOf[Any]).toArray, schema)
      }
      val statsAt: Array[Double] => Row = cellsOpt match {
        case Some((cells, cnts)) => statsAtLocal(cells, cnts)
        case None => statsAtDist
      }
      def gradNegH(r: Row): (Array[Double], Array[Array[Double]]) = {
        val g = new Array[Double](np)
        (2 to nJ).foreach { j =>
          (0 until kp).foreach { m =>
            g(pix(j, m)) = r.getAs[Double](s"g${j}_$m")
          }
        }
        val negH = graft.stats.LinAlg.zeros(np, np)
        (2 to nJ).foreach { j =>
          (j to nJ).foreach { l =>
            (0 until kp).foreach { m1 =>
              (m1 until kp).foreach { m2 =>
                val v = r.getAs[Double](s"h${j}_${l}_${m1}_$m2")
                // -H = +sum(w x x') with w as built (Fisher information)
                val cells = Seq(
                  (pix(j, m1), pix(l, m2)), (pix(j, m2), pix(l, m1)),
                  (pix(l, m1), pix(j, m2)), (pix(l, m2), pix(j, m1)))
                cells.distinct.foreach { case (a0, b0) => negH(a0)(b0) = v }
              }
            }
          }
        }
        (g, negH)
      }

      var param = new Array[Double](np)
      var st = statsAt(param)
      var ll = st.getAs[Double]("ll")
      require(!ll.isNaN && !ll.isInfinity,
        "multinomial_logit: non-finite likelihood at the zero init")
      var it = 0
      var done = false
      while (!done && it < maxIter) {
        val (g, negH) = gradNegH(st)
        var mu = 0.0
        var dir: Array[Double] = null
        var tries = 0
        while (dir == null && tries < 60) {
          val a = Array.tabulate(np, np)((i, j) =>
            negH(i)(j) + (if (i == j) mu else 0.0))
          val cand =
            try Some(graft.stats.LinAlg.matVec(
              graft.stats.LinAlg.invert(a), g))
            catch {
              case _: RuntimeException | _: IllegalArgumentException => None
            }
          cand match {
            case Some(v)
                if v.zip(g).map { case (x1, x2) => x1 * x2 }.sum > 0 &&
                  v.forall(x => !x.isNaN && !x.isInfinity) =>
              dir = v
            case _ =>
              mu =
                if (mu == 0.0)
                  1e-3 * math.max(1.0, (0 until np).map(i =>
                    math.abs(negH(i)(i))).max)
                else mu * 10.0
          }
          tries += 1
        }
        require(dir != null,
          "multinomial_logit: could not find an ascent direction " +
            "(degenerate information) — check for collinear covariates " +
            "or a perfectly separable class")
        var f = 1.0
        var halvings = 0
        var accepted = false
        var sawFinite = false
        // noise-RELATIVE acceptance (the Aft rationale): |ll| is O(n)
        // at row scale, so an absolute bar loses to summation noise
        val noise = 1e-9 * (1.0 + math.abs(ll))
        while (!accepted && halvings < 25) {
          val trial = Array.tabulate(np)(j => param(j) + f * dir(j))
          val stT = statsAt(trial)
          val llT = stT.getAs[Double]("ll")
          if (!llT.isNaN && !llT.isInfinity) {
            sawFinite = true
            if (llT >= ll - noise) {
              param = trial; st = stT; ll = llT; accepted = true
            } else { f /= 2.0; halvings += 1 }
          } else { f /= 2.0; halvings += 1 }
        }
        if (!accepted) {
          require(sawFinite,
            s"multinomial_logit: non-finite likelihood in every " +
              s"backtracking trial at iteration $it")
          done = true // flat at float resolution: converged
        } else {
          it += 1
          val stepMax = dir.map(x => math.abs(f * x)).max
          val (gNew, _) = gradNegH(st)
          done = stepMax < tol &&
            gNew.map(math.abs).max < 1e-7 * (1.0 + math.abs(ll))
        }
      }
      val info = gradNegH(st)._2
      val cov = graft.stats.LinAlg.invert(info)
      val est = Array.tabulate(nJ - 1, kp)((j, m) => param(j * kp + m))
      val se = Array.tabulate(nJ - 1, kp)((j, m) =>
        math.sqrt(cov(j * kp + m)(j * kp + m)))
      MultinomialFit(levels, est, se, n, it, ll)
    } finally {
      base.unpersist()
      ()
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
