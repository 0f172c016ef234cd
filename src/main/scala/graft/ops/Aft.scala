package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Parametric accelerated-failure-time (AFT) regression for right-
  * censored durations: log T = x'β + σ·W with the error W standard
  * extreme-value (`dist = "weibull"`), standard normal (`"lognormal"`)
  * or standard logistic (`"loglogistic"`) — R `survreg`'s three
  * workhorse distributions. The parametric sibling of
  * [[Survival.coxPh]]: where Cox leaves the baseline free, AFT buys
  * extrapolation beyond the observed follow-up and the time-ratio
  * reading exp(β) = "multiplies survival time by", at the price of a
  * shape assumption. (Spark MLlib's AFTSurvivalRegression fits only
  * Weibull and reports no standard errors, so it cannot answer the
  * inference question this verb exists for.)
  *
  * Damped ascent-guaranteed Newton on θ = (β₀..β_k, log σ) with the
  * observed information (ridged until the solve direction is an ascent
  * direction, then a likelihood backtracking line search — the surface
  * is not globally concave, and pure Newton from a moment init
  * demonstrably walks onto the flat σ→∞ ridge); SEs from the inverse
  * observed information at the optimum. For
  * `weibull`, the log_scale row's z-test is the classic
  * exponential-vs-Weibull test (σ = 1 ⇔ constant hazard); for
  * `lognormal` with no censoring the fit reduces in closed form to OLS
  * of log t on x with σ̂² = RSS/n and se(log σ̂) = 1/√(2n) — both
  * spec-pinned, alongside brute numeric-gradient pins at the optimum
  * for the censored Weibull/loglogistic paths.
  *
  * 100 TB shape: ONE distributed aggregate per iteration — O(k²)
  * `sum()` expressions over codegen columns of z = (log t − x'β)/σ
  * (the lognormal branch uses the codegen [[graft.expr.MathExprs.erfc]],
  * not a UDF) — and an O(k³) driver solve; a line-search trial costs no
  * extra pass when accepted, because its stats row IS the next
  * iteration's aggregate. Robustness: exp(z) is clamped at z = 50 (a
  * 50-σ residual) so a bad intermediate β can't overflow the sums, and
  * the lognormal hazard switches to its Mills-ratio asymptote beyond
  * z = 26 where erfc underflows.
  */
object Aft {

  /** `terms` = "intercept" +: covariate names :+ "log_scale";
    * `estimates(last)` is log σ̂ (σ̂ = exp of it). */
  case class AftResult(terms: Array[String], estimates: Array[Double],
                       stderr: Array[Double], zValues: Array[Double],
                       pValues: Array[Double], n: Long, nEvents: Long,
                       dist: String, iterations: Int, logLik: Double)

  def aftFit(df: DataFrame, time: Column, event: Column, xs: Seq[Column],
             names: Seq[String], dist: String = "weibull",
             maxIter: Int = 50, tol: Double = 1e-9,
             maxCells: Int = 4096): AftResult = {
    require(Set("weibull", "lognormal", "loglogistic")(dist),
      s"aft: dist must be weibull|lognormal|loglogistic, got '$dist'")
    require(names.length == xs.length,
      s"aft: ${xs.length} covariates but ${names.length} names")
    val k = xs.length
    val np = k + 2 // intercept + covariates + log-scale
    val complete = (Seq(time, event) ++ xs).map(_.isNotNull).reduce(_ && _)
    val base = df.filter(complete).select(
      time.cast("double").as("__t") +: event.cast("int").as("__d") +:
        xs.zipWithIndex.map { case (x, j) => x.cast("double").as(s"__x$j") }: _*)
      .withColumn("__y", log(col("__t")))
    base.persist()
    try {
      // design collapse (graft.stats.LocalCollapse). Columns:
      // 0 = __t, 1 = __d, 2..k+1 = __x*, k+2 = __y.
      val cellsOpt = graft.stats.DesignCells.collect(base, maxCells)
      val (n, nEvents, badT, badD, mu0, sd0) = cellsOpt match {
        case Some((cells, cnts)) =>
          var nn = 0L; var ne = 0L; var bt = 0L; var bd = 0L; var sy = 0.0
          var i = 0
          while (i < cells.length) {
            val c = cells(i); val w = cnts(i)
            nn += w
            if (c(1) == 1.0) ne += w
            if (c(0) <= 0.0) bt += w
            if (c(1) != 0.0 && c(1) != 1.0) bd += w
            sy += w * c(k + 2)
            i += 1
          }
          val mu = sy / nn
          var m2 = 0.0
          i = 0
          while (i < cells.length) {
            val d0 = cells(i)(k + 2) - mu
            m2 += cnts(i) * d0 * d0
            i += 1
          }
          (nn, ne, bt, bd, mu, math.sqrt(m2 / nn))
        case None =>
          val m0 = base.agg(count(lit(1)).as("n"),
            sum(col("__d")).cast("long").as("ne"),
            sum(when(col("__t") <= 0.0, 1L).otherwise(0L)).as("bad_t"),
            sum(when(col("__d") =!= 0 && col("__d") =!= 1, 1L).otherwise(0L))
              .as("bad_d"),
            avg(col("__y")).as("mu"),
            coalesce(stddev_pop(col("__y")), lit(0.0)).as("sd")).head()
          (m0.getAs[Long]("n"), m0.getAs[Long]("ne"),
            m0.getAs[Long]("bad_t"), m0.getAs[Long]("bad_d"),
            m0.getAs[Double]("mu"), m0.getAs[Double]("sd"))
      }
      require(badT == 0,
        s"aft: $badT rows have time <= 0 — log-time " +
          "is undefined; filter or shift them first")
      require(badD == 0,
        s"aft: $badD rows have an event value " +
          "other than 0/1 (1 = event, 0 = right-censored)")
      require(nEvents > 0, "aft: no events (event = 1 rows)")
      require(n > np.toLong,
        s"aft: $n complete rows cannot identify $np parameters")

      var theta = new Array[Double](np)
      theta(0) = mu0
      theta(np - 1) = math.log(math.max(sd0, 1e-3))
      val pairs = for { j <- 0 until (k + 1); l <- j until (k + 1) }
        yield (j, l)
      def xcol(j: Int): Column = if (j == 0) lit(1.0) else col(s"__x${j - 1}")

      // ONE distributed pass: the log-likelihood plus every moment the
      // gradient/Hessian at `at` needs
      def statsAtDist(at: Array[Double]): org.apache.spark.sql.Row = {
        val s = math.exp(at(np - 1))
        val eta = (0 until (k + 1)).map(j => xcol(j) * lit(at(j)))
          .reduce(_ + _)
        val z = (col("__y") - eta) / lit(s)
        // per-row (u, u') for events and (v, v') for censored rows, where
        // u = (log f)'(z), v = (log S)'(z); plus the log-density and
        // log-survival themselves for the reported likelihood
        val (u, up, vS, vp, lf, ls) = dist match {
          case "weibull" =>
            val ez = exp(least(z, lit(50.0)))
            (lit(1.0) - ez, lit(0.0) - ez, lit(0.0) - ez, lit(0.0) - ez,
              z - ez, lit(0.0) - ez)
          case "loglogistic" =>
            val p = lit(1.0) / (lit(1.0) + exp(least(lit(0.0) - z, lit(50.0))))
            val sp = when(z > 30.0, z)
              .otherwise(log1p(exp(least(z, lit(30.0)))))
            (lit(1.0) - lit(2.0) * p, lit(-2.0) * p * (lit(1.0) - p),
              lit(0.0) - p, lit(0.0) - p * (lit(1.0) - p),
              z - lit(2.0) * sp, lit(0.0) - sp)
          case _ => // lognormal
            val c0 = math.log(math.sqrt(2.0 * math.Pi))
            val phi = exp(lit(0.0) - z * z / lit(2.0)) /
              lit(math.sqrt(2.0 * math.Pi))
            val sTail = lit(0.5) *
              graft.expr.MathExprs.erfc(z / lit(math.sqrt(2.0)))
            val lam = when(z > 26.0, z + lit(1.0) / z).otherwise(phi / sTail)
            val lnS = when(z > 26.0,
              lit(0.0) - z * z / lit(2.0) - log(z) - lit(c0))
              .otherwise(log(sTail))
            (lit(0.0) - z, lit(-1.0), lit(0.0) - lam,
              lam * z - lam * lam, lit(0.0) - z * z / lit(2.0) - lit(c0),
              lnS)
        }
        val d1 = col("__d") === 1
        val gz = when(d1, u).otherwise(vS)
        val hz = when(d1, up).otherwise(vp)
        val lli = when(d1, lf - lit(at(np - 1))).otherwise(ls)
        val aggs =
          Seq(sum(lli).as("ll"), sum(gz * z).as("sgz"),
            sum(hz * z * z).as("shzz")) ++
            (0 until (k + 1)).map(j => sum(gz * xcol(j)).as(s"sg$j")) ++
            (0 until (k + 1)).map(j => sum(hz * z * xcol(j)).as(s"shz$j")) ++
            pairs.map { case (j, l) =>
              sum(hz * xcol(j) * xcol(l)).as(s"sh${j}_$l") }
        base.agg(aggs.head, aggs.tail: _*).head()
      }
      // driver-side mirror of statsAtDist over the collapsed cells: the
      // SAME per-row formulas (clamps included) times the cell count,
      // summed in the deterministic sorted-cell order. Field names match
      // statsAtDist's aggregate aliases so gradNegH reads either row.
      def statsAtLocal(cells: Array[Array[Double]], cnts: Array[Long])
                      (at: Array[Double]): org.apache.spark.sql.Row = {
        val s = math.exp(at(np - 1))
        val c0 = math.log(math.sqrt(2.0 * math.Pi))
        val nFields = 3 + 2 * (k + 1) + pairs.length
        val acc = new Array[Double](nFields)
        val ixLl = 0; val ixSgz = 1; val ixShzz = 2
        def ixSg(j: Int) = 3 + j
        def ixShz(j: Int) = 3 + (k + 1) + j
        def ixSh(pi: Int) = 3 + 2 * (k + 1) + pi
        var i = 0
        while (i < cells.length) {
          val cell = cells(i)
          val w = cnts(i).toDouble
          val z = (cell(k + 2) - (0 until (k + 1)).map(j =>
            (if (j == 0) 1.0 else cell(j + 1)) * at(j)).sum) / s
          var u = 0.0; var up = 0.0; var vS = 0.0; var vp = 0.0
          var lf = 0.0; var ls = 0.0
          dist match {
            case "weibull" =>
              val ez = math.exp(math.min(z, 50.0))
              u = 1.0 - ez; up = -ez; vS = -ez; vp = -ez
              lf = z - ez; ls = -ez
            case "loglogistic" =>
              val p = 1.0 / (1.0 + math.exp(math.min(-z, 50.0)))
              val sp = if (z > 30.0) z
                       else math.log1p(math.exp(math.min(z, 30.0)))
              u = 1.0 - 2.0 * p; up = -2.0 * p * (1.0 - p)
              vS = -p; vp = -p * (1.0 - p)
              lf = z - 2.0 * sp; ls = -sp
            case _ => // lognormal
              val phi = math.exp(-z * z / 2.0) / math.sqrt(2.0 * math.Pi)
              val sTail = 0.5 * org.apache.commons.math3.special.Erf
                .erfc(z / math.sqrt(2.0))
              val lam = if (z > 26.0) z + 1.0 / z else phi / sTail
              val lnS = if (z > 26.0) -z * z / 2.0 - math.log(z) - c0
                        else math.log(sTail)
              u = -z; up = -1.0; vS = -lam; vp = lam * z - lam * lam
              lf = -z * z / 2.0 - c0; ls = lnS
          }
          val d1 = cell(1) == 1.0
          val gz = if (d1) u else vS
          val hz = if (d1) up else vp
          val lli = if (d1) lf - at(np - 1) else ls
          def xv(j: Int): Double = if (j == 0) 1.0 else cell(j + 1)
          acc(ixLl) += w * lli
          acc(ixSgz) += w * gz * z
          acc(ixShzz) += w * hz * z * z
          var j = 0
          while (j < k + 1) {
            acc(ixSg(j)) += w * gz * xv(j)
            acc(ixShz(j)) += w * hz * z * xv(j)
            j += 1
          }
          var pi = 0
          while (pi < pairs.length) {
            val (pj, pl) = pairs(pi)
            acc(ixSh(pi)) += w * hz * xv(pj) * xv(pl)
            pi += 1
          }
          i += 1
        }
        val names0 = Seq("ll", "sgz", "shzz") ++
          (0 until (k + 1)).map(j => s"sg$j") ++
          (0 until (k + 1)).map(j => s"shz$j") ++
          pairs.map { case (j, l) => s"sh${j}_$l" }
        val schema = org.apache.spark.sql.types.StructType(names0.map(f =>
          org.apache.spark.sql.types.StructField(f,
            org.apache.spark.sql.types.DoubleType)))
        new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
          acc.map(_.asInstanceOf[Any]), schema)
      }
      val statsAt: Array[Double] => org.apache.spark.sql.Row =
        cellsOpt match {
          case Some((cells, cnts)) => statsAtLocal(cells, cnts)
          case None => statsAtDist
        }
      // gradient and NEGATIVE Hessian from a stats row taken at `at`
      def gradNegH(r: org.apache.spark.sql.Row, at: Array[Double])
          : (Array[Double], Array[Array[Double]]) = {
        val s = math.exp(at(np - 1))
        val grad = new Array[Double](np)
        (0 until (k + 1)).foreach(j =>
          grad(j) = -r.getAs[Double](s"sg$j") / s)
        grad(np - 1) = -(r.getAs[Double]("sgz") + nEvents.toDouble)
        val h = graft.stats.LinAlg.zeros(np, np)
        pairs.foreach { case (j, l) =>
          h(j)(l) = r.getAs[Double](s"sh${j}_$l") / (s * s)
          h(l)(j) = h(j)(l)
        }
        (0 until (k + 1)).foreach { j =>
          h(j)(np - 1) =
            (r.getAs[Double](s"shz$j") + r.getAs[Double](s"sg$j")) / s
          h(np - 1)(j) = h(j)(np - 1)
        }
        h(np - 1)(np - 1) = r.getAs[Double]("shzz") + r.getAs[Double]("sgz")
        (grad, h.map(_.map(x => -x)))
      }

      // damped ascent-guaranteed Newton: the AFT log-likelihood in
      // (beta, log sigma) is NOT globally concave (the information is
      // indefinite away from the optimum — pure Newton from a moment
      // init demonstrably walks onto the flat sigma -> infinity ridge),
      // so (a) ridge the negative Hessian until the solve direction is
      // an ASCENT direction, (b) backtrack on the likelihood. The line
      // search costs no extra pass on the accepted trial: its stats row
      // IS the next iteration's aggregate.
      var it = 0
      var done = false
      var st = statsAt(theta)
      var ll = st.getAs[Double]("ll")
      require(!ll.isNaN && !ll.isInfinity,
        "aft: non-finite likelihood at the moment init — rescale " +
          "extreme covariates or times")
      var info: Array[Array[Double]] = null // negative Hessian at theta
      while (!done && it < maxIter) {
        val (g, negH) = gradNegH(st, theta)
        info = negH
        var mu = 0.0
        var dir: Array[Double] = null
        var tries = 0
        while (dir == null && tries < 60) {
          val a = Array.tabulate(np, np)((i, j) =>
            negH(i)(j) + (if (i == j) mu else 0.0))
          val cand =
            try Some(graft.stats.LinAlg.matVec(
              graft.stats.LinAlg.invert(a), g))
            catch { case _: RuntimeException | _: IllegalArgumentException => None }
          cand match {
            case Some(v)
                if v.zip(g).map { case (a1, b1) => a1 * b1 }.sum > 0 &&
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
          "aft: could not find an ascent direction (degenerate " +
            "information) — check for collinear covariates")
        var f = 1.0
        var halvings = 0
        var accepted = false
        var sawFinite = false
        // acceptance tolerance is RELATIVE to |ll|: at row scale the
        // log-likelihood is O(n), where a distributed sum's float noise
        // alone is ~1e-12·|ll| — an absolute 1e-12 bar would reject
        // every trial once the true improvement drops under the noise
        // floor (the r18 board caught exactly this at sf0.1)
        val noise = 1e-9 * (1.0 + math.abs(ll))
        while (!accepted && halvings < 25) {
          val trial = Array.tabulate(np)(j => theta(j) + f * dir(j))
          val stT = statsAt(trial)
          val llT = stT.getAs[Double]("ll")
          if (!llT.isNaN && !llT.isInfinity) {
            sawFinite = true
            if (llT >= ll - noise) {
              theta = trial; st = stT; ll = llT; accepted = true
            } else { f /= 2.0; halvings += 1 }
          } else { f /= 2.0; halvings += 1 }
        }
        if (!accepted) {
          require(sawFinite,
            s"aft: non-finite likelihood in every backtracking trial " +
              s"at iteration $it (dist = $dist) — rescale extreme " +
              "covariates")
          // every finite trial sat within noise of the incumbent: the
          // surface is flat at float resolution — converged
          done = true
        } else {
          it += 1
          val stepMax = dir.map(x => math.abs(f * x)).max
          val (gNew, _) = gradNegH(st, theta)
          done = stepMax < tol &&
            gNew.map(math.abs).max < 1e-7 * (1.0 + math.abs(ll))
        }
      }
      // observed information at the accepted final point
      info = gradNegH(st, theta)._2
      val cov = graft.stats.LinAlg.invert(info)
      val se = Array.tabulate(np)(j => math.sqrt(cov(j)(j)))
      val zv = Array.tabulate(np)(j => theta(j) / se(j))
      val pv = zv.map(z =>
        2.0 * (1.0 - graft.stats.Dist.normCdf(math.abs(z))))
      AftResult(("intercept" +: names :+ "log_scale").toArray,
        theta, se, zv, pv, n, nEvents, dist, it, ll)
    } finally {
      base.unpersist()
      ()
    }
  }

  /** AFT survival-curve prediction — the APPLY verb after [[aftFit]]
    * (the cox_survival pattern): S(t | x*) and the cumulative hazard at
    * a covariate profile, one row per distinct positive observed time
    * ascending. `params` = (β₀, β₁..β_k, log σ) — [[aftFit]]'s estimate
    * vector verbatim; `None` fits first. With explicit params the whole
    * curve is a CLOSED FORM per distinct time (z = (log t − x*'β)/σ;
    * weibull S = exp(−e^z), lognormal S = ½·erfc(z/√2) via the codegen
    * expression, loglogistic S = 1/(1+e^z)) — the form whose oracle
    * stays live SQL at every scale factor.
    *
    * 100 TB shape: strictly better than even [[Survival.coxSurvival]] —
    * ONE distinct-time collapse and a codegen per-cell expression; no
    * driver scan, no collect, no bound on the number of distinct times.
    * Returns (time, survival, cum_hazard). */
  def aftSurvival(df: DataFrame, time: Column, event: Column,
                  xs: Seq[Column], profile: Seq[Double],
                  params: Option[Array[Double]] = None,
                  dist: String = "weibull"): DataFrame = {
    require(Set("weibull", "lognormal", "loglogistic")(dist),
      s"aft_survival: dist must be weibull|lognormal|loglogistic, " +
        s"got '$dist'")
    val k = xs.length
    require(profile.length == k,
      s"aft_survival: $k covariates but ${profile.length} profile values")
    val p = params.getOrElse(aftFit(df, time, event, xs,
      names = (0 until k).map(j => s"x$j"), dist = dist).estimates)
    require(p.length == k + 2,
      s"aft_survival: $k covariates need ${k + 2} params " +
        s"(intercept, coefficients, log_scale), got ${p.length}")
    val eta = p(0) + profile.zip(p.slice(1, k + 1))
      .map { case (x, b) => x * b }.sum
    val s = math.exp(p(k + 1))
    val z = (log(col("time")) - lit(eta)) / lit(s)
    val surv = dist match {
      case "weibull" => exp(lit(0.0) - exp(least(z, lit(50.0))))
      case "loglogistic" =>
        lit(1.0) / (lit(1.0) + exp(least(z, lit(50.0))))
      case _ =>
        lit(0.5) * graft.expr.MathExprs.erfc(z / lit(math.sqrt(2.0)))
    }
    df.filter(time.isNotNull && time.cast("double") > 0)
      .select(time.cast("double").as("time")).distinct()
      .select(col("time"), surv.as("survival"),
        (lit(0.0) - log(surv)).as("cum_hazard"))
      .orderBy(col("time"))
  }
}
