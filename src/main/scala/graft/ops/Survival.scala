package graft.ops

import graft.stats.LocalCollapse
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Kaplan–Meier survival curve (reference `lib/survival.py:10-62`
  * `kaplan_meier`: per-time death counts, at-risk by cumulative subtraction,
  * survival as the cumulative product of 1 − d/r — that legacy module also
  * drops censored subjects from the risk set and ships a broken f-string;
  * here the textbook estimator: censored subjects leave the risk set only
  * AFTER their censoring time).
  *
  * 100 TB shape: one groupBy collapses subjects to one row per distinct
  * time, then both running quantities (at-risk and the log-survival sum)
  * ride [[RangeCumSum]] — range-partitioned two-phase prefix sums, so no
  * single-partition global window at any row count. The cumulative PRODUCT
  * is exp of the running sum of ln(1 − d/r): d = r can only happen at the
  * last event time (nobody remains at risk afterwards), where the explicit
  * −∞ branch makes exp() an exact 0 instead of ln(0) = NULL.
  */
object Survival {

  /** One row per distinct `time`, ascending:
    * (time, n_risk, n_event, n_censored, survival).
    *
    * @param event 1 = event observed, 0 = right-censored at `time`
    *              (survival.py's `censor_col` convention); default: nobody
    *              censored. Rows with a null time or event are dropped.
    */
  def kaplanMeier(df: DataFrame, time: Column,
                  event: Column = lit(1)): DataFrame = {
    val g = df.filter(time.isNotNull && event.isNotNull)
      .groupBy(time.as("time"))
      .agg(sum(when(event.cast("int") === 1, 1L).otherwise(0L)).as("n_event"),
        count(lit(1)).as("n_total"))
    RangeCumSum.withCumSums(g, Seq(col("time")), Seq("n_total")) { (cum, totals) =>
      // at risk at t = subjects whose time is >= t: grand total minus all
      // subjects who exited strictly before t (exclusive running count)
      val atRisk = (lit(totals("n_total")) -
        (col("cum_n_total") - col("n_total"))).cast("long")
      val withLog = cum.withColumn("n_risk", atRisk)
        .withColumn("__lt",
          when(col("n_event") === col("n_risk"), lit(Double.NegativeInfinity))
            .otherwise(log(lit(1.0) - col("n_event") / col("n_risk"))))
      RangeCumSum.withCumSums(withLog, Seq(col("time")), Seq("__lt")) { (cum2, _) =>
        // localCheckpoint: both RangeCumSum frames unpersist when these
        // scopes exit, and the result here is |distinct times| rows — tiny
        // next to the input — so materializing severs the lineage safely
        cum2.select(col("time"), col("n_risk"), col("n_event"),
            (col("n_total") - col("n_event")).as("n_censored"),
            exp(col("cum___lt")).as("survival"))
          .transform(d => graft.Ckpt.register(d.localCheckpoint()))
      }
    }
  }

  /** Per-group Kaplan–Meier curves (one call, ALL groups): one row per
    * distinct (group, time), ascending within group.
    *
    * Both running quantities still ride the global [[RangeCumSum]] — sorted
    * by (group, time), so each group's rows are contiguous in the range
    * order — and become per-group prefix sums by subtracting the group's
    * leading offset (the exclusive prefix at its first time, captured with
    * one `min(struct(time, prefix))` aggregate and broadcast back; group
    * cardinality is experiment-arm-sized). No per-group window over row
    * data, no driver loop over groups.
    *
    * The d = r terminal branch (only possible at a group's LAST time —
    * nobody remains at risk afterwards) contributes 0 to the running sum
    * and pins its own survival to an exact 0.0 instead: a −∞ term would
    * make the NEXT group's offset subtraction NaN (−∞ − −∞), and any
    * finite sentinel large enough to underflow exp() bleeds ~1e-10 of
    * absorption error into every later group's curve. */
  def kaplanMeierBy(df: DataFrame, group: Column, time: Column,
                    event: Column = lit(1)): DataFrame = {
    val g = df.filter(time.isNotNull && event.isNotNull && group.isNotNull)
      .groupBy(group.as("group"), time.as("time"))
      .agg(sum(when(event.cast("int") === 1, 1L).otherwise(0L)).as("n_event"),
        count(lit(1)).as("n_total"))
    RangeCumSum.withCumSums(g, Seq(col("group"), col("time")),
        Seq("n_total")) { (cum, _) =>
      val pre = col("cum_n_total") - col("n_total") // exclusive global prefix
      val offs = cum.groupBy(col("group")).agg(
        sum(col("n_total")).cast("double").as("__grp_total"),
        min(struct(col("time"), pre.as("v"))).getField("v").as("__grp_off"))
      val j = cum.join(broadcast(offs), "group")
      val atRisk = (col("__grp_total") + col("__grp_off") -
        (col("cum_n_total") - col("n_total"))).cast("long")
      val withLog = j.withColumn("n_risk", atRisk)
        .withColumn("__lt",
          when(col("n_event") === col("n_risk"), lit(0.0))
            .otherwise(log(lit(1.0) - col("n_event") / col("n_risk"))))
        .select(col("group"), col("time"), col("n_risk"), col("n_event"),
          col("n_total"), col("__lt"))
      RangeCumSum.withCumSums(withLog, Seq(col("group"), col("time")),
          Seq("__lt")) { (cum2, _) =>
        val pre2 = col("cum___lt") - col("__lt")
        val offs2 = cum2.groupBy(col("group")).agg(
          min(struct(col("time"), pre2.as("v"))).getField("v").as("__lt_off"))
        cum2.join(broadcast(offs2), "group")
          .select(col("group"), col("time"), col("n_risk"), col("n_event"),
            (col("n_total") - col("n_event")).as("n_censored"),
            when(col("n_event") === col("n_risk"), lit(0.0))
              .otherwise(exp(col("cum___lt") - col("__lt_off"))).as("survival"))
          .transform(d => graft.Ckpt.register(d.localCheckpoint()))
      }
    }
  }

  /** Restricted mean survival time (Royston & Parmar 2013's recommended
    * PH-free effect scale; variance per Klein & Moeschberger §4.5): the
    * area under the KM curve up to a clinical horizon τ,
    *
    *   RMST = ∫₀^τ Ŝ(u) du,
    *   Var = Σ_{t_j ≤ τ} A_j²·d_j/(n_j(n_j−d_j)),  A_j = ∫_{t_j}^τ Ŝ(u)du
    *
    * — "mean time alive (retained, subscribed) in the first τ units",
    * the readout that stays meaningful when hazards cross and the
    * log-rank/Cox summaries don't.
    *
    * 100 TB shape: rides [[kaplanMeierBy]]'s checkpointed CELL frame
    * (|distinct (group,time)| rows); the step-integral, the suffix areas
    * A_j, and the variance terms are cell-scale windows partitioned by
    * group — nothing row-scale, nothing collected but the O(1) guard
    * row. Groups whose first observed time exceeds τ get rmst = τ with
    * zero variance (the curve is flat 1 on [0, τ]). Returns one row per
    * group: (group, tau, n, events, rmst, se, lower, upper). */
  def rmst(df: DataFrame, time: Column, event: Column, tau: Double,
           group: Column = lit("all"), alpha: Double = 0.05): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(tau > 0, "rmst: tau must be positive")
    require(alpha > 0 && alpha < 1, "rmst: alpha in (0,1)")
    val cells = kaplanMeierBy(df, group, time, event)
    val totals = cells.groupBy(col("group")).agg(
      (sum(col("n_event")) + sum(col("n_censored"))).as("n"),
      min(col("time").cast("double")).as("__t0"))
    val t0 = totals.agg(min(col("__t0"))).head().getDouble(0)
    require(t0 >= 0,
      f"rmst: negative times (min $t0%.4g) — the integral starts at 0; " +
        "shift the time origin")
    val wg = Window.partitionBy(col("group"))
    val w = wg.orderBy(col("__td"))
    val enr = cells.filter(col("time").cast("double") <= tau)
      .withColumn("__td", col("time").cast("double"))
      // the step ends at the next distinct time, or at the horizon
      .withColumn("__next",
        coalesce(least(lead(col("time").cast("double"), 1).over(w),
          lit(tau)), lit(tau)))
      .withColumn("__contrib", col("survival") * (col("__next") - col("__td")))
      // S = 1 on [0, t_first): the initial rectangle
      .withColumn("__first", min(col("__td")).over(wg))
      .withColumn("__total", col("__first") + sum(col("__contrib")).over(wg))
      .withColumn("__prefix", coalesce(sum(col("__contrib"))
        .over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0.0)))
      // A_j = area on [t_j, τ] = total − (initial rectangle + earlier steps)
      .withColumn("__aj",
        col("__total") - (col("__first") + col("__prefix")))
      // d = n terminal cells pin Ŝ to 0 and contribute no variance (the
      // curve below them is fully determined)
      .withColumn("__vterm",
        when(col("n_event") > 0 && col("n_risk") > col("n_event"),
          col("__aj") * col("__aj") * col("n_event") /
            (col("n_risk") * (col("n_risk") - col("n_event"))))
          .otherwise(lit(0.0)))
    val gagg = enr.groupBy(col("group")).agg(
      first(col("__total")).as("__rmst"), sum(col("__vterm")).as("__var"),
      sum(col("n_event")).as("events"))
    val z = graft.stats.Dist.normQuantile(1.0 - alpha / 2)
    totals.join(gagg, Seq("group"), "left")
      .select(col("group"), lit(tau).as("tau"), col("n"),
        coalesce(col("events"), lit(0L)).as("events"),
        coalesce(col("__rmst"), lit(tau)).as("rmst"),
        sqrt(coalesce(col("__var"), lit(0.0))).as("se"))
      .withColumn("lower", col("rmst") - lit(z) * col("se"))
      .withColumn("upper", col("rmst") + lit(z) * col("se"))
  }

  /** RMST DIFFERENCE test (Royston-Parmar 2013, Uno et al. 2014) — the
    * hazard-ratio-free between-arm effect: Δ = RMST₁(τ) − RMST₀(τ) in
    * time units ("treated patients live 1.3 months longer through month
    * 24"), valid with NO proportional-hazards assumption — the
    * recommended readout when [[coxZph]] rejects and no stratification
    * variable absorbs the drift. z = Δ/√(se₁² + se₀²) (the two arms'
    * Greenwood-type variances are independent), two-sided p, CI.
    *
    * 100 TB shape: [[rmst]]'s per-group cell pass (everything after the
    * first groupBy runs on |groups|×|times| cells), then an O(1) driver
    * close over the TWO group rows. Group must be binary {0, 1}.
    * Returns one row: (tau, n0, n1, rmst0, rmst1, diff, se, z, p_value,
    * lower, upper). */
  def rmstDiff(df: DataFrame, time: Column, event: Column, tau: Double,
               group: Column, alpha: Double = 0.05): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val per = rmst(df, time, event, tau, group.cast("int").cast("string"),
      alpha).collect()
    val byG = per.map(r => r.getAs[String]("group") -> r).toMap
    require(byG.keySet == Set("0", "1"),
      s"rmst_diff: group must be binary {0, 1}, got ${byG.keySet.toSeq.sorted.mkString(", ")}")
    val (r0, r1) = (byG("0"), byG("1"))
    val d = r1.getAs[Double]("rmst") - r0.getAs[Double]("rmst")
    val se = math.sqrt(
      r1.getAs[Double]("se") * r1.getAs[Double]("se") +
        r0.getAs[Double]("se") * r0.getAs[Double]("se"))
    val z = if (se > 0) d / se else Double.NaN
    val p = if (se > 0)
      2.0 * (1.0 - graft.stats.Dist.normCdf(math.abs(z))) else Double.NaN
    val zq = graft.stats.Dist.normQuantile(1.0 - alpha / 2)
    Seq((tau, r0.getAs[Long]("n"), r1.getAs[Long]("n"),
      r0.getAs[Double]("rmst"), r1.getAs[Double]("rmst"),
      d, se, z, p, d - zq * se, d + zq * se))
      .toDF("tau", "n0", "n1", "rmst0", "rmst1", "diff", "se", "z",
        "p_value", "lower", "upper")
  }

  case class CoxResult(coefficients: Array[Double], stderr: Array[Double],
                       z_values: Array[Double], p_values: Array[Double],
                       n: Long, nEvents: Long, nTimes: Int, iterations: Int,
                       logLik: Double, scoreChi2: Double, scoreP: Double)

  private def requireTies(verb: String, ties: String): Boolean = {
    require(ties == "breslow" || ties == "efron",
      s"$verb: ties must be breslow|efron, got $ties")
    ties == "efron"
  }

  /** The three Efron within-tie sums over l = 0..d−1 with denominator
    * den(l) = s0 − (l/d)·c0:  (Σ log den, Σ 1/den, Σ 1/den²).
    *
    * Small d runs the explicit loop; past the threshold the sums CLOSE
    * via the polygamma recurrences (den(l) = (c0/d)·(x − l) with
    * x = s0·d/c0 ≥ d, so Σ log = d·log(c0/d) + lnΓ(x+1) − lnΓ(x−d+1),
    * Σ 1/den = (d/c0)·(ψ(x+1) − ψ(x−d+1)), Σ 1/den² =
    * (d/c0)²·(ψ′(x−d+1) − ψ′(x+1))) — the O(d) driver loop per tied
    * cell would otherwise be O(total events) per Newton pass, the only
    * part of the Efron cost that grows with ROWS rather than cells
    * (measured 70M-iteration scans at the 100M-row probe). Loop and
    * closed form agree to float precision (spec-pinned across d). */
  private[graft] def efronSums(s0: Double, c0: Double, d: Int)
      : (Double, Double, Double) = {
    if (d <= 16) {
      var sLog = 0.0; var s1 = 0.0; var s2 = 0.0
      var l = 0
      while (l < d) {
        val den = s0 - (l.toDouble / d) * c0
        sLog += math.log(den)
        s1 += 1.0 / den
        s2 += 1.0 / (den * den)
        l += 1
      }
      (sLog, s1, s2)
    } else {
      import org.apache.commons.math3.special.Gamma.{digamma, logGamma, trigamma}
      val scale = c0 / d
      val x = s0 / scale
      val sLog = d * math.log(scale) + logGamma(x + 1) - logGamma(x - d + 1)
      val s1 = (digamma(x + 1) - digamma(x - d + 1)) / scale
      val s2 = (trigamma(x - d + 1) - trigamma(x + 1)) / (scale * scale)
      (sLog, s1, s2)
    }
  }

  /** Per-(bucketed-time[, stratum]) cell aggregate columns shared by the
    * Cox family: event count d, event-covariate sums sx, the risk-set
    * moments A = Σ (1, x, xxᵀ)·e^η, and — when `efron` — the within-tie
    * event moments C = Σ_{events} (1, x, xxᵀ)·e^η that Efron's correction
    * subtracts in l/d fractions. One distributed pass either way. */
  private def coxCellAggs(k: Int, pairs: IndexedSeq[(Int, Int)],
                          beta: Array[Double], efron: Boolean): Seq[Column] = {
    val eta =
      if (beta.forall(_ == 0.0)) lit(0.0)
      else (0 until k).map(j => col(s"__x$j") * lit(beta(j))).reduce(_ + _)
    val w = exp(eta)
    sum(col("__e")).cast("double").as("d") +:
      ((0 until k).map(j => sum(col("__e") * col(s"__x$j")).as(s"sx$j")) ++
        Seq(sum(w).as("a0")) ++
        (0 until k).map(j => sum(col(s"__x$j") * w).as(s"a1_$j")) ++
        pairs.map { case (j, l) =>
          sum(col(s"__x$j") * col(s"__x$l") * w).as(s"a2_${j}_$l") } ++
        (if (!efron) Seq.empty[Column]
         else Seq(sum(col("__e") * w).as("c0")) ++
           (0 until k).map(j =>
             sum(col("__e") * col(s"__x$j") * w).as(s"c1_$j")) ++
           pairs.map { case (j, l) =>
             sum(col("__e") * col(s"__x$j") * col(s"__x$l") * w)
               .as(s"c2_${j}_$l") }))
  }

  /** One driver scan over the collected cells: suffix-accumulates the
    * risk-set moments (cells ordered time-DESC; when `stratified`, ordered
    * (stratum ASC, time DESC) and the suffix sums RESET at each stratum
    * boundary) and returns (logLik, gradient, information = −Hessian).
    * Breslow uses the full suffix sums for all d tied factors; Efron
    * subtracts the within-tie C moments in l/d fractions (identical when
    * every d = 1). Cell layout: [stratum,] time, d, sx*k, a0, a1*k, a2*P
    * [, c0, c1*k, c2*P]. */
  private def coxScan(cs: Array[Row], beta: Array[Double], k: Int,
                      pairs: IndexedSeq[(Int, Int)], efron: Boolean,
                      stratified: Boolean)
      : (Double, Array[Double], Array[Array[Double]]) = {
    val off = if (stratified) 1 else 0
    val nP = pairs.length
    var curS: String = null
    var s0 = 0.0
    var s1 = new Array[Double](k)
    var s2 = graft.stats.LinAlg.zeros(k, k)
    var ll = 0.0
    val g = new Array[Double](k)
    val info = graft.stats.LinAlg.zeros(k, k)
    cs.foreach { r =>
      if (stratified) {
        val st = r.getString(0)
        if (st != curS) {
          curS = st; s0 = 0.0
          s1 = new Array[Double](k)
          s2 = graft.stats.LinAlg.zeros(k, k)
        }
      }
      val d = r.getDouble(off + 1)
      s0 += r.getDouble(off + 2 + k)
      (0 until k).foreach(j => s1(j) += r.getDouble(off + 3 + k + j))
      pairs.zipWithIndex.foreach { case ((j, l), ix) =>
        s2(j)(l) += r.getDouble(off + 3 + 2 * k + ix)
        if (j != l) s2(l)(j) = s2(j)(l)
      }
      if (d > 0) {
        (0 until k).foreach { j =>
          val sx = r.getDouble(off + 2 + j)
          ll += beta(j) * sx
          g(j) += sx
        }
        if (!efron || d <= 1.0) {
          ll -= d * math.log(s0)
          (0 until k).foreach(j => g(j) -= d * s1(j) / s0)
          (0 until k).foreach { j =>
            (0 until k).foreach { l =>
              info(j)(l) += d * (s2(j)(l) / s0 - (s1(j) / s0) * (s1(l) / s0))
            }
          }
        } else {
          val c0 = r.getDouble(off + 3 + 2 * k + nP)
          val c1 = Array.tabulate(k)(j => r.getDouble(off + 4 + 2 * k + nP + j))
          val c2 = graft.stats.LinAlg.zeros(k, k)
          pairs.zipWithIndex.foreach { case ((j, l), ix) =>
            c2(j)(l) = r.getDouble(off + 4 + 3 * k + nP + ix)
            if (j != l) c2(l)(j) = c2(j)(l)
          }
          // the l = 0..d−1 sums close via [[efronSums]] and the partial
          // fraction (s1 − φc1)/den = c1/c0 + A/den, A = s1 − s0·c1/c0 —
          // O(k²) per tied cell instead of O(d·k²)
          val di = math.round(d).toInt
          val (sLog, sDen1, sDen2) = efronSums(s0, c0, di)
          ll -= sLog
          val aV = Array.tabulate(k)(j => s1(j) - s0 * c1(j) / c0)
          var j = 0
          while (j < k) {
            g(j) -= di * c1(j) / c0 + aV(j) * sDen1
            j += 1
          }
          j = 0
          while (j < k) {
            var mm = 0
            while (mm < k) {
              val first = di * c2(j)(mm) / c0 +
                (s2(j)(mm) - s0 * c2(j)(mm) / c0) * sDen1
              val second = di * c1(j) * c1(mm) / (c0 * c0) +
                (c1(j) * aV(mm) + c1(mm) * aV(j)) / c0 * sDen1 +
                aV(j) * aV(mm) * sDen2
              info(j)(mm) += first - second
              mm += 1
            }
            j += 1
          }
        }
      }
    }
    (ll, g, info)
  }

  /** Greatest index i with sorted(i) <= v, or −1 — the driver-side twin
    * of the codegen floor bucket
    * ([[graft.expr.SearchExprs.sortedFloorLookup]]) used when the design
    * has collapsed to cells. */
  private def floorIdx(sorted: Array[Double], v: Double): Int = {
    var lo = 0; var hi = sorted.length - 1; var res = -1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      if (sorted(mid) <= v) { res = mid; lo = mid + 1 } else hi = mid - 1
    }
    res
  }

  /** Driver-side replay of [[coxCellAggs]]'s bucketed groupBy over
    * COLLAPSED design cells (the [[graft.stats.DesignCells]] idiom,
    * guide §1.2 step 1): each distinct (t, e, x…) row contributes its
    * row formula times its multiplicity, accumulated per bucketed event
    * time in the cells' sorted order (deterministic), emitted time-DESC
    * in the exact layout [[coxScan]] reads. `tbIdx(i)` = floor bucket of
    * cell i (−1 = censored before the first event, dropped exactly like
    * the row path's `__tb IS NULL` filter). Zero distributed passes. */
  private def localCoxCells(dc: Array[Array[Double]], cnts: Array[Long],
                            tbIdx: Array[Int], evTimes: Array[Double],
                            k: Int, pairs: IndexedSeq[(Int, Int)],
                            beta: Array[Double], efron: Boolean): Array[Row] = {
    val m = evTimes.length
    val nP = pairs.length
    val d = new Array[Double](m)
    val sx = Array.ofDim[Double](k, m)
    val a0 = new Array[Double](m)
    val a1 = Array.ofDim[Double](k, m)
    val a2 = Array.ofDim[Double](nP, m)
    val c0 = if (efron) new Array[Double](m) else null
    val c1 = if (efron) Array.ofDim[Double](k, m) else null
    val c2 = if (efron) Array.ofDim[Double](nP, m) else null
    var i = 0
    while (i < dc.length) {
      val ix = tbIdx(i)
      if (ix >= 0) {
        val c = dc(i)
        val cnt = cnts(i).toDouble
        var eta = 0.0
        var j = 0
        while (j < k) { eta += beta(j) * c(2 + j); j += 1 }
        val w = cnt * math.exp(eta)
        val e = c(1)
        d(ix) += e * cnt
        j = 0
        while (j < k) { sx(j)(ix) += e * c(2 + j) * cnt; j += 1 }
        a0(ix) += w
        j = 0
        while (j < k) { a1(j)(ix) += c(2 + j) * w; j += 1 }
        var p = 0
        while (p < nP) {
          val (pj, pl) = pairs(p)
          a2(p)(ix) += c(2 + pj) * c(2 + pl) * w
          p += 1
        }
        if (efron) {
          c0(ix) += e * w
          j = 0
          while (j < k) { c1(j)(ix) += e * c(2 + j) * w; j += 1 }
          p = 0
          while (p < nP) {
            val (pj, pl) = pairs(p)
            c2(p)(ix) += e * c(2 + pj) * c(2 + pl) * w
            p += 1
          }
        }
      }
      i += 1
    }
    Array.tabulate(m) { r =>
      val ix = m - 1 - r // time DESC, as the distributed orderBy
      val breslowPart = Seq(evTimes(ix), d(ix)) ++
        (0 until k).map(sx(_)(ix)) ++ Seq(a0(ix)) ++
        (0 until k).map(a1(_)(ix)) ++ (0 until nP).map(a2(_)(ix))
      Row.fromSeq(if (!efron) breslowPart
      else breslowPart ++ Seq(c0(ix)) ++ (0 until k).map(c1(_)(ix)) ++
        (0 until nP).map(c2(_)(ix)))
    }
  }

  /** [[localCoxCells]] with a stratum key: per-stratum event-time grids,
    * buckets within each stratum's own grid, rows ordered (stratum ASC,
    * time DESC) with the stratum string leading — the layout
    * [[coxScan]]'s stratified reset expects. `stratIdx(i)` / `tbIdx(i)`
    * give cell i's stratum and in-grid bucket (−1 = dropped). */
  private def localCoxCellsStrat(dc: Array[Array[Double]],
                                 cnts: Array[Long], stratIdx: Array[Int],
                                 tbIdx: Array[Int], strata: Array[String],
                                 grids: Array[Array[Double]],
                                 offsets: Array[Int], k: Int,
                                 pairs: IndexedSeq[(Int, Int)],
                                 beta: Array[Double],
                                 efron: Boolean): Array[Row] = {
    val m = offsets(strata.length) // total (stratum, time) slots
    val nP = pairs.length
    val d = new Array[Double](m)
    val sx = Array.ofDim[Double](k, m)
    val a0 = new Array[Double](m)
    val a1 = Array.ofDim[Double](k, m)
    val a2 = Array.ofDim[Double](nP, m)
    val c0 = if (efron) new Array[Double](m) else null
    val c1 = if (efron) Array.ofDim[Double](k, m) else null
    val c2 = if (efron) Array.ofDim[Double](nP, m) else null
    var i = 0
    while (i < dc.length) {
      val bx = tbIdx(i)
      if (bx >= 0) {
        val ix = offsets(stratIdx(i)) + bx
        val c = dc(i)
        val cnt = cnts(i).toDouble
        var eta = 0.0
        var j = 0
        while (j < k) { eta += beta(j) * c(2 + j); j += 1 }
        val w = cnt * math.exp(eta)
        val e = c(1)
        d(ix) += e * cnt
        j = 0
        while (j < k) { sx(j)(ix) += e * c(2 + j) * cnt; j += 1 }
        a0(ix) += w
        j = 0
        while (j < k) { a1(j)(ix) += c(2 + j) * w; j += 1 }
        var p = 0
        while (p < nP) {
          val (pj, pl) = pairs(p)
          a2(p)(ix) += c(2 + pj) * c(2 + pl) * w
          p += 1
        }
        if (efron) {
          c0(ix) += e * w
          j = 0
          while (j < k) { c1(j)(ix) += e * c(2 + j) * w; j += 1 }
          p = 0
          while (p < nP) {
            val (pj, pl) = pairs(p)
            c2(p)(ix) += e * c(2 + pj) * c(2 + pl) * w
            p += 1
          }
        }
      }
      i += 1
    }
    val out = new scala.collection.mutable.ArrayBuffer[Row](m)
    var si = 0
    while (si < strata.length) {
      val grid = grids(si)
      var r = grid.length - 1
      while (r >= 0) { // time DESC within the stratum
        val ix = offsets(si) + r
        val breslowPart = Seq(strata(si), grid(r), d(ix)) ++
          (0 until k).map(sx(_)(ix)) ++ Seq(a0(ix)) ++
          (0 until k).map(a1(_)(ix)) ++ (0 until nP).map(a2(_)(ix))
        out += Row.fromSeq(if (!efron) breslowPart
        else breslowPart ++ Seq(c0(ix)) ++ (0 until k).map(c1(_)(ix)) ++
          (0 until nP).map(c2(_)(ix)))
        r -= 1
      }
      si += 1
    }
    out.toArray
  }

  /** The shared Newton driver over a cell source: score test at β = 0,
    * then undamped Newton to tol. `cellsFn` is either ONE distributed
    * aggregate per call (row path) or pure driver arithmetic over
    * collapsed design cells ([[localCoxCells]]) — identical math either
    * way, which [[coxScan]] consumes unchanged. */
  private def coxFitLoop(cellsFn: Array[Double] => Array[Row], k: Int,
                         pairs: IndexedSeq[(Int, Int)], efron: Boolean,
                         stratified: Boolean, maxIter: Int, tol: Double,
                         nAll: Long, verb: String): CoxResult = {
    val dIdx = if (stratified) 2 else 1
    val cs0 = cellsFn(new Array[Double](k))
    val nEvents = cs0.map(_.getDouble(dIdx)).sum.round
    require(nEvents > 0, s"$verb: no events")
    val (_, g0, i0) = coxScan(cs0, new Array[Double](k), k, pairs, efron,
      stratified)
    val i0inv = graft.stats.LinAlg.invert(i0)
    val scoreChi2 = graft.stats.LinAlg.quadForm(g0, i0inv, g0)
    val scoreP = 1.0 - graft.stats.Dist.chiSqCdf(scoreChi2, k.toDouble)
    var beta = new Array[Double](k)
    var it = 0
    var ll = 0.0
    var info = i0
    var done = false
    while (!done && it < maxIter) {
      val cs = if (it == 0) cs0 else cellsFn(beta)
      val (l, g, i) = coxScan(cs, beta, k, pairs, efron, stratified)
      ll = l; info = i
      val step = graft.stats.LinAlg.matVec(graft.stats.LinAlg.invert(i), g)
      beta = beta.zip(step).map { case (b, s) => b + s }
      it += 1
      done = step.map(math.abs).max < tol
    }
    val cov = graft.stats.LinAlg.invert(info)
    val se = Array.tabulate(k)(j => math.sqrt(cov(j)(j)))
    val z = Array.tabulate(k)(j => beta(j) / se(j))
    val p = z.map(zz => 2.0 * (1.0 - graft.stats.Dist.normCdf(math.abs(zz))))
    CoxResult(beta, se, z, p, nAll, nEvents, cs0.length, it, ll, scoreChi2,
      scoreP)
  }

  /** Cox proportional hazards — the covariate-adjusted hazard model one
    * step past [[kaplanMeierBy]] / [[logRankTest]] (the reference's
    * survival tier stops at the single KM curve). Newton–Raphson on the
    * partial likelihood.
    *
    * `ties`: "breslow" (default — the artifact-stable estimator every
    * committed oracle row pins) or "efron" (Efron 1977 — R
    * `survival::coxph` and lifelines' default). With d tied events at t,
    * Breslow uses the full risk-set sums S for all d factors; Efron
    * removes the tied events' own weight in fractions l/d, replacing S
    * with S − (l/d)·C for l = 0..d−1, where C = Σ_{events@t} (1, x,
    * xxᵀ)·e^η. On day-granular (heavily tied) event times Breslow biases
    * β toward 0 — users cross-checking against R should pass "efron".
    * The two are IDENTICAL when no event time has d > 1 (spec-pinned).
    * The Efron cell state is the Breslow state plus the three C-moment
    * groups — same ONE distributed pass per Newton iteration; the driver
    * scan's extra l/d loop is O(total events) worst case, pure
    * arithmetic.
    *
    * 100 TB shape: per Newton iteration, ONE row-scale aggregate collapses
    * subjects to per-EVENT-time cells carrying the event count d_t, the
    * event-covariate sums Σ_{events@t} x, and the risk-set ingredients
    * A0 = Σ e^η, A1 = Σ x·e^η, A2 = Σ xxᵀ·e^η at that time (η = xᵀβ is a
    * codegen projection; state is 2 + 2k + k(k+1)/2 doubles per cell,
    * map-side combined). Because the risk set at t is every subject with
    * time ≥ t, the needed S0/S1/S2 are SUFFIX sums over the time cells —
    * accumulated on the driver over ≤ `maxTimes` cells (the KM/log-rank
    * pair probes this cell shape at 10k times / 100M rows). The gradient
    * and Hessian also close over the cells, so each iteration is exactly
    * one distributed pass.
    *
    * The partial likelihood only LOOKS at event times, so censored
    * subjects are pre-bucketed to the greatest event time ≤ their own
    * (one broadcast binary search, computed once over the persisted
    * base): a subject censored between events e_i ≤ c < e_{i+1} sits in
    * every risk suffix at times ≤ e_i and none above — identical sums,
    * exactly `|distinct event times|` cells. Continuous censoring
    * timestamps (distinct times ≫ event days, the common production
    * shape) therefore cost NOTHING against `maxTimes`, which bounds what
    * it says: distinct EVENT times. Subjects censored before the first
    * event are in no risk set and drop from the cells (they still count
    * in n).
    *
    * The score test at β = 0 (computed in the first pass) IS the k-way
    * log-rank test — for one binary covariate with no tied event times it
    * equals [[logRankTest]]'s chi-square identically, which the unit spec
    * pins. Rows with null time/event/any-x drop listwise. */
  def coxPh(df: DataFrame, time: Column, event: Column, xs: Seq[Column],
            maxIter: Int = 20, tol: Double = 1e-9,
            maxTimes: Int = 200000, ties: String = "breslow",
            maxCells: Int = 32768): CoxResult = {
    require(xs.nonEmpty, "cox_ph: need at least one covariate")
    val efron = requireTies("cox_ph", ties)
    val k = xs.length
    val complete = (Seq(time, event) ++ xs)
      .map(_.isNotNull).reduce(_ && _)
    val base0 = df.filter(complete).select(
      time.cast("double").as("__t") +: event.cast("int").as("__e") +:
        xs.zipWithIndex.map { case (x, j) => x.cast("double").as(s"__x$j") }: _*)
    base0.persist()
    try {
      val pairs = for { j <- 0 until k; l <- j until k } yield (j, l)
      // design collapse (graft.stats.LocalCollapse). The Cox-family bound
      // (32768) is above the GLM fits' 4096 because the TIME rides the key.
      graft.stats.DesignCells.collect(base0, maxCells) match {
        case Some((dc, cnts)) =>
          val nAll = cnts.sum
          val evTimes = dc.iterator.filter(c => c(1) == 1.0).map(_(0))
            .toArray.distinct.sorted
          require(evTimes.length <= maxTimes,
            s"cox_ph: more than $maxTimes distinct event times — coarsen the " +
              "time column or raise maxTimes if the driver can hold the cells")
          require(evTimes.nonEmpty, "cox_ph: no events")
          val tbIdx = dc.map(c => floorIdx(evTimes, c(0)))
          coxFitLoop(b => localCoxCells(dc, cnts, tbIdx, evTimes, k, pairs,
            b, efron), k, pairs, efron, stratified = false, maxIter, tol,
            nAll, "cox_ph")
        case None =>
          // n counts ALL complete rows — including subjects censored
          // before the first event, who are in no cell
          val nAll = base0.count()
          // distinct EVENT times only
          val evTimes = LocalCollapse.within(base0.filter(col("__e") === 1)
              .select(col("__t")).distinct().orderBy(col("__t")), maxTimes)(
            s"cox_ph: more than $maxTimes distinct event times — coarsen the " +
              "time column or raise maxTimes if the driver can hold the cells")
            .map(_.getDouble(0))
          require(evTimes.nonEmpty, "cox_ph: no events")
          // bucketed view over the persisted base: greatest event time <= t
          // via the codegen binary-search expression (the referenced array
          // ships once per generated class — no ScalaUDF boxing, and the
          // whole-stage codegen span over the per-iteration aggregate stays
          // unbroken; an earlier UDF here cost ~0.9x extra per Newton pass)
          val base = base0.withColumn("__tb",
              graft.expr.SearchExprs.sortedFloorLookup(col("__t"), evTimes))
            .filter(col("__tb").isNotNull)
          def cells(beta: Array[Double]): Array[Row] = {
            val aggs = coxCellAggs(k, pairs, beta, efron)
            base.groupBy(col("__tb").as("__t"))
              .agg(aggs.head, aggs.tail: _*)
              .orderBy(col("__t").desc) // suffix accumulation = desc prefix
              .collect()
          }
          coxFitLoop(cells, k, pairs, efron, stratified = false, maxIter,
            tol, nAll, "cox_ph")
      }
    } finally {
      base0.unpersist()
      ()
    }
  }

  case class CoxRobustResult(coefficients: Array[Double],
                             seModel: Array[Double], seRobust: Array[Double],
                             zRobust: Array[Double], pRobust: Array[Double],
                             n: Long, nEvents: Long, nClusters: Long,
                             iterations: Int)

  /** Cluster-robust (Lin & Wei 1989 sandwich) standard errors for
    * [[coxPh]] — the survival sibling of the q136 cluster-robust OLS:
    * when randomization (or the dependence structure) is at a CLUSTER
    * (site, household, user-with-repeat-spells), model-based Cox SEs
    * understate the variance. At the converged β̂,
    *
    *   V = I⁻¹ · [Σ_c (Σ_{i∈c} U_i)(Σ_{i∈c} U_i)ᵀ] · I⁻¹,
    *   U_i = δ_i·(x_i − x̄(T_i)) − e^{η_i}·(x_i·H₀(T_i) − H₁(T_i)),
    *
    * where x̄(t) = S1/S0 at t, H₀(t) = Σ_{s≤t} d/S0, H₁(t) =
    * Σ_{s≤t} d·S1/S0² (U_i is the score residual; Σ_i U_i equals the
    * gradient at β̂ ≈ 0, spec-pinned). Breslow ties (the residual
    * decomposition above is the Breslow one).
    *
    * 100 TB shape: the [[coxPh]] fit, then ONE more cell aggregate at β̂
    * (driver scan turns the ≤ maxTimes cells into the three per-event-
    * time arrays), then ONE row-scale aggregate: each row's U_i comes
    * from codegen [[graft.expr.SortedStepLookup]]s against the broadcast
    * arrays (no join, no shuffle on the subject side), cluster sums ride
    * a groupBy(cluster), and the k(k+1)/2 outer-product moments collapse
    * in the closing aggregate. Nothing driver-side scales with clusters.
    * Subjects censored before the first event have U = 0 (in no risk
    * set) and contribute only to n. */
  def coxPhRobust(df: DataFrame, time: Column, event: Column,
                  cluster: Column, xs: Seq[Column],
                  maxIter: Int = 20, tol: Double = 1e-9,
                  maxTimes: Int = 200000): CoxRobustResult = {
    require(xs.nonEmpty, "cox_ph_cluster: need at least one covariate")
    val k = xs.length
    // the fit drops rows with a null cluster too: the sandwich and the
    // point estimates must see the same subjects
    val fit = coxPh(df.filter(cluster.isNotNull), time, event, xs,
      maxIter, tol, maxTimes)
    val beta = fit.coefficients
    val complete = (Seq(time, event, cluster) ++ xs)
      .map(_.isNotNull).reduce(_ && _)
    val base0 = df.filter(complete).select(
      cluster.cast("string").as("__c") +: time.cast("double").as("__t") +:
        event.cast("int").as("__e") +:
        xs.zipWithIndex.map { case (x, j) => x.cast("double").as(s"__x$j") }: _*)
    val evTimes = LocalCollapse.within(base0.filter(col("__e") === 1)
        .select(col("__t")).distinct().orderBy(col("__t")), maxTimes)(
      s"cox_ph_cluster: more than $maxTimes distinct event times — " +
        "coarsen the time column or raise maxTimes knowingly")
      .map(_.getDouble(0))
    require(evTimes.nonEmpty, "cox_ph_cluster: no events")
    val m = evTimes.length
    val base = base0.withColumn("__tb",
      graft.expr.SearchExprs.sortedFloorLookup(col("__t"), evTimes))
    val pairs = for { j <- 0 until k; l <- j until k } yield (j, l)
    // ONE cell aggregate at beta-hat -> per-event-time xbar/H0/H1 arrays
    // and the information matrix (desc suffix scan, then asc prefix)
    val aggs = coxCellAggs(k, pairs, beta, efron = false)
    val cs = base.filter(col("__tb").isNotNull)
      .groupBy(col("__tb").as("__t"))
      .agg(aggs.head, aggs.tail: _*)
      .orderBy(col("__t").desc)
      .collect()
    val (_, _, info) = coxScan(cs, beta, k, pairs, efron = false,
      stratified = false)
    // suffix sums per cell, keyed by time ASC for the prefix pass
    val timeIx = evTimes.zipWithIndex.toMap
    val s0At = new Array[Double](m)
    val dAt = new Array[Double](m)
    val s1At = Array.ofDim[Double](k, m)
    var s0 = 0.0
    val s1 = new Array[Double](k)
    cs.foreach { r =>
      val ix = timeIx(r.getDouble(0))
      dAt(ix) = r.getDouble(1)
      s0 += r.getDouble(2 + k)
      (0 until k).foreach(j => s1(j) += r.getDouble(3 + k + j))
      s0At(ix) = s0
      (0 until k).foreach(j => s1At(j)(ix) = s1(j))
    }
    val xbar = Array.tabulate(k, m)((j, ix) => s1At(j)(ix) / s0At(ix))
    val h0 = new Array[Double](m)
    val h1 = Array.ofDim[Double](k, m)
    var acc0 = 0.0
    val acc1 = new Array[Double](k)
    var ix = 0
    while (ix < m) {
      if (dAt(ix) > 0) {
        acc0 += dAt(ix) / s0At(ix)
        (0 until k).foreach(j =>
          acc1(j) += dAt(ix) * s1At(j)(ix) / (s0At(ix) * s0At(ix)))
      }
      h0(ix) = acc0
      (0 until k).foreach(j => h1(j)(ix) = acc1(j))
      ix += 1
    }
    // per-row score residual via codegen step lookups (exact hits: __tb
    // IS an event time); rows bucketed below the first event have U = 0
    def look(arr: Array[Double]): Column =
      graft.expr.SearchExprs.sortedStepLookup(col("__tb"), evTimes, arr)
    val eta = (0 until k).map(j => col(s"__x$j") * lit(beta(j)))
      .reduce(_ + _)
    val uCols = (0 until k).map { j =>
      when(col("__tb").isNull, lit(0.0)).otherwise(
        col("__e") * (col(s"__x$j") - look(xbar(j))) -
          exp(eta) * (col(s"__x$j") * look(h0) - look(h1(j))))
        .as(s"__u$j")
    }
    val perCluster = base.select(col("__c") +: uCols: _*)
      .groupBy(col("__c"))
      .agg(sum(col("__u0")).as("__s0"),
        (1 until k).map(j => sum(col(s"__u$j")).as(s"__s$j")): _*)
    val bAggs = count(lit(1)).as("n_clusters") +:
      pairs.map { case (j, l) =>
        sum(col(s"__s$j") * col(s"__s$l")).as(s"b_${j}_$l") }
    val bRow = perCluster.agg(bAggs.head, bAggs.tail: _*).head()
    val nClusters = bRow.getLong(0)
    require(nClusters >= 2,
      "cox_ph_cluster: need at least 2 clusters for a sandwich variance")
    val bM = graft.stats.LinAlg.zeros(k, k)
    pairs.zipWithIndex.foreach { case ((j, l), pix) =>
      bM(j)(l) = bRow.getDouble(1 + pix)
      if (j != l) bM(l)(j) = bM(j)(l)
    }
    val iInv = graft.stats.LinAlg.invert(info)
    val v = graft.stats.LinAlg.matMul(graft.stats.LinAlg.matMul(iInv, bM),
      iInv)
    val seR = Array.tabulate(k)(j => math.sqrt(v(j)(j)))
    val zR = Array.tabulate(k)(j => beta(j) / seR(j))
    val pR = zR.map(z => 2.0 * (1.0 - graft.stats.Dist.normCdf(math.abs(z))))
    CoxRobustResult(beta, fit.stderr, seR, zR, pR, fit.n, fit.nEvents,
      nClusters, fit.iterations)
  }

  case class FineGrayResult(coefficients: Array[Double],
                            stderr: Array[Double], z_values: Array[Double],
                            p_values: Array[Double], n: Long, nEvents: Long,
                            nCompeting: Long, nCensored: Long, nTimes: Int,
                            iterations: Int, logLik: Double)

  /** Fine–Gray competing-risks regression (Fine & Gray 1999) — the
    * covariate-adjusted sibling of [[cumulativeIncidence]] (which, like
    * coxPh next to kaplanMeier, only DESCRIBES): models the
    * SUBDISTRIBUTION hazard of cause 1, so exp(β) answers "does x raise
    * the share who will have churned for reason 1 by day t" — the
    * question a cause-specific [[coxPh]] (censoring competing events)
    * answers WRONGLY whenever competing events remove subjects.
    *
    * `cause`: 0 = right-censored, 1 = the event modeled, ≥ 2 = competing.
    * Subjects with a competing event at s REMAIN in every later risk set,
    * IPCW-weighted by Ĝ(t−)/Ĝ(s−) where Ĝ is the censoring KM (left
    * limits both sides — the Fine–Gray weight w_i(t) = Ĝ(t−)/Ĝ(T_i∧t −);
    * with no censoring every weight is 1 and the fit REDUCES EXACTLY to
    * [[coxPh]] on the recode "competing ⇒ censored past the last event
    * time", spec-pinned). Breslow tie handling. SEs are model-based
    * (inverse pseudo-information): exact under no censoring; with
    * censoring they ignore the Ĝ-estimation step that Fine & Gray's
    * robust variance accounts for — read them as approximate.
    *
    * 100 TB shape: the censoring KM rides ONE distributed distinct-time
    * cell pass ([[RangeCumSum]] prefix — continuous CENSORING times stay
    * distributed and are never collected; Ĝ is only EVALUATED at the ≤
    * maxTimes cause-1 event times and at competing rows' own times, the
    * latter via one row-scale join paid once). Each subject pre-buckets
    * ONCE into its two roles — at-risk rows floor to the greatest event
    * time ≤ T (suffix side), competing rows strict-ceil to the smallest
    * event time > T carrying their 1/Ĝ(T−) factor (prefix side) — both
    * via codegen sorted lookups, persisted before the loop. Per Newton
    * iteration ONE distributed aggregate to ≤ 2·maxTimes (role, time)
    * cells; the driver scan accumulates the at-risk suffix and the
    * competing prefix and combines W(t) = S^A(t) + Ĝ(t−)·P^B(t). */
  /** Shared Fine-Gray preparation: complete-case base, cause counts
    * (with the domain guard), the cause-1 event-time grid, the censoring
    * KM left limits at those times, and the two-role view (at-risk
    * suffix role A, IPCW competing prefix role B). [[fineGray]],
    * [[fineGrayCif]] and [[grayTest]] ride it through the three cell
    * accessors, each of which is ONE distributed aggregate on the row
    * path ([[FgDist]]) or pure driver arithmetic over collapsed design
    * cells ([[FgLocal]] — the coxPh idiom; with the design collapsed,
    * the censoring KM, the role bucketing, and every Newton pass cost
    * ZERO distributed passes). close() releases the row path's two
    * persists. */
  private sealed trait FgPrep {
    def evTimes: Array[Double]
    def gTminus: Array[Double]
    def n: Long; def nEvents: Long; def nCompeting: Long; def nCensored: Long
    /** Per-(role, bucketed time) cells with the full moments at `beta`:
      * (role, tb, d, sx*k, w0, w1*k, w2*P). */
    def momentCells(beta: Array[Double], k: Int,
                    pairs: IndexedSeq[(Int, Int)]): Array[Row]
    /** Per-(role, tb) cells with only the 0th moments: (role, tb, d, w0). */
    def w0Cells(beta: Array[Double], k: Int): Array[Row]
    /** [[grayTest]]'s K-group pass at β = 0, keyed by the single
      * group-index covariate: (role, tb, x0, d, w0). */
    def groupedW0Cells(): Array[Row]
    /** Per-group-index (n, n_cause1, n_competing) — gray_test counts. */
    def groupCounts(): Map[Int, (Long, Long, Long)]
    def close(): Unit
  }

  private final case class FgDist(base0: DataFrame, roles: DataFrame,
                                  evTimes: Array[Double],
                                  gTminus: Array[Double], n: Long,
                                  nEvents: Long, nCompeting: Long,
                                  nCensored: Long) extends FgPrep {
    private def etaCol(beta: Array[Double], k: Int): Column =
      if (beta.forall(_ == 0.0)) lit(0.0)
      else (0 until k).map(j => col(s"__x$j") * lit(beta(j))).reduce(_ + _)

    def momentCells(beta: Array[Double], k: Int,
                    pairs: IndexedSeq[(Int, Int)]): Array[Row] = {
      val w = col("__wfac") * exp(etaCol(beta, k))
      val aggs =
        sum(col("__e")).cast("double").as("d") +:
          ((0 until k).map(j =>
            sum(col("__e") * col(s"__x$j")).as(s"sx$j")) ++
            Seq(sum(w).as("w0")) ++
            (0 until k).map(j => sum(col(s"__x$j") * w).as(s"w1_$j")) ++
            pairs.map { case (j, l) =>
              sum(col(s"__x$j") * col(s"__x$l") * w).as(s"w2_${j}_$l") })
      roles.groupBy(col("__role"), col("__tb"))
        .agg(aggs.head, aggs.tail: _*)
        .collect()
    }

    def w0Cells(beta: Array[Double], k: Int): Array[Row] =
      roles.groupBy(col("__role"), col("__tb"))
        .agg(sum(col("__e")).cast("double").as("d"),
          sum(col("__wfac") * exp(etaCol(beta, k))).as("w0"))
        .collect()

    def groupedW0Cells(): Array[Row] =
      roles.groupBy(col("__role"), col("__tb"), col("__x0"))
        .agg(sum(col("__e")).cast("double").as("d"),
          sum(col("__wfac")).as("w0"))
        .collect()

    def groupCounts(): Map[Int, (Long, Long, Long)] =
      base0.groupBy(col("__x0")).agg(
          count(lit(1)).as("n"),
          sum(when(col("__c") === 1, 1L).otherwise(0L)).as("ne"),
          sum(when(col("__c") >= 2, 1L).otherwise(0L)).as("nc"))
        .collect().map(r => r.getDouble(0).toInt ->
          ((r.getAs[Long]("n"), r.getAs[Long]("ne"), r.getAs[Long]("nc"))))
        .toMap

    def close(): Unit = {
      base0.unpersist()
      roles.unpersist()
      ()
    }
  }

  /** A collapsed role cell: one distinct (role, bucket, e, wfac, x…) row
    * with its multiplicity. */
  private final case class FgRoleCell(isA: Boolean, tbIx: Int, e: Int,
                                      wfac: Double, xs: Array[Double],
                                      cnt: Long)

  private final case class FgLocal(cells: Array[FgRoleCell],
                                   baseDc: Array[Array[Double]],
                                   baseCnts: Array[Long],
                                   evTimes: Array[Double],
                                   gTminus: Array[Double], n: Long,
                                   nEvents: Long, nCompeting: Long,
                                   nCensored: Long) extends FgPrep {
    def momentCells(beta: Array[Double], k: Int,
                    pairs: IndexedSeq[(Int, Int)]): Array[Row] = {
      val m = evTimes.length
      val nP = pairs.length
      val d = Array.ofDim[Double](2, m)
      val sx = Array.ofDim[Double](2, k, m)
      val w0 = Array.ofDim[Double](2, m)
      val w1 = Array.ofDim[Double](2, k, m)
      val w2 = Array.ofDim[Double](2, nP, m)
      var i = 0
      while (i < cells.length) {
        val c = cells(i)
        val r = if (c.isA) 0 else 1
        val ix = c.tbIx
        var eta = 0.0
        var j = 0
        while (j < k) { eta += beta(j) * c.xs(j); j += 1 }
        val w = c.wfac * math.exp(eta) * c.cnt
        d(r)(ix) += c.e.toDouble * c.cnt
        j = 0
        while (j < k) { sx(r)(j)(ix) += c.e * c.xs(j) * c.cnt; j += 1 }
        w0(r)(ix) += w
        j = 0
        while (j < k) { w1(r)(j)(ix) += c.xs(j) * w; j += 1 }
        var p = 0
        while (p < nP) {
          val (pj, pl) = pairs(p)
          w2(r)(p)(ix) += c.xs(pj) * c.xs(pl) * w
          p += 1
        }
        i += 1
      }
      // all 2m (role, time) rows; zero rows are no-ops for every consumer
      // (they zero-fill per-time tables keyed by timeIx)
      val out = new Array[Row](2 * m)
      var o = 0
      var r = 0
      while (r < 2) {
        var ix = 0
        while (ix < m) {
          out(o) = Row.fromSeq(
            Seq(if (r == 0) "A" else "B", evTimes(ix), d(r)(ix)) ++
              (0 until k).map(sx(r)(_)(ix)) ++ Seq(w0(r)(ix)) ++
              (0 until k).map(w1(r)(_)(ix)) ++ (0 until nP).map(w2(r)(_)(ix)))
          o += 1
          ix += 1
        }
        r += 1
      }
      out
    }

    def w0Cells(beta: Array[Double], k: Int): Array[Row] = {
      val m = evTimes.length
      val d = Array.ofDim[Double](2, m)
      val w0 = Array.ofDim[Double](2, m)
      var i = 0
      while (i < cells.length) {
        val c = cells(i)
        val r = if (c.isA) 0 else 1
        var eta = 0.0
        var j = 0
        while (j < k) { eta += beta(j) * c.xs(j); j += 1 }
        d(r)(c.tbIx) += c.e.toDouble * c.cnt
        w0(r)(c.tbIx) += c.wfac * math.exp(eta) * c.cnt
        i += 1
      }
      val out = new Array[Row](2 * m)
      var o = 0
      var r = 0
      while (r < 2) {
        var ix = 0
        while (ix < m) {
          out(o) = Row(if (r == 0) "A" else "B", evTimes(ix), d(r)(ix),
            w0(r)(ix))
          o += 1
          ix += 1
        }
        r += 1
      }
      out
    }

    def groupedW0Cells(): Array[Row] = {
      val acc = scala.collection.mutable.LinkedHashMap
        .empty[(Int, Int, Int), (Double, Double)]
      var i = 0
      while (i < cells.length) {
        val c = cells(i)
        val key = (if (c.isA) 0 else 1, c.tbIx, c.xs(0).toInt)
        val (d0, w0) = acc.getOrElse(key, (0.0, 0.0))
        acc(key) = (d0 + c.e.toDouble * c.cnt, w0 + c.wfac * c.cnt)
        i += 1
      }
      acc.iterator.map { case ((r, ix, gi), (d0, w0)) =>
        Row(if (r == 0) "A" else "B", evTimes(ix), gi.toDouble, d0, w0)
      }.toArray
    }

    def groupCounts(): Map[Int, (Long, Long, Long)] = {
      val acc = scala.collection.mutable.HashMap
        .empty[Int, (Long, Long, Long)]
      var i = 0
      while (i < baseDc.length) {
        val c = baseDc(i)
        val gi = c(2).toInt
        val cnt = baseCnts(i)
        val (nn, ne, nc) = acc.getOrElse(gi, (0L, 0L, 0L))
        acc(gi) = (nn + cnt,
          ne + (if (c(1) == 1.0) cnt else 0L),
          nc + (if (c(1) >= 2.0) cnt else 0L))
        i += 1
      }
      acc.toMap
    }

    def close(): Unit = ()
  }

  private def fineGrayPrep(df: DataFrame, time: Column, cause: Column,
                           xs: Seq[Column], maxTimes: Int,
                           verb: String, maxCells: Int = 32768): FgPrep = {
    val k = xs.length
    val spark = df.sparkSession
    val complete = (Seq(time, cause) ++ xs).map(_.isNotNull).reduce(_ && _)
    val base0 = df.filter(complete).select(
      time.cast("double").as("__t") +: cause.cast("int").as("__c") +:
        xs.zipWithIndex.map { case (x, j) => x.cast("double").as(s"__x$j") }: _*)
    base0.persist()
    // design collapse (graft.stats.LocalCollapse)
    graft.stats.DesignCells.collect(base0, maxCells) match {
      case Some((dc, cnts)) =>
        base0.unpersist()
        var n = 0L; var n1 = 0L; var ncp = 0L; var n0 = 0L; var bad = 0L
        var i = 0
        while (i < dc.length) {
          val c = dc(i)(1); val w = cnts(i)
          n += w
          if (c == 1.0) n1 += w
          else if (c >= 2.0) ncp += w
          else if (c == 0.0) n0 += w
          if (c < 0.0) bad += w
          i += 1
        }
        require(bad == 0,
          s"$verb: $bad rows have a negative " +
            "cause (0 = censored, 1 = modeled event, >= 2 = competing)")
        require(n1 > 0, s"$verb: no cause-1 events")
        val evTimes = dc.iterator.filter(c => c(1) == 1.0).map(_(0))
          .toArray.distinct.sorted
        require(evTimes.length <= maxTimes,
          s"$verb: more than $maxTimes distinct cause-1 event times — " +
            "coarsen the time column or raise maxTimes knowingly")
        // censoring KM left limit Ĝ(u−) at every distinct row time —
        // the same exclusive ln(1 − dc/atRisk) prefix the RangeCumSum
        // pair computes on the row path, over the cells
        val rowTimes = dc.map(_(0)).distinct.sorted
        val rIdx = rowTimes.zipWithIndex.toMap
        val nTot = new Array[Double](rowTimes.length)
        val dcn = new Array[Double](rowTimes.length)
        i = 0
        while (i < dc.length) {
          val ix = rIdx(dc(i)(0))
          nTot(ix) += cnts(i).toDouble
          if (dc(i)(1) == 0.0) dcn(ix) += cnts(i).toDouble
          i += 1
        }
        val gAt = new Array[Double](rowTimes.length)
        var lnPrefix = 0.0
        var cumBefore = 0.0
        i = 0
        while (i < rowTimes.length) {
          gAt(i) = math.exp(lnPrefix) // exclusive: strictly earlier terms
          val atRisk = n.toDouble - cumBefore
          lnPrefix +=
            (if (dcn(i) == 0.0) 0.0
             else if (dcn(i) >= atRisk) Double.NegativeInfinity
             else math.log(1.0 - dcn(i) / atRisk))
          cumBefore += nTot(i)
          i += 1
        }
        val gTminus = evTimes.map(t => gAt(rIdx(t)))
        // two-role cells: A = at-risk floor bucket, B = IPCW competing
        // strict-ceil bucket carrying 1/Ĝ(T−) — the exact twin of the
        // row path's sortedFloorLookup / shifted sortedStepLookup pair
        val rc = scala.collection.mutable.ArrayBuffer.empty[FgRoleCell]
        i = 0
        while (i < dc.length) {
          val c = dc(i)
          val xsv = java.util.Arrays.copyOfRange(c, 2, 2 + k)
          val aIx = floorIdx(evTimes, c(0))
          if (aIx >= 0)
            rc += FgRoleCell(isA = true, aIx,
              if (c(1) == 1.0) 1 else 0, 1.0, xsv, cnts(i))
          if (c(1) >= 2.0) {
            val bIx = aIx + 1 // smallest event time strictly > T
            if (bIx < evTimes.length)
              rc += FgRoleCell(isA = false, bIx, 0,
                1.0 / gAt(rIdx(c(0))), xsv, cnts(i))
          }
          i += 1
        }
        return FgLocal(rc.toArray, dc, cnts, evTimes, gTminus, n, n1,
          ncp, n0)
      case None => ()
    }
    val counts = base0.agg(
      count(lit(1)).as("n"),
      sum(when(col("__c") === 1, 1L).otherwise(0L)).as("n1"),
      sum(when(col("__c") >= 2, 1L).otherwise(0L)).as("nc"),
      sum(when(col("__c") === 0, 1L).otherwise(0L)).as("n0"),
      sum(when(col("__c") < 0, 1L).otherwise(0L)).as("bad")).head()
    require(counts.getAs[Long]("bad") == 0,
      s"$verb: ${counts.getAs[Long]("bad")} rows have a negative " +
        "cause (0 = censored, 1 = modeled event, >= 2 = competing)")
    require(counts.getAs[Long]("n1") > 0, s"$verb: no cause-1 events")
    val evTimes = LocalCollapse.within(base0.filter(col("__c") === 1)
        .select(col("__t")).distinct().orderBy(col("__t")), maxTimes)(
      s"$verb: more than $maxTimes distinct cause-1 event times — " +
        "coarsen the time column or raise maxTimes knowingly")
      .map(_.getDouble(0))
    // censoring KM left limit Ĝ(u−) at every DISTINCT ROW TIME u, as a
    // distributed cell frame: n_at_risk by RangeCumSum, the ln(1−dc/n)
    // prefix by a second RangeCumSum, exclusive (strictly earlier
    // censor terms). Censoring-time cardinality never reaches the
    // driver.
    val tc = base0.groupBy(col("__t").as("time"))
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("__c") === 0, 1L).otherwise(0L)).as("dc"))
    val gFrame = RangeCumSum.withCumSums(tc, Seq(col("time")),
        Seq("n_total")) { (cum, totals) =>
      val atRisk = lit(totals("n_total")) -
        (col("cum_n_total") - col("n_total"))
      val withLn = cum.withColumn("__ln",
        when(col("dc") === 0, lit(0.0))
          .otherwise(when(col("dc") >= atRisk, lit(Double.NegativeInfinity))
            .otherwise(log(lit(1.0) - col("dc") / atRisk))))
      RangeCumSum.withCumSums(withLn, Seq(col("time")), Seq("__ln")) {
        (cum2, _) =>
          cum2.select(col("time"),
              exp(col("cum___ln") - col("__ln")).as("g_minus"))
            .transform(d => graft.Ckpt.register(d.localCheckpoint()))
      }
    }
    // Ĝ(t−) aligned with evTimes (event times are row times, so the
    // inner join hits every one; ≤ maxTimes rows collected)
    import spark.implicits._
    val evDf = evTimes.toSeq.toDF("time")
    val gT = gFrame.join(broadcast(evDf), "time")
      .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    val gTminus = evTimes.map(gT)
    // role frames: A = at-risk suffix (every subject, floor bucket),
    // B = competing prefix (strict-ceil bucket via the shifted step
    // lookup: bounds = −∞ +: evTimes, values = evTimes :+ NaN — NaN
    // marks "no event time after T", filtered out), wfac = 1/Ĝ(T−)
    // joined once from the distributed cell frame
    val roleA = base0.withColumn("__tb",
        graft.expr.SearchExprs.sortedFloorLookup(col("__t"), evTimes))
      .filter(col("__tb").isNotNull)
      .withColumn("__role", lit("A"))
      .withColumn("__wfac", lit(1.0))
      .withColumn("__e", when(col("__c") === 1, 1).otherwise(0))
    val ceilBounds = Double.NegativeInfinity +: evTimes
    val ceilValues = evTimes :+ Double.NaN
    val roleB = base0.filter(col("__c") >= 2)
      .withColumn("__tb", graft.expr.SearchExprs.sortedStepLookup(
        col("__t"), ceilBounds, ceilValues))
      .filter(!isnan(col("__tb")))
      .join(gFrame.withColumnRenamed("time", "__t"), Seq("__t"))
      .withColumn("__role", lit("B"))
      .withColumn("__wfac", lit(1.0) / col("g_minus"))
      .withColumn("__e", lit(0))
      .drop("g_minus")
    val cols = Seq("__role", "__tb", "__wfac", "__e") ++
      (0 until k).map(j => s"__x$j")
    val roles = roleA.select(cols.map(col): _*)
      .unionByName(roleB.select(cols.map(col): _*))
      .persist()
    roles.count() // pay the bucketing + Ĝ join once, not per pass
    FgDist(base0, roles, evTimes, gTminus, counts.getAs[Long]("n"),
      counts.getAs[Long]("n1"), counts.getAs[Long]("nc"),
      counts.getAs[Long]("n0"))
  }

  def fineGray(df: DataFrame, time: Column, cause: Column, xs: Seq[Column],
               maxIter: Int = 20, tol: Double = 1e-9,
               maxTimes: Int = 200000,
               maxCells: Int = 32768): FineGrayResult = {
    require(xs.nonEmpty, "fine_gray: need at least one covariate")
    val k = xs.length
    val prep = fineGrayPrep(df, time, cause, xs, maxTimes, "fine_gray",
      maxCells)
    try {
      val evTimes = prep.evTimes
      val gTminus = prep.gTminus
      val m = evTimes.length
      val pairs = for { j <- 0 until k; l <- j until k } yield (j, l)
      val timeIx = evTimes.zipWithIndex.toMap
      def cells(beta: Array[Double]): Array[Row] =
        prep.momentCells(beta, k, pairs)
      val nP = pairs.length
      // driver scan: at-risk suffix (event times desc) + competing
      // prefix (asc), combined per event time with the Ĝ(t−) factor
      def scan(cs: Array[Row], beta: Array[Double])
          : (Double, Array[Double], Array[Array[Double]]) = {
        // per-event-time moment tables, zero-filled
        val dA = new Array[Double](m)
        val sxA = Array.ofDim[Double](k, m)
        val a0 = new Array[Double](m)
        val a1 = Array.ofDim[Double](k, m)
        val a2 = Array.ofDim[Double](nP, m)
        val b0 = new Array[Double](m)
        val b1 = Array.ofDim[Double](k, m)
        val b2 = Array.ofDim[Double](nP, m)
        cs.foreach { r =>
          val ix = timeIx(r.getDouble(1))
          val isA = r.getString(0) == "A"
          if (isA) {
            dA(ix) = r.getDouble(2)
            (0 until k).foreach(j => sxA(j)(ix) = r.getDouble(3 + j))
            a0(ix) = r.getDouble(3 + k)
            (0 until k).foreach(j => a1(j)(ix) = r.getDouble(4 + k + j))
            (0 until nP).foreach(p => a2(p)(ix) = r.getDouble(4 + 2 * k + p))
          } else {
            b0(ix) = r.getDouble(3 + k)
            (0 until k).foreach(j => b1(j)(ix) = r.getDouble(4 + k + j))
            (0 until nP).foreach(p => b2(p)(ix) = r.getDouble(4 + 2 * k + p))
          }
        }
        // suffix the A side in place (desc)
        var ix = m - 2
        while (ix >= 0) {
          a0(ix) += a0(ix + 1)
          (0 until k).foreach(j => a1(j)(ix) += a1(j)(ix + 1))
          (0 until nP).foreach(p => a2(p)(ix) += a2(p)(ix + 1))
          ix -= 1
        }
        // prefix the B side in place (asc; a B cell at t means a
        // competing time strictly below t, so inclusive is correct)
        ix = 1
        while (ix < m) {
          b0(ix) += b0(ix - 1)
          (0 until k).foreach(j => b1(j)(ix) += b1(j)(ix - 1))
          (0 until nP).foreach(p => b2(p)(ix) += b2(p)(ix - 1))
          ix += 1
        }
        var ll = 0.0
        val g = new Array[Double](k)
        val info = graft.stats.LinAlg.zeros(k, k)
        val w1 = new Array[Double](k)
        val w2 = graft.stats.LinAlg.zeros(k, k)
        ix = 0
        while (ix < m) {
          val d = dA(ix)
          if (d > 0) {
            val gm = gTminus(ix)
            val w0 = a0(ix) + gm * b0(ix)
            (0 until k).foreach(j => w1(j) = a1(j)(ix) + gm * b1(j)(ix))
            pairs.zipWithIndex.foreach { case ((j, l), p) =>
              w2(j)(l) = a2(p)(ix) + gm * b2(p)(ix)
              if (j != l) w2(l)(j) = w2(j)(l)
            }
            ll -= d * math.log(w0)
            (0 until k).foreach { j =>
              ll += beta(j) * sxA(j)(ix)
              g(j) += sxA(j)(ix) - d * w1(j) / w0
            }
            (0 until k).foreach { j =>
              (0 until k).foreach { l =>
                info(j)(l) += d * (w2(j)(l) / w0 - (w1(j) / w0) * (w1(l) / w0))
              }
            }
          }
          ix += 1
        }
        (ll, g, info)
      }
      var beta = new Array[Double](k)
      var it = 0
      var ll = 0.0
      var info: Array[Array[Double]] = null
      var done = false
      while (!done && it < maxIter) {
        val cs = cells(beta)
        val (l, g, i) = scan(cs, beta)
        ll = l; info = i
        val step = graft.stats.LinAlg.matVec(graft.stats.LinAlg.invert(i), g)
        beta = beta.zip(step).map { case (b, s) => b + s }
        it += 1
        done = step.map(math.abs).max < tol
      }
      val cov = graft.stats.LinAlg.invert(info)
      val se = Array.tabulate(k)(j => math.sqrt(cov(j)(j)))
      val z = Array.tabulate(k)(j => beta(j) / se(j))
      val p = z.map(zz => 2.0 * (1.0 - graft.stats.Dist.normCdf(math.abs(zz))))
      FineGrayResult(beta, se, z, p, prep.n, prep.nEvents, prep.nCompeting,
        prep.nCensored, m, it, ll)
    } finally {
      prep.close()
    }
  }

  /** Fine-Gray CUMULATIVE-INCIDENCE prediction — the APPLY verb after
    * [[fineGray]] (the cox_survival pattern): the Breslow-type baseline
    * subdistribution hazard Λ₁₀(t) = Σ_{event times s ≤ t} d_s/W₀(s) at
    * a coefficient vector β, and the predicted cumulative incidence
    * CIF₁(t|x*) = 1 − exp(−Λ₁₀(t)·e^{x*ᵀβ}) at a covariate profile x*
    * (the PH structure the subdistribution model imposes). `beta = None`
    * fits [[fineGray]] first; explicit β scores a STORED model — the
    * form whose oracle stays live SQL at every scale factor (the q275
    * idiom: with explicit β literals, the censoring KM, both role sums,
    * and the hazard prefix all replay as window chains over time cells).
    *
    * With no competing events, no censoring, β = 0 and profile = 0 the
    * curve reduces exactly to 1 − exp(−NelsonAalen) (spec-pinned against
    * [[nelsonAalen]]'s fh_survival complement).
    *
    * 100 TB shape: [[fineGrayPrep]]'s one-time distributed passes, then
    * ONE (role, time) cell aggregate at β (the fineGray pass without
    * the Newton loop — only the 0th moments) and an O(m) driver
    * suffix/prefix scan. Returns one row per cause-1 event time
    * ascending: (time, n_events, w0, h0_cum, cif). */
  def fineGrayCif(df: DataFrame, time: Column, cause: Column,
                  xs: Seq[Column], profile: Seq[Double],
                  beta: Option[Array[Double]] = None,
                  maxIter: Int = 20, tol: Double = 1e-9,
                  maxTimes: Int = 200000, maxCells: Int = 32768): DataFrame = {
    require(xs.nonEmpty, "fine_gray_cif: need at least one covariate")
    val k = xs.length
    require(profile.length == k,
      s"fine_gray_cif: $k covariates but ${profile.length} profile values")
    val b = beta.getOrElse(
      fineGray(df, time, cause, xs, maxIter, tol, maxTimes,
        maxCells).coefficients)
    require(b.length == k,
      s"fine_gray_cif: $k covariates but ${b.length} beta values")
    val spark = df.sparkSession
    import spark.implicits._
    val prep = fineGrayPrep(df, time, cause, xs, maxTimes, "fine_gray_cif",
      maxCells)
    try {
      val evTimes = prep.evTimes
      val m = evTimes.length
      val timeIx = evTimes.zipWithIndex.toMap
      val cs = prep.w0Cells(b, k)
      val dA = new Array[Double](m)
      val a0 = new Array[Double](m)
      val b0 = new Array[Double](m)
      cs.foreach { r =>
        val ix = timeIx(r.getDouble(1))
        if (r.getString(0) == "A") { dA(ix) = r.getDouble(2); a0(ix) = r.getDouble(3) }
        else b0(ix) = r.getDouble(3)
      }
      var ix = m - 2
      while (ix >= 0) { a0(ix) += a0(ix + 1); ix -= 1 }
      ix = 1
      while (ix < m) { b0(ix) += b0(ix - 1); ix += 1 }
      val risk = math.exp(profile.zip(b).map { case (p, bj) => p * bj }.sum)
      var h = 0.0
      val rows = (0 until m).map { i =>
        val w0 = a0(i) + prep.gTminus(i) * b0(i)
        h += dA(i) / w0
        (evTimes(i), dA(i).round, w0, h, 1.0 - math.exp(-h * risk))
      }
      rows.toDF("time", "n_events", "w0", "h0_cum", "cif")
    } finally {
      prep.close()
    }
  }

  /** Gray's K-sample test for equality of cause-1 cumulative-incidence
    * functions under competing risks (Gray 1988, ρ = 0) — computed as
    * the SCORE test of the [[fineGray]] subdistribution-hazard model at
    * β = 0 with K−1 group indicators: Gray's statistic is the
    * IPCW-weighted subdistribution log-rank, which is the Fine-Gray
    * partial-likelihood score; the variance here is the model
    * information at 0 (the score-test form, as in a Cox score test vs
    * the plain log-rank).
    *
    * With no competing events, no censoring, and UNTIED event times the
    * statistic reduces exactly to the standard log-rank χ²
    * ([[logRankTest]] — spec-pinned; under ties the log-rank
    * hypergeometric variance carries an extra (n−d)/(n−1) factor the
    * score information does not).
    *
    * 100 TB shape: [[fineGrayPrep]]'s one-time distributed passes with
    * the group INDEX as the single carried covariate, then ONE
    * (role, time, group) cell aggregate — no Newton loop — and an
    * O(m·K) driver scan; the driver-cell count is bounded by an
    * explicit m·K ≤ 2M require BEFORE the collect.
    *
    * Returns one row per group ascending by group value:
    * (group_value, n, n_events, n_competing, observed, expected) with
    * the shared K-sample (chi2, df, p_value) replicated per row —
    * observed/expected are the cause-1 event counts vs their
    * null-hypothesis IPCW-weighted expectations (the log-rank O/E
    * analogue on the subdistribution scale). */
  def grayTest(df: DataFrame, time: Column, cause: Column, group: Column,
               maxGroups: Int = 100, maxTimes: Int = 200000,
               maxCells: Int = 32768): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val groups = LocalCollapse.within(df.filter(time.isNotNull &&
        cause.isNotNull && group.isNotNull)
      .select(group.cast("string").as("g")).distinct()
      .orderBy(col("g")), maxGroups)(
      s"gray_test: more than $maxGroups distinct groups — coarsen the " +
        "group column or raise maxGroups knowingly").map(_.getString(0))
    require(groups.length >= 2,
      s"gray_test: need at least 2 groups, got ${groups.length}")
    val kG = groups.length
    val gIdxCol = (array_position(typedLit(groups.toSeq),
      group.cast("string")) - 1).cast("double")
    val prep = fineGrayPrep(df, time, cause, Seq(gIdxCol), maxTimes,
      "gray_test", maxCells)
    try {
      val evTimes = prep.evTimes
      val m = evTimes.length
      require(m.toLong * kG <= 2000000L,
        s"gray_test: $m event times x $kG groups exceeds the 2M " +
          "driver-cell bound — coarsen the time or group column")
      val timeIx = evTimes.zipWithIndex.toMap
      val cs = prep.groupedW0Cells()
      val dA = Array.ofDim[Double](kG, m)
      val a0 = Array.ofDim[Double](kG, m)
      val b0 = Array.ofDim[Double](kG, m)
      cs.foreach { r =>
        val ix = timeIx(r.getDouble(1))
        val gi = r.getDouble(2).toInt
        if (r.getString(0) == "A") {
          dA(gi)(ix) = r.getDouble(3); a0(gi)(ix) = r.getDouble(4)
        } else b0(gi)(ix) = r.getDouble(4)
      }
      var gi = 0
      while (gi < kG) {
        var ix = m - 2
        while (ix >= 0) { a0(gi)(ix) += a0(gi)(ix + 1); ix -= 1 }
        ix = 1
        while (ix < m) { b0(gi)(ix) += b0(gi)(ix - 1); ix += 1 }
        gi += 1
      }
      val obs = new Array[Double](kG)
      val expd = new Array[Double](kG)
      val u = new Array[Double](kG - 1) // groups 1..K-1; group 0 reference
      val info = graft.stats.LinAlg.zeros(kG - 1, kG - 1)
      val w0g = new Array[Double](kG)
      var ix = 0
      while (ix < m) {
        val gm = prep.gTminus(ix)
        var dTot = 0.0
        var w0 = 0.0
        gi = 0
        while (gi < kG) {
          dTot += dA(gi)(ix)
          w0g(gi) = a0(gi)(ix) + gm * b0(gi)(ix)
          w0 += w0g(gi)
          gi += 1
        }
        if (dTot > 0 && w0 > 0) {
          gi = 0
          while (gi < kG) {
            val e = dTot * w0g(gi) / w0
            obs(gi) += dA(gi)(ix)
            expd(gi) += e
            if (gi >= 1) {
              u(gi - 1) += dA(gi)(ix) - e
              val fi = w0g(gi) / w0
              var gj = 1
              while (gj <= gi) {
                val fj = w0g(gj) / w0
                val add = dTot * ((if (gi == gj) fi else 0.0) - fi * fj)
                info(gi - 1)(gj - 1) += add
                if (gi != gj) info(gj - 1)(gi - 1) += add
                gj += 1
              }
            }
            gi += 1
          }
        }
        ix += 1
      }
      val chi2 =
        try {
          val iu = graft.stats.LinAlg.matVec(
            graft.stats.LinAlg.invert(info), u)
          u.zip(iu).map { case (a, b) => a * b }.sum
        } catch {
          case e: Exception => throw new IllegalArgumentException(
            "gray_test: singular information matrix (a group has no " +
              "weighted risk mass at any cause-1 event time)", e)
        }
      val dfT = (kG - 1).toDouble
      val p = 1.0 - graft.stats.Dist.chiSqCdf(chi2, dfT)
      val counts = prep.groupCounts()
      groups.indices.map { g =>
        val (n, ne, nc) = counts.getOrElse(g, (0L, 0L, 0L))
        (groups(g), n, ne, nc, obs(g), expd(g), chi2, (kG - 1).toLong, p)
      }.toDF("group_value", "n", "n_events", "n_competing", "observed",
        "expected", "chi2", "df", "p_value")
    } finally {
      prep.close()
    }
  }

  /** Proportional-hazards assumption check for [[coxPh]] — the Grambsch &
    * Therneau (1994) test, derived here as the PARTITIONED SCORE TEST it
    * is: extend the model to β_j(t) = β_j + θ_j·(g(t) − ḡ) and score-test
    * θ = 0 at the converged β̂. Per distinct event time t with d events,
    * suffix sums (s0, s1, s2) at β̂ give
    *
    *   r_t = sx_t − d·s1/s0            (the summed Schoenfeld residual —
    *                                    exactly the gradient contribution)
    *   V(t) = d·(s2/s0 − (s1/s0)(s1/s0)ᵀ)
    *   u = Σ (g_t − ḡ)·r_t,   ḡ = Σ d·g_t / D
    *   S = Σ(g−ḡ)²V − [Σ(g−ḡ)V]·[ΣV]⁻¹·[Σ(g−ḡ)V]   (θ-information with
    *                                                 β̂ profiled out)
    *   χ²_global = uᵀS⁻¹u ~ χ²_k,   per-covariate χ²_j = u_j²/S_jj ~ χ²_1
    *
    * (spec-validated against a NUMERIC score + Schur-complement Hessian
    * of the brute-force time-varying partial likelihood). `transform`:
    * "rank" (default — g = the event time's rank among event times,
    * scale-free) or "identity" (g = the raw time).
    *
    * 100 TB shape: the [[coxPh]] fit plus ONE more per-event-time cell
    * aggregate at β̂ (same bucketed groupBy, O(k²) per cell) and an O(m·k²)
    * driver close over the ≤ maxTimes cells. Returns one row per
    * covariate plus a GLOBAL row: (term, chisq, df, p_value). */
  def coxZph(df: DataFrame, time: Column, event: Column, xs: Seq[Column],
             names: Seq[String], transform: String = "rank",
             maxIter: Int = 20, tol: Double = 1e-9,
             maxTimes: Int = 200000, maxCells: Int = 32768): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    require(names.length == xs.length,
      s"cox_zph: ${xs.length} covariates but ${names.length} names")
    require(transform == "rank" || transform == "identity",
      s"cox_zph: transform must be rank|identity, got $transform")
    val k = xs.length
    val fit = coxPh(df, time, event, xs, maxIter, tol, maxTimes,
      maxCells = maxCells)
    val beta = fit.coefficients
    val complete = (Seq(time, event) ++ xs).map(_.isNotNull).reduce(_ && _)
    val base0 = df.filter(complete).select(
      time.cast("double").as("__t") +: event.cast("int").as("__e") +:
        xs.zipWithIndex.map { case (x, j) => x.cast("double").as(s"__x$j") }: _*)
    val pairs = for { j <- 0 until k; l <- j until k } yield (j, l)
    // persist: the probe, the event-time collect, and the cell aggregate
    // below share the slim projection (3 unpersisted row-scale scans at
    // 100M measured ~2x this pass's cost before this)
    base0.persist()
    try {
    // the residual pass at β̂: design collapse (graft.stats.LocalCollapse),
    // else the distributed per-event-time cell aggregate
    val (evTimes, cs) = graft.stats.DesignCells.collect(base0,
        maxCells) match {
      case Some((dc, cnts)) =>
        val ev = dc.iterator.filter(c => c(1) == 1.0).map(_(0))
          .toArray.distinct.sorted
        require(ev.length <= maxTimes,
          s"cox_zph: more than $maxTimes distinct event times — bucket the " +
            "time column first (or raise maxTimes knowingly)")
        val tbIdx = dc.map(c => floorIdx(ev, c(0)))
        (ev, localCoxCells(dc, cnts, tbIdx, ev, k, pairs, beta,
          efron = false))
      case None =>
        // local contract (the preceding coxPh call already enforced it,
        // but this collect must not depend on a sibling's guard staying
        // upstream)
        val ev = LocalCollapse.within(base0.filter(col("__e") === 1)
            .select(col("__t")).distinct().orderBy(col("__t")), maxTimes)(
          s"cox_zph: more than $maxTimes distinct event times — bucket the " +
            "time column first (or raise maxTimes knowingly)")
          .map(_.getDouble(0))
        val base = base0.withColumn("__tb",
            graft.expr.SearchExprs.sortedFloorLookup(col("__t"), ev))
          .filter(col("__tb").isNotNull)
        val aggs = coxCellAggs(k, pairs, beta, efron = false)
        (ev, base.groupBy(col("__tb").as("__t"))
          .agg(aggs.head, aggs.tail: _*)
          .orderBy(col("__t").desc)
          .collect())
    }
    // g per event time (by the ASC time order) and the event-weighted mean
    val rankOf = evTimes.zipWithIndex.map { case (t, i) => t -> (i + 1.0) }.toMap
    def gOf(t: Double): Double =
      if (transform == "rank") rankOf(t) else t
    val dTot = cs.map(_.getDouble(1)).sum
    require(dTot > 0, "cox_zph: no events")
    val gBar = cs.map(r => r.getDouble(1) * gOf(r.getDouble(0))).sum / dTot
    // desc traversal: suffix sums, then per-event-time u / A / B / C
    var s0 = 0.0
    val s1 = new Array[Double](k)
    val s2 = graft.stats.LinAlg.zeros(k, k)
    val u = new Array[Double](k)
    val aM = graft.stats.LinAlg.zeros(k, k)
    val bM = graft.stats.LinAlg.zeros(k, k)
    val cM = graft.stats.LinAlg.zeros(k, k)
    cs.foreach { r =>
      val d = r.getDouble(1)
      s0 += r.getDouble(2 + k)
      (0 until k).foreach(j => s1(j) += r.getDouble(3 + k + j))
      pairs.zipWithIndex.foreach { case ((j, l), ix) =>
        s2(j)(l) += r.getDouble(3 + 2 * k + ix)
        if (j != l) s2(l)(j) = s2(j)(l)
      }
      if (d > 0) {
        val gc = gOf(r.getDouble(0)) - gBar
        (0 until k).foreach { j =>
          u(j) += gc * (r.getDouble(2 + j) - d * s1(j) / s0)
        }
        (0 until k).foreach { j =>
          (0 until k).foreach { l =>
            val v = d * (s2(j)(l) / s0 - (s1(j) / s0) * (s1(l) / s0))
            aM(j)(l) += gc * gc * v
            bM(j)(l) += gc * v
            cM(j)(l) += v
          }
        }
      }
    }
    val cInv = graft.stats.LinAlg.invert(cM)
    // S = A - B C^-1 B (B symmetric)
    val bcb = graft.stats.LinAlg.matMul(
      graft.stats.LinAlg.matMul(bM, cInv), bM)
    val sM = Array.tabulate(k, k)((j, l) => aM(j)(l) - bcb(j)(l))
    val sInv = graft.stats.LinAlg.invert(sM)
    val chiG = graft.stats.LinAlg.quadForm(u, sInv, u)
    // trend DIRECTION (r17): θ̂ = S⁻¹u is the one-step (Fisher-scoring
    // from 0) estimate of the time-interaction slope β_j(t) = β_j +
    // θ_j(g(t) − ḡ) — a failing test now also says WHICH WAY the hazard
    // ratio drifts (θ_j > 0: effect grows with g(t)); se from the same
    // profiled information, θ̂_j/se_j consistent with √chisq_j only up
    // to the off-diagonal mixing (both are reported). GLOBAL gets nulls.
    val theta = graft.stats.LinAlg.matVec(sInv, u)
    val rows = names.indices.map { j =>
      val chi = u(j) * u(j) / sM(j)(j)
      (names(j), chi, 1.0,
        1.0 - graft.stats.Dist.chiSqCdf(chi, 1.0),
        Option(theta(j)), Option(math.sqrt(sInv(j)(j))))
    } :+ (("GLOBAL", chiG, k.toDouble,
      1.0 - graft.stats.Dist.chiSqCdf(chiG, k.toDouble),
      Option.empty[Double], Option.empty[Double]))
    // the returned frame is a driver-built local relation: nothing
    // downstream re-reads base0
    rows.toDF("term", "chisq", "df", "p_value", "theta", "theta_se")
    } finally {
      base0.unpersist()
      ()
    }
  }

  /** Stratified Cox proportional hazards — [[coxPh]] with a per-stratum
    * baseline hazard (site, cohort, calendar wave): the partial
    * likelihood FACTORIZES over strata (each stratum's risk sets are its
    * own), β is shared, and nothing about the baseline within a stratum
    * is modeled — the standard remedy when [[coxZph]] rejects on a
    * covariate you can stratify away (Therneau & Grambsch ch. 3).
    *
    * 100 TB shape: identical to coxPh with the stratum key riding the
    * SAME aggregates — per Newton iteration ONE row-scale aggregate to
    * (stratum, event-time) cells; suffix sums then RESET at each stratum
    * boundary in the driver scan (cells ordered by stratum, time desc).
    * `maxTimes` bounds the TOTAL cell count across strata (that is what
    * the driver holds). Censored subjects pre-bucket to their stratum's
    * own event-time grid via the codegen per-group binary search
    * ([[graft.expr.PerGroupFloorLookup]] — the per-stratum grids flatten
    * to three referenced arrays), materialized ONCE before the loop so
    * each Newton pass stays pure codegen over the bucketed base. The
    * score test at β = 0 is the STRATIFIED
    * k-way log-rank test (spec-pinned against summed per-stratum O/E/V
    * for a binary covariate with no in-stratum ties). */
  def coxPhStratified(df: DataFrame, time: Column, event: Column,
                      stratum: Column, xs: Seq[Column],
                      maxIter: Int = 20, tol: Double = 1e-9,
                      maxTimes: Int = 200000,
                      ties: String = "breslow",
                      maxCells: Int = 32768): CoxResult = {
    require(xs.nonEmpty, "cox_ph_strat: need at least one covariate")
    val efron = requireTies("cox_ph_strat", ties)
    val k = xs.length
    val complete = (Seq(time, event, stratum) ++ xs)
      .map(_.isNotNull).reduce(_ && _)
    val base0 = df.filter(complete).select(
      stratum.cast("string").as("__s") +: time.cast("double").as("__t") +:
        event.cast("int").as("__e") +:
        xs.zipWithIndex.map { case (x, j) => x.cast("double").as(s"__x$j") }: _*)
    base0.persist()
    var base: DataFrame = null
    try {
      val pairs = for { j <- 0 until k; l <- j until k } yield (j, l)
      // design collapse (graft.stats.LocalCollapse), stratum in the key
      graft.stats.DesignCells.collectWithKey(base0, maxCells) match {
        case Some((keys, dc, cnts)) =>
          val nAll = cnts.sum
          // per-stratum event-time grids from the cells (sorted strata)
          val evByS = keys.indices.filter(i => dc(i)(1) == 1.0)
            .groupBy(keys(_))
            .map { case (s, is) =>
              s -> is.map(i => dc(i)(0)).distinct.sorted.toArray }
          val strata = evByS.keys.toArray.sorted
          val grids = strata.map(evByS)
          val offsets = grids.scanLeft(0)(_ + _.length)
          require(offsets(strata.length) <= maxTimes,
            s"cox_ph_strat: more than $maxTimes distinct (stratum, event " +
              "time) cells — coarsen the time column or raise maxTimes if " +
              "the driver can hold the cells")
          require(offsets(strata.length) > 0, "cox_ph_strat: no events")
          val sIdxOf = strata.zipWithIndex.toMap
          // a censored-only stratum has no grid: its cells drop, exactly
          // like the row path's null-bucket filter
          val stratIdx = keys.map(s => sIdxOf.getOrElse(s, -1))
          val tbIdx = dc.indices.toArray.map { i =>
            if (stratIdx(i) < 0) -1
            else floorIdx(grids(stratIdx(i)), dc(i)(0))
          }
          coxFitLoop(b => localCoxCellsStrat(dc, cnts, stratIdx, tbIdx,
            strata, grids, offsets, k, pairs, b, efron), k, pairs, efron,
            stratified = true, maxIter, tol, nAll, "cox_ph_strat")
        case None =>
          val nAll = base0.count()
          val evRows = LocalCollapse.within(base0.filter(col("__e") === 1)
              .select(col("__s"), col("__t")).distinct()
              .orderBy(col("__s"), col("__t")), maxTimes)(
            s"cox_ph_strat: more than $maxTimes distinct (stratum, event " +
              "time) cells — coarsen the time column or raise maxTimes if " +
              "the driver can hold the cells")
          require(evRows.nonEmpty, "cox_ph_strat: no events")
          // per-stratum event-time grids flattened to (sorted strata, flat
          // times, offsets) — three referenced objects inside the codegen
          // per-group binary search (graft.expr.PerGroupFloorLookup), which
          // replaced the r17 broadcast UDF: no ScalaUDF boxing, no broadcast
          // variable to destroy (the r17 ADVICE leak), and the bucketing
          // projection stays inside whole-stage codegen
          val grouped = evRows.groupBy(_.getString(0))
            .map { case (s, rs) => s -> rs.map(_.getDouble(1)).sorted }
            .toArray.sortBy(_._1)
          val strata = grouped.map(_._1)
          val flat = grouped.flatMap(_._2)
          val offsets = grouped.scanLeft(0)(_ + _._2.length)
          base = base0.withColumn("__tb",
              graft.expr.SearchExprs.perGroupFloorLookup(col("__s"), col("__t"),
                strata, flat, offsets))
            .filter(col("__tb").isNotNull)
            .persist()
          base.count() // pay the bucketing once, not once per Newton pass
          // cell layout is (__s, __t, d, sx*, a0, a1_*, a2_*[, c*]) —
          // coxScan's stratified reset reads the leading stratum string
          def cells(beta: Array[Double]): Array[Row] = {
            val aggs = coxCellAggs(k, pairs, beta, efron)
            base.groupBy(col("__s"), col("__tb").as("__t"))
              .agg(aggs.head, aggs.tail: _*)
              .orderBy(col("__s"), col("__t").desc)
              .collect()
          }
          coxFitLoop(cells, k, pairs, efron, stratified = true, maxIter,
            tol, nAll, "cox_ph_strat")
      }
    } finally {
      base0.unpersist()
      if (base != null) base.unpersist()
      ()
    }
  }

  /** Cox SURVIVAL-CURVE prediction — the apply verb after [[coxPh]]
    * (the isotonic_score pattern: a fit is only useful once you can
    * score with it): the Breslow cumulative baseline hazard
    * H₀(t) = Σ_{event times s ≤ t} d_s / S0(s) at a coefficient vector
    * β, and the predicted survival S(t|x*) = exp(−H₀(t)·e^{x*ᵀβ}) at a
    * covariate profile x* (Breslow 1972; Therneau-Grambsch ch. 10).
    *
    * `beta = None` fits [[coxPh]] first (calibrate-then-score); passing
    * β explicitly scores a STORED model — the eval_ml_method idiom, and
    * the form whose oracle stays live SQL at every scale factor (both
    * engines compute from the same literals).
    *
    * With β = 0 and profile = 0 the curve reduces exactly to the
    * Nelson-Aalen estimator (spec-pinned against it).
    *
    * 100 TB shape: ONE row-scale aggregate to per-event-time cells
    * (d_t, S0 ingredients) at β — the coxPh cell pass without the
    * Newton loop — then an O(m) driver suffix/prefix scan over
    * ≤ maxTimes cells. Censored subjects pre-bucket to the greatest
    * event time ≤ their own via the same codegen binary search.
    * Returns one row per event time ascending:
    * (time, n_events, s0, h0_cum, survival). */
  def coxSurvival(df: DataFrame, time: Column, event: Column,
                  xs: Seq[Column], profile: Seq[Double],
                  beta: Option[Array[Double]] = None,
                  maxIter: Int = 20, tol: Double = 1e-9,
                  maxTimes: Int = 200000, maxCells: Int = 32768): DataFrame = {
    require(xs.nonEmpty, "cox_survival: need at least one covariate")
    val k = xs.length
    require(profile.length == k,
      s"cox_survival: $k covariates but ${profile.length} profile values")
    val b = beta.getOrElse(
      coxPh(df, time, event, xs, maxIter, tol, maxTimes,
        maxCells = maxCells).coefficients)
    require(b.length == k,
      s"cox_survival: $k covariates but ${b.length} beta values")
    val spark = df.sparkSession
    import spark.implicits._
    val complete = (Seq(time, event) ++ xs).map(_.isNotNull).reduce(_ && _)
    val base0 = df.filter(complete).select(
      time.cast("double").as("__t") +: event.cast("int").as("__e") +:
        xs.zipWithIndex.map { case (x, j) => x.cast("double").as(s"__x$j") }: _*)
    // the one cell pass at β: design collapse (graft.stats.LocalCollapse)
    val cs: Array[(Double, Double, Double)] = // (t, d, a0) time-DESC
      graft.stats.DesignCells.collect(base0, maxCells) match {
        case Some((dc, cnts)) =>
          val ev = dc.iterator.filter(c => c(1) == 1.0).map(_(0))
            .toArray.distinct.sorted
          require(ev.length <= maxTimes,
            s"cox_survival: more than $maxTimes distinct event times — coarsen " +
              "the time column or raise maxTimes knowingly")
          require(ev.nonEmpty, "cox_survival: no events")
          val m = ev.length
          val d = new Array[Double](m)
          val a0 = new Array[Double](m)
          var i = 0
          while (i < dc.length) {
            val ix = floorIdx(ev, dc(i)(0))
            if (ix >= 0) {
              val c = dc(i)
              var eta = 0.0
              var j = 0
              while (j < k) { eta += b(j) * c(2 + j); j += 1 }
              d(ix) += c(1) * cnts(i)
              a0(ix) += cnts(i) * math.exp(eta)
              ()
            }
            i += 1
          }
          Array.tabulate(m)(r => (ev(m - 1 - r), d(m - 1 - r), a0(m - 1 - r)))
        case None =>
          val evTimes = LocalCollapse.within(base0.filter(col("__e") === 1)
              .select(col("__t")).distinct().orderBy(col("__t")), maxTimes)(
            s"cox_survival: more than $maxTimes distinct event times — coarsen " +
              "the time column or raise maxTimes knowingly")
            .map(_.getDouble(0))
          require(evTimes.nonEmpty, "cox_survival: no events")
          val base = base0.withColumn("__tb",
              graft.expr.SearchExprs.sortedFloorLookup(col("__t"), evTimes))
            .filter(col("__tb").isNotNull)
          val eta =
            if (b.forall(_ == 0.0)) lit(0.0)
            else (0 until k).map(j => col(s"__x$j") * lit(b(j))).reduce(_ + _)
          base.groupBy(col("__tb").as("__t"))
            .agg(sum(col("__e")).cast("double").as("d"),
              sum(exp(eta)).as("a0"))
            .orderBy(col("__t").desc)
            .collect()
            .map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2)))
      }
    // suffix S0 on the desc pass, then ascending H0 accumulation
    var s0 = 0.0
    val desc = cs.map { case (t, d, a) =>
      s0 += a
      (t, d, s0)
    }
    val risk = math.exp(profile.zip(b).map { case (p, bj) => p * bj }.sum)
    var h0 = 0.0
    val rows = desc.reverse.filter(_._2 > 0).map { case (t, d, s) =>
      h0 += d / s
      (t, d.round, s, h0, math.exp(-h0 * risk))
    }
    rows.toSeq.toDF("time", "n_events", "s0", "h0_cum", "survival")
  }

  /** Two-sample log-rank test (Mantel–Cox) for group ∈ {0, 1}: at each
    * pooled event time, O₁ = d₁, E₁ = d·n₁/n, V = d·(n₁/n)·(n₀/n)·(n−d)/(n−1);
    * χ² = (ΣO₁ − ΣE₁)²/ΣV against χ²(1). The companion hypothesis test to
    * [[kaplanMeierBy]] (not in the reference, whose survival module stops
    * at the single curve).
    *
    * One groupBy collapses rows to distinct times, ONE [[RangeCumSum]] pass
    * carries both groups' at-risk counts, and the test statistic is a
    * 3-scalar aggregate — constant driver state at any row count. */
  def logRankTest(df: DataFrame, group: Column, time: Column,
                  event: Column = lit(1)): DataFrame = {
    val spark = df.sparkSession
    val src = df.filter(time.isNotNull && event.isNotNull && group.isNotNull)
      .select(group.cast("int").as("grp"), time.as("time"),
        event.cast("int").as("ev"))
    val per = src.groupBy(col("time")).agg(
      sum(when(col("grp") === 1, col("ev")).otherwise(0)).cast("double").as("d1"),
      sum(when(col("grp") === 0, col("ev")).otherwise(0)).cast("double").as("d0"),
      sum(when(col("grp") === 1, 1).otherwise(0)).as("x1"),
      sum(when(col("grp") === 0, 1).otherwise(0)).as("x0"))
    val (o1, e1s, vs) = RangeCumSum.withCumSums(per, Seq(col("time")),
        Seq("x1", "x0")) { (cum, tot) =>
      val n1 = lit(tot("x1")) - (col("cum_x1") - col("x1"))
      val n0 = lit(tot("x0")) - (col("cum_x0") - col("x0"))
      val n = n1 + n0
      val d = col("d1") + col("d0")
      val e1 = d * n1 / n
      val v = when(n > 1.0, d * (n1 / n) * (n0 / n) * (n - d) / (n - 1.0))
        .otherwise(lit(0.0))
      val r = cum.filter(d > 0)
        .agg(sum(col("d1")).as("o1"), sum(e1).as("e1"), sum(v).as("v")).head()
      (r.getDouble(0), r.getDouble(1), r.getDouble(2))
    }
    require(vs > 0.0,
      "log_rank_test: zero variance (a group has no subjects at risk at any event time)")
    val chi2 = (o1 - e1s) * (o1 - e1s) / vs
    val p = 1.0 - graft.stats.Dist.chiSqCdf(chi2, 1.0)
    import spark.implicits._
    Seq((o1, e1s, vs, chi2, p))
      .toDF("observed1", "expected1", "variance", "chi2", "p_value")
  }

  /** Fleming-Harrington G^{ρ,γ}-weighted log-rank test (Fleming &
    * Harrington 1991 §7) — [[logRankTest]] with each event time weighted
    * by w_t = Ŝ(t−)^ρ (1−Ŝ(t−))^γ over the pooled left-continuous KM
    * curve: (ρ=0, γ=0) is the standard log-rank, (ρ=1, γ=0) the
    * Peto-Peto early-difference test, (ρ=0, γ=1) weights LATE differences
    * — the shape that finds a delayed-onset effect (the pattern
    * immunotherapy-style interventions produce) where the unweighted
    * test dilutes it:
    *
    *   χ² = (Σw·(O₁−E₁))² / Σw²·V  against χ²(1)
    *
    * Same ONE distinct-time collapse + [[RangeCumSum]] at-risk pass as
    * logRankTest; the KM product for Ŝ(t−) is a ln-sum window over EVENT
    * times only (cells, not rows — time granularity bounds it). Returns
    * one row: (rho, gamma, observed1_w, expected1_w, variance_w, chi2,
    * p_value). */
  def flemingHarrington(df: DataFrame, group: Column, time: Column,
                        event: Column = lit(1), rho: Double = 0.0,
                        gamma: Double = 1.0): DataFrame = {
    require(rho >= 0 && gamma >= 0,
      s"fleming_harrington: rho and gamma must be >= 0, got ($rho, $gamma)")
    val spark = df.sparkSession
    val src = df.filter(time.isNotNull && event.isNotNull && group.isNotNull)
      .select(group.cast("int").as("grp"), time.as("time"),
        event.cast("int").as("ev"))
    val per = src.groupBy(col("time")).agg(
      sum(when(col("grp") === 1, col("ev")).otherwise(0)).cast("double").as("d1"),
      sum(when(col("grp") === 0, col("ev")).otherwise(0)).cast("double").as("d0"),
      sum(when(col("grp") === 1, 1).otherwise(0)).as("x1"),
      sum(when(col("grp") === 0, 1).otherwise(0)).as("x0"))
    val (o1w, e1w, vw) = RangeCumSum.withCumSums(per, Seq(col("time")),
        Seq("x1", "x0")) { (cum, tot) =>
      val n1 = lit(tot("x1")) - (col("cum_x1") - col("x1"))
      val n0 = lit(tot("x0")) - (col("cum_x0") - col("x0"))
      val n = n1 + n0
      val d = col("d1") + col("d0")
      // EVENT times only (cell scale); the pooled KM product for S(t−)
      // is exp of the ln(1 − d/n) sum over STRICTLY EARLIER event times
      val ev = cum.filter(d > 0)
        .select(col("time"), col("d1"), d.as("d"), n1.as("n1"),
          n0.as("n0"), n.as("n"))
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("time"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      val weighted = ev
        .withColumn("s_prev", exp(coalesce(
          sum(log(lit(1.0) - col("d") / col("n"))).over(w), lit(0.0))))
        .withColumn("wt", pow(col("s_prev"), rho) *
          pow(lit(1.0) - col("s_prev"), gamma))
      val e1 = col("d") * col("n1") / col("n")
      val v = when(col("n") > 1.0, col("d") * (col("n1") / col("n")) *
        (col("n0") / col("n")) * (col("n") - col("d")) / (col("n") - 1.0))
        .otherwise(lit(0.0))
      val r = weighted.agg(
        sum(col("wt") * col("d1")).as("o1w"),
        sum(col("wt") * e1).as("e1w"),
        sum(col("wt") * col("wt") * v).as("vw")).head()
      (r.getDouble(0), r.getDouble(1), r.getDouble(2))
    }
    require(vw > 0.0, "fleming_harrington: zero weighted variance (a " +
      "group has no subjects at risk at any event time, or every weight " +
      "is 0 — gamma > 0 zeroes the FIRST event time by construction)")
    val chi2 = (o1w - e1w) * (o1w - e1w) / vw
    val p = 1.0 - graft.stats.Dist.chiSqCdf(chi2, 1.0)
    import spark.implicits._
    Seq((rho, gamma, o1w, e1w, vw, chi2, p))
      .toDF("rho", "gamma", "observed1_w", "expected1_w", "variance_w",
        "chi2", "p_value")
  }

  /** Log-rank power / required events (Schoenfeld 1983) — the survival
    * planning companion to the mean-metric power row: with D observed
    * events and allocation share p (arm-1 subject share),
    *
    *   z_power = √(D·p(1−p))·|ln HR| − z_{1−α/2},   power = Φ(z_power),
    *   D_required(β) = (z_{1−α/2} + z_{1−β})² / (p(1−p)·ln²HR)
    *
    * — "can this cohort see a hazard ratio of HR at all, and how many
    * events would it take". ONE conditional-count aggregate + driver
    * closed forms; everything except the final Φ replays in SQL (oracle
    * rows check through z_power, the q124 idiom). Returns one row:
    * (n, events, share1, hr, z_power, power, required_events_80,
    * required_events_90). */
  def logRankPower(df: DataFrame, event: Column, t: Column, hr: Double,
                   alpha: Double = 0.05): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    require(hr > 0 && hr != 1.0,
      s"logrank_power: hr must be positive and != 1, got $hr")
    val ei = event.cast("int")
    val ti = t.cast("int")
    val r = df.filter(ei.isNotNull && ti.isNotNull).agg(
      count(lit(1)).as("n"),
      sum(when(ei === 1, 1L).otherwise(0L)).as("d"),
      sum(when(ti === 1, 1L).otherwise(0L)).as("n1"),
      sum(when((ei =!= 0 && ei =!= 1) || (ti =!= 0 && ti =!= 1), 1L)
        .otherwise(0L)).as("bad")).head()
    require(r.getAs[Long]("bad") == 0,
      s"logrank_power: ${r.getAs[Long]("bad")} rows have event/t outside {0, 1}")
    val n = r.getAs[Long]("n")
    val d = r.getAs[Long]("d")
    require(n > 0 && d > 0, "logrank_power: no events observed")
    val p = r.getAs[Long]("n1").toDouble / n
    require(p > 0 && p < 1, "logrank_power: a single-arm cohort")
    val za = graft.stats.Dist.normQuantile(1 - alpha / 2)
    val lhr = math.abs(math.log(hr))
    val zPower = math.sqrt(d * p * (1 - p)) * lhr - za
    val power = graft.stats.Dist.normCdf(zPower)
    def req(zb: Double): Double = {
      val s = (za + zb) / lhr
      s * s / (p * (1 - p))
    }
    Seq((n, d, p, hr, zPower, power,
        req(graft.stats.Dist.normQuantile(0.8)),
        req(graft.stats.Dist.normQuantile(0.9))))
      .toDF("n", "events", "share1", "hr", "z_power", "power",
        "required_events_80", "required_events_90")
  }

  /** Nelson-Aalen cumulative hazard (Nelson 1972, Aalen 1978) per group —
    * the hazard-scale companion to [[kaplanMeierBy]]: Ĥ(t) = Σ_{s≤t} d/n
    * with variance Σ d/n² (Aalen's form), plus the Fleming-Harrington
    * survival exp(−Ĥ) that outperforms KM in small risk sets. Read it
    * when the QUESTION is hazard-shaped ("is the event rate bending?") —
    * Ĥ is additive, so slope changes are visible where the KM curve
    * compresses them.
    *
    * 100 TB shape: rides [[kaplanMeierBy]]'s checkpointed CELL frame;
    * both running sums are cell-scale windows partitioned by group
    * (the [[rmst]] idiom). Returns one row per (group, time):
    * (group, time, n_risk, n_event, cum_hazard, se, fh_survival). */
  def nelsonAalen(df: DataFrame, time: Column, event: Column = lit(1),
                  group: Column = lit("all")): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cells = kaplanMeierBy(df, group, time, event)
    val w = Window.partitionBy(col("group")).orderBy(col("time"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val d = col("n_event").cast("double")
    val n = col("n_risk").cast("double")
    cells
      .withColumn("cum_hazard", sum(d / n).over(w))
      .withColumn("se", sqrt(sum(d / (n * n)).over(w)))
      .select(col("group"), col("time"), col("n_risk"), col("n_event"),
        col("cum_hazard"), col("se"),
        exp(-col("cum_hazard")).as("fh_survival"))
  }

  /** Competing-risks cumulative incidence (Aalen-Johansen estimator;
    * Kalbfleisch & Prentice §8.2): with `cause` = 0 for censored and
    * 1..K for K mutually exclusive event types,
    *
    *   CIF_k(t) = Σ_{s ≤ t} Ŝ(s−) · d_k(s)/n(s),
    *
    * where Ŝ is the ALL-cause KM curve. This is the correct "share who
    * churned for reason k by day t" — the naive per-cause KM (1 − KM_k,
    * treating other causes as censoring) over-counts whenever competing
    * events remove subjects, and the identity Σ_k CIF_k = 1 − Ŝ (pinned
    * in the unit spec) only holds for this estimator.
    *
    * 100 TB shape: ONE groupBy to (time, cause) cells + ONE to time
    * cells; at-risk counts and the exclusive log-survival prefix ride
    * [[RangeCumSum]] (the [[kaplanMeier]] idiom — no global-order
    * window over rows); the per-cause running sum is a cell-scale window
    * partitioned by cause. Returns one row per (cause, time) for causes
    * with events, ascending: (cause, time, n_risk, n_event, cif). */
  def cumulativeIncidence(df: DataFrame, time: Column,
                          cause: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ci = cause.cast("int")
    // checkpointed, not persisted: the frame is read by the all-cause
    // pass AND the final join, and a checkpoint routes its release
    // through the house Ckpt registry (query-boundary sweep)
    val byTC: DataFrame = graft.Ckpt.checkpoint(
      df.filter(time.isNotNull && ci.isNotNull)
        .groupBy(time.as("time"), ci.as("cause"))
        .agg(count(lit(1)).as("cnt")))
    locally {
      val byT = byTC.groupBy(col("time"))
        .agg(sum(col("cnt")).as("n_total"),
          sum(when(col("cause") > 0, col("cnt")).otherwise(0L)).as("d_all"))
      val perTime = RangeCumSum.withCumSums(byT, Seq(col("time")),
          Seq("n_total")) { (cum, totals) =>
        val atRisk = (lit(totals("n_total")) -
          (col("cum_n_total") - col("n_total"))).cast("long")
        val withLog = cum.withColumn("n_risk", atRisk)
          .withColumn("__lt",
            when(col("d_all") === col("n_risk"), lit(0.0)) // terminal cell
              .otherwise(log(lit(1.0) - col("d_all") / col("n_risk"))))
        RangeCumSum.withCumSums(withLog, Seq(col("time")), Seq("__lt")) {
          (cum2, _) =>
            // S(t−) needs the EXCLUSIVE prefix — subtract the own term
            cum2.select(col("time"), col("n_risk"),
                exp(col("cum___lt") - col("__lt")).as("s_minus"))
              .transform(d => graft.Ckpt.register(d.localCheckpoint()))
        }
      }
      val w = Window.partitionBy(col("cause")).orderBy(col("time"))
        .rowsBetween(Window.unboundedPreceding, 0)
      byTC.filter(col("cause") > 0)
        .join(perTime, "time")
        .withColumn("__term",
          col("s_minus") * col("cnt") / col("n_risk"))
        .withColumn("cif", sum(col("__term")).over(w))
        .select(col("cause"), col("time"), col("n_risk"),
          col("cnt").as("n_event"), col("cif"))
    }
  }

  /** Harrell's concordance index (Harrell et al. 1982) — THE
    * discrimination readout for a survival risk score (the AUC of
    * time-to-event models): over comparable pairs,
    *
    *   C = (concordant + 0.5·score-ties) / comparable
    *
    * where (i, j) is comparable iff i's event is observed and precedes
    * j's time (t_i < t_j, e_i = 1), or they tie on time with i an event
    * and j censored (j is known to outlive i); concordant iff the
    * higher-risk score sits on the earlier event (s_i > s_j). Two events
    * tied on time are NOT comparable — the lifelines/standard convention.
    *
    * 100 TB shape: NO pair expansion — rows collapse to (time, score)
    * cells in ONE groupBy, the cell frame is guarded by `maxCells`,
    * and the pair counts come from an O(C log C)
    * driver sweep: times descending, a Fenwick tree over score ranks
    * counts how many already-seen (i.e. later-time) cells sit below /
    * at / above each event cell's score. Continuous production scores
    * should be rounded to taste to keep the cell count bounded — the
    * error message names the knob. Returns one row:
    * (n, comparable, concordant, tied_score, discordant, c_index). */
  def concordanceIndex(df: DataFrame, time: Column, event: Column,
                       score: Column, maxCells: Int = 1000000): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val cellsDf = df
      .filter(time.isNotNull && event.isNotNull && score.isNotNull)
      .groupBy(time.cast("double").as("t"), score.cast("double").as("s"))
      .agg(sum(event.cast("int")).as("nEvent"), count(lit(1)).as("nAll"))
    val cells = LocalCollapse.within(cellsDf, maxCells)(
      s"c_index: more than $maxCells distinct (time, score) cells — round " +
        "the score (or raise maxCells knowingly); the cell sweep is " +
        "driver-side").map(r => (r.getDouble(0), r.getDouble(1),
      r.getLong(2), r.getLong(3)))
    require(cells.length >= 2,
      s"c_index: need at least 2 cells, got ${cells.length}")
    // score ranks for the Fenwick tree
    val ranks = cells.map(_._2).distinct.sorted.zipWithIndex.toMap
    val m = ranks.size
    val fen = new Array[Long](m + 1)
    def fenAdd(i0: Int, v: Long): Unit = {
      var i = i0 + 1
      while (i <= m) { fen(i) += v; i += i & -i }
    }
    def fenSumTo(i0: Int): Long = { // inclusive prefix count of ranks <= i0
      var i = i0 + 1; var s = 0L
      while (i > 0) { s += fen(i); i -= i & -i }
      s
    }
    var seen = 0L // total count already added (times strictly later)
    var conc = 0L; var tied = 0L; var disc = 0L
    // sweep time blocks descending
    val byTime = cells.groupBy(_._1).toArray.sortBy(-_._1)
    byTime.foreach { case (_, block) =>
      // same-time comparisons: event i vs censored j (j outlives i)
      val censAtT = block.map { case (_, s, nE, nA) => (s, nA - nE) }
        .filter(_._2 > 0)
      block.foreach { case (_, s, nE, _) =>
        if (nE > 0) {
          val r = ranks(s)
          val below = fenSumTo(r - 1)
          val at = fenSumTo(r) - below
          conc += nE * below
          tied += nE * at
          disc += nE * (seen - below - at)
          censAtT.foreach { case (cs, nC) =>
            if (s > cs) conc += nE * nC
            else if (s == cs) tied += nE * nC
            else disc += nE * nC
          }
        }
      }
      // only AFTER the block's comparisons does the block join "later"
      block.foreach { case (_, s, _, nA) => fenAdd(ranks(s), nA); seen += nA }
    }
    val comparable = conc + tied + disc
    require(comparable > 0,
      "c_index: no comparable pairs (no observed event precedes another subject's time)")
    val n = cells.map(_._4).sum
    val c = (conc + 0.5 * tied) / comparable.toDouble
    Seq((n, comparable, conc, tied, disc, c))
      .toDF("n", "comparable", "concordant", "tied_score", "discordant",
        "c_index")
  }
}
