package graft.ops

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Binned distribution-drift metrics between a baseline (group = 0) and a
  * current (group = 1) sample: PSI (population stability index, the
  * model-monitoring standard) and Jensen-Shannon divergence. The
  * continuous-space companion is [[RankTests.wasserstein1]].
  *
  * ONE groupBy over the binned value computes both groups' counts
  * (map-side combined, ≤ bins+1 cells cross the wire); every metric is a
  * closed form on that cell table. Empty-bin shares are floored at
  * `minShare` so PSI's log stays finite — the floor is part of the
  * contract (document it when comparing against other tools). */
object Drift {

  /** Per-bin table: (bin, n_base, n_cur, share_base, share_cur, psi_term,
    * js_term), ordered by bin. `bins` are explicit split points
    * ([[Features.cutBins]] ordinal convention: bin 0 = below the first
    * split). */
  def binnedDrift(df: DataFrame, value: Column, group: Column,
                  bins: Seq[Double], minShare: Double = 1e-6): DataFrame = {
    require(bins.length >= 2, "need at least 2 split points (cutBins contract)")
    val cells = df
      .filter(value.isNotNull && group.isNotNull)
      .groupBy(Features.cutBins(value, bins, ifString = false).as("bin"))
      .agg(sum(when(group.cast("int") === 0, 1L).otherwise(0L)).as("n_base"),
        sum(when(group.cast("int") === 1, 1L).otherwise(0L)).as("n_cur"))
    val tot = cells.agg(sum(col("n_base")), sum(col("n_cur"))).head()
    val (t0, t1) = (tot.getLong(0), tot.getLong(1))
    require(t0 > 0 && t1 > 0, "both groups need rows")
    val p = greatest(col("n_base").cast("double") / t0.toDouble, lit(minShare))
    val q = greatest(col("n_cur").cast("double") / t1.toDouble, lit(minShare))
    val m = (p + q) / 2.0
    cells
      .withColumn("share_base", p)
      .withColumn("share_cur", q)
      .withColumn("psi_term", (col("share_cur") - col("share_base")) *
        log(col("share_cur") / col("share_base")))
      .withColumn("js_term",
        (col("share_cur") * log(col("share_cur") / m) +
          col("share_base") * log(col("share_base") / m)) / 2.0)
      .orderBy(col("bin"))
  }

  /** Total PSI. Rule of thumb: < 0.1 stable, 0.1-0.25 moderate shift,
    * > 0.25 action needed. */
  def psi(df: DataFrame, value: Column, group: Column, bins: Seq[Double],
          minShare: Double = 1e-6): Double =
    binnedDrift(df, value, group, bins, minShare)
      .agg(sum(col("psi_term"))).head().getDouble(0)

  /** Jensen-Shannon divergence (natural log; ∈ [0, ln 2]). */
  def jensenShannon(df: DataFrame, value: Column, group: Column,
                    bins: Seq[Double], minShare: Double = 1e-6): Double =
    binnedDrift(df, value, group, bins, minShare)
      .agg(sum(col("js_term"))).head().getDouble(0)

  /** Hellinger distance + Bhattacharyya coefficient over the same binned
    * shares as [[psi]]/[[jensenShannon]] — the bounded-metric member of
    * the family (H ∈ [0, 1] with a true triangle inequality, where PSI
    * is unbounded and JS caps at ln 2):
    *
    *   BC = Σ √(p_i q_i),   H = √(max(0, 1 − BC))
    *
    * (the max guards the minShare floor pushing BC a hair over 1 on
    * identical distributions). Same ONE ≤bins+1-cell aggregate. Returns
    * one row: (bhattacharyya, hellinger). */
  def hellinger(df: DataFrame, value: Column, group: Column,
                bins: Seq[Double], minShare: Double = 1e-6): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val bc = binnedDrift(df, value, group, bins, minShare)
      .agg(sum(sqrt(col("share_base") * col("share_cur")))).head()
      .getDouble(0)
    Seq((bc, math.sqrt(math.max(0.0, 1.0 - bc))))
      .toDF("bhattacharyya", "hellinger")
  }

  /** Mann-Kendall trend test (Mann 1945, Kendall 1975; the tie-corrected
    * form) — the nonparametric "is this metric drifting at all"
    * significance companion to [[RankTests]]' Theil-Sen slope (which
    * estimates HOW FAST but carries no p): over the period-ordered
    * metric cells,
    *
    *   S = Σ_{i<j} sgn(m_j − m_i),
    *   Var(S) = [n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)] / 18   (t = tie-group
    *   sizes), z = (S ∓ 1)/√Var (continuity-corrected), two-sided p
    *
    * (Round15OpsSpec validates Var(S) EXACTLY against full permutation
    * enumeration on a tied fixture — the formula is checked, not
    * recalled). 100 TB shape: ONE row-scale aggregate to period cells;
    * the O(P²) sign sweep is driver-side over COLLECTED cells, and
    * `maxPeriods` names the calendar-bounded contract, as ewmaMonitor
    * does. Returns one row: (n_periods, s, var_s, z, p_value). */
  def mannKendall(df: DataFrame, period: Column, value: Column,
                  maxPeriods: Int = 10000): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val v = value.cast("double")
    val cellsDf = df.filter(period.isNotNull && v.isNotNull)
      .groupBy(period.cast("long").as("period"))
      .agg(avg(v).as("m"))
    val cells = graft.stats.LocalCollapse.within(
        cellsDf.orderBy(col("period")), maxPeriods)(
      s"mann_kendall: more than $maxPeriods periods — the sign sweep is " +
        "O(P²) on the driver; coarsen the period bucket (or raise " +
        "maxPeriods knowingly)").map(r => r.getDouble(1))
    require(cells.length >= 4,
      s"mann_kendall: need at least 4 periods, got ${cells.length}")
    var s = 0L
    var i = 0
    while (i < cells.length) {
      var j = i + 1
      while (j < cells.length) {
        s += java.lang.Double.compare(cells(j), cells(i)).sign
        j += 1
      }
      i += 1
    }
    val n = cells.length.toDouble
    // tie groups are EXACT-double ties (groupBy identity on the period
    // means): consistent with the SQL oracle's GROUP BY on the same
    // doubles; near-equal means produced by float noise do NOT tie —
    // the documented contract, since any epsilon would be arbitrary
    val tieTerm = cells.groupBy(identity).values.map(_.length)
      .filter(_ > 1).map(t => t.toDouble * (t - 1) * (2 * t + 5)).sum
    val varS = (n * (n - 1) * (2 * n + 5) - tieTerm) / 18.0
    require(varS > 0, "mann_kendall: every period has the same metric")
    val z =
      if (s > 0) (s - 1) / math.sqrt(varS)
      else if (s < 0) (s + 1) / math.sqrt(varS)
      else 0.0
    val p = 2.0 * (1.0 - graft.stats.Dist.normCdf(math.abs(z)))
    Seq((cells.length.toLong, s, varS, z, p))
      .toDF("n_periods", "s", "var_s", "z", "p_value")
  }

  /** Page-Hinkley mean-INCREASE detector (Page 1954; the sequential
    * monitor between [[ewmaMonitor]]'s control chart and
    * [[changepoint]]'s retrospective break): per period t,
    *
    *   m_t = mean(x₁..x_t),   U_t = Σ_{i≤t} (x_i − m_i − δ),
    *   PH_t = U_t − min_{s≤t} U_s,   alarm when PH_t > λ
    *
    * δ is the drift allowance (shifts smaller than δ per period are
    * tolerated), λ the evidence threshold. Detects INCREASES; monitor
    * −value for drops (documented contract, not a hidden default).
    *
    * 100 TB shape: ONE row-scale aggregate to per-period cells + three
    * stacked windows over CELLS ordered by period (running mean, running
    * sum, running min) — no driver state, unbounded history, exact
    * window replay in SQL. Returns one row per period:
    * (period, metric, ph, is_alarm). */
  def pageHinkley(df: DataFrame, period: Column, value: Column,
                  lambda: Double, delta: Double = 0.0): DataFrame = {
    require(lambda > 0, s"page_hinkley: lambda must be > 0, got $lambda")
    val v = value.cast("double")
    val cells = df.filter(period.isNotNull && v.isNotNull)
      .groupBy(period.cast("long").as("period"))
      .agg(avg(v).as("metric"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("period"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    cells
      .withColumn("m", avg(col("metric")).over(w))
      .withColumn("u", sum(col("metric") - col("m") - lit(delta)).over(w))
      .withColumn("ph", col("u") - min(col("u")).over(w))
      .withColumn("is_alarm", col("ph") > lambda)
      .select(col("period"), col("metric"), col("ph"), col("is_alarm"))
      .orderBy(col("period"))
  }

  /** Seasonal metric anomaly detection for monitoring pipelines: per
    * period p, the baseline is the mean/sd of the SAME seasonal phase's
    * PRIOR periods (p − season, p − 2·season, ...), so daily cycles don't
    * read as anomalies the way a flat rolling window makes them. A period
    * is flagged when it has at least `minHistory` same-phase predecessors
    * and |z| > `zThresh`.
    *
    * 100 TB shape: ONE row-scale aggregate to per-period metric cells,
    * then a window over CELLS partitioned by phase (period mod season) —
    * the window never touches row-scale data and needs no driver state,
    * so the monitor runs unbounded history. Returns
    * (period, metric, n_hist, baseline, baseline_sd, z, is_anomaly). */
  def metricAnomaly(df: DataFrame, period: Column, value: Column,
                    season: Int, minHistory: Int = 3,
                    zThresh: Double = 3.0): DataFrame = {
    require(season >= 1, s"metric_anomaly: season must be >= 1, got $season")
    require(minHistory >= 2,
      s"metric_anomaly: minHistory must be >= 2 (sd needs it), got $minHistory")
    require(zThresh > 0, s"metric_anomaly: zThresh must be > 0, got $zThresh")
    val v = value.cast("double")
    val cells = df.filter(period.isNotNull && v.isNotNull)
      .groupBy(period.cast("long").as("period"))
      .agg(avg(v).as("metric"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(pmod(col("period"), lit(season.toLong)))
      .orderBy(col("period"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    cells
      .withColumn("n_hist", count(col("metric")).over(w))
      .withColumn("baseline", avg(col("metric")).over(w))
      .withColumn("baseline_sd", stddev_samp(col("metric")).over(w))
      .withColumn("z",
        when(col("n_hist") >= minHistory && col("baseline_sd") > 0.0,
          (col("metric") - col("baseline")) / col("baseline_sd")))
      .withColumn("is_anomaly",
        coalesce(abs(col("z")) > zThresh, lit(false)))
  }

  /** Single-changepoint detection in a metric series (CUSUM; Page 1954,
    * the at-most-one-change mean-shift test): over per-period metric
    * cells y₁..y_T with mean ȳ and sd s,
    *
    *   C_t = Σ_{i≤t}(y_i − ȳ),   Q = max_t |C_t| / (s√T),
    *
    * the break is after argmax_t |C_t|, and under H₀ (iid, no change) Q
    * follows the Kolmogorov (Brownian-bridge sup) law, so
    * p = 2·Σ_{k≥1}(−1)^{k+1}·exp(−2k²Q²) — closed form, no permutation
    * pass. The complement of [[metricAnomaly]]: that flags single
    * outlier periods against seasonal history; this locates a PERSISTENT
    * level shift and sizes it.
    *
    * 100 TB shape: ONE row-scale aggregate to period cells, a cell-scale
    * window for the CUSUM path (periods are time — thousands, not
    * billions; the unpartitioned cell window is the [[metricAnomaly]]
    * idiom), bounded O(1) collects (global stats + the argmax row), and
    * one final cell pass for the side means. Everything — including the
    * p-value, truncated at k = 100 — replays in plain SQL. Returns one
    * row: (n_periods, change_period, stat, p_value, mean_before,
    * mean_after, shift). */
  def changepoint(df: DataFrame, period: Column, value: Column): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val v = value.cast("double")
    val cells = df.filter(period.isNotNull && v.isNotNull)
      .groupBy(period.cast("long").as("period"))
      .agg(avg(v).as("y"))
    val st = cells.agg(count(lit(1)).as("t"), avg(col("y")).as("mu"),
      stddev_samp(col("y")).as("sd")).head()
    val tN = st.getAs[Long]("t")
    require(tN >= 4, s"changepoint: need at least 4 periods, got $tN")
    val mu = st.getAs[Double]("mu")
    val sd = st.getAs[Double]("sd")
    require(sd > 0, "changepoint: the period metric is constant")
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("period"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    // argmax |C_t|; C_T = 0 exactly, so the break is never the last period
    val top = cells
      .withColumn("c", sum(col("y") - mu).over(w))
      .orderBy(abs(col("c")).desc, col("period").asc)
      .limit(1).head()
    val cp = top.getAs[Long]("period")
    val q = math.abs(top.getAs[Double]("c")) / (sd * math.sqrt(tN.toDouble))
    // Kolmogorov tail, truncated at k = 100 (alternating, |term_101| <
    // e^{-2·101²Q²} — underflow-zero for any Q the gate flags)
    val p = math.min(1.0, 2.0 * (1 to 100).map(k =>
      (if (k % 2 == 1) 1.0 else -1.0) *
        math.exp(-2.0 * k * k * q * q)).sum)
    val sides = cells.agg(
      avg(when(col("period") <= cp, col("y"))).as("mb"),
      avg(when(col("period") > cp, col("y"))).as("ma")).head()
    val (mb, ma) = (sides.getAs[Double]("mb"), sides.getAs[Double]("ma"))
    Seq((tN, cp, q, p, mb, ma, ma - mb))
      .toDF("n_periods", "change_period", "stat", "p_value",
        "mean_before", "mean_after", "shift")
  }

  /** EWMA control chart over a period-bucketed metric (Roberts 1959;
    * limits per Montgomery, Introduction to SQC §9.2) — the
    * small-persistent-shift monitor between [[metricAnomaly]] (single
    * outlier periods) and [[changepoint]] (one retrospective break):
    *
    *   z_t = λ·x̄_t + (1−λ)·z_{t−1},   z₋₁ = μ̂ (grand mean),
    *   limit_t = L·σ̂·√( λ/(2−λ) · (1 − (1−λ)^{2(t+1)}) )
    *
    * flagged when |z_t − μ̂| exceeds the limit.
    *
    * 100 TB shape: ONE row-scale aggregate to per-period cells; the
    * recursion is inherently sequential, so it folds over the COLLECTED
    * cell frame — periods are time (hours/days), bounded by the calendar
    * not the data, and the `maxPeriods` guard names that contract. The
    * exact recursion replays in SQL as a recursive CTE. Returns one row
    * per period:
    * (period, metric, ewma, limit_lower, limit_upper, is_anomaly). */
  def ewmaMonitor(df: DataFrame, period: Column, value: Column,
                  lambda: Double = 0.2, l: Double = 3.0,
                  maxPeriods: Int = 100000): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    require(lambda > 0 && lambda <= 1, s"ewma: lambda in (0, 1], got $lambda")
    require(l > 0, s"ewma: L must be > 0, got $l")
    val v = value.cast("double")
    val cells = df.filter(period.isNotNull && v.isNotNull)
      .groupBy(period.cast("long").as("period"))
      .agg(avg(v).as("metric"))
    // the error path counts the periods to name them
    val rows = graft.stats.LocalCollapse.within(
        cells.orderBy(col("period")), maxPeriods)(
      s"ewma: ${cells.count()} periods exceed maxPeriods=$maxPeriods — the " +
        "recursion folds on the driver; coarsen the period bucket or raise " +
        "the cap")
    val xs = rows.map(_.getAs[Double]("metric"))
    require(xs.length >= 2, s"ewma: need at least 2 periods, got ${xs.length}")
    val mu = xs.sum / xs.length
    // Welford's update, as stddev_samp: a constant series reads exactly 0
    val sd = new org.apache.spark.util.StatCounter(xs).sampleStdev
    require(sd > 0, "ewma: the period metric is constant")
    var z = mu
    val base = l * sd * math.sqrt(lambda / (2.0 - lambda))
    val out = rows.zipWithIndex.map { case (r, i) =>
      val x = r.getAs[Double]("metric")
      z = lambda * x + (1.0 - lambda) * z
      val lim = base *
        math.sqrt(1.0 - math.pow(1.0 - lambda, 2.0 * (i + 1)))
      (r.getAs[Long]("period"), x, z, mu - lim, mu + lim,
        math.abs(z - mu) > lim)
    }
    spark.createDataFrame(out.toSeq)
      .toDF("period", "metric", "ewma", "limit_lower", "limit_upper",
        "is_anomaly")
  }

  /** Wald-Wolfowitz runs test over a period-bucketed metric (1940) —
    * "is this series RANDOM around its median": too few runs flags
    * persistence/trend, too many flags alternation; the
    * distribution-free companion to [[durbinWatson]] (which assumes a
    * linear lag-1 story):
    *
    *   R = runs of consecutive same-sign (y > median) cells,
    *   E[R] = 2n₁n₀/n + 1,  Var = 2n₁n₀(2n₁n₀−n)/(n²(n−1)),  z = (R−E)/√Var
    *
    * Cells AT the median drop (the standard rule, documented). ONE
    * row-scale aggregate to cells + one exact-percentile pass + one
    * cell-scale lag window. Returns one row:
    * (n_periods, n_above, n_below, runs, expected_runs, z, p_value). */
  def runsTest(df: DataFrame, period: Column, value: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = df.sparkSession
    import spark.implicits._
    val v = value.cast("double")
    val cells = df.filter(period.isNotNull && v.isNotNull)
      .groupBy(period.cast("long").as("period"))
      .agg(avg(v).as("y"))
    cells.persist()
    try {
      val med = cells.agg(expr("percentile(y, 0.5)")).head().getDouble(0)
      val signed = cells.filter(col("y") =!= med)
        .withColumn("s", (col("y") > med).cast("int"))
      val w = Window.orderBy(col("period"))
      val r = signed
        .withColumn("__new",
          when(lag(col("s"), 1).over(w).isNull ||
            lag(col("s"), 1).over(w) =!= col("s"), 1L).otherwise(0L))
        .agg(count(lit(1)).as("n"), sum(col("s")).as("n1"),
          sum(col("__new")).as("runs")).head()
      val n = r.getAs[Long]("n")
      val n1 = r.getAs[Long]("n1")
      val n0 = n - n1
      require(n >= 4 && n1 > 0 && n0 > 0,
        "runs_test: need at least 4 non-median periods on both sides of " +
          "the median")
      val nd = n.toDouble
      val e = 2.0 * n1 * n0 / nd + 1.0
      val varR = 2.0 * n1 * n0 * (2.0 * n1 * n0 - nd) / (nd * nd * (nd - 1))
      require(varR > 0, "runs_test: degenerate run variance")
      val runs = r.getAs[Long]("runs")
      val z = (runs - e) / math.sqrt(varR)
      val p = 2.0 * (1.0 - graft.stats.Dist.normCdf(math.abs(z)))
      Seq((n, n1, n0, runs, e, z, p))
        .toDF("n_periods", "n_above", "n_below", "runs", "expected_runs",
          "z", "p_value")
    } finally { cells.unpersist(); () }
  }

  /** Seasonal strength of a period-bucketed metric (the STL-style
    * variance-explained readout, Hyndman & Athanasopoulos FPP3 §4.4,
    * computed against the phase-mean seasonal component) — "how much of
    * this series is just the daily/weekly cycle": the scalar that says
    * whether [[metricAnomaly]]'s seasonal baseline is load-bearing and
    * how big the cycle is before anyone reads a raw daily delta:
    *
    *   strength = max(0, 1 − Var(y − phase_mean)/Var(y)),
    *   phase = period mod season
    *
    * ONE row-scale aggregate to period cells, ONE phase-cell aggregate
    * broadcast back, ONE closing variance pass. Also reports the peak
    * phase and its lift over the grand mean. Returns one row:
    * (n_periods, season, var_total, var_residual, strength, peak_phase,
    * peak_lift). */
  def seasonalStrength(df: DataFrame, period: Column, value: Column,
                       season: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    require(season >= 2, s"seasonal_strength: season must be >= 2, got $season")
    val v = value.cast("double")
    val cells = df.filter(period.isNotNull && v.isNotNull)
      .groupBy(period.cast("long").as("period"))
      .agg(avg(v).as("y"))
    cells.persist()
    try {
      val phases = cells
        .groupBy(pmod(col("period"), lit(season.toLong)).as("phase"))
        .agg(avg(col("y")).as("pm"), count(lit(1)).as("pc"))
      val r = cells
        .join(broadcast(phases),
          pmod(col("period"), lit(season.toLong)) === col("phase"))
        .agg(count(lit(1)).as("t"), variance(col("y")).as("vt"),
          variance(col("y") - col("pm")).as("vr"),
          avg(col("y")).as("mu")).head()
      val tN = r.getAs[Long]("t")
      require(tN >= 2 * season,
        s"seasonal_strength: need at least ${2 * season} periods (two full " +
          s"cycles), got $tN")
      val vt = r.getAs[Double]("vt")
      require(vt > 0, "seasonal_strength: the period metric is constant")
      val strength = math.max(0.0, 1.0 - r.getAs[Double]("vr") / vt)
      val peak = phases.orderBy(col("pm").desc, col("phase")).head()
      Seq((tN, season.toLong, vt, r.getAs[Double]("vr"), strength,
          peak.getAs[Long]("phase"),
          peak.getAs[Double]("pm") - r.getAs[Double]("mu")))
        .toDF("n_periods", "season", "var_total", "var_residual",
          "strength", "peak_phase", "peak_lift")
    } finally { cells.unpersist(); () }
  }

  /** Durbin-Watson statistic over a period-bucketed metric (Durbin &
    * Watson 1950) — the one-number lag-1 dependence readout (≈ 2(1−ρ₁);
    * < 2 positive autocorrelation, > 2 negative) that contextualizes any
    * per-period monitor assuming independence; [[ljungBox]] is the
    * multi-lag test, this is the dashboard scalar:
    *
    *   DW = Σ_{t≥2}(y_t − y_{t−1})² / Σ(y_t − ȳ)²
    *
    * ONE row-scale aggregate to period cells + ONE cell-scale ordered
    * window (the [[metricAnomaly]] idiom). Returns one row:
    * (n_periods, dw, rho1). */
  def durbinWatson(df: DataFrame, period: Column, value: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = df.sparkSession
    import spark.implicits._
    val v = value.cast("double")
    val cells = df.filter(period.isNotNull && v.isNotNull)
      .groupBy(period.cast("long").as("period"))
      .agg(avg(v).as("y"))
    val st = cells.agg(count(lit(1)).as("t"), avg(col("y")).as("mu"),
      sum(col("y") * col("y")).as("syy"), sum(col("y")).as("sy")).head()
    val tN = st.getAs[Long]("t")
    require(tN >= 3, s"durbin_watson: need at least 3 periods, got $tN")
    val denom = st.getAs[Double]("syy") -
      st.getAs[Double]("sy") * st.getAs[Double]("mu")
    require(denom > 0, "durbin_watson: the period metric is constant")
    val w = Window.orderBy(col("period"))
    val num = cells
      .withColumn("__d", col("y") - lag(col("y"), 1).over(w))
      .agg(sum(col("__d") * col("__d"))).head().getDouble(0)
    val dw = num / denom
    Seq((tN, dw, 1.0 - dw / 2.0)).toDF("n_periods", "dw", "rho1")
  }

  /** Ljung-Box autocorrelation test over a period-bucketed metric
    * (Ljung & Box 1978) — "is this series white noise?", the
    * residual-diagnostic companion to [[Regression.interruptedTs]] and
    * the sanity check before any monitor that assumes independent
    * periods ([[changepoint]]'s p-value does):
    *
    *   r_k = Σ(y_t−ȳ)(y_{t+k}−ȳ) / Σ(y_t−ȳ)²,
    *   Q_m = T(T+2) Σ_{k≤m} r_k²/(T−k),   Q_m ~ χ²_m under H₀
    *
    * 100 TB shape: ONE row-scale aggregate to per-period cells, ONE
    * cell-scale window (dense index + the m lags ride the same ordered
    * window over cells — periods are calendar-bounded, the
    * [[metricAnomaly]] idiom), ONE cell aggregate per output. The χ² CDF
    * gates the p-value, so oracle rows check through Q. Returns one row
    * per lag k = 1..m: (lag, acf, q_stat, df, p_value). */
  def ljungBox(df: DataFrame, period: Column, value: Column,
               lags: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = df.sparkSession
    require(lags >= 1, s"ljung_box: lags must be >= 1, got $lags")
    val v = value.cast("double")
    val cells = df.filter(period.isNotNull && v.isNotNull)
      .groupBy(period.cast("long").as("period"))
      .agg(avg(v).as("y"))
    val st = cells.agg(count(lit(1)).as("t"), avg(col("y")).as("mu"),
      sum(col("y") * col("y")).as("syy"), sum(col("y")).as("sy")).head()
    val tN = st.getAs[Long]("t")
    require(tN > lags + 1,
      s"ljung_box: need more than ${lags + 1} periods for $lags lags, got $tN")
    val mu = st.getAs[Double]("mu")
    val denom = st.getAs[Double]("syy") - st.getAs[Double]("sy") * mu
    require(denom > 0, "ljung_box: the period metric is constant")
    val w = Window.orderBy(col("period"))
    val lagged = cells.select(
      (col("y") - mu).as("e") +:
        (1 to lags).map(k => (lag(col("y"), k).over(w) - mu).as(s"e$k")): _*)
    val sums = lagged.agg(
      (1 to lags).map(k => sum(col("e") * col(s"e$k")).as(s"s$k")).head,
      (2 to lags).map(k => sum(col("e") * col(s"e$k")).as(s"s$k")): _*).head()
    var q = 0.0
    val out = (1 to lags).map { k =>
      val r = sums.getAs[Double](s"s$k") / denom
      q += tN * (tN + 2.0) * r * r / (tN - k)
      val p = 1.0 - graft.stats.Dist.chiSqCdf(q, k.toDouble)
      (k.toLong, r, q, k.toLong, p)
    }
    import spark.implicits._
    out.toDF("lag", "acf", "q_stat", "df", "p_value")
  }
  /** Autocorrelation + PARTIAL autocorrelation of a period-bucketed
    * metric — the Box–Jenkins order-identification pair ([[ljungBox]]
    * answers "is it white noise?"; this answers "which AR/MA order?"):
    * ACF r_k as in ljungBox, PACF φ_kk by Durbin–Levinson over the r_k
    * (φ_11 = r_1; φ_kk = (r_k − Σ_j φ_{k−1,j} r_{k−j}) /
    * (1 − Σ_j φ_{k−1,j} r_j)), with the ±1.96/√T white-noise band.
    *
    * 100 TB shape: identical to [[ljungBox]] — ONE row-scale aggregate
    * to per-period cells, the m lags ride one ordered window over
    * cells (periods are calendar-bounded), ONE cell aggregate; the
    * Durbin–Levinson recursion is O(m²) driver arithmetic. Returns one
    * row per lag k = 1..m: (lag, acf, pacf, ci_band). */
  def acfPacf(df: DataFrame, period: Column, value: Column,
              lags: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = df.sparkSession
    require(lags >= 1, s"acf_pacf: lags must be >= 1, got $lags")
    val v = value.cast("double")
    val cells = df.filter(period.isNotNull && v.isNotNull)
      .groupBy(period.cast("long").as("period"))
      .agg(avg(v).as("y"))
    val st = cells.agg(count(lit(1)).as("t"), avg(col("y")).as("mu"),
      sum(col("y") * col("y")).as("syy"), sum(col("y")).as("sy")).head()
    val tN = st.getAs[Long]("t")
    require(tN > lags + 1,
      s"acf_pacf: need more than ${lags + 1} periods for $lags lags, got $tN")
    val mu = st.getAs[Double]("mu")
    val denom = st.getAs[Double]("syy") - st.getAs[Double]("sy") * mu
    require(denom > 0, "acf_pacf: the period metric is constant")
    val w = Window.orderBy(col("period"))
    val lagged = cells.select(
      (col("y") - mu).as("e") +:
        (1 to lags).map(k => (lag(col("y"), k).over(w) - mu).as(s"e$k")): _*)
    val sums = lagged.agg(
      (1 to lags).map(k => sum(col("e") * col(s"e$k")).as(s"s$k")).head,
      (2 to lags).map(k => sum(col("e") * col(s"e$k")).as(s"s$k")): _*).head()
    val r = (1 to lags).map(k => sums.getAs[Double](s"s$k") / denom).toArray
    // Durbin–Levinson: phi(k)(j) = AR(k) coefficients; pacf(k) = phi(k)(k)
    val pacf = new Array[Double](lags)
    var prev = new Array[Double](0)
    for (k <- 1 to lags) {
      val num = r(k - 1) -
        (1 until k).map(j => prev(j - 1) * r(k - j - 1)).sum
      val den = 1.0 - (1 until k).map(j => prev(j - 1) * r(j - 1)).sum
      val phiKK = if (math.abs(den) < 1e-300) Double.NaN else num / den
      pacf(k - 1) = phiKK
      val next = new Array[Double](k)
      (1 until k).foreach(j =>
        next(j - 1) = prev(j - 1) - phiKK * prev(k - j - 1))
      next(k - 1) = phiKK
      prev = next
    }
    val band = 1.96 / math.sqrt(tN.toDouble)
    import spark.implicits._
    (1 to lags).map(k => (k.toLong, r(k - 1), pacf(k - 1), band))
      .toDF("lag", "acf", "pacf", "ci_band")
  }

  /** Embedding centroid drift between two snapshots — per-label centroid
    * L2 shift and cosine between the current corpus and a reference
    * (yesterday's crawl, the previous model's embedding of the same
    * slice): the monitor that catches an embedding-pipeline change
    * (model bump, preprocessing regression) BEFORE downstream dedup /
    * ANN / semantic_dedup silently degrade. Labels present on only one
    * side are dropped (inner join — a disappeared label is a volume
    * question for [[binnedDrift]], not a geometry one).
    *
    * 100 TB shape: per side, ONE posexplode to (label, dim) partial-agg
    * cells — label cardinality unbounded, labels x dim cells cross the
    * wire, never vectors — + ONE cell join + ONE label-cell aggregate.
    * Replays in SQL via per-dim enumeration. Returns one row per shared
    * label: (label, n_current, n_ref, centroid_l2, centroid_cosine),
    * ordered by label. */
  def embeddingDrift(cur: DataFrame, ref: DataFrame, curLabel: Column,
                     curVec: Column, refLabel: Column,
                     refVec: Column): DataFrame = {
    def cells(df: DataFrame, label: Column, vec: Column,
              side: String): DataFrame = df
      .select(label.cast("string").as("label"),
        vec.cast("array<double>").as("__v"))
      .filter(col("label").isNotNull && col("__v").isNotNull)
      .select(col("label"), posexplode(col("__v")).as(Seq("pos", "x")))
      .groupBy(col("label"), col("pos"))
      .agg(avg(col("x")).as(s"c_$side"), count(lit(1)).as(s"n_$side"))
    val joined = cells(cur, curLabel, curVec, "cur")
      .join(cells(ref, refLabel, refVec, "ref"), Seq("label", "pos"))
    joined
      .groupBy(col("label"))
      .agg(
        // every dim of one vector counts once per row -> n = any dim's n
        max(col("n_cur")).as("n_current"),
        max(col("n_ref")).as("n_ref"),
        sqrt(sum((col("c_cur") - col("c_ref")) *
          (col("c_cur") - col("c_ref")))).as("centroid_l2"),
        (sum(col("c_cur") * col("c_ref")) /
          (sqrt(sum(col("c_cur") * col("c_cur"))) *
            sqrt(sum(col("c_ref") * col("c_ref"))))).as("centroid_cosine"))
      .orderBy(col("label"))
  }

  /** The deterministic RFF frequency matrix behind [[mmdRff]]: Box-Muller
    * normals from integer-modular uniforms, so BOTH engines (and any
    * re-run) derive the identical matrix from (f, d) alone — no RNG, no
    * seed to ship. Scaled by √(2γ) for the RBF kernel
    * k(x,y) = exp(−γ‖x−y‖²). */
  private[graft] def rffW(f: Int, d: Int, gamma: Double): Double = {
    val m = 1048576L
    val u1 = ((f * 2654435761L + d * 40503L + 17L) % m + 1).toDouble / (m + 1)
    val u2 = ((f * 1099087573L + d * 2654435761L + 31L) % m + 1).toDouble / (m + 1)
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.Pi * u2) *
      math.sqrt(2.0 * gamma)
  }
  private[graft] def rffB(f: Int): Double =
    2.0 * math.Pi * ((f * 40503L + 7L) % 1048576L).toDouble / 1048576.0

  /** MMD² two-sample test for embedding distributions via random Fourier
    * features (Gretton et al. 2012 §6 + Rahimi-Recht 2007) — "did the
    * embedding DISTRIBUTION shift", where [[embeddingDrift]] only sees
    * the per-label centroid (mean): with z_f(x) = √(2/D)·cos(w_fᵀx + b_f)
    * and w ~ N(0, 2γI) fixed by the deterministic integer-modular
    * Box-Muller above,
    *
    *   MMD² ≈ ‖z̄(X) − z̄(Y)‖²
    *
    * — the LINEAR-time estimator of the RBF-kernel MMD (the exact
    * quadratic form is a pair expansion this engine refuses at corpus
    * scale). Significance composes with the permutation verb; the
    * statistic alone ranks drift across snapshots.
    *
    * 100 TB shape: ONE row-scale pass computes the D features per row
    * (D·dim multiply-adds inside the projection) and partial-aggregates
    * to 2·D (group, feature) cells; O(D) driver close. Returns one row:
    * (n_x, n_y, features, gamma, mmd2). */
  def mmdRff(df: DataFrame, group: Column, vec: Column,
             features: Int = 32, gamma: Double = 0.015625): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    require(features >= 4 && features <= 4096,
      s"mmd_rff: features must be in [4, 4096], got $features")
    require(gamma > 0, s"mmd_rff: gamma must be > 0, got $gamma")
    val g = group.cast("int")
    val base = df.filter(g.isNotNull && vec.isNotNull)
      .select(g.as("g"), vec.cast("array<double>").as("v"))
    // ONE scalar pre-pass: group-domain check + dimension (plus a
    // mixed-dimension guard — a short vector would otherwise silently
    // null its z features), instead of two separate driver actions
    val pre = base.agg(
      coalesce(sum(when(col("g") =!= 0 && col("g") =!= 1, 1L)
        .otherwise(0L)), lit(0L)).as("bad"),
      min(size(col("v"))).as("dmin"),
      max(size(col("v"))).as("dmax")).head()
    require(pre.getAs[Long]("bad") == 0, "mmd_rff: group must be 0/1")
    require(!pre.isNullAt(1), "mmd_rff: no rows with group and vector")
    val dim = pre.getAs[Int]("dmin")
    require(dim == pre.getAs[Int]("dmax"),
      s"mmd_rff: mixed vector dimensions [$dim, ${pre.getAs[Int]("dmax")}]")
    val wLit = typedLit((0 until features).map(f =>
      (0 until dim).map(d => rffW(f, d, gamma))))
    val bLit = typedLit((0 until features).map(rffB))
    val scale = math.sqrt(2.0 / features)
    val zs = transform(sequence(lit(0), lit(features - 1)), f =>
      cos(aggregate(sequence(lit(0), lit(dim - 1)), lit(0.0), (acc, d) =>
        acc + element_at(element_at(wLit, f + 1), d + 1) *
          element_at(col("v"), d + 1)) + element_at(bLit, f + 1)) * scale)
    val cells = base
      .select(col("g"), posexplode(zs).as(Seq("f", "z")))
      .groupBy(col("g"), col("f"))
      .agg(avg(col("z")).as("zbar"), count(lit(1)).as("n"))
    val r = cells.groupBy(col("f"))
      .agg(max(when(col("g") === 1, col("zbar"))).as("zx"),
        max(when(col("g") === 0, col("zbar"))).as("zy"),
        max(when(col("g") === 1, col("n"))).as("nx"),
        max(when(col("g") === 0, col("n"))).as("ny"))
      .agg(sum((col("zx") - col("zy")) * (col("zx") - col("zy"))).as("mmd2"),
        max(col("nx")).as("nx"), max(col("ny")).as("ny")).head()
    require(!r.isNullAt(1) && !r.isNullAt(2),
      "mmd_rff: need rows in both groups")
    Seq((r.getAs[Long]("nx"), r.getAs[Long]("ny"), features, gamma,
        r.getAs[Double]("mmd2")))
      .toDF("n_x", "n_y", "features", "gamma", "mmd2")
  }
}
