package graft.ops

import graft.stats.LocalCollapse
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.types._

/** Always-valid sequential inference: the mixture sequential probability
  * ratio test (mSPRT — Robbins 1970; Johari, Koomen, Pekelis & Walsh 2017,
  * "Peeking at A/B tests"). The reference's tests are all fixed-horizon,
  * but a platform watches experiments WHILE they run, and repeatedly
  * peeking at classic p-values inflates false positives; the mSPRT's
  * p-value is valid at EVERY intermediate look.
  *
  * Two-sample normal-mixture form over cumulative time buckets: at look m,
  * with cumulative per-arm moments, δ̂ = mean₁ − mean₀,
  * V = σ̂²·(1/n₁ + 1/n₀) (pooled), and
  * Λ_m = sqrt(V/(V+τ²)) · exp(δ̂²τ² / (2V(V+τ²))) — the likelihood ratio
  * against the N(0, τ²) effect mixture. The always-valid p-value is
  * p_m = min(1, 1 / max_{k≤m} Λ_k), nonincreasing in m.
  *
  * 100 TB shape: ONE row-scale aggregate collapses events to
  * (bucket × arm) moment cells; the cumulative scan, likelihood ratio,
  * and running-max inversion run over those cells on the driver — the
  * bounded-metadata idiom (ROC suffix sums, RangeCumSum offsets). The
  * bucket count is guarded: overflow past maxBuckets cells fails fast
  * naming the knob. Buckets before both arms reach 2 cumulative
  * observations are not emitted (their variance is undefined).
  *
  * Returns (bucket, n1, n0, estimate, lambda, p_always_valid). */
object Sequential {

  def msprt(df: DataFrame, bucket: Column, y: Column, t: Column,
            tau: Double = 1.0, maxBuckets: Int = 100000): DataFrame = {
    require(tau > 0, s"msprt: tau must be positive, got $tau")
    require(maxBuckets > 0, "msprt: maxBuckets must be positive")
    val yd = y.cast("double")
    val cellRows = LocalCollapse.within(df
      .filter(yd.isNotNull && t.isNotNull && bucket.isNotNull)
      .groupBy(bucket.cast("long").as("bucket"))
      .agg(
        sum(when(t === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(t === 1, yd).otherwise(0.0)).as("s1"),
        sum(when(t === 1, yd * yd).otherwise(0.0)).as("q1"),
        sum(when(t === 0, 1L).otherwise(0L)).as("n0"),
        sum(when(t === 0, yd).otherwise(0.0)).as("s0"),
        sum(when(t === 0, yd * yd).otherwise(0.0)).as("q0"))
      .orderBy(col("bucket")), maxBuckets)(
      s"msprt produced more than $maxBuckets time buckets: coarsen the " +
        "bucket column or raise maxBuckets if the driver can hold the cells")
    var cn1 = 0L; var cs1 = 0.0; var cq1 = 0.0
    var cn0 = 0L; var cs0 = 0.0; var cq0 = 0.0
    var maxLam = Double.NegativeInfinity
    val t2 = tau * tau
    val out = cellRows.flatMap { r =>
      cn1 += r.getLong(1); cs1 += r.getDouble(2); cq1 += r.getDouble(3)
      cn0 += r.getLong(4); cs0 += r.getDouble(5); cq0 += r.getDouble(6)
      if (cn1 < 2 || cn0 < 2) None
      else {
        val varP = ((cq1 - cs1 * cs1 / cn1) + (cq0 - cs0 * cs0 / cn0)) /
          (cn1 + cn0 - 2)
        val v = varP * (1.0 / cn1 + 1.0 / cn0)
        if (v <= 0) None
        else {
          val d = cs1 / cn1 - cs0 / cn0
          val lam = math.sqrt(v / (v + t2)) *
            math.exp(d * d * t2 / (2.0 * v * (v + t2)))
          maxLam = math.max(maxLam, lam)
          Some(Row(r.getLong(0), cn1, cn0, d, lam,
            math.min(1.0, 1.0 / maxLam)))
        }
      }
    }
    val schema = StructType(Seq(
      StructField("bucket", LongType), StructField("n1", LongType),
      StructField("n0", LongType), StructField("estimate", DoubleType),
      StructField("lambda", DoubleType),
      StructField("p_always_valid", DoubleType)))
    df.sparkSession.createDataFrame(
      df.sparkSession.sparkContext.parallelize(out.toSeq, 1), schema)
  }

  /** Classic Wald SPRT for a Bernoulli rate (Wald 1945) — the original
    * sequential test, still the right tool when H₀ and H₁ are two NAMED
    * rates (SLA breach rate ≤ p₀ vs ≥ p₁, canary error rate): unlike
    * [[msprt]] (composite alternative, anytime-valid p) it stops at
    * guaranteed error levels with minimal expected samples.
    *
    *   LLR_t = s_t·ln(p₁/p₀) + (n_t−s_t)·ln((1−p₁)/(1−p₀)),
    *   accept H₁ when LLR ≥ ln((1−β)/α),  H₀ when LLR ≤ ln(β/(1−α))
    *
    * The decision is STICKY (the first crossing decides — continuing to
    * monitor after a stop invalidates the guarantees; later rows repeat
    * the verdict so a dashboard reads correctly).
    *
    * 100 TB shape: ONE row-scale aggregate to per-look cells
    * (maxBuckets-guarded — the [[msprt]] idiom); the scan
    * is driver arithmetic over looks. Everything replays in windowed
    * SQL. Returns one row per look: (bucket, n, successes, llr,
    * lower_bound, upper_bound, decision). */
  def sprt(df: DataFrame, bucket: Column, y: Column,
           p0: Double, p1: Double, alpha: Double = 0.05,
           beta: Double = 0.2, maxBuckets: Int = 100000): DataFrame = {
    require(p0 > 0 && p0 < 1 && p1 > 0 && p1 < 1,
      s"sprt: p0 and p1 must be in (0, 1), got $p0, $p1")
    require(p0 != p1, "sprt: p0 and p1 must differ — the LLR is 0 otherwise")
    require(alpha > 0 && alpha < 1 && beta > 0 && beta < 1,
      s"sprt: alpha and beta in (0, 1), got $alpha, $beta")
    val yi = y.cast("int")
    val cells = LocalCollapse.within(df.filter(yi.isNotNull && bucket.isNotNull)
      .groupBy(bucket.cast("long").as("bucket"))
      .agg(count(lit(1)).as("n"),
        sum(when(yi === 1, 1L).otherwise(0L)).as("s"),
        sum(when(yi =!= 0 && yi =!= 1, 1L).otherwise(0L)).as("bad"))
      .orderBy(col("bucket")), maxBuckets)(
      s"sprt produced more than $maxBuckets looks: coarsen the bucket " +
        "column or raise maxBuckets")
    require(cells.forall(_.getAs[Long]("bad") == 0L),
      "sprt: y has values outside {0, 1} — it must be a Bernoulli outcome")
    val lw = math.log(p1 / p0)
    val ll = math.log((1 - p1) / (1 - p0))
    val up = math.log((1 - beta) / alpha)
    val lo = math.log(beta / (1 - alpha))
    var cn = 0L; var cs = 0L
    var decided = "continue"
    val out = cells.map { r =>
      cn += r.getAs[Long]("n"); cs += r.getAs[Long]("s")
      val llr = cs * lw + (cn - cs) * ll
      if (decided == "continue") {
        if (llr >= up) decided = "accept_h1"
        else if (llr <= lo) decided = "accept_h0"
      }
      Row(r.getAs[Long]("bucket"), cn, cs, llr, lo, up, decided)
    }
    val schema = StructType(Seq(
      StructField("bucket", LongType), StructField("n", LongType),
      StructField("successes", LongType), StructField("llr", DoubleType),
      StructField("lower_bound", DoubleType),
      StructField("upper_bound", DoubleType),
      StructField("decision", StringType)))
    df.sparkSession.createDataFrame(
      df.sparkSession.sparkContext.parallelize(out.toSeq, 1), schema)
  }

  /** Anytime-valid sample-ratio-mismatch monitor: a Dirichlet-multinomial
    * mixture e-process over cumulative arm counts (Lindon & Malek 2022,
    * "Anytime-Valid Inference For Multinomial Count Data" — the sequential
    * complement to the fixed-horizon chi-square [[graft.agg.MoreAggs]]
    * srm). Peeking at a chi-square SRM daily inflates false alarms; the
    * e-process is a nonnegative martingale with E[E]=1 under the null
    * allocation, so p_m = min(1, 1/max_{j≤m} E_j) is valid at EVERY look.
    *
    * With cumulative counts n = (n_k) (N = Σn_k) at look m, null
    * proportions ρ (normalized), and Dirichlet prior α_k = alpha0:
    *
    *   log E_m = lgamma(Kα₀) − K·lgamma(α₀)
    *           + Σ_k lgamma(α₀ + n_k) − lgamma(Kα₀ + N)
    *           − Σ_k n_k ln ρ_k
    *
    * — the Dirichlet-multinomial marginal likelihood against the null
    * multinomial, in closed form: no integration, no tuning beyond the
    * prior weight alpha0 (1 = uniform Dirichlet; larger = more mass near
    * the null, later detection but tighter E under H0).
    *
    * 100 TB shape: ONE row-scale aggregate to (bucket × K-arm count)
    * cells (maxBuckets-guarded); cumulative scan and the
    * e-process run over those cells on the driver — the [[msprt]] idiom.
    * Arm values outside 0..K−1 fail fast in the same pass.
    *
    * Returns (bucket, n, log_e, p_always_valid), one row per look. */
  def srmSequential(df: DataFrame, bucket: Column, arm: Column,
                    ratios: Seq[Double], alpha0: Double = 1.0,
                    maxBuckets: Int = 100000): DataFrame = {
    val k = ratios.length
    require(k >= 2, "srm_sequential: need >= 2 arms")
    require(ratios.forall(_ > 0), "srm_sequential: ratios must be positive")
    require(alpha0 > 0, "srm_sequential: alpha0 must be positive")
    require(maxBuckets > 0, "srm_sequential: maxBuckets must be positive")
    val rho = ratios.map(_ / ratios.sum)
    val armI = arm.cast("long")
    val counts = (0 until k).map(a =>
      sum(when(armI === a, 1L).otherwise(0L)).as(s"c$a"))
    val bad = sum(when(armI < 0 || armI >= k, 1L).otherwise(0L)).as("bad")
    val cellRows = LocalCollapse.within(df
      .filter(bucket.isNotNull && armI.isNotNull)
      .groupBy(bucket.cast("long").as("bucket"))
      .agg(counts.head, (counts.tail :+ bad): _*)
      .orderBy(col("bucket")), maxBuckets)(
      s"srm_sequential produced more than $maxBuckets time buckets: " +
        "coarsen the bucket column or raise maxBuckets")
    val nBad = cellRows.map(_.getLong(k + 1)).sum
    require(nBad == 0,
      s"srm_sequential: $nBad rows have arm outside 0..${k - 1} " +
        s"(${ratios.length} ratios were given)")
    import org.apache.commons.math3.special.Gamma.logGamma
    val a0 = alpha0
    val logPrior = logGamma(k * a0) - k * logGamma(a0)
    val cum = new Array[Long](k)
    var maxLogE = Double.NegativeInfinity
    val out = cellRows.map { r =>
      var i = 0
      while (i < k) { cum(i) += r.getLong(i + 1); i += 1 }
      val n = cum.sum
      var logE = logPrior - logGamma(k * a0 + n)
      i = 0
      while (i < k) {
        logE += logGamma(a0 + cum(i)) - cum(i) * math.log(rho(i))
        i += 1
      }
      maxLogE = math.max(maxLogE, logE)
      Row(r.getLong(0), n, logE, math.min(1.0, math.exp(-maxLogE)))
    }
    val schema = StructType(Seq(
      StructField("bucket", LongType), StructField("n", LongType),
      StructField("log_e", DoubleType),
      StructField("p_always_valid", DoubleType)))
    df.sparkSession.createDataFrame(
      df.sparkSession.sparkContext.parallelize(out.toSeq, 1), schema)
  }

  /** Two-sided group-sequential z boundaries for a Lan–DeMets alpha-
    * spending function (O'Brien–Fleming-like or Pocock-like) — the
    * CLASSICAL fixed-look complement to [[msprt]]'s always-valid testing:
    * a platform that schedules K interim looks wants boundaries that
    * spend exactly alpha overall.
    *
    * Numerics: the Armitage–McPherson–Rowe recursion. The cumulative sum
    * process at information times t_k has independent normal increments;
    * its sub-density (mass that never crossed earlier boundaries) is
    * propagated on a trapezoid grid and each look's boundary is solved by
    * bisection so the incremental crossing probability equals the
    * spending increment. Pure driver math, fully deterministic; grid
    * error ~1e-6 z-units at the default resolution.
    *
    * Spending functions (Lan & DeMets 1983):
    *  - "obf":    a(t) = 2(1 − Φ(z_{α/2}/√t)) — miserly early, OBF-like
    *  - "pocock": a(t) = α·ln(1 + (e−1)t) — near-constant nominal levels
    *
    * Returns one row per look: (look, info_frac, alpha_spent,
    * z_boundary). */
  def groupSequentialBounds(spark: org.apache.spark.sql.SparkSession,
                            infoFractions: Seq[Double], alpha: Double = 0.05,
                            spending: String = "obf",
                            gridPoints: Int = 1601): DataFrame = {
    import graft.stats.Dist
    require(infoFractions.nonEmpty && infoFractions.forall(t => t > 0 && t <= 1.0)
      && infoFractions.sliding(2).forall(w => w.length < 2 || w(0) < w(1)),
      "info fractions must be increasing in (0, 1]")
    require(alpha > 0 && alpha < 1, s"bad alpha $alpha")
    val spend: Double => Double = spending.toLowerCase match {
      case "obf" =>
        val zref = Dist.normQuantile(1 - alpha / 2)
        t => 2.0 * (1.0 - Dist.normCdf(zref / math.sqrt(t)))
      case "pocock" => t => alpha * math.log(1.0 + (math.E - 1.0) * t)
      case other => throw new IllegalArgumentException(
        s"unknown spending function '$other' (use obf or pocock)")
    }
    val ts = infoFractions.toArray
    val K = ts.length
    // grid over the UNSTANDARDIZED sum S_k ~ N(0, t_k) truncated at 8 sd
    // of the final look; trapezoid weights
    val lo = -8.0 * math.sqrt(ts.last)
    val hi = 8.0 * math.sqrt(ts.last)
    val n = gridPoints
    val h = (hi - lo) / (n - 1)
    val xs = Array.tabulate(n)(i => lo + i * h)
    def phi(x: Double, v: Double): Double =
      math.exp(-x * x / (2.0 * v)) / math.sqrt(2.0 * math.Pi * v)
    // f = sub-density of S_k restricted to non-crossed paths
    var f: Array[Double] = null
    var tPrev = 0.0
    val out = new Array[(Int, Double, Double, Double)](K)
    var spent = 0.0
    for (k <- 0 until K) {
      val t = ts(k)
      val dv = t - tPrev
      val g = new Array[Double](n)
      if (f == null) {
        var i = 0
        while (i < n) { g(i) = phi(xs(i), dv); i += 1 }
      } else {
        // convolve the surviving mass with the new increment
        var i = 0
        while (i < n) {
          var s = 0.0
          var j = 0
          while (j < n) {
            val w = if (j == 0 || j == n - 1) 0.5 else 1.0
            s += w * f(j) * phi(xs(i) - xs(j), dv)
            j += 1
          }
          g(i) = s * h
          i += 1
        }
      }
      val target = math.min(spend(t), alpha) - spent // increment to spend
      // crossing mass outside |S| > b*sqrt(t), by trapezoid tail sums
      def crossProb(b: Double): Double = {
        val cut = b * math.sqrt(t)
        var s = 0.0
        var i = 0
        while (i < n) {
          if (math.abs(xs(i)) > cut) {
            val w = if (i == 0 || i == n - 1) 0.5 else 1.0
            s += w * g(i)
          }
          i += 1
        }
        s * h
      }
      var bLo = 0.0
      var bHi = 10.0
      var it = 0
      while (it < 80) { // bisection: crossProb is decreasing in b
        val mid = 0.5 * (bLo + bHi)
        if (crossProb(mid) > target) bLo = mid else bHi = mid
        it += 1
      }
      val b = 0.5 * (bLo + bHi)
      spent += math.max(0.0, math.min(crossProb(b), target))
      out(k) = (k + 1, t, math.min(spend(t), alpha), b)
      // zero out the crossed region for the next propagation
      val cut = b * math.sqrt(t)
      var i = 0
      while (i < n) { if (math.abs(xs(i)) > cut) g(i) = 0.0; i += 1 }
      f = g
      tPrev = t
    }
    import spark.implicits._
    out.toSeq.toDF("look", "info_frac", "alpha_spent", "z_boundary")
  }

  /** Data-driven group-sequential test: per-look cumulative two-sample z
    * statistics over time buckets (the [[msprt]] cell shape — ONE
    * row-scale aggregate, driver scan) against [[groupSequentialBounds]]
    * at the observed information fractions (cumulative pooled-variance
    * information, final look = full information). Returns one row per
    * look: (look, bucket, n1, n0, estimate, z, z_boundary, crossed). */
  def groupSequentialTest(df: DataFrame, bucket: Column, y: Column, t: Column,
                          alpha: Double = 0.05, spending: String = "obf",
                          maxBuckets: Int = 50): DataFrame = {
    // maxBuckets doubles as the look-count bound: every bucket is an
    // interim ANALYSIS here, and the boundary recursion is O(K·grid²) on
    // the driver — 50 looks is already far past any real review schedule
    // (coarsen the bucket column rather than raising this)
    val spark = df.sparkSession
    val yd = y.cast("double")
    val cellRows = LocalCollapse.within(df
      .filter(yd.isNotNull && t.isNotNull && bucket.isNotNull)
      .groupBy(bucket.cast("long").as("bucket"))
      .agg(
        sum(when(t === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(t === 1, yd).otherwise(0.0)).as("s1"),
        sum(when(t === 1, yd * yd).otherwise(0.0)).as("q1"),
        sum(when(t === 0, 1L).otherwise(0L)).as("n0"),
        sum(when(t === 0, yd).otherwise(0.0)).as("s0"),
        sum(when(t === 0, yd * yd).otherwise(0.0)).as("q0"))
      .orderBy(col("bucket")), maxBuckets)(
      s"group_sequential produced more than $maxBuckets time buckets: " +
        "coarsen the bucket column or raise maxBuckets")
    var cn1 = 0L; var cs1 = 0.0; var cq1 = 0.0
    var cn0 = 0L; var cs0 = 0.0; var cq0 = 0.0
    val looks = cellRows.flatMap { r =>
      cn1 += r.getLong(1); cs1 += r.getDouble(2); cq1 += r.getDouble(3)
      cn0 += r.getLong(4); cs0 += r.getDouble(5); cq0 += r.getDouble(6)
      if (cn1 < 2 || cn0 < 2) None
      else {
        val varP = ((cq1 - cs1 * cs1 / cn1) + (cq0 - cs0 * cs0 / cn0)) /
          (cn1 + cn0 - 2)
        val v = varP * (1.0 / cn1 + 1.0 / cn0)
        if (v <= 0) None
        else {
          val d = cs1 / cn1 - cs0 / cn0
          Some((r.getLong(0), cn1, cn0, d, 1.0 / v, d / math.sqrt(v)))
        }
      }
    }
    require(looks.nonEmpty, "group_sequential: no look reaches 2 obs per arm")
    val infoFull = looks.last._5
    val fracs = looks.map(_._5 / infoFull)
    val bounds = groupSequentialBounds(spark, fracs.toIndexedSeq, alpha,
      spending).collect()
    import spark.implicits._
    looks.zip(bounds).zipWithIndex.map { case (((b, n1, n0, d, _, z), br), i) =>
      (i + 1, b, n1, n0, d, z, br.getDouble(3), math.abs(z) > br.getDouble(3))
    }.toSeq.toDF("look", "bucket", "n1", "n0", "estimate", "z",
      "z_boundary", "crossed")
  }

  /** Grouped mSPRT — one always-valid p-value trajectory PER EXPERIMENT,
    * the shape a platform actually runs (its monitor watches every live
    * experiment, not one): identical math to [[msprt]], cells keyed by
    * (experiment, bucket) in ONE row-scale aggregate, the cumulative scan
    * restarting at each experiment boundary of the ordered cell array.
    * The guard bounds TOTAL (experiment × bucket) cells and the error
    * names both knobs. Returns
    * (experiment, bucket, n1, n0, estimate, lambda, p_always_valid). */
  def msprtBy(df: DataFrame, experiment: Column, bucket: Column, y: Column,
              t: Column, tau: Double = 1.0,
              maxCells: Int = 200000): DataFrame = {
    require(tau > 0, s"msprt_by: tau must be positive, got $tau")
    require(maxCells > 0, "msprt_by: maxCells must be positive")
    val yd = y.cast("double")
    val cellRows = LocalCollapse.within(df
      .filter(yd.isNotNull && t.isNotNull && bucket.isNotNull &&
        experiment.isNotNull)
      .groupBy(experiment.cast("string").as("experiment"),
        bucket.cast("long").as("bucket"))
      .agg(
        sum(when(t === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(t === 1, yd).otherwise(0.0)).as("s1"),
        sum(when(t === 1, yd * yd).otherwise(0.0)).as("q1"),
        sum(when(t === 0, 1L).otherwise(0L)).as("n0"),
        sum(when(t === 0, yd).otherwise(0.0)).as("s0"),
        sum(when(t === 0, yd * yd).otherwise(0.0)).as("q0"))
      .orderBy(col("experiment"), col("bucket")), maxCells)(
      s"msprt_by produced more than $maxCells (experiment x bucket) cells: " +
        "coarsen the bucket column, filter the experiment set, or raise " +
        "maxCells if the driver can hold the cells")
    val t2 = tau * tau
    var curExp: String = null
    var cn1 = 0L; var cs1 = 0.0; var cq1 = 0.0
    var cn0 = 0L; var cs0 = 0.0; var cq0 = 0.0
    var maxLam = Double.NegativeInfinity
    val out = cellRows.flatMap { r =>
      val g = r.getString(0)
      if (g != curExp) { // experiment boundary: restart the trajectory
        curExp = g
        cn1 = 0L; cs1 = 0.0; cq1 = 0.0
        cn0 = 0L; cs0 = 0.0; cq0 = 0.0
        maxLam = Double.NegativeInfinity
      }
      cn1 += r.getLong(2); cs1 += r.getDouble(3); cq1 += r.getDouble(4)
      cn0 += r.getLong(5); cs0 += r.getDouble(6); cq0 += r.getDouble(7)
      if (cn1 < 2 || cn0 < 2) None
      else {
        val varP = ((cq1 - cs1 * cs1 / cn1) + (cq0 - cs0 * cs0 / cn0)) /
          (cn1 + cn0 - 2)
        val v = varP * (1.0 / cn1 + 1.0 / cn0)
        if (v <= 0) None
        else {
          val d = cs1 / cn1 - cs0 / cn0
          val lam = math.sqrt(v / (v + t2)) *
            math.exp(d * d * t2 / (2.0 * v * (v + t2)))
          maxLam = math.max(maxLam, lam)
          Some(Row(g, r.getLong(1), cn1, cn0, d, lam,
            math.min(1.0, 1.0 / maxLam)))
        }
      }
    }
    val schema = StructType(Seq(
      StructField("experiment", StringType), StructField("bucket", LongType),
      StructField("n1", LongType), StructField("n0", LongType),
      StructField("estimate", DoubleType), StructField("lambda", DoubleType),
      StructField("p_always_valid", DoubleType)))
    df.sparkSession.createDataFrame(
      df.sparkSession.sparkContext.parallelize(out.toSeq, 1), schema)
  }
}
