package graft.ops

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Stratified and exact contingency-table inference — the adjusted-odds
  * companions to [[SimpleTests.chisq]] (which tests one marginal table).
  * Reference scope: the engine's experiment-analysis surface exposes
  * chi-square / SRM readouts over binary outcomes; these add the
  * stratum-adjusted (Mantel-Haenszel), exact-small-table (Fisher),
  * ordinal (Kendall/gamma over cells) and median (Mood) companions a
  * user reaches for next. All are cell-scale: ONE row-scale aggregate to
  * contingency cells, closed forms after.
  */
object Contingency {

  /** Mantel-Haenszel common odds ratio + Cochran-Mantel-Haenszel test
    * across strata (Mantel & Haenszel 1959; SE of log OR via
    * Robins-Breslow-Greenland 1986) — "is the treatment-outcome
    * association real AFTER conditioning on the stratifier", the
    * stratified-experiment readout that a pooled 2×2 gets wrong under
    * confounding (Simpson's reversal).
    *
    *   OR_MH = Σ_s (a·d/n) / Σ_s (b·c/n)
    *   Var(ln OR) = ΣPR/2R² + Σ(PS+QR)/2RS + ΣQS/2S²   (RBG)
    *   CMH χ² = (Σa − Σ(a+b)(a+c)/n)² / Σ (a+b)(c+d)(a+c)(b+d)/(n²(n−1))
    *
    * 100 TB shape: ONE groupBy(stratum) to 2×2 cells (map-side combined),
    * ONE cell-scale aggregate for every sum — stratum cardinality
    * unbounded, nothing collected but the output row. Strata with fewer
    * than 2 subjects are excluded (their CMH variance is 0/0); the count
    * of excluded strata is reported, not hidden. Everything replays in
    * two-level SQL; the p-value needs the χ² CDF, so oracle rows check
    * through the statistic. Returns one row: (strata, strata_skipped, n,
    * or_mh, log_or_se, or_lower, or_upper, cmh_chisq, p_value). */
  def mantelHaenszel(df: DataFrame, stratum: Column, t: Column, y: Column,
                     alpha: Double = 0.05): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val ti = t.cast("int")
    val yi = y.cast("int")
    val cells = df
      .filter(stratum.isNotNull && ti.isNotNull && yi.isNotNull)
      .groupBy(stratum.cast("string").as("s"))
      .agg(
        sum(when(ti === 1 && yi === 1, 1L).otherwise(0L)).as("a"),
        sum(when(ti === 1 && yi === 0, 1L).otherwise(0L)).as("b"),
        sum(when(ti === 0 && yi === 1, 1L).otherwise(0L)).as("c"),
        sum(when(ti === 0 && yi === 0, 1L).otherwise(0L)).as("d"),
        sum(when((ti =!= 0 && ti =!= 1) || (yi =!= 0 && yi =!= 1), 1L)
          .otherwise(0L)).as("bad"))
    val n = (col("a") + col("b") + col("c") + col("d")).cast("double")
    val ok = n >= 2.0 // a 1-subject stratum has CMH variance 0/0
    val (aa, bb, cc, dd) = (col("a").cast("double"), col("b").cast("double"),
      col("c").cast("double"), col("d").cast("double"))
    val rr = aa * dd / n
    val ss = bb * cc / n
    val pp = (aa + dd) / n
    val qq = (bb + cc) / n
    def k(c: Column): Column = sum(when(ok, c).otherwise(0.0))
    val r = cells.agg(
      sum(when(ok, 1L).otherwise(0L)).as("strata"),
      sum(when(!ok, 1L).otherwise(0L)).as("skipped"),
      k(n).as("ntot"), sum(col("bad")).as("bad"),
      k(rr).as("sumR"), k(ss).as("sumS"),
      k(pp * rr).as("sumPR"), k(pp * ss + qq * rr).as("sumPSQR"),
      k(qq * ss).as("sumQS"),
      k(aa).as("sumA"),
      k((aa + bb) * (aa + cc) / n).as("sumEA"),
      k((aa + bb) * (cc + dd) * (aa + cc) * (bb + dd) /
        (n * n * (n - 1))).as("sumVA")).head()
    require(r.getAs[Long]("bad") == 0,
      s"mantel_haenszel: ${r.getAs[Long]("bad")} rows have t or y outside {0, 1}")
    val strata = r.getAs[Long]("strata")
    require(strata >= 1, "mantel_haenszel: no stratum has >= 2 subjects")
    val skipped = r.getAs[Long]("skipped")
    val (sumR, sumS) = (r.getAs[Double]("sumR"), r.getAs[Double]("sumS"))
    require(sumR > 0 && sumS > 0,
      "mantel_haenszel: a zero diagonal across every stratum — the MH odds " +
        "ratio is degenerate (0 or infinite); check the outcome coding")
    val orMh = sumR / sumS
    val varLog = r.getAs[Double]("sumPR") / (2 * sumR * sumR) +
      r.getAs[Double]("sumPSQR") / (2 * sumR * sumS) +
      r.getAs[Double]("sumQS") / (2 * sumS * sumS)
    val se = math.sqrt(varLog)
    val z = graft.stats.Dist.normQuantile(1 - alpha / 2)
    val sumVA = r.getAs[Double]("sumVA")
    require(sumVA > 0,
      "mantel_haenszel: every stratum is degenerate in t or y — the CMH " +
        "variance is 0; the test needs within-stratum variation")
    val num = r.getAs[Double]("sumA") - r.getAs[Double]("sumEA")
    val chisq = num * num / sumVA
    val p = 1.0 - graft.stats.Dist.chiSqCdf(chisq, 1.0)
    Seq((strata, skipped, r.getAs[Double]("ntot").toLong, orMh, se,
        orMh * math.exp(-z * se), orMh * math.exp(z * se), chisq, p))
      .toDF("strata", "strata_skipped", "n", "or_mh", "log_or_se",
        "or_lower", "or_upper", "cmh_chisq", "p_value")
  }

  /** Breslow–Day test for homogeneity of odds ratios across strata
    * (Breslow & Day 1980 §IV.4) with the Tarone (1985) correction — the
    * check [[mantelHaenszel]] silently assumes: CMH pools a COMMON odds
    * ratio, and when the per-stratum ORs genuinely differ the pooled
    * number is the wrong summary (effect modification, not
    * confounding). Per usable stratum with margins (r1 = a+b,
    * c1 = a+c, n), the expected a under the MH common OR solves
    *
    *   (1−OR)·x² + [(n−r1−c1) + OR·(r1+c1)]·x − OR·r1·c1 = 0
    *
    * on max(0, r1+c1−n) < x < min(r1, c1) (the OR = 1 limit is the
    * independence expectation r1·c1/n); V = the harmonic cell variance
    * 1/(1/E + 1/(r1−E) + 1/(c1−E) + 1/(n−r1−c1+E));
    * T = Σ(a−E)²/V ~ χ²_{K−1}, and Tarone subtracts (Σ(a−E))²/ΣV.
    * Strata with a zero margin carry no OR information and are
    * excluded (strata_skipped).
    *
    * 100 TB shape: per-stratum 2×2 cells in ONE distributed aggregate
    * ([[mantelHaenszel]]'s shape), then the MH-OR sums and the
    * (a−E)-moment sums as two cell aggregates with the quadratic solve
    * as a codegen cell expression — no collect at any stratum count. */
  def breslowDay(df: DataFrame, stratum: Column, t: Column,
                 y: Column): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val ti = t.cast("int")
    val yi = y.cast("int")
    val cells = df
      .filter(stratum.isNotNull && ti.isNotNull && yi.isNotNull)
      .groupBy(stratum.cast("string").as("s"))
      .agg(
        sum(when(ti === 1 && yi === 1, 1L).otherwise(0L)).as("a"),
        sum(when(ti === 1 && yi === 0, 1L).otherwise(0L)).as("b"),
        sum(when(ti === 0 && yi === 1, 1L).otherwise(0L)).as("c"),
        sum(when(ti === 0 && yi === 0, 1L).otherwise(0L)).as("d"),
        sum(when((ti =!= 0 && ti =!= 1) || (yi =!= 0 && yi =!= 1), 1L)
          .otherwise(0L)).as("bad"))
      .persist()
    try {
      val (aa, bb, cc, dd) = (col("a").cast("double"),
        col("b").cast("double"), col("c").cast("double"),
        col("d").cast("double"))
      val n = aa + bb + cc + dd
      val ok = n >= 2.0
      val r1 = cells.agg(sum(col("bad")).as("bad"),
        sum(when(ok, aa * dd / n).otherwise(0.0)).as("sumR"),
        sum(when(ok, bb * cc / n).otherwise(0.0)).as("sumS")).head()
      require(r1.getAs[Long]("bad") == 0,
        s"breslow_day: ${r1.getAs[Long]("bad")} rows have t or y " +
          "outside {0, 1}")
      val (sumR, sumS) = (r1.getAs[Double]("sumR"), r1.getAs[Double]("sumS"))
      require(sumR > 0 && sumS > 0,
        "breslow_day: a zero diagonal across every stratum — the MH " +
          "common odds ratio is degenerate (0 or infinite)")
      val orMh = sumR / sumS
      val rr1 = aa + bb
      val cc1 = aa + cc
      val usable = rr1 > 0.0 && cc1 > 0.0 && rr1 < n && cc1 < n
      val qA = lit(1.0 - orMh)
      val qB = (n - rr1 - cc1) + lit(orMh) * (rr1 + cc1)
      val qC = lit(-orMh) * rr1 * cc1
      val disc = qB * qB - lit(4.0) * qA * qC
      val sq = sqrt(greatest(disc, lit(0.0)))
      val x1 = (lit(0.0) - qB + sq) / (lit(2.0) * qA)
      val x2 = (lit(0.0) - qB - sq) / (lit(2.0) * qA)
      val lo = greatest(lit(0.0), rr1 + cc1 - n)
      val hi = least(rr1, cc1)
      val pick = when(abs(qA) < 1e-12, rr1 * cc1 / n)
        .when(x1 > lo && x1 < hi, x1)
        .otherwise(x2)
      // float-safety clamp: the interior solution exists for every
      // usable stratum, but a root can land on the boundary in floats,
      // where V's harmonic terms divide by zero
      val e = least(greatest(pick, lo + lit(1e-12)), hi - lit(1e-12))
      val v = lit(1.0) / (lit(1.0) / e + lit(1.0) / (rr1 - e) +
        lit(1.0) / (cc1 - e) + lit(1.0) / (n - rr1 - cc1 + e))
      def u(c0: Column): Column = sum(when(usable, c0).otherwise(0.0))
      val r2 = cells.agg(
        sum(when(usable, 1L).otherwise(0L)).as("k"),
        sum(when(!usable, 1L).otherwise(0L)).as("skipped"),
        u((aa - e) * (aa - e) / v).as("t0"),
        u(aa - e).as("sd"), u(v).as("sv")).head()
      val k = r2.getAs[Long]("k")
      require(k >= 2,
        s"breslow_day: need >= 2 strata with all four margins nonzero, " +
          s"got $k")
      val t0 = r2.getAs[Double]("t0")
      val sv = r2.getAs[Double]("sv")
      val tarone = t0 - r2.getAs[Double]("sd") * r2.getAs[Double]("sd") / sv
      val dfT = (k - 1).toDouble
      val p0 = 1.0 - graft.stats.Dist.chiSqCdf(t0, dfT)
      val pT = 1.0 - graft.stats.Dist.chiSqCdf(math.max(tarone, 0.0), dfT)
      Seq((k, r2.getAs[Long]("skipped"), orMh, t0, p0,
        math.max(tarone, 0.0), pT, dfT.toLong))
        .toDF("strata", "strata_skipped", "or_mh", "bd_chisq", "p_value",
          "tarone_chisq", "tarone_p", "df")
    } finally {
      cells.unpersist()
      ()
    }
  }

  /** Fisher's exact test for a 2×2 table — the small-count companion to
    * [[SimpleTests.chisq]] (whose χ² approximation breaks below ~5
    * expected per cell): condition on both margins, enumerate the
    * hypergeometric support, sum the tables at-most-as-likely as the
    * observed one (the standard two-sided definition, with the 1+1e-7
    * tolerance R uses for ties).
    *
    * 100 TB shape: ONE conditional-count aggregate; the enumeration is
    * min(r1, c1) driver iterations of lgamma arithmetic — by
    * construction this test is for SMALL tables, so the support is
    * guarded at `maxSupport` with the χ² test named as the at-scale
    * alternative. Everything (including the enumeration) replays in SQL
    * via generate_series + lgamma. Returns one row:
    * (n, n11, n10, n01, n00, odds_ratio, p_two_sided, p_greater). */
  def fisherExact(df: DataFrame, a: Column, b: Column,
                  maxSupport: Long = 1000000L): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    import org.apache.commons.math3.special.Gamma.logGamma
    val ai = a.cast("int")
    val bi = b.cast("int")
    val r = df.filter(ai.isNotNull && bi.isNotNull).agg(
      count(lit(1)).as("n"),
      sum(when(ai === 1 && bi === 1, 1L).otherwise(0L)).as("n11"),
      sum(when(ai === 1 && bi === 0, 1L).otherwise(0L)).as("n10"),
      sum(when(ai === 0 && bi === 1, 1L).otherwise(0L)).as("n01"),
      sum(when((ai =!= 0 && ai =!= 1) || (bi =!= 0 && bi =!= 1), 1L)
        .otherwise(0L)).as("bad")).head()
    require(r.getAs[Long]("bad") == 0,
      s"fisher_exact: ${r.getAs[Long]("bad")} rows have values outside {0, 1}")
    val nT = r.getAs[Long]("n")
    val n11 = r.getAs[Long]("n11")
    val n10 = r.getAs[Long]("n10")
    val n01 = r.getAs[Long]("n01")
    val n00 = nT - n11 - n10 - n01
    val r1 = n11 + n10
    val c1 = n11 + n01
    val kMin = math.max(0L, r1 + c1 - nT)
    val kMax = math.min(r1, c1)
    require(kMax - kMin <= maxSupport,
      s"fisher_exact: hypergeometric support ${kMax - kMin} exceeds " +
        s"maxSupport=$maxSupport — at these counts the exact test is " +
        "numerically identical to chisq(); use that instead (or raise " +
        "maxSupport)")
    def lchoose(nn: Long, kk: Long): Double =
      logGamma(nn + 1.0) - logGamma(kk + 1.0) - logGamma(nn - kk + 1.0)
    val denom = lchoose(nT, c1)
    def logP(k: Long): Double =
      lchoose(r1, k) + lchoose(nT - r1, c1 - k) - denom
    val lpObs = logP(n11)
    var pTwo = 0.0
    var pGe = 0.0
    var k = kMin
    while (k <= kMax) {
      val p = math.exp(logP(k))
      if (logP(k) <= lpObs + math.log1p(1e-7)) pTwo += p
      if (k >= n11) pGe += p
      k += 1
    }
    val orHat =
      if (n10 == 0 || n01 == 0) Double.PositiveInfinity
      else n11.toDouble * n00 / (n10.toDouble * n01)
    Seq((nT, n11, n10, n01, n00, orHat, math.min(1.0, pTwo), math.min(1.0, pGe)))
      .toDF("n", "n11", "n10", "n01", "n00", "odds_ratio",
        "p_two_sided", "p_greater")
  }

  /** Ordinal association over a contingency table — Kendall's tau-b,
    * Goodman-Kruskal gamma and Somers' D(y|x) from concordant/discordant
    * pair counts (Agresti, Analysis of Ordinal Categorical Data §2),
    * WITH asymptotic inference for gamma and Somers' D (Agresti §3.4 /
    * Goodman-Kruskal 1963 delta-method ASEs, plus the H0 "test-based"
    * variances — the SAS PROC FREQ pair of variance estimates): the
    * monotone-association readout for ORDINAL columns (ratings, quality
    * buckets, Likert scales) where Pearson's r overclaims and row-level
    * Kendall is O(n²).
    *
    * With per-cell neighbor sums A_ij (concordant mass) and B_ij
    * (discordant mass), P = Σ n_ij·A_ij = 2C, Q = Σ n_ij·B_ij = 2D:
    *
    *   tau_b = (C−D)/√((C+D+Tx)(C+D+Ty)),   gamma = (C−D)/(C+D),
    *   somers_d(y|x) = (P−Q)/w,  w = n² − Σ_i n_i+²  (= 2(C+D+Ty))
    *   ASE²(gamma)   = 16 Σ n_ij (Q·A_ij − P·B_ij)² / (P+Q)⁴
    *   ASE²(somers)  = 4 Σ n_ij (w(A_ij−B_ij) − (P−Q)(n−n_i+))² / w⁴
    *   var0(gamma)   = 16 (Σ n_ij (A_ij−B_ij)² − (P−Q)²/n) / (P+Q)²
    *   var0(somers)  =  4 (Σ n_ij (A_ij−B_ij)² − (P−Q)²/n) / w²
    *
    * ASEs are the confidence-interval SEs; z/p use var0 (the
    * independence-null variance estimate, the standard test pairing —
    * gamma_z = gamma/√var0(gamma) etc.). Validated in spec against a
    * brute-force O(n²) row-pair implementation (exact), a numeric
    * delta-method gradient under the multinomial covariance (ASEs), and
    * the exact permutation-null variance of C−D on a tied fixture (the
    * kendall_tau discipline — Somers' denominator is margin-fixed, so
    * its exact permutation z is S/√Var(S)).
    *
    * 100 TB shape: ONE row-scale groupBy to (x, y) cells — pair counting
    * then runs on CELLS, O(cells²) on the driver, so row count is
    * unbounded while the ordinal domain stays small (that is what
    * "ordinal" means; the `maxCells` guard names the contract). Replays
    * in SQL via a cells self-join. Returns one row:
    * (n, cells, concordant, discordant, tau_b, gamma, gamma_ase,
    * gamma_z, gamma_p, somers_d, somers_ase, somers_z, somers_p). */
  def ordinalAssoc(df: DataFrame, x: Column, y: Column,
                   maxCells: Int = 5000): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val xd = x.cast("double")
    val yd = y.cast("double")
    val cells = graft.stats.LocalCollapse.within(
      df.filter(xd.isNotNull && yd.isNotNull)
        .groupBy(xd.as("x"), yd.as("y")).agg(count(lit(1)).as("c")), maxCells)(
      s"ordinal_assoc: more than $maxCells distinct (x, y) cells — this " +
        "statistic is for ordinal domains; bin the columns first " +
        "(cut_bins) or raise maxCells")
    require(cells.length >= 2, "ordinal_assoc: need at least 2 distinct cells")
    val cs = cells.map(r => (r.getDouble(0), r.getDouble(1), r.getLong(2)))
    val m = cs.length
    // per-cell concordant/discordant neighbor mass (A_ij / B_ij): each
    // unordered cell pair contributes to BOTH ends, so the i<j loop
    // stays O(cells²/2)
    val aMass = new Array[Double](m)
    val bMass = new Array[Double](m)
    var conc = 0.0; var disc = 0.0; var tx = 0.0; var ty = 0.0
    var n = 0L
    var i = 0
    while (i < m) {
      n += cs(i)._3
      var j = i + 1
      while (j < m) {
        val (xi, yi, ni) = cs(i)
        val (xj, yj, nj) = cs(j)
        val w = ni.toDouble * nj
        if (xi == xj) { if (yi != yj) tx += w }
        else if (yi == yj) ty += w
        else if ((xi < xj) == (yi < yj)) {
          conc += w; aMass(i) += nj.toDouble; aMass(j) += ni.toDouble
        } else {
          disc += w; bMass(i) += nj.toDouble; bMass(j) += ni.toDouble
        }
        j += 1
      }
      i += 1
    }
    require(conc + disc > 0,
      "ordinal_assoc: no untied pairs — a column is constant")
    val tauB = (conc - disc) /
      math.sqrt((conc + disc + tx) * (conc + disc + ty))
    val gamma = (conc - disc) / (conc + disc)
    val somersD = (conc - disc) / (conc + disc + ty)
    // x-margin totals n_i+ (Somers' D(y|x) conditions on x)
    val rowTot = cs.groupBy(_._1).map { case (k, v) => k -> v.map(_._3).sum }
    val nd = n.toDouble
    val p2 = 2.0 * conc; val q2 = 2.0 * disc // P, Q (double-counted)
    val wS = 2.0 * (conc + disc + ty)        // = n² − Σ n_i+²
    var sGam = 0.0; var sCd2 = 0.0; var sSom = 0.0
    i = 0
    while (i < m) {
      val (xi, _, ni) = cs(i)
      val d = aMass(i) - bMass(i)
      val gTerm = q2 * aMass(i) - p2 * bMass(i)
      val sTerm = wS * d - (p2 - q2) * (nd - rowTot(xi))
      sGam += ni * gTerm * gTerm
      sCd2 += ni * d * d
      sSom += ni * sTerm * sTerm
      i += 1
    }
    val pq = p2 + q2
    val gammaAse = 4.0 * math.sqrt(sGam) / (pq * pq)
    val somersAse = 2.0 * math.sqrt(sSom) / (wS * wS)
    val var0Core = sCd2 - (p2 - q2) * (p2 - q2) / nd
    val gammaVar0 = 16.0 * var0Core / (pq * pq)
    val somersVar0 = 4.0 * var0Core / (wS * wS)
    def zp(est: Double, v0: Double): (Double, Double) =
      if (v0 > 0) {
        val z = est / math.sqrt(v0)
        (z, 2.0 * (1.0 - graft.stats.Dist.normCdf(math.abs(z))))
      } else (Double.NaN, Double.NaN)
    val (gz, gp) = zp(gamma, gammaVar0)
    val (sz, sp) = zp(somersD, somersVar0)
    Seq((n, cells.length.toLong, conc, disc, tauB,
      gamma, gammaAse, gz, gp, somersD, somersAse, sz, sp))
      .toDF("n", "cells", "concordant", "discordant", "tau_b",
        "gamma", "gamma_ase", "gamma_z", "gamma_p",
        "somers_d", "somers_ase", "somers_z", "somers_p")
  }

  /** Mood's median test — k-group location test on counts above the
    * pooled median (Mood 1950): the maximally outlier-proof alternative
    * to ANOVA (#58) and Kruskal-Wallis when only "above/below the
    * middle" can be trusted.
    *
    * TWO row-scale passes: pooled median via [[Robust.pctile]]
    * (`exact = false` default = the percentile_approx sketch, the 100 TB
    * path; `exact = true` = the house exact `percentile`, gate parity),
    * then ONE groupBy(group) counting above/at-or-below;
    * Pearson χ² over the resulting 2×k cells, df = k−1. Group
    * cardinality unbounded (cell-scale aggregate); ties AT the median
    * count as "not above" (document when comparing to tools that drop
    * them). Returns one row: (n, k, grand_median, chisq, df, p_value). */
  def moodMedian(df: DataFrame, y: Column, group: Column,
                 exact: Boolean = false,
                 maxLocalCells: Int = Robust.MaxLocalCells): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val yd = y.cast("double")
    val base = df.filter(yd.isNotNull && group.isNotNull)
      .select(yd.as("__y"), group.cast("string").as("__g"))
    if (exact) {
      // bounded driver collapse (graft.stats.LocalCollapse); NaN values bail
      val byGV = base.groupBy(col("__g"), col("__y"))
        .agg(count(lit(1)).as("c"))
      graft.stats.LocalCollapse.collect(byGV, maxLocalCells) match {
        case Some(rows)
            if rows.forall(r => !r.getDouble(1).isNaN) =>
          val m = rows.length
          // value histogram (merge across groups) for the grand median
          val byV = Robust.sortRows(rows, 1)
          val vs = new Array[Double](m); val cs = new Array[Long](m)
          var w = -1
          var i = 0
          while (i < m) {
            val r = byV(i)
            if (w >= 0 && vs(w) == r.getDouble(1)) cs(w) += r.getLong(2)
            else { w += 1; vs(w) = r.getDouble(1); cs(w) = r.getLong(2) }
            i += 1
          }
          val med = Robust.quantilesOnLocalHist(
            java.util.Arrays.copyOf(vs, w + 1),
            java.util.Arrays.copyOf(cs, w + 1), Seq(0.5), "mood_median")(0)
          // per-group (n, above) in sorted-group order (deterministic)
          val byG = scala.collection.mutable.TreeMap.empty[String, (Long, Long)]
          i = 0
          while (i < m) {
            val r = rows(i)
            val g = r.getString(0); val c = r.getLong(2)
            val a = if (r.getDouble(1) > med) c else 0L
            val prev = byG.getOrElse(g, (0L, 0L))
            byG(g) = (prev._1 + c, prev._2 + a)
            i += 1
          }
          val k = byG.size.toLong
          require(k >= 2, s"mood_median: need at least 2 groups, got $k")
          val nTot = byG.valuesIterator.map(_._1).sum.toDouble
          val aTot = byG.valuesIterator.map(_._2).sum.toDouble
          require(aTot > 0 && aTot < nTot,
            "mood_median: every value is on one side of the median — the " +
              "above-share is degenerate (heavy ties at the median?)")
          var chisq = 0.0
          byG.valuesIterator.foreach { case (ng, ag) =>
            val e = ng * (aTot / nTot)
            val e2 = ng * ((nTot - aTot) / nTot)
            val d1 = ag - e
            val d2 = (ng - ag) - e2
            chisq += d1 * d1 / e + d2 * d2 / e2
          }
          val p = 1.0 - graft.stats.Dist.chiSqCdf(chisq, (k - 1).toDouble)
          return Seq((nTot.toLong, k, med, chisq, k - 1, p))
            .toDF("n", "k", "grand_median", "chisq", "df", "p_value")
        case _ => ()
      }
    }
    // exact path: histogram + prefix-sum order statistic (same value as
    // Spark `percentile`, none of its all-values aggregation buffer)
    val med =
      if (exact)
        Robust.exactQuantiles(base, col("__y"), Seq(0.5), "mood_median")(0)
      else base.agg(Robust.pctile(col("__y"), lit(0.5), exact))
        .head().getDouble(0)
    val g = base.groupBy(col("__g"))
      .agg(count(lit(1)).as("ng"),
        sum(when(col("__y") > med, 1L).otherwise(0L)).as("ag"))
    val r = g.agg(count(lit(1)).as("k"), sum(col("ng")).as("n"),
      sum(col("ag")).as("a")).head()
    val k = r.getAs[Long]("k")
    require(k >= 2, s"mood_median: need at least 2 groups, got $k")
    val nTot = r.getAs[Long]("n").toDouble
    val aTot = r.getAs[Long]("a").toDouble
    require(aTot > 0 && aTot < nTot,
      "mood_median: every value is on one side of the median — the " +
        "above-share is degenerate (heavy ties at the median?)")
    val chisq = g.agg(sum {
      val e = col("ng") * (aTot / nTot)
      val e2 = col("ng") * ((nTot - aTot) / nTot)
      val d1 = col("ag") - e
      val d2 = (col("ng") - col("ag")) - e2
      d1 * d1 / e + d2 * d2 / e2
    }).head().getDouble(0)
    val p = 1.0 - graft.stats.Dist.chiSqCdf(chisq, (k - 1).toDouble)
    Seq((r.getAs[Long]("n"), k, med, chisq, k - 1, p))
      .toDF("n", "k", "grand_median", "chisq", "df", "p_value")
  }

  /** Cochran-Armitage trend test — ALIAS of
    * [[graft.ops.SimpleTests.trendTest]] (the identical one-df ordered
    * dose-response statistic; SURVEY rows #106 and #180 are one
    * operator). trendTest is the single implementation: ONE (dose) cell
    * aggregate with unbounded arm cardinality + ONE cell-scale aggregate
    * — no driver-side collect of the dose domain, so a continuous dose
    * column cannot OOM the driver (the r15 duplicate here collected
    * every distinct dose value; deleted in r16). Columns renamed to the
    * dose-response vocabulary. Returns one row:
    * (n, k, pooled_rate, t, var_t, z, p_value). */
  def cochranArmitage(df: DataFrame, dose: Column, y: Column): DataFrame =
    try SimpleTests.trendTest(df, y, dose)
      .toDF("n", "k", "pooled_rate", "t", "var_t", "z", "p_value")
    catch {
      // the delegate's requirement messages name trendTest's vocabulary
      // (verb "trend_test", columns "success"/"score") — a SQL user who
      // invoked cochran_armitage(dose, y) must see THIS verb's vocabulary
      // in the named error, not the delegate's
      case e: IllegalArgumentException if e.getMessage != null &&
        e.getMessage.contains("trend_test:") =>
        // exact known-prefix rewrites only (a blanket .replace("success",
        // "y") would mangle any future delegate message that happens to
        // contain the substring in another context), with the original
        // chained as the cause so the delegate's stack survives
        throw new IllegalArgumentException(e.getMessage
          .replace("trend_test:", "cochran_armitage:")
          .replace("rows have success outside", "rows have y outside")
          .replace("distinct scores", "distinct doses")
          .replace("zero score variance", "zero dose variance"), e)
    }
}
