package graft.ops

import graft.stats.LocalCollapse
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Synthetic control (Abadie & Gardeazabal 2003; Abadie, Diamond &
  * Hainmueller 2010) — the panel-data causal method for ONE treated unit
  * and a donor pool: find weights w ≥ 0, Σw = 1 over donor units whose
  * weighted outcome path matches the treated unit's PRE-period path in
  * least squares; the POST-period gap treated − synthetic is the effect
  * path. Beyond the reference (its causal tier is cross-sectional:
  * matching / DML / DID — nothing for comparative case studies).
  *
  * 100 TB shape: the panel collapses to (unit, period) mean-outcome cells
  * in ONE row-scale aggregate with a `maxCells` guard (units × periods
  * is report-sized by definition — a unit is a region/product/cohort,
  * not a row id). The simplex-constrained
  * quadratic then solves on the driver by Frank–Wolfe with EXACT line
  * search — deterministic (no RNG, no solver library): at each step the
  * gradient's best vertex is the move direction and the optimal step for
  * a quadratic objective is closed-form. Iteration count is bounded and
  * the duality gap gives a certified stop.
  */
object SynthControl {

  case class SynthResult(donors: Array[String], weights: Array[Double],
                         preRmse: Double, iterations: Int, dualityGap: Double,
                         path: DataFrame)

  /** Fit weights on the pre-period panel and score every period.
    *
    * @param unit    unit label column (cast to string)
    * @param period  numeric period column (cast to double; cells are mean
    *                outcome per (unit, period))
    * @param y       outcome
    * @param treatedUnit  label of the treated unit (all others = donors)
    * @param preEnd  periods ≤ preEnd are the fit window; later ones are
    *                scored out-of-sample (the effect path)
    * @return weights over donors + per-period path
    *         (period, is_pre, y_treated, y_synth, gap), ascending. */
  /** Collected complete-panel cells: every unit's period → mean outcome. */
  private case class Panel(periods: Array[Double], prePeriods: Array[Double],
                           paths: Map[String, Map[Double, Double]])

  private def collectPanel(df: DataFrame, unit: Column, period: Column,
                           y: Column, treatedUnit: String, preEnd: Double,
                           maxCells: Int): Panel = {
    val cells = LocalCollapse.within(df
      .filter(unit.isNotNull && period.isNotNull && y.isNotNull)
      .groupBy(unit.cast("string").as("u"), period.cast("double").as("p"))
      .agg(avg(y.cast("double")).as("v"))
      .orderBy(col("u"), col("p")), maxCells)(
      s"synth_control produced more than $maxCells (unit x period) cells — " +
        "these are not panel units/periods; raise maxCells if they are")
    val byUnit = cells.groupBy(_.getString(0))
    require(byUnit.contains(treatedUnit),
      s"synth_control: treated unit '$treatedUnit' not present")
    val periods = cells.map(_.getDouble(1)).distinct.sorted
    val prePeriods = periods.filter(_ <= preEnd)
    require(prePeriods.length >= 2,
      s"synth_control: need >= 2 pre-periods at preEnd=$preEnd, " +
        s"got ${prePeriods.length}")
    // complete-panel requirement: a donor missing any period would need
    // imputation semantics this op does not define — fail fast, listing
    // the balanced alternative (filter the donor pool upstream)
    val full = byUnit.filter(_._2.length == periods.length)
    require(full.contains(treatedUnit),
      "synth_control: treated unit is missing periods — balance the panel")
    Panel(periods, prePeriods,
      full.view.mapValues(_.map(r => r.getDouble(1) -> r.getDouble(2)).toMap)
        .toMap)
  }

  /** Pairwise Frank–Wolfe solve of min ||Aw − b||² + ridge·||w||² over
    * the unit simplex (ridge = 0 is the plain synthetic-control fit;
    * [[synthDid]] passes ζ²·T_pre — the objective stays quadratic, so
    * the exact pairwise step only gains a ridge term in gradient and
    * curvature). Returns (weights, iterations, duality gap). */
  private def fwFit(b: Array[Double], A: Array[Array[Double]],
                    maxIter: Int, tol: Double, ridge: Double = 0.0)
      : (Array[Double], Int, Double) = {
    val nPre = b.length
    val k = A(0).length
    val w = Array.fill(k)(1.0 / k)
    val aw = new Array[Double](nPre)
    def recomputeAw(): Unit = {
      var t = 0
      while (t < nPre) {
        var s = 0.0; var j = 0
        while (j < k) { s += A(t)(j) * w(j); j += 1 }
        aw(t) = s; t += 1
      }
    }
    recomputeAw()
    // PAIRWISE Frank-Wolfe: shift mass from the worst ACTIVE vertex (max
    // gradient among w_j > 0) to the best vertex, exact step. Classic FW
    // zig-zags sublinearly when the optimum sits on a simplex face (the
    // typical synthetic-control solution — most donors at exactly 0);
    // the pairwise variant converges linearly and zeroes coordinates
    // exactly. Deterministic throughout: no RNG, ties break to the
    // lowest index.
    var it = 0
    var gap = Double.PositiveInfinity
    while (it < maxIter && gap > tol) {
      // gradient g = 2 A^T (Aw - b)
      val g = new Array[Double](k)
      var j = 0
      while (j < k) {
        var s = 0.0; var t = 0
        while (t < nPre) { s += A(t)(j) * (aw(t) - b(t)); t += 1 }
        g(j) = 2.0 * s + 2.0 * ridge * w(j); j += 1
      }
      var best = 0
      var away = -1
      j = 0
      while (j < k) {
        if (g(j) < g(best)) best = j
        if (w(j) > 0.0 && (away < 0 || g(j) > g(away))) away = j
        j += 1
      }
      // FW duality gap: g . (w - e_best) >= f(w) - f(w*)
      gap = 0.0
      j = 0
      while (j < k) { gap += g(j) * w(j); j += 1 }
      gap -= g(best)
      if (gap > tol && away >= 0 && away != best) {
        // direction d = e_best - e_away; exact quadratic step
        // gamma* = (g_away - g_best) / (2 ||A d||^2), capped by w(away)
        val ad = new Array[Double](nPre)
        var ad2 = 0.0
        var t = 0
        while (t < nPre) {
          val v = A(t)(best) - A(t)(away)
          ad(t) = v; ad2 += v * v; t += 1
        }
        val curv = ad2 + 2.0 * ridge // ||d||² = 2 for e_best − e_away
        val gamma =
          if (curv <= 0.0) 0.0
          else math.min(w(away), (g(away) - g(best)) / (2.0 * curv))
        if (gamma <= 0.0) gap = 0.0 // no descent pair left: at the optimum
        else {
          w(away) -= gamma
          if (w(away) < 1e-15) w(away) = 0.0 // exact face landing
          w(best) += gamma
          t = 0
          while (t < nPre) { aw(t) += gamma * ad(t); t += 1 }
        }
      } else if (away == best) gap = 0.0
      it += 1
    }
    (w, it, gap)
  }

  /** Fit one unit against a donor pool over the collected panel; returns
    * (weights, iterations, gap, preRmse, postRmse). */
  private def fitOne(panel: Panel, target: String, donors: Array[String],
                     preEnd: Double, maxIter: Int, tol: Double)
      : (Array[Double], Int, Double, Double, Double) = {
    val targetPath = panel.paths(target)
    val donorPaths = donors.map(panel.paths)
    val nPre = panel.prePeriods.length
    val k = donors.length
    val b = panel.prePeriods.map(targetPath)
    val A = Array.tabulate(nPre, k)((t, j) => donorPaths(j)(panel.prePeriods(t)))
    val (w, it, gap) = fwFit(b, A, maxIter, tol)
    def rmse(ps: Array[Double]): Double =
      if (ps.isEmpty) 0.0
      else math.sqrt(ps.map { p =>
        var synth = 0.0
        var j = 0
        while (j < k) { synth += w(j) * donorPaths(j)(p); j += 1 }
        val e = targetPath(p) - synth
        e * e
      }.sum / ps.length)
    val postPeriods = panel.periods.filter(_ > preEnd)
    (w, it, gap, rmse(panel.prePeriods), rmse(postPeriods))
  }

  def synthControl(df: DataFrame, unit: Column, period: Column, y: Column,
                   treatedUnit: String, preEnd: Double,
                   maxIter: Int = 2000, tol: Double = 1e-12,
                   maxCells: Int = 200000): SynthResult = {
    val spark = df.sparkSession
    val panel = collectPanel(df, unit, period, y, treatedUnit, preEnd, maxCells)
    val donors = panel.paths.keys.filter(_ != treatedUnit).toArray.sorted
    require(donors.length >= 2,
      s"synth_control: need >= 2 complete donors, got ${donors.length} " +
        "(incomplete units are excluded — balance the panel upstream)")
    val (w, it, gap, preRmse, _) =
      fitOne(panel, treatedUnit, donors, preEnd, maxIter, tol)
    val donorPaths = donors.map(panel.paths)
    val treatedPath = panel.paths(treatedUnit)
    val k = donors.length
    val rows = panel.periods.map { p =>
      var synth = 0.0
      var j = 0
      while (j < k) { synth += w(j) * donorPaths(j)(p); j += 1 }
      val yt = treatedPath(p)
      Row(p, p <= preEnd, yt, synth, yt - synth)
    }
    val schema = StructType(Seq(
      StructField("period", DoubleType), StructField("is_pre", BooleanType),
      StructField("y_treated", DoubleType), StructField("y_synth", DoubleType),
      StructField("gap", DoubleType)))
    val pathDf = spark.createDataFrame(
      scala.jdk.CollectionConverters.SeqHasAsJava(rows.toSeq).asJava, schema)
    SynthResult(donors, w, preRmse, it, gap, pathDf)
  }

  /** In-space placebo inference (Abadie, Diamond & Hainmueller 2010
    * §2.2): refit the synthetic control with EACH complete donor as the
    * pseudo-treated unit (donor pool = the other donors — the truly
    * treated unit is excluded from every placebo pool), and rank the
    * treated unit's post/pre RMSE ratio within the placebo distribution.
    * Under "no effect anywhere", the treated ratio is exchangeable with
    * the placebos, so p = rank / (1 + #placebos) is an exact
    * randomization p-value.
    *
    * The cell frame is collected ONCE (same guard as [[synthControl]]);
    * the k extra Frank–Wolfe solves are driver arithmetic over those
    * cells. Returns one row per unit:
    * (unit, is_treated, pre_rmse, post_rmse, rmse_ratio, rank, p_value),
    * rank = #units with ratio >= this unit's (ties count), descending
    * ratio order — the treated row's p_value IS the placebo p. A placebo
    * with pre_rmse = 0 gets ratio = +Infinity unless its post_rmse is
    * also 0 (then 0/0 := 0, an exactly-reproduced flat unit). Callers
    * following ADH's poorly-fit-placebo exclusion can filter the table
    * on pre_rmse before re-ranking. */
  def placeboTest(df: DataFrame, unit: Column, period: Column, y: Column,
                  treatedUnit: String, preEnd: Double,
                  maxIter: Int = 2000, tol: Double = 1e-12,
                  maxCells: Int = 200000): DataFrame = {
    val spark = df.sparkSession
    val panel = collectPanel(df, unit, period, y, treatedUnit, preEnd, maxCells)
    require(panel.periods.exists(_ > preEnd),
      s"synth_placebo: no post-periods after preEnd=$preEnd — " +
        "nothing to rank")
    val donors = panel.paths.keys.filter(_ != treatedUnit).toArray.sorted
    require(donors.length >= 3,
      s"synth_placebo: need >= 3 complete donors (each placebo fit " +
        s"needs >= 2 of the others), got ${donors.length}")
    def ratio(pre: Double, post: Double): Double =
      if (pre > 0.0) post / pre else if (post == 0.0) 0.0
      else Double.PositiveInfinity
    val fits = (treatedUnit +: donors.toSeq).map { u =>
      val pool = donors.filter(_ != u)
      val (_, _, _, pre, post) = fitOne(panel, u, pool, preEnd, maxIter, tol)
      (u, u == treatedUnit, pre, post, ratio(pre, post))
    }
    val n = fits.length
    val rows = fits
      .sortBy { case (u, _, _, _, r) => (-r, u) }
      .map { case (u, isT, pre, post, r) =>
        val rank = fits.count(_._5 >= r)
        Row(u, isT, pre, post, r, rank, rank.toDouble / n)
      }
    val schema = StructType(Seq(
      StructField("unit", StringType), StructField("is_treated", BooleanType),
      StructField("pre_rmse", DoubleType), StructField("post_rmse", DoubleType),
      StructField("rmse_ratio", DoubleType), StructField("rank", IntegerType),
      StructField("p_value", DoubleType)))
    spark.createDataFrame(
      scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava, schema)
  }

  /** Synthetic difference-in-differences (Arkhangelsky, Athey,
    * Hirshberg, Imbens & Wager 2021): the weighted two-way DID
    *
    *   τ̂ = (ȳ_tr,post − Σ_t λ̂_t ȳ_tr,t) − Σ_i ω̂_i (ȳ_i,post − Σ_t λ̂_t y_it)
    *
    * with UNIT weights ω̂ (simplex + intercept, ridge ζ_ω²·T_pre,
    * ζ_ω = (N_tr·T_post)^¼·σ̂_Δ over the donor pre-period first
    * differences — the paper's default) matching donors to the treated
    * pre-trend, and TIME weights λ̂ (simplex + intercept, ridge
    * ζ_λ²·N_co, ζ_λ = 10⁻⁶·σ̂_Δ for uniqueness) matching pre-periods to
    * the donor post mean. Both fits run the same exact-step pairwise
    * [[fwFit]] with the intercept profiled out by centering. Where
    * synth_control needs a perfect pre-fit to be credible, the DID
    * differencing absorbs level gaps — a parallel-shifted donor pool is
    * fine — and where plain DID needs parallel trends for ALL donors,
    * the weights construct a pool where they hold.
    *
    * Inference: N_tr ≥ 2 → leave-one-treated-out jackknife (each
    * replicate REFITS both weight vectors); N_tr = 1 → in-space placebo
    * SE (each donor in turn plays the treated unit over the remaining
    * pool, capped at maxPlacebos; the truly treated unit is excluded
    * from every placebo pool). Exact-recovery identity (spec-pinned):
    * when the treated pre-path is a convex donor combination and the
    * effect is an additive post shift, τ̂ recovers the shift exactly
    * for ANY time weights.
    *
    * 100 TB shape: the [[synthControl]] contract — ONE distributed
    * (unit, period) cell collapse with a maxCells guard; every weight fit
    * and replicate is driver arithmetic over those cells.
    *
    * @param treated 0/1 flag; a unit is treated when it is flagged on
    *                any row (the treated block = treated units × periods
    *                after preEnd)
    * @return one row: (att, se, se_method, z_value, p_value, n_treated,
    *         n_donors, n_pre, n_post) */
  def synthDid(df: DataFrame, unit: Column, period: Column, y: Column,
               treated: Column, preEnd: Double,
               maxIter: Int = 2000, tol: Double = 1e-12,
               maxCells: Int = 200000, maxPlacebos: Int = 50): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val cells = LocalCollapse.within(df
      .filter(unit.isNotNull && period.isNotNull && y.isNotNull &&
        treated.isNotNull)
      .groupBy(unit.cast("string").as("u"), period.cast("double").as("p"))
      .agg(avg(y.cast("double")).as("v"), max(treated.cast("int")).as("tr"))
      .orderBy(col("u"), col("p")), maxCells)(
      s"synth_did produced more than $maxCells (unit x period) cells — " +
        "these are not panel units/periods; raise maxCells if they are")
    val periods = cells.map(_.getDouble(1)).distinct.sorted
    val pre = periods.filter(_ <= preEnd)
    val post = periods.filter(_ > preEnd)
    require(pre.length >= 2,
      s"synth_did: need >= 2 pre-periods at preEnd=$preEnd, got ${pre.length}")
    require(post.nonEmpty, s"synth_did: no post-periods after preEnd=$preEnd")
    val byUnit = cells.groupBy(_.getString(0))
    val full = byUnit.filter(_._2.length == periods.length)
    val path: Map[String, Map[Double, Double]] =
      full.view.mapValues(_.map(r => r.getDouble(1) -> r.getDouble(2)).toMap)
        .toMap
    val treatedUnits = full.filter(_._2.exists(_.getInt(3) == 1))
      .keys.toArray.sorted
    val donorUnits = full.filter(!_._2.exists(_.getInt(3) == 1))
      .keys.toArray.sorted
    require(treatedUnits.nonEmpty,
      "synth_did: no complete treated units (treated = 1 on some row; " +
        "incomplete units are excluded — balance the panel upstream)")
    require(donorUnits.length >= 2,
      s"synth_did: need >= 2 complete donor units, got ${donorUnits.length}")

    def centered(b: Array[Double], a: Array[Array[Double]])
        : (Array[Double], Array[Array[Double]]) = {
      val n = b.length
      val bm = b.sum / n
      val k = a(0).length
      val cm = Array.tabulate(k)(j => (0 until n).map(t => a(t)(j)).sum / n)
      (b.map(_ - bm), Array.tabulate(n, k)((t, j) => a(t)(j) - cm(j)))
    }
    def estimate(tUnits: Array[String], dUnits: Array[String]): Double = {
      val nTr = tUnits.length
      val nCo = dUnits.length
      val tPre = pre.length
      val tPost = post.length
      val diffs = for { u <- dUnits; i <- 0 until (tPre - 1) }
        yield path(u)(pre(i + 1)) - path(u)(pre(i))
      val sdDelta =
        if (diffs.length < 2) 0.0
        else {
          val m = diffs.sum / diffs.length
          math.sqrt(diffs.map(d => (d - m) * (d - m)).sum /
            (diffs.length - 1))
        }
      val zetaOmega = math.pow(nTr.toDouble * tPost, 0.25) * sdDelta
      val zetaLambda = 1e-6 * sdDelta
      val bOmega = pre.map(p => tUnits.map(u => path(u)(p)).sum / nTr)
      val aOmega = Array.tabulate(tPre, nCo)((t, j) => path(dUnits(j))(pre(t)))
      val (bO, aO) = centered(bOmega, aOmega)
      val (omega, _, _) =
        fwFit(bO, aO, maxIter, tol, ridge = zetaOmega * zetaOmega * tPre)
      val bLambda = dUnits.map(u => post.map(p => path(u)(p)).sum / tPost)
      val aLambda = Array.tabulate(nCo, tPre)((i, t) => path(dUnits(i))(pre(t)))
      val (bL, aL) = centered(bLambda, aLambda)
      val (lambda, _, _) =
        fwFit(bL, aL, maxIter, tol, ridge = zetaLambda * zetaLambda * nCo)
      val yTrPost = post.map(p => tUnits.map(u => path(u)(p)).sum / nTr)
        .sum / tPost
      val yTrPreL = pre.indices.map(t =>
        lambda(t) * tUnits.map(u => path(u)(pre(t))).sum / nTr).sum
      val yCoPost = dUnits.indices.map(i =>
        omega(i) * post.map(p => path(dUnits(i))(p)).sum / tPost).sum
      val yCoPreL = dUnits.indices.map(i => omega(i) *
        pre.indices.map(t => lambda(t) * path(dUnits(i))(pre(t))).sum).sum
      (yTrPost - yTrPreL) - (yCoPost - yCoPreL)
    }

    val att = estimate(treatedUnits, donorUnits)
    val (se, seMethod) =
      if (treatedUnits.length >= 2) {
        val taus = treatedUnits.map(u =>
          estimate(treatedUnits.filter(_ != u), donorUnits))
        val m = taus.sum / taus.length
        val v = (taus.length - 1).toDouble / taus.length *
          taus.map(t => (t - m) * (t - m)).sum
        (math.sqrt(v), "jackknife_treated")
      } else {
        require(donorUnits.length >= 3,
          "synth_did: placebo SE for a single treated unit needs >= 3 " +
            "donors (each placebo pool must keep >= 2)")
        val placebos = donorUnits.take(maxPlacebos)
        val taus = placebos.map(u =>
          estimate(Array(u), donorUnits.filter(_ != u)))
        val m = taus.sum / taus.length
        (math.sqrt(taus.map(t => (t - m) * (t - m)).sum /
          (taus.length - 1)), s"placebo_${placebos.length}")
      }
    val z = if (se > 0) att / se else Double.NaN
    val p =
      if (se > 0) 2.0 * (1.0 - graft.stats.Dist.normCdf(math.abs(z)))
      else Double.NaN
    Seq((att, se, seMethod, z, p, treatedUnits.length.toLong,
      donorUnits.length.toLong, pre.length.toLong, post.length.toLong))
      .toDF("att", "se", "se_method", "z_value", "p_value", "n_treated",
        "n_donors", "n_pre", "n_post")
  }
}
