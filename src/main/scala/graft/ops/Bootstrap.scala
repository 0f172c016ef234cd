package graft.ops

import graft.agg.{Kernel, ReplicateKernel}
import graft.stats.Dist
import org.apache.spark.sql.catalyst.analysis.{UnresolvedFunction, UnresolvedStar}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Distributed bootstrap / permutation engine.
  *
  * The reference computes B replicates of an inner aggregate in one pass,
  * with per-node row counts + a shared seed pinned up front so every node
  * draws its share of each replicate deterministically
  * (AggregateFunctionBootStrap.h:85-136, 188-215; StarRocks
  * distributed_node_row_number.h:37-105). Spark partitions are not stable
  * across runs, so we get determinism a different way: the multiplicity of
  * row r in replicate b is a pure function of (id(r), b, seed) —
  * xxhash64 → uniform → Poisson inverse-CDF, all as codegen'd column
  * expressions. No RNG state, no shuffle-order sensitivity, reproducible
  * on any cluster layout. Poisson(λ=frac) bootstrap is the standard
  * large-n approximation of the multinomial draw (replicate totals vary
  * by O(√n), irrelevant at scale and already accepted by the reference's
  * binomial-splitting approach).
  *
  * Cost model. Statistics that are ratios of weighted sums — the
  * ate/ipw/aipw estimators and the gateway's `boot_strap` over
  * avg/mean/sum/count — never amplify rows: one [[graft.agg.ReplicateKernel]]
  * aggregate draws each row's B + 1 weights inside its update and adds the
  * row to B + 1 moment buffers, so the pass reads every row once and ships
  * (B + 1) × k doubles per partition. Every other verb (`replicated` under
  * [[bootstrapAgg]]/[[bootstrapOls]], [[bootstrapAny]], [[permutationTest]])
  * explodes each row B× before the aggregate; map-side partial aggregation
  * still reduces each partition to B×k cells, so the shuffle stays tiny.
  */
object Bootstrap {

  /** u ∈ [0,1) deterministic per (idCols, rep, seed). */
  private def uniform(idCols: Seq[Column], rep: Column, seed: Long): Column =
    (xxhash64((idCols :+ rep :+ lit(seed)): _*).cast("double") / lit(2.0 * Long.MaxValue)) + lit(0.5)

  /** Poisson(λ) multiplicity from a uniform, as a when-chain over the
    * inverse CDF (closed thresholds computed on the driver; tail clamped
    * at mean+10σ). Stays inside whole-stage codegen. */
  def poissonMultiplicity(u: Column, lambda: Double): Column = {
    val cdf = ReplicateKernel.poissonThresholds(lambda)
    (1 until cdf.length).foldLeft(when(u < cdf(0), 0)) { (c, k) => c.when(u < cdf(k), k) }
      .otherwise(cdf.length)
  }

  /** Deterministic Poisson bootstrap weight for (idCols, rep, seed) — the
    * composable form of [[replicated]]'s weight column, for callers that
    * build their own replicate frames (Longterm's transition refit). */
  def poissonWeight(idCols: Seq[Column], rep: Column, seed: Long,
                    frac: Double = 1.0): Column =
    poissonMultiplicity(uniform(idCols, rep, seed), frac)

  /** Exact stable row identity when the caller has none: content hash of
    * every column PLUS a within-duplicate-group counter, so two identical
    * rows get DISTINCT identities (hashing content alone would give
    * duplicate rows perfectly correlated draws in every replicate,
    * understating resampling variance on discrete data). The counter
    * window partitions by the hash — parallel, no global sort; which
    * physical duplicate gets which counter is layout-dependent, but the
    * duplicates are indistinguishable so every aggregate is invariant. */
  private[graft] def withStableIds(df: DataFrame): (DataFrame, Seq[Column]) = {
    val all = df.columns.map(col).toSeq
    val d = df.withColumn("__rid", xxhash64(all: _*))
      .withColumn("__dup", row_number().over(
        Window.partitionBy(col("__rid")).orderBy(monotonically_increasing_id())))
    (d, Seq(col("__rid"), col("__dup")))
  }

  /** The replicate pass amplifies every input row B× before the aggregate —
    * see [[Par.ensure]] for why the input must be parallel first. */
  private[graft] def ensureParallel(df: DataFrame, ids: Seq[Column]): DataFrame =
    Par.ensure(df, ids)

  /** Explode df into B replicates with a deterministic bootstrap `weight`
    * column (rows with weight 0 are dropped). `idCols` identify a row
    * stably (pass a real key to skip the stable-id derivation shuffle). */
  def replicated(df: DataFrame, b: Int, frac: Double = 1.0, seed: Long = 42L,
                 idCols: Seq[Column] = Seq.empty): DataFrame = {
    val (base0, ids) =
      if (idCols.nonEmpty) (df, idCols) else withStableIds(df)
    val base = ensureParallel(base0, ids)
    val withRep = base.withColumn("rep", explode(sequence(lit(0), lit(b - 1))))
    withRep
      .withColumn("weight", poissonMultiplicity(uniform(ids, col("rep"), seed), frac))
      .filter(col("weight") > 0)
      .drop("__rid", "__dup")
  }

  /** Like [[replicated]] but physically duplicates each row `weight` times,
    * so ANY inner aggregate — quantiles, rank statistics, our UDAFs — runs
    * unweighted per replicate (the reference's generic
    * `BootStrap('anyAgg', n, B)` surface, AggregateFunctionBootStrap.h:375-497).
    * Costs ~B×frac row amplification before the aggregate; map-side partial
    * aggregation keeps the shuffle at B×state cells. */
  def replicatedRows(df: DataFrame, b: Int, frac: Double = 1.0, seed: Long = 42L,
                     idCols: Seq[Column] = Seq.empty): DataFrame =
    replicated(df, b, frac, seed, idCols)
      .withColumn("__dup_i", explode(sequence(lit(1), col("weight"))))
      .drop("__dup_i", "weight")

  /** Bootstrap distribution of weighted aggregates: one pass, returns a
    * B-row frame (rep, <agg columns>). aggs receive the weight column. */
  def bootstrapAgg(df: DataFrame, b: Int, frac: Double = 1.0, seed: Long = 42L,
                   idCols: Seq[Column] = Seq.empty)
                  (aggs: (Column => Seq[(String, Column)])): DataFrame = {
    val rep = replicated(df, b, frac, seed, idCols)
    val w = col("weight").cast("double")
    val named = aggs(w).map { case (n, c) => c.as(n) }
    rep.groupBy(col("rep")).agg(named.head, named.tail: _*)
  }

  /** Bootstrap distribution of ARBITRARY aggregates (quantiles, UDAFs, rank
    * stats — anything expressible as an aggregate Column): physically
    * replicates rows per [[replicatedRows]] and aggregates each replicate
    * unweighted. One pass, returns a B-row frame (rep, <agg columns>). */
  def bootstrapAny(df: DataFrame, b: Int, frac: Double = 1.0, seed: Long = 42L,
                   idCols: Seq[Column] = Seq.empty)
                  (aggs: Seq[(String, Column)]): DataFrame = {
    val rep = replicatedRows(df, b, frac, seed, idCols)
    val named = aggs.map { case (n, c) => c.as(n) }
    rep.groupBy(col("rep")).agg(named.head, named.tail: _*)
  }

  /** [[bootstrapAny]] of one `avg`/`mean`/`sum`/`count` aggregate — the
    * gateway's `boot_strap(agg, B)` — without exploding rows: one
    * [[ReplicateKernel]] pass sums each replicate's weighted moments, and
    * the B-row (rep, stat) frame is built on the driver from them. Row
    * identities, weights and output columns are [[bootstrapAny]]'s; a
    * replicate that drew no row is absent, as there. None for any other
    * aggregate (DISTINCT, FILTER, other functions, `avg` of decimals, `sum`
    * of integers or decimals — whose exact integer/decimal result a double
    * sum would not keep), which stays on [[bootstrapAny]]. */
  private[graft] def bootstrapMoment(df: DataFrame, b: Int, agg: Column,
                                     seed: Long = 42L): Option[DataFrame] = {
    val call = ColumnBridge.expression(agg) match {
      case f: UnresolvedFunction if b >= 1 && f.nameParts.length == 1 &&
          f.arguments.length == 1 && !f.isDistinct && f.filter.isEmpty =>
        val x = f.arguments.head match {
          case UnresolvedStar(None) => lit(1)
          case e => ColumnBridge.column(e)
        }
        Some((f.nameParts.head.toLowerCase(java.util.Locale.ROOT), x))
      case _ => None
    }
    val present = (x: Column) => when(x.isNotNull, 1.0)
    val plan: Option[(Seq[Column], DataType, Array[Double] => Any)] = call.flatMap {
      case (fn, x) =>
        val floating = df.select(x).schema.head.dataType match {
          case _: DecimalType => None
          case _: FloatType | _: DoubleType => Some(true)
          case _: NumericType => Some(false)
          case _ => None
        }
        (fn, floating) match {
          case ("avg" | "mean", Some(_)) =>
            Some((Seq(x, present(x)), DoubleType, s => if (s(1) > 0) s(0) / s(1) else null))
          case ("sum", Some(true)) =>
            Some((Seq(x, present(x)), DoubleType, s => if (s(1) > 0) s(0) else null))
          case ("count", _) => Some((Seq(present(x)), LongType, s => s(0).toLong))
          case _ => None
        }
    }
    plan.map { case (sums, statType, stat) =>
      val rows = replicateSums(df, Seq.empty, b, seed, 1.0, sums).zipWithIndex.tail.collect {
        case (s, i) if s.last > 0 => Row(i - 1, stat(s))
      }
      df.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*), StructType(Seq(
        StructField("rep", IntegerType, nullable = false),
        StructField("stat", statType, nullable = statType != LongType))))
    }
  }

  /** `BootStrapOls` equivalent (AggregateFunctionBootStrap.h:375-497): the
    * bootstrap distribution of OLS coefficients in ONE pass, by feeding the
    * replicate weight into the weighted OLS aggregate (WLS with integer
    * weights IS resampled OLS). Returns a B-row frame
    * (rep, coefficients array — xs order, intercept last if useBias). */
  def bootstrapOls(df: DataFrame, y: Column, xs: Seq[Column], b: Int,
                   useBias: Boolean = true, frac: Double = 1.0,
                   seed: Long = 42L, idCols: Seq[Column] = Seq.empty): DataFrame = {
    val rep = replicated(df, b, frac, seed, idCols)
    rep.groupBy(col("rep"))
      .agg(Regression.olsAggColumn(y, xs, useBias,
        weight = col("weight").cast("double")).getField("coefficients")
        .as("coefficients"))
  }

  /** Per-coefficient bootstrap CI from a [[bootstrapOls]] frame. */
  def summarizeCoefficients(reps: DataFrame, kb: Int,
                            alpha: Double = 0.05): Seq[BootSummary] =
    (0 until kb).map { i =>
      summarize(reps.select(element_at(col("coefficients"), i + 1).as("c")), "c", alpha)
    }

  /** Bootstrap mean/std/percentile CI of a statistic column from the
    * per-replicate frame (B rows, collected; nulls are left out). */
  case class BootSummary(mean: Double, std: Double, lower: Double, upper: Double)
  def summarize(reps: DataFrame, statCol: String, alpha: Double = 0.05): BootSummary =
    summarizeValues(reps.select(col(statCol).cast("double")).collect()
      .collect { case r if !r.isNullAt(0) => r.getDouble(0) }, alpha)

  /** [[summarize]] over the replicate values on the driver, with the
    * arithmetic of Spark's `avg`, `stddev_samp` (Welford updates) and
    * exact `percentile` (linear interpolation between order statistics). */
  private[graft] def summarizeValues(values: Array[Double], alpha: Double): BootSummary = {
    var n = 0.0; var mean = 0.0; var m2 = 0.0
    values.foreach { v =>
      n += 1
      val delta = v - mean
      val deltaN = delta / n
      mean += deltaN
      m2 += delta * (delta - deltaN)
    }
    val sorted = values.sorted(Ordering.Double.TotalOrdering)
    def percentile(p: Double): Double = {
      if (sorted.isEmpty) return Double.NaN
      val position = (sorted.length - 1) * p
      val (lo, hi) = (position.floor.toInt, position.ceil.toInt)
      if (lo == hi || sorted(lo) == sorted(hi)) sorted(lo)
      else (hi - position) * sorted(lo) + (position - lo) * sorted(hi)
    }
    BootSummary(values.sum / n, math.sqrt(m2 / (n - 1)),
      percentile(alpha / 2), percentile(1 - alpha / 2))
  }

  // ---------------------------------------------------------------- permutation

  /** Default permutation statistic: difference in means. */
  val diffInMeans: (Column, Column) => Column = (y, t) =>
    sum(when(t === 1, y)) / sum(when(t === 1, 1)) -
      sum(when(t === 0, y)) / sum(when(t === 0, 1))

  /** Permutation test (AggregateFunctionPermutation.h:48-263): B replicas
    * with treatment re-randomized per replica; two-sided p = share of
    * permuted |stat| ≥ |observed|. The inner statistic is ANY aggregate
    * builder (y, t) => Column — diff-in-means by default, but a
    * Mann-Whitney U, a quantile difference, or any UDAF works (the
    * reference re-runs an arbitrary named aggregate per permutation,
    * Permutation.h:48-263). `mde` shifts treated outcomes to probe
    * sensitivity: absolute (`mdeType="abs"`, y+mde) or relative
    * (`mdeType="rel"`, y·(1+mde)) — Permutation.h:207-263's shift types.
    *
    * Scan economy: the observed statistic rides the replicate job as
    * rep = -1 carrying the identity assignment, so the whole test is ONE
    * distributed aggregation (plus a driver-side reduce over the B+1 result
    * rows). The permuted assignment needs the treated share p1 up front;
    * pass the DESIGN share in `p1Design` (known for any planned experiment)
    * for a strictly single-scan test, else a t-column-only pre-scan
    * estimates it.
    *
    * Returns (observed, p_value, reps df — B local rows, no recompute). */
  def permutationTest(df: DataFrame, y: Column, treatment: Column, b: Int = 1000,
                      seed: Long = 42L, mde: Double = 0.0, mdeType: String = "abs",
                      idCols: Seq[Column] = Seq.empty,
                      p1Design: Option[Double] = None,
                      stat: (Column, Column) => Column = diffInMeans): (Double, Double, DataFrame) = {
    require(mdeType == "abs" || mdeType == "rel", "mdeType must be abs or rel")
    def shifted(yc: Column, tc: Column): Column =
      if (mde == 0.0) yc
      else if (mdeType == "abs") when(tc === 1, yc + lit(mde)).otherwise(yc)
      else when(tc === 1, yc * lit(1.0 + mde)).otherwise(yc)
    val idNamed = idCols.zipWithIndex.map { case (c, i) => c.as(s"__id_$i") }
    val base0 = df.select(Seq(y.cast("double").as("y"),
      treatment.cast("int").as("t")) ++ idNamed: _*)
      .filter(col("y").isNotNull && col("t").isNotNull) // listwise
    val (base1, ids) =
      if (idCols.nonEmpty) (base0, idNamed.indices.map(i => col(s"__id_$i")))
      else withStableIds(base0)
    val base = ensureParallel(base1, ids)
    // column-pruned to t alone when the design share isn't supplied
    val p1 = p1Design.getOrElse(
      base.agg((sum(when(col("t") === 1, 1)) / count(lit(1)).cast("double"))).head().getDouble(0))
    val statRows = base
      .withColumn("rep", explode(sequence(lit(-1), lit(b - 1))))
      .withColumn("tp", when(col("rep") === -1, col("t"))
        .otherwise((uniform(ids, col("rep"), seed) < lit(p1)).cast("int")))
      .groupBy(col("rep"))
      .agg(stat(shifted(col("y"), col("tp")), col("tp")).as("stat"))
      .collect() // B+1 tiny rows
    def statOf(r: org.apache.spark.sql.Row): Double =
      if (r.isNullAt(1)) Double.NaN else r.getDouble(1)
    val observed = statRows.find(_.getInt(0) == -1).map(statOf).getOrElse(Double.NaN)
    val permuted = statRows.filter(_.getInt(0) >= 0)
    // NaN/null replicate stats count 0 in the numerator but stay in the
    // denominator, matching the previous when(...).otherwise(0) reduce
    val pval = permuted.map(r => if (math.abs(statOf(r)) >= math.abs(observed)) 1.0 else 0.0)
      .sum / permuted.length
    val spark = df.sparkSession
    val reps = spark.createDataFrame(
      java.util.Arrays.asList(permuted: _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("rep", org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("stat", org.apache.spark.sql.types.DoubleType))))
    (observed, pval, reps)
  }

  // ---------------------------------------------------------------- estimators

  case class EffectEstimate(estimate: Double, stderr: Double, lower: Double,
                            upper: Double, p_value: Double)

  /** Select (y, t[, e]) plus renamed id columns, dropping incomplete rows
    * listwise (the aggregate family's null convention); returns the
    * narrowed frame and the id Columns to hand to the bootstrap (empty →
    * stable-id path). */
  private def narrowWithIds(df: DataFrame, cols: Seq[Column],
                            idCols: Seq[Column]): (DataFrame, Seq[Column]) = {
    val idNamed = idCols.zipWithIndex.map { case (c, i) => c.as(s"__id_$i") }
    val narrowed = df.select(cols ++ idNamed: _*)
    val complete = cols.indices.map(i => col(narrowed.columns(i)).isNotNull).reduce(_ && _)
    (narrowed.filter(complete), idNamed.indices.map(i => col(s"__id_$i")))
  }

  /** Weighted column sums of the observed sample (replicate −1, weight 1)
    * and of B bootstrap replicates, from ONE [[ReplicateKernel]] aggregate
    * over `base` — no row is exploded. `idCols` empty → stable ids. The
    * i-th array holds replicate i − 1's Σw·x per column of `sums`, then Σw;
    * a replicate that drew no row has Σw = 0. */
  private def replicateSums(base00: DataFrame, idCols: Seq[Column], b: Int, seed: Long,
                            frac: Double, sums: Seq[Column]): Array[Array[Double]] = {
    val (base0, ids) =
      if (idCols.nonEmpty) (base00, idCols) else withStableIds(base00)
    val base = ensureParallel(base0, ids)
    val kernel = new ReplicateKernel(b, seed, frac, ids.length, sums.length)
    val flat = base.select(Kernel.column(kernel, ids ++ sums.map(_.cast("double")): _*))
      .head().getSeq[Double](0).toArray
    flat.grouped(sums.length + 1).toArray
  }

  /** Observed + B bootstrap replicates of a statistic that is a function
    * of weighted column sums, in ONE distributed job ([[replicateSums]]):
    * `stat` maps the sums of `sums` (in order) to the statistic. Returns
    * (observed, the B replicate values); a replicate that drew no row, or
    * whose statistic is NaN (a group without rows), is left out, as the
    * exploded pass had no row or a null statistic for it. */
  private def repsWithObserved(base: DataFrame, idCols: Seq[Column], b: Int, seed: Long,
                               sums: Seq[Column])
                              (stat: Array[Double] => Double): (Double, Array[Double]) = {
    val all = replicateSums(base, idCols, b, seed, 1.0, sums)
    def statOf(s: Array[Double]): Double = if (s.last > 0) stat(s) else Double.NaN
    (statOf(all(0)), all.tail.map(statOf).filterNot(_.isNaN))
  }

  /** Difference-in-means ATE with bootstrap CI (statistics.py:1054-1119's
    * ATEestimator over BootStrapMulti sums). Pass a real row key in
    * `idCols` to skip the stable-id derivation (a full-frame hash +
    * row_number window shuffle). Observed + replicates share ONE scan
    * ([[repsWithObserved]]): the observed stat is the same ratio of
    * weighted sums at weight 1. */
  def ateEstimator(df: DataFrame, y: Column, treatment: Column, b: Int = 500,
                   alpha: Double = 0.05, seed: Long = 42L,
                   idCols: Seq[Column] = Seq.empty): EffectEstimate = {
    val (base, ids) = narrowWithIds(df,
      Seq(y.cast("double").as("y"), treatment.cast("int").as("t")), idCols)
    val (obs, reps) = repsWithObserved(base, ids, b, seed, Seq(
      when(col("t") === 1, col("y")), when(col("t") === 1, 1.0),
      when(col("t") === 0, col("y")), when(col("t") === 0, 1.0))) { s =>
      s(0) / s(1) - s(2) / s(3)
    }
    finishEffect(obs, reps, alpha)
  }

  /** Inverse-propensity-weighted ATE with bootstrap CI
    * (statistics.py:1122-1217). `propensity` is a precomputed e(x) column;
    * `idCols` as in [[ateEstimator]]; observed fused as in
    * [[repsWithObserved]]. */
  def ipwEstimator(df: DataFrame, y: Column, treatment: Column, propensity: Column,
                   b: Int = 500, alpha: Double = 0.05, seed: Long = 42L,
                   idCols: Seq[Column] = Seq.empty): EffectEstimate = {
    val (base, ids) = narrowWithIds(df,
      Seq(y.cast("double").as("y"), treatment.cast("int").as("t"),
        propensity.cast("double").as("e")), idCols)
    val (obs, reps) = repsWithObserved(base, ids, b, seed, Seq(
      col("t") * col("y") / col("e"),
      (lit(1) - col("t")) * col("y") / (lit(1) - col("e")))) { s =>
      s(0) / s(2) - s(1) / s(2)
    }
    finishEffect(obs, reps, alpha)
  }

  /** Doubly-robust (AIPW) ATE with bootstrap CI — consistent if EITHER the
    * propensity `e(x)` OR the outcome models `mu1(x)`/`mu0(x)` are right
    * (Robins-Rotnitzky-Zhao augmented IPW; the natural completion of the
    * reference's ATE/IPW estimator pair, statistics.py:1054-1217). All
    * three model columns are precomputed, like [[ipwEstimator]]'s
    * propensity; the per-row influence term
    * ψ = μ₁−μ₀ + T(Y−μ₁)/e − (1−T)(Y−μ₀)/(1−e) is a codegen projection
    * and the estimator is its (replicate-weighted) mean — observed +
    * all replicates in the same ONE scan. */
  def aipwEstimator(df: DataFrame, y: Column, treatment: Column,
                    propensity: Column, mu1: Column, mu0: Column,
                    b: Int = 500, alpha: Double = 0.05, seed: Long = 42L,
                    idCols: Seq[Column] = Seq.empty): EffectEstimate = {
    val (base, ids) = narrowWithIds(df,
      Seq(y.cast("double").as("y"), treatment.cast("int").as("t"),
        propensity.cast("double").as("e"), mu1.cast("double").as("m1"),
        mu0.cast("double").as("m0")), idCols)
    val psi = col("m1") - col("m0") +
      col("t") * (col("y") - col("m1")) / col("e") -
      (lit(1) - col("t")) * (col("y") - col("m0")) / (lit(1) - col("e"))
    val (obs, reps) = repsWithObserved(base, ids, b, seed, Seq(psi))(s => s(0) / s(1))
    finishEffect(obs, reps, alpha)
  }

  private def finishEffect(obs: Double, reps: Array[Double], alpha: Double): EffectEstimate = {
    val s = summarizeValues(reps, alpha)
    val z = obs / s.std
    val p = if (z.isNaN) Double.NaN else 2.0 * (1.0 - Dist.normCdf(math.abs(z)))
    EffectEstimate(obs, s.std, s.lower, s.upper, p)
  }
}
