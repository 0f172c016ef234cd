package graft.ops

import graft.stats.Dist
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Quantile treatment-effect test with user bucketing (reference calcite
  * QuantileTestBucketParser.java:41-176; result shaping
  * UdfFormatUtil.java:133-204).
  *
  * Users are hashed into `numBuckets` buckets; within each (bucket,
  * treatment) cell the requested percentiles are computed exactly; the
  * bucket-level quantile differences then behave like iid replicates, giving
  * a stderr and normal CI for each percentile's treatment effect.
  *
  * Shape at scale: the exact `percentile` aggregate shuffles one
  * (bucket × treatment) cell's values per reducer — with 2·numBuckets cells
  * and 32+ shuffle partitions this spreads evenly; no global sort.
  */
object QuantileTest {

  /** Returns one row per percentile: (percentile, q0, q1, diff, stderr,
    * lower, upper) where q0/q1 are the across-bucket mean quantiles. */
  def quantileTestBucket(df: DataFrame, value: Column, treatment: Column,
                         uin: Column, percentiles: Seq[Double],
                         numBuckets: Int = 32, alpha: Double = 0.05): DataFrame =
    quantileTestWithBuckets(df, value, treatment,
      pmod(xxhash64(uin), lit(numBuckets)), percentiles, alpha)

  /** Same test with a caller-supplied bucket column (for pre-bucketed data
    * or deterministic cross-engine bucketing). */
  def quantileTestWithBuckets(df: DataFrame, value: Column, treatment: Column,
                              bucket: Column, percentiles: Seq[Double],
                              alpha: Double = 0.05): DataFrame = {
    require(percentiles.nonEmpty && percentiles.forall(p => p > 0 && p < 1))
    val pctArr = percentiles.mkString(", ")
    val bucketed = df.select(
      value.cast("double").as("__v"),
      treatment.cast("int").as("__t"),
      bucket.as("__b"))
    // exact per-(bucket, treatment) quantile vector
    val cells = bucketed.groupBy(col("__b"), col("__t"))
      .agg(expr(s"percentile(__v, array($pctArr))").as("qs"))
    // explode percentile index, pivot treatment, aggregate across buckets
    val per = cells.select(col("__b"), col("__t"), posexplode(col("qs")).as(Seq("pi", "q")))
    val wide = per.groupBy(col("__b"), col("pi"))
      .agg(max(when(col("__t") === 0, col("q"))).as("q0"),
        max(when(col("__t") === 1, col("q"))).as("q1"))
      .withColumn("d", col("q1") - col("q0"))
    val z = Dist.normQuantile(1 - alpha / 2)
    wide.groupBy(col("pi"))
      .agg(avg(col("q0")).as("q0"), avg(col("q1")).as("q1"),
        avg(col("d")).as("diff"),
        (stddev_samp(col("d")) / sqrt(count(lit(1)))).as("stderr"))
      .select(
        element_at(lit(percentiles.toArray), col("pi") + 1).as("percentile"),
        col("q0"), col("q1"), col("diff"), col("stderr"),
        (col("diff") - lit(z) * col("stderr")).as("lower"),
        (col("diff") + lit(z) * col("stderr")).as("upper"))
      .orderBy(col("percentile"))
  }

  /** Population quantile treatment effects (Athey-Imbens distributional
    * view): per-arm quantiles of the full samples and their differences —
    * no bucketing, no inference; the CI-bearing variant is
    * [[quantileTestBucket]]. One aggregate scan; `exact = true` uses the
    * sort-buffer percentile (gate parity with quantile_cont), the default
    * t-digest sketch is the 100 TB path. Returns one row per probability:
    * (percentile, q0, q1, qte). */
  def quantileTreatmentEffect(df: DataFrame, y: Column, treatment: Column,
                              probs: Seq[Double],
                              exact: Boolean = false,
                              maxLocalCells: Int = Robust.MaxLocalCells): DataFrame = {
    require(probs.nonEmpty && probs.forall(p => p > 0 && p < 1))
    if (exact) {
      // bounded driver collapse (graft.stats.LocalCollapse); NaN values bail
      val spark = df.sparkSession
      import spark.implicits._
      val yd = y.cast("double")
      val tc = treatment.cast("int")
      val byV = df.filter(yd.isNotNull && (tc === 0 || tc === 1))
        .groupBy(yd.as("v")).agg(
          sum(when(tc === 0, 1L).otherwise(0L)).as("c0"),
          sum(when(tc === 1, 1L).otherwise(0L)).as("c1"))
      graft.stats.LocalCollapse.collect(byV, maxLocalCells) match {
        case Some(cells)
            if cells.forall(r => !r.isNullAt(0) && !r.getDouble(0).isNaN) =>
          val rows = Robust.sortRows(cells, 0)
          val vs = rows.map(_.getDouble(0))
          val c0 = rows.map(_.getLong(1)); val c1 = rows.map(_.getLong(2))
          // empty arm: Spark percentile returns null for the whole array —
          // bail to the distributed twin so its null row shape survives
          if (c0.exists(_ > 0) && c1.exists(_ > 0)) {
            val q0 = Robust.quantilesOnLocalHist(vs, c0, probs, "qte")
            val q1 = Robust.quantilesOnLocalHist(vs, c1, probs, "qte")
            return probs.indices.map(i0 => (probs(i0), q0(i0), q1(i0),
                q1(i0) - q0(i0)))
              .toDF("percentile", "q0", "q1", "qte")
              .orderBy(col("percentile"))
          }
        case _ => ()
      }
    }
    val arr = array(probs.map(lit): _*)
    val y0 = when(treatment.cast("int") === 0, y.cast("double"))
    val y1 = when(treatment.cast("int") === 1, y.cast("double"))
    val agg = df.agg(
      (if (exact) percentile(y0, arr) else percentile_approx(y0, arr, lit(100000))).as("q0s"),
      (if (exact) percentile(y1, arr) else percentile_approx(y1, arr, lit(100000))).as("q1s"))
    agg.select(posexplode(arrays_zip(col("q0s"), col("q1s"))).as(Seq("pi", "qs")))
      .select(element_at(lit(probs.toArray), col("pi") + 1).as("percentile"),
        col("qs.q0s").as("q0"), col("qs.q1s").as("q1"),
        (col("qs.q1s") - col("qs.q0s")).as("qte"))
      .orderBy(col("percentile"))
  }
}
