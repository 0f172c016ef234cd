package graft.ops

import graft.stats.LocalCollapse
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.types._

/** Delete-one-bucket jackknife for ratio metrics — the variance estimator
  * large experimentation platforms actually run for ΣY/ΣX metrics over
  * randomization buckets (users hash to G buckets; leaving one bucket out
  * respects the user-level dependence that a naive row-level variance
  * ignores). The delta method ([[graft.agg.DeltaAggs]]) is the analytic
  * answer; the bucketed jackknife is its assumption-light cross-check and
  * handles any smooth statistic of the bucket sums.
  *
  * θ̂₍ᵢ₎ = the statistic recomputed with bucket i's sums removed;
  * var = (G−1)/G · Σᵢ (θ̂₍ᵢ₎ − θ̄₍·₎)², CI from the t distribution with
  * G−1 degrees of freedom.
  *
  * 100 TB shape: ONE row-scale aggregate to G bucket cells (ordered,
  * maxBuckets-guarded); the G leave-one-out evaluations are driver
  * arithmetic over those cells — never a second data pass, never G scans
  * (the naive implementation's trap).
  */
object Jackknife {

  private def tooManyBuckets(maxBuckets: Int): String =
    s"jackknife produced more than $maxBuckets buckets: coarsen the " +
      "bucket column or raise maxBuckets"

  /** Two-sample bucketed jackknife for the ratio-mean difference
    * D = Σy₁/Σx₁ − Σy₀/Σx₀. Returns ONE row:
    * (estimate, stderr, t_value, p_value, lower, upper, n_buckets). */
  def ratioDiff(df: DataFrame, bucket: Column, num: Column, den: Column,
                t: Column, alpha: Double = 0.05,
                maxBuckets: Int = 100000): DataFrame = {
    require(alpha > 0 && alpha < 1, s"jackknife: alpha in (0,1), got $alpha")
    val y = num.cast("double"); val x = den.cast("double")
    val cells = LocalCollapse.within(df
      .filter(bucket.isNotNull && t.isNotNull && y.isNotNull && x.isNotNull)
      .groupBy(bucket.cast("long").as("b"))
      .agg(sum(when(t === 1, y).otherwise(0.0)).as("y1"),
        sum(when(t === 1, x).otherwise(0.0)).as("x1"),
        sum(when(t === 0, y).otherwise(0.0)).as("y0"),
        sum(when(t === 0, x).otherwise(0.0)).as("x0"))
      .orderBy(col("b")), maxBuckets)(tooManyBuckets(maxBuckets))
    val g = cells.length
    require(g >= 2, s"jackknife: need >= 2 buckets, got $g")
    val s1 = cells.map(_.getDouble(1)).sum; val t1 = cells.map(_.getDouble(2)).sum
    val s0 = cells.map(_.getDouble(3)).sum; val t0 = cells.map(_.getDouble(4)).sum
    require(t1 != 0 && t0 != 0, "jackknife: a full-arm denominator sum is 0")
    val est = s1 / t1 - s0 / t0
    val loo = cells.map { r =>
      val d1 = t1 - r.getDouble(2); val d0 = t0 - r.getDouble(4)
      require(d1 != 0 && d0 != 0,
        s"jackknife: removing bucket ${r.getLong(0)} zeroes a denominator " +
          "(one bucket carries an arm's whole denominator) — coarser " +
          "buckets are not a valid randomization unit here")
      (s1 - r.getDouble(1)) / d1 - (s0 - r.getDouble(3)) / d0
    }
    val mean = loo.sum / g
    val ss = loo.map(v => (v - mean) * (v - mean)).sum
    val se = math.sqrt((g - 1.0) / g * ss)
    val dfree = g - 1.0
    val tv = if (se == 0) 0.0 else est / se
    val p = graft.stats.Dist.tTwoSidedP(tv, dfree)
    val tc = graft.stats.Dist.tQuantile(1.0 - alpha / 2.0, dfree)
    val out = Row(est, se, tv, p, est - tc * se, est + tc * se, g.toLong)
    val schema = StructType(Seq(
      StructField("estimate", DoubleType), StructField("stderr", DoubleType),
      StructField("t_value", DoubleType), StructField("p_value", DoubleType),
      StructField("lower", DoubleType), StructField("upper", DoubleType),
      StructField("n_buckets", LongType)))
    df.sparkSession.createDataFrame(
      df.sparkSession.sparkContext.parallelize(Seq(out), 1), schema)
  }

  /** One-sample bucketed jackknife for R = Σy/Σx: same cell pass and
    * leave-one-out arithmetic with a single arm. */
  def ratio(df: DataFrame, bucket: Column, num: Column, den: Column,
            alpha: Double = 0.05, maxBuckets: Int = 100000): DataFrame = {
    val y = num.cast("double"); val x = den.cast("double")
    require(alpha > 0 && alpha < 1, s"jackknife: alpha in (0,1), got $alpha")
    val cells = LocalCollapse.within(df
      .filter(bucket.isNotNull && y.isNotNull && x.isNotNull)
      .groupBy(bucket.cast("long").as("b"))
      .agg(sum(y).as("sy"), sum(x).as("sx"))
      .orderBy(col("b")), maxBuckets)(tooManyBuckets(maxBuckets))
    val g = cells.length
    require(g >= 2, s"jackknife: need >= 2 buckets, got $g")
    val s = cells.map(_.getDouble(1)).sum; val tt = cells.map(_.getDouble(2)).sum
    require(tt != 0, "jackknife: the denominator sum is 0")
    val est = s / tt
    val loo = cells.map { r =>
      val d = tt - r.getDouble(2)
      require(d != 0,
        s"jackknife: removing bucket ${r.getLong(0)} zeroes the denominator")
      (s - r.getDouble(1)) / d
    }
    val mean = loo.sum / g
    val ss = loo.map(v => (v - mean) * (v - mean)).sum
    val se = math.sqrt((g - 1.0) / g * ss)
    val dfree = g - 1.0
    val tv = if (se == 0) 0.0 else est / se
    val p = graft.stats.Dist.tTwoSidedP(tv, dfree)
    val tc = graft.stats.Dist.tQuantile(1.0 - alpha / 2.0, dfree)
    val out = Row(est, se, tv, p, est - tc * se, est + tc * se, g.toLong)
    val schema = StructType(Seq(
      StructField("estimate", DoubleType), StructField("stderr", DoubleType),
      StructField("t_value", DoubleType), StructField("p_value", DoubleType),
      StructField("lower", DoubleType), StructField("upper", DoubleType),
      StructField("n_buckets", LongType)))
    df.sparkSession.createDataFrame(
      df.sparkSession.sparkContext.parallelize(Seq(out), 1), schema)
  }
}
