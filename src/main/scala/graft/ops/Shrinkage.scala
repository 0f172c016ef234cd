package graft.ops

import graft.stats.LocalCollapse
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.types._

/** Empirical-Bayes shrinkage of per-group means (normal–normal, Morris
  * 1983; the James–Stein idea in its practical dashboard form): a
  * many-segment report's small-n segments show wild means — shrink each
  * toward the grand mean in proportion to its noise, so the ranking stops
  * being a sample-size artifact. Beyond the reference (its group reporting
  * is raw means).
  *
  * Model: mean_g ~ N(θ_g, s²_g/n_g), θ_g ~ N(μ, τ²). With μ = the grand
  * mean and τ² estimated by method of moments
  * (τ² = max(0, var_g(mean_g) − avg_g(s²_g/n_g)), the unweighted MoM —
  * simple, closed-form, replayable), the posterior mean is
  * shrunk_g = μ + (1 − B_g)(mean_g − μ), B_g = (s²_g/n_g)/(s²_g/n_g + τ²).
  * τ² = 0 (no real between-group spread) collapses every group to μ.
  *
  * 100 TB shape: ONE aggregate pass to ≤ maxGroups per-group moment cells
  * (a report's segment count is bounded by definition); μ, τ², and the
  * shrinkage finish on the driver.
  * Groups with n < 2 carry an undefined s² and shrink fully to μ
  * (B = 1), the honest treatment of a one-observation segment.
  *
  * Returns (group, n, mean, shrinkage, shrunk_mean). */
object Shrinkage {

  def ebShrinkMeans(df: DataFrame, group: Column, y: Column,
                    maxGroups: Int = 100000): DataFrame = {
    val yd = y.cast("double")
    val cells = LocalCollapse.within(df.filter(yd.isNotNull && group.isNotNull)
      .groupBy(group.cast("string").as("__g"))
      .agg(count(lit(1)).as("n"), avg(yd).as("m"), var_samp(yd).as("v"))
      .orderBy(col("__g")), maxGroups)(
      s"eb_shrink_means: more than $maxGroups groups — raise maxGroups " +
        "if the driver can hold the cells")
    require(cells.length >= 2,
      s"eb_shrink_means: need at least 2 groups, got ${cells.length}")
    val g = cells.length
    val nTot = cells.map(_.getAs[Long]("n")).sum
    val mu = cells.map(r => r.getAs[Long]("n") * r.getAs[Double]("m")).sum / nTot
    // unweighted MoM: spread of the group means minus their average noise
    val meanOfMeans = cells.map(_.getAs[Double]("m")).sum / g
    val varMeans = cells.map { r =>
      val d = r.getAs[Double]("m") - meanOfMeans; d * d
    }.sum / (g - 1)
    val se2s = cells.map { r =>
      // index by NAME: cells are (__g, n, m, v) — a positional isNullAt
      // would silently test the wrong column if the agg order ever changed
      if (r.isNullAt(r.fieldIndex("v")) || r.getAs[Long]("n") < 2) Double.NaN
      else r.getAs[Double]("v") / r.getAs[Long]("n")
    }
    val defined = se2s.filter(!_.isNaN)
    val avgSe2 = if (defined.isEmpty) 0.0 else defined.sum / defined.length
    val tau2 = math.max(0.0, varMeans - avgSe2)
    val out = cells.zip(se2s).map { case (r, se2) =>
      val m = r.getAs[Double]("m")
      val b =
        if (se2.isNaN) 1.0 // one-observation segment: all noise
        else if (tau2 == 0.0) 1.0
        else se2 / (se2 + tau2)
      Row(r.getString(0), r.getAs[Long]("n"), m, b, mu + (1.0 - b) * (m - mu))
    }
    val schema = StructType(Seq(
      StructField("group", StringType), StructField("n", LongType),
      StructField("mean", DoubleType), StructField("shrinkage", DoubleType),
      StructField("shrunk_mean", DoubleType)))
    df.sparkSession.createDataFrame(
      df.sparkSession.sparkContext.parallelize(out.toSeq, 1), schema)
  }
}
