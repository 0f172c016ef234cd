package graft.ops

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.types._

/** Bayesian A/B readout for conversion metrics — the beta-binomial
  * posterior report product teams consume next to the frequentist t/z
  * tests: P(treatment beats control) and posterior rate summaries,
  * exactly (no Monte Carlo). Beyond the reference, whose inference tier
  * is entirely frequentist.
  *
  * With Beta(α₀, β₀) priors and arm counts (s, n−s), the posteriors are
  * Beta(α₀+s, β₀+n−s) and, for INTEGER α_B (integer prior + integer
  * successes), the exceedance probability has the closed form
  *
  *   P(p_B > p_A) = Σ_{i=0}^{α_B−1} B(α_A+i, β_A+β_B)
  *                  / [(β_B+i) · B(1+i, β_B) · B(α_A, β_A)]
  *
  * (the standard beta-binomial identity; evaluated in log space with
  * lgamma so 10⁶-success arms don't overflow). The α_B-term sum is driver
  * work bounded by `maxTerms` with a named error.
  *
  * 100 TB shape: ONE row-scale aggregate to 4 arm counts; everything else
  * is a handful of lgamma calls on the driver. Rows with success values
  * outside {0, 1} fail fast in the same pass.
  *
  * Returns one row: (n0, s0, n1, s1, rate0, rate1, p_beats_control,
  * expected_lift) — rates are posterior means, expected_lift their ratio
  * minus 1. */
object Bayes {

  def betaBinomial(df: DataFrame, t: Column, success: Column,
                   priorAlpha: Double = 1.0, priorBeta: Double = 1.0,
                   maxTerms: Long = 5000000L): DataFrame = {
    require(priorAlpha > 0 && priorBeta > 0,
      "bayes_ab: priors must be positive")
    require(priorAlpha == math.rint(priorAlpha),
      s"bayes_ab: the closed-form exceedance needs an integer prior " +
        s"alpha, got $priorAlpha")
    require(maxTerms > 0, "bayes_ab: maxTerms must be positive")
    val s = success.cast("long")
    val r = df.filter(t.isNotNull && s.isNotNull)
      .agg(
        sum(when(t === 0, 1L).otherwise(0L)).as("n0"),
        sum(when(t === 0 && s === 1, 1L).otherwise(0L)).as("s0"),
        sum(when(t === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(t === 1 && s === 1, 1L).otherwise(0L)).as("s1"),
        sum(when(s =!= 0 && s =!= 1, 1L).otherwise(0L)).as("bad"))
      .head()
    require(r.getLong(4) == 0,
      s"bayes_ab: ${r.getLong(4)} rows have success outside {0, 1}")
    val n0 = r.getLong(0); val s0 = r.getLong(1)
    val n1 = r.getLong(2); val s1 = r.getLong(3)
    require(n0 > 0 && n1 > 0, "bayes_ab: both arms need rows")
    val aA = priorAlpha + s0; val bA = priorBeta + (n0 - s0)
    val aB = priorAlpha + s1; val bB = priorBeta + (n1 - s1)
    val nTerms = aB.toLong
    require(nTerms <= maxTerms,
      s"bayes_ab: the exceedance sum has $nTerms terms " +
        s"(> maxTerms=$maxTerms) — raise maxTerms if intended")
    import org.apache.commons.math3.special.Gamma.logGamma
    def lbeta(x: Double, y: Double): Double =
      logGamma(x) + logGamma(y) - logGamma(x + y)
    val lbAB = lbeta(aA, bA)
    var p = 0.0
    var i = 0L
    while (i < nTerms) {
      p += math.exp(lbeta(aA + i, bA + bB) - math.log(bB + i) -
        lbeta(1.0 + i, bB) - lbAB)
      i += 1
    }
    val m0 = aA / (aA + bA); val m1 = aB / (aB + bB)
    val out = Row(n0, s0, n1, s1, m0, m1, math.min(1.0, p), m1 / m0 - 1.0)
    val schema = StructType(Seq(
      StructField("n0", LongType), StructField("s0", LongType),
      StructField("n1", LongType), StructField("s1", LongType),
      StructField("rate0", DoubleType), StructField("rate1", DoubleType),
      StructField("p_beats_control", DoubleType),
      StructField("expected_lift", DoubleType)))
    df.sparkSession.createDataFrame(
      df.sparkSession.sparkContext.parallelize(Seq(out), 1), schema)
  }

  /** K-arm Bayesian best-arm readout — P(arm k is best) (the Thompson-
    * sampling allocation weights) and the expected loss of committing to
    * each arm, for conversion metrics under independent Beta posteriors:
    *
    *   P(k best) = ∫ f_k(x) Π_{j≠k} F_j(x) dx
    *   loss(k)   = E[max_j p_j] − E[p_k],
    *   E[max]    = ∫ (1 − Π_j F_j(x)) dx
    *
    * evaluated by composite Simpson quadrature on the driver over the
    * union of the posteriors' ±10σ ranges (outside it every integrand
    * term is below 1e-20; Beta pdf/cdf from commons-math). No Monte
    * Carlo: the report is deterministic and replayable. For K = 2 the
    * p_best of arm 1 equals [[betaBinomial]]'s closed-form exceedance
    * (the unit spec pins the agreement), which cross-validates the
    * quadrature.
    *
    * 100 TB shape: ONE row-scale aggregate to (arm, n, s) cells with a
    * `maxArms` guard; the quadrature is
    * O(K² · grid) driver flops. Success values outside {0, 1} fail fast
    * in the same pass. Returns one row per arm, ordered:
    * (arm, n, s, rate, p_best, expected_loss). */
  def bestArm(df: DataFrame, arm: Column, success: Column,
              priorAlpha: Double = 1.0, priorBeta: Double = 1.0,
              maxArms: Int = 64, gridPoints: Int = 20001): DataFrame = {
    require(priorAlpha > 0 && priorBeta > 0,
      "bayes_best_arm: priors must be positive")
    require(gridPoints >= 101 && gridPoints % 2 == 1,
      "bayes_best_arm: gridPoints must be odd and >= 101")
    val s = success.cast("long")
    val cells = graft.stats.LocalCollapse.within(
      df.filter(arm.isNotNull && s.isNotNull)
        .groupBy(arm.cast("string").as("arm"))
        .agg(count(lit(1)).as("n"), sum(s).as("s"),
          sum(when(s =!= 0 && s =!= 1, 1L).otherwise(0L)).as("bad"))
        .orderBy(col("arm")), maxArms)(
      s"bayes_best_arm: more than $maxArms arms — this is not an " +
        "experiment arm column; raise maxArms if it is")
    require(cells.length >= 2, "bayes_best_arm: need at least 2 arms")
    val badTotal = cells.map(_.getLong(3)).sum
    require(badTotal == 0,
      s"bayes_best_arm: $badTotal rows have success outside {0, 1}")
    val arms = cells.map(_.getString(0))
    val post = cells.map { r =>
      (priorAlpha + r.getLong(2), priorBeta + (r.getLong(1) - r.getLong(2)))
    }
    val k = post.length
    // integration window: union of ±10 posterior sd around each mean
    val (lo, hi) = post.foldLeft((1.0, 0.0)) { case ((l, h), (a, b)) =>
      val m = a / (a + b)
      val sd = math.sqrt(a * b / ((a + b) * (a + b) * (a + b + 1.0)))
      (math.min(l, m - 10 * sd), math.max(h, m + 10 * sd))
    }
    val (wLo, wHi) = (math.max(0.0, lo), math.min(1.0, hi))
    val m = gridPoints
    val h = (wHi - wLo) / (m - 1)
    val dists = post.map { case (a, b) =>
      new org.apache.commons.math3.distribution.BetaDistribution(a, b)
    }
    // tabulate pdf/cdf once per arm per grid point; Simpson weights 1,4,2...
    val pdf = Array.ofDim[Double](k, m)
    val cdf = Array.ofDim[Double](k, m)
    var i = 0
    while (i < m) {
      val x = wLo + i * h
      var j = 0
      while (j < k) {
        pdf(j)(i) = dists(j).density(x)
        cdf(j)(i) = dists(j).cumulativeProbability(x)
        j += 1
      }
      i += 1
    }
    def simpson(f: Int => Double): Double = {
      var acc = f(0) + f(m - 1)
      var i = 1
      while (i < m - 1) { acc += f(i) * (if (i % 2 == 1) 4.0 else 2.0); i += 1 }
      acc * h / 3.0
    }
    val pBest = (0 until k).map { j =>
      math.min(1.0, simpson { i =>
        var prod = pdf(j)(i)
        var l = 0
        while (l < k) { if (l != j) prod *= cdf(l)(i); l += 1 }
        prod
      })
    }
    // E[max p] = wLo + ∫ (1 − Π F) over the window (Π F ≈ 0 below, 1 above)
    val eMax = wLo + simpson { i =>
      var prod = 1.0
      var l = 0
      while (l < k) { prod *= cdf(l)(i); l += 1 }
      1.0 - prod
    }
    val rows = (0 until k).map { j =>
      val (a, b) = post(j)
      val rate = a / (a + b)
      Row(arms(j), cells(j).getLong(1), cells(j).getLong(2), rate,
        pBest(j), math.max(0.0, eMax - rate))
    }
    val schema = StructType(Seq(
      StructField("arm", StringType), StructField("n", LongType),
      StructField("s", LongType), StructField("rate", DoubleType),
      StructField("p_best", DoubleType),
      StructField("expected_loss", DoubleType)))
    df.sparkSession.createDataFrame(
      scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava, schema)
  }
}
