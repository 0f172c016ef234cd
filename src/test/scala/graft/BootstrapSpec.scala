package graft

import graft.ops.Bootstrap
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class BootstrapSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("poisson multiplicity has the right mean and determinism") {
    val d = (1 to 20000).map(_.toLong).toDF("id")
      .withColumn("u", (xxhash64($"id").cast("double") / lit(2.0 * Long.MaxValue)) + lit(0.5))
    val m = d.select(Bootstrap.poissonMultiplicity($"u", 1.0).as("k"))
    val stats = m.agg(avg($"k"), variance($"k")).head()
    assert(math.abs(stats.getDouble(0) - 1.0) < 0.05, s"mean ${stats.getDouble(0)}")
    assert(math.abs(stats.getDouble(1) - 1.0) < 0.1, s"var ${stats.getDouble(1)}")
    // deterministic: same input → same multiplicities
    val a = m.agg(sum($"k")).head().getLong(0)
    val b = m.agg(sum($"k")).head().getLong(0)
    assert(a == b)
  }

  test("bootstrap mean distribution approximates sampling distribution") {
    val rng = new scala.util.Random(5)
    val xs = (1 to 5000).map(i => (i.toLong, rng.nextGaussian() * 2 + 10))
    val d = spark.createDataFrame(xs).toDF("id", "x").repartition(4)
    val reps = Bootstrap.bootstrapAgg(d, b = 200, idCols = Seq($"id")) { w =>
      Seq("stat" -> (sum($"x" * w) / sum(w)))
    }
    assert(reps.count() == 200)
    val s = Bootstrap.summarize(reps, "stat")
    // bootstrap std ≈ σ/√n = 2/√5000 ≈ 0.0283
    assert(math.abs(s.mean - 10.0) < 0.05, s"mean ${s.mean}")
    assert(s.std > 0.015 && s.std < 0.045, s"std ${s.std}")
    assert(s.lower < 10.0 && 10.0 < s.upper)
    // reproducible across runs
    val s2 = Bootstrap.summarize(Bootstrap.bootstrapAgg(d, b = 200, idCols = Seq($"id")) { w =>
      Seq("stat" -> (sum($"x" * w) / sum(w)))
    }, "stat")
    assert(s.mean == s2.mean && s.std == s2.std)
  }

  test("permutation test: null is uniform-ish, real effect detected") {
    val rng = new scala.util.Random(17)
    val nullRows = (1 to 2000).map(i => (i.toLong, rng.nextGaussian(), rng.nextInt(2)))
    val dNull = spark.createDataFrame(nullRows).toDF("id", "y", "t")
    val (obsN, pN, _) = Bootstrap.permutationTest(dNull, $"y", $"t", b = 200, idCols = Seq($"id"))
    assert(pN > 0.01, s"null p should not be tiny: $pN (obs=$obsN)")

    val effRows = (1 to 2000).map { i =>
      val t = rng.nextInt(2)
      (i.toLong, rng.nextGaussian() + t * 0.8, t)
    }
    val dEff = spark.createDataFrame(effRows).toDF("id", "y", "t")
    val (obsE, pE, _) = Bootstrap.permutationTest(dEff, $"y", $"t", b = 200, idCols = Seq($"id"))
    assert(obsE > 0.5)
    assert(pE < 0.02, s"effect p should be small: $pE")
  }

  test("bootstrapOls slope CI covers the true coefficient") {
    val rng = new scala.util.Random(11)
    val rows = (1 to 4000).map { i =>
      val x = rng.nextGaussian()
      (i.toLong, 2.5 * x + 1.0 + rng.nextGaussian() * 0.8, x)
    }
    val d = spark.createDataFrame(rows).toDF("id", "y", "x").repartition(4)
    val reps = Bootstrap.bootstrapOls(d, $"y", Seq($"x"), b = 200, idCols = Seq($"id"))
    assert(reps.count() == 200)
    val Seq(slope, intercept) = Bootstrap.summarizeCoefficients(reps, 2)
    assert(slope.lower < 2.5 && 2.5 < slope.upper, s"slope CI [${slope.lower}, ${slope.upper}]")
    assert(intercept.lower < 1.0 && 1.0 < intercept.upper,
      s"intercept CI [${intercept.lower}, ${intercept.upper}]")
    // bootstrap se ≈ analytic se = 0.8/√4000 ≈ 0.0126 (for slope, up to Var(x))
    assert(slope.std > 0.005 && slope.std < 0.03, s"slope std ${slope.std}")
  }

  test("bootstrapAny: median bootstrap distribution centers on the true median") {
    val rng = new scala.util.Random(13)
    val rows = (1 to 3000).map(i => (i.toLong, rng.nextGaussian() + 5.0))
    val d = spark.createDataFrame(rows).toDF("id", "x").repartition(4)
    val reps = Bootstrap.bootstrapAny(d, b = 100, idCols = Seq($"id"))(
      Seq("med" -> expr("percentile(x, 0.5)")))
    assert(reps.count() == 100)
    val s = Bootstrap.summarize(reps, "med")
    assert(math.abs(s.mean - 5.0) < 0.1, s"median mean ${s.mean}")
    assert(s.std > 0.0, "replicates must vary")
  }

  test("permutation test with a Mann-Whitney inner statistic") {
    val rng = new scala.util.Random(19)
    val rows = (1 to 1500).map { i =>
      val t = rng.nextInt(2)
      (i.toLong, rng.nextGaussian() + t * 0.6, t)
    }
    val d = spark.createDataFrame(rows).toDF("id", "y", "t")
    // center U at its null mean n1·n2/2 so the two-sided |stat| compare works
    val mwStat: (org.apache.spark.sql.Column, org.apache.spark.sql.Column) => org.apache.spark.sql.Column =
      (y, t) => functions.mann_whitney_utest(y, t).getField("u_statistic") -
        sum(when(t === 1, 1)) * sum(when(t === 0, 1)) / 2.0
    val (obs, p, _) = Bootstrap.permutationTest(d, $"y", $"t", b = 100,
      idCols = Seq($"id"), stat = mwStat)
    assert(!obs.isNaN)
    assert(p < 0.05, s"MW permutation p should detect the shift: $p")
    // relative mde shift type runs end-to-end
    val (_, pRel, _) = Bootstrap.permutationTest(d, $"y", $"t", b = 50,
      mde = 0.1, mdeType = "rel", idCols = Seq($"id"))
    assert(pRel >= 0.0 && pRel <= 1.0)
  }

  test("stable row identity: duplicate rows draw independently") {
    // 1000 IDENTICAL rows; with content-only identity every replicate would
    // weight them all the same (replicate mean stuck at the point mass and
    // replicate SUM at n·w, variance n²·λ instead of n·λ)
    val d = (1 to 1000).map(_ => (1.0, 1)).toDF("y", "t")
    val reps = Bootstrap.bootstrapAgg(d, b = 100) { w => Seq("n" -> sum(w)) }
    val v = reps.agg(variance($"n")).head().getDouble(0)
    // Poisson(1) per-row: Var(Σw) ≈ 1000; correlated draws would give ~1000²
    assert(v > 300 && v < 3000, s"replicate-size variance $v")
  }

  test("ate and ipw estimators recover effects") {
    val rng = new scala.util.Random(29)
    // confounded: P(T=1) depends on x; Y = 1.5*T + 2*x + noise
    val rows = (1 to 8000).map { i =>
      val x = rng.nextGaussian()
      val e = 1.0 / (1.0 + math.exp(-x))          // true propensity
      val t = if (rng.nextDouble() < e) 1 else 0
      val y = 1.5 * t + 2.0 * x + rng.nextGaussian() * 0.5
      (i.toLong, y, t, e)
    }
    val d = spark.createDataFrame(rows).toDF("id", "y", "t", "e")
    val naive = Bootstrap.ateEstimator(d, $"y", $"t", b = 200)
    val ipw = Bootstrap.ipwEstimator(d, $"y", $"t", $"e", b = 200)
    assert(naive.estimate > 2.0, s"naive should be confounded upward: ${naive.estimate}")
    assert(math.abs(ipw.estimate - 1.5) < 0.25, s"ipw ≈ 1.5: ${ipw.estimate}")
    assert(ipw.lower < ipw.estimate && ipw.estimate < ipw.upper)
    assert(ipw.p_value < 0.01)
  }

  test("aipw estimator: doubly robust — saturated outcome models make any propensity exact") {
    val rng = new scala.util.Random(31)
    // one binary covariate cell; planted per-cell effects 1.0 and 3.0
    val rows = (1 to 4000).map { i =>
      val seg = i % 2
      val e = if (seg == 1) 0.7 else 0.3
      val t = if (rng.nextDouble() < e) 1 else 0
      val tau = if (seg == 1) 3.0 else 1.0
      val y = tau * t + 2.0 * seg + rng.nextGaussian() * 0.5
      (i.toLong, seg, y, t)
    }
    val d = spark.createDataFrame(rows).toDF("id", "seg", "y", "t")
    val cell = d.groupBy($"seg").agg(
      avg(when($"t" === 1, $"y")).as("m1"),
      avg(when($"t" === 0, $"y")).as("m0"),
      avg($"t".cast("double")).as("e"))
    val j = d.join(broadcast(cell), "seg")
    val good = Bootstrap.aipwEstimator(j, $"y", $"t", $"e", $"m1", $"m0",
      b = 100, idCols = Seq($"id"))
    // stratified closed form: equal cell sizes -> (tau0 + tau1) / 2 = 2
    assert(math.abs(good.estimate - 2.0) < 0.1, s"aipw: ${good.estimate}")
    // with exact cell outcome means the augmentation terms cancel within
    // each cell, so even a grossly wrong CONSTANT propensity moves nothing
    val wrong = Bootstrap.aipwEstimator(j, $"y", $"t", lit(0.9), $"m1", $"m0",
      b = 100, idCols = Seq($"id"))
    assert(math.abs(wrong.estimate - good.estimate) < 1e-9,
      s"DR property violated: ${wrong.estimate} vs ${good.estimate}")
    assert(good.lower < good.estimate && good.estimate < good.upper)
  }

  test("Par.ensure repartitions starved inputs and passes parallel ones through") {
    val d = (1 to 1000).map(_.toLong).toDF("id")
    val target = spark.sparkContext.defaultParallelism
    val starved = d.coalesce(1)
    assert(graft.ops.Par.ensure(starved, Seq($"id")).rdd.getNumPartitions == target)
    assert(graft.ops.Par.ensure(starved).rdd.getNumPartitions == target)
    // already-parallel input comes back with the SAME plan (no extra shuffle)
    val parallel = d.repartition(target + 3)
    assert(graft.ops.Par.ensure(parallel, Seq($"id")) eq parallel)
    // weights are id-derived, so the repartition cannot move any estimate
    val a = Bootstrap.bootstrapAgg(starved, b = 20, idCols = Seq($"id"))(w =>
      Seq("s" -> sum($"id" * w))).collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val b2 = Bootstrap.bootstrapAgg(d.repartition(5, $"id"), b = 20, idCols = Seq($"id"))(w =>
      Seq("s" -> sum($"id" * w))).collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(a == b2, "bootstrap sums drift with input layout")
  }

  test("Par.ensure counts a shuffled frame's partitions without running a job") {
    // the stable-id frame ends in the row_number window's hash exchange:
    // its partition count comes from planning, where toRdd ran the
    // exchange's map stage under adaptive execution
    val d = (1 to 1000).map(i => (i.toLong, i % 7)).toDF("a", "b")
    val (stable, ids) = Bootstrap.withStableIds(d)
    val (out, jobs) = JobCount.during(spark)(graft.ops.Par.ensure(stable, ids))
    assert(jobs == 0, s"$jobs jobs")
    assert(out eq stable) // its shuffle already has defaultParallelism partitions
  }
}
