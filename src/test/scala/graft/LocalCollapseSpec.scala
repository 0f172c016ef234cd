package graft.ops

import scala.jdk.CollectionConverters._

import graft.SparkTestSession
import graft.stats.LocalCollapse
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskStart}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The bounded DRIVER collapse primitive (graft.stats.LocalCollapse: one
  * job, bound, no session conf writes), the exact order-statistic verbs
  * built on it, and the hash-encoded ngram_novelty: every fast path must
  * equal its distributed twin, forced via maxLocalCells/maxLocalRows = 0
  * (the FitCellsSpec/CoxCellsSpec contract — any new driver fast path
  * carries a forced-fallback spec). */
class LocalCollapseSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // heavy-tailed values with duplicates, ties at the median, two arms,
  // three groups — awkward for order statistics on purpose
  private lazy val base = {
    val rows = (0 until 4000).map { i =>
      val v =
        if (i % 13 == 0) 25.0 // heavy tie block
        else if (i % 97 == 0) 1e6 + i // far tail
        else ((i * 37) % 701) / 7.0 - 31.0
      (v, i % 2, s"g${i % 3}")
    }
    rows.toDF("y", "t", "g").repartition(7)
  }

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  private def assertClose(a: Seq[Seq[Any]], b: Seq[Seq[Any]], tol: Double): Unit = {
    assert(a.length == b.length, s"row count ${a.length} vs ${b.length}")
    a.zip(b).foreach { case (ra, rb) =>
      ra.zip(rb).foreach {
        case (x: Double, y: Double) =>
          assert(math.abs(x - y) <= tol * math.max(1.0, math.abs(y)),
            s"$x vs $y")
        case (x, y) => assert(x == y, s"$x vs $y")
      }
    }
  }

  // ---- the LocalCollapse primitive itself ----

  /** Jobs and tasks started by `body` on this thread (job group), counted
    * by a listener; a sentinel job in a second group drains the listener
    * bus (events on one queue arrive in order) before the counts are read. */
  private def jobsDuring[T](body: => T): (T, Int, Int) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val tasks = new java.util.concurrent.atomic.AtomicInteger
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some("lc-probe") =>
            jobs.incrementAndGet(); e.stageIds.foreach(stages.add)
          case Some("lc-drain") => drained.countDown()
          case _ => ()
        }
      override def onTaskStart(e: SparkListenerTaskStart): Unit =
        if (stages.contains(e.stageId)) { tasks.incrementAndGet(); () }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("lc-probe", "LocalCollapseSpec")
      val out = body
      sc.setJobGroup("lc-drain", "LocalCollapseSpec")
      sc.parallelize(Seq(1), 1).count()
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS))
      (out, jobs.get, tasks.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  private lazy val forty = spark.range(0, 40, 1, 5).toDF("x")

  test("LocalCollapse: under the bound, every row in exactly one job") {
    val (rows, jobs, _) = jobsDuring(LocalCollapse.collect(forty, 40))
    assert(rows.map(_.map(_.getLong(0)).sorted.toSeq) == Some(0L until 40L))
    assert(jobs == 1, s"$jobs jobs")
  }

  test("LocalCollapse: over the bound returns None") {
    assert(LocalCollapse.collect(forty, 39).isEmpty)
  }

  test("LocalCollapse: past the bound over many small partitions, the job stops early") {
    // every partition (10 rows) fits the bound but the total (400) does
    // not; the plan's size estimate is tiny, so no sketch runs and the
    // collection job itself must bail. Tasks take ~200 ms, so the 40 of
    // them would run in 10 waves on the session's 4 cores; the
    // cancellation stops new launches after the first results arrive.
    val slow = udf { (x: Long) => Thread.sleep(20); x }
    val wide = spark.range(0, 400, 1, 40).select(slow(col("id")).as("x"))
    val (rows, jobs, tasks) = jobsDuring(LocalCollapse.collect(wide, 15))
    assert(rows.isEmpty)
    assert(jobs == 1, s"$jobs jobs")
    assert(tasks <= 20, s"$tasks of 40 tasks started")
  }

  test("LocalCollapse: maxCells = 0 returns None and runs no job") {
    val (rows, jobs, _) = jobsDuring(LocalCollapse.collect(forty, 0))
    assert(rows.isEmpty)
    assert(jobs == 0, s"$jobs jobs")
  }

  test("LocalCollapse: the session conf is identical before and after") {
    val before = spark.conf.getAll
    assert(LocalCollapse.collect(forty, 40).isDefined)
    assert(LocalCollapse.collect(forty, 3).isEmpty)
    assert(spark.conf.getAll == before)
  }

  test("LocalCollapse: unknown plan size is sketch-gated on the grouping keys") {
    // an RDD-backed frame has no size statistics (read as big), so the
    // approx_count_distinct sketch decides before any cell aggregate runs
    val rdd = spark.sparkContext.parallelize(0 until 3000, 4).map(i => (i % 100, i))
    val cells = spark.createDataFrame(rdd).toDF("k", "v").groupBy("k").count()
    assert(LocalCollapse.collect(cells, 10).isEmpty) // ~100 keys > 2 × 10
    assert(LocalCollapse.collect(cells, 100).map(_.length) == Some(100))
  }

  test("library code under ops/ and stats/ never writes session conf") {
    val roots = Seq("src/main/scala/graft/ops", "src/main/scala/graft/stats")
    val files = roots.flatMap { r =>
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(r))
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }
    assert(files.nonEmpty)
    val writes = files.flatMap { f =>
      java.nio.file.Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (l, i) if l.contains("conf.set(") || l.contains("conf.unset(") =>
          s"$f:${i + 1}"
      }
    }
    assert(writes.isEmpty, writes.mkString("session conf writes: ", ", ", ""))
  }

  test("exactQuantilesOnCounts: fractional counts == fallback (no truncation)") {
    val byV = (1 to 6).map(i => (i.toDouble, Seq(0.5, 1.5, 2.5)(i % 3)))
      .toDF("v", "c")
    val ps = Seq(0.1, 0.25, 0.5, 0.75, 0.9)
    val fast = Robust.exactQuantilesOnCounts(byV, ps)
    val dist = Robust.exactQuantilesOnCounts(byV, ps, maxLocalCells = 0)
    fast.zip(dist).foreach { case (a, b) => assert(a == b, s"$a != $b") }
  }

  test("exactQuantiles: driver collapse == RangeCumSum fallback, bit-for-bit") {
    val ps = Seq(0.0, 0.1, 0.25, 0.5, 0.75, 0.9, 1.0)
    val fast = Robust.exactQuantiles(base, col("y"), ps)
    val dist = Robust.exactQuantiles(base, col("y"), ps, maxLocalCells = 0)
    fast.zip(dist).foreach { case (a, b) => assert(a == b, s"$a != $b") }
  }

  test("madOutliers exact: collapse == fallback") {
    val fast = rowsOf(Robust.madOutliers(base, col("y"), 3.0, exact = true))
    val dist = rowsOf(Robust.madOutliers(base, col("y"), 3.0, exact = true,
      maxLocalCells = 0))
    assertClose(fast, dist, 1e-12)
  }

  test("robustMeans exact: collapse == fallback") {
    val fast = rowsOf(Robust.robustMeans(base, col("y"), exact = true))
    val dist = rowsOf(Robust.robustMeans(base, col("y"), exact = true,
      maxLocalCells = 0))
    assertClose(fast, dist, 1e-12)
  }

  test("yuenTest exact: collapse == fallback") {
    val fast = rowsOf(Robust.yuenTest(base, col("y"), col("t"), exact = true))
    val dist = rowsOf(Robust.yuenTest(base, col("y"), col("t"), exact = true,
      maxLocalCells = 0))
    assertClose(fast, dist, 1e-12)
  }

  test("quantileTreatmentEffect exact: collapse == fallback, bit-for-bit") {
    val ps = Seq(0.25, 0.5, 0.75, 0.9)
    val fast = rowsOf(QuantileTest.quantileTreatmentEffect(base, col("y"),
      col("t"), ps, exact = true).orderBy("percentile"))
    val dist = rowsOf(QuantileTest.quantileTreatmentEffect(base, col("y"),
      col("t"), ps, exact = true, maxLocalCells = 0).orderBy("percentile"))
    assertClose(fast, dist, 0.0)
  }

  test("moodMedian exact: collapse == fallback") {
    val fast = rowsOf(Contingency.moodMedian(base, col("y"), col("g"),
      exact = true))
    val dist = rowsOf(Contingency.moodMedian(base, col("y"), col("g"),
      exact = true, maxLocalCells = 0))
    assertClose(fast, dist, 1e-12)
  }

  test("wasserstein1: collapse == fallback") {
    val fast = RankTests.wasserstein1(base, col("y"), col("t"))
    val dist = RankTests.wasserstein1(base, col("y"), col("t"),
      maxLocalCells = 0)
    assert(math.abs(fast - dist) <= 1e-12 * math.max(1.0, math.abs(dist)),
      s"$fast vs $dist")
  }

  test("spearman: collapse == fallback") {
    val withX = base.withColumn("x", col("y") * col("y") - col("t") * 3.0)
    val fast = rowsOf(RankTests.spearman(withX, col("x"), col("y")))
    val dist = rowsOf(RankTests.spearman(withX, col("x"), col("y"),
      maxLocalCells = 0))
    assertClose(fast, dist, 1e-12)
  }

  test("theilSen: collapse == fallback, bit-for-bit") {
    val small = base.limit(300).select(col("y").as("yy"),
      (col("y") * 0.7 + col("t") * 11.0).as("xx"))
    val fast = rowsOf(Regression.theilSen(small, col("xx"), col("yy")))
    val dist = rowsOf(Regression.theilSen(small, col("xx"), col("yy"),
      maxLocalRows = 0))
    assertClose(fast, dist, 0.0)
  }

  test("NaN values force the fallback (ordering semantics stay Spark's)") {
    val withNan = base.withColumn("y",
      when(col("t") === 1 && col("y") > 1e5, lit(Double.NaN))
        .otherwise(col("y")))
    // both paths must agree even though the fast path bails on NaN
    val ps = Seq(0.5, 0.95)
    val a = Robust.exactQuantiles(withNan, col("y"), ps)
    val b = withNan.agg(percentile(col("y"),
      array(ps.map(lit): _*))).head().getSeq[Double](0)
    a.zip(b).foreach { case (x, y) => assert(x == y, s"$x != $y") }
  }

  test("CausalForest: binned-design cell collapse == row path (forced)") {
    val df = (0 until 6000).map { i =>
      val h = if (i % 3 == 0) 1 else 0
      val t = i % 2
      val u = ((i * 2654435761L) % 1000) / 1000.0 - 0.5
      (10.0 + 5 * h + t * (2.0 + 8 * h) + u, t, (i % 50).toDouble,
        (i % 11) / 10.0)
    }.toDF("y", "t", "f1", "f2").repartition(9)
    val fs = Seq("f1" -> col("f1"), "f2" -> col("f2"))
    val fast = CausalForest.fit(df, col("y"), col("t"), fs, numTrees = 4,
      maxDepth = 3, minNodeSize = 50, bins = 16)
    val dist = CausalForest.fit(df, col("y"), col("t"), fs, numTrees = 4,
      maxDepth = 3, minNodeSize = 50, bins = 16, maxLocalCells = 0)
    assert(fast.trees.length == dist.trees.length)
    fast.trees.zip(dist.trees).foreach { case (a, b) =>
      assert(a.feature.toSeq == b.feature.toSeq, "tree structure differs")
      assert(a.threshold.toSeq.map(d => if (d.isNaN) "nan" else f"$d%.12f")
        == b.threshold.toSeq.map(d => if (d.isNaN) "nan" else f"$d%.12f"))
      a.effect.zip(b.effect).foreach { case (x, y) =>
        assert(math.abs(x - y) < 1e-8, s"leaf effect $x vs $y") }
      a.stderr.zip(b.stderr).foreach { case (x, y) =>
        assert(math.abs(x - y) < 1e-6, s"leaf stderr $x vs $y") }
    }
    fast.variableImportance.zip(dist.variableImportance).foreach {
      case (x, y) => assert(math.abs(x - y) < 1e-8, s"importance $x vs $y") }
  }

  // ---- ngram_novelty hash-encoded path ----

  test("ngramNovelty: hash-encoded path == exact-string path") {
    val cur = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "pack my box with five dozen liquor jugs"),
      (3L, "the quick brown fox"), // shorter than n ⇒ one all-tokens gram
      (4L, "  Mixed   CASE   And\tWhitespace  runs "),
      (5L, null.asInstanceOf[String]),
      (6L, "repeat repeat repeat repeat repeat")).toDF("id", "text")
    val ref = Seq(
      (11L, "the quick brown fox sleeps"),
      (12L, "pack my box with five dozen liquor jugs"),
      (13L, "entirely unrelated reference content here")).toDF("id", "text")
    val fast = rowsOf(TextOps.ngramNovelty(cur, ref, col("text"),
      col("text"), 3))
    val exact = rowsOf(TextOps.ngramNoveltyExact(cur, ref, col("text"),
      col("text"), 3))
    assertClose(fast, exact, 0.0)
    // and for n = 1 (unigrams, heavier overlap)
    val fast1 = rowsOf(TextOps.ngramNovelty(cur, ref, col("text"),
      col("text"), 1))
    val exact1 = rowsOf(TextOps.ngramNoveltyExact(cur, ref, col("text"),
      col("text"), 1))
    assertClose(fast1, exact1, 0.0)
  }

  test("ngramNovelty collision audit: a shared (h1, len) with two h2 " +
    "witnesses returns None (caller falls back to exact strings)") {
    // crafted keys: two DISTINCT grams (different h2) colliding on (h1, len)
    val collided = Seq(
      (10L, 3, 100L, 1), (10L, 3, 200L, 0), // collision across sides
      (20L, 5, 300L, 1)).toDF("h1", "len", "h2", "side")
    assert(TextOps.noveltyOnKeys(collided).isEmpty)
    // same keys without the collision: counts close exactly
    val clean = Seq(
      (10L, 3, 100L, 1), (10L, 3, 100L, 0), // shared gram
      (20L, 5, 300L, 1), (20L, 5, 300L, 1), // new gram in 2 cur docs
      (30L, 2, 400L, 0)).toDF("h1", "len", "h2", "side")
    val r = TextOps.noveltyOnKeys(clean).get.head()
    assert(r.getAs[Long]("ngrams_current") == 2)
    assert(r.getAs[Long]("ngrams_new") == 1)
    assert(r.getAs[Long]("occurrences_current") == 3)
    assert(r.getAs[Long]("occurrences_new") == 2)
    assert(math.abs(r.getAs[Double]("novelty_distinct") - 0.5) < 1e-15)
    assert(math.abs(r.getAs[Double]("novelty_weighted") - 2.0 / 3) < 1e-15)
  }
}
