package graft

import graft.streaming.StreamOps
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class StreamOpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("StreamRun.inputBytes sums the part files of a directory-shaped parquet") {
    val tmp = java.nio.file.Files.createTempDirectory("inputbytes").toFile
    try {
      spark.range(0, 5000, 1, 3).toDF("x")
        .write.parquet(new java.io.File(tmp, "events.parquet").getPath)
      val files = new java.io.File(tmp, "events.parquet").listFiles()
      assert(files.count(_.getName.endsWith(".parquet")) == 3)
      assert(graft.streaming.StreamRun.inputBytes(tmp.getPath, "events.parquet")
        == files.filter(_.isFile).map(_.length).sum)
      assert(graft.streaming.StreamRun.inputBytes(tmp.getPath, "absent") == -1L)
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(tmp)
    }
  }

  test("windowedMetrics aggregates an event stream with watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, Double)]
    val df = input.toDF().toDF("ts_s", "etype", "value")
      .withColumn("ts", col("ts_s").cast("timestamp"))
    val out = StreamOps.windowedMetrics(df, col("ts"), col("etype"), col("value"),
      "10 seconds", "5 seconds")
    val q = out.writeStream.format("memory").queryName("wm")
      .outputMode("update").start()
    try {
      input.addData((1L, "click", 1.0), (3L, "click", 2.0), (12L, "view", 5.0))
      q.processAllAvailable()
      val rows = spark.table("wm").collect()
      val click = rows.find(_.getAs[String]("group") == "click").get
      assert(click.getAs[Long]("n") == 2 && click.getAs[Double]("sum_value") == 3.0)
    } finally q.stop()
  }

  test("windowedTtest emits running two-sample stats per window") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Int, Double)]
    val df = input.toDF().toDF("ts_s", "t", "y")
      .withColumn("ts", col("ts_s").cast("timestamp"))
    val out = StreamOps.windowedTtest(df, col("ts"), col("t"), col("y"),
      "60 seconds", "10 seconds")
    val q = out.writeStream.format("memory").queryName("wt")
      .outputMode("update").start()
    try {
      val rng = new scala.util.Random(3)
      val batch = (1 to 400).map { i =>
        val t = i % 2
        (5L + (i % 50), t, 1.0 * t + rng.nextGaussian())
      }
      input.addData(batch: _*)
      q.processAllAvailable()
      val r = spark.table("wt").collect().last
      assert(r.getAs[Long]("n0") == 200 && r.getAs[Long]("n1") == 200)
      assert(math.abs(r.getAs[Double]("estimate") - 1.0) < 0.3)
      assert(r.getAs[Double]("t_statistic") > 3.0)
    } finally q.stop()
  }

  test("windowedPsi alarms on a drifted window, stays ~0 on the baseline mix") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Double)]
    val df = input.toDF().toDF("ts_s", "v")
      .withColumn("ts", col("ts_s").cast("timestamp"))
    // baseline: half below 10, half in [10, 20)
    val out = StreamOps.windowedPsi(df, col("ts"), col("v"),
      bins = Seq(10.0, 20.0), baselineShares = Seq(0.5, 0.5, 0.0),
      windowDuration = "10 seconds", watermarkDelay = "5 seconds")
    val q = out.writeStream.format("memory").queryName("wpsi")
      .outputMode("update").start()
    try {
      // window [0,10): matches baseline; window [10,20): all mass in bin 2
      input.addData((1L, 5.0), (2L, 15.0), (3L, 5.0), (4L, 15.0),
        (12L, 25.0), (13L, 25.0))
      q.processAllAvailable()
      val rows = spark.table("wpsi").collect()
        .map(r => r.getAs[Long]("n_window") -> r.getAs[Double]("psi")).toMap
      assert(math.abs(rows(4L)) < 1e-9, s"baseline window psi ${rows(4L)}")
      assert(rows(2L) > 1.0, s"drifted window psi ${rows(2L)}")
    } finally q.stop()
    // null metric values are dropped before binning (binnedDrift's
    // convention) — an unguarded cutBins would dump them in the top bin
    // and inflate its share
    val input2 = MemoryStream[(Long, java.lang.Double)]
    val df2 = input2.toDF().toDF("ts_s", "v")
      .withColumn("ts", col("ts_s").cast("timestamp"))
    val out2 = StreamOps.windowedPsi(df2, col("ts"), col("v"),
      bins = Seq(10.0, 20.0), baselineShares = Seq(0.5, 0.5, 0.0),
      windowDuration = "10 seconds", watermarkDelay = "5 seconds")
    val q2 = out2.writeStream.format("memory").queryName("wpsi_null")
      .outputMode("update").start()
    try {
      input2.addData((1L, 5.0), (2L, 15.0), (3L, null), (4L, null))
      q2.processAllAvailable()
      val r = spark.table("wpsi_null").collect().head
      assert(r.getAs[Long]("n_window") == 2L, "null values must not be binned")
      assert(math.abs(r.getAs[Double]("psi")) < 1e-9)
    } finally q2.stop()
    intercept[IllegalArgumentException] {
      StreamOps.windowedPsi(df, col("ts"), col("v"), Seq(10.0, 20.0),
        Seq(0.5, 0.5), "10 seconds", "5 seconds")
    }
  }

  test("windowedSrm flags an imbalanced traffic split") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Int)]
    val df = input.toDF().toDF("ts_s", "arm")
      .withColumn("ts", col("ts_s").cast("timestamp"))
    val out = StreamOps.windowedSrm(df, col("ts"), col("arm"), Seq(1.0, 1.0),
      "60 seconds", "10 seconds")
    val q = out.writeStream.format("memory").queryName("srm")
      .outputMode("update").start()
    try {
      // 90/10 split against an expected 50/50 — unambiguous mismatch
      input.addData((1 to 90).map(i => (i.toLong % 50, 0)) ++
        (1 to 10).map(i => (i.toLong % 50, 1)): _*)
      q.processAllAvailable()
      val r = spark.table("srm").collect().head
      assert(r.getAs[Long]("c0") == 90 && r.getAs[Long]("c1") == 10)
      assert(r.getAs[Long]("c_unexpected") == 0)
      assert(r.getAs[Double]("chisq") > 60.0) // (90-50)²/50 + (10-50)²/50 = 64
      assert(r.getAs[Double]("p_value") < 1e-6)
      // a mis-coded arm (outside 0..k-1) is counted and NaNs the verdict
      // instead of being silently dropped (batch SrmAgg convention)
      input.addData((100L, 0), (100L, 1), (100L, 7))
      q.processAllAvailable()
      val r2 = spark.table("srm").collect()
        .find(_.getAs[Long]("c_unexpected") > 0).get
      assert(r2.getAs[Long]("c_unexpected") == 1)
      assert(r2.getAs[Double]("chisq").isNaN && r2.getAs[Double]("p_value").isNaN)
    } finally q.stop()
  }

  test("streamingDedup drops repeated content within the watermark horizon") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long, String)]
    val df = input.toDF().toDF("doc_id", "ts_s", "text")
      .withColumn("ts", col("ts_s").cast("timestamp"))
    val out = StreamOps.streamingDedup(df, col("ts"), col("text"), "10 seconds")
    val q = out.writeStream.format("memory").queryName("sdedup")
      .outputMode("append").start()
    try {
      input.addData(
        (1L, 1L, "the quick brown fox"),
        (2L, 2L, "The  Quick Brown  FOX"), // same normalized content
        (3L, 3L, "something else entirely"))
      q.processAllAvailable()
      val ids = spark.table("sdedup").select("doc_id").collect().map(_.getLong(0)).toSet
      assert(ids == Set(1L, 3L), s"got $ids")
    } finally q.stop()
  }

  test("streamingMsprt: p tightens across micro-batch looks, A/A stays high") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def run(effect: Double, seed: Int): Seq[Double] = {
      val rng = new scala.util.Random(seed)
      def batch(n: Int) = (1 to n).map { i =>
        val t = i % 2
        StreamOps.MsprtEvent(7L, t, effect * t + rng.nextGaussian())
      }
      val input = MemoryStream[StreamOps.MsprtEvent]
      val out = StreamOps.streamingMsprt(input.toDS(), tau = 1.0)
      val sink = s"msprt_s_${seed}"
      val q = out.writeStream.format("memory").queryName(sink)
        .outputMode("update").start()
      try {
        val ps = scala.collection.mutable.ArrayBuffer.empty[Double]
        (1 to 3).foreach { _ =>
          input.addData(batch(800): _*)
          q.processAllAvailable()
          ps += spark.table(sink).orderBy($"n1".desc).head()
            .getAs[Double]("pAlwaysValid")
        }
        ps.toSeq
      } finally q.stop()
    }
    val eff = run(0.6, 21)
    // anytime-valid p is nonincreasing across looks and detects the effect
    eff.sliding(2).foreach(w => assert(w(1) <= w(0) + 1e-15, eff.toString))
    assert(eff.last < 0.05, s"effect not detected: $eff")
    val aa = run(0.0, 22)
    assert(aa.last > 0.2, s"A/A false positive: $aa")
  }

  test("streamingEwma: recursion by hand, shift flags, open period held") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StreamOps.EwmaEvent]
    val out = StreamOps.streamingEwma(input.toDS(), lambda = 0.5, l = 3.0)
    val q = out.writeStream.format("memory").queryName("ewma_s")
      .outputMode("update").start()
    try {
      // 20 quiet periods at ~10 (tiny wobble), 5 shifted to 14, plus an
      // open 26th period that must NOT emit; 2 events per period
      val evs = (0 until 26).flatMap { p =>
        val v = if (p < 20) 10.0 + (p % 3 - 1) * 0.1 else 14.0
        Seq(StreamOps.EwmaEvent("m", p.toLong, v - 0.5),
          StreamOps.EwmaEvent("m", p.toLong, v + 0.5))
      }
      input.addData(evs: _*)
      q.processAllAvailable()
      val rows = spark.table("ewma_s").as[StreamOps.EwmaOut].collect()
        .sortBy(_.period)
      assert(rows.length == 25 && rows.forall(_.nEvents == 2)) // 26th open
      // replay the recursion: z seeds at the first period metric
      var z = rows.head.metric
      rows.zipWithIndex.foreach { case (r, i) =>
        z = if (i == 0) r.metric else 0.5 * r.metric + 0.5 * z
        assert(math.abs(r.ewma - z) < 1e-12, s"period $i")
      }
      assert(!rows.take(10).exists(_.isAnomaly))
      assert(rows.last.isAnomaly, rows.last.toString)
      // a late event for a closed period is dropped, state unharmed
      input.addData(StreamOps.EwmaEvent("m", 3L, 100.0))
      q.processAllAvailable()
      assert(spark.table("ewma_s").count() == 25)
    } finally q.stop()
  }

  test("sessionize closes sessions on gap (batch semantics check)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StreamOps.SessionEvent]
    val out = StreamOps.sessionize(input.toDS(), gap = 1000L,
      timeout = org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout())
    val q = out.writeStream.format("memory").queryName("sess")
      .outputMode("append").start()
    try {
      // user 1: two bursts separated by > gap; user 2: one burst
      input.addData(
        StreamOps.SessionEvent(1L, 0L, 1.0), StreamOps.SessionEvent(1L, 500L, 2.0),
        StreamOps.SessionEvent(1L, 5000L, 3.0),
        StreamOps.SessionEvent(2L, 100L, 4.0))
      q.processAllAvailable()
      val rows = spark.table("sess").as[StreamOps.SessionOut].collect()
      // first burst of user 1 closed by the in-batch gap
      val closed = rows.filter(r => r.userId == 1L && r.n == 2)
      assert(closed.length == 1 && closed.head.sum == 3.0
        && closed.head.duration == 500L)
    } finally q.stop()
  }
}
