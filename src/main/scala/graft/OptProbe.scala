package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.scheduler._

/** Optimization-round measurement harness (guide §1: measure first).
  *
  * For each named SparkEntry query, runs it `reps` times in the Bench
  * session config and prints one JSON line per execution with the wall
  * time decomposed into where it went:
  *
  *   - `jobs`      — number of Spark jobs the query submitted
  *   - `job_wall`  — seconds covered by running jobs (sum of per-job
  *                   submit→end), i.e. distributed-execution wall
  *   - `gap`       — wall − job_wall: driver-only time (analysis,
  *                   optimization, codegen, result handling between jobs)
  *   - `task_sec`  — sum of task run times across all jobs (CPU-ish)
  *   - `compiles` / `compile_ms` — janino codegen compilations during the
  *                   execution (delta of the global CodegenMetrics), the
  *                   cost that a literal-embedding plan re-pays per pass
  *
  * Usage: runMain graft.OptProbe <query> [more...]  (env: SPARK_GRAFT_SF_DIR,
  * SPARK_GRAFT_CPUS, SPARK_GRAFT_PROBE_REPS). */
object OptProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val reps = sys.env.getOrElse("SPARK_GRAFT_PROBE_REPS", "3").toInt
    val localDir = {
      val shm = new java.io.File("/dev/shm")
      if (shm.isDirectory && shm.canWrite) {
        val d = new java.io.File(shm, "graft_bench_scratch"); d.mkdirs(); d.getAbsolutePath
      } else System.getProperty("java.io.tmpdir")
    }
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", "16384")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Seq("lineitem", "documents", "embeddings", "events", "orders").foreach { t =>
      try spark.read.parquet(s"$sfDir/$t.parquet").count()
      catch { case _: Throwable => () }
    }

    // job/task accounting listener
    object L extends SparkListener {
      val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
      @volatile var jobs = 0
      @volatile var jobWallNs = 0L
      @volatile var taskNs = 0L
      def reset(): Unit = { jobs = 0; jobWallNs = 0L; taskNs = 0L; jobStart.clear() }
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobStart.put(e.jobId, System.nanoTime()); jobs += 1
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val s = jobStart.remove(e.jobId)
        if (s != null) jobWallNs += System.nanoTime() - s
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        if (e.taskMetrics != null)
          taskNs += e.taskMetrics.executorRunTime * 1000000L
      }
    }
    spark.sparkContext.addSparkListener(L)

    import org.apache.spark.metrics.source.CodegenMetrics
    def compiles: (Long, Long) = {
      val h = CodegenMetrics.METRIC_COMPILATION_TIME
      (h.getCount, h.getSnapshot.getValues.sum)
    }

    args.foreach { name =>
      val fn = SparkEntry.queries(name)
      (0 until reps).foreach { r =>
        L.reset()
        val (c0, _) = compiles
        val t0 = System.nanoTime()
        val ok = try { fn(spark, sfDir).count(); true }
                 catch { case e: Throwable =>
                   System.err.println(s"[optprobe] $name: ${e.getMessage}"); false }
        val wall = (System.nanoTime() - t0) / 1e9
        // let the listener bus drain before reading the counters
        Thread.sleep(300)
        val (c1, _) = compiles
        try Ckpt.sweep(spark) catch { case _: Throwable => () }
        val jw = L.jobWallNs / 1e9
        println(f"""{"query":"$name","rep":$r,"ok":$ok,"wall":$wall%.3f,"jobs":${L.jobs},"job_wall":$jw%.3f,"gap":${wall - jw}%.3f,"task_sec":${L.taskNs / 1e9}%.3f,"compiles":${c1 - c0}}""")
      }
    }
    spark.stop()
  }
}
