package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.immutable.ListMap
import scala.collection.mutable

/** One execution of an op inside a pass. */
final case class Exec(op: String, latencyS: Double, ok: Boolean, layers: Option[OpLayers],
    cpuS: Double = 0.0)

/** Runs ops one at a time in a closed loop (one client) and times each from
  * the first call into the library until its result is fully collected.
  * Everything else (the checkpoint sweep, the listener drain, digests) happens
  * between ops, outside the timing. */
final class Runner(spark: SparkSession, trace: LayerTrace,
    afterOp: (Op, Array[Row]) => Unit = (_, _) => ()) {
  val lastRows = mutable.Map.empty[String, Array[Row]]
  val errors = mutable.LinkedHashMap.empty[String, String]

  def run(op: Op, traced: Boolean): Exec = {
    val (gc0, jit0, cg0, cgNs0) =
      (JvmCounters.gcMs, JvmCounters.jitMs, JvmCounters.codegenCompiles, JvmCounters.codegenNs)
    val cpu0 = HostCounters.processCpuS
    val m0 = System.currentTimeMillis
    val t0 = System.nanoTime
    var (t1, m1) = (t0, m0)
    val ok =
      try {
        val df = op.build(spark)
        t1 = System.nanoTime
        m1 = System.currentTimeMillis
        val rows = df.collect()
        lastRows(op.name) = rows
        true
      } catch {
        case e: Throwable =>
          errors.getOrElseUpdate(op.name, s"${e.getClass.getName}: ${e.getMessage}")
          false
      }
    val t2 = System.nanoTime
    val m2 = System.currentTimeMillis
    val cpuS = HostCounters.processCpuS - cpu0
    val latency = (t2 - t0) / 1e9
    val layers = if (!traced) None else {
      val pinned = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
      Some(trace.take(m0, m1, m2, latency, (t1 - t0) / 1e9, Map(
        "storage.pinned_mb" -> pinned / 1048576.0,
        "jvm.gc_s" -> (JvmCounters.gcMs - gc0) / 1e3,
        "jvm.jit_s" -> (JvmCounters.jitMs - jit0) / 1e3,
        "codegen.compiles" -> (JvmCounters.codegenCompiles - cg0).toDouble,
        "codegen.compile_s" -> (JvmCounters.codegenNs - cgNs0) / 1e9)))
    }
    if (ok) afterOp(op, lastRows(op.name))
    graft.Ckpt.sweep(spark)
    Exec(op.name, latency, ok, layers, cpuS)
  }

  def pass(ops: Seq[Op], traced: Boolean): Seq[Exec] = {
    if (traced) trace.attach()
    try ops.map(run(_, traced)) finally if (traced) trace.detach()
  }
}

object Main {
  final case class Args(workload: String = "", seed: Long = 1L, seconds: Double = 35,
      trace: Boolean = false, root: Path = Paths.get("."), launchMs: Long = -1L,
      commit: String = "unknown", record: Option[Path] = None)

  @annotation.tailrec
  def parse(a: List[String], acc: Args = Args()): Args = a match {
    case "--workload" :: v :: t => parse(t, acc.copy(workload = v))
    case "--seed" :: v :: t => parse(t, acc.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, acc.copy(seconds = v.toDouble))
    case "--trace" :: v :: t => parse(t, acc.copy(trace = v == "1"))
    case "--root" :: v :: t => parse(t, acc.copy(root = Paths.get(v)))
    case "--launch-ms" :: v :: t => parse(t, acc.copy(launchMs = v.toLong))
    case "--commit" :: v :: t => parse(t, acc.copy(commit = v))
    case "--record" :: v :: t => parse(t, acc.copy(record = Some(Paths.get(v))))
    case Nil => acc
    case x :: _ => throw new IllegalArgumentException(s"unknown or incomplete argument $x")
  }

  /** Set-ups per run; `setup_s` is their median. */
  val SetUps = 3
  /** A tail percentile needs this many samples beyond it. */
  val TailBeyond = 10
  /** Warm passes per run: each op's warm figures are the best of this many
    * executions. More do not fit the run budget of `BENCHMARK.json`. */
  val WarmPasses = 2
  /** The measuring time of those passes on the 4-vCPU reference host;
    * `run_seconds` in BENCHMARK.json. */
  val NominalSeconds = 40.0
  /** Spark task slots. Fewer than the host's vCPUs, so the JIT, the GC and
    * the driver thread run beside the tasks instead of preempting them, and a
    * neighbour's load on a shared host moves the timings less. */
  val MaxCores = 2

  def cores: Int = math.min(MaxCores, Runtime.getRuntime.availableProcessors)

  def newSession(work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", "16384")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Fixed CPU calibration job, best of three: it shows host drift between
    * runs and is never used as a claim. */
  def sentinel(spark: SparkSession): Double = (1 to 3).map { _ =>
    val t0 = System.nanoTime
    spark.range(0L, 50L * 1000 * 1000, 1L, cores).selectExpr("sum(id % 7)").collect()
    (System.nanoTime - t0) / 1e9
  }.min

  /** Checks each op's last result once. Returns the ops whose output is
    * wrong and the number of failed executions: an execution fails when it
    * threw, or when its op's output does not check out. */
  def judge(ops: Seq[Op], lastRows: collection.Map[String, Array[Row]],
      execs: Seq[Exec]): (Map[String, String], Int) = {
    val wrong = ops.flatMap { op =>
      lastRows.get(op.name).flatMap { rows =>
        try op.check(rows) catch { case e: Throwable => Some(s"check failed: $e") }
      }.map(op.name -> _)
    }.toMap
    (wrong, execs.count(e => !e.ok || wrong.contains(e.op)))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toList)
    val work = a.root.resolve(".bench_build/perfbench").toAbsolutePath
    Files.createDirectories(work)
    val wl = Workload(a.workload, a.root, a.seed, work)

    // set-up: the first from process start, then again in fresh sessions
    // (new session state, functions and temp views on the same context)
    val setups = mutable.ArrayBuffer.empty[Double]
    var spark = newSession(work)
    wl.setUp(spark)
    setups += (if (a.launchMs > 0) (System.currentTimeMillis - a.launchMs) / 1e3
               else java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3)
    (1 until SetUps).foreach { _ =>
      val t0 = System.nanoTime
      spark = spark.newSession()
      wl.setUp(spark)
      setups += (System.nanoTime - t0) / 1e9
    }
    val sentinelStart = sentinel(spark)

    val ops = wl.ops
    val digests = mutable.Map.empty[String, mutable.Map[Int, mutable.Set[String]]]
    val afterOp: (Op, Array[Row]) => Unit =
      if (a.record.isEmpty) (_, _) => ()
      else (op, rows) => Seq(12, 10, 8, 6, 4).foreach { d =>
        digests.getOrElseUpdate(op.name, mutable.Map.empty)
          .getOrElseUpdate(d, mutable.Set.empty) += Digest.of(rows, d)
      }
    val tables = mutable.Map.empty[String, mutable.Set[String]]
    val tableSpy = new TableSpy(tables)
    if (a.record.nonEmpty) spark.listenerManager.register(tableSpy)
    val trace = new LayerTrace(spark)
    val runner = new Runner(spark, trace, (op, rows) => {
      if (a.record.nonEmpty) {
        org.apache.spark.perfbench.ListenerDrain(spark.sparkContext)
        tableSpy.flush(op.name)
      }
      afterOp(op, rows)
    })

    // ---- timed phase: a cold pass, then a fixed number of warm passes ----
    val rng = new scala.util.Random(a.seed)
    // A fixed amount of work, so every run measures the same thing:
    // WarmPasses warm passes, once per NominalSeconds of --seconds.
    // The traced run: an untraced, a traced and an untraced warm pass, so
    // drift hits both sides alike and the traced run stays within the run
    // time limit on a loaded host.
    val warmPasses =
      if (a.trace) 3
      else WarmPasses * math.max(1, (a.seconds / NominalSeconds).toInt)
    JvmCounters.resetPeakHeap()
    val steal0 = HostCounters.stealS
    val t0 = System.nanoTime
    val cold = runner.pass(rng.shuffle(ops), traced = a.trace)
    val passCpu, passSteal = mutable.ArrayBuffer.empty[Double]
    val warm = (0 until warmPasses).map { i =>
      val traced = a.trace && i == 1
      val (cpu0, st0) = (HostCounters.processCpuS, HostCounters.stealS)
      val p = runner.pass(rng.shuffle(ops), traced)
      passCpu += HostCounters.processCpuS - cpu0
      passSteal += HostCounters.stealS - st0
      traced -> p
    }
    val timedS = (System.nanoTime - t0) / 1e9
    val stealS = HostCounters.stealS - steal0
    val peakHeapMb = JvmCounters.peakLiveHeapBytes / 1048576.0

    // ---- correctness, once per run, outside the timing ----
    val execs = cold ++ warm.flatMap(_._2)
    val (mismatches, failed) = judge(ops, runner.lastRows, execs)
    val sentinelEnd = sentinel(spark)

    // ---- end-to-end metrics (untraced passes only) ----
    val plain = warm.collect { case (false, p) => p }
    val warmLat = plain.flatten.map(_.latencyS)
    val perOpWarm = plain.flatten.groupBy(_.op).map { case (k, v) => k -> Stats.median(v.map(_.latencyS)) }
    // Each op at its best warm execution, in latency and in CPU: on a shared
    // host the other executions carry the hypervisor's steal and leftover JIT
    // work, which vary from run to run more than the program does.
    val perOpBest = plain.flatten.groupBy(_.op).map { case (k, v) => k -> v.map(_.latencyS).min }
    val perOpBestCpu = plain.flatten.groupBy(_.op).map { case (k, v) => k -> v.map(_.cpuS).min }
    val tail = Stats.tail(warmLat.toSeq, TailBeyond)
    val wallS = perOpBest.values.sum
    val inputRows = ops.map(_.inputRows).sum
    val endToEnd = ListMap(
      "setup_s" -> ("s", Stats.median(setups.toSeq)),
      "cold_cpu_s" -> ("s", cold.map(_.cpuS).sum),
      "cpu_s" -> ("s", perOpBestCpu.values.sum),
      "peak_heap_mb" -> ("MB", peakHeapMb))
    // Latency figures: on a shared host they move with its load by about as
    // much as the benchmark's bounds, so they are reported in the run
    // record, not in the result line.
    val latency = ListMap(
      "cold_wall_s" -> ("s", cold.map(_.latencyS).sum),
      "wall_s" -> ("s", wallS),
      "geomean_s" -> ("s", Stats.geomean(perOpBest.values.toSeq)),
      "p50_s" -> ("s", Stats.median(warmLat.toSeq)),
      "tail_s" -> ("s", tail.map(_.value).getOrElse(Double.NaN)),
      "rows_per_s" -> ("rows/s", inputRows / wallS))

    // ---- per-layer metrics (traced passes only) ----
    val tracedPasses = warm.filter(_._1).map(_._2)
    def passSum(p: Seq[Exec], k: String) = p.flatMap(_.layers).map(_(k)).sum
    def medianOver(k: String) = Stats.median(tracedPasses.map(passSum(_, k)).toSeq)
    lazy val perLayer: ListMap[String, (String, Double)] = {
      val firstPass = Set("codegen.compiles", "codegen.compile_s", "jvm.jit_s")
      val base = OpLayers.units.map { case (k, unit) =>
        val v =
          if (firstPass(k)) passSum(cold, k)
          else if (k == "storage.pinned_mb")
            Stats.median(tracedPasses.map(_.flatMap(_.layers).map(_(k)).max).toSeq)
          else medianOver(k)
        k -> (unit, v)
      }
      // each op at its best traced execution against its best untraced one,
      // so the JIT warm-up of the first warm pass counts on neither side
      val tracedWall = tracedPasses.flatten.groupBy(_.op).values.map(_.map(_.latencyS).min).sum
      ListMap(base: _*) ++ ListMap(
        "exec.cpu_ratio" -> ("ratio", medianOver("exec.task_cpu_s") / medianOver("exec.task_s")),
        "exec.scan_amplification" -> ("ratio", medianOver("exec.input_rows") / inputRows),
        "host.sentinel_s" -> ("s", (sentinelStart + sentinelEnd) / 2),
        "trace.overhead" -> ("ratio", tracedWall / wallS))
    }

    // per-query layer rows of the traced run (board workloads)
    val queryRows: Seq[ListMap[String, Any]] = if (!a.trace) Nil else ops.map { op =>
      val w = tracedPasses.flatten.filter(_.op == op.name)
      val c = cold.filter(_.op == op.name)
      ListMap[String, Any]("query" -> op.name,
        "cold_s" -> c.map(_.latencyS).sum,
        "warm_s" -> perOpWarm.getOrElse(op.name, Double.NaN)) ++
        OpLayers.units.map { case (k, _) =>
          k -> (if (k.startsWith("codegen.") || k == "jvm.jit_s") c.flatMap(_.layers).map(_(k)).sum
                else if (w.isEmpty) Double.NaN else Stats.median(w.flatMap(_.layers).map(_(k))))
        }
    }

    val metrics = if (a.trace) perLayer else endToEnd
    val record = ListMap[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
      "commit" -> a.commit, "cores" -> cores,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "ops" -> ops.length, "input_rows" -> inputRows,
      "setups_s" -> setups, "timed_s" -> timedS,
      "sentinel_start_s" -> sentinelStart, "sentinel_end_s" -> sentinelEnd,
      "warm_passes" -> warm.length, "pass_walls_s" -> warm.map(_._2.map(_.latencyS).sum),
      "pass_cpu_s" -> passCpu, "pass_steal_s" -> passSteal, "host_steal_s" -> stealS,
      "latency" -> latency.map { case (k, (u, v)) => k -> ListMap("value" -> v, "unit" -> u) },
      "op_lat" -> execs.groupBy(_.op).map { case (k, v) => k -> v.map(_.latencyS) },
      "op_cpu" -> execs.groupBy(_.op).map { case (k, v) => k -> v.map(_.cpuS) },
      "tail" -> tail.map(t => ListMap("percentile" -> t.percentile,
        "samples" -> t.samples, "beyond" -> t.beyond)),
      "errors" -> runner.errors, "mismatches" -> mismatches,
      "metrics" -> metrics.map { case (k, (u, v)) => k -> ListMap("value" -> v, "unit" -> u) },
      "queries" -> queryRows)
    val runs = Files.createDirectories(work.resolve("runs"))
    Files.writeString(runs.resolve(
      s"${a.workload}-seed${a.seed}-trace${if (a.trace) 1 else 0}.json"), Json(record))
    a.record.foreach { p =>
      Files.writeString(p, Json(ListMap(
        "cold_s" -> cold.map(e => e.op -> e.latencyS).toMap,
        "warm_s" -> perOpWarm,
        "rows" -> runner.lastRows.map { case (k, v) => k -> v.length },
        "tables" -> tables.map { case (k, v) => k -> v.toSeq.sorted },
        "digests" -> digests.map { case (k, v) => k -> v.map { case (d, s) => d.toString -> s.toSeq.sorted } },
        "errors" -> runner.errors)))
    }
    spark.stop()

    queryRows.foreach(r => println(Json(ListMap("query_layers" -> r))))
    println(Json(ListMap("run" -> (record - "queries" - "metrics" - "op_lat" - "op_cpu"))))
    runner.errors.foreach { case (k, v) => System.err.println(s"[perfbench] $k failed: $v") }
    mismatches.foreach { case (k, v) => System.err.println(s"[perfbench] $k wrong: $v") }
    val missing = metrics.collect { case (k, (_, v)) if v.isNaN || v.isInfinite => k }
    if (missing.nonEmpty) {
      System.err.println(s"[perfbench] no value for ${missing.mkString(", ")}")
      sys.exit(3)
    }
    println(Json(ListMap(
      "correct" -> (failed == 0), "attempted" -> execs.length, "failed" -> failed,
      "metrics" -> metrics.map { case (k, (u, v)) => k -> ListMap("value" -> v, "unit" -> u) })))
  }
}

/** Records which committed tables each op's queries read (list building). */
final class TableSpy(into: mutable.Map[String, mutable.Set[String]]) extends QueryExecutionListener {
  private val pending = mutable.Set.empty[String]
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = synchronized {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    qe.analyzed.foreach {
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation =>
          pending ++= h.location.rootPaths.map(_.getName.stripSuffix(".parquet"))
        case _ => ()
      }
      case _ => ()
    }
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  def flush(op: String): Unit = synchronized {
    into.getOrElseUpdate(op, mutable.Set.empty) ++= pending
    pending.clear()
  }
}
