package perfbench

import java.lang.management.ManagementFactory
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Process-wide counters that cost nothing to read, so the untimed and the
  * traced protocol can both sample them around a pass. */
object JvmCounters {
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq

  def gcMs: Long = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum
  def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  def codegenNs: Long =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime
  def resetPeakHeap(): Unit = peakLive = 0L
  /** Largest heap in use right after a collection since the last reset: the
    * peak of what the process retains. Heap in use at any instant includes
    * garbage not yet collected, so its peak mostly tracks young-gen sizing. */
  def peakLiveHeapBytes: Long = peakLive

  @volatile private var peakLive = 0L
  gcBeans.foreach {
    case e: javax.management.NotificationEmitter =>
      e.addNotificationListener((n: javax.management.Notification, _: AnyRef) => {
        import com.sun.management.GarbageCollectionNotificationInfo
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(
            n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
          val after = info.getGcInfo.getMemoryUsageAfterGc.values.asScala.map(_.getUsed).sum
          synchronized { peakLive = math.max(peakLive, after) }
        }
      }, null, null)
    case _ => ()
  }
}

/** What the host did to the run: CPU time of this process, and time the
  * hypervisor gave this machine's vCPUs to others (`steal` in /proc/stat,
  * NaN where that file is missing). Recorded per run, never a claim. */
object HostCounters {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def processCpuS: Double = os.getProcessCpuTime / 1e9

  def stealS: Double = try {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val cpu = src.getLines().next().trim.split("\\s+")
      cpu(8).toDouble / 100 // USER_HZ
    } finally src.close()
  } catch { case _: Exception => Double.NaN }
}

/** The layer split of one op, from the listeners of the traced run. */
final case class OpLayers(values: Map[String, Double]) {
  def apply(k: String): Double = values.getOrElse(k, 0.0)
}

object OpLayers {
  /** Per-layer names and units, in report order. The per-pass metrics of a
    * workload are these summed over a pass. */
  val units: Seq[(String, String)] = Seq(
    "gateway.build_s" -> "s", "ops.eager_jobs" -> "count", "ops.eager_s" -> "s",
    "catalyst.analysis_s" -> "s", "catalyst.optimization_s" -> "s",
    "catalyst.planning_s" -> "s", "codegen.compiles" -> "count",
    "codegen.compile_s" -> "s", "exec.jobs" -> "count", "exec.stages" -> "count",
    "exec.tasks" -> "count", "exec.job_wall_s" -> "s", "driver.self_s" -> "s",
    "exec.task_s" -> "s", "exec.task_cpu_s" -> "s", "exec.input_rows" -> "rows",
    "exec.input_mb" -> "MB", "exec.shuffle_write_mb" -> "MB", "exec.spill_mb" -> "MB",
    "storage.pinned_mb" -> "MB", "jvm.gc_s" -> "s", "jvm.jit_s" -> "s")

  /** Length of the union of closed intervals, clipped to [lo, hi]. */
  def unionLength(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var (curA, curB) = (Long.MinValue, Long.MinValue)
    clipped.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }
}

/** Spark and Catalyst listeners for the traced run. One client runs one op
  * at a time, so everything the listeners see between two [[take]] calls
  * belongs to the op in between. */
final class LayerTrace(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val jobStart = mutable.Map.empty[Int, Long]
  private val jobs = mutable.ArrayBuffer.empty[(Long, Long)] // epoch ms
  private val n = mutable.Map.empty[String, Double].withDefaultValue(0.0)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => jobs += ((s, e.time)))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    n("exec.stages") += 1
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    n("exec.tasks") += 1
    val m = e.taskMetrics
    if (m != null) {
      n("exec.task_s") += m.executorRunTime / 1e3
      n("exec.task_cpu_s") += m.executorCpuTime / 1e9
      n("exec.input_rows") += m.inputMetrics.recordsRead
      n("exec.input_mb") += m.inputMetrics.bytesRead / 1048576.0
      n("exec.shuffle_write_mb") += m.shuffleWriteMetrics.bytesWritten / 1048576.0
      n("exec.spill_mb") += m.diskBytesSpilled / 1048576.0
    }
  }
  private def phases(qe: QueryExecution): Unit = synchronized {
    val p = qe.tracker.phases
    def s(k: String) = p.get(k).map(_.durationMs / 1e3).getOrElse(0.0)
    n("catalyst.analysis_s") += s("analysis")
    n("catalyst.optimization_s") += s("optimization")
    n("catalyst.planning_s") += s("planning")
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    phases(qe)

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }
  def detach(): Unit = {
    org.apache.spark.perfbench.ListenerDrain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  /** Splits one op's time: `startMs`..`builtMs` built the DataFrame,
    * `builtMs`..`endMs` materialized it; `wallS` is its measured latency.
    * Drains the listener bus first, then resets for the next op. */
  def take(startMs: Long, builtMs: Long, endMs: Long, wallS: Double, buildS: Double,
      extra: Map[String, Double]): OpLayers = {
    org.apache.spark.perfbench.ListenerDrain(spark.sparkContext)
    synchronized {
      val eager = jobs.filter(_._1 <= builtMs).toSeq
      val eagerS = OpLayers.unionLength(eager, startMs, builtMs) / 1e3
      val jobWallS = OpLayers.unionLength(jobs.toSeq, startMs, endMs) / 1e3
      val out = n.toMap ++ extra ++ Map(
        "gateway.build_s" -> math.max(0.0, buildS - eagerS),
        "ops.eager_jobs" -> eager.length.toDouble,
        "ops.eager_s" -> eagerS,
        "exec.jobs" -> jobs.length.toDouble,
        "exec.job_wall_s" -> jobWallS,
        "driver.self_s" -> math.max(0.0, wallS - jobWallS))
      jobs.clear(); jobStart.clear(); n.clear()
      OpLayers(out)
    }
  }
}
