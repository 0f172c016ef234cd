package graft.stats

import java.io.{ByteArrayOutputStream, DataOutputStream}
import java.nio.ByteBuffer
import java.util.concurrent.atomic.{AtomicBoolean, AtomicReference}

import scala.concurrent.Await
import scala.concurrent.duration.Duration
import scala.util.control.NonFatal

import org.apache.spark.FutureAction
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{InterpretedOrdering, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Sort}
import org.apache.spark.sql.functions.{approx_count_distinct, struct}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.unsafe.Platform

/** Bounded driver collapse — the library's one mechanism for "collapse the
  * input to at most N (cell, count) rows, collect them, and do the math on
  * the driver" (iterative fits over design cells, exact order statistics
  * over value histograms, driver-side graph algorithms). When the cell
  * frame is bounded, one distributed pass plus plain Scala replaces every
  * per-iteration or per-rank distributed job at any data scale; past the
  * bound the caller runs its distributed path unchanged (each call site
  * keeps a forced-fallback spec via its bound parameter = 0).
  *
  * Gate. Plan statistics first: a frame estimated at most 1 GiB collects
  * directly (worst case a few million cells, bounded-cheap). Past 1 GiB —
  * or when the statistics cannot be computed, the safe side — a
  * constant-memory `approx_count_distinct` sketch decides: over the cell
  * keys' input when the optimized plan is an `Aggregate` (so a
  * non-collapsing design never pays the full cell aggregate), else over the
  * frame's own columns. An estimate above 2 × `maxCells` (the slack swamps
  * the sketch's 5% rsd, so a truly bounded frame is never misrouted) skips
  * the collection. Measured need: without the sketch, a non-collapsing
  * 100M-row design paid its cell aggregate before bailing (cox_ph_strat
  * 21 → 68 s).
  *
  * Bound. `Some(rows)` iff the frame holds at most `maxCells` rows;
  * `maxCells <= 0` returns None with no job. Collection is ONE job over
  * every partition, each shipping at most `maxCells + 1` rows as packed
  * UnsafeRow bytes (callers read primitives off the INTERNAL rows,
  * skipping the external Row conversion); no session conf is touched.
  * The first partition result that takes the running total past
  * `maxCells` cancels the job, so an over-bound frame stops after about
  * one wave of tasks instead of shipping every partition (measured on a
  * 4-vCPU VM at local[4]: a 4M-edge pageRank past its 1M bound bails in
  * 0.3-0.7 s, as cheap as the count() it replaced). Worst case for driver-held rows:
  * `maxCells` kept plus the results of the tasks in flight when the bound
  * is passed, each at most `maxCells + 1` rows (those results also count
  * against `spark.driver.maxResultSize`).
  *
  * Hard limits. [[within]] is the same read for a frame the caller needs
  * whole: no sketch gate, raises past the bound, sorts on the driver.
  * Every bounded driver read under `graft.ops` goes through one of the
  * two entry points (LocalCollapseSpec scans for hand-written
  * `limit(max + 1)` bounds).
  */
object LocalCollapse {

  private val bigInputBytes = BigInt(1L << 30)

  def collect(cells: DataFrame, maxCells: Int): Option[Array[InternalRow]] =
    if (maxCells <= 0 || farPastBound(cells, maxCells)) None
    else read(cells, maxCells)

  /** Every row of `frame` when it holds at most `max` rows, else an
    * `IllegalArgumentException("requirement failed: " + tooMany)` — the
    * hard-limit twin of [[collect]] for callers that need the rows either
    * way (group tables, event-time grids, probe sets): no sketch gate,
    * the same one-job read, and no fallback. `max = 0` still runs the
    * read, so an empty frame returns empty and any row raises. A frame
    * whose optimized plan ends in a global `Sort` reads the sort's child
    * and sorts the ≤ `max` rows on the driver with Spark's ordering over
    * the same `SortOrder`s, so the rows keep the frame's order without a
    * range-partitioning job. */
  def within(frame: DataFrame, max: Long)(tooMany: => String): Array[Row] = {
    val (input, order) = frame.queryExecution.optimizedPlan match {
      case s: Sort if s.global =>
        (ColumnBridge.ofRows(frame.sparkSession, s.child),
          Some(new InterpretedOrdering(s.order, s.child.output)))
      case _ => (frame, None)
    }
    // a driver array holds fewer than Int.MaxValue rows, whatever `max` says
    val bound = math.min(max, Int.MaxValue - 1L).toInt
    val rows = if (max < 0) None else read(input, bound)
    require(rows.isDefined, tooMany)
    val toRow = CatalystTypeConverters.createToScalaConverter(frame.schema)
    order.fold(rows.get)(rows.get.sorted(_)).map(toRow(_).asInstanceOf[Row])
  }

  /** The one bounded read behind [[collect]] and [[within]]: `Some(rows)`
    * iff `frame` holds at most `max` rows. */
  private def read(frame: DataFrame, max: Int): Option[Array[InternalRow]] = {
    val rdd = frame.queryExecution.toRdd
    val width = frame.schema.length
    val limit = max + 1
    val parts = new Array[(Int, Array[Byte])](rdd.getNumPartitions)
    var total = 0L
    // the handler runs on the scheduler thread, possibly before submitJob
    // returns, so both sides check for the other before cancelling
    val over = new AtomicBoolean(false)
    val job = new AtomicReference[FutureAction[Unit]]()
    job.set(rdd.sparkContext.submitJob(rdd,
      (it: Iterator[InternalRow]) => encode(it, limit), parts.indices,
      (i: Int, part: (Int, Array[Byte])) => {
        total += part._1
        if (total <= max) parts(i) = part
        else if (!over.getAndSet(true)) Option(job.get).foreach(_.cancel())
      }, ()))
    if (over.get) job.get.cancel()
    try Await.result(job.get, Duration.Inf)
    catch { case NonFatal(_) if over.get => () } // our own cancellation
    if (over.get) None
    else {
      ColumnBridge.doCheckpoint(rdd)
      Some(parts.flatMap { case (n, bytes) => decode(n, bytes, width) })
    }
  }

  /** Up to `limit` rows as length-prefixed UnsafeRow bytes, the encoding
    * Spark's own collect ships: 2-5x cheaper than serialized row objects. */
  private def encode(it: Iterator[InternalRow], limit: Int): (Int, Array[Byte]) = {
    val bytes = new ByteArrayOutputStream
    val out = new DataOutputStream(bytes)
    val buf = new Array[Byte](4096)
    var n = 0
    while (n < limit && it.hasNext) {
      val r = it.next().asInstanceOf[UnsafeRow]
      out.writeInt(r.getSizeInBytes)
      r.writeToStream(out, buf)
      n += 1
    }
    out.flush()
    (n, bytes.toByteArray)
  }

  /** The rows of [[encode]], each pointing into the shared buffer. */
  private def decode(n: Int, bytes: Array[Byte], width: Int): Array[InternalRow] = {
    val in = ByteBuffer.wrap(bytes)
    Array.fill[InternalRow](n) {
      val size = in.getInt()
      val r = new UnsafeRow(width)
      r.pointTo(bytes, Platform.BYTE_ARRAY_OFFSET + in.position(), size)
      in.position(in.position() + size)
      r
    }
  }

  private def farPastBound(cells: DataFrame, maxCells: Int): Boolean = {
    val plan = cells.queryExecution.optimizedPlan
    val big =
      try plan.stats.sizeInBytes > bigInputBytes
      catch { case NonFatal(_) => true } // unknown size: let the sketch decide
    big && {
      val (input, keys) = plan match {
        case a: Aggregate if a.groupingExpressions.nonEmpty =>
          (a.child, a.groupingExpressions)
        case _ => (plan, plan.output)
      }
      ColumnBridge.ofRows(cells.sparkSession, input)
        .agg(approx_count_distinct(struct(keys.map(ColumnBridge.column): _*)))
        .head().getLong(0) > 2L * maxCells
    }
  }
}
