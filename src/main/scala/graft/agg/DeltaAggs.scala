package graft.agg

import java.io.{DataInputStream, DataOutputStream}

import scala.collection.mutable

import graft.expr.ExprTree
import graft.stats.{DeltaStats, TtestCommon}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Result row of a one-sample t-test (reference ttest_1samp.h:201-255
  * emits the same six fields as a formatted text block; we emit a typed
  * struct). */
case class Ttest1Result(estimate: Double, stderr: Double, t_statistic: Double,
                        p_value: Double, lower: Double, upper: Double)

/** Result row of a two-sample t-test (reference ttest_2samp.h:359-430). */
case class Ttest2Result(mean0: Double, mean1: Double, estimate: Double,
                        stderr: Double, t_statistic: Double, p_value: Double,
                        lower: Double, upper: Double)

/** Two-group delta-method state. */
case class Ttest2Buf(s0: DeltaStats, s1: DeltaStats)

/** Kernels over a DeltaStats buffer of the `k` leading double inputs
  * (delta_method, ttest_1samp, matrix_multiplication): a row with a null
  * input is skipped. */
abstract class DeltaKernel(k: Int) extends Kernel[DeltaStats] {
  def zero: DeltaStats = DeltaStats.zero(k)
  def reduce(b: DeltaStats, in: Array[Expression], row: InternalRow): DeltaStats = {
    val xs = Kernel.doubles(in, row, k)
    if (xs != null) b.update(xs)
    b
  }
  def merge(b: DeltaStats, o: DeltaStats): DeltaStats = b.merge(o)
  def write(b: DeltaStats, out: DataOutputStream): Unit = Kernel.writeStats(out, b)
  def read(in: DataInputStream): DeltaStats = Kernel.readStats(in)
}

object DeltaKernel {
  val Ttest2Type: DataType = Kernel.doubleStruct("mean0", "mean1", "estimate", "stderr",
    "t_statistic", "p_value", "lower", "upper")
}

/** `delta_method('x1/x2', isStd)(cols…)` — variance (or std) of a smooth
  * function of per-column means, single pass, O(k²) state.
  * Spark-side re-expression of the reference aggregate
  * (/root/reference/src/udf/starrocks/be/src/exprs/agg/delta_method.h:348-444):
  * partial aggregation and buffer serialization are [[NativeAgg]]'s, so
  * only the state math is custom.
  */
class DeltaMethodAgg(expr: String, isStd: Boolean, k: Int) extends DeltaKernel(k) {
  @transient private lazy val tree = ExprTree(expr, k)
  def dataType: DataType = DoubleType
  def finish(s: DeltaStats): Double =
    if (s.count <= 1) Double.NaN
    else DeltaStats.calcDeltaMethod(tree, s.count, s.means, s.covMatrix, isStd)
}

/** `ttest_1samp('x1/x2', alternative, mu, cuped, alpha)(cols…)` — one-sample
  * t-test of f(means) against mu, optional CUPED covariate adjustment.
  * Port of ttest_1samp.h:201-255; p-value vs normal, CI vs Student-t. */
class Ttest1SampAgg(expr: String, alternativeStr: String, mu: Double,
                    cuped: String, alpha: Double, k: Int) extends DeltaKernel(k) {
  @transient private lazy val alt = TtestCommon.alternative(alternativeStr)
  def dataType: DataType =
    Kernel.doubleStruct("estimate", "stderr", "t_statistic", "p_value", "lower", "upper")
  def finish(s: DeltaStats): Ttest1Result = {
    if (s.count <= 1)
      return Ttest1Result(Double.NaN, Double.NaN, Double.NaN, Double.NaN, Double.NaN, Double.NaN)
    val (mean, v) = TtestCommon.cupedMeanAndVar1Samp(expr, cuped, k, s.count, s.means, s.covMatrix)
    val stderr = math.sqrt(v)
    val estimate = mean - mu
    var t = estimate / stderr
    if (t.isNaN || t.isInfinite) {
      // reference convention: zero-variance data → t = 0 when estimate ~ 0,
      // ±inf otherwise (ttest_1samp.h:224-232)
      t = if (math.abs(estimate) < Double.MinPositiveValue) 0.0
          else if (estimate > 0) Double.PositiveInfinity else Double.NegativeInfinity
    }
    val p = TtestCommon.pValue(t, alt)
    val (lo, hi) = TtestCommon.confidenceInterval(estimate, stderr, s.count, alpha, alt)
    Ttest1Result(estimate, stderr, t, p, lo, hi)
  }
}

/** `ttest_2samp('x1/x2', index, alternative, cuped, alpha)(cols…, treatment)` —
  * two-sample t-test of f(means) between treatment groups 0/1, optional
  * CUPED with θ estimated on the pooled sample.
  * Port of ttest_2samp.h:359-430 (non-PSE path; post-stratification is
  * provided by [[Ttest2SampPseAgg]]). Inputs: the `k` doubles, then the
  * int treatment (0 = control, anything else = treatment). */
class Ttest2SampAgg(expr: String, alternativeStr: String, cuped: String,
                    alpha: Double, k: Int, mu: Double = 0.0) extends Kernel[Ttest2Buf] {
  @transient private lazy val alt = TtestCommon.alternative(alternativeStr)
  def dataType: DataType = DeltaKernel.Ttest2Type
  def zero: Ttest2Buf = Ttest2Buf(DeltaStats.zero(k), DeltaStats.zero(k))
  def reduce(b: Ttest2Buf, in: Array[Expression], row: InternalRow): Ttest2Buf = {
    val xs = Kernel.doubles(in, row, k)
    val t = in(k).eval(row)
    if (xs != null && t != null) {
      if (t.asInstanceOf[Int] == 0) b.s0.update(xs) else b.s1.update(xs)
    }
    b
  }
  def merge(b1: Ttest2Buf, b2: Ttest2Buf): Ttest2Buf = {
    b1.s0.merge(b2.s0); b1.s1.merge(b2.s1); b1
  }
  def write(b: Ttest2Buf, out: DataOutputStream): Unit = {
    Kernel.writeStats(out, b.s0); Kernel.writeStats(out, b.s1)
  }
  def read(in: DataInputStream): Ttest2Buf = Ttest2Buf(Kernel.readStats(in), Kernel.readStats(in))
  def finish(b: Ttest2Buf): Ttest2Result = {
    val nan = Double.NaN
    if (b.s0.count <= 1 || b.s1.count <= 1)
      return Ttest2Result(nan, nan, nan, nan, nan, nan, nan, nan)
    val combined = DeltaStats.zero(k).merge(b.s0).merge(b.s1)
    val (m0, m1, v0, v1) = TtestCommon.calcMeansAndVars(expr, cuped, k, b.s0, b.s1, combined)
    val stderr = math.sqrt(v0 + v1)
    // mu shifts the null hypothesis: H0 is diff = mu, so the reported
    // estimate/t/CI are all of (diff - mu), mirroring the reference's
    // Ttest1Samp estimate = mean - params.mu finalizer
    val estimate = m1 - m0 - mu
    val t = estimate / stderr
    val p = TtestCommon.pValue(t, alt)
    val (lo, hi) = TtestCommon.confidenceInterval(
      estimate, stderr, b.s0.count + b.s1.count, alpha, alt)
    Ttest2Result(m0, m1, estimate, stderr, t, p, lo, hi)
  }
}

/** Post-stratified (PSE) two-sample t-test: per-stratum delta states are
  * kept in a map keyed by the stratum value; stratum estimates recombine
  * weighted by stratum share (ttest_2samp.h:292-357). Inputs: the `k`
  * doubles, the int treatment, the long stratum. */
case class Ttest2PseBuf(groups: mutable.HashMap[(Long, Int), DeltaStats])

class Ttest2SampPseAgg(expr: String, alternativeStr: String, cuped: String,
                       alpha: Double, k: Int) extends Kernel[Ttest2PseBuf] {
  @transient private lazy val alt = TtestCommon.alternative(alternativeStr)
  def dataType: DataType = DeltaKernel.Ttest2Type
  def zero: Ttest2PseBuf = Ttest2PseBuf(mutable.HashMap.empty)
  def reduce(b: Ttest2PseBuf, in: Array[Expression], row: InternalRow): Ttest2PseBuf = {
    val xs = Kernel.doubles(in, row, k)
    val t = in(k).eval(row)
    val stratum = in(k + 1).eval(row)
    if (xs != null && t != null && stratum != null) {
      val key = (stratum.asInstanceOf[Long], if (t.asInstanceOf[Int] == 0) 0 else 1)
      b.groups.getOrElseUpdate(key, DeltaStats.zero(k)).update(xs)
    }
    b
  }
  def write(b: Ttest2PseBuf, out: DataOutputStream): Unit = {
    out.writeInt(b.groups.size)
    b.groups.foreach { case ((stratum, t), s) =>
      out.writeLong(stratum); out.writeInt(t); Kernel.writeStats(out, s)
    }
  }
  def read(in: DataInputStream): Ttest2PseBuf = {
    val b = zero
    for (_ <- 0 until in.readInt()) {
      val key = (in.readLong(), in.readInt())
      b.groups.put(key, Kernel.readStats(in))
    }
    b
  }
  def merge(b1: Ttest2PseBuf, b2: Ttest2PseBuf): Ttest2PseBuf = {
    b2.groups.foreach { case (key, s) =>
      b1.groups.get(key) match {
        case Some(mine) => mine.merge(s)
        case None => b1.groups.put(key, s)
      }
    }
    b1
  }
  def finish(b: Ttest2PseBuf): Ttest2Result = {
    val nan = Double.NaN
    val total0 = DeltaStats.zero(k)
    val total1 = DeltaStats.zero(k)
    b.groups.foreach { case ((_, t), s) => (if (t == 0) total0 else total1).merge(s) }
    if (total0.count == 0 || total1.count == 0)
      return Ttest2Result(nan, nan, nan, nan, nan, nan, nan, nan)
    val totalCount = total0.count + total1.count
    var mean0 = 0.0; var mean1 = 0.0; var var0 = 0.0; var var1 = 0.0
    val strata = b.groups.keys.map(_._1).toSeq.distinct.sorted
    for (stratum <- strata) {
      (b.groups.get((stratum, 0)), b.groups.get((stratum, 1))) match {
        case (Some(s0), Some(s1)) if s0.count > 1 && s1.count > 1 =>
          val sub = DeltaStats.zero(k).merge(s0).merge(s1)
          val (m0, m1, v0, v1) = TtestCommon.calcMeansAndVars(expr, cuped, k, s0, s1, sub)
          val w = sub.count.toDouble / totalCount
          mean0 += m0 * w; mean1 += m1 * w
          var0 += v0 * w * w; var1 += v1 * w * w
        case _ => // stratum lacking a group or with a single sample: skipped
                  // with a warning in the reference (ttest_2samp.h:317-327)
      }
    }
    val stderr = math.sqrt(var0 + var1)
    val estimate = mean1 - mean0
    val t = estimate / stderr
    val p = TtestCommon.pValue(t, alt)
    val (lo, hi) = TtestCommon.confidenceInterval(estimate, stderr, totalCount, alpha, alt)
    Ttest2Result(mean0, mean1, estimate, stderr, t, p, lo, hi)
  }
}
