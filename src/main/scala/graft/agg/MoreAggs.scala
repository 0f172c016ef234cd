package graft.agg

import java.io.{DataInputStream, DataOutputStream}

import graft.stats.{DeltaStats, Dist, LinAlg, TtestCommon}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, StringType}
import scala.collection.mutable

/** Sample-ratio-mismatch chi-square (reference srm.h:51-258): per-group
  * observed sums vs expected shares; χ² with k−1 dof. Groups are ordered
  * lexicographically (the reference iterates a std::map). */
case class SrmResult(groups: Array[String], observed: Array[Double],
                     expected: Array[Double], chisq: Double, p_value: Double)

/** Inputs: the string group (null skips the row), the double value. */
class SrmAgg(ratios: Array[Double]) extends Kernel[mutable.HashMap[String, Double]] {
  def dataType: DataType = Kernel.struct("groups" -> ArrayType(StringType, containsNull = true),
    "observed" -> Kernel.Doubles, "expected" -> Kernel.Doubles,
    "chisq" -> DoubleType, "p_value" -> DoubleType)
  def zero: mutable.HashMap[String, Double] = mutable.HashMap.empty
  def reduce(b: mutable.HashMap[String, Double], in: Array[Expression],
             row: InternalRow): mutable.HashMap[String, Double] = {
    val g = in(0).eval(row)
    if (g != null) {
      val key = g.toString
      b(key) = b.getOrElse(key, 0.0) + in(1).eval(row).asInstanceOf[Double]
    }
    b
  }
  def merge(b1: mutable.HashMap[String, Double], b2: mutable.HashMap[String, Double]): mutable.HashMap[String, Double] = {
    b2.foreach { case (k, v) => b1(k) = b1.getOrElse(k, 0.0) + v }
    b1
  }
  def write(b: mutable.HashMap[String, Double], out: DataOutputStream): Unit = {
    out.writeInt(b.size)
    b.foreach { case (k, v) => Kernel.writeString(out, k); out.writeDouble(v) }
  }
  def read(in: DataInputStream): mutable.HashMap[String, Double] = {
    val b = zero
    for (_ <- 0 until in.readInt()) b(Kernel.readString(in)) = in.readDouble()
    b
  }
  def finish(b: mutable.HashMap[String, Double]): SrmResult = {
    val groups = b.keys.toArray.sorted
    val obs = groups.map(b)
    val ratioSum = ratios.sum
    val obsSum = obs.sum
    val exp = ratios.map(_ / ratioSum * obsSum)
    if (groups.length != ratios.length || ratioSum == 0.0)
      return SrmResult(groups, obs, Array.fill(groups.length)(Double.NaN), Double.NaN, Double.NaN)
    var chisq = 0.0
    for (i <- obs.indices) chisq += (obs(i) - exp(i)) * (obs(i) - exp(i)) / exp(i)
    val dof = (obs.length - 1).toDouble
    val p = if (dof <= 0) Double.NaN else 1.0 - Dist.chiSqCdf(chisq, dof)
    SrmResult(groups, obs, exp, chisq, p)
  }
}

/** Two-sample value→count histogram shared by the rank tests. State is
  * O(distinct values), not O(n): each entry maps a value to its
  * (count in sample0, count in sample1); merge sums counts element-wise.
  * Unlike the reference's collect-all buffers (mann_whitney.h:60-68,
  * kolmogorov_smirnov_test.h), partial buffers stay bounded by the group's
  * distinct-value count at any data scale, and the rank/CDF math operates
  * directly on the sorted histogram — a tie group IS a histogram entry.
  * For truly all-distinct continuous data at extreme scale, the
  * range-partitioned equivalents in [[graft.ops.RankTests]] avoid even the
  * distinct-count state. */
case class TwoSampleHist(m: mutable.HashMap[Double, Array[Long]]) {
  def add(v: Double, t: Int): Unit = {
    // NaN never satisfies either disjunct of the CDF-walk group test
    // (NaN == NaN and NaN - NaN <= tol are both false), so a NaN key would
    // spin testHist forever — drop it here, mirroring KsAgg.reduce's guard
    if (v.isNaN) return
    // +0.0 collapses -0.0 onto 0.0: boxed-Double equality would otherwise
    // keep them as two distinct histogram keys (unlike primitive ==), which
    // would rank 0.0 and -0.0 as adjacent non-tied values
    val key = v + 0.0
    // fail fast instead of OOMing the executor: an all-distinct continuous
    // column grows every partial buffer to the partition's row count — name
    // the scale path rather than dying in kryo serialization
    if (m.size >= TwoSampleHist.maxDistinct && !m.contains(key))
      throw new IllegalStateException(
        s"rank-test histogram exceeded ${TwoSampleHist.maxDistinct} distinct " +
          "values; this aggregate's state is O(distinct). For continuous " +
          "data at this scale use the range-partitioned " +
          "graft.ops.RankTests.mannWhitneyU / ksTest (GraftGateway.sql " +
          "auto-routes top-level mann_whitney_utest / " +
          "kolmogorov_smirnov_test there), bin the values first, or — for " +
          "grouped/nested calls that legitimately fit in memory — raise " +
          "TwoSampleHist.maxDistinct (a mutable cap).")
    val c = m.getOrElseUpdate(key, Array(0L, 0L))
    if (t == 0) c(0) += 1 else c(1) += 1
  }
  def mergeIn(o: TwoSampleHist): TwoSampleHist = {
    o.m.foreach { case (v, c) =>
      val mine = m.getOrElseUpdate(v, Array(0L, 0L))
      mine(0) += c(0); mine(1) += c(1)
    }
    this
  }
  /** (sorted values, count0 per value, count1 per value). NaN keys are
    * stripped HERE — add() already rejects them, but a buffer deserialized
    * from an older build could still carry one, and a NaN key that reached
    * the rank/CDF walks would skew n1/n2 silently (it matches no group
    * test). One strip point keeps both counting and walking passes
    * consistent for every consumer (MW and KS). */
  def sortedEntries: (Array[Double], Array[Long], Array[Long]) = {
    val vs = m.keys.toArray.filter(!_.isNaN)
    java.util.Arrays.sort(vs)
    val c0 = new Array[Long](vs.length)
    val c1 = new Array[Long](vs.length)
    var i = 0
    while (i < vs.length) { val c = m(vs(i)); c0(i) = c(0); c1(i) = c(1); i += 1 }
    (vs, c0, c1)
  }
}
object TwoSampleHist {
  def empty: TwoSampleHist = TwoSampleHist(mutable.HashMap.empty)
  def write(h: TwoSampleHist, out: DataOutputStream): Unit = {
    out.writeInt(h.m.size)
    h.m.foreach { case (v, c) => out.writeDouble(v); out.writeLong(c(0)); out.writeLong(c(1)) }
  }
  def read(in: DataInputStream): TwoSampleHist = {
    val h = empty
    for (_ <- 0 until in.readInt()) h.m.put(in.readDouble(), Array(in.readLong(), in.readLong()))
    h
  }
  /** Per-buffer distinct-value cap before [[TwoSampleHist.add]] fails fast
    * with a pointer to the distributed path (~1M entries ≈ 80 MB of boxed
    * HashMap per partial buffer — beyond this the aggregate is the wrong
    * tool, not under-provisioned). Mutable for tests. */
  @volatile var maxDistinct: Int = 1 << 20
}

/** Kernels over the two-sample histogram. Inputs: the double value (NaN
  * when the value or the treatment is null), the int treatment; `keep`
  * says which values enter the histogram. */
abstract class TwoSampleKernel extends Kernel[TwoSampleHist] {
  protected def keep(v: Double): Boolean
  def zero: TwoSampleHist = TwoSampleHist.empty
  def reduce(b: TwoSampleHist, in: Array[Expression], row: InternalRow): TwoSampleHist = {
    val v = in(0).eval(row).asInstanceOf[Double]
    if (keep(v)) b.add(v, in(1).eval(row).asInstanceOf[Int])
    b
  }
  def merge(b1: TwoSampleHist, b2: TwoSampleHist): TwoSampleHist = b1.mergeIn(b2)
  def write(b: TwoSampleHist, out: DataOutputStream): Unit = TwoSampleHist.write(b, out)
  def read(in: DataInputStream): TwoSampleHist = TwoSampleHist.read(in)
}

case class MannWhitneyResult(u_statistic: Double, p_value: Double)

/** Mann-Whitney U (mann_whitney.h:90-175): average ranks with tie
  * correction, optional continuity correction, normal approximation. */
class MannWhitneyAgg(alternativeStr: String, continuity: Boolean) extends TwoSampleKernel {
  @transient private lazy val alt = TtestCommon.alternative(alternativeStr)
  def dataType: DataType = Kernel.doubleStruct("u_statistic", "p_value")
  protected def keep(v: Double): Boolean = !v.isNaN && !v.isInfinite
  def finish(b: TwoSampleHist): MannWhitneyResult =
    MannWhitneyMath.testHist(b, alt, continuity)
}

object MannWhitneyMath {
  /** Raw-array entry point (unit tests / local use) — histogram + delegate
    * so there is exactly one implementation of the rank math. */
  def test(x0: Array[Double], x1: Array[Double], alt: TtestCommon.Alternative,
           continuity: Boolean): MannWhitneyResult = {
    val h = TwoSampleHist.empty
    x0.foreach(h.add(_, 0))
    x1.foreach(h.add(_, 1))
    testHist(h, alt, continuity)
  }

  def testHist(h: TwoSampleHist, alt: TtestCommon.Alternative,
               continuity: Boolean): MannWhitneyResult = {
    val (_, c0s, c1s) = h.sortedEntries
    rankSum(c0s, c1s, alt, continuity)
  }

  /** The test from tie groups in ascending value order (count in sample 0
    * and in sample 1 per distinct value). A group spanning 0-based
    * positions [left, right) has average rank (left + right + 1)/2. */
  def rankSum(c0s: Array[Long], c1s: Array[Long], alt: TtestCommon.Alternative,
              continuity: Boolean): MannWhitneyResult = {
    var n = 0L; var n1 = 0L; var maxTie = 0L
    var r1 = 0.0
    var tieNum = 0.0
    var i = 0
    while (i < c0s.length) {
      val cnt = c0s(i) + c1s(i)
      val right = n + cnt
      r1 += c0s(i) * ((n + right + 1) / 2.0)
      tieNum += cnt.toDouble * cnt * cnt - cnt
      n = right; n1 += c0s(i); maxTie = math.max(maxTie, cnt)
      i += 1
    }
    fromRankSum(r1, n1, n - n1, tieNum, maxTie == n, alt, continuity)
  }

  /** Returns (u2, p) exactly like the reference's [u2, p_value] JSON, from
    * sample 0's rank sum `r1`, the sample sizes and Σ(t³ − t) over tie
    * groups; NaN when a sample is empty or every value is tied. Shared
    * with the distributed [[graft.ops.RankTests.mannWhitneyU]] path. */
  def fromRankSum(r1: Double, n1L: Long, n2L: Long, tieNum: Double, allTied: Boolean,
                  alt: TtestCommon.Alternative, continuity: Boolean): MannWhitneyResult = {
    if (n1L == 0 || n2L == 0 || allTied) return MannWhitneyResult(Double.NaN, Double.NaN)
    val n1 = n1L.toDouble
    val n2 = n2L.toDouble
    val size = n1 + n2
    val tieCorrection = 1.0 - tieNum / (size * size * size - size)
    val u1 = n1 * n2 + n1 * (n1 + 1.0) / 2.0 - r1
    val u2 = n1 * n2 - u1
    val meanrank = n1 * n2 / 2.0 + (if (continuity) 0.5 else 0.0)
    val sd = math.sqrt(tieCorrection * n1 * n2 * (n1 + n2 + 1) / 12.0)
    if (sd.isNaN || sd.isInfinite || math.abs(sd) < 1e-7)
      return MannWhitneyResult(u2, Double.NaN)
    val u = alt match {
      case TtestCommon.TwoSided => math.max(u1, u2)
      case TtestCommon.Less => u1
      case TtestCommon.Greater => u2
    }
    var z = (u - meanrank) / sd
    if (alt == TtestCommon.TwoSided) z = math.abs(z)
    val cdf = Dist.normCdf(z)
    val p = if (alt == TtestCommon.TwoSided) 2.0 - 2.0 * cdf else 1.0 - cdf
    MannWhitneyResult(u2, p)
  }
}

case class KsResult(d_statistic: Double, p_value: Double)

/** Two-sample Kolmogorov-Smirnov (kolmogorov_smirnov_test.h:69-303):
  * D = sup |F1−F2| via sorted co-walk; exact Schröer-Trenkler recursion for
  * max(n1,n2) ≤ 10000, else Durbin (two-sided) / Hodges (one-sided)
  * asymptotics. */
class KsAgg(alternativeStr: String, methodStr: String = "auto") extends TwoSampleKernel {
  @transient private lazy val alt = TtestCommon.alternative(alternativeStr)
  def dataType: DataType = Kernel.doubleStruct("d_statistic", "p_value")
  protected def keep(v: Double): Boolean = !v.isNaN
  def finish(b: TwoSampleHist): KsResult = KsMath.testHist(b, alt, methodStr)
}

object KsMath {
  private val Tol = 1e-7
  /** Largest sample size for which the exact recursion is honored. */
  private val ExactCap = 65536L
  private val TwoSidedScaler = 0.398942280401432677939946059934 // 1/sqrt(2π)

  /** Raw-array entry point (unit tests / local use) — histogram + delegate
    * so there is exactly one implementation of the CDF walk. */
  def test(x: Array[Double], y: Array[Double], alt: TtestCommon.Alternative,
           methodStr: String): KsResult = {
    val h = TwoSampleHist.empty
    x.foreach(h.add(_, 0))
    y.foreach(h.add(_, 1))
    testHist(h, alt, methodStr)
  }

  /** D = sup |F1−F2| walking the sorted value histogram. Values within Tol
    * of a group anchor merge into one step, matching the reference co-walk's
    * tolerance handling; within a merged group the extrema at the group
    * boundary dominate any interior point, so per-group updates lose
    * nothing. */
  def testHist(h: TwoSampleHist, alt: TtestCommon.Alternative,
               methodStr: String): KsResult = {
    val (vs, c0s, c1s) = h.sortedEntries
    var n1 = 0L; var n2 = 0L
    var i = 0
    while (i < vs.length) { n1 += c0s(i); n2 += c1s(i); i += 1 }
    if (n1 == 0 || n2 == 0) return KsResult(Double.NaN, Double.NaN)
    var maxS = Double.MinValue
    var minS = Double.MaxValue
    var nowS = 0.0
    val d1 = 1.0 / n1; val d2 = 1.0 / n2
    i = 0
    while (i < vs.length) {
      val anchor = vs(i)
      // NaN anchors sort last and match neither group disjunct below; break
      // rather than loop forever (add() filters NaN, this is belt-and-braces)
      if (anchor.isNaN) i = vs.length
      else {
      var g0 = 0L; var g1 = 0L
      // the equality disjunct keeps the walk Inf-safe: with anchor = ±Inf,
      // `vs(i) - anchor` is NaN (or +Inf) and the tolerance test alone would
      // never admit the anchor itself, spinning this loop forever
      while (i < vs.length && (vs(i) == anchor || vs(i) - anchor <= Tol)) {
        g0 += c0s(i); g1 += c1s(i); i += 1
      }
      nowS += g0 * d1 - g1 * d2
      maxS = math.max(maxS, nowS)
      minS = math.min(minS, nowS)
      }
    }
    val d = alt match {
      case TtestCommon.TwoSided => math.max(math.abs(maxS), math.abs(minS))
      case TtestCommon.Greater => maxS
      case TtestCommon.Less => -minS
    }
    KsResult(d, pValue(d, n1, n2, alt, methodStr))
  }

  /** Method-choice + p-value from the D statistic and group sizes — shared
    * by the histogram aggregate and the distributed [[graft.ops.RankTests]]
    * path so both report identical p-values at every n.
    *
    * The Schröer-Trenkler recursion is O(n1·n2) time and O(max+1) space —
    * beyond ExactCap even an explicitly requested "exact" silently
    * degenerates (n.toInt overflow, hours of driver time), so fall back to
    * the asymptotic p like scipy does rather than honoring it. */
  def pValue(d: Double, n1: Long, n2: Long, alt: TtestCommon.Alternative,
             methodStr: String): Double = {
    val method =
      if (methodStr == "exact" && math.max(n1, n2) <= ExactCap) "exact"
      else if (methodStr == "exact" || methodStr == "asymp" || methodStr == "asymptotic") "asymp"
      else if (math.max(n1, n2) <= 10000) "exact" else "asymp"
    val p = if (method == "exact") exactP(d, n1.toInt, n2.toInt, alt)
            else asympP(d, n1, n2, alt)
    math.min(1.0, math.max(0.0, p))
  }

  /** Schröer-Trenkler exact recursion (two- or one-sided). */
  private def exactP(d: Double, n1in: Int, n2in: Int, alt: TtestCommon.Alternative): Double = {
    var n1 = n1in; var n2 = n2in
    if (n2 > n1) { val t = n1; n1 = n2; n2 = t }
    val fN1 = n1.toDouble; val fN2 = n2.toDouble
    val kD = (0.5 + math.floor(d * fN2 * fN1 - Tol)) / (fN2 * fN1)
    val c = new Array[Double](n1 + 1)
    val twoSided = alt == TtestCommon.TwoSided
    @inline def check(q: Double, r: Double, s: Double): Boolean =
      if (twoSided) math.abs(r - s) >= q else r - s >= q
    c(0) = 0
    for (j <- 1 to n1) c(j) = if (check(kD, 0.0, j / fN1)) 1.0 else c(j - 1)
    for (i <- 1 to n2) {
      if (check(kD, i / fN2, 0.0)) c(0) = 1.0
      for (j <- 1 to n1) {
        if (check(kD, i / fN2, j / fN1)) c(j) = 1.0
        else {
          val v = i / (i + j).toDouble
          val w = j / (i + j).toDouble
          c(j) = v * c(j) + w * c(j - 1)
        }
      }
    }
    c(n1)
  }

  /** Asymptotic p-value (public for the distributed KS in ops.RankTests). */
  def asymptoticPValue(d: Double, n1: Long, n2: Long, alt: TtestCommon.Alternative): Double =
    math.min(1.0, math.max(0.0, asympP(d, n1, n2, alt)))

  private def asympP(d: Double, n1: Long, n2: Long, alt: TtestCommon.Alternative): Double = {
    val n = math.min(n1, n2).toDouble
    val m = math.max(n1, n2).toDouble
    var p = math.sqrt((n * m) / (n + m)) * d
    if (alt == TtestCommon.TwoSided) {
      if (p < 1) {
        val z = -(math.Pi * math.Pi / 8.0) / (p * p)
        val w = math.log(p)
        var s = 0.0
        val kMax = math.sqrt(2 - math.log(Tol)).toLong
        var k = 1L
        while (k < kMax) { s += math.exp(k * k * z - w); k += 2 }
        p = s / TwoSidedScaler
      } else {
        val z = -2 * p * p
        var s = -1.0
        var k = 1L
        var oldVal = 0.0
        var newVal = 1.0
        while (math.abs(oldVal - newVal) > Tol) {
          oldVal = newVal
          newVal += 2 * s * math.exp(z * k * k)
          s *= -1
          k += 1
        }
        p = newVal
      }
      1 - p
    } else {
      math.exp(-2 * p * p - 2 * p * (m + 2 * n) / math.sqrt(m * n * (m + n)) / 3.0)
    }
  }
}

/** `matrix_multiplication([cols], invert)` — one-pass Gram matrix XᵀX,
  * optionally inverted in the finalizer
  * (matrix_multiplication.h:162-189). Powers the IRLS logistic loop. */
case class MatrixResult(matrix: Array[Array[Double]])

class MatrixMulAgg(k: Int, invert: Boolean) extends DeltaKernel(k) {
  def dataType: DataType =
    Kernel.struct("matrix" -> ArrayType(Kernel.Doubles, containsNull = true))
  def finish(s: DeltaStats): MatrixResult = {
    val xtx = s.xtx
    if (!invert) MatrixResult(xtx)
    else {
      val (inv, _) = LinAlg.invertWithDropped(xtx)
      MatrixResult(inv)
    }
  }
}
