package graft.agg

import java.io.{DataInputStream, DataOutputStream}

import graft.stats.{DeltaStats, Dist, TtestCommon}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.{DataType, DoubleType, LongType}
import scala.collection.mutable

/** Experiment-platform two-sample t-test (WeChat "xexpt"), port of
  * /root/reference/src/udf/starrocks/be/src/exprs/agg/xexpt_ttest_2samp.h:56-805.
  *
  * Each treatment keeps per-unit-bucket column sums: uin is hashed into 128
  * buckets, and every bucket becomes one pseudo-observation of the column
  * sums, so the delta-method/CUPED machinery runs over 128×2 rows in the
  * finalizer regardless of data size. avg-metric: per-bucket sums as-is;
  * sum-metric: the denominator is replaced by the traffic ratio share so
  * the "mean" is the ratio-scaled sum. Emits power and the recommended
  * sample size at the configured MDE (lines 511-522).
  *
  * Scale: state = 2 × (k × 128) doubles — constant; bucket hashing uses
  * splitmix64 (engine hash functions differ; bucket assignment only needs
  * determinism and uniformity).
  */
case class XexptResult(
    groupname0: Long, groupname1: Long,
    numerator0: Double, numerator1: Double,
    denominator0: Double, denominator1: Double,
    numerator_pre0: Double, numerator_pre1: Double,
    denominator_pre0: Double, denominator_pre1: Double,
    mean0: Double, mean1: Double,
    std_samp0: Double, std_samp1: Double,
    diff_relative: Double, lower_relative: Double, upper_relative: Double,
    p_value: Double, t_statistic: Double,
    diff: Double, lower: Double, upper: Double,
    power: Double, recommend_samples: Double, mde: Double)

case class XexptBuf(groups: mutable.HashMap[Long, XexptGroup])
case class XexptGroup(var count: Long, buckets: Array[Double]) // k × 128 row-major

object XexptAgg {
  val NumBuckets = 128

  def bucketOf(uin: Long): Int = {
    // splitmix64 finalizer — deterministic across JVMs
    var z = uin + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z = z ^ (z >>> 31)
    ((z >>> 57) & 0x7f).toInt
  }
}

/** Inputs: the `numVars` doubles, the long uin, the long treatment. */
class XexptAgg(numVars: Int, cuped: String, alpha: Double, mde: Double,
               power: Double, metricType: String, ratios: Array[Double])
    extends Kernel[XexptBuf] {
  import XexptAgg._
  require(numVars == 2 || numVars == 4, "xexpt takes (num, den[, num_pre, den_pre])")
  require(cuped.isEmpty || cuped == "x3/x4", "xexpt cuped must be x3/x4 (reference convention)")

  def dataType: DataType = Kernel.struct(
    Seq("groupname0" -> LongType, "groupname1" -> LongType) ++
      Seq("numerator0", "numerator1", "denominator0", "denominator1",
        "numerator_pre0", "numerator_pre1", "denominator_pre0", "denominator_pre1",
        "mean0", "mean1", "std_samp0", "std_samp1",
        "diff_relative", "lower_relative", "upper_relative",
        "p_value", "t_statistic", "diff", "lower", "upper",
        "power", "recommend_samples", "mde").map(_ -> DoubleType): _*)

  def zero: XexptBuf = XexptBuf(mutable.HashMap.empty)

  def reduce(b: XexptBuf, in: Array[Expression], row: InternalRow): XexptBuf = {
    val xs = Kernel.doubles(in, row, numVars)
    val uin = in(numVars).eval(row)
    val treatment = in(numVars + 1).eval(row)
    if (xs != null && uin != null && treatment != null) {
      val g = b.groups.getOrElseUpdate(treatment.asInstanceOf[Long],
        XexptGroup(0L, new Array[Double](numVars * NumBuckets)))
      val bucket = bucketOf(uin.asInstanceOf[Long])
      var i = 0
      while (i < numVars) { g.buckets(i * NumBuckets + bucket) += xs(i); i += 1 }
      g.count += 1
    }
    b
  }

  def merge(b1: XexptBuf, b2: XexptBuf): XexptBuf = {
    b2.groups.foreach { case (k, g) =>
      b1.groups.get(k) match {
        case Some(mine) =>
          var i = 0
          while (i < mine.buckets.length) { mine.buckets(i) += g.buckets(i); i += 1 }
          mine.count += g.count
        case None => b1.groups.put(k, g)
      }
    }
    b1
  }

  def write(b: XexptBuf, out: DataOutputStream): Unit = {
    out.writeInt(b.groups.size)
    b.groups.foreach { case (k, g) =>
      out.writeLong(k); out.writeLong(g.count); Kernel.writeDoubles(out, g.buckets)
    }
  }

  def read(in: DataInputStream): XexptBuf = {
    val b = zero
    for (_ <- 0 until in.readInt()) {
      val k = in.readLong()
      b.groups.put(k, XexptGroup(in.readLong(), Kernel.readDoubles(in)))
    }
    b
  }

  def finish(b: XexptBuf): XexptResult = {
    val nan = Double.NaN
    def fail: XexptResult = XexptResult(-1, -1, nan, nan, nan, nan, nan, nan, nan, nan,
      nan, nan, nan, nan, nan, nan, nan, nan, nan, nan, nan, nan, nan, nan, mde)
    if (b.groups.size != 2) return fail
    val groupNames = b.groups.keys.toArray.sorted
    if (b.groups.values.exists(_.count <= 1)) return fail

    val isSum = metricType == "sum"
    val yExpr = "x1/x2"

    val avgSub = Array(DeltaStats.zero(numVars), DeltaStats.zero(numVars))
    val sumSub = Array(DeltaStats.zero(numVars), DeltaStats.zero(numVars))
    val thetaAvg = DeltaStats.zero(numVars)
    val thetaSum = DeltaStats.zero(numVars)
    val allData = Array.fill(NumBuckets)(new Array[Double](numVars))
    val numerators = new Array[Double](2)
    val denominators = new Array[Double](2)
    val numeratorsPre = new Array[Double](2)
    val denominatorsPre = new Array[Double](2)
    val counts = new Array[Double](2)

    for (kIdx <- 0 until 2) {
      val g = b.groups(groupNames(kIdx))
      counts(kIdx) = g.count.toDouble
      for (bucket <- 0 until NumBuckets) {
        val bucketData = Array.tabulate(numVars)(c => g.buckets(c * NumBuckets + bucket))
        for (c <- 0 until numVars) allData(bucket)(c) += bucketData(c)
        numerators(kIdx) += bucketData(0)
        denominators(kIdx) += bucketData(1)
        if (numVars >= 3) numeratorsPre(kIdx) += bucketData(2)
        if (numVars >= 4) denominatorsPre(kIdx) += bucketData(3)
        avgSub(kIdx).update(bucketData)
        val sumData = bucketData.clone()
        sumData(1) = ratios(kIdx) / NumBuckets
        if (cuped.nonEmpty && numVars >= 4) sumData(3) = ratios(kIdx) / NumBuckets
        sumSub(kIdx).update(sumData)
      }
    }
    for (bucket <- 0 until NumBuckets) {
      thetaAvg.update(allData(bucket))
      val d = allData(bucket).clone()
      d(1) = (ratios(0) + ratios(1)) / NumBuckets
      if (cuped.nonEmpty && numVars >= 4) d(3) = (ratios(0) + ratios(1)) / NumBuckets
      thetaSum.update(d)
    }

    val (meanAvg0, meanAvg1, varAvg0, varAvg1) =
      TtestCommon.calcMeansAndVars(yExpr, cuped, numVars, avgSub(0), avgSub(1), thetaAvg)
    val (m0, m1, v0, v1) =
      if (isSum) TtestCommon.calcMeansAndVars(yExpr, cuped, numVars, sumSub(0), sumSub(1), thetaSum)
      else (meanAvg0, meanAvg1, varAvg0, varAvg1)

    // std_samp (xexpt_ttest_2samp.h:456-486)
    val completeExpr = if (cuped.isEmpty) yExpr else yExpr + "+" + cuped
    val tree = graft.expr.ExprTree(completeExpr, numVars)
    val stdSampAvg = new Array[Double](2)
    val stdSamp = new Array[Double](2)
    if (cuped.isEmpty) {
      for (i <- 0 until 2)
        stdSampAvg(i) = math.sqrt(DeltaStats.calcDeltaMethod(
          tree, avgSub(i).count, avgSub(i).means, avgSub(i).covMatrix, isStd = false)) *
          math.sqrt(denominators(i))
      if (isSum)
        for (i <- 0 until 2)
          stdSamp(i) = math.sqrt(DeltaStats.calcDeltaMethod(
            tree, sumSub(i).count, sumSub(i).means, sumSub(i).covMatrix, isStd = false)) *
            math.sqrt(denominators(i))
    } else {
      stdSampAvg(0) = math.sqrt(varAvg0 * denominators(0))
      stdSampAvg(1) = math.sqrt(varAvg1 * denominators(1))
      if (isSum) {
        stdSamp(0) = math.sqrt(v0 * ratios(0))
        stdSamp(1) = math.sqrt(v1 * ratios(1))
      }
    }
    if (!isSum) { stdSamp(0) = stdSampAvg(0); stdSamp(1) = stdSampAvg(1) }

    val estimate = m1 - m0
    val stderr = math.sqrt(v0 + v1)
    if (!java.lang.Double.isFinite(stderr) || stderr == 0) return fail
    val diffRelative = estimate / m0
    var tStat = estimate / stderr
    if (tStat.isNaN || tStat.isInfinite)
      tStat = if (math.abs(estimate) < Double.MinPositiveValue) 0.0
              else if (estimate > 0) Double.PositiveInfinity else Double.NegativeInfinity
    val pValue = TtestCommon.pValue(tStat, TtestCommon.TwoSided)
    val (lower, upper) = TtestCommon.confidenceInterval(
      estimate, stderr, (counts(0) + counts(1)).toLong, alpha, TtestCommon.TwoSided)
    val lowerRelative = lower / m0
    val upperRelative = upper / m0

    val za2 = Dist.normQuantile(1 - alpha / 2)
    val powerOut = 1 - Dist.normCdf(za2 - math.abs(m0 * mde) / stderr) +
      Dist.normCdf(Dist.normQuantile(alpha / 2) - math.abs(m0 * mde) / stderr)
    val mdeOut = (za2 + Dist.normQuantile(power)) * stderr / m0
    val stdRatio = stdSampAvg(0) / stdSampAvg(1)
    val cntRatio = denominators(0) / denominators(1)
    val alphaPower = za2 - Dist.normQuantile(1 - power)
    val recommend = ((stdRatio * stdRatio + cntRatio) / cntRatio) * alphaPower * alphaPower *
      math.pow(stdSampAvg(1) / meanAvg0, 2) / (mde * mde)

    XexptResult(groupNames(0), groupNames(1),
      numerators(0), numerators(1),
      if (isSum) ratios(0) else denominators(0), if (isSum) ratios(1) else denominators(1),
      numeratorsPre(0), numeratorsPre(1),
      denominatorsPre(0), denominatorsPre(1),
      m0, m1, stdSamp(0), stdSamp(1),
      diffRelative, lowerRelative, upperRelative,
      pValue, tStat, estimate, lower, upper,
      powerOut, math.floor(recommend + 0.5), mdeOut)
  }
}
