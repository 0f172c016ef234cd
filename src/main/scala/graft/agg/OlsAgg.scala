package graft.agg

import java.io.{DataInputStream, DataOutputStream}

import graft.stats.{DeltaStats, Dist, LinAlg}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.{BooleanType, DataType, DoubleType, IntegerType, LongType}

/** OLS/WLS sufficient statistics: Gram matrix of X (via DeltaStats), Xᵀy,
  * and the scalar y stats. Port of OlsStats
  * (/root/reference/src/udf/starrocks/be/src/exprs/agg/ols.h:159-234).
  * Buffer is O(k²) doubles — a single pass at any data scale; the weighted
  * (WLS) variant scales each row's contribution by w. */
case class OlsBuf(x: DeltaStats, y: DeltaStats, xty: Array[Double],
                  var weightSum: Double) {
  def update(yv: Double, xs: Array[Double], w: Double): Unit = {
    if (w == 1.0) {
      x.update(xs)
      y.update(Array(yv))
    } else {
      // weighted update: scale sums by w (sqrt-weighted cross products);
      // WLS normal equations use XᵀWX and XᵀWy.
      val sw = math.sqrt(w)
      x.update(xs.map(_ * sw))
      y.update(Array(yv * sw))
    }
    var i = 0
    while (i < xs.length) { xty(i) += w * yv * xs(i); i += 1 }
    weightSum += w
  }
  def merge(o: OlsBuf): OlsBuf = {
    x.merge(o.x); y.merge(o.y)
    var i = 0
    while (i < xty.length) { xty(i) += o.xty(i); i += 1 }
    weightSum += o.weightSum
    this
  }

  /** `cnt` identical rows in one O(k²) step — the driver-side cell path
    * of the IRLS fits ([[graft.stats.DesignCells]]). Every accumulated
    * quantity is linear in the row count, so this equals `cnt` calls of
    * [[update]](yv, xs, w) without the O(cnt) loop: sums gain
    * cnt·(√w·term), cross products cnt·(w·term), counts cnt. */
  def addCell(yv: Double, xs: Array[Double], w: Double, cnt: Long): Unit = {
    val sw = if (w == 1.0) 1.0 else math.sqrt(w)
    val c = cnt.toDouble
    val k = xs.length
    var i = 0
    while (i < k) { x.sumX(i) += c * sw * xs(i); i += 1 }
    i = 0
    var p = 0
    while (i < k) {
      val xi = xs(i)
      var j = i
      while (j < k) { x.sumXY(p) += c * w * xi * xs(j); j += 1; p += 1 }
      i += 1
    }
    x.count += cnt
    y.sumX(0) += c * sw * yv
    y.sumXY(0) += c * w * yv * yv
    y.count += cnt
    i = 0
    while (i < k) { xty(i) += c * w * yv * xs(i); i += 1 }
    weightSum += c * w
  }

  /** [[addCell]] from y-MOMENTS of a cell whose rows share x (and hence
    * share the IRLS weight) but vary in y: given Σy and Σy² over the
    * cell's rows and a per-row working response z = a + b·y (linear in
    * y), accumulates exactly what `update(z_r, xs, w)` over the rows
    * would — Σz = cnt·a + b·Σy and Σz² = cnt·a² + 2ab·Σy + b²·Σy². */
  def addCellYMoments(a: Double, b: Double, sumY: Double, sumY2: Double,
                      xs: Array[Double], w: Double, cnt: Long): Unit = {
    val sw = if (w == 1.0) 1.0 else math.sqrt(w)
    val c = cnt.toDouble
    val sz = c * a + b * sumY
    val sz2 = c * a * a + 2.0 * a * b * sumY + b * b * sumY2
    val k = xs.length
    var i = 0
    while (i < k) { x.sumX(i) += c * sw * xs(i); i += 1 }
    i = 0
    var p = 0
    while (i < k) {
      val xi = xs(i)
      var j = i
      while (j < k) { x.sumXY(p) += c * w * xi * xs(j); j += 1; p += 1 }
      i += 1
    }
    x.count += cnt
    y.sumX(0) += sw * sz
    y.sumXY(0) += w * sz2
    y.count += cnt
    i = 0
    while (i < k) { xty(i) += w * sz * xs(i); i += 1 }
    weightSum += c * w
  }
}

object OlsBuf {
  def zero(k: Int): OlsBuf =
    OlsBuf(DeltaStats.zero(k), DeltaStats.zero(1), new Array[Double](k), 0.0)
}

/** Kernels over an OlsBuf. Inputs: y, the `k` regressors, the weight — all
  * doubles; a row with any null is skipped (listwise, R lm na.omit). */
abstract class OlsKernel(k: Int, useBias: Boolean) extends Kernel[OlsBuf] {
  private val kb = k + (if (useBias) 1 else 0)
  def zero: OlsBuf = OlsBuf.zero(kb)
  def reduce(b: OlsBuf, in: Array[Expression], row: InternalRow): OlsBuf = {
    val v = Kernel.doubles(in, row, k + 2)
    if (v != null) {
      val xs = new Array[Double](kb)
      System.arraycopy(v, 1, xs, 0, k)
      if (useBias) xs(k) = 1.0
      b.update(v(0), xs, v(k + 1))
    }
    b
  }
  def merge(b1: OlsBuf, b2: OlsBuf): OlsBuf = b1.merge(b2)
  def write(b: OlsBuf, out: DataOutputStream): Unit = {
    Kernel.writeStats(out, b.x); Kernel.writeStats(out, b.y)
    Kernel.writeDoubles(out, b.xty); out.writeDouble(b.weightSum)
  }
  def read(in: DataInputStream): OlsBuf =
    OlsBuf(Kernel.readStats(in), Kernel.readStats(in), Kernel.readDoubles(in), in.readDouble())
}

/** Full inference output — the typed equivalent of the reference's R-style
  * `lm` summary text (ols.h:508-547). `coefficients` ordering matches the
  * input X columns; when useBias, the intercept is LAST (reference appends
  * the bias column after the covariates, ols.h:275). */
case class OlsSummary(
    n: Long, k: Int, use_bias: Boolean,
    coefficients: Array[Double],
    stderr: Array[Double],
    t_values: Array[Double],
    p_values: Array[Double],
    residual_stderr: Double,
    r2: Double, adj_r2: Double,
    f_statistic: Double, f_pvalue: Double)

/** `ols(y, [x…], use_bias)` — one-pass linear regression with full
  * inference. Port of OlsState::calc_stats_result (ols.h:346-476):
  * β = (XᵀX)⁻¹Xᵀy; σ² = (yᵀy − 2βᵀXᵀy + βᵀXᵀXβ)/df with df = n−k−1;
  * se = sqrt(diag((XᵀX)⁻¹)σ²); p via Student-t(df); R² from
  * βᵀ Cov(X) β / Var(y); F = (R²-num/k)/(SSE/df) with p via F(k, df). */
class OlsAgg(k: Int, useBias: Boolean) extends OlsKernel(k, useBias) {
  def dataType: DataType = Kernel.struct("n" -> LongType, "k" -> IntegerType,
    "use_bias" -> BooleanType, "coefficients" -> Kernel.Doubles, "stderr" -> Kernel.Doubles,
    "t_values" -> Kernel.Doubles, "p_values" -> Kernel.Doubles,
    "residual_stderr" -> DoubleType, "r2" -> DoubleType, "adj_r2" -> DoubleType,
    "f_statistic" -> DoubleType, "f_pvalue" -> DoubleType)
  def finish(b: OlsBuf): OlsSummary = OlsFinalizer.summary(b, k, useBias)
}

object OlsFinalizer {
  def summary(b: OlsBuf, k: Int, useBias: Boolean): OlsSummary = {
    val kb = k + (if (useBias) 1 else 0)
    val nan = Double.NaN
    val nanArr = Array.fill(kb)(nan)
    val n = b.x.count
    if (n <= k + 1)
      return OlsSummary(n, k, useBias, nanArr, nanArr.clone(), nanArr.clone(),
        nanArr.clone(), nan, nan, nan, nan, nan)

    val xtx = b.x.xtx
    val (xtxInvRaw, dropped) = LinAlg.invertWithDropped(xtx)
    // collinear columns: zero their contribution (reference ols.h:358-364)
    val xtxInv = xtxInvRaw.map(_.map(v => if (v.isNaN) 0.0 else v))
    val xty = b.xty.clone()
    dropped.foreach(d => xty(d) = 0.0)

    val coef = LinAlg.matVec(xtxInv, xty)
    val df = (n - k - 1).toDouble
    val yty = b.y.xtx(0)(0)
    // σ² = (yᵀy − 2βᵀXᵀy + βᵀXᵀXβ)/df
    val sigma = (yty - 2.0 * LinAlg.dot(coef, xty) + LinAlg.quadForm(coef, xtx, coef)) / df
    val residualStderr = math.sqrt(sigma)

    val stderr = Array.tabulate(kb)(i => math.sqrt(xtxInv(i)(i) * sigma))
    val tVals = Array.tabulate(kb)(i => coef(i) / stderr(i))
    val pVals = tVals.map(Dist.tTwoSidedP(_, df))

    // R² via predicted variance over the covariate block only (ols.h:382-389)
    val covX = b.x.covMatrix
    val varX = LinAlg.zeros(kb, kb)
    for (i <- 0 until k; j <- 0 until k) varX(i)(j) = covX(i)(j)
    val varPredY = LinAlg.quadForm(coef, varX, coef)
    val varY = b.y.covMatrix(0)(0)
    val r2 = varPredY / varY
    val adjR2 = 1.0 - (1.0 - r2) * (n - 1).toDouble / df
    val sse = varY - varPredY
    val fStat = (varPredY / k) / (sse / df)
    val fP =
      if (fStat <= 0) 1.0
      else if (fStat.isNaN) fStat
      else if (fStat.isInfinite) 0.0
      else 1.0 - Dist.fCdf(fStat, k.toDouble, df)

    OlsSummary(n, k, useBias, coef, stderr, tVals, pVals, residualStderr,
      r2, adjR2, fStat, fP)
  }

  /** (XᵀX)⁻¹ for interval prediction (OlsIntervalState). */
  def xtxInv(b: OlsBuf): LinAlg.Mat = {
    val (inv, _) = LinAlg.invertWithDropped(b.x.xtx)
    inv.map(_.map(v => if (v.isNaN) 0.0 else v))
  }
}
