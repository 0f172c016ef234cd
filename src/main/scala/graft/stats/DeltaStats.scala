package graft.stats

import graft.expr.ExprTree

/** Sufficient statistics for the delta-method family: row count, per-column
  * sums, and the upper-triangular packed sum of cross products Σxᵢxⱼ.
  *
  * Re-expression of the reference's DeltaMethodStats
  * (/root/reference/src/udf/starrocks/be/src/exprs/agg/delta_method.h:103-266).
  * This is a mutable case class on purpose: it is the aggregation buffer
  * of the graft.agg kernels, serialized only at partial-aggregation
  * boundaries — exactly the C++ serialize/merge contract.
  *
  * Scale note: the buffer is O(k²) doubles regardless of row count, so a
  * single pass over 100 TB shuffles only (numPartitions × k²) doubles.
  */
case class DeltaStats(
    var count: Long,
    var sumX: Array[Double],     // length k
    var sumXY: Array[Double]     // upper-tri packed, length k*(k+1)/2
) {
  def k: Int = sumX.length

  @inline private def triIdx(i: Int, j: Int): Int = {
    // packed index for i<=j within row-major upper triangle of a k×k matrix
    val kk = k
    i * kk - i * (i - 1) / 2 + (j - i)
  }

  def update(x: Array[Double]): Unit = {
    var i = 0
    val kk = k
    while (i < kk) { sumX(i) += x(i); i += 1 }
    i = 0
    var p = 0
    while (i < kk) {
      val xi = x(i)
      var j = i
      while (j < kk) { sumXY(p) += xi * x(j); j += 1; p += 1 }
      i += 1
    }
    count += 1
  }

  def merge(other: DeltaStats): DeltaStats = {
    require(other.k == k, s"DeltaStats arity mismatch: $k vs ${other.k}")
    var i = 0
    while (i < sumX.length) { sumX(i) += other.sumX(i); i += 1 }
    i = 0
    while (i < sumXY.length) { sumXY(i) += other.sumXY(i); i += 1 }
    count += other.count
    this
  }

  def means: Array[Double] = sumX.map(_ / count)

  /** Sample covariance matrix ((Σxᵢxⱼ − n·x̄ᵢx̄ⱼ)/(n−1)); requires count>1. */
  def covMatrix: LinAlg.Mat = {
    val m = means
    val out = LinAlg.zeros(k, k)
    for (i <- 0 until k; j <- i until k) {
      val v = (sumXY(triIdx(i, j)) - count * m(i) * m(j)) / (count - 1)
      out(i)(j) = v; out(j)(i) = v
    }
    out
  }

  /** Gram matrix XᵀX (unnormalized). */
  def xtx: LinAlg.Mat = {
    val out = LinAlg.zeros(k, k)
    for (i <- 0 until k; j <- i until k) {
      val v = sumXY(triIdx(i, j))
      out(i)(j) = v; out(j)(i) = v
    }
    out
  }
}

object DeltaStats {
  def zero(k: Int): DeltaStats =
    DeltaStats(0L, new Array[Double](k), new Array[Double](k * (k + 1) / 2))

  /** Delta-method variance (or std) of f(x̄₁..x̄ₖ): ∇fᵀ Σ ∇f / n.
    * Port of DeltaMethodStats::calc_delta_method (delta_method.h:200-217). */
  def calcDeltaMethod(tree: ExprTree, count: Long, means: Array[Double],
                      cov: LinAlg.Mat, isStd: Boolean): Double = {
    val vars = tree.variableIndices
    val pd = tree.gradient(means, vars)
    var result = 0.0
    for (i <- vars.indices; j <- vars.indices)
      result += pd(i) * pd(j) * cov(vars(i))(vars(j)) / count
    if (isStd) math.sqrt(result) else result
  }

  /** Delta-method covariance of f(x̄) and g(x̄): ∇fᵀ Σ ∇g / n.
    * Port of calc_delta_method_cov (delta_method.h:219-249). */
  def calcDeltaMethodCov(t1: ExprTree, t2: ExprTree, count: Long,
                         means: Array[Double], cov: LinAlg.Mat): Double = {
    val v1 = t1.variableIndices
    val v2 = t2.variableIndices
    val pd1 = t1.gradient(means, v1)
    val pd2 = t2.gradient(means, v2)
    var result = 0.0
    for (i <- v1.indices; j <- v2.indices)
      result += pd1(i) * pd2(j) * cov(v1(i))(v2(j))
    result / count
  }
}
