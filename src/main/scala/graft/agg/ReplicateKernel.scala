package graft.agg

import java.io.{DataInputStream, DataOutputStream}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, XXH64, XxHash64Function}
import org.apache.spark.sql.types.DataType

/** Bootstrap replicates summed in one aggregate: replicate −1 is the
  * observed sample (every row at weight 1) and replicate r in [0, B) weighs
  * each row by its Poisson(`frac`) multiplicity — the weight
  * `Bootstrap.poissonWeight(ids, r, seed, frac)` computes as a column, drawn
  * here inside `update` from the same xxhash64 of (ids, r, seed) and the
  * same inverse-CDF thresholds, so it is bit-identical. The row is never
  * exploded: each input row adds w·x to B + 1 moment buffers at once.
  *
  * Inputs: `numIds` id columns (hashed with their own types, like the
  * `xxhash64` expression), then `numSums` double columns. The result is the
  * flat array of (B + 1) × (numSums + 1) doubles, replicate −1 first; per
  * replicate the weighted sum of each column (a null adds nothing, as in
  * `sum`), then Σw — zero when the replicate drew no row. */
class ReplicateKernel(b: Int, seed: Long, frac: Double, numIds: Int, numSums: Int)
    extends Kernel[Array[Double]] {
  private val thresholds = ReplicateKernel.poissonThresholds(frac)
  private val stride = numSums + 1

  def dataType: DataType = Kernel.Doubles
  def zero: Array[Double] = new Array[Double]((b + 1) * stride)

  /** Poisson multiplicity of the row hashed to `rowHash` in replicate `rep`. */
  def weight(rowHash: Long, rep: Int): Int = {
    val h = XXH64.hashLong(seed, XXH64.hashInt(rep, rowHash))
    val u = h.toDouble / (2.0 * Long.MaxValue) + 0.5
    var k = 0
    while (k < thresholds.length && u >= thresholds(k)) k += 1
    k
  }

  def reduce(buf: Array[Double], in: Array[Expression], row: InternalRow): Array[Double] = {
    var h = ReplicateKernel.HashSeed
    var i = 0
    while (i < numIds) {
      h = XxHash64Function.hash(in(i).eval(row), in(i).dataType, h)
      i += 1
    }
    val xs = new Array[Double](numSums)
    val present = new Array[Boolean](numSums)
    i = 0
    while (i < numSums) {
      val v = in(numIds + i).eval(row)
      if (v != null) { xs(i) = v.asInstanceOf[Double]; present(i) = true }
      i += 1
    }
    var rep = -1
    while (rep < b) {
      val w = if (rep < 0) 1 else weight(h, rep)
      if (w > 0) {
        val o = (rep + 1) * stride
        i = 0
        while (i < numSums) {
          if (present(i)) buf(o + i) += w * xs(i)
          i += 1
        }
        buf(o + numSums) += w
      }
      rep += 1
    }
    buf
  }

  def merge(a: Array[Double], o: Array[Double]): Array[Double] = {
    var i = 0
    while (i < a.length) { a(i) += o(i); i += 1 }
    a
  }
  def finish(buf: Array[Double]): Array[Double] = buf
  def write(buf: Array[Double], out: DataOutputStream): Unit = Kernel.writeDoubles(out, buf)
  def read(in: DataInputStream): Array[Double] = Kernel.readDoubles(in)
}

object ReplicateKernel {
  /** The seed of Spark's `xxhash64` expression. */
  private val HashSeed = 42L

  /** Poisson(λ) inverse-CDF thresholds: multiplicity k is the first k with
    * u < thresholds(k), else thresholds.length (the tail clamped at
    * mean + 10σ). */
  def poissonThresholds(lambda: Double): Array[Double] = {
    require(lambda > 0 && lambda <= 100, "lambda in (0, 100]")
    val maxK = math.max(8, (lambda + 10 * math.sqrt(lambda)).toInt)
    val out = new Array[Double](maxK + 1)
    var cdf = math.exp(-lambda)
    var pk = cdf
    out(0) = cdf
    for (k <- 1 to maxK) {
      pk = pk * lambda / k
      cdf += pk
      out(k) = cdf
    }
    out
  }
}
