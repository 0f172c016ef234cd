package graft.stats

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._

/** Low-cardinality design collapse for iterative fits: decoders over
  * [[LocalCollapse]] (gate, bound and rationale live there). Each groups
  * the slim frame once; when the design fits `maxCells`, the fit loop runs
  * in plain Scala over (cell values, multiplicity) pairs with the identical
  * per-row math times the count. Cells sort so driver-side summation order
  * is deterministic across runs and partitionings; any null or NaN cell
  * value returns None so the caller's row path (and its null/NaN
  * semantics) stays authoritative.
  */
object DesignCells {

  private val seqOrd = scala.math.Ordering.Implicits.seqOrdering[Seq, Double]

  /** The shared numeric-cell decode: collapse `grouped` with columns
    * [from, from + k) cast to double (the projection folds into the
    * aggregate, so the gate still sees the grouping keys) and read them
    * off every row. */
  private def numericCells(grouped: DataFrame, from: Int, k: Int,
                           maxCells: Int)
      : Option[(Array[InternalRow], Array[Array[Double]])] = {
    val cast = grouped.columns.zipWithIndex.map { case (c, i) =>
      if (i >= from && i < from + k) col(c).cast("double").as(c) else col(c)
    }
    LocalCollapse.collect(grouped.select(cast: _*), maxCells).flatMap { rows =>
      val cells = rows.map(r => Array.tabulate(k) { j =>
        if (r.isNullAt(from + j)) Double.NaN else r.getDouble(from + j) })
      if (cells.exists(_.exists(_.isNaN))) None else Some((rows, cells))
    }
  }

  /** Some(cells, counts) when `slim` (all columns numeric) has at most
    * maxCells distinct rows, else None. `cells(i)` holds the column values
    * of distinct row i in `slim` column order; `counts(i)` its
    * multiplicity. */
  def collect(slim: DataFrame, maxCells: Int): Option[(Array[Array[Double]], Array[Long])] = {
    val k = slim.columns.length
    numericCells(slim.groupBy(slim.columns.map(col): _*)
      .agg(count(lit(1)).as("__w")), 0, k, maxCells).map { case (rows, cells) =>
      val ord = cells.indices.sortBy(i => cells(i).toSeq)(seqOrd)
      (ord.map(cells).toArray, ord.map(rows(_).getLong(k)).toArray)
    }
  }

  /** [[collect]] with a leading STRING key column (stratum idiom): groups
    * by ALL columns, reads column 0 as the string key and the rest as
    * doubles. Cells sort by (key, values). A null key also returns None. */
  def collectWithKey(slim: DataFrame, maxCells: Int)
      : Option[(Array[String], Array[Array[Double]], Array[Long])] = {
    val k = slim.columns.length - 1
    numericCells(slim.groupBy(slim.columns.map(col): _*)
      .agg(count(lit(1)).as("__w")), 1, k, maxCells).flatMap { case (rows, cells) =>
      if (rows.exists(_.isNullAt(0))) None
      else {
        val keys = rows.map(_.getUTF8String(0).toString)
        val ord = cells.indices.sortBy(i => (keys(i), cells(i).toSeq))(
          scala.math.Ordering.Tuple2(implicitly[Ordering[String]], seqOrd))
        Some((ord.map(keys).toArray, ord.map(cells).toArray,
          ord.map(rows(_).getLong(k + 1)).toArray))
      }
    }
  }

  /** A covariate cell of [[collectByX]]: the x values plus the y moments
    * every GLM working response needs (z linear in y per x-cell): count,
    * Σy, Σy², and the count of nonpositive y (domain checks). */
  final case class XCell(xs: Array[Double], n: Long, sumY: Double,
                         sumY2: Double, nNonPos: Long)

  /** Collapse by the COVARIATE columns only, carrying y moments — for
    * fits whose per-iteration math is linear/quadratic in y given x
    * (log-link GLM IRLS: gamma, poisson, logistic working responses),
    * so a continuous outcome does not defeat the collapse. `yName` is
    * the outcome column; every other column of `slim` is a key.
    * Also None on a null/NaN moment. */
  def collectByX(slim: DataFrame, yName: String,
                 maxCells: Int): Option[Array[XCell]] = {
    val keys = slim.columns.filterNot(_ == yName)
    val k = keys.length
    val yd = col(yName).cast("double")
    val grouped = slim.groupBy(keys.map(col): _*).agg(
      count(lit(1)).as("__n"), sum(yd).as("__sy"),
      sum(yd * yd).as("__syy"),
      sum(when(yd <= 0.0, 1L).otherwise(0L)).as("__np"),
      sum(when(yd.isNull, 1L).otherwise(0L)).as("__nnull"))
    numericCells(grouped, 0, k, maxCells).flatMap { case (rows, cells) =>
      val out = new Array[XCell](rows.length)
      var i = 0
      while (i < rows.length) {
        val r = rows(i)
        if (r.getLong(k + 4) != 0L || r.isNullAt(k + 1)) return None
        val sy = r.getDouble(k + 1)
        val syy = r.getDouble(k + 2)
        if (sy.isNaN || syy.isNaN) return None
        out(i) = XCell(cells(i), r.getLong(k), sy, syy, r.getLong(k + 3))
        i += 1
      }
      val ord = out.indices.sortBy(i => out(i).xs.toSeq)(seqOrd)
      Some(ord.map(out).toArray)
    }
  }
}
