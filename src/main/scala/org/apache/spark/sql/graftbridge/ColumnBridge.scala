package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{ColumnNodeToExpressionConverter, ExpressionUtils}

/** Bridge into Spark's `private[sql]` Column ⇄ Expression converters —
  * needed to register FunctionRegistry builders (SQL names) that reuse the
  * public Column-based graft functions. Standard extension-library
  * technique; no Spark internals are modified.
  *
  * `expression` must EAGERLY convert the ColumnNode tree (the lazy
  * `ExpressionUtils.expression` wrapper would reach codegen unresolved when
  * embedded in a FunctionRegistry builder result). */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ColumnNodeToExpressionConverter(c.node)

  /** DataFrame from an unresolved LogicalPlan — lets the gateway hand a
    * parsed (but verb-stripped) query subtree back to the analyzer, so verb
    * rewriting composes with joins/CTEs/subqueries exactly like the
    * reference's SQL-forwarding gateway. */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Finish the pending (lazy) checkpoints under `rdd` after a job run by
    * `SparkContext.submitJob`. `runJob` does this after every job and
    * `submitJob` does not; a `localCheckpoint` left pending is finished by
    * the next `runJob` instead, and two of those at once (the two
    * broadcast builds of one join query) deadlock the DAG scheduler on
    * the RDD and checkpoint-state locks. */
  def doCheckpoint(rdd: org.apache.spark.rdd.RDD[_]): Unit = rdd.doCheckpoint()

  /** Unpersist the checkpointed RDD behind a `localCheckpoint`ed frame
    * (its plan is a LogicalRDD leaf). Iterative algorithms that re-
    * checkpoint per round use this to release the superseded round's
    * executor storage immediately instead of waiting for driver GC. */
  def unpersistCheckpoint(df: org.apache.spark.sql.classic.Dataset[_]): Unit =
    df.queryExecution.analyzed.collectLeaves().foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
        ()
      case _ => ()
    }
}
