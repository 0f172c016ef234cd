package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioningLike, RangePartitioning,
  RoundRobinPartitioning, SinglePartition}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Input-parallelism guard for operators whose per-row work is AMPLIFIED
  * (B× bootstrap replicates, T× tree memberships, k× hash signatures) or
  * ITERATED (IRLS passes, per-level forest scans).
  *
  * Such work runs at the INPUT partition count — and a single-row-group
  * parquet file scans as ONE partition no matter how many cores exist, so
  * the whole amplified pipeline can serialize on one thread. A narrow O(n)
  * repartition of the un-amplified rows unlocks full parallelism; on any
  * input that already has enough splits (the many-file 100 TB case) this
  * is a no-op, so it never adds a shuffle where scale already provides
  * parallelism. Plain single-pass aggregates do NOT use this: shuffling n
  * rows to aggregate n rows once is no cheaper than aggregating in place.
  */
object Par {
  /** Repartition `df` to the session default parallelism when it has fewer
    * partitions — by hash of `keys` when given (co-locates downstream
    * keyed work), round-robin otherwise. Callers that already know the
    * input's partition count (e.g. a loop re-scoring the same cached
    * frame) pass it via `knownPartitions` and skip planning entirely. */
  def ensure(df: DataFrame, keys: Seq[Column] = Seq.empty,
             knownPartitions: Int = -1): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    val current = if (knownPartitions >= 0) knownPartitions else partitions(df)
    if (current >= target) df
    else if (keys.nonEmpty) df.repartition(target, keys: _*)
    else df.repartition(target)
  }

  /** Partition count of the plan an action on `df` runs, found by planning
    * alone when the plan ends in a shuffle: its output partitioning names
    * the count. `queryExecution.toRdd` would, under adaptive execution,
    * run the input's shuffle stages just to learn it, and the caller then
    * re-plans the repartitioned frame and runs them again. Any other plan
    * (a scan, whose splits only the RDD knows) is counted through `toRdd`,
    * the memoized internal-row RDD of that plan — not `df.rdd`, which
    * plans a separate deserializing copy. */
  private def partitions(df: DataFrame): Int = {
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    plan.outputPartitioning match {
      case p @ (_: HashPartitioningLike | _: RangePartitioning |
                _: RoundRobinPartitioning | SinglePartition) => p.numPartitions
      case _ => df.queryExecution.toRdd.getNumPartitions
    }
  }
}
