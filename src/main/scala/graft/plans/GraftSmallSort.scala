package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.physical.{RangePartitioning, SinglePartition}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ShuffleExchangeExec}
import org.apache.spark.sql.internal.SQLConf

/**
 * Small global sorts gather to one partition instead of range-shuffling.
 *
 * Spark feeds every global sort through a range exchange, and its
 * `RangePartitioner` first runs a sampling job that evaluates the sort's
 * whole input a second time. When AQE would coalesce the range output into
 * one partition anyway, that job buys nothing. This query-stage
 * preparation rule (so AQE plans only) turns such an exchange into a
 * single-partition one, which satisfies the same ordered distribution, and
 * the sort runs as one task with no sampling pass.
 *
 * It rewrites only range exchanges that `EnsureRequirements` inserted
 * (never `repartitionByRange`), only with partition coalescing on, and only
 * when the exchange input's size estimate (its logical link's statistics,
 * the estimate AQE and broadcast planning read; runtime statistics for a
 * stage already run) is at most `onePartitionBytes`. A large sort keeps its
 * range shuffle.
 */
class GraftSmallSort(session: SparkSession) extends Rule[SparkPlan] {

  override def apply(plan: SparkPlan): SparkPlan = {
    if (!conf.coalesceShufflePartitionsEnabled) return plan
    val bound = GraftSmallSort.onePartitionBytes(conf, session.sparkContext.defaultParallelism)
    plan.transformUp {
      case e @ ShuffleExchangeExec(RangePartitioning(_, n), child, ENSURE_REQUIREMENTS, _)
          if n > 1 && child.logicalLink.exists(_.stats.sizeInBytes <= bound) =>
        e.copy(outputPartitioning = SinglePartition)
    }
  }
}

object GraftSmallSort {

  /** The largest shuffle input that AQE's `CoalesceShufflePartitions`
    * coalesces into one partition. Its target size is at least
    * `minPartitionSize`, so an input that small always lands in one
    * partition. When the minimum partition count is 1 (`parallelismFirst`
    * off, or set so), the target is the input size capped at
    * `advisoryPartitionSizeInBytes`, so an input up to that size does too. */
  def onePartitionBytes(conf: SQLConf, defaultParallelism: Int): Long = {
    val minNum = conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_NUM).getOrElse(
      if (conf.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST)) defaultParallelism else 1)
    val minSize = conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)
    if (minNum <= 1) minSize.max(conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES))
    else minSize
  }
}
