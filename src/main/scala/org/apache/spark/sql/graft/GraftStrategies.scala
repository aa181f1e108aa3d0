package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.SortOrder
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Generate, GlobalLimit, LogicalPlan, Project, Repartition, RepartitionByExpression, Sort, Window}
import org.apache.spark.sql.catalyst.plans.physical.{RangePartitioning, SinglePartition}
import org.apache.spark.sql.execution.{SortExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.internal.SQLConf

/**
 * Sort once: a global `Sort` over a small input plans as one sort of one
 * partition, `SortExec(global) <- Exchange(SinglePartition)`, instead of
 * Spark's `SortExec(global) <- Exchange(RangePartitioning)`. Both give the
 * same total order with one exchange and one sort, but a range exchange
 * first runs a sampling job over its child to find the partition bounds,
 * and that job recomputes everything between the previous shuffle and the
 * sort (a window, an as-of merge and its sorts, a parquet scan). A
 * single-partition exchange needs no bounds and runs no extra job.
 *
 * "Small" is a child size estimate of at most
 * `spark.sql.adaptive.advisoryPartitionSizeInBytes` (64 MB by default), the
 * amount of data Spark's adaptive execution already treats as one
 * partition's work when it coalesces shuffle partitions: the one sort task
 * gets no more than a partition Spark would plan itself, and graft adds no
 * setting of its own. With adaptive execution on, the final stage is
 * re-planned through this strategy once the stages below it have run, so
 * wherever a shuffle precedes the sort the estimate is the shuffle's
 * measured size. Above the threshold, or with an unknown estimate
 * (Spark's default is `Long.MaxValue`), the strategy returns `Nil` and
 * Spark keeps range partitioning, whose parallel sort is what large inputs
 * need.
 *
 * It also returns `Nil` when Spark's own plan may need no exchange under
 * the sort, because the child already comes in one partition (a global
 * limit or aggregate, an unpartitioned window, `repartition(1)`) or
 * range-partitioned on an order that agrees with the sort's (a
 * `repartitionByRange`, as `orderByTime` plans, or an inner global sort),
 * below nodes that keep their child's partitioning.
 */
object SinglePartitionSortStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case Sort(order, true, child, _)
        if child.stats.sizeInBytes <= SQLConf.get.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES) &&
          !laidOut(child, order) =>
      SortExec(order, global = true,
        ShuffleExchangeExec(SinglePartition, planLater(child))) :: Nil
    case _ => Nil
  }

  /** Whether `plan`'s rows may already be in one partition or
    * range-partitioned on an order whose common prefix with `order` is
    * equal, the test Spark's `RangePartitioning` applies to an
    * `OrderedDistribution`. It errs towards yes, which keeps Spark's plan. */
  private def laidOut(plan: LogicalPlan, order: Seq[SortOrder]): Boolean = {
    def agrees(by: Seq[SortOrder]) =
      by.zip(order).forall { case (a, b) => a.semanticEquals(b) }
    plan match {
      case Sort(by, true, _, _) => agrees(by)
      case r: RepartitionByExpression => r.partitioning match {
        case RangePartitioning(by, _) => agrees(by)
        case _ => false
      }
      case r: Repartition => r.numPartitions == 1
      case _: GlobalLimit => true
      case a: Aggregate => a.groupingExpressions.isEmpty || laidOut(a.child, order)
      case w: Window => w.partitionSpec.isEmpty || laidOut(w.child, order)
      case _: Project | _: Filter | _: Generate | _: Sort => laidOut(plan.children.head, order)
      case _ => false
    }
  }
}

/** graft's planner strategies: the as-of merge join, the sliding
  * count/sum window and the single-partition sort. */
object GraftStrategies {
  val all: Seq[SparkStrategy] =
    Seq(AsOfMergeStrategy, SlidingSumStrategy, SinglePartitionSortStrategy)

  /** Register every strategy on this session once (idempotent). Only
    * through `spark.experimental.extraStrategies`, which belongs to this
    * session alone: `newSession()` starts without them, so a plain-Spark
    * session next to a graft one keeps Spark's own plans. A
    * `SparkSessionExtensions` injection at run time would instead reach
    * every session sharing the extensions object. */
  def ensureRegistered(spark: SparkSession): Unit = {
    val cur = spark.experimental.extraStrategies
    val missing = all.filterNot(cur.contains)
    if (missing.nonEmpty) spark.experimental.extraStrategies = cur ++ missing
  }
}
