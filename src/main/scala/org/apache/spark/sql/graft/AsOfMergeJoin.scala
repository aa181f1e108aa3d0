package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkStrategy
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, BindReferences, BoundReference, Descending, Expression, GenericInternalRow, JoinedRow, RowOrdering, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan, Statistics}
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan}
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples, ClusteredDistribution, Distribution}

/**
 * The as-of join operator: a custom Catalyst logical node + strategy +
 * physical operator doing a co-partitioned ordered MERGE of the two sides
 * — the Spark-native form of the reference's narrow range-merge join
 * (/root/reference/src/main/scala/com/twosigma/flint/rdd/function/join/
 * LeftJoin.scala:31-97, RangeMergeJoin.scala:103-118). Every join in
 * `graft.ts.AsOfJoin` runs on it.
 *
 * Execution contract (declared, so Catalyst plans the minimum work):
 *  - requiredChildDistribution: both sides hash-clustered on the join key
 *    (EnsureRequirements inserts compatible exchanges, exactly like a
 *    sort-merge equi-join);
 *  - requiredChildOrdering: (key..., time) ascending per side; the right
 *    side also sorts its value columns (see ties below);
 *  - doExecute: zipPartitions streaming merge — O(|L| + |R|) per
 *    partition, O(1) state (the last right row of the current key).
 *
 * Ties: right rows at identical (key, time) resolve to the greatest value
 * tuple, nulls least — the value columns sort ascending nulls-first for
 * backward joins (the last tied row wins) and descending nulls-last for
 * forward joins (the first tied row wins). When a right value type is
 * unorderable (map) the tie columns are skipped and ties follow plan
 * order. Null times: a right row with a null time is never a candidate,
 * and a left row with a null time is null-padded.
 */
case class AsOfMergePlan(left: LogicalPlan, right: LogicalPlan,
                         leftKeys: Seq[Expression], rightKeys: Seq[Expression],
                         leftTime: Expression, rightTime: Expression,
                         toleranceNs: Long, future: Boolean,
                         strict: Boolean) extends BinaryNode {
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  override lazy val resolved: Boolean = childrenResolved &&
    (leftKeys ++ rightKeys :+ leftTime :+ rightTime).forall(_.resolved)
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfMergePlan =
    copy(left = newLeft, right = newRight)

  // Spark's estimate for a binary node it does not know is the product of
  // its children's sizes; this join emits exactly one row per left row
  override def stats: Statistics = statsCache.getOrElse {
    statsCache = Some(computeStats())
    statsCache.get
  }

  /** The left side's row count, and its size scaled by the output/left
    * row width, as Spark estimates a `Project`. */
  private def computeStats(): Statistics = {
    val l = left.stats
    val size = l.sizeInBytes * EstimationUtils.getSizePerRow(output) /
      EstimationUtils.getSizePerRow(left.output)
    Statistics(sizeInBytes = size.max(1), rowCount = l.rowCount)
  }
}

object AsOfMergeStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfMergePlan(l, r, lk, rk, lt, rt, tol, fut, st) =>
      AsOfMergeJoinExec(planLater(l), planLater(r), lk, rk, lt, rt, tol,
        fut, st) :: Nil
    case _ => Nil
  }
}

case class AsOfMergeJoinExec(left: SparkPlan, right: SparkPlan,
                             leftKeys: Seq[Expression], rightKeys: Seq[Expression],
                             leftTime: Expression, rightTime: Expression,
                             toleranceNs: Long, future: Boolean,
                             strict: Boolean)
    extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override def requiredChildDistribution: Seq[Distribution] =
    if (leftKeys.isEmpty) Seq(AllTuples, AllTuples)
    else Seq(ClusteredDistribution(leftKeys), ClusteredDistribution(rightKeys))

  /** The right side's value columns, ordered so the tie winner (the
    * greatest value tuple) is the row the merge keeps: last in ascending
    * order for backward joins, first in descending order for forward ones. */
  private def tieOrder: Seq[SortOrder] = {
    val vals = right.output.filterNot(a => (rightKeys :+ rightTime).exists(_.semanticEquals(a)))
    if (!vals.forall(a => RowOrdering.isOrderable(a.dataType))) Nil
    else vals.map(SortOrder(_, if (future) Descending else Ascending))
  }

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    (leftKeys :+ leftTime).map(SortOrder(_, Ascending)),
    (rightKeys :+ rightTime).map(SortOrder(_, Ascending)) ++ tieOrder)

  override def outputOrdering: Seq[SortOrder] =
    (leftKeys :+ leftTime).map(SortOrder(_, Ascending))

  override protected def doExecute(): RDD[InternalRow] = {
    val tol = toleranceNs
    val lKeyExprs = leftKeys
    val rKeyExprs = rightKeys
    val lTimeExpr = leftTime
    val rTimeExpr = rightTime
    val lOut = left.output
    val rOut = right.output
    val keyTypes = lKeyExprs.map(_.dataType)
    val outAttrs = output

    left.execute().zipPartitions(right.execute()) { (lIt, rIt0) =>
      val lKeyProj = UnsafeProjection.create(lKeyExprs, lOut)
      val rKeyProj = UnsafeProjection.create(rKeyExprs, rOut)
      // Emitted rows must be UnsafeRows: downstream operators that consume
      // rows directly (executeCollect, SortExec's UnsafeExternalRowSorter)
      // cast to UnsafeRow, and a raw JoinedRow(GenericInternalRow) would
      // ClassCastException there — same contract as
      // SortMergeJoinExec.createResultProjection.
      val resultProj = UnsafeProjection.create(outAttrs, outAttrs)
      val lTimeBound = BindReferences.bindReference(lTimeExpr, lOut)
      val rTimeBound = BindReferences.bindReference(rTimeExpr, rOut)
      val keyOrd: Ordering[InternalRow] =
        new LazilyGeneratedOrdering(keyTypes.zipWithIndex.map { case (dt, i) =>
          SortOrder(BoundReference(i, dt, nullable = true), Ascending)
        })
      val rIt = rIt0.buffered
      val nullRight = new GenericInternalRow(rOut.size)
      val joined = new JoinedRow

      if (!future) {
        // backward: last right row whose (key, time) <= current left
        // (key, time), for the current key only (inputs key-major sorted)
        var lastKey: InternalRow = null
        var lastRight: InternalRow = null
        var lastRightTime: Long = 0L
        lIt.map { lRow =>
          val lTimeV = lTimeBound.eval(lRow)
          // a left row with a null time is null-padded
          val matched = lTimeV != null && {
            val lKey = lKeyProj(lRow)
            val lTime = lTimeV.asInstanceOf[Long]
            // advance the right side up to and including (lKey, lTime)
            var advancing = true
            while (advancing && rIt.hasNext) {
              val rRow = rIt.head
              val rKey = rKeyProj(rRow)
              val cmp = keyOrd.compare(rKey, lKey)
              if (cmp < 0) { rIt.next() } // right key behind: discard
              else if (cmp == 0) {
                val rTimeV = rTimeBound.eval(rRow)
                if (rTimeV == null) rIt.next() // null time: never a candidate
                else if (rTimeV.asInstanceOf[Long] <= lTime) {
                  // candidate: remember a COPY (unsafe rows are reused buffers)
                  lastKey = rKey.copy()
                  lastRight = rIt.next().copy()
                  lastRightTime = rTimeV.asInstanceOf[Long]
                } else advancing = false
              } else advancing = false
            }
            lastRight != null &&
              keyOrd.compare(lastKey, lKey) == 0 && lastRightTime >= lTime - tol
          }
          resultProj(joined(lRow, if (matched) lastRight else nullRight))
        }
      } else {
        // forward: the first right row at/after (strictly after when
        // strict) the left time is the nearest future match. Rights behind
        // the window start can never match a later left (lefts ascend), so
        // they are discarded; the matching head is only PEEKED — it may
        // match later lefts too.
        lIt.map { lRow =>
          val lTimeV = lTimeBound.eval(lRow)
          // a left row with a null time is null-padded
          val matched = lTimeV != null && {
            val lKey = lKeyProj(lRow)
            val lTime = lTimeV.asInstanceOf[Long]
            var discarding = true
            while (discarding && rIt.hasNext) {
              val rRow = rIt.head
              val cmp = keyOrd.compare(rKeyProj(rRow), lKey)
              if (cmp < 0) rIt.next()
              else if (cmp == 0) {
                val rTimeV = rTimeBound.eval(rRow)
                // a null right time is never a candidate
                if (rTimeV == null || (if (strict) rTimeV.asInstanceOf[Long] <= lTime
                                       else rTimeV.asInstanceOf[Long] < lTime)) rIt.next()
                else discarding = false
              } else discarding = false
            }
            // a same-key head left by the loop has a non-null time
            rIt.hasNext && {
              val rRow = rIt.head
              keyOrd.compare(rKeyProj(rRow), lKey) == 0 &&
                rTimeBound.eval(rRow).asInstanceOf[Long] <= lTime + tol
            }
          }
          resultProj(joined(lRow, if (matched) rIt.head else nullRight))
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfMergeJoinExec =
    copy(left = newLeft, right = newRight)
}

object AsOfMergeJoin {

  /** Build the joined DataFrame from two analyzed children; key and time
    * attributes are resolved by name against each side. Output = left
    * columns ++ right columns (nullable). */
  def leftJoinMerge(left: DataFrame, right: DataFrame, toleranceNs: Long,
                    key: Seq[String], timeCol: String,
                    future: Boolean = false, strict: Boolean = false): DataFrame = {
    val spark = left.sparkSession
    GraftStrategies.ensureRegistered(spark)
    val lPlan = left.queryExecution.analyzed
    val rPlan = right.queryExecution.analyzed
    def attr(plan: LogicalPlan, name: String): Attribute =
      plan.output.find(a => spark.sessionState.conf.resolver(a.name, name))
        .getOrElse(throw new IllegalArgumentException(
          s"column $name not found in ${plan.output.map(_.name).mkString(",")}"))
    val plan = AsOfMergePlan(lPlan, rPlan,
      key.map(attr(lPlan, _)), key.map(attr(rPlan, _)),
      attr(lPlan, timeCol), attr(rPlan, timeCol), toleranceNs, future, strict)
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)
  }
}
