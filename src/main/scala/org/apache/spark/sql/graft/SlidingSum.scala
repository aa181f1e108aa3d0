package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Ascending, Attribute, Cast, CurrentRow, EvalMode, Expression, IsNotNull, IsNull, JoinedRow, Literal, NamedExpression, RowFrame, SortOrder, SpecialFrameBoundary, SpecificInternalRow, SpecifiedWindowFrame, UnsafeProjection, UnsafeRow, WindowExpression, WindowSpecDefinition}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Window}
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples, ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.catalyst.util.MathUtils
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType}

/**
 * Subtractable sliding windows: a logical `Window` whose every expression
 * is a `count` or an integral `sum` over one frame bounded on both sides
 * plans as [[SlidingSumExec]], one O(n) sweep per key — the reference's
 * subtractable window iterator (flint `WindowIterator`, which adds the rows
 * entering a window and subtracts the rows leaving it) — instead of
 * `WindowExec`, whose sliding frame re-aggregates the whole frame every
 * time its lower bound moves (O(w) per row) and buffers each key's rows.
 *
 * The strategy plans the operator when
 *  - every window expression is a non-distinct, unfiltered `count(e...)`
 *    or an ANSI `sum(e)` of a byte/short/int/long `e`;
 *  - all share one frame with a value (or CURRENT ROW) bound on each side;
 *  - the frame is a ROWS frame, or a RANGE frame over one ascending long
 *    order expression in an ANSI session (the mode that decides how
 *    WindowExec computes `time + offset`).
 * Every other window (double/decimal sums, min, quantiles, collect_list,
 * running `unboundedPreceding` frames, `try_sum`, non-ANSI sums) returns
 * `Nil` and stays
 * on WindowExec.
 */
object SlidingSumStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case Window(exprs, partitionSpec, orderSpec, child, None) =>
      SlidingSumExec.frameOf(exprs, orderSpec).map(frame =>
        SlidingSumExec(exprs, partitionSpec, orderSpec, frame, planLater(child))).toSeq
    case _ => Nil
  }
}

/** A frame [lower, upper] around each row: row offsets (`byRows`) or
  * offsets added to the row's order value (both ends inclusive). */
case class SlidingFrame(byRows: Boolean, lower: Long, upper: Long)

/**
 * Execution contract (the same as WindowExec's, so EnsureRequirements
 * plans the same exchange and sort below it):
 *  - requiredChildDistribution: clustered on the partition spec, or
 *    AllTuples without one;
 *  - requiredChildOrdering: partition spec then order spec, ascending;
 *  - doExecute: per key, a read-ahead queue up to the frame's upper bound
 *    and an eviction pointer trailing at its lower bound. Each column keeps
 *    a running count of counted rows (non-null values for a sum) and a
 *    running sum; a row's results are emitted once the rows up to its
 *    upper bound are read. Memory is the rows between a frame's lower
 *    bound and the last row read, never a whole key.
 *
 * Results equal WindowExec's: range peers (equal order values) are in each
 * other's frames; an empty frame gives count 0 and a null sum; rows with a
 * null order value form one frame of their own per key, as they do under
 * Catalyst's null ordering; ANSI sums raise ARITHMETIC_OVERFLOW exactly
 * when some prefix of a frame, summed in row order, leaves the long range
 * (the frame is replayed only when its Σ|v| exceeds Long.MaxValue).
 */
case class SlidingSumExec(windowExpression: Seq[NamedExpression],
                          partitionSpec: Seq[Expression],
                          orderSpec: Seq[SortOrder],
                          frame: SlidingFrame,
                          child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] =
    child.output ++ windowExpression.map(_.toAttribute)

  override def requiredChildDistribution: Seq[Distribution] =
    if (partitionSpec.isEmpty) AllTuples :: Nil
    else ClusteredDistribution(partitionSpec) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(partitionSpec.map(SortOrder(_, Ascending)) ++ orderSpec)

  override def outputOrdering: Seq[SortOrder] = child.outputOrdering

  override def outputPartitioning: Partitioning = child.outputPartitioning

  override protected def doExecute(): RDD[InternalRow] = {
    val columns = windowExpression.map(SlidingSumExec.columnOf)
    val order: Expression =
      if (frame.byRows) Literal(0L) else orderSpec.head.child
    // a range frame's rows with a null order value are a group of their own
    val keys = if (frame.byRows) partitionSpec else partitionSpec :+ IsNull(order)
    val childOutput = child.output
    val windowOutput = windowExpression.map(_.toAttribute)
    val outAttrs = output
    val f = frame
    val isSum = columns.map(_.isSum).toArray
    child.execute().mapPartitionsInternal { rows =>
      new SlidingSumIterator(rows,
        UnsafeProjection.create(keys, childOutput),
        UnsafeProjection.create(order +: columns.map(_.value), childOutput),
        UnsafeProjection.create(outAttrs, childOutput ++ windowOutput),
        f, isSum)
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): SlidingSumExec =
    copy(child = newChild)
}

/** One output column: `value` is the count's "all inputs non-null"
  * predicate, or (`isSum`) the sum's input as a long. */
private[graft] case class SlidingColumn(value: Expression, isSum: Boolean)

object SlidingSumExec {

  private def integral(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  private def windowFunction(e: NamedExpression): Option[(Expression, SpecifiedWindowFrame)] =
    e match {
      case Alias(WindowExpression(AggregateExpression(fn, _, false, None, _),
          WindowSpecDefinition(_, _, frame: SpecifiedWindowFrame)), _) => fn match {
        case c: Count => Some((c, frame))
        case s: Sum if integral(s.child.dataType) &&
            s.evalContext.evalMode == EvalMode.ANSI => Some((s, frame))
        case _ => None
      }
      case _ => None
    }

  private def offset(bound: Expression): Option[Long] = bound match {
    case CurrentRow => Some(0L)
    case _: SpecialFrameBoundary => None
    case e if e.foldable => e.dataType match {
      case IntegerType => Some(e.eval().asInstanceOf[Int].toLong)
      case LongType => Some(e.eval().asInstanceOf[Long])
      case _ => None
    }
    case _ => None
  }

  /** The one frame every expression shares, when the window qualifies. */
  private[graft] def frameOf(exprs: Seq[NamedExpression],
                             orderSpec: Seq[SortOrder]): Option[SlidingFrame] = {
    val frames = exprs.map(e => windowFunction(e).flatMap { case (_, fr) =>
      for (lo <- offset(fr.lower); hi <- offset(fr.upper))
        yield SlidingFrame(fr.frameType == RowFrame, lo, hi)
    })
    frames.distinct match {
      case Seq(Some(f)) if f.byRows => Some(f)
      case Seq(Some(f)) if orderSpec.size == 1 &&
          orderSpec.head.direction == Ascending &&
          orderSpec.head.child.dataType == LongType &&
          SQLConf.get.ansiEnabled => Some(f)
      case _ => None
    }
  }

  private[graft] def columnOf(e: NamedExpression): SlidingColumn =
    windowFunction(e).get._1 match {
      case Count(children) =>
        SlidingColumn(children.map(IsNotNull(_): Expression)
          .reduceOption(And(_, _)).getOrElse(Literal(true)), isSum = false)
      case s: Sum =>
        SlidingColumn(if (s.child.dataType == LongType) s.child
          else Cast(s.child, LongType), isSum = true)
    }
}

/**
 * The sweep over one partition, sorted by (key, order). Positions count
 * rows from 0 within a key group; the rows at [first, read) are held in
 * ring buffers, [lo, hi) are in the running sums and `emit` is the next
 * row to output.
 */
private final class SlidingSumIterator(
    input: Iterator[InternalRow],
    keyProj: UnsafeProjection,
    inProj: UnsafeProjection,
    resultProj: UnsafeProjection,
    frame: SlidingFrame,
    isSum: Array[Boolean]) extends Iterator[InternalRow] {

  private[this] val in = input.buffered
  private[this] val k = isSum.length

  private[this] var mask = 63
  private[this] var rows = new Array[InternalRow](mask + 1)
  private[this] var ords = new Array[Long](mask + 1)
  // per buffered row and column: counted (count) / non-null (sum); value
  private[this] var has = new Array[Boolean]((mask + 1) * k)
  private[this] var vals = new Array[Long]((mask + 1) * k)

  private[this] var groupKey: UnsafeRow = _
  private[this] var groupEnded = true
  private[this] var nullOrder = false
  private[this] var read, emit, lo, hi = 0L

  // running state per column: counted rows, wrapping sum, and Σ|v| as a
  // 128-bit (hi, unsigned lo) pair for the overflow check
  private[this] val n = new Array[Long](k)
  private[this] val s = new Array[Long](k)
  private[this] val absHi = new Array[Long](k)
  private[this] val absLo = new Array[Long](k)

  private[this] val out = new SpecificInternalRow(Seq.fill(k)(LongType))
  private[this] val joined = new JoinedRow

  override def hasNext: Boolean = emit < read || in.hasNext

  override def next(): InternalRow = {
    if (emit == read) {
      if (!tryRead()) { startGroup(); tryRead() }
    }
    var lb, ub = 0L
    if (frame.byRows) { lb = emit + frame.lower; ub = emit + frame.upper }
    else if (!nullOrder) {
      val o = ords(slot(emit))
      lb = MathUtils.addExact(o, frame.lower, null)
      ub = MathUtils.addExact(o, frame.upper, null)
    } // a null-order group is one frame: every ords entry and bound is 0
    var more = true
    while (more) {
      if (hi == read && !tryRead()) more = false
      else if (position(hi) <= ub) { update(hi, 1); hi += 1 }
      else more = false
    }
    while (lo < hi && position(lo) < lb) { update(lo, -1); lo += 1 }

    var c = 0
    while (c < k) {
      if (!isSum(c)) out.setLong(c, n(c))
      else if (n(c) == 0L) out.setNullAt(c)
      else out.setLong(c, sumOf(c))
      c += 1
    }
    val i = slot(emit)
    val row = rows(i)
    rows(i) = null
    emit += 1
    resultProj(joined(row, out))
  }

  /** The oldest buffered position: rows before it are emitted and evicted. */
  private def first: Long = math.min(lo, emit)

  private def slot(p: Long): Int = (p & mask).toInt

  private def position(p: Long): Long = if (frame.byRows) p else ords(slot(p))

  private def startGroup(): Unit = {
    groupKey = keyProj(in.head).copy()
    groupEnded = false
    nullOrder = !frame.byRows && groupKey.getBoolean(groupKey.numFields - 1)
    read = 0L; emit = 0L; lo = 0L; hi = 0L
    java.util.Arrays.fill(n, 0L)
    java.util.Arrays.fill(s, 0L)
    java.util.Arrays.fill(absHi, 0L)
    java.util.Arrays.fill(absLo, 0L)
  }

  /** Buffer the next input row if it belongs to the current group. */
  private def tryRead(): Boolean = {
    if (groupEnded) return false
    if (!in.hasNext || keyProj(in.head) != groupKey) { groupEnded = true; return false }
    if (read - first > mask) grow()
    val row = in.next()
    val p = inProj(row)
    val i = slot(read)
    rows(i) = row.copy()
    ords(i) = if (p.isNullAt(0)) 0L else p.getLong(0)
    var c = 0
    while (c < k) {
      val j = i * k + c
      if (isSum(c)) {
        has(j) = !p.isNullAt(c + 1)
        vals(j) = if (has(j)) p.getLong(c + 1) else 0L
      } else has(j) = p.getBoolean(c + 1)
      c += 1
    }
    read += 1
    true
  }

  /** Add (`sign` 1) or subtract (-1) the row at `p` in the running state. */
  private def update(p: Long, sign: Int): Unit = {
    val base = slot(p) * k
    var c = 0
    while (c < k) {
      if (has(base + c)) {
        n(c) += sign
        if (isSum(c)) {
          val v = vals(base + c)
          s(c) += sign * v
          // |Long.MinValue| wraps to itself, which read unsigned is 2^63
          val a = math.abs(v)
          val lo0 = absLo(c)
          if (sign > 0) {
            absLo(c) = lo0 + a
            if (java.lang.Long.compareUnsigned(absLo(c), lo0) < 0) absHi(c) += 1
          } else {
            absLo(c) = lo0 - a
            if (java.lang.Long.compareUnsigned(lo0, a) < 0) absHi(c) -= 1
          }
        }
      }
      c += 1
    }
  }

  /** The frame's sum. While Σ|v| fits a long no prefix can overflow and the
    * wrapping running sum is exact; otherwise replay WindowExec's in-order
    * fold, which raises the same overflow error at the same prefix. */
  private def sumOf(c: Int): Long =
    if (absHi(c) == 0L && absLo(c) >= 0L) s(c)
    else {
      var acc = 0L
      var p = lo
      while (p < hi) {
        val j = slot(p) * k + c
        // WindowExec's fold raises the error without a query context
        if (has(j)) acc = MathUtils.addExact(acc, vals(j), null)
        p += 1
      }
      acc
    }

  /** Double the ring buffers, keeping positions [first, read) in place. */
  private def grow(): Unit = {
    val cap = (mask + 1) * 2
    val rows2 = new Array[InternalRow](cap)
    val ords2 = new Array[Long](cap)
    val has2 = new Array[Boolean](cap * k)
    val vals2 = new Array[Long](cap * k)
    var p = first
    while (p < read) {
      val i = slot(p)
      val i2 = (p & (cap - 1)).toInt
      rows2(i2) = rows(i)
      ords2(i2) = ords(i)
      System.arraycopy(has, i * k, has2, i2 * k, k)
      System.arraycopy(vals, i * k, vals2, i2 * k, k)
      p += 1
    }
    mask = cap - 1
    rows = rows2; ords = ords2; has = has2; vals = vals2
  }
}
