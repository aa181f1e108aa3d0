package graft.ts

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.graft.GraftStrategies
import scala.collection.immutable.ListMap

/**
 * Time-window specs and per-row window aggregation
 * (≙ Windows.pastAbsoluteTime/futureAbsoluteTime, timeseries/Windows.scala:32-50;
 * summarizeWindows/addWindows/addSummaryColumns, TimeSeriesRDD.scala:1148,947,1215).
 *
 * Spark-first: a flint window [t+a, t+b] (both endpoints inclusive,
 * rdd/function/window/SummarizeWindows.scala:178-183) is exactly a Catalyst
 * range frame `rangeBetween(a, b)` over the long-nanos time column. Spark's
 * WindowExec evaluates running frames incrementally, O(n) per key, but
 * re-aggregates a sliding frame from its lower bound every time that bound
 * moves: O(w) per row for a frame of w rows, with each key's rows buffered.
 * The reference slides in O(1) per row by adding entering rows and
 * subtracting leaving ones (its subtractable iterators); [[summarizeWindows]]
 * gets the same for count and integral-sum windows through
 * `org.apache.spark.sql.graft.SlidingSumExec`, and leaves every other
 * window on WindowExec.
 */
object WindowOps {
  import TimeSeriesOps.TimeColumn

  /** A closed window around each row: a time range [t + fromNs, t + toNs]
    * (`byRows = false`) or a row-count frame [row + from, row + to]
    * (`byRows = true` — the reference's internal CountWindow,
    * window/Window.scala:73, which flint defines but never exposes). */
  final case class TimeWindow(fromNs: Long, toNs: Long, name: String,
                              byRows: Boolean = false)

  /** [t - d, t] (≙ Windows.pastAbsoluteTime). */
  def pastAbsoluteTime(duration: String): TimeWindow = {
    val ns = TimeSeriesOps.parseDuration(duration)
    TimeWindow(-ns, 0L, s"past_$duration")
  }

  /** [t, t + d] (≙ Windows.futureAbsoluteTime). */
  def futureAbsoluteTime(duration: String): TimeWindow = {
    val ns = TimeSeriesOps.parseDuration(duration)
    TimeWindow(0L, ns, s"future_$duration")
  }

  /** The current row and the `n` preceding rows (row-count frame). With
    * equal times, pass `tieBreak` columns to the window operator for a
    * deterministic frame. */
  def pastRows(n: Int): TimeWindow = {
    require(n >= 0, "row window size must be >= 0")
    TimeWindow(-n.toLong, 0L, s"past_${n}_rows", byRows = true)
  }

  /** The current row and the `n` following rows (row-count frame). */
  def futureRows(n: Int): TimeWindow = {
    require(n >= 0, "row window size must be >= 0")
    TimeWindow(0L, n.toLong, s"future_${n}_rows", byRows = true)
  }

  private def spec(w: TimeWindow, key: Seq[String],
                   tieBreak: Seq[String] = Seq.empty): WindowSpec = {
    val base = Window.partitionBy(key.map(F.col): _*)
      .orderBy((TimeColumn +: tieBreak).map(F.col): _*)
    if (w.byRows) base.rowsBetween(w.fromNs, w.toNs)
    else base.rangeBetween(w.fromNs, w.toNs)
  }

  /** For each row, append aggregates over all rows (same key) within its
    * window (≙ summarizeWindows), in `s.names` order. `tieBreak` orders
    * rows with equal times — only meaningful for row-count windows (a
    * range frame is defined by the time value alone, so Spark rejects extra
    * order columns there).
    *
    * Fast path: when every aggregate of `s` is a `count` or a `sum` of an
    * integral column (`count()`, `count(x)`, `sum(x)` on byte/short/int/
    * long, with or without `where`), the window plans as `SlidingSumExec`,
    * one O(n) sweep per key that adds entering and subtracts leaving rows;
    * results are identical to WindowExec's. graft's planner strategies
    * are registered on the session here (idempotent). Everything else — double
    * or decimal sums (so `mean`, `stddev`, `addLagSum`), `min`/`max`,
    * quantiles, `collect_list` (`addWindows`), running frames
    * (`addSummaryColumns`) — stays on WindowExec's O(w) re-aggregating
    * frame; a summarizer mixing both kinds keeps all of it on WindowExec. */
  def summarizeWindows(df: DataFrame, window: TimeWindow, s: Summarizer,
                       key: Seq[String] = Seq.empty,
                       tieBreak: Seq[String] = Seq.empty): DataFrame = {
    GraftStrategies.ensureRegistered(df.sparkSession)
    val outs = s.namedOutputs(Some(spec(window, key, tieBreak)))
    df.withColumns(ListMap(outs: _*))
  }

  /** For each row, append the window's rows as array<struct> column
    * `window_<name>` (≙ addWindows; README.md:169-188 naming). */
  def addWindows(df: DataFrame, window: TimeWindow,
                 key: Seq[String] = Seq.empty,
                 tieBreak: Seq[String] = Seq.empty): DataFrame = {
    val rowsCol = F.collect_list(F.struct(df.columns.map(F.col).toSeq: _*))
      .over(spec(window, key, tieBreak))
    df.withColumn(s"window_${window.name}", rowsCol)
  }

  /** Overlappable lag-window sum (≙ the reference's LagSumSummarizer,
    * rdd/function/summarize/summarizer/overlappable/LagSumSummarizer.scala:20-47
    * — a private overlappable summarizer splitting a window's rows into a
    * core sum and an overlap-flagged lagSum): for each row, appends
    * `<col>_sum` = Σ col over the core window [t−window, t] and
    * `<col>_lagSum` = Σ col over the preceding overlap band
    * [t−window−lag, t−window). The reference computes the split through
    * its overlappable-iterator machinery; here the two bands are two range
    * frames sharing ONE partition + sort, which Catalyst evaluates in a
    * single Window exec — one hash exchange total, each frame swept with a
    * moving lower bound. */
  def addLagSum(df: DataFrame, col: String, window: String, lag: String,
                key: Seq[String] = Seq.empty): DataFrame = {
    val w = TimeSeriesOps.parseDuration(window)
    val l = TimeSeriesOps.parseDuration(lag)
    require(w >= 0L && l > 0L, "window must be >= 0 and lag > 0")
    val core = Window.partitionBy(key.map(F.col): _*)
      .orderBy(F.col(TimeColumn)).rangeBetween(-w, 0L)
    // closed integer bounds: [t-w-l, t-w-1] is exactly the half-open
    // overlap band [t-w-l, t-w) on long-nanos times
    val band = Window.partitionBy(key.map(F.col): _*)
      .orderBy(F.col(TimeColumn)).rangeBetween(-w - l, -w - 1L)
    // the reference state is Double with zero() = (0.0, 0.0): cast the
    // input once and coalesce empty frames to 0.0, never null
    val x = F.col(col).cast("double")
    df.withColumn(s"${col}_sum",
        F.coalesce(F.sum(x).over(core), F.lit(0.0)))
      .withColumn(s"${col}_lagSum",
        F.coalesce(F.sum(x).over(band), F.lit(0.0)))
  }

  /** Running (cumulative) aggregate appended per row (≙ addSummaryColumns,
    * Summarizations.scala:25-50), in `s.names` order. Ties on time are
    * resolved by `tieBreak` columns if given (the reference uses physical
    * row order, which a declarative plan cannot reference). */
  def addSummaryColumns(df: DataFrame, s: Summarizer, key: Seq[String] = Seq.empty,
                        tieBreak: Seq[String] = Seq.empty): DataFrame = {
    val ord = (TimeColumn +: tieBreak).map(F.col)
    val w = Window.partitionBy(key.map(F.col): _*).orderBy(ord: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val outs = s.namedOutputs(Some(w))
    df.withColumns(ListMap(outs: _*))
  }
}
