package graft.ts

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.{functions => F}

/**
 * Whole-table and per-cycle aggregation modes
 * (≙ TimeSeriesRDD.summarize/summarizeCycles/groupByCycle/addColumnsForCycle,
 * /root/reference/src/main/scala/com/twosigma/flint/timeseries/TimeSeriesRDD.scala:1186,1086,862,832).
 *
 * All modes are plain `groupBy(...).agg(...)` — Spark's hash/sort aggregate
 * with map-side partial aggregation replaces the reference's hand-written
 * per-partition fold + depth-2 tree reduce (Summarize.scala:90-122,
 * TreeReduce.scala:36); the partial/final split is the same algorithm.
 */
object Summarize {
  import TimeSeriesOps.TimeColumn

  /** Whole-table aggregate per key. Output schema: (time = 0, key..., aggs...)
    * — the reference stamps summarize() results with time 0
    * (TimeSeriesRDD.scala:1774). */
  def summarize(df: DataFrame, s: Summarizer, key: Seq[String] = Seq.empty): DataFrame = {
    val named = s.namedOutputs
    val aggs = named.map { case (n, c) => c.as(n) }
    val g = df.groupBy(key.map(F.col): _*).agg(aggs.head, aggs.tail: _*)
    // backtick-quote output names: they may contain dots (e.g. quantile 0.25)
    g.select((F.lit(0L).as(TimeColumn) +: key.map(F.col)) ++
      named.map { case (n, _) => F.col(s"`$n`") }: _*)
  }

  /** Expose a summarizer's raw algebraic state instead of its rendered
    * outputs (≙ TimeSeriesRDD.summarizeState, reference
    * TimeSeriesRDD.scala:1196): the distinct base aggregates the recipe
    * registers, as `state_0..state_k`. See [[Summarizers.stateOf]]. */
  def summarizeState(df: DataFrame, s: Summarizer,
                     key: Seq[String] = Seq.empty): DataFrame =
    summarize(df, Summarizers.stateOf(s), key)

  /** Aggregate rows sharing an identical timestamp ("cycle"), per key
    * (≙ summarizeCycles). Output: (time, key..., aggs...). */
  def summarizeCycles(df: DataFrame, s: Summarizer, key: Seq[String] = Seq.empty): DataFrame = {
    val aggs = s.outputs
    df.groupBy((TimeColumn +: key).map(F.col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Rows-per-cycle as an array<struct> column `rows` (≙ groupByCycle). */
  def groupByCycle(df: DataFrame, key: Seq[String] = Seq.empty): DataFrame =
    summarizeCycles(df, Summarizers.rows(df.columns.toSeq), key)

  /**
   * Per-cycle computed columns (≙ addColumnsForCycle, CycleColumn.scala:32-100):
   * each closure sees all rows of a (time, key...) cycle and returns one value
   * per row (by position). Closure path — not codegen; prefer window/cycle
   * summarizers when expressible.
   */
  def addColumnsForCycle(
      df: DataFrame,
      key: Seq[String],
      columns: (String, org.apache.spark.sql.types.DataType, Seq[Row] => Seq[Any])*): DataFrame = {
    val spark = df.sparkSession
    val inSchema = df.schema
    val outSchema = columns.foldLeft(inSchema) { case (sch, (n, t, _)) =>
      sch.add(n, t, nullable = true)
    }
    val keyCols = TimeColumn +: key
    val grouped = df.groupBy(keyCols.map(F.col): _*)
      .agg(F.collect_list(F.struct(df.columns.map(F.col).toSeq: _*)).as("__rows"))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    grouped.select(F.col("__rows")).flatMap { gr =>
      val rows = gr.getSeq[Row](0)
      val extras: Seq[Seq[Any]] = columns.map { case (_, _, f) =>
        val vs = f(rows)
        require(vs.length == rows.length,
          s"cycle column closure returned ${vs.length} values for ${rows.length} rows")
        vs
      }
      rows.zipWithIndex.map { case (r, i) =>
        Row.fromSeq(r.toSeq ++ extras.map(_(i)))
      }
    }(enc)
  }

  /**
   * Map-form of [[addColumnsForCycle]] (≙ CycleColumn's Map variant,
   * reference CycleColumn.scala:32-100): the closure returns a Map from
   * row to value; rows absent from the map get null. No registry row calls
   * it; it is kept as part of flint's API surface (SURVEY §2).
   */
  def addColumnsForCycleMap(
      df: DataFrame,
      key: Seq[String],
      columns: (String, org.apache.spark.sql.types.DataType, Seq[Row] => Map[Row, Any])*): DataFrame =
    addColumnsForCycle(df, key,
      columns.map { case (n, t, f) =>
        (n, t, (rows: Seq[Row]) => {
          val m = f(rows)
          rows.map(m.getOrElse(_, null))
        })
      }: _*)
}
