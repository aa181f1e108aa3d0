package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.types.LongType
import graft.ts._

/**
 * Registered queries for the source/ingest/row-transform operators that
 * previously had no correctness row: CSV round-trip, pruned parquet reads,
 * seeded clocks, the test-data generator, row-closure transforms, and the
 * repartition/coalesce/validate layout pipeline.
 */
object QueriesSources {
  import QueriesCore.{events, withValue100, T0, DAY, HOUR}

  /** Paths awaiting cleanup, drained by ONE JVM-wide shutdown hook — a
    * hook-per-call would accumulate a thread per query invocation over a
    * long-lived session (each bench/verify pass calls scratchDir). */
  private val scratchPaths =
    new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()
  Runtime.getRuntime.addShutdownHook(new Thread(() => {
    var p = scratchPaths.poll()
    while (p != null) {
      try org.apache.commons.io.FileUtils.deleteDirectory(p.toFile)
      catch { case _: Throwable => () }
      p = scratchPaths.poll()
    }
  }))

  /** Fresh scratch directory, removed at JVM exit — unique per call so
    * concurrent harness runs never clobber each other, and never left
    * behind in /tmp (the queries read it lazily, so deletion must wait
    * for shutdown, after the harness has materialized every result). */
  private def scratchDir(prefix: String): String = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    scratchPaths.add(p)
    p.toString
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // CSV.from: write the canonized events back out as CSV, read through
    // fromCSV (header + schema inference + canonize + re-sort), and emit.
    "csv_roundtrip" -> ((s, dir) => {
      val tmp = scratchDir("graft_csv_")
      events(s, dir).select("time", "event_id", "user_id", "value")
        .write.mode("overwrite").option("header", "true").csv(tmp)
      // inference picks the narrowest integer type; cast ids back to long
      // (also exercises castColumns on the read path)
      TimeSeriesOps.castColumns(Sources.fromCSV(s, tmp, header = true),
        "event_id" -> LongType, "user_id" -> LongType)
        .orderBy("time", "event_id")
    }),
    // JSONL roundtrip: the documents corpus written as JSON-lines (the
    // dominant LLM-corpus interchange format) and read back with an
    // explicit schema (single-pass — no inference sampling scan).
    "jsonl_roundtrip" -> ((s, dir) => {
      val tmp = scratchDir("graft_jsonl_")
      val d = InputTables.read(s, dir, "documents")
        .select("doc_id", "source", "text")
      d.write.mode("overwrite").json(tmp)
      Sources.fromJsonl(s, tmp, Some(d.schema))
        .select("doc_id", "source", "text").orderBy("doc_id")
    }),
    // fromParquet with column list + [begin, end) time range: projection
    // and range filter reach the scan (asserted in PlanShapeSpec); the
    // fixed events schema spares the inference job.
    "from_parquet_pruned" -> ((s, dir) => {
      Sources.fromParquet(s, s"$dir/events.parquet",
        columns = Seq("event_id", "value"),
        beginNanos = Some(T0 + 5 * DAY), endNanos = Some(T0 + 15 * DAY),
        timeCol = "ts", schema = Some(InputTables.schemas("events")))
        .withColumn(TimeSeriesOps.TimeColumn, F.expr("time div 1000 * 1000"))
        .orderBy("time", "event_id")
    }),
    "clock_random" -> ((s, _) =>
      Sources.randomClock(s, T0, T0 + 30 * DAY, "1d", seed = 7L)
        .orderBy("time")),
    "ts_generator" -> ((s, _) =>
      Sources.timeSeries(s, T0, T0 + 9 * HOUR, "1h",
        ids = Seq(1, 2, 3), valueColumns = Seq("v1", "v2"), seed = 5L)
        .orderBy("time", "id")),
    // addColumns (expr) + addRowColumn (Row closure) + keepRows/deleteRows
    // (Row-closure filters) chained over events.
    "add_columns_keep_rows" -> ((s, dir) => {
      val ev = withValue100(events(s, dir))
        .select("time", "event_id", "user_id", "value100")
      val added = TimeSeriesOps.addColumns(ev, "v2" -> (F.col("value100") * 2))
      val withMod = TimeSeriesOps.addRowColumn(added, "uid_mod", LongType,
        r => r.getLong(r.fieldIndex("user_id")) % 10)
      val kept = TimeSeriesOps.keepRows(withMod,
        r => r.getLong(r.fieldIndex("uid_mod")) < 5)
      TimeSeriesOps.deleteRows(kept,
        r => r.getLong(r.fieldIndex("uid_mod")) == 0)
        .orderBy("time", "event_id")
    }),
    // Time-partitioned store round-trip: write events into time_bucket=N
    // directories (7d buckets), read back a [5d, 15d) range — the bucket
    // filter prunes whole directories (asserted in PlanShapeSpec), the
    // exact row filter trims the edges.
    "time_partitioned_roundtrip" -> ((s, dir) => {
      val tmp = scratchDir("graft_tp_")
      Sources.writeTimePartitioned(
        events(s, dir).select("time", "event_id", "user_id"),
        tmp, granularity = "7d", mode = "overwrite")
      Sources.fromTimePartitioned(s, tmp, granularity = "7d",
        beginNanos = Some(T0 + 5 * DAY), endNanos = Some(T0 + 15 * DAY))
        .orderBy("time", "event_id")
    }),
    // orderByTime(n) (range repartition = the fromDF ingest-sort path),
    // coalesce, then validate() asserts the layout invariants hold.
    "repartition_validate" -> ((s, dir) => {
      val df = TimeSeriesOps.orderByTime(
        events(s, dir).select("time", "event_id"), 8)
      val c = TimeSeriesOps.coalesce(df, 3)
      TimeSeriesOps.validate(c)
      c.orderBy("time", "event_id")
    })
  )

  val oracleSql: Map[String, String] = Map(
    "csv_roundtrip" ->
      """SELECT epoch_ns(ts) AS time, event_id, user_id, value FROM events
         ORDER BY time, event_id""",
    "jsonl_roundtrip" ->
      """SELECT doc_id, source, text FROM documents ORDER BY doc_id""",
    "from_parquet_pruned" ->
      s"""SELECT epoch_ns(ts) AS time, event_id, value FROM events
          WHERE epoch_ns(ts) >= ${T0 + 5 * DAY} AND epoch_ns(ts) < ${T0 + 15 * DAY}
          ORDER BY time, event_id""",
    // Mirrors Sources.randomClock's avalanche-mixed jitter (two 32-bit
    // xorshift-multiply mixes -> 63-bit value mod step); every intermediate
    // is bounded below 2^59, so BIGINT arithmetic is exact on both engines.
    "clock_random" ->
      s"""SELECT t AS time FROM (
            SELECT gs,
              (gs + 7) % 4294967296 AS a0,
              xor(a0, a0 >> 16) * 73244475 % 4294967296 AS a1,
              xor(a1, a1 >> 16) * 73244475 % 4294967296 AS a2,
              xor(a2, a2 >> 16) AS h1,
              (gs + 7 + 2654435761) % 4294967296 AS b0,
              xor(b0, b0 >> 16) * 73244475 % 4294967296 AS b1,
              xor(b1, b1 >> 16) * 73244475 % 4294967296 AS b2,
              xor(b2, b2 >> 16) AS h2,
              $T0 + gs * $DAY +
                ((h1 % 2147483648) * 4294967296 + h2) % $DAY AS t
            FROM generate_series(0, 30) s(gs))
          WHERE t <= ${T0 + 30 * DAY} ORDER BY time""",
    "ts_generator" ->
      s"""SELECT $T0 + gs * $HOUR AS time, id,
            ((gs * 131 + id * 7 + 5 + 0) % 1000000) * 2654435761 % 1000000 / 1000000.0 AS v1,
            ((gs * 131 + id * 7 + 5 + 1) % 1000000) * 2654435761 % 1000000 / 1000000.0 AS v2
          FROM generate_series(0, 9) s(gs), (VALUES (1), (2), (3)) i(id)
          ORDER BY time, id""",
    "add_columns_keep_rows" ->
      """SELECT epoch_ns(ts) AS time, event_id, user_id,
           CAST(round(value * 100, 0) AS BIGINT) AS value100,
           CAST(round(value * 100, 0) AS BIGINT) * 2 AS v2,
           user_id % 10 AS uid_mod
         FROM events WHERE user_id % 10 BETWEEN 1 AND 4
         ORDER BY time, event_id""",
    "repartition_validate" ->
      "SELECT epoch_ns(ts) AS time, event_id FROM events ORDER BY time, event_id",
    "time_partitioned_roundtrip" ->
      s"""SELECT epoch_ns(ts) AS time, event_id, user_id FROM events
          WHERE epoch_ns(ts) >= ${T0 + 5 * DAY} AND epoch_ns(ts) < ${T0 + 15 * DAY}
          ORDER BY time, event_id"""
  )
}
