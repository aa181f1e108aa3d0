package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.{functions => F}
import graft.ts._

/**
 * Correctness/bench queries for the core time-series operator surface, with
 * bit-exact DuckDB oracle SQL. Conventions that make hash-compare work:
 *  - time values are long nanos on both sides (`epoch_ns` in DuckDB);
 *  - float outputs are either exact (sums of integral-valued doubles,
 *    fixed-shape arithmetic on exact sums) or rounded where a libm function
 *    (exp/ln/pow) is involved;
 *  - every query ends with a deterministic ORDER BY mirrored in the SQL;
 *  - aggregate/computed columns carry identical aliases on both sides.
 */
object QueriesCore {

  // 2024-01-01T00:00:00Z in nanos; the events table spans 2024-01-01..01-31.
  val T0 = 1704067200000000000L
  val DAY = 86400000000000L
  val HOUR = 3600000000000L

  /** events.parquet canonized: time(long nanos), event_id, user_id,
    * event_type, value, props. Needs nanosAsLong for the ns timestamp.
    * Time is truncated to µs resolution: DuckDB's parquet reader (the
    * correctness oracle) truncates ns timestamps to µs, so full-ns values
    * could never hash-match. The engine itself keeps full nanos. */
  def events(s: SparkSession, dir: String): DataFrame = {
    try s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    catch { case _: Throwable => }
    TimeSeriesOps.canonize(InputTables.read(s, dir, "events"), "ts")
      .withColumn(TimeSeriesOps.TimeColumn, F.expr("time div 1000 * 1000"))
  }

  def lineitem(s: SparkSession, dir: String): DataFrame =
    InputTables.read(s, dir, "lineitem")

  /** `value` has two decimals; value100 = round(value*100) is integral, so
    * its sums are order-independent exact doubles on both engines. */
  def withValue100(df: DataFrame): DataFrame =
    df.withColumn("value100", F.round(F.col("value") * 100, 0).cast("long"))

  val evSqlBase =
    "SELECT epoch_ns(ts) AS time, event_id, user_id, event_type, value FROM events"

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "between" -> ((s, dir) => {
      val df = TimeSeriesOps.between(events(s, dir), T0 + 5 * DAY, T0 + 15 * DAY)
      df.select("time", "event_id", "user_id", "value").orderBy("time", "event_id")
    }),
    "keep_columns" -> ((s, dir) =>
      TimeSeriesOps.keepColumns(events(s, dir), "event_id", "value")
        .orderBy("time", "event_id")),
    "delete_columns" -> ((s, dir) =>
      TimeSeriesOps.deleteColumns(events(s, dir), "props", "event_type")
        .orderBy("time", "event_id")),
    "rename_columns" -> ((s, dir) =>
      TimeSeriesOps.renameColumns(
        events(s, dir).select("time", "event_id", "user_id", "value"),
        "value" -> "v", "user_id" -> "uid")
        .orderBy("time", "event_id")),
    "cast_columns" -> ((s, dir) =>
      TimeSeriesOps.castColumns(
        events(s, dir).select("time", "event_id", "user_id"),
        "user_id" -> org.apache.spark.sql.types.DoubleType,
        "event_id" -> org.apache.spark.sql.types.IntegerType)
        .orderBy("time", "event_id")),
    "shift" -> ((s, dir) =>
      TimeSeriesOps.shift(events(s, dir).select("time", "event_id"), "1h")
        .orderBy("time", "event_id")),
    "set_time" -> ((s, dir) =>
      TimeSeriesOps.setTime(
        events(s, dir).select("time", "event_id", "value"),
        F.col("time") - F.pmod(F.col("time") - T0, F.lit(DAY)))
        .orderBy("time", "event_id")),
    "merge" -> ((s, dir) => {
      val ev = events(s, dir).select("time", "event_id", "event_type")
      val l = ev.filter(F.col("event_type").isin("click", "view"))
      val r = ev.filter(!F.col("event_type").isin("click", "view"))
      TimeSeriesOps.merge(l, r).orderBy("time", "event_id")
    }),
    "clock_uniform" -> ((s, _) =>
      TimeSeriesOps.uniformClock(s, T0, T0 + 30 * DAY, "1d").orderBy("time")),
    "left_join_asof" -> ((s, dir) => {
      val ev = events(s, dir)
      val l = ev.filter(F.col("event_type") === "click")
        .select("time", "event_id", "user_id")
      val r = withValue100(ev.filter(F.col("event_type") === "purchase"))
        .select(F.col("time"), F.col("user_id"), F.col("value100").as("p_value100"),
          F.col("time").as("p_time"))
      AsOfJoin.leftJoin(l, r, tolerance = "3d", key = Seq("user_id"))
        .orderBy("time", "event_id")
    }),
    "future_left_join_asof" -> ((s, dir) => {
      val ev = events(s, dir)
      val l = ev.filter(F.col("event_type") === "click")
        .select("time", "event_id", "user_id")
      val r = ev.filter(F.col("event_type") === "error")
        .select(F.col("time"), F.col("user_id"), F.col("event_id").as("err_id"),
          F.col("time").as("err_time"))
      AsOfJoin.futureLeftJoin(l, r, tolerance = "6h", key = Seq("user_id"),
        strictLookahead = true)
        .orderBy("time", "event_id")
    }),
    // Same query as left_join_asof through the leftJoinMerge alias; both
    // rows run on the same merge operator.
    "left_join_asof_merge" -> ((s, dir) => {
      val ev = events(s, dir)
      val l = ev.filter(F.col("event_type") === "click")
        .select("time", "event_id", "user_id")
      val r = withValue100(ev.filter(F.col("event_type") === "purchase"))
        .select(F.col("time"), F.col("user_id"), F.col("value100").as("p_value100"),
          F.col("time").as("p_time"))
      AsOfJoin.leftJoinMerge(l, r, tolerance = "3d", key = Seq("user_id"))
        .orderBy("time", "event_id")
    }),
    "symmetric_join_asof" -> ((s, dir) => {
      val ev = events(s, dir)
      val l = ev.filter(F.col("event_type") === "click")
        .select(F.col("time"), F.col("user_id"), F.col("event_id").as("click_id"))
      val r = withValue100(ev.filter(F.col("event_type") === "purchase"))
        .select(F.col("time"), F.col("user_id"), F.col("value100").as("p_value100"))
      AsOfJoin.symmetricJoin(l, r, tolerance = "1d", key = Seq("user_id"))
        .orderBy("time", "side", "user_id")
    }),
    // binned scale path: two binned merge passes, identical results
    "symmetric_join_asof_binned" -> ((s, dir) => {
      val ev = events(s, dir)
      val l = ev.filter(F.col("event_type") === "click")
        .select(F.col("time"), F.col("user_id"), F.col("event_id").as("click_id"))
      val r = withValue100(ev.filter(F.col("event_type") === "purchase"))
        .select(F.col("time"), F.col("user_id"), F.col("value100").as("p_value100"))
      AsOfJoin.symmetricJoin(l, r, tolerance = "1d", key = Seq("user_id"),
        binned = true)
        .orderBy("time", "side", "user_id")
    }),
    // Keyless global as-of join on the binned scale path: parallelism
    // |bins| instead of one partition.
    "left_join_asof_binned" -> ((s, dir) => {
      val ev = events(s, dir)
      val l = ev.filter(F.col("event_type") === "click")
        .select("time", "event_id")
      val r = withValue100(ev.filter(F.col("event_type") === "purchase"))
        .select(F.col("time"), F.col("value100").as("p_value100"),
          F.col("time").as("p_time"))
      AsOfJoin.leftJoin(l, r, tolerance = "6h", binned = true)
        .orderBy("time", "event_id")
    }),
    // skew stress: ~half of all rows collapse onto ONE key (user_id
    // parity), the rest spread over 50 — the binned path must keep
    // |keys| x |bins| parallelism instead of serializing the hot key
    "skew_left_join_asof_binned" -> ((s, dir) => {
      val ev = events(s, dir)
      def skew = F.when(F.col("user_id") % 2 === 0, 0L)
        .otherwise(F.col("user_id") % 50 + 1)
      val l = ev.filter(F.col("event_type") === "click")
        .select(F.col("time"), F.col("event_id"), skew.as("skew_key"))
      val r = withValue100(ev.filter(F.col("event_type") === "purchase"))
        .select(F.col("time"), skew.as("skew_key"),
          F.col("value100").as("p_value100"), F.col("time").as("p_time"))
      AsOfJoin.leftJoin(l, r, tolerance = "6h", key = Seq("skew_key"),
        binned = true)
        .orderBy("time", "event_id")
    }),
    "read_builder" -> ((s, dir) => {
      try s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      catch { case _: Throwable => }
      // Narrow range + expand slack = the oracle's [T0+10d, T0+20d): the
      // expand path is load-bearing — if expand() were a no-op this query
      // would return only [T0+11d, T0+19d) and hash-mismatch.
      Sources.read(s)
        .columns("event_id", "user_id")
        .range(T0 + 11 * DAY, T0 + 19 * DAY)
        .expand("1d", "1d")
        .time("ts")
        .parquet(s"$dir/events.parquet")
        .withColumn(TimeSeriesOps.TimeColumn, F.expr("time div 1000 * 1000"))
        .orderBy("time", "event_id")
    })
  )

  val oracleSql: Map[String, String] = Map(
    "between" ->
      s"""SELECT epoch_ns(ts) AS time, event_id, user_id, value FROM events
          WHERE epoch_ns(ts) >= ${T0 + 5 * DAY} AND epoch_ns(ts) < ${T0 + 15 * DAY}
          ORDER BY time, event_id""",
    "keep_columns" ->
      "SELECT epoch_ns(ts) AS time, event_id, value FROM events ORDER BY time, event_id",
    "delete_columns" ->
      "SELECT epoch_ns(ts) AS time, event_id, user_id, value FROM events ORDER BY time, event_id",
    "rename_columns" ->
      "SELECT epoch_ns(ts) AS time, event_id, user_id AS uid, value AS v FROM events ORDER BY time, event_id",
    "cast_columns" ->
      """SELECT epoch_ns(ts) AS time, CAST(event_id AS INTEGER) AS event_id,
         CAST(user_id AS DOUBLE) AS user_id FROM events ORDER BY time, event_id""",
    "shift" ->
      s"SELECT epoch_ns(ts) + $HOUR AS time, event_id FROM events ORDER BY time, event_id",
    "set_time" ->
      s"""SELECT epoch_ns(ts) - (epoch_ns(ts) - $T0) % $DAY AS time, event_id, value
          FROM events ORDER BY time, event_id""",
    "merge" ->
      "SELECT epoch_ns(ts) AS time, event_id, event_type FROM events ORDER BY time, event_id",
    "clock_uniform" ->
      s"SELECT $T0 + $DAY * gs AS time FROM generate_series(0, 30) t(gs) ORDER BY time",
    "left_join_asof" ->
      s"""WITH l AS (SELECT epoch_ns(ts) AS time, event_id, user_id FROM events WHERE event_type = 'click'),
          r AS (SELECT epoch_ns(ts) AS time, user_id,
                 CAST(round(value * 100, 0) AS BIGINT) AS p_value100,
                 epoch_ns(ts) AS p_time
                FROM events WHERE event_type = 'purchase')
          SELECT l.time, l.event_id, l.user_id,
            CASE WHEN r.time >= l.time - ${3 * DAY} THEN r.p_value100 END AS p_value100,
            CASE WHEN r.time >= l.time - ${3 * DAY} THEN r.p_time END AS p_time
          FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND r.time <= l.time
          ORDER BY l.time, l.event_id""",
    "future_left_join_asof" ->
      s"""WITH l AS (SELECT epoch_ns(ts) AS time, event_id, user_id FROM events WHERE event_type = 'click'),
          r AS (SELECT epoch_ns(ts) AS time, user_id, event_id AS err_id,
                 epoch_ns(ts) AS err_time
                FROM events WHERE event_type = 'error')
          SELECT l.time, l.event_id, l.user_id,
            CASE WHEN r.time <= l.time + ${6 * HOUR} THEN r.err_id END AS err_id,
            CASE WHEN r.time <= l.time + ${6 * HOUR} THEN r.err_time END AS err_time
          FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND r.time > l.time
          ORDER BY l.time, l.event_id""",
    "left_join_asof_merge" ->
      s"""WITH l AS (SELECT epoch_ns(ts) AS time, event_id, user_id FROM events WHERE event_type = 'click'),
          r AS (SELECT epoch_ns(ts) AS time, user_id,
                 CAST(round(value * 100, 0) AS BIGINT) AS p_value100,
                 epoch_ns(ts) AS p_time
                FROM events WHERE event_type = 'purchase')
          SELECT l.time, l.event_id, l.user_id,
            CASE WHEN r.time >= l.time - ${3 * DAY} THEN r.p_value100 END AS p_value100,
            CASE WHEN r.time >= l.time - ${3 * DAY} THEN r.p_time END AS p_time
          FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND r.time <= l.time
          ORDER BY l.time, l.event_id""",
    "symmetric_join_asof" ->
      s"""WITH l AS (SELECT epoch_ns(ts) AS time, user_id, event_id AS click_id
                 FROM events WHERE event_type = 'click'),
          r AS (SELECT epoch_ns(ts) AS time, user_id,
                 CAST(round(value * 100, 0) AS BIGINT) AS p_value100
                FROM events WHERE event_type = 'purchase')
          SELECT l.time, l.user_id, l.click_id,
            CASE WHEN r.time >= l.time - ${1 * DAY} THEN r.p_value100 END AS p_value100,
            'left' AS side
          FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND r.time <= l.time
          UNION ALL
          SELECT r.time, r.user_id,
            CASE WHEN l.time >= r.time - ${1 * DAY} THEN l.click_id END AS click_id,
            r.p_value100, 'right' AS side
          FROM r ASOF LEFT JOIN l ON r.user_id = l.user_id AND l.time <= r.time
          ORDER BY time, side, user_id""",
"symmetric_join_asof_binned" ->
      s"""WITH l AS (SELECT epoch_ns(ts) AS time, user_id, event_id AS click_id
                 FROM events WHERE event_type = 'click'),
          r AS (SELECT epoch_ns(ts) AS time, user_id,
                 CAST(round(value * 100, 0) AS BIGINT) AS p_value100
                FROM events WHERE event_type = 'purchase')
          SELECT l.time, l.user_id, l.click_id,
            CASE WHEN r.time >= l.time - ${1 * DAY} THEN r.p_value100 END AS p_value100,
            'left' AS side
          FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND r.time <= l.time
          UNION ALL
          SELECT r.time, r.user_id,
            CASE WHEN l.time >= r.time - ${1 * DAY} THEN l.click_id END AS click_id,
            r.p_value100, 'right' AS side
          FROM r ASOF LEFT JOIN l ON r.user_id = l.user_id AND l.time <= r.time
          ORDER BY time, side, user_id""",
    "left_join_asof_binned" ->
      s"""WITH l AS (SELECT epoch_ns(ts) AS time, event_id FROM events WHERE event_type = 'click'),
          r AS (SELECT epoch_ns(ts) AS time,
                 CAST(round(value * 100, 0) AS BIGINT) AS p_value100,
                 epoch_ns(ts) AS p_time
                FROM events WHERE event_type = 'purchase')
          SELECT l.time, l.event_id,
            CASE WHEN r.time >= l.time - ${6 * HOUR} THEN r.p_value100 END AS p_value100,
            CASE WHEN r.time >= l.time - ${6 * HOUR} THEN r.p_time END AS p_time
          FROM l ASOF LEFT JOIN r ON r.time <= l.time
          ORDER BY l.time, l.event_id""",
    "skew_left_join_asof_binned" ->
      s"""WITH l AS (SELECT epoch_ns(ts) AS time, event_id,
                 CASE WHEN user_id % 2 = 0 THEN 0 ELSE user_id % 50 + 1 END AS skew_key
                FROM events WHERE event_type = 'click'),
          r AS (SELECT epoch_ns(ts) AS time,
                 CASE WHEN user_id % 2 = 0 THEN 0 ELSE user_id % 50 + 1 END AS skew_key,
                 CAST(round(value * 100, 0) AS BIGINT) AS p_value100,
                 epoch_ns(ts) AS p_time
                FROM events WHERE event_type = 'purchase')
          SELECT l.time, l.event_id, l.skew_key,
            CASE WHEN r.time >= l.time - ${6 * HOUR} THEN r.p_value100 END AS p_value100,
            CASE WHEN r.time >= l.time - ${6 * HOUR} THEN r.p_time END AS p_time
          FROM l ASOF LEFT JOIN r ON l.skew_key = r.skew_key AND r.time <= l.time
          ORDER BY l.time, l.event_id""",
    "read_builder" ->
      s"""SELECT epoch_ns(ts) AS time, event_id, user_id FROM events
          WHERE epoch_ns(ts) >= ${T0 + 10 * DAY} AND epoch_ns(ts) < ${T0 + 20 * DAY}
          ORDER BY time, event_id"""
  )
}
