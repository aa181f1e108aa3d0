package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.{functions => F}
import graft.ts._
import org.apache.spark.sql.graft.GraftStrategies

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001: canonize the ns-timestamp
    * event stream, as-of join each click to the user's most recent purchase
    * within 3 days, then summarize per user. Driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val ev = QueriesCore.events(spark, dir)
    val l = ev.filter(F.col("event_type") === "click")
      .select("time", "event_id", "user_id")
    val r = QueriesCore.withValue100(ev.filter(F.col("event_type") === "purchase"))
      .select(F.col("time"), F.col("user_id"), F.col("value100").as("p_value100"))
    val joined = AsOfJoin.leftJoin(l, r, tolerance = "3d", key = Seq("user_id"))
    Summarize.summarize(joined,
      Summarizers.count() ++ Summarizers.sum("p_value100"), Seq("user_id"))
  }

  /** One entry per implemented operator from SURVEY.md §2. Each registers
    * graft's planner strategies on the session it is given before building
    * its DataFrame, so every row plans with them whatever ran first. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    (QueriesCore.queries ++ QueriesAgg.queries ++ QueriesWindows.queries ++
      QueriesLLM.queries ++ QueriesEma.queries ++ QueriesSources.queries)
      .map { case (name, q) => name -> { (spark: SparkSession, dir: String) =>
        GraftStrategies.ensureRegistered(spark)
        q(spark, dir)
      } }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    QueriesCore.oracleSql ++ QueriesAgg.oracleSql ++ QueriesWindows.oracleSql ++
      QueriesLLM.oracleSql ++ QueriesEma.oracleSql ++ QueriesSources.oracleSql
}
