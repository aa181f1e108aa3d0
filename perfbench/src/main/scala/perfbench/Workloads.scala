package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}
import org.apache.spark.sql.expressions.Window
import graft.{QueriesCore, SparkEntry}
import graft.ts.{AsOfJoin, Sources, Summarizers, WindowOps}

/** A timed query: its registry-style body, the layer whose public API it
  * drives, and the registry row whose oracle SQL checks its output. */
final case class Query(name: String, layer: String, oracle: String,
                       fn: (SparkSession, String) => DataFrame)

/** The query list of each workload, cut to what fits the run budget. On a
  * 4-core host each registry query costs 0.3-0.7 s of fixed planning and
  * scheduling work even on tiny inputs, and its first two runs 1-3 s more,
  * so a workload holds five to eight queries for a run (set-up, the timed
  * passes and the output check) to end in under a minute.
  * perfbench/README.md lists what was left out. */
object Workloads {
  private def registry(layer: String, names: String*): Seq[Query] = {
    val all = SparkEntry.queries
    names.map(n => Query(n, layer, n, all(n)))
  }

  /** The compute operators over parquet read directly. The flint core: as-of
    * joins (hash and merge), windowed and interval summaries, EMA; and the
    * training-data operators: MinHash-LSH dedup, which runs eager jobs while
    * it builds, the bigram LM with its single-task stage, and a
    * per-document text filter. */
  val core: Seq[Query] = registry("ts",
    "left_join_asof", "left_join_asof_merge", "summarize_windows_past",
    "summarize_intervals_bb", "ema_ewma_core") ++ registry("llm",
    "dedup_minhash_lsh", "doc_bigram_lp", "c4_clean")

  /** Readers and writers: JSONL, the time-partitioned store and a pruned
    * parquet read; plus two ts queries whose input is first written to and
    * read back from the time-partitioned store, so a change to stored order
    * shows here and not on `core`. */
  def store(scratch: String): Seq[Query] = registry("sources",
    "jsonl_roundtrip", "time_partitioned_roundtrip", "from_parquet_pruned") ++ Seq(
    Query("stored_left_join_asof_merge", "sources", "left_join_asof_merge",
      (s, dir) => {
        val ev = stored(s, dir, s"$scratch/stored_ljm")
        val l = ev.filter(F.col("event_type") === "click")
          .select("time", "event_id", "user_id")
        val r = QueriesCore.withValue100(ev.filter(F.col("event_type") === "purchase"))
          .select(F.col("time"), F.col("user_id"),
            F.col("value100").as("p_value100"), F.col("time").as("p_time"))
        AsOfJoin.leftJoinMerge(l, r, tolerance = "3d", key = Seq("user_id"))
          .orderBy("time", "event_id")
      }),
    Query("stored_summarize_windows_past", "sources", "summarize_windows_past",
      (s, dir) => {
        val ev = QueriesCore.withValue100(stored(s, dir, s"$scratch/stored_swp"))
          .select("time", "event_id", "user_id", "value100")
        WindowOps.summarizeWindows(ev, WindowOps.pastAbsoluteTime("1d"),
          Summarizers.count() ++ Summarizers.sum("value100"), Seq("user_id"))
          .select("time", "event_id", "user_id", "count", "value100_sum")
          .orderBy("time", "event_id")
      }))

  /** The canonized events written to a weekly time-partitioned store and
    * read back whole: the write runs eagerly, inside the query's build. */
  private def stored(s: SparkSession, dir: String, path: String): DataFrame = {
    Sources.writeTimePartitioned(QueriesCore.events(s, dir), path,
      granularity = "7d", mode = "overwrite")
    Sources.fromTimePartitioned(s, path)
  }

  /** Plain Spark over the same events, with no graft code: a window and an
    * aggregate-join of the same tiny, overhead-bound shape as the workload
    * queries. Timed between the workload's queries as the yardstick the
    * end-to-end times are divided by, since this host's speed swings up to
    * 2x within minutes. A pure-CPU job varied less but did not track those
    * swings. */
  val reference: Seq[Query] = Seq(
    Query("reference_window", "spark", "", (s, dir) => {
      val ev = s.read.parquet(s"$dir/events.parquet")
      ev.withColumn("prev", F.lag("value", 1)
          .over(Window.partitionBy("user_id").orderBy("ts", "event_id")))
        .orderBy("ts", "event_id")
    }),
    Query("reference_join", "spark", "", (s, dir) => {
      val ev = s.read.parquet(s"$dir/events.parquet")
      ev.groupBy("user_id").agg(F.sum("value").as("total"), F.max("ts").as("last"))
        .join(ev.groupBy("user_id", "event_type").count(), "user_id")
        .orderBy("user_id", "event_type")
    }))

  def apply(name: String, scratch: String): Seq[Query] = name match {
    case "core"  => core
    case "store" => store(scratch)
    case other    => throw new IllegalArgumentException(s"unknown workload $other")
  }
}
