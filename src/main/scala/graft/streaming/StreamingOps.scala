package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._
import org.apache.spark.sql.{functions => F}
import graft.ts.{Summarizer, TimeSeriesOps}

/**
 * Structured Streaming variants of the aggregation surface. The reference
 * is batch-only (SURVEY §2.8) — this is the post-parity capability the
 * engine adds, expressed purely on Spark's streaming primitives so the
 * SAME code runs on a batch frame or a `readStream` frame:
 *
 *  - [[summarizeTumbling]] / [[summarizeSliding]]: event-time windowed
 *    summarize with a watermark (`F.window` + groupBy — incremental
 *    stateful aggregation, late data dropped past the watermark).
 *  - [[summarizeSessions]]: gap-based session windows (`F.session_window`).
 *  - [[ewmaStateful]]: per-key running EWMA across micro-batches via
 *    `flatMapGroupsWithState` — the custom-state path for semantics the
 *    built-in windowed aggregates cannot express (order-dependent decay).
 *
 * Times: input keeps the canonical long-nanos `time` column; event-time
 * operators need a TimestampType column, derived here as `event_ts`
 * (micro truncation — Spark watermarks are microsecond-grained).
 */
/** Kryo-serialized per-key state of [[StreamingOps.leftJoinStream]]:
  * pending (un-finalized) lefts and the live right-row window, both as
  * (nanos, packed value struct), time-ascending. */
case class AsOfStreamState(lefts: List[(Long, Row)], rights: List[(Long, Row)])

object StreamingOps {
  import TimeSeriesOps.TimeColumn

  private val EventTs = "event_ts"

  /** Add the TimestampType event-time column streaming operators key on. */
  def withEventTime(df: DataFrame): DataFrame =
    df.withColumn(EventTs, TimeSeriesOps.nanosToTimestamp(F.col(TimeColumn)))

  /** Streaming sink side of the time-partitioned store: append each
    * micro-batch into the same `time_bucket=N` directory layout
    * `Sources.writeTimePartitioned` produces, so batch readers
    * (`Sources.fromTimePartitioned`) prune directories identically.
    * Exactly-once via the file sink's commit log under `checkpoint`.
    * Returns the started query (caller manages its lifecycle).
    *
    * A store is either batch-written or stream-written, never both: once
    * the sink's `_spark_metadata` log exists, readers treat it as the
    * source of truth and IGNORE unlogged files — so streaming into an
    * existing batch store would silently hide the batch rows (refused
    * here), and `writeTimePartitioned` refuses the reverse. */
  def writeTimePartitionedStream(df: DataFrame, path: String,
                                 granularity: String,
                                 checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery = {
    require(!df.columns.contains(graft.ts.Sources.BucketColumn),
      s"writeTimePartitionedStream: input already has a ${graft.ts.Sources.BucketColumn} column")
    require(
      graft.ts.Sources.hasStreamMetadata(df.sparkSession, path) ||
        !graft.ts.Sources.hasDataFiles(df.sparkSession, path),
      s"writeTimePartitionedStream: $path holds batch-written data — the " +
        "sink's commit log would hide those rows from every reader; " +
        "stream to a separate path")
    // same store-metadata contract as the batch writer: restarting the sink
    // with a different granularity or schema would mix bucket layouts or
    // schemas — refuse; and persist both so readers never have to guess
    val meta = graft.ts.Sources.storeMetaFor(df.sparkSession, path,
      "writeTimePartitionedStream", granularity, df.schema, replace = false)
    val q = df
      .withColumn(graft.ts.Sources.BucketColumn,
        graft.ts.Sources.floorDivTime(meta.granularityNanos))
      .writeStream.format("parquet")
      .partitionBy(graft.ts.Sources.BucketColumn)
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append)
      .start()
    // stamp the store only once start() has succeeded: an abandoned builder
    // or a failed start must not constrain the path's future granularity
    graft.ts.Sources.writeStoreMeta(df.sparkSession, path, meta)
    q
  }

  /** Event-time tumbling-window summarize with a watermark. Output columns:
    * window_start/window_end (long nanos), key..., aggregates. */
  def summarizeTumbling(df: DataFrame, s: Summarizer, windowDuration: String,
                        watermarkDelay: String,
                        key: Seq[String] = Seq.empty): DataFrame =
    windowed(df, s, F.window(F.col(EventTs), windowDuration), watermarkDelay, key)

  /** Sliding-window variant: one result row per (window, key) for every
    * `slideDuration` step. */
  def summarizeSliding(df: DataFrame, s: Summarizer, windowDuration: String,
                       slideDuration: String, watermarkDelay: String,
                       key: Seq[String] = Seq.empty): DataFrame =
    windowed(df, s, F.window(F.col(EventTs), windowDuration, slideDuration),
      watermarkDelay, key)

  /** Session windows: rows closer than `gapDuration` merge into one session. */
  def summarizeSessions(df: DataFrame, s: Summarizer, gapDuration: String,
                        watermarkDelay: String,
                        key: Seq[String] = Seq.empty): DataFrame =
    windowed(df, s, F.session_window(F.col(EventTs), gapDuration),
      watermarkDelay, key)

  /**
   * Streaming [[graft.ts.Intervals.summarizeIntervals]]: ARBITRARY-clock
   * interval bucketing (the tumbling/sliding/session trio covers uniform
   * clocks only) under the same inclusion×rounding matrix as batch. The
   * broadcast clock + codegen'd binary-search bucket expression are the
   * batch operator's own; state eviction comes from grouping on the
   * watermarked stamp, so each interval's row finalizes (append mode)
   * once the watermark passes its stamp.
   *
   * Watermark note: the delay is measured against interval STAMPS, not raw
   * event times. `rounding = "begin"` stamps at or before the event time,
   * so any `watermarkDelay` covering event lateness is safe;
   * `rounding = "end"` stamps up to one interval width ahead — add the
   * maximum interval width to the delay to keep the same lateness budget.
   *
   * Output `time` keeps the exact nanosecond tick (grouping carries the
   * long stamp alongside its micro-truncated event-time twin, so no
   * precision is lost to TimestampType).
   */
  def summarizeIntervalsStream(df: DataFrame, clock: Array[Long],
                               s: Summarizer, watermarkDelay: String,
                               key: Seq[String] = Seq.empty,
                               inclusion: String = "begin",
                               rounding: String = "end"): DataFrame = {
    val stamped = graft.ts.Intervals.intervalize(df, clock, inclusion, rounding)
    val withTs = stamped
      .withColumn(EventTs, TimeSeriesOps.nanosToTimestamp(F.col(TimeColumn)))
      .withWatermark(EventTs, watermarkDelay)
    val aggs = s.outputs
    withTs
      .groupBy(F.col(EventTs) +: F.col(TimeColumn) +: key.map(F.col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .select((F.col(TimeColumn) +: key.map(F.col)) ++
        s.names.map(n => F.col(s"`$n`")): _*)
  }

  private def windowed(df: DataFrame, s: Summarizer, windowCol: org.apache.spark.sql.Column,
                       watermarkDelay: String, key: Seq[String]): DataFrame = {
    val withTs = withEventTime(df).withWatermark(EventTs, watermarkDelay)
    val aggs = s.outputs
    withTs
      .groupBy(windowCol.as("__w") +: key.map(F.col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .select((F.unix_micros(F.col("__w.start")) * 1000L).as("window_start") +:
        (F.unix_micros(F.col("__w.end")) * 1000L).as("window_end") +:
        (key.map(F.col) ++ s.names.map(n => F.col(s"`$n`"))): _*)
  }

  /**
   * Streaming exact dedup: drops rows whose `keyCols` were already seen,
   * with state bounded by the watermark (`dropDuplicatesWithinWatermark` —
   * two duplicates are guaranteed deduped when they arrive within the
   * watermark delay of each other; state for older keys is evicted). The
   * streaming face of [[graft.llm.Dedup.exactDedup]] for ingest-time
   * filtering; run the batch dedup for exactness over unbounded history.
   */
  def dedupExactStream(df: DataFrame, keyCols: Seq[String],
                       watermarkDelay: String): DataFrame =
    withEventTime(df).withWatermark(EventTs, watermarkDelay)
      .dropDuplicatesWithinWatermark(keyCols)
      .drop(EventTs)

  /**
   * Within-stream NEAR-dedup — the firehose shape of
   * [[graft.llm.Dedup.minHashDedupPairs]]: every incoming document is
   * banded into its MinHash-LSH buckets; per (band, bucket) the state
   * keeps the MINIMUM id seen so far, and any arrival whose bucket
   * already holds a smaller id emits a violation row
   * `(doc_id, band, bucket)` — "this document near-collides with an
   * earlier one". Survivors = the input minus violated ids. The drop
   * decision is pure LSH candidacy (the aggressive ingest-time policy);
   * the batch pipeline's exact-Jaccard verify tier needs pair TEXTS,
   * which bounded per-bucket state deliberately does not keep.
   *
   * Equivalence contract (pinned by STREAMCHECK): under id-ascending
   * arrival (replay/backfill order) the violation multiset is EXACTLY
   * the batch rule `id > min(id) of the bucket`. Under arbitrary arrival
   * the stream is keep-first-by-arrival — still a deterministic function
   * of the arrival order.
   *
   * Scale shape: one long of state per LIVE (band, bucket) — bands ×
   * |distinct buckets touched|, orders below the corpus (production jobs
   * bound it further with a state timeout; the equivalence check runs
   * NoTimeout). Per micro-batch: one banding kernel scan + one keyed
   * state shuffle, the same execution shape as the batch pair miner's
   * single bucket exchange.
   */
  def nearDupViolationsStream(df: DataFrame, idCol: String, textCol: String,
                              numHashes: Int = 128, bands: Int = 16,
                              shingleSize: Int = 3): DataFrame = {
    require(bands >= 1 && bands <= numHashes && numHashes % bands == 0,
      s"bands must divide numHashes (got numHashes=$numHashes bands=$bands)")
    val spark = df.sparkSession
    import spark.implicits._
    val rowsPerBand = numHashes / bands
    val banded = df.select(
        F.col(idCol).cast("long").as("id"),
        F.explode(graft.llm.Dedup.lshBuckets(
          graft.llm.Dedup.minHashSignature(F.col(textCol), numHashes,
            shingleSize), bands, rowsPerBand)).as("bk"))
      .select(F.col("id"), F.col("bk.band").cast("int").as("band"),
        F.col("bk.bucket").cast("long").as("bucket"))
      .as[(Long, Int, Long)]
    banded.groupByKey { case (_, band, bucket) => (band, bucket) }
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (_: (Int, Long), rows: Iterator[(Long, Int, Long)],
         state: GroupState[Long]) => {
          var minId = state.getOption.getOrElse(Long.MaxValue)
          val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Long)]
          // id order within the batch: with id-ascending arrival this
          // makes stream == batch exactly; ids are unique per group (one
          // row per doc per band)
          rows.toSeq.sortBy(_._1).foreach { case (id, b, bk) =>
            if (minId < id) out += ((id, b, bk))
            else minId = id
          }
          if (minId != Long.MaxValue) state.update(minId)
          out.iterator
        })
      .toDF("doc_id", "band", "bucket")
  }

  /**
   * Production-shaped within-stream NEAR-dedup:
   * [[nearDupViolationsStream]] hardened for an unbounded firehose.
   * Three deltas from the exact-replay form:
   *
   *  - **Event-time state TTL**: each live (band, bucket) carries a
   *    timeout at `last-arrival + stateTtl`; once the watermark (from
   *    `timeCol` + `watermarkDelay`) passes it, the bucket's state is
   *    EVICTED. State is bounded by the live horizon, not all history —
   *    the trade is explicit: a duplicate arriving after its bucket went
   *    idle past the TTL is NOT flagged (it becomes the fresh keeper).
   *  - **Keep-FIRST-by-arrival under out-of-order ids**: an established
   *    keeper stays the keeper — later arrivals are violations even with
   *    SMALLER ids (the exact-replay form quietly adopts a later smaller
   *    id; an ingest pipeline has already accepted the first doc, so the
   *    later one must be the violation). Within one micro-batch the
   *    smallest id wins — intra-batch order is not observable, so the
   *    tiebreak must be content-deterministic.
   *  - **No per-batch group buffering**: one streaming pass with O(1)
   *    running state per group (the exact-replay form sorts each group
   *    in memory); only the emitted violations are materialized.
   *
   * Input rows must be within-watermark (the operator keys its TTL on
   * event time; feed a monotone-ish source or size `watermarkDelay` to
   * the disorder) — Spark's stateful late-row filter silently DROPS rows
   * at-or-before the current watermark, including the degenerate
   * epoch-0 timestamp against the initial watermark. STREAMCHECK pins
   * the horizon timeline and the out-of-order keeper contract against a
   * driver-side replay of the micro-batch semantics. Output:
   * (doc_id, band, bucket) violations.
   */
  def nearDupViolationsStreamTTL(df: DataFrame, idCol: String,
                                 textCol: String, timeCol: String,
                                 watermarkDelay: String, stateTtl: String,
                                 numHashes: Int = 128, bands: Int = 16,
                                 shingleSize: Int = 3): DataFrame = {
    require(bands >= 1 && bands <= numHashes && numHashes % bands == 0,
      s"bands must divide numHashes (got numHashes=$numHashes bands=$bands)")
    val spark = df.sparkSession
    import spark.implicits._
    val ttlMs = TimeSeriesOps.parseDuration(stateTtl) / 1000000L
    require(ttlMs > 0, s"stateTtl must be >= 1ms, got $stateTtl")
    val rowsPerBand = numHashes / bands
    val banded = df.select(
        TimeSeriesOps.nanosToTimestamp(F.col(timeCol)).as("__ts"),
        F.col(idCol).cast("long").as("id"),
        F.explode(graft.llm.Dedup.lshBuckets(
          graft.llm.Dedup.minHashSignature(F.col(textCol), numHashes,
            shingleSize), bands, rowsPerBand)).as("bk"))
      .select(F.col("__ts"), F.col("id"),
        F.col("bk.band").cast("int").as("band"),
        F.col("bk.bucket").cast("long").as("bucket"))
      .withWatermark("__ts", watermarkDelay)
      .as[(java.sql.Timestamp, Long, Int, Long)]
    banded.groupByKey { case (_, _, band, bucket) => (band, bucket) }
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(
        (key: (Int, Long),
         rows: Iterator[(java.sql.Timestamp, Long, Int, Long)],
         state: GroupState[(Long, Long)]) => {
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            // one pass, O(1) running state: (keeper, max event ms).
            // fromState pins an established keeper; otherwise the batch
            // minimum wins and displaced candidates emit as violations.
            val out = scala.collection.mutable.ArrayBuffer
              .empty[(Long, Int, Long)]
            val fromState = state.exists
            var keeper = state.getOption.map(_._1).getOrElse(Long.MinValue)
            var maxMs = state.getOption.map(_._2).getOrElse(Long.MinValue)
            var hasKeeper = fromState
            rows.foreach { case (ts, id, b, bk) =>
              val ms = ts.getTime
              if (ms > maxMs) maxMs = ms
              if (!hasKeeper) { keeper = id; hasKeeper = true }
              else if (!fromState && id < keeper) {
                out += ((keeper, b, bk)); keeper = id
              } else out += ((id, b, bk))
            }
            state.update((keeper, maxMs))
            // timeout must sit strictly past the current watermark
            state.setTimeoutTimestamp(
              math.max(maxMs + ttlMs, state.getCurrentWatermarkMs() + 1))
            out.iterator
          }
        })
      .toDF("doc_id", "band", "bucket")
  }

  /** Injective composite grouping string over the key columns (streaming
    * groupByKey needs one value; original key values ride in the packed
    * structs so output columns keep their types). Each value is
    * length-prefixed (`V<len>:<value>`, `N;` for null), so no choice of
    * separator-looking characters inside values can make two distinct key
    * tuples collide into one state group.  */
  private def compositeKey(key: Seq[String]): org.apache.spark.sql.Column =
    F.concat(key.map { c =>
      val sc = F.col(c).cast("string")
      F.when(sc.isNull, F.lit("N;"))
        .otherwise(F.concat(F.lit("V"), F.length(sc).cast("string"),
          F.lit(":"), sc))
    }: _*)

  /**
   * Streaming as-of LEFT join (the batch [[graft.ts.AsOfJoin.leftJoin]]
   * semantics under event-time watermarks): for every left row, the most
   * recent right row of the same key with `rt <= t && rt >= t - tolerance`;
   * unmatched lefts null-pad. SURVEY §2.8 mapped this to "stream-stream
   * join with range condition" — but the built-in range join emits EVERY
   * right row in the window, not the latest, so as-of semantics need
   * custom state: `flatMapGroupsWithState` over the tagged union of both
   * streams.
   *
   * Correctness contract: a left row at time t is FINALIZED (emitted) only
   * once the watermark passes t — at that point Spark has dropped every
   * right row at or before t that could still arrive, so the match is
   * final. Over in-watermark data it equals the batch join except on ties:
   * among right rows at the same time this operator keeps the last to
   * arrive, while [[graft.ts.AsOfJoin]] keeps the greatest value tuple
   * (right rows (10 s, 250) and (10 s, 100) arriving in that order give
   * 100 here and 250 in batch; ROADMAP direction 2). Pending lefts are
   * flushed by event-time timeouts as the watermark advances (no new data
   * needed on that key). State per key = pending
   * lefts (not yet past watermark) + the right-row window
   * `[minPendingLeft - tolerance, now]` — bounded by tolerance, pruned
   * every trigger; idle keys are garbage-collected after `stateTimeout`.
   *
   * Output: (time, key cols (original types), left cols..., right cols...
   * nullable), lefts in per-key time order. Ties among equal right times
   * resolve to the last in (time, arrival) order.
   */
  def leftJoinStream(left: DataFrame, right: DataFrame, tolerance: String,
                     key: Seq[String], watermarkDelay: String,
                     stateTimeout: String = "30 days"): DataFrame =
    asOfStream(left, right, tolerance, key, watermarkDelay, stateTimeout,
      future = false, strict = false)

  /** Forward streaming as-of join (≙ batch
    * [[graft.ts.AsOfJoin.futureLeftJoin]]): for every left row the EARLIEST
    * right row with `rt` in `[t, t+tolerance]` (`(t, t+tolerance]` with
    * `strictLookahead`). A left at t finalizes once the watermark passes
    * `t + tolerance` — only then is every candidate right final. Same
    * state/timeout discipline as [[leftJoinStream]]; ties among equal
    * right times resolve to the last in (time, arrival) order. */
  def futureLeftJoinStream(left: DataFrame, right: DataFrame, tolerance: String,
                           key: Seq[String], watermarkDelay: String,
                           stateTimeout: String = "30 days",
                           strictLookahead: Boolean = false): DataFrame =
    asOfStream(left, right, tolerance, key, watermarkDelay, stateTimeout,
      future = true, strict = strictLookahead)

  private def asOfStream(left: DataFrame, right: DataFrame, tolerance: String,
                         key: Seq[String], watermarkDelay: String,
                         stateTimeout: String, future: Boolean,
                         strict: Boolean): DataFrame = {
    val tol = TimeSeriesOps.parseDuration(tolerance)
    val timeoutNs = TimeSeriesOps.parseDuration(stateTimeout)
    val lCols = left.columns.filter(c => c != TimeColumn && !key.contains(c)).toSeq
    val rCols = right.columns.filter(c => c != TimeColumn && !key.contains(c)).toSeq
    // a bare (time, key) LEFT is the classic clock-sampling use case and is
    // supported (key-only left struct); the RIGHT must carry something to join
    require(rCols.nonEmpty, "the right side needs at least one value column")
    require(lCols.intersect(rCols).isEmpty,
      s"overlapping value columns ${lCols.intersect(rCols).mkString(",")}: rename one side")
    // left struct carries the key values too, so output keys keep their types
    val lPack = key ++ lCols
    val lStruct = StructType(lPack.map(c => left.schema(left.schema.fieldIndex(c))))
    val rStruct = StructType(rCols.map(c => right.schema(right.schema.fieldIndex(c))))

    def tagged(df: DataFrame, isLeft: Boolean): DataFrame = {
      val self = if (isLeft)
        F.struct(lPack.map(F.col): _*).as("__lv")
      else F.lit(null).cast(lStruct).as("__lv")
      val other = if (isLeft)
        F.lit(null).cast(rStruct).as("__rv")
      else F.struct(rCols.map(F.col): _*).as("__rv")
      withEventTime(df).select(F.col(TimeColumn), compositeKey(key).as("__k"),
        F.lit(isLeft).as("__isL"), self, other, F.col(EventTs))
    }

    val in = tagged(left, isLeft = true).unionByName(tagged(right, isLeft = false))
      .withWatermark(EventTs, watermarkDelay)

    val outSchema = StructType(
      StructField(TimeColumn, LongType) +:
        (lStruct.fields.toSeq ++ rStruct.fields.map(_.copy(nullable = true))))
    implicit val outEnc = RowEncoder.encoderFor(outSchema)
    implicit val stateEnc = org.apache.spark.sql.Encoders.kryo[AsOfStreamState]

    val spark = left.sparkSession
    import spark.implicits._

    in.groupByKey(_.getString(1))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (_: String, rows: Iterator[Row], state: GroupState[AsOfStreamState]) => {
          val st = state.getOption.getOrElse(AsOfStreamState(Nil, Nil))
          val newLefts = scala.collection.mutable.ListBuffer.empty[(Long, Row)]
          val newRights = scala.collection.mutable.ListBuffer.empty[(Long, Row)]
          rows.foreach { r =>
            val t = r.getLong(0)
            if (r.getBoolean(2)) newLefts += ((t, r.getStruct(3)))
            else newRights += ((t, r.getStruct(4)))
          }
          // stable time sort with stored (already time-ascending) state
          // FIRST and this batch's arrivals after, so equal-time ties keep
          // their original arrival order across micro-batch boundaries —
          // the "last in (time, arrival) order" pick never depends on how
          // the stream was sliced into batches
          val ls = (st.lefts ++ newLefts).sortBy(_._1)
          val rs = (st.rights ++ newRights).sortBy(_._1).toIndexedSeq
          val wmNs = state.getCurrentWatermarkMs() * 1000000L
          // backward: final once every right <= t is final (wm >= t);
          // forward: final once every right <= t + tol is final
          val (ready, pending) = ls.partition(l =>
            (if (future) l._1 + tol else l._1) <= wmNs)
          val out = ready.map { case (t, lv) =>
            val m: Row =
              if (!future) {
                // last right with rt <= t (binary search upper bound)
                var lo = 0; var hi = rs.length
                while (lo < hi) {
                  val mid = (lo + hi) >>> 1
                  if (rs(mid)._1 <= t) lo = mid + 1 else hi = mid
                }
                if (lo > 0 && rs(lo - 1)._1 >= t - tol) rs(lo - 1)._2 else null
              } else {
                // first right with rt >= t (rt > t when strict): lower bound
                val bound = if (strict) t + 1 else t
                var lo = 0; var hi = rs.length
                while (lo < hi) {
                  val mid = (lo + hi) >>> 1
                  if (rs(mid)._1 < bound) lo = mid + 1 else hi = mid
                }
                if (lo < rs.length && rs(lo)._1 <= t + tol) {
                  // equal-time run resolves to the last arrival
                  var j = lo
                  while (j + 1 < rs.length && rs(j + 1)._1 == rs(lo)._1) j += 1
                  rs(j)._2
                } else null
              }
            Row.fromSeq(t +: (lv.toSeq ++
              (if (m != null) m.toSeq else Seq.fill(rCols.length)(null))))
          }
          // prune dead rights: backward — below wm - tol (any remaining
          // left has t > wm); forward — below the earliest pending left
          // (a future-arriving left has t > wm and needs rt >= t)
          val cutoff =
            if (!future) wmNs - tol
            else pending.headOption.map(p => math.min(p._1, wmNs)).getOrElse(wmNs)
          val keptRights = rs.dropWhile(_._1 < cutoff).toList
          if (pending.isEmpty && keptRights.isEmpty && state.getCurrentWatermarkMs() > 0) {
            state.remove()
          } else {
            state.update(AsOfStreamState(pending, keptRights))
            if (pending.nonEmpty) {
              // fire when the watermark passes the finalization point of
              // the earliest pending left (+1ms: strictly beyond the wm)
              val fireNs = if (future) pending.head._1 + tol else pending.head._1
              state.setTimeoutTimestamp(fireNs / 1000000L + 1)
            } else if (state.getCurrentWatermarkMs() > 0) {
              state.setTimeoutTimestamp(state.getCurrentWatermarkMs() +
                timeoutNs / 1000000L)
            }
          }
          out.iterator
        }).toDF(outSchema.fieldNames.toIndexedSeq: _*)
  }

  /**
   * Per-key running EWMA across micro-batches: emits one row per input row
   * with the running value, state = (lastTime, primary, auxiliary) carried
   * in `GroupState` between batches. Rows inside a batch are processed in
   * event-time order; state times out after `stateTimeout` of event-time
   * inactivity (watermark-driven), bounding state size on unbounded key
   * spaces. Output: (time, key, value, <x>_ewma).
   *
   * Late-data caveat: with event-time timeouts Spark drops events at or
   * before the current watermark — this includes an event at exactly the
   * epoch-0 instant against the initial watermark, so streams should carry
   * real (positive) event times.
   *
   * Cross-batch ordering caveat: rows are sorted within each micro-batch,
   * but an in-watermark row may still arrive in a later batch than a newer
   * row of the same key. Such a row is folded in with its decay gap clamped
   * at 0 (treated as simultaneous with the newest row seen), so state never
   * amplifies; its contribution is approximate versus a fully ordered batch
   * replay. Use the batch [[graft.ts.EmaOps.ewmaRows]] when exact
   * order-sensitive values over late data matter.
   */
  def ewmaStateful(df: DataFrame, xCol: String, key: Seq[String],
                   alpha: Double = 0.05, durationPerPeriod: String = "1d",
                   convention: String = "legacy",
                   watermarkDelay: String = "0 seconds",
                   stateTimeout: String = "30 days"): DataFrame = {
    require(Seq("core", "legacy").contains(convention))
    require(key.nonEmpty, "ewmaStateful needs at least one key column")
    val logDecay = math.log(1.0 - alpha)
    val perPeriod = TimeSeriesOps.parseDuration(durationPerPeriod).toDouble
    val spark = df.sparkSession
    import spark.implicits._

    val nKey = key.length
    val in = withEventTime(df).withWatermark(EventTs, watermarkDelay)
      .select((F.col(TimeColumn) +: compositeKey(key).as("__k") +:
        key.map(F.col)) :+ F.col(xCol).cast("double").as("__x") :+
        F.col(EventTs): _*)
      // FilterNullInput parity with batch ewma
      .filter(F.col("__x").isNotNull && F.col(TimeColumn).isNotNull)

    val outSchema = StructType(
      StructField(TimeColumn, LongType) +:
        key.map(c => df.schema(df.schema.fieldIndex(c))) :+
        StructField(xCol, DoubleType) :+
        StructField(s"${xCol}_ewma", DoubleType))
    implicit val enc = RowEncoder.encoderFor(outSchema)

    in.groupByKey(_.getString(1))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (_: String, rows: Iterator[Row], state: GroupState[(Long, Double, Double)]) => {
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            var (lastT, primary, aux) = state.getOption.getOrElse((Long.MinValue, 0.0, 0.0))
            val out = rows.toSeq.sortBy(_.getLong(0)).map { r =>
              val t = r.getLong(0)
              val x = r.getDouble(2 + nKey)
              if (lastT == Long.MinValue) { primary = x; aux = 1.0 }
              else {
                // Rows are ordered within a batch, but an in-watermark late
                // row can still be older than the state's lastT from a
                // previous batch. Clamp the gap at 0 (decay = 1, i.e.
                // treated as simultaneous with the newest row seen) —
                // exp(k*dt) with dt < 0 would exceed 1 and amplify state.
                val periods = math.max(0.0, (t - lastT) / perPeriod)
                val decay = math.exp(periods * logDecay)
                primary = decay * primary + x
                aux = decay * aux + 1.0
              }
              // max, not assignment: a clamped late row must not rewind the
              // clock, or the next in-order row would pay its decay twice.
              lastT = math.max(lastT, t)
              Row.fromSeq(t +: (0 until nKey).map(i => r.get(2 + i)) :+ x :+
                (if (convention == "core") primary / aux else primary))
            }
            state.update((lastT, primary, aux))
            if (state.getCurrentWatermarkMs() > 0) {
              state.setTimeoutTimestamp(state.getCurrentWatermarkMs() +
                TimeSeriesOps.parseDuration(stateTimeout) / 1000000L)
            }
            out.iterator
          }
        }).toDF(outSchema.fieldNames.toIndexedSeq: _*)
  }
}
