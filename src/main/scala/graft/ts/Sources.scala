package graft.ts

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.types.StructType

/**
 * Sources (≙ CSV.from, TimeSeriesRDD.fromParquet, ReadBuilder, Clocks,
 * TimeSeriesGenerator — /root/reference/src/main/scala/com/twosigma/flint/timeseries/
 * {CSV.scala:91-163, TimeSeriesRDD.scala:400-461, Clocks.scala:44-89,
 * TimeSeriesGenerator.scala:68-122}).
 *
 * All readers delegate to Spark's native sources, so column pruning and
 * predicate (incl. time-range) pushdown reach the scan for free — the
 * reference hand-rolled both (TimeSeriesRDD.scala:381-383 notes the 10x
 * column-pruning win; here `.select` + `.filter` does it via Catalyst).
 */
object Sources {
  import TimeSeriesOps.TimeColumn

  /** CSV → canonical time-series frame (≙ CSV.from). `options` pass
    * through to Spark's CSV reader (nullValue, quote, codec, ...). */
  def fromCSV(spark: SparkSession, path: String, header: Boolean = true,
              delimiter: String = ",", schema: Option[StructType] = None,
              timeCol: String = TimeColumn, unitToNanos: Long = 1L,
              sorted: Boolean = false,
              options: Map[String, String] = Map.empty): DataFrame = {
    var r = spark.read.options(options)
      .option("header", header.toString).option("delimiter", delimiter)
    val df = schema match {
      case Some(s) => r.schema(s).csv(path)
      case None => r.option("inferSchema", "true").csv(path)
    }
    val canon = TimeSeriesOps.canonize(df, timeCol, unitToNanos)
    if (sorted) canon else TimeSeriesOps.orderByTime(canon)
  }

  /** JSON-lines source — the dominant interchange format of LLM
    * training-data corpora (one JSON document per line). With an explicit
    * schema the read is a single pass; without one Spark SAMPLES the
    * input to infer types, an extra scan that is fine interactively and
    * wrong at 100 TB — pass a schema there. If `timeCol` names a column
    * present in the data the frame is canonized to nanos and
    * time-ordered like the CSV source; document corpora typically have
    * no time column and pass through untouched. `options` reach Spark's
    * JSON reader (multiLine, compression, dropFieldIfAllNull, ...). */
  def fromJsonl(spark: SparkSession, path: String,
                schema: Option[StructType] = None,
                timeCol: String = null, unitToNanos: Long = 1L,
                options: Map[String, String] = Map.empty): DataFrame =
    fromJsonlStatus(spark, path, schema, timeCol, unitToNanos, options)._1

  /** [[fromJsonl]] plus whether canonization actually happened (= the
    * configured time column existed in the raw data). Callers deciding
    * whether a NANOS range filter is safe must key on this flag, not on
    * the output schema: a corpus whose configured column is absent but
    * that happens to carry a raw column literally named "time" would
    * otherwise get nanos bounds compared against raw units. */
  private[graft] def fromJsonlStatus(spark: SparkSession, path: String,
                                     schema: Option[StructType] = None,
                                     timeCol: String = null,
                                     unitToNanos: Long = 1L,
                                     options: Map[String, String] = Map.empty)
      : (DataFrame, Boolean) = {
    val r = spark.read.options(options)
    val df = schema match {
      case Some(s) => r.schema(s).json(path)
      case None => r.json(path)
    }
    if (timeCol != null && df.columns.contains(timeCol))
      (TimeSeriesOps.orderByTime(
        TimeSeriesOps.canonize(df, timeCol, unitToNanos)), true)
    else (df, false)
  }

  /** Parquet scan with optional column list and [begin, end) time range
    * (≙ fromParquet). Both the projection and the range filter reach the
    * parquet reader (PushedFilters / ReadSchema) via Catalyst. `options`
    * pass through to the reader (mergeSchema, ...). With a `schema` the
    * files are read with it; without one Spark runs a one-task job to
    * infer it from the files. */
  def fromParquet(spark: SparkSession, path: String, columns: Seq[String] = Seq.empty,
                  beginNanos: Option[Long] = None, endNanos: Option[Long] = None,
                  timeCol: String = TimeColumn, unitToNanos: Long = 1L,
                  options: Map[String, String] = Map.empty,
                  schema: Option[StructType] = None): DataFrame = {
    val r = spark.read.options(options)
    var df = schema.fold(r)(s => r.schema(s)).parquet(path)
    if (columns.nonEmpty) {
      val keep = (timeCol +: columns.filter(_ != timeCol)).distinct
      df = df.select(keep.map(F.col): _*)
    }
    // Two-layer range filter: a COARSE predicate on the raw column first —
    // a plain comparison Catalyst can push into the parquet scan for
    // row-group min/max pruning (an arithmetic predicate over the
    // canonized expression never reaches PushedFilters) — then the exact
    // filter on canonized nanos. Coarse bounds are safely widened by one
    // raw unit, so no qualifying row is lost to truncation.
    df = coarseTimeFilter(df, timeCol, unitToNanos, beginNanos, endNanos)
    rangeFilter(TimeSeriesOps.canonize(df, timeCol, unitToNanos),
      beginNanos, endNanos)
  }

  /** Exact [begin, end) filter on the canonical time column — the one
    * shared definition of read-range semantics (parquet, csv, builder,
    * and the time-partitioned store all delegate here). */
  private def rangeFilter(df: DataFrame, beginNanos: Option[Long],
                          endNanos: Option[Long]): DataFrame =
    (beginNanos, endNanos) match {
      case (Some(b), Some(e)) => TimeSeriesOps.between(df, b, e)
      case (Some(b), None) => df.filter(F.col(TimeColumn) >= b)
      case (None, Some(e)) => df.filter(F.col(TimeColumn) < e)
      case _ => df
    }

  /** Pushdown-friendly widened range predicate on the RAW time column:
    * `raw >= floor(begin/unit) - 1` / `raw <= ceil(end/unit)` in the
    * column's own unit (micros for timestamps, days for dates, the caller's
    * `unitToNanos` for integrals). Conservative — the exact canonized
    * filter trims the slack — so unit-conversion rounding can never drop a
    * qualifying row, while row-group pruning still engages on the scan. */
  private def coarseTimeFilter(df: DataFrame, timeCol: String,
                               unitToNanos: Long,
                               beginNanos: Option[Long],
                               endNanos: Option[Long]): DataFrame = {
    import org.apache.spark.sql.types._
    val dt = df.schema(df.schema.fieldIndex(timeCol)).dataType
    // raw-unit size in nanos; None = unknown type, skip the coarse layer
    val unitNs: Option[Long] = dt match {
      case LongType | IntegerType => Some(math.max(1L, unitToNanos))
      case TimestampType | TimestampNTZType => Some(1000L)
      case DateType => Some(86400L * 1000000000L)
      case _ => None
    }
    unitNs match {
      case None => df
      case Some(u) =>
        def clampInt(v: Long): Int =
          math.max(Int.MinValue.toLong, math.min(Int.MaxValue.toLong, v)).toInt
        def lit(v: Long): Column = dt match {
          case TimestampType | TimestampNTZType => F.timestamp_micros(F.lit(v))
          case DateType => F.date_from_unix_date(F.lit(clampInt(v)))
          // int literal for int columns: a long literal would wrap the
          // column in a cast and block parquet filter pushdown
          case IntegerType => F.lit(clampInt(v))
          case _ => F.lit(v)
        }
        var out = df
        beginNanos.foreach { b =>
          out = out.filter(F.col(timeCol) >= lit(b / u - 1))
        }
        endNanos.foreach { e =>
          out = out.filter(F.col(timeCol) <= lit(e / u + 1))
        }
        out
    }
  }

  /**
   * Fluent reader facade (≙ ReadBuilder,
   * /root/reference/src/main/scala/com/twosigma/flint/timeseries/io/read/ReadBuilder.scala:38-290):
   * `Sources.read(spark).option(...).range(b, e).columns(...).parquet(path)`.
   * A thin builder over [[fromParquet]]/[[fromCSV]] — pruning and range
   * pushdown come from those, not from builder logic.
   */
  def read(spark: SparkSession): ReadBuilder = new ReadBuilder(spark)

  final class ReadBuilder private[Sources] (spark: SparkSession) {
    private var opts: Map[String, String] = Map.empty
    private var begin: Option[Long] = None
    private var end: Option[Long] = None
    private var cols: Seq[String] = Seq.empty
    private var timeCol: String = TimeColumn
    private var unitToNanos: Long = 1L
    private var fixedSchema: Option[StructType] = None

    private var expandBegin: Long = 0L
    private var expandEnd: Long = 0L

    def option(k: String, v: String): ReadBuilder = { opts += (k -> v); this }
    def options(kvs: Map[String, String]): ReadBuilder = { opts ++= kvs; this }
    /** [begin, end) time range in nanos; either side optional via null-free overloads. */
    def range(beginNanos: Long, endNanos: Long): ReadBuilder = {
      begin = Some(beginNanos); end = Some(endNanos); this
    }
    /** Widen the configured range by durations (≙ ReadBuilder.expand,
      * reference ReadBuilder.scala:134-147): lookback/lookahead slack so an
      * as-of join near the range edges still finds its matches. Applied at
      * read time to whichever bounds are set. */
    def expand(beginDur: String = null, endDur: String = null): ReadBuilder = {
      if (beginDur != null) expandBegin = TimeSeriesOps.parseDuration(beginDur)
      if (endDur != null) expandEnd = TimeSeriesOps.parseDuration(endDur)
      this
    }
    def beginNanos(b: Long): ReadBuilder = { begin = Some(b); this }
    def endNanos(e: Long): ReadBuilder = { end = Some(e); this }
    def columns(cs: String*): ReadBuilder = { cols = cs; this }
    def time(col: String, toNanos: Long = 1L): ReadBuilder = {
      timeCol = col; unitToNanos = toNanos; this
    }
    /** The files' schema for the parquet, csv and jsonl terminals (no
      * inference pass); a time-partitioned store uses its recorded one. */
    def schema(s: StructType): ReadBuilder = { fixedSchema = Some(s); this }

    /** The configured [begin, end) widened by the expand slack — the range
      * the terminal read methods actually apply (≙ reference
      * ReadBuilder.scala:134-147, where expand mutates the stored range). */
    private def expandedBegin: Option[Long] = begin.map(_ - expandBegin)
    private def expandedEnd: Option[Long] = end.map(_ + expandEnd)

    def parquet(path: String): org.apache.spark.sql.DataFrame =
      fromParquet(spark, path, cols, expandedBegin, expandedEnd, timeCol,
        unitToNanos, opts, fixedSchema)

    /** Read a [[writeTimePartitioned]] store with the configured
      * range/expand/columns; directory-level bucket pruning applies.
      * `granularity` defaults to the store's persisted metadata. */
    def timePartitioned(path: String, granularity: String = null)
        : org.apache.spark.sql.DataFrame =
      fromTimePartitioned(spark, path, granularity, cols,
        expandedBegin, expandedEnd)

    def csv(path: String): org.apache.spark.sql.DataFrame = {
      val header = opts.getOrElse("header", "true").toBoolean
      val delim = opts.getOrElse("delimiter", ",")
      val df = fromCSV(spark, path, header, delim, fixedSchema, timeCol, unitToNanos,
        sorted = false, options = opts -- Seq("header", "delimiter"))
      val ranged = rangeFilter(df, expandedBegin, expandedEnd)
      if (cols.nonEmpty) TimeSeriesOps.keepColumns(ranged, cols: _*) else ranged
    }

    /** Read a JSON-lines corpus with the configured options/columns; the
      * time range applies only when the builder's time column exists in
      * the data (document corpora usually have none). */
    def jsonl(path: String): org.apache.spark.sql.DataFrame = {
      val raw = fromJsonl(spark, path, fixedSchema, null, 1L, opts)
      // the builder's configured time column existing in the data is the
      // "this corpus has a time axis" signal: only then canonize and
      // apply the range (a range against an un-canonized column would
      // silently compare raw units to nanos)
      if (raw.columns.contains(timeCol)) {
        val canon = TimeSeriesOps.orderByTime(
          TimeSeriesOps.canonize(raw, timeCol, unitToNanos))
        val ranged = rangeFilter(canon, expandedBegin, expandedEnd)
        if (cols.nonEmpty) TimeSeriesOps.keepColumns(ranged, cols: _*)
        else ranged
      } else {
        // timeless corpus: plain projection (keepColumns would force the
        // nonexistent time column into it)
        if (cols.nonEmpty) raw.select(cols.map(F.col): _*) else raw
      }
    }
  }

  /** Directory-partition column name used by the time-partitioned layout. */
  val BucketColumn = "time_bucket"

  /** Store-level metadata file persisted next to the bucket directories,
    * one JSON object:
    * `{"format":"graft-time-partitioned","granularity":"7d",
    * "granularity_nanos":604800000000000,"schema":<StructType JSON>}`.
    *  - The granularity lets readers never GUESS the writer's bucket size
    *    (a mismatched guess silently prunes wrong buckets: data loss, not
    *    an error).
    *  - `schema` is the data files' schema in Spark's nullable form
    *    (`time_bucket` excluded: it stays a partition column discovered
    *    from the directory names), so a read skips the one-task schema
    *    inference job. A store without it (written before the field
    *    existed, or appended to with no schema on record) reads by
    *    inference.
    *  - An `append` or `ignore` write into an existing store must match
    *    both its granularity and its recorded schema; `overwrite` replaces
    *    both. */
  private[graft] val StoreMetaFile = "_graft_store.json"

  /** A store's metadata; `schema` is None when the store records none. */
  private[graft] case class StoreMeta(granularity: String, granularityNanos: Long,
                                      schema: Option[StructType])

  private def storeMetaPath(spark: SparkSession, path: String) = {
    val p = new org.apache.hadoop.fs.Path(path, StoreMetaFile)
    (p, p.getFileSystem(spark.sparkContext.hadoopConfiguration))
  }

  /** Persist the store's metadata (idempotent overwrite). */
  private[graft] def writeStoreMeta(spark: SparkSession, path: String,
                                    meta: StoreMeta): Unit = {
    val (p, fs) = storeMetaPath(spark, path)
    val schema = meta.schema.fold("")(s => s""","schema":${s.json}""")
    val out = fs.create(p, true)
    try out.write(
      (s"""{"format":"graft-time-partitioned","granularity":"${meta.granularity}"""" +
        s""","granularity_nanos":${meta.granularityNanos}$schema}""" + "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** The store's persisted metadata, if the metadata file exists. */
  private[graft] def readStoreMeta(spark: SparkSession,
                                   path: String): Option[StoreMeta] = {
    val (p, fs) = storeMetaPath(spark, path)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val json = try new com.fasterxml.jackson.databind.ObjectMapper().readTree(in)
      finally in.close()
      Some(StoreMeta(json.get("granularity").asText,
        json.get("granularity_nanos").asLong,
        Option(json.get("schema")).map(s =>
          org.apache.spark.sql.types.DataType.fromJson(s.toString)
            .asInstanceOf[StructType])))
    }
  }

  /** The metadata a writer of `schema` at `granularity` stamps on `path`
    * once its write has succeeded. Unless the write replaces the store, an
    * existing store's granularity and recorded schema must match (fail
    * loudly: a mismatch would mix bucket layouts, or apply one schema to
    * files of another). The schema is recorded only when it describes
    * every data file: a replaced or empty store, or one that records it
    * already. */
  private[graft] def storeMetaFor(spark: SparkSession, path: String,
                                  writer: String, granularity: String,
                                  schema: StructType,
                                  replace: Boolean): StoreMeta = {
    val g = TimeSeriesOps.parseDuration(granularity)
    require(g > 0, s"granularity must be positive, got $granularity")
    val written = org.apache.spark.sql.graft.NullableSchema(schema)
    val prior = if (replace) None else readStoreMeta(spark, path)
    prior.foreach { m =>
      require(m.granularityNanos == g,
        s"$writer: store $path has granularity ${m.granularityNanos}ns; " +
          s"writing with $granularity (${g}ns) would mix bucket layouts")
      m.schema.foreach { recorded =>
        require(recorded == written,
          s"$writer: store $path records schema ${recorded.simpleString}; " +
            s"writing ${written.simpleString} would apply one schema to " +
            "files of another. Overwrite the store or write to a new path.")
      }
    }
    val known = replace || prior.exists(_.schema.isDefined) ||
      !hasDataFiles(spark, path)
    StoreMeta(granularity, g, if (known) Some(written) else None)
  }

  /** Resolve the granularity a reader should use: an explicit value must
    * MATCH the store's persisted one (fail loudly, never silently
    * mis-prune); null adopts the store's, defaulting to 1d only for
    * pre-metadata stores. */
  private def resolveGranularity(path: String, granularity: String,
                                 meta: Option[StoreMeta]): Long =
    Option(granularity) match {
      case Some(s) =>
        val g = TimeSeriesOps.parseDuration(s)
        require(g > 0, s"granularity must be positive, got $s")
        meta.foreach { m =>
          require(m.granularityNanos == g,
            s"fromTimePartitioned: store $path was written with " +
              s"granularity ${m.granularityNanos}ns but the reader asked for $s (${g}ns) — " +
              "bucket pruning would silently drop data. Omit granularity " +
              "to adopt the store's.")
        }
        g
      case None =>
        meta.fold(TimeSeriesOps.parseDuration("1d"))(_.granularityNanos)
    }

  /**
   * Sink side of the time-series store: write the canonical frame as
   * parquet partitioned by a derived time bucket (`time_bucket=N`
   * directories, N = floor(time / granularity)), the layout that makes a
   * time-ranged read skip whole directories via Catalyst partition pruning
   * — at 100 TB the difference between listing a few day-directories and
   * row-group-filtering the entire corpus. Readers must pass the same
   * `granularity` to [[fromTimePartitioned]].
   *
   * The writer does NOT repartition: each task writes the buckets it
   * holds, so a hot bucket still gets many files (parallel read), while
   * time-clustered input produces naturally few files per bucket. Callers
   * wanting exactly-k files per bucket can `repartition(k, col, rand-salt)`
   * first.
   */
  def writeTimePartitioned(df: DataFrame, path: String,
                           granularity: String = "1d",
                           mode: String = "error"): Unit = {
    val spark = df.sparkSession
    require(!df.columns.contains(BucketColumn),
      s"writeTimePartitioned: input already has a $BucketColumn column")
    // a streaming-sink store reads through its _spark_metadata commit log:
    // batch-written files would be INVISIBLE to every reader. Refuse.
    require(!hasStreamMetadata(spark, path),
      s"writeTimePartitioned: $path is a streaming-sink store " +
        "(_spark_metadata present) — batch writes would be invisible to " +
        "readers; write to a separate path")
    val saveMode = mode.toLowerCase(java.util.Locale.ROOT)
    val meta = storeMetaFor(spark, path, "writeTimePartitioned", granularity,
      df.schema, replace = saveMode == "overwrite")
    // Spark skips an `ignore` write into an existing path: leave its
    // metadata as it is too
    val skipped = saveMode == "ignore" && {
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
    }
    // exact integer floor-div: a double `/` would lose precision on
    // >2^53 nanos, silently mis-bucketing rows near bucket edges
    df.withColumn(BucketColumn, floorDivTime(meta.granularityNanos))
      .write.mode(mode).partitionBy(BucketColumn).parquet(path)
    if (!skipped) writeStoreMeta(spark, path, meta)
  }

  /** True iff `path` carries a streaming file-sink commit log — such a
    * store must only ever be appended by the streaming sink (readers use
    * the log as the source of truth and ignore unlogged files). */
  private[graft] def hasStreamMetadata(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path, "_spark_metadata")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p)
  }

  /** True iff `path` already holds data files (any non-hidden entry). */
  private[graft] def hasDataFiles(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && fs.listStatus(p).exists { s =>
      val n = s.getPath.getName
      !n.startsWith("_") && !n.startsWith(".")
    }
  }

  /** floorDiv of the time column as exact long arithmetic (negative-safe:
    * pmod is >= 0; the SQL `div` integral operator, never a double `/`).
    * Shared with the streaming sink (`StreamingOps`). */
  private[graft] def floorDivTime(g: Long): Column =
    F.expr(s"($TimeColumn - pmod($TimeColumn, ${g}L)) div ${g}L")

  /** Read a [[writeTimePartitioned]] layout with [begin, end) pruning at
    * the DIRECTORY level (bucket comparisons are partition filters, so
    * non-qualifying buckets are never listed or opened), then the exact
    * row-level time filter. `granularity` defaults (null) to the store's
    * persisted metadata; an explicit value that mismatches it fails loudly
    * rather than silently mis-pruning. One read of the metadata file gives
    * the granularity and, where recorded, the schema the files are read
    * with (no inference job). */
  def fromTimePartitioned(spark: SparkSession, path: String,
                          granularity: String = null,
                          columns: Seq[String] = Seq.empty,
                          beginNanos: Option[Long] = None,
                          endNanos: Option[Long] = None): DataFrame = {
    val meta = readStoreMeta(spark, path)
    val g = resolveGranularity(path, granularity, meta)
    val reader = meta.flatMap(_.schema).fold(spark.read)(s => spark.read.schema(s))
    var df = reader.parquet(path)
    beginNanos.foreach(b => df = df.filter(F.col(BucketColumn) >= Math.floorDiv(b, g)))
    endNanos.foreach(e => df = df.filter(F.col(BucketColumn) <= Math.floorDiv(e - 1, g)))
    df = df.drop(BucketColumn)
    if (columns.nonEmpty)
      df = TimeSeriesOps.keepColumns(df, columns: _*)
    rangeFilter(df, beginNanos, endNanos)
  }

  /** Knuth multiplicative constant (shared with [[graft.PortableHash]]). */
  private val HashMult = graft.PortableHash.HashMult

  /** Randomly spaced clock (≙ Clocks.random): uniform ticks jittered by up
    * to one period. The jitter is a seeded hash rather than `F.rand(seed)`:
    * rand's sequence is engine-implementation-defined, while this integer
    * arithmetic is reproducible anywhere — same determinism contract as the
    * reference's seeded clock. Each tick's jitter is an independent 63-bit
    * avalanche-mixed value (two decorrelated 32-bit mixes of the tick id),
    * NOT a linear progression — consecutive jitters share no structure. */
  def randomClock(spark: SparkSession, beginNanos: Long, endNanos: Long,
                  frequency: String, seed: Long = 42L): DataFrame = {
    val step = TimeSeriesOps.parseDuration(frequency)
    require(step > 0 && endNanos >= beginNanos, "invalid clock range")
    val n = (endNanos - beginNanos) / step + 1
    // full-width 63-bit jitter (graft.PortableHash) so `mod step` is
    // near-uniform for any realistic step (up to ~many days in nanos)
    val jitter = F.pmod(graft.PortableHash.hash63(F.col("id"), seed), F.lit(step))
    spark.range(n)
      .select((F.lit(beginNanos) + F.col("id") * step + jitter).as(TimeColumn))
      .filter(F.col(TimeColumn) <= endNanos)
  }

  /** Deterministic pseudo-random test data (≙ TimeSeriesGenerator): `ids`
    * per cycle at `frequency` spacing; value columns in [0, 1) from a
    * seeded multiplicative hash of (cycle, id, column) — portable across
    * engines, bounded operands (no long overflow). */
  def timeSeries(spark: SparkSession, beginNanos: Long, endNanos: Long,
                 frequency: String, ids: Seq[Int], valueColumns: Seq[String],
                 seed: Long = 42L): DataFrame = {
    val step = TimeSeriesOps.parseDuration(frequency)
    val n = (endNanos - beginNanos) / step + 1
    val base = spark.range(n)
      .select(F.col("id").as("__cycle"),
        (F.lit(beginNanos) + F.col("id") * step).as(TimeColumn))
      .crossJoin(spark.createDataFrame(ids.map(Tuple1(_))).toDF("id"))
    valueColumns.zipWithIndex.foldLeft(base) { case (df, (c, j)) =>
      val h = F.pmod((F.col("__cycle") * 131 + F.col("id") * 7 + seed + j),
        F.lit(1000000L))
      df.withColumn(c, F.pmod(h * HashMult, F.lit(1000000L)) / 1000000.0)
    }.drop("__cycle")
  }
}
