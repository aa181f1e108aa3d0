package graft.ts

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.api.java.UDF1
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Core time-series surface: a plain `DataFrame` with a canonical `time`
 * column holding `Long` nanoseconds since the epoch, plus the operators the
 * reference exposes on its time-ordered table abstraction
 * (cf. /root/reference/src/main/scala/com/twosigma/flint/timeseries/TimeSeriesRDD.scala:562-1321).
 *
 * Design stance (SURVEY.md §7.1): single representation — no parallel RDD
 * engine, no partition side-metadata. Ordering requirements are expressed
 * declaratively (`repartitionByRange` + `sortWithinPartitions`) so Catalyst
 * sees them and `EnsureRequirements` can elide redundant sorts. All heavy
 * operators are pure DataFrame transformations that scale horizontally:
 * the only shuffles are the declared range/hash partitionings.
 */
object TimeSeriesOps {

  val TimeColumn = "time"

  /** Nanoseconds per unit, for duration strings like "1h", "250ms". */
  def parseDuration(s: String): Long = {
    val d = scala.concurrent.duration.Duration(s)
    require(d.isFinite, s"duration must be finite: $s")
    d.toNanos
  }

  /**
   * Canonize a DataFrame into time-series form: ensure `timeCol` exists,
   * rename it to `time`, convert to Long nanos, move it first.
   * Mirrors the reference's canonizeDF (TimeSeriesRDD.scala:324-356) minus
   * the side-metadata bookkeeping, which Catalyst makes unnecessary.
   *
   * @param unitToNanos multiplier when `timeCol` is already integral
   *                    (e.g. 1L for nanos, 1000000L for millis).
   */
  def canonize(df: DataFrame, timeCol: String = TimeColumn,
               unitToNanos: Long = 1L): DataFrame = {
    val field = df.schema.find(_.name == timeCol)
      .getOrElse(throw new IllegalArgumentException(
        s"no such time column: $timeCol in ${df.schema.fieldNames.mkString(",")}"))
    val timeExpr: Column = field.dataType match {
      case LongType | IntegerType =>
        if (unitToNanos == 1L) col(timeCol).cast(LongType)
        else col(timeCol).cast(LongType) * lit(unitToNanos)
      case TimestampType | TimestampNTZType =>
        // Spark timestamps are micros internally; to nanos.
        unix_micros(col(timeCol).cast(TimestampType)) * lit(1000L)
      case DateType =>
        unix_date(col(timeCol)).cast(LongType) * lit(86400L * 1000000000L)
      case t => throw new IllegalArgumentException(s"unsupported time type: $t")
    }
    val others = df.schema.fieldNames.filter(_ != timeCol).map(col).toSeq
    df.select((timeExpr.as(TimeColumn) +: others): _*)
  }

  /** Long-nanos → TimestampType (micros, truncating), for display/windowing. */
  def nanosToTimestamp(c: Column): Column = timestamp_micros((c / 1000L).cast(LongType))

  /** Inclusive-begin / exclusive-end time-range filter (≙ DFBetween). */
  def between(df: DataFrame, beginNanos: Long, endNanos: Long): DataFrame =
    df.filter(col(TimeColumn) >= beginNanos && col(TimeColumn) < endNanos)

  /**
   * Range-partition by time and sort within partitions — the physical layout
   * every downstream ordered operator wants. One shuffle; Catalyst records
   * the resulting `outputOrdering`/`outputPartitioning` so later sorts fold
   * away. `numPartitions <= 0` uses spark.sql.shuffle.partitions.
   */
  def orderByTime(df: DataFrame, numPartitions: Int = 0): DataFrame = {
    val re = if (numPartitions > 0) df.repartitionByRange(numPartitions, col(TimeColumn))
             else df.repartitionByRange(col(TimeColumn))
    re.sortWithinPartitions(TimeColumn)
  }

  /**
   * Ingest facade (≙ TimeSeriesRDD.fromDF(df)(isSorted, timeUnit),
   * reference TimeSeriesRDD.scala:230-262): canonize the time column, then
   * either range-sort (`isSorted = false`, one shuffle) or TRUST the
   * caller's ordering (`isSorted = true`, zero shuffle — the reference's
   * fromSortedDF fast path; combine with [[validate]] to assert the claim
   * cheaply instead of paying a sort to re-establish it).
   */
  def fromDF(df: DataFrame, isSorted: Boolean = false,
             timeCol: String = TimeColumn, unitToNanos: Long = 1L,
             numPartitions: Int = 0): DataFrame = {
    val canon = canonize(df, timeCol, unitToNanos)
    if (isSorted) canon else orderByTime(canon, numPartitions)
  }

  // ---------------------------------------------------------------- columns

  /** Project, always retaining `time` (≙ keepColumns). */
  def keepColumns(df: DataFrame, cols: String*): DataFrame = {
    val keep = TimeColumn +: cols.filter(_ != TimeColumn)
    df.select(keep.map(col): _*)
  }

  /** Drop columns; refuses to drop `time` (≙ deleteColumns). */
  def deleteColumns(df: DataFrame, cols: String*): DataFrame = {
    require(!cols.contains(TimeColumn), "cannot delete the time column")
    df.drop(cols: _*)
  }

  /** Rename columns; refuses `time`; rejects duplicate targets (≙ renameColumns). */
  def renameColumns(df: DataFrame, renames: (String, String)*): DataFrame = {
    require(renames.forall(_._1 != TimeColumn), "cannot rename the time column")
    val target = df.schema.fieldNames.map(n => renames.toMap.getOrElse(n, n))
    require(target.distinct.length == target.length, "duplicate column names after rename")
    df.withColumnsRenamed(renames.toMap)
  }

  /** Per-column cast; refuses `time` (≙ cast). */
  def castColumns(df: DataFrame, casts: (String, DataType)*): DataFrame = {
    require(casts.forall(_._1 != TimeColumn), "cannot cast the time column")
    casts.foldLeft(df) { case (d, (n, t)) => d.withColumn(n, col(n).cast(t)) }
  }

  /**
   * Row-closure filter (≙ keepRows, TimeSeriesRDD.scala:682). The reference
   * documents that `filter(Column)` performs better (codegen vs closure,
   * TimeSeriesRDD.scala:685-687) — same here; prefer `df.filter(Column)`.
   */
  def keepRows(df: DataFrame, f: org.apache.spark.sql.Row => Boolean): DataFrame = {
    val pred = udf((r: org.apache.spark.sql.Row) => f(r))
    df.filter(pred(struct(df.columns.map(col).toSeq: _*)))
  }

  /** Inverse of keepRows (≙ deleteRows, TimeSeriesRDD.scala:697). */
  def deleteRows(df: DataFrame, f: org.apache.spark.sql.Row => Boolean): DataFrame =
    keepRows(df, r => !f(r))

  /** Computed columns from Column expressions, appended in argument order
    * (≙ addColumns' fast path; the reference's Row=>Any closure form maps
    * to `addRowColumn`). */
  def addColumns(df: DataFrame, cols: (String, Column)*): DataFrame =
    df.withColumns(scala.collection.immutable.ListMap(cols: _*))

  /** Row-closure computed column (≙ addColumns((name,type,Row=>Any)),
    * TimeSeriesRDD.scala:759). Closure path — slower than addColumns. */
  def addRowColumn(df: DataFrame, name: String, dataType: DataType,
                   f: org.apache.spark.sql.Row => Any): DataFrame = {
    val u = udf(new UDF1[org.apache.spark.sql.Row, Any] {
      override def call(r: org.apache.spark.sql.Row): Any = f(r)
    }, dataType)
    df.withColumn(name, u(struct(df.columns.map(col).toSeq: _*)))
  }

  /** Narrow partition-count reduction that merges only ADJACENT partitions,
    * so a range-partitioned frame stays globally time-ordered
    * (≙ coalesce's proportional slicing, reference OrderedRDD.scala:229-272).
    * Spark's own `Dataset.coalesce` groups partitions by locality, which can
    * interleave non-adjacent ranges — `validate()` catches exactly that —
    * hence the explicit contiguous coalescer at the RDD layer. */
  def coalesce(df: DataFrame, numPartitions: Int): DataFrame =
    org.apache.spark.sql.graft.GraftColumns.coalesceInternal(
      df, numPartitions, new ContiguousCoalescer)

  /** Groups partition indices into contiguous chunks of near-equal size. */
  private class ContiguousCoalescer extends org.apache.spark.rdd.PartitionCoalescer
      with Serializable {
    override def coalesce(maxPartitions: Int,
                          parent: org.apache.spark.rdd.RDD[_]): Array[org.apache.spark.rdd.PartitionGroup] = {
      val parts = parent.partitions
      val n = math.min(maxPartitions, math.max(parts.length, 1))
      val groups = Array.fill(n)(new org.apache.spark.rdd.PartitionGroup())
      parts.foreach { p =>
        // chunked assignment: indices [i*len/n, (i+1)*len/n) -> group i
        val g = ((p.index.toLong * n) / math.max(parts.length, 1)).toInt
        groups(math.min(g, n - 1)).partitions += p
      }
      groups.filter(_.partitions.nonEmpty)
    }
  }

  /** Shift all timestamps by a signed duration; monotone, so ordering is
    * preserved by construction (≙ shift / lookBackwardClock / lookForwardClock). */
  def shift(df: DataFrame, duration: String, forward: Boolean = true): DataFrame = {
    val ns = parseDuration(duration)
    df.withColumn(TimeColumn, col(TimeColumn) + lit(if (forward) ns else -ns))
  }

  /** Recompute the time column from an expression, then restore ordering (≙ setTime). */
  def setTime(df: DataFrame, expr: Column): DataFrame =
    orderByTime(df.withColumn(TimeColumn, expr.cast(LongType)))

  /**
   * Debug assertion that the frame is globally time-sorted under its current
   * layout (≙ validate, TimeSeriesRDD.scala:1872-1893). Single cheap
   * mapPartitions pass (no shuffle): per partition checks pairwise
   * monotonicity and collects (min, max) time; the driver then checks that
   * partition ranges, in partition-id order, do not overlap — which is what
   * globally-sorted means for a range-partitioned layout.
   */
  def validate(df: DataFrame): Unit = {
    val timeIdx = df.schema.fieldIndex(TimeColumn)
    val perPart = df.queryExecution.toRdd.mapPartitionsWithIndex { (pid, it) =>
      var bad = 0L; var n = 0L
      var mn = Long.MaxValue; var mx = Long.MinValue; var prev = Long.MinValue
      while (it.hasNext) {
        val t = it.next().getLong(timeIdx)
        if (t < prev) bad += 1
        prev = t; n += 1
        if (t < mn) mn = t
        if (t > mx) mx = t
      }
      Iterator.single((pid, n, bad, mn, mx))
    }.collect().sortBy(_._1)
    val outOfOrder = perPart.map(_._3).sum
    require(outOfOrder == 0, s"$outOfOrder rows out of time order within partitions")
    val nonEmpty = perPart.filter(_._2 > 0)
    nonEmpty.sliding(2).foreach {
      case Array((p1, _, _, _, mx1), (p2, _, _, mn2, _)) =>
        require(mx1 <= mn2,
          s"partition $p1 max time $mx1 overlaps partition $p2 min time $mn2")
      case _ =>
    }
  }

  // ---------------------------------------------------------------- clocks

  /** Evenly spaced `time`-only table over [begin, end] step `frequency`
    * (≙ Clocks.uniform, Clocks.scala:44-89). Distributed via spark.range.
    * `offset` shifts the first tick to `begin + offset % frequency` and
    * ticks stay bounded by `end` (reference semantics: "specifying an
    * offset greater than the frequency is the same as offset %
    * frequency"). `endInclusive = false` drops a tick landing exactly on
    * `end` (the reference's endInclusive flag).
    *
    * Deliberate leniency vs the reference: flint's Clock.firstTick
    * `require(first < end)` THROWS when the offset lands the first tick on
    * or past `end`; here `first == end` yields that single tick and
    * `first > end` an empty clock — degenerate ranges are data, not
    * errors. The python binding documents and pins the same choice. */
  def uniformClock(spark: SparkSession, beginNanos: Long, endNanos: Long,
                   frequency: String, offset: String = "0ns",
                   endInclusive: Boolean = true): DataFrame = {
    val step = parseDuration(frequency)
    require(step > 0, s"frequency must be positive: $frequency")
    require(endNanos >= beginNanos, s"end ($endNanos) must be >= begin ($beginNanos)")
    val off = parseDuration(offset) % step
    require(off >= 0, s"offset must be non-negative: $offset")
    val first = beginNanos + off
    val n0 = if (first > endNanos) 0L else (endNanos - first) / step + 1
    // the only tick endInclusive can remove is the one AT end exactly
    val n = if (!endInclusive && n0 > 0 && first + (n0 - 1) * step == endNanos)
      n0 - 1 else n0
    spark.range(n).select((lit(first) + col("id") * step).as(TimeColumn))
  }

  /** Merge two same-schema time-series tables preserving order; ties keep
    * left rows first via a source-rank column (≙ merge, Merge.scala:27-77). */
  def merge(left: DataFrame, right: DataFrame): DataFrame = {
    val lf = left.schema.fields.map(f => (f.name, f.dataType)).toSeq
    val rf = right.schema.fields.map(f => (f.name, f.dataType)).toSeq
    require(lf == rf, {
      val mismatch = lf.zipAll(rf, null, null).filter { case (a, b) => a != b }
      s"merge requires identical schemas (name and type); mismatching fields: " +
        mismatch.map { case (a, b) => s"left=$a right=$b" }.mkString(", ")
    })
    val l = left.withColumn("__src", lit(0))
    val r = right.withColumn("__src", lit(1))
    l.unionAll(r)
      .repartitionByRange(col(TimeColumn))
      .sortWithinPartitions(TimeColumn, "__src")
      .drop("__src")
  }
}
