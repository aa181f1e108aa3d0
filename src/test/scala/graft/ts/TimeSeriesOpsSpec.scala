package graft.ts

import graft.SparkTestBase
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.types._

/** Core row/column operator semantics (≙ the reference's
  * TimeSeriesRDDSpec.scala cases: canonize precision, refuse-time rules,
  * merge tie order, validate invariants). */
class TimeSeriesOpsSpec extends SparkTestBase {
  import spark.implicits._

  behavior of "canonize"

  it should "rename a Long time column, move it first and keep values" in {
    val df = Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("x", "name", "t")
    val out = TimeSeriesOps.canonize(df, "t")
    out.columns.toSeq shouldBe Seq("time", "x", "name")
    out.select("time").as[Long].collect().sorted shouldBe Array(10L, 20L)
  }

  it should "scale integral time by unitToNanos" in {
    val df = Seq((7L, 1)).toDF("t", "v") // t in millis
    val out = TimeSeriesOps.canonize(df, "t", unitToNanos = 1000000L)
    out.select("time").as[Long].head() shouldBe 7000000L
  }

  it should "convert timestamps to long nanos (micro precision)" in {
    val df = Seq("2024-01-01 00:00:00.000001").toDF("s")
      .select(F.to_timestamp($"s").as("t"))
    val out = TimeSeriesOps.canonize(df, "t")
    out.select("time").as[Long].head() shouldBe 1704067200000001000L
  }

  it should "convert dates to long nanos at midnight UTC" in {
    val df = Seq("2024-01-02").toDF("s").select(F.to_date($"s").as("t"))
    val out = TimeSeriesOps.canonize(df, "t")
    out.select("time").as[Long].head() shouldBe
      (1704067200L + 86400L) * 1000000000L
  }

  it should "reject a missing time column" in {
    val df = Seq((1L, 2L)).toDF("a", "b")
    an[IllegalArgumentException] should be thrownBy TimeSeriesOps.canonize(df, "t")
  }

  it should "reject an unsupported time type" in {
    val df = Seq(("x", 1L)).toDF("t", "v")
    an[IllegalArgumentException] should be thrownBy TimeSeriesOps.canonize(df, "t")
  }

  behavior of "between"

  it should "be begin-inclusive and end-exclusive" in {
    val df = Seq(5L, 10L, 14L, 15L).toDF("time")
    TimeSeriesOps.between(df, 10L, 15L).as[Long].collect().sorted shouldBe
      Array(10L, 14L)
  }

  behavior of "column ops"

  it should "keepColumns always retains time" in {
    val df = Seq((1L, "a", 2.0)).toDF("time", "k", "v")
    TimeSeriesOps.keepColumns(df, "v").columns.toSeq shouldBe Seq("time", "v")
  }

  it should "deleteColumns refuses to drop time" in {
    val df = Seq((1L, "a")).toDF("time", "k")
    an[IllegalArgumentException] should be thrownBy
      TimeSeriesOps.deleteColumns(df, "time")
    TimeSeriesOps.deleteColumns(df, "k").columns.toSeq shouldBe Seq("time")
  }

  it should "renameColumns refuses time and duplicate targets" in {
    val df = Seq((1L, "a", "b")).toDF("time", "x", "y")
    an[IllegalArgumentException] should be thrownBy
      TimeSeriesOps.renameColumns(df, "time" -> "t2")
    an[IllegalArgumentException] should be thrownBy
      TimeSeriesOps.renameColumns(df, "x" -> "y")
    TimeSeriesOps.renameColumns(df, "x" -> "z").columns.toSeq shouldBe
      Seq("time", "z", "y")
  }

  it should "castColumns casts values and refuses time" in {
    val df = Seq((1L, "3")).toDF("time", "v")
    an[IllegalArgumentException] should be thrownBy
      TimeSeriesOps.castColumns(df, "time" -> IntegerType)
    val out = TimeSeriesOps.castColumns(df, "v" -> IntegerType)
    out.schema("v").dataType shouldBe IntegerType
    out.select("v").as[Int].head() shouldBe 3
  }

  it should "shift moves timestamps by a signed duration" in {
    val df = Seq(100L).toDF("time")
    TimeSeriesOps.shift(df, "50ns").as[Long].head() shouldBe 150L
    TimeSeriesOps.shift(df, "50ns", forward = false).as[Long].head() shouldBe 50L
  }

  it should "setTime recomputes time and restores global order" in {
    val df = Seq((10L, 1), (20L, 2), (30L, 3)).toDF("time", "v")
    val out = TimeSeriesOps.setTime(df, F.lit(100L) - $"time")
    out.select("time").as[Long].collect().sorted shouldBe Array(70L, 80L, 90L)
    TimeSeriesOps.validate(out) // must not throw
  }

  it should "keepRows/deleteRows filter via row closures" in {
    val df = Seq((1L, 5), (2L, 10), (3L, 15)).toDF("time", "v")
    TimeSeriesOps.keepRows(df, r => r.getInt(1) > 7).count() shouldBe 2
    TimeSeriesOps.deleteRows(df, r => r.getInt(1) > 7).count() shouldBe 1
  }

  it should "addColumns and addRowColumn compute new columns" in {
    val df = Seq((1L, 2)).toDF("time", "v")
    val out = TimeSeriesOps.addColumns(df, "twice" -> ($"v" * 2))
    out.select("twice").as[Int].head() shouldBe 4
    val out2 = TimeSeriesOps.addRowColumn(df, "sum", LongType,
      r => r.getLong(0) + r.getInt(1))
    out2.select("sum").as[Long].head() shouldBe 3L
  }

  behavior of "merge"

  it should "require identical schemas" in {
    val l = Seq((1L, "a")).toDF("time", "x")
    val r = Seq((1L, 2)).toDF("time", "x")
    an[IllegalArgumentException] should be thrownBy TimeSeriesOps.merge(l, r)
  }

  it should "union both sides and keep left rows first on time ties" in {
    val l = Seq((10L, "left")).toDF("time", "who")
    val r = Seq((10L, "right"), (5L, "right")).toDF("time", "who")
    val rows = TimeSeriesOps.merge(l, r).collect()
    rows.length shouldBe 3
    // per-partition order after range partition + sort: 5, then (10,left),(10,right)
    val at10 = rows.filter(_.getLong(0) == 10L).map(_.getString(1))
    at10 shouldBe Array("left", "right")
  }

  behavior of "uniformClock"

  it should "generate inclusive evenly spaced ticks" in {
    val out = TimeSeriesOps.uniformClock(spark, 0L, 10L, "2ns")
    out.as[Long].collect().sorted shouldBe Array(0L, 2L, 4L, 6L, 8L, 10L)
  }

  it should "reject a non-positive frequency and inverted range" in {
    an[IllegalArgumentException] should be thrownBy
      TimeSeriesOps.uniformClock(spark, 0L, 10L, "0ns")
    an[IllegalArgumentException] should be thrownBy
      TimeSeriesOps.uniformClock(spark, 10L, 0L, "1ns")
  }

  it should "apply reference offset semantics: first tick begin + offset % frequency, bounded by end" in {
    TimeSeriesOps.uniformClock(spark, 0L, 10L, "2ns", offset = "1ns")
      .as[Long].collect().sorted shouldBe Array(1L, 3L, 5L, 7L, 9L)
    // offset >= frequency wraps (Clocks.scala offset % frequency note)
    TimeSeriesOps.uniformClock(spark, 0L, 10L, "2ns", offset = "5ns")
      .as[Long].collect().sorted shouldBe Array(1L, 3L, 5L, 7L, 9L)
    // offset past end: empty clock, never an out-of-range tick
    TimeSeriesOps.uniformClock(spark, 0L, 3L, "10ns", offset = "4ns")
      .count() shouldBe 0L
  }

  it should "drop only the exactly-at-end tick when endInclusive = false" in {
    TimeSeriesOps.uniformClock(spark, 0L, 10L, "2ns", endInclusive = false)
      .as[Long].collect().sorted shouldBe Array(0L, 2L, 4L, 6L, 8L)
    // last tick NOT at end: endInclusive has no effect
    TimeSeriesOps.uniformClock(spark, 0L, 9L, "2ns", endInclusive = false)
      .as[Long].collect().sorted shouldBe Array(0L, 2L, 4L, 6L, 8L)
  }

  behavior of "fromDF"

  it should "sort unsorted input and trust sorted input without a shuffle" in {
    val raw = Seq((5L, "c"), (1L, "a"), (3L, "b")).toDF("t", "v")
    val sorted = TimeSeriesOps.fromDF(raw, isSorted = false, timeCol = "t")
    sorted.columns.head shouldBe "time"
    sorted.select("time").collect().map(_.getLong(0)) shouldBe Array(1L, 3L, 5L)
    // trust path: no Exchange in the plan (the reference's fromSortedDF)
    val pre = Seq((1L, "a"), (3L, "b"), (5L, "c")).toDF("t", "v")
    val trusted = TimeSeriesOps.fromDF(pre, isSorted = true, timeCol = "t")
    trusted.queryExecution.executedPlan.toString should not include "Exchange"
    noException should be thrownBy TimeSeriesOps.validate(trusted.coalesce(1))
  }

  behavior of "validate"

  it should "pass on a range-partitioned sorted frame" in {
    val df = TimeSeriesOps.orderByTime(
      Seq(5L, 3L, 9L, 1L, 7L).toDF("time"))
    noException should be thrownBy TimeSeriesOps.validate(df)
  }

  it should "fail on out-of-order rows within a partition" in {
    val df = Seq(3L, 1L, 2L).toDF("time").coalesce(1)
    an[IllegalArgumentException] should be thrownBy TimeSeriesOps.validate(df)
  }

  behavior of "coalesce"

  it should "merge only adjacent partitions, preserving global time order" in {
    // Spark's Dataset.coalesce groups partitions by locality and can
    // interleave non-adjacent time ranges; ours must not (regression:
    // caught by validate() on the sf0.01 events table).
    val df = TimeSeriesOps.orderByTime(
      Seq.tabulate(64)(i => (i * 37 % 64).toLong).toDF("time"), 8)
    for (n <- Seq(1, 3, 7)) {
      val c = TimeSeriesOps.coalesce(df, n)
      c.rdd.getNumPartitions should be <= n
      noException should be thrownBy TimeSeriesOps.validate(c)
      c.count() shouldBe 64
    }
  }

  behavior of "parseDuration"

  it should "parse ns/ms/s/m/h/d duration strings" in {
    TimeSeriesOps.parseDuration("250ns") shouldBe 250L
    TimeSeriesOps.parseDuration("1ms") shouldBe 1000000L
    TimeSeriesOps.parseDuration("2s") shouldBe 2000000000L
    TimeSeriesOps.parseDuration("1d") shouldBe 86400000000000L
  }

  behavior of "fromJsonl"

  it should "roundtrip a document corpus and range-filter a timed one" in {
    val dir = java.nio.file.Files.createTempDirectory("graft_jsonl").toString
    try {
      // document-shaped (no time axis): passes through untouched
      val docs = Seq((1L, "hello\nworld"), (2L, "x \"quoted\" y"))
        .toDF("doc_id", "text")
      docs.write.mode("overwrite").json(s"$dir/docs")
      val back = Sources.fromJsonl(spark, s"$dir/docs", Some(docs.schema))
        .orderBy("doc_id").collect()
      back.map(_.getLong(0)).toSeq shouldBe Seq(1L, 2L)
      back(0).getString(1) shouldBe "hello\nworld"
      back(1).getString(1) shouldBe "x \"quoted\" y"
      // timed corpus: canonized + range via the builder terminal
      Seq((5L, "a"), (15L, "b"), (25L, "c")).toDF("time", "v")
        .write.mode("overwrite").json(s"$dir/timed")
      Sources.read(spark).range(10L, 20L).jsonl(s"$dir/timed")
        .select("v").as[String].collect().toSeq shouldBe Seq("b")
      // builder on the doc corpus: no time column, no range, columns kept
      Sources.read(spark).columns("doc_id").jsonl(s"$dir/docs")
        .columns.toSeq shouldBe Seq("doc_id")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  behavior of "ReadBuilder.expand"

  it should "widen the read range on both parquet and csv paths" in {
    val dir = java.nio.file.Files.createTempDirectory("graft_expand").toString
    try {
      val rows = Seq(5L, 10L, 15L, 20L, 25L).map(t => (t, t * 2))
      rows.toDF("time", "v").write.mode("overwrite").parquet(s"$dir/p")
      rows.toDF("time", "v").write.mode("overwrite")
        .option("header", "true").csv(s"$dir/c")

      // Unexpanded [10, 20) keeps {10, 15}; expand(5ns, 5ns) → [5, 25)
      // keeps {5, 10, 15, 20}.
      def times(df: org.apache.spark.sql.DataFrame): Seq[Long] =
        df.select("time").as[Long].collect().toSeq.sorted

      times(Sources.read(spark).range(10L, 20L).parquet(s"$dir/p")) shouldBe
        Seq(10L, 15L)
      times(Sources.read(spark).range(10L, 20L).expand("5ns", "5ns")
        .parquet(s"$dir/p")) shouldBe Seq(5L, 10L, 15L, 20L)
      // One-sided expand widens only that side.
      times(Sources.read(spark).range(10L, 20L).expand(endDur = "5ns")
        .parquet(s"$dir/p")) shouldBe Seq(10L, 15L, 20L)
      times(Sources.read(spark).range(10L, 20L).expand("5ns", "5ns")
        .csv(s"$dir/c")) shouldBe Seq(5L, 10L, 15L, 20L)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  behavior of "ReadBuilder.schema"

  it should "read parquet, csv and jsonl with the given schema instead of inferring one" in {
    val dir = java.nio.file.Files.createTempDirectory("graft_schema").toString
    try {
      val rows = Seq((5L, "1", 7.5), (15L, "2", 8.5)).toDF("time", "w", "x")
      rows.write.parquet(s"$dir/p")
      rows.write.option("header", "true").csv(s"$dir/c")
      rows.write.json(s"$dir/j")
      val fixed = org.apache.spark.sql.types.StructType.fromDDL(
        "time BIGINT, w STRING")
      // inference would give every file column, and `w` as an int in csv
      Seq(Sources.read(spark).schema(fixed).parquet(s"$dir/p"),
          Sources.read(spark).schema(fixed).csv(s"$dir/c"),
          Sources.read(spark).schema(fixed).jsonl(s"$dir/j")).foreach { df =>
        df.schema.map(f => f.name -> f.dataType.simpleString) shouldBe
          Seq("time" -> "bigint", "w" -> "string")
        df.select("w").as[String].collect().sorted shouldBe Array("1", "2")
      }
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  behavior of "writeTimePartitioned / fromTimePartitioned"

  it should "round-trip through bucket directories with exact range semantics" in {
    val dir = java.nio.file.Files.createTempDirectory("graft_tp").toString
    try {
      val rows = Seq(-15L, -5L, 5L, 15L, 25L).map(t => (t, t * 2))
      Sources.writeTimePartitioned(rows.toDF("time", "v"), s"$dir/t",
        granularity = "10ns", mode = "overwrite")
      // floorDiv bucketing is negative-safe: -15 → bucket -2, -5 → -1
      new java.io.File(s"$dir/t").list().filter(_.startsWith("time_bucket="))
        .sorted shouldBe Array("time_bucket=-1", "time_bucket=-2",
        "time_bucket=0", "time_bucket=1", "time_bucket=2")
      val out = Sources.fromTimePartitioned(spark, s"$dir/t",
        granularity = "10ns", beginNanos = Some(-10L), endNanos = Some(20L))
      out.columns should not contain Sources.BucketColumn
      out.select("time", "v").as[(Long, Long)].collect().sortBy(_._1) shouldBe
        Array((-5L, -10L), (5L, 10L), (15L, 30L))
      // the fluent builder terminal reaches the same reader: [-5, 15)
      // expands to [-10, 20), keeping {-5, 5, 15} (15 only via expand)
      Sources.read(spark).range(-5L, 15L).expand("5ns", "5ns")
        .timePartitioned(s"$dir/t", "10ns")
        .select("time").as[Long].collect().sorted shouldBe
        Array(-5L, 5L, 15L)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  it should "persist granularity metadata and fail loudly on mismatch" in {
    val dir = java.nio.file.Files.createTempDirectory("graft_tpm").toString
    try {
      val rows = Seq(5L, 15L, 25L).map(t => (t, t * 2))
      Sources.writeTimePartitioned(rows.toDF("time", "v"), s"$dir/t",
        granularity = "10ns", mode = "overwrite")
      new java.io.File(s"$dir/t/_graft_store.json").exists() shouldBe true
      // omitted granularity adopts the store's (NOT the pre-metadata 1d
      // default, which here would collapse every row into bucket 0)
      Sources.fromTimePartitioned(spark, s"$dir/t",
        beginNanos = Some(10L), endNanos = Some(20L))
        .select("time").as[Long].collect() shouldBe Array(15L)
      // a mismatched explicit granularity is data loss, not a preference
      val readErr = intercept[IllegalArgumentException] {
        Sources.fromTimePartitioned(spark, s"$dir/t", granularity = "7ns")
      }
      readErr.getMessage should include("granularity")
      // appending with a different granularity would mix bucket layouts
      val writeErr = intercept[IllegalArgumentException] {
        Sources.writeTimePartitioned(rows.toDF("time", "v"), s"$dir/t",
          granularity = "7ns", mode = "append")
      }
      writeErr.getMessage should include("granularity")
      // overwrite with a new granularity replaces the store AND its metadata
      Sources.writeTimePartitioned(rows.toDF("time", "v"), s"$dir/t",
        granularity = "20ns", mode = "overwrite")
      Sources.readStoreMeta(spark, s"$dir/t").map(_.granularityNanos) shouldBe Some(20L)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }
}
