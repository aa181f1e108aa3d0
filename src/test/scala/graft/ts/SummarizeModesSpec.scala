package graft.ts

import graft.SparkTestBase
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.types._

/**
 * The five aggregation modes: cycles, intervals (full inclusion×rounding
 * matrix incl. boundary-equality cases ≙ Intervalize.roundFn's 4 branches),
 * sliding windows (closed endpoints), running summaries, cycle UDF columns.
 */
class SummarizeModesSpec extends SparkTestBase {
  import spark.implicits._

  behavior of "summarizeCycles / groupByCycle"

  private lazy val cyc = Seq(
    (1L, "a", 1.0), (1L, "a", 2.0), (1L, "b", 5.0), (2L, "a", 3.0))
    .toDF("time", "k", "v")

  it should "aggregate rows sharing a timestamp per key" in {
    val out = Summarize.summarizeCycles(cyc, Summarizers.sum("v"), Seq("k"))
      .orderBy("time", "k").collect()
    out.map(r => (r.getLong(0), r.getString(1), r.getDouble(2))) shouldBe
      Array((1L, "a", 3.0), (1L, "b", 5.0), (2L, "a", 3.0))
  }

  it should "collect cycle rows as array<struct>" in {
    val out = Summarize.groupByCycle(cyc, Seq("k"))
      .orderBy("time", "k").collect()
    out.map(_.getSeq[Any](2).size) shouldBe Array(2, 1, 1)
  }

  it should "compute per-cycle closure columns positionally" in {
    val out = Summarize.addColumnsForCycle(cyc, Seq("k"),
      ("share", DoubleType, rows => {
        val tot = rows.map(_.getDouble(2)).sum
        rows.map(_.getDouble(2) / tot)
      }))
    val shares = out.orderBy("time", "k", "v").collect().map(_.getDouble(3))
    shares(0) shouldBe 1.0 / 3.0
    shares(1) shouldBe 2.0 / 3.0
  }

  it should "null-pad rows absent from Map-form cycle columns" in {
    val out = Summarize.addColumnsForCycleMap(cyc, Seq("k"),
      ("max_flag", org.apache.spark.sql.types.StringType, rows => {
        val best = rows.maxBy(_.getDouble(2))
        Map(best -> "max")
      }))
    val flagged = out.collect()
    flagged.count(_.getString(3) == "max") shouldBe 3 // one per cycle
    flagged.count(_.isNullAt(3)) shouldBe 1
  }

  behavior of "summarizeIntervals inclusion x rounding"

  // clock ticks 0,10,20; points at boundaries and interiors
  private val clock = Array(0L, 10L, 20L)
  private lazy val pts = Seq(0L, 5L, 10L, 15L, 20L, 25L)
    .map(t => (t, 1.0)).toDF("time", "v")

  private def counts(inclusion: String, rounding: String): Map[Long, Long] =
    Intervals.summarizeIntervals(pts, clock, Summarizers.count(), Seq.empty,
      inclusion, rounding)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  it should "bucket [b,e) stamped with end" in {
    counts("begin", "end") shouldBe Map(10L -> 2L, 20L -> 2L)
  }

  it should "bucket [b,e) stamped with begin" in {
    counts("begin", "begin") shouldBe Map(0L -> 2L, 10L -> 2L)
  }

  it should "bucket (b,e] stamped with end" in {
    counts("end", "end") shouldBe Map(10L -> 2L, 20L -> 2L)
  }

  it should "bucket (b,e] stamped with begin" in {
    counts("end", "begin") shouldBe Map(0L -> 2L, 10L -> 2L)
  }

  it should "assign interior points identically under both inclusions" in {
    // 5 and 15 are interior: same bucket regardless of inclusion
    val be = counts("begin", "end"); val ee = counts("end", "end")
    be.values.sum shouldBe 4
    ee.values.sum shouldBe 4
  }

  it should "reject clocks with Long.MinValue ticks or non-increasing ticks" in {
    an[IllegalArgumentException] should be thrownBy
      Intervals.intervalize(pts, Array(Long.MinValue, 0L))
    an[IllegalArgumentException] should be thrownBy
      Intervals.intervalize(pts, Array(5L, 5L))
  }

  it should "group interval rows via groupByInterval" in {
    val out = Intervals.groupByInterval(pts, clock)
      .orderBy("time").collect()
    out.map(r => (r.getLong(0), r.getSeq[Any](1).size)) shouldBe
      Array((10L, 2), (20L, 2))
  }

  behavior of "summarizeWindows / addWindows"

  private lazy val ser = Seq(1L, 2L, 3L, 4L, 5L).map(t => (t, t.toDouble))
    .toDF("time", "v")

  it should "aggregate the closed past window [t-2, t]" in {
    val out = WindowOps.summarizeWindows(ser, WindowOps.TimeWindow(-2L, 0L, "p"),
      Summarizers.sum("v"))
      .orderBy("time").collect().map(_.getDouble(2))
    out shouldBe Array(1.0, 3.0, 6.0, 9.0, 12.0)
  }

  it should "aggregate the closed future window [t, t+2]" in {
    val out = WindowOps.summarizeWindows(ser, WindowOps.TimeWindow(0L, 2L, "f"),
      Summarizers.sum("v"))
      .orderBy("time").collect().map(_.getDouble(2))
    out shouldBe Array(6.0, 9.0, 12.0, 9.0, 5.0)
  }

  it should "parse pastAbsoluteTime/futureAbsoluteTime specs" in {
    WindowOps.pastAbsoluteTime("1d") shouldBe
      WindowOps.TimeWindow(-86400000000000L, 0L, "past_1d")
    WindowOps.futureAbsoluteTime("2s") shouldBe
      WindowOps.TimeWindow(0L, 2000000000L, "future_2s")
  }

  it should "aggregate row-count frames regardless of time gaps" in {
    // irregular gaps: a rows frame counts rows, not time
    val gapped = Seq((1L, 1.0), (2L, 2.0), (100L, 3.0), (101L, 4.0))
      .toDF("time", "v")
    val past = WindowOps.summarizeWindows(gapped, WindowOps.pastRows(1),
      Summarizers.sum("v"))
      .orderBy("time").collect().map(_.getDouble(2))
    past shouldBe Array(1.0, 3.0, 5.0, 7.0)
    val future = WindowOps.summarizeWindows(gapped, WindowOps.futureRows(2),
      Summarizers.sum("v"))
      .orderBy("time").collect().map(_.getDouble(2))
    future shouldBe Array(6.0, 9.0, 7.0, 4.0)
  }

  it should "order row frames deterministically with tieBreak columns" in {
    val tied = Seq((1L, 10L, 1.0), (1L, 11L, 2.0), (1L, 12L, 4.0))
      .toDF("time", "id", "v")
    val out = WindowOps.summarizeWindows(tied, WindowOps.pastRows(1),
      Summarizers.sum("v"), tieBreak = Seq("id"))
      .orderBy("id").collect().map(_.getDouble(3))
    out shouldBe Array(1.0, 3.0, 6.0)
  }

  it should "collect window rows via addWindows" in {
    val out = WindowOps.addWindows(ser, WindowOps.pastAbsoluteTime("2ns"))
      .orderBy("time").collect()
    out.map(_.getSeq[Any](2).size) shouldBe Array(1, 2, 3, 3, 3)
  }

  it should "append running aggregates via addSummaryColumns" in {
    val df = Seq((1L, "a", 1.0), (2L, "a", 2.0), (1L, "b", 5.0), (3L, "a", 3.0))
      .toDF("time", "k", "v")
    val out = WindowOps.addSummaryColumns(df, Summarizers.sum("v"), Seq("k"))
      .orderBy("k", "time").collect().map(_.getDouble(3))
    out shouldBe Array(1.0, 3.0, 6.0, 5.0)
  }

  it should "append window, running and computed columns in Summarizer.names order" in {
    // six outputs: more than Scala's ordered small Maps hold
    val df = Seq((1L, "a", 1.0, 2.0), (2L, "a", 2.0, 3.0)).toDF("time", "k", "x", "y")
    val s = Summarizers.count() ++ Summarizers.sum("x") ++ Summarizers.mean("x") ++
      Summarizers.stddev("x") ++ Summarizers.sum("y") ++ Summarizers.mean("y")
    val base = Seq("time", "k", "x", "y")
    s.names shouldBe Seq("count", "x_sum", "x_mean", "x_stddev", "y_sum", "y_mean")
    WindowOps.summarizeWindows(df, WindowOps.pastAbsoluteTime("1ns"), s, Seq("k"))
      .columns.toSeq shouldBe base ++ s.names
    WindowOps.addSummaryColumns(df, s, Seq("k")).columns.toSeq shouldBe base ++ s.names
    val cols = (1 to 6).map(i => s"c$i" -> F.lit(i))
    TimeSeriesOps.addColumns(df, cols: _*).columns.toSeq shouldBe base ++ cols.map(_._1)
  }

  behavior of "addLagSum"

  it should "split core-window and lag-band sums like the reference's overlappable LagSum" in {
    // times 0..5 with value = time+1; window 2ns, lag 2ns:
    // at t=4: core [2,4] -> 3+4+5 = 12, band [0,2) -> 1+2 = 3
    val df = (0L to 5L).map(t => (t, (t + 1).toDouble)).toDF("time", "v")
    val out = WindowOps.addLagSum(df, "v", window = "2ns", lag = "2ns")
      .orderBy("time").collect()
      .map(r => (r.getLong(0), r.getDouble(2), r.getDouble(3)))
    out shouldBe Array(
      (0L, 1.0, 0.0),          // band empty -> 0.0, never null
      (1L, 3.0, 0.0),
      (2L, 6.0, 0.0),          // band [-2,0) holds nothing at or before -1
      (3L, 9.0, 1.0),          // band [-1,1) -> t=0
      (4L, 12.0, 3.0),         // band [0,2) -> t=0,1
      (5L, 15.0, 5.0))         // core [3,5] -> 4+5+6, band [1,3) -> 2+3
  }

  it should "respect keys and reject a zero lag" in {
    val df = Seq((0L, "a", 1.0), (1L, "b", 10.0), (2L, "a", 2.0))
      .toDF("time", "k", "v")
    val out = WindowOps.addLagSum(df, "v", "10ns", "10ns", key = Seq("k"))
      .orderBy("time").collect().map(_.getDouble(3))
    out shouldBe Array(1.0, 10.0, 3.0) // never mixes keys
    an[IllegalArgumentException] should be thrownBy
      WindowOps.addLagSum(df, "v", "10ns", "0ns")
  }

  behavior of "summarize with key"

  it should "stamp summarize() output with time 0 and group by key" in {
    val df = Seq((5L, "a", 1.0), (6L, "b", 2.0), (7L, "a", 3.0))
      .toDF("time", "k", "v")
    val out = Summarize.summarize(df, Summarizers.sum("v"), Seq("k"))
      .orderBy("k").collect()
    out.map(r => (r.getLong(0), r.getString(1), r.getDouble(2))) shouldBe
      Array((0L, "a", 4.0), (0L, "b", 2.0))
  }
}
