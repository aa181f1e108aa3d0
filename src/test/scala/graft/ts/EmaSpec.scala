package graft.ts

import graft.SparkTestBase

/**
 * EMA family vs hand-computed constants (≙ the reference's
 * ExponentialSmoothingSummarizerSpec / EWMA goldens; math spec
 * /root/reference/doc/ema.md). All expected values below are derived by
 * hand from the recurrences, not by running the engine.
 */
class EmaSpec extends SparkTestBase {
  import spark.implicits._

  private val day = 86400000000000L

  private def series(xs: Double*) =
    xs.zipWithIndex.map { case (x, i) => (i * day, "k", x) }.toDF("time", "k", "v")

  private def value(df: org.apache.spark.sql.DataFrame, col: String): Double =
    df.select(col).collect().head.getDouble(0)

  behavior of "ewma"

  it should "match the adjust-style recursion with constant periods (legacy)" in {
    // alpha=0.5: p0=1; p1=0.5*1+2=2.5; p2=0.5*2.5+3=4.25
    val out = EmaOps.ewma(series(1.0, 2.0, 3.0), "v", Seq("k"),
      alpha = 0.5, durationPerPeriod = "constant", convention = "legacy")
    approx(value(out, "v_ewma"), 4.25, 1e-12)
  }

  it should "normalize by the auxiliary series under core convention" in {
    // aux: 1, 1.5, 1.75 -> 4.25/1.75
    val out = EmaOps.ewma(series(1.0, 2.0, 3.0), "v", Seq("k"),
      alpha = 0.5, durationPerPeriod = "constant", convention = "core")
    approx(value(out, "v_ewma"), 4.25 / 1.75, 1e-12)
  }

  it should "treat day-spaced rows with 1d periods like constant periods" in {
    val out = EmaOps.ewma(series(1.0, 2.0, 3.0), "v", Seq("k"),
      alpha = 0.5, durationPerPeriod = "1d", convention = "legacy")
    approx(value(out, "v_ewma"), 4.25, 1e-9)
  }

  behavior of "exponentialSmoothing"

  it should "return x0 for a single point under core convention" in {
    // primary = interp(0,x0,priming) = a*x0; aux = a -> core = x0
    val out = EmaOps.exponentialSmoothing(series(7.5), "v", Seq("k"),
      alpha = 0.3, primingPeriods = 1.0, nanosPerPeriod = day.toDouble,
      interpolation = "current", convention = "core")
    approx(value(out, "v_ema"), 7.5, 1e-12)
  }

  it should "match the two-point closed form (current/core)" in {
    // alpha=0.5, dt=1 period: core = ((1-a)x0 + x1) / ((1-a) + 1)
    val out = EmaOps.exponentialSmoothing(series(1.0, 3.0), "v", Seq("k"),
      alpha = 0.5, primingPeriods = 1.0, nanosPerPeriod = day.toDouble,
      interpolation = "current", convention = "core")
    approx(value(out, "v_ema"), (0.5 * 1.0 + 3.0) / 1.5, 1e-12)
  }

  it should "use the previous value under previous interpolation" in {
    // legacy conv, t0=0 -> priming=0; x=[4,2,6], dt=1, alpha=0.5:
    // p after r2 = 0.5*4 = 2; after r3 = 0.5*2 + 0.5*2 = 2
    val out = EmaOps.exponentialSmoothing(series(4.0, 2.0, 6.0), "v", Seq("k"),
      alpha = 0.5, primingPeriods = 1.0, nanosPerPeriod = day.toDouble,
      interpolation = "previous", convention = "legacy")
    approx(value(out, "v_ema"), 2.0, 1e-12)
  }

  it should "parameterize by half-life" in {
    // halfLife=1d over [4,2,6] = previous/legacy alpha=0.5 case above
    val out = EmaOps.emaHalfLife(series(4.0, 2.0, 6.0), "v", Seq("k"),
      halfLife = "1d", primingPeriods = 0.0,
      interpolation = "previous", convention = "legacy")
    approx(value(out, "v_ema"), 2.0, 1e-12)
  }

  it should "skip null values like FilterNullInput" in {
    val df = Seq((0L, "k", Some(1.0)), (day, "k", None), (2 * day, "k", Some(3.0)))
      .toDF("time", "k", "v")
    val out = EmaOps.ewma(df, "v", Seq("k"),
      alpha = 0.5, durationPerPeriod = "constant", convention = "legacy")
    // nulls dropped -> [1,3]: p = 0.5*1 + 3 = 3.5
    approx(value(out, "v_ewma"), 3.5, 1e-12)
  }

  behavior of "per-row running EMA"

  it should "emit the running ewma at every row" in {
    val out = EmaOps.ewmaRows(series(1.0, 2.0, 3.0), "v", Seq("k"),
      alpha = 0.5, durationPerPeriod = "constant", convention = "legacy")
      .orderBy("time").collect().map(_.getDouble(3))
    out shouldBe Array(1.0, 2.5, 4.25)
  }

  it should "match summarize-mode EMA at the last row" in {
    val df = series(4.0, 2.0, 6.0, 1.5)
    val whole = EmaOps.exponentialSmoothing(df, "v", Seq("k"),
      alpha = 0.3, primingPeriods = 1.0, nanosPerPeriod = day.toDouble,
      interpolation = "linear", convention = "core")
      .collect().head.getDouble(2)
    val lastRow = EmaOps.exponentialSmoothingRows(df, "v", Seq("k"),
      alpha = 0.3, primingPeriods = 1.0, nanosPerPeriod = day.toDouble,
      interpolation = "linear", convention = "core")
      .orderBy("time").collect().last.getDouble(3)
    approx(lastRow, whole, 1e-9)
  }

  it should "match summarize-mode at every prefix" in {
    val xs = Seq(4.0, 2.0, 6.0, 1.5, 3.25)
    val rows = EmaOps.exponentialSmoothingRows(series(xs: _*), "v", Seq("k"),
      alpha = 0.1, primingPeriods = 1.0, nanosPerPeriod = day.toDouble,
      interpolation = "current", convention = "core")
      .orderBy("time").collect().map(_.getDouble(3))
    for (i <- 1 to xs.length) {
      val prefix = EmaOps.exponentialSmoothing(series(xs.take(i): _*), "v", Seq("k"),
        alpha = 0.1, primingPeriods = 1.0, nanosPerPeriod = day.toDouble,
        interpolation = "current", convention = "core")
        .collect().head.getDouble(2)
      approx(rows(i - 1), prefix, 1e-9)
    }
  }

  it should "preserve all input columns in rows mode" in {
    val df = Seq((0L, "k", "meta", 1.0), (day, "k", "data", 2.0))
      .toDF("time", "k", "tag", "v")
    val out = EmaOps.ewmaRows(df, "v", Seq("k"),
      alpha = 0.5, durationPerPeriod = "constant")
    out.columns.toSeq shouldBe Seq("time", "k", "tag", "v", "v_ewma")
    out.orderBy("time").collect().map(_.getString(2)) shouldBe Array("meta", "data")
  }

  it should "carry state independently per key in rows mode" in {
    val df = Seq((0L, "a", 1.0), (0L, "b", 10.0), (day, "a", 2.0), (day, "b", 20.0))
      .toDF("time", "k", "v")
    val out = EmaOps.ewmaRows(df, "v", Seq("k"),
      alpha = 0.5, durationPerPeriod = "constant", convention = "legacy")
      .orderBy("k", "time").collect().map(_.getDouble(3))
    out shouldBe Array(1.0, 2.5, 10.0, 25.0)
  }

  it should "stay parallel on keyless input and match the sequential recursion" in {
    // 64 rows, deliberately scrambled across 8 input partitions; the
    // two-pass prefix scan must (a) use > 1 output partition — the r5
    // implementation collapsed keyless input to repartition(1) — and
    // (b) still produce exactly the sequential running ewma.
    val n = 64
    val ts = (0 until n).map(i => i * day / 4)
    val xs = (0 until n).map(i => math.sin(i * 0.7) * 10 + i % 5)
    val df = ts.zip(xs).toDF("time", "v").repartition(8)
    val out = EmaOps.ewmaRows(df, "v", Seq.empty,
      alpha = 0.23, durationPerPeriod = "1d", convention = "core")
    val nonEmpty = out.rdd
      .mapPartitions(it => Iterator.single(if (it.hasNext) 1 else 0)).collect().sum
    nonEmpty should be > 1
    val got = out.orderBy("time").collect().map(_.getDouble(2))
    // sequential reference recursion
    val k = math.log(1.0 - 0.23)
    var (p, a, lastT) = (0.0, 0.0, 0L); var m = 0
    val want = ts.zip(xs).map { case (t, x) =>
      if (m == 0) { p = x; a = 1.0 }
      else {
        val d = math.exp(k * (t - lastT) / day.toDouble)
        p = d * p + x; a = d * a + 1.0
      }
      lastT = t; m += 1
      p / a
    }
    got.zip(want).foreach { case (g, w) => approx(g, w, 1e-9) }
  }

  it should "stitch a hot key spanning partitions identically to one partition" in {
    // One mega-key (plus a minor key) with enough rows that the range
    // partitioner splits the hot key across partitions; the stitched
    // result must equal the same computation forced through 1 partition.
    val n = 48
    val rows = (0 until n).map(i => (i * day / 2, "hot", i * 1.5 - 7)) ++
      Seq((3 * day, "cold", 2.0), (5 * day, "cold", 4.0))
    val df = rows.toDF("time", "k", "v").repartition(7)
    // serial baseline: 1 shuffle partition -> the whole scan is one task
    // with no stitching; parallel run uses the session default (4).
    def run(interp: String, conv: String): Array[Option[Double]] =
      EmaOps.exponentialSmoothingRows(df, "v", Seq("k"),
        alpha = 0.4, interpolation = interp, convention = conv)
        .orderBy("k", "time").collect()
        .map(r => if (r.isNullAt(3)) None else Some(r.getDouble(3)))
    for (interp <- Seq("previous", "linear", "current");
         conv <- Seq("convolution", "core", "legacy")) {
      val par = run(interp, conv)
      spark.conf.set("spark.sql.shuffle.partitions", "1")
      val ser = try run(interp, conv)
      finally spark.conf.set("spark.sql.shuffle.partitions", "4")
      par.zip(ser).foreach {
        case (Some(g), Some(w)) => approx(g, w, 1e-9)
        case (g, w) => g shouldBe w
      }
    }
  }

  it should "compose constant-period summarize ewma across partitions (keyless)" in {
    // keyless constant-mode ewma must give the sequential recursion's value
    // on scrambled multi-partition input
    val n = 40
    val xs = (0 until n).map(i => math.cos(i * 0.9) * 5 + i % 3)
    val df = xs.zipWithIndex.map { case (x, i) => (i * day, x) }
      .toDF("time", "v").repartition(8)
    val out = EmaOps.ewma(df, "v", Seq.empty, alpha = 0.3,
      durationPerPeriod = "constant", convention = "core")
      .collect().head.getDouble(1)
    var (p, a) = (0.0, 0.0); var m = 0
    xs.foreach { x =>
      if (m == 0) { p = x; a = 1.0 } else { p = 0.7 * p + x; a = 0.7 * a + 1.0 }
      m += 1
    }
    approx(out, p / a, 1e-9)
  }

  it should "agree between summarize and rows modes on equal-time ties" in {
    // duplicate timestamps: both modes must order ties by x (deterministic)
    // and therefore produce the same final value
    val df = Seq((0L, "k", 4.0), (day, "k", 2.0), (day, "k", 6.0),
      (2 * day, "k", 1.0)).toDF("time", "k", "v").repartition(3)
    for (interp <- Seq("previous", "linear", "current")) {
      val whole = EmaOps.exponentialSmoothing(df, "v", Seq("k"),
        alpha = 0.3, interpolation = interp, convention = "core")
        .collect().head.getDouble(2)
      val lastRow = EmaOps.exponentialSmoothingRows(df, "v", Seq("k"),
        alpha = 0.3, interpolation = interp, convention = "core")
        .orderBy("time", "v").collect().last.getDouble(3)
      approx(lastRow, whole, 1e-9)
    }
  }

  it should "emit no rows for empty or all-null keyless input" in {
    val empty = Seq.empty[(Long, Double)].toDF("time", "v")
    EmaOps.ewma(empty, "v", alpha = 0.5).count() shouldBe 0
    EmaOps.exponentialSmoothing(empty, "v").count() shouldBe 0
    val allNull = Seq((0L, None: Option[Double])).toDF("time", "v")
    EmaOps.ewma(allNull, "v", alpha = 0.5).count() shouldBe 0
  }

  it should "emit no row for a key whose values are all null, in both period modes" in {
    val df = Seq((0L, "a", Some(1.0)), (day, "a", Some(2.0)),
      (0L, "b", None: Option[Double]), (day, "b", None))
      .toDF("time", "k", "v")
    for (period <- Seq("constant", "1d")) {
      val out = EmaOps.ewma(df, "v", Seq("k"), alpha = 0.5,
        durationPerPeriod = period, convention = "legacy").collect()
      withClue(s"$period: ") {
        out.map(_.getString(1)) shouldBe Array("a")
        approx(out.head.getDouble(2), 2.5, 1e-12)
      }
    }
  }

  it should "compute one value per key group" in {
    val df = Seq((0L, "a", 1.0), (0L, "b", 10.0), (day, "a", 2.0), (day, "b", 20.0))
      .toDF("time", "k", "v")
    val out = EmaOps.ewma(df, "v", Seq("k"),
      alpha = 0.5, durationPerPeriod = "constant", convention = "legacy")
      .orderBy("k").collect()
    out.map(_.getString(1)) shouldBe Array("a", "b")
    approx(out(0).getDouble(2), 2.5, 1e-12)
    approx(out(1).getDouble(2), 25.0, 1e-12)
  }
}
