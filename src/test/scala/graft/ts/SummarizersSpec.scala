package graft.ts

import graft.SparkTestBase
import org.apache.spark.sql.{functions => F}

/**
 * Summarizer library vs independently computed (two-pass, test-side)
 * statistics — a different algorithm than the engine's one-pass power sums,
 * so agreement is a real cross-check (≙ the reference's per-summarizer
 * specs under timeseries/summarize/summarizer/).
 */
class SummarizersSpec extends SparkTestBase {
  import spark.implicits._

  // time, x, y, w
  private val data = Seq(
    (1L, 1.0, 2.0, 1.0),
    (2L, 2.0, 4.0, 2.0),
    (3L, 3.0, 5.0, 3.0),
    (4L, 4.0, 9.0, 4.0))
  private lazy val df = data.toDF("time", "x", "y", "w")

  private val xs = data.map(_._2)
  private val ys = data.map(_._3)
  private val ws = data.map(_._4)
  private val n = xs.length

  // test-side two-pass reference stats
  private def mean(v: Seq[Double]) = v.sum / v.length
  private def sampleVar(v: Seq[Double]) = {
    val m = mean(v); v.map(x => (x - m) * (x - m)).sum / (v.length - 1)
  }
  private def sampleCov(a: Seq[Double], b: Seq[Double]) = {
    val (ma, mb) = (mean(a), mean(b))
    a.zip(b).map { case (x, y) => (x - ma) * (y - mb) }.sum / (a.length - 1)
  }
  // reference convention (CorrelationState.render): coMoment / n, no Bessel
  private def popCov(a: Seq[Double], b: Seq[Double]) =
    sampleCov(a, b) * (a.length - 1) / a.length

  private def one(s: Summarizer): org.apache.spark.sql.Row =
    Summarize.summarize(df, s).collect().head

  it should "compute count/sum/mean/min/max" in {
    val r = one(Summarizers.count() ++ Summarizers.sum("x") ++
      Summarizers.mean("x") ++ Summarizers.min("x") ++ Summarizers.max("x"))
    r.getLong(1) shouldBe 4L          // count
    approx(r.getDouble(2), 10.0)      // x_sum
    approx(r.getDouble(3), 2.5)       // x_mean
    r.getDouble(4) shouldBe 1.0       // x_min
    r.getDouble(5) shouldBe 4.0       // x_max
  }

  it should "compute Bessel-corrected variance and stddev" in {
    val r = one(Summarizers.variance("x") ++ Summarizers.stddev("x"))
    approx(r.getDouble(1), sampleVar(xs))
    approx(r.getDouble(2), math.sqrt(sampleVar(xs)))
  }

  it should "compute population covariance and Pearson correlation with t-stat" in {
    val r = one(Summarizers.covariance("x", "y") ++ Summarizers.correlation("x", "y"))
    approx(r.getDouble(1), popCov(xs, ys))
    val rho = sampleCov(xs, ys) / math.sqrt(sampleVar(xs) * sampleVar(ys))
    approx(r.getDouble(2), rho, 1e-9)
    approx(r.getDouble(3), rho * math.sqrt((n - 2) / (1 - rho * rho)), 1e-9)
  }

  it should "compute weighted covariance and correlation" in {
    val r = one(Summarizers.weightedCovariance("x", "y", "w") ++
      Summarizers.weightedCorrelation("x", "y", "w"))
    val sw = ws.sum
    val swsq = ws.map(w => w * w).sum
    val mx = xs.zip(ws).map { case (x, w) => x * w }.sum / sw
    val my = ys.zip(ws).map { case (y, w) => y * w }.sum / sw
    // reliability-weights unbiased estimator (reference convention):
    // coMoment / (Σw − Σw²/Σw)
    def wcov(a: Seq[Double], ma: Double, b: Seq[Double], mb: Double) =
      a.indices.map(i => ws(i) * (a(i) - ma) * (b(i) - mb)).sum /
        (sw - swsq / sw)
    val cxy = wcov(xs, mx, ys, my)
    approx(r.getDouble(1), cxy, 1e-9)
    val rho = cxy / math.sqrt(wcov(xs, mx, xs, mx) * wcov(ys, my, ys, my))
    approx(r.getDouble(2), rho, 1e-9)
  }

  it should "compute the weighted mean test block (reference semantics)" in {
    val r = one(Summarizers.weightedMeanTest("x", "w"))
    // frequency-weights variance + effective-sample-size t-stat (weights
    // here are positive, so sign folding reduces away)
    val sw = ws.sum
    val sw2 = ws.map(w => w * w).sum
    val wm = xs.zip(ws).map { case (x, w) => x * w }.sum / sw
    val coMoment = xs.zip(ws).map { case (x, w) => w * (x - wm) * (x - wm) }.sum
    val wvar = coMoment * sw / (sw * sw - sw2)
    val ess = sw * sw / sw2
    approx(r.getDouble(1), wm, 1e-9)
    approx(r.getDouble(2), math.sqrt(wvar), 1e-9)
    approx(r.getDouble(3), math.sqrt(ess) * wm / math.sqrt(wvar), 1e-9)
    r.getLong(4) shouldBe n.toLong
  }

  it should "fold negative weights and skip zero weights in weightedMeanTest (reference parity)" in {
    // v = x*sign(w), w' = |w|; zero-weight rows are not observations
    val mixed = Seq((1L, 2.0, -1.0), (2L, 3.0, 2.0), (3L, 99.0, 0.0))
      .toDF("time", "x", "w")
    val r = Summarize.summarize(mixed,
      Summarizers.weightedMeanTest("x", "w")).collect().head
    // folded values: (-2.0, w 1.0), (3.0, w 2.0); zero-weight row skipped
    approx(r.getDouble(1), (-2.0 * 1.0 + 3.0 * 2.0) / 3.0, 1e-9)
    r.getLong(4) shouldBe 2L
  }

  it should "compute in-sample and out-of-sample zScore of the latest point" in {
    val rIn = one(Summarizers.zScore("x", includeCurrent = true))
    approx(rIn.getDouble(1), (4.0 - mean(xs)) / math.sqrt(sampleVar(xs)), 1e-9)
    val rOut = one(Summarizers.zScore("x", includeCurrent = false))
    val prev = xs.init
    approx(rOut.getDouble(1), (4.0 - mean(prev)) / math.sqrt(sampleVar(prev)), 1e-9)
  }

  it should "compute raw and central moments, skewness, kurtosis" in {
    val r = one(Summarizers.nthMoment("x", 2) ++ Summarizers.nthCentralMoment("x", 2) ++
      Summarizers.skewness("x") ++ Summarizers.kurtosis("x"))
    approx(r.getDouble(1), xs.map(x => x * x).sum / n) // E[x^2] = 7.5
    val m = mean(xs)
    def cm(k: Int) = xs.map(x => math.pow(x - m, k)).sum / n
    approx(r.getDouble(2), cm(2))
    approx(r.getDouble(3), cm(3) / math.pow(cm(2), 1.5), 1e-9) // 0 (symmetric)
    approx(r.getDouble(4), cm(4) / (cm(2) * cm(2)) - 3.0, 1e-9)
  }

  it should "compute product and dotProduct" in {
    val r = one(Summarizers.product("x") ++ Summarizers.dotProduct("x", "y"))
    approx(r.getDouble(1), xs.product)
    approx(r.getDouble(2), xs.zip(ys).map { case (a, b) => a * b }.sum)
  }

  it should "compute sign/zero-aware geometric mean" in {
    val neg = Seq((1L, 2.0), (2L, -3.0), (3L, 4.0)).toDF("time", "x")
    val r = Summarize.summarize(neg, Summarizers.geometricMean("x")).collect().head
    approx(r.getDouble(1), -math.cbrt(24.0), 1e-9)
    val withZero = Seq((1L, 2.0), (2L, 0.0)).toDF("time", "x")
    val rz = Summarize.summarize(withZero, Summarizers.geometricMean("x")).collect().head
    rz.getDouble(1) shouldBe 0.0
  }

  it should "compute exact R-7 quantiles" in {
    val r = one(Summarizers.quantile("x", Seq(0.25, 0.5, 1.0)))
    approx(r.getDouble(1), 1.75) // R-7: idx 0.75 between 1 and 2
    approx(r.getDouble(2), 2.5)
    approx(r.getDouble(3), 4.0)
  }

  it should "compute bounded-memory approximate quantiles near the exact ranks" in {
    // big enough that rank-error bounds are meaningful: 0..9999
    val big = (0 until 10000).map(i => (i.toLong, i.toDouble))
      .toDF("time", "x").repartition(8)
    val r = Summarize.summarize(big,
      Summarizers.approxQuantile("x", Seq(0.25, 0.5, 0.99)))
      .collect().head
    // accuracy 10000 -> rank error ~1e-4 -> value error ~ +-2 here
    math.abs(r.getDouble(1) - 2500.0) should be <= 5.0
    math.abs(r.getDouble(2) - 5000.0) should be <= 5.0
    math.abs(r.getDouble(3) - 9900.0) should be <= 5.0
    // same output naming as the exact factory (drop-in)
    r.schema.fieldNames should contain("x_0.5quantile")
  }

  it should "fit exact OLS with intercept" in {
    // y = 3 + 2*x1 - x2, exact fit
    val pts = Seq(
      (1L, 1.0, 1.0), (2L, 2.0, 1.0), (3L, 3.0, 2.0),
      (4L, 4.0, 5.0), (5L, 5.0, 3.0), (6L, 6.0, 1.0))
      .map { case (t, x1, x2) => (t, x1, x2, 3.0 + 2.0 * x1 - x2) }
      .toDF("time", "x1", "x2", "y")
    val r = Summarize.summarize(pts,
      Summarizers.OLSRegression("y", Seq("x1", "x2"))).collect().head
    val ols = r.getStruct(1)
    ols.getLong(0) shouldBe 6L
    val beta = ols.getSeq[Double](1)
    approx(beta(0), 2.0, 1e-8)
    approx(beta(1), -1.0, 1e-8)
    approx(ols.getDouble(2), 3.0, 1e-8)  // intercept
    approx(ols.getDouble(3), 1.0, 1e-10) // rSquared
  }

  it should "stack same-schema summarizers into an array of structs" in {
    val s = Summarizers.stack(
      Summarizers.sum("x").where(F.col("x") <= 2),
      Summarizers.sum("x").where(F.col("x") > 2))
    val r = one(s)
    val arr = r.getSeq[org.apache.spark.sql.Row](1)
    arr.map(_.getDouble(0)) shouldBe Seq(3.0, 7.0)
    an[IllegalArgumentException] should be thrownBy
      Summarizers.stack(Summarizers.sum("x"), Summarizers.mean("x"))
  }

  it should "expand multi-column correlation into all pairs" in {
    val s = Summarizers.correlation(Seq("x", "y", "w"))
    s.names shouldBe Seq(
      "x_y_correlation", "x_y_correlationTStat",
      "x_w_correlation", "x_w_correlationTStat",
      "y_w_correlation", "y_w_correlationTStat")
    val r = one(s)
    // x and w are identical sequences -> r = 1
    approx(r.getDouble(3), 1.0, 1e-12)
  }

  it should "expand two-list correlation into the cross product of pairs" in {
    Summarizers.correlation(Seq("x"), Seq("y", "w")).names shouldBe Seq(
      "x_y_correlation", "x_y_correlationTStat",
      "x_w_correlation", "x_w_correlationTStat")
  }

  it should "expose the moment family's algebraic state" in {
    val r = one(Summarizers.momentsState("x"))
    r.getLong(1) shouldBe 4L
    r.getDouble(2) shouldBe 10.0
    r.getDouble(3) shouldBe 30.0   // sum x^2
    r.getDouble(4) shouldBe 100.0  // sum x^3
    r.getDouble(5) shouldBe 354.0  // sum x^4
  }

  it should "report OLS extended diagnostics on a well-posed design" in {
    val pts = Seq.tabulate(8) { i =>
      val x1 = (i + 1).toDouble; val x2 = ((i * 3) % 7).toDouble
      (i.toLong, x1, x2, 1.0 + 2.0 * x1 - x2 + 0.01 * x1 * x1)
    }.toDF("time", "x1", "x2", "y")
    val ols = Summarize.summarize(pts,
      Summarizers.OLSRegression("y", Seq("x1", "x2"))).collect().head.getStruct(1)
    val logL = ols.getDouble(8)
    approx(ols.getDouble(9), -2.0 * logL + 2.0 * 3, 1e-9)  // AIC, k = 3
    approx(ols.getDouble(10), -2.0 * logL + 3 * math.log(8.0), 1e-9)
    ols.getDouble(11) should be >= 1.0 // cond of a PSD Gram
    ols.getSeq[Int](12) shouldBe Seq.empty // no constant regressors
    // stdErr_intercept / tStat_intercept populated and consistent
    approx(ols.getDouble(2) / ols.getDouble(6), ols.getDouble(7), 1e-9)
  }

  it should "include zero-weight rows in OLS samples (reference parity)" in {
    // w = 0 contributes nothing to any weighted sum, so the fit is
    // unchanged — but the row still counts as a sample, and the ln(w)
    // diagnostics degrade to -Inf honestly (OLSRegressionSummarizer:307).
    val base = Seq.tabulate(6)(i =>
      (i.toLong, (i + 1).toDouble, 2.0 * (i + 1) + 0.1 * i * i, 1.0))
    val withZero = base :+ (99L, 1000.0, -1000.0, 0.0)
    def fit(rows: Seq[(Long, Double, Double, Double)]) =
      Summarize.summarize(rows.toDF("time", "x1", "y", "w"),
        Summarizers.OLSRegression("y", Seq("x1"), weight = Some("w")))
        .collect().head.getStruct(1)
    val a = fit(base); val b = fit(withZero)
    b.getLong(0) shouldBe (a.getLong(0) + 1) // samples counts the w=0 row
    approx(b.getSeq[Double](1).head, a.getSeq[Double](1).head, 1e-12)
    assert(b.getDouble(8).isNegInfinity) // logL degrades, fit stays valid
  }

  it should "render NaN ln(w) diagnostics when a weight is negative" in {
    // ln of a negative weight is NaN on the JVM; Spark's log would skip it.
    // The residuals e are orthogonal to [1, x], so the fit is y = 2x; the
    // w < 0 row lies on that line, keeping the fit and ssr = Σe² = 4 > 0.
    val e = Seq(1.0, -1.0, 0.0, 0.0, -1.0, 1.0)
    val rows = Seq.tabulate(6)(i =>
      (i.toLong, (i + 1).toDouble, 2.0 * (i + 1) + e(i), 1.0)) :+
      (99L, 3.5, 7.0, -0.5)
    val ols = Summarize.summarize(rows.toDF("time", "x1", "y", "w"),
      Summarizers.OLSRegression("y", Seq("x1"), weight = Some("w")))
      .collect().head.getStruct(1)
    ols.getLong(0) shouldBe 7L
    approx(ols.getSeq[Double](1).head, 2.0, 1e-9)
    approx(ols.getDouble(2), 0.0, 1e-9)
    assert(ols.getDouble(8).isNaN && ols.getDouble(9).isNaN)
  }

  it should "flag constant regressors via constantsCoordinates" in {
    val pts = Seq.tabulate(6) { i =>
      (i.toLong, (i + 1).toDouble, 7.0, 2.0 * (i + 1) + 0.1 * i * i)
    }.toDF("time", "x1", "c", "y")
    val ols = Summarize.summarize(pts,
      Summarizers.OLSRegression("y", Seq("x1", "c"))).collect().head.getStruct(1)
    ols.getSeq[Int](12) shouldBe Seq(1)
  }

  it should "serialize group rows to an Arrow batch that round-trips" in {
    import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
    import org.apache.spark.sql.graft.ArrowColumns
    val df = Seq((0L, "a", 1L, 1.5), (0L, "a", 2L, java.lang.Double.NaN),
      (0L, "b", 3L, 2.5), (1L, "a", 4L, 3.5))
      .toDF("time", "k", "id", "v")
      .withColumn("v", F.when(F.isnan($"v"), F.lit(null)).otherwise($"v"))
    val batched = Summarize.summarizeCycles(df,
      Summarizers.arrow(Seq("id", "v")), Seq("k"))
    batched.columns should contain("arrow_bytes")
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("v", DoubleType)))
    val back = batched
      .select($"time", $"k", F.explode(
        ArrowColumns.fromArrowBatch($"arrow_bytes", schema)).as("r"))
      .select($"time", $"k", $"r.id", $"r.v")
      .orderBy("id").collect()
    back.map(_.toSeq) shouldBe Array(
      Seq(0L, "a", 1L, 1.5), Seq(0L, "a", 2L, null),
      Seq(0L, "b", 3L, 2.5), Seq(1L, "a", 4L, 3.5))
    // the bytes are a REAL Arrow IPC stream: magic-free stream format
    // starts with a 4-byte continuation marker 0xFFFFFFFF + metadata size
    val bytes = batched.orderBy("time", "k").collect().head.getAs[Array[Byte]]("arrow_bytes")
    bytes.take(4).map(_ & 0xFF) shouldBe Array(0xFF, 0xFF, 0xFF, 0xFF)
  }

  it should "apply where predicates before aggregating" in {
    val r = one(Summarizers.sum("x").where(F.col("x") > 2))
    approx(r.getDouble(1), 7.0)
  }

  it should "prefix output names and compose summarizers" in {
    val s = Summarizers.sum("x").prefix("L") ++ Summarizers.count().prefix("R")
    s.names shouldBe Seq("L_x_sum", "R_count")
  }

  it should "sum exactly with Kahan compensation" in {
    val vals = Seq((1L, 1e16), (2L, 1.0), (3L, -1e16)).toDF("time", "x").coalesce(1)
    val r = Summarize.summarize(vals, Summarizers.kahanSum("x")).collect().head
    r.getDouble(1) shouldBe 1.0
  }

  it should "collect rows sorted by time via rows()" in {
    val shuffled = Seq((3L, "c"), (1L, "a"), (2L, "b")).toDF("time", "v")
    val r = Summarize.summarize(shuffled, Summarizers.rows(Seq("time", "v")))
      .collect().head
    r.getSeq[org.apache.spark.sql.Row](1).map(_.getString(1)) shouldBe
      Seq("a", "b", "c")
  }

  it should "return 0.0 geometric mean for all-zero groups" in {
    val df = Seq((1L, 0.0), (2L, 0.0)).toDF("time", "x")
    val r = Summarize.summarize(df, Summarizers.geometricMean("x")).collect().head
    r.getDouble(1) shouldBe 0.0
  }

  behavior of "summarizeState / stateOf"

  it should "expose variance's base sums and let the statistic be recomputed" in {
    val df = Seq((1L, 2.0), (2L, 4.0), (3L, 9.0)).toDF("time", "x")
    val st = Summarize.summarizeState(df, Summarizers.variance("x"))
      .collect().head
    // first-use order: count, sum, sum of squares
    st.getLong(1) shouldBe 3L                 // state_0 = n
    st.getDouble(2) shouldBe 15.0             // state_1 = Σx
    st.getDouble(3) shouldBe 101.0            // state_2 = Σx²
    val (n, s1, s2) = (3.0, 15.0, 101.0)
    val recomputed = (s2 / n - (s1 / n) * (s1 / n)) * (n / (n - 1))
    val rendered = Summarize.summarize(df, Summarizers.variance("x"))
      .collect().head.getDouble(1)
    approx(recomputed, rendered, 1e-12)
  }

  it should "capture the seven shared sums of weightedCorrelation exactly once" in {
    val df = Seq((1L, 1.0, 2.0, 1.0), (2L, 3.0, 5.0, 2.0))
      .toDF("time", "x", "y", "w")
    val s = Summarizers.stateOf(Summarizers.weightedCorrelation("x", "y", "w"))
    s.names shouldBe (0 to 6).map(i => s"state_$i")
    val st = Summarize.summarize(df, s).collect().head
    st.getDouble(1) shouldBe 3.0   // Σw
    st.getLong(2) shouldBe 2L      // n
    st.getDouble(3) shouldBe 7.0   // Σxw = 1 + 6
  }

  it should "respect where() in captured state" in {
    val df = Seq((1L, 1.0), (2L, 100.0)).toDF("time", "x")
    val st = Summarize.summarizeState(df,
      Summarizers.sum("x").where(F.col("x") < 10)).collect().head
    st.getDouble(1) shouldBe 1.0
  }

  it should "solve the normal equations from olsState's Gram buffer" in {
    // y = 1 + 2*x exactly; beta recovered from the exposed sums must be
    // [intercept, slope] = [1, 2]
    val rows = Seq.tabulate(5)(i => (i.toLong, i.toDouble, 1.0 + 2.0 * i))
    val df = rows.toDF("time", "x", "y")
    val st = Summarize.summarize(df,
      Summarizers.olsState("y", Seq("x"))).collect().head
    val n = st.getLong(1).toDouble
    n shouldBe 5.0
    st.getDouble(2) shouldBe 0.0 // Σ ln 1
    val (g00, g01, g11) = (st.getDouble(3), st.getDouble(4), st.getDouble(5))
    val (b0, b1) = (st.getDouble(6), st.getDouble(7))
    // 2x2 solve: [g00 g01; g01 g11] beta = [b0; b1]
    val det = g00 * g11 - g01 * g01
    approx((g11 * b0 - g01 * b1) / det, 1.0, 1e-9)
    approx((g00 * b1 - g01 * b0) / det, 2.0, 1e-9)
  }

  it should "exclude null inputs and non-positive weights from olsState" in {
    val df = Seq(
      (1L, Some(1.0), Some(2.0), Some(1.0)),
      (2L, Some(2.0), None, Some(1.0)),    // null x
      (3L, Some(3.0), Some(4.0), Some(0.0)), // w <= 0
      (4L, Some(4.0), Some(5.0), Some(2.0)))
      .toDF("time", "y", "x", "w")
    val st = Summarize.summarize(df,
      Summarizers.olsState("y", Seq("x"), Some("w"))).collect().head
    st.getLong(1) shouldBe 2L // only rows 1 and 4 qualify
  }

  it should "evaluate OLS over a row window like summarize over each window's rows" in {
    val rows = Seq.tabulate(10) { i =>
      val x = (i * 7 % 10).toDouble
      (i.toLong, Some(x), if (i == 5) None else Some(1.0 + 2.0 * x + 0.3 * (i % 3)),
        0.5 + (i % 4))
    }
    val pts = rows.toDF("time", "x", "y", "w")
    val ols = Summarizers.OLSRegression("y", Seq("x"), Some("w"))
    val got = WindowOps.summarizeWindows(pts, WindowOps.pastRows(3), ols)
      .orderBy("time").collect().map(_.getAs[org.apache.spark.sql.Row]("y_OLSRegression"))
    got.length shouldBe rows.length
    for (i <- rows.indices) {
      val want = Summarize.summarize(
        rows.slice(math.max(0, i - 3), i + 1).toDF("time", "x", "y", "w"), ols)
        .collect().head.getStruct(1)
      withClue(s"row $i: ") {
        got(i).getLong(0) shouldBe want.getLong(0)
        if (want.isNullAt(1)) got(i).isNullAt(1) shouldBe true
        else {
          approx(got(i).getSeq[Double](1).head, want.getSeq[Double](1).head, 1e-9)
          approx(got(i).getDouble(2), want.getDouble(2), 1e-9)
        }
      }
    }
    // the first windows hold fewer than d + 1 = 3 complete rows
    got.head.getLong(0) shouldBe 1L
    got.head.isNullAt(1) shouldBe true
  }

  it should "expose olsState's Gram sums as OLSRegression's state" in {
    val ols = Summarize.summarizeState(df,
      Summarizers.OLSRegression("y", Seq("x"), Some("w"))).collect().head
    val st = Summarize.summarize(df,
      Summarizers.olsState("y", Seq("x"), Some("w"))).collect().head
    // n, Σ ln w, 3 Gram entries, 2 X'Wy entries, y'Wy — then min w
    ols.length shouldBe st.length + 1
    ols.toSeq.take(st.length) shouldBe st.toSeq
    ols.getDouble(st.length) shouldBe 1.0
  }

  behavior of "distinctCount / approxDistinctCount"

  it should "count distinct values exactly per group" in {
    val df = Seq((1L, "k1", "a"), (2L, "k1", "b"), (3L, "k1", "a"),
      (4L, "k2", "c"), (5L, "k2", "c")).toDF("time", "k", "v")
    val out = Summarize.summarize(df, Summarizers.distinctCount("v"), Seq("k"))
      .orderBy("k").collect()
    out.map(_.getAs[Long]("v_distinctCount")).toSeq shouldBe Seq(2L, 1L)
  }

  it should "evaluate over window frames via collect_set" in {
    val df = Seq((1L, "a"), (2L, "b"), (3L, "a"), (4L, "c"))
      .toDF("time", "v")
    val out = WindowOps.addSummaryColumns(df, Summarizers.distinctCount("v"))
      .orderBy("time").collect()
    out.map(_.getAs[Long]("v_distinctCount")).toSeq shouldBe Seq(1L, 2L, 2L, 3L)
  }

  it should "honor where() and skip nulls" in {
    val df = Seq((1L, Some("a"), 1), (2L, None, 1), (3L, Some("b"), 0))
      .toDF("time", "v", "g")
    Summarize.summarize(df,
      Summarizers.distinctCount("v").where(F.col("g") === 1))
      .collect().head.getAs[Long]("v_distinctCount") shouldBe 1L
  }

  it should "approximate the exact count within rsd on a wide column" in {
    val df = (1L to 5000L).map(i => (i, i % 937)).toDF("time", "v")
    val r = Summarize.summarize(df,
      Summarizers.distinctCount("v") ++ Summarizers.approxDistinctCount("v"))
      .collect().head
    val exact = r.getAs[Long]("v_distinctCount").toDouble
    val est = r.getAs[Long]("v_approxDistinctCount").toDouble
    exact shouldBe 937.0
    math.abs(est - exact) / exact should be < 0.15
  }
}
