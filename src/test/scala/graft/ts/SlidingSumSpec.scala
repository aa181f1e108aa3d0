package graft.ts

import graft.SparkTestBase
import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.graft.{GraftStrategies, SlidingSumExec, SlidingSumStrategy}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.types._
import org.apache.spark.sql.{functions => F}
import scala.util.Random

/**
 * SlidingSumExec against WindowExec: every query runs twice, in the shared
 * session with the sliding-sum strategy registered and in a fresh session
 * without it (plain WindowExec), and both results must be identical row
 * for row — or both must fail with the same ANSI overflow error.
 */
class SlidingSumSpec extends SparkTestBase {

  private lazy val fast: SparkSession = {
    GraftStrategies.ensureRegistered(spark)
    spark
  }
  private lazy val reference: SparkSession = spark.newSession()

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("k", StringType),
    StructField("time", LongType),
    StructField("x", LongType),
    StructField("y", IntegerType)))

  private type Ev = (Long, String, java.lang.Long, java.lang.Long, Integer)

  private def frameOf(s: SparkSession, rows: Seq[Ev]): DataFrame = {
    val data = rows.map { case (id, k, t, x, y) => Row(id, k, t, x, y) }
    s.createDataFrame(s.sparkContext.parallelize(data, 3), schema)
  }

  /** count(*), count(x), sum(x), sum(y) and the `where`-filtered count(x)
    * of Summarizers (count(when(x > 0, x))) over one window. */
  private def windowed(df: DataFrame, w: WindowSpec): DataFrame =
    df.select(F.col("*"),
      F.count(F.lit(1)).over(w).as("n"),
      F.count(F.col("x")).over(w).as("nx"),
      F.sum(F.col("x")).over(w).as("sx"),
      F.sum(F.col("y")).over(w).as("sy"),
      F.count(F.when(F.col("x") > 0, F.col("x"))).over(w).as("npos"))

  private def slides(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.exists(_.isInstanceOf[SlidingSumExec])

  private def windowExecs(df: DataFrame): Int =
    df.queryExecution.executedPlan.collect { case w: WindowExec => w }.size

  private def overflow(t: Throwable): Option[ArithmeticException with SparkThrowable] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).collectFirst {
      case e: ArithmeticException with SparkThrowable => e
    }

  /** Run `q` on both sessions; return the rows both produced (or None when
    * both raised the same overflow error). */
  private def parity(rows: Seq[Ev], q: DataFrame => DataFrame): Option[Seq[Row]] = {
    val got = q(frameOf(fast, rows))
    val want = q(frameOf(reference, rows))
    slides(got) shouldBe true
    windowExecs(got) shouldBe 0
    slides(want) shouldBe false
    windowExecs(want) shouldBe 1
    val g = scala.util.Try(got.collect().sortBy(_.getLong(0)).toSeq)
    val e = scala.util.Try(want.collect().sortBy(_.getLong(0)).toSeq)
    (g, e) match {
      case (scala.util.Success(a), scala.util.Success(b)) =>
        a shouldBe b
        Some(a)
      case (scala.util.Failure(a), scala.util.Failure(b)) =>
        val (oa, ob) = (overflow(a), overflow(b))
        withClue(s"fast: $a\nreference: $b\n") {
          oa should not be empty
          ob should not be empty
        }
        oa.get.getCondition shouldBe ob.get.getCondition
        oa.get.getMessage shouldBe ob.get.getMessage
        None
      case _ =>
        fail(s"only one side failed: fast=$g reference=$e")
    }
  }

  private val keyed = Window.partitionBy("k")

  /** The frames under test: past/future/strictly-past/strictly-future
    * range frames, and row frames ordered by (time, id). */
  private def frames(d: Long): Seq[(String, WindowSpec)] = Seq(
    "range past" -> keyed.orderBy("time").rangeBetween(-d, 0L),
    "range future" -> keyed.orderBy("time").rangeBetween(0L, d),
    "range band before" -> keyed.orderBy("time").rangeBetween(-2 * d, -1L),
    "range band after" -> keyed.orderBy("time").rangeBetween(1L, d),
    "rows past" -> keyed.orderBy("time", "id").rowsBetween(-3L, 0L),
    "rows future" -> keyed.orderBy("time", "id").rowsBetween(0L, 2L),
    "rows lagged" -> keyed.orderBy("time", "id").rowsBetween(-2L, -1L))

  private def randomRows(seed: Int, n: Int, values: Random => java.lang.Long): Seq[Ev] = {
    val r = new Random(seed)
    (0 until n).map { i =>
      val k = if (r.nextInt(10) == 0) null else "k" + r.nextInt(3)
      // small time range: many duplicate timestamps, some negative times
      val t: java.lang.Long = if (r.nextInt(12) == 0) null else (r.nextInt(40) - 10).toLong
      val x = if (r.nextInt(8) == 0) null else values(r)
      val y: Integer = if (r.nextInt(6) == 0) null else r.nextInt(2000) - 1000
      (i.toLong, k, t, x, y)
    }
  }

  behavior of "SlidingSumExec"

  it should "match WindowExec on random keys, times and values for every frame shape" in {
    for (seed <- 1 to 4; (name, w) <- frames(5L)) withClue(s"seed $seed, $name: ") {
      val out = parity(randomRows(seed, 120,
        r => (r.nextInt(200) - 100).toLong), windowed(_, w))
      out should not be empty
    }
  }

  it should "match WindowExec on keyless input" in {
    val rows = randomRows(7, 80, r => r.nextInt(50).toLong)
    for ((name, w) <- Seq(
        "range" -> Window.orderBy("time").rangeBetween(-3L, 2L),
        "rows" -> Window.orderBy("time", "id").rowsBetween(-1L, 1L)))
      withClue(name + ": ") { parity(rows, windowed(_, w)) should not be empty }
  }

  it should "match WindowExec on one hot key with duplicate timestamps" in {
    val rows: Seq[Ev] = (0 until 600).map { i =>
      (i.toLong, "hot", java.lang.Long.valueOf((i / 7).toLong),
        java.lang.Long.valueOf((i % 13).toLong), Integer.valueOf(i % 5))
    }
    for ((name, w) <- frames(4L)) withClue(name + ": ") {
      parity(rows, windowed(_, w)) should not be empty
    }
  }

  it should "give count 0 and a null sum for frames left empty at a key's edge" in {
    val rows: Seq[Ev] = Seq(
      (0L, "a", 10L, 1L, 1), (1L, "a", 20L, 2L, 2), (2L, "b", 10L, 4L, 4))
    val out = parity(rows,
      windowed(_, keyed.orderBy("time").rangeBetween(-5L, -1L))).get
    out.map(r => (r.getLong(5), r.isNullAt(7))) shouldBe
      Seq((0L, true), (0L, true), (0L, true))
    val lagged = parity(rows,
      windowed(_, keyed.orderBy("time", "id").rowsBetween(-1L, -1L))).get
    lagged.map(r => if (r.isNullAt(7)) None else Some(r.getLong(7))) shouldBe
      Seq(None, Some(1L), None)
  }

  it should "group null keys and null times the way Catalyst does" in {
    val rows: Seq[Ev] = Seq(
      (0L, null, null, 1L, 1), (1L, null, null, 2L, 2), (2L, null, 3L, 4L, 4),
      (3L, "a", null, 8L, 8), (4L, "a", 3L, 16L, 16), (5L, "a", 3L, null, null))
    for ((name, w) <- frames(2L)) withClue(name + ": ") {
      parity(rows, windowed(_, w)) should not be empty
    }
  }

  it should "return no rows for empty input" in {
    parity(Seq.empty, windowed(_, keyed.orderBy("time").rangeBetween(-1L, 0L))) shouldBe
      Some(Seq.empty)
  }

  it should "raise the same ANSI overflow error, or the same sums, near the long range" in {
    val big = Array(Long.MaxValue, Long.MinValue, Long.MaxValue - 1, -1L, 1L)
    var failures = 0
    for (seed <- 1 to 3; (name, w) <- frames(3L)) withClue(s"seed $seed, $name: ") {
      if (parity(randomRows(seed, 40, r => big(r.nextInt(big.length))),
          windowed(_, w)).isEmpty) failures += 1
    }
    failures should be > 0
    // Σ|x| past the long range while no prefix overflows: exact sums
    val fits: Seq[Ev] = Seq((0L, "a", 1L, Long.MaxValue, 0), (1L, "a", 2L, -1L, 0),
      (2L, "a", 3L, -5L, 0))
    parity(fits, windowed(_, keyed.orderBy("time").rangeBetween(-2L, 0L))).get
      .map(_.getLong(7)) shouldBe Seq(Long.MaxValue, Long.MaxValue - 1, Long.MaxValue - 6)
  }

  it should "leave windows it cannot slide on WindowExec" in {
    val df = frameOf(fast, randomRows(3, 20, r => r.nextInt(9).toLong))
    val w = keyed.orderBy("time").rangeBetween(-2L, 0L)
    def planned(c: Column): Boolean = slides(df.select(F.col("id"), c))
    planned(F.sum(F.col("x").cast("double")).over(w)) shouldBe false
    planned(F.sum(F.col("x").cast("decimal(20,0)")).over(w)) shouldBe false
    planned(F.min(F.col("x")).over(w)) shouldBe false
    planned(F.count(F.lit(1)).over(keyed.orderBy("time")
      .rowsBetween(Window.unboundedPreceding, 0L))) shouldBe false
    planned(F.try_sum(F.col("x")).over(w)) shouldBe false
    planned(F.sum(F.col("x")).over(w)) shouldBe true
  }

  it should "register its strategy once" in {
    GraftStrategies.ensureRegistered(fast)
    GraftStrategies.ensureRegistered(fast)
    fast.experimental.extraStrategies.count(_ == SlidingSumStrategy) shouldBe 1
    for (s <- GraftStrategies.all) fast.experimental.extraStrategies.count(_ == s) shouldBe 1
  }
}
