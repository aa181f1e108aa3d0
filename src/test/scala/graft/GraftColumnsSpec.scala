package graft

import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.execution.debug.codegenStringSeq
import org.apache.spark.sql.graft.{BpeMerges, FlatRows, GraftColumns, IntervalClock, LangWords, LmTable, NbTable, WordSet}
import org.apache.spark.sql.{Column, DataFrame, Row, functions => F}
import org.apache.spark.unsafe.types.UTF8String

/**
 * The `GraftColumns` kernel functions are `StaticInvoke` calls that
 * resolve their `graft.Kernels` method by argument classes at run time, so
 * a constant or state object of the wrong type compiles and fails only
 * when a row is evaluated. This runs every one of them over a
 * parquet-backed frame with a null row, under whole-stage codegen and
 * under the interpreted path (`wholeStage=false`,
 * `factoryMode=NO_CODEGEN`), and checks both against the kernel called
 * directly.
 */
class GraftColumnsSpec extends SparkTestBase {
  import spark.implicits._

  private def png(w: Int, h: Int): Array[Byte] = {
    def be32(v: Int) = java.nio.ByteBuffer.allocate(4).putInt(v).array()
    Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte) ++
      be32(13) ++ "IHDR".getBytes ++ be32(w) ++ be32(h)
  }

  private lazy val input: DataFrame = {
    val rows = Seq(
      (1L, "Mail a.b@ex.com or call 555-123-4567 at 10.0.0.1 now! Hello hello.",
        Seq(1L, 3L, 5L), Seq(3L, 5L, 7L), Seq(1.0, 2.0, 3.0), Seq(3.0, 2.0, 1.0),
        png(640, 480), Some(5L)),
      (2L, "<p>One two &amp; three</p>\n\n• item one…\nline\nline\n\nline",
        Seq(2L, 3L, 5L, 9L), Seq(9L), Seq(0.5, -1.0), Seq(2.0, 4.0),
        "GIF".getBytes, Some(10L)),
      (3L, "x", Seq.empty[Long], Seq(1L), Seq(1.0, 2.0), Seq(1.0), Array.emptyByteArray,
        Some(25L)),
      (4L, null, null, null, null, null, null, None))
    val dir = java.nio.file.Files.createTempDirectory("graft-columns-spec")
      .resolve("in").toString
    rows.toDF("id", "text", "hs", "hs2", "vec", "vec2", "bin", "t")
      .withColumn("toks", F.split(F.col("text"), " "))
      .write.parquet(dir)
    spark.read.parquet(dir)
  }

  private def s(v: Any): UTF8String = v.asInstanceOf[UTF8String]
  private def a(v: Any): ArrayData = v.asInstanceOf[ArrayData]

  /** name, input columns, the GraftColumns form, the direct kernel call
    * over the Catalyst values of those inputs (never null here). */
  private case class KernelCase(name: String, inputs: Seq[String],
                                column: Seq[Column] => Column,
                                direct: Seq[Any] => Any)

  // state of the kernels that take it; `vec` has at least 2 elements
  private val stop = Seq("one", "hello", "x")
  private val langs = Seq("en" -> Seq("one", "call"), "es" -> Seq("x", "now!"))
  private val labels = Seq("co", "ex")
  private val merges = Seq("l" -> "l", "o" -> "n", "e" -> "ll")
  private val uni = Seq("hello" -> -5L, "x" -> -2L, "one" -> -7L)
  private val bi = Seq("Hello hello." -> -1L, "One two" -> -4L)
  private val suffixes = Seq("COM", "ex.com", "b@ex.com")
  private val nb = NbTable(4, Seq("a", "b"), Seq(-1L, -2L), Array.tabulate(8)(i => -i.toLong))
  private val cents = Array(1.0, 0.0, 0.0, 1.0, -1.0, -1.0)
  private val planes = Array(1.0, 1.0, -1.0, 1.0, 0.5, -2.0, 1.0, -1.0)
  private val ticks = Array(0L, 10L, 20L)
  private lazy val clock = spark.sparkContext.broadcast(ticks)

  private val cases = Seq(
    KernelCase("hashedShingles", Seq("toks"),
      c => GraftColumns.hashedShingles(c(0), 2), v => Kernels.hashedShingles(a(v(0)), 2)),
    KernelCase("ngramHashes", Seq("toks"),
      c => GraftColumns.ngramHashes(c(0), 2, distinct = true),
      v => Kernels.ngramHashes(a(v(0)), 2, true)),
    KernelCase("ngrams", Seq("toks"),
      c => GraftColumns.ngrams(c(0), 2), v => Kernels.ngrams(a(v(0)), 2)),
    KernelCase("ngramHashLens", Seq("toks"),
      c => GraftColumns.ngramHashLens(c(0), 2), v => Kernels.ngramHashLens(a(v(0)), 2)),
    KernelCase("minHashSig", Seq("hs"),
      c => GraftColumns.minHashSig(c(0), 4), v => Kernels.minHashSig(a(v(0)), 4)),
    KernelCase("sortedIntersectSize", Seq("hs", "hs2"),
      c => GraftColumns.sortedIntersectSize(c(0), c(1)),
      v => Kernels.sortedIntersectSize(a(v(0)), a(v(1)))),
    KernelCase("simHash64", Seq("toks"),
      c => GraftColumns.simHash64(c(0)), v => Kernels.simHash64(a(v(0)))),
    KernelCase("simHashPortable", Seq("toks"),
      c => GraftColumns.simHashPortable(c(0)), v => Kernels.simHashPortable(a(v(0)))),
    KernelCase("dotProduct", Seq("vec", "vec2"),
      c => GraftColumns.dotProduct(c(0), c(1)), v => Kernels.dotD(a(v(0)), a(v(1)))),
    KernelCase("cosineSim", Seq("vec", "vec2"),
      c => GraftColumns.cosineSim(c(0), c(1)), v => Kernels.cosineD(a(v(0)), a(v(1)))),
    KernelCase("mediaMeta", Seq("bin"),
      c => GraftColumns.mediaMeta(c(0), 64, 8),
      v => Kernels.mediaMeta(v(0).asInstanceOf[Array[Byte]], 64, 8)),
    KernelCase("rollingTokenHash", Seq("toks"),
      c => GraftColumns.rollingTokenHash(c(0)), v => Kernels.rollingTokenHash(a(v(0)))),
    KernelCase("charWindowHashes", Seq("text"),
      c => GraftColumns.charWindowHashes(c(0), 5), v => Kernels.charWindowHashes(s(v(0)), 5)),
    KernelCase("chunkSpans", Seq("text"),
      c => GraftColumns.chunkSpans(c(0), 3, 2), v => Kernels.chunkSpans(s(v(0)), 3, 2)),
    KernelCase("bpeTokenCount", Seq("text"),
      c => GraftColumns.bpeTokenCount(c(0)), v => Kernels.bpeCount(s(v(0)))),
    KernelCase("piiScrub", Seq("text"),
      c => GraftColumns.piiScrub(c(0)), v => Kernels.piiScrub(s(v(0)))),
    KernelCase("stripMarkup", Seq("text"),
      c => GraftColumns.stripMarkup(c(0)), v => Kernels.stripMarkup(s(v(0)))),
    KernelCase("normalizeText", Seq("text"),
      c => GraftColumns.normalizeText(c(0)), v => Kernels.normalizeText(s(v(0)))),
    KernelCase("encodingStats", Seq("text"),
      c => GraftColumns.encodingStats(c(0)), v => Kernels.encodingStats(s(v(0)))),
    KernelCase("gopherStats", Seq("text"),
      c => GraftColumns.gopherStats(c(0)), v => Kernels.gopherStats(s(v(0)))),
    KernelCase("tokenBuckets", Seq("text"),
      c => GraftColumns.tokenBuckets(c(0), 16), v => Kernels.tokenBuckets(s(v(0)), 16)),
    KernelCase("fkStats", Seq("text"),
      c => GraftColumns.fkStats(c(0)), v => Kernels.fkStats(s(v(0)))),
    KernelCase("cmsPairs", Seq("text"),
      c => GraftColumns.cmsPairs(c(0), 3, 64), v => Kernels.cmsPairs(s(v(0)), 3, 64)),
    KernelCase("cmsTokenCoords", Seq("text"),
      c => GraftColumns.cmsTokenCoords(c(0), 3, 64),
      v => Kernels.cmsTokenCoords(s(v(0)), 3, 64)),
    KernelCase("dupUnitStats", Seq("text"),
      c => GraftColumns.dupUnitStats(c(0)), v => Kernels.dupUnitStats(s(v(0)))),
    KernelCase("docTokenStats", Seq("text"),
      c => GraftColumns.docTokenStats(c(0), stop),
      v => Kernels.docTokenStats(s(v(0)), WordSet(stop))),
    KernelCase("stopwordLangId", Seq("text"),
      c => GraftColumns.stopwordLangId(c(0), langs, Some("zh")),
      v => Kernels.langIdLabel(s(v(0)), LangWords(langs, Some("zh")))),
    KernelCase("registrableDomainHeuristic", Seq("text"),
      c => GraftColumns.registrableDomainHeuristic(c(0), labels),
      v => Kernels.registrableDomainHeuristic(s(v(0)), WordSet(labels))),
    KernelCase("registrableDomainPsl", Seq("text"),
      c => GraftColumns.registrableDomainPsl(c(0), suffixes),
      v => Kernels.registrableDomain(s(v(0)), WordSet(suffixes.map(_.toLowerCase)), 2)),
    KernelCase("bpeEncodeCount", Seq("text"),
      c => GraftColumns.bpeEncodeCount(c(0), merges),
      v => Kernels.bpeEncodeCount(s(v(0)), BpeMerges(merges))),
    KernelCase("unigramScore", Seq("text"),
      c => GraftColumns.unigramScore(c(0), uni, -100L),
      v => Kernels.unigramScore(s(v(0)), LmTable(uni), -100L)),
    KernelCase("bigramScore", Seq("text"),
      c => GraftColumns.bigramScore(c(0), bi, uni, -10L, -100L),
      v => Kernels.bigramScore(s(v(0)), LmTable(bi), LmTable(uni), -10L, -100L)),
    KernelCase("nbScore", Seq("text"),
      c => GraftColumns.nbScore(c(0), nb.numBuckets, nb.labels, nb.priors, nb.weights),
      v => Kernels.nbScore(s(v(0)), nb)),
    KernelCase("centroidCell", Seq("vec"),
      c => GraftColumns.centroidCell(c(0), cents, 2),
      v => Kernels.centroidCell(a(v(0)), FlatRows(cents, 2))),
    KernelCase("centroidProbes", Seq("vec"),
      c => GraftColumns.centroidProbes(c(0), cents, 2, 2),
      v => Kernels.centroidProbes(a(v(0)), FlatRows(cents, 2), 2)),
    KernelCase("lshBands", Seq("vec"),
      c => GraftColumns.lshBands(c(0), planes, 2, 2),
      v => Kernels.lshBands(a(v(0)), FlatRows(planes, 2), 2)),
    // the kernel maps the out-of-clock sentinel to null: t = 25 is outside
    KernelCase("intervalBucket", Seq("t"),
      c => GraftColumns.intervalBucket(c(0), clock, beginInclusive = true, stampBegin = false),
      v => Kernels.intervalBucket(ticks, v(0).asInstanceOf[Long], true, false) match {
        case Kernels.NoBucket => null
        case b => b
      }))

  // neither is set in the shared test session, so unset restores the default
  private val interpreted = Seq(
    "spark.sql.codegen.wholeStage" -> "false",
    "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")

  "the stateless GraftColumns kernels" should "cover every StaticInvoke function" in {
    cases.map(_.name).distinct should have size 37
  }

  cases.foreach { k =>
    it should s"give the direct Kernels.${k.name} result under codegen and interpreted" in {
      // a fresh frame per run: a Dataset plans once and keeps that plan
      def frame() = input.select(F.col("id"),
        F.struct(k.inputs.map(F.col): _*).as("in"), k.column(k.inputs.map(F.col)).as("out"))
      def run(stages: Int => Unit): Seq[Row] = {
        val df = frame()
        stages(df.queryExecution.executedPlan.collect { case w: WholeStageCodegenExec => w }.size)
        df.collect().toSeq.sortBy(_.getLong(0))
      }
      val codegen = run(_ should be > 0)
      val noCodegen =
        try {
          interpreted.foreach { case (key, value) => spark.conf.set(key, value) }
          run(_ shouldBe 0)
        } finally interpreted.foreach { case (key, _) => spark.conf.unset(key) }
      val outType = frame().schema("out").dataType
      val toScala = CatalystTypeConverters.createToScalaConverter(outType)
      val expected = codegen.map { r =>
        val in = r.getStruct(1)
        val args = in.toSeq.map(CatalystTypeConverters.convertToCatalyst)
        Row(if (args.contains(null)) null else toScala(k.direct(args)))
      }
      codegen.exists(_.isNullAt(2)) shouldBe true // the null row
      codegen.map(r => Row(r.get(2))) shouldBe expected
      noCodegen.map(r => Row(r.get(2))) shouldBe expected
    }
  }

  // A kernel's state is an object literal of its StaticInvoke call. It must
  // compare by value, or each count TextStats reads off one docTokenStats
  // call gets a call of its own; and it must render short, or a large model
  // or centroid table is printed into every plan and into the name of an
  // unaliased column.
  "a kernel's state" should "leave one docTokenStats call for all counts over one text column" in {
    val docs = spark.range(0, 20).toDF("id")
      .withColumn("text", F.concat(F.lit("the cat. is "), F.col("id"), F.lit(" of it, a")))
    val df = docs.select(
      graft.llm.TextStats.tokenCount(F.col("text")).as("n"),
      graft.llm.TextStats.uniqueTokenCount(F.col("text")).as("u"),
      graft.llm.TextStats.punctRatio(F.col("text")).as("p"),
      graft.llm.TextStats.tokenSetRatio(F.col("text"), graft.llm.TextStats.EnStop).as("s"))
    val code = codegenStringSeq(df.queryExecution.executedPlan).map(_._2).mkString("\n")
    withClue(code) {
      "graft\\.Kernels\\.docTokenStats\\(".r.findAllMatchIn(code).size shouldBe 1
    }
    df.collect().length shouldBe 20
  }

  it should "render plans and column names that do not grow with its size" in {
    val frame = spark.range(0, 3).select(F.col("id").cast("string").as("text"),
      F.array(F.col("id").cast("double"), F.lit(1.0)).as("vec"))
    def renderings(c: Column): Seq[String] = {
      val df = frame.select(c)
      Seq(df.columns.head, df.queryExecution.executedPlan.toString,
        df.queryExecution.optimizedPlan.toString)
    }
    def lm(n: Int) = (0 until n).map(i => s"w$i x$i" -> -i.toLong)
    def cents(k: Int) = Array.tabulate(k * 2)(i => (i % 7).toDouble)
    val pairs = Seq(
      GraftColumns.bigramScore(F.col("text"), lm(50), lm(3), -1L, -2L) ->
        GraftColumns.bigramScore(F.col("text"), lm(5000), lm(3), -1L, -2L),
      GraftColumns.centroidCell(F.col("vec"), cents(4), 2) ->
        GraftColumns.centroidCell(F.col("vec"), cents(4096), 2))
    pairs.foreach { case (small, large) =>
      renderings(small).zip(renderings(large)).foreach { case (s, l) =>
        withClue(s"$s\n---\n$l\n") {
          l.replaceAll("[0-9]", "").length should be <= s.replaceAll("[0-9]", "").length
          Seq(s, l).foreach(_ should not include regex("@[0-9a-f]{4,}"))
        }
      }
    }
  }
}
