package graft

import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.graft.GraftColumns
import org.apache.spark.sql.{Column, DataFrame, Row, functions => F}
import org.apache.spark.unsafe.types.UTF8String

/**
 * The stateless `GraftColumns` functions are `StaticInvoke` calls that
 * resolve their `graft.Kernels` method by argument classes at run time, so
 * a constant of the wrong type compiles and fails only when a row is
 * evaluated. This runs every one of them over a parquet-backed frame with
 * a null row, under whole-stage codegen and under the interpreted path
 * (`wholeStage=false`, `factoryMode=NO_CODEGEN`), and checks both against
 * the kernel called directly.
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
        png(640, 480)),
      (2L, "<p>One two &amp; three</p>\n\n• item one…\nline\nline\n\nline",
        Seq(2L, 3L, 5L, 9L), Seq(9L), Seq(0.5, -1.0), Seq(2.0, 4.0),
        "GIF".getBytes),
      (3L, "x", Seq.empty[Long], Seq(1L), Seq(1.0, 2.0), Seq(1.0), Array.emptyByteArray),
      (4L, null, null, null, null, null, null))
    val dir = java.nio.file.Files.createTempDirectory("graft-columns-spec")
      .resolve("in").toString
    rows.toDF("id", "text", "hs", "hs2", "vec", "vec2", "bin")
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

  private val cases = Seq(
    KernelCase("hashedShingles", Seq("toks"),
      c => GraftColumns.hashedShingles(c(0), 2), v => Kernels.hashedShingles(a(v(0)), 2)),
    KernelCase("ngramHashes", Seq("toks"),
      c => GraftColumns.ngramHashes(c(0), 2, distinct = true),
      v => Kernels.ngramHashes(a(v(0)), 2, true)),
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
      c => GraftColumns.dupUnitStats(c(0)), v => Kernels.dupUnitStats(s(v(0)))))

  // neither is set in the shared test session, so unset restores the default
  private val interpreted = Seq(
    "spark.sql.codegen.wholeStage" -> "false",
    "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")

  "the stateless GraftColumns kernels" should "cover every StaticInvoke function" in {
    cases.map(_.name).distinct should have size 24
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
}
