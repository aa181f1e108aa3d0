package graft.ts

import graft.SparkTestBase
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.graft.NullableSchema

/** The time-partitioned store records its data schema in its metadata
  * file and reads its files with it, so a read runs no inference job. */
class StoreSchemaSpec extends SparkTestBase {
  import spark.implicits._

  private def withDir(body: String => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("graft_store_schema").toString
    try body(dir) finally FileUtils.deleteDirectory(new java.io.File(dir))
  }

  /** One column of each type the store must carry, non-null and nullable. */
  private def typed: DataFrame = spark.range(0, 40).selectExpr(
    "id * 10 AS time",
    "id AS l",
    "IF(id % 5 = 0, NULL, id / 4.0D) AS d",
    "IF(id % 7 = 0, NULL, CAST(id AS STRING)) AS s",
    "CAST(id / 7 AS DECIMAL(20, 3)) AS dec",
    "DATE_ADD(DATE'2024-01-01', CAST(id AS INT)) AS dt",
    "CAST(CAST(id AS STRING) AS BINARY) AS b",
    "ARRAY(id, IF(id % 3 = 0, NULL, id + 1)) AS arr",
    "NAMED_STRUCT('a', id, 'b', IF(id % 2 = 0, NULL, CAST(id AS STRING))) AS st",
    "MAP(CAST(id AS STRING), id * 2.5D) AS m",
    "TIMESTAMP_MICROS(id * 1000001) AS ts",
    "CAST(TIMESTAMP_MICROS(id * 1000001) AS TIMESTAMP_NTZ) AS ntz")

  private def read(path: String): DataFrame =
    Sources.fromTimePartitioned(spark, path, granularity = "100ns",
      beginNanos = Some(50L), endNanos = Some(350L))

  private def recorded(path: String) =
    Sources.readStoreMeta(spark, path).flatMap(_.schema)

  behavior of "the time-partitioned store's recorded schema"

  it should "read the same schema and rows as the inferred read, for every column type" in withDir { dir =>
    val path = s"$dir/t"
    val df = typed
    Sources.writeTimePartitioned(df, path, granularity = "100ns", mode = "overwrite")
    recorded(path) shouldBe Some(NullableSchema(df.schema))
    val withSchema = read(path)
    val rows = withSchema.orderBy("time").collect()
    rows.length shouldBe 30

    // a metadata file with no schema field reads by inference, as before
    val meta = Sources.readStoreMeta(spark, path).get
    Sources.writeStoreMeta(spark, path, meta.copy(schema = None))
    recorded(path) shouldBe None
    val noSchemaField = read(path)
    // and so does a store with no metadata file at all
    new java.io.File(path, Sources.StoreMetaFile).delete() shouldBe true
    val noMetaFile = read(path)

    Seq(noSchemaField, noMetaFile).foreach { inferred =>
      inferred.schema shouldBe withSchema.schema
      inferred.orderBy("time").collect() shouldBe rows
    }
    withSchema.columns.toSeq shouldBe df.columns.toSeq
  }

  it should "fail an append or ignore write of a different schema" in withDir { dir =>
    val path = s"$dir/t"
    val rows = Seq((5L, 1L), (15L, 2L))
    Sources.writeTimePartitioned(rows.toDF("time", "v"), path,
      granularity = "10ns", mode = "overwrite")
    val before = recorded(path)
    Seq("append", "ignore").foreach { mode =>
      val err = intercept[IllegalArgumentException] {
        Sources.writeTimePartitioned(Seq((25L, 3.0)).toDF("time", "v"), path,
          granularity = "10ns", mode = mode)
      }
      err.getMessage should include("schema")
    }
    // a matching ignore write is skipped and leaves the store as it was
    Sources.writeTimePartitioned(Seq((25L, 3L)).toDF("time", "v"), path,
      granularity = "10ns", mode = "ignore")
    recorded(path) shouldBe before
    // a matching append keeps the schema on record
    Sources.writeTimePartitioned(Seq((25L, 3L)).toDF("time", "v"), path,
      granularity = "10ns", mode = "append")
    recorded(path) shouldBe before
    Sources.fromTimePartitioned(spark, path).select("time", "v")
      .as[(Long, Long)].collect().sorted shouldBe
      Array((5L, 1L), (15L, 2L), (25L, 3L))
  }

  it should "replace the recorded schema on overwrite" in withDir { dir =>
    val path = s"$dir/t"
    Sources.writeTimePartitioned(Seq((5L, 1L)).toDF("time", "v"), path,
      granularity = "10ns", mode = "overwrite")
    val next = Seq((5L, "a", 2.0)).toDF("time", "v", "w")
    Sources.writeTimePartitioned(next, path, granularity = "10ns", mode = "overwrite")
    recorded(path) shouldBe Some(NullableSchema(next.schema))
    Sources.fromTimePartitioned(spark, path).select("time", "v", "w")
      .as[(Long, String, Double)].collect() shouldBe Array((5L, "a", 2.0))
  }

  it should "record no schema when appending to a store that has data but none on record" in withDir { dir =>
    val path = s"$dir/t"
    Sources.writeTimePartitioned(Seq((5L, 1L)).toDF("time", "v"), path,
      granularity = "10ns", mode = "overwrite")
    new java.io.File(path, Sources.StoreMetaFile).delete() shouldBe true
    Sources.writeTimePartitioned(Seq((15L, 2L)).toDF("time", "v"), path,
      granularity = "10ns", mode = "append")
    Sources.readStoreMeta(spark, path).map(_.granularityNanos) shouldBe Some(10L)
    recorded(path) shouldBe None
  }

  it should "be recorded by the streaming writer" in withDir { dir =>
    implicit val sqlCtx = spark.sqlContext
    val path = s"$dir/t"
    val mem = MemoryStream[(Long, Double)]
    val sdf = mem.toDF().toDF("time", "v")
    val q = graft.streaming.StreamingOps.writeTimePartitionedStream(sdf, path,
      granularity = "10ns", checkpoint = s"$dir/ck")
    try {
      mem.addData((5L, 1.0), (15L, 2.0))
      q.processAllAvailable()
    } finally q.stop()
    recorded(path) shouldBe Some(NullableSchema(sdf.schema))
    val back = Sources.fromTimePartitioned(spark, path)
    back.schema shouldBe NullableSchema(sdf.schema)
    back.as[(Long, Double)].collect().sorted shouldBe Array((5L, 1.0), (15L, 2.0))
    // restarting the sink with another schema is refused
    val other = MemoryStream[(Long, Long)]
    an[IllegalArgumentException] should be thrownBy
      graft.streaming.StreamingOps.writeTimePartitionedStream(
        other.toDF().toDF("time", "v"), path,
        granularity = "10ns", checkpoint = s"$dir/ck2")
  }
}
