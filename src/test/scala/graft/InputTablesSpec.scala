package graft

/** Each fixed input-table schema is the one Spark infers from the shipped
  * test data, at every scale factor there. A data change that alters a
  * table's columns or types fails here, by table name, instead of making
  * the registry read its files with a stale schema. sf0.001 must exist:
  * without it the check would pass while checking nothing. */
class InputTablesSpec extends SparkTestBase {
  private val root = new java.io.File("/root/testdata")
  private def sfDirs: Seq[java.io.File] =
    Option(root.listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("sf")).sortBy(_.getName)

  InputTables.schemas.toSeq.sortBy(_._1).foreach { case (table, fixed) =>
    "InputTables" should s"read $table with the schema Spark infers at every scale factor" in {
      val dirs = sfDirs
      assert(dirs.exists(_.getName == "sf0.001"), s"no sf0.001 under $root")
      dirs.foreach { d =>
        withClue(s"$table at $d: ") {
          fixed shouldBe spark.read.parquet(s"$d/$table.parquet").schema
        }
      }
    }
  }
}
