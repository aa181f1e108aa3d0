package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/**
 * The registry's input tables, read with a fixed schema. A parquet read
 * with no schema runs a one-task job to infer it before the query is even
 * built; these are the schemas Spark infers for the shipped sf tables
 * (the same at every scale factor), so a read with them skips that job and
 * returns the same frame. InputTablesSpec checks each one against the
 * inferred schema of every shipped scale factor, so a data change fails
 * there by table name. `Sources.fromParquet` still infers: its input is
 * the caller's.
 */
object InputTables {
  val schemas: Map[String, StructType] = Map(
    "events" -> ("event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, " +
      "event_type STRING, value DOUBLE, props STRING"),
    "lineitem" -> ("l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, " +
      "l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE, " +
      "l_discount DOUBLE, l_tax DOUBLE, l_returnflag STRING, " +
      "l_linestatus STRING, l_shipdate TIMESTAMP_NTZ"),
    "documents" -> "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
    "embeddings" -> "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT"
  ).map { case (table, ddl) => table -> StructType.fromDDL(ddl) }

  /** `<dir>/<table>.parquet` read with the table's fixed schema. */
  def read(s: SparkSession, dir: String, table: String): DataFrame =
    s.read.schema(schemas(table)).parquet(s"$dir/$table.parquet")
}
