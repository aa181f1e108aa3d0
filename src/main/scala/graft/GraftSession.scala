package graft

import org.apache.spark.sql.SparkSession

/** The local session every main runs in: `local[SPARK_GRAFT_CPUS]`
  * (default 4) with one shuffle partition per core, UTC session time,
  * parquet nanosecond timestamps read as longs (no shipped table has
  * one: events.parquet's `ts` is microseconds), no UI and
  * `WARN` logging. Bench and Verify measure and check under exactly these
  * settings. */
object GraftSession {
  def local(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
