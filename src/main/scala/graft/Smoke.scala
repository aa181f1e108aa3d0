package graft

/** Local smoke runner mirroring the driver's entry() check (rows > 0). */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local()
    val df = SparkEntry.entry(spark)
    df.show(5, false)
    println(s"[smoke] entry rows = ${df.count()}")
    spark.stop()
  }
}
