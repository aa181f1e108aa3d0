package graft

/** Dev probe: split a registry query's wall time into (analyze+optimize+
  * physical plan) vs execution, by timing executedPlan materialization
  * separately from the noop write. Args: <sfDir> <query> [reps]. */
object ProbeTiming {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val name = args(1)
    val reps = if (args.length > 2) args(2).toInt else 3
    val spark = GraftSession.local()
    val fn = SparkEntry.queries(name)
    // warm-up whole pipeline once
    fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    for (i <- 1 to reps) {
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val t1 = System.nanoTime()
      df.queryExecution.executedPlan // forces analyze+optimize+planning
      val t2 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val t3 = System.nanoTime()
      println(f"rep$i build=${(t1 - t0) / 1e9}%.3f plan=${(t2 - t1) / 1e9}%.3f exec=${(t3 - t2) / 1e9}%.3f")
    }
    spark.stop()
  }
}
