package graft

import org.apache.spark.sql.graft.BuildExecutions

/** Dev tool: dump `.explain("formatted")` for named registry queries to
  * files — the before/after plan evidence for optimization rounds
  * (plans/<pr>/<query>_{before,after}.txt). Not part of the driver
  * contract. Args: <sfDir> <outDir> <suffix> <query,query,...>.
  *
  * With SPARK_GRAFT_PLANDUMP_EXEC=1 each query runs before its plan is
  * printed, and its line on stdout also splits the wall time of a second,
  * warm build of the query into `build=` (constructing the DataFrame),
  * `plan=` (analysis, optimization and physical planning) and `exec=`
  * (running that plan to a driver-side collect), in seconds.
  *
  * Each dump ends with the count and the final plans of the SQL executions
  * (driver collects, counts) that ran while the query's DataFrame was
  * built, before any action on it. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length == 4,
      "usage: PlanDump <sfDir> <outDir> <suffix> <q1,q2,...>")
    val Array(sfDir, outDir, suffix, qlist) = args
    val spark = GraftSession.local()
    val names = qlist.split(",").map(_.trim).filter(_.nonEmpty)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val exec = sys.env.get("SPARK_GRAFT_PLANDUMP_EXEC").contains("1")
    names.foreach { n =>
      val fn = SparkEntry.queries.getOrElse(n,
        sys.error(s"unknown query: $n"))
      val (df, built) = BuildExecutions.during(spark)(fn(spark, sfDir))
      // collect() (not a noop write) so THIS df's queryExecution is the
      // one that runs and AQE's FINAL plan (runtime stage reuse, join
      // rewrites) is what gets printed — a write spawns a fresh
      // QueryExecution and the printed plan would stay isFinalPlan=false.
      // Registry results are driver-small by contract. The run also warms
      // the JIT and codegen caches for the timed second build.
      val timing = if (!exec) "" else {
        df.collect(): Unit
        val t0 = System.nanoTime()
        val warm = fn(spark, sfDir)
        val t1 = System.nanoTime()
        warm.queryExecution.executedPlan
        val t2 = System.nanoTime()
        warm.collect(): Unit
        val t3 = System.nanoTime()
        f" build=${(t1 - t0) / 1e9}%.3f plan=${(t2 - t1) / 1e9}%.3f exec=${(t3 - t2) / 1e9}%.3f"
      }
      // expression ids (#123, #123L) become #N, exchange ids
      // (plan_id=123) plan_id=N, lambda variables (lambda x_123) x_N and
      // RDD ids (MapPartitionsRDD[123]) RDD[N]: all four count up across
      // the session, so without this two dumps of the same plan never diff
      // clean
      def explain(qe: org.apache.spark.sql.execution.QueryExecution) =
        qe.explainString(org.apache.spark.sql.execution.FormattedMode)
      val txt = (explain(df.queryExecution) +
          s"\n== SQL executions while the query was built: ${built.size} ==\n" +
          built.zipWithIndex.map { case (qe, i) =>
            s"\n-- build execution ${i + 1} --\n${explain(qe)}" }.mkString)
        .replaceAll("#\\d+L?\\b", "#N")
        .replaceAll("plan_id=\\d+", "plan_id=N")
        .replaceAll("lambda ([a-z]+)_\\d+", "lambda $1_N")
        .replaceAll("RDD\\[\\d+\\]", "RDD[N]")
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"${n}_$suffix.txt"),
        txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"wrote $outDir/${n}_$suffix.txt (${txt.length} chars)$timing")
    }
    spark.stop()
  }
}
