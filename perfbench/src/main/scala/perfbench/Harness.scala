package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One benchmark run of one workload in one JVM.
  *
  * Set-up runs from JVM start to a warm session: it builds the session and
  * runs two warm-up passes over the workload's own query list, each of
  * which writes every query's result as parquet for the output check, so
  * the check sees a first and a repeated call. Then timed passes run, each
  * over the query list in a seeded order, until `seconds` have elapsed;
  * each query is timed from the call that builds its DataFrame to the end
  * of its noop write, as graft.Bench times it. A query's first call costs
  * 1-8 s more than later ones, and its second still 20-70% more, so no
  * timed sample is one of them. The reference queries run once each at
  * the end of set-up, and then one before each query of the timed passes.
  * With `trace` on, passes alternate between traced and untraced
  * (T U T ...), so the tracer's cost can be read off the same run;
  * with it off no listener is attached.
  *
  * Args: --workload W --data DIR --out DIR --seconds N --seed N
  *       --trace 0|1 --cpus N. The run's record goes to DIR/run.json.
  */
object Harness {

  private def session(cpus: Int): SparkSession = {
    // the settings graft.Bench uses
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def secs(fromNs: Long): Double = (System.nanoTime() - fromNs) / 1e9

  private def message(e: Throwable): String =
    s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}"

  /** Aggregate jiffies (all, steal) from the first line of /proc/stat. */
  private def cpuJiffies(): (Long, Long) = {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0)
      .trim.split("\\s+").drop(1).map(_.toLong)
    // user nice system idle iowait irq softirq steal [guest guest_nice]
    (f.take(8).sum, if (f.length > 7) f(7) else 0L)
  }

  private def processCpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Heap still in use after a forced full GC, in MB: the lowest of three
    * tries 200 ms apart. About one single try in five read 16 MB high,
    * from objects that were released a moment later. */
  private def liveHeapMb(): Double = (1 to 3).map { _ =>
    System.gc()
    Thread.sleep(200)
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }.min

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val data = opt("data")
    val out = opt("out")
    val seconds = opt("seconds").toDouble
    val seed = opt("seed").toLong
    val trace = opt("trace") == "1"
    val cpus = opt("cpus").toInt
    val scratch = s"$out/scratch"
    val queries = Workloads(opt("workload"), scratch)
    val rng = new scala.util.Random(seed)
    def order(): Seq[Query] = rng.shuffle(queries)

    val errors = mutable.LinkedHashMap[String, String]()

    // set-up counts from JVM start
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val setupStartNs = System.nanoTime() -
      (System.currentTimeMillis() - jvmStartMs) * 1000000L
    val spark = session(cpus)
    // The reference queries run in a session of their own, so planner
    // strategies that graft registers on the workload's session (the as-of
    // merge join's) never plan them.
    val refSpark = spark.newSession()
    type Samples = Map[String, mutable.ArrayBuffer[Map[String, Double]]]
    def samplesOf(qs: Seq[Query]): Samples =
      qs.map(q => q.name -> mutable.ArrayBuffer[Map[String, Double]]()).toMap
    var refRuns = 0
    def sampleReference(into: Samples): Unit = {
      val r = Workloads.reference(refRuns % Workloads.reference.size)
      refRuns += 1
      val cpu0 = processCpuNs()
      val t0 = System.nanoTime()
      noop(r.fn(refSpark, data))
      into(r.name) += Map("total_s" -> secs(t0), "cpu_s" -> (processCpuNs() - cpu0) / 1e9)
    }
    /** Writes every query's result under `out/dir`, for the check, and
      * returns each query's time. */
    def dump(dir: String, failPrefix: String): Map[String, Double] =
      order().map { q =>
        val t0 = System.nanoTime()
        try q.fn(spark, data).write.mode("overwrite").parquet(s"$out/$dir/${q.name}")
        catch { case e: Throwable => errors.getOrElseUpdate(q.name, failPrefix + message(e)) }
        q.name -> secs(t0)
      }.toMap
    val warmup = Seq(dump("results", ""), dump("results_repeat", "on its second call: "))
    // Set-up ends with the reference queries' first runs: cold work, as
    // set-up is, and the reference nearest to set-up in time, which
    // setup_s is scaled by.
    val setupReference = samplesOf(Workloads.reference)
    Workloads.reference.foreach(_ => sampleReference(setupReference))
    val setup = secs(setupStartNs)
    val heap = mutable.ArrayBuffer(liveHeapMb())
    val oracles = graft.SparkEntry.oracleSql
    val json = new ObjectMapper().registerModule(DefaultScalaModule)
    for (dir <- Seq("results", "results_repeat")) {
      Files.createDirectories(Paths.get(s"$out/$dir"))
      json.writeValue(new java.io.File(s"$out/$dir/oracle_sql.json"), queries.collect {
        case q if oracles.contains(q.oracle) => q.name -> oracles(q.oracle)
      }.toMap)
    }

    val tracer = if (trace) Some(new Tracer) else None
    tracer.foreach { t =>
      spark.sparkContext.addSparkListener(t)
      spark.listenerManager.register(t)
    }
    val sc = spark.sparkContext
    val spans = mutable.ArrayBuffer[Map[String, Any]]()
    def span(id: String, parent: String, kind: String, pass: Int,
             query: String, startMs: Long, durS: Double): Unit =
      spans += Map("id" -> id, "parent" -> parent, "kind" -> kind,
        "pass" -> pass, "query" -> query, "start_ms" -> startMs,
        "end_ms" -> System.currentTimeMillis(), "dur_s" -> durS)
    /** Runs `f` as span `id`; in a traced pass, its jobs carry the id. */
    def phase[T](id: String, parent: String, kind: String, pass: Int,
                 q: Query, traced: Boolean)(f: => T): T = {
      if (traced) { tracer.get.open(id); sc.setJobGroup(id, id) }
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try f finally {
        val d = secs(t0)
        if (traced) {
          sc.clearJobGroup()
          span(id, parent, kind, pass, q.name, startMs, d)
        }
      }
    }

    // Passes run until `seconds` have elapsed, stopping at a query boundary
    // once one pass is complete, so every query has a sample and the
    // sample count does not jump by a whole pass between runs.
    val passes = mutable.ArrayBuffer[Map[String, Any]]()
    val samples = samplesOf(queries)
    val reference = samplesOf(Workloads.reference)
    val (jiffies0, steal0) = cpuJiffies()
    val timedStart = System.nanoTime()
    def tracedPass(p: Int): Boolean = trace && p % 2 == 1
    def complete(traced: Boolean): Int =
      passes.count(p => p("complete") == true && p("traced") == traced)
    // A traced run needs two complete traced passes for the per-pass count
    // comparison, and the untraced one between them to weigh the tracer's
    // cost against.
    def enoughPasses: Boolean =
      if (trace) complete(true) >= 2 && complete(false) >= 1 else passes.nonEmpty
    def timeUp: Boolean = enoughPasses && secs(timedStart) >= seconds
    while (!timeUp) {
      val p = passes.size + 1
      val traced = tracedPass(p)
      tracer.foreach(_.enabled = traced)
      val todo = order()
      var done = 0
      var wall = 0.0
      while (done < todo.size && !timeUp) {
        // One reference query, the two taking turns, runs just before each
        // workload query, so the yardstick is sampled as often as the
        // workload and next to it in time: a reference sample varies by
        // about 12% on its own, and a few samples per run left that as the
        // largest part of the ratios' spread.
        sampleReference(reference)
        val q = todo(done)
        val qid = s"p$p/${q.name}"
        val qStartMs = System.currentTimeMillis()
        val cpu0 = processCpuNs()
        val qt0 = System.nanoTime()
        try {
          val df = phase(s"$qid/build", qid, "build", p, q, traced)(q.fn(spark, data))
          val b = secs(qt0)
          phase(s"$qid/exec", qid, "exec", p, q, traced)(noop(df))
          samples(q.name) += Map("build_s" -> b, "total_s" -> secs(qt0),
            "cpu_s" -> (processCpuNs() - cpu0) / 1e9)
        } catch { case e: Throwable => errors.getOrElseUpdate(q.name, message(e)) }
        wall += secs(qt0)
        if (traced) span(qid, null, "query", p, q.name, qStartMs, secs(qt0))
        done += 1
      }
      // a pass's wall is the time of its workload queries
      passes += Map("wall_s" -> wall, "complete" -> (done == todo.size),
        "traced" -> traced)
      // every event of this pass is in before the next pass turns the
      // tracer on or off
      tracer.foreach { t =>
        val deadline = System.nanoTime() + 10000000000L
        while (!t.drained && System.nanoTime() < deadline) Thread.sleep(20)
      }
    }
    val (jiffies1, steal1) = cpuJiffies()
    tracer.foreach(_.enabled = false)
    heap += liveHeapMb()

    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> opt("workload"), "seed" -> seed, "cpus" -> cpus,
      "queries" -> queries.map(q => Map("name" -> q.name, "layer" -> q.layer,
        "oracle" -> q.oracle)),
      "setup_s" -> setup, "warmup_s" -> warmup,
      "setup_reference" -> setupReference, "heap_mb" -> heap,
      "steal_frac" -> (steal1 - steal0).toDouble / math.max(1L, jiffies1 - jiffies0),
      "errors" -> errors, "passes" -> passes, "samples" -> samples,
      "reference" -> reference)
    tracer.foreach { t =>
      result("trace") = Map("spans" -> spans,
        "counters" -> t.spans.map { case (k, v) => k -> v.toMap },
        "executions" -> t.executions,
        "overhead_s" -> t.overheadNs.get / 1e9)
    }
    spark.stop()
    json.writeValue(new java.io.File(s"$out/run.json"), result)
  }
}
