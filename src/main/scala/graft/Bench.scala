package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every registered query on SPARK_GRAFT_SF_DIR and
  * prints one JSON line. Each query is forced through a full noop-sink
  * materialization (a bare `.count()` lets Catalyst prune projections/sorts
  * and measures scan speed, not operator cost), after a warm-up query that
  * absorbs session/JIT/codegen start-up so the first measured entry isn't
  * penalized. */
object Bench {
  /** The PINNED headline subset for round-over-round comparison: ~20
    * queries spanning the ts core (scan, as-of join, windowed and grouped
    * summarize, EMA), the dedup/ANN families, retrieval, the heavy text
    * kernels, sampling/packing, web-graph, and the composed pipeline.
    * FROZEN by contract — comparisons depend on the set staying
    * identical; new queries go to the full registry, never here. */
  val Headline: Seq[String] = Seq(
    "between", "left_join_asof", "left_join_asof_merge",
    "summarize_windows_past", "summarize_cycles", "summarize_ols",
    "ema_ewma_core", "merge",
    "dedup_exact", "dedup_minhash_lsh", "dedup_lsh_edit",
    "dedup_simhash_capped", "emb_dedup_keep", "ann_ivf_topk",
    "bm25_topk", "hybrid_topk",
    "doc_bigram_lp", "c4_clean", "quality_buckets_fused",
    "pack_sequences", "pagerank_domains", "pipeline_e2e")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local()

    def force(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    // Warm-up: exercise parquet scan, shuffle, window + aggregate codegen —
    // via an *unregistered* query so no measured entry gets a private
    // JIT-warm advantage.
    try {
      import org.apache.spark.sql.{functions => F}
      val ev = QueriesCore.events(spark, sfDir)
      force(ev.groupBy("event_type").count())
      val w = graft.ts.WindowOps.pastAbsoluteTime("30m")
      force(graft.ts.WindowOps.summarizeWindows(
        ev.select("time", "event_type", "value"), w,
        graft.ts.Summarizers.mean("value"), Seq("event_type")))
    } catch { case _: Throwable => }

    // A query that throws is recorded as -1 (never a near-zero "success")
    // and listed in "errors". Each query runs TWICE and reports the MIN:
    // both passes materialize the full result through the noop sink (no
    // work is skipped — this is not a caching trick, inputs are re-read),
    // but the min discards hypervisor-noise outliers, which on this host
    // inflate individual queries 10-100x at random (see BASELINE.md).
    def timeOnce(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      try { force(fn(spark, sfDir)); (System.nanoTime() - t0) / 1e9 }
      catch { case _: Throwable => -1.0 }
    }
    // Dev-only scale-probe knobs (unset for driver runs): restrict to a
    // comma-separated query subset and/or change the pass count — a 100×
    // derived-data probe over the full registry at 2 passes would run for
    // the better part of an hour, so probes use a curated subset.
    // SPARK_GRAFT_BENCH_HEADLINE=1 selects the PINNED headline subset at
    // passes=4 and writes bench_headline.json — the stable
    // round-over-round comparison artifact (the full interleaved registry
    // grows every round, which degrades min-of-2's contention rejection
    // and pollutes like-for-like totals).
    val headline = sys.env.get("SPARK_GRAFT_BENCH_HEADLINE").contains("1")
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .orElse(if (headline) Some(Headline.toSet) else None)
    val registry = only match {
      case Some(names) => SparkEntry.queries.filter { case (n, _) => names(n) }
      case None        => SparkEntry.queries
    }
    val passes = sys.env.get("SPARK_GRAFT_BENCH_PASSES").map(_.toInt)
      .getOrElse(if (headline) 4 else 2)
    // Passes are interleaved (whole registry, then the whole registry
    // again) rather than back-to-back per query, so a query's two samples
    // sit minutes apart and a contention burst cannot inflate both.
    val allPasses = (1 to passes).map { _ =>
      registry.map { case (name, fn) => name -> timeOnce(fn) }
    }
    val results = registry.keys.map { name =>
      val samples = allPasses.map(_(name)).filter(_ >= 0)
      name -> (if (samples.isEmpty) -1.0 else samples.min)
    }.toMap
    def r4(v: Double): String = if (v < 0) "-1"
      else String.format(java.util.Locale.ROOT, "%.4f", Double.box(v))
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + r4(v) }
      .mkString("{", ",", "}")
    val errors = results.collect { case (k, v) if v < 0 => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = results.values.filter(_ >= 0).sum
    val fullLine =
      s"""{"metric":"total","value":${r4(total)},"unit":"sec","passes":$passes,"agg":"min","sf":"$sfDir","errors":$errors,"queries":$qs}"""
    // The full line (totals + all per-query times) is persisted whole to
    // bench_out.json in the working directory AND printed as the LAST stdout
    // line: the driver's tail capture parses the final complete JSON object,
    // and per-query diffs / the scaling table need the "queries" map (in r15
    // the full line was printed FIRST and scrolled out of the tail window,
    // leaving PERF per_query empty). The short totals line is printed BEFORE
    // it as a fallback summary for humans and for logs.
    // Delete-then-write so a failed write can never leave a stale file from
    // a previous run that the summary line then falsely points at; on write
    // failure the "full" field is nulled out.
    def writeJson(path: String, line: String): Boolean =
      try {
        val p = java.nio.file.Paths.get(path)
        java.nio.file.Files.deleteIfExists(p)
        java.nio.file.Files.write(
          p, (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
        true
      } catch { case _: Throwable => false }
    val outFile = if (headline) "bench_headline.json" else "bench_out.json"
    val fullOk = writeJson(outFile, fullLine)
    val slowest = results.toSeq.filter(_._2 >= 0).sortBy(-_._2).take(8)
      .map { case (k, v) => s"\"" + k + "\":" + r4(v) }.mkString("{", ",", "}")
    val fullField = if (fullOk) "\"" + outFile + "\"" else "null"
    val totalsLine =
      s"""{"metric":"total","value":${r4(total)},"unit":"sec","passes":$passes,"agg":"min","sf":"$sfDir","nqueries":${results.size},"errors":$errors,"full":$fullField,"slowest":$slowest}"""
    // The driver's stdout parser chokes on sbt's "[info] " prefix, so the
    // short totals object is ALSO written to its own well-known file that
    // can be read without scraping stdout. Headline runs keep their own
    // totals file so a dev headline pass can never clobber the driver's
    // full-registry capture.
    writeJson(
      if (headline) "bench_headline_totals.json" else "bench_totals.json",
      totalsLine)
    println(totalsLine)
    println(fullLine)
    spark.stop()
  }
}
