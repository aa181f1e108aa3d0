package graft

import graft.ts._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.execution.{InputAdapter, ProjectExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.SortExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils.getSizePerRow
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, RangePartitioning, SinglePartition}
import org.apache.spark.sql.graft.{AsOfMergeJoinExec, AsOfMergePlan, GraftStrategies, SlidingSumExec}
import org.apache.spark.sql.{functions => F}

/**
 * Plan-shape assertions (≙ the reference's PartitionPreservingOperationSpec
 * idea, adapted: instead of side-metadata preservation we assert the
 * physical plans carry no more shuffles/sorts than the design claims —
 * the property that actually matters at 100 TB).
 *
 * AQE is off in the test session, so the statically planned Exchange/Sort
 * nodes are visible directly.
 */
class PlanShapeSpec extends SparkTestBase {
  import spark.implicits._

  private def plan(df: DataFrame): SparkPlan = df.queryExecution.executedPlan

  private def exchanges(df: DataFrame): Int =
    plan(df).collect { case e: ShuffleExchangeExec => e }.size

  private def cartesians(df: DataFrame): Int =
    plan(df).collect {
      case c: CartesianProductExec => c
      case b: BroadcastNestedLoopJoinExec => b
    }.size

  private def globalSorts(df: DataFrame): Int =
    plan(df).collect { case s: SortExec if s.global => s }.size

  private lazy val left = Seq((10L, "a", 1), (11L, "b", 2)).toDF("time", "k", "lv")
  private lazy val right = Seq((9L, "a", 5), (10L, "b", 6)).toDF("time", "k", "rv")

  private def reusedExchanges(df: DataFrame): Int =
    plan(df).collect { case r: ReusedExchangeExec => r }.size

  /** Every as-of join runs on the merge operator: `merges` of them, no
    * window, no global sort, no cartesian. */
  private def mergeShape(df: DataFrame, merges: Int): Unit = {
    plan(df).collect { case m: AsOfMergeJoinExec => m }.size shouldBe merges
    plan(df).collect { case w: WindowExec => w }.size shouldBe 0
    globalSorts(df) shouldBe 0
    cartesians(df) shouldBe 0
  }

  it should "plan the as-of join as one merge over one exchange per side and no cartesian" in {
    val j = AsOfJoin.leftJoin(left, right, "5ns", Seq("k"))
    exchanges(j) shouldBe 2 // one per side
    mergeShape(j, merges = 1)
  }

  it should "plan the future as-of join as one merge over one exchange per side" in {
    val j = AsOfJoin.futureLeftJoin(left, right, "5ns", Seq("k"),
      strictLookahead = true)
    exchanges(j) shouldBe 2 // one per side
    mergeShape(j, merges = 1)
  }

  it should "plan the symmetric join as two merges over one reused exchange per side" in {
    val j = AsOfJoin.symmetricJoin(left, right, "5ns", Seq("k"))
    // one shuffle per side: the second merge pass reuses both exchanges
    exchanges(j) shouldBe 2
    reusedExchanges(j) shouldBe 2
    mergeShape(j, merges = 2)
  }

  it should "plan the binned as-of join as one merge over one exchange per side" in {
    val j = AsOfJoin.leftJoin(left, right, "5ns", Seq("k"), binned = true)
    exchanges(j) shouldBe 2 // one per side, on (key, bin)
    mergeShape(j, merges = 1)
  }

  it should "plan the range-merge as-of join as two clustered exchanges" in {
    val j = AsOfJoin.leftJoinMerge(left, right, "5ns", Seq("k"))
    exchanges(j) shouldBe 2 // one per side, like a sort-merge equi-join
    cartesians(j) shouldBe 0
    globalSorts(j) shouldBe 0
    plan(j).toString should include("AsOfMergeJoin")
  }

  it should "plan summarize as one partial/final aggregation exchange" in {
    val g = Summarize.summarize(left, Summarizers.sum("lv"), Seq("k"))
    exchanges(g) shouldBe 1
    cartesians(g) shouldBe 0
  }

  it should "plan merge as one range exchange with no global sort" in {
    val l = Seq((1L, 1)).toDF("time", "v")
    val r = Seq((2L, 2)).toDF("time", "v")
    val m = TimeSeriesOps.merge(l, r)
    exchanges(m) shouldBe 1
    globalSorts(m) shouldBe 0
  }

  it should "plan windowed summarizers without re-sorting ordered input" in {
    val df = Seq((1L, "a", 1.0), (2L, "a", 2.0)).toDF("time", "k", "v")
    val w = WindowOps.summarizeWindows(df, WindowOps.pastAbsoluteTime("1ns"),
      Summarizers.sum("v"), Seq("k"))
    exchanges(w) shouldBe 1 // hash by key for the window, nothing else
    cartesians(w) shouldBe 0
  }

  private def slidingSums(df: DataFrame): Seq[SparkPlan] =
    plan(df).collect { case s: SlidingSumExec => s }

  private def windowExecs(df: DataFrame): Int =
    plan(df).collect { case w: WindowExec => w }.size

  private lazy val events = Seq((1L, 10L, "u1", 5L), (2L, 11L, "u1", 7L),
    (2L, 12L, "u2", 1L)).toDF("time", "event_id", "user_id", "value100")

  // the windows of the four windowed registry rows (QueriesWindows)
  Seq(
    "summarize_windows_past" -> (WindowOps.pastAbsoluteTime("1d"), Seq.empty[String]),
    "summarize_windows_future" -> (WindowOps.futureAbsoluteTime("6h"), Seq.empty[String]),
    "summarize_windows_rows" -> (WindowOps.pastRows(3), Seq("event_id")),
    "summarize_windows_count" -> (WindowOps.futureRows(2), Seq("event_id"))
  ).foreach { case (name, (window, tieBreak)) =>
    it should s"plan $name as one SlidingSumExec over one exchange and one sort" in {
      val df = WindowOps.summarizeWindows(events, window,
        Summarizers.count() ++ Summarizers.sum("value100"), Seq("user_id"), tieBreak)
        .select("time", "event_id", "user_id", "count", "value100_sum")
        .orderBy("time", "event_id")
      val s = slidingSums(df)
      s should have size 1
      windowExecs(df) shouldBe 0
      s.head.collect { case e: ShuffleExchangeExec => e } should have size 1
      s.head.collect { case o: SortExec => o.global } shouldBe Seq(false)
      exchanges(df) shouldBe 2 // the final orderBy's exchange on top
    }
  }

  it should "keep double sums, addLagSum, addWindows and addSummaryColumns on WindowExec" in {
    GraftStrategies.ensureRegistered(spark)
    val past = WindowOps.pastAbsoluteTime("1d")
    val fallbacks = Seq(
      WindowOps.summarizeWindows(events.withColumn("v", F.col("value100").cast("double")),
        past, Summarizers.sum("v"), Seq("user_id")),
      WindowOps.addLagSum(events, "value100", "1d", "1d", Seq("user_id")),
      WindowOps.addWindows(events, past, Seq("user_id")),
      WindowOps.addSummaryColumns(events, Summarizers.count() ++ Summarizers.sum("value100"),
        Seq("user_id"), tieBreak = Seq("event_id")))
    for (df <- fallbacks) withClue(plan(df).toString) {
      slidingSums(df) shouldBe empty
      windowExecs(df) should be >= 1
    }
  }

  it should "plan LSH dedup without any cartesian product" in {
    val docs = Seq((1L, "a b c d e"), (2L, "a b c d f")).toDF("id", "text")
    val d = graft.llm.Dedup.minHashDedupPairs(docs, "id", "text",
      numHashes = 16, bands = 4, shingleSize = 2, threshold = 0.5)
    cartesians(d) shouldBe 0
  }

  it should "push the time-range filter and column pruning into parquet scans" in {
    val dir = java.nio.file.Files.createTempDirectory("graft_plan").toString
    try {
      Seq((10L, 1.0, "x"), (20L, 2.0, "y"), (30L, 3.0, "z"))
        .toDF("time", "v", "s").write.mode("overwrite").parquet(dir)
      val df = Sources.fromParquet(spark, dir, columns = Seq("v"),
        beginNanos = Some(15L), endNanos = Some(25L))
      val scan = plan(df).toString
      scan should include("PushedFilters")
      // the widened coarse bound (15-1) reaches the scan; the exact
      // [15, 25) filter trims after canonization
      scan should include("GreaterThanOrEqual(time,14)")
      scan should not include ("s#") // pruned column never read
      df.collect().map(_.getLong(0)) shouldBe Array(20L)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  it should "push a coarse raw-column range filter for timestamp time columns" in {
    val dir = java.nio.file.Files.createTempDirectory("graft_ts_push").toString
    try {
      spark.sql(
        """SELECT timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,0,0,id*60) AS ts,
           CAST(id AS DOUBLE) AS v FROM range(10)""")
        .write.mode("overwrite").parquet(dir)
      val b = 1704067200000000000L + 120L * 1000000000L // 2024-01-01T00:02
      val e = 1704067200000000000L + 300L * 1000000000L // 2024-01-01T00:05
      val df = Sources.fromParquet(spark, dir, beginNanos = Some(b),
        endNanos = Some(e), timeCol = "ts")
      // the widened raw-timestamp predicate must reach the scan
      plan(df).toString should include("PushedFilters: [IsNotNull(ts), GreaterThanOrEqual(ts,")
      // and the exact canonized filter still trims to [b, e)
      df.select("time").collect().map(_.getLong(0)).sorted shouldBe
        Array(b, b + 60L * 1000000000L, b + 120L * 1000000000L)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  it should "plan topKTokens as a driver-merged top-k, not a global sort" in {
    val docs = Seq((1L, "a b c"), (2L, "b c d")).toDF("id", "text")
    val t = graft.llm.TextStats.topKTokens(docs, "text", 2)
    // per-partition top-k merged on the driver (TakeOrderedAndProject);
    // never a full Exchange(rangepartitioning) + global Sort
    plan(t).toString should include("TakeOrderedAndProject")
    globalSorts(t) shouldBe 0
  }

  it should "plan dup clustering rounds without cartesians" in {
    val ids = Seq(1L, 2L, 3L).toDF("doc_id")
    val pairs = Seq((1L, 2L)).toDF("id_a", "id_b")
    val c = graft.llm.Dedup.dupClusters(ids, pairs, "doc_id")
    cartesians(c) shouldBe 0
  }

  it should "plan the arrow summarizer as one aggregation exchange" in {
    val df = Seq((1L, "a", 1.0), (1L, "a", 2.0)).toDF("time", "k", "v")
    val a = Summarize.summarizeCycles(df, Summarizers.arrow(Seq("v")), Seq("k"))
    exchanges(a) shouldBe 1
    cartesians(a) shouldBe 0
  }

  it should "keep orderByTime idempotent at one exchange" in {
    val df = TimeSeriesOps.orderByTime(Seq(3L, 1L, 2L).toDF("time"))
    exchanges(df) shouldBe 1
    // A second orderByTime must not stack a second sort-free exchange pair
    exchanges(TimeSeriesOps.orderByTime(df)) should be <= 2
  }

  /** Sets one session conf for `body`, then restores it. */
  private def withSQLConf[T](kv: (String, String))(body: => T): T = {
    val (k, v) = kv
    val old = spark.conf.getOption(k)
    spark.conf.set(k, v)
    try body finally old.fold(spark.conf.unset(k))(spark.conf.set(k, _))
  }

  /** The partitioning of every exchange in the plan. */
  private def partitionings(df: DataFrame): Seq[Partitioning] =
    plan(df).collect { case e: ShuffleExchangeExec => e.outputPartitioning }

  /** The partitioning of the exchange under each global sort. */
  private def sortInputs(df: DataFrame): Seq[Partitioning] =
    plan(df).collect { case s: SortExec if s.global => s.child }.map {
      case InputAdapter(e: ShuffleExchangeExec) => e.outputPartitioning
      case other => fail(s"a global sort over ${other.nodeName}, not an exchange")
    }

  private def smallSort: DataFrame =
    left.groupBy("k").agg(F.sum("lv").as("s")).orderBy("k")

  it should "plan a small global orderBy as one sort over a single-partition exchange" in {
    GraftStrategies.ensureRegistered(spark)
    val df = smallSort
    sortInputs(df) shouldBe Seq(SinglePartition)
    partitionings(df).collect { case r: RangePartitioning => r } shouldBe empty
    exchanges(df) shouldBe 2 // the aggregation's and the sort's
    df.collect().map(_.getString(0)) shouldBe Array("a", "b")
  }

  it should "keep range partitioning for a global sort above the advisory partition size" in {
    GraftStrategies.ensureRegistered(spark)
    withSQLConf("spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1") {
      val df = smallSort
      sortInputs(df) should matchPattern { case Seq(_: RangePartitioning) => }
      partitionings(df) should not contain SinglePartition
      df.collect().map(_.getString(0)) shouldBe Array("a", "b")
    }
  }

  it should "add no exchange for a global sort of input in range order or one partition" in {
    GraftStrategies.ensureRegistered(spark)
    val rows = Seq((3L, 1), (1L, 2), (2L, 3)).toDF("time", "v")
    val ordered = TimeSeriesOps.orderByTime(rows)
    val twice = F.explode(F.array($"v", $"v")).as("e")
    // each child already satisfies the sort with one exchange: orderByTime's
    // range exchange (through a filter and projection, an aggregation keyed
    // on time or an explode), an inner global sort's, or the single
    // partition of a global aggregate, a limit, coalesce(1) or an
    // unpartitioned window
    val sorts = Seq(
      ordered.orderBy("time"),
      ordered.filter($"v" > 1).select($"time", ($"v" * 2).as("w")).orderBy("time", "w"),
      ordered.groupBy("time").agg(F.sum("v").as("s")).orderBy("time"),
      ordered.select($"time", twice).orderBy("time"),
      rows.orderBy("time").select($"time", twice).orderBy("time"),
      left.groupBy().agg(F.sum("lv").as("s")).orderBy("s"),
      smallSort.limit(1).orderBy("s"),
      left.groupBy("k").agg(F.sum("lv").as("s")).coalesce(1).orderBy("s"),
      left.withColumn("n", F.count(F.lit(1)).over(
        org.apache.spark.sql.expressions.Window.orderBy("time"))).orderBy("lv"))
    for (df <- sorts) withClue(plan(df).toString) { exchanges(df) shouldBe 1 }
    sorts.head.collect().map(_.getLong(0)) shouldBe Array(1L, 2L, 3L)
  }

  it should "estimate an as-of merge join's size from its left side, not the product" in {
    val wide = (0 until 1000).map(i => (i.toLong, if (i % 2 == 0) "a" else "b", i))
      .toDF("time", "k", "rv")
    val j = AsOfJoin.leftJoinMerge(left, wide, "5ns", Seq("k"))
    val m = j.queryExecution.optimizedPlan.collectFirst { case m: AsOfMergePlan => m }.get
    m.stats.rowCount shouldBe m.left.stats.rowCount
    m.stats.sizeInBytes shouldBe
      m.left.stats.sizeInBytes * getSizePerRow(m.output) / getSizePerRow(m.left.output)
    m.stats.sizeInBytes should be < m.right.stats.sizeInBytes
  }

  it should "plan the binned symmetric join as two merge passes, no cartesian" in {
    val j = AsOfJoin.symmetricJoin(left, right, "5ns", Seq("k"), binned = true)
    // two per directional merge pass: each pass bins its own inputs, so the
    // shuffle volume equals the two union exchanges of a windowed pass
    exchanges(j) shouldBe 4
    reusedExchanges(j) shouldBe 0
    mergeShape(j, merges = 2)
  }

  it should "plan hash sampling as a pure scan filter (zero exchanges)" in {
    val docs = Seq((1L, "a"), (2L, "b")).toDF("id", "src")
    val s = graft.llm.Sampling.sampleByHash(docs, "id", 0.5)
    exchanges(s) shouldBe 0
    cartesians(s) shouldBe 0
  }

  it should "plan sequence packing as one bucket exchange" in {
    val docs = Seq((1L, 10L), (2L, 20L)).toDF("id", "toks")
    val p = graft.llm.Sampling.packSequences(docs, "id", "toks", 64L, 4)
    exchanges(p) shouldBe 1
    globalSorts(p) shouldBe 0
  }

  it should "plan addLagSum's two range frames behind one exchange" in {
    val df = Seq((1L, "a", 1.0), (2L, "a", 2.0)).toDF("time", "k", "v")
    val out = WindowOps.addLagSum(df, "v", "5ns", "5ns", Seq("k"))
    // both frames share the (key, time) partitioning+sort: one hash
    // exchange total, never one per frame
    exchanges(out) shouldBe 1
    cartesians(out) shouldBe 0
  }

  it should "plan PQ encode and split assignment as pure scans (zero exchanges)" in {
    val vecs = Seq((0L, Seq(1.0f, 0.0f)), (1L, Seq(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val books = Seq(Seq(Seq(1.0f, 0.0f), Seq(0.0f, 1.0f))) // m=1, k=2
    val enc = graft.llm.Similarity.pqEncode(vecs, "vec_id", "embedding", books)
    exchanges(enc) shouldBe 0
    cartesians(enc) shouldBe 0
    val docs = Seq((1L, "a"), (2L, "b")).toDF("id", "src")
    val sp = graft.llm.Sampling.assignSplits(docs, "id",
      Seq("train" -> 0.75, "test" -> 0.25))
    exchanges(sp) shouldBe 0
  }

  it should "plan URL extraction as a pure scan and URL dedup without cartesians" in {
    val d = Seq((1L, "https://a.com/x"), (2L, "https://b.com/y"))
      .toDF("id", "url")
    val parts = d.select(graft.llm.Urls.host(F.col("url")),
      graft.llm.Urls.normalize(F.col("url")))
    exchanges(parts) shouldBe 0
    val dd = graft.llm.Urls.dedupByUrl(d, "id", "url")
    cartesians(dd) shouldBe 0
    // keep-set aggregation + join back; never a corpus sort
    globalSorts(dd) shouldBe 0
  }

  it should "prune whole bucket directories on time-partitioned reads" in {
    val dir = java.nio.file.Files.createTempDirectory("graft_tp_prune").toString
    try {
      val rows = (0L until 100L).map(t => (t, t)).toDF("time", "v")
      Sources.writeTimePartitioned(rows, s"$dir/t", granularity = "10ns",
        mode = "overwrite")
      val df = Sources.fromTimePartitioned(spark, s"$dir/t",
        granularity = "10ns", beginNanos = Some(35L), endNanos = Some(55L))
      // bucket bounds are PARTITION filters (directory-level pruning),
      // not data filters
      val s = plan(df).toString
      s should include("PartitionFilters")
      s should include("time_bucket")
      df.select("time").as[Long].collect().sorted shouldBe (35L until 55L).toArray
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  it should "plan pii redaction and hard filtering as pure scans (zero exchanges)" in {
    val docs = Seq((1L, "a b c"), (2L, "d e f")).toDF("id", "text")
    val red = docs.select(graft.llm.Pii.redact(F.col("text")))
    exchanges(red) shouldBe 0
    val hf = graft.llm.TextStats.hardFilter(docs, "text")
    exchanges(hf) shouldBe 0
    cartesians(hf) shouldBe 0
  }

  it should "run shufflePositions with range-sort parallelism (no one-task stage)" in {
    val docs = spark.range(0, 1000).toDF("id").repartition(4)
    val out = graft.llm.Sampling.shufflePositions(docs, "id")
    // physical check: the sorted stage keeps > 1 partition (a window-based
    // row_number() over a global ORDER BY would collapse to 1)
    out.rdd.getNumPartitions should be > 1
    out.select("shuffle_pos").as[Long].collect().sorted shouldBe
      (0L until 1000L).toArray
  }

  it should "plan similarity top-k as a bounded aggregation, never a per-query window" in {
    val vecs = Seq((0L, Seq(1.0f, 0.0f)), (1L, Seq(0.9f, 0.1f)),
      (2L, Seq(0.0f, 1.0f)), (3L, Seq(-1.0f, 0.0f))).toDF("vec_id", "embedding")
    val queries = vecs.filter(F.col("vec_id") < 2)
    val bf = graft.llm.Similarity.bruteForceTopK(
      queries, vecs, "vec_id", "embedding", 2)
    // the scored relation must NEVER be globally windowed per query: that
    // shape sorts each query's whole candidate list (the corpus, for brute
    // force) in ONE task — the bounded-k Aggregator replaces it
    plan(bf).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    } shouldBe empty
    exchanges(bf) shouldBe 1 // the k-bounded q_id aggregation only
    plan(bf).toString should include("ObjectHashAggregate")
    val ivf = graft.llm.Similarity.ivfTopK(queries, vecs, "vec_id",
      "embedding", Seq(Seq(1.0f, 0.0f), Seq(0.0f, 1.0f)), k = 2, nprobe = 2)
    plan(ivf).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    } shouldBe empty
  }

  it should "plan quality bucketing as one cutpoint agg + broadcast label scan" in {
    val docs = Seq((1L, "a", 0.1), (2L, "a", 0.9), (3L, "b", 0.5))
      .toDF("id", "src", "q")
    val out = graft.llm.TextStats.qualityBuckets(docs, "src", "q")
    // cutpoints: one partial/final aggregation exchange; labeling: a
    // broadcast join back — never a sort or per-stratum window
    exchanges(out) shouldBe 1
    globalSorts(out) shouldBe 0
    cartesians(out) shouldBe 0
    plan(out).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    } shouldBe empty
    // blocklist + unigram kernels stay pure scans
    val scan = docs.select(
      graft.llm.TextStats.blocklistHits(F.col("src"), Seq("x")),
      graft.llm.TextStats.unigramScore(F.col("src"), Seq("a" -> -1L), -2L))
    exchanges(scan) shouldBe 0
  }

  it should "plan boilerplate removal and tf-idf without windows or cartesians" in {
    val docs = Seq((1L, "g", "NAV\nbody"), (2L, "g", "NAV\nmore"))
      .toDF("id", "dom", "text")
    val bp = graft.llm.TextStats.stripBoilerplate(docs, "id", "dom", "text")
    // explode + (group, line) distinct-doc agg + join + per-doc reassembly:
    // shuffles only, never a window, a global sort, or an all-pairs join
    plan(bp).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    } shouldBe empty
    globalSorts(bp) shouldBe 0
    cartesians(bp) shouldBe 0
    val tf = graft.llm.TextStats.tfidfTopTerms(docs, "id", "text", k = 3)
    // the per-document ranking must be the bounded-k heap aggregation
    // (string-id branch), never a row_number window over all terms
    plan(tf).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    } shouldBe empty
    plan(tf).toString should include("ObjectHashAggregate")
    globalSorts(tf) shouldBe 0
    // the df branch re-derives document frequency from the tf aggregate:
    // no count_distinct Expand anywhere in the plan, and exactly ONE
    // token explode — r15 keeps the df count referencing __tf so both
    // consumers' tf subtrees stay identical and ReuseExchange
    // materializes the scan+explode once (the r14 form let aggregate
    // pruning defeat the reuse and tokenized twice)
    plan(tf).toString should not include "Expand"
    plan(tf).collect {
      case g: org.apache.spark.sql.execution.GenerateExec => g
    }.size shouldBe 2 // 1 token explode + the final posexplode of hits
  }

  it should "plan duplicateSpans' final span aggregate on the window's partitioning" in {
    val docs = Seq((1L, "a b c d e"), (2L, "a b c d f")).toDF("id", "text")
    val spans = graft.llm.Dedup.duplicateSpans(docs, "id", "text", 3)
    // 3 exchanges total: gram doc-frequency agg, join-back on gram, and
    // the per-doc window; the final groupBy(id, span_id) must reuse the
    // window's hash partitioning on id rather than add a fourth
    exchanges(spans) shouldBe 3
    cartesians(spans) shouldBe 0
  }

  it should "plan markup/encoding/gopher kernels as pure codegen'd scans" in {
    // spark.range keeps a real leaf (a local Seq constant-folds to
    // LocalTableScan and hides the codegen span)
    val docs = spark.range(0, 10).toDF("id")
      .withColumn("text", F.concat(F.lit("<p>w"), F.col("id"), F.lit("</p>")))
    val scan = docs.select(
      graft.llm.TextStats.stripMarkup(F.col("text")),
      graft.llm.TextStats.encodingStats(F.col("text")),
      graft.llm.TextStats.encodingKeep(F.col("text")),
      graft.llm.TextStats.gopherStats(F.col("text")),
      graft.llm.Dedup.minHashSignature(F.col("text"), 8, 2).as("sig"),
      graft.llm.Pii.redact(F.col("text")).as("redacted"),
      graft.llm.Pii.scrub(F.col("text")).as("scrub"),
      graft.llm.TextStats.langId(F.col("text")).as("lang"),
      graft.llm.TextStats.bigramScore(F.col("text"), Seq("w1 w2" -> -1L),
        Seq("w1" -> -2L), -3L, -4L).as("lp"),
      org.apache.spark.sql.graft.GraftColumns.intervalBucket(F.col("id"),
        spark.sparkContext.broadcast(Array(0L, 5L, 10L)), beginInclusive = true,
        stampBegin = false).as("bucket"))
    exchanges(scan) shouldBe 0
    val flags = graft.llm.TextStats.gopherFilter(docs, "text")
    exchanges(flags) shouldBe 0
    // every projection that calls a graft.Kernels method (a StaticInvoke,
    // with or without an object-literal state argument) runs inside a
    // whole-stage codegen stage: a kernel that silently lost codegen (a
    // CodegenFallback node, a too-wide projection) fails here
    Seq(scan, flags).foreach { df =>
      val p = plan(df)
      val kernelProjects = p.collect {
        case pr: ProjectExec if pr.expressions.exists(_.exists {
          case si: StaticInvoke => si.objectName == "graft.Kernels"
          case _ => false
        }) => pr
      }
      // a stage ends at its InputAdapters; what lies below runs outside it
      def stage(n: SparkPlan): Seq[SparkPlan] = n match {
        case _: InputAdapter => Nil
        case _ => n +: n.children.flatMap(stage)
      }
      val codegened = p.collect { case w: WholeStageCodegenExec => stage(w.child) }.flatten
      withClue(p.toString) {
        kernelProjects should not be empty
        kernelProjects.filterNot(pr => codegened.exists(_ eq pr)) shouldBe empty
      }
    }
    plan(scan).toString should (include("graft.Kernels.minHashSig") and
      include("graft.Kernels.piiScrub") and include("graft.Kernels.langIdLabel") and
      include("graft.Kernels.bigramScore") and include("graft.Kernels.intervalBucket"))
  }

  it should "plan incremental dedup without windows, sorts, or cartesians" in {
    val existing = Seq((10L, "a b c d e f")).toDF("doc_id", "text")
    val incoming = Seq((1L, "a b c d e f"), (2L, "q r s t u v"))
      .toDF("doc_id", "text")
    val ex = graft.llm.Dedup.dedupAgainstExact(incoming, existing, "text")
    // one digest-keyed anti join, nothing else: never a window or sort,
    // and text never shuffles (only the 16-byte digest key projects)
    cartesians(ex) shouldBe 0
    globalSorts(ex) shouldBe 0
    plan(ex).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    } shouldBe empty
    val near = graft.llm.Dedup.dedupAgainstMinHash(incoming, existing,
      "doc_id", "text", threshold = 0.5)
    cartesians(near) shouldBe 0
    globalSorts(near) shouldBe 0
    plan(near).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    } shouldBe empty
  }

  it should "plan the r12 classifier / sketch / segment ops window-free" in {
    val docs = Seq((1L, "the cat sat", "en"), (2L, "el gato", "es"))
      .toDF("doc_id", "text", "lang")
    // NB sufficient statistics: explode + ONE hash-agg shuffle, no more
    val counts = graft.llm.Classify.nbCounts(docs, "text", "lang", 16)
    exchanges(counts) shouldBe 1
    cartesians(counts) shouldBe 0
    // CMS cell table: same single-shuffle shape
    val sketch = graft.llm.TextStats.cmsSketch(docs, "text", 4, 32)
    exchanges(sketch) shouldBe 1
    cartesians(sketch) shouldBe 0
    // language segmentation: no window, no cartesian, no global sort
    val seg = graft.llm.TextStats.langSegments(docs, "doc_id", "text")
    cartesians(seg) shouldBe 0
    globalSorts(seg) shouldBe 0
    plan(seg).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    } shouldBe empty
    // readability: pure codegen'd scan — zero exchanges
    val fk = docs.select(
      graft.llm.TextStats.fkGradeMicro(F.col("text")))
    exchanges(fk) shouldBe 0
  }

  it should "plan the composed e2e pipeline inside its exchange budget" in {
    import graft.llm._
    // The pipeline_e2e registry chain on a corpus where every stage does
    // real work: docs 1/2 are a near-dup pair, docs 1/3 share a 4-gram
    // span, doc 4 fails the hard filter. Cluster-label rounds materialize
    // EAGERLY inside dupClusters (their per-round exchanges are pinned by
    // DedupSpec); this pins the statically-visible rest of the chain.
    val stopRun = "the of and to in that it was he for " // 10 stop words
    val base = (stopRun * 5) + (1 to 20).map(i => s"word$i").mkString(" ")
    val nearDup = base.replace("word7", "wordX")
    val other = (stopRun * 5) +
      (1 to 20).map(i => s"zz$i").mkString(" ") + " word1 word2 word3 word4"
    val d = Seq((1L, base), (2L, nearDup), (3L, other), (4L, "too short"))
      .toDF("doc_id", "text")
    val kept = TextStats.hardFilter(d, "text").filter(F.col("keep"))
      .select("doc_id", "text")
    val pairs = Dedup.minHashDedupPairs(kept, "doc_id", "text",
      numHashes = 128, bands = 16, shingleSize = 3, threshold = 0.5)
    val uniq = Dedup.dedupByClusters(kept, "doc_id", pairs)
      .select("doc_id", "text")
    val spans = Dedup.duplicateSpans(uniq, "doc_id", "text", n = 4)
    val stripped = Dedup.stripDuplicateSpans(uniq, "doc_id", "text", spans)
    val scrubbed = stripped.withColumn("text",
      graft.llm.Pii.redact(F.col("text")))
    val weighted = Sampling.sampleByWeight(
      scrubbed.withColumn("q", TextStats.qualityScore(F.col("text"))),
      "doc_id", "q", rate = 0.9)
    val packed = Sampling.packSequences(
      weighted.withColumn("n_tok", TextStats.bpeTokenCount(F.col("text"))),
      "doc_id", "n_tok", budget = 256L, numBuckets = 8)
    cartesians(packed) shouldBe 0
    globalSorts(packed) shouldBe 0
    // Static exchange pin of the post-cluster chain (4 total): span
    // mining's gram-frequency agg, the gram join-back, the per-doc span
    // window (whose partitioning the span aggregate and the span-set
    // join-back REUSE — no extra exchanges), and packSequences' bucket
    // repartition; every other join broadcasts. A regression that adds a
    // shuffle (lost partitioning reuse, a window that re-sorts, an
    // un-broadcast join) trips this pin.
    val e = exchanges(packed)
    withClue(plan(packed).toString) { e shouldBe 4 }
    // the stages actually produce work (filter kills 4, dedup kills 2)
    packed.select("doc_id").collect().map(_.getLong(0)).sorted should
      not contain 4L
  }

  it should "leave no residual cache after the pipeline_e2e registry row" in {
    // the wrapper persists kept/uniq for the eager construction and
    // sweeps everything it pinned (incl. dupClusters' label rounds)
    // before returning — the run must ADD no cached RDD (set difference,
    // not size: the ContextCleaner may concurrently release unrelated
    // GC'd caches from earlier tests)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val out = QueriesLLM.queries("pipeline_e2e")(spark, "/root/testdata/sf0.001")
    out.collect().length should be >= 0
    (spark.sparkContext.getPersistentRDDs.keySet -- before) shouldBe empty
  }
}
