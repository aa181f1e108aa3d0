package graft.llm

import graft.SparkTestBase
import org.apache.spark.sql.{functions => F}

/** LLM-pipeline operators: dedup (exact / Jaccard / MinHash-LSH / SimHash),
  * text stats, similarity search — semantics on hand-checkable corpora. */
class DedupSpec extends SparkTestBase {
  import spark.implicits._

  behavior of "exactDedup"

  it should "group normalized duplicates under the smallest id" in {
    val docs = Seq(
      (1L, "b a c"), (2L, "a b c"), (3L, "a b c c"), // same token set
      (4L, "x y z"))
      .toDF("doc_id", "text")
    val out = Dedup.exactDedup(docs, "doc_id", "text")
      .orderBy("keep_id").collect()
    out.map(r => (r.getLong(1), r.getLong(2))) shouldBe Array((1L, 3L), (4L, 1L))
  }

  it should "distinguish token order when normalize = false" in {
    val docs = Seq((1L, "a b"), (2L, "b a")).toDF("doc_id", "text")
    Dedup.exactDedup(docs, "doc_id", "text", normalize = false).count() shouldBe 2
  }

  behavior of "jaccardPairsWithin"

  private val jdocs = Seq(
    (1L, "s1", "a b c d"),   // J(1,2) = 3/5 = 0.6
    (2L, "s1", "a b c e"),
    (3L, "s1", "p q r"),     // J with others = 0
    (4L, "s2", "a b c d"))   // other block: never compared to 1
    .toDF("doc_id", "source", "text")

  it should "emit exactly the pairs at or above the threshold" in {
    val out = Dedup.jaccardPairsWithin(jdocs, "doc_id", "text", "source", 0.5)
      .collect()
    out.length shouldBe 1
    val r = out.head
    (r.getLong(1), r.getLong(2)) shouldBe ((1L, 2L))
    approx(r.getDouble(3), 0.6, 1e-12)
  }

  it should "never compare across blocks" in {
    val out = Dedup.jaccardPairsWithin(jdocs, "doc_id", "text", "source", 0.0)
      .collect()
    // within s1: pairs (1,2),(1,3),(2,3); s2 has one doc -> none
    out.map(_.getString(0)).distinct shouldBe Array("s1")
    out.length shouldBe 3
  }

  it should "include all rows by default and truncate only on opt-in cap" in {
    val all = Dedup.jaccardPairsWithin(jdocs, "doc_id", "text", "source", 0.0)
    all.count() shouldBe 3
    val capped = Dedup.jaccardPairsWithin(jdocs, "doc_id", "text", "source", 0.0,
      maxBlockSize = 2)
    capped.count() shouldBe 1 // only ids 1,2 survive in s1
  }

  behavior of "minHashDedupPairs"

  it should "find near-duplicates and verify with exact Jaccard" in {
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val nearDup = (1 to 38).map(i => s"tok$i").mkString(" ") + " other words"
    val docs = Seq(
      (1L, base), (2L, base),         // identical -> J = 1.0
      (3L, nearDup),                  // high overlap with 1,2
      (4L, (100 to 140).map(i => s"z$i").mkString(" ")))
      .toDF("doc_id", "text")
    val out = Dedup.minHashDedupPairs(docs, "doc_id", "text",
      numHashes = 64, bands = 16, shingleSize = 3, threshold = 0.9)
      .collect()
    val exact = out.filter(r => r.getLong(0) == 1L && r.getLong(1) == 2L)
    exact.length shouldBe 1
    exact.head.getDouble(2) shouldBe 1.0
    // precision 1.0 by construction: every emitted pair passed exact verify
    out.map(_.getDouble(2)).foreach(j => j should be >= 0.9)
  }

  it should "reject band counts that do not divide numHashes" in {
    val docs = Seq((1L, "a b c")).toDF("doc_id", "text")
    an[IllegalArgumentException] should be thrownBy
      Dedup.minHashDedupPairs(docs, "doc_id", "text", numHashes = 8, bands = 16)
    an[IllegalArgumentException] should be thrownBy
      Dedup.minHashDedupPairs(docs, "doc_id", "text", numHashes = 100, bands = 16)
  }

  it should "mine buckets once (the (band,bucket) aggregation appears as " +
    "exactly one partial+final pair)" in {
    // Plan-shape pin for the verify tier's fetch strategy: the bucket
    // collect_list aggregation must run ONCE (one partial + one final
    // ObjectHashAggregate); the verify joins fetch shingle sets from the
    // barrier-free kernel tables directly. (An r15 experiment LeftSemi-
    // prefiltered those fetches to the candidate ids; it measured
    // 1.07-1.45× slower at 10× because the semi's broadcast barriers and
    // a Catalyst-rebuilt mining copy in the build side outweigh the saved
    // map-only kernel passes — reverted, documented on the operator.)
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (1L, base), (2L, base),
      (3L, (1 to 38).map(i => s"tok$i").mkString(" ") + " other words"),
      (4L, (100 to 140).map(i => s"z$i").mkString(" ")))
      .toDF("doc_id", "text")
    for (df <- Seq(
        Dedup.minHashDedupPairs(docs, "doc_id", "text",
          numHashes = 64, bands = 16, shingleSize = 3, threshold = 0.5),
        Dedup.minHashEditPairs(docs, "doc_id", "text",
          numHashes = 64, bands = 16, shingleSize = 3,
          jaccardFloor = 0.5, editSim = 0.5))) {
      val p = df.queryExecution.executedPlan
      p.collectWithSubqueries {
        case o: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec => o
      } should have size 2
      withClue(p.toString) {
        p.toString should not include "LeftSemi"
      }
    }
    // the survivor set on this corpus is exactly the high-overlap trio
    val got = Dedup.minHashEditPairs(docs, "doc_id", "text",
      numHashes = 64, bands = 16, shingleSize = 3,
      jaccardFloor = 0.5, editSim = 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    got shouldBe Set((1L, 2L), (1L, 3L), (2L, 3L))
  }

  // a hot bucket by construction: identical docs share every band bucket
  private def hotCorpus(n: Int) =
    (1 to n).map(i => (i.toLong, (0 until 30).map(j => s"hot$j").mkString(" ")))
      .toDF("doc_id", "text")

  it should "report over-cap buckets through minHashBucketAudit" in {
    // 5 identical docs, cap 3: every one of the 4 band buckets holds 5 ids
    // -> 1 truncated bucket and 2 dropped ids per band
    val audit = Dedup.minHashBucketAudit(hotCorpus(5), "doc_id", "text",
      numHashes = 16, bands = 4, maxBucketSize = 3)
      .collect()
    audit.length shouldBe 4
    audit.foreach { r =>
      r.getLong(1) shouldBe 1L // n_buckets
      r.getLong(2) shouldBe 1L // n_truncated_buckets
      r.getLong(3) shouldBe 2L // n_dropped_ids
    }
    // under the cap: all-zero truncation certifies the run was exhaustive
    Dedup.minHashBucketAudit(hotCorpus(3), "doc_id", "text",
      numHashes = 16, bands = 4, maxBucketSize = 3)
      .collect().foreach { r =>
        r.getLong(2) shouldBe 0L
        r.getLong(3) shouldBe 0L
      }
  }

  /** Spark wraps the task error differently per plan (SparkException,
    * ExecutionException off the broadcast thread) — assert on the full
    * cause chain. */
  private def causeChain(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .map(c => Option(c.getMessage).getOrElse("")).mkString("\n")

  it should "fail loudly on an over-cap bucket when strict" in {
    val e = intercept[Exception] {
      Dedup.minHashDedupPairs(hotCorpus(5), "doc_id", "text",
        numHashes = 16, bands = 4, maxBucketSize = 3, strict = true)
        .collect()
    }
    causeChain(e) should include("maxBucketSize=3")
    // same corpus, non-strict: pairs mine from the capped bucket silently
    Dedup.minHashDedupPairs(hotCorpus(5), "doc_id", "text",
      numHashes = 16, bands = 4, maxBucketSize = 3)
      .count() should be > 0L
    // strict but nothing over the cap: identical to non-strict
    Dedup.minHashDedupPairs(hotCorpus(3), "doc_id", "text",
      numHashes = 16, bands = 4, maxBucketSize = 3, strict = true)
      .count() shouldBe
      Dedup.minHashDedupPairs(hotCorpus(3), "doc_id", "text",
        numHashes = 16, bands = 4, maxBucketSize = 3)
        .count()
  }

  behavior of "simHashPairs"

  it should "pair identical docs at hamming 0 and keep distinct docs apart" in {
    val a = (1 to 30).map(i => s"w$i").mkString(" ")
    val b = (100 to 130).map(i => s"q$i").mkString(" ")
    val docs = Seq((1L, a), (2L, a), (3L, b)).toDF("doc_id", "text")
    val out = Dedup.simHashPairs(docs, "doc_id", "text", maxHamming = 0)
      .collect()
    out.map(r => (r.getLong(0), r.getLong(1), r.getInt(2))) shouldBe
      Array((1L, 2L, 0))
  }

  it should "reject maxHamming above the pigeonhole bound, accept it with widened bands" in {
    val docs = Seq((1L, "a b c"), (2L, "a b d")).toDF("doc_id", "text")
    an[IllegalArgumentException] should be thrownBy
      Dedup.simHashPairs(docs, "doc_id", "text", maxHamming = 4)
    an[IllegalArgumentException] should be thrownBy
      Dedup.simHashPairs(docs, "doc_id", "text", maxHamming = 4, bands = 5)
    // 8 bands of 8 bits: bound becomes 7, and identical docs still pair.
    val a = (1 to 30).map(i => s"w$i").mkString(" ")
    val wide = Dedup.simHashPairs(
      Seq((1L, a), (2L, a)).toDF("doc_id", "text"),
      "doc_id", "text", maxHamming = 7, bands = 8).collect()
    wide.map(r => (r.getLong(0), r.getLong(1), r.getInt(2))) shouldBe
      Array((1L, 2L, 0))
  }

  behavior of "simHashPortable"

  it should "match the independently computed reference sketches" in {
    // goldens computed by an independent implementation of the documented
    // bounded-arithmetic hash (the same math the DuckDB oracle evaluates)
    val out = Seq((1L, "hello world"), (2L, "hello"), (3L, ""))
      .toDF("doc_id", "text")
      .select(F.col("doc_id"), Dedup.simHashPortable(F.col("text")).as("sk"))
      .orderBy("doc_id").collect().map(_.getLong(1))
    out shouldBe Array(329332872068735233L, 7850643600410720559L,
      1853183507068214291L)
  }

  it should "find identical docs with the portable sketch family too" in {
    val a = (1 to 30).map(i => s"w$i").mkString(" ")
    val b = (100 to 130).map(i => s"q$i").mkString(" ")
    val docs = Seq((1L, a), (2L, a), (3L, b)).toDF("doc_id", "text")
    val out = Dedup.simHashPairs(docs, "doc_id", "text", maxHamming = 0,
      sketch = Dedup.simHashPortable).collect()
    out.map(r => (r.getLong(0), r.getLong(1), r.getInt(2))) shouldBe
      Array((1L, 2L, 0))
  }

  behavior of "dupClusters"

  it should "label connected components with the min id, singletons with self" in {
    // chain 1-2-3 (diameter 2: needs >1 propagation round), pair 10-11,
    // singleton 20
    val ids = Seq(1L, 2L, 3L, 10L, 11L, 20L).toDF("doc_id")
    val pairs = Seq((2L, 3L), (1L, 2L), (10L, 11L)).toDF("id_a", "id_b")
    val out = Dedup.dupClusters(ids, pairs, "doc_id")
      .orderBy("doc_id").collect()
    out.map(r => (r.getLong(0), r.getLong(1))) shouldBe Array(
      (1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L), (20L, 20L))
  }

  it should "propagate labels through conduit nodes absent from ids" in {
    // 5 - 7 - 9 where 7 is only in `pairs`: round 1 labels the conduit but
    // changes no ids-node, so a convergence check that ignores new nodes
    // would stop early and leave 9 in its own cluster
    val ids = Seq(5L, 9L).toDF("doc_id")
    val pairs = Seq((5L, 7L), (7L, 9L)).toDF("id_a", "id_b")
    val out = Dedup.dupClusters(ids, pairs, "doc_id")
      .orderBy("doc_id").collect()
    out.map(r => (r.getLong(0), r.getLong(1))) shouldBe Array(
      (5L, 5L), (9L, 5L))
  }

  it should "converge on a long chain in O(log n) rounds via pointer jumping" in {
    // a 64-node chain has diameter 63: plain min-label propagation needs
    // 63 rounds, pointer jumping must finish well within 10
    val n = 64
    val ids = (1L to n).toDF("doc_id")
    val pairs = (1L until n).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val out = Dedup.dupClusters(ids, pairs, "doc_id", maxRounds = 10)
      .collect()
    out.length shouldBe n
    all(out.map(_.getLong(1))) shouldBe 1L
  }

  it should "converge on a long chain (label must travel the diameter)" in {
    val n = 8
    val ids = (1L to n).toDF("doc_id")
    val pairs = (1L until n).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val out = Dedup.dupClusters(ids, pairs, "doc_id").collect()
    out.map(_.getLong(1)).distinct shouldBe Array(1L)
  }

  it should "spend exactly one Spark job per propagation round" in {
    // The convergence probe is fused into the round's materialization job
    // (accumulator tally inside the persisted-RDD count), so the whole
    // loop must cost one job per round — a chain of 8 converges in <= 5
    // pointer-jumping rounds, so <= 5 jobs total until the (lazy) result.
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    val ids = (1L to 8L).toDF("doc_id")
    val pairs = (1L until 8L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    spark.sparkContext.addSparkListener(listener)
    // force sort-merge joins: broadcast-hash builds each collect via their
    // own Spark job in this tiny fixture, which would hide the loop's true
    // job count (at scale these joins are sort-merge anyway)
    val bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val out = Dedup.dupClusters(ids, pairs, "doc_id") // lazy result: jobs
      Thread.sleep(500) // listener bus is async; let job-start events drain
      val loopJobs = jobs.get()
      assert(loopJobs <= 5, s"expected <= 5 jobs (1/round), saw $loopJobs")
      out.collect().map(_.getLong(1)).distinct shouldBe Array(1L)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcast)
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  it should "keep one representative per component via dedupByClusters" in {
    val docs = Seq((1L, "x"), (2L, "x"), (3L, "x"), (10L, "y"), (20L, "z"))
      .toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val kept = Dedup.dedupByClusters(docs, "doc_id", pairs)
      .orderBy("doc_id").collect().map(_.getLong(0))
    kept shouldBe Array(1L, 10L, 20L)
  }

  it should "keep the best-scored representative via dedupByClustersKeepBest" in {
    val docs = Seq(
      (1L, 0.2), (2L, 0.9), (3L, 0.9),         // cluster {1,2,3}: 2 wins
      (10L, 0.1),                               // singleton survives
      (20L, Double.NaN), (21L, 0.5))            // {20,21}: non-NaN wins
      .toDF("doc_id", "q")
    val pairs = Seq((1L, 2L), (2L, 3L), (20L, 21L)).toDF("id_a", "id_b")
    val kept = Dedup.dedupByClustersKeepBest(docs, "doc_id", pairs, "q")
      .orderBy("doc_id").collect().map(_.getLong(0))
    // 2 beats 1 and ties 3 (smaller id wins the tie); NaN sorts ABOVE any
    // double in Spark's total order, so 20 wins {20,21} — callers feed
    // real scores, the invariant here is determinism
    kept shouldBe Array(2L, 10L, 20L)
    // null scores lose to any non-null score
    val withNull = Seq((1L, Some(0.1)), (2L, None: Option[Double]))
      .toDF("doc_id", "q")
    Dedup.dedupByClustersKeepBest(withNull, "doc_id",
        Seq((1L, 2L)).toDF("id_a", "id_b"), "q")
      .collect().map(_.getLong(0)) shouldBe Array(1L)
    // string ids work too (ties -> lexicographically smallest id)
    val s = Seq(("a", 0.1), ("b", 0.9), ("c", 0.9), ("z", 0.0))
      .toDF("doc_id", "q")
    Dedup.dedupByClustersKeepBest(s, "doc_id",
        Seq(("a", "b"), ("b", "c")).toDF("id_a", "id_b"), "q")
      .orderBy("doc_id").collect().map(_.getString(0)) shouldBe
      Array("b", "z")
  }

  behavior of "kmeansCells"

  it should "separate well-clustered vectors and be partition-invariant" in {
    // two tight direction clusters; ids 0 and 1 (the seeds) sit in
    // different clusters so Lloyd converges immediately
    val vecs = Seq(
      (0L, Seq(1.0f, 0.01f)), (1L, Seq(0.02f, 1.0f)),
      (2L, Seq(0.9f, 0.05f)), (3L, Seq(0.03f, 0.8f)), (4L, Seq(1.1f, 0.0f)))
      .toDF("vec_id", "embedding")
    val (assign, cents) = Similarity.kmeansCells(vecs, "vec_id", "embedding",
      k = 2, iters = 3)
    val m = assign.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    m(0L) shouldBe m(2L)
    m(0L) shouldBe m(4L)
    m(1L) shouldBe m(3L)
    m(0L) should not be m(1L)
    cents should have size 2
    // identical labels regardless of input partitioning (integer sums are
    // order-independent — the determinism claim)
    val (assign8, _) = Similarity.kmeansCells(vecs.repartition(8), "vec_id",
      "embedding", k = 2, iters = 3)
    assign8.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap shouldBe m
  }

  behavior of "topKTokens"

  it should "rank by count desc with token asc tie-break" in {
    val docs = Seq((1L, "b a b c"), (2L, "a c c")).toDF("doc_id", "text")
    val out = TextStats.topKTokens(docs, "text", 2).collect()
    out.map(r => (r.getString(0), r.getLong(1))) shouldBe
      Array(("c", 3L), ("a", 2L)) // a ties b at 2, a wins alphabetically
  }

  behavior of "TextStats"

  it should "count tokens and compute mean token length" in {
    val df = Seq((1L, "ab cde f")).toDF("id", "text")
    val r = df.select(
      TextStats.tokenCount($"text"),
      TextStats.uniqueTokenCount($"text"),
      TextStats.meanTokenLength($"text")).collect().head
    r.getInt(0) shouldBe 3
    r.getInt(1) shouldBe 3
    approx(r.getDouble(2), 2.0) // (8 - 2) / 3
  }

  it should "count BPE-style pre-tokenizer segments" in {
    // "don't stop, v2.0!" -> don | ' | t | stop | , | v | 2 | . | 0 | ! = 10
    val r = Seq((1L, "don't stop, v2.0!")).toDF("id", "text")
      .select(TextStats.bpeTokenCount($"text")).collect().head
    r.getInt(0) shouldBe 10
  }

  it should "compute punctuation ratio and langid" in {
    val r = Seq((1L, "the cat is on the mat.")).toDF("id", "text")
      .select(TextStats.punctRatio($"text"), TextStats.langId($"text"))
      .collect().head
    approx(r.getDouble(0), 1.0 / 22.0, 1e-12)
    r.getString(1) shouldBe "en"
    Seq((1L, "el perro de la casa que no se ve"))
      .toDF("id", "text")
      .select(TextStats.langId($"text")).collect().head.getString(0) shouldBe "es"
  }

  it should "fingerprint with real md5 and an order-sensitive rolling hash" in {
    val md = java.security.MessageDigest.getInstance("MD5")
    val expected = md.digest("hello world".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val df = Seq((1L, "hello world"), (2L, "world hello")).toDF("id", "text")
    val rows = df.select(TextStats.md5Fingerprint($"text"),
      TextStats.rollingHash($"text")).collect()
    rows(0).getString(0) shouldBe expected
    rows(0).getLong(1) should not be rows(1).getLong(1) // order-sensitive
  }

  behavior of "Similarity"

  private val vecs = Seq(
    (0L, Seq(1.0f, 0.0f)),
    (1L, Seq(0.9f, 0.1f)),
    (2L, Seq(0.0f, 1.0f)),
    (3L, Seq(-1.0f, 0.0f)))
    .toDF("vec_id", "embedding")

  it should "rank exact cosine neighbors" in {
    val out = Similarity.bruteForceTopK(
      vecs.filter($"vec_id" === 0L), vecs, "vec_id", "embedding", 3)
      .orderBy("rank").collect()
    out.map(_.getLong(1)) shouldBe Array(1L, 2L, 3L)
    approx(out(1).getDouble(3), 0.0, 1e-12) // orthogonal
    approx(out(2).getDouble(3), -1.0, 1e-12) // opposite
  }

  it should "agree with brute force when IVF probes all cells" in {
    val centroids = Seq(Seq(1.0f, 0.0f), Seq(0.0f, 1.0f), Seq(-1.0f, 0.0f))
    val bf = Similarity.bruteForceTopK(
      vecs.filter($"vec_id" === 0L), vecs, "vec_id", "embedding", 3)
      .select("n_id", "rank").orderBy("rank").collect()
    val ivf = Similarity.ivfTopK(
      vecs.filter($"vec_id" === 0L), vecs, "vec_id", "embedding",
      centroids, k = 3, nprobe = 3)
      .select("n_id", "rank").orderBy("rank").collect()
    ivf.map(_.toSeq) shouldBe bf.map(_.toSeq)
  }

  it should "rank identically across partition layouts and support string ids" in {
    // the bounded-k Aggregator finisher must be invariant to partition
    // layout (map-side buffers merge in arbitrary order) and must apply
    // the same (cosine DESC, id ASC) tie order for string ids
    val many = (0 until 100).map(i =>
      (i.toLong, Seq(math.cos(i * 0.1).toFloat, math.sin(i * 0.1).toFloat)))
      .toDF("vec_id", "embedding")
    val q = many.filter($"vec_id" < 3)
    val a = Similarity.bruteForceTopK(q, many, "vec_id", "embedding", 7)
      .orderBy("q_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    a.length shouldBe 21
    val b = Similarity.bruteForceTopK(q, many.repartition(8), "vec_id",
      "embedding", 7)
      .orderBy("q_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    b shouldBe a
    val s = many.select(F.format_string("id%03d", $"vec_id").as("vec_id"),
      $"embedding")
    val out = Similarity.bruteForceTopK(s.filter($"vec_id" === "id000"), s,
      "vec_id", "embedding", 5)
      .orderBy("rank").collect()
    out.map(_.getString(1)) shouldBe
      a.filter(_._1 == 0L).take(5).map(t => f"id${t._2}%03d")
  }

  it should "gather corpus count and seed vectors in ONE aggregation job" in {
    val many = (0L until 60L).map(i => (i, Seq(i.toFloat, 1.0f)))
      .toDF("vec_id", "embedding").repartition(6)
    spark.sparkContext.setJobGroup("seeds-one-job", "countAndSeeds", false)
    val (n, seeds) =
      try Similarity.countAndSeeds(many, "vec_id", "embedding", cap = 10)
      finally spark.sparkContext.clearJobGroup()
    n shouldBe 60L
    seeds.map(_._1) shouldBe (0L until 10L)
    seeds.head._2 shouldBe Seq(0.0f, 1.0f)
    // listener-asserted: the pre-pass is one job, not count + collect
    val tracker = spark.sparkContext.statusTracker
    val deadline = System.currentTimeMillis + 5000
    while (tracker.getJobIdsForGroup("seeds-one-job").length < 1 &&
      System.currentTimeMillis < deadline) Thread.sleep(50)
    Thread.sleep(200) // let any unexpected second job surface
    tracker.getJobIdsForGroup("seeds-one-job").length shouldBe 1
  }

  it should "find embedding near-duplicates via cell buckets" in {
    val vs = Seq(
      (0L, Seq(1.0f, 0.0f)), (1L, Seq(1.0f, 0.001f)), (2L, Seq(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val cents = Seq(Seq(1.0f, 0.0f), Seq(0.0f, 1.0f))
    val out = Similarity.cosineDupPairs(vs, "vec_id", "embedding", cents, 0.99)
      .collect()
    out.map(r => (r.getLong(0), r.getLong(1))) shouldBe Array((0L, 1L))
    out.head.getDouble(2) should be >= 0.999
  }

  it should "find duplicate-level pairs via banded sign-LSH, and only those" in {
    val dim = 16
    // two near-identical vectors, one orthogonal-ish, one opposite
    def v(f: Int => Double) = (0 until dim).map(f)
    val vs = Seq(
      (0L, v(j => math.sin(j + 1.0))),
      (1L, v(j => math.sin(j + 1.0) * (if (j % 2 == 0) 1.001 else 0.999))),
      (2L, v(j => math.cos(3.0 * j + 1.0))),
      (3L, v(j => -math.sin(j + 1.0))))
      .toDF("id", "v")
    val planes = Similarity.lshPlanes(bands = 8, rowsPerBand = 6, dim = dim)
    val out = Similarity.signLshDupPairs(vs, "id", "v", planes,
      rowsPerBand = 6, threshold = 0.9).collect()
    // (0,1) is a true duplicate (cos ≈ 0.99999) — with 8 bands of 6 bits
    // its collision probability is 1 - (1 - p^6)^8 ≈ 1 for p ≈ 0.999;
    // the opposite vector 3 can never pass the cosine filter, and vector 2
    // is filtered even if a band collides
    out.map(r => (r.getLong(0), r.getLong(1))) shouldBe Array((0L, 1L))
    out.head.getDouble(2) should be >= 0.999
  }

  it should "generate reproducible ±1 planes" in {
    val a = Similarity.lshPlanes(2, 3, 4)
    a shouldBe Similarity.lshPlanes(2, 3, 4)
    a.flatten.toSet shouldBe Set(-1.0, 1.0)
    a.size shouldBe 6
    a should not be Similarity.lshPlanes(2, 3, 4, seed = 7L)
  }

  it should "compute l2 norms via array folds" in {
    val r = Seq((1L, Seq(3.0f, 4.0f))).toDF("id", "v")
      .select(Similarity.l2Norm($"v")).collect().head
    approx(r.getDouble(0), 5.0, 1e-12)
  }

  it should "propagate null for null elements or length mismatch in dot" in {
    val r = spark.range(1).select(
      Similarity.dot(F.expr("array(1.0D, cast(null as double))"),
        F.expr("array(1.0D, 2.0D)")).as("a"),
      Similarity.dot(F.expr("array(1.0D)"),
        F.expr("array(1.0D, 2.0D)")).as("b"),
      Similarity.cosine(F.expr("array(1.0D, cast(null as double))"),
        F.expr("array(1.0D, 2.0D)")).as("c")).collect().head
    r.isNullAt(0) shouldBe true
    r.isNullAt(1) shouldBe true
    r.isNullAt(2) shouldBe true
  }

  it should "rank NaN cosines greatest in cell assignment (array_max parity)" in {
    // centroid 0 has zero norm -> NaN cosine; array_max treats NaN as the
    // maximum, so the kernel must pick cell 0 despite the finite 1.0 at cell 1
    val vs = Seq((1L, Seq(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val cents = Seq(Seq(0.0f, 0.0f), Seq(1.0f, 0.0f))
    val cell = vs.select(Similarity.cellOf($"embedding", cents)).collect().head.getInt(0)
    cell shouldBe 0
    val probes = vs.select(Similarity.probeCells($"embedding", cents, 2))
      .collect().head.getSeq[Int](0)
    probes shouldBe Seq(0, 1)
  }

  behavior of "duplicateSpans"

  it should "merge overlapping duplicated windows into maximal spans" in {
    val d = Seq(
      (1L, "a b c d e f g h"),
      (2L, "z z a b c d e y"),
      (3L, "q r s t u v w x")).toDF("id", "text")
    val spans = Dedup.duplicateSpans(d, "id", "text", n = 3)
      .orderBy("id", "span_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getInt(3), r.getInt(4)))
    // docs 1 and 2 share exactly "a b c d e"; doc 3 shares nothing
    spans.toSeq shouldBe Seq((1L, 0L, 0, 5, 5), (2L, 0L, 2, 7, 5))
  }

  it should "split distant duplicated windows into separate spans" in {
    val d = Seq(
      (1L, "a b c x y z w a b c"),
      (2L, "a b c m")).toDF("id", "text")
    val spans = Dedup.duplicateSpans(d, "id", "text", n = 3)
      .filter(F.col("id") === 1L).orderBy("span_id")
      .collect().map(r => (r.getLong(1), r.getInt(2), r.getInt(3)))
    spans.toSeq shouldBe Seq((0L, 0, 3), (1L, 7, 10))
  }

  it should "not create spans from intra-document repetition alone" in {
    val d = Seq(
      (1L, "p q r p q r p q r"),
      (2L, "m n o t u v")).toDF("id", "text")
    Dedup.duplicateSpans(d, "id", "text", n = 3).count() shouldBe 0L
  }

  it should "be independent of input partitioning" in {
    val d = (0L until 120L)
      .map(i => (i, s"w${i % 9} w${i % 5} w${i % 3} w${i % 7} w${i % 2} w${i % 4}"))
      .toDF("id", "text")
    def run(df: org.apache.spark.sql.DataFrame) =
      Dedup.duplicateSpans(df, "id", "text", n = 3)
        .collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
    run(d) shouldBe run(d.repartition(13))
  }

  behavior of "exactSubstrSpans"

  it should "find exact cross-doc duplicated substrings and merge " +
    "overlapping windows" in {
    // docs 1 and 2 share the 12-char run "hello world!"; doc 3 disjoint
    val d = Seq(
      (1L, "xx hello world! yy"),
      (2L, "hello world! qq rr"),
      (3L, "totally different stuff")).toDF("id", "text")
    val got = Dedup.exactSubstrSpans(d, "id", "text", k = 8)
      .orderBy("id", "span_start")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // shared content "hello world! " (13 chars, trailing space shared):
    // doc 1 at 4..16, doc 2 at 1..13 — the union of its 8-char windows
    got shouldBe Seq((1L, 4L, 13L), (2L, 1L, 13L))
  }

  it should "count within-document repeats as duplication (ExactSubstr " +
    "convention, unlike duplicateSpans)" in {
    val d = Seq(
      (1L, "abcdefgh__abcdefgh"),
      (2L, "nothing shared at all here")).toDF("id", "text")
    val got = Dedup.exactSubstrSpans(d, "id", "text", k = 8)
      .orderBy("span_start")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    got shouldBe Seq((1L, 1L, 8L), (1L, 11L, 8L))
  }

  it should "merge abutting spans and ignore sub-k duplicates" in {
    // shared run of exactly 2k chars -> one merged span; a k-1 shared
    // run produces nothing
    val twoK = "0123456789abcdef" // 16 chars, k = 8
    val d = Seq(
      (1L, s"AA$twoK"),
      (2L, s"$twoK BB"),
      (3L, "shortie"), (4L, "shortie")).toDF("id", "text")
    val got = Dedup.exactSubstrSpans(d, "id", "text", k = 8)
      .orderBy("id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // "shortie" is 7 chars < k -> no windows at all
    got shouldBe Seq((1L, 3L, 16L), (2L, 1L, 16L))
  }

  it should "be independent of input partitioning" in {
    val d = (0L until 60L)
      .map(i => (i, s"prefix${i % 7} shared-run-of-text-${i % 3} tail$i"))
      .toDF("id", "text")
    def run(df: org.apache.spark.sql.DataFrame) =
      Dedup.exactSubstrSpans(df, "id", "text", k = 12)
        .collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
    run(d) shouldBe run(d.repartition(13))
  }

  it should "run the window-hash kernel twice: count branch and probe side" in {
    // the >= 2-site prefilter counts hashes in one branch and semi-joins
    // the sites in another, and each evaluates charWindowHashes over the
    // corpus; a form that claims a single kernel pass must move this pin
    val d = Seq((1L, "xx hello world! yy"), (2L, "hello world! qq rr"))
      .toDF("id", "text")
    val p = Dedup.exactSubstrSpans(d, "id", "text", k = 8)
      .queryExecution.executedPlan
    val kernels = p.collectWithSubqueries {
      case g: org.apache.spark.sql.execution.GenerateExec
          if g.generator.toString.contains("graft.Kernels.charWindowHashes") => g
    }
    withClue(p.toString) { kernels should have size 2 }
  }

  behavior of "stripDuplicateSpans"

  it should "remove span tokens everywhere and pass span-less docs through" in {
    val d = Seq(
      (1L, "a b c d e f g h"),
      (2L, "z z a b c d e y"),
      (3L, "q r s t u v w x")).toDF("id", "text")
    val spans = Dedup.duplicateSpans(d, "id", "text", n = 3)
    val out = Dedup.stripDuplicateSpans(d, "id", "text", spans)
      .orderBy("id").collect().map(_.getString(1))
    out.toSeq shouldBe Seq("f g h", "z z y", "q r s t u v w x")
  }

  it should "reduce a fully-covered doc to the empty string, not drop it" in {
    val d = Seq((1L, "a b c"), (2L, "a b c")).toDF("id", "text")
    val spans = Dedup.duplicateSpans(d, "id", "text", n = 3)
    val out = Dedup.stripDuplicateSpans(d, "id", "text", spans)
      .orderBy("id").collect().map(_.getString(1))
    out.toSeq shouldBe Seq("", "")
  }

  behavior of "product quantization"

  // 4-dim vectors in two tight direction clusters per 2-dim subspace;
  // ids 0/1 seed distinct cells in both subspaces
  private val pqVecs = Seq(
    (0L, Seq(1.0f, 0.01f, 0.02f, 1.0f)),
    (1L, Seq(0.02f, 1.0f, 1.0f, 0.03f)),
    (2L, Seq(0.9f, 0.05f, 0.01f, 0.8f)),
    (3L, Seq(0.03f, 0.8f, 1.1f, 0.0f)),
    (4L, Seq(1.1f, 0.0f, 0.05f, 0.9f)))
    .toDF("vec_id", "embedding")

  it should "train per-subspace codebooks and encode cluster-mates alike" in {
    val books = Similarity.pqTrain(pqVecs, "vec_id", "embedding",
      m = 2, k = 2, iters = 2)
    books should have size 2
    books.foreach { b => b should have size 2; b.head should have size 2 }
    val codes = Similarity.pqEncode(pqVecs, "vec_id", "embedding", books)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    codes(0L) shouldBe codes(2L) // same direction in both subspaces
    codes(0L) shouldBe codes(4L)
    codes(1L) shouldBe codes(3L)
    codes(0L) should not be codes(1L)
    // determinism under repartitioning (integer-quantized training)
    val books8 = Similarity.pqTrain(pqVecs.repartition(8), "vec_id",
      "embedding", m = 2, k = 2, iters = 2)
    books8 shouldBe books
  }

  it should "reconstruct each subspace's selected centroid on decode" in {
    val books = Similarity.pqTrain(pqVecs, "vec_id", "embedding",
      m = 2, k = 2, iters = 1)
    val enc = Similarity.pqEncode(pqVecs, "vec_id", "embedding", books)
    val rows = enc.select(F.col("id"), F.col("codes"),
      Similarity.pqDecode(F.col("codes"), books).as("dec")).collect()
    rows.foreach { r =>
      val cs = r.getSeq[Int](1)
      val dec = r.getSeq[Double](2)
      dec shouldBe (books(0)(cs(0)).map(_.toDouble) ++
        books(1)(cs(1)).map(_.toDouble))
    }
  }

  it should "rank ADC neighbors by reconstruction cosine" in {
    val books = Similarity.pqTrain(pqVecs, "vec_id", "embedding",
      m = 2, k = 2, iters = 2)
    val out = Similarity.pqTopK(pqVecs.filter($"vec_id" === 0L), pqVecs,
      "vec_id", "embedding", books, k = 4).orderBy("rank").collect()
    out should have size 4
    // cluster-mates of 0 (ids 2 and 4 share 0's codes) outrank the others
    out.take(2).map(_.getLong(1)).toSet shouldBe Set(2L, 4L)
    // scores are non-increasing in rank
    out.map(_.getDouble(3)).sliding(2).foreach { w =>
      w(0) should be >= w(1)
    }
  }

  it should "search a stored encoded table identically to the raw path" in {
    val books = Similarity.pqTrain(pqVecs, "vec_id", "embedding",
      m = 2, k = 2, iters = 2)
    val stored = Similarity.pqEncode(pqVecs, "vec_id", "embedding", books)
    val q = pqVecs.filter($"vec_id" === 0L)
    val viaRaw = Similarity.pqTopK(q, pqVecs, "vec_id", "embedding",
      books, k = 4).collect().map(_.toSeq).toSeq
    val viaCodes = Similarity.pqTopKEncoded(q, stored, "vec_id", "embedding",
      books, k = 4).collect().map(_.toSeq).toSeq
    viaCodes shouldBe viaRaw
  }

  it should "match full PQ ranking when IVF probes every cell" in {
    val books = Similarity.pqTrain(pqVecs, "vec_id", "embedding",
      m = 2, k = 2, iters = 2)
    val coarse = Seq(Seq(1.0f, 0.0f, 0.0f, 1.0f), Seq(0.0f, 1.0f, 1.0f, 0.0f))
    val q = pqVecs.filter($"vec_id" === 0L)
    val full = Similarity.pqTopK(q, pqVecs, "vec_id", "embedding",
      books, k = 4).collect().map(_.toSeq).toSeq
    val ivfpq = Similarity.ivfPqTopK(q, pqVecs, "vec_id", "embedding",
      coarse, books, k = 4, nprobe = 2).collect().map(_.toSeq).toSeq
    ivfpq shouldBe full
    // probing one cell restricts candidates to that cell's members
    val narrow = Similarity.ivfPqTopK(q, pqVecs, "vec_id", "embedding",
      coarse, books, k = 4, nprobe = 1).collect()
    narrow.length should be < full.length
  }

  it should "reject a dimension not divisible by m" in {
    an[IllegalArgumentException] should be thrownBy
      Similarity.pqTrain(pqVecs, "vec_id", "embedding", m = 3, k = 2, iters = 1)
  }

  behavior of "dedupAgainstExact"

  it should "drop incoming rows whose digest exists in the corpus" in {
    val existing = Seq((10L, "alpha beta gamma"), (11L, "delta epsilon"))
      .toDF("doc_id", "text")
    val incoming = Seq(
      (1L, "alpha beta gamma"), // exact dup -> drops
      (2L, "gamma beta alpha alpha"), // same token SET -> drops (normalized)
      (3L, "completely new words")).toDF("doc_id", "text")
    val kept = Dedup.dedupAgainstExact(incoming, existing, "text")
      .select("doc_id").as[Long].collect().toSeq.sorted
    kept shouldBe Seq(3L)
  }

  it should "honor normalize = false (raw text digest)" in {
    val existing = Seq((10L, "alpha beta")).toDF("doc_id", "text")
    val incoming = Seq((1L, "alpha beta"), (2L, "beta alpha"))
      .toDF("doc_id", "text")
    val kept = Dedup.dedupAgainstExact(incoming, existing, "text",
        normalize = false)
      .select("doc_id").as[Long].collect().toSeq.sorted
    kept shouldBe Seq(2L) // reordering survives a raw-digest check
  }

  it should "keep everything against an empty corpus" in {
    val existing = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val incoming = Seq((1L, "a b"), (2L, "c d")).toDF("doc_id", "text")
    Dedup.dedupAgainstExact(incoming, existing, "text").count() shouldBe 2L
  }

  behavior of "dedupAgainstMinHash"

  private val baseDoc = (0 until 40).map(i => s"tok$i").mkString(" ")

  it should "drop near-duplicates of existing docs and keep the rest" in {
    val nearDup = baseDoc + " extra tail" // J >> 0.7 vs baseDoc
    val fresh = (100 until 140).map(i => s"other$i").mkString(" ")
    val existing = Seq((10L, baseDoc)).toDF("doc_id", "text")
    val incoming = Seq((1L, nearDup), (2L, fresh)).toDF("doc_id", "text")
    val kept = Dedup.dedupAgainstMinHash(incoming, existing, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSeq.sorted
    kept shouldBe Seq(2L)
  }

  it should "not drop below the Jaccard threshold" in {
    // half the shingles differ -> J ~ 0.33, under the 0.7 default
    val halfNew = ((0 until 20).map(i => s"tok$i") ++
      (0 until 20).map(i => s"new$i")).mkString(" ")
    val existing = Seq((10L, baseDoc)).toDF("doc_id", "text")
    val incoming = Seq((1L, halfNew)).toDF("doc_id", "text")
    Dedup.dedupAgainstMinHash(incoming, existing, "doc_id", "text")
      .count() shouldBe 1L
  }

  it should "not confuse overlapping id spaces across corpora" in {
    // incoming id 10 equals an existing id but the TEXT is fresh: survives
    val existing = Seq((10L, baseDoc)).toDF("doc_id", "text")
    val incoming = Seq((10L, "unrelated fresh words here now"))
      .toDF("doc_id", "text")
    Dedup.dedupAgainstMinHash(incoming, existing, "doc_id", "text")
      .count() shouldBe 1L
  }

  it should "reject band counts that do not divide numHashes" in {
    val d = Seq((1L, "a b")).toDF("doc_id", "text")
    an[IllegalArgumentException] should be thrownBy
      Dedup.dedupAgainstMinHash(d, d, "doc_id", "text",
        numHashes = 128, bands = 7)
  }

  it should "fail loudly when the existing side overflows a bucket in strict mode" in {
    val hot = (1 to 5)
      .map(i => (i.toLong, (0 until 30).map(j => s"hot$j").mkString(" ")))
      .toDF("doc_id", "text")
    val incoming = Seq((100L, "fresh unrelated words entirely new here"))
      .toDF("doc_id", "text")
    val e = intercept[Exception] {
      Dedup.dedupAgainstMinHash(incoming, hot, "doc_id", "text",
        numHashes = 16, bands = 4, maxBucketSize = 3, strict = true)
        .collect()
    }
    (e.toString + Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null)
      .map(c => Option(c.getMessage).getOrElse("")).mkString("\n")) should
      include("dedupAgainstMinHash")
    // non-strict on the same corpora still answers (capped, audited via
    // minHashBucketAudit over the existing side)
    Dedup.dedupAgainstMinHash(incoming, hot, "doc_id", "text",
      numHashes = 16, bands = 4, maxBucketSize = 3)
      .count() shouldBe 1L
  }

  behavior of "buildMinHashIndex / dedupAgainstIndex"

  private val idxExisting = Seq(
    (10L, baseDoc),
    (11L, (50 until 90).map(i => s"mid$i").mkString(" ")))
    .toDF("doc_id", "text")
  private val idxIncoming = Seq(
    (1L, baseDoc + " extra tail"),                       // near-dup of 10
    (2L, (100 until 140).map(i => s"other$i").mkString(" ")), // fresh
    (3L, (50 until 90).map(i => s"mid$i").mkString(" ")))     // exact dup of 11
    .toDF("doc_id", "text")

  it should "match dedupAgainstMinHash survivors exactly" in {
    val direct = Dedup.dedupAgainstMinHash(idxIncoming, idxExisting,
      "doc_id", "text").select("doc_id").as[Long].collect().toSeq.sorted
    val idx = Dedup.buildMinHashIndex(idxExisting, "doc_id", "text")
    val viaIndex = Dedup.dedupAgainstIndex(idxIncoming, idx, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSeq.sorted
    viaIndex shouldBe direct
    viaIndex shouldBe Seq(2L)
  }

  it should "survive a parquet roundtrip including its self-describing metadata" in {
    val dir = java.nio.file.Files.createTempDirectory("graft_mhidx").toString
    Dedup.buildMinHashIndex(idxExisting, "doc_id", "text",
      numHashes = 64, shingleSize = 2).write.mode("overwrite").parquet(dir)
    val idx = spark.read.parquet(dir)
    val meta = idx.schema("mh_sig").metadata
    meta.getLong("graft.minhash.numHashes") shouldBe 64L
    meta.getLong("graft.minhash.shingleSize") shouldBe 2L
    meta.getString("graft.minhash.family") shouldBe Dedup.MinHashIndexFamily
    val viaIndex = Dedup.dedupAgainstIndex(idxIncoming, idx, "doc_id", "text",
      bands = 8).select("doc_id").as[Long].collect().toSeq.sorted
    val direct = Dedup.dedupAgainstMinHash(idxIncoming, idxExisting,
      "doc_id", "text", numHashes = 64, bands = 8, shingleSize = 2)
      .select("doc_id").as[Long].collect().toSeq.sorted
    viaIndex shouldBe direct
  }

  it should "reject an index without graft.minhash metadata" in {
    val fake = idxExisting.select(F.col("doc_id"),
      F.array(F.lit(1L)).as("mh_shingles"), F.array(F.lit(1L)).as("mh_sig"))
    an[IllegalArgumentException] should be thrownBy
      Dedup.dedupAgainstIndex(idxIncoming, fake, "doc_id", "text")
  }

  it should "reject an index from a different hash family" in {
    val meta = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong("graft.minhash.numHashes", 128L)
      .putLong("graft.minhash.shingleSize", 3L)
      .putString("graft.minhash.family", "some-older-family-v1").build()
    val stale = idxExisting.select(F.col("doc_id"),
      F.array(F.lit(1L)).as("mh_shingles"),
      F.array(F.lit(1L)).as("mh_sig", meta))
    val e = intercept[IllegalArgumentException] {
      Dedup.dedupAgainstIndex(idxIncoming, stale, "doc_id", "text")
    }
    e.getMessage should include("hash family")
  }

  it should "reject band counts that do not divide the index's numHashes" in {
    val idx = Dedup.buildMinHashIndex(idxExisting, "doc_id", "text",
      numHashes = 128)
    an[IllegalArgumentException] should be thrownBy
      Dedup.dedupAgainstIndex(idxIncoming, idx, "doc_id", "text", bands = 7)
  }

  behavior of "dedupAgainstBloomExact"

  private val bloomExisting = Seq(
    (10L, "alpha beta gamma"), (11L, "delta epsilon"), (12L, "zeta eta"))
    .toDF("doc_id", "text")
  private val bloomIncoming = Seq(
    (1L, "alpha beta gamma"),       // exact dup
    (2L, "gamma beta alpha alpha"), // normalized dup
    (3L, "completely new words"),
    (4L, "epsilon delta"))          // normalized dup of 11
    .toDF("doc_id", "text")

  it should "produce exactly the dedupAgainstExact survivors" in {
    val direct = Dedup.dedupAgainstExact(bloomIncoming, bloomExisting, "text")
      .select("doc_id").as[Long].collect().toSeq.sorted
    val viaBloom = Dedup.dedupAgainstBloomExact(bloomIncoming, bloomExisting,
      "text").select("doc_id").as[Long].collect().toSeq.sorted
    viaBloom shouldBe direct
    viaBloom shouldBe Seq(3L)
  }

  it should "honor an explicit expectedItems (skipping the sizing count)" in {
    Dedup.dedupAgainstBloomExact(bloomIncoming, bloomExisting, "text",
        expectedItems = 1000L)
      .select("doc_id").as[Long].collect().toSeq.sorted shouldBe Seq(3L)
  }

  it should "honor normalize = false" in {
    val kept = Dedup.dedupAgainstBloomExact(bloomIncoming, bloomExisting,
        "text", normalize = false)
      .select("doc_id").as[Long].collect().toSeq.sorted
    kept shouldBe Seq(2L, 3L, 4L) // reorderings survive a raw digest
  }

  it should "keep everything against an empty corpus (null sketch guard)" in {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    Dedup.dedupAgainstBloomExact(bloomIncoming, empty, "text")
      .count() shouldBe 4L
  }

  it should "stay correct when the filter is deliberately tiny (high fpp)" in {
    // a 10-item filter for a 3-doc corpus at fpp 0.5: lots of false
    // positives, zero false negatives - survivors must not change
    Dedup.dedupAgainstBloomExact(bloomIncoming, bloomExisting, "text",
        expectedItems = 10L, fpp = 0.5)
      .select("doc_id").as[Long].collect().toSeq.sorted shouldBe Seq(3L)
  }

  behavior of "lshBuckets"

  it should "bucket-collide exactly on equal band slices of the signature " +
    "(banding law, seeded random corpus)" in {
    // The property the whole LSH dedup family (and the streaming
    // near-dedup chain, twice) rides on: for every doc pair and band,
    // same rowsPerBand-hash signature slice <=> same bucket id. Planted
    // exact copies and one-token edits make both sides of the iff
    // non-vacuous; random docs supply the non-colliding mass.
    val rnd = new scala.util.Random(11)
    val base = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    for (i <- 0 until 24) {
      val text =
        if (i % 4 == 1) base(i - 1)._2 // exact copy: every band collides
        else if (i % 4 == 2) { // one-token edit: most bands collide
          val t = base(i - 1)._2.split(" ")
          t.updated(rnd.nextInt(t.length), "mut").mkString(" ")
        } else (0 until 30).map(_ => "t" + rnd.nextInt(40)).mkString(" ")
      base += ((i.toLong, text))
    }
    val (bands, rpb) = (16, 4)
    val sigCol = Dedup.minHashSignature(F.col("text"), bands * rpb, 2)
    val rows = base.toSeq.toDF("doc_id", "text")
      .select(F.col("doc_id"), sigCol.as("sig"),
        Dedup.lshBuckets(sigCol, bands, rpb).as("bks"))
      .collect()
    val sigs = rows.map(r => r.getLong(0) -> r.getSeq[Long](1).toVector).toMap
    val bks = rows.map { r =>
      r.getLong(0) -> r.getSeq[org.apache.spark.sql.Row](2)
        .map(b => b.getInt(0) -> b.getLong(1)).toMap
    }.toMap
    val ids = base.map(_._1)
    var collisions = 0
    var misses = 0
    for (a <- ids; b <- ids if a < b; band <- 0 until bands) {
      val sliceEq = sigs(a).slice(band * rpb, band * rpb + rpb) ==
        sigs(b).slice(band * rpb, band * rpb + rpb)
      val bucketEq = bks(a)(band) == bks(b)(band)
      withClue(s"pair ($a,$b) band $band:") { bucketEq shouldBe sliceEq }
      if (sliceEq) collisions += 1 else misses += 1
    }
    collisions should be > 0
    misses should be > 0
  }

  behavior of "oovCounts"

  it should "count tokens outside the vocabulary in one pass" in {
    val d = Seq((1L, "a b a zz qq"), (2L, "a a a")).toDF("id", "text")
    val oc = TextStats.oovCounts(F.col("text"), Seq("a", "b"))
    val rows = d.select(F.col("id"), oc.getField("n_tokens"),
      oc.getField("n_oov")).orderBy("id").collect()
    (rows(0).getInt(1), rows(0).getInt(2)) shouldBe ((5, 2))
    (rows(1).getInt(1), rows(1).getInt(2)) shouldBe ((3, 0))
  }
}
