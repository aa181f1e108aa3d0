package graft

import org.apache.spark.sql.DataFrame
import graft.ts.{AsOfJoin, EmaOps, Summarize, Summarizers, WindowOps}

/**
 * AQE parity: the test session pins adaptive execution OFF so plan-shape
 * suites can see static Exchange/Sort nodes — but a production 100 TB
 * cluster runs AQE ON (runtime coalescing, skew-join splitting,
 * broadcast-join conversion). Every operator whose execution depends on
 * partitioning/ordering is re-run here under AQE and must reproduce the
 * non-AQE results bit-for-bit: a physical operator that silently assumes
 * the static layout (e.g. a custom exec whose required distribution AQE
 * re-plans, or a two-pass scan whose partition count changes between
 * passes) fails exactly this suite.
 */
class AqeParitySpec extends SparkTestBase {
  import spark.implicits._

  private val day = 86400000000000L

  private def data: DataFrame = {
    val rows = for (i <- 0 until 150) yield
      ((i / 3) * day / 2 + (i % 7) * day / 16, "k" + (i % 3),
        math.sin(i * 0.37) * 10 + (i % 5))
    rows.toDF("time", "k", "v").repartition(5)
  }

  private def right: DataFrame = {
    val rows = for (i <- 0 until 60) yield
      ((i / 2) * day + (i % 2) * day / 3, "k" + (i % 3), i * 1.5)
    rows.toDF("time", "k", "rv").repartition(4)
  }

  private def rowsOf(df: DataFrame): Seq[Seq[String]] = {
    def fmt(a: Any): String = a match {
      case d: Double => f"$d%.9g"
      case x => String.valueOf(x)
    }
    df.collect().map(_.toSeq.map(fmt)).sortBy(_.mkString("|")).toSeq
  }

  private def parity(label: String)(build: () => DataFrame): Unit = {
    val off = rowsOf(build())
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    try {
      val on = rowsOf(build())
      withClue(s"$label: AQE on vs off: ") { on shouldBe off }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "false")
  }

  it should "reproduce results under adaptive execution" in {
    val (l, r, d) = (data, right, data)
    parity("leftJoin/union")(() => AsOfJoin.leftJoin(l, r, "12h", Seq("k")))
    parity("leftJoin/binned")(() =>
      AsOfJoin.leftJoin(l, r, "12h", Seq("k"), binned = true))
    parity("leftJoin/merge")(() => AsOfJoin.leftJoinMerge(l, r, "12h", Seq("k")))
    // right rows tying on (key, time), one tied value null: the merge keeps
    // the greatest value tuple whichever tied row the exchange delivers first
    val ties = r.unionByName(r.withColumn("rv", F2.col("rv") + 0.5))
      .unionByName(r.withColumn("rv", F2.lit(null).cast("double"))).repartition(3)
    parity("futureLeftJoinMerge/ties")(() =>
      AsOfJoin.futureLeftJoinMerge(l, ties, "12h", Seq("k")))
    parity("ewmaRows/keyless")(() =>
      EmaOps.ewmaRows(d, "v", Seq.empty, alpha = 0.3,
        durationPerPeriod = "constant", convention = "legacy"))
    parity("summarize")(() => Summarize.summarize(d,
      Summarizers.sum("v") ++ Summarizers.variance("v"), Seq("k")))
    parity("summarizeWindows")(() =>
      WindowOps.summarizeWindows(d, WindowOps.pastAbsoluteTime("1d"),
        Summarizers.mean("v"), Seq("k")))
    parity("packSequences")(() =>
      graft.llm.Sampling.packSequences(
        d.select(F2.col("time").as("id"), F2.lit(7L).as("toks")),
        "id", "toks", budget = 40L, numBuckets = 4))
    parity("shufflePositions")(() =>
      graft.llm.Sampling.shufflePositions(d.select("time"), "time"))
    parity("duplicateSpans")(() => {
      val docs = (0L until 120L)
        .map(i => (i, s"w${i % 9} w${i % 5} w${i % 3} w${i % 7} w${i % 2}"))
        .toDF("id", "text")
      graft.llm.Dedup.duplicateSpans(docs, "id", "text", n = 3)
    })
    parity("addLagSum")(() =>
      WindowOps.addLagSum(d, "v", "1d", "12h", Seq("k")))
    parity("capPerDomain")(() => {
      val urls = (0L until 90L)
        .map(i => (i, s"https://site${i % 3}.com/p/$i")).toDF("id", "url")
        .repartition(6)
      graft.llm.Urls.capPerDomain(urls, "id", "url", n = 7)
    })
    val vecs = (0L until 40L).map(i => (i,
      Seq((math.sin(i * 0.7) + 1.5).toFloat, (math.cos(i * 0.9) + 1.5).toFloat,
        (math.sin(i * 1.3) + 1.5).toFloat, (math.cos(i * 0.3) + 1.5).toFloat)))
      .toDF("vec_id", "embedding").repartition(7)
    parity("pqTrain+Encode")(() => {
      // trains INSIDE the parity closure: the integer-quantized Lloyd
      // iterations themselves must be AQE-invariant, not just the encode
      val books = graft.llm.Similarity.pqTrain(vecs, "vec_id", "embedding",
        m = 2, k = 4, iters = 2)
      graft.llm.Similarity.pqEncode(vecs, "vec_id", "embedding", books)
    })
    parity("ivfPqTopK")(() => {
      val books = graft.llm.Similarity.pqTrain(vecs, "vec_id", "embedding",
        m = 2, k = 4, iters = 1)
      val coarse = Seq(Seq(1.0f, 0.2f, 0.1f, 0.3f), Seq(0.1f, 1.0f, 0.9f, 0.2f))
      graft.llm.Similarity.ivfPqTopK(
        vecs.filter(F2.col("vec_id") < 3), vecs, "vec_id", "embedding",
        coarse, books, k = 5, nprobe = 2)
    })
    parity("dupClusters")(() => {
      val ids = (0L until 60L).toDF("doc_id")
      val pairs = (0L until 50L).map(i => (i, i + 10L)).toDF("id_a", "id_b")
        .repartition(4)
      graft.llm.Dedup.dupClusters(ids, pairs, "doc_id")
    })
    // round-10 groupBy-shaped operators: AQE re-plans their exchanges
    // (coalescing, broadcast conversion) — results must not move
    val docs = (0L until 120L).map { i =>
      (i, s"s${i % 4}",
        s"w${i % 9} w${i % 5} the of w${i % 3} and w${i % 7} w${i % 2}",
        math.sin(i * 0.61) * 10 + (i % 6))
    }.toDF("id", "source", "text", "score").repartition(5)
    val dupPairs = (0L until 40L).map(i => (3 * i, 3 * i + 1))
      .toDF("id_a", "id_b").repartition(4)
    parity("dedupByClustersKeepBest")(() =>
      graft.llm.Dedup.dedupByClustersKeepBest(docs, "id", dupPairs, "score"))
    parity("qualityBuckets/exact")(() =>
      graft.llm.TextStats.qualityBuckets(docs, "source", "score"))
    parity("qualityBuckets/sketch")(() =>
      graft.llm.TextStats.qualityBuckets(docs, "source", "score",
        approxAccuracy = 1000))
    parity("unigramModel+Score")(() => {
      val (model, total) = graft.llm.TextStats.unigramModel(docs, "text", 8)
      val oov = math.round(math.log(0.5 / total.toDouble) * 1e6)
      docs.select(F2.col("id"),
        graft.llm.TextStats.unigramScore(F2.col("text"), model, oov).as("lp"))
    })
    val paraDocs = (0L until 100L).map { i =>
      (i, s"d${i % 3}",
        s"body ${i % 17} unique\n\nSHARED ${i % 6} PARA\n\nfoot ${i % 4}")
    }.toDF("id", "dom", "text").repartition(5)
    parity("stripBoilerplate")(() =>
      graft.llm.TextStats.stripBoilerplate(paraDocs, "id", "dom", "text",
        minDocs = 5))
    parity("dedupParagraphs")(() =>
      graft.llm.TextStats.dedupParagraphs(paraDocs, "id", "text",
        minChars = 4))
    parity("tfidfTopTerms")(() =>
      graft.llm.TextStats.tfidfTopTerms(
        paraDocs.select(F2.col("id"),
          F2.translate(F2.col("text"), "\n", " ").as("text")),
        "id", "text", k = 3))
    parity("bigramModel+Score")(() => {
      val (bi, uni, oov) = graft.llm.TextStats.bigramModel(docs, "text",
        topK = 6, topB = 12)
      docs.select(F2.col("id"),
        graft.llm.TextStats.bigramScore(F2.col("text"), bi, uni,
          graft.llm.TextStats.StupidBackoffLp, oov).as("lp"))
    })
    parity("blocklist+psl")(() => {
      val urls = (0L until 90L)
        .map(i => (i, s"https://a${i % 5}.b${i % 3}.example.co.uk/p/$i"))
        .toDF("id", "url").repartition(6)
      graft.llm.Urls.filterBlockedDomains(urls, "url",
        blocked = Seq("b1.example.co.uk"), suffixes = Seq("co.uk", "uk"))
    })
    // round-11 cross-corpus dedup: AQE may convert either join side to a
    // broadcast (the digest anti-join and the LSH candidate join are both
    // eligible at this size) — the survivor set must not move
    val existing = (0L until 60L).map { i =>
      (i, s"base ${i % 7} words alpha beta gamma delta w${i % 11} tail")
    }.toDF("doc_id", "text").repartition(4)
    val incoming = (100L until 190L).map { i =>
      val t = if (i % 3 == 0)
        s"base ${i % 7} words alpha beta gamma delta w${i % 11} tail"
      else s"fresh ${i % 13} content q${i % 5} r${i % 9} s${i % 4} end $i"
      (i, t)
    }.toDF("doc_id", "text").repartition(5)
    parity("dedupAgainstExact")(() =>
      graft.llm.Dedup.dedupAgainstExact(incoming, existing, "text"))
    parity("dedupAgainstMinHash")(() =>
      graft.llm.Dedup.dedupAgainstMinHash(incoming, existing,
        "doc_id", "text", threshold = 0.5))
    // round-12 selection: the DSIR fit (two count aggs, AQE may coalesce
    // either) + kernel scoring, and the Gumbel-top-k finisher
    parity("dsirModel+gumbelTopK")(() => {
      val target = docs.filter(F2.col("id") % 4 === 1)
      val (model, oov) =
        graft.llm.Selection.dsirModel(docs, target, "text", topV = 6)
      graft.llm.Selection.gumbelTopK(
        docs.select(F2.col("id"),
          graft.llm.Selection.dsirLogWeight(F2.col("text"), model, oov)
            .as("lw")),
        "id", "lw", k = 30)
    })
    parity("clusterQuota")(() => {
      val vecs = (0L until 90L).map { i =>
        (i, Array.tabulate(8)(d => math.sin(i * 0.31 + d) * 5))
      }.toDF("vec_id", "embedding").repartition(4)
      val (assign, _) = graft.llm.Similarity.kmeansCells(
        vecs, "vec_id", "embedding", k = 4, iters = 2)
      graft.llm.Sampling.quotaPerStratum(assign, Seq("cell"), "vec_id",
        n = 10)
    })
    // round-12 classifier / graph / sketch / hybrid: trainer aggs and
    // rerank joins AQE may coalesce or convert to broadcast
    val labeled = (0L until 80L).map { i =>
      val lang = if (i % 3 == 0) "es" else "en"
      val t = if (lang == "en") s"the cat w${i % 11} runs over it ${i % 5}"
              else s"el gato w${i % 11} corre y salta ${i % 5}"
      (i, t, lang)
    }.toDF("doc_id", "text", "lang").repartition(5)
    parity("nbClassify")(() =>
      graft.llm.Classify.nbClassify(labeled, "text", "lang", 32)
        .select("doc_id", "pred", "lp_micro"))
    parity("pageRankMicro")(() =>
      graft.llm.WebGraph.pageRankMicro(
        (0 until 200).map(i => (s"d${i % 17}", s"d${(i * 7 + 1) % 5}"))
          .toDF("src_domain", "dst_domain").repartition(6)))
    parity("cmsHeavyHitters")(() =>
      graft.llm.TextStats.cmsHeavyHitters(labeled, "text", k = 10,
        depth = 4, width = 64))
    parity("hybridTopK")(() =>
      graft.llm.Retrieval.hybridTopK(labeled,
        (0L until 80L).map(i =>
          (i, Seq((i % 7).toFloat + 1f, (i % 3).toFloat, 1f)))
          .toDF("vec_id", "embedding").repartition(4),
        "doc_id", "text", "vec_id", "embedding",
        Seq(3L -> "the cat", 6L -> "el gato"), kLex = 10, k = 4))
    // round-13: the composed pipeline chain and the SimHash cap audit —
    // every stage is hash-of-id / integer arithmetic, so the final pack
    // and epoch-position tables must not move under adaptive planning
    parity("pipelineChain")(() => PipelineChainFixture.run(spark))
    parity("simHashBucketAudit")(() =>
      graft.llm.Dedup.simHashBucketAudit(labeled, "doc_id", "text",
        maxBucketSize = 2, sketch = graft.llm.Dedup.simHashPortable))
  }

  private val F2 = org.apache.spark.sql.functions
}
