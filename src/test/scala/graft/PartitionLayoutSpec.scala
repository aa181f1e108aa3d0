package graft

import org.apache.spark.sql.DataFrame
import graft.ts.{AsOfJoin, EmaOps, Summarize, Summarizers, WindowOps}

/**
 * Partition-layout re-runs (≙ the reference's MultiPartitionSuite,
 * /root/reference/src/test/scala/com/twosigma/flint/timeseries/MultiPartitionSuite.scala):
 * every operator whose execution carries state across rows is re-executed
 * under shuffle-partition counts {1, 2, 7} and (for the as-of join) all
 * three physical paths — results must be identical bit-for-bit. This is
 * the test class that catches partition-boundary bugs: a summary stitched
 * wrong in the two-pass EMA scan, a merge-join losing the last row of a
 * partition, a window frame leaking across key groups.
 */
class PartitionLayoutSpec extends SparkTestBase {
  import spark.implicits._

  private val day = 86400000000000L
  private val layouts = Seq(1, 2, 7)

  /** Deterministic irregular multi-key series with ties and gaps. */
  private def data: DataFrame = {
    val rows = for (i <- 0 until 120) yield {
      val k = "k" + (i % 3)
      val t = (i / 3) * day / 2 + (i % 7) * day / 16
      val v = math.sin(i * 0.37) * 10 + (i % 5)
      (t, k, v)
    }
    rows.toDF("time", "k", "v").repartition(5)
  }

  private def right: DataFrame = {
    val rows = for (i <- 0 until 60) yield
      ((i / 2) * day + (i % 2) * day / 3, "k" + (i % 3), i * 1.5)
    rows.toDF("time", "k", "rv").repartition(4)
  }

  /** Run `build` under each layout; every layout must reproduce the first
    * layout's rows — exactly for non-floating fields, within 1e-9 relative
    * for doubles (the two-pass EMA stitch reassociates float additions, so
    * layouts can differ in the last ulp; anything beyond that is a
    * partition-boundary bug). */
  private def invariant(label: String)(build: () => DataFrame): Unit = {
    def fmt(a: Any): String = a match {
      case d: Double => f"$d%.6g"
      case x => String.valueOf(x)
    }
    val results = layouts.map { p =>
      spark.conf.set("spark.sql.shuffle.partitions", p.toString)
      try build().collect().map(_.toSeq)
        .sortBy(_.map(fmt).mkString("|")).toSeq
      finally spark.conf.set("spark.sql.shuffle.partitions", "4")
    }
    for ((r, p) <- results.zip(layouts).tail) {
      withClue(s"$label: layout $p vs ${layouts.head}: ") {
        r.length shouldBe results.head.length
        r.zip(results.head).foreach { case (a, b) =>
          a.length shouldBe b.length
          a.zip(b).foreach {
            case (x: Double, y: Double) =>
              assert((x.isNaN && y.isNaN) ||
                math.abs(x - y) <= 1e-9 * math.max(1.0, math.max(math.abs(x), math.abs(y))),
                s"$label: $x vs $y in row $a vs $b")
            case (x, y) => assert(x == y, s"$label: $x vs $y in row $a vs $b")
          }
        }
      }
    }
  }

  behavior of "operators across shuffle-partition layouts {1, 2, 7}"

  it should "produce identical as-of joins on all three physical paths" in {
    val (l, r) = (data, right)
    invariant("leftJoin/union")(() => AsOfJoin.leftJoin(l, r, "12h", Seq("k")))
    invariant("leftJoin/binned")(() =>
      AsOfJoin.leftJoin(l, r, "12h", Seq("k"), binned = true))
    invariant("leftJoin/merge")(() => AsOfJoin.leftJoinMerge(l, r, "12h", Seq("k")))
    // right rows tying on (key, time), one tied value null: the merge keeps
    // the greatest value tuple whichever tied row the exchange delivers first
    val F2 = org.apache.spark.sql.functions
    val ties = r.unionByName(r.withColumn("rv", F2.col("rv") + 0.5))
      .unionByName(r.withColumn("rv", F2.lit(null).cast("double"))).repartition(3)
    invariant("futureLeftJoinMerge/ties")(() =>
      AsOfJoin.futureLeftJoinMerge(l, ties, "12h", Seq("k")))
    invariant("futureLeftJoin")(() =>
      AsOfJoin.futureLeftJoin(l, r, "12h", Seq("k"), strictLookahead = true))
    invariant("symmetricJoin")(() => AsOfJoin.symmetricJoin(l, r, "12h", Seq("k")))
    invariant("symmetricJoin/binned")(() =>
      AsOfJoin.symmetricJoin(l, r, "12h", Seq("k"), binned = true))
  }

  it should "produce identical per-row EMA values (two-pass stitch)" in {
    val d = data
    invariant("ewmaRows/keyed")(() =>
      EmaOps.ewmaRows(d, "v", Seq("k"), alpha = 0.2, durationPerPeriod = "1d"))
    invariant("ewmaRows/keyless")(() =>
      EmaOps.ewmaRows(d.drop("k"), "v", Seq.empty, alpha = 0.2,
        durationPerPeriod = "1d"))
    invariant("esRows/linear-core")(() =>
      EmaOps.exponentialSmoothingRows(d, "v", Seq("k"), alpha = 0.35,
        interpolation = "linear", convention = "core"))
    invariant("ewma/summarize")(() =>
      EmaOps.ewma(d, "v", Seq("k"), alpha = 0.2, durationPerPeriod = "constant"))
  }

  it should "produce identical summarize / cycles / windows results" in {
    val d = data
    val s = Summarizers.compose(Summarizers.sum("v"), Summarizers.count(),
      Summarizers.variance("v"))
    invariant("summarize")(() => Summarize.summarize(d, s, Seq("k")))
    invariant("summarizeCycles")(() => Summarize.summarizeCycles(d, s, Seq("k")))
    invariant("summarizeWindows/past")(() =>
      WindowOps.summarizeWindows(d, WindowOps.pastAbsoluteTime("1d"),
        Summarizers.mean("v"), Seq("k")))
    invariant("addSummaryColumns")(() =>
      WindowOps.addSummaryColumns(d, Summarizers.max("v"), Seq("k")))
  }

  it should "produce identical packing / shuffle / span results" in {
    val docs = (0L until 150L)
      .map(i => (i, (i % 13) + 1, s"w${i % 9} w${i % 5} w${i % 3} w${i % 7} w${i % 2}"))
      .toDF("id", "toks", "text").repartition(5)
    invariant("packSequences")(() =>
      graft.llm.Sampling.packSequences(docs, "id", "toks", budget = 20L,
        numBuckets = 4).select("id", "pack_bucket", "pack_id", "pack_offset"))
    invariant("shufflePositions")(() =>
      graft.llm.Sampling.shufflePositions(docs.select("id"), "id"))
    invariant("duplicateSpans")(() =>
      graft.llm.Dedup.duplicateSpans(docs, "id", "text", n = 3))
  }

  it should "produce identical PQ / URL / lag-sum results across layouts" in {
    val F2 = org.apache.spark.sql.functions
    val vecs = (0L until 40L).map(i => (i,
      Seq((math.sin(i * 0.7) + 1.5).toFloat, (math.cos(i * 0.9) + 1.5).toFloat,
        (math.sin(i * 1.3) + 1.5).toFloat, (math.cos(i * 0.3) + 1.5).toFloat)))
      .toDF("vec_id", "embedding").repartition(7)
    invariant("pqTrain+Encode")(() => {
      val books = graft.llm.Similarity.pqTrain(vecs, "vec_id", "embedding",
        m = 2, k = 4, iters = 2)
      graft.llm.Similarity.pqEncode(vecs, "vec_id", "embedding", books)
    })
    invariant("ivfPqTopK")(() => {
      val books = graft.llm.Similarity.pqTrain(vecs, "vec_id", "embedding",
        m = 2, k = 4, iters = 1)
      val coarse = Seq(Seq(1.0f, 0.2f, 0.1f, 0.3f), Seq(0.1f, 1.0f, 0.9f, 0.2f))
      graft.llm.Similarity.ivfPqTopK(
        vecs.filter(F2.col("vec_id") < 3), vecs, "vec_id", "embedding",
        coarse, books, k = 5, nprobe = 2)
    })
    val urls = (0L until 90L)
      .map(i => (i, s"https://Site${i % 3}.com/p/${i % 30}#f$i"))
      .toDF("id", "url").repartition(6)
    invariant("dedupByUrl")(() => graft.llm.Urls.dedupByUrl(urls, "id", "url"))
    invariant("capPerDomain")(() =>
      graft.llm.Urls.capPerDomain(urls, "id", "url", n = 7))
    invariant("addLagSum")(() =>
      WindowOps.addLagSum(data, "v", "1d", "12h", Seq("k")))
  }

  it should "produce identical keep-best / bucket / LM / blocklist results" in {
    // the round-10 groupBy-shaped operators: keep-best dedup (two aggs on
    // one cluster_id partitioning), quality buckets (cutpoint agg +
    // broadcast-back label scan), the unigram-LM train/score pair (token
    // agg + driver-merged top-k model), and the blocklist/PSL scans
    val docs = (0L until 120L).map { i =>
      (i, s"s${i % 4}",
        s"w${i % 9} w${i % 5} the of w${i % 3} and w${i % 7} w${i % 2}",
        math.sin(i * 0.61) * 10 + (i % 6))
    }.toDF("id", "source", "text", "score").repartition(5)
    val pairs = (0L until 40L).map(i => (3 * i, 3 * i + 1))
      .toDF("id_a", "id_b").repartition(4)
    invariant("dedupByClustersKeepBest")(() =>
      graft.llm.Dedup.dedupByClustersKeepBest(docs, "id", pairs, "score"))
    invariant("qualityBuckets/exact")(() =>
      graft.llm.TextStats.qualityBuckets(docs, "source", "score"))
    invariant("qualityBuckets/sketch")(() =>
      graft.llm.TextStats.qualityBuckets(docs, "source", "score",
        approxAccuracy = 1000))
    invariant("unigramModel+Score")(() => {
      // trains INSIDE the closure: the token aggregation and the
      // micro-nat top-k model must themselves be layout-invariant
      val (model, total) = graft.llm.TextStats.unigramModel(docs, "text", 8)
      val oov = math.round(math.log(0.5 / total.toDouble) * 1e6)
      docs.select(org.apache.spark.sql.functions.col("id"),
        graft.llm.TextStats.unigramScore(
          org.apache.spark.sql.functions.col("text"), model, oov).as("lp"))
    })
    invariant("bigramModel+Score")(() => {
      val (bi, uni, oov) = graft.llm.TextStats.bigramModel(docs, "text",
        topK = 6, topB = 12)
      docs.select(org.apache.spark.sql.functions.col("id"),
        graft.llm.TextStats.bigramScore(
          org.apache.spark.sql.functions.col("text"), bi, uni,
          graft.llm.TextStats.StupidBackoffLp, oov).as("lp"))
    })
    invariant("blocklistHits")(() =>
      docs.select(org.apache.spark.sql.functions.col("id"),
        graft.llm.TextStats.blocklistHits(
          org.apache.spark.sql.functions.col("text"),
          Seq("w1", "w2", "the")).as("hits")))
    val urls = (0L until 90L)
      .map(i => (i, s"https://a${i % 5}.b${i % 3}.example.co.uk/p/$i"))
      .toDF("id", "url").repartition(6)
    invariant("registrableDomain/psl")(() =>
      urls.select(org.apache.spark.sql.functions.col("id"),
        graft.llm.Urls.registrableDomain(
          graft.llm.Urls.host(org.apache.spark.sql.functions.col("url")),
          Seq("co.uk", "uk", "com")).as("dom")))
    invariant("filterBlockedDomains")(() =>
      graft.llm.Urls.filterBlockedDomains(urls, "url",
        blocked = Seq("b1.example.co.uk"), suffixes = Seq("co.uk", "uk")))
    // round-11 corpus operators: explode + agg + join-back + reassembly
    val paraDocs = (0L until 100L).map { i =>
      (i, s"d${i % 3}",
        s"body ${i % 17} unique\n\nSHARED ${i % 6} PARA\n\nfoot ${i % 4}")
    }.toDF("id", "dom", "text").repartition(5)
    invariant("stripBoilerplate")(() =>
      graft.llm.TextStats.stripBoilerplate(paraDocs, "id", "dom", "text",
        minDocs = 5))
    invariant("dedupParagraphs")(() =>
      graft.llm.TextStats.dedupParagraphs(paraDocs, "id", "text",
        minChars = 4))
    invariant("tfidfTopTerms")(() =>
      graft.llm.TextStats.tfidfTopTerms(
        paraDocs.select(org.apache.spark.sql.functions.col("id"),
          org.apache.spark.sql.functions.translate(
            org.apache.spark.sql.functions.col("text"), "\n", " ").as("text")),
        "id", "text", k = 3))
  }

  it should "produce identical DSIR selection results across layouts" in {
    import org.apache.spark.sql.{functions => F}
    // the round-12 selection operators: DSIR model fit (two token-count
    // aggs + driver merge) trains INSIDE the closure, Gumbel-top-k is a
    // bounded TakeOrderedAndProject, cluster-quota composes the k-means
    // assignment with the certified per-stratum threshold selection
    val docs = (0L until 120L).map { i =>
      (i, s"w${i % 9} w${i % 5} the of w${i % 3} and w${i % 7} w${i % 2}")
    }.toDF("id", "text").repartition(5)
    val target = docs.filter(F.col("id") % 4 === 1)
    invariant("dsirModel+LogWeight")(() => {
      val (model, oov) =
        graft.llm.Selection.dsirModel(docs, target, "text", topV = 6)
      docs.select(F.col("id"),
        graft.llm.Selection.dsirLogWeight(F.col("text"), model, oov)
          .as("lw"))
    })
    invariant("gumbelTopK")(() => {
      val (model, oov) =
        graft.llm.Selection.dsirModel(docs, target, "text", topV = 6)
      graft.llm.Selection.gumbelTopK(
        docs.select(F.col("id"),
          graft.llm.Selection.dsirLogWeight(F.col("text"), model, oov)
            .as("lw")),
        "id", "lw", k = 30)
    })
    val vecs = (0L until 90L).map { i =>
      (i, Array.tabulate(8)(d => math.sin(i * 0.31 + d) * 5))
    }.toDF("vec_id", "embedding").repartition(4)
    invariant("clusterQuota")(() => {
      val (assign, _) = graft.llm.Similarity.kmeansCells(
        vecs, "vec_id", "embedding", k = 4, iters = 2)
      graft.llm.Sampling.quotaPerStratum(assign, Seq("cell"), "vec_id",
        n = 10)
    })
  }

  it should "produce identical incremental-dedup survivors across layouts" in {
    // round-11 cross-corpus ops: a digest anti-join and an LSH-bucket
    // candidate join + Jaccard verify + anti-join — both cross-frame
    // shuffles whose survivor set must not depend on partitioning
    import org.apache.spark.sql.functions.col
    val existing = (0L until 60L).map { i =>
      (i, s"base ${i % 7} words alpha beta gamma delta w${i % 11} tail")
    }.toDF("doc_id", "text").repartition(4)
    val incoming = (100L until 190L).map { i =>
      val t = if (i % 3 == 0)
        s"base ${i % 7} words alpha beta gamma delta w${i % 11} tail"
      else s"fresh ${i % 13} content q${i % 5} r${i % 9} s${i % 4} end $i"
      (i, t)
    }.toDF("doc_id", "text").repartition(5)
    invariant("dedupAgainstExact")(() =>
      graft.llm.Dedup.dedupAgainstExact(incoming, existing, "text"))
    invariant("dedupAgainstMinHash")(() =>
      graft.llm.Dedup.dedupAgainstMinHash(incoming, existing,
        "doc_id", "text", threshold = 0.5))
    invariant("gopherFilter")(() =>
      graft.llm.TextStats.gopherFilter(incoming, "text", minWords = 5))
    invariant("stripMarkup+encoding")(() =>
      incoming.select(col("doc_id"),
        graft.llm.TextStats.stripMarkup(
          org.apache.spark.sql.functions.concat(
            org.apache.spark.sql.functions.lit("<p>"), col("text"),
            org.apache.spark.sql.functions.lit("</p>"))).as("clean"),
        graft.llm.TextStats.encodingStats(col("text"))
          .getField("n_chars").as("nc")))
  }

  it should "produce identical classifier / graph / sketch / hybrid results" in {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.{functions => F}
    val labeled = (0L until 80L).map { i =>
      val lang = if (i % 3 == 0) "es" else "en"
      val t = if (lang == "en") s"the cat w${i % 11} runs over it ${i % 5}"
              else s"el gato w${i % 11} corre y salta ${i % 5}"
      (i, t, lang)
    }.toDF("doc_id", "text", "lang").repartition(5)
    // trainer: the (label, bucket) count table must not depend on layout
    invariant("nbWeights")(() =>
      graft.llm.Classify.nbWeights(labeled, "text", "lang", 32))
    // scorer: integer accumulation, layout-free by construction
    invariant("nbClassify")(() =>
      graft.llm.Classify.nbClassify(labeled, "text", "lang", 32)
        .select("doc_id", "pred", "lp_micro"))
    // all-integer PageRank over a skewed multigraph
    val edges = (0 until 200).map { i =>
      (s"d${i % 17}", s"d${(i * 7 + 1) % 5}") // fan-in skew onto 5 domains
    }.toDF("src_domain", "dst_domain").repartition(6)
    invariant("pageRankMicro")(() => graft.llm.WebGraph.pageRankMicro(edges))
    val pages = (0L until 60L).map { i =>
      (i, s"https://s${i % 9}.com/p$i",
        s"""<a href="https://t${i % 4}.org/x">a</a>""" +
          (if (i % 2 == 0) s"""<a href="https://u${i % 6}.com/y">b</a>""" else ""))
    }.toDF("doc_id", "url", "html").repartition(5)
    invariant("inlinkStats")(() =>
      graft.llm.WebGraph.inlinkStats(pages, "url", "html"))
    // CMS: integer cells + min-over-lanes estimates
    invariant("cmsHeavyHitters")(() =>
      graft.llm.TextStats.cmsHeavyHitters(labeled, "text", k = 10,
        depth = 4, width = 64))
    // hybrid retrieval: shortlist + rerank, ranks must be layout-free
    val emb = (0L until 80L).map(i =>
      (i, Seq((i % 7).toFloat + 1f, (i % 3).toFloat, 1f)))
      .toDF("vec_id", "embedding").repartition(4)
    invariant("hybridTopK")(() =>
      graft.llm.Retrieval.hybridTopK(labeled, emb, "doc_id", "text",
        "vec_id", "embedding",
        Seq(3L -> "the cat", 6L -> "el gato"), kLex = 10, k = 4))
    invariant("readability")(() =>
      labeled.select(col("doc_id"),
        graft.llm.TextStats.fkStats(col("text")).as("fk"),
        graft.llm.TextStats.fkGradeMicro(col("text")).as("g"))
        .select(col("doc_id"), F.col("fk.n_words"), F.col("fk.n_syllables"),
          col("g")))
    // round-13: the composed pipeline chain and the SimHash cap audit —
    // pack buckets, greedy fills, and epoch positions are hash-of-id
    // arithmetic, layout-free by construction
    invariant("pipelineChain")(() => PipelineChainFixture.run(spark))
    invariant("simHashBucketAudit")(() =>
      graft.llm.Dedup.simHashBucketAudit(labeled, "doc_id", "text",
        maxBucketSize = 2, sketch = graft.llm.Dedup.simHashPortable))
  }
}
