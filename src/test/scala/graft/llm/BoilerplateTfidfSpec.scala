package graft.llm

import graft.SparkTestBase
import org.apache.spark.sql.{functions => F}

/** Unit semantics for the round-11 corpus operators: line-level
  * boilerplate removal and bounded per-document tf-idf top terms. */
class BoilerplateTfidfSpec extends SparkTestBase {
  import spark.implicits._

  behavior of "stripBoilerplate"

  private def corpus = Seq(
    (1L, "d1", "NAV\nbody one\nfooter"),
    (2L, "d1", "NAV\nbody two\nfooter"),
    (3L, "d1", "NAV\nfooter"),
    (4L, "d1", "unique text"),
    (5L, "d2", "NAV\nother domain"),
    (6L, "d2", null: String)
  ).toDF("id", "dom", "text")

  it should "remove lines repeated across >= minDocs docs of a group, in order" in {
    val out = TextStats.stripBoilerplate(corpus, "id", "dom", "text", minDocs = 2)
      .select("id", "text").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    out(1L) shouldBe "body one"
    out(2L) shouldBe "body two"
    out(3L) shouldBe "" // every line boilerplate -> empty doc, row kept
    out(4L) shouldBe "unique text"
    // d2 has only one NAV doc: below threshold there, so it survives —
    // boilerplate is per-group, never global
    out(5L) shouldBe "NAV\nother domain"
    out(6L) shouldBe null
  }

  it should "exempt blank lines so paragraph boundaries survive" in {
    // every doc in the group is multi-paragraph: without the exemption the
    // empty line (and the spaces-only line) would clear minDocs and be
    // deleted everywhere, collapsing the \n\n boundaries downstream
    // paragraph ops key on
    val d = Seq((1L, "g", "para one\n\npara two"),
      (2L, "g", "alpha\n\nbeta"), (3L, "g", "x\n \ny"))
      .toDF("id", "dom", "text")
    val out = TextStats.stripBoilerplate(d, "id", "dom", "text", minDocs = 2)
      .select("id", "text").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    out(1L) shouldBe "para one\n\npara two"
    out(2L) shouldBe "alpha\n\nbeta"
    out(3L) shouldBe "x\n \ny"
  }

  it should "respect the minDocs threshold" in {
    val d = Seq((1L, "g", "NAV\nbody one\nfooter"),
      (2L, "g", "NAV\nbody two\nfooter"), (3L, "g", "NAV\nsolo"))
      .toDF("id", "dom", "text")
    val out = TextStats.stripBoilerplate(d, "id", "dom", "text", minDocs = 3)
      .select("id", "text").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // NAV appears in all 3 docs -> stripped; footer only in 2 -> kept
    out(1L) shouldBe "body one\nfooter"
    out(3L) shouldBe "solo"
  }

  it should "preserve surviving-line order and non-text columns" in {
    val d = Seq((1L, "g", "keep a\nBP\nkeep b\nBP\nkeep c", 7.5),
      (2L, "g", "BP\nx", 1.0), (3L, "g", "BP", 2.0))
      .toDF("id", "dom", "text", "w")
    val out = TextStats.stripBoilerplate(d, "id", "dom", "text", minDocs = 3)
      .orderBy("id").collect()
    out(0).getString(2) shouldBe "keep a\nkeep b\nkeep c"
    out(0).getDouble(3) shouldBe 7.5
    out.length shouldBe 3
  }

  behavior of "dedupParagraphs"

  it should "keep a duplicated paragraph only in its lowest-id document" in {
    val d = Seq(
      (1L, "alpha text\n\nSHARED PARA\n\nmore alpha"),
      (2L, "beta text\n\nSHARED PARA"),
      (3L, "SHARED PARA\n\ngamma"),
      (4L, null: String)
    ).toDF("id", "text")
    val out = TextStats.dedupParagraphs(d, "id", "text", minChars = 4)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    out(1L) shouldBe "alpha text\n\nSHARED PARA\n\nmore alpha"
    out(2L) shouldBe "beta text"
    out(3L) shouldBe "gamma"
    out(4L) shouldBe null
  }

  it should "not count or delete paragraphs below minChars; keep intra-doc repeats" in {
    val d = Seq(
      (1L, "ab\n\nlong unique one"),
      (2L, "ab\n\nlong unique two"),
      (3L, "TWICE HERE\n\nTWICE HERE")
    ).toDF("id", "text")
    val out = TextStats.dedupParagraphs(d, "id", "text", minChars = 4)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // "ab" is under minChars: duplicated across docs yet untouched
    out(1L) shouldBe "ab\n\nlong unique one"
    out(2L) shouldBe "ab\n\nlong unique two"
    // repeated within ONE doc only: not a cross-doc duplicate
    out(3L) shouldBe "TWICE HERE\n\nTWICE HERE"
  }

  it should "empty a document whose every paragraph is claimed elsewhere" in {
    val d = Seq((1L, "SAME PARA"), (2L, "SAME PARA")).toDF("id", "text")
    val out = TextStats.dedupParagraphs(d, "id", "text", minChars = 4)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    out(1L) shouldBe "SAME PARA"
    out(2L) shouldBe ""
  }

  behavior of "tfidfTopTerms"

  it should "rank terms by exact integer tf-idf with term-ascending ties" in {
    val d = Seq((1L, "a a b"), (2L, "a c"), (3L, "b b c c d"))
      .toDF("id", "text")
    def idf(df: Int): Long =
      math.round((math.log(4.0 / (df + 1)) + 1.0) * 1e6)
    val out = TextStats.tfidfTopTerms(d, "id", "text", k = 2)
      .collect().map(r => (r.getLong(0), r.getInt(2)) ->
        (r.getString(1), r.getLong(3))).toMap
    out((1L, 1)) shouldBe ("a", 2 * idf(2))
    out((1L, 2)) shouldBe ("b", idf(2))
    // doc 2: a and c tie at idf(2) -> term-ascending puts a first
    out((2L, 1)) shouldBe ("a", idf(2))
    out((2L, 2)) shouldBe ("c", idf(2))
    // doc 3: b and c tie at 2*idf(2) -> term-ascending puts b first
    out((3L, 1)) shouldBe ("b", 2 * idf(2))
    out((3L, 2)) shouldBe ("c", 2 * idf(2))
  }

  it should "tokenize the corpus exactly once (df re-aggregated through " +
    "the tf exchange)" in {
    // dfreq counts rows of the (doc, term) tf aggregate THROUGH a
    // reference to __tf, keeping both consumers' subtrees identical so
    // ReuseExchange materializes the single scan+explode once — the same
    // fuse bm25TopK pinned in r14 (the r15-previous form tokenized the
    // corpus twice, documented as a ReuseExchange defeat).
    val d = Seq((1L, "a a b"), (2L, "a c"), (3L, "b b c c d"))
      .toDF("id", "text")
    val p = TextStats.tfidfTopTerms(d, "id", "text", k = 2)
      .queryExecution.executedPlan
    val generates = p.collectWithSubqueries {
      case g: org.apache.spark.sql.execution.GenerateExec => g
    }
    // one token explode + the TopKAgg posexplode finisher
    withClue(p.toString) { generates should have size 2 }
    p.collectWithSubqueries {
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => r
    } should not be empty
  }

  behavior of "corpusDiff"

  it should "classify added/removed/changed/unchanged by content hash" in {
    val oldV = Seq((1L, "same"), (2L, "will change"), (3L, "goes away"),
      (5L, null: String)).toDF("id", "text")
    val newV = Seq((1L, "same"), (2L, "changed!"), (4L, "brand new"),
      (5L, null: String)).toDF("id", "text")
    val out = Dedup.corpusDiff(oldV, newV, "id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    out shouldBe Map(1L -> "unchanged", 2L -> "changed", 3L -> "removed",
      4L -> "added", 5L -> "unchanged") // null texts compare null-safe
  }

  behavior of "random-corpus parity with brute-force references"

  it should "match a brute-force stripBoilerplate on seeded random corpora" in {
    val rnd = new scala.util.Random(110817L)
    val lines = Array("", "NAV", "footer (c)", "body x", "body y", "unique",
      "  spaced  ", "tail")
    val rows = (0L until 60L).map { i =>
      val n = 1 + rnd.nextInt(5)
      (i, "g" + rnd.nextInt(2),
        Seq.fill(n)(lines(rnd.nextInt(lines.length))).mkString("\n"))
    }
    val minDocs = 3
    // brute force: per (group, line), count distinct docs; delete lines
    // at or above the threshold from every doc of the group
    val byGroup = rows.groupBy(_._2).view.mapValues { rs =>
      rs.flatMap(r => r._3.split("\n", -1).distinct.map(l => (r._1, l)))
        .filter(_._2.trim.nonEmpty) // blank lines are exempt
        .groupBy(_._2).view.mapValues(_.map(_._1).distinct.size)
        .filter(_._2 >= minDocs).keySet
    }.toMap
    val want = rows.map { case (id, g, t) =>
      id -> t.split("\n", -1).filterNot(byGroup(g)).mkString("\n")
    }.toMap
    val got = TextStats.stripBoilerplate(
        rows.toDF("id", "dom", "text").repartition(7), "id", "dom", "text",
        minDocs)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    got shouldBe want
  }

  it should "match a brute-force dedupParagraphs on seeded random corpora" in {
    val rnd = new scala.util.Random(220817L)
    val paras = Array("", "ab", "SHARED ONE", "SHARED TWO", "solo piece",
      "another body", "x")
    val rows = (0L until 60L).map { i =>
      val n = 1 + rnd.nextInt(4)
      (i, Seq.fill(n)(paras(rnd.nextInt(paras.length))).mkString("\n\n"))
    }
    val minChars = 3
    val keepId = rows
      .flatMap(r => r._2.split("\n\n", -1).distinct
        .filter(_.length >= minChars).map(p => (p, r._1)))
      .groupBy(_._1).view
      .mapValues(v => (v.map(_._2).distinct.size, v.map(_._2).min))
      .filter(_._2._1 >= 2).mapValues(_._2).toMap
    val want = rows.map { case (id, t) =>
      id -> t.split("\n\n", -1)
        .filter(p => keepId.get(p).forall(_ == id)).mkString("\n\n")
    }.toMap
    val got = TextStats.dedupParagraphs(
        rows.toDF("id", "text").repartition(5), "id", "text", minChars)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    got shouldBe want
  }

  behavior of "qualityBucketsComputed"

  it should "match qualityBuckets on the same computed score" in {
    val d = Seq((1L, "s", "low"), (2L, "s", "medium text here"),
      (3L, "s", "a much longer and better piece of text"))
      .toDF("id", "src", "text")
    val score = F.length(F.col("text")).cast("double")
    val direct = TextStats.qualityBuckets(
        d.withColumn("q", score), "src", "q")
      .select("id", "bucket").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val computed = TextStats.qualityBucketsComputed(
        d, "src", score, Seq("id", "src"))
      .select("id", "bucket").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    computed shouldBe direct
    computed(3L) shouldBe "head"
    TextStats.qualityBucketsComputed(d, "src", score, Seq("id", "src"))
      .columns.toSeq shouldBe Seq("id", "src", "bucket")
  }

  it should "leave no residual cache across a loop of eager calls" in {
    val d = Seq.tabulate(50)(i => (i.toLong, "s" + (i % 3), "w" * (1 + i % 7)))
      .toDF("id", "src", "text")
    val score = F.length(F.col("text")).cast("double")
    val lazyLabels = TextStats.qualityBucketsComputed(
        d, "src", score, Seq("id", "src"))
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    spark.catalog.clearCache() // release the lazy run's score cache
    val before = spark.sparkContext.getPersistentRDDs.size
    (1 to 10).foreach { _ =>
      val r = TextStats.qualityBucketsComputed(
        d, "src", score, Seq("id", "src"), eager = true)
      // same labels as the lazy path, and after unpersist the session is
      // back to its pre-call cache census — nothing accumulates
      r.collect().map(x => x.getLong(0) -> x.getString(2)).toMap shouldBe
        lazyLabels
      r.unpersist(blocking = true)
      spark.sparkContext.getPersistentRDDs.size shouldBe before
    }
  }

  behavior of "bigramModel / bigramScore"

  it should "match hand-computed stupid-backoff micro-nat scores" in {
    val d = Seq((1L, "a b a b c"), (2L, "a b x")).toDF("id", "text")
    val (bi, uni, oov) = TextStats.bigramModel(d, "text", topK = 3, topB = 2)
    // tokens: a:3 b:3 c:1 x:1 (total 8); bigrams: "a b":3 "b a":1 "b c":1
    // "b x":1 -> top-2 = "a b", "b a" (count desc, pair asc)
    def q(p: Double): Long = math.round(math.log(p) * 1e6)
    bi.toMap shouldBe Map("a b" -> q(3.0 / 3), "b a" -> q(1.0 / 3))
    uni.toMap shouldBe Map("a" -> q(3.0 / 8), "b" -> q(3.0 / 8),
      "c" -> q(1.0 / 8))
    oov shouldBe q(1.0 / 8)
    val back = TextStats.StupidBackoffLp
    val got = d.select(F.col("id"),
        TextStats.bigramScore(F.col("text"), bi, uni, back, oov).as("lp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // doc1: (a b)=0, (b a), (a b)=0, (b c)-> back+uni(c)
    got(1L) shouldBe q(1.0 / 3) + back + q(1.0 / 8)
    // doc2: (a b)=0, (b x)-> back+oov (x not in top-3 vocab)
    got(2L) shouldBe back + q(1.0 / 8)
    // fewer than two tokens -> 0; null -> null
    val edge = Seq((1L, "solo"), (2L, null: String)).toDF("id", "text")
      .select(F.col("id"),
        TextStats.bigramScore(F.col("text"), bi, uni, back, oov).as("lp"))
      .collect()
    edge(0).getLong(1) shouldBe 0L
    edge(1).isNullAt(1) shouldBe true
  }

  it should "give its top-B pairs ln(cnt(pair)/cnt(w1)) over the fused " +
    "gramCounts table" in {
    // The law tying the two-pass model to the one-scan gram table: the
    // top-B pairs are gramCounts' pairs ranked (cnt desc, pair asc), and
    // each logprob is the quantized conditional frequency of those counts.
    // Doc 3's double space yields an empty token, so pairs "c " and " x".
    val rnd = new scala.util.Random(7)
    val docs = Seq("a b a b c", "a b x", "c  x a b") ++
      (0 until 30).map(_ => Seq.fill(2 + rnd.nextInt(8))(
        s"w${rnd.nextInt(6)}").mkString(" "))
    val d = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
    val topB = 8
    val (bi, _, _) = TextStats.bigramModel(d, "text", topK = 3, topB = topB)
    val counts = TextStats.gramCounts(d, "text").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getBoolean(2)))
    val cnt = counts.map(t => t._1 -> t._2).toMap
    bi.map(_._1) shouldBe counts.filter(_._3)
      .sortBy(t => (-t._2, t._1)).take(topB).map(_._1).toSeq
    bi.foreach { case (pair, lp) =>
      withClue(pair) {
        lp shouldBe math.round(math.log(cnt(pair).toDouble /
          cnt(pair.takeWhile(_ != ' ')).toDouble) * 1e6)
      }
    }
  }

  it should "ignore empty tokens and docs with no tokens" in {
    val d = Seq((1L, "x  y"), (2L, ""), (3L, null: String)).toDF("id", "text")
    val out = TextStats.tfidfTopTerms(d, "id", "text", k = 3)
    out.select("id").distinct().collect().map(_.getLong(0)).sorted shouldBe
      Array(1L)
    out.filter(F.col("term") === "").count() shouldBe 0L
  }
}
