package graft.llm

import graft.SparkTestBase
import org.apache.spark.sql.{Column, functions => F}

/** N-gram text operators: repetition signals, benchmark contamination,
  * context-window chunking. */
class TextOpsSpec extends SparkTestBase {
  import spark.implicits._

  behavior of "ngrams"

  it should "emit word n-grams and no partials for short docs" in {
    val d = Seq((1L, "a b c d")).toDF("id", "text")
    d.select(TextStats.ngrams(F.col("text"), 2)).as[Seq[String]].head() shouldBe
      Seq("a b", "b c", "c d")
    d.select(TextStats.ngrams(F.col("text"), 4)).as[Seq[String]].head() shouldBe
      Seq("a b c d")
    d.select(TextStats.ngrams(F.col("text"), 5)).as[Seq[String]].head() shouldBe
      Seq.empty[String]
  }

  /** The `transform(slice(split(...)))` column form the kernel replaced. */
  private def ngramsReference(text: Column, n: Int): Column = {
    val ts = TextStats.tokens(text)
    F.when(F.size(ts) >= n,
      F.transform(F.sequence(F.lit(0), F.size(ts) - n), i =>
        F.array_join(F.slice(ts, i + F.lit(1), F.lit(n)), " ")))
      .otherwise(F.array().cast("array<string>"))
  }

  it should "give the column form's n-grams for n = 1..5 on edge texts" in {
    val texts = Seq(null, "", " ", "   ", "a", "a b", "a b c d e", "a  b", " a b",
      "a b ", "  lead  and trail  ", "x y x y x y", "\uD83D\uDE00 a \uD834\uDD1E b",
      "\u00e9\uD83D\uDE00 \uD83D\uDE00\u00e9  \uD834\uDD1E")
    val d = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    for (n <- 1 to 5) {
      val rows = d.select(F.col("id"), TextStats.ngrams(F.col("text"), n).as("k"),
        ngramsReference(F.col("text"), n).as("ref")).orderBy("id").collect()
      rows should have size texts.size.toLong
      rows.foreach { r =>
        withClue(s"n=$n text=${texts(r.getLong(0).toInt)}: ") {
          r.isNullAt(1) shouldBe false
          r.getSeq[String](1) shouldBe r.getSeq[String](2)
        }
      }
    }
  }

  it should "keep empty tokens and return an empty array for null text" in {
    val d = Seq((1L, " a  b"), (2L, null), (3L, ""), (4L, "a")).toDF("id", "text")
    val got = d.select(TextStats.ngrams(F.col("text"), 2)).as[Seq[String]].collect()
    got.toSeq shouldBe Seq(Seq(" a", "a ", " b"), Seq.empty, Seq.empty, Seq.empty)
    d.select(TextStats.ngrams(F.col("text"), 1)).as[Seq[String]].collect().toSeq shouldBe
      Seq(Seq("", "a", "", "b"), Seq.empty, Seq(""), Seq("a"))
  }

  behavior of "ngramRepetition"

  it should "compute top and duplicate n-gram fractions" in {
    // bigrams of "a b a b a": [a b, b a, a b, b a] -> 4 total, 2 distinct
    val d = Seq((1L, "a b a b a"), (2L, "x y z")).toDF("id", "text")
    val r = TextStats.ngramRepetition(d, "id", "text", 2)
      .orderBy("id").collect()
    r(0).getLong(1) shouldBe 4L
    approx(r(0).getDouble(2), 0.5) // top bigram claims 2 of 4
    approx(r(0).getDouble(3), 0.5) // (4 - 2 distinct) / 4
    r(1).getLong(1) shouldBe 2L
    approx(r(1).getDouble(2), 0.5)
    approx(r(1).getDouble(3), 0.0)
  }

  it should "omit docs shorter than n" in {
    val d = Seq((1L, "only"), (2L, "a b")).toDF("id", "text")
    val r = TextStats.ngramRepetition(d, "id", "text", 2)
    r.select("id").as[Long].collect().toSeq shouldBe Seq(2L)
  }

  behavior of "chunkTokens"

  it should "produce strided windows covering every token" in {
    val d = Seq((7L, "t1 t2 t3 t4 t5")).toDF("id", "text")
    val r = TextStats.chunkTokens(d, "id", "text", chunkSize = 3, stride = 2)
      .orderBy("chunk_id")
      .select("chunk_id", "start", "n_tokens", "chunk_text").collect()
    r.map(_.getInt(0)).toSeq shouldBe Seq(0, 1, 2)
    r.map(_.getInt(1)).toSeq shouldBe Seq(0, 2, 4)
    r.map(_.getInt(2)).toSeq shouldBe Seq(3, 3, 1)
    r.map(_.getString(3)).toSeq shouldBe Seq("t1 t2 t3", "t3 t4 t5", "t5")
  }

  it should "emit one full chunk for docs at or under chunkSize" in {
    val d = Seq((1L, "a b")).toDF("id", "text")
    val r = TextStats.chunkTokens(d, "id", "text", chunkSize = 8, stride = 8).collect()
    r.length shouldBe 1
    r(0).getAs[String]("chunk_text") shouldBe "a b"
    r(0).getAs[Int]("n_tokens") shouldBe 2
  }

  behavior of "Contamination.ngramOverlap"

  it should "count distinct n-gram overlap against the benchmark set" in {
    val train = Seq(
      (1L, "the quick brown fox jumps"), // shares "the quick brown"+"quick brown fox"
      (2L, "totally clean document here okay"),
      (3L, "a b")                        // shorter than n: zero n-grams
    ).toDF("id", "text")
    val bench = Seq((10L, "the quick brown fox ran")).toDF("id", "text")
    val r = Contamination.ngramOverlap(train, bench, "id", "text", n = 3)
      .orderBy("id").collect()
    r(0).getAs[Int]("n_grams") shouldBe 3
    r(0).getAs[Long]("n_matched") shouldBe 2L
    approx(r(0).getAs[Double]("contamination"), 2.0 / 3.0)
    r(1).getAs[Long]("n_matched") shouldBe 0L
    approx(r(1).getAs[Double]("contamination"), 0.0)
    r(2).getAs[Int]("n_grams") shouldBe 0
    approx(r(2).getAs[Double]("contamination"), 0.0)
  }

  it should "be independent of input partitioning" in {
    val docs = (0L until 200L)
      .map(i => (i, s"w${i % 7} w${i % 5} w${i % 3} w${i % 11} w${i % 2}"))
      .toDF("id", "text")
    val bench = Seq((0L, "w0 w0 w0 w1 w2")).toDF("id", "text")
    val a = Contamination.ngramOverlap(docs, bench, "id", "text", 3)
      .orderBy("id").collect().toSeq
    val b = Contamination.ngramOverlap(docs.repartition(13), bench, "id", "text", 3)
      .orderBy("id").collect().toSeq
    a shouldBe b
  }

  it should "fall back to a shuffle join when the bench side estimate exceeds the cap" in {
    def hasBroadcastHint(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.analyzed.collectFirst {
        case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
      }.nonEmpty
    val docs = Seq((1L, "a b c d")).toDF("id", "text")
    val bench = (0L until 100L).map(i => (i, s"x$i y$i z$i w$i"))
      .toDF("id", "text")
    // small bench under the default cap: broadcast hint planned
    hasBroadcastHint(
      Contamination.ngramOverlap(docs, bench, "id", "text", 3)) shouldBe true
    // same bench over a tiny cap: no hint — a shuffle join is planned, the
    // driver's heap is never bet on the caller's size guess
    val capped = Contamination.ngramOverlap(docs, bench, "id", "text", 3,
      maxBroadcastBytes = 1L)
    hasBroadcastHint(capped) shouldBe false
    // opt-out still honored
    hasBroadcastHint(Contamination.ngramOverlap(docs, bench, "id", "text", 3,
      broadcastBench = false)) shouldBe false
    // and the fallback plan still computes the same answer
    capped.orderBy("id").collect().map(_.getAs[Long]("n_matched")) shouldBe
      Contamination.ngramOverlap(docs, bench, "id", "text", 3)
        .orderBy("id").collect().map(_.getAs[Long]("n_matched"))
  }

  behavior of "hardFilter"

  it should "flag the Gopher/C4 reject rules and conjoin them into keep" in {
    val good = ("the quick brown fox jumps over the lazy dog and then " * 6).trim
    val d = Seq(
      (1L, good),                                // passes everything
      (2L, "short doc of the day"),              // words_ok fails (< 50)
      (3L, good + " {json}"),                    // brace fails
      (4L, good + " lorem ipsum dolor"),         // lorem fails
      (5L, ("zz qq ww " * 20).trim))             // stopword + mwl fail
      .toDF("doc_id", "text")
    val out = TextStats.hardFilter(d, "text").orderBy("doc_id").collect()
    out.map(_.getAs[Boolean]("keep")).toSeq shouldBe
      Seq(true, false, false, false, false)
    out(1).getAs[Boolean]("words_ok") shouldBe false
    out(2).getAs[Boolean]("no_braces") shouldBe false
    out(3).getAs[Boolean]("no_lorem") shouldBe false
    out(4).getAs[Boolean]("stop_ok") shouldBe false
    out(4).getAs[Boolean]("mwl_ok") shouldBe false
    // every per-rule flag is true for the clean doc
    Seq("words_ok", "mwl_ok", "stop_ok", "no_braces", "no_lorem")
      .foreach(f => out(0).getAs[Boolean](f) shouldBe true)
  }

  behavior of "blocklistHits"

  it should "count blocklisted tokens case-sensitively in one pass" in {
    val d = Seq(
      (1L, "a bad day with bad words"),
      (2L, "all clean here"),
      (3L, "Bad is not bad")) // case-sensitive: only lowercase counts
      .toDF("doc_id", "text")
    val out = d.select($"doc_id",
      TextStats.blocklistHits($"text", Seq("bad", "worse")).as("n"))
      .orderBy("doc_id").collect().map(_.getInt(1))
    out shouldBe Array(2, 0, 1)
  }

  behavior of "unigramModel / unigramScore"

  it should "train quantized logprobs and score with the OOV floor" in {
    val d = Seq((1L, "a a b"), (2L, "a c")).toDF("doc_id", "text")
    val (model, oov) = TextStats.unigramModel(d, "text", topK = 2)
    // tokens: a:3, b:1, c:1, total 5; top-2 = a, then b (count tie -> asc)
    def q(p: Double) = math.round(math.log(p) * 1e6)
    model shouldBe Seq("a" -> q(3.0 / 5), "b" -> q(1.0 / 5))
    oov shouldBe q(1.0 / 5)
    val scores = d.select($"doc_id",
      TextStats.unigramScore($"text", model, oov).as("lp"))
      .orderBy("doc_id").collect().map(_.getLong(1))
    scores(0) shouldBe 2 * q(3.0 / 5) + q(1.0 / 5)       // a a b
    scores(1) shouldBe q(3.0 / 5) + q(1.0 / 5)           // a + OOV c
    // integer sums are partition-order independent by construction
    val scores8 = d.repartition(8).select($"doc_id",
      TextStats.unigramScore($"text", model, oov).as("lp"))
      .orderBy("doc_id").collect().map(_.getLong(1))
    scores8 shouldBe scores
  }

  behavior of "qualityBuckets"

  it should "bucket per stratum by exact quantile cutpoints" in {
    // scores 1..9 per stratum: tertile cuts at R-7 interpolation; 'b' is
    // shifted so cutpoints are clearly per-stratum
    val rows = (1 to 9).map(i => (i.toLong, "a", i.toDouble)) ++
      (1 to 9).map(i => (i.toLong + 100, "b", i + 100.0))
    val out = TextStats.qualityBuckets(rows.toDF("id", "src", "q"),
      "src", "q")
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    // R-7 cuts for 1..9 at 1/3 and 2/3: c1 = 3.6667, c2 = 6.3333
    (1 to 3).foreach(i => out(i.toLong) shouldBe "tail")
    (4 to 6).foreach(i => out(i.toLong) shouldBe "middle")
    (7 to 9).foreach(i => out(i.toLong) shouldBe "head")
    (107 to 109).foreach(i => out(i.toLong) shouldBe "head")
    // null score -> null bucket; null stratum is its own group
    val withNull = Seq((1L, Some("a"), Some(1.0)), (2L, Some("a"), None),
      (3L, None: Option[String], Some(5.0))).toDF("id", "src", "q")
    val nb = TextStats.qualityBuckets(withNull, "src", "q")
      .collect().map(r => r.getLong(0) -> Option(r.getString(3))).toMap
    nb(2L) shouldBe None
    nb(3L) shouldBe Some("head") // sole member of the null stratum
    // the bounded-sketch cutpoint path returns DATA values (no R-7
    // interpolation), so boundary labels may shift by one rank — assert
    // the invariant that holds: buckets are score-monotone per stratum
    // and all three appear
    val approx = TextStats.qualityBuckets(rows.toDF("id", "src", "q"),
      "src", "q", approxAccuracy = 10000)
      .collect().map(r => (r.getString(1), r.getDouble(2), r.getString(3)))
    approx.groupBy(_._1).values.foreach { g =>
      def scores(b: String) = g.filter(_._3 == b).map(_._2)
      Seq("tail", "middle", "head").foreach(b => scores(b) should not be empty)
      scores("head").min should be >= scores("middle").max
      scores("middle").min should be >= scores("tail").max
    }
  }

  behavior of "Pii"

  it should "count and redact emails, IPv4 addresses and phone numbers" in {
    val d = Seq(
      (1L, "mail alice.smith+x@sub.example.co.uk and bob@ex.org now"),
      (2L, "server at 192.168.0.1 and 10.0.0.255 but not 1.2.3.4567"),
      (3L, "call +1 555 0137 or +44 20 7946 0958 today"),
      (4L, "no pii here at all"))
      .toDF("id", "text")
    val out = d.select(F.col("id"),
      Pii.emailCount(F.col("text")).as("e"),
      Pii.ipv4Count(F.col("text")).as("i"),
      Pii.phoneCount(F.col("text")).as("p"),
      Pii.redact(F.col("text")).as("r"))
      .orderBy("id").collect()
    out.map(r => (r.getInt(1), r.getInt(2), r.getInt(3))).toSeq shouldBe
      Seq((2, 0, 0), (0, 2, 0), (0, 0, 2), (0, 0, 0))
    out(0).getString(4) shouldBe "mail <EMAIL> and <EMAIL> now"
    out(1).getString(4) shouldBe "server at <IP> and <IP> but not 1.2.3.4567"
    out(2).getString(4) shouldBe "call <PHONE> or <PHONE> today"
    out(3).getString(4) shouldBe "no pii here at all"
  }

  it should "redact the email before its digits can look like a phone" in {
    val d = Seq((1L, "x u12345678@ex.com y")).toDF("id", "text")
    d.select(Pii.redact(F.col("text"))).head().getString(0) shouldBe "x <EMAIL> y"
  }

  it should "reconcile staged counts with the redacted output" in {
    // '+12345678' inside the email local part matches the phone pattern on
    // raw text; the staged counts must attribute it to the email instead
    val d = Seq((1L, "contact bob+12345678@ex.com now")).toDF("id", "text")
    val r = d.select(Pii.counts(F.col("text")).map { case (n, c) => c.as(n) }: _*)
      .head()
    (r.getInt(0), r.getInt(1), r.getInt(2)) shouldBe ((1, 0, 0))
    d.select(Pii.redact(F.col("text"))).head().getString(0) shouldBe
      "contact <EMAIL> now"
  }

  behavior of "text kernels vs column forms"

  /** Shared corpus for kernel-vs-reference parity: edge cases + seeded
    * random fragment concatenations (multi-space runs, CJK, digits glued to
    * letters, surrogate pairs, stopwords of several languages). */
  private def textParityCorpus: Seq[String] = {
    val rnd = new scala.util.Random(1717)
    val frags = Array(
      "the", "la", "der", "les", "que", "de", "und", "pour", "it", "no",
      "word", "Word123x", "42", "3.14", "!?", "{}", "a,b;c", "汉字漢字",
      "😀", "tok_r73", "", " ", "  ", "\tx\n", "é-ü", "not-a-stopword",
      "THE", "100000", "a1b2c3")
    val edge = Seq(
      "", " ", "   ", "the la der les que", "que que que", "汉 字 the",
      "汉字汉字汉字 the a is", "el la de que y en", "der die das und ist",
      "le les des et une est", "a.b!c?d;e:f", "123abc456", "__a__",
      "x\fy\rz", "😀😀😀", "mixé café naïve", "the quick brown fox",
      "one two three four five six seven eight nine ten the of and")
    edge ++ (0 until 250).map { _ =>
      val n = 1 + rnd.nextInt(14)
      Seq.fill(n)(frags(rnd.nextInt(frags.length)))
        .mkString(if (rnd.nextInt(4) == 0) "" else " ")
    }
  }

  it should "match bpeTokenCount kernel to the regexp form" in {
    val d = textParityCorpus.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
    val bad = d.select(F.col("text"),
      TextStats.bpeTokenCount(F.col("text")).as("k"),
      TextStats.bpeTokenCountRegex(F.col("text")).as("r"))
      .where(F.col("k") =!= F.col("r")).collect()
    withClue(bad.mkString("; ")) { bad shouldBe empty }
  }

  it should "match docTokenStats kernel to the split-array column forms" in {
    val ts = F.split(F.col("text"), " ")
    val d = textParityCorpus.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
    val bad = d.select(F.col("text"),
      TextStats.tokenCount(F.col("text")).as("k_n"),
      F.size(ts).as("r_n"),
      TextStats.uniqueTokenCount(F.col("text")).as("k_u"),
      F.size(F.array_distinct(ts)).as("r_u"),
      org.apache.spark.sql.graft.GraftColumns
        .docTokenStats(F.col("text"), TextStats.EnStop).getField("n_punct").as("k_p"),
      (F.length(F.col("text")) -
        F.length(F.regexp_replace(F.col("text"), "[.,!?;:]", ""))).as("r_p"),
      org.apache.spark.sql.graft.GraftColumns
        .docTokenStats(F.col("text"), TextStats.EsStop).getField("n_stop").as("k_s"),
      TextStats.hits(F.col("text"), TextStats.EsStop).as("r_s"))
      .where(F.col("k_n") =!= F.col("r_n") || F.col("k_u") =!= F.col("r_u") ||
        F.col("k_p") =!= F.col("r_p") || F.col("k_s") =!= F.col("r_s"))
      .collect()
    withClue(bad.mkString("; ")) { bad shouldBe empty }
  }

  it should "match chunkSpans kernel to the transform+slice+array_join form" in {
    import org.apache.spark.sql.Column
    // the pre-kernel column formulation, kept here as the reference
    def chunksHof(text: Column, chunkSize: Int, stride: Int): Column = {
      val ts = F.split(text, " ")
      F.when(text.isNotNull, F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(ts) - 1, F.lit(0)), F.lit(stride)),
        s => F.struct(
          s.as("start"),
          F.least(F.lit(chunkSize), F.size(ts) - s).as("n_tokens"),
          F.array_join(F.slice(ts, s + F.lit(1), F.lit(chunkSize)), " ").as("chunk_text"))))
    }
    val d = (textParityCorpus ++ Seq(null, "a  b   c", " x ", "lone"))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    for ((cs, st) <- Seq((3, 2), (1, 1), (8, 8), (2, 5))) {
      val k = org.apache.spark.sql.graft.GraftColumns.chunkSpans(F.col("text"), cs, st)
      val bad = d.select(F.col("text"), k.as("k"), chunksHof(F.col("text"), cs, st).as("r"))
        .where(F.col("k") =!= F.col("r") || (F.col("k").isNull =!= F.col("r").isNull))
        .collect()
      withClue(s"chunkSize=$cs stride=$st: " + bad.mkString("; ")) { bad shouldBe empty }
    }
  }

  it should "match normalizeForDedup kernel to the translate/trim chain" in {
    val fixtures = Seq(
      "Hello, World! 123", "a.b", " . ", "A  B\t\nC", "!!!", "", "  ",
      "xy", // VT is NOT in the whitespace class: passes through
      "cafÉ ß 中文 😀", // non-ASCII untouched
      "end.", ".start", "1999 was 20 years ago...", null)
    val d = fixtures.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
    val bad = d.select(F.col("text"),
      TextStats.normalizeForDedup(F.col("text")).as("k"),
      TextStats.normalizeForDedupChain(F.col("text")).as("r"))
      .where(F.col("k") =!= F.col("r") ||
        (F.col("k").isNull =!= F.col("r").isNull)).collect()
    withClue(bad.mkString("; ")) { bad shouldBe empty }
    // spot semantics: the canonical CCNet fold
    val one = d.filter(F.col("id") === 0)
      .select(TextStats.normalizeForDedup(F.col("text"))).head().getString(0)
    one shouldBe "hello world 000"
  }

  it should "match rollingHash kernel to the aggregate fold bit-for-bit" in {
    val d = (textParityCorpus :+ null).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val bad = d.select(F.col("text"),
      TextStats.rollingHash(F.col("text")).as("k"),
      TextStats.rollingHashFold(F.col("text")).as("r"))
      .where(F.col("k") =!= F.col("r") ||
        (F.col("k").isNull =!= F.col("r").isNull)).collect()
    withClue(bad.mkString("; ")) { bad shouldBe empty }
  }

  it should "match langId kernel to the column form" in {
    val d = textParityCorpus.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
    val bad = d.select(F.col("text"),
      TextStats.langId(F.col("text")).as("k"),
      TextStats.langIdColumns(F.col("text")).as("r"))
      .where(F.col("k") =!= F.col("r")).collect()
    withClue(bad.mkString("; ")) { bad shouldBe empty }
    // null handling is the one DELIBERATE divergence: the kernel propagates
    // null, while the column form's when-chain falls through its null
    // conditions to otherwise("zh") — an artifact, not a semantic (the
    // corpus text column is non-null; divergence documented on langId)
    val nd = Seq((1L, null: String)).toDF("id", "text")
    nd.select(TextStats.langId(F.col("text"))).head().isNullAt(0) shouldBe true
    nd.select(TextStats.langIdColumns(F.col("text"))).head().getString(0) shouldBe "zh"
  }

  behavior of "Pii.scrub (fused kernel)"

  /** Kernel == staged-regex parity on a corpus: every row's redaction and
    * all three staged counts must agree between the fused kernel and the
    * pure regexp column forms the DuckDB oracle mirrors. */
  private def assertScrubParity(rows: Seq[String]): Unit = {
    val d = rows.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val cnts = Pii.counts(F.col("text")).map { case (n, c) => c.as("staged_" + n) }
    val out = d.select(
      (Seq(F.col("id"), F.col("text"), Pii.scrub(F.col("text")).as("k"),
        Pii.redact(F.col("text")).as("staged_red")) ++ cnts): _*)
      .orderBy("id").collect()
    out.foreach { r =>
      val k = r.getStruct(2)
      withClue(s"text=<${r.getString(1)}>: ") {
        k.getString(0) shouldBe r.getString(3)
        k.getInt(1) shouldBe r.getInt(4)
        k.getInt(2) shouldBe r.getInt(5)
        k.getInt(3) shouldBe r.getInt(6)
      }
    }
  }

  it should "match the staged regex forms on adversarial edge cases" in {
    assertScrubParity(Seq(
      "", "@", "a@", "@b.com", "a@b", "a@b.c", "a@b.co", "u@v.co",
      "a@b@c.com", "a@b.com@d.com", "ab..cd@x.com end", "a-b_c%d@x-y.z.org",
      "a@b.c3d.e5", "a@b.c3d.ee tail", "x a@b.com +44 20 7946 0958 10.0.0.1 end",
      "+123 456 7890@x.com", "bob+12345678@ex.com", "u12345678@ex.com",
      "+1 555 0042", "+1 555 0042,next", "+12 3456", "+1-800-FLOWERS",
      "call +123 45 67 89 012 stop", "++44 20 7946 0958", "+999999999999999",
      "1.2.3.4", "1.2.3.4 hi", "hi 1.2.3.4", "1.2.3.4.5.6.7.8",
      "999.999.999.999", "1.2.3.4567", "v1.2.3.4", "x1.2.3.4", "_1.2.3.4",
      "-1.2.3.4", "10.0.0.1:8080", "a 10.0.0.1.b", ".1.2.3.4.",
      "ip 10.7.0.1 mail u7@mail.example.com call +1 555 0007 end",
      "trailing email end@example.com", "email@example.com",
      "a".repeat(300) + " no pii in this very long token run " + "9".repeat(120),
      "%+.-_@ex.ample and +0 00 00 00 and 0.0.0.0"))
  }

  it should "match the staged regex forms on a seeded random corpus" in {
    val rnd = new scala.util.Random(4242)
    val frags = Array(
      "lorem", "ipsum9", "a@b.com", "x.y%z@mail.example.co", "@nope",
      "+1 555 0137", "+44 20 7946 0958", "+12 3456", "10.0.0.1", "1.2.3.4567",
      "999.999.999.999", "..", "@@", "+", ".", "-", "_", "7", "word123",
      "u12345678@ex.com", "tok_r73", "1.2.3.4.5.6.7.8", "+1-800-FLOWERS")
    val rows = (0 until 300).map { _ =>
      val n = 1 + rnd.nextInt(12)
      Seq.fill(n)(frags(rnd.nextInt(frags.length)))
        .mkString(if (rnd.nextBoolean()) " " else "")
    }
    assertScrubParity(rows)
  }

  it should "return a null struct for null text like the staged forms" in {
    val d = Seq((1L, null: String), (2L, "a@b.com")).toDF("id", "text")
    val out = d.select(Pii.scrub(F.col("text")).as("k")).orderBy(F.col("id")).collect()
    out(0).isNullAt(0) shouldBe true
    out(1).getStruct(0).getString(0) shouldBe "<EMAIL>"
  }
}
