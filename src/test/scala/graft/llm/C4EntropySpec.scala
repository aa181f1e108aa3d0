package graft.llm

import graft.SparkTestBase
import org.apache.spark.sql.{functions => F}

/** C4-style line cleaning (Raffel et al. 2020 heuristics) and the
  * token-distribution entropy quality signal, each checked against a
  * plain-Scala reimplementation on hand-built and randomized pages. */
class C4EntropySpec extends SparkTestBase {
  import spark.implicits._

  // Plain-Scala replay of the pinned c4LineKeep semantics.
  private def keepLine(l: String, minWords: Int = 5): Boolean = {
    val t = l.dropWhile(_ == ' ').reverse.dropWhile(_ == ' ').reverse
    t.nonEmpty && ".!?\"".contains(t.last) &&
      t.split(" ", -1).count(_.nonEmpty) >= minWords &&
      !t.toLowerCase.contains("javascript")
  }

  behavior of "c4Clean"

  it should "apply the published line rules and page flags" in {
    val page = Seq(
      "visit menu login cart",                            // no terminal punct
      "This content line has plenty of words in it.",     // kept
      "Please enable javascript to view this site.",      // javascript rule
      "Short line.",                                      // < 5 words
      "  padded but still a fine sentence here!  ",       // kept (trimmed)
      "Ends with a quote so it stays here too.\"",        // kept (quote)
      "").mkString("\n")
    val r = TextStats.c4Clean(Seq((1L, page)).toDF("id", "text"), "id", "text")
      .head()
    r.getAs[String]("text") shouldBe Seq(
      "This content line has plenty of words in it.",
      "  padded but still a fine sentence here!  ",
      "Ends with a quote so it stays here too.\"").mkString("\n")
    r.getAs[Int]("n_lines") shouldBe 7
    r.getAs[Int]("n_kept") shouldBe 3
    r.getAs[Int]("n_sent") shouldBe 3 // '.', '!', '.' in the cleaned text
    r.getAs[Boolean]("lorem_ok") shouldBe true
    r.getAs[Boolean]("brace_ok") shouldBe true
    r.getAs[Boolean]("keep") shouldBe true
  }

  it should "fail pages on lorem ipsum, braces, and the sentence floor" in {
    val d = Seq(
      (1L, "Classic Lorem Ipsum dolor sit amet text here."),   // lorem (cased)
      (2L, "function f() { return 1; } is leaked code here."), // brace
      (3L, "Only two sentences live here. And this is two."),  // n_sent < 3
      (4L, "One good line. Two good ones. Three good lines here."))
      .toDF("id", "text")
    val r = TextStats.c4Clean(d, "id", "text").orderBy("id").collect()
    r.map(_.getAs[Boolean]("lorem_ok")).toSeq shouldBe
      Seq(false, true, true, true)
    r.map(_.getAs[Boolean]("brace_ok")).toSeq shouldBe
      Seq(true, false, true, true)
    r.map(_.getAs[Boolean]("keep")).toSeq shouldBe
      Seq(false, false, false, true)
  }

  it should "match the plain-Scala replay on seeded random pages" in {
    val rnd = new scala.util.Random(20260816L)
    val words = Vector("alpha", "beta", "gamma", "javascript", "JavaScript",
      "lorem", "ipsum", "brace{", "x", "the")
    val tails = Vector(".", "!", "?", "\"", "", " ", ":")
    val pages = (0 until 60).map { i =>
      val nLines = rnd.nextInt(6)
      val page = (0 until nLines).map { _ =>
        val n = rnd.nextInt(9)
        val pad = if (rnd.nextBoolean()) " " else ""
        pad + (0 until n).map(_ => words(rnd.nextInt(words.length)))
          .mkString(" ") + tails(rnd.nextInt(tails.length)) + pad
      }.mkString("\n")
      (i.toLong, page)
    }
    val got = TextStats.c4Clean(pages.toDF("id", "text"), "id", "text")
      .orderBy("id").collect()
    pages.zip(got).foreach { case ((_, page), row) =>
      val lines = page.split("\n", -1).toSeq
      val kept = lines.filter(keepLine(_))
      val clean = kept.mkString("\n")
      val nSent = clean.count(c => c == '.' || c == '!' || c == '?')
      row.getAs[String]("text") shouldBe clean
      row.getAs[Int]("n_lines") shouldBe lines.size
      row.getAs[Int]("n_kept") shouldBe kept.size
      row.getAs[Int]("n_sent") shouldBe nSent
      row.getAs[Boolean]("lorem_ok") shouldBe
        !page.toLowerCase.contains("lorem ipsum")
      row.getAs[Boolean]("brace_ok") shouldBe !page.contains("{")
      row.getAs[Boolean]("keep") shouldBe
        (nSent >= 3 && !page.toLowerCase.contains("lorem ipsum") &&
          !page.contains("{"))
    }
  }

  behavior of "tokenEntropy"

  it should "quantize per term and sum exactly" in {
    // "a a b": counts a->2, b->1, n=3
    val expected = -(math.round(2 * math.log(2.0 / 3.0) * 1e6) +
      math.round(1 * math.log(1.0 / 3.0) * 1e6))
    val r = TextStats.tokenEntropy(
      Seq((1L, "a a b"), (2L, "same same same")).toDF("id", "text"),
      "id", "text").orderBy("id").collect()
    r(0).getAs[Long]("n_tokens") shouldBe 3L
    r(0).getAs[Long]("n_distinct") shouldBe 2L
    r(0).getAs[Long]("ent_micro") shouldBe expected
    // uniform single token: ln(3/3) = 0 -> zero entropy
    r(1).getAs[Long]("n_tokens") shouldBe 3L
    r(1).getAs[Long]("n_distinct") shouldBe 1L
    r(1).getAs[Long]("ent_micro") shouldBe 0L
  }

  it should "match a plain-Scala replay on random docs and ignore layout" in {
    val rnd = new scala.util.Random(42)
    val docs = (0 until 50).map { i =>
      (i.toLong, (0 until (1 + rnd.nextInt(30)))
        .map(_ => s"w${rnd.nextInt(8)}").mkString(" "))
    }
    def replay(text: String): (Long, Long, Long) = {
      val ts = text.split(" ", -1).toSeq
      val n = ts.size
      val byTok = ts.groupBy(identity).map { case (_, g) => g.size }
      val ent = -byTok.toSeq
        .map(c => math.round(c * math.log(c.toDouble / n) * 1e6)).sum
      (n.toLong, byTok.size.toLong, ent)
    }
    for (parts <- Seq(1, 7)) {
      val got = TextStats.tokenEntropy(
        docs.toDF("id", "text").repartition(parts), "id", "text")
        .orderBy("id").collect()
      docs.zip(got).foreach { case ((_, text), row) =>
        val (n, nd, ent) = replay(text)
        row.getAs[Long]("n_tokens") shouldBe n
        row.getAs[Long]("n_distinct") shouldBe nd
        row.getAs[Long]("ent_micro") shouldBe ent
      }
    }
  }

  behavior of "pmiTopPairs"

  it should "rank collocations by quantized PMI with the min-count guard" in {
    // "new york" always adjacent; "a" and "b" frequent but independent
    val d = Seq(
      (1L, "new york a b a"), (2L, "b new york a b"),
      (3L, "a b new york b a"), (4L, "new york b a a b"))
      .toDF("id", "text")
    val got = TextStats.pmiTopPairs(d, "text", k = 3, minCount = 2L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    got.head._1 shouldBe "new york" // the engineered collocation wins
    got.head._2 shouldBe 4L
    got.map(_._1).distinct.length shouldBe 3
    // minCount guard: pairs seen once never appear at any k
    val all = TextStats.pmiTopPairs(d, "text", k = 1000, minCount = 2L)
      .collect().map(_.getString(0)).toSeq
    all should not contain "a a" // occurs once (doc 4)
  }

  it should "match a plain-Scala replay on a random corpus" in {
    val rnd = new scala.util.Random(11)
    val vocab = (0 until 10).map(i => s"w$i")
    val docs = (0 until 40).map { i =>
      (i.toLong, (0 until (2 + rnd.nextInt(20)))
        .map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val toks = docs.flatMap(_._2.split(" ", -1).toSeq)
    val bgs = docs.flatMap(_._2.split(" ", -1).toSeq.sliding(2)
      .filter(_.size == 2).map(_.mkString(" ")))
    val n = toks.size
    val b = bgs.size
    val uc = toks.groupBy(identity).map { case (w, g) => w -> g.size }
    val want = bgs.groupBy(identity).map { case (p, g) => p -> g.size }
      .filter(_._2 >= 2)
      .map { case (p, c12) =>
        val Array(w1, w2) = p.split(" ")
        val pmi = math.round(math.log(
          (c12.toDouble * n * n) / (b.toDouble * uc(w1) * uc(w2))) * 1e6)
        (p, c12.toLong, pmi)
      }.toSeq.sortBy(t => (-t._3, t._1)).take(5)
    val got = TextStats.pmiTopPairs(docs.toDF("id", "text"), "text",
      k = 5, minCount = 2L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    got shouldBe want
  }

  it should "tokenize the corpus exactly once (fused gramCounts + " +
    "ReuseExchange totals)" in {
    // All four consumers of the fused gram table — unigram counts, bigram
    // counts, and the N/B totals — re-aggregate ONE groupBy(gram)
    // subtree, so ReuseExchange must materialize the single scan+explode
    // once: exactly one GenerateExec in the whole physical plan, with
    // the other branches reading ReusedExchange nodes. (The r14 form
    // tokenized the corpus four times.)
    val d = Seq((1L, "new york a b a"), (2L, "b new york a b"))
      .toDF("id", "text")
    val p = TextStats.pmiTopPairs(d, "text", k = 3, minCount = 2L)
      .queryExecution.executedPlan
    val generates = p.collectWithSubqueries {
      case g: org.apache.spark.sql.execution.GenerateExec => g
    }
    withClue(p.toString) { generates should have size 1 }
    p.collectWithSubqueries {
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => r
    } should not be empty
  }

  it should "classify fused grams exactly (empty tokens are unigrams, " +
    "short docs emit no bigrams)" in {
    // "a  b" has an empty middle token (no space in it -> unigram);
    // a 1-token doc contributes no bigrams at all
    val d = Seq((1L, "a  b"), (2L, "solo")).toDF("id", "text")
    val got = TextStats.gramCounts(d, "text").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    got shouldBe Map("a" -> 1L, "" -> 1L, "b" -> 1L, "solo" -> 1L,
      "a " -> 1L, " b" -> 1L)
  }

  behavior of "minHashEditPairs"

  it should "keep true near-dups and reject reordered boilerplate" in {
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val nearDup = base.replace("tok7", "tokX") // one-word edit
    val reordered = base.split(" ").reverse.mkString(" ") // same SET of words
    val unrelated = (1 to 40).map(i => s"other$i").mkString(" ")
    val d = Seq((1L, base), (2L, nearDup), (3L, reordered), (4L, unrelated))
      .toDF("doc_id", "text")
    // Jaccard tier alone (word 3-shingles): (1,2) high overlap; (1,3) has
    // ZERO shared 3-shingles, so it never reaches the edit tier — use a
    // 1-shingle run below to force it through and show the edit tier kill.
    val pairs = Dedup.minHashEditPairs(d, "doc_id", "text",
      numHashes = 64, bands = 16, shingleSize = 3, jaccardFloor = 0.5,
      editSim = 0.6).collect()
    pairs.map(r => (r.getLong(0), r.getLong(1))).toSeq shouldBe Seq((1L, 2L))
    val p = pairs.head
    val lev = p.getAs[Long]("dist")
    lev shouldBe 1L // tok7 -> tokX is one substitution
    p.getAs[Double]("edit_sim") shouldBe (1.0 - 1.0 / base.length)
    // 1-shingles make the reordered doc a perfect Jaccard candidate
    // (identical word set) — the edit tier must reject it. The shared
    // "tok" prefixes keep even the reversal's character similarity
    // moderate, so the discriminating threshold here is 0.9: the planted
    // one-substitution pair sits at ~0.997, the reversal far below.
    val oneSh = Dedup.minHashEditPairs(d, "doc_id", "text",
      numHashes = 64, bands = 16, shingleSize = 1, jaccardFloor = 0.9,
      editSim = 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    oneSh should not contain ((1L, 3L))
    oneSh should contain ((1L, 2L))
  }

  it should "match brute-force candidates + levenshtein on a random corpus" in {
    val rnd = new scala.util.Random(7)
    val vocab = (0 until 12).map(i => s"v$i")
    val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    for (i <- 0 until 30) {
      val text =
        if (i % 3 == 0 && i > 0) {
          // mutate the previous doc by one token: a planted near-dup
          val prev = buf(i - 1)._2.split(" ")
          prev.updated(rnd.nextInt(prev.length), "mut").mkString(" ")
        } else (0 until 25).map(_ => vocab(rnd.nextInt(vocab.size)))
          .mkString(" ")
      buf += ((i.toLong, text))
    }
    val docs = buf.toSeq
    val d = docs.toDF("doc_id", "text")
    val got = Dedup.minHashEditPairs(d, "doc_id", "text",
      numHashes = 128, bands = 32, shingleSize = 2, jaccardFloor = 0.4,
      editSim = 0.5)
      .select("id_a", "id_b", "dist").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // brute force: exact 2-shingle jaccard >= 0.4, then lev ratio >= 0.5
    def sh(t: String): Set[String] =
      t.split(" ").sliding(2).map(_.mkString(" ")).toSet
    def lev(a: String, b: String): Int = {
      val dp = Array.tabulate(a.length + 1)(i => i)
      for (j <- 1 to b.length) {
        var prev = dp(0); dp(0) = j
        for (i <- 1 to a.length) {
          val cur = dp(i)
          dp(i) = math.min(math.min(dp(i) + 1, dp(i - 1) + 1),
            prev + (if (a(i - 1) == b(j - 1)) 0 else 1))
          prev = cur
        }
      }
      dp(a.length)
    }
    val want = (for {
      (ia, ta) <- docs; (ib, tb) <- docs if ia < ib
      sa = sh(ta); sb = sh(tb)
      isz = (sa & sb).size
      j = isz.toDouble / (sa.size + sb.size - isz)
      if j >= 0.4
      dlev = lev(ta, tb)
      if 1.0 - dlev.toDouble / math.max(ta.length, tb.length) >= 0.5
    } yield (ia, ib, dlev.toLong)).toSet
    // 32-band LSH at J >= 0.4: candidate recall ~1 on 30 docs
    got shouldBe want
    want should not be empty
  }

  it should "keep pure-indel boundary pairs the FP-floored gap bound " +
    "would drop" in {
    // edit_sim lands EXACTLY on editSim = 0.8 for this pure-deletion pair
    // (dist 8, len_max 40): fl(1.0-0.8) = 0.19999… floors __max_edits to
    // 7, one BELOW the true bound 8, so a length-gap prefilter without
    // the same +1 margin the DP band gets silently drops a pair the
    // unbounded form (and the DuckDB oracle) keeps.
    val prefix = "aa bb cc dd ee ff gg hh" // 23 chars, 8 shared 1-shingles
    val a = prefix + " " + "z" * 16 // len 40
    val b = prefix + " " + "z" * 8  // len 32: dist 8, edit_sim = 0.8
    a.length shouldBe 40
    b.length shouldBe 32
    val d = Seq((1L, a), (2L, b)).toDF("doc_id", "text")
    val got = Dedup.minHashEditPairs(d, "doc_id", "text",
      numHashes = 64, bands = 16, shingleSize = 1, jaccardFloor = 0.5,
      editSim = 0.8).collect()
    got should have size 1
    got.head.getAs[Long]("dist") shouldBe 8L
    got.head.getAs[Double]("edit_sim") shouldBe 0.8
  }

  it should "keep the exact-boundary pair and drop the one-past pair " +
    "for a sweep of thresholds (prefilter == unbounded survivor law)" in {
    // Generalizes the single FP-floored pair above: for every editSim in
    // the sweep, construct the LARGEST pure-deletion distance the final
    // double comparison `1.0 - d/len >= editSim` keeps, plus the first
    // distance it rejects. The keep side pins that neither the length-gap
    // prefilter nor the banded-DP threshold is ever one tighter than the
    // unbounded form's survivor set (the exact defect class the +1
    // margins exist for: fl(1-0.8) = 0.19999… floors one below the true
    // bound, while fl(1-0.6) = 0.40000…2 rounds above — the sweep covers
    // both rounding directions). The drop side pins the margins don't
    // ADMIT extra pairs either: dist is still checked exactly downstream.
    // 30 shared DISTINCT words keep every pair a guaranteed LSH candidate
    // at 1-shingles (J = 30/32 ≈ 0.94; 16 bands × width 4 miss prob
    // ~3e-11, and minhash seeds are fixed — fully deterministic).
    val prefix = (1 to 30).map(i => s"w$i").mkString(" ")
    var active = 0
    for (editSim <- Seq(0.5, 0.6, 0.7, 0.75, 0.8, 0.9, 0.95);
         zLen <- Seq(30, 61, 200)) {
      val lenA = prefix.length + 1 + zLen
      // Largest d the ENGINE's double comparison keeps at this length —
      // the test replicates the exact arithmetic rather than trusting
      // floor((1-editSim)*lenA), whose FP rounding is the point.
      val dKeep = (0 to zLen - 1)
        .filter(d => 1.0 - d.toDouble / lenA >= editSim).max
      // Skip combos where the whole z-run is inside the edit budget (no
      // boundary exists at this length); zLen = 200 guarantees at least
      // one active combo per threshold.
      if (dKeep >= 1 && dKeep + 1 <= zLen - 1) {
        active += 1
        val a = prefix + " " + "z" * zLen
        val bKeep = prefix + " " + "z" * (zLen - dKeep)
        val bDrop = prefix + " " + "z" * (zLen - dKeep - 1)
        val d = Seq((1L, a), (2L, bKeep), (3L, bDrop))
          .toDF("doc_id", "text")
        val got = Dedup.minHashEditPairs(d, "doc_id", "text",
          numHashes = 64, bands = 16, shingleSize = 1, jaccardFloor = 0.5,
          editSim = editSim)
          .select("id_a", "id_b", "dist").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
        withClue(s"editSim=$editSim lenA=$lenA dKeep=$dKeep: ") {
          got should contain ((1L, 2L, dKeep.toLong))       // boundary kept
          got.map(t => (t._1, t._2)) should not contain ((1L, 3L)) // past it
        }
      }
    }
    active should be >= 12 // every threshold exercised at least once
  }

  it should "bound per-pair DP cost on pathological long documents" in {
    // Shingle-SET-identical docs with a 4x character-length gap: perfect
    // LSH candidates (jaccard 1.0) that an UNBOUNDED Levenshtein would
    // pay ~3.5e9 DP cells for (~8 min in one task at the builtin's
    // measured ~139 ns/cell). The length-gap prefilter kills them with
    // zero DP; the surviving near-identical pair runs the BANDED
    // thresholded DP (~2e7 cells). Time-bound pins the behavior (the
    // stripMarkup adversarial-input precedent).
    val unit = (1 to 400).map(i => s"w$i").mkString(" ") + " "
    val a = unit * 13                         // ~30 KB
    val b = unit * 52                         // ~120 KB, same shingle set
    val c = a.dropRight(4) + "zzzz"           // dist 4 from a
    val d = Seq((1L, a), (2L, b), (3L, c)).toDF("doc_id", "text")
    val t0 = System.nanoTime()
    val got = Dedup.minHashEditPairs(d, "doc_id", "text",
      numHashes = 64, bands = 16, shingleSize = 3, jaccardFloor = 0.5,
      editSim = 0.98)
      .select("id_a", "id_b", "dist").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val secs = (System.nanoTime() - t0) / 1e9
    // (1,2) and (2,3) prefiltered on length gap; (1,3) survives with the
    // exact distance the unbounded DP would report.
    got shouldBe Set((1L, 3L, 4L))
    secs should be < 60.0
  }
}
