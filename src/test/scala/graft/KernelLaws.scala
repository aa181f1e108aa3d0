package graft

import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll

/**
 * ScalaCheck laws for the row-local kernels behind `GraftColumns` — pure
 * JVM, no Spark session (≙ the reference's
 * algebraic-law harness, SummarizerSuite.scala:110-357, applied to our
 * kernel layer).
 */
object KernelLaws extends Properties("Kernels") {

  private val sortedDistinct: Gen[Array[Long]] =
    Gen.listOf(Gen.chooseNum(-1000L, 1000L)).map(_.distinct.sorted.toArray)

  property("sortedIntersectSize = |A ∩ B| (set semantics)") =
    forAll(sortedDistinct, sortedDistinct) { (a, b) =>
      Kernels.sortedIntersectSize(new GenericArrayData(a), new GenericArrayData(b)) ==
        a.toSet.intersect(b.toSet).size
    }

  private val tokens: Gen[Array[String]] =
    Gen.nonEmptyListOf(Gen.oneOf("a", "bb", "ccc", "dog", "cat", "x1")).map(_.toArray)

  private def arr(ts: Array[String]) =
    new GenericArrayData(ts.map(t => UTF8String.fromString(t)))

  property("hashedShingles(k=1) = sorted distinct chained token hashes") =
    forAll(tokens) { ts =>
      import org.apache.spark.sql.catalyst.expressions.XXH64
      val got = Kernels.hashedShingles(arr(ts), 1).toLongArray().toSeq
      val want = ts
        .map(t => XXH64.hashLong(Kernels.tokenHash(UTF8String.fromString(t)), 42L))
        .distinct.sorted.toSeq
      got == want
    }

  property("hashedShingles count = distinct k-windows (or 1 short-row shingle)") =
    forAll(tokens, Gen.chooseNum(1, 5)) { (ts, k) =>
      val got = Kernels.hashedShingles(arr(ts), k).numElements()
      val windows = if (ts.length < k) 1
        else ts.sliding(k).map(_.toSeq).toSet.size
      // distinct windows can hash-collide only astronomically rarely
      got == windows
    }

  property("minHash signature of a union = elementwise min of signatures") =
    forAll(sortedDistinct.suchThat(_.nonEmpty), sortedDistinct.suchThat(_.nonEmpty)) {
      (a, b) =>
        val u = (a ++ b).distinct.sorted
        val sa = Kernels.minHashSig(new GenericArrayData(a), 16).toLongArray()
        val sb = Kernels.minHashSig(new GenericArrayData(b), 16).toLongArray()
        val su = Kernels.minHashSig(new GenericArrayData(u), 16).toLongArray()
        su.toSeq == sa.zip(sb).map { case (x, y) => math.min(x, y) }.toSeq
    }

  property("simHash of a single token = bit-reversed token hash") =
    forAll(Gen.oneOf("a", "bb", "ccc", "dog")) { t =>
      val h = Kernels.tokenHash(UTF8String.fromString(t))
      Kernels.simHash64(arr(Array(t))) == java.lang.Long.reverse(h)
    }

  property("simHash is permutation-invariant") =
    forAll(tokens) { ts =>
      Kernels.simHash64(arr(ts)) == Kernels.simHash64(arr(ts.reverse))
    }

  private val clockGen: Gen[Array[Long]] =
    Gen.chooseNum(2, 8).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(-100L, 100L)).map(_.distinct.sorted.toArray))
      .suchThat(_.length >= 2)

  /** Linear-scan reference for the interval-bucket kernel. */
  private def bucketRef(c: Array[Long], t: Long,
                        beginIncl: Boolean, stampBegin: Boolean): Long = {
    var i = 0
    while (i < c.length - 1) {
      val in =
        if (beginIncl) t >= c(i) && t < c(i + 1)
        else t > c(i) && t <= c(i + 1)
      if (in) return if (stampBegin) c(i) else c(i + 1)
      i += 1
    }
    Kernels.NoBucket
  }

  property("intervalBucket = linear-scan reference over the 4-way matrix") =
    forAll(clockGen, Gen.chooseNum(-120L, 120L), Gen.oneOf(true, false),
      Gen.oneOf(true, false)) { (c, t, bi, sb) =>
      Kernels.intervalBucket(c, t, bi, sb) == bucketRef(c, t, bi, sb)
    }

  property("docTokenStats = split/distinct/membership reference (the oovCounts base)") =
    forAll(tokens, Gen.someOf("a", "bb", "dog", "zz")) { (ts, vocab) =>
      val text = ts.mkString(" ")
      val set = new java.util.HashSet[String]()
      vocab.foreach(set.add)
      val maxLen = if (vocab.isEmpty) 0 else vocab.map(_.length).max
      val row = Kernels.docTokenStats(UTF8String.fromString(text), set, maxLen)
      val split = text.split(" ", -1)
      row.getInt(0) == split.length &&
        row.getInt(1) == split.distinct.length &&
        row.getInt(3) == split.count(vocab.contains(_)) &&
        // the oovCounts identity: n_oov = n_tokens - n_stop, never negative
        row.getInt(0) - row.getInt(3) == split.count(t => !vocab.contains(t))
    }

  // ------------------------------------------------------------------
  // r11 text kernels vs independent regex/split references on random soup
  // (the fixture specs pin named edge cases; these close the gap to
  // "matches on arbitrary input")

  /** Markup soup: tags (terminated, unterminated, mixed-case), block
    * open/close tags, entities (whole and truncated), whitespace classes,
    * astral chars — concatenated in random order. */
  private val markupSoup: Gen[String] = {
    val frag = Gen.oneOf(
      "<script>", "</script>", "</script \t>", "<SCRIPT a=\"1\">",
      "<style>", "</style>", "</STYLE\n>", "<scripting>", "</styleX>",
      "<b>", "</b>", "<br", "<", ">", "<p class='x'>",
      "&amp;", "&lt;", "&gt;", "&quot;", "&#39;", "&nbsp;", "&", "&amp", ";",
      "text", "a b", "\t", "\n", "\f", " ", "µ", "😀", ".", "#",
      "if (a < b) { f(); }", "p { x: 1; }")
    Gen.chooseNum(0, 30).flatMap(n => Gen.listOfN(n, frag).map(_.mkString))
  }

  /** The regexp/replace chain the kernel doc pins, run on java.util.regex:
    * one leftmost-first block alternation, tag strip, left-to-right
    * first-match entity decode (alternation matcher — at most one entity
    * matches per position, entities have distinct second chars), then
    * whitespace collapse and space trim. */
  private def stripMarkupRef(s: String): String = {
    val blocks = java.util.regex.Pattern.compile(
      "(?is)<script\\b[^>]*>.*?</script[ \\t\\n\\r\\f]*>" +
        "|<style\\b[^>]*>.*?</style[ \\t\\n\\r\\f]*>")
    val noBlocks = blocks.matcher(s).replaceAll(" ")
    val noTags = noBlocks.replaceAll("<[^>]*>", " ")
    val ents = java.util.regex.Pattern
      .compile("&amp;|&lt;|&gt;|&quot;|&#39;|&nbsp;").matcher(noTags)
    val sb = new StringBuffer
    while (ents.find()) {
      val rep = ents.group() match {
        case "&amp;" => "\\&"; case "&lt;" => "<"; case "&gt;" => ">"
        case "&quot;" => "\""; case "&#39;" => "'"; case "&nbsp;" => " "
      }
      ents.appendReplacement(sb, rep)
    }
    ents.appendTail(sb)
    sb.toString.replaceAll("[ \\t\\n\\r\\f]+", " ")
      .replaceAll("^ | $", "")
  }

  property("stripMarkup = pinned regexp/replace chain on random markup soup") =
    forAll(markupSoup) { s =>
      Kernels.stripMarkup(UTF8String.fromString(s)).toString == stripMarkupRef(s)
    }

  /** Char soup for the normalize kernel: uppercase/lowercase, digits,
    * every ASCII punctuation mark, the five whitespace-class chars plus
    * non-class controls (VT), and non-ASCII incl. astral pairs. */
  private val normalizeSoup: Gen[String] = {
    val frag = Gen.oneOf(
      "ABC", "xyz", "MiXeD", "0", "123456789", "42", "a1B2",
      "!\"#$%&'()*+,-./", ":;<=>?@", "[\\]^_`", "{|}~",
      " ", "\t", "\n", "\r", "\f", "", " ",
      "µß", "É", "😀", "中文", ".", "a.b", " . ")
    Gen.chooseNum(0, 25).flatMap(n => Gen.listOfN(n, frag).map(_.mkString))
  }

  /** The translate/collapse/trim chain the normalize kernel doc pins. */
  private def normalizeRef(s: String): String = {
    def tr(in: String, from: String, to: String): String = {
      val sb = new StringBuilder
      in.foreach { c =>
        val i = from.indexOf(c)
        if (i < 0) sb.append(c)
        else if (i < to.length) sb.append(to(i)) // else: removed
      }
      sb.toString
    }
    val lowered = tr(s, "ABCDEFGHIJKLMNOPQRSTUVWXYZ",
      "abcdefghijklmnopqrstuvwxyz")
    val digits = tr(lowered, "123456789", "000000000")
    val noPunct = tr(digits, graft.llm.TextStats.AsciiPunct, "")
    noPunct.replaceAll("[ \\t\\n\\r\\f]+", " ").replaceAll("^ | $", "")
  }

  property("normalizeText = translate/collapse/trim chain on random soup") =
    forAll(normalizeSoup) { s =>
      Kernels.normalizeText(UTF8String.fromString(s)).toString ==
        normalizeRef(s)
    }

  /** Char soup with controls, U+FFFD, tab/newline/CR, DEL, astral. */
  private val charSoup: Gen[String] = {
    val frag = Gen.oneOf("a", "Z9", "\uFFFD", "\u0000", "\u0001", "\u000B",
      "\u000C", "\u001F", "\u007F", "\t", "\n", "\r", " ", "é",
      "😁", "文")
    Gen.chooseNum(0, 40).flatMap(n => Gen.listOfN(n, frag).map(_.mkString))
  }

  property("encodingStats = code-point/regex reference on random char soup") =
    forAll(charSoup) { s =>
      val row = Kernels.encodingStats(UTF8String.fromString(s))
      val cps = s.codePoints().toArray
      val ctrl = java.util.regex.Pattern
        .compile("[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]").matcher(s)
      var nCtrl = 0
      while (ctrl.find()) nCtrl += 1
      row.getInt(0) == cps.length &&
        row.getInt(1) == cps.count(_ == 0xFFFD) &&
        row.getInt(2) == nCtrl
    }

  /** Line/word soup: bullets, ellipses, '#', dot runs, empty lines. */
  private val gopherSoup: Gen[String] = {
    val frag = Gen.oneOf("word", "the", "x1", "123", "#", "...", "..", ".",
      "- bullet", "* item", "•tight", "-x", "* ", " ", "\n", "line...",
      "a.b", "")
    Gen.chooseNum(0, 30).flatMap(n => Gen.listOfN(n, frag).map(_.mkString(" ")))
  }

  property("gopherStats = split/regex reference on random line soup") =
    forAll(gopherSoup) { s =>
      val row = Kernels.gopherStats(UTF8String.fromString(s))
      val toks = s.split(" ", -1)
      val lines = s.split("\n", -1)
      val dots = java.util.regex.Pattern.compile("\\.\\.\\.").matcher(s)
      var nDots = 0
      while (dots.find()) nDots += 1
      row.getInt(0) == toks.length &&
        row.getInt(1) == toks.count(_.exists(c =>
          (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z'))) &&
        row.getInt(2) == s.count(_ == '#') + nDots &&
        row.getInt(3) == lines.length &&
        row.getInt(4) == lines.count(l =>
          l.startsWith("- ") || l.startsWith("* ") || l.startsWith("•")) &&
        row.getInt(5) == lines.count(_.endsWith("..."))
    }

  // --- round-12 kernels: feature hashing, NB scoring, CMS, readability ---

  private val textSoup: Gen[String] = Gen.listOf(Gen.frequency(
    (6, Gen.alphaNumChar), (3, Gen.const(' ')), (1, Gen.oneOf('.', '!', '?')),
    (1, Gen.oneOf('é', '漢', 'ß')))).map(_.mkString)

  private def replayHash32(tok: String): Long = {
    def mix(v0: Long): Long = {
      var x = v0 & 0xFFFFFFFFL
      x = ((x ^ (x >>> 16)) * 0x45d9f3bL) & 0xFFFFFFFFL
      x = ((x ^ (x >>> 16)) * 0x45d9f3bL) & 0xFFFFFFFFL
      x ^ (x >>> 16)
    }
    var h = 2166136261L
    var i = 0
    while (i < tok.length) {
      val cp = tok.codePointAt(i)
      h = (h * 1000003L + cp) & 0xFFFFFFFFL
      i += Character.charCount(cp)
    }
    mix(h)
  }

  property("tokenBuckets = portable hash chain mod D over split tokens") =
    forAll(textSoup, Gen.chooseNum(1, 128)) { (s, d) =>
      val got = Kernels.tokenBuckets(UTF8String.fromString(s), d)
        .toIntArray().toSeq
      got == s.split(" ", -1).toSeq.map(t => (replayHash32(t) % d).toInt)
    }

  property("cmsPairs lane 0 = tokenBuckets; lanes decorrelate by Knuth offset") =
    forAll(textSoup, Gen.chooseNum(1, 4), Gen.chooseNum(2, 64)) { (s, d, w) =>
      val pairs = Kernels.cmsPairs(UTF8String.fromString(s), d, w).toIntArray()
      val toks = s.split(" ", -1)
      pairs.length == toks.length * d && toks.zipWithIndex.forall { case (t, i) =>
        (0 until d).forall { l =>
          pairs(i * d + l) == l * w +
            (((replayHash32AtLane(t, l)) % w).toInt)
        }
      }
    }

  private def replayHash32AtLane(tok: String, lane: Int): Long = {
    def mix(v0: Long): Long = {
      var x = v0 & 0xFFFFFFFFL
      x = ((x ^ (x >>> 16)) * 0x45d9f3bL) & 0xFFFFFFFFL
      x = ((x ^ (x >>> 16)) * 0x45d9f3bL) & 0xFFFFFFFFL
      x ^ (x >>> 16)
    }
    var h = 2166136261L
    var i = 0
    while (i < tok.length) {
      val cp = tok.codePointAt(i)
      h = (h * 1000003L + cp) & 0xFFFFFFFFL
      i += Character.charCount(cp)
    }
    mix((h + lane.toLong * 2654435761L) & 0xFFFFFFFFL)
  }

  property("nbScore = brute-force argmax over the weight matrix, label-asc ties") =
    forAll(textSoup, Gen.chooseNum(2, 5), Gen.chooseNum(1, 32)) { (s, nl, d) =>
      val labels = (0 until nl).map(i => s"l$i").toArray
      // deterministic pseudo-weights from the portable hash itself
      val weights = Array.tabulate(nl * d)(i => -(replayHash32("w" + i) % 100000L))
      val priors = Array.tabulate(nl)(i => -(replayHash32("p" + i) % 50000L))
      val row = Kernels.nbScore(UTF8String.fromString(s), d,
        labels.map(UTF8String.fromString), priors, weights)
      val toks = s.split(" ", -1)
      val scores = (0 until nl).map { l =>
        priors(l) + toks.map(t =>
          weights(l * d + (replayHash32(t) % d).toInt)).sum
      }
      val best = scores.zipWithIndex.maxBy { case (sc, i) => (sc, -i) }
      row.getUTF8String(0).toString == labels(best._2) &&
        row.getLong(1) == best._1
    }

  property("fkStats = split/regex reference with the documented floors") =
    forAll(textSoup) { s =>
      val row = Kernels.fkStats(UTF8String.fromString(s))
      val words = s.split(" ", -1)
      val sents = math.max(s.count(c => c == '.' || c == '!' || c == '?'), 1)
      val syll = words.map(w =>
        math.max("[aeiouyAEIOUY]+".r.findAllIn(w).size, 1).toLong).sum
      row.getInt(0) == words.length && row.getInt(1) == sents &&
        row.getLong(2) == syll
    }

  property("unigramScore = split/lookup fold with the OOV default") =
    forAll(textSoup, Gen.chooseNum(0L, 9L)) { (s, salt) =>
      val toks = s.split(" ", -1)
      val lp = new java.util.HashMap[String, java.lang.Long]()
      // model over a pseudo-random half of the soup's own vocabulary
      toks.distinct.filter(t => replayHash32(t + salt) % 2 == 0)
        .foreach(t => lp.put(t, -(replayHash32("u" + t) % 100000L)))
      val default = -(1000000L + salt)
      val got = Kernels.unigramScore(UTF8String.fromString(s), lp, default, 64)
      val want = toks.map { t =>
        if (t.length <= 64 && lp.containsKey(t)) lp.get(t).longValue()
        else default
      }.sum
      got == want
    }

  property("bigramScore = stupid-backoff fold over adjacent pairs") =
    forAll(textSoup, Gen.chooseNum(0L, 9L)) { (s, salt) =>
      val toks = s.split(" ", -1)
      val uni = new java.util.HashMap[String, java.lang.Long]()
      val bi = new java.util.HashMap[String, java.lang.Long]()
      toks.distinct.filter(t => replayHash32(t + salt) % 2 == 0)
        .foreach(t => uni.put(t, -(replayHash32("u" + t) % 100000L)))
      toks.sliding(2).filter(_.length == 2).map(_.mkString(" ")).toSeq.distinct
        .filter(p => replayHash32(p + salt) % 3 == 0)
        .foreach(p => bi.put(p, -(replayHash32("b" + p) % 100000L)))
      val backoff = -(400000L + salt)
      val default = -(1000000L + salt)
      val got = Kernels.bigramScore(UTF8String.fromString(s), bi, uni,
        backoff, default, 64, 129)
      val want = toks.sliding(2).filter(_.length == 2).map { w =>
        val pair = w.mkString(" ")
        if (pair.length <= 129 && bi.containsKey(pair)) bi.get(pair).longValue()
        else backoff + (if (w(1).length <= 64 && uni.containsKey(w(1)))
          uni.get(w(1)).longValue() else default)
      }.sum
      got == want
    }

  property("minHashSig element i = min over shingle hashes of XXH64(h, i)") =
    forAll(sortedDistinct.suchThat(_.nonEmpty), Gen.chooseNum(1, 32)) {
      (hs, k) =>
        import org.apache.spark.sql.catalyst.expressions.XXH64
        val sig = Kernels.minHashSig(new GenericArrayData(hs), k).toLongArray()
        (0 until k).forall(i =>
          sig(i) == hs.map(h => XXH64.hashLong(h, i.toLong)).min)
    }

  property("simHashPortable = per-lane majority vote of mixed codepoint " +
    "folds (independent modular-arithmetic replay)") =
    forAll(tokens) { ts =>
      val m32 = 1L << 32
      def mix(v: Long): Long = {
        val a = ((v ^ (v >>> 16)) * 0x45d9f3bL) % m32
        val b = ((a ^ (a >>> 16)) * 0x45d9f3bL) % m32
        b ^ (b >>> 16)
      }
      def lane(t: String, h0: Long, mult: Long): Long =
        mix(t.codePoints().toArray
          .foldLeft(h0)((h, cp) => (h * mult + cp) % m32))
      val f1 = ts.map(t => lane(t, 2166136261L, 1000003L))
      val f2 = ts.map(t => lane(t, 40503L, 69069L))
      def vote(fs: Array[Long]): Long =
        (0 until 32).foldLeft(0L)((acc, b) =>
          if (fs.count(f => ((f >> b) & 1L) == 1L) * 2 > ts.length)
            acc | (1L << b)
          else acc)
      Kernels.simHashPortable(arr(ts)) == ((vote(f1) << 32) | vote(f2))
    }

  // boundary-adjacent PII soup: valid emails/IPs/phones, near-misses
  // (half-anchored IPs, short TLDs, '+' runs inside words), and tokens
  // that abut them without whitespace
  private val piiSnippet: Gen[String] = Gen.oneOf(
    "bob.smith+x@mail.example.com", "a@b.co", "x@y", "@nope.com", "a.b@c",
    "u%d@sub-domain.example.org", "<a@b.cc>", "x.y@z.museum,",
    "10.0.0.1", "255.255.255.255", "999.123.1.2", "1.2.3.4567", "1.2.3",
    "a10.0.0.1b", "v1.2.3.4-rc", "ip:10.1.2.3.", "10.0.0.1@x.yz",
    "+1 555 0123", "+44 20-7946-0958", "+123456", "+1 5", "(+1 555 2222)",
    "call+1 555 0199", "+1 555 0100end")
  private val piiDoc: Gen[String] = Gen.listOf(
    Gen.oneOf(piiSnippet,
      Gen.oneOf("word", "the", "x9", "", ".", "-", "a+b", "1.2")))
    .map(_.mkString(" "))

  property("piiScrub = staged java.util.regex replay (email → phone → ip," +
    " counts per stage input)") =
    forAll(piiDoc) { s =>
      import graft.llm.Pii
      def stage(in: String, pat: String, tok: String): (String, Int) = {
        val p = java.util.regex.Pattern.compile(pat)
        val n = {
          val m = p.matcher(in)
          var c = 0
          while (m.find()) c += 1
          c
        }
        (p.matcher(in).replaceAll(tok), n)
      }
      val (s1, ne) = stage(s, Pii.EmailPattern, Pii.EmailToken)
      val (s2, np) = stage(s1, Pii.PhonePattern, Pii.PhoneToken)
      val (s3, ni) = stage(s2, Pii.Ipv4Pattern, Pii.IpToken)
      val row = Kernels.piiScrub(UTF8String.fromString(s))
      row.getUTF8String(0).toString == s3 &&
        row.getInt(1) == ne && row.getInt(2) == np && row.getInt(3) == ni
    }

  property("rollingTokenHash = xxhash64(acc, token) left fold from 0") =
    forAll(tokens) { ts =>
      import org.apache.spark.sql.catalyst.expressions.XXH64
      val got = Kernels.rollingTokenHash(arr(ts))
      // the documented contract: acc' = hashBytes(t, hashLong(acc, 42))
      val want = ts.foldLeft(0L) { (acc, t) =>
        val u = UTF8String.fromString(t)
        XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes,
          XXH64.hashLong(acc, 42L))
      }
      got == want
    }

  property("ngramHashes = chained window hashes; Lens pairs them with " +
    "space-joined char lengths; distinct = sorted set") =
    forAll(tokens, Gen.chooseNum(1, 4)) { (ts, n) =>
      import org.apache.spark.sql.catalyst.expressions.XXH64
      val want: Seq[Long] =
        if (ts.length < n) Seq.empty
        else ts.map(t => Kernels.tokenHash(UTF8String.fromString(t)))
          .sliding(n).map(_.foldLeft(42L)((h, th) => XXH64.hashLong(th, h)))
          .toSeq
      val multis = Kernels.ngramHashes(arr(ts), n, distinct = false)
        .toLongArray().toSeq
      val dist = Kernels.ngramHashes(arr(ts), n, distinct = true)
        .toLongArray().toSeq
      val hl = Kernels.ngramHashLens(arr(ts), n)
      val hlRows = (0 until hl.numElements()).map { i =>
        val r = hl.getStruct(i, 2); (r.getLong(0), r.getInt(1))
      }
      multis == want &&
        dist == want.distinct.sorted &&
        hlRows.map(_._1) == want &&
        hlRows.map(_._2) == (if (ts.length < n) Seq.empty
          else ts.sliding(n).map(w =>
            w.map(t => t.codePointCount(0, t.length)).sum + (n - 1)).toSeq)
    }
}
