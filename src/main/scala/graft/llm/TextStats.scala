package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.unsafe.types.UTF8String

/**
 * Text-analysis operators for large-scale training-data pipelines:
 * tokenization stats, quality scoring, language-ID heuristics, document
 * fingerprinting. All are pure Catalyst expressions (split / filter /
 * aggregate higher-order functions), so they run inside whole-stage codegen
 * and scale linearly with no shuffle — exactly what a 100 TB corpus pass
 * needs (one scan, columnar pruning, no UDF serialization).
 */
object TextStats {

  /** Whitespace tokens (single-space convention of the corpus). */
  def tokens(text: Column): Column = F.split(text, " ")

  /** Single-pass token-statistics struct shared (via Catalyst common
    * subexpression elimination) by every count below that appears in the
    * same projection — one kernel scan instead of one split-array pipeline
    * per count. EnStop is the default stopword list so `tokenCount` /
    * `tokenSetRatio(EnStop)` / `punctRatio` all collapse onto ONE node.
    * Parity with the split/filter/array_distinct column forms is pinned in
    * TextOpsSpec. */
  private def stats(text: Column, words: Seq[String] = EnStop): Column =
    org.apache.spark.sql.graft.GraftColumns.docTokenStats(text, words)

  def tokenCount(text: Column): Column = stats(text).getField("n_tokens")

  def uniqueTokenCount(text: Column): Column = stats(text).getField("n_unique")

  /** BPE-style pre-tokenizer segment pattern: letter runs, digit runs, and
    * individual punctuation marks — the GPT-2 pre-tokenizer's split points
    * minus contractions/unicode categories, kept to classes that RE2
    * (DuckDB) and java.util.regex (Spark) interpret identically. Counting
    * these segments approximates a BPE token budget far better than
    * whitespace words (punctuation and numbers cost tokens). */
  val BpeTokenPattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

  /** Approximate BPE token count: pre-tokenizer segments of
    * [[BpeTokenPattern]], counted by a single char-class transition kernel
    * (one linear pass; the regex engine re-examined every position). Count
    * parity with [[bpeTokenCountRegex]] is pinned in TextOpsSpec. */
  def bpeTokenCount(text: Column): Column =
    org.apache.spark.sql.graft.GraftColumns.bpeTokenCount(text)

  /** The portable regexp form of [[bpeTokenCount]] — the reference
    * semantics the DuckDB oracle mirrors (regexp_extract_all length). */
  def bpeTokenCountRegex(text: Column): Column =
    F.regexp_count(text, F.lit(BpeTokenPattern))

  /** Mean token length for single-space-joined text:
    * (chars - (n-1)) / n, deterministic double. */
  def meanTokenLength(text: Column): Column = {
    val n = tokenCount(text).cast("double")
    (F.length(text).cast("double") - (n - F.lit(1.0))) / n
  }

  /** (n_tokens, n_oov) against a fixed vocabulary in ONE kernel pass —
    * n_oov = tokens not in `vocab`. The standard vocabulary-coverage
    * quality signal (high OOV rate ⇒ noise/boilerplate/wrong language);
    * the vocabulary itself is corpus-derived model parameters (e.g.
    * [[topKTokens]] collected), broadcast inside the expression. Both
    * fields read the same `docTokenStats` node, so a projection using
    * both costs one scan. */
  def oovCounts(text: Column, vocab: Seq[String]): Column = {
    val s = stats(text, vocab)
    F.struct(s.getField("n_tokens").as("n_tokens"),
      (s.getField("n_tokens") - s.getField("n_stop")).as("n_oov"))
  }

  /** Ratio of tokens found in `words` (e.g. stopwords). */
  def tokenSetRatio(text: Column, words: Seq[String]): Column =
    stats(text, words).getField("n_stop").cast("double") /
      stats(text, words).getField("n_tokens").cast("double")

  /** Pure-Column stopword-hit count — reference semantics for the kernel's
    * `n_stop` (used by [[langIdColumns]] and the parity specs). */
  private[llm] def hits(text: Column, words: Seq[String]): Column =
    F.size(F.filter(tokens(text), t => t.isin(words.map(F.lit(_)): _*)))

  /** Punctuation character ratio; null for empty text (0/0 raises
    * DIVIDE_BY_ZERO under Spark 4's default ANSI mode — empty documents
    * are ordinary corpus rows, not errors). The count is the kernel's
    * `n_punct` (= the length-difference of the regexp_replace form). */
  def punctRatio(text: Column): Column =
    F.when(F.length(text) > 0,
      stats(text).getField("n_punct")
        .cast("double") / F.length(text).cast("double"))

  val EnStop = Seq("the", "a", "is", "of", "to", "and", "in", "that", "it", "on")
  val EsStop = Seq("el", "la", "de", "que", "y", "en", "un", "los", "se", "no")
  val DeStop = Seq("der", "die", "das", "und", "ist", "von", "mit", "den", "nicht", "ein")
  val FrStop = Seq("le", "les", "des", "et", "une", "est", "dans", "que", "pour", "au")

  private val LangLists = Seq(
    "en" -> EnStop, "es" -> EsStop, "de" -> DeStop, "fr" -> FrStop)

  /**
   * N-gram/stopword language-ID heuristic: count hits per language's stopword
   * list (+ CJK character count for zh) and take the argmax with a fixed
   * preference order (en > es > de > fr > zh) on ties. Deterministic; no
   * model. One kernel pass per row (word -> language-bitmask map lookups +
   * CJK count in the same scan); label parity with the per-language
   * filter/greatest column form [[langIdColumns]] is pinned in TextOpsSpec.
   * One deliberate divergence: null text yields null here, where
   * [[langIdColumns]] yields "zh" (its CASE chain's null conditions fall
   * through to the otherwise branch — an artifact, not a semantic).
   */
  def langId(text: Column): Column =
    org.apache.spark.sql.graft.GraftColumns.stopwordLangId(
      text, LangLists, cjkLabel = Some("zh"))

  /** The pure-Column form of [[langId]] — the reference semantics the
    * DuckDB oracle mirrors (per-language list_filter counts + greatest +
    * a CASE chain in preference order). */
  def langIdColumns(text: Column): Column = {
    val en = hits(text, EnStop); val es = hits(text, EsStop)
    val de = hits(text, DeStop); val fr = hits(text, FrStop)
    val zh = F.length(F.regexp_replace(text, "[^\\u4e00-\\u9fff]", ""))
    val best = F.greatest(en, es, de, fr, zh)
    F.when(en === best, "en").when(es === best, "es").when(de === best, "de")
      .when(fr === best, "fr").otherwise("zh")
  }

  /**
   * Composite quality score in [0,1]: length band + stopword presence −
   * repetition penalty. Deterministic arithmetic on integral counts (the
   * usual pre-training heuristic filter, expressible in one scan).
   */
  def qualityScore(text: Column): Column = {
    val n = tokenCount(text).cast("double")
    val uniqRatio = uniqueTokenCount(text).cast("double") / n
    val stopRatio = tokenSetRatio(text, EnStop)
    val lengthOk = F.when(n >= 20 && n <= 1000, F.lit(1.0)).otherwise(F.lit(0.5))
    val mtl = meanTokenLength(text)
    val mtlOk = F.when(mtl >= 3.0 && mtl <= 10.0, F.lit(1.0)).otherwise(F.lit(0.5))
    (lengthOk * F.lit(0.25)) + (mtlOk * F.lit(0.25)) +
      (uniqRatio * F.lit(0.25)) + (stopRatio * F.lit(0.25))
  }

  /**
   * Gopher/C4-style hard filter flags (Rae et al. §A.1; Raffel et al. C4):
   * per-document booleans for the standard heuristic reject rules, plus
   * the conjunction `keep`. Emitted as flags rather than a filter so a
   * pipeline can audit *why* documents fall out before committing to a
   * drop — the usual first step when tuning a corpus mix. All pure
   * codegen'd expressions: one scan, no shuffle.
   */
  def hardFilterFlags(text: Column, minWords: Int = 50, maxWords: Int = 100000)
      : Seq[(String, Column)] = {
    val n = tokenCount(text)
    val mtl = meanTokenLength(text)
    val flags = Seq(
      "words_ok" -> (n >= minWords && n <= maxWords),
      "mwl_ok" -> (mtl >= 3.0 && mtl <= 10.0),
      "stop_ok" -> (stats(text).getField("n_stop") >= 2),
      "no_braces" -> !text.contains("{"),
      "no_lorem" -> !F.lower(text).contains("lorem ipsum"))
    flags :+ ("keep" -> flags.map(_._2).reduce(_ && _))
  }

  /** Count of whitespace tokens found in `words` (case-sensitive) — the
    * C4-style "bad words" blocklist signal, one kernel pass per row (the
    * same single-pass token-statistics kernel the stopword counter uses,
    * with the blocklist as the word set). Pair with `=== 0` for the keep
    * decision, or report the count for auditing. */
  def blocklistHits(text: Column, words: Seq[String]): Column =
    org.apache.spark.sql.graft.GraftColumns.docTokenStats(text, words)
      .getField("n_stop")

  /** [[hardFilterFlags]] applied to a corpus frame: input columns plus one
    * boolean column per rule and `keep`. */
  def hardFilter(df: org.apache.spark.sql.DataFrame, textCol: String,
                 minWords: Int = 50, maxWords: Int = 100000)
      : org.apache.spark.sql.DataFrame =
    hardFilterFlags(F.col(textCol), minWords, maxWords)
      .foldLeft(df) { case (d, (name, c)) => d.withColumn(name, c) }

  /** WET-style markup-to-text extraction: script/style blocks drop, tags
    * strip to spaces, the six standard entities decode, whitespace
    * collapses, result trims — one codegen'd kernel scan per row with
    * semantics exactly replayable as a regexp/replace chain (the oracle
    * does). The standard first step on raw crawled HTML before any other
    * text op. */
  def stripMarkup(text: Column): Column =
    org.apache.spark.sql.graft.GraftColumns.stripMarkup(text)

  /** CCNet-style canonicalization for near-exact dedup (Wenzek et al.
    * 2020 §4.1, ASCII-scoped for bit-exact cross-engine replay): ASCII
    * case fold, digits 1-9 → '0', ASCII punctuation removed, whitespace
    * runs collapsed to one space, edges trimmed; all non-ASCII passes
    * through untouched. One codegen'd kernel scan with semantics exactly
    * the portable [[normalizeForDedupChain]] — hash the result (or feed
    * it to [[graft.llm.Dedup.exactDedup]]) to catch the
    * case/punctuation/number variants raw exact dedup misses. */
  def normalizeForDedup(text: Column): Column =
    org.apache.spark.sql.graft.GraftColumns.normalizeText(text)

  /** ASCII punctuation removed by [[normalizeForDedup]] (codes 33-47,
    * 58-64, 91-96, 123-126). */
  val AsciiPunct: String = (33 to 47).++(58 to 64).++(91 to 96)
    .++(123 to 126).map(_.toChar).mkString

  /** The portable five-pass column form of [[normalizeForDedup]] — the
    * reference semantics the DuckDB oracle mirrors (translate ×3 +
    * regexp_replace + trim). Parity on arbitrary input is pinned in
    * KernelLaws. */
  def normalizeForDedupChain(text: Column): Column =
    F.trim(F.regexp_replace(
      F.translate(F.translate(F.translate(text,
        "ABCDEFGHIJKLMNOPQRSTUVWXYZ", "abcdefghijklmnopqrstuvwxyz"),
        "123456789", "000000000"),
        AsciiPunct, ""),
      F.lit("[ \\t\\n\\r\\f]+"), F.lit(" ")))

  /** Encoding-quality counters struct `(n_chars, n_replacement,
    * n_control)` — Unicode code points, U+FFFD replacement chars, and
    * disallowed control chars (`[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]`) — the
    * standard mojibake / binary-contamination signal. One kernel scan. */
  def encodingStats(text: Column): Column =
    org.apache.spark.sql.graft.GraftColumns.encodingStats(text)

  /** Per-mille encoding keep rule on [[encodingStats]]: keep when bad
    * chars (replacement + control) are at most `maxBadPerMille` per 1000
    * chars — integer cross-multiplication, bit-stable in any engine.
    * Empty text keeps. */
  def encodingKeep(text: Column, maxBadPerMille: Int = 1): Column = {
    val st = encodingStats(text)
    val bad = st.getField("n_replacement") + st.getField("n_control")
    bad * 1000 <= st.getField("n_chars") * maxBadPerMille
  }

  /** The Gopher stopword list (Rae et al. 2021): a document must contain
    * at least two DISTINCT words of this list to pass the `stop_ok` rule
    * (the published rule counts distinct list hits, not occurrences — a
    * document of nothing but "the the the" fails it). */
  val GopherStop: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Raw Gopher quality counters struct `(n_words, n_alpha_words,
    * n_symbols, n_lines, n_bullet_lines, n_ellipsis_lines)` — one kernel
    * scan (see graft.Kernels.gopherStats for the exact definitions). */
  def gopherStats(text: Column): Column =
    org.apache.spark.sql.graft.GraftColumns.gopherStats(text)

  /** The published Gopher/MassiveText document-quality rule bundle as
    * named boolean flags plus their conjunction `keep`:
    *  - `words_ok`: 50 <= words <= 100000
    *  - `mwl_ok`: mean word length in [3, 10]
    *  - `symbol_ok`: symbol-to-word ratio (`#` + `...`) <= 0.1
    *  - `bullet_ok`: <= 90% of lines start with a bullet
    *  - `ellipsis_ok`: <= 30% of lines end with `...`
    *  - `alpha_ok`: >= 80% of words contain an alphabetic char
    *  - `stop_ok`: >= 2 DISTINCT words of the eight-entry Gopher stopword
    *    list appear (the published rule counts distinct list hits, not
    *    occurrences — "the the" alone fails; `array_intersect` dedups)
    * All ratio rules compare via integer cross-multiplication so flags
    * hash identically in any engine; emitted as flags (not a filter) so a
    * pipeline can audit WHY documents fall out, like [[hardFilterFlags]].
    * Two kernel scans per row (gopherStats + the token-stats kernel for
    * mean word length) plus one token split for the distinct-stopword
    * intersect. */
  def gopherFlags(text: Column, minWords: Int = 50, maxWords: Int = 100000)
      : Seq[(String, Column)] = {
    val g = gopherStats(text)
    val nW = g.getField("n_words")
    val nL = g.getField("n_lines")
    val mtl = meanTokenLength(text)
    val flags = Seq(
      "words_ok" -> (nW >= minWords && nW <= maxWords),
      "mwl_ok" -> (mtl >= 3.0 && mtl <= 10.0),
      "symbol_ok" -> (g.getField("n_symbols") * 10 <= nW),
      "bullet_ok" -> (g.getField("n_bullet_lines") * 10 <= nL * 9),
      "ellipsis_ok" -> (g.getField("n_ellipsis_lines") * 10 <= nL * 3),
      "alpha_ok" -> (g.getField("n_alpha_words") * 10 >= nW * 8),
      "stop_ok" -> (F.size(F.array_intersect(tokens(text),
        F.array(GopherStop.map(F.lit): _*))) >= 2))
    flags :+ ("keep" -> flags.map(_._2).reduce(_ && _))
  }

  /** [[gopherFlags]] applied to a corpus frame: input columns plus one
    * boolean column per rule and `keep`. */
  def gopherFilter(df: org.apache.spark.sql.DataFrame, textCol: String,
                   minWords: Int = 50, maxWords: Int = 100000)
      : org.apache.spark.sql.DataFrame =
    gopherFlags(F.col(textCol), minWords, maxWords)
      .foldLeft(df) { case (d, (name, c)) => d.withColumn(name, c) }

  /** Word n-grams as space-joined strings in position order; empty array
    * when the document is null or has fewer than `n` tokens (no partial
    * n-grams). Empty tokens from repeated spaces are kept. One compiled
    * kernel call per row (`Kernels.ngrams`) that copies each n-gram's
    * tokens once; parity with the `transform(slice(split(...)))` column
    * form it replaced is pinned in TextOpsSpec. */
  def ngrams(text: Column, n: Int): Column =
    F.coalesce(org.apache.spark.sql.graft.GraftColumns.ngrams(tokens(text), n),
      F.array().cast("array<string>"))

  /** 64-bit fingerprints of the word n-grams — the scale form of [[ngrams]]
    * (equality-only semantics; no gram strings are ever materialized). One
    * codegen'd kernel call per row; `distinct = true` returns the
    * sorted-deduped set form. Same no-partial-grams convention. */
  def ngramHashes(text: Column, n: Int, distinct: Boolean): Column =
    org.apache.spark.sql.graft.GraftColumns.ngramHashes(tokens(text), n, distinct)

  /**
   * Gopher-style repetition signals per document: for word n-grams of size
   * `n`, the fraction of occurrences claimed by the single most frequent
   * n-gram (`top_frac`) and the fraction that are repeats of an already-seen
   * n-gram (`dup_frac` = 1 − distinct/total). High values flag boilerplate
   * and degenerate generations — the standard pre-training repetition
   * filter (Rae et al., Gopher §A.2).
   *
   * Shape at 100 TB: one codegen'd fingerprint kernel per row (n-grams are
   * 64-bit hashes — no gram strings), then explode → two-level hash
   * aggregation. The first aggregate (id, gram) combines map-side, so the
   * shuffle carries one long pair per distinct (doc, gram), not per
   * occurrence; the second reduces to one row per doc. Documents with fewer
   * than `n` tokens produce no n-grams and are absent from the output.
   */
  def ngramRepetition(df: org.apache.spark.sql.DataFrame, idCol: String,
                      textCol: String, n: Int): org.apache.spark.sql.DataFrame = {
    val counts = df
      .select(F.col(idCol),
        F.explode(ngramHashes(F.col(textCol), n, distinct = false)).as("gram"))
      .groupBy(F.col(idCol), F.col("gram"))
      .agg(F.count(F.lit(1)).as("c"))
    counts.groupBy(F.col(idCol)).agg(
      F.sum("c").as("n_grams"),
      (F.max("c").cast("double") / F.sum("c").cast("double")).as("top_frac"),
      ((F.sum("c") - F.count(F.lit(1))).cast("double")
        / F.sum("c").cast("double")).as("dup_frac"))
  }

  /**
   * The line/paragraph half of the Gopher/MassiveText repetition suite
   * (Rae et al. 2021 §A1.1), per document:
   *  - `dup_line_frac`: fraction of non-empty lines whose identical line
   *    appeared earlier in the document (a line occurring c times counts
   *    c-1 duplicates);
   *  - `dup_line_char_frac`: fraction of non-empty-line characters (code
   *    points) sitting in those duplicate occurrences;
   *  - `dup_para_frac` / `dup_para_char_frac`: same over `\n\n`-delimited
   *    paragraphs.
   * Raw unit counts (`n_lines`, `n_paras`) ride along for auditability;
   * documents with no non-empty units get 0.0 fractions. Empty units are
   * excluded everywhere — blank lines are structure, not repeatable
   * content (the stripBoilerplate rule). Complements [[ngramRepetition]]
   * (the n-gram half of the suite).
   *
   * Shape at 100 TB: ONE kernel scan per row (graft.Kernels.dupUnitStats),
   * no explode, no shuffle — output partitioning follows the input.
   */
  def repetitionSignals(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val st = org.apache.spark.sql.graft.GraftColumns.dupUnitStats(F.col(textCol))
    def frac(num: Column, den: Column): Column =
      F.when(den > 0L, num.cast("double") / den.cast("double")).otherwise(F.lit(0.0))
    df.select(F.col(idCol), st.as("__rs"))
      .select(F.col(idCol),
        F.col("__rs.n_lines").as("n_lines"),
        frac(F.col("__rs.n_dup_lines"), F.col("__rs.n_lines")).as("dup_line_frac"),
        frac(F.col("__rs.dup_line_chars"), F.col("__rs.line_chars")).as("dup_line_char_frac"),
        F.col("__rs.n_paras").as("n_paras"),
        frac(F.col("__rs.n_dup_paras"), F.col("__rs.n_paras")).as("dup_para_frac"),
        frac(F.col("__rs.dup_para_chars"), F.col("__rs.para_chars")).as("dup_para_char_frac"))
  }

  /**
   * Character-weighted n-gram repetition (the remaining Gopher signals):
   * per document,
   *  - `top_char_frac`: chars occupied by the most frequent n-gram —
   *    occurrences × n-gram length (tokens joined by one space, code
   *    points) over the document's char length; count ties break toward
   *    the LONGER gram (lexicographic max on (count, len), deterministic
   *    in both engines);
   *  - `dup_char_frac`: the same occurrence×length weight summed over all
   *    n-grams occurring at least twice, over document chars.
   * Overlapping occurrences each count their full length (the standard
   * published implementation choice), so fractions may exceed 1 on
   * degenerate text. Documents with fewer than n tokens produce no row
   * (callers left-join + coalesce, like [[ngramRepetition]]).
   *
   * Shape at 100 TB: the same explode → two-level aggregation as
   * [[ngramRepetition]] — grams travel as 64-bit fingerprints + an int
   * length, never as strings; both come from ONE fused kernel call per
   * row (graft.Kernels.ngramHashLens — a transform/aggregate/zip_with
   * column chain for the lengths cost O(n·tokens) interpreted lambda
   * dispatches per row, 10x the kernel's linear walk).
   */
  def ngramCharRepetition(df: DataFrame, idCol: String, textCol: String,
                          n: Int): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    val grams = org.apache.spark.sql.graft.GraftColumns
      .ngramHashLens(tokens(F.col(textCol)), n)
    val counts = df
      .select(F.col(idCol), F.length(F.col(textCol)).as("__doc_chars"),
        F.explode(grams).as("g"))
      .groupBy(F.col(idCol), F.col("g.h").as("gram"))
      .agg(F.count(F.lit(1)).as("c"), F.max(F.col("g.ch")).cast("long").as("ch"),
        F.max(F.col("__doc_chars")).as("__doc_chars"))
    // lexicographic max on (count, gram chars) as one packed long:
    // count << 32 | chars (chars is an int, so < 2^32; count <= n_tokens
    // < 2^31) — identical `max` + shift/mask arithmetic in any engine.
    counts.groupBy(F.col(idCol)).agg(
      F.sum("c").as("n_grams"),
      F.max(F.shiftleft(F.col("c"), 32) + F.col("ch")).as("__top"),
      F.sum(F.when(F.col("c") >= 2, F.col("c") * F.col("ch")).otherwise(0L))
        .as("__dup_chars"),
      F.max("__doc_chars").as("__doc_chars"))
      .select(F.col(idCol), F.col("n_grams"),
        F.when(F.col("__doc_chars") > 0,
          (F.shiftright(F.col("__top"), 32)
            * F.col("__top").bitwiseAND(F.lit(0xFFFFFFFFL))).cast("double")
            / F.col("__doc_chars").cast("double")).otherwise(F.lit(0.0))
          .as("top_char_frac"),
        F.when(F.col("__doc_chars") > 0,
          F.col("__dup_chars").cast("double") / F.col("__doc_chars").cast("double"))
          .otherwise(F.lit(0.0)).as("dup_char_frac"))
  }

  /**
   * Split documents into fixed-size token windows with stride (overlapping
   * when stride < chunkSize) — the standard context-window chunking step
   * before tokenized training batches. Chunk starts are 0, stride, 2·stride,
   * … while start < n_tokens, so every token lands in at least one chunk and
   * the final chunk may be short.
   *
   * Shape at 100 TB: a single projection + generator — per-row compute with
   * no shuffle; output partitioning follows the input.
   */
  def chunkTokens(df: org.apache.spark.sql.DataFrame, idCol: String,
                  textCol: String, chunkSize: Int, stride: Int): org.apache.spark.sql.DataFrame = {
    require(chunkSize >= 1, s"chunkSize must be >= 1, got $chunkSize")
    require(stride >= 1, s"stride must be >= 1, got $stride")
    // one offset-walk kernel call per row (chunk texts are substrings of
    // the original — the join delimiter equals the split delimiter); null
    // text propagates to a null array, which posexplode drops. Parity with
    // the transform+slice+array_join column form is pinned in TextOpsSpec.
    val chunks = org.apache.spark.sql.graft.GraftColumns
      .chunkSpans(F.col(textCol), chunkSize, stride)
    df.select(F.col(idCol), F.posexplode(chunks).as(Seq("chunk_id", "ch")))
      .select(F.col(idCol), F.col("chunk_id"),
        F.col("ch.start").as("start"), F.col("ch.n_tokens").as("n_tokens"),
        F.col("ch.chunk_text").as("chunk_text"))
  }

  /** MD5 fingerprint (content-exact). */
  def md5Fingerprint(text: Column): Column = F.md5(text)

  /**
   * 64-bit rolling (order-sensitive) hash over tokens: a chained-hash fold
   * acc' = xxhash64(acc, token). Equivalent role to a Rabin-Karp polynomial
   * hash but ANSI-safe (no overflowing multiply). One codegen'd kernel loop
   * per row, bit-identical to [[rollingHashFold]] (pinned in TextOpsSpec).
   */
  def rollingHash(text: Column): Column =
    org.apache.spark.sql.graft.GraftColumns.rollingTokenHash(tokens(text))

  /** The pure higher-order-function form of [[rollingHash]] — the reference
    * semantics (one boxed xxhash64 dispatch per token; ~10x slower). */
  def rollingHashFold(text: Column): Column =
    F.aggregate(tokens(text), F.lit(0L), (acc, t) => F.xxhash64(acc, t))

  /**
   * Corpus-level token frequencies, top `k` by (count desc, token asc) —
   * the vocabulary profile a pipeline inspects before filtering. Exact (no
   * sketch): explode + two-level hash aggregation (map-side partial
   * counts), then `TakeOrderedAndProject` — per-partition top-k merged on
   * the driver, never a full global sort. Ties broken by token for
   * cross-engine determinism.
   */
  def topKTokens(df: org.apache.spark.sql.DataFrame, textCol: String,
                 k: Int): org.apache.spark.sql.DataFrame =
    df.select(F.explode(tokens(F.col(textCol))).as("token"))
      .groupBy("token").agg(F.count(F.lit(1)).as("cnt"))
      .orderBy(F.col("cnt").desc, F.col("token"))
      .limit(k)

  /**
   * Per-line language segmentation (the CCNet per-paragraph langid pass,
   * Wenzek et al. 2020 §4.2, at line granularity): language-ID every
   * non-blank line with the stopword kernel, then per document the
   * MAJORITY language (ties → label ascending), the non-blank line
   * count, the distinct-language count, and a `mixed` flag — the signal
   * for routing mixed-language pages to per-segment processing instead
   * of one whole-doc label.
   *
   * Scale shape: one explode + one (doc, lang) count aggregation (both
   * map-side combinable; ≤ |languages| rows per doc reach the reduce
   * side) + a per-doc struct-max argmax (no window, no sort) + one left
   * join back to the id spine. The tie-break is encoded in the packed
   * struct (count, reverse label rank), so the argmax is deterministic
   * under any partitioning. Documents with no non-blank lines get null
   * segmentation columns.
   */
  def langSegments(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // closed langId label set, ALPHABETICAL (the majority tie-break order)
    val labels = (LangLists.map(_._1) :+ "zh").sorted
    val lines = df.select(F.col(idCol),
        F.explode(F.split(F.col(textCol), "\n")).as("__ls_line"))
      .filter(F.trim(F.col("__ls_line")) =!= "")
      .select(F.col(idCol), langId(F.col("__ls_line")).as("__ls_lang"))
    val counts = lines.groupBy(F.col(idCol), F.col("__ls_lang"))
      .agg(F.count(F.lit(1)).as("__ls_n"))
    // reverse label rank: ties on count pick the SMALLEST label, i.e. the
    // largest (count, reverse-rank) struct
    val rev = labels.zipWithIndex.foldLeft(F.lit(-1)) { case (acc, (l, i)) =>
      F.when(F.col("__ls_lang") === l, labels.length - 1 - i).otherwise(acc)
    }
    val agg = counts
      .select(F.col(idCol), F.col("__ls_lang"), F.col("__ls_n"),
        F.struct(F.col("__ls_n").as("n"), rev.as("r")).as("__ls_pack"))
      .groupBy(F.col(idCol))
      .agg(F.max(F.col("__ls_pack")).as("__ls_top"),
        F.sum(F.col("__ls_n")).as("n_lines"),
        F.count(F.lit(1)).as("n_langs"))
    val major = labels.zipWithIndex.foldLeft(F.lit(null: String)) {
      case (acc, (l, i)) =>
        F.when(F.col("__ls_top.r") === labels.length - 1 - i, l).otherwise(acc)
    }
    df.select(F.col(idCol))
      .join(agg, Seq(idCol), "left")
      .select(F.col(idCol), major.as("major_lang"), F.col("n_lines"),
        F.col("n_langs"), (F.col("n_langs") > 1).as("mixed"))
  }

  /** Flesch–Kincaid surface counters: struct(n_words, n_sentences,
    * n_syllables) — sentence terminators floored at 1, vowel-group
    * syllables floored at 1 per word. One kernel scan. */
  def fkStats(text: Column): Column =
    org.apache.spark.sql.graft.GraftColumns.fkStats(text)

  /**
   * Flesch–Kincaid grade level (Kincaid et al. 1975) in integer
   * micro-units: `round((0.39·(W/S) + 11.8·(Syl/W) − 15.59)·1e6)` over
   * the [[fkStats]] counters — the classic readability quality signal
   * (too low ⇒ listicle/boilerplate, too high ⇒ OCR noise / code). The
   * expression is written as the single IEEE shape both engines evaluate
   * identically; the counters are exact integers, so the only float ops
   * are the two divisions and the affine combination.
   */
  def fkGradeMicro(text: Column): Column = {
    val s = fkStats(text)
    val w = s.getField("n_words").cast("double")
    val sen = s.getField("n_sentences").cast("double")
    val syl = s.getField("n_syllables").cast("double")
    F.round((F.lit(0.39) * (w / sen) + F.lit(11.8) * (syl / w) -
      F.lit(15.59)) * 1e6).cast("long")
  }

  /**
   * Count-min sketch of the corpus token counts (Cormode & Muthukrishnan
   * 2005): a (`depth`·`width`)-cell integer counter table as a DataFrame
   * (cell, cnt), cell = lane·width + portable-lane-hash(token) mod width.
   * ONE explode+groupBy whose combine output is bounded by depth·width
   * rows per task — the bounded-state replacement for exact token
   * counting when the vocabulary itself is too large to shuffle (the
   * 100 TB heavy-hitter pass). Estimates only ever OVER-count
   * (estimate ≥ true count, error ≤ ε·N with ε ≈ e/width at the standard
   * depth ≈ ln(1/δ)); all-integer and hash-portable, so the DuckDB
   * oracle rebuilds the identical table.
   */
  def cmsSketch(df: DataFrame, textCol: String, depth: Int = 4,
                width: Int = 256): DataFrame =
    df.select(F.explode(
        org.apache.spark.sql.graft.GraftColumns.cmsPairs(
          F.col(textCol), depth, width)).as("cell"))
      .groupBy("cell").agg(F.count(F.lit(1)).as("cnt"))

  /**
   * Sketch-vs-exact heavy-hitter audit: the exact top-`k` tokens with
   * their true counts AND the count-min estimate for each
   * (min over lanes of the sketch cell) — (token, cnt, cms_cnt) with
   * cms_cnt ≥ cnt always. The exact side is the audit; production at
   * vocabulary scales that can't shuffle runs the sketch alone and
   * probes candidate tokens. The probe is a broadcast join of the k·depth
   * coordinate rows against the ≤ depth·width-row sketch + one min-agg.
   */
  def cmsHeavyHitters(df: DataFrame, textCol: String, k: Int,
                      depth: Int = 4, width: Int = 256): DataFrame = {
    val sketch = cmsSketch(df, textCol, depth, width)
      .withColumnRenamed("cnt", "__cms_cell_cnt")
    topKTokens(df, textCol, k)
      .select(F.col("token"), F.col("cnt"), F.explode(
        org.apache.spark.sql.graft.GraftColumns.cmsTokenCoords(
          F.col("token"), depth, width)).as("cell"))
      .join(F.broadcast(sketch), "cell")
      .groupBy("token", "cnt")
      .agg(F.min("__cms_cell_cnt").as("cms_cnt"))
  }

  /**
   * Train a bounded unigram language model on a corpus: the `topK`
   * most-frequent whitespace tokens (ties → token asc, the [[topKTokens]]
   * order) with quantized log-probabilities `round(ln(count/total)·1e6)`
   * in integer MICRO-NATS, plus the out-of-vocabulary floor
   * `round(ln(1/total)·1e6)`. `total` counts EVERY token (not just the
   * kept vocabulary), so probabilities are true corpus frequencies.
   *
   * Quantization is the portability design (same as the quantized
   * k-means): scores are integer SUMS of these values, bit-identical on
   * any engine and any summation order — a float logprob sum would drift
   * by ulps across summation orders and break exact cross-engine checks.
   *
   * Scale shape: one token-count aggregation (map-side combinable) whose
   * shuffle feeds both the total and a top-k (per-partition heaps, driver
   * merge) in ONE driver collect — the model is `topK` parameters, never
   * data, and nothing is persisted. Returns (vocab logprobs, oovLp).
   */
  def unigramModel(df: org.apache.spark.sql.DataFrame, textCol: String,
                   topK: Int): (Seq[(String, Long)], Long) = {
    require(topK >= 1, "topK must be >= 1")
    val counted = df.select(F.explode(tokens(F.col(textCol))).as("gram"))
      .groupBy("gram").agg(F.count(F.lit(1)).as("cnt"))
    val (total, vocab, _) = fetchModel(counted, topK, None, "unigramModel")
    (vocab.map { case (t, c, _) => t -> lpMicro(c, total) },
      lpMicro(1L, total))
  }

  /** `round(ln(c / of)·1e6)`: a count ratio as quantized micro-nats. */
  private def lpMicro(c: Long, of: Long): Long =
    math.round(math.log(c.toDouble / of.toDouble) * 1e6)

  /**
   * The language models' one driver collect. From a `(gram, cnt)` token
   * count table `uni` it fetches the token total and the top-`topK`
   * tokens; given `(bi, topB)`, also the top-`topB` rows of the `(gram,
   * cnt)` pair table `bi`, each joined to its first word's count in
   * `uni`. Each branch is a tagged row set of one union, so the count
   * tables' scan and shuffle are shared (ReuseExchange) rather than
   * persisted. Returns (total, vocab, pairs) with `(gram, cnt, w1 cnt)`
   * rows sorted here by (cnt desc, gram asc), gram compared as UTF-8
   * bytes the way a Spark sort compares strings.
   */
  private def fetchModel(uni: DataFrame, topK: Int, pairs: Option[(DataFrame, Int)],
                         caller: String): (Long, Seq[(String, Long, Long)],
                                           Seq[(String, Long, Long)]) = {
    def tagged(kind: Int, d: DataFrame, c1: Column) =
      d.select(F.lit(kind).as("kind"), F.col("gram"), F.col("cnt"), c1.as("c1"))
    def top(d: DataFrame, n: Int) = d.orderBy(F.col("cnt").desc, F.col("gram")).limit(n)
    val none = F.lit(null).cast("long")
    val total = tagged(0, uni.agg(F.sum("cnt").as("cnt"))
      .withColumn("gram", F.lit(null).cast("string")), none)
    val branches = total +: tagged(1, top(uni, topK), none) +: pairs.toSeq.map {
      case (bi, topB) =>
        // null-safe equality infers no isnotnull(gram) filter, which would
        // be pushed below `uni`'s aggregate and split its shared exchange
        val w1 = uni.select(F.col("gram").as("__w1"), F.col("cnt").as("__c1"))
        tagged(2, top(bi, topB).join(w1,
          F.substring_index(F.col("gram"), " ", 1) <=> F.col("__w1")), F.col("__c1"))
    }
    val rows = branches.reduce(_ unionByName _).collect()
    val totalRow = rows.find(_.getInt(0) == 0).get
    require(!totalRow.isNullAt(2) && totalRow.getLong(2) > 0L,
      s"$caller: corpus has no tokens")
    def kind(k: Int) = rows.filter(_.getInt(0) == k)
      .map(r => (r.getString(1), r.getLong(2), if (r.isNullAt(3)) 0L else r.getLong(3)))
      .sortBy { case (g, c, _) => (-c, UTF8String.fromString(g)) }.toSeq
    (totalRow.getLong(2), kind(1), kind(2))
  }

  /** Unigram LM score of a document in integer micro-nats (Σ quantized
    * token logprobs; OOV tokens take the floor) — one kernel pass per
    * row. More negative = less corpus-like; divide by [[tokenCount]] and
    * `exp(-x/1e6)` for a perplexity. The CCNet-style quality signal. */
  def unigramScore(text: Column, model: Seq[(String, Long)],
                   oovLp: Long): Column =
    org.apache.spark.sql.graft.GraftColumns.unigramScore(text, model, oovLp)

  /**
   * Train a bounded bigram language model: the [[unigramModel]] vocab
   * (topK tokens) plus the `topB` most-frequent ADJACENT token pairs
   * (ties → pair asc) with quantized CONDITIONAL log-probabilities
   * `round(ln(count(w1 w2)/count(w1))·1e6)` — count(w1) is the w1 token's
   * full corpus count, so the ratio is the true conditional frequency.
   * Same integer micro-nat portability contract as [[unigramModel]].
   *
   * Scale shape: ONE driver collect over the fused [[gramCounts]] table
   * (one corpus tokenize+explode, one map-side-combinable gram count). Its
   * single shuffle feeds every branch of the collected plan — the token
   * total, the vocab top-K, the bigram top-B and the w1 counts of those
   * top-B pairs, a broadcast join of ≤ topB rows — through ReuseExchange;
   * nothing is persisted (the earlier form persisted the token counts and ran
   * four collects). Its pair logprobs agree with the [[gramCounts]] counts
   * (a law pinned in BoilerplateTfidfSpec).
   * Driver state stays model-parameter-sized throughout. Returns
   * (bigram logprobs, unigram vocab, oovLp); pair `backoffLp` with them
   * via [[StupidBackoffLp]] or your own discount.
   */
  def bigramModel(df: org.apache.spark.sql.DataFrame, textCol: String,
                  topK: Int, topB: Int)
      : (Seq[(String, Long)], Seq[(String, Long)], Long) = {
    require(topK >= 1 && topB >= 1, "topK and topB must be >= 1")
    val counts = gramCounts(df, textCol)
    def kind(pair: Boolean) = counts.filter(F.col("is_pair") === pair)
      .select(F.col("gram"), F.col("cnt"))
    val (total, vocab, pairs) =
      fetchModel(kind(pair = false), topK, Some(kind(pair = true) -> topB), "bigramModel")
    (pairs.map { case (bg, c, c1) => bg -> lpMicro(c, c1) },
      vocab.map { case (t, c, _) => t -> lpMicro(c, total) },
      lpMicro(1L, total))
  }

  /** Standard stupid-backoff discount `round(ln(0.4)·1e6)` micro-nats. */
  val StupidBackoffLp: Long = math.round(math.log(0.4) * 1e6)

  /** Bigram LM score with stupid-backoff in integer micro-nats: Σ over
    * adjacent pairs of the model's conditional logprob, backing off to
    * `backoffLp + unigram(w2)` (OOV w2 → `backoffLp + oovLp`); documents
    * with fewer than two tokens score 0. One token walk per row — the
    * n-gram quality signal one order above [[unigramScore]]. */
  def bigramScore(text: Column, biModel: Seq[(String, Long)],
                  uniModel: Seq[(String, Long)], backoffLp: Long,
                  oovLp: Long): Column =
    org.apache.spark.sql.graft.GraftColumns.bigramScore(
      text, biModel, uniModel, backoffLp, oovLp)

  /**
   * CCNet-style per-stratum quality bucketing: append a `bucket` column
   * labeling each row `head` (score ≥ the stratum's `f2` quantile),
   * `middle` (≥ `f1`) or `tail`, with exact R-7 (linear-interpolation)
   * quantile cutpoints computed WITHIN the row's stratum — the standard
   * "keep the best third per language/source" mix step.
   *
   * Scale shape: one aggregation computes the 2·|strata| cutpoints
   * (model parameters, broadcast back), one codegen'd scan labels the
   * corpus; no sort, no window. The exact percentile buffers each
   * stratum's scores in the cutpoint aggregation (same caveat as
   * `Summarizers.quantile`); pass `approxAccuracy > 0` to use Spark's
   * bounded-memory approx_percentile sketch for the cutpoints instead
   * (O(accuracy) state per stratum, map-side combinable — the 100 TB
   * path; rank error ≈ 1/accuracy, labeling unchanged). Null scores get
   * a null bucket; null strata form their own stratum (null-safe join).
   */
  def qualityBuckets(df: org.apache.spark.sql.DataFrame, strataCol: String,
                     scoreCol: String, f1: Double = 1.0 / 3,
                     f2: Double = 2.0 / 3,
                     approxAccuracy: Int = 0): org.apache.spark.sql.DataFrame = {
    require(f1 >= 0 && f2 >= f1 && f2 <= 1, s"need 0 <= f1 <= f2 <= 1")
    require(!df.columns.contains("bucket"),
      "qualityBuckets: input already has a bucket column")
    val sc = F.col(scoreCol).cast("double")
    def cut(p: Double) =
      if (approxAccuracy > 0)
        F.approx_percentile(sc, F.lit(p), F.lit(approxAccuracy)).cast("double")
      else F.percentile(sc, F.lit(p))
    val cuts = df.groupBy(F.col(strataCol).as("__qb_s"))
      .agg(cut(f1).as("__qb_c1"), cut(f2).as("__qb_c2"))
    df.join(F.broadcast(cuts), F.col(strataCol) <=> F.col("__qb_s"), "left")
      .withColumn("bucket",
        F.when(sc.isNotNull,
          F.when(sc >= F.col("__qb_c2"), "head")
            .when(sc >= F.col("__qb_c1"), "middle")
            .otherwise("tail")))
      .drop("__qb_s", "__qb_c1", "__qb_c2")
  }

  /**
   * [[qualityBuckets]] over an EXPENSIVE score expression: evaluates the
   * score ONCE by persisting the narrow (inputCols + score) projection —
   * without this the cutpoint pass and the label pass each re-evaluate
   * `score` over the raw input (two full text scans + two quality-kernel
   * runs for a text-derived score). Within the single action that
   * consumes the result, the cutpoint aggregation (built first, as the
   * broadcast side) populates the cache and the label scan reads from
   * it. Pick `inputCols` as the columns the caller needs downstream
   * (id + strata, typically) — the cache holds exactly those plus one
   * double per row, NOT the raw text.
   *
   * Cache lifetime — two modes:
   *  - `eager = false` (default, lazy): the output is lazy, so there is
   *    no safe point to release the score cache here; it stays
   *    registered (Spark's LRU evicts it under memory pressure). A
   *    caller running MANY of these in one session should use the eager
   *    mode, or release via `spark.catalog.clearCache()` between calls.
   *  - `eager = true`: the labeled output is itself persisted and
   *    materialized (one count() action fills both caches), then the
   *    score-side cache is released before returning — after the call
   *    the only registered cache is the small (inputCols + bucket)
   *    RESULT, which the caller releases with `result.unpersist()` when
   *    done. A loop of eager calls with per-iteration `unpersist()`
   *    leaves zero residual cache (asserted in BoilerplateTfidfSpec via
   *    `sparkContext.getPersistentRDDs`).
   * Output: inputCols + `bucket`.
   */
  def qualityBucketsComputed(df: org.apache.spark.sql.DataFrame,
                             strataCol: String, score: Column,
                             inputCols: Seq[String],
                             f1: Double = 1.0 / 3, f2: Double = 2.0 / 3,
                             approxAccuracy: Int = 0,
                             eager: Boolean = false)
      : org.apache.spark.sql.DataFrame = {
    val narrow = df.select(
      (inputCols.map(F.col) :+ score.cast("double").as("__qb_score")): _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val out = qualityBuckets(narrow, strataCol, "__qb_score", f1, f2,
      approxAccuracy).drop("__qb_score")
    if (!eager) out
    else {
      val result = out.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      result.count() // one action: cutpoint pass fills the score cache,
                     // label pass reads it, result lands in its own cache
      narrow.unpersist(blocking = false)
      result
    }
  }

  /**
   * Line-level boilerplate removal (the CCNet/RefinedWeb line-dedup pass):
   * within each group (typically the registrable domain or source), a LINE
   * is boilerplate when it occurs in at least `minDocs` distinct documents
   * of the group — navigation menus, cookie banners, copyright footers —
   * and every occurrence of such a line is deleted from `textCol`,
   * preserving the order of the surviving lines. Empty and
   * whitespace-only lines are EXEMPT — they are structure (the `\n\n`
   * paragraph boundaries [[dedupParagraphs]] and friends key on), not
   * content, and every multi-paragraph group would otherwise classify
   * the blank line as boilerplate and flatten its documents. Documents
   * reduced to nothing keep their row with an empty string (callers
   * chain a hard min-length filter). Rows with a null text pass through
   * unchanged.
   *
   * Scale shape: one line explode (linear in corpus bytes), one
   * (group, line) aggregation whose distinct-doc count is a two-phase
   * hash agg, one equi-join of the lines against the boilerplate set on
   * the same (group, line) key, and one per-document reassembly agg
   * bounded by document size. No window, no sort wider than a document,
   * no driver-side state — the boilerplate set stays distributed (at
   * 100 TB the per-domain line table is far beyond a broadcast).
   */
  def stripBoilerplate(df: DataFrame, idCol: String, groupCol: String,
                       textCol: String, minDocs: Int = 2): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val lines = df
      .select(F.col(idCol), F.col(groupCol).as("__bp_g"),
        F.posexplode(F.split(F.col(textCol), "\n")).as(Seq("__bp_p", "__bp_l")))
    val boiler = lines
      // blank lines never enter the boilerplate set (and never reach the
      // count agg — the filter prunes them before the shuffle)
      .filter(F.trim(F.col("__bp_l")) =!= "")
      .groupBy(F.col("__bp_g"), F.col("__bp_l"))
      .agg(F.count_distinct(F.col(idCol)).as("__bp_nd"))
      .filter(F.col("__bp_nd") >= minDocs)
      .select(F.col("__bp_g"), F.col("__bp_l"), F.lit(true).as("__bp_bad"))
    val rebuilt = lines
      .join(boiler, Seq("__bp_g", "__bp_l"), "left")
      .filter(F.col("__bp_bad").isNull)
      .groupBy(F.col(idCol))
      .agg(F.array_join(
        F.transform(
          F.array_sort(F.collect_list(F.struct(F.col("__bp_p"), F.col("__bp_l")))),
          s => s.getField("__bp_l")), "\n").as("__bp_t"))
    df.join(rebuilt, Seq(idCol), "left")
      .withColumn(textCol,
        F.when(F.col(textCol).isNull, F.col(textCol))
          .otherwise(F.coalesce(F.col("__bp_t"), F.lit(""))))
      .drop("__bp_t")
  }

  /**
   * Corpus-global exact paragraph dedup (keep-first): a paragraph
   * (`textCol` split on blank lines, i.e. "\n\n") of at least `minChars`
   * characters that occurs in two or more distinct documents survives
   * ONLY in the lowest-id document; every occurrence elsewhere is
   * deleted, with the survivors keeping their order. This is the
   * inter-document exact-duplication pass between whole-document dedup
   * (too coarse: one changed footer defeats it) and n-gram span removal
   * ([[Dedup]]`.stripDuplicateSpans`, finer but lossier) — quoted blocks,
   * license headers, syndicated intros. Paragraphs shorter than
   * `minChars` neither count as duplicates nor get deleted. Contrast
   * [[stripBoilerplate]]: that pass is group-scoped and deletes every
   * occurrence; this one is global and keeps the canonical copy.
   *
   * Scale shape: one paragraph explode, one paragraph-keyed aggregation
   * (min doc id + distinct-doc count, two-phase), one equi-join back on
   * the paragraph key, one per-document reassembly agg bounded by
   * document size. The paragraph table stays distributed — no broadcast,
   * no window, no sort.
   */
  def dedupParagraphs(df: DataFrame, idCol: String, textCol: String,
                      minChars: Int = 1): DataFrame = {
    require(minChars >= 1, s"minChars must be >= 1, got $minChars")
    val paras = df
      .select(F.col(idCol).as("__pd_id"),
        F.posexplode(F.split(F.col(textCol), "\n\n")).as(Seq("__pd_p", "__pd_t")))
    val dups = paras
      .filter(F.length(F.col("__pd_t")) >= minChars)
      .groupBy(F.col("__pd_t"))
      .agg(F.min(F.col("__pd_id")).as("__pd_keep"),
        F.count_distinct(F.col("__pd_id")).as("__pd_nd"))
      .filter(F.col("__pd_nd") >= 2)
      .select(F.col("__pd_t"), F.col("__pd_keep"))
    val rebuilt = paras
      .join(dups, Seq("__pd_t"), "left")
      .filter(F.col("__pd_keep").isNull || F.col("__pd_keep") === F.col("__pd_id"))
      .groupBy(F.col("__pd_id"))
      .agg(F.array_join(
        F.transform(
          F.array_sort(F.collect_list(F.struct(F.col("__pd_p"), F.col("__pd_t")))),
          s => s.getField("__pd_t")), "\n\n").as("__pd_out"))
    df.join(rebuilt, F.col(idCol) === F.col("__pd_id"), "left")
      .withColumn(textCol,
        F.when(F.col(textCol).isNull, F.col(textCol))
          .otherwise(F.coalesce(F.col("__pd_out"), F.lit(""))))
      .drop("__pd_id", "__pd_out")
  }

  /**
   * Per-document top-`k` terms by tf-idf — the classic keyword/topic
   * signal of a corpus report. tf = the term's count within the document;
   * idf = `ln((N + 1) / (df + 1)) + 1` (smoothed; N = corpus rows, df =
   * distinct documents containing the term), QUANTIZED to integer
   * micro-nats exactly like [[unigramModel]] so the score
   * `tf · idf_micro` is an exact integer — bit-identical ranking on any
   * engine and any summation order. Empty tokens are ignored; ties break
   * term-ascending. Output: (id, term, rank, score_micro), rank 1..k by
   * score DESC.
   *
   * Scale shape: one token explode, one (id, term) tf agg, one term df
   * agg (two-phase), an equi-join on term, and the bounded [[TopKAgg]]
   * finisher per document (shuffle = k × partitions × |docs| rows, never
   * a per-document sort). N rides in as a 1-row broadcast cross join —
   * no driver collect in the plan.
   */
  def tfidfTopTerms(df: DataFrame, idCol: String, textCol: String,
                    k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val toks = df
      .select(F.col(idCol).as("__tf_id"),
        F.explode(tokens(F.col(textCol))).as("term"))
      .filter(F.col("term") =!= "")
    val tf = toks.groupBy("__tf_id", "term").agg(F.count(F.lit(1)).as("__tf"))
    // document frequency re-derived FROM the tf aggregate: its rows are
    // distinct (doc, term), so counting rows per term = distinct docs.
    // The count deliberately REFERENCES __tf through a statically-nullable
    // conditional (always 1 at runtime — a count is >= 1): a plain
    // count(*) would let column pruning drop count(1) from this branch's
    // copy of the tf aggregate, de-canonicalizing the two exchanges and
    // re-doubling the corpus tokenize. With the reference kept, both
    // branches contain the IDENTICAL tf subtree and ReuseExchange
    // materializes the explode+count once (r15; the exact fuse bm25TopK
    // shipped in r14 — plan-asserted in BoilerplateTfidfSpec). The r14
    // form documented the double tokenize as the lesser evil vs a
    // data-sized persist; the re-aggregation needs neither.
    val dfreq = tf.groupBy("term")
      .agg(F.count(F.when(F.col("__tf") >= 1, 1)).as("__df"))
    val n = df.select(F.count(F.lit(1)).as("__n"))
    val scored = tf.join(dfreq, Seq("term")).crossJoin(F.broadcast(n))
      .withColumn("__idf_micro",
        F.round(F.log((F.col("__n") + 1.0) / (F.col("__df") + 1.0)) * 1e6 + 1e6)
          .cast("long"))
      .select(F.col("__tf_id").as("q_id"), F.col("term").as("n_id"),
        (F.col("__tf") * F.col("__idf_micro")).cast("double").as("cosine"))
    val top = TopKAgg.topKUdaf(k, org.apache.spark.sql.types.StringType)
    scored.groupBy("q_id")
      .agg(top(F.col("n_id"), F.col("cosine")).as("top"))
      .select(F.col("q_id"), F.posexplode(F.col("top.hits")).as(Seq("pos", "hit")))
      .select(F.col("q_id").as(idCol), F.col("hit.n_id").as("term"),
        (F.col("pos") + 1).as("rank"),
        F.col("hit.cosine").cast("long").as("score_micro"))
  }

  // ────────────────────────────────────────────────────────────────────
  // C4-style line cleaning (Raffel et al. 2020, "Exploring the Limits of
  // Transfer Learning", §2.2 — the heuristics behind the C4 corpus).
  // ────────────────────────────────────────────────────────────────────

  /** The C4 per-line retention rule: after trimming ASCII spaces the line
    * must (a) end in a terminal punctuation mark (`.`, `!`, `?`, `"`),
    * (b) hold at least `minLineWords` non-empty single-space-split words,
    * and (c) not contain the substring "javascript" after lowercasing
    * (the published rule targets enable-javascript boilerplate lines).
    * Pure built-ins (trim / rlike / filter / contains) — stays in
    * whole-stage codegen and replays verbatim as SQL: the DuckDB form is
    * `regexp_matches(trim(l), '[.!?"]$') AND
    *  len(list_filter(string_split(trim(l), ' '), w -> w <> '')) >= k AND
    *  NOT contains(lower(trim(l)), 'javascript')`. */
  def c4LineKeep(line: Column, minLineWords: Int = 5): Column = {
    val t = F.trim(line)
    t.rlike("[.!?\"]$") &&
      F.size(F.filter(F.split(t, " ", -1), w => w =!= "")) >= minLineWords &&
      !F.contains(F.lower(t), F.lit("javascript"))
  }

  /**
   * C4 document cleaning: drop lines failing [[c4LineKeep]], then flag
   * documents by the published page-level rules — at least `minSentences`
   * sentences retained (sentences counted as `.`/`!`/`?` occurrences in
   * the CLEANED text), no "lorem ipsum" (lowercased) and no `{` anywhere
   * in the ORIGINAL text (the curly-brace rule drops pages of leaked
   * code/CSS). Emitted as flags plus the conjunction `keep`, never a
   * silent filter, so a pipeline can audit WHY pages fall out — the same
   * auditability convention as [[gopherFlags]] and [[hardFilterFlags]].
   *
   * Output: idCol, `text` (retained lines joined with `\n`), `n_lines`,
   * `n_kept`, `n_sent`, `lorem_ok`, `brace_ok`, `keep`.
   *
   * Shape at 100 TB: ONE projection — every rule is a higher-order or
   * string built-in over the row's own text. No shuffle, no UDF, no
   * kernel, no state; linear in corpus bytes and embarrassingly parallel,
   * with column pruning reaching the scan (only id + text are read).
   */
  def c4Clean(df: DataFrame, idCol: String, textCol: String,
              minSentences: Int = 3, minLineWords: Int = 5): DataFrame = {
    require(minSentences >= 0, s"minSentences must be >= 0, got $minSentences")
    require(minLineWords >= 1, s"minLineWords must be >= 1, got $minLineWords")
    val lines = F.split(F.col(textCol), "\n", -1)
    val kept = F.filter(lines, l => c4LineKeep(l, minLineWords))
    df.select(F.col(idCol),
        F.array_join(kept, "\n").as("text"),
        F.size(lines).as("n_lines"),
        F.size(kept).as("n_kept"),
        (!F.contains(F.lower(F.col(textCol)), F.lit("lorem ipsum"))).as("lorem_ok"),
        (!F.contains(F.col(textCol), F.lit("{"))).as("brace_ok"))
      .withColumn("n_sent",
        F.size(F.regexp_extract_all(F.col("text"), F.lit("[.!?]"), F.lit(0))))
      .withColumn("keep",
        F.col("n_sent") >= minSentences && F.col("lorem_ok") && F.col("brace_ok"))
      .select(F.col(idCol), F.col("text"), F.col("n_lines"), F.col("n_kept"),
        F.col("n_sent"), F.col("lorem_ok"), F.col("brace_ok"), F.col("keep"))
  }

  /**
   * Corpus-level collocations: the top-`k` adjacent word pairs by
   * pointwise mutual information (Church & Hanks 1990),
   * `pmi = ln(p(w1,w2) / (p(w1)·p(w2)))` with `p(w1,w2) = c12/B` over
   * bigram occurrences and `p(w) = c/N` over tokens, quantized to
   * integer micro-nats via the pinned double expression
   * `round(ln((c12·N·N) / (B·c1·c2)) · 1e6)` — products in double (no
   * 64-bit overflow at any corpus size), one `ln`, identical IEEE graph
   * in any engine. Pairs below `minCount` occurrences are dropped first
   * (the standard PMI low-frequency guard: rare pairs otherwise dominate
   * the ranking).
   *
   * Output: (pair, n_pair, pmi_micro), the top k by
   * (pmi_micro desc, pair asc) — a deterministic total order, so the
   * selected SET is engine-independent even at score ties.
   *
   * Shape at 100 TB: ONE corpus tokenize+explode (the fused
   * [[gramCounts]] table — r15; the r14 form scanned the corpus four
   * times), one map-side-combinable gram count whose exchange every
   * derived branch reuses (per-kind counts and the N/B totals —
   * ReuseExchange, plan-asserted in C4EntropySpec), two equi-joins of the
   * ≥`minCount` pair table against the unigram counts, two 1-row
   * broadcast totals, and a bounded global top-k
   * (TakeOrderedAndProject: per-partition heaps + driver merge of k
   * rows — never a window, never a full sort, never data-sized cache).
   */
  def pmiTopPairs(df: DataFrame, textCol: String, k: Int = 100,
                  minCount: Long = 5L): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(minCount >= 1L, s"minCount must be >= 1, got $minCount")
    val counts = gramCounts(df, textCol)
    // totals are re-aggregations OF the count table — `N` = Σ cnt over
    // token grams, `B` = Σ cnt over pair grams — so no corpus re-scan
    val uni = counts.filter(!F.col("is_pair"))
      .select(F.col("gram").as("w"), F.col("cnt").as("c"))
    val biAll = counts.filter(F.col("is_pair"))
      .select(F.col("gram").as("pair"), F.col("cnt").as("n_pair"))
    val bi = biAll
      .filter(F.col("n_pair") >= minCount)
      // F.get (null on out-of-bounds), NOT getItem: the optimizer may
      // evaluate these result projections before the is_pair filter
      // lands, i.e. on unigram rows too — ANSI getItem would throw there
      .withColumn("w1", F.get(F.split(F.col("pair"), " "), F.lit(0)))
      .withColumn("w2", F.get(F.split(F.col("pair"), " "), F.lit(1)))
    val nTot = uni.agg(F.sum("c").as("__n"))
    val bTot = biAll.agg(F.sum("n_pair").as("__b"))
    bi
      // null-safe equality, NOT a using-column equi-join: a plain join
      // key makes Catalyst infer isnotnull(w1/w2) constraints and push
      // them BELOW each branch's aggregate (they are functions of the
      // grouping key), de-canonicalizing the five copies of the shared
      // gram exchange so ReuseExchange keeps three corpus scans alive.
      // <=> infers nothing; w1/w2 are never null for true pairs, so the
      // matched set is identical. Plan-asserted in C4EntropySpec.
      .join(uni.select(F.col("w").as("__w1j"), F.col("c").as("__c1")),
        F.col("w1") <=> F.col("__w1j"))
      .join(uni.select(F.col("w").as("__w2j"), F.col("c").as("__c2")),
        F.col("w2") <=> F.col("__w2j"))
      .crossJoin(F.broadcast(nTot)).crossJoin(F.broadcast(bTot))
      .withColumn("pmi_micro", F.round(F.log(
          (F.col("n_pair").cast("double") * F.col("__n") * F.col("__n")) /
          (F.col("__b").cast("double") * F.col("__c1") * F.col("__c2")))
          * 1e6).cast("long"))
      .select("pair", "n_pair", "pmi_micro")
      .orderBy(F.desc("pmi_micro"), F.asc("pair")).limit(k)
  }

  /**
   * Fused unigram+bigram occurrence counts in ONE corpus tokenize+explode:
   * `(gram, cnt, is_pair)` where a gram with no space is a token
   * (`is_pair` false) and a gram with a space is an adjacent pair
   * (`"w1 w2"`, `is_pair` true). The classification is exact by
   * construction — [[tokens]] splits on single spaces, so a token can
   * never contain one, and [[ngrams]] joins with exactly one.
   *
   * [[pmiTopPairs]] consumes it lazily: its single aggregation subtree is
   * what lets ReuseExchange collapse every derived branch — per-kind
   * counts AND per-kind totals — onto one scan+shuffle (plan-asserted in
   * C4EntropySpec). The r14 form tokenized the corpus four times.
   * [[bigramModel]] fetches its model from the same table in one collect
   * (see its doc); its agreement with these counts is pinned in
   * BoilerplateTfidfSpec.
   *
   * Shape at 100 TB: one explode over tokens++bigrams (the array concat
   * evaluates the token split once — subexpression elimination), one
   * map-side-combinable count keyed by the gram string. The shuffle
   * carries one row per DISTINCT gram, never per occurrence.
   */
  private[llm] def gramCounts(df: DataFrame, textCol: String): DataFrame =
    df.select(F.explode(F.concat(tokens(F.col(textCol)),
        ngrams(F.col(textCol), 2))).as("gram"))
      .groupBy("gram").agg(F.count(F.lit(1)).as("cnt"),
        // deliberately an AGGREGATE over the key function, not a
        // projected key column: a plain `contains(gram, ' ')` filter
        // would be pushed below the aggregate INTO the explode branch,
        // splitting the one shared exchange back into per-kind corpus
        // scans (observed: 3 GenerateExec). An agg output cannot push
        // past the shuffle, so every consumer's filter stays above it
        // and ReuseExchange sees identical subtrees.
        F.max(F.col("gram").contains(" ")).as("is_pair"))

  /**
   * Within-document token-distribution Shannon entropy in integer
   * micro-nats: for token counts c_w over doc total n,
   * `ent_micro = -Σ_w round(c_w · ln(c_w / n) · 1e6)` — the per-term
   * quantize-then-sum convention of [[unigramModel]], so the result is an
   * exact integer, identical in any engine and any summation order (a
   * float entropy sum would drift by ulps across merge orders and break
   * exact cross-engine checks). Low entropy at a given length means a
   * degenerate/repetitive token distribution; alongside
   * [[ngramRepetition]] it is the standard lexical-diversity quality
   * signal. Tokens are single-space splits (corpus convention — empties
   * count, like [[tokenCount]]); `ent_micro / n_tokens / 1e6` is the
   * per-token entropy in nats, `exp` of it the within-doc perplexity.
   *
   * Output: idCol, `n_tokens`, `n_distinct`, `ent_micro`.
   *
   * Shape at 100 TB: explode → (doc, token) count (map-side combinable —
   * the shuffle carries one row per DISTINCT (doc, token), not per
   * occurrence) → per-doc totals (second map-side-combinable agg on the
   * doc key) → counts ⋈ totals equi-join on the doc key → final per-doc
   * sum, which reuses the join's hash partitioning. No window, no
   * collect, no broadcast, no driver state.
   */
  def tokenEntropy(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val counts = df
      .select(F.col(idCol).as("__te_id"),
        F.explode(tokens(F.col(textCol))).as("t"))
      .groupBy("__te_id", "t").agg(F.count(F.lit(1)).as("c"))
    val totals = counts.groupBy("__te_id")
      .agg(F.sum("c").as("n"), F.count(F.lit(1)).as("nd"))
    counts.join(totals, "__te_id")
      .withColumn("__term", F.round(F.col("c") *
          F.log(F.col("c").cast("double") / F.col("n").cast("double")) * 1e6)
        .cast("long"))
      .groupBy("__te_id")
      .agg(F.max("n").as("n_tokens"), F.max("nd").cast("long").as("n_distinct"),
        (-F.sum("__term")).as("ent_micro"))
      .select(F.col("__te_id").as(idCol), F.col("n_tokens"),
        F.col("n_distinct"), F.col("ent_micro"))
  }
}
