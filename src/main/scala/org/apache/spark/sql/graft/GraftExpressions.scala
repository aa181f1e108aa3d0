package org.apache.spark.sql.graft

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Column functions for the hot row-local kernels in `graft.Kernels`
 * (MinHash / SimHash sketching, set intersection, text scans, interval
 * bucketing). Every one runs inside whole-stage codegen: the generated Java
 * calls the static `graft.Kernels` method once per row, a monomorphic call
 * into a JIT-compiled primitive loop.
 *
 * The one rule for adding one: bind it with the `kernel` helper below, a
 * Spark `StaticInvoke` over the input columns and literal arguments. State
 * built once and shared by every row (a lookup set or map, a model's
 * arrays, a `Broadcast`) is a [[KernelState]] passed as an object literal
 * (`Literal(state, ObjectType(cls))`): generated code reaches an
 * object-typed literal through `addReferenceObj`, the way a hand-written
 * expression would, so no kernel needs an `Expression` class of its own.
 *
 * This file lives under `org.apache.spark.sql` only for `ExpressionUtils`
 * (Expression <-> Column bridging, `private[sql]` in Spark 4).
 */
object GraftColumns {
  private def col(e: Expression): Column = ExpressionUtils.column(e)
  private def ex(c: Column): Expression = ExpressionUtils.expression(c)

  // input types (element nullability is not matched) and result types
  private val Strings = ArrayType(StringType)
  private val Longs = ArrayType(LongType)
  private val Doubles = ArrayType(DoubleType)
  private val LongArray = ArrayType(LongType, containsNull = false)
  private val IntArray = ArrayType(IntegerType, containsNull = false)

  /**
   * `graft.Kernels.<name>(inputs..., consts...)` (or the same method of
   * `owner`) as a null-propagating `StaticInvoke`: null when any input is
   * null, otherwise the kernel's result typed `dataType`. `inputs` pairs
   * each column with the type it is implicitly cast to; `consts` become
   * literals: an `Int` / `Long` / `Boolean` is inlined into the generated
   * call, a [[KernelState]] is an object literal. The kernel method is
   * resolved by the argument classes when the expression is first
   * evaluated, so a constant or state of the wrong type fails only at run
   * time (GraftColumnsSpec runs every kernel). `returnNullable` is for
   * kernels that may return null themselves.
   */
  private def kernel(name: String, dataType: DataType,
                     inputs: Seq[(Column, AbstractDataType)], consts: Seq[Any] = Nil,
                     returnNullable: Boolean = false,
                     owner: Class[_] = graft.Kernels.getClass): Column = {
    val lits = consts.map {
      case state: KernelState => Literal(state, ObjectType(state.getClass))
      case c => Literal(c)
    }
    col(StaticInvoke(owner, dataType, name,
      inputs.map(i => ex(i._1)) ++ lits, inputs.map(_._2) ++ lits.map(_.dataType),
      returnNullable = returnNullable))
  }

  /** Sorted distinct xxhash64 fingerprints of word k-shingles of a token array. */
  def hashedShingles(tokens: Column, k: Int): Column = {
    require(k >= 1, s"shingle size must be >= 1, got $k")
    kernel("hashedShingles", LongArray, Seq(tokens -> Strings), Seq(k))
  }

  /** All (or distinct-sorted) 64-bit n-gram fingerprints; see Kernels.ngramHashes. */
  def ngramHashes(tokens: Column, n: Int, distinct: Boolean): Column = {
    require(n >= 1, s"n-gram size must be >= 1, got $n")
    kernel("ngramHashes", LongArray, Seq(tokens -> Strings), Seq(n, distinct))
  }

  /** Space-joined word n-grams in positional order; see Kernels.ngrams. */
  def ngrams(tokens: Column, n: Int): Column = {
    require(n >= 1, s"n-gram size must be >= 1, got $n")
    kernel("ngrams", ArrayType(StringType, containsNull = false),
      Seq(tokens -> Strings), Seq(n))
  }

  /** n-gram `(hash, chars)` structs in positional order: the multiset
    * [[ngramHashes]] fused with per-position n-gram char lengths; see
    * Kernels.ngramHashLens. */
  def ngramHashLens(tokens: Column, n: Int): Column = {
    require(n >= 1, s"n-gram size must be >= 1, got $n")
    kernel("ngramHashLens", ArrayType(NGramHashLens.elementSchema, containsNull = false),
      Seq(tokens -> Strings), Seq(n))
  }

  /** MinHash signature (array of `numHashes` longs) of a hashed-shingle array. */
  def minHashSig(hashedShingles: Column, numHashes: Int): Column = {
    require(numHashes >= 1, s"numHashes must be >= 1, got $numHashes")
    kernel("minHashSig", LongArray, Seq(hashedShingles -> Longs), Seq(numHashes))
  }

  /** |A ∩ B| of two ascending-sorted distinct long arrays. */
  def sortedIntersectSize(a: Column, b: Column): Column =
    kernel("sortedIntersectSize", IntegerType, Seq(a -> Longs, b -> Longs))

  /** 64-bit SimHash sketch of a token array. */
  def simHash64(tokens: Column): Column =
    kernel("simHash64", LongType, Seq(tokens -> Strings))

  /** Portable (SQL-mirrorable) two-lane SimHash sketch of a token array. */
  def simHashPortable(tokens: Column): Column =
    kernel("simHashPortable", LongType, Seq(tokens -> Strings))

  /** Interval bucket stamp for a long time column; null when outside the clock. */
  def intervalBucket(time: Column, clock: Broadcast[Array[Long]],
                     beginInclusive: Boolean, stampBegin: Boolean): Column =
    kernel("intervalBucket", LongType, Seq(time -> LongType),
      Seq(IntervalClock(clock), beginInclusive, stampBegin), returnNullable = true)

  /** Weighted OLS fit struct of `k` regressors plus intercept from the
    * Gram sums `sums` and row count `n`; see `graft.ts.agg.OLSAggregate.fit`
    * for the layout. */
  def olsFit(sums: Column, n: Column, k: Int): Column =
    kernel("fit", graft.ts.agg.OLSAggregate.outSchema,
      Seq(sums -> Doubles, n -> LongType), Seq(k), returnNullable = true,
      owner = graft.ts.agg.OLSAggregate.getClass)

  /** Media-header metadata struct `(n_bytes, format, width, height,
    * sample_rate, channels)` from one kernel call over the raw payload
    * bytes: BMP/PNG/GIF/WAV/WebP fixed offsets plus the bounded JPEG SOF
    * walk. One call per payload keeps the enclosing projection far under
    * the JVM's 64 KB generated-method limit, which the per-byte column
    * form it replaces exceeded for queries parsing several payloads. */
  def mediaMeta(bin: Column, jpegMaxPrefix: Int, jpegMaxSegments: Int): Column =
    kernel("mediaMeta", MediaMeta.schema, Seq(bin -> BinaryType),
      Seq(jpegMaxPrefix, jpegMaxSegments), returnNullable = true)

  /** Order-sensitive rolling hash of a token array — bit-identical to the
    * `aggregate(tokens, 0L, (acc, t) => xxhash64(acc, t))` fold. */
  def rollingTokenHash(tokens: Column): Column =
    kernel("rollingTokenHash", LongType, Seq(tokens -> Strings))

  /** Rolling polynomial hashes of every k-codepoint window of a text
    * column, positionally ordered — the candidate generator of the
    * exact-substring dedup tier; see Kernels.charWindowHashes. */
  def charWindowHashes(text: Column, k: Int): Column = {
    require(k >= 1, s"window size must be >= 1, got $k")
    kernel("charWindowHashes", LongArray, Seq(text -> StringType), Seq(k))
  }

  /** Context-window chunk structs `(start, n_tokens, chunk_text)` for
    * single-space-tokenized text, one offset-walk kernel call per row. */
  def chunkSpans(text: Column, chunkSize: Int, stride: Int): Column = {
    require(chunkSize >= 1, s"chunkSize must be >= 1, got $chunkSize")
    require(stride >= 1, s"stride must be >= 1, got $stride")
    kernel("chunkSpans", ArrayType(ChunkSpans.elementSchema, containsNull = false),
      Seq(text -> StringType), Seq(chunkSize, stride))
  }

  /** Single-pass token statistics struct `(n_tokens, n_unique, n_punct,
    * n_stop)` over single-space-tokenized text; `n_stop` counts hits in
    * `stopWords`. */
  def docTokenStats(text: Column, stopWords: Seq[String]): Column =
    kernel("docTokenStats", DocTokenStats.schema, Seq(text -> StringType),
      Seq(WordSet(stopWords)))

  /** BPE-pretokenizer segment count (TextStats.BpeTokenPattern) as one
    * char-class transition loop — same count as the regexp form, linear. */
  def bpeTokenCount(text: Column): Column =
    kernel("bpeCount", IntegerType, Seq(text -> StringType))

  /** Stopword-vote language id over `langWords` (label -> stopword list,
    * label order = tie preference; `cjkLabel` also scores CJK chars). */
  def stopwordLangId(text: Column, langWords: Seq[(String, Seq[String])],
                     cjkLabel: Option[String]): Column = {
    require(langWords.nonEmpty && langWords.size + cjkLabel.size <= 31,
      "need 1..31 languages")
    kernel("langIdLabel", StringType, Seq(text -> StringType),
      Seq(LangWords(langWords, cjkLabel)))
  }

  /** Heuristic registrable domain (single kernel call; host child
    * evaluated once per row). */
  def registrableDomainHeuristic(host: Column, labels: Seq[String]): Column =
    kernel("registrableDomainHeuristic", StringType, Seq(host -> StringType),
      Seq(WordSet(labels)))

  /** BPE-encoded symbol count under a rank-ordered merge list. */
  def bpeEncodeCount(text: Column, merges: Seq[(String, String)]): Column =
    kernel("bpeEncodeCount", IntegerType, Seq(text -> StringType), Seq(BpeMerges(merges)))

  /** Integer micro-nat unigram LM score against a (token, quantized
    * logprob) model; OOV tokens take `defaultLp`. */
  def unigramScore(text: Column, model: Seq[(String, Long)],
                   defaultLp: Long): Column =
    kernel("unigramScore", LongType, Seq(text -> StringType),
      Seq(LmTable(model), defaultLp))

  /** Integer micro-nat bigram LM score with stupid-backoff to the
    * unigram model; OOV w2 takes `defaultLp`. */
  def bigramScore(text: Column, biModel: Seq[(String, Long)],
                  uniModel: Seq[(String, Long)], backoffLp: Long,
                  defaultLp: Long): Column =
    kernel("bigramScore", LongType, Seq(text -> StringType),
      Seq(LmTable(biModel), LmTable(uniModel), backoffLp, defaultLp))

  /** Registrable domain under a caller-supplied public-suffix set
    * (longest listed label-boundary tail + 1 label). */
  def registrableDomainPsl(host: Column, suffixes: Seq[String]): Column = {
    require(suffixes.nonEmpty, "suffix set must be non-empty")
    kernel("registrableDomain", StringType, Seq(host -> StringType),
      Seq(WordSet(suffixes.map(_.toLowerCase(java.util.Locale.ROOT))),
        suffixes.map(_.count(_ == '.') + 1).max))
  }

  /** Fused PII scrub struct `(redacted, n_emails, n_phones, n_ips)`: the
    * staged email -> phone -> IPv4 redaction and the three per-stage match
    * counts that `Pii.counts` defines, in one kernel call of three
    * anchor-jumping scans instead of six regexp passes (3 regexp_count +
    * 3 regexp_replace). Semantics identical to the staged
    * `Pii.redact`/`Pii.counts` regexp columns. */
  def piiScrub(text: Column): Column =
    kernel("piiScrub", PiiScrub.schema, Seq(text -> StringType), returnNullable = true)

  /** WET-style markup-to-text extraction in one scan: drops script/style
    * blocks, strips tags to spaces, decodes the six standard entities and
    * collapses whitespace — replayable as a regexp_replace/replace chain
    * (see Kernels.stripMarkup). */
  def stripMarkup(text: Column): Column =
    kernel("stripMarkup", StringType, Seq(text -> StringType), returnNullable = true)

  /** CCNet-style ASCII text canonicalization in one scan: case fold, digit
    * fold, punctuation strip, whitespace collapse + trim — exactly the
    * translate/regexp_replace/trim chain Kernels.normalizeText documents. */
  def normalizeText(text: Column): Column =
    kernel("normalizeText", StringType, Seq(text -> StringType), returnNullable = true)

  /** Encoding-quality counters `(n_chars, n_replacement, n_control)`: code
    * points, U+FFFD replacement chars and disallowed control chars. */
  def encodingStats(text: Column): Column =
    kernel("encodingStats", EncodingStats.schema, Seq(text -> StringType),
      returnNullable = true)

  /** Gopher/MassiveText quality counters: words / alpha words / symbols /
    * lines / bullet lines / ellipsis lines in one scan, all integers so
    * threshold flags are bit-stable. */
  def gopherStats(text: Column): Column =
    kernel("gopherStats", GopherStats.schema, Seq(text -> StringType),
      returnNullable = true)

  /** Hashing-trick feature buckets of the whitespace tokens: one Int per
    * token, bucket = portableHash32(token) mod numBuckets — the Naive Bayes
    * trainer's explode input and the bucket function its SQL oracle replays. */
  def tokenBuckets(text: Column, numBuckets: Int): Column = {
    require(numBuckets >= 1, "numBuckets must be >= 1")
    kernel("tokenBuckets", IntArray, Seq(text -> StringType), Seq(numBuckets))
  }

  /** Flesch–Kincaid surface counters `(n_words, n_sentences, n_syllables)`:
    * sentence terminators floored at 1, vowel-group syllables floored at 1
    * per word, in one scan. */
  def fkStats(text: Column): Column =
    kernel("fkStats", FkStats.schema, Seq(text -> StringType), returnNullable = true)

  /** Count-min sketch update coordinates of a document's whitespace tokens:
    * `depth` packed Ints per token. Exploded and counted these ARE the
    * sketch table. */
  def cmsPairs(text: Column, depth: Int, width: Int): Column = {
    require(depth >= 1 && width >= 1, "depth and width must be >= 1")
    kernel("cmsPairs", IntArray, Seq(text -> StringType), Seq(depth, width))
  }

  /** The `depth` packed sketch coordinates of ONE token — the probe side
    * of [[cmsPairs]]. */
  def cmsTokenCoords(token: Column, depth: Int, width: Int): Column = {
    require(depth >= 1 && width >= 1, "depth and width must be >= 1")
    kernel("cmsTokenCoords", IntArray, Seq(token -> StringType), Seq(depth, width))
  }

  /** Hashed Naive Bayes label+score struct `(pred, lp_micro)`: the argmax
    * label (ties to the earliest; `labels` sorted) and its integer
    * micro-nat log-posterior under the Laplace-smoothed hashed-feature
    * model (see Kernels.nbScore). */
  def nbScore(text: Column, numBuckets: Int, labels: Seq[String],
              priors: Seq[Long], weights: Array[Long]): Column = {
    require(labels.nonEmpty && labels == labels.sorted,
      "labels must be non-empty and sorted (the tie-break order)")
    require(priors.length == labels.length, "one prior per label")
    require(weights.length == labels.length * numBuckets,
      "weights must be |labels| x numBuckets")
    kernel("nbScore", NbScore.schema, Seq(text -> StringType),
      Seq(NbTable(numBuckets, labels, priors, weights)), returnNullable = true)
  }

  /** Line/paragraph repetition counters: for each delimiter class (lines on
    * `\n`, paragraphs on `\n\n`), counts and code-point char sums of
    * non-empty units and of duplicate occurrences (an occurrence whose
    * identical unit appeared earlier in the doc). */
  def dupUnitStats(text: Column): Column =
    kernel("dupUnitStats", DupUnitStats.schema, Seq(text -> StringType),
      returnNullable = true)

  /** Distributed Bloom-filter build over xxhash64(key) values — Spark's
    * own runtime-filter aggregate (`BloomFilterAggregate`), exposed as a
    * Column: one fixed-size sketch comes back, no key ever leaves its
    * executor. `hashed` MUST be `xxhash64(key)` (seed 42) so probes via
    * [[bloomMightContain]] hash identically. */
  def bloomFilterAgg(hashed: Column, expectedItems: Long, numBits: Long): Column = {
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    col(BloomFilterAggregate(ex(hashed), Literal(expectedItems), Literal(numBits),
      0, 0).toAggregateExpression())
  }

  /** Membership probe against a serialized Bloom filter built by
    * [[bloomFilterAgg]]; `hashed` must be `xxhash64(key)` of the same key
    * expression. False positives at the configured fpp, never false
    * negatives. */
  def bloomMightContain(bloomBytes: Array[Byte], hashed: Column): Column = {
    import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
    col(BloomFilterMightContain(Literal(bloomBytes, BinaryType), ex(hashed)))
  }

  /** Σ aᵢ·bᵢ of two numeric arrays in double precision; null on a length
    * mismatch or a null element. */
  def dotProduct(a: Column, b: Column): Column =
    kernel("dotD", DoubleType, Seq(a -> Doubles, b -> Doubles), returnNullable = true)

  /** Cosine similarity of two numeric arrays; null on a length mismatch
    * or a null element. */
  def cosineSim(a: Column, b: Column): Column =
    kernel("cosineD", DoubleType, Seq(a -> Doubles, b -> Doubles), returnNullable = true)

  /** Nearest-centroid cell id (ties → lowest). */
  def centroidCell(vec: Column, centroids: Array[Double], dim: Int): Column =
    kernel("centroidCell", IntegerType, Seq(vec -> Doubles), Seq(FlatRows(centroids, dim)))

  /** Top-`nprobe` centroid cells by cosine (ties → highest first). */
  def centroidProbes(vec: Column, centroids: Array[Double], dim: Int,
                     nprobe: Int): Column =
    kernel("centroidProbes", IntArray, Seq(vec -> Doubles),
      Seq(FlatRows(centroids, dim), nprobe))

  /** All sign-LSH band values of a vector (flat row-major ±1 planes),
    * `planes.length / dim / rowsPerBand` longs in one kernel call. */
  def lshBands(vec: Column, planes: Array[Double], dim: Int,
               rowsPerBand: Int): Column = {
    require(planes.length % dim == 0 && (planes.length / dim) % rowsPerBand == 0,
      "planes must hold a whole number of bands of rowsPerBand planes")
    kernel("lshBands", LongArray, Seq(vec -> Doubles),
      Seq(FlatRows(planes, dim), rowsPerBand))
  }

  /**
   * Narrow partition-count reduction at the InternalRow layer: applies the
   * given coalescer to `queryExecution.toRdd` and rebuilds the DataFrame
   * via `internalCreateDataFrame` (private[sql] — the reason this lives in
   * the spark namespace), so no external-Row round trip is paid. Safe
   * because coalesce is pass-through: reused row buffers are never held.
   */
  def coalesceInternal(df: org.apache.spark.sql.DataFrame, numPartitions: Int,
                       coalescer: org.apache.spark.rdd.PartitionCoalescer): org.apache.spark.sql.DataFrame = {
    val rdd = df.queryExecution.toRdd
      .coalesce(numPartitions, shuffle = false, Some(coalescer))
    df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, df.schema)
  }
}

// Result schemas of the struct-valued kernels above.
object NGramHashLens {
  val elementSchema: StructType = StructType(Seq(
    StructField("h", LongType, nullable = false),
    StructField("ch", IntegerType, nullable = false)))
}

object MediaMeta {
  val schema: StructType = StructType(Seq(
    StructField("n_bytes", IntegerType, nullable = false),
    StructField("format", StringType, nullable = false),
    StructField("width", IntegerType, nullable = true),
    StructField("height", IntegerType, nullable = true),
    StructField("sample_rate", IntegerType, nullable = true),
    StructField("channels", IntegerType, nullable = true)))
}

object ChunkSpans {
  val elementSchema: StructType = StructType(Seq(
    StructField("start", IntegerType, nullable = false),
    StructField("n_tokens", IntegerType, nullable = false),
    StructField("chunk_text", StringType, nullable = false)))
}

object PiiScrub {
  val schema: StructType = StructType(Seq(
    StructField("redacted", StringType, nullable = false),
    StructField("n_emails", IntegerType, nullable = false),
    StructField("n_phones", IntegerType, nullable = false),
    StructField("n_ips", IntegerType, nullable = false)))
}

object EncodingStats {
  val schema: StructType = StructType(Seq(
    StructField("n_chars", IntegerType, nullable = false),
    StructField("n_replacement", IntegerType, nullable = false),
    StructField("n_control", IntegerType, nullable = false)))
}

object FkStats {
  val schema: StructType = StructType(Seq(
    StructField("n_words", IntegerType, nullable = false),
    StructField("n_sentences", IntegerType, nullable = false),
    StructField("n_syllables", LongType, nullable = false)))
}

object GopherStats {
  val schema: StructType = StructType(Seq(
    StructField("n_words", IntegerType, nullable = false),
    StructField("n_alpha_words", IntegerType, nullable = false),
    StructField("n_symbols", IntegerType, nullable = false),
    StructField("n_lines", IntegerType, nullable = false),
    StructField("n_bullet_lines", IntegerType, nullable = false),
    StructField("n_ellipsis_lines", IntegerType, nullable = false)))
}

object DupUnitStats {
  val schema: StructType = StructType(Seq(
    StructField("n_lines", LongType, nullable = false),
    StructField("n_dup_lines", LongType, nullable = false),
    StructField("line_chars", LongType, nullable = false),
    StructField("dup_line_chars", LongType, nullable = false),
    StructField("n_paras", LongType, nullable = false),
    StructField("n_dup_paras", LongType, nullable = false),
    StructField("para_chars", LongType, nullable = false),
    StructField("dup_para_chars", LongType, nullable = false)))
}

object DocTokenStats {
  val schema: StructType = StructType(Seq(
    StructField("n_tokens", IntegerType, nullable = false),
    StructField("n_unique", IntegerType, nullable = false),
    StructField("n_punct", IntegerType, nullable = false),
    StructField("n_stop", IntegerType, nullable = false)))
}

object NbScore {
  val schema: StructType = StructType(Seq(
    StructField("pred", StringType, nullable = false),
    StructField("lp_micro", LongType, nullable = false)))
}

/**
 * State a kernel call needs, built once on the driver when its column is
 * made and passed to the kernel as an object literal. Two states are equal
 * when their fields are, arrays compared by contents, so two calls built
 * separately over the same data stay one common subexpression (the
 * `TextStats` counts all read one `docTokenStats` call). A plan prints a
 * state's `toString`: its size, never its contents.
 */
abstract class KernelState extends Product with Serializable {
  private def fields: Seq[Any] = productIterator.map {
    case a: Array[_] => scala.collection.immutable.ArraySeq.unsafeWrapArray(a)
    case v => v
  }.toSeq
  override def equals(o: Any): Boolean = o match {
    case s: KernelState => s.getClass == getClass && s.fields == fields
    case _ => false
  }
  override def hashCode: Int = fields.hashCode
}

/** A word set, and its longest word's length. */
final case class WordSet(words: Seq[String]) extends KernelState {
  val set: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    words.foreach(s.add)
    s
  }
  val maxLen: Int = words.map(_.length).maxOption.getOrElse(0)
  override def toString: String = s"words(${words.size})"
}

/** Per-language stopword lists (label -> words, in tie order) and an
  * optional label scored by CJK chars, as `Kernels.langIdLabel` reads
  * them: one word -> language-bitmask map. */
final case class LangWords(langWords: Seq[(String, Seq[String])],
                           cjkLabel: Option[String]) extends KernelState {
  val labels: Array[UTF8String] =
    (langWords.map(_._1) ++ cjkLabel).map(UTF8String.fromString).toArray
  val wordMask: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer]()
    for (((_, words), i) <- langWords.zipWithIndex; w <- words) {
      val prev = m.get(w)
      m.put(w, Integer.valueOf((if (prev == null) 0 else prev.intValue()) | (1 << i)))
    }
    m
  }
  val maxWordLen: Int = langWords.flatMap(_._2).map(_.length).maxOption.getOrElse(0)
  val cjkIdx: Int = if (cjkLabel.isDefined) langWords.size else -1
  override def toString: String = s"langwords(${labels.length} labels)"
}

/** A rank-ordered BPE merge list, split into its left and right sides. */
final case class BpeMerges(merges: Seq[(String, String)]) extends KernelState {
  val lefts: Array[String] = merges.map(_._1).toArray
  val rights: Array[String] = merges.map(_._2).toArray
  override def toString: String = s"merges(${merges.size})"
}

/** A (token, quantized logprob) language model, hashed, and its longest
  * key's length. */
final case class LmTable(entries: Seq[(String, Long)]) extends KernelState {
  val lp: java.util.HashMap[String, java.lang.Long] = {
    val m = new java.util.HashMap[String, java.lang.Long]()
    entries.foreach { case (t, v) => m.put(t, java.lang.Long.valueOf(v)) }
    m
  }
  val maxLen: Int = entries.map(_._1.length).maxOption.getOrElse(0)
  override def toString: String = s"lm(${entries.size} entries)"
}

/** A hashed Naive Bayes model: sorted labels, one prior per label and the
  * row-major |labels| x numBuckets weight matrix. */
final case class NbTable(numBuckets: Int, labels: Seq[String], priors: Seq[Long],
                         weights: Array[Long]) extends KernelState {
  val labelArr: Array[UTF8String] = labels.map(UTF8String.fromString).toArray
  val priorArr: Array[Long] = priors.toArray
  override def toString: String = s"nb(${labels.size}x$numBuckets)"
}

/** Row-major rows of `dim` doubles each (centroids, LSH planes). */
final case class FlatRows(values: Array[Double], dim: Int) extends KernelState {
  override def toString: String = s"rows(${values.length} values, dim $dim)"
}

/** A broadcast interval clock (strictly increasing ticks). */
final case class IntervalClock(ticks: Broadcast[Array[Long]]) extends KernelState {
  override def toString: String = "clock"
}
