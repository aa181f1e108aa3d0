package org.apache.spark.sql.graft

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, ImplicitCastInputTypes, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._

/**
 * Column functions for the hot row-local kernels in `graft.Kernels`
 * (MinHash / SimHash sketching, set intersection, text scans, interval
 * bucketing). Every one runs inside whole-stage codegen: the generated Java
 * calls the static `graft.Kernels` method once per row, a monomorphic call
 * into a JIT-compiled primitive loop.
 *
 * The rule for adding one:
 *  - a STATELESS kernel — its arguments are the input columns plus `Int` /
 *    `Boolean` constants — goes through Spark's own `StaticInvoke` via
 *    the `kernel` helper below; it needs no class of its own;
 *  - a case class here only when the call needs state built once and shared
 *    by every row: a lookup map or array derived from constructor arguments
 *    (passed to generated code with `addReferenceObj`) or a `Broadcast`.
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
   * each column with the type it is implicitly cast to; `consts` (`Int` /
   * `Boolean`) become literals, inlined into the generated call. The kernel
   * method is resolved by the argument classes when the expression is first
   * evaluated, so a constant of the wrong type fails only at run time
   * (GraftColumnsSpec runs every kernel). `returnNullable` is for kernels
   * that may return null themselves.
   */
  private def kernel(name: String, dataType: DataType,
                     inputs: Seq[(Column, AbstractDataType)], consts: Seq[Any] = Nil,
                     returnNullable: Boolean = false,
                     owner: Class[_] = graft.Kernels.getClass): Column = {
    val lits = consts.map(Literal(_))
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
    col(IntervalBucket(ex(time), clock, beginInclusive, stampBegin))

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
    col(DocTokenStats(ex(text), stopWords))

  /** BPE-pretokenizer segment count (TextStats.BpeTokenPattern) as one
    * char-class transition loop — same count as the regexp form, linear. */
  def bpeTokenCount(text: Column): Column =
    kernel("bpeCount", IntegerType, Seq(text -> StringType))

  /** Stopword-vote language id over `langWords` (label -> stopword list,
    * label order = tie preference; `cjkLabel` also scores CJK chars). */
  def stopwordLangId(text: Column, langWords: Seq[(String, Seq[String])],
                     cjkLabel: Option[String]): Column =
    col(StopwordLangId(ex(text), langWords, cjkLabel))

  /** Heuristic registrable domain (single kernel call; host child
    * evaluated once per row). */
  def registrableDomainHeuristic(host: Column, labels: Seq[String]): Column =
    col(RegistrableDomainHeuristic(ex(host), labels))

  /** BPE-encoded symbol count under a rank-ordered merge list. */
  def bpeEncodeCount(text: Column, merges: Seq[(String, String)]): Column =
    col(BpeEncodeCount(ex(text), merges))

  /** Integer micro-nat unigram LM score against a (token, quantized
    * logprob) model; OOV tokens take `defaultLp`. */
  def unigramScore(text: Column, model: Seq[(String, Long)],
                   defaultLp: Long): Column =
    col(UnigramScore(ex(text), model, defaultLp))

  /** Integer micro-nat bigram LM score with stupid-backoff to the
    * unigram model; OOV w2 takes `defaultLp`. */
  def bigramScore(text: Column, biModel: Seq[(String, Long)],
                  uniModel: Seq[(String, Long)], backoffLp: Long,
                  defaultLp: Long): Column =
    col(BigramScore(ex(text), biModel, uniModel, backoffLp, defaultLp))

  /** Registrable domain under a caller-supplied public-suffix set
    * (longest listed label-boundary tail + 1 label). */
  def registrableDomainPsl(host: Column, suffixes: Seq[String]): Column =
    col(RegistrableDomainPsl(ex(host), suffixes))

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

  /** Hashed Naive Bayes label+score (see [[NbScore]]). */
  def nbScore(text: Column, numBuckets: Int, labels: Seq[String],
              priors: Seq[Long], weights: Array[Long]): Column =
    col(NbScore(ex(text), numBuckets, labels, priors, weights))

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
  /** Nearest-centroid cell id (ties → lowest). Centroids ride the closure. */
  def centroidCell(vec: Column, centroids: Array[Double], dim: Int): Column =
    col(CentroidCell(ex(vec), centroids, dim))

  /** Top-`nprobe` centroid cells by cosine (ties → highest first). */
  def centroidProbes(vec: Column, centroids: Array[Double], dim: Int,
                     nprobe: Int): Column =
    col(CentroidProbes(ex(vec), centroids, dim, nprobe))

  /** All sign-LSH band values of a vector (flat row-major ±1 planes),
    * `planes.length / dim / rowsPerBand` longs in one kernel call. */
  def lshBands(vec: Column, planes: Array[Double], dim: Int,
               rowsPerBand: Int): Column =
    col(LshBands(ex(vec), planes, dim, rowsPerBand))

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

// Result schemas of the struct-valued stateless kernels above.
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

case class CentroidCell(child: Expression, centroids: Array[Double], dim: Int)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(input: Any): Any =
    graft.Kernels.centroidCell(input.asInstanceOf[ArrayData], centroids, dim)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cents = ctx.addReferenceObj("centroids", centroids, "double[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.Kernels.centroidCell($c, $cents, $dim);")
  }
  override protected def withNewChildInternal(newChild: Expression): CentroidCell =
    copy(child = newChild)
}

case class CentroidProbes(child: Expression, centroids: Array[Double],
                          dim: Int, nprobe: Int)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(input: Any): Any =
    graft.Kernels.centroidProbes(input.asInstanceOf[ArrayData], centroids, dim, nprobe)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cents = ctx.addReferenceObj("centroids", centroids, "double[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.Kernels.centroidProbes($c, $cents, $dim, $nprobe);")
  }
  override protected def withNewChildInternal(newChild: Expression): CentroidProbes =
    copy(child = newChild)
}

case class LshBands(child: Expression, planes: Array[Double],
                    dim: Int, rowsPerBand: Int)
    extends UnaryExpression with ImplicitCastInputTypes {
  require(planes.length % dim == 0 && (planes.length / dim) % rowsPerBand == 0,
    "planes must hold a whole number of bands of rowsPerBand planes")
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(input: Any): Any =
    graft.Kernels.lshBands(input.asInstanceOf[ArrayData], planes, dim, rowsPerBand)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ps = ctx.addReferenceObj("planes", planes, "double[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.Kernels.lshBands($c, $ps, $dim, $rowsPerBand);")
  }
  override protected def withNewChildInternal(newChild: Expression): LshBands =
    copy(child = newChild)
}

/** Single-pass per-document token statistics (graft.Kernels.docTokenStats):
  * token / distinct-token / punctuation-char / stopword-hit counts in one
  * scan, replacing up to four split-array pipelines. The downstream double
  * arithmetic (ratios, quality score) stays in ordinary Column expressions
  * over these ints, so IEEE results are bit-identical to the column forms
  * the DuckDB oracle mirrors (parity pinned in TextOpsSpec). */
case class DocTokenStats(child: Expression, stopWords: Seq[String])
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = DocTokenStats.schema
  override def nullIntolerant: Boolean = true
  @transient private lazy val stopSet: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    stopWords.foreach(s.add)
    s
  }
  @transient private lazy val maxStopLen: Int =
    if (stopWords.isEmpty) 0 else stopWords.map(_.length).max
  override protected def nullSafeEval(input: Any): Any =
    graft.Kernels.docTokenStats(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], stopSet, maxStopLen)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val setRef = ctx.addReferenceObj("stopSet", stopSet, "java.util.HashSet")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.Kernels.docTokenStats($c, $setRef, $maxStopLen);")
  }
  override protected def withNewChildInternal(newChild: Expression): DocTokenStats =
    copy(child = newChild)
}

object DocTokenStats {
  val schema: StructType = StructType(Seq(
    StructField("n_tokens", IntegerType, nullable = false),
    StructField("n_unique", IntegerType, nullable = false),
    StructField("n_punct", IntegerType, nullable = false),
    StructField("n_stop", IntegerType, nullable = false)))
}

/**
 * Stopword-vote language ID in one kernel pass (graft.Kernels.langIdLabel):
 * per-language stopword hit counts via ONE word -> language-bitmask map
 * lookup per token (a word on several lists votes for all of them, like the
 * per-language `size(filter(split(text,' '), isin(...)))` columns this
 * replaces), CJK chars counted for `cjkLabel` in the same scan, ties to the
 * earliest label in `langWords` order (+ cjk last) — the semantics of
 * `greatest` + a when-chain in that order.
 */
case class StopwordLangId(child: Expression,
                          langWords: Seq[(String, Seq[String])],
                          cjkLabel: Option[String])
    extends UnaryExpression with ExpectsInputTypes {
  require(langWords.nonEmpty && langWords.size + cjkLabel.size <= 31,
    "need 1..31 languages")
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true

  @transient private lazy val labels: Array[org.apache.spark.unsafe.types.UTF8String] =
    (langWords.map(_._1) ++ cjkLabel).map(
      org.apache.spark.unsafe.types.UTF8String.fromString).toArray
  @transient private lazy val wordMask: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer]()
    for (((_, words), i) <- langWords.zipWithIndex; w <- words) {
      val prev = m.get(w)
      m.put(w, Integer.valueOf((if (prev == null) 0 else prev.intValue()) | (1 << i)))
    }
    m
  }
  @transient private lazy val maxWordLen: Int =
    langWords.flatMap(_._2).map(_.length).max
  private def cjkIdx: Int = if (cjkLabel.isDefined) langWords.size else -1

  override protected def nullSafeEval(input: Any): Any =
    graft.Kernels.langIdLabel(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      wordMask, labels, maxWordLen, cjkIdx)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mapRef = ctx.addReferenceObj("wordMask", wordMask, "java.util.HashMap")
    val labelsRef = ctx.addReferenceObj("labels", labels,
      "org.apache.spark.unsafe.types.UTF8String[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.Kernels.langIdLabel($c, $mapRef, $labelsRef, $maxWordLen, $cjkIdx);")
  }
  override protected def withNewChildInternal(newChild: Expression): StopwordLangId =
    copy(child = newChild)
}

/** BPE-encoded symbol count under a rank-ordered merge list (see
  * graft.Kernels.bpeEncodeCount); the merges ride the closure like the
  * LM models below. */
case class BpeEncodeCount(child: Expression, merges: Seq[(String, String)])
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  @transient private lazy val lefts: Array[String] = merges.map(_._1).toArray
  @transient private lazy val rights: Array[String] = merges.map(_._2).toArray
  override protected def nullSafeEval(input: Any): Any =
    graft.Kernels.bpeEncodeCount(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      lefts, rights)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lRef = ctx.addReferenceObj("bpeLefts", lefts, "java.lang.String[]")
    val rRef = ctx.addReferenceObj("bpeRights", rights, "java.lang.String[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.Kernels.bpeEncodeCount($c, $lRef, $rRef);")
  }
  override protected def withNewChildInternal(newChild: Expression): BpeEncodeCount =
    copy(child = newChild)
}

/** Integer micro-nat unigram LM score (graft.Kernels.unigramScore): one
  * token walk per row against a hashed (token -> quantized logprob)
  * model; OOV tokens take `defaultLp`. */
case class UnigramScore(child: Expression, model: Seq[(String, Long)],
                        defaultLp: Long)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  @transient private lazy val lpMap: java.util.HashMap[String, java.lang.Long] = {
    val m = new java.util.HashMap[String, java.lang.Long]()
    model.foreach { case (t, v) => m.put(t, java.lang.Long.valueOf(v)) }
    m
  }
  @transient private lazy val maxTokenLen: Int =
    if (model.isEmpty) 0 else model.map(_._1.length).max
  override protected def nullSafeEval(input: Any): Any =
    graft.Kernels.unigramScore(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      lpMap, defaultLp, maxTokenLen)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mapRef = ctx.addReferenceObj("lpMap", lpMap, "java.util.HashMap")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.Kernels.unigramScore($c, $mapRef, ${defaultLp}L, $maxTokenLen);")
  }
  override protected def withNewChildInternal(newChild: Expression): UnigramScore =
    copy(child = newChild)
}

/** Integer micro-nat bigram LM score with stupid-backoff
  * (graft.Kernels.bigramScore): adjacent-pair lookups against a hashed
  * ("w1 w2" -> quantized conditional logprob) model, backing off to
  * `backoffLp` + the unigram model (or `defaultLp` for OOV). */
case class BigramScore(child: Expression, biModel: Seq[(String, Long)],
                       uniModel: Seq[(String, Long)],
                       backoffLp: Long, defaultLp: Long)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  @transient private lazy val biMap: java.util.HashMap[String, java.lang.Long] = {
    val m = new java.util.HashMap[String, java.lang.Long]()
    biModel.foreach { case (t, v) => m.put(t, java.lang.Long.valueOf(v)) }
    m
  }
  @transient private lazy val uniMap: java.util.HashMap[String, java.lang.Long] = {
    val m = new java.util.HashMap[String, java.lang.Long]()
    uniModel.foreach { case (t, v) => m.put(t, java.lang.Long.valueOf(v)) }
    m
  }
  @transient private lazy val maxUniLen: Int =
    if (uniModel.isEmpty) 0 else uniModel.map(_._1.length).max
  @transient private lazy val maxBiLen: Int =
    if (biModel.isEmpty) 0 else biModel.map(_._1.length).max
  override protected def nullSafeEval(input: Any): Any =
    graft.Kernels.bigramScore(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      biMap, uniMap, backoffLp, defaultLp, maxUniLen, maxBiLen)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val biRef = ctx.addReferenceObj("biMap", biMap, "java.util.HashMap")
    val uniRef = ctx.addReferenceObj("uniMap", uniMap, "java.util.HashMap")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.Kernels.bigramScore($c, $biRef, $uniRef, " +
        s"${backoffLp}L, ${defaultLp}L, $maxUniLen, $maxBiLen);")
  }
  override protected def withNewChildInternal(newChild: Expression): BigramScore =
    copy(child = newChild)
}

/** Heuristic registrable domain (last 2 labels, or 3 under a registry
  * second-level label) — one kernel call per row, so the host child is
  * evaluated once (graft.Kernels.registrableDomainHeuristic). */
case class RegistrableDomainHeuristic(child: Expression, labels: Seq[String])
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  @transient private lazy val labelSet: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    labels.foreach(s.add)
    s
  }
  override protected def nullSafeEval(input: Any): Any =
    graft.Kernels.registrableDomainHeuristic(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], labelSet)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val setRef = ctx.addReferenceObj("labelSet", labelSet, "java.util.HashSet")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.Kernels.registrableDomainHeuristic($c, $setRef);")
  }
  override protected def withNewChildInternal(newChild: Expression): RegistrableDomainHeuristic =
    copy(child = newChild)
}

/** Registrable domain (eTLD+1) under a caller-supplied public-suffix set —
  * one right-to-left label walk per row against a hashed suffix set
  * (graft.Kernels.registrableDomain); lookups bounded by the deepest
  * listed suffix. */
case class RegistrableDomainPsl(child: Expression, suffixes: Seq[String])
    extends UnaryExpression with ExpectsInputTypes {
  require(suffixes.nonEmpty, "suffix set must be non-empty")
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  @transient private lazy val sufSet: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    suffixes.foreach(x => s.add(x.toLowerCase(java.util.Locale.ROOT)))
    s
  }
  @transient private lazy val maxLabels: Int =
    suffixes.map(_.count(_ == '.') + 1).max
  override protected def nullSafeEval(input: Any): Any =
    graft.Kernels.registrableDomain(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], sufSet, maxLabels)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val setRef = ctx.addReferenceObj("sufSet", sufSet, "java.util.HashSet")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.Kernels.registrableDomain($c, $setRef, $maxLabels);")
  }
  override protected def withNewChildInternal(newChild: Expression): RegistrableDomainPsl =
    copy(child = newChild)
}

/** Hashed multinomial Naive Bayes scorer (graft.Kernels.nbScore): argmax
  * label + its integer micro-nat log-posterior under a Laplace-smoothed
  * hashed-feature model. The (|labels| × numBuckets) weight matrix and
  * priors ride the closure as model parameters, like the LM scorers. */
case class NbScore(child: Expression, numBuckets: Int, labels: Seq[String],
                   priors: Seq[Long], weights: Array[Long])
    extends UnaryExpression with ExpectsInputTypes {
  require(labels.nonEmpty && labels == labels.sorted,
    "labels must be non-empty and sorted (the tie-break order)")
  require(priors.length == labels.length, "one prior per label")
  require(weights.length == labels.length * numBuckets,
    "weights must be |labels| x numBuckets")
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = NbScore.schema
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  @transient private lazy val labelArr: Array[org.apache.spark.unsafe.types.UTF8String] =
    labels.map(org.apache.spark.unsafe.types.UTF8String.fromString).toArray
  @transient private lazy val priorArr: Array[Long] = priors.toArray
  override protected def nullSafeEval(input: Any): Any =
    graft.Kernels.nbScore(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      numBuckets, labelArr, priorArr, weights)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lRef = ctx.addReferenceObj("nbLabels", labelArr,
      "org.apache.spark.unsafe.types.UTF8String[]")
    val pRef = ctx.addReferenceObj("nbPriors", priorArr, "long[]")
    val wRef = ctx.addReferenceObj("nbWeights", weights, "long[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.Kernels.nbScore($c, $numBuckets, $lRef, $pRef, $wRef);")
  }
  override protected def withNewChildInternal(newChild: Expression): NbScore =
    copy(child = newChild)
}

object NbScore {
  val schema: StructType = StructType(Seq(
    StructField("pred", StringType, nullable = false),
    StructField("lp_micro", LongType, nullable = false)))
}

/**
 * Stamps each time with its interval's begin/end tick per the
 * inclusion/rounding matrix; null for rows outside every interval. The
 * clock rides a `Broadcast` (interval metadata, one copy per executor) and
 * the search is an O(log m) branch-free-ish binary search in generated code.
 */
case class IntervalBucket(child: Expression, clock: Broadcast[Array[Long]],
                          beginInclusive: Boolean, stampBegin: Boolean)
    extends UnaryExpression with ImplicitCastInputTypes {
  // ImplicitCastInputTypes (not just ExpectsInputTypes): an int/short time
  // column gets an implicit cast inserted, like the ScalaUDF path this
  // expression replaced, instead of failing analysis.
  override def inputTypes: Seq[AbstractDataType] = Seq(LongType)
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override protected def nullSafeEval(input: Any): Any = {
    val r = graft.Kernels.intervalBucket(
      clock.value, input.asInstanceOf[Long], beginInclusive, stampBegin)
    if (r == graft.Kernels.NoBucket) null else r
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bcName = ctx.addReferenceObj("clockBc", clock, classOf[Broadcast[_]].getName)
    val b = ctx.freshName("graftBucket")
    nullSafeCodeGen(ctx, ev, c => s"""
      long $b = graft.Kernels.intervalBucket(
        (long[]) $bcName.value(), $c, $beginInclusive, $stampBegin);
      if ($b == ${graft.Kernels.NoBucket}L) { ${ev.isNull} = true; }
      else { ${ev.value} = $b; }
    """)
  }
  override protected def withNewChildInternal(newChild: Expression): IntervalBucket =
    copy(child = newChild)
}
