package org.apache.spark.sql.graft

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._

/**
 * Custom codegen'd Catalyst expressions for the hot row-local kernels
 * (MinHash / SimHash sketching, set intersection, interval bucketing).
 * Each participates in whole-stage codegen — the generated Java calls the
 * corresponding `graft.Kernels` static method, so the per-row work is one
 * monomorphic call into a JIT-compiled primitive loop instead of the
 * interpreted higher-order-function fold it replaces. Pattern follows the
 * reference's codegen'd time-cast expressions
 * (/root/reference/src/main/scala/org/apache/spark/sql/TimestampCast.scala:68-84).
 *
 * This file lives under `org.apache.spark.sql` only for `ExpressionUtils`
 * (Expression <-> Column bridging, `private[sql]` in Spark 4).
 */
object GraftColumns {
  private def col(e: Expression): Column = ExpressionUtils.column(e)
  private def ex(c: Column): Expression = ExpressionUtils.expression(c)

  /** Sorted distinct xxhash64 fingerprints of word k-shingles of a token array. */
  def hashedShingles(tokens: Column, k: Int): Column = col(HashedShingles(ex(tokens), k))

  /** All (or distinct-sorted) 64-bit n-gram fingerprints; see Kernels.ngramHashes. */
  def ngramHashes(tokens: Column, n: Int, distinct: Boolean): Column =
    col(NGramHashes(ex(tokens), n, distinct))

  /** n-gram `(hash, chars)` structs in positional order; see
    * Kernels.ngramHashLens. */
  def ngramHashLens(tokens: Column, n: Int): Column =
    col(NGramHashLens(ex(tokens), n))

  /** MinHash signature (array of `numHashes` longs) of a hashed-shingle array. */
  def minHashSig(hashedShingles: Column, numHashes: Int): Column =
    col(MinHashSignature(ex(hashedShingles), numHashes))

  /** |A ∩ B| of two ascending-sorted distinct long arrays. */
  def sortedIntersectSize(a: Column, b: Column): Column =
    col(SortedIntersectSize(ex(a), ex(b)))

  /** 64-bit SimHash sketch of a token array. */
  def simHash64(tokens: Column): Column = col(SimHash64(ex(tokens)))

  /** Portable (SQL-mirrorable) two-lane SimHash sketch of a token array. */
  def simHashPortable(tokens: Column): Column = col(SimHashPortable(ex(tokens)))

  /** Interval bucket stamp for a long time column; null when outside the clock. */
  def intervalBucket(time: Column, clock: Broadcast[Array[Long]],
                     beginInclusive: Boolean, stampBegin: Boolean): Column =
    col(IntervalBucket(ex(time), clock, beginInclusive, stampBegin))

  /** Media-header metadata struct `(n_bytes, format, width, height,
    * sample_rate, channels)` parsed from the payload's leading bytes. */
  def mediaMeta(bin: Column, jpegMaxPrefix: Int, jpegMaxSegments: Int): Column =
    col(MediaMeta(ex(bin), jpegMaxPrefix, jpegMaxSegments))

  /** Order-sensitive rolling hash of a token array — bit-identical to the
    * `aggregate(tokens, 0L, (acc, t) => xxhash64(acc, t))` fold. */
  def rollingTokenHash(tokens: Column): Column = col(RollingTokenHash(ex(tokens)))

  /** Rolling polynomial hashes of every k-codepoint window of a text
    * column, positionally ordered; see Kernels.charWindowHashes. */
  def charWindowHashes(text: Column, k: Int): Column =
    col(CharWindowHashes(ex(text), k))

  /** Context-window chunk structs `(start, n_tokens, chunk_text)` for
    * single-space-tokenized text, one offset-walk kernel call per row. */
  def chunkSpans(text: Column, chunkSize: Int, stride: Int): Column =
    col(ChunkSpans(ex(text), chunkSize, stride))

  /** Single-pass token statistics struct `(n_tokens, n_unique, n_punct,
    * n_stop)` over single-space-tokenized text; `n_stop` counts hits in
    * `stopWords`. */
  def docTokenStats(text: Column, stopWords: Seq[String]): Column =
    col(DocTokenStats(ex(text), stopWords))

  /** BPE-pretokenizer segment count (TextStats.BpeTokenPattern) as one
    * char-class transition loop — same count as the regexp form, linear. */
  def bpeTokenCount(text: Column): Column = col(BpeTokenCountExpr(ex(text)))

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

  /** Fused PII scrub struct `(redacted, n_emails, n_phones, n_ips)` —
    * staged email/phone/IPv4 redaction + per-stage counts in one kernel
    * call; semantics identical to the staged `Pii.redact`/`Pii.counts`
    * regexp columns it accelerates. */
  def piiScrub(text: Column): Column = col(PiiScrub(ex(text)))

  /** See [[MarkupStrip]]. */
  def stripMarkup(text: Column): Column = col(MarkupStrip(ex(text)))

  /** See [[NormalizeText]]. */
  def normalizeText(text: Column): Column = col(NormalizeText(ex(text)))

  /** See [[EncodingStats]]. */
  def encodingStats(text: Column): Column = col(EncodingStats(ex(text)))

  /** See [[GopherStats]]. */
  def gopherStats(text: Column): Column = col(GopherStats(ex(text)))

  /** Per-token hashing-trick feature buckets (see [[TokenBuckets]]). */
  def tokenBuckets(text: Column, numBuckets: Int): Column =
    col(TokenBuckets(ex(text), numBuckets))

  /** Flesch–Kincaid surface counters (see [[FkStats]]). */
  def fkStats(text: Column): Column = col(FkStats(ex(text)))

  /** Count-min sketch update coordinates per token (see [[CmsPairs]]). */
  def cmsPairs(text: Column, depth: Int, width: Int): Column =
    col(CmsPairs(ex(text), depth, width))

  /** Sketch coordinates of one token (see [[CmsTokenCoords]]). */
  def cmsTokenCoords(token: Column, depth: Int, width: Int): Column =
    col(CmsTokenCoords(ex(token), depth, width))

  /** Hashed Naive Bayes label+score (see [[NbScore]]). */
  def nbScore(text: Column, numBuckets: Int, labels: Seq[String],
              priors: Seq[Long], weights: Array[Long]): Column =
    col(NbScore(ex(text), numBuckets, labels, priors, weights))

  /** See [[DupUnitStats]]. */
  def dupUnitStats(text: Column): Column = col(DupUnitStats(ex(text)))

  /** Distributed Bloom-filter build over xxhash64(key) values — Spark's
    * own runtime-filter aggregate (`BloomFilterAggregate`), exposed as a
    * Column: one fixed-size sketch comes back, no key ever leaves its
    * executor. `hashed` MUST be `xxhash64(key)` (seed 42) so probes via
    * [[bloomMightContain]] hash identically. */
  def bloomFilterAgg(hashed: Column, expectedItems: Long, numBits: Long): Column = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    col(BloomFilterAggregate(ex(hashed), Literal(expectedItems), Literal(numBits),
      0, 0).toAggregateExpression())
  }

  /** Membership probe against a serialized Bloom filter built by
    * [[bloomFilterAgg]]; `hashed` must be `xxhash64(key)` of the same key
    * expression. False positives at the configured fpp, never false
    * negatives. */
  def bloomMightContain(bloomBytes: Array[Byte], hashed: Column): Column = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    col(BloomFilterMightContain(Literal(bloomBytes, BinaryType), ex(hashed)))
  }

  /** Σ aᵢ·bᵢ of two numeric arrays in double precision. */
  def dotProduct(a: Column, b: Column): Column = col(DotProductExpr(ex(a), ex(b)))

  /** Cosine similarity of two numeric arrays. */
  def cosineSim(a: Column, b: Column): Column = col(CosineSim(ex(a), ex(b)))

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

case class HashedShingles(child: Expression, k: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(k >= 1, s"shingle size must be >= 1, got $k")
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(input: Any): Any =
    graft.Kernels.hashedShingles(input.asInstanceOf[ArrayData], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = graft.Kernels.hashedShingles($c, $k);")
  override protected def withNewChildInternal(newChild: Expression): HashedShingles =
    copy(child = newChild)
}

case class NGramHashes(child: Expression, n: Int, distinct: Boolean)
    extends UnaryExpression with ExpectsInputTypes {
  require(n >= 1, s"n-gram size must be >= 1, got $n")
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(input: Any): Any =
    graft.Kernels.ngramHashes(input.asInstanceOf[ArrayData], n, distinct)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = graft.Kernels.ngramHashes($c, $n, $distinct);")
  override protected def withNewChildInternal(newChild: Expression): NGramHashes =
    copy(child = newChild)
}

/** [[NGramHashes]] (multiset form) fused with per-position n-gram char
  * lengths — `(h, ch)` structs, see graft.Kernels.ngramHashLens. */
case class NGramHashLens(child: Expression, n: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(n >= 1, s"n-gram size must be >= 1, got $n")
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(NGramHashLens.elementSchema,
    containsNull = false)
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(input: Any): Any =
    graft.Kernels.ngramHashLens(input.asInstanceOf[ArrayData], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = graft.Kernels.ngramHashLens($c, $n);")
  override protected def withNewChildInternal(newChild: Expression): NGramHashLens =
    copy(child = newChild)
}

object NGramHashLens {
  val elementSchema: StructType = StructType(Seq(
    StructField("h", LongType, nullable = false),
    StructField("ch", IntegerType, nullable = false)))
}

case class MinHashSignature(child: Expression, numHashes: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(numHashes >= 1, s"numHashes must be >= 1, got $numHashes")
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(input: Any): Any =
    graft.Kernels.minHashSig(input.asInstanceOf[ArrayData], numHashes)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = graft.Kernels.minHashSig($c, $numHashes);")
  override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
    copy(child = newChild)
}

case class SortedIntersectSize(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(a: Any, b: Any): Any =
    graft.Kernels.sortedIntersectSize(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.Kernels.sortedIntersectSize($a, $b);")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectSize =
    copy(left = newLeft, right = newRight)
}

case class SimHash64(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(input: Any): Any =
    graft.Kernels.simHash64(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = graft.Kernels.simHash64($c);")
  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

case class SimHashPortable(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(input: Any): Any =
    graft.Kernels.simHashPortable(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = graft.Kernels.simHashPortable($c);")
  override protected def withNewChildInternal(newChild: Expression): SimHashPortable =
    copy(child = newChild)
}

case class DotProductExpr(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(a: Any, b: Any): Any =
    graft.Kernels.dotD(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      java.lang.Double r = graft.Kernels.dotD($a, $b);
      if (r == null) { ${ev.isNull} = true; } else { ${ev.value} = r.doubleValue(); }
    """)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductExpr =
    copy(left = newLeft, right = newRight)
}

case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(a: Any, b: Any): Any =
    graft.Kernels.cosineD(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      java.lang.Double r = graft.Kernels.cosineD($a, $b);
      if (r == null) { ${ev.isNull} = true; } else { ${ev.value} = r.doubleValue(); }
    """)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)
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

/**
 * Media-header metadata struct from one kernel call over the raw payload
 * bytes (graft.Kernels.mediaMeta): BMP/PNG/GIF/WAV/WebP fixed offsets plus
 * the bounded JPEG SOF walk. One expression node per payload keeps the
 * enclosing projection far under the JVM's 64 KB generated-method limit —
 * the per-byte column-expression formulation it replaces disabled
 * whole-stage codegen for any query parsing several payloads at once.
 */
case class MediaMeta(child: Expression, jpegMaxPrefix: Int, jpegMaxSegments: Int)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = MediaMeta.schema
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(input: Any): Any =
    graft.Kernels.mediaMeta(
      input.asInstanceOf[Array[Byte]], jpegMaxPrefix, jpegMaxSegments)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.Kernels.mediaMeta($c, $jpegMaxPrefix, $jpegMaxSegments);")
  override protected def withNewChildInternal(newChild: Expression): MediaMeta =
    copy(child = newChild)
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

/** Context-window chunk structs from one offset-walk kernel call
  * (graft.Kernels.chunkSpans): replaces a transform+slice+array_join tree
  * that re-walked the token array and allocated a joined string per chunk.
  * TextOpsSpec pins parity against the higher-order-function form. */
case class ChunkSpans(child: Expression, chunkSize: Int, stride: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(chunkSize >= 1, s"chunkSize must be >= 1, got $chunkSize")
  require(stride >= 1, s"stride must be >= 1, got $stride")
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(ChunkSpans.elementSchema, containsNull = false)
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(input: Any): Any =
    graft.Kernels.chunkSpans(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], chunkSize, stride)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.Kernels.chunkSpans($c, $chunkSize, $stride);")
  override protected def withNewChildInternal(newChild: Expression): ChunkSpans =
    copy(child = newChild)
}

object ChunkSpans {
  val elementSchema: StructType = StructType(Seq(
    StructField("start", IntegerType, nullable = false),
    StructField("n_tokens", IntegerType, nullable = false),
    StructField("chunk_text", StringType, nullable = false)))
}

/** Rolling (order-sensitive) token-chain hash: one primitive XXH64 loop per
  * row, bit-identical to the interpreted `aggregate`+`xxhash64` fold it
  * replaces (TextOpsSpec pins value equality against the fold form). */
case class RollingTokenHash(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(input: Any): Any =
    graft.Kernels.rollingTokenHash(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = graft.Kernels.rollingTokenHash($c);")
  override protected def withNewChildInternal(newChild: Expression): RollingTokenHash =
    copy(child = newChild)
}

/** Rolling polynomial hashes of every k-codepoint window — the candidate
  * generator of the exact-substring dedup tier; one primitive loop per
  * row, see graft.Kernels.charWindowHashes. */
case class CharWindowHashes(child: Expression, k: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(k >= 1, s"window size must be >= 1, got $k")
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(input: Any): Any =
    graft.Kernels.charWindowHashes(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.Kernels.charWindowHashes($c, $k);")
  override protected def withNewChildInternal(newChild: Expression): CharWindowHashes =
    copy(child = newChild)
}

/** BPE-pretokenizer segment count: one transition loop over char classes,
  * exactly the matches of `[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]` (TextStats
  * pins kernel == regexp_count parity in its spec). */
case class BpeTokenCountExpr(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(input: Any): Any =
    graft.Kernels.bpeCount(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = graft.Kernels.bpeCount($c);")
  override protected def withNewChildInternal(newChild: Expression): BpeTokenCountExpr =
    copy(child = newChild)
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

/**
 * Fused PII scrub (graft.Kernels.piiScrub): one kernel call computes the
 * staged email -> phone -> IPv4 redaction AND the three per-stage match
 * counts that `Pii.counts` defines, replacing six regexp passes (3
 * regexp_count + 3 regexp_replace) with three anchor-jumping scans. At
 * 100 TB, PII scrubbing touches every byte of every document — halving the
 * pass count and removing the regex engine's per-position prefix scans is
 * the difference between linear and superlinear cost in token run length.
 */
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

case class PiiScrub(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = PiiScrub.schema
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(input: Any): Any =
    graft.Kernels.piiScrub(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = graft.Kernels.piiScrub($c);")
  override protected def withNewChildInternal(newChild: Expression): PiiScrub =
    copy(child = newChild)
}

object PiiScrub {
  val schema: StructType = StructType(Seq(
    StructField("redacted", StringType, nullable = false),
    StructField("n_emails", IntegerType, nullable = false),
    StructField("n_phones", IntegerType, nullable = false),
    StructField("n_ips", IntegerType, nullable = false)))
}

/** CCNet-style ASCII text canonicalization (graft.Kernels.normalizeText):
  * case fold, digit fold, punctuation strip, whitespace collapse + trim in
  * one scan — semantics exactly the translate/regexp_replace/trim chain
  * the kernel doc pins. */
case class NormalizeText(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(input: Any): Any =
    graft.Kernels.normalizeText(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = graft.Kernels.normalizeText($c);")
  override protected def withNewChildInternal(newChild: Expression): NormalizeText =
    copy(child = newChild)
}

/** WET-style markup-to-text extraction (graft.Kernels.stripMarkup): one
  * scan dropping script/style blocks, stripping tags to spaces, decoding
  * the six standard entities, and collapsing whitespace — semantics
  * replayable as a regexp_replace/replace chain (see the kernel doc). */
case class MarkupStrip(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(input: Any): Any =
    graft.Kernels.stripMarkup(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = graft.Kernels.stripMarkup($c);")
  override protected def withNewChildInternal(newChild: Expression): MarkupStrip =
    copy(child = newChild)
}

/** Encoding-quality counters (graft.Kernels.encodingStats): code points,
  * U+FFFD replacement chars, and disallowed control chars in one scan. */
case class EncodingStats(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = EncodingStats.schema
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(input: Any): Any =
    graft.Kernels.encodingStats(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = graft.Kernels.encodingStats($c);")
  override protected def withNewChildInternal(newChild: Expression): EncodingStats =
    copy(child = newChild)
}

object EncodingStats {
  val schema: StructType = StructType(Seq(
    StructField("n_chars", IntegerType, nullable = false),
    StructField("n_replacement", IntegerType, nullable = false),
    StructField("n_control", IntegerType, nullable = false)))
}

/** Hashing-trick feature buckets of the whitespace tokens
  * (graft.Kernels.tokenBuckets): one Int per token, bucket =
  * portableHash32(token) mod numBuckets — the Naive Bayes trainer's
  * explode input and the exact bucket function its SQL oracle replays. */
case class TokenBuckets(child: Expression, numBuckets: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(numBuckets >= 1, "numBuckets must be >= 1")
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(input: Any): Any =
    graft.Kernels.tokenBuckets(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], numBuckets)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.Kernels.tokenBuckets($c, $numBuckets);")
  override protected def withNewChildInternal(newChild: Expression): TokenBuckets =
    copy(child = newChild)
}

/** Flesch–Kincaid surface counters (graft.Kernels.fkStats): words,
  * sentence terminators (floored at 1), vowel-group syllables (floored at
  * 1 per word) in one scan. */
case class FkStats(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = FkStats.schema
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(input: Any): Any =
    graft.Kernels.fkStats(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = graft.Kernels.fkStats($c);")
  override protected def withNewChildInternal(newChild: Expression): FkStats =
    copy(child = newChild)
}

object FkStats {
  val schema: StructType = StructType(Seq(
    StructField("n_words", IntegerType, nullable = false),
    StructField("n_sentences", IntegerType, nullable = false),
    StructField("n_syllables", LongType, nullable = false)))
}

/** Count-min sketch update coordinates of a document's whitespace tokens
  * (graft.Kernels.cmsPairs): depth packed Ints per token. Exploded and
  * counted these ARE the sketch table. */
case class CmsPairs(child: Expression, depth: Int, width: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(depth >= 1 && width >= 1, "depth and width must be >= 1")
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(input: Any): Any =
    graft.Kernels.cmsPairs(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], depth, width)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.Kernels.cmsPairs($c, $depth, $width);")
  override protected def withNewChildInternal(newChild: Expression): CmsPairs =
    copy(child = newChild)
}

/** The depth packed sketch coordinates of ONE token — the probe side of
  * [[CmsPairs]] (graft.Kernels.cmsTokenCoords). */
case class CmsTokenCoords(child: Expression, depth: Int, width: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(depth >= 1 && width >= 1, "depth and width must be >= 1")
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(input: Any): Any =
    graft.Kernels.cmsTokenCoords(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], depth, width)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.Kernels.cmsTokenCoords($c, $depth, $width);")
  override protected def withNewChildInternal(newChild: Expression): CmsTokenCoords =
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

/** Gopher/MassiveText quality counters (graft.Kernels.gopherStats):
  * words / alpha words / symbols / lines / bullet lines / ellipsis lines
  * in one scan, all integers so threshold flags are bit-stable. */
case class GopherStats(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = GopherStats.schema
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(input: Any): Any =
    graft.Kernels.gopherStats(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = graft.Kernels.gopherStats($c);")
  override protected def withNewChildInternal(newChild: Expression): GopherStats =
    copy(child = newChild)
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

/** Line/paragraph repetition counters (graft.Kernels.dupUnitStats): for
  * each delimiter class (lines on `\n`, paragraphs on `\n\n`), counts and
  * code-point char sums of non-empty units and of duplicate occurrences
  * (an occurrence whose identical unit appeared earlier in the doc). */
case class DupUnitStats(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = DupUnitStats.schema
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(input: Any): Any =
    graft.Kernels.dupUnitStats(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = graft.Kernels.dupUnitStats($c);")
  override protected def withNewChildInternal(newChild: Expression): DupUnitStats =
    copy(child = newChild)
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
