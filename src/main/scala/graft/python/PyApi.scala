package graft.python

import java.util.{List => JList}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.{functions => F}
import graft.ts._

/**
 * Java/py4j-friendly facade over the Scala API for the Python binding
 * (≙ the reference's py4j entry points used by python/ts/flint/java.py):
 * no default arguments, no Scala `Option`/`Seq`/tuples in signatures —
 * `null`/empty strings mean "absent", `java.util.List` carries sequences.
 * The Python package calls ONLY this object, so the Scala API can evolve
 * without breaking py4j call sites.
 */
object PyApi {

  private def seq(l: JList[String]): Seq[String] =
    if (l == null) Seq.empty else l.asScala.toSeq
  private def opt(s: String): Option[String] = Option(s).filter(_.nonEmpty)

  // ------------------------------------------------------------- core ops

  def canonize(df: DataFrame, timeCol: String, unitToNanos: Long): DataFrame =
    TimeSeriesOps.canonize(df, timeCol, unitToNanos)

  def between(df: DataFrame, beginNanos: Long, endNanos: Long): DataFrame =
    TimeSeriesOps.between(df, beginNanos, endNanos)

  def orderByTime(df: DataFrame, numPartitions: Int): DataFrame =
    TimeSeriesOps.orderByTime(df, numPartitions)

  def keepColumns(df: DataFrame, cols: JList[String]): DataFrame =
    TimeSeriesOps.keepColumns(df, seq(cols): _*)

  def deleteColumns(df: DataFrame, cols: JList[String]): DataFrame =
    TimeSeriesOps.deleteColumns(df, seq(cols): _*)

  def renameColumns(df: DataFrame, from: JList[String], to: JList[String]): DataFrame =
    TimeSeriesOps.renameColumns(df, seq(from).zip(seq(to)): _*)

  def castColumn(df: DataFrame, col: String, toType: String): DataFrame =
    TimeSeriesOps.castColumns(df,
      col -> org.apache.spark.sql.types.DataType.fromDDL(toType))

  def addColumn(df: DataFrame, name: String, sqlExpr: String): DataFrame =
    TimeSeriesOps.addColumns(df, name -> F.expr(sqlExpr))

  def shift(df: DataFrame, duration: String, forward: Boolean): DataFrame =
    TimeSeriesOps.shift(df, duration, forward)

  def setTime(df: DataFrame, sqlExpr: String): DataFrame =
    TimeSeriesOps.setTime(df, F.expr(sqlExpr))

  def coalesce(df: DataFrame, n: Int): DataFrame = TimeSeriesOps.coalesce(df, n)

  def validate(df: DataFrame): Unit = TimeSeriesOps.validate(df)

  def merge(left: DataFrame, right: DataFrame): DataFrame =
    TimeSeriesOps.merge(left, right)

  def uniformClock(spark: SparkSession, beginNanos: Long, endNanos: Long,
                   frequency: String): DataFrame =
    TimeSeriesOps.uniformClock(spark, beginNanos, endNanos, frequency)

  def uniformClock(spark: SparkSession, beginNanos: Long, endNanos: Long,
                   frequency: String, endInclusive: Boolean): DataFrame =
    TimeSeriesOps.uniformClock(spark, beginNanos, endNanos, frequency,
      endInclusive = endInclusive)

  def randomClock(spark: SparkSession, beginNanos: Long, endNanos: Long,
                  frequency: String, seed: Long): DataFrame =
    Sources.randomClock(spark, beginNanos, endNanos, frequency, seed)

  def fromParquet(spark: SparkSession, path: String, columns: JList[String],
                  beginNanos: java.lang.Long, endNanos: java.lang.Long,
                  timeCol: String, unitToNanos: Long,
                  optKeys: JList[String], optVals: JList[String]): DataFrame =
    Sources.fromParquet(spark, path, seq(columns),
      Option(beginNanos).map(_.longValue()),
      Option(endNanos).map(_.longValue()),
      timeCol, unitToNanos, seq(optKeys).zip(seq(optVals)).toMap)

  def fromCSV(spark: SparkSession, path: String, header: Boolean,
              delimiter: String, timeCol: String, unitToNanos: Long,
              sorted: Boolean, optKeys: JList[String],
              optVals: JList[String]): DataFrame =
    Sources.fromCSV(spark, path, header, delimiter, None, timeCol,
      unitToNanos, sorted, seq(optKeys).zip(seq(optVals)).toMap)

  def writeTimePartitioned(df: DataFrame, path: String, granularity: String,
                           mode: String): Unit =
    Sources.writeTimePartitioned(df, path, granularity, mode)

  /** JSONL corpus read ([[Sources.fromJsonl]]; canonizes `timeCol` only
    * when that column exists in the data — document corpora usually have
    * no time axis) + canonization status as `[frame, Boolean]` (py4j
    * array). The Python reader keys its nanos range filter on the flag —
    * NOT on an output column named "time", which can exist un-canonized
    * when the data carries a raw column of that name but the configured
    * time column is absent. */
  def fromJsonlWithStatus(spark: SparkSession, path: String, timeCol: String,
                          unitToNanos: Long, optKeys: JList[String],
                          optVals: JList[String]): Array[AnyRef] = {
    val (df, canonized) = Sources.fromJsonlStatus(spark, path, None, timeCol,
      unitToNanos, seq(optKeys).zip(seq(optVals)).toMap)
    Array(df, java.lang.Boolean.valueOf(canonized))
  }

  def fromTimePartitioned(spark: SparkSession, path: String,
                          granularity: String, columns: JList[String],
                          beginNanos: java.lang.Long,
                          endNanos: java.lang.Long): DataFrame =
    Sources.fromTimePartitioned(spark, path, granularity, seq(columns),
      Option(beginNanos).map(_.longValue()),
      Option(endNanos).map(_.longValue()))

  // --------------------------------------------------------------- joins

  def leftJoin(left: DataFrame, right: DataFrame, tolerance: String,
               key: JList[String], leftAlias: String, rightAlias: String,
               binned: Boolean): DataFrame =
    AsOfJoin.leftJoin(left, right, tolerance, seq(key),
      opt(leftAlias), opt(rightAlias), binned)

  def futureLeftJoin(left: DataFrame, right: DataFrame, tolerance: String,
                     key: JList[String], leftAlias: String, rightAlias: String,
                     strictLookahead: Boolean, binned: Boolean): DataFrame =
    AsOfJoin.futureLeftJoin(left, right, tolerance, seq(key),
      opt(leftAlias), opt(rightAlias), strictLookahead, binned)

  def symmetricJoin(left: DataFrame, right: DataFrame, tolerance: String,
                    key: JList[String], leftAlias: String,
                    rightAlias: String, binned: Boolean): DataFrame =
    AsOfJoin.symmetricJoin(left, right, tolerance, seq(key),
      opt(leftAlias), opt(rightAlias), binned)

  // --------------------------------------------------- summarizer algebra

  def sum(x: String): Summarizer = Summarizers.sum(x)
  def kahanSum(x: String): Summarizer = Summarizers.kahanSum(x)
  def count(): Summarizer = Summarizers.count()
  def countCol(x: String): Summarizer = Summarizers.count(x)
  def mean(x: String): Summarizer = Summarizers.mean(x)
  def variance(x: String): Summarizer = Summarizers.variance(x)
  def varianceStable(x: String): Summarizer = Summarizers.varianceStable(x)
  def stddev(x: String): Summarizer = Summarizers.stddev(x)
  def stddevStable(x: String): Summarizer = Summarizers.stddevStable(x)
  def min(x: String): Summarizer = Summarizers.min(x)
  def max(x: String): Summarizer = Summarizers.max(x)
  def product(x: String): Summarizer = Summarizers.product(x)
  def dotProduct(x: String, y: String): Summarizer = Summarizers.dotProduct(x, y)
  def geometricMean(x: String): Summarizer = Summarizers.geometricMean(x)
  def covariance(x: String, y: String): Summarizer = Summarizers.covariance(x, y)
  def covarianceStable(x: String, y: String): Summarizer =
    Summarizers.covarianceStable(x, y)
  def correlation(x: String, y: String): Summarizer = Summarizers.correlation(x, y)
  def correlationStable(x: String, y: String): Summarizer =
    Summarizers.correlationStable(x, y)
  def correlationPairs(cols: JList[String]): Summarizer =
    Summarizers.correlation(seq(cols))
  def weightedCovariance(x: String, y: String, w: String): Summarizer =
    Summarizers.weightedCovariance(x, y, w)
  def weightedCorrelation(x: String, y: String, w: String): Summarizer =
    Summarizers.weightedCorrelation(x, y, w)
  def weightedMeanTest(x: String, w: String): Summarizer =
    Summarizers.weightedMeanTest(x, w)
  def zScoreStable(x: String, includeCurrent: Boolean): Summarizer =
    Summarizers.zScoreStable(x, includeCurrent)
  def zScore(x: String, includeCurrent: Boolean): Summarizer =
    Summarizers.zScore(x, includeCurrent)
  def nthMoment(x: String, n: Int): Summarizer = Summarizers.nthMoment(x, n)
  def nthCentralMoment(x: String, n: Int): Summarizer =
    Summarizers.nthCentralMoment(x, n)
  def skewness(x: String): Summarizer = Summarizers.skewness(x)
  def kurtosis(x: String): Summarizer = Summarizers.kurtosis(x)
  def approxQuantile(x: String, ps: JList[java.lang.Double],
                     accuracy: Int): Summarizer =
    Summarizers.approxQuantile(x, ps.asScala.toSeq.map(_.doubleValue()),
      accuracy)
  def quantile(x: String, ps: JList[java.lang.Double]): Summarizer =
    Summarizers.quantile(x, ps.asScala.toSeq.map(_.doubleValue()))
  def olsRegression(y: String, xs: JList[String], weight: String): Summarizer =
    Summarizers.OLSRegression(y, seq(xs), opt(weight))
  def momentsState(x: String): Summarizer = Summarizers.momentsState(x)
  def stateOf(s: Summarizer): Summarizer = Summarizers.stateOf(s)
  def olsState(y: String, xs: JList[String], weight: String): Summarizer =
    Summarizers.olsState(y, seq(xs), opt(weight))
  def distinctCount(x: String): Summarizer = Summarizers.distinctCount(x)
  def approxDistinctCount(x: String, rsd: Double): Summarizer =
    Summarizers.approxDistinctCount(x, rsd)
  def rows(cols: JList[String]): Summarizer = Summarizers.rows(seq(cols))
  /** Group rows as one Arrow IPC stream (read with pyarrow.ipc.open_stream). */
  def arrow(cols: JList[String]): Summarizer = Summarizers.arrow(seq(cols))

  def compose(ss: JList[Summarizer]): Summarizer =
    Summarizers.compose(ss.asScala.toSeq: _*)
  def stack(ss: JList[Summarizer]): Summarizer =
    Summarizers.stack(ss.asScala.toSeq: _*)
  def where(s: Summarizer, sqlPredicate: String): Summarizer =
    s.where(F.expr(sqlPredicate))
  def prefix(s: Summarizer, p: String): Summarizer = s.prefix(p)

  // ---------------------------------------------------- aggregation modes

  def summarize(df: DataFrame, s: Summarizer, key: JList[String]): DataFrame =
    Summarize.summarize(df, s, seq(key))

  def summarizeCycles(df: DataFrame, s: Summarizer, key: JList[String]): DataFrame =
    Summarize.summarizeCycles(df, s, seq(key))

  def groupByCycle(df: DataFrame, key: JList[String]): DataFrame =
    Summarize.groupByCycle(df, seq(key))

  def summarizeIntervals(df: DataFrame, clock: DataFrame, s: Summarizer,
                         key: JList[String], inclusion: String,
                         rounding: String): DataFrame =
    Intervals.summarizeIntervals(df, Intervals.clockTicks(clock), s, seq(key),
      inclusion, rounding)

  def groupByInterval(df: DataFrame, clock: DataFrame, key: JList[String],
                      inclusion: String, rounding: String): DataFrame =
    Intervals.groupByInterval(df, Intervals.clockTicks(clock), seq(key),
      inclusion, rounding)

  /** Interval bucket assignment only (time replaced by the interval stamp)
    * — the Python pandas-UDF summarize_intervals path buckets here, then
    * group-applies the UDFs over the bucketed cycles via applyInPandas. */
  def intervalize(df: DataFrame, clock: DataFrame, inclusion: String,
                  rounding: String): DataFrame =
    Intervals.intervalize(df, Intervals.clockTicks(clock), inclusion, rounding)

  def summarizeWindows(df: DataFrame, s: Summarizer, past: String,
                       future: String, key: JList[String]): DataFrame = {
    val w = window(past, future)
    WindowOps.summarizeWindows(df, w, s, seq(key))
  }

  def addWindows(df: DataFrame, past: String, future: String,
                 key: JList[String]): DataFrame =
    WindowOps.addWindows(df, window(past, future), seq(key))

  /** Row-count window frame (pastRows/futureRows). Exactly one of
    * `past`/`future` must be positive — enforced, not silently resolved. */
  def summarizeWindowsRows(df: DataFrame, s: Summarizer, past: Int,
                           future: Int, key: JList[String],
                           tieBreak: JList[String]): DataFrame = {
    require((past > 0) != (future > 0),
      s"pass exactly one positive row count, got past=$past future=$future")
    val w = if (past > 0) WindowOps.pastRows(past) else WindowOps.futureRows(future)
    WindowOps.summarizeWindows(df, w, s, seq(key), seq(tieBreak))
  }

  def addSummaryColumns(df: DataFrame, s: Summarizer, key: JList[String],
                        tieBreak: JList[String]): DataFrame =
    WindowOps.addSummaryColumns(df, s, seq(key), seq(tieBreak))

  def addLagSum(df: DataFrame, col: String, window: String, lag: String,
                key: JList[String]): DataFrame =
    WindowOps.addLagSum(df, col, window, lag, seq(key))

  private def window(past: String, future: String): WindowOps.TimeWindow =
    (opt(past), opt(future)) match {
      case (Some(p), None) => WindowOps.pastAbsoluteTime(p)
      case (None, Some(f)) => WindowOps.futureAbsoluteTime(f)
      case (Some(p), Some(f)) => WindowOps.TimeWindow(
        -TimeSeriesOps.parseDuration(p), TimeSeriesOps.parseDuration(f),
        s"past_${p}_future_$f")
      case _ => throw new IllegalArgumentException(
        "window needs a past and/or future duration")
    }

  // ------------------------------------------------------------ EMA family

  def exponentialSmoothing(df: DataFrame, x: String, key: JList[String],
                           alpha: Double, primingPeriods: Double,
                           nanosPerPeriod: Double, interpolation: String,
                           convention: String): DataFrame =
    EmaOps.exponentialSmoothing(df, x, seq(key), alpha, primingPeriods,
      nanosPerPeriod, interpolation, convention)

  def exponentialSmoothingRows(df: DataFrame, x: String, key: JList[String],
                               alpha: Double, primingPeriods: Double,
                               nanosPerPeriod: Double, interpolation: String,
                               convention: String): DataFrame =
    EmaOps.exponentialSmoothingRows(df, x, seq(key), alpha, primingPeriods,
      nanosPerPeriod, interpolation, convention)

  def ewma(df: DataFrame, x: String, key: JList[String], alpha: Double,
           durationPerPeriod: String, convention: String): DataFrame =
    EmaOps.ewma(df, x, seq(key), alpha, durationPerPeriod, convention)

  def ewmaRows(df: DataFrame, x: String, key: JList[String], alpha: Double,
               durationPerPeriod: String, convention: String): DataFrame =
    EmaOps.ewmaRows(df, x, seq(key), alpha, durationPerPeriod, convention)

  // -------------------------------------------------- LLM pipeline ops

  def exactDedup(df: DataFrame, idCol: String, textCol: String,
                 normalize: Boolean): DataFrame =
    graft.llm.Dedup.exactDedup(df, idCol, textCol, normalize)

  def minHashDedupPairs(df: DataFrame, idCol: String, textCol: String,
                        numHashes: Int, bands: Int, shingleSize: Int,
                        threshold: Double, maxBucketSize: Int,
                        strict: Boolean): DataFrame =
    graft.llm.Dedup.minHashDedupPairs(df, idCol, textCol, numHashes, bands,
      shingleSize, threshold, maxBucketSize, strict)

  def minHashBucketAudit(df: DataFrame, idCol: String, textCol: String,
                         numHashes: Int, bands: Int, shingleSize: Int,
                         maxBucketSize: Int): DataFrame =
    graft.llm.Dedup.minHashBucketAudit(df, idCol, textCol, numHashes, bands,
      shingleSize, maxBucketSize)

  def simHashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int, maxBucketSize: Int): DataFrame =
    graft.llm.Dedup.simHashPairs(df, idCol, textCol, maxHamming, maxBucketSize)

  /** SimHash pairs with the portable (SQL-recomputable) sketch family. */
  def simHashPairsPortable(df: DataFrame, idCol: String, textCol: String,
                           maxHamming: Int, maxBucketSize: Int): DataFrame =
    graft.llm.Dedup.simHashPairs(df, idCol, textCol, maxHamming, maxBucketSize,
      sketch = graft.llm.Dedup.simHashPortable)

  def simHashBucketAudit(df: DataFrame, idCol: String, textCol: String,
                         maxBucketSize: Int, portable: Boolean): DataFrame =
    graft.llm.Dedup.simHashBucketAudit(df, idCol, textCol, maxBucketSize,
      if (portable) graft.llm.Dedup.simHashPortable
      else graft.llm.Dedup.simHash)

  def fromDF(df: DataFrame, isSorted: Boolean, timeCol: String,
             unitToNanos: Long, numPartitions: Int): DataFrame =
    TimeSeriesOps.fromDF(df, isSorted, timeCol, unitToNanos, numPartitions)

  def jaccardPairsWithin(df: DataFrame, idCol: String, textCol: String,
                         blockCol: String, threshold: Double,
                         maxBlockSize: Int): DataFrame =
    graft.llm.Dedup.jaccardPairsWithin(df, idCol, textCol, blockCol,
      threshold, maxBlockSize)

  def dupClusters(ids: DataFrame, pairs: DataFrame, idCol: String,
                  aCol: String, bCol: String): DataFrame =
    graft.llm.Dedup.dupClusters(ids, pairs, idCol, aCol, bCol)

  def dedupByClusters(df: DataFrame, idCol: String, pairs: DataFrame,
                      aCol: String, bCol: String): DataFrame =
    graft.llm.Dedup.dedupByClusters(df, idCol, pairs, aCol, bCol)

  // ------------------------------------------------------------ sampling

  def sampleByHash(df: DataFrame, idCol: String, rate: Double,
                   seed: Long): DataFrame =
    graft.llm.Sampling.sampleByHash(df, idCol, rate, seed)

  def sampleByWeight(df: DataFrame, idCol: String, weightCol: String,
                     rate: Double, seed: Long): DataFrame =
    graft.llm.Sampling.sampleByWeight(df, idCol, weightCol, rate, seed)

  def sampleByRates(df: DataFrame, strataCol: String, idCol: String,
                    strata: JList[String], rates: JList[java.lang.Double],
                    defaultRate: Double, seed: Long): DataFrame =
    graft.llm.Sampling.sampleByRates(df, strataCol, idCol,
      strata.asScala.zip(rates.asScala.map(_.doubleValue())).toMap,
      defaultRate, seed)

  def quotaPerStratum(df: DataFrame, strataCols: JList[String], idCol: String,
                      n: Int, seed: Long): DataFrame =
    graft.llm.Sampling.quotaPerStratum(df, seq(strataCols), idCol, n, seed)

  def packSequences(df: DataFrame, idCol: String, tokensCol: String,
                    budget: Long, numBuckets: Int, seed: Long): DataFrame =
    graft.llm.Sampling.packSequences(df, idCol, tokensCol, budget,
      numBuckets, seed)

  def shufflePositions(df: DataFrame, idCol: String, seed: Long): DataFrame =
    graft.llm.Sampling.shufflePositions(df, idCol, seed)

  /** The composed pre-training pipeline (graft.llm.Pipeline) with the
    * default PII scrub. `boundary` is `"persist"`, `"recompute"`, or
    * `"parquet:<dir>"` — see [[graft.llm.Pipeline.Boundary]]. */
  def pipelineRun(df: DataFrame, idCol: String, textCol: String,
                  minWords: Int, maxWords: Int, numHashes: Int, bands: Int,
                  shingleSize: Int, jaccard: Double, spanN: Int,
                  sampleRate: Double, packBudget: Long, packBuckets: Int,
                  seed: Long, boundary: String): DataFrame = {
    val b = boundary match {
      case "persist" => graft.llm.Pipeline.Boundary.Persist
      case "recompute" => graft.llm.Pipeline.Boundary.Recompute
      case p if p.startsWith("parquet:") =>
        graft.llm.Pipeline.Boundary.Parquet(p.stripPrefix("parquet:"))
      case other => throw new IllegalArgumentException(
        s"boundary must be persist | recompute | parquet:<dir>, got $other")
    }
    graft.llm.Pipeline.run(df,
      graft.llm.Pipeline.Config(idCol, textCol, minWords, maxWords,
        numHashes, bands, shingleSize, jaccard, spanN, sampleRate,
        packBudget, packBuckets, seed), b)
  }

  def duplicateSpans(df: DataFrame, idCol: String, textCol: String,
                     n: Int): DataFrame =
    graft.llm.Dedup.duplicateSpans(df, idCol, textCol, n)

  def stripDuplicateSpans(df: DataFrame, idCol: String, textCol: String,
                          spans: DataFrame): DataFrame =
    graft.llm.Dedup.stripDuplicateSpans(df, idCol, textCol, spans)

  def topKTokens(df: DataFrame, textCol: String, k: Int): DataFrame =
    graft.llm.TextStats.topKTokens(df, textCol, k)

  // Scalar text-stat COLUMN functions (py4j ships Column handles like any
  // other JVM object): the building blocks a Python caller composes under
  // ordinary pyspark groupBy/agg — e.g. the corpus_report aggregation —
  // without a per-operator DataFrame method.
  def langIdCol(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    graft.llm.TextStats.langId(text)
  def qualityScoreCol(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    graft.llm.TextStats.qualityScore(text)
  def tokenCountCol(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    graft.llm.TextStats.tokenCount(text)
  def bpeTokenCountCol(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    graft.llm.TextStats.bpeTokenCount(text)
  def stripMarkupCol(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    graft.llm.TextStats.stripMarkup(text)
  def normalizeForDedupCol(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    graft.llm.TextStats.normalizeForDedup(text)
  def encodingStatsCol(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    graft.llm.TextStats.encodingStats(text)
  def encodingKeepCol(text: org.apache.spark.sql.Column,
                      maxBadPerMille: Int): org.apache.spark.sql.Column =
    graft.llm.TextStats.encodingKeep(text, maxBadPerMille)
  def gopherStatsCol(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    graft.llm.TextStats.gopherStats(text)

  def chunkTokens(df: DataFrame, idCol: String, textCol: String,
                  chunkSize: Int, stride: Int): DataFrame =
    graft.llm.TextStats.chunkTokens(df, idCol, textCol, chunkSize, stride)

  /** Distributed BPE training: bounded word-freq pass + driver merges. */
  def bpeLearnMerges(df: DataFrame, textCol: String, numMerges: Int,
                     maxWords: Int): DataFrame =
    graft.llm.Bpe.learnMerges(df, textCol, numMerges, maxWords)

  /** Append `n_bpe` = encoded symbol count under a learned merges frame
    * (as produced by [[bpeLearnMerges]]; collected driver-side — it is
    * model-parameter-sized by construction). */
  def bpeEncodeCount(df: DataFrame, textCol: String,
                     merges: DataFrame): DataFrame = {
    val ms = merges.orderBy("merge_rank")
      .select("lhs", "rhs").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    df.withColumn("n_bpe",
      graft.llm.Bpe.encodeCount(F.col(textCol), ms))
  }

  /** BM25 top-k retrieval against an eval-set-sized queries frame
    * `(q_id, qtext)` (collected driver-side — the query set is model-
    * parameter-sized by contract, never a second corpus). */
  def bm25TopK(corpus: DataFrame, idCol: String, textCol: String,
               queries: DataFrame, qidCol: String, qtextCol: String,
               k: Int, k1: Double, b: Double): DataFrame = {
    val qs = queries.select(F.col(qidCol).cast("long"),
        F.col(qtextCol).cast("string")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    graft.llm.Retrieval.bm25TopK(corpus, idCol, textCol, qs, k, k1, b)
  }

  /** Target-share mixture rebalancing audit table; feed `rate` to
    * sampleByRates. `targets` is a (stratum, share) frame. */
  def mixtureRates(df: DataFrame, strataCol: String, weightCol: String,
                   targets: DataFrame, budget: Long): DataFrame = {
    val ts = targets.select(
        F.col(targets.columns(0)).cast("string"),
        F.col(targets.columns(1)).cast("double")).collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSeq
    graft.llm.Sampling.mixtureRates(df, strataCol, weightCol, ts, budget)
  }

  /** DSIR importance weights: fit the bounded-vocab model of `target`
    * relative to `df` (the raw/proposal side) and append `lw_micro` — the
    * integer micro-nat log importance weight, one kernel scan. */
  def dsirLogWeights(df: DataFrame, target: DataFrame, textCol: String,
                     topV: Int): DataFrame = {
    val (model, oov) =
      graft.llm.Selection.dsirModel(df, target, textCol, topV)
    df.withColumn("lw_micro",
      graft.llm.Selection.dsirLogWeight(F.col(textCol), model, oov))
  }

  /** Gumbel-top-k weighted sampling without replacement. */
  def gumbelTopK(df: DataFrame, idCol: String, scoreMicroCol: String,
                 k: Int, seed: Long): DataFrame =
    graft.llm.Selection.gumbelTopK(df, idCol, scoreMicroCol, k, seed)

  /** Line/paragraph duplicate fractions (one kernel scan per row). */
  def repetitionSignals(df: DataFrame, idCol: String,
                        textCol: String): DataFrame =
    graft.llm.TextStats.repetitionSignals(df, idCol, textCol)

  /** Char-weighted n-gram repetition (top/dup char fractions). */
  def ngramCharRepetition(df: DataFrame, idCol: String, textCol: String,
                          n: Int): DataFrame =
    graft.llm.TextStats.ngramCharRepetition(df, idCol, textCol, n)

  def ngramRepetition(df: DataFrame, idCol: String, textCol: String,
                      n: Int): DataFrame =
    graft.llm.TextStats.ngramRepetition(df, idCol, textCol, n)

  def ngramOverlap(train: DataFrame, bench: DataFrame, idCol: String,
                   textCol: String, n: Int,
                   broadcastBench: Boolean): DataFrame =
    graft.llm.Contamination.ngramOverlap(train, bench, idCol, textCol, n,
      broadcastBench)

  /** Seeded deterministic LSH hyperplanes (bands*rowsPerBand x dim). */
  def lshPlanes(bands: Int, rowsPerBand: Int, dim: Int,
                seed: Long): JList[JList[java.lang.Double]] =
    graft.llm.Similarity.lshPlanes(bands, rowsPerBand, dim, seed)
      .map(p => p.map(java.lang.Double.valueOf).asJava).asJava

  def signLshDupPairs(df: DataFrame, idCol: String, vecCol: String,
                      planes: JList[JList[java.lang.Double]],
                      rowsPerBand: Int, threshold: Double): DataFrame =
    graft.llm.Similarity.signLshDupPairs(df, idCol, vecCol,
      planes.asScala.toSeq.map(_.asScala.toSeq.map(_.doubleValue())),
      rowsPerBand, threshold)

  def hardFilter(df: DataFrame, textCol: String, minWords: Int,
                 maxWords: Int): DataFrame =
    graft.llm.TextStats.hardFilter(df, textCol, minWords, maxWords)

  /** The Gopher/MassiveText quality-rule bundle as flag columns + keep. */
  def gopherFilter(df: DataFrame, textCol: String, minWords: Int,
                   maxWords: Int): DataFrame =
    graft.llm.TextStats.gopherFilter(df, textCol, minWords, maxWords)

  /** C4-style line cleaning + page flags (Raffel et al. 2020). */
  def c4Clean(df: DataFrame, idCol: String, textCol: String,
              minSentences: Int, minLineWords: Int): DataFrame =
    graft.llm.TextStats.c4Clean(df, idCol, textCol, minSentences, minLineWords)

  /** Within-doc token-distribution entropy in integer micro-nats. */
  def tokenEntropy(df: DataFrame, idCol: String, textCol: String): DataFrame =
    graft.llm.TextStats.tokenEntropy(df, idCol, textCol)

  /** Corpus-level top-k PMI collocations in integer micro-nats. */
  def pmiTopPairs(df: DataFrame, textCol: String, k: Int,
                  minCount: Long): DataFrame =
    graft.llm.TextStats.pmiTopPairs(df, textCol, k, minCount)

  /** Hashed-NB classifier: train on (textCol, labelCol) and append
    * pred/lp_micro — the model-based filtering pass. */
  def nbClassify(df: DataFrame, textCol: String, labelCol: String,
                 numBuckets: Int): DataFrame =
    graft.llm.Classify.nbClassify(df, textCol, labelCol, numBuckets)

  /** Hashed-NB model dump: (label, bucket, cnt, w_micro). */
  def nbWeights(df: DataFrame, textCol: String, labelCol: String,
                numBuckets: Int): DataFrame =
    graft.llm.Classify.nbWeights(df, textCol, labelCol, numBuckets)

  /** Domain-level outlink edge list from raw page HTML. */
  def domainEdges(df: DataFrame, urlCol: String, htmlCol: String): DataFrame =
    graft.llm.WebGraph.domainEdges(df, urlCol, htmlCol)

  /** Per-destination-domain inlink fan-in stats. */
  def inlinkStats(df: DataFrame, urlCol: String, htmlCol: String): DataFrame =
    graft.llm.WebGraph.inlinkStats(df, urlCol, htmlCol)

  /** Hybrid retrieval: BM25 shortlist reranked by embedding cosine. */
  def hybridTopK(corpus: DataFrame, emb: DataFrame, idCol: String,
                 textCol: String, vecIdCol: String, vecCol: String,
                 queries: DataFrame, qidCol: String, qtextCol: String,
                 kLex: Int, k: Int): DataFrame = {
    val qs = queries.select(F.col(qidCol).cast("long"),
        F.col(qtextCol).cast("string")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    graft.llm.Retrieval.hybridTopK(corpus, emb, idCol, textCol, vecIdCol,
      vecCol, qs, kLex, k)
  }

  /** Per-line language segmentation: majority lang + mixed flag. */
  def langSegments(df: DataFrame, idCol: String, textCol: String): DataFrame =
    graft.llm.TextStats.langSegments(df, idCol, textCol)

  /** Flesch–Kincaid surface counters + grade in integer micro-units. */
  def readability(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val st = graft.llm.TextStats.fkStats(F.col(textCol))
    df.select(F.col(idCol),
      st.getField("n_words").as("n_words"),
      st.getField("n_sentences").as("n_sentences"),
      st.getField("n_syllables").as("n_syllables"),
      graft.llm.TextStats.fkGradeMicro(F.col(textCol)).as("fk_micro"))
  }

  /** Count-min sketch cell table (cell, cnt). */
  def cmsSketch(df: DataFrame, textCol: String, depth: Int,
                width: Int): DataFrame =
    graft.llm.TextStats.cmsSketch(df, textCol, depth, width)

  /** Exact top-k token counts next to their CMS estimates. */
  def cmsHeavyHitters(df: DataFrame, textCol: String, k: Int, depth: Int,
                      width: Int): DataFrame =
    graft.llm.TextStats.cmsHeavyHitters(df, textCol, k, depth, width)

  /** Integer micro-unit PageRank over a (src, dst) edge list. */
  def pageRank(edges: DataFrame, iters: Int, dampNum: Long, dampDen: Long,
               srcCol: String, dstCol: String): DataFrame =
    graft.llm.WebGraph.pageRankMicro(edges, iters, dampNum, dampDen,
      srcCol, dstCol)

  /** Jaccard-shortlist + Levenshtein-verified near-dup pairs. */
  def minHashEditPairs(df: DataFrame, idCol: String, textCol: String,
                       numHashes: Int, bands: Int, shingleSize: Int,
                       jaccardFloor: Double, editSim: Double,
                       maxBucketSize: Int, strict: Boolean): DataFrame =
    graft.llm.Dedup.minHashEditPairs(df, idCol, textCol, numHashes, bands,
      shingleSize, jaccardFloor, editSim, maxBucketSize, strict)

  def dedupAgainstExact(incoming: DataFrame, existing: DataFrame,
                        textCol: String, normalize: Boolean): DataFrame =
    graft.llm.Dedup.dedupAgainstExact(incoming, existing, textCol, normalize)

  def dedupAgainstMinHash(incoming: DataFrame, existing: DataFrame,
                          idCol: String, textCol: String, numHashes: Int,
                          bands: Int, shingleSize: Int, threshold: Double,
                          maxBucketSize: Int, strict: Boolean): DataFrame =
    graft.llm.Dedup.dedupAgainstMinHash(incoming, existing, idCol, textCol,
      numHashes, bands, shingleSize, threshold, maxBucketSize, strict)

  /** Self-describing persistent MinHash index (write it with the corpus). */
  def buildMinHashIndex(df: DataFrame, idCol: String, textCol: String,
                        numHashes: Int, shingleSize: Int): DataFrame =
    graft.llm.Dedup.buildMinHashIndex(df, idCol, textCol, numHashes,
      shingleSize)

  def dedupAgainstIndex(incoming: DataFrame, index: DataFrame, idCol: String,
                        textCol: String, bands: Int, threshold: Double,
                        maxBucketSize: Int, strict: Boolean): DataFrame =
    graft.llm.Dedup.dedupAgainstIndex(incoming, index, idCol, textCol,
      bands, threshold, maxBucketSize, strict)

  def dedupAgainstBloomExact(incoming: DataFrame, existing: DataFrame,
                             textCol: String, normalize: Boolean,
                             expectedItems: Long, fpp: Double): DataFrame =
    graft.llm.Dedup.dedupAgainstBloomExact(incoming, existing, textCol,
      normalize, expectedItems, fpp)

  /** Append n_blocked (blocklist token hits) and keep (= no hits). */
  def blocklistAudit(df: DataFrame, textCol: String,
                     words: JList[String]): DataFrame = {
    val hits = graft.llm.TextStats.blocklistHits(F.col(textCol), seq(words))
    df.withColumn("n_blocked", hits).withColumn("keep", hits === 0)
  }

  def dedupByClustersKeepBest(df: DataFrame, idCol: String, pairs: DataFrame,
                              scoreCol: String): DataFrame =
    graft.llm.Dedup.dedupByClustersKeepBest(df, idCol, pairs, scoreCol)

  def filterBlockedDomains(df: DataFrame, urlCol: String,
                           blocked: JList[String],
                           suffixes: JList[String]): DataFrame =
    graft.llm.Urls.filterBlockedDomains(df, urlCol, seq(blocked),
      seq(suffixes))

  def qualityBuckets(df: DataFrame, strataCol: String, scoreCol: String,
                     f1: Double, f2: Double, approxAccuracy: Int): DataFrame =
    graft.llm.TextStats.qualityBuckets(df, strataCol, scoreCol, f1, f2,
      approxAccuracy)

  /** Python entry for the single-evaluation bucket variant: the score is
    * a SQL expression string (parsed with F.expr). */
  def qualityBucketsComputed(df: DataFrame, strataCol: String,
                             scoreExprSql: String, inputCols: JList[String],
                             f1: Double, f2: Double, approxAccuracy: Int,
                             eager: Boolean): DataFrame =
    graft.llm.TextStats.qualityBucketsComputed(df, strataCol,
      F.expr(scoreExprSql), seq(inputCols), f1, f2, approxAccuracy, eager)

  def stripBoilerplate(df: DataFrame, idCol: String, groupCol: String,
                       textCol: String, minDocs: Int): DataFrame =
    graft.llm.TextStats.stripBoilerplate(df, idCol, groupCol, textCol, minDocs)

  def tfidfTopTerms(df: DataFrame, idCol: String, textCol: String,
                    k: Int): DataFrame =
    graft.llm.TextStats.tfidfTopTerms(df, idCol, textCol, k)

  def dedupParagraphs(df: DataFrame, idCol: String, textCol: String,
                      minChars: Int): DataFrame =
    graft.llm.TextStats.dedupParagraphs(df, idCol, textCol, minChars)

  def corpusDiff(oldDf: DataFrame, newDf: DataFrame, idCol: String,
                 textCol: String): DataFrame =
    graft.llm.Dedup.corpusDiff(oldDf, newDf, idCol, textCol)

  /** Bounded unigram LM: returns [vocab as a list of [token, lpMicro]
    * pairs, oovLpMicro]. */
  def unigramModel(df: DataFrame, textCol: String,
                   topK: Int): JList[Object] = {
    val (m, oov) = graft.llm.TextStats.unigramModel(df, textCol, topK)
    val vocab = new java.util.ArrayList[Object]()
    m.foreach { case (t, l) =>
      val p = new java.util.ArrayList[Object]()
      p.add(t); p.add(java.lang.Long.valueOf(l)); vocab.add(p)
    }
    val out = new java.util.ArrayList[Object]()
    out.add(vocab); out.add(java.lang.Long.valueOf(oov))
    out
  }

  /** Append lp_micro: the integer micro-nat unigram score. */
  def unigramScore(df: DataFrame, textCol: String,
                   vocab: JList[JList[Object]], oovLp: Long): DataFrame = {
    val model = vocab.asScala.toSeq.map(p =>
      (p.get(0).asInstanceOf[String],
        p.get(1).asInstanceOf[java.lang.Number].longValue()))
    df.withColumn("lp_micro",
      graft.llm.TextStats.unigramScore(F.col(textCol), model, oovLp))
  }

  private def lpPairs(m: JList[JList[Object]]): Seq[(String, Long)] =
    m.asScala.toSeq.map(p =>
      (p.get(0).asInstanceOf[String],
        p.get(1).asInstanceOf[java.lang.Number].longValue()))

  /** Bounded bigram LM: returns [bigram pairs, unigram pairs, oovLpMicro]
    * with each pair list as [token(s), lpMicro]. */
  def bigramModel(df: DataFrame, textCol: String, topK: Int,
                  topB: Int): JList[Object] = {
    val (bi, uni, oov) =
      graft.llm.TextStats.bigramModel(df, textCol, topK, topB)
    def jl(m: Seq[(String, Long)]): java.util.ArrayList[Object] = {
      val l = new java.util.ArrayList[Object]()
      m.foreach { case (t, v) =>
        val p = new java.util.ArrayList[Object]()
        p.add(t); p.add(java.lang.Long.valueOf(v)); l.add(p)
      }
      l
    }
    val out = new java.util.ArrayList[Object]()
    out.add(jl(bi)); out.add(jl(uni)); out.add(java.lang.Long.valueOf(oov))
    out
  }

  def bigramScore(df: DataFrame, textCol: String,
                  biModel: JList[JList[Object]],
                  uniModel: JList[JList[Object]],
                  backoffLp: Long, oovLp: Long): DataFrame =
    df.withColumn("lp_micro",
      graft.llm.TextStats.bigramScore(F.col(textCol), lpPairs(biModel),
        lpPairs(uniModel), backoffLp, oovLp))

  def stupidBackoffLp(): Long = graft.llm.TextStats.StupidBackoffLp

  def piiRedact(df: DataFrame, textCol: String): DataFrame =
    df.withColumn(textCol,
      graft.llm.Pii.scrub(F.col(textCol)).getField("redacted"))

  def piiCounts(df: DataFrame, textCol: String): DataFrame = {
    val s = graft.llm.Pii.scrub(F.col(textCol))
    Seq("n_emails", "n_phones", "n_ips")
      .foldLeft(df) { case (d, n) => d.withColumn(n, s.getField(n)) }
  }

  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
                     vecCol: String, k: Int): DataFrame =
    graft.llm.Similarity.bruteForceTopK(queries, corpus, idCol, vecCol, k)

  private def cents(centroids: JList[JList[java.lang.Double]]): Seq[Seq[Float]] =
    centroids.asScala.toSeq.map(_.asScala.toSeq.map(_.floatValue()))

  def ivfTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
              vecCol: String, centroids: JList[JList[java.lang.Double]],
              k: Int, nprobe: Int): DataFrame =
    graft.llm.Similarity.ivfTopK(queries, corpus, idCol, vecCol,
      cents(centroids), k, nprobe)

  def cosineDupPairs(df: DataFrame, idCol: String, vecCol: String,
                     centroids: JList[JList[java.lang.Double]],
                     threshold: Double, nprobe: Int): DataFrame =
    graft.llm.Similarity.cosineDupPairs(df, idCol, vecCol, cents(centroids),
      threshold, nprobe)

  /** stratum -> rate pairs as a 2-column list (py4j-friendly). */
  def temperatureRates(df: DataFrame, strataCol: String, alpha: Double,
                       targetRows: Long): JList[JList[Object]] =
    graft.llm.Sampling.temperatureRates(df, strataCol, alpha, targetRows)
      .toSeq.sortBy(_._1)
      .map { case (k, v) => Seq[Object](k,
        java.lang.Double.valueOf(v)).asJava }.asJava

  def selectTopByBudget(df: DataFrame, idCol: String, tokensCol: String,
                        scoreCol: String, budget: Long): DataFrame =
    graft.llm.Sampling.selectTopByBudget(df, idCol, tokensCol, scoreCol,
      budget)

  def assignSplits(df: DataFrame, idCol: String, names: JList[String],
                   fracs: JList[java.lang.Double], seed: Long): DataFrame =
    graft.llm.Sampling.assignSplits(df, idCol,
      names.asScala.toSeq.zip(fracs.asScala.toSeq.map(_.doubleValue())), seed)

  /** Append n_tokens / n_oov / oov_rate against a fixed vocabulary (one
    * kernel scan). */
  def oovCounts(df: DataFrame, textCol: String,
                vocab: JList[String]): DataFrame = {
    val oc = graft.llm.TextStats.oovCounts(F.col(textCol), seq(vocab))
    df.withColumn("n_tokens", oc.getField("n_tokens"))
      .withColumn("n_oov", oc.getField("n_oov"))
      .withColumn("oov_rate", F.col("n_oov").cast("double") /
        F.col("n_tokens").cast("double"))
  }

  /** Append url_host / url_domain / url_norm with the registrable domain
    * resolved against a caller-supplied public-suffix set (empty/null
    * list = the 7-label heuristic). */
  def withUrlPartsPsl(df: DataFrame, urlCol: String,
                      suffixes: JList[String]): DataFrame = {
    val h = graft.llm.Urls.host(F.col(urlCol))
    val dom =
      if (suffixes == null || suffixes.isEmpty)
        graft.llm.Urls.registrableDomain(h)
      else graft.llm.Urls.registrableDomain(h, seq(suffixes))
    df.withColumn("url_host", h)
      .withColumn("url_domain", dom)
      .withColumn("url_norm", graft.llm.Urls.normalize(F.col(urlCol)))
  }

  /** Append url_host / url_domain / url_norm extracted from a URL column
    * (one codegen'd scan). */
  def withUrlParts(df: DataFrame, urlCol: String): DataFrame = {
    val h = graft.llm.Urls.host(F.col(urlCol))
    df.withColumn("url_host", h)
      .withColumn("url_domain", graft.llm.Urls.registrableDomain(h))
      .withColumn("url_norm", graft.llm.Urls.normalize(F.col(urlCol)))
  }

  def dedupByUrl(df: DataFrame, idCol: String, urlCol: String): DataFrame =
    graft.llm.Urls.dedupByUrl(df, idCol, urlCol)

  def capPerDomain(df: DataFrame, idCol: String, urlCol: String, n: Int,
                   seed: Long): DataFrame =
    graft.llm.Urls.capPerDomain(df, idCol, urlCol, n, seed)

  private def books(raw: JList[JList[JList[java.lang.Double]]]): Seq[Seq[Seq[Float]]] =
    raw.asScala.toSeq.map(_.asScala.toSeq.map(
      _.asScala.toSeq.map(_.floatValue())))

  /** Product-quantization codebooks (m × k × dim/m), trainable once and
    * reusable across encode/search calls. */
  def pqTrain(df: DataFrame, idCol: String, vecCol: String, m: Int, k: Int,
              iters: Int): JList[JList[JList[java.lang.Double]]] =
    graft.llm.Similarity.pqTrain(df, idCol, vecCol, m, k, iters)
      .map(_.map(_.map(v => java.lang.Double.valueOf(v.toDouble)).asJava)
        .asJava).asJava

  def pqEncode(df: DataFrame, idCol: String, vecCol: String,
               codebooks: JList[JList[JList[java.lang.Double]]]): DataFrame =
    graft.llm.Similarity.pqEncode(df, idCol, vecCol, books(codebooks))

  def pqTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
             vecCol: String, codebooks: JList[JList[JList[java.lang.Double]]],
             k: Int): DataFrame =
    graft.llm.Similarity.pqTopK(queries, corpus, idCol, vecCol,
      books(codebooks), k)

  def pqTopKEncoded(queries: DataFrame, encoded: DataFrame, idCol: String,
                    vecCol: String,
                    codebooks: JList[JList[JList[java.lang.Double]]],
                    k: Int): DataFrame =
    graft.llm.Similarity.pqTopKEncoded(queries, encoded, idCol, vecCol,
      books(codebooks), k)

  def ivfPqTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
                vecCol: String, coarse: JList[JList[java.lang.Double]],
                codebooks: JList[JList[JList[java.lang.Double]]],
                k: Int, nprobe: Int): DataFrame =
    graft.llm.Similarity.ivfPqTopK(queries, corpus, idCol, vecCol,
      cents(coarse), books(codebooks), k, nprobe)

  /** IVF-PQ search over the STORED (id, cell, codes) index frame — the
    * 100 TB path that never reads a raw corpus vector. Empty/null index
    * column names default to id/cell/codes. */
  def ivfPqTopKEncoded(queries: DataFrame, index: DataFrame, idCol: String,
                       vecCol: String,
                       codebooks: JList[JList[JList[java.lang.Double]]],
                       k: Int, nprobe: Int,
                       coarse: JList[JList[java.lang.Double]],
                       indexIdCol: String, indexCellCol: String,
                       indexCodesCol: String): DataFrame =
    graft.llm.Similarity.ivfPqTopKEncoded(queries, index, idCol, vecCol,
      books(codebooks), k, nprobe, cents(coarse),
      opt(indexIdCol).getOrElse("id"), opt(indexCellCol).getOrElse("cell"),
      opt(indexCodesCol).getOrElse("codes"))

  /** Corpus PQ+cell encoding to the stored (id, cell, codes) layout
    * ivfPqTopKEncoded searches — one narrow codegen'd scan. */
  def ivfPqEncode(corpus: DataFrame, idCol: String, vecCol: String,
                  coarse: JList[JList[java.lang.Double]],
                  codebooks: JList[JList[JList[java.lang.Double]]]): DataFrame =
    corpus.select(F.col(idCol).as("id"),
      graft.llm.Similarity.cellOf(F.col(vecCol), cents(coarse)).as("cell"),
      graft.llm.Similarity.pqCodes(F.col(vecCol), books(codebooks)).as("codes"))

  /** Deterministic quantized k-means; returns the (id, cell) assignments. */
  def kmeansAssign(df: DataFrame, idCol: String, vecCol: String,
                   k: Int, iters: Int): DataFrame =
    graft.llm.Similarity.kmeansCells(df, idCol, vecCol, k, iters)._1

  /** Deterministic quantized k-means; returns the trained centroids. */
  def kmeansCentroids(df: DataFrame, idCol: String, vecCol: String,
                      k: Int, iters: Int): JList[JList[java.lang.Double]] = {
    val cs = graft.llm.Similarity.kmeansCells(df, idCol, vecCol, k, iters)._2
    cs.map(c => c.map(v => java.lang.Double.valueOf(v.toDouble)).asJava).asJava
  }

  // ----------------------------------------------------------- streaming

  def summarizeTumbling(df: DataFrame, s: Summarizer, windowDuration: String,
                        watermarkDelay: String, key: JList[String]): DataFrame =
    graft.streaming.StreamingOps.summarizeTumbling(df, s, windowDuration,
      watermarkDelay, seq(key))

  def summarizeSliding(df: DataFrame, s: Summarizer, windowDuration: String,
                       slideDuration: String, watermarkDelay: String,
                       key: JList[String]): DataFrame =
    graft.streaming.StreamingOps.summarizeSliding(df, s, windowDuration,
      slideDuration, watermarkDelay, seq(key))

  def summarizeSessions(df: DataFrame, s: Summarizer, gapDuration: String,
                        watermarkDelay: String, key: JList[String]): DataFrame =
    graft.streaming.StreamingOps.summarizeSessions(df, s, gapDuration,
      watermarkDelay, seq(key))

  // clock as Number: py4j maps small Python ints to Integer, large to Long
  def summarizeIntervalsStream(df: DataFrame, clock: JList[java.lang.Number],
                               s: Summarizer, watermarkDelay: String,
                               key: JList[String], inclusion: String,
                               rounding: String): DataFrame =
    graft.streaming.StreamingOps.summarizeIntervalsStream(df,
      clock.asScala.map(_.longValue()).toArray, s, watermarkDelay, seq(key),
      inclusion, rounding)

  def dedupExactStream(df: DataFrame, keyCols: JList[String],
                       watermarkDelay: String): DataFrame =
    graft.streaming.StreamingOps.dedupExactStream(df, seq(keyCols), watermarkDelay)

  def leftJoinStream(left: DataFrame, right: DataFrame, tolerance: String,
                     key: JList[String], watermarkDelay: String,
                     stateTimeout: String): DataFrame =
    graft.streaming.StreamingOps.leftJoinStream(left, right, tolerance,
      seq(key), watermarkDelay, stateTimeout)

  def futureLeftJoinStream(left: DataFrame, right: DataFrame,
                           tolerance: String, key: JList[String],
                           watermarkDelay: String, stateTimeout: String,
                           strictLookahead: Boolean): DataFrame =
    graft.streaming.StreamingOps.futureLeftJoinStream(left, right, tolerance,
      seq(key), watermarkDelay, stateTimeout, strictLookahead)

  def writeTimePartitionedStream(df: DataFrame, path: String,
                                 granularity: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    graft.streaming.StreamingOps.writeTimePartitionedStream(
      df, path, granularity, checkpoint)

  def ewmaStateful(df: DataFrame, xCol: String, key: JList[String],
                   alpha: Double, durationPerPeriod: String,
                   convention: String, watermarkDelay: String,
                   stateTimeout: String): DataFrame =
    graft.streaming.StreamingOps.ewmaStateful(df, xCol, seq(key), alpha,
      durationPerPeriod, convention, watermarkDelay, stateTimeout)
}
