package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.storage.StorageLevel

/**
 * The composed pre-training data pass as a PUBLIC, parameterized unit —
 * the end-to-end chain the `pipeline_e2e` registry row verifies
 * stage-for-stage against one DuckDB replay: hard quality filter →
 * MinHash-LSH near-dedup to cluster representatives → duplicated-span
 * strip → PII scrub → quality-weighted PPS sample → token-budget sequence
 * packing → deterministic epoch shuffle. Every stage is one of the
 * library's standalone operators ([[graft.llm.TextStats.hardFilter]],
 * [[graft.llm.Dedup.minHashDedupPairs]]/[[graft.llm.Dedup.dedupByClusters]],
 * [[graft.llm.Dedup.duplicateSpans]]/[[graft.llm.Dedup.stripDuplicateSpans]],
 * [[graft.llm.Pii.redact]], [[graft.llm.Sampling.sampleByWeight]],
 * [[graft.llm.Sampling.packSequences]],
 * [[graft.llm.Sampling.shufflePositions]]); this object owns only the
 * composition: stage-boundary materialization, construction-scoped cache
 * hygiene, and the column plumbing between stages.
 *
 * Two intermediate frames feed SEVERAL downstream consumers each — the
 * filter survivors `kept` (pair mining, cluster labels, the
 * representative semi-join) and the dedup survivors `uniq` (span mining
 * and span strip) — so HOW they are materialized is the pipeline's main
 * scale knob, exposed as [[Boundary]]:
 *
 *  - [[Boundary.Parquet]] (the 100 TB form): each is written ONCE to
 *    parquet under a caller-owned directory and every consumer reads the
 *    files — write once, read thrice, zero executor-storage footprint,
 *    and re-consumable for free after the run. The caller owns the
 *    directory's lifecycle (the returned frame lazily re-reads it, so
 *    delete only after the last downstream action).
 *  - [[Boundary.Persist]]: construction-scoped `MEMORY_AND_DISK` persists,
 *    swept before return (the construction is eager end-to-end — the
 *    label rounds and the final shuffle sort all run at call time — so
 *    the sweep is safe and the call leaves NO residual cache). Right for
 *    interactive runs at memory-sized corpora; at cluster scale two
 *    near-corpus-sized text snapshots in executor storage is a
 *    cluster-storage event — prefer Parquet.
 *  - [[Boundary.Recompute]]: no materialization; each consumer re-derives
 *    its input (the filter kernel twice, the LSH mine + label rounds
 *    twice for `uniq`'s two consumers). Zero storage, maximum recompute —
 *    right only when the dedup tier is cheap relative to storage.
 *
 * Determinism: every stage is content-deterministic (seeded portable
 * hashes, partition- and order-independent — pinned by the AQE /
 * partition-layout invariance suites), so the output is bit-identical
 * across boundary modes; the registry row's oracle hash does not depend
 * on the mode.
 *
 * Returns the packed, shuffled corpus: the input id column, the scrubbed
 * `textCol`, `quality` (the PPS weight), `n_tokens` (the BPE token
 * count), `pack_bucket`, `pack_id`, `pack_offset`, `shuffle_pos`.
 * NOTE: the call is EAGER ([[Sampling.shufflePositions]] runs its sort at
 * call time; boundary writes run theirs) — downstream actions replay only
 * the final sort's reduce side.
 */
object Pipeline {

  /** Materialization strategy for the multi-consumer stage outputs. */
  sealed trait Boundary
  object Boundary {
    /** Construction-scoped `MEMORY_AND_DISK` persists, swept before
      * return. Interactive / memory-sized corpora. */
    case object Persist extends Boundary
    /** Write each boundary frame once to `dir/<stage>` and read it back —
      * the write-once-read-thrice 100 TB form. Caller owns `dir`. */
    final case class Parquet(dir: String) extends Boundary
    /** No materialization: consumers recompute their inputs. */
    case object Recompute extends Boundary
  }

  /**
   * Stage parameters, defaulting to the `pipeline_e2e` registry row's
   * pinned values. `minWords`/`maxWords` gate the hard filter; the
   * MinHash knobs shape the near-dedup tier (see
   * [[Dedup.minHashDedupPairs]]); `spanN` is the duplicated-span n-gram
   * size; `sampleRate` the PPS rate against the quality score;
   * `packBudget`/`packBuckets` the greedy-fill token budget and bucket
   * fan-out; `seed` feeds the sample, pack, and shuffle hashes.
   */
  final case class Config(
      idCol: String = "doc_id",
      textCol: String = "text",
      minWords: Int = 50,
      maxWords: Int = 100000,
      numHashes: Int = 128,
      bands: Int = 16,
      shingleSize: Int = 3,
      jaccard: Double = 0.5,
      spanN: Int = 4,
      sampleRate: Double = 0.9,
      packBudget: Long = 256L,
      packBuckets: Int = 8,
      seed: Long = 42L)

  /**
   * Run the pipeline over `docs`. `scrub` replaces the default PII stage
   * (`textCol := Pii.redact(textCol)`) — e.g. to chain extra scrubbers or
   * inject synthetic PII for drills; it must keep `idCol`/`textCol`.
   */
  def run(docs: DataFrame, cfg: Config = Config(),
          boundary: Boundary = Boundary.Persist,
          scrub: Option[DataFrame => DataFrame] = None): DataFrame = {
    require(cfg.sampleRate >= 0.0, s"sampleRate must be >= 0, got ${cfg.sampleRate}")
    val s = docs.sparkSession
    val cachedBefore = s.sparkContext.getPersistentRDDs.keySet
    val sweep = scala.collection.mutable.ArrayBuffer.empty[() => Unit]

    def stage(df: DataFrame, name: String): DataFrame = boundary match {
      case Boundary.Persist =>
        val p = df.persist(StorageLevel.MEMORY_AND_DISK)
        sweep += (() => p.unpersist(blocking = false))
        p
      case Boundary.Parquet(dir) =>
        val path = s"$dir/$name"
        df.write.mode("overwrite").parquet(path)
        // the schema just written: a schema-less read would run a job to
        // infer it back from the files
        s.read.schema(df.schema).parquet(path)
      case Boundary.Recompute => df
    }

    val kept = stage(
      TextStats.hardFilter(docs, cfg.textCol, cfg.minWords, cfg.maxWords)
        .filter(F.col("keep")).select(cfg.idCol, cfg.textCol), "kept")
    val pairs = Dedup.minHashDedupPairs(kept, cfg.idCol, cfg.textCol,
      cfg.numHashes, cfg.bands, cfg.shingleSize, threshold = cfg.jaccard)
    val uniq = stage(
      Dedup.dedupByClusters(kept, cfg.idCol, pairs)
        .select(cfg.idCol, cfg.textCol), "uniq")
    val spans = Dedup.duplicateSpans(uniq, cfg.idCol, cfg.textCol, cfg.spanN)
    val stripped = Dedup.stripDuplicateSpans(uniq, cfg.idCol, cfg.textCol, spans)
    val scrubbed = scrub.getOrElse((df: DataFrame) =>
      df.withColumn(cfg.textCol, Pii.redact(F.col(cfg.textCol)))).apply(stripped)
    val weighted = Sampling.sampleByWeight(
      scrubbed.withColumn("quality", TextStats.qualityScore(F.col(cfg.textCol))),
      cfg.idCol, "quality", cfg.sampleRate, cfg.seed)
    val packed = Sampling.packSequences(
      weighted.withColumn("n_tokens",
        TextStats.bpeTokenCount(F.col(cfg.textCol))),
      cfg.idCol, "n_tokens", cfg.packBudget, cfg.packBuckets, cfg.seed)
    val shuffled = Sampling.shufflePositions(packed, cfg.idCol, cfg.seed)

    // The construction above is eager end-to-end (boundary writes, the
    // cluster-label rounds, the shuffle sort), so everything pinned during
    // construction — the Persist boundaries AND dupClusters' internal
    // label-round caches — can be released before returning: the final
    // frame replays only the last sort's reduce side from shuffle files
    // (Parquet boundaries re-read their files). No residual cache.
    sweep.foreach(_.apply())
    s.sparkContext.getPersistentRDDs
      .filterNot { case (id, _) => cachedBefore(id) }
      .values.foreach(_.unpersist(blocking = false))
    shuffled
  }

  /** The `pipeline_e2e` drill scrub: append deterministic synthetic PII
    * (an email, an IP, a phone) keyed off `idCol` to every document, then
    * [[Pii.redact]] — so the scrub stage does real, verifiable work on
    * corpora that contain no organic PII. */
  def syntheticPiiScrub(idCol: String, textCol: String)
      : DataFrame => DataFrame = { df =>
    val id = F.col(idCol)
    val injected: Column = F.concat(
      F.col(textCol),
      F.lit(" contact u"), id.cast("string"),
      F.lit("@mail.example.com ip 10."),
      F.pmod(id, F.lit(250L)).cast("string"),
      F.lit(".0.1 call +1 555 "),
      F.lpad(F.pmod(id, F.lit(10000L)).cast("string"), 4, "0"),
      F.lit(" end"))
    df.withColumn(textCol, Pii.redact(injected))
  }
}
