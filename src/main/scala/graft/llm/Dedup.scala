package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.graft.GraftColumns

/**
 * Deduplication operators for training-data pipelines: exact, MinHash+LSH,
 * SimHash, and n-gram Jaccard verification.
 *
 * Scale design (the part that matters at 100 TB):
 *  - signatures are computed row-locally with higher-order functions
 *    (`transform`/`array_min`) — no explode of shingles, no UDF;
 *  - candidate generation is a `groupBy(band, bucket)` shuffle of
 *    (id, band-bucket) pairs only — never an all-pairs crossJoin;
 *  - buckets are capped (`maxBucketSize`) so a degenerate bucket (e.g.
 *    boilerplate docs) cannot produce a quadratic pair explosion — same
 *    guardrail production LSH dedup pipelines use. The cap is never
 *    silent: `strict = true` fails on the first over-cap bucket, and
 *    [[Dedup.minHashBucketAudit]] reports per-band truncation counts;
 *  - exact-Jaccard verification joins the (small) candidate-pair set back
 *    to the corpus by id — two hash joins, each broadcastable when pairs
 *    are few.
 */
object Dedup {

  /** Normalized text for exact/near-exact dedup: sorted unique tokens. */
  def normalizedTokens(text: Column): Column =
    F.array_sort(F.array_distinct(F.split(text, " ")))

  /** Exact dedup on a normalized key: keep the smallest id per group.
    * Returns (keep id, group size). One hash-aggregate shuffle on a
    * fixed-width hash key — the canonical 100 TB exact-dedup shape. */
  def exactDedup(df: DataFrame, idCol: String, textCol: String,
                 normalize: Boolean = true): DataFrame = {
    val key = if (normalize)
      F.md5(F.array_join(normalizedTokens(F.col(textCol)), " "))
    else F.md5(F.col(textCol))
    df.groupBy(key.as("dup_key"))
      .agg(F.min(F.col(idCol)).as("keep_id"), F.count(F.lit(1)).as("n_dupes"))
  }

  /** Sorted distinct 64-bit shingle fingerprints, one codegen'd kernel call
    * per row (`graft.Kernels.hashedShingles`): tokens hashed once, k-grams
    * fingerprinted by hash chaining — no shingle strings are ever built.
    * Sorted output doubles as the set representation for the merge-walk
    * exact-Jaccard verifier. */
  def hashedShingles(text: Column, k: Int): Column =
    GraftColumns.hashedShingles(F.split(text, " "), k)

  /** MinHash signature from pre-hashed shingles: numHashes running minima
    * of h_i(x) = xxhash64-remix(x, seed=i), computed in one compiled loop
    * (the round-2 higher-order-function fold paid one interpreted lambda
    * dispatch per shingle per seed — 81% of the whole bench).
    *
    * Signature-format note: this hash family (chained-hash shingle
    * fingerprints + `XXH64.hashLong(h, seed=i)`) replaced the original
    * `xxhash64(seed, shingle_string)` family. Signatures and LSH buckets
    * are NOT comparable with sketches persisted by earlier versions —
    * recompute sketches rather than mixing generations. (SimHash sketches
    * ARE stable across versions; see [[simHash]].) */
  def minHashOfHashed(hs: Column, numHashes: Int): Column =
    GraftColumns.minHashSig(hs, numHashes)

  def minHashSignature(text: Column, numHashes: Int, shingleSize: Int): Column =
    minHashOfHashed(hashedShingles(text, shingleSize), numHashes)

  /** Exact Jaccard of two ascending-sorted distinct long arrays:
    * |A∩B| by merge walk; |A∪B| = |A|+|B|-|A∩B| (never materialized). */
  private def sortedJaccard(a: Column, b: Column): Column = {
    val isz = GraftColumns.sortedIntersectSize(a, b).cast("double")
    isz / (F.size(a).cast("double") + F.size(b).cast("double") - isz)
  }

  /** LSH band buckets: signature split into `bands` rows of `rowsPerBand`,
    * each band hashed to one bucket id. */
  def lshBuckets(sig: Column, bands: Int, rowsPerBand: Int): Column =
    F.transform(F.sequence(F.lit(0), F.lit(bands - 1)),
      b => F.struct(b.as("band"),
        F.xxhash64(F.slice(sig, b * rowsPerBand + 1, F.lit(rowsPerBand))).as("bucket")))

  /** The `maxBucketSize` cap, made loud instead of silent: ascending ids,
    * first `maxBucketSize` kept. With `strict = true` an over-cap bucket
    * RAISES (task error naming the bucket size) rather than silently not
    * comparing the overflow — the opt-in for pipelines that must certify
    * the capped run was exhaustive. [[minHashBucketAudit]] is the
    * non-fatal form of the same question. */
  private def cappedBucketIds(ids: Column, maxBucketSize: Int,
                              strict: Boolean, op: String): Column = {
    val sorted = F.array_sort(ids)
    val capped = F.slice(sorted, 1, maxBucketSize)
    if (!strict) capped
    else F.when(F.size(sorted) > maxBucketSize,
      F.raise_error(F.concat(
        F.lit(s"$op: LSH bucket holds "), F.size(sorted).cast("string"),
        F.lit(s" ids > maxBucketSize=$maxBucketSize - raise maxBucketSize " +
          "or bands, or run minHashBucketAudit and accept the truncation " +
          "with strict=false"))))
      .otherwise(capped)
  }

  /**
   * Candidate near-duplicate pairs via banded MinHash-LSH, verified with
   * exact shingle-set Jaccard. Returns (id_a, id_b, jaccard) with
   * jaccard >= threshold, id_a < id_b.
   *
   * Bucket-cap contract: a bucket beyond `maxBucketSize` contributes only
   * its `maxBucketSize` smallest ids to pair mining (bounded fan-out on
   * degenerate buckets). The cap is auditable, never silent:
   * `strict = true` fails the job on the first over-cap bucket, and
   * [[minHashBucketAudit]] reports per-band truncation counts for the
   * same parameters without failing.
   */
  def minHashDedupPairs(df: DataFrame, idCol: String, textCol: String,
                        numHashes: Int = 128, bands: Int = 16,
                        shingleSize: Int = 3, threshold: Double = 0.7,
                        maxBucketSize: Int = 64,
                        strict: Boolean = false): DataFrame = {
    require(bands >= 1 && bands <= numHashes && numHashes % bands == 0,
      s"bands must divide numHashes (got numHashes=$numHashes bands=$bands): " +
        "a remainder would silently weaken the LSH family, and " +
        "bands > numHashes would collapse every document into one bucket")
    val rowsPerBand = numHashes / bands
    val hashed = df.select(F.col(idCol).as("id"),
      hashedShingles(F.col(textCol), shingleSize).as("hs"))
    val withSig = hashed.select(F.col("id"),
      minHashOfHashed(F.col("hs"), numHashes).as("sig"))
    val buckets = withSig
      .select(F.col("id"), F.explode(lshBuckets(F.col("sig"), bands, rowsPerBand)).as("bk"))
      .select(F.col("id"), F.col("bk.band"), F.col("bk.bucket"))
    // groupBy(band, bucket): one shuffle keyed on the bucket hash; the
    // bucket-size cap bounds the pair fan-out per bucket.
    val pairs = buckets.groupBy("band", "bucket")
      .agg(cappedBucketIds(F.collect_list(F.col("id")), maxBucketSize,
        strict, "minHashDedupPairs").as("ids"))
      .filter(F.size(F.col("ids")) > 1)
      .select(F.explode(pairsOf(F.col("ids"))).as("p"))
      .select(F.col("p.a").as("id_a"), F.col("p.b").as("id_b"))
      .distinct()
    // Exact Jaccard over the hashed shingle sets (collision probability on
    // 64-bit hashes is negligible); re-uses the same one-hash-per-shingle
    // sorted representation instead of rebuilding shingles per pair side.
    //
    // Deliberately NOT candidate-prefiltered (r15 measured negative): a
    // left-semi of `hashed` against the candidate ids before the verify
    // joins cuts the shingle kernel from three full passes to one, but
    // the semi's broadcast build adds a stage barrier per branch and
    // Catalyst keeps one rebuilt copy of the mining pipeline alive in the
    // build side — measured 1.12× SLOWER at 10× rep (7.13 s vs 6.38 s,
    // back-to-back same-window A/B, controls ±7%), and the same on the
    // whole family (edit 1.07×, against 1.16–1.45×). The kernel passes
    // are barrier-free map work; they are the cheaper side of that trade
    // at every scale we can measure.
    val sh = hashed.select(F.col("id"), F.col("hs").as("sh"))
    pairs
      .join(sh.withColumnsRenamed(Map("id" -> "id_a", "sh" -> "sh_a")), Seq("id_a"))
      .join(sh.withColumnsRenamed(Map("id" -> "id_b", "sh" -> "sh_b")), Seq("id_b"))
      .withColumn("jaccard", sortedJaccard(F.col("sh_a"), F.col("sh_b")))
      .filter(F.col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /**
   * Near-duplicate pairs by Jaccard shortlist + edit-distance verify: the
   * [[minHashDedupPairs]] candidates (banded MinHash-LSH, exact
   * shingle-Jaccard >= `jaccardFloor`) re-verified with character-level
   * Levenshtein distance — a pair survives when
   * `1 - lev(a, b) / max(len(a), len(b)) >= editSim`. The standard
   * two-tier design for corpora where token-SET overlap over-merges
   * (reordered boilerplate, shuffled listings: high Jaccard, low edit
   * similarity): the cheap set-similarity tier bounds the candidate
   * count, the expensive O(len_a · len_b) DP runs only on survivors.
   * Both tiers are built-ins (`levenshtein` is codegen'd); the
   * similarity is an exact integer ratio in double, bit-identical in any
   * engine. Per-pair DP cost is BOUNDED, not just pair count: a
   * length-gap prefilter (`edit_sim >= editSim` implies
   * `|len_a - len_b| <= (1-editSim)·max(len_a, len_b)` — every edit
   * script needs at least `|len_a - len_b|` insertions/deletions) prunes
   * pathologically mismatched pairs before any DP runs, and survivors
   * use the THRESHOLDED `levenshtein(a, b, maxEdits)` builtin, whose
   * banded DP costs O(maxEdits · max_len) = O((1-editSim) · max_len²)
   * instead of the full O(len_a · len_b) — at editSim 0.8 a 5× bound on
   * the worst same-length pair, and the threshold is exact: a pair the
   * band rejects (distance > maxEdits ⇒ builtin returns -1) is exactly a
   * pair the `edit_sim >= editSim` filter would have dropped, so the
   * survivor set and every emitted `dist` are identical to the unbounded
   * form.
   *
   * Output: (id_a, id_b, jaccard, dist, edit_sim), id_a < id_b.
   *
   * Scale shape: candidate mining is [[minHashDedupPairs]]'s one
   * (band, bucket) shuffle with the same never-silent bucket cap
   * (`strict` / [[minHashBucketAudit]]); the verify tier adds two
   * id-keyed equi-joins to fetch pair texts — candidates-sized, not
   * corpus-sized — and one DP per candidate pair.
   */
  def minHashEditPairs(df: DataFrame, idCol: String, textCol: String,
                       numHashes: Int = 128, bands: Int = 16,
                       shingleSize: Int = 3, jaccardFloor: Double = 0.5,
                       editSim: Double = 0.8, maxBucketSize: Int = 64,
                       strict: Boolean = false): DataFrame = {
    require(editSim >= 0.0 && editSim <= 1.0,
      s"editSim must be in [0, 1], got $editSim")
    // Text fetch via two id-keyed joins over the candidate pairs (the
    // join OUTPUT is candidate-sized; the text side streams map-only
    // under the broadcast of the small pair set). An r15 experiment that
    // carried texts on a candidate-prefiltered side table measured 1.07×
    // slower at 10× (same-window A/B) — see minHashDedupPairs' note on
    // why the semi-prefilter loses.
    val cand = minHashDedupPairs(df, idCol, textCol, numHashes, bands,
      shingleSize, jaccardFloor, maxBucketSize, strict)
    val txt = df.select(F.col(idCol), F.col(textCol))
    cand
      .join(txt.select(F.col(idCol).as("id_a"), F.col(textCol).as("__t_a")),
        Seq("id_a"))
      .join(txt.select(F.col(idCol).as("id_b"), F.col(textCol).as("__t_b")),
        Seq("id_b"))
      .withColumn("__len_max",
        F.greatest(F.length(F.col("__t_a")), F.length(F.col("__t_b"))))
      // Largest integer distance still satisfying edit_sim >= editSim; +1
      // below keeps the threshold a strict upper bound so FP rounding in
      // the final double comparison can never disagree with the band.
      .withColumn("__max_edits",
        F.floor(F.lit(1.0 - editSim) * F.col("__len_max").cast("double"))
          .cast("int"))
      // Necessary-condition prefilter: no DP at all for pairs whose raw
      // length gap already exceeds the edit budget. Carries the SAME +1
      // FP margin as the levenshtein threshold below: __max_edits is
      // floor(fl(1-editSim)·len_max) and fl(1-editSim) can round BELOW
      // the exact value (fl(1-0.8) = 0.19999…), so a pure-indel boundary
      // pair with gap = __max_edits + 1 can still satisfy the exact
      // `edit_sim >= editSim` filter — the gap bound must not be tighter
      // than the DP band or the survivor set diverges from the unbounded
      // form.
      .filter(F.abs(F.length(F.col("__t_a")) - F.length(F.col("__t_b")))
        <= F.col("__max_edits") + 1)
      .withColumn("dist",
        F.expr("levenshtein(__t_a, __t_b, __max_edits + 1)").cast("long"))
      .filter(F.col("dist") >= 0)
      .withColumn("edit_sim", F.lit(1.0) - F.col("dist").cast("double") /
        F.col("__len_max").cast("double"))
      .filter(F.col("edit_sim") >= editSim)
      .select("id_a", "id_b", "jaccard", "dist", "edit_sim")
  }

  /**
   * Truncation audit for the LSH bucket cap — the "no silent caps" rule
   * as a first-class output: recomputes the banded buckets of
   * [[minHashDedupPairs]] (same parameters ⇒ identical buckets, the hash
   * family is deterministic) and reports per band
   * `(band, n_buckets, n_truncated_buckets, n_dropped_ids)` where
   * `n_dropped_ids` counts ids beyond the cap — the ids capped pair
   * mining will not compare. All-zero `n_truncated_buckets` certifies a
   * capped run was exhaustive; a hot band says which bucket family is
   * collapsing (usually boilerplate near-identical docs) before you
   * trust the pair set. Also the audit for [[dedupAgainstMinHash]]'s
   * existing-side cap (run it over `existing`).
   *
   * Scale shape: the same one groupBy(band,bucket) shuffle as the pair
   * miner, then a 16-ish-row per-band rollup — safe at full corpus size,
   * no collect, no broadcast.
   */
  def minHashBucketAudit(df: DataFrame, idCol: String, textCol: String,
                         numHashes: Int = 128, bands: Int = 16,
                         shingleSize: Int = 3,
                         maxBucketSize: Int = 64): DataFrame = {
    require(bands >= 1 && bands <= numHashes && numHashes % bands == 0,
      s"bands must divide numHashes (got numHashes=$numHashes bands=$bands)")
    val rowsPerBand = numHashes / bands
    val buckets = df
      .select(F.col(idCol).as("id"),
        F.explode(lshBuckets(
          minHashSignature(F.col(textCol), numHashes, shingleSize),
          bands, rowsPerBand)).as("bk"))
      .select(F.col("bk.band").as("band"), F.col("bk.bucket").as("bucket"))
    bucketAudit(buckets, maxBucketSize)
  }

  /** The per-band rollup both bucket audits report: `(band, n_buckets,
    * n_truncated_buckets, n_dropped_ids)` of `(band, bucket)` rows under
    * the cap `maxBucketSize`. */
  private def bucketAudit(buckets: DataFrame, maxBucketSize: Int): DataFrame =
    buckets.groupBy("band", "bucket").agg(F.count(F.lit(1)).as("n"))
      .groupBy("band").agg(
        F.count(F.lit(1)).as("n_buckets"),
        F.sum(F.when(F.col("n") > maxBucketSize, 1L).otherwise(0L))
          .as("n_truncated_buckets"),
        F.sum(F.greatest(F.col("n") - maxBucketSize, F.lit(0L)))
          .as("n_dropped_ids"))
      .orderBy("band")

  /** All ordered pairs (a<b) of a sorted array, as array<struct<a,b>>. */
  private def pairsOf(ids: Column): Column =
    F.flatten(F.transform(ids, (a, i) =>
      F.transform(F.slice(ids, i + 2, F.size(ids)), b =>
        F.struct(a.as("a"), b.as("b")))))

  /** 64-bit SimHash over the token multiset: bit i of the sketch is the
    * majority vote of bit i across token xxhash64 values, computed in one
    * compiled pass per row (`graft.Kernels.simHash64`; the round-2 form ran
    * 64 separate interpreted passes over the token array per row). Token
    * hashing is bit-identical to `F.xxhash64(token)`, keeping sketches
    * stable across the rewrite. */
  def simHash(text: Column): Column =
    GraftColumns.simHash64(F.split(text, " "))

  /** Portable two-lane SimHash sketch (`Kernels.simHashPortable`): same
    * majority-vote construction, but the token hash is bounded integer
    * arithmetic a SQL engine can recompute bit-for-bit — which is what
    * makes the `dedup_simhash` query independently verifiable against a
    * DuckDB oracle. Sketches are NOT comparable with [[simHash]] sketches. */
  def simHashPortable(text: Column): Column =
    GraftColumns.simHashPortable(F.split(text, " "))

  /** SimHash near-dup candidates: split the 64-bit sketch into `bands`
    * equal-width bands; docs sharing any band are candidates. By pigeonhole
    * the candidate set is COMPLETE only for Hamming distance <= bands - 1;
    * the builder ENFORCES that bound (`require`) rather than silently
    * returning an incomplete pair set — callers wanting a larger
    * `maxHamming` must widen `bands` (any divisor of 64 works: 4 bands of
    * 16 bits, 8 of 8, ...). Returns (id_a, id_b, hamming <= maxHamming).
    * `sketch` selects the hash family ([[simHash]] by default;
    * [[simHashPortable]] for cross-engine-verifiable sketches). */
  def simHashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3, maxBucketSize: Int = 64,
                   sketch: Column => Column = simHash,
                   bands: Int = 4): DataFrame = {
    require(bands > 0 && 64 % bands == 0,
      s"bands must divide 64, got $bands")
    require(maxHamming <= bands - 1,
      s"maxHamming=$maxHamming exceeds the pigeonhole completeness bound " +
        s"bands-1=${bands - 1}; widen bands (e.g. bands=${maxHamming + 1}) " +
        "instead of accepting a silently-incomplete pair set")
    val withSketch = df.select(F.col(idCol).as("id"), sketch(F.col(textCol)).as("sk"))
    val banded = withSketch.select(F.col("id"), F.col("sk"),
      F.explode(simHashBands(F.col("sk"), bands)).as("bk"))
      .select(F.col("id"), F.col("sk"), F.col("bk.band"), F.col("bk.bucket"))
    val pairs = banded.groupBy("band", "bucket")
      .agg(F.slice(F.array_sort(F.collect_list(F.struct(F.col("id"), F.col("sk")))),
        1, maxBucketSize).as("xs"))
      .filter(F.size(F.col("xs")) > 1)
      .select(F.explode(pairsOf(F.col("xs"))).as("p"))
      .select(F.col("p.a.id").as("id_a"), F.col("p.b.id").as("id_b"),
        F.bit_count(F.col("p.a.sk").bitwiseXOR(F.col("p.b.sk"))).as("hamming"))
      .distinct()
    pairs.filter(F.col("hamming") <= maxHamming)
  }

  /** Truncation audit for [[simHashPairs]]' bucket cap — the SimHash twin
    * of [[minHashBucketAudit]] ("no silent caps" as a first-class output):
    * recomputes the banded buckets for the same parameters and reports per
    * band `(band, n_buckets, n_truncated_buckets, n_dropped_ids)` —
    * all-zero truncation counts certify a capped [[simHashPairs]] run was
    * exhaustive (its pair set = the uncapped pair set); a hot band names
    * the bucket family that is collapsing. Same one groupBy(band, bucket)
    * shuffle as the pair miner + a |bands|-row rollup. */
  def simHashBucketAudit(df: DataFrame, idCol: String, textCol: String,
                         maxBucketSize: Int = 64,
                         sketch: Column => Column = simHash,
                         bands: Int = 4): DataFrame = {
    require(bands > 0 && 64 % bands == 0,
      s"bands must divide 64, got $bands")
    // Same input projection as simHashPairs — id selected (then pruned by
    // Catalyst: the audit counts rows, ids never affect it) so a missing /
    // mistyped id column fails here exactly as it would in the pair miner,
    // and the two signatures cannot drift silently.
    val withSketch =
      df.select(F.col(idCol).as("id"), sketch(F.col(textCol)).as("sk"))
    bucketAudit(withSketch.select(F.explode(simHashBands(F.col("sk"), bands)).as("bk"))
      .select(F.col("bk.band").as("band"), F.col("bk.bucket").as("bucket")),
      maxBucketSize)
  }

  /** A 64-bit sketch's `bands` equal-width bands as an array of
    * `(band, bucket)` structs, the bucket being the band's bits. */
  private def simHashBands(sk: Column, bands: Int): Column = {
    val width = 64 / bands
    val mask = if (width == 64) -1L else (1L << width) - 1L
    F.array((0 until bands).map(b =>
      F.struct(F.lit(b).as("band"),
        F.shiftright(sk, b * width).bitwiseAND(F.lit(mask)).as("bucket"))): _*)
  }

  /**
   * Duplicate-cluster assignment: connected components over an undirected
   * near-dup pair graph, labels = the component's minimum id (the kept
   * representative). Returns one row per node of `ids`: (id, cluster_id);
   * singletons get cluster_id = id, so an anti-join `id != cluster_id`
   * yields the drop set — the step that turns a pair list into actual
   * dedup decisions.
   *
   * Execution: iterative min-label propagation with POINTER JUMPING —
   * per round, each node takes the min of its own label and its
   * neighbors' labels (two hash joins + one aggregation, all
   * key-partitioned), then shortcuts through its label's own label
   * (`lbl := label(lbl)`, one more hash join). The jump step halves the
   * distance to each component's minimum every round, so convergence is
   * O(log diameter) instead of O(diameter) — dense LSH cliques still
   * finish in 2-3 rounds, and a 10^6-node chain needs ~20 rounds rather
   * than 10^6. The loop stops as soon as a round changes nothing. Label
   * propagation is the standard 100 TB-scale shape (no driver-side
   * union-find, no adjacency materialization beyond the pair list).
   */
  def dupClusters(ids: DataFrame, pairs: DataFrame, idCol: String,
                  aCol: String = "id_a", bCol: String = "id_b",
                  maxRounds: Int = 50): DataFrame = {
    // cache the edge list: its lineage is typically a whole candidate
    // pipeline (e.g. MinHash-LSH), which every propagation round would
    // otherwise recompute from scratch. Both directions come from ONE
    // explode over the pair list (the r15 union carried two copies of the
    // whole candidate pipeline — evaluated twice when the cache first
    // materializes unless exchange reuse happened to fire), and the cache
    // is pre-partitioned by `src`: every round's message join needs
    // exactly that partitioning, so the per-round exchange of the edge
    // list disappears — only the (much smaller) label vector shuffles.
    val edges = pairs.select(F.explode(F.array(
        F.struct(F.col(aCol).as("src"), F.col(bCol).as("dst")),
        F.struct(F.col(bCol).as("src"), F.col(aCol).as("dst")))).as("__e"))
      .select(F.col("__e.src").as("src"), F.col("__e.dst").as("dst"))
      .repartition(F.col("src"))
      .persist()
    var labels = ids.select(F.col(idCol).as("id"), F.col(idCol).as("lbl"))
    val lblType = labels.schema("lbl").dataType
    val labelSchema = org.apache.spark.sql.types.StructType(
      labels.schema.fields.take(2))
    var prevRdd: Option[org.apache.spark.rdd.RDD[org.apache.spark.sql.Row]] = None
    var round = 0
    var converged = false
    while (round < maxRounds && !converged) {
      // neighbor messages: the label of each node, delivered to each peer
      val msgs = edges.join(labels, edges("src") === labels("id"))
        .select(F.col("dst").as("id"), F.col("lbl"))
      // Carry each node's PREVIOUS label through the same aggregation that
      // computes the new one: only the self row contributes a non-null
      // `old`, and min() skips nulls, so `old` survives the groupBy for
      // free — no extra join for change detection. A node that first
      // appears this round (a conduit present only in `pairs`, labeled by
      // a neighbor) comes out with old = null and MUST count as a change,
      // or the loop can converge one round before the conduit relays its
      // label onward (wrong components on paths through non-ids nodes).
      val propagated = labels
        .select(F.col("id"), F.col("lbl"), F.col("lbl").as("old"))
        .union(msgs.withColumn("old", F.lit(null).cast(lblType)))
        .groupBy("id").agg(F.min("lbl").as("lbl"), F.min("old").as("old"))
      // pointer jump: shortcut through the label's own label. Every label
      // value is itself a node id present in the table (labels start as
      // own-ids and only propagate), so the join hits unless the node
      // dropped out of `ids` — coalesce keeps the label then.
      val parents = propagated
        .select(F.col("id").as("p_id"), F.col("lbl").as("p_lbl"))
      // Lineage truncation per round is mandatory: the jump self-join
      // doubles the logical plan, so analysis cost would grow 2^round.
      // Materialize through a persisted RDD and re-wrap as a short-plan
      // DataFrame (keeps fault-tolerant lineage, unlike localCheckpoint),
      // then explicitly free the previous round's blocks.
      val jumped = propagated
        .join(parents, propagated("lbl") === parents("p_id"), "left")
        .select(propagated("id"),
          F.least(propagated("lbl"),
            F.coalesce(F.col("p_lbl"), propagated("lbl"))).as("lbl"),
          propagated("old"))
      val withChg = jumped.select(F.col("id"), F.col("lbl"),
        (F.col("old").isNull || F.col("lbl") < F.col("old")).as("chg"))
      // Convergence detection rides INSIDE the round's one materialization
      // job: an accumulator tallies changed rows while the persisted round
      // RDD is computed, so each round costs exactly one Spark job instead
      // of materialization + a separate probe join + limit(1).count().
      // Accumulator semantics are safe here because only ZERO is trusted:
      // a stage retry can over-count, never turn a genuinely changed round
      // into 0 (tasks add only when a changed row exists), and we read the
      // value immediately after this job, before any recomputation.
      val acc = ids.sparkSession.sparkContext.longAccumulator(
        s"graft.dupClusters.changed.r$round")
      val matRdd = withChg.rdd.mapPartitions { it =>
        it.map { r =>
          if (r.getBoolean(2)) acc.add(1L)
          org.apache.spark.sql.Row(r.get(0), r.get(1))
        }
      }.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      matRdd.count() // the round's single job: materialize + tally changes
      val next = ids.sparkSession.createDataFrame(matRdd, labelSchema)
      prevRdd.foreach(_.unpersist(blocking = false))
      prevRdd = Some(matRdd)
      labels = next
      converged = acc.value == 0L
      round += 1
    }
    edges.unpersist(blocking = false)
    // never return silently-wrong components (round-3 lesson: no silent
    // caps): a diameter above maxRounds must fail, not truncate
    if (!converged) throw new IllegalStateException(
      s"dupClusters did not converge in $maxRounds rounds — the pair graph " +
        s"has a component of diameter > $maxRounds; raise maxRounds")
    // propagation may have labeled conduit nodes that appear only in
    // `pairs`; the contract is one row per node of `ids`, nothing more
    labels.join(ids.select(F.col(idCol).as("id")), Seq("id"), "left_semi")
      .select(F.col("id").as(idCol), F.col("lbl").as("cluster_id"))
  }

  /** End-to-end near-dup dedup: keep exactly one representative (the
    * min-id member) per connected component of `pairs`; rows outside any
    * pair survive untouched. One [[dupClusters]] pass + a left-semi join —
    * the full corpus never rides through the cluster computation. */
  def dedupByClusters(df: DataFrame, idCol: String, pairs: DataFrame,
                      aCol: String = "id_a", bCol: String = "id_b"): DataFrame = {
    val keep = dupClusters(df.select(idCol), pairs, idCol, aCol, bCol)
      .filter(F.col(idCol) === F.col("cluster_id"))
      .select(idCol)
    df.join(keep, Seq(idCol), "left_semi")
  }

  /** [[dedupByClusters]] with a QUALITY-AWARE representative: per
    * connected component, keep the member with the highest `scoreCol`
    * (ties → smallest id) instead of the smallest id — the real-pipeline
    * policy ("among near-duplicates, keep the best copy"). Scale shape
    * is unchanged: one [[dupClusters]] pass over ids only, then two
    * map-side-combinable aggregations on the cluster key over the
    * (id, score) projection and a semi-join back; the corpus is never
    * sorted and never rides the cluster computation. Works for any
    * orderable id type (numeric or string). Null scores lose to any
    * non-null score (and among all-null clusters the smallest id wins);
    * NaN scores win over finite ones (Spark's max total order) —
    * deterministic, but feed real scores. */
  def dedupByClustersKeepBest(df: DataFrame, idCol: String, pairs: DataFrame,
                              scoreCol: String,
                              aCol: String = "id_a",
                              bCol: String = "id_b"): DataFrame = {
    val labeled = dupClusters(df.select(idCol), pairs, idCol, aCol, bCol)
      .join(df.select(F.col(idCol), F.col(scoreCol).cast("double").as("__s")),
        Seq(idCol))
    // per-cluster max score, then min id among the rows achieving it —
    // two aggregations on the SAME cluster_id key (the join + second
    // groupBy reuse the first exchange's partitioning), and min(id) works
    // for any orderable id type, numeric or string. max ignores nulls, so
    // null scores lose; an all-null cluster has a null max and the
    // null-safe filter keeps its (all-null) rows for the min-id pick.
    val best = labeled.groupBy("cluster_id").agg(F.max("__s").as("__ms"))
    val keep = labeled.join(best, Seq("cluster_id"))
      .filter(F.col("__s") <=> F.col("__ms"))
      .groupBy("cluster_id").agg(F.min(idCol).as(idCol))
      .select(idCol)
    df.join(keep, Seq(idCol), "left_semi")
  }

  /**
   * Corpus version diff: classify every document id across two corpus
   * versions as `added` (only in `newDf`), `removed` (only in `oldDf`),
   * `changed` (both, different content hash) or `unchanged` — the
   * versioning primitive behind incremental reprocessing ("re-run the
   * pipeline only on added+changed") and eval-set drift audits. Content
   * equality is md5 of `textCol`; null texts hash to null and compare
   * null-safe (two nulls = unchanged). One full outer equi-join on id,
   * hash computed in the scan on each side — no corpus ever collects.
   * Output: (id, status) for every id in either version.
   */
  def corpusDiff(oldDf: DataFrame, newDf: DataFrame, idCol: String,
                 textCol: String): DataFrame = {
    val o = oldDf.select(F.col(idCol).as("__cd_id"),
      F.md5(F.col(textCol)).as("__cd_oh"), F.lit(true).as("__cd_o"))
    val n = newDf.select(F.col(idCol).as("__cd_id"),
      F.md5(F.col(textCol)).as("__cd_nh"), F.lit(true).as("__cd_n"))
    o.join(n, Seq("__cd_id"), "full_outer")
      .select(F.col("__cd_id").as(idCol),
        F.when(F.col("__cd_o").isNull, "added")
          .when(F.col("__cd_n").isNull, "removed")
          .when(F.col("__cd_oh") <=> F.col("__cd_nh"), "unchanged")
          .otherwise("changed").as("status"))
  }

  /**
   * Incremental exact dedup — the new-crawl-versus-existing-corpus shape:
   * drop incoming rows whose content digest already exists in `existing`,
   * returning the surviving incoming rows unchanged. With
   * `normalize = true` the digest is over the sorted distinct token set
   * (same key as [[exactDedup]]), catching reorderings/repetitions.
   *
   * 100 TB shape: ONE left-anti hash join keyed on the md5 digest — both
   * sides partition on the digest, the existing corpus (usually the big
   * side) is never broadcast and never collected, and the digest projects
   * in each side's scan so only 16-byte keys shuffle, not text.
   */
  def dedupAgainstExact(incoming: DataFrame, existing: DataFrame,
                        textCol: String, normalize: Boolean = true): DataFrame = {
    def key(c: Column) =
      if (normalize) F.md5(F.array_join(normalizedTokens(c), " "))
      else F.md5(c)
    incoming.join(
      existing.select(key(F.col(textCol)).as("__da_key")).distinct(),
      key(incoming(textCol)) === F.col("__da_key"), "left_anti")
  }

  /**
   * Incremental NEAR dedup via banded MinHash-LSH: an incoming row drops
   * when it shares at least one LSH band bucket with an existing row AND
   * the exact merge-walk Jaccard of their hashed shingle sets clears
   * `threshold`. Returns the surviving incoming rows unchanged.
   *
   * 100 TB shape: both corpora shuffle on (band, bucket) — neither side
   * broadcasts; the existing side aggregates per bucket to a capped
   * sorted id array (`maxBucketSize` smallest, the [[minHashDedupPairs]]
   * truncation contract: candidates beyond the cap in a pathologically
   * hot bucket are not compared — auditable via [[minHashBucketAudit]]
   * over `existing`, or fatal with `strict = true`), so candidate
   * fan-out per bucket is bounded. Verification joins fetch only
   * candidate rows' shingle sets. Same recall note as
   * [[minHashDedupPairs]]: band parameters set the J-threshold
   * detection curve.
   */
  def dedupAgainstMinHash(incoming: DataFrame, existing: DataFrame,
                          idCol: String, textCol: String,
                          numHashes: Int = 128, bands: Int = 16,
                          shingleSize: Int = 3, threshold: Double = 0.7,
                          maxBucketSize: Int = 64,
                          strict: Boolean = false): DataFrame = {
    require(bands >= 1 && bands <= numHashes && numHashes % bands == 0,
      s"bands must divide numHashes (got numHashes=$numHashes bands=$bands)")
    def sides(df: DataFrame, idAs: String, hsAs: String, sigAs: String) =
      df.select(F.col(idCol).as(idAs),
          hashedShingles(F.col(textCol), shingleSize).as(hsAs))
        .select(F.col(idAs), F.col(hsAs),
          minHashOfHashed(F.col(hsAs), numHashes).as(sigAs))
    dedupAgainstCore(incoming, idCol,
      sides(incoming, "__in_id", "__in_hs", "__in_sig"),
      sides(existing, "__ex_id", "__ex_hs", "__ex_sig"),
      bands, numHashes / bands, threshold, maxBucketSize, strict,
      "dedupAgainstMinHash")
  }

  /** Hash-family tag stamped into [[buildMinHashIndex]] column metadata;
    * bumped if the shingle/minhash kernels ever change family (see the
    * signature-format note on [[minHashOfHashed]]). */
  val MinHashIndexFamily = "graft-xxh64-chain-v2"
  private val IdxNumHashes = "graft.minhash.numHashes"
  private val IdxShingleK = "graft.minhash.shingleSize"
  private val IdxFamily = "graft.minhash.family"

  /**
   * Persistent MinHash index of a corpus: one row per document with its
   * hashed shingle set and MinHash signature, self-describing via column
   * metadata (numHashes, shingleSize, hash family — all survive a parquet
   * roundtrip). Build it ONCE per corpus generation, write it with the
   * corpus, and run every incremental crawl through
   * [[dedupAgainstIndex]] — at 100 TB the existing side's
   * shingle+signature computation is the dominant cost of
   * [[dedupAgainstMinHash]], and the index amortizes it to zero across
   * crawls. Append survivors' index rows (`buildMinHashIndex` of the
   * surviving slice) to keep the index current.
   *
   * Schema: (idCol, mh_shingles: array<long>, mh_sig: array<long>).
   */
  def buildMinHashIndex(df: DataFrame, idCol: String, textCol: String,
                        numHashes: Int = 128, shingleSize: Int = 3): DataFrame = {
    val meta = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong(IdxNumHashes, numHashes.toLong)
      .putLong(IdxShingleK, shingleSize.toLong)
      .putString(IdxFamily, MinHashIndexFamily)
      .build()
    df.select(F.col(idCol),
        hashedShingles(F.col(textCol), shingleSize).as("mh_shingles"))
      .select(F.col(idCol), F.col("mh_shingles"),
        minHashOfHashed(F.col("mh_shingles"), numHashes).as("mh_sig", meta))
  }

  /**
   * Incremental NEAR dedup of `incoming` against a corpus represented by
   * its [[buildMinHashIndex]] output (in memory or read back from
   * parquet) — identical survivors to [[dedupAgainstMinHash]] against the
   * corpus itself, without touching the existing corpus' text: the
   * incoming side is shingled+sketched fresh (with the index's recorded
   * numHashes/shingleSize, so the two sides are comparable by
   * construction), the existing side streams straight out of the index.
   * Fails fast if the index lacks the self-describing metadata or was
   * built by a different hash family.
   */
  def dedupAgainstIndex(incoming: DataFrame, index: DataFrame,
                        idCol: String, textCol: String,
                        bands: Int = 16, threshold: Double = 0.7,
                        maxBucketSize: Int = 64,
                        strict: Boolean = false): DataFrame = {
    val meta = index.schema("mh_sig").metadata
    require(meta.contains(IdxNumHashes) && meta.contains(IdxShingleK)
        && meta.contains(IdxFamily),
      "index is missing graft.minhash.* column metadata - build it with " +
        "Dedup.buildMinHashIndex (and preserve the schema when persisting)")
    val family = meta.getString(IdxFamily)
    require(family == MinHashIndexFamily,
      s"index hash family '$family' does not match this build " +
        s"('$MinHashIndexFamily') - recompute the index rather than mixing " +
        "sketch generations")
    val numHashes = meta.getLong(IdxNumHashes).toInt
    val shingleSize = meta.getLong(IdxShingleK).toInt
    require(bands >= 1 && bands <= numHashes && numHashes % bands == 0,
      s"bands must divide the index's numHashes (got numHashes=$numHashes " +
        s"bands=$bands)")
    val inHashed = incoming
      .select(F.col(idCol).as("__in_id"),
        hashedShingles(F.col(textCol), shingleSize).as("__in_hs"))
      .select(F.col("__in_id"), F.col("__in_hs"),
        minHashOfHashed(F.col("__in_hs"), numHashes).as("__in_sig"))
    val exHashed = index.select(F.col(idCol).as("__ex_id"),
      F.col("mh_shingles").as("__ex_hs"), F.col("mh_sig").as("__ex_sig"))
    dedupAgainstCore(incoming, idCol, inHashed, exHashed,
      bands, numHashes / bands, threshold, maxBucketSize, strict,
      "dedupAgainstIndex")
  }

  /** Shared incremental-LSH core: both sides arrive as (id, hashed
    * shingles, signature); bucket on (band, bucket) with the capped /
    * strict existing side, verify candidates by exact merge-walk Jaccard,
    * return surviving incoming rows unchanged. */
  private def dedupAgainstCore(incoming: DataFrame, idCol: String,
                               inHashed: DataFrame, exHashed: DataFrame,
                               bands: Int, rowsPerBand: Int, threshold: Double,
                               maxBucketSize: Int, strict: Boolean,
                               op: String): DataFrame = {
    def buckets(hashed: DataFrame, id: String, sig: String) = hashed
      .select(F.col(id),
        F.explode(lshBuckets(F.col(sig), bands, rowsPerBand)).as("bk"))
      .select(F.col(id), F.col("bk.band").as("band"), F.col("bk.bucket").as("bucket"))
    // existing side: capped sorted id list per bucket (bounded fan-out)
    val exBuckets = buckets(exHashed, "__ex_id", "__ex_sig")
      .groupBy("band", "bucket")
      .agg(cappedBucketIds(F.collect_list(F.col("__ex_id")), maxBucketSize,
        strict, op).as("ex_ids"))
    val cands = buckets(inHashed, "__in_id", "__in_sig")
      .join(exBuckets, Seq("band", "bucket"))
      .select(F.col("__in_id"), F.explode(F.col("ex_ids")).as("__ex_id"))
      .distinct()
    // Verify joins fetch the shingle sets straight from the full-side
    // kernel tables (map-only under a broadcast of the small candidate
    // set). An r15 experiment semi-prefiltered both fetches to the
    // candidate ids; it measured 1.45× slower at 10× on
    // dedup_against_index (same-window A/B, controls ±7%) — the semi's
    // broadcast barriers plus one Catalyst-rebuilt copy of the mining
    // pipeline in the build side (RemoveRedundantAggregates collapses any
    // aggregate stacked on cands' distinct, severing exchange reuse)
    // outweigh the saved barrier-free kernel passes. See
    // minHashDedupPairs for the family-wide numbers.
    val verified = cands
      .join(inHashed.select("__in_id", "__in_hs"), Seq("__in_id"))
      .join(exHashed.select("__ex_id", "__ex_hs"), Seq("__ex_id"))
      .filter(sortedJaccard(F.col("__in_hs"), F.col("__ex_hs")) >= threshold)
      .select(F.col("__in_id")).distinct()
    incoming.join(verified, incoming(idCol) === F.col("__in_id"), "left_anti")
  }

  /**
   * Bloom-prefiltered incremental EXACT dedup — identical survivors to
   * [[dedupAgainstExact]], built for the case where `existing` is the
   * 100 TB side: a Bloom filter of the existing digests is built with
   * Spark's own distributed `BloomFilterAggregate` (one fixed-size sketch
   * reaches the driver — no key ever does), and only the incoming rows the
   * filter claims to know (true dups + the fpp sliver) pay the anti-join
   * shuffle; filter-negative rows are PROVABLY new (no false negatives)
   * and pass straight through. The anti-join re-checks every positive, so
   * a false positive costs a comparison, never a wrongly dropped row.
   *
   * Sizing: `expectedItems < 0` (default) counts `existing` first (one
   * cheap column-pruned pass) — pass the known corpus cardinality to skip
   * it. Bits are capped by Spark's
   * `spark.sql.optimizer.runtime.bloomFilter.{maxNumItems,maxNumBits}`
   * confs (defaults 4M items / 8 MB); beyond the cap the fpp degrades
   * gracefully — more rows take the anti-join path, correctness is
   * unaffected. Raise the confs for billion-document corpora (a 1e9-item
   * 1% filter is ~1.2 GB: broadcast-able, and still the cheapest pass
   * over a 100 TB existing side by far).
   */
  def dedupAgainstBloomExact(incoming: DataFrame, existing: DataFrame,
                             textCol: String, normalize: Boolean = true,
                             expectedItems: Long = -1L,
                             fpp: Double = 0.03): DataFrame = {
    require(fpp > 0.0 && fpp < 1.0, s"fpp must be in (0, 1), got $fpp")
    def key(c: Column) =
      if (normalize) F.md5(F.array_join(normalizedTokens(c), " "))
      else F.md5(c)
    val exKeys = existing.select(key(F.col(textCol)).as("__da_key"))
    val items = math.max(1L,
      if (expectedItems >= 0L) expectedItems else exKeys.count())
    val conf = org.apache.spark.sql.internal.SQLConf.get
    val maxItems = conf.getConf(
      org.apache.spark.sql.internal.SQLConf.RUNTIME_BLOOM_FILTER_MAX_NUM_ITEMS)
    val maxBits = conf.getConf(
      org.apache.spark.sql.internal.SQLConf.RUNTIME_BLOOM_FILTER_MAX_NUM_BITS)
    val cappedItems = math.min(items, maxItems)
    val bits = math.min(maxBits,
      org.apache.spark.util.sketch.BloomFilter.optimalNumOfBits(cappedItems, fpp))
    val bf = exKeys
      .select(GraftColumns.bloomFilterAgg(F.xxhash64(F.col("__da_key")),
        cappedItems, bits).as("bf"))
      .head().getAs[Array[Byte]](0)
    if (bf == null) return incoming // empty existing side: nothing to drop
    val maybe = GraftColumns.bloomMightContain(bf,
      F.xxhash64(key(incoming(textCol))))
    incoming.filter(!maybe)
      .unionByName(dedupAgainstExact(incoming.filter(maybe), existing,
        textCol, normalize))
  }

  /** Exact n-gram (word-set) Jaccard similarity pairs within a blocking key
    * (e.g. source): a grouped self-join, the exact blocked-comparison
    * baseline. Exact semantics by default: every row of every block
    * participates (`maxBlockSize = Int.MaxValue`). A caller that accepts
    * truncation for a known-skewed corpus can opt in to a cap, which keeps
    * the first `maxBlockSize` ids per block (deterministic) — but dropped
    * rows silently vanish from the result, so the scale path for unbounded
    * or skewed corpora is `minHashDedupPairs` (LSH candidates →
    * exact-Jaccard verify), not a cap. */
  def jaccardPairsWithin(df: DataFrame, idCol: String, textCol: String,
                         blockCol: String, threshold: Double,
                         maxBlockSize: Int = Int.MaxValue): DataFrame = {
    // Token SET as sorted distinct 64-bit hashes (hashedShingles with k=1):
    // the O(block²) pair loop then costs one merge walk over longs per pair
    // instead of interpreted string-array intersect+union.
    val d0 = df.select(F.col(blockCol).as("blk"), F.col(idCol).as("id"),
      GraftColumns.hashedShingles(F.split(F.col(textCol), " "), 1).as("ws"))
    val capped = if (maxBlockSize == Int.MaxValue) d0 else {
      val win = org.apache.spark.sql.expressions.Window
        .partitionBy("blk").orderBy("id")
      d0.withColumn("__rn", F.row_number().over(win))
        .filter(F.col("__rn") <= maxBlockSize)
        .drop("__rn")
    }
    val d = capped.withColumn("n", F.size(F.col("ws")))
    // Length banding: J >= t forces min(|A|,|B|)/max(|A|,|B|) >= t, so a
    // qualifying pair's floor(log2 |set|) values differ by at most
    // kSpan = ceil(log2(1/t)). Joining on (block, band) — with each row
    // duplicated into its own and the next kSpan bands — prunes
    // cross-length pairs BEFORE they materialize and raises join
    // parallelism from |blocks| to |blocks| x |bands|. The band is exact
    // integer arithmetic (length of the binary string), so coverage is
    // provable, and the post-join length filter keeps exactness anyway.
    val banded = if (threshold > 0.0 && threshold < 1.0) {
      var kSpan = 0
      while (math.pow(2, kSpan) * threshold < 1.0) kSpan += 1
      val band = F.length(F.bin(F.greatest(F.col("n"), F.lit(1)))) - 1
      d.withColumn("band", F.explode(F.sequence(band, band + kSpan)))
    } else d.withColumn("band", F.lit(0))
    val a = banded.select(F.col("blk"), F.col("band"), F.col("id").as("id_a"),
      F.col("ws").as("ws_a"), F.col("n").as("n_a"))
    val b = banded.select(F.col("blk"), F.col("band"), F.col("id").as("id_b"),
      F.col("ws").as("ws_b"), F.col("n").as("n_b"))
    // full-width probe parallelism under a broadcast build (see PairJoin:
    // without it the whole O(block²) loop runs in ONE scan task)
    val (aPar, bSide) = PairJoin.sides(a, b,
      Seq(F.col("blk"), F.col("band"), F.col("id_a")))
    aPar.join(bSide, Seq("blk", "band"))
      // the exact size prune (banding is a superset of it)
      .filter(F.col("id_a") < F.col("id_b") &&
        F.least(F.col("n_a"), F.col("n_b")).cast("double") >=
          F.lit(threshold) * F.greatest(F.col("n_a"), F.col("n_b")).cast("double"))
      .withColumn("jaccard", sortedJaccard(F.col("ws_a"), F.col("ws_b")))
      .filter(F.col("jaccard") >= threshold)
      .select(F.col("blk").as("block"), F.col("id_a"), F.col("id_b"), F.col("jaccard"))
      // same-band pairs meet in two shared bands; keep one copy
      .dropDuplicates("block", "id_a", "id_b")
  }

  /**
   * ExactSubstr-style duplicated-span detection (the exact-substring dedup
   * pass of Gopher / RefinedWeb, Lee et al. "Deduplicating Training Data
   * Makes Language Models Better"): for each document, maximal merged
   * token ranges built from the length-`n` windows that also appear in at
   * least one OTHER document — overlapping or abutting duplicated windows
   * merge, so a span may bridge a short (< `n`-token) non-duplicated gap;
   * it is the union of duplicated-window coverage, not a guarantee that
   * every interior window is itself duplicated. Returns one row per
   * (doc, span): `span_id`, `start_pos` (0-based token index), `end_pos`
   * (exclusive), `n_tokens`.
   * Intra-document repetition alone does not create a span (that signal is
   * [[TextStats.ngramRepetition]]); cross-doc sharing is counted by
   * distinct doc frequency >= 2.
   *
   * Shape at 100 TB (vs the reference suffix-array batch job): n-grams ride
   * as 64-bit fingerprints, never strings — posexplode (no shuffle) → gram
   * doc-frequency (one shuffle, map-side partial agg) → hash join back on
   * the gram → per-doc window + count-based span merge (one shuffle on the
   * doc id; the final groupBy reuses that partitioning). Equality is
   * fingerprint equality — a 64-bit collision could merge unrelated grams;
   * the oracle recomputes with literal gram strings, so collisions would
   * surface as a mismatch.
   */
  def duplicateSpans(df: DataFrame, idCol: String, textCol: String,
                     n: Int): DataFrame = {
    require(n >= 1, s"span n-gram size must be >= 1, got $n")
    val grams = df.select(F.col(idCol),
      F.posexplode(TextStats.ngramHashes(F.col(textCol), n, distinct = false))
        .as(Seq("pos", "gram")))
    val dupGrams = grams.groupBy("gram")
      .agg(F.count_distinct(F.col(idCol)).as("ndocs"))
      .filter(F.col("ndocs") >= 2)
      .select("gram")
    val hits = grams.join(dupGrams, Seq("gram")).select(F.col(idCol), F.col("pos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(idCol).orderBy("pos")
    // two length-n windows at pos p0 < p1 overlap or abut iff p1 <= p0 + n
    hits
      .withColumn("cut",
        F.when(F.col("pos") > F.lag("pos", 1).over(w) + n, 1).otherwise(0))
      .withColumn("span_id", F.sum("cut")
        .over(w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy(F.col(idCol), F.col("span_id"))
      .agg(F.min("pos").as("start_pos"),
        (F.max("pos") + n).as("end_pos"))
      .withColumn("n_tokens", F.col("end_pos") - F.col("start_pos"))
  }

  /**
   * EXACT-substring duplicated-span detection at CHARACTER granularity —
   * the verified tier beside the fingerprint-approximate, token-level
   * [[duplicateSpans]] (documented contract differences: characters vs
   * tokens; content-verified vs 64-bit-fingerprint trust; occurrence
   * count ≥ 2 over ALL sites — Lee et al.'s ExactSubstr convention, so a
   * within-document repeat qualifies — vs cross-doc distinct-doc
   * frequency). For each document: the maximal merged character ranges
   * covered by `k`-codepoint windows whose EXACT content occurs at ≥ 2
   * sites corpus-wide. Every duplicated substring of length ≥ `k` is
   * fully covered (all-positions enumeration — no sampling, no stride),
   * and no never-duplicated window can appear (candidates are re-grouped
   * by literal content before merging, so hash collisions die there).
   * Output: one row per (doc, span) — idCol, `span_start` (1-based
   * codepoint position, SQL `substr` convention), `span_len` (codepoints;
   * always ≥ k). Overlapping or abutting windows merge, so a span is the
   * union of duplicated-window coverage, same merge rule as
   * [[duplicateSpans]].
   *
   * Shape at 100 TB (vs the reference's monolithic suffix array, which
   * needs the corpus in one address space): candidates ride as 64-bit
   * rolling hashes from ONE kernel call per row — the posexplode carries
   * O(codepoints) (hash, pos) rows, the tier's documented contract-linear
   * cost, analogous to the token-explode rows ([[duplicateSpans]],
   * doc_entropy). The ≥2-site prefilter counts sites per hash (one
   * map-side-combinable count, one shuffle of (hash) rows) and keeps the
   * candidate sites by a left-semi join against the hashes seen at ≥ 2
   * sites — the kernel runs once under the count and once on the probe
   * side (two `charwindowhashes` Generate nodes, pinned in DedupSpec).
   * The content verify applies the same count + semi-join shape keyed
   * on the literal window string. Literal windows are extracted from
   * per-doc position lists (ONE text join per doc, never text-per-site)
   * and shuffled ONLY for candidate sites. Span merging is a per-doc
   * window — state bounded by one document's hit positions, never
   * corpus-wide.
   */
  def exactSubstrSpans(df: DataFrame, idCol: String, textCol: String,
                       k: Int): DataFrame = {
    require(k >= 1, s"window size must be >= 1, got $k")
    val id = F.col(idCol)
    val sites = df.select(id.as("__id"),
        F.posexplode(org.apache.spark.sql.graft.GraftColumns
          .charWindowHashes(F.col(textCol), k)).as(Seq("__p0", "__h")))
      .select(F.col("__id"), (F.col("__p0") + 1).cast("long").as("pos"),
        F.col("__h"))
    // hash prefilter: window contents POSSIBLY at >= 2 sites (equal
    // content always hashes equal -> no false negatives)
    val dupH = sites.groupBy("__h").agg(F.count(F.lit(1)).as("__n"))
      .filter(F.col("__n") >= 2L).select("__h")
    val cand = sites.join(dupH, Seq("__h"), "left_semi")
    // literal-content verify: per-doc candidate position lists, one text
    // join per doc, then group the extracted k-char windows by CONTENT
    val byDoc = cand.groupBy("__id")
      .agg(F.collect_list(F.col("pos")).as("__ps"))
    val extracted = byDoc
      .join(df.select(id.as("__id"), F.col(textCol).as("__t")), Seq("__id"))
      .select(F.col("__id"), F.explode(F.transform(F.col("__ps"), p =>
          F.struct(p.as("pos"),
            F.col("__t").substr(p.cast("int"), F.lit(k)).as("g"))))
        .as("__site"))
      .select(F.col("__id"), F.col("__site.pos").as("pos"),
        F.col("__site.g").as("__g"))
    val dupG = extracted.groupBy("__g").agg(F.count(F.lit(1)).as("__n"))
      .filter(F.col("__n") >= 2L).select("__g")
    val hits = extracted.join(dupG, Seq("__g"), "left_semi")
      .select("__id", "pos")
    // merge overlapping/abutting windows [pos, pos+k) into maximal spans
    val W = org.apache.spark.sql.expressions.Window
    val wPrev = W.partitionBy("__id").orderBy("pos")
      .rowsBetween(W.unboundedPreceding, -1)
    val wRun = W.partitionBy("__id").orderBy("pos")
      .rowsBetween(W.unboundedPreceding, 0)
    hits
      .withColumn("__brk",
        F.when(F.col("pos") > F.coalesce(
          F.max(F.col("pos") + F.lit(k.toLong)).over(wPrev),
          F.lit(Long.MinValue)), 1L).otherwise(0L))
      .withColumn("__isl", F.sum("__brk").over(wRun))
      .groupBy(F.col("__id"), F.col("__isl"))
      .agg(F.min("pos").as("span_start"),
        (F.max(F.col("pos") + F.lit(k.toLong)) - F.min(F.col("pos")))
          .as("span_len"))
      .select(F.col("__id").as(idCol), F.col("span_start"),
        F.col("span_len"))
  }

  /**
   * Apply [[duplicateSpans]]: rebuild each document's text with every
   * duplicated span's tokens removed — the ExactSubstr removal policy
   * (all copies go; "keep one representative" is [[dedupByClusters]]'s
   * whole-doc policy, not a span policy). Documents without spans pass
   * through unchanged; a fully-covered document becomes the empty string
   * (never a dropped row).
   *
   * Shape at 100 TB: one hash join of the corpus against the per-doc span
   * lists (spans are a tiny fraction of the corpus; AQE broadcasts when
   * small), then a pure codegen'd token filter — spans per doc are few,
   * so the per-token `exists` probe is O(spans) on a local array.
   */
  def stripDuplicateSpans(df: DataFrame, idCol: String, textCol: String,
                          spans: DataFrame): DataFrame = {
    require(!df.columns.contains("__spans"),
      "stripDuplicateSpans: __spans is reserved by this operator")
    val spanSets = spans.groupBy(idCol)
      .agg(F.collect_list(
        F.struct(F.col("start_pos"), F.col("end_pos"))).as("__spans"))
    df.join(spanSets, Seq(idCol), "left")
      .withColumn(textCol,
        F.when(F.col("__spans").isNull, F.col(textCol))
          .otherwise {
            val kept = F.filter(TextStats.tokens(F.col(textCol)), (_, i) =>
              !F.exists(F.col("__spans"), s =>
                i >= s.getField("start_pos") && i < s.getField("end_pos")))
            F.array_join(kept, " ")
          })
      .drop("__spans")
  }
}
