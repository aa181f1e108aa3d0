package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.{functions => F}

/**
 * Deterministic sampling for training-data mixes. Every operator keys its
 * randomness off a seeded avalanche hash of a stable id column instead of
 * `F.rand` — so samples are (a) reproducible run-to-run and engine-to-
 * engine (the hash is bounded integer arithmetic any SQL engine evaluates
 * identically — same family as `Sources.randomClock`), (b) stable under
 * repartitioning (no dependence on row order or partition count), and
 * (c) nested across rates: the 40% sample of a corpus contains its 20%
 * sample, which makes scaling laws / data-ablation curves comparable.
 *
 * The sampling shapes are single-scan (the quota variant adds one window
 * over the stratum key); [[packSequences]] adds one bucket-hash shuffle.
 * No global sorts, no collects anywhere.
 */
object Sampling {
  import graft.PortableHash.{mix32, HashMult}

  /** Deterministic uniform draw in [0, 1) from (id, seed) — the engine's
    * shared portable hash ([[graft.PortableHash]]). Exposed so callers can
    * build custom acceptance rules on the same randomness.
    *
    * Chaining contract: the THRESHOLD samplers ([[sampleByHash]],
    * [[sampleByRates]], [[sampleByWeight]], [[quotaPerStratum]]) all read
    * this one draw per (id, seed) BY DESIGN — chaining two of them on the
    * same id and seed yields the intersection (min-threshold) sample, the
    * documented nesting semantics, never an independent product; pass
    * distinct seeds when independent decisions are wanted. The
    * NON-threshold operators ([[assignSplits]], [[shufflePositions]])
    * instead mix a fixed per-operator salt ([[SplitSalt]],
    * [[ShuffleSalt]]) into their seed, because correlation with a prior
    * threshold sample is always a bug there (e.g. `sampleByHash(p = 0.5)`
    * survivors all have u < 0.5, which an unsalted 0.75/0.125/0.125 split
    * would route entirely into 'train', silently emptying the eval
    * splits). */
  def hashUnit(id: Column, seed: Long): Column =
    graft.PortableHash.hashUnit(id, seed)

  /** Seed salt mixed into [[assignSplits]]' draw so split assignment is
    * decorrelated from any threshold sample taken with the same base
    * seed (see the chaining contract on [[hashUnit]]). Mirrored by the
    * oracle SQL.
    *
    * UPGRADE BOUNDARY: the salts were introduced after the first release
    * of these operators, so an unchanged (id, seed) maps to a DIFFERENT
    * split/shuffle position than under the pre-salt code — corpora built
    * against the pre-salt version get reassigned on upgrade. The
    * "a row's split never changes" stability promise holds within a salt
    * era, not across it. Because the salt is mixed ADDITIVELY into the
    * seed (`seed + SplitSalt`), pinned pipelines that must reproduce
    * pre-salt assignments can pass `seed - SplitSalt`
    * (resp. `seed - ShuffleSalt`) — the draw is then bit-identical to the
    * old release; new pipelines should accept the one-time reassignment
    * for the decorrelation guarantee. */
  val SplitSalt = 4000037L

  /** Seed salt mixed into [[shufflePositions]]' sort key — same
    * decorrelation rationale and upgrade-boundary / reproduction note as
    * [[SplitSalt]] (an unsalted shuffle would front-load every prior
    * sample's survivors). */
  val ShuffleSalt = 5000011L

  /** Seeded Bernoulli sample: keep rows with `hashUnit(id) < rate`.
    * Deterministic, order-independent, and monotone in `rate` (nested
    * samples). One scan, filter fully pushable. */
  def sampleByHash(df: DataFrame, idCol: String, rate: Double,
                   seed: Long = 42L): DataFrame = {
    require(rate >= 0.0 && rate <= 1.0, s"rate must be in [0,1], got $rate")
    df.filter(hashUnit(F.col(idCol), seed) < rate)
  }

  /** Weighted (probability-proportional-to-weight) Poisson sample: row i
    * survives with probability `min(1, rate * w_i)` — the standard PPS
    * upweighting step of a training mix (quality-scored or source-scored
    * corpora). Same determinism contract as [[sampleByHash]] (seeded hash
    * of the id; order- and partition-independent; monotone in `rate`, so
    * samples nest). One scan, filter fully pushable; `rate * w` is a
    * single IEEE multiply, portable across engines. Negative weights are
    * rejected (per-row, loudly); weight 0 means never sampled; null
    * weights drop the row (the engine-wide null-input convention). */
  def sampleByWeight(df: DataFrame, idCol: String, weightCol: String,
                     rate: Double, seed: Long = 42L): DataFrame = {
    require(rate >= 0.0, s"rate must be >= 0, got $rate")
    val w = F.col(weightCol).cast("double")
    // p must be null (not 1.0) for null w: least() SKIPS null inputs, so
    // least(1.0, null) = 1.0 would keep every null-weight row. NaN is as
    // poisonous (least treats NaN as the LARGEST double -> p = 1.0), and
    // +Inf regenerates it (rate 0.0 * Inf = NaN), so any non-finite
    // weight is rejected with the negatives.
    val p = F.when(w.isNotNull, F.least(F.lit(1.0), F.lit(rate) * w))
    df.filter(F.when(w < 0.0 || F.isnan(w) || w === Double.PositiveInfinity,
        F.raise_error(F.lit(
          s"sampleByWeight: negative or non-finite weight in $weightCol")))
      .otherwise(hashUnit(F.col(idCol), seed) < p))
  }

  /** Deterministic named-split assignment (train/validation/test): append a
    * `split` column placing each row in `splits(i)._1` where the cumulative
    * fractions bracket `hashUnit(id)`. Fractions must sum to 1 (±1e-9); the
    * last split absorbs the rounding tail, so every row is assigned. Same
    * determinism contract as [[sampleByHash]]: order- and partition-
    * independent, reproducible engine-to-engine, and stable under corpus
    * growth (a row's split never changes when other rows arrive — the
    * property that keeps eval sets uncontaminated across corpus versions).
    * The draw is salted with [[SplitSalt]], so assignment is independent
    * of any threshold sample taken with the same base seed (see the
    * chaining contract on [[hashUnit]]). Rows with a NULL id get a NULL
    * split — not a silent seat in the last (typically eval) split — so
    * callers must handle or filter them explicitly. One scan, no shuffle;
    * the when-chain is pure codegen'd arithmetic. */
  def assignSplits(df: DataFrame, idCol: String, splits: Seq[(String, Double)],
                   seed: Long = 42L): DataFrame = {
    require(splits.nonEmpty, "assignSplits needs at least one split")
    require(splits.forall(_._2 >= 0.0), "split fractions must be >= 0")
    require(math.abs(splits.map(_._2).sum - 1.0) < 1e-9,
      s"split fractions must sum to 1, got ${splits.map(_._2).sum}")
    require(!df.columns.contains("split"),
      "assignSplits: input already has a split column")
    val u = hashUnit(F.col(idCol), seed + SplitSalt)
    val bounds = splits.scanLeft(0.0)(_ + _._2).tail
    val assigned = splits.init.zip(bounds.init).foldLeft(Option.empty[Column]) {
      case (acc, ((name, _), hi)) =>
        val cond = u < hi
        Some(acc.fold(F.when(cond, name))(_.when(cond, name)))
    }.fold(F.lit(splits.last._1))(_.otherwise(splits.last._1))
    df.withColumn("split",
      F.when(F.col(idCol).isNotNull, assigned))
  }

  /** Per-stratum rates (a training mix): rows in stratum s survive with
    * probability `rates(s)` (else `defaultRate`). The rates ride in as a
    * broadcast-joined two-column frame, so the mix scales to any number of
    * strata without a when-chain. */
  def sampleByRates(df: DataFrame, strataCol: String, idCol: String,
                    rates: Map[String, Double], defaultRate: Double = 0.0,
                    seed: Long = 42L): DataFrame = {
    require((defaultRate +: rates.values.toSeq).forall(r => r >= 0.0 && r <= 1.0),
      "all rates must be in [0,1]")
    val spark = df.sparkSession
    import spark.implicits._
    val ratesDF = rates.toSeq.toDF(strataCol, "__rate")
    df.join(F.broadcast(ratesDF), Seq(strataCol), "left")
      .withColumn("__rate", F.coalesce(F.col("__rate"), F.lit(defaultRate)))
      .filter(hashUnit(F.col(idCol), seed) < F.col("__rate"))
      .drop("__rate")
  }

  /** Temperature-flattened per-stratum sampling rates — the standard
    * multilingual/source rebalancing step: stratum s gets expected share
    * ∝ n_s^alpha (alpha = 1/T < 1 flattens the mix toward uniform), so
    * the rate is `min(1, targetRows · w_s / (n_s · Σ w_t))` with
    * `w_s = n_s^alpha`. Returns stratum → rate, ready for
    * [[sampleByRates]]; strata with null keys are ignored (no stable
    * rate key). Alpha is restricted to {1.0, 0.5, 0.25}: those exponents
    * evaluate as sqrt compositions, which are IEEE-correctly-rounded and
    * therefore bit-identical on every engine — a pow() mirror could flip
    * a hash-threshold comparison. Σ w_t folds over strata sorted by name
    * so the sum is reproducible too. One counting aggregation; the
    * result is |strata| model parameters, never data. */
  def temperatureRates(df: DataFrame, strataCol: String, alpha: Double,
                       targetRows: Long): Map[String, Double] = {
    require(targetRows >= 0, s"targetRows must be >= 0, got $targetRows")
    val w: Double => Double = alpha match {
      case 1.0 => identity
      case 0.5 => math.sqrt
      case 0.25 => x => math.sqrt(math.sqrt(x))
      case a => throw new IllegalArgumentException(
        s"alpha must be one of 1.0, 0.5, 0.25 (sqrt-exact), got $a")
    }
    val counts = df.groupBy(F.col(strataCol)).agg(F.count(F.lit(1)).as("n"))
      .collect()
      .flatMap(r => Option(r.get(0)).map(k => k.toString -> r.getLong(1)))
      .sortBy(_._1)
    val total = counts.foldLeft(0.0) { case (acc, (_, n)) => acc + w(n.toDouble) }
    counts.map { case (k, n) =>
      k -> math.min(1.0, targetRows.toDouble * w(n.toDouble) / (n.toDouble * total))
    }.toMap
  }

  /** Per-stratum sampling rates hitting explicit target mixture shares
    * under a total weight budget — the "rebalance the corpus to this
    * recipe" step (e.g. DoReMi-style domain weights applied as static
    * downsampling): stratum s should contribute `share_s · budget` weight
    * (tokens, chars — whatever `weightCol` measures), so its rate is
    * `min(1, share_s · budget / W_s)` with `W_s` the stratum's current
    * total weight. Returns the full audit table `(stratum, n_weight,
    * target_share, rate, expected_weight)` — one row per stratum present
    * in the data OR named in `targets` (a target naming a missing/empty
    * stratum gets `rate` 1.0 and 0 expected weight, visible rather than
    * silently dropped; a data stratum without a target gets share 0 and
    * rate 0). Feed `rate` to [[sampleByRates]].
    *
    * Scale shape: ONE map-side-combinable weight aggregation (|strata|
    * rows out) joined to the tiny targets frame — the join inputs are
    * both model-parameter-sized, so join strategy is irrelevant. All
    * arithmetic is the same IEEE double shapes on every engine
    * (share · budget / weight, min with 1.0), so downstream
    * hash-threshold comparisons reproduce exactly. */
  def mixtureRates(df: DataFrame, strataCol: String, weightCol: String,
                   targets: Seq[(String, Double)],
                   budget: Long): DataFrame = {
    require(targets.nonEmpty, "mixtureRates needs at least one target")
    require(targets.forall(_._2 >= 0.0), "target shares must be >= 0")
    require(targets.map(_._1).distinct.size == targets.size,
      "target strata must be distinct")
    require(budget >= 0, s"budget must be >= 0, got $budget")
    val spark = df.sparkSession
    import spark.implicits._
    val weights = df.groupBy(F.col(strataCol).as("stratum"))
      .agg(F.sum(F.col(weightCol).cast("long")).as("n_weight"))
    val targetsDf = targets.toDF("stratum", "target_share")
    weights.join(targetsDf, Seq("stratum"), "full_outer")
      .select(
        F.col("stratum"),
        F.coalesce(F.col("n_weight"), F.lit(0L)).as("n_weight"),
        F.coalesce(F.col("target_share"), F.lit(0.0)).as("target_share"))
      .withColumn("rate",
        F.when(F.col("n_weight") <= 0L, F.lit(1.0)).otherwise(
          F.least(F.lit(1.0),
            F.col("target_share") * budget / F.col("n_weight"))))
      .withColumn("expected_weight", F.col("rate") * F.col("n_weight"))
  }

  /** Deterministic fixed quota per stratum: the `n` rows of each stratum
    * with the smallest hash values (hash order = a stable pseudo-random
    * order; ties broken by id).
    *
    * Scale shape: a naive `row_number() OVER (PARTITION BY strata ORDER BY
    * hash)` sorts each stratum in ONE task — with 3 hot strata over a
    * 100 TB corpus that is three giant single-task sorts. Instead this
    * runs two-pass threshold selection: (1) per-stratum counts (map-side-
    * combinable agg, |strata| rows out); (2) filter to `hash < t_s` where
    * `t_s = (n + 10*sqrt(n) + 100) / N_s` — for the uniform portable hash
    * that keeps the true top-n with overwhelming probability while passing
    * only ~n rows per stratum; (3) the exact trim window runs over those
    * ~n candidate rows, not the corpus. Exactness is UNCONDITIONAL, not
    * probabilistic: candidate counts are certified against `min(n, N_s)`,
    * and any under-filled stratum (possible only if the hash were grossly
    * non-uniform within it) falls back to the full window. The check is
    * eager and the fallback branch (and its anti/semi joins) is omitted
    * from the plan entirely when every stratum certifies — the common
    * case. The bulk data is only ever scanned and filtered, never sorted
    * or shuffled whole. Note this operator runs a certification job at
    * call time (over ~n candidates per stratum, not the corpus). */
  def quotaPerStratum(df: DataFrame, strataCols: Seq[String], idCol: String,
                      n: Int, seed: Long = 42L): DataFrame = {
    require(n >= 0, s"quota must be >= 0, got $n")
    require(strataCols.nonEmpty, "quotaPerStratum needs at least one stratum column")
    val reserved = Seq("__q_hash", "__q_n", "__q_t", "__q_c", "__q_rn")
    reserved.foreach(c => require(!df.columns.contains(c),
      s"quotaPerStratum: $c is reserved by this operator"))
    if (n == 0) return df.filter(F.lit(false))
    val outCols = df.columns.toSeq.map(F.col)
    val strata = strataCols.map(F.col)
    val data = df.withColumn("__q_hash", hashUnit(F.col(idCol), seed))

    // pass 1: stratum sizes -> per-stratum hash threshold
    val counts = data.groupBy(strata: _*)
      .agg(F.count(F.lit(1)).as("__q_n"))
      .withColumn("__q_t", F.least(F.lit(1.0),
        F.lit(n + 10.0 * math.sqrt(n.toDouble) + 100.0) / F.col("__q_n")))
    // null-safe equality: a null stratum is a group (window semantics),
    // and a plain join would silently drop it
    def nullSafe(prefix: String) =
      strataCols.map(c => F.col(c) <=> F.col(s"$prefix$c")).reduce(_ && _)
    def prefixed(src: DataFrame, prefix: String, extra: Seq[String]) =
      src.select(strataCols.map(c => F.col(c).as(s"$prefix$c")) ++
        extra.map(F.col): _*)

    // pass 2: threshold filter — AQE broadcasts the tiny counts side
    val candidates = data
      .join(prefixed(counts, "__qs_", Seq("__q_n", "__q_t")), nullSafe("__qs_"))
      .filter(F.col("__q_hash") < F.col("__q_t"))

    // certify: every stratum must have >= min(n, N_s) candidates, else its
    // threshold missed part of the true top-n (left join so a stratum with
    // ZERO candidates is still caught)
    val candCounts = candidates.groupBy(strata: _*)
      .agg(F.count(F.lit(1)).as("__q_c"))
    val bad = prefixed(counts, "__qb_", Seq("__q_n"))
      .join(candCounts, strataCols.map(c =>
        F.col(s"__qb_$c") <=> F.col(c)).reduce(_ && _), "left")
      .filter(F.coalesce(F.col("__q_c"), F.lit(0L)) <
        F.least(F.lit(n.toLong), F.col("__q_n")))
      .select(strataCols.map(c => F.col(s"__qb_$c")): _*)

    // pass 3: exact trim over the ~n candidates per stratum.
    // The certification check is EAGER (one job over the candidate set,
    // which is ~n rows per stratum, not the corpus): in the common case
    // where every stratum certifies, the returned plan is just the window
    // over the candidates — no anti/semi joins, no fallback union, and no
    // third shuffle of the candidate set. Only when a stratum genuinely
    // under-fills does the plan grow the exclusion join + full-window
    // fallback branch.
    val w = Window.partitionBy(strata: _*)
      .orderBy(F.col("__q_hash").asc, F.col(idCol).asc)
    val anyBad = !bad.isEmpty
    if (!anyBad) {
      candidates
        .withColumn("__q_rn", F.row_number().over(w))
        .filter(F.col("__q_rn") <= n)
        .select(outCols: _*)
    } else {
      val trimmed = candidates
        .join(bad, nullSafe("__qb_"), "left_anti")
        .withColumn("__q_rn", F.row_number().over(w))
        .filter(F.col("__q_rn") <= n)
        .select(outCols: _*)
      // fallback: full-stratum window for uncertified strata
      val fallback = data
        .join(bad, nullSafe("__qb_"), "left_semi")
        .withColumn("__q_rn", F.row_number().over(w))
        .filter(F.col("__q_rn") <= n)
        .select(outCols: _*)
      trimmed.unionByName(fallback)
    }
  }

  /**
   * Greedy budget fill: keep exactly the rows a single descending
   * (`scoreCol`, then ascending `idCol`) scan would keep while the running
   * `tokensCol` total stays within `budget` — "fill the training budget
   * with the best documents". A row is kept iff the tokens of all
   * strictly-better rows plus its own fit in `budget`.
   *
   * Scale shape: the naive form is a GLOBAL sort + running window — one
   * task holding the corpus. Instead this walks range refinements: each
   * round buckets the current candidate score range into `refineBuckets`
   * sub-ranges with ONE map-side-combinable aggregation, keeps every
   * bucket that fits wholly, and recurses into the single boundary
   * bucket — O(log) full-scan aggregations, never a corpus sort or
   * shuffle of the data itself. Ties at the final boundary score refine
   * the same way on id. The exact running-sum window runs only over the
   * terminal slice (≤ `sliceCap` rows, certified). Rows with null/NaN
   * score or null/negative tokens fail loudly (selection order would be
   * undefined). Like [[quotaPerStratum]], the driver-side walk runs
   * aggregation jobs at call time — model-parameter-sized results only.
   *
   * The FINAL filter deliberately re-evaluates the score expression on
   * the raw input (one extra linear kernel scan): the alternative — a
   * semi-join against the cached kept ids — would shuffle the full-width
   * corpus (kept is typically a constant fraction of it, far past any
   * broadcast ceiling), and a corpus shuffle loses to a corpus scan at
   * every scale. Callers who already materialized the score pay nothing
   * extra.
   */
  def selectTopByBudget(df: DataFrame, idCol: String, tokensCol: String,
                        scoreCol: String, budget: Long,
                        refineBuckets: Int = 1024,
                        sliceCap: Long = 262144): DataFrame = {
    require(budget >= 0, s"budget must be >= 0, got $budget")
    selectTopCore(df, idCol, tokensCol, scoreCol, _ => budget,
      refineBuckets, sliceCap)
  }

  /**
   * [[selectTopByBudget]] with the budget given as a FRACTION of the
   * corpus token total: `budget = ⌊total · num / den⌋` (exact integer
   * arithmetic). The point is one fewer corpus pass: the common caller
   * shape ("fill half the budget") first aggregated the total itself and
   * then called the absolute form — whose head pass re-aggregates the
   * same total. Here the head pass's total IS the budget input, so the
   * caller's pre-aggregation scan disappears and the selected set is
   * bit-identical to `selectTopByBudget(df, …, total·num/den)`.
   */
  def selectTopByBudgetFraction(df: DataFrame, idCol: String,
                                tokensCol: String, scoreCol: String,
                                num: Long, den: Long,
                                refineBuckets: Int = 1024,
                                sliceCap: Long = 262144): DataFrame = {
    require(num >= 0 && den >= 1,
      s"need num >= 0 and den >= 1, got $num/$den")
    selectTopCore(df, idCol, tokensCol, scoreCol,
      t => ((BigInt(t) * num) / den).toLong, refineBuckets, sliceCap)
  }

  private def selectTopCore(df: DataFrame, idCol: String, tokensCol: String,
                            scoreCol: String, budgetOf: Long => Long,
                            refineBuckets: Int,
                            sliceCap: Long): DataFrame = {
    require(refineBuckets >= 2 && sliceCap >= 1, "bad refinement parameters")
    val id = F.col(idCol)
    val tok = F.col(tokensCol).cast("long")
    val sc = F.col(scoreCol).cast("double")

    // The refinement walk re-aggregates its candidate set O(log) times;
    // doing that against the raw input would recompute the (often
    // expensive) score expression per pass. Cache the narrow
    // (id, tokens, score) projection instead — 16-24 bytes/row, the one
    // thing that IS cacheable at corpus scale — and leave the full-width
    // input untouched until the single final filter/join. Lineage stays
    // intact, so the lazy result remains valid after the unpersist.
    val proj = df.select(id, F.col(tokensCol), F.col(scoreCol))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // hygiene + totals + score range in one pass (also builds the cache)
    val head = proj.agg(
      F.count(F.lit(1)).as("n"),
      F.coalesce(F.sum(tok), F.lit(0L)).as("t"),
      F.coalesce(F.sum(F.when(tok.isNull || tok < 0L || sc.isNull ||
        F.isnan(sc), 1L).otherwise(0L)), F.lit(0L)).as("bad"),
      F.min(sc).as("smin"), F.max(sc).as("smax")).head()
    require(head.getLong(2) == 0L,
      s"selectTopByBudget: null/negative $tokensCol or null/NaN $scoreCol")
    val budget = budgetOf(head.getLong(1))
    require(budget >= 0, s"budget must be >= 0, got $budget")
    if (head.getLong(0) == 0L || head.getLong(1) <= budget) {
      proj.unpersist(blocking = false)
      return df // empty, or everything fits
    }

    /** Refine one ordering level over `value` within candidate predicate
      * `base`, walking buckets of [lo, hi] in take-order (`asc` = take
      * small values first). Returns (definitely-kept predicate, tokens
      * they consume, terminal boundary-slice predicate). Terminates when
      * the boundary slice is <= sliceCap rows or its range stops
      * splitting (ulp-narrow). */
    def walk(value: Column, asc: Boolean, lo0: Double, hi0: Double,
             base: Column, budget0: Long): (Column, Long, Column) = {
      var lo = lo0; var hi = hi0
      var kept: Column = F.lit(false)
      var remaining = budget0
      var slice: Column = base
      var done = hi - lo <= math.ulp(math.max(math.abs(lo), math.abs(hi))) * 4
      while (!done) {
        val width = (hi - lo) / refineBuckets
        val raw = if (asc) (value - lo) / width else (F.lit(hi) - value) / width
        val b = F.least(F.greatest(F.floor(raw), F.lit(0)),
          F.lit(refineBuckets - 1L)).cast("int")
        val agg = proj.filter(slice)
          .groupBy(b.as("__b"))
          .agg(F.sum(tok).as("__t"), F.count(F.lit(1)).as("__c"))
          .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2)))
          .toMap
        var i = 0
        var boundary = -1
        while (i < refineBuckets && boundary < 0) {
          agg.get(i).foreach { case (t, _) =>
            if (t <= remaining) remaining -= t else boundary = i
          }
          i += 1
        }
        if (boundary < 0) {
          // every candidate fits (possible when an earlier level already
          // consumed the overflow): all kept, no boundary slice
          kept = kept || slice
          slice = F.lit(false)
          done = true
        } else {
          // each present bucket before the boundary was taken whole — one
          // comparison covers them (absent buckets contribute nothing)
          if (boundary > 0) kept = kept || (slice && b < boundary)
          val (bLo, bHi) =
            if (asc) (lo + boundary * width, lo + (boundary + 1) * width)
            else (hi - (boundary + 1) * width, hi - boundary * width)
          slice = slice && b === boundary
          val rows = agg(boundary)._2
          if (rows <= sliceCap ||
              bHi - bLo <= math.ulp(math.max(math.abs(bLo),
                math.abs(bHi))) * 4) done = true
          else { lo = bLo; hi = bHi }
        }
      }
      (kept, budget0 - remaining, slice)
    }

    val (keptS, usedS, sliceS) =
      walk(sc, asc = false, head.getDouble(3), head.getDouble(4),
        F.lit(true), budget)
    var remaining = budget - usedS
    var kept = keptS
    var terminal = sliceS

    // if the boundary slice is still over the cap, its score range was
    // ulp-narrow: at most a handful of representable score values — take
    // whole values while they fit, then refine by id INSIDE the single
    // boundary value (order there is id-ascending by definition)
    val sliceRows =
      proj.filter(terminal).agg(F.count(F.lit(1))).head().getLong(0)
    if (sliceRows > sliceCap) {
      val vals = proj.filter(terminal).groupBy(sc.as("__s"))
        .agg(F.sum(tok).as("__t"), F.count(F.lit(1)).as("__c"))
        .collect().map(r => (r.getDouble(0), r.getLong(1), r.getLong(2)))
        .sortBy(v => -v._1)
      var boundaryVal: Option[(Double, Long)] = None
      for ((v, t, c) <- vals if boundaryVal.isEmpty) {
        if (t <= remaining) { remaining -= t; kept = kept || (terminal && sc === v) }
        else boundaryVal = Some((v, c))
      }
      boundaryVal match {
        case None => terminal = F.lit(false)
        case Some((v, c)) =>
          val vSlice = terminal && sc === v
          // the id-refinement walk buckets on id cast to double, which
          // only exists for numeric ids (ANSI mode raises on a string
          // cast; an all-null cast would NPE the min/max below) — for any
          // other id type hand the whole boundary-value slice to the
          // exact window: slower than certified-small, but correct
          val idNumeric = df.schema(idCol).dataType
            .isInstanceOf[org.apache.spark.sql.types.NumericType]
          if (c <= sliceCap || !idNumeric) terminal = vSlice
          else {
            val idStats = proj.filter(vSlice)
              .agg(F.min(id.cast("double")), F.max(id.cast("double"))).head()
            if (idStats.isNullAt(0) || idStats.isNullAt(1)) terminal = vSlice
            else {
              val (k2, u2, s2) = walk(id.cast("double"), asc = true,
                idStats.getDouble(0), idStats.getDouble(1), vSlice, remaining)
              kept = kept || k2
              remaining -= u2
              terminal = s2
            }
          }
      }
    }

    // exact finish: running (score desc, id asc) prefix sum over the
    // certified-small terminal slice; def: a row is kept iff all
    // strictly-better rows' tokens plus its own fit the budget
    val w = Window.orderBy(sc.desc, id.asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val keptIds = proj.filter(terminal)
      .withColumn("__cum", F.sum(tok).over(w))
      .filter(F.col("__cum") <= remaining)
      .select(id.as("__keep_id"))
    proj.unpersist(blocking = false)
    df.filter(kept)
      .unionByName(df.join(keptIds, id === F.col("__keep_id"), "left_semi"))
  }

  /**
   * Sequence packing: assign each document to a fixed-token-budget pack
   * (the step that turns a filtered corpus into training sequences).
   * Documents are spread across `numBuckets` independent streams by a
   * seeded hash of the id, then each stream is greedily filled in hash
   * order: a running token total, cut whenever the budget would overflow.
   * Appends `pack_bucket`, `pack_id` (unique with bucket), and
   * `pack_offset` (the document's token start inside its pack).
   *
   * Scale shape: packing needs SOME serial order, but training packs don't
   * need a global one — bucketing caps each sequential stream at |corpus| /
   * numBuckets rows and keeps everything deterministic (same inputs ->
   * same packs, any input partitioning). The greedy fill is EXACT (running
   * remainder, not the cumsum/floor approximation, which mis-assigns any
   * document that straddles a budget boundary): one hash shuffle on the
   * bucket, then an O(1)-state scan per bucket — the same execution shape
   * as the per-row EMA. Documents longer than `budget` get a pack of their
   * own (never silently dropped — callers chunk or filter first).
   */
  def packSequences(df: DataFrame, idCol: String, tokensCol: String,
                    budget: Long, numBuckets: Int = 1024,
                    seed: Long = 42L): DataFrame = {
    require(budget > 0, s"budget must be > 0, got $budget")
    require(numBuckets > 0, s"numBuckets must be > 0, got $numBuckets")
    val bucket = F.pmod(mix32(F.col(idCol) + seed), F.lit(numBuckets.toLong))
    val withB = df.withColumn("pack_bucket", bucket)
    // greedy fill = one O(1)-state sequential pass per bucket, over
    // bucket-hash-partitioned, (bucket, hash, id)-sorted rows
    val parted = withB.repartition(F.col("pack_bucket"))
      .sortWithinPartitions(F.col("pack_bucket"),
        hashUnit(F.col(idCol), seed + HashMult).asc, F.col(idCol).asc)
    val tIdx = withB.schema.fieldIndex(tokensCol)
    val bIdx = withB.schema.fieldIndex("pack_bucket")
    val outSchema = org.apache.spark.sql.types.StructType(
      withB.schema.fields :+
        org.apache.spark.sql.types.StructField("pack_id",
          org.apache.spark.sql.types.LongType, nullable = false) :+
        org.apache.spark.sql.types.StructField("pack_offset",
          org.apache.spark.sql.types.LongType, nullable = false))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    parted.mapPartitions { it =>
      var curBucket = Long.MinValue
      var packId = 0L
      var fill = 0L
      it.map { r =>
        val b = r.getLong(bIdx)
        if (b != curBucket) { curBucket = b; packId = 0L; fill = 0L }
        if (r.isNullAt(tIdx)) throw new IllegalArgumentException(
          s"packSequences: null $tokensCol (filter or impute token counts first)")
        val t = r.get(tIdx).asInstanceOf[Number].longValue()
        if (fill > 0L && fill + t > budget) { packId += 1; fill = 0L }
        val offset = fill
        fill += t
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ packId :+ offset)
      }
    }(enc)
  }

  /**
   * Deterministic global corpus shuffle: order rows by the seeded hash of
   * the id (ties by id) and append the 0-based position `shuffle_pos` —
   * the "shuffle the corpus before sharding epochs" step, reproducible
   * run-to-run and independent of input partitioning.
   *
   * Scale shape: one range-partitioned distributed sort
   * (`repartitionByRange` + `sortWithinPartitions`: sampled range
   * boundaries, so the hash keys spread uniformly across tasks at any
   * input size, where a plain `orderBy` of a small input plans as one
   * partition), then `zipWithIndex` for the global
   * position: a count job over partition sizes plus an O(1)-state local
   * scan — never a single-partition window (`row_number() OVER (ORDER BY
   * …)` would serialize the corpus through one task, which is exactly the
   * shape this avoids).
   *
   * NOTE: `zipWithIndex` runs its partition-size job EAGERLY — calling
   * this method executes the sort stage once at call time. Downstream
   * actions reuse the sort's shuffle files (the exchange stage is
   * skipped, not recomputed), so the cost is paid once.
   */
  def shufflePositions(df: DataFrame, idCol: String, seed: Long = 42L): DataFrame = {
    require(!df.columns.contains("shuffle_pos"),
      "shufflePositions: input already has a shuffle_pos column")
    require(!df.columns.contains("__u"),
      "shufflePositions: __u is reserved by this operator")
    // ShuffleSalt decorrelates the order from threshold samples on the
    // same base seed (see the chaining contract on hashUnit)
    val order = Seq(F.col("__u").asc, F.col(idCol).asc)
    val sorted = df.withColumn("__u", hashUnit(F.col(idCol), seed + ShuffleSalt))
      .repartitionByRange(order: _*).sortWithinPartitions(order: _*)
    val outSchema = org.apache.spark.sql.types.StructType(
      df.schema.fields :+ org.apache.spark.sql.types.StructField(
        "shuffle_pos", org.apache.spark.sql.types.LongType, nullable = false))
    val uIdx = sorted.schema.fieldIndex("__u")
    val rdd = sorted.rdd.zipWithIndex().map { case (r, i) =>
      val vals = r.toSeq.zipWithIndex.collect { case (v, j) if j != uIdx => v }
      org.apache.spark.sql.Row.fromSeq(vals :+ i)
    }
    sorted.sparkSession.createDataFrame(rdd, outSchema)
  }
}
