package graft.ts

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.WindowSpec
import org.apache.spark.sql.{functions => F}

/**
 * Evaluation context threaded through summarizer recipes: an optional row
 * pre-filter (≙ SummarizerFactory.where) and an optional window spec. Every
 * factory wraps its *aggregate calls* in [[SummarizerCtx.agg]], so the same
 * recipe evaluates as a grouped aggregate (`groupBy(..).agg(..)`) or as a
 * window function (`agg.over(w)`) — which is how the five aggregation modes
 * of the reference all share one summarizer library.
 */
final case class SummarizerCtx(
    pred: Option[Column], win: Option[WindowSpec],
    rec: Option[scala.collection.mutable.LinkedHashMap[String, Column]] = None) {
  /** Apply the window spec (if any) to an aggregate expression; when a
    * recorder is attached (summarizeState), also collect the distinct base
    * aggregates the recipe is built from. */
  def agg(c: Column): Column = {
    rec.foreach(_.getOrElseUpdate(c.toString, c))
    win.map(c.over).getOrElse(c)
  }
  /** Filtered input: aggregates skip nulls, so `when(pred, x)` ≡ FILTER (WHERE pred). */
  def in(c: Column): Column = pred.map(p => F.when(p, c)).getOrElse(c)
  def in(name: String): Column = in(F.col(name))
}

/**
 * Summarizer algebra, re-expressed as named Catalyst aggregate columns
 * (cf. /root/reference/src/main/scala/com/twosigma/flint/timeseries/Summarizers.scala,
 * naming convention `<inputCols>_<statName>` per
 * timeseries/summarize/Summarizer.scala:61-87).
 *
 * Every output is a plain Catalyst expression, so Spark performs partial
 * (map-side) aggregation automatically and everything stays inside
 * whole-stage codegen — no row-at-a-time summarizer interpreter.
 *
 * Numeric note: the reference uses Neumaier/Kahan compensated summation
 * (math/Kahan.java:29-88). Spark's codegen'd `sum` is plain summation; a
 * Kahan-compensated Aggregator is available via [[Summarizers.kahanSum]]
 * when reproducibility matters more than codegen throughput.
 */
final case class Summarizer(
    private val build: SummarizerCtx => Seq[(String, Column)],
    private val pred: Option[Column] = None,
    private val pfx: Option[String] = None) {

  /** Named aggregate expressions (un-aliased), for grouped evaluation. */
  def namedOutputs: Seq[(String, Column)] = namedOutputs(None)

  /** Named expressions with every aggregate evaluated over `win`. */
  def namedOutputs(win: Option[WindowSpec]): Seq[(String, Column)] =
    build(SummarizerCtx(pred, win)).map { case (n, c) =>
      (pfx.map(p => s"${p}_$n").getOrElse(n), c)
    }

  /** The aliased aggregate columns this summarizer produces. */
  def outputs: Seq[Column] = namedOutputs.map { case (n, c) => c.as(n) }

  def names: Seq[String] = namedOutputs.map(_._1)

  /** Pre-filter rows entering the aggregate (≙ SummarizerFactory.where). */
  def where(p: Column): Summarizer = copy(pred = Some(pred.fold(p)(_ && p)))

  /** Prefix all output column names (≙ .prefix). */
  def prefix(p: String): Summarizer = copy(pfx = Some(p))

  /** Product of summarizers (≙ Summarizers.compose); each side keeps its own
    * where/prefix. */
  def ++(other: Summarizer): Summarizer = {
    val (a, b) = (this, other)
    Summarizer(ctx => a.withCtx(ctx) ++ b.withCtx(ctx))
  }

  private[ts] def withCtx(ctx: SummarizerCtx): Seq[(String, Column)] = {
    val merged = SummarizerCtx(
      (pred, ctx.pred) match {
        case (Some(a), Some(b)) => Some(a && b)
        case (a, b) => a.orElse(b)
      },
      ctx.win, ctx.rec)
    build(merged).map { case (n, c) => (pfx.map(p => s"${p}_$n").getOrElse(n), c) }
  }
}

object Summarizers {

  def compose(ss: Summarizer*): Summarizer = ss.reduce(_ ++ _)

  /** Same-schema summarizers evaluated side by side as one array-of-structs
    * column `stack` (≙ Summarizers.stack, reference Summarizers.scala:441 /
    * StackSummarizerFactory.scala:24). Each element keeps its own
    * where/prefix; all elements must produce identical output names. */
  def stack(ss: Summarizer*): Summarizer = {
    require(ss.nonEmpty, "stack requires at least one summarizer")
    val names = ss.head.names
    require(ss.forall(_.names == names),
      s"stack requires identical output schemas; got ${ss.map(_.names)}")
    Summarizer(ctx => Seq("stack" -> F.array(ss.map(s =>
      F.struct(s.withCtx(ctx).map { case (n, c) => c.as(n) }: _*)): _*)))
  }

  // ------------------------------------------------------------- basic stats

  /** Row count; column `count` (≙ Summarizers.count, Summarizers.scala:51). */
  def count(): Summarizer =
    Summarizer(c => Seq("count" -> c.agg(F.count(c.in(F.lit(1))))))

  /** Non-null count of a column; `<c>_count` (Summarizers.scala:61). */
  def count(x: String): Summarizer =
    Summarizer(c => Seq(s"${x}_count" -> c.agg(F.count(c.in(x)))))

  /** Σ; `<c>_sum` (Summarizers.scala:72). */
  def sum(x: String): Summarizer =
    Summarizer(c => Seq(s"${x}_sum" -> c.agg(F.sum(c.in(x)))))

  /** Kahan-compensated Σ; same output name as [[sum]]. */
  def kahanSum(x: String): Summarizer =
    Summarizer(c => Seq(s"${x}_sum" ->
      c.agg(graft.ts.agg.KahanAggregates.kahanSum(c.in(x).cast("double")))))

  /** Arithmetic mean; `<c>_mean` (Summarizers.scala:106). */
  def mean(x: String): Summarizer =
    Summarizer(c => Seq(s"${x}_mean" -> c.agg(F.avg(c.in(x)))))

  /**
   * Bessel-corrected sample variance from raw power sums, like the
   * reference's NthCentralMomentSummarizer (one pass, map-side combinable):
   * (Σx²/n − μ²) · n/(n−1). `<c>_variance` (Summarizers.scala:129).
   *
   * Numeric regime (pinned by NumericStressSpec): power sums cancel
   * catastrophically when |mean| >> stddev — relative error grows like
   * ε·(μ/σ)² with ε ≈ 2.2e-16, so results carry ~8 significant digits at
   * μ/σ = 1e4 and NONE beyond μ/σ ≈ 1e8. For such data use
   * [[varianceStable]] (shifted central-moment updates, the reference's
   * Kahan+central-update robustness): not bit-pinned to the DuckDB
   * power-sum oracle, measured ≤ ~1e-4 relative error even at μ/σ = 1e12
   * where this factory returns noise.
   */
  def variance(x: String): Summarizer =
    Summarizer(c => Seq(s"${x}_variance" -> varExpr(c.in(x).cast("double"), c)))

  /** Drop-in [[variance]] via Spark's shifted central-moment aggregate
    * (no power-sum cancellation — keeps ~4+ significant digits for
    * large-mean/small-variance data where power sums keep none; pinned by
    * NumericStressSpec); same output name, not oracle-bit-pinned. */
  def varianceStable(x: String): Summarizer =
    Summarizer(c =>
      Seq(s"${x}_variance" -> c.agg(F.var_samp(c.in(x).cast("double")))))

  /** Drop-in stable [[stddev]]; see [[varianceStable]]. */
  def stddevStable(x: String): Summarizer =
    Summarizer(c =>
      Seq(s"${x}_stddev" -> c.agg(F.stddev_samp(c.in(x).cast("double")))))

  /** Sample stddev = sqrt(variance); `<c>_stddev` (Summarizers.scala:117). */
  def stddev(x: String): Summarizer =
    Summarizer(c => Seq(s"${x}_stddev" -> F.sqrt(varExpr(c.in(x).cast("double"), c))))

  /** Division with JVM-double edge semantics under ANSI SQL: a zero
    * denominator renders null instead of raising DIVIDE_BY_ZERO (Spark 4
    * default ANSI mode errors even for doubles). The reference computes
    * these statistics in Scala doubles, where 0/0 quietly yields NaN —
    * singleton-group variance, constant-series correlation and zero weight
    * sums are ordinary inputs at scale, not errors. For every non-zero
    * denominator the emitted division is unchanged (bit-identical results,
    * which the DuckDB oracles rely on). */
  private def sdiv(num: Column, den: Column): Column =
    F.when(den =!= F.lit(0.0), num / den)

  private def varExpr(v: Column, c: SummarizerCtx): Column = {
    val n = c.agg(F.count(v)).cast("double")
    val mu = sdiv(c.agg(F.sum(v)), n)
    (sdiv(c.agg(F.sum(v * v)), n) - mu * mu) * sdiv(n, n - F.lit(1.0))
  }

  /** POPULATION covariance from power sums: Σxy/n − μxμy (≙ the
    * reference's CorrelationState render, subtractable/
    * CorrelationSummarizer.scala:129 — coMoment / n, NO Bessel
    * correction; pinned by GoldenParitySpec against the reference spec's
    * values); `<x>_<y>_covariance` (Summarizers.scala:142). Rows where
    * either side is null are excluded pairwise. */
  def covariance(x: String, y: String): Summarizer =
    Summarizer(c => Seq(s"${x}_${y}_covariance" -> covExpr(x, y, c)))

  /** Drop-in [[covariance]] (population) via Spark's centered co-moment
    * aggregate — immune to the power-sum cancellation documented on
    * [[variance]]; same output name, not oracle-bit-pinned. covar_pop
    * already excludes null rows pairwise. */
  def covarianceStable(x: String, y: String): Summarizer =
    Summarizer(c => Seq(s"${x}_${y}_covariance" ->
      c.agg(F.covar_pop(c.in(x).cast("double"), c.in(y).cast("double")))))

  private def covExpr(x: String, y: String, c: SummarizerCtx): Column = {
    val ok = F.col(x).isNotNull && F.col(y).isNotNull
    val vx = c.in(F.when(ok, F.col(x)).cast("double"))
    val vy = c.in(F.when(ok, F.col(y)).cast("double"))
    val n = c.agg(F.count(vx)).cast("double")
    sdiv(c.agg(F.sum(vx * vy)), n) -
      sdiv(c.agg(F.sum(vx)), n) * sdiv(c.agg(F.sum(vy)), n)
  }

  /** Pearson correlation + t-stat from power sums; `<x>_<y>_correlation`,
    * `<x>_<y>_correlationTStat` (Summarizers.scala:223). */
  def correlation(x: String, y: String): Summarizer = Summarizer { c =>
    val ok = F.col(x).isNotNull && F.col(y).isNotNull
    val vx = c.in(F.when(ok, F.col(x)).cast("double"))
    val vy = c.in(F.when(ok, F.col(y)).cast("double"))
    val n = c.agg(F.count(vx)).cast("double")
    val sx = c.agg(F.sum(vx)); val sy = c.agg(F.sum(vy))
    val sxx = c.agg(F.sum(vx * vx)); val syy = c.agg(F.sum(vy * vy))
    val sxy = c.agg(F.sum(vx * vy))
    val r = sdiv(sdiv(sxy, n) - sdiv(sx, n) * sdiv(sy, n),
      F.sqrt(sdiv(sxx, n) - sdiv(sx, n) * sdiv(sx, n)) *
        F.sqrt(sdiv(syy, n) - sdiv(sy, n) * sdiv(sy, n)))
    val t = r * F.sqrt(sdiv(n - F.lit(2.0), F.lit(1.0) - r * r))
    Seq(s"${x}_${y}_correlation" -> r, s"${x}_${y}_correlationTStat" -> t)
  }

  /** Drop-in stable [[correlation]] (+tStat) via Spark's centered corr
    * aggregate; see [[varianceStable]] for the regime argument. Same
    * output names, not oracle-bit-pinned. */
  def correlationStable(x: String, y: String): Summarizer = Summarizer { c =>
    val ok = F.col(x).isNotNull && F.col(y).isNotNull
    val vx = c.in(F.when(ok, F.col(x)).cast("double"))
    val vy = c.in(F.when(ok, F.col(y)).cast("double"))
    val n = c.agg(F.count(vx)).cast("double")
    val r = c.agg(F.corr(vx, vy))
    val t = r * F.sqrt(sdiv(n - F.lit(2.0), F.lit(1.0) - r * r))
    Seq(s"${x}_${y}_correlation" -> r, s"${x}_${y}_correlationTStat" -> t)
  }

  /** All-pairs Pearson correlation over a column list (≙ the reference's
    * multi-column correlation(cols*), Summarizers.scala:223-231, which
    * composes the pairwise summarizer over every unordered pair). */
  def correlation(cols: Seq[String]): Summarizer = {
    require(cols.length >= 2, "multi-pair correlation needs >= 2 columns")
    compose((for {
      i <- cols.indices; j <- (i + 1) until cols.length
    } yield correlation(cols(i), cols(j))): _*)
  }

  /** Pearson correlation for every (x, y) pair from two column lists
    * (≙ the reference's correlation(xs, ys) form, Summarizers.scala:248). */
  def correlation(xs: Seq[String], ys: Seq[String]): Summarizer = {
    require(xs.nonEmpty && ys.nonEmpty, "both column lists must be non-empty")
    compose((for { x <- xs; y <- ys } yield correlation(x, y)): _*)
  }

  /**
   * Raw algebraic state of ANY summarizer recipe (≙ summarizeState for
   * arbitrary summarizers, reference TimeSeriesRDD.scala:1196): re-builds
   * the recipe with a recording context that captures every distinct base
   * aggregate it registers (the partial-aggregation buffer Catalyst
   * actually carries), and emits those as `state_0..state_k` in first-use
   * order. Works for every expression recipe — variance exposes its power
   * sums, weighted correlation its seven shared weighted sums, OLSRegression
   * its Gram sums (those of [[olsState]]) plus its smallest weight; a recipe
   * built on a single opaque aggregate (quantile) exposes that aggregate's
   * rendered output as one state column.
   */
  def stateOf(s: Summarizer): Summarizer = Summarizer { ctx =>
    val m = scala.collection.mutable.LinkedHashMap.empty[String, Column]
    s.withCtx(SummarizerCtx(ctx.pred, None, Some(m)))
    m.values.toSeq.zipWithIndex.map { case (c, i) => s"state_$i" -> ctx.agg(c) }
  }

  /**
   * OLS normal-equation state as plain distributable sums (the Gram
   * buffer [[OLSRegression]] is solved from, ≙ the reference OLS
   * summarizer's (count, Σln w, X'WX, X'Wy, y'Wy) state): design vector
   * g = [1, xs...], entries `ols_state_g_<i>_<j>` = Σ w·gᵢgⱼ (upper
   * triangle), `ols_state_b_<i>` = Σ w·gᵢy, plus n, Σln w and Σ w·y².
   * Rows with any null input or w <= 0 are excluded (OLSRegression keeps
   * the w <= 0 rows). */
  def olsState(y: String, xs: Seq[String], weight: Option[String] = None): Summarizer =
    Summarizer { c =>
      val w = olsWeight(weight)
      olsSums(c, y, xs, w, olsComplete(y, xs, w) && (w > 0.0))
    }

  private def olsWeight(weight: Option[String]): Column =
    weight.map(F.col(_).cast("double")).getOrElse(F.lit(1.0))

  /** y, every x and the weight non-null. */
  private def olsComplete(y: String, xs: Seq[String], w: Column): Column =
    (F.col(y).isNotNull +: xs.map(F.col(_).isNotNull)).reduce(_ && _) && w.isNotNull

  /** The Gram sums over the rows `ok` (and the context's where) keeps,
    * named and ordered as [[olsState]] emits them. */
  private def olsSums(c: SummarizerCtx, y: String, xs: Seq[String], w: Column,
                      ok: Column): Seq[(String, Column)] = {
    val d = xs.length + 1
    def g(i: Int): Column =
      if (i == 0) F.lit(1.0) else F.col(xs(i - 1)).cast("double")
    def term(col: Column): Column = c.in(F.when(ok, col))
    val yv = F.col(y).cast("double")
    Seq(
      "ols_state_n" -> c.agg(F.count(term(w))),
      "ols_state_sum_ln_w" -> c.agg(F.sum(term(F.log(w))))) ++
      (for (i <- 0 until d; j <- i until d) yield
        s"ols_state_g_${i}_$j" -> c.agg(F.sum(term(w * g(i) * g(j))))) ++
      (for (i <- 0 until d) yield
        s"ols_state_b_$i" -> c.agg(F.sum(term(w * g(i) * yv)))) :+
      ("ols_state_syy" -> c.agg(F.sum(term(w * yv * yv))))
  }

  /** Raw algebraic state of the moment family — n, Σx, Σx², Σx³, Σx⁴ —
    * the buffer every moment-based summarizer is derived from
    * (≙ summarizeState's expose-the-buffer debugging role,
    * TimeSeriesRDD.scala:1196; our expression recipes have no hidden
    * buffer, so the power sums ARE the state). */
  def momentsState(x: String): Summarizer = Summarizer { c =>
    val v = c.in(x).cast("double")
    Seq(
      s"${x}_state_n" -> c.agg(F.count(v)),
      s"${x}_state_s1" -> c.agg(F.sum(v)),
      s"${x}_state_s2" -> c.agg(F.sum(v * v)),
      s"${x}_state_s3" -> c.agg(F.sum(v * v * v)),
      s"${x}_state_s4" -> c.agg(F.sum(v * v * v * v)))
  }

  /** Weighted covariance, unbiased under RELIABILITY weights (≙
    * WeightedCovarianceSummarizer.render, rdd/.../WeightedCovariance
    * Summarizer.scala:98): coMoment / (Σw − Σw²/Σw), where coMoment is the
    * weighted co-moment about the weighted means. Reduces to the n/(n−1)
    * sample correction for uniform weights; pinned by GoldenParitySpec. */
  def weightedCovariance(x: String, y: String, w: String): Summarizer = Summarizer { c =>
    Seq(s"${x}_${y}_${w}_weightedCovariance" -> weightedCovExpr(x, y, w, c))
  }

  private def weightedCovExpr(x: String, y: String, w: String, c: SummarizerCtx): Column = {
    val ok = F.col(x).isNotNull && F.col(y).isNotNull && F.col(w).isNotNull
    val ww = c.in(F.when(ok, F.col(w)).cast("double"))
    val sw = c.agg(F.sum(ww))
    val swsq = c.agg(F.sum(ww * ww))
    val sx = c.agg(F.sum(F.col(x) * ww))
    val sy = c.agg(F.sum(F.col(y) * ww))
    val sxy = c.agg(F.sum(F.col(x) * F.col(y) * ww))
    val coMoment = sxy - sdiv(sx * sy, sw)
    sdiv(coMoment, sw - sdiv(swsq, sw))
  }

  /** Weighted Pearson correlation (≙ WeightedCorrelationSummarizer).
    * cxy/cxx/cyy share one set of seven base sums (pairwise-complete on
    * x,y,w) instead of three textually-distinct expansions — Catalyst dedups
    * identical aggregate children, so the partial-agg buffer carries 7 sums,
    * not 15, and codegen compiles one tree a third the size. */
  def weightedCorrelation(x: String, y: String, w: String): Summarizer = Summarizer { c =>
    val ok = F.col(x).isNotNull && F.col(y).isNotNull && F.col(w).isNotNull
    val ww = c.in(F.when(ok, F.col(w)).cast("double"))
    val vx = F.col(x).cast("double")
    val vy = F.col(y).cast("double")
    val sw = c.agg(F.sum(ww))
    val n = c.agg(F.count(ww)).cast("double")
    val corr = sdiv(n, n - F.lit(1.0))
    val mx = sdiv(c.agg(F.sum(vx * ww)), sw)
    val my = sdiv(c.agg(F.sum(vy * ww)), sw)
    val cxy = (sdiv(c.agg(F.sum(vx * vy * ww)), sw) - mx * my) * corr
    val cxx = (sdiv(c.agg(F.sum(vx * vx * ww)), sw) - mx * mx) * corr
    val cyy = (sdiv(c.agg(F.sum(vy * vy * ww)), sw) - my * my) * corr
    Seq(s"${x}_${y}_${w}_weightedCorrelation" -> sdiv(cxy, F.sqrt(cxx * cyy)))
  }

  /** Weighted mean / stddev / t-stat / count (≙ WeightedMeanTestSummarizer,
    * Summarizers.scala:91). */
  def weightedMeanTest(v: String, w: String): Summarizer = Summarizer { c =>
    // Reference semantics (subtractable/WeightedMeanTestSummarizer.scala:
    // 51-57,129-142, pinned by GoldenParitySpec): a negative weight FLIPS
    // the value's sign and contributes |w| (v = x·sign(w), w' = |w|); zero
    // weights are skipped entirely (not observations); variance is the
    // frequency-weights unbiased form coMoment·Σw'/((Σw')² − Σw'²); the
    // t-stat uses the effective sample size (Σw')²/Σw'², not the row count.
    val ok = F.col(v).isNotNull && F.col(w).isNotNull && F.col(w) =!= 0.0
    val x = c.in(F.when(ok, F.col(v)).cast("double"))
    val ww = c.in(F.when(ok, F.col(w)).cast("double"))
    val a = F.abs(ww)
    val n = c.agg(F.count(ww))
    val sumA = c.agg(F.sum(a))
    val sumA2 = c.agg(F.sum(a * a))
    val sumWX = c.agg(F.sum(ww * x)) // = Σ w'·v  (w·x = |w|·x·sign(w))
    val sumAX2 = c.agg(F.sum(a * x * x)) // = Σ w'·v²  (v² = x²)
    val wm = sdiv(sumWX, sumA)
    val coMoment = sumAX2 - sdiv(sumWX * sumWX, sumA)
    val wvar = sdiv(coMoment * sumA, sumA * sumA - sumA2)
    val wsd = F.sqrt(wvar)
    val t = F.sqrt(sdiv(sumA * sumA, sumA2)) * sdiv(wm, wsd)
    Seq(
      s"${v}_${w}_weightedMean" -> wm,
      s"${v}_${w}_weightedStandardDeviation" -> wsd,
      s"${v}_${w}_weightedTStat" -> t,
      s"${v}_${w}_observationCount" -> n)
  }

  /** z-score of the most recent observation; in-sample (`includeCurrent=true`)
    * or out-of-sample (≙ ZScoreSummarizer, Summarizers.scala:179). */
  def zScore(x: String, includeCurrent: Boolean): Summarizer = Summarizer { c =>
    val v = c.in(x).cast("double")
    // tie-break equal last timestamps by value (engine-wide greatest-tuple
    // convention) — a bare max_by(time) is nondeterministic on ties
    val lastVal = c.agg(F.max_by(v,
      F.when(v.isNotNull, F.struct(F.col(TimeSeriesOps.TimeColumn), v))))
    val z = if (includeCurrent) {
      val n = c.agg(F.count(v)).cast("double")
      sdiv(lastVal - sdiv(c.agg(F.sum(v)), n), F.sqrt(varExpr(v, c)))
    } else {
      val n = c.agg(F.count(v)).cast("double")
      val s1 = c.agg(F.sum(v))
      val s2 = c.agg(F.sum(v * v))
      val meanPrev = sdiv(s1 - lastVal, n - F.lit(1.0))
      val varPrev = sdiv(
        s2 - lastVal * lastVal - (n - F.lit(1.0)) * meanPrev * meanPrev,
        n - F.lit(2.0))
      sdiv(lastVal - meanPrev, F.sqrt(varPrev))
    }
    Seq(s"${x}_zScore" -> z)
  }

  /** Drop-in stable [[zScore]]: centered aggregates only (avg /
    * var_samp), with the out-of-sample mean/variance obtained by the
    * exact one-element DOWNDATE of the centered sum of squares
    * (M2_prev = M2 − (y−μ)(y−μ_prev)) instead of power-sum subtraction —
    * every term stays O(σ²), so no cancellation at large |mean|.
    * Same output name, not oracle-bit-pinned; see [[varianceStable]]. */
  def zScoreStable(x: String, includeCurrent: Boolean): Summarizer =
    Summarizer { c =>
      val v = c.in(x).cast("double")
      val lastVal = c.agg(F.max_by(v,
        F.when(v.isNotNull, F.struct(F.col(TimeSeriesOps.TimeColumn), v))))
      val n = c.agg(F.count(v)).cast("double")
      val mu = c.agg(F.avg(v))
      val m2 = c.agg(F.var_samp(v)) * (n - F.lit(1.0))
      val z = if (includeCurrent) {
        sdiv(lastVal - mu, F.sqrt(sdiv(m2, n - F.lit(1.0))))
      } else {
        val meanPrev = sdiv(n * mu - lastVal, n - F.lit(1.0))
        val m2Prev = m2 - (lastVal - mu) * (lastVal - meanPrev)
        sdiv(lastVal - meanPrev, F.sqrt(sdiv(m2Prev, n - F.lit(2.0))))
      }
      Seq(s"${x}_zScore" -> z)
    }

  /** Raw n-th moment E[x^n]; `<c>_<n>thMoment` (Summarizers.scala:195). */
  def nthMoment(x: String, n: Int): Summarizer = Summarizer { c =>
    Seq(s"${x}_${n}thMoment" -> c.agg(F.avg(intPow(c.in(x).cast("double"), n))))
  }

  /** Population central n-th moment E[(x-μ)^n]; `<c>_<n>thCentralMoment`
    * (≙ NthCentralMomentSummarizer; population normalization). */
  def nthCentralMoment(x: String, n: Int): Summarizer = Summarizer { c =>
    Seq(s"${x}_${n}thCentralMoment" -> centralMoment(c.in(x).cast("double"), n, c))
  }

  /** Skewness m3/m2^1.5 (population, ≙ StandardizedMomentSummarizer).
    * m2·sqrt(m2) instead of pow(m2, 1.5): sqrt is correctly rounded per
    * IEEE-754, pow is libm-dependent. */
  def skewness(x: String): Summarizer = Summarizer { c =>
    val v = c.in(x).cast("double")
    val m2 = centralMoment(v, 2, c)
    Seq(s"${x}_skewness" -> sdiv(centralMoment(v, 3, c), m2 * F.sqrt(m2)))
  }

  /** Excess kurtosis m4/m2^2 - 3 (population). */
  def kurtosis(x: String): Summarizer = Summarizer { c =>
    val v = c.in(x).cast("double")
    Seq(s"${x}_kurtosis" ->
      (sdiv(centralMoment(v, 4, c),
        centralMoment(v, 2, c) * centralMoment(v, 2, c)) - F.lit(3.0)))
  }

  private def intPow(x: Column, n: Int): Column = {
    require(n >= 0, s"intPow exponent must be >= 0, got $n")
    // x^0 = 1 — but only for non-null x (a bare lit(1.0) would resurrect
    // null rows into the 0th moment's sum)
    if (n == 0) F.when(x.isNotNull, F.lit(1.0))
    else (1 until n).foldLeft(x)((acc, _) => acc * x)
  }

  /** Population central moment from raw power sums (single pass, map-side
    * combinable — no two-pass mean subtraction). */
  private def centralMoment(x: Column, k: Int, c: SummarizerCtx): Column = {
    val n = c.agg(F.count(x)).cast("double")
    val mu = sdiv(c.agg(F.sum(x)), n)
    def m(j: Int): Column = sdiv(c.agg(F.sum(intPow(x, j))), n)
    k match {
      case 2 => m(2) - mu * mu
      case 3 => m(3) - F.lit(3.0) * mu * m(2) + F.lit(2.0) * intPow(mu, 3)
      case 4 => m(4) - F.lit(4.0) * mu * m(3) + F.lit(6.0) * mu * mu * m(2) -
        F.lit(3.0) * intPow(mu, 4)
      case _ => throw new IllegalArgumentException(s"central moment order $k not supported")
    }
  }

  /** Exact distinct-value count; `<c>_distinctCount`. Grouped evaluation
    * uses `count_distinct` (Spark plans it as a two-stage distinct
    * aggregate — map-side dedup before the shuffle, so the exchange
    * carries distinct values, not rows); windowed evaluation falls back to
    * `size(collect_set(..))` because DISTINCT aggregates aren't allowed
    * over window frames. Exact distinct is inherently |distinct|-sized
    * state: for unbounded-cardinality columns at 100 TB use
    * [[approxDistinctCount]] (constant-size HLL sketch). */
  def distinctCount(x: String): Summarizer = Summarizer { c =>
    val out =
      if (c.win.isDefined) F.size(c.agg(F.collect_set(c.in(x)))).cast("long")
      else c.agg(F.count_distinct(c.in(x)))
    Seq(s"${x}_distinctCount" -> out)
  }

  /** Approximate distinct-value count (HyperLogLog++, default rsd 5%);
    * `<c>_approxDistinctCount`. Constant-size sketch state, map-side
    * combinable — the 100 TB shape for unbounded-cardinality columns.
    * Deterministic for fixed input (no sampling), but sketch estimates are
    * engine-specific — verified in-spec against [[distinctCount]] within
    * rsd tolerance rather than against a SQL oracle. */
  def approxDistinctCount(x: String, rsd: Double = 0.05): Summarizer = Summarizer { c =>
    Seq(s"${x}_approxDistinctCount" -> c.agg(F.approx_count_distinct(c.in(x), rsd)))
  }

  /** Extrema; `<c>_min` / `<c>_max` (Summarizers.scala:674,686). */
  def min(x: String): Summarizer =
    Summarizer(c => Seq(s"${x}_min" -> c.agg(F.min(c.in(x)))))
  def max(x: String): Summarizer =
    Summarizer(c => Seq(s"${x}_max" -> c.agg(F.max(c.in(x)))))

  /** Π; `<c>_product` (Summarizers.scala:698). */
  def product(x: String): Summarizer =
    Summarizer(c => Seq(s"${x}_product" -> c.agg(F.product(c.in(x).cast("double")))))

  /** Σ xy; `<x>_<y>_dotProduct` (Summarizers.scala:711). */
  def dotProduct(x: String, y: String): Summarizer =
    Summarizer(c => Seq(s"${x}_${y}_dotProduct" -> c.agg(F.sum(c.in(F.col(x) * F.col(y))))))

  /** Geometric mean, sign/zero-aware (≙ GeometricMeanSummarizer): zero if any
    * zero; sign = parity of negatives; magnitude = exp(mean(ln|x|)). */
  def geometricMean(x: String): Summarizer = Summarizer { c =>
    val v = c.in(x).cast("double")
    val zeros = c.agg(F.count(F.when(v === 0.0, F.lit(1))))
    val negs = c.agg(F.count(F.when(v < 0.0, F.lit(1))))
    val mag = F.exp(c.agg(F.avg(F.log(F.abs(F.nullif(v, F.lit(0.0)))))))
    val sign = F.when(F.pmod(negs, F.lit(2)) === 1, F.lit(-1.0)).otherwise(F.lit(1.0))
    // zeros short-circuit BEFORE touching mag: an all-zero group has a
    // null magnitude (avg over zero rows), and 0.0 * null would render
    // null instead of the documented 0.0
    Seq(s"${x}_geometricMean" ->
      F.when(zeros > 0, F.lit(0.0)).otherwise(sign * mag))
  }

  /** Exact quantiles, R-7 linear interpolation (≙ QuantileSummarizer,
    * Apache-math3 Percentile type R-7); `<c>_<p>quantile`.
    *
    * Memory note: exact percentile buffers every value of the group — the
    * same caveat the reference documents for summarize()-scale use
    * (reference Summarizers.scala:374-378). For huge groups prefer
    * [[approxQuantile]] (bounded sketch) unless bit-exact quantiles are
    * required. */
  def quantile(x: String, ps: Seq[Double]): Summarizer = Summarizer { c =>
    ps.map(q => s"${x}_${q}quantile" -> c.agg(F.percentile(c.in(x), F.lit(q))))
  }

  /** Bounded-memory approximate quantiles via Spark's approx_percentile
    * (Greenwald–Khanna style sketch, O(1/accuracy) state per group,
    * map-side combinable) — the SCALE path paired with exact [[quantile]]
    * the same way [[approxDistinctCount]] pairs with [[distinctCount]].
    * `accuracy` is the sketch's relative-rank error knob (Spark default
    * 10000 ≈ rank error 1e-4). Same output names as [[quantile]], so
    * drop-in; not bit-exact by construction. */
  def approxQuantile(x: String, ps: Seq[Double],
                     accuracy: Int = 10000): Summarizer = Summarizer { c =>
    ps.map(q => s"${x}_${q}quantile" ->
      c.agg(F.approx_percentile(c.in(x), F.lit(q), F.lit(accuracy))
        .cast("double")))
  }

  /**
   * Weighted OLS with intercept (≙ Summarizers.OLSRegression,
   * Summarizers.scala:325): one struct-typed output column
   * `<y>_OLSRegression` with fields samples / beta / intercept / rSquared /
   * stdErr_beta / tStat_beta and the extended diagnostics
   * (`graft.ts.agg.OLSAggregate.outSchema`). The [[olsState]] Gram sums
   * over the rows whose y (after `where`), xs and weight are non-null —
   * w <= 0 rows included, as in the reference — plus the smallest weight,
   * solved per group by one `OLSAggregate.fit` call.
   */
  def OLSRegression(y: String, xs: Seq[String], weight: Option[String] = None): Summarizer =
    Summarizer { c =>
      val w = olsWeight(weight)
      val ok = olsComplete(y, xs, w)
      val sums = olsSums(c, y, xs, w, ok).map(_._2)
      val minW = c.agg(F.min(c.in(F.when(ok, w))))
      Seq(s"${y}_OLSRegression" -> org.apache.spark.sql.graft.GraftColumns.olsFit(
        F.array(sums.tail :+ minW: _*), sums.head, xs.length))
    }

  /** Collect the group's rows as array<struct> sorted by time; column `rows`
    * (≙ RowsSummarizer). Use with groupByCycle/addWindows. */
  def rows(cols: Seq[String]): Summarizer =
    Summarizer(c => Seq("rows" -> F.array_sort(
      c.agg(F.collect_list(c.in(F.struct(cols.map(F.col): _*)))))))

  /** The group's rows serialized as ONE Arrow IPC record batch (binary
    * column `arrow_bytes`), deterministically sorted (≙ Summarizers.arrow,
    * reference Summarizers.scala:37-46 / ArrowSummarizer.scala:38-81 — its batched
    * hand-off format for Python consumers). The bytes are a standard Arrow
    * stream: `pyarrow.ipc.open_stream(bytes).read_all()` yields the rows;
    * [[org.apache.spark.sql.graft.ArrowColumns.fromArrowBatch]] is the
    * JVM-side inverse. */
  def arrow(cols: Seq[String]): Summarizer =
    Summarizer(c => Seq("arrow_bytes" ->
      org.apache.spark.sql.graft.ArrowColumns.toArrowBatch(
        F.array_sort(c.agg(F.collect_list(c.in(F.struct(cols.map(F.col): _*))))))))
}
