package graft.ts

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.types._

/**
 * Exponential moving averages over irregularly-spaced series
 * (≙ Summarizers.exponentialSmoothing/ewma/emaHalfLife,
 * /root/reference/src/main/scala/com/twosigma/flint/timeseries/Summarizers.scala:528,599,643;
 * state machines rdd/.../ExponentialSmoothingSummarizer.scala:22-191 and
 * subtractable/ExponentialWeightedMovingAverageSummarizer.scala; math spec
 * /root/reference/doc/ema.md).
 *
 * Two evaluation modes, matching the reference's aggregation modes:
 *
 *  - **summarize** ([[exponentialSmoothing]], [[ewma]], [[emaHalfLife]]):
 *    one value per key. The sequential recursion telescopes to a
 *    closed-form weighted sum — Σᵢ termᵢ·e^{k·(tmax−tᵢ)/p} over elapsed
 *    time, Σᵢ xᵢ·e^{k·rᵢ} over a constant period per row (rᵢ = the key's
 *    rows after row i) — so it is evaluated as a *plain distributable
 *    aggregate*: the per-row decay weights are codegen'd arithmetic and the
 *    final sums use normal partial/final aggregation. `ewma` in duration
 *    mode needs no window at all (per-key extremes come from an ordinary
 *    groupBy joined back: one row per key); constant-period `ewma` counts rᵢ
 *    with one `row_number()` window, and the `exponentialSmoothing`
 *    interpolations reference the previous row through one `lag()` window
 *    (such a pass is per-key sequential — the inherent cost of
 *    order-dependent semantics in a declarative plan — but it only numbers
 *    or lags rows; all heavy math and sums stay parallel).
 *
 *  - **per-row** ([[exponentialSmoothingRows]], [[ewmaRows]]): the running
 *    EMA appended to every input row (≙ the reference's EMA summarizers
 *    under addSummaryColumns). A running prefix recursion is inherently
 *    ordered, so this is one ordered scan per key group — `repartition(key)`
 *    + `sortWithinPartitions` + `mapPartitions` with O(1) state, parallel
 *    across keys, exactly the reference's execution shape.
 *
 * Conventions (doc/ema.md): "convolution" = raw primary ES value; "core" =
 * primary / auxiliary (the auxiliary smooths the constant-1 series);
 * "legacy" = convolution with a zero point injected at t = 0.
 * Interpolations: "previous", "linear", "current".
 *
 * Null handling (≙ FilterNullInput): null x rows do not update state; in
 * summarize mode a key whose rows are all null produces no output row.
 */
object EmaOps {
  import TimeSeriesOps.TimeColumn

  val NanosPerDay: Double = 24 * 60 * 60 * 1e9

  private val interps = Seq("previous", "linear", "current")

  /** exponentialSmoothing: one row per key, column `<x>_ema`. */
  def exponentialSmoothing(df: DataFrame, xCol: String, key: Seq[String] = Seq.empty,
                           alpha: Double = 0.05, primingPeriods: Double = 1.0,
                           nanosPerPeriod: Double = NanosPerDay,
                           interpolation: String = "current",
                           convention: String = "core"): DataFrame = {
    require(interps.contains(interpolation))
    require(Seq("convolution", "core", "legacy").contains(convention))
    val k = math.log(1.0 - alpha)
    val p = nanosPerPeriod

    // One keyed window pass yields the lag neighbors AND the per-key
    // extremes (whole-partition frames share the sort with the lag), so the
    // input is scanned once — no second scan + broadcast join like ewma's
    // windowless path needs.
    val base = project(df, xCol, key)
    val wp = Window.partitionBy(key.map(F.col): _*)
    // x joins the order so equal-time ties are deterministic — the same
    // total order the per-row scan uses, so both modes agree on tied data
    val wo = wp.orderBy(F.col("__t"), F.col("__x"))
    val lagged = base
      .withColumn("__tp", F.lag("__t", 1).over(wo))
      .withColumn("__xp", F.lag("__x", 1).over(wo))
      .withColumn("__tmax", F.max("__t").over(wp))
      .withColumn("__tmin", F.min("__t").over(wp))
      .withColumn("__x0",
        F.min_by(F.col("__x"), F.struct(F.col("__t"), F.col("__x"))).over(wp))

    val dt = (F.col("__t") - F.col("__tp")) / p
    val d = F.exp(F.lit(k) * dt)
    val toEnd = F.exp(F.lit(k) * ((F.col("__tmax") - F.col("__t")) / p))
    val term: Column = interpolation match {
      case "previous" => (F.lit(1.0) - d) * F.col("__xp")
      case "current" => (F.lit(1.0) - d) * F.col("__x")
      case "linear" =>
        val nu = (d - F.lit(1.0)) / (F.lit(k) * dt)
        F.when(dt === 0.0, 0.0)
          .otherwise((nu - d) * F.col("__xp") + (F.lit(1.0) - nu) * F.col("__x"))
    }
    val pTerm = F.when(F.col("__tp").isNull, 0.0).otherwise(term * toEnd)
    // all three interpolations give interp(1,1,dt) = 1 - d
    val aTerm = F.when(F.col("__tp").isNull, 0.0).otherwise((F.lit(1.0) - d) * toEnd)

    val grouped = lagged.groupBy(key.map(F.col): _*).agg(
        F.sum(pTerm).as("__ps"), F.sum(aTerm).as("__as"),
        F.max("__tmax").as("__tmax"), F.max("__tmin").as("__tmin"),
        F.max("__x0").as("__x0"))
      // keyless groupBy() emits one global row even for empty input;
      // max over zero rows is null -> drop it (contract: no output row
      // when no non-null x exists)
      .filter(F.col("__tmax").isNotNull)

    // priming mass: interp(0, x0, actualPriming) decayed over the key's span
    val actualPriming: Column =
      if (convention == "legacy") F.col("__tmin") / p else F.lit(primingPeriods)
    val span = (F.col("__tmax") - F.col("__tmin")) / p
    val primingDecay = F.exp(F.lit(k) * span)
    val pd = F.lit(1.0) - F.exp(F.lit(k) * actualPriming)
    val (pp, pa): (Column, Column) = interpolation match {
      case "previous" => (F.lit(0.0), F.lit(0.0))
      case "current" => (pd * F.col("__x0") * primingDecay, pd * primingDecay)
      case "linear" =>
        val nuP = (F.exp(F.lit(k) * actualPriming) - F.lit(1.0)) /
          (F.lit(k) * actualPriming)
        val g = F.when(actualPriming === 0.0, 0.0).otherwise(F.lit(1.0) - nuP)
        (g * F.col("__x0") * primingDecay, g * primingDecay)
    }
    val primary = pp + F.col("__ps")
    val aux = pa + F.col("__as")
    // guard the 0/0 edge (single-point previous-interpolation groups):
    // Spark 4 ANSI raises DIVIDE_BY_ZERO even for doubles, while the
    // reference's Scala-double state machine quietly yields NaN — render
    // null, like the per-row path renders its NaN
    val out0 = if (convention == "core")
      F.when(aux =!= 0.0, primary / aux) else primary
    // NaN inputs poison the sums; render null like the per-row scan does
    val out = F.when(!F.isnan(out0), out0)
    grouped.select((F.lit(0L).as(TimeColumn) +: key.map(F.col)) :+
      out.as(s"${xCol}_ema"): _*)
  }

  /** ewma: pandas-adjust-style weighted average with variable periods
    * (weight (1-α)^periods(t_i, t_n)); `durationPerPeriod = "constant"`
    * counts every row as one period. Output column `<x>_ewma`. */
  def ewma(df: DataFrame, xCol: String, key: Seq[String] = Seq.empty,
           alpha: Double = 0.05, durationPerPeriod: String = "1d",
           convention: String = "legacy"): DataFrame = {
    require(Seq("core", "legacy").contains(convention))
    val k = math.log(1.0 - alpha)
    val (base, wgt) =
      if (durationPerPeriod.equalsIgnoreCase("constant")) {
        // one period per row: decay by the number of later rows of the key,
        // counted in the (time, x) order the per-row scan uses
        val later = Window.partitionBy(key.map(F.col): _*)
          .orderBy(F.col("__t").desc, F.col("__x").desc)
        (project(df, xCol, key).withColumn("__r", F.row_number().over(later) - 1),
          F.exp(F.lit(k) * F.col("__r")))
      } else {
        // Duration mode telescopes to Σ x_i·e^{k(tmax-t_i)/p}: no window, no
        // ordered scan — per-key tmax broadcast-joined, then one aggregation.
        val perPeriod = TimeSeriesOps.parseDuration(durationPerPeriod).toDouble
        (withKeyStats(project(df, xCol, key), key),
          F.exp(F.lit(k) * ((F.col("__tmax") - F.col("__t")) / perPeriod)))
      }
    val grouped = base.groupBy(key.map(F.col): _*).agg(
        F.sum(F.col("__x") * wgt).as("__p"), F.sum(wgt).as("__a"))
      // keyless groupBy() emits one global row even for empty input (§ the
      // exponentialSmoothing note); sum over zero rows is null -> drop
      .filter(F.col("__a").isNotNull)
    val out0 = if (convention == "core")
      F.when(F.col("__a") =!= 0.0, F.col("__p") / F.col("__a"))
    else F.col("__p")
    val out = F.when(!F.isnan(out0), out0)
    grouped.select((F.lit(0L).as(TimeColumn) +: key.map(F.col)) :+
      out.as(s"${xCol}_ewma"): _*)
  }

  /** EMA parameterized by half-life: alpha = 0.5 with periods measured in
    * half-lives (≙ Summarizers.emaHalfLife). Output column `<x>_ema`. */
  def emaHalfLife(df: DataFrame, xCol: String, key: Seq[String] = Seq.empty,
                  halfLife: String = "1d", primingPeriods: Double = 0.0,
                  interpolation: String = "previous",
                  convention: String = "legacy"): DataFrame =
    exponentialSmoothing(df, xCol, key, alpha = 0.5, primingPeriods,
      nanosPerPeriod = TimeSeriesOps.parseDuration(halfLife).toDouble,
      interpolation, convention)

  // -------------------------------------------------------- per-row running

  /** Running exponentialSmoothing appended to every row, column `<x>_ema`
    * (≙ the reference ES summarizer under addSummaryColumns). The value at
    * row i equals `exponentialSmoothing` over rows ≤ i of the same key. */
  def exponentialSmoothingRows(df: DataFrame, xCol: String, key: Seq[String] = Seq.empty,
                               alpha: Double = 0.05, primingPeriods: Double = 1.0,
                               nanosPerPeriod: Double = NanosPerDay,
                               interpolation: String = "current",
                               convention: String = "core"): DataFrame = {
    require(interps.contains(interpolation))
    require(Seq("convolution", "core", "legacy").contains(convention))
    runningScan(df, xCol, key, s"${xCol}_ema")(() =>
      new ESState(math.log(1.0 - alpha), primingPeriods, nanosPerPeriod,
        interpolation, convention))
  }

  /** Running ewma appended to every row, column `<x>_ewma`. */
  def ewmaRows(df: DataFrame, xCol: String, key: Seq[String] = Seq.empty,
               alpha: Double = 0.05, durationPerPeriod: String = "1d",
               convention: String = "legacy"): DataFrame = {
    require(Seq("core", "legacy").contains(convention))
    val constant = durationPerPeriod.equalsIgnoreCase("constant")
    val perPeriod = if (constant) 1.0
      else TimeSeriesOps.parseDuration(durationPerPeriod).toDouble
    runningScan(df, xCol, key, s"${xCol}_ewma")(() =>
      new EwmaState(math.log(1.0 - alpha), constant, perPeriod, convention))
  }

  // ------------------------------------------------------------- internals

  /** (key..., __t, __x) with null x rows dropped (FilterNullInput). */
  private def project(df: DataFrame, xCol: String, key: Seq[String]): DataFrame =
    df.select((key.map(F.col) :+ F.col(TimeColumn).as("__t") :+
      F.col(xCol).cast("double").as("__x")): _*)
      .filter(F.col("__x").isNotNull)

  /** Join per-key (tmax, tmin, x-at-tmin) back onto the rows. The stats
    * side has one row per key; a forced `F.broadcast` would be fastest for
    * few keys but can exceed the broadcast/driver limit when keys are
    * high-cardinality (per-user keys at 100 TB), so the join is left
    * unhinted — AQE converts it to a broadcast join at runtime when the
    * aggregated side is actually small, and falls back to a shuffle join
    * otherwise. Keyless input aggregates to exactly one global row, where
    * the broadcast hint is always safe. */
  private def withKeyStats(base: DataFrame, key: Seq[String]): DataFrame = {
    val aggs = Seq(F.max("__t").as("__tmax"), F.min("__t").as("__tmin"),
      F.min_by(F.col("__x"), F.col("__t")).as("__x0"))
    if (key.isEmpty)
      base.crossJoin(F.broadcast(base.agg(aggs.head, aggs.tail: _*)))
    else
      base.join(base.groupBy(key.map(F.col): _*)
        .agg(aggs.head, aggs.tail: _*), key)
  }

  /** Serializable snapshot of a running-EMA state: the per-partition
    * summary collected in pass 1 of the two-pass prefix scan and the primed
    * carry applied in pass 2. One shape serves both state families (EWMA
    * ignores the first/prev x fields it doesn't track). */
  private[ts] case class ScanSummary(has: Boolean, primary: Double,
                                     auxiliary: Double, firstT: Long,
                                     firstX: Double, prevT: Long,
                                     prevX: Double, n: Long)

  private object ScanSummary {
    val empty: ScanSummary = ScanSummary(has = false, 0.0, 0.0, 0L, 0.0, 0L, 0.0, 0L)
  }

  private trait RunningState {
    def update(t: Long, x: Double): Unit
    /** Current rendered value; NaN when no non-null input seen yet. */
    def value: Double
    /** Snapshot of the current accumulated state (pass-1 summary). */
    def summary: ScanSummary
    /** Restore a snapshot as this state's starting point (pass-2 priming). */
    def prime(s: ScanSummary): Unit
    /** Pure composition of two time-adjacent segment summaries: the state
      * after scanning segment `a`'s rows then segment `b`'s rows equals
      * `compose(a, b)` — the telescoped recursion makes every segment's
      * contribution a closed-form decay of its standalone summary, which is
      * what lets the driver stitch per-partition summaries in O(#partitions)
      * (≙ the reference's two-pass Summarizations prefix scan,
      * /root/reference/src/main/scala/com/twosigma/flint/rdd/function/summarize/Summarizations.scala:25-50). */
    def compose(a: ScanSummary, b: ScanSummary): ScanSummary
  }

  /** ES recursion + render (identical math to the reference's state machine,
    * ExponentialSmoothingSummarizer.scala:22-191). */
  private final class ESState(logDecay: Double, primingPeriods: Double,
                              p: Double, interpolation: String,
                              convention: String) extends RunningState {
    private var primary = 0.0
    private var auxiliary = 0.0
    private var has = false
    private var firstT = 0L; private var firstX = 0.0
    private var prevT = 0L; private var prevX = 0.0

    private def interp(startVal: Double, endVal: Double, periods: Double): Double =
      if (periods == 0.0) 0.0
      else {
        val tc = periods * logDecay
        val decay = math.exp(tc)
        interpolation match {
          case "previous" => (1.0 - decay) * startVal
          case "linear" =>
            val nu = (decay - 1.0) / tc
            (nu - decay) * startVal + (1.0 - nu) * endVal
          case "current" => (1.0 - decay) * endVal
        }
      }
    private def decayed(v: Double, periods: Double): Double =
      math.exp(periods * logDecay) * v

    def update(t: Long, x: Double): Unit = {
      if (!has) { has = true; firstT = t; firstX = x }
      else {
        val periods = (t - prevT) / p
        primary = decayed(primary, periods) + interp(prevX, x, periods)
        auxiliary = decayed(auxiliary, periods) + interp(1.0, 1.0, periods)
      }
      prevT = t; prevX = x
    }

    def value: Double =
      if (!has) Double.NaN
      else {
        val actualPriming =
          if (convention == "legacy") (firstT - 0L) / p else primingPeriods
        val span = math.max((prevT - firstT) / p, 0.0)
        val pr = decayed(interp(0.0, firstX, actualPriming), span) + primary
        val au = decayed(interp(0.0, 1.0, actualPriming), span) + auxiliary
        if (convention == "core") pr / au else pr
      }

    def summary: ScanSummary =
      ScanSummary(has, primary, auxiliary, firstT, firstX, prevT, prevX, 0L)

    def prime(s: ScanSummary): Unit = {
      has = s.has; primary = s.primary; auxiliary = s.auxiliary
      firstT = s.firstT; firstX = s.firstX; prevT = s.prevT; prevX = s.prevX
    }

    def compose(a: ScanSummary, b: ScanSummary): ScanSummary =
      if (!a.has) b
      else if (!b.has) a
      else {
        // Boundary transition (a's last row -> b's first row), then decay
        // the result through b's span; b's own transitions are already
        // decayed to b.prevT in its standalone summary.
        val pb = (b.firstT - a.prevT) / p
        val bp = decayed(a.primary, pb) + interp(a.prevX, b.firstX, pb)
        val ba = decayed(a.auxiliary, pb) + interp(1.0, 1.0, pb)
        val span = (b.prevT - b.firstT) / p
        ScanSummary(has = true,
          b.primary + decayed(bp, span), b.auxiliary + decayed(ba, span),
          a.firstT, a.firstX, b.prevT, b.prevX, 0L)
      }
  }

  private final class EwmaState(logDecay: Double, constant: Boolean,
                                perPeriod: Double, convention: String)
      extends RunningState {
    private var primary = 0.0
    private var auxiliary = 0.0
    private var lastT = 0L
    private var n = 0L
    def update(t: Long, x: Double): Unit = {
      if (n == 0L) { primary = x; auxiliary = 1.0 }
      else {
        val periods = if (constant) 1.0 else (t - lastT) / perPeriod
        val decay = math.exp(periods * logDecay)
        primary = decay * primary + x
        auxiliary = decay * auxiliary + 1.0
      }
      lastT = t; n += 1
    }
    def value: Double =
      if (n == 0L) Double.NaN
      else if (convention == "core") primary / auxiliary
      else primary

    def summary: ScanSummary =
      ScanSummary(n > 0L, primary, auxiliary, 0L, 0.0, lastT, 0.0, n)

    def prime(s: ScanSummary): Unit = {
      primary = s.primary; auxiliary = s.auxiliary; lastT = s.prevT; n = s.n
    }

    def compose(a: ScanSummary, b: ScanSummary): ScanSummary =
      if (a.n == 0L) b
      else if (b.n == 0L) a
      else {
        // a's carry decays through all of b's rows: by one period per row
        // in constant mode, by the total elapsed time otherwise.
        val periods = if (constant) b.n.toDouble else (b.prevT - a.prevT) / perPeriod
        val decay = math.exp(periods * logDecay)
        ScanSummary(has = true,
          b.primary + decay * a.primary, b.auxiliary + decay * a.auxiliary,
          0L, 0.0, b.prevT, 0.0, a.n + b.n)
      }
  }

  /** Per-partition pass-1 report: the boundary key-runs of one partition.
    * Only the first and last runs can interact with neighbor partitions;
    * interior runs start and finish inside it. */
  private case class PartReport(idx: Int, isEmpty: Boolean,
                                firstKey: Seq[Any], lastKey: Seq[Any],
                                lastSummary: ScanSummary, singleRun: Boolean)

  /** Ordered scan emitting EVERY input row plus the running value, at full
    * partition parallelism regardless of key cardinality — keyless and
    * hot-key inputs no longer serialize into one task (the r5 weakness).
    *
    * Execution — a two-pass prefix scan (≙ the reference's Blelloch-style
    * Summarizations, Summarizations.scala:25-50), on top of ONE range
    * shuffle on (key..., time) so every partition holds a contiguous slice
    * of the global scan order:
    *
    *   1. pass 1 scans each partition and reports only its boundary
    *      key-runs (O(1) per partition, collected to the driver);
    *   2. the driver stitches runs that straddle partition borders by
    *      composing their summaries in partition order (the EMA recursion
    *      telescopes, so a segment's contribution is a closed-form decay of
    *      its standalone summary) — O(#partitions) driver work;
    *   3. pass 2 re-scans each partition with its first run primed by the
    *      composed carry and renders every row.
    *
    * Both passes run over the same shuffled RDD instance, so pass 2 reuses
    * pass 1's shuffle files (skipped stage) rather than re-shuffling. */
  private def runningScan(df: DataFrame, xCol: String, key: Seq[String],
                          outName: String)(mk: () => RunningState): DataFrame = {
    val spark = df.sparkSession
    val sortCols = (key :+ TimeColumn).map(F.col)
    // x as the final within-partition sort key: equal-(key, time) ties then
    // scan in a deterministic order in BOTH passes (each job re-sorts its
    // shuffle blocks independently; without a total order the pass-1 carry
    // could reflect a different tie winner than pass-2's rendered rows)
    val sorted = df.repartitionByRange(sortCols: _*)
      .sortWithinPartitions((sortCols :+ F.col(xCol)): _*)
    val tIdx = df.schema.fieldIndex(TimeColumn)
    val xIdx = df.schema.fieldIndex(xCol)
    val kIdx = key.map(df.schema.fieldIndex)
    val outSchema = df.schema.add(outName, DoubleType, nullable = true)

    // One RDD instance shared by both jobs -> the range shuffle runs once.
    val rdd = sorted.rdd

    def keyOf(r: Row): Seq[Any] = kIdx.map(r.get)
    def feed(st: RunningState, r: Row): Unit =
      if (!r.isNullAt(xIdx))
        st.update(r.getLong(tIdx), r.get(xIdx).asInstanceOf[Number].doubleValue())

    // Pass 1: boundary-run summaries per partition.
    val reports = rdd.mapPartitionsWithIndex { (idx, it) =>
      if (!it.hasNext) Iterator.single(
        PartReport(idx, isEmpty = true, Nil, Nil, ScanSummary.empty, singleRun = true))
      else {
        var st = mk()
        val first = it.next()
        val firstKey = keyOf(first)
        var curKey = firstKey
        var runs = 1
        feed(st, first)
        it.foreach { r =>
          val kv = keyOf(r)
          if (kv != curKey) { st = mk(); curKey = kv; runs += 1 }
          feed(st, r)
        }
        Iterator.single(PartReport(idx, isEmpty = false, firstKey, curKey,
          st.summary, singleRun = runs == 1))
      }
    }.collect().sortBy(_.idx)

    // Driver stitch: carry = composed state of the key-run ending at each
    // partition border; incoming(i) primes partition i's first run.
    val helper = mk()
    val incoming = scala.collection.mutable.Map.empty[Int, ScanSummary]
    var carryKey: Seq[Any] = null
    var carry: ScanSummary = ScanSummary.empty
    var carryValid = false
    reports.foreach { p =>
      if (!p.isEmpty) {
        val continues = carryValid && p.firstKey == carryKey
        if (continues) incoming(p.idx) = carry
        if (p.singleRun && continues) carry = helper.compose(carry, p.lastSummary)
        else { carryKey = p.lastKey; carry = p.lastSummary }
        carryValid = true
      }
    }
    val incomingB = spark.sparkContext.broadcast(incoming.toMap)

    // Pass 2: primed re-scan rendering every row (shuffle reused).
    val outRdd = rdd.mapPartitionsWithIndex { (idx, it) =>
      val primed = incomingB.value.get(idx)
      var curKey: Seq[Any] = null
      var st: RunningState = null
      var firstRun = true
      it.map { r =>
        val kv = keyOf(r)
        if (st == null || kv != curKey) {
          if (st != null) firstRun = false
          st = mk(); curKey = kv
          if (firstRun) primed.foreach(st.prime)
        }
        feed(st, r)
        val v = st.value
        Row.fromSeq(r.toSeq :+ (if (v.isNaN) null else v))
      }
    }
    spark.createDataFrame(outRdd, outSchema)
  }
}
