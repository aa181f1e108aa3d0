package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.{functions => F}
import graft.ts._

/**
 * Summarizer-family correctness queries. The DuckDB SQL mirrors the exact
 * floating-point expression shape of the Scala summarizers (power sums →
 * identical IEEE op sequence), and inputs are integral-valued doubles, so
 * comparisons are bit-exact without tolerance. Transcendental outputs
 * (exp/ln) are rounded to 9 decimals on both sides.
 */
object QueriesAgg {
  import QueriesCore.{events, lineitem, withValue100}

  private val S = Summarizers

  /** SQL fragments mirroring Summarizers' power-sum shapes. */
  private def nD(x: String) = s"CAST(count($x) AS DOUBLE)"
  private def mu(x: String) = s"(sum($x) / ${nD(x)})"
  private def varSql(x: String) =
    s"((sum($x * $x) / ${nD(x)} - ${mu(x)} * ${mu(x)}) * (${nD(x)} / (${nD(x)} - 1.0)))"
  private def m(x: String, j: Int) = {
    val xs = Seq.fill(j)(x).mkString(" * ")
    s"(sum($xs) / ${nD(x)})"
  }
  private def cm2(x: String) = s"(${m(x, 2)} - ${mu(x)} * ${mu(x)})"
  private def cm3(x: String) =
    s"(${m(x, 3)} - 3.0 * ${mu(x)} * ${m(x, 2)} + 2.0 * ((${mu(x)} * ${mu(x)}) * ${mu(x)}))"
  private def cm4(x: String) =
    s"(${m(x, 4)} - 4.0 * ${mu(x)} * ${m(x, 3)} + 6.0 * ${mu(x)} * ${mu(x)} * ${m(x, 2)} - " +
      s"3.0 * (((${mu(x)} * ${mu(x)}) * ${mu(x)}) * ${mu(x)}))"

  /** events with value100 + integral weight column w. */
  private def evw(s: SparkSession, dir: String): DataFrame =
    withValue100(events(s, dir))
      .withColumn("w", (F.pmod(F.col("user_id"), F.lit(5)) + 1).cast("double"))
  private val evwSql =
    """SELECT epoch_ns(ts) AS time, event_type, user_id,
       CAST(round(value * 100, 0) AS BIGINT) AS value100,
       CAST(user_id % 5 + 1 AS DOUBLE) AS w FROM events"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "summarize_sum" -> ((s, dir) =>
      Summarize.summarize(lineitem(s, dir), S.sum("l_quantity"), Seq("l_returnflag"))
        .orderBy("l_returnflag")),
    "summarize_count_mean" -> ((s, dir) =>
      Summarize.summarize(lineitem(s, dir),
        S.count() ++ S.count("l_quantity") ++ S.mean("l_quantity"), Seq("l_returnflag"))
        .orderBy("l_returnflag")),
    "summarize_minmax" -> ((s, dir) =>
      Summarize.summarize(
        lineitem(s, dir).withColumn("ship_us",
          F.unix_micros(F.col("l_shipdate").cast("timestamp"))),
        S.min("l_quantity") ++ S.max("l_quantity") ++ S.min("ship_us") ++ S.max("ship_us"),
        Seq("l_returnflag"))
        .orderBy("l_returnflag")),
    "summarize_distinct" -> ((s, dir) =>
      Summarize.summarize(lineitem(s, dir),
        S.distinctCount("l_suppkey") ++ S.distinctCount("l_linestatus"),
        Seq("l_returnflag"))
        .orderBy("l_returnflag")),
    "summarize_variance_stddev" -> ((s, dir) =>
      Summarize.summarize(lineitem(s, dir),
        S.variance("l_quantity") ++ S.stddev("l_quantity"), Seq("l_returnflag"))
        .orderBy("l_returnflag")),
    "summarize_covar_corr" -> ((s, dir) =>
      Summarize.summarize(lineitem(s, dir),
        S.covariance("l_quantity", "l_linenumber") ++
          S.correlation("l_quantity", "l_linenumber"), Seq("l_returnflag"))
        .orderBy("l_returnflag")),
    "summarize_moments" -> ((s, dir) =>
      Summarize.summarize(lineitem(s, dir),
        S.nthMoment("l_quantity", 3) ++ S.nthCentralMoment("l_quantity", 2) ++
          S.nthCentralMoment("l_quantity", 3), Seq("l_returnflag"))
        .orderBy("l_returnflag")),
    "summarize_skew_kurt" -> ((s, dir) =>
      Summarize.summarize(lineitem(s, dir),
        S.skewness("l_quantity") ++ S.kurtosis("l_quantity"), Seq("l_returnflag"))
        .orderBy("l_returnflag")),
    "summarize_dot_product" -> ((s, dir) =>
      Summarize.summarize(lineitem(s, dir),
        S.dotProduct("l_quantity", "l_linenumber"), Seq("l_returnflag"))
        .orderBy("l_returnflag")),
    "summarize_product" -> ((s, dir) =>
      Summarize.summarize(lineitem(s, dir), S.product("l_linenumber"), Seq("l_orderkey"))
        .orderBy("l_orderkey")),
    "summarize_geomean" -> ((s, dir) =>
      Summarize.summarize(lineitem(s, dir), S.geometricMean("l_quantity"), Seq("l_returnflag"))
        .select(F.col("time"), F.col("l_returnflag"),
          F.round(F.col("l_quantity_geometricMean"), 9).as("l_quantity_geometricMean"))
        .orderBy("l_returnflag")),
    "summarize_zscore" -> ((s, dir) =>
      Summarize.summarize(evw(s, dir),
        S.zScore("value100", includeCurrent = true).prefix("in") ++
          S.zScore("value100", includeCurrent = false).prefix("out"),
        Seq("event_type"))
        .orderBy("event_type")),
    "summarize_weighted_mean" -> ((s, dir) =>
      Summarize.summarize(evw(s, dir), S.weightedMeanTest("value100", "w"),
        Seq("event_type"))
        .orderBy("event_type")),
    "summarize_weighted_cov_corr" -> ((s, dir) =>
      Summarize.summarize(evw(s, dir),
        S.weightedCovariance("value100", "user_id", "w") ++
          S.weightedCorrelation("value100", "user_id", "w"),
        Seq("event_type"))
        .orderBy("event_type")),
    "summarize_quantile" -> ((s, dir) =>
      Summarize.summarize(lineitem(s, dir),
        S.quantile("l_quantity", Seq(0.25, 0.5, 0.9)), Seq("l_returnflag"))
        .orderBy("l_returnflag")),
    "summarize_where_prefix" -> ((s, dir) =>
      Summarize.summarize(lineitem(s, dir),
        S.sum("l_quantity").where(F.col("l_linenumber") <= 2).prefix("low") ++
          S.count().where(F.col("l_quantity") > 25),
        Seq("l_returnflag"))
        .orderBy("l_returnflag")),
    "summarize_ols" -> ((s, dir) =>
      Summarize.summarize(
        lineitem(s, dir).withColumn("y", F.round(F.col("l_extendedprice"), 0)),
        S.OLSRegression("y", Seq("l_quantity")), Seq("l_returnflag"))
        .select(F.col("time"), F.col("l_returnflag"),
          F.col("y_OLSRegression.samples").as("samples"),
          F.col("y_OLSRegression.beta")(0).as("slope"),
          F.col("y_OLSRegression.intercept").as("intercept"),
          F.col("y_OLSRegression.rSquared").as("r2"))
        .orderBy("l_returnflag")),
    "summarize_ols_ext" -> ((s, dir) =>
      Summarize.summarize(
        lineitem(s, dir).withColumn("y", F.round(F.col("l_extendedprice"), 0)),
        S.OLSRegression("y", Seq("l_quantity")), Seq("l_returnflag"))
        .select(F.col("time"), F.col("l_returnflag"),
          F.col("y_OLSRegression.stdErr_beta")(0).as("se_slope"),
          F.col("y_OLSRegression.tStat_beta")(0).as("t_slope"),
          F.col("y_OLSRegression.stdErr_intercept").as("se_intercept"),
          F.col("y_OLSRegression.tStat_intercept").as("t_intercept"),
          F.round(F.col("y_OLSRegression.logLikelihood"), 9).as("logL"),
          F.round(F.col("y_OLSRegression.akaikeIC"), 9).as("aic"),
          F.round(F.col("y_OLSRegression.bayesIC"), 9).as("bic"),
          F.round(F.col("y_OLSRegression.cond"), 6).as("cond"),
          F.size(F.col("y_OLSRegression.constantsCoordinates")).as("n_const"))
        .orderBy("l_returnflag")),
    "summarize_stack" -> ((s, dir) =>
      Summarize.summarize(lineitem(s, dir),
        S.stack(
          S.sum("l_quantity").where(F.col("l_linenumber") <= 2),
          S.sum("l_quantity").where(F.col("l_linenumber") > 2)),
        Seq("l_returnflag"))
        .select(F.col("time"), F.col("l_returnflag"),
          F.col("stack")(0)("l_quantity_sum").as("low_sum"),
          F.col("stack")(1)("l_quantity_sum").as("high_sum"))
        .orderBy("l_returnflag")),
    "summarize_corr_pairs" -> ((s, dir) =>
      Summarize.summarize(lineitem(s, dir),
        S.correlation(Seq("l_quantity", "l_linenumber", "l_orderkey")),
        Seq("l_returnflag"))
        .orderBy("l_returnflag")),
    "summarize_state" -> ((s, dir) =>
      Summarize.summarize(lineitem(s, dir), S.momentsState("l_quantity"),
        Seq("l_returnflag"))
        .orderBy("l_returnflag")),
    // generic state capture: weightedCorrelation's 7 shared base sums
    "summarize_state_weighted" -> ((s, dir) =>
      Summarize.summarizeState(evw(s, dir),
        S.weightedCorrelation("value100", "user_id", "w"),
        Seq("event_type"))
        .orderBy("event_type")),
    // OLS normal-equation buffer as plain sums (unweighted: integral
    // inputs keep every sum exact for the oracle)
    "summarize_state_ols" -> ((s, dir) =>
      Summarize.summarize(lineitem(s, dir),
        S.olsState("l_quantity", Seq("l_orderkey", "l_linenumber")),
        Seq("l_returnflag"))
        .orderBy("l_returnflag"))
  )

  private def q = "l_quantity"

  val oracleSql: Map[String, String] = Map(
    "summarize_sum" ->
      s"""SELECT CAST(0 AS BIGINT) AS time, l_returnflag, sum($q) AS l_quantity_sum
          FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "summarize_distinct" ->
      """SELECT CAST(0 AS BIGINT) AS time, l_returnflag,
          count(DISTINCT l_suppkey) AS l_suppkey_distinctCount,
          count(DISTINCT l_linestatus) AS l_linestatus_distinctCount
          FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "summarize_count_mean" ->
      s"""SELECT CAST(0 AS BIGINT) AS time, l_returnflag,
          count(*) AS count, count($q) AS l_quantity_count,
          sum($q) / CAST(count($q) AS DOUBLE) AS l_quantity_mean
          FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "summarize_minmax" ->
      s"""SELECT CAST(0 AS BIGINT) AS time, l_returnflag,
          min($q) AS l_quantity_min, max($q) AS l_quantity_max,
          min(epoch_us(l_shipdate)) AS ship_us_min, max(epoch_us(l_shipdate)) AS ship_us_max
          FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "summarize_variance_stddev" ->
      s"""SELECT CAST(0 AS BIGINT) AS time, l_returnflag,
          ${varSql(q)} AS l_quantity_variance,
          sqrt(${varSql(q)}) AS l_quantity_stddev
          FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "summarize_covar_corr" -> {
      val x = "CAST(l_quantity AS DOUBLE)"; val y = "CAST(l_linenumber AS DOUBLE)"
      val n = s"CAST(count($x) AS DOUBLE)"
      // POPULATION covariance (no Bessel) — reference convention, pinned
      // by GoldenParitySpec
      val cov = s"(sum($x * $y) / $n - (sum($x) / $n) * (sum($y) / $n))"
      val r = s"((sum($x * $y) / $n - (sum($x) / $n) * (sum($y) / $n)) / " +
        s"(sqrt(sum($x * $x) / $n - (sum($x) / $n) * (sum($x) / $n)) * " +
        s"sqrt(sum($y * $y) / $n - (sum($y) / $n) * (sum($y) / $n))))"
      s"""SELECT CAST(0 AS BIGINT) AS time, l_returnflag,
          $cov AS l_quantity_l_linenumber_covariance,
          $r AS l_quantity_l_linenumber_correlation,
          $r * sqrt(($n - 2.0) / (1.0 - $r * $r)) AS l_quantity_l_linenumber_correlationTStat
          FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""
    },
    "summarize_moments" ->
      s"""SELECT CAST(0 AS BIGINT) AS time, l_returnflag,
          sum(((l_quantity * l_quantity) * l_quantity)) / ${nD(q)} AS l_quantity_3thMoment,
          ${cm2(q)} AS l_quantity_2thCentralMoment,
          ${cm3(q)} AS l_quantity_3thCentralMoment
          FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "summarize_skew_kurt" ->
      s"""SELECT CAST(0 AS BIGINT) AS time, l_returnflag,
          ${cm3(q)} / (${cm2(q)} * sqrt(${cm2(q)})) AS l_quantity_skewness,
          ${cm4(q)} / (${cm2(q)} * ${cm2(q)}) - 3.0 AS l_quantity_kurtosis
          FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "summarize_dot_product" ->
      s"""SELECT CAST(0 AS BIGINT) AS time, l_returnflag,
          sum($q * l_linenumber) AS l_quantity_l_linenumber_dotProduct
          FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "summarize_product" ->
      s"""SELECT CAST(0 AS BIGINT) AS time, l_orderkey,
          product(CAST(l_linenumber AS DOUBLE)) AS l_linenumber_product
          FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey""",
    "summarize_geomean" ->
      s"""SELECT CAST(0 AS BIGINT) AS time, l_returnflag,
          round(exp(sum(ln(abs($q))) / ${nD(q)}), 9) AS l_quantity_geometricMean
          FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "summarize_zscore" -> {
      val x = "CAST(value100 AS DOUBLE)"
      val n = s"CAST(count($x) AS DOUBLE)"
      val lastV = s"arg_max($x, time)"
      val inZ = s"(($lastV - sum($x) / $n) / sqrt(${varSql(x)}))"
      val meanPrev = s"((sum($x) - $lastV) / ($n - 1.0))"
      val varPrev = s"((sum($x * $x) - $lastV * $lastV - ($n - 1.0) * $meanPrev * $meanPrev) / ($n - 2.0))"
      s"""WITH e AS ($evwSql)
          SELECT CAST(0 AS BIGINT) AS time, event_type,
          $inZ AS in_value100_zScore,
          (($lastV - $meanPrev) / sqrt($varPrev)) AS out_value100_zScore
          FROM e GROUP BY event_type ORDER BY event_type"""
    },
    "summarize_weighted_mean" -> {
      // reference WeightedMeanTest semantics (w here is strictly positive,
      // so the sign-folding terms reduce away): frequency-weights variance
      // coMoment·Σw/((Σw)²−Σw²), t-stat over the effective sample size
      val x = "CAST(value100 AS DOUBLE)"
      val wm = s"(sum($x * w) / sum(w))"
      val com = s"(sum(w * $x * $x) - sum($x * w) * sum($x * w) / sum(w))"
      val wvar = s"($com * sum(w) / (sum(w) * sum(w) - sum(w * w)))"
      s"""WITH e AS ($evwSql)
          SELECT CAST(0 AS BIGINT) AS time, event_type,
          $wm AS value100_w_weightedMean,
          sqrt($wvar) AS value100_w_weightedStandardDeviation,
          sqrt(sum(w) * sum(w) / sum(w * w)) * $wm / sqrt($wvar)
            AS value100_w_weightedTStat,
          count(w) AS value100_w_observationCount
          FROM e GROUP BY event_type ORDER BY event_type"""
    },
    "summarize_weighted_cov_corr" -> {
      // covariance: reliability-weights unbiased estimator coMoment /
      // (Σw − Σw²/Σw) (reference convention, pinned by GoldenParitySpec)
      def wcov(x: String, y: String) =
        s"((sum($x * $y * w) - sum($x * w) * sum($y * w) / sum(w)) / " +
          s"(sum(w) - sum(w * w) / sum(w)))"
      // correlation: the normalization cancels, so the ratio mirrors the
      // impl's cxy/cxx/cyy expression SHAPE bit-for-bit (hash compare
      // needs identical IEEE rounding, not just identical math)
      def cmom(x: String, y: String) = {
        val n = "CAST(count(w) AS DOUBLE)"
        s"((sum($x * $y * w) / sum(w) - (sum($x * w) / sum(w)) * (sum($y * w) / sum(w))) * " +
          s"($n / ($n - 1.0)))"
      }
      val x = "CAST(value100 AS DOUBLE)"; val y = "CAST(user_id AS DOUBLE)"
      s"""WITH e AS ($evwSql)
          SELECT CAST(0 AS BIGINT) AS time, event_type,
          ${wcov(x, y)} AS value100_user_id_w_weightedCovariance,
          ${cmom(x, y)} / sqrt(${cmom(x, x)} * ${cmom(y, y)})
            AS value100_user_id_w_weightedCorrelation
          FROM e GROUP BY event_type ORDER BY event_type"""
    },
    "summarize_quantile" ->
      s"""SELECT CAST(0 AS BIGINT) AS time, l_returnflag,
          quantile_cont($q, 0.25) AS "l_quantity_0.25quantile",
          quantile_cont($q, 0.5) AS "l_quantity_0.5quantile",
          quantile_cont($q, 0.9) AS "l_quantity_0.9quantile"
          FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "summarize_where_prefix" ->
      s"""SELECT CAST(0 AS BIGINT) AS time, l_returnflag,
          sum(CASE WHEN l_linenumber <= 2 THEN $q END) AS low_l_quantity_sum,
          count(CASE WHEN $q > 25 THEN 1 END) AS count
          FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "summarize_ols" ->
      // mirrors the Gaussian-elimination-without-pivoting order of the
      // OLS fit: f = Sx/n; slope = (Sxy - f*Sy)/(Sxx - f*Sx);
      // intercept = (Sy - Sx*slope)/n; r2 from SSR/SST computational forms
      """WITH s AS (
           SELECT l_returnflag, CAST(count(*) AS DOUBLE) AS n, count(*) AS samples,
             sum(l_quantity) AS sx, sum(round(l_extendedprice, 0)) AS sy,
             sum(l_quantity * round(l_extendedprice, 0)) AS sxy,
             sum(l_quantity * l_quantity) AS sxx,
             sum(round(l_extendedprice, 0) * round(l_extendedprice, 0)) AS syy
           FROM lineitem GROUP BY l_returnflag),
         t AS (SELECT *, (sxy - (sx / n) * sy) / (sxx - (sx / n) * sx) AS slope FROM s),
         u AS (SELECT *, (sy - sx * slope) / n AS intercept FROM t)
         SELECT CAST(0 AS BIGINT) AS time, l_returnflag, samples, slope, intercept,
           1.0 - ((syy - (intercept * sy + slope * sxy)) / (syy - (sy / n) * sy)) AS r2
         FROM u ORDER BY l_returnflag""",
    "summarize_ols_ext" ->
      // mirrors OLSAggregate.fit's op order: g = Sxx - f*Sx (elimination pivot),
      // diag of (X'X)^-1 via the same back-substitution arithmetic,
      // sigma2 = ssr/(n-2); transcendental outputs rounded (9), cond (6,
      // Jacobi vs closed-form eigenvalues differ in low-order bits)
      """WITH s AS (
           SELECT l_returnflag, CAST(count(*) AS DOUBLE) AS n,
             sum(l_quantity) AS sx, sum(round(l_extendedprice, 0)) AS sy,
             sum(l_quantity * round(l_extendedprice, 0)) AS sxy,
             sum(l_quantity * l_quantity) AS sxx,
             sum(round(l_extendedprice, 0) * round(l_extendedprice, 0)) AS syy
           FROM lineitem GROUP BY l_returnflag),
         t AS (SELECT *, (sx / n) AS f,
                  (sxy - (sx / n) * sy) / (sxx - (sx / n) * sx) AS slope,
                  (sxx - (sx / n) * sx) AS g FROM s),
         u AS (SELECT *, (sy - sx * slope) / n AS intercept FROM t),
         v AS (SELECT *, (syy - (intercept * sy + slope * sxy)) AS ssr,
                  ((0.0 - f) / g) AS x1 FROM u),
         w AS (SELECT *, (ssr / (n - 2.0)) AS sigma2,
                  ((1.0 - sx * x1) / n) AS diag0,
                  (1.0 / g) AS diag1,
                  (-0.5 * n * (ln(ssr) + 1.0 + ln(2.0 * pi() / n)) + 0.0) AS logl,
                  ((n + sxx) / 2.0 + sqrt((n + sxx) * (n + sxx) / 4.0 - (n * sxx - sx * sx)))
                    AS lmax,
                  ((n + sxx) / 2.0 - sqrt((n + sxx) * (n + sxx) / 4.0 - (n * sxx - sx * sx)))
                    AS lmin
               FROM v)
         SELECT CAST(0 AS BIGINT) AS time, l_returnflag,
           sqrt(sigma2 * diag1) AS se_slope,
           slope / sqrt(sigma2 * diag1) AS t_slope,
           sqrt(sigma2 * diag0) AS se_intercept,
           intercept / sqrt(sigma2 * diag0) AS t_intercept,
           round(logl, 9) AS logL,
           round(-2.0 * logl + 4.0, 9) AS aic,
           round(-2.0 * logl + 2.0 * ln(n), 9) AS bic,
           round(lmax / lmin, 6) AS cond,
           CAST(0 AS INTEGER) AS n_const
         FROM w ORDER BY l_returnflag""",
    "summarize_stack" ->
      s"""SELECT CAST(0 AS BIGINT) AS time, l_returnflag,
          sum(CASE WHEN l_linenumber <= 2 THEN $q END) AS low_sum,
          sum(CASE WHEN l_linenumber > 2 THEN $q END) AS high_sum
          FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "summarize_corr_pairs" -> {
      def pair(xr: String, yr: String) = {
        val x = s"CAST($xr AS DOUBLE)"; val y = s"CAST($yr AS DOUBLE)"
        val n = s"CAST(count($x) AS DOUBLE)"
        val r = s"((sum($x * $y) / $n - (sum($x) / $n) * (sum($y) / $n)) / " +
          s"(sqrt(sum($x * $x) / $n - (sum($x) / $n) * (sum($x) / $n)) * " +
          s"sqrt(sum($y * $y) / $n - (sum($y) / $n) * (sum($y) / $n))))"
        s"""$r AS ${xr}_${yr}_correlation,
            $r * sqrt(($n - 2.0) / (1.0 - $r * $r)) AS ${xr}_${yr}_correlationTStat"""
      }
      s"""SELECT CAST(0 AS BIGINT) AS time, l_returnflag,
          ${pair("l_quantity", "l_linenumber")},
          ${pair("l_quantity", "l_orderkey")},
          ${pair("l_linenumber", "l_orderkey")}
          FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""
    },
    "summarize_state" ->
      s"""SELECT CAST(0 AS BIGINT) AS time, l_returnflag,
          count(CAST($q AS DOUBLE)) AS l_quantity_state_n,
          sum(CAST($q AS DOUBLE)) AS l_quantity_state_s1,
          sum(CAST($q AS DOUBLE) * CAST($q AS DOUBLE)) AS l_quantity_state_s2,
          sum((CAST($q AS DOUBLE) * CAST($q AS DOUBLE)) * CAST($q AS DOUBLE)) AS l_quantity_state_s3,
          sum(((CAST($q AS DOUBLE) * CAST($q AS DOUBLE)) * CAST($q AS DOUBLE)) * CAST($q AS DOUBLE)) AS l_quantity_state_s4
          FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    // stateOf(weightedCorrelation) base sums, in the recipe's first-use
    // order: Σw, n, Σxw, Σyw, Σxyw, Σx²w, Σy²w (integral inputs -> exact)
    "summarize_state_weighted" -> {
      val x = "CAST(value100 AS DOUBLE)"; val y = "CAST(user_id AS DOUBLE)"
      s"""WITH e AS ($evwSql)
          SELECT CAST(0 AS BIGINT) AS time, event_type,
          sum(w) AS state_0,
          count(w) AS state_1,
          sum($x * w) AS state_2,
          sum($y * w) AS state_3,
          sum($x * $y * w) AS state_4,
          sum($x * $x * w) AS state_5,
          sum($y * $y * w) AS state_6
          FROM e GROUP BY event_type ORDER BY event_type"""
    },
    // olsState(l_quantity ~ 1 + l_orderkey + l_linenumber, w = 1): Gram
    // upper triangle + moment vector, all integral-valued -> exact sums
    "summarize_state_ols" -> {
      val yv = s"CAST($q AS DOUBLE)"
      val x1 = "CAST(l_orderkey AS DOUBLE)"
      val x2 = "CAST(l_linenumber AS DOUBLE)"
      s"""SELECT CAST(0 AS BIGINT) AS time, l_returnflag,
          count(*) AS ols_state_n,
          sum(ln(1.0)) AS ols_state_sum_ln_w,
          sum(1.0 * 1.0 * 1.0) AS ols_state_g_0_0,
          sum(1.0 * 1.0 * $x1) AS ols_state_g_0_1,
          sum(1.0 * 1.0 * $x2) AS ols_state_g_0_2,
          sum(1.0 * $x1 * $x1) AS ols_state_g_1_1,
          sum(1.0 * $x1 * $x2) AS ols_state_g_1_2,
          sum(1.0 * $x2 * $x2) AS ols_state_g_2_2,
          sum(1.0 * 1.0 * $yv) AS ols_state_b_0,
          sum(1.0 * $x1 * $yv) AS ols_state_b_1,
          sum(1.0 * $x2 * $yv) AS ols_state_b_2,
          sum(1.0 * $yv * $yv) AS ols_state_syy
          FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""
    }
  )
}
