package graft.ts

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Temporal (as-of) joins — the flagship operators of the reference library
 * (cf. /root/reference/src/main/scala/com/twosigma/flint/timeseries/TimeSeriesRDD.scala:1012-1069,
 * algorithms rdd/function/join/LeftJoin.scala:31-97 and FutureLeftJoin.scala:29-136).
 *
 * One engine, as in the reference: every join here is an ordered merge of
 * two time-sorted sides on the custom physical operator
 * `org.apache.spark.sql.graft.AsOfMergeJoinExec`. Each side is
 * hash-clustered on the key and sorted by (key, time) — one exchange per
 * side, like a sort-merge equi-join — and the operator walks both in one
 * O(|L| + |R|) pass per partition.
 *
 * Contract (shared by every entry point):
 *  - right rows tying on (key, time) resolve to the greatest value tuple
 *    (nulls least), independent of partitioning, AQE and input order;
 *  - a right row with a null time is never a candidate, and a left row
 *    with a null time is null-padded;
 *  - null keys match null keys (the reference's SK map).
 *
 * Scale notes: with an empty key the merge runs as one partition, which
 * matches the reference's global as-of semantics but serializes — pass
 * `binned = true` (tolerance-width time bins added to the merge key) for
 * keyless or hot-key input.
 */
object AsOfJoin {
  import TimeSeriesOps.TimeColumn

  private val BinCol = "__graft_bin"

  /** Apply flint-style alias prefixing: `alias_col` for every non-time,
    * non-key column (TimeSeriesRDD.scala leftAlias/rightAlias contract). */
  private def applyAlias(df: DataFrame, alias: Option[String], key: Seq[String]): DataFrame =
    alias match {
      case None => df
      case Some(a) =>
        val renames = df.columns.filter(c => c != TimeColumn && !key.contains(c))
          .map(c => c -> s"${a}_$c").toMap
        df.withColumnsRenamed(renames)
    }

  private def checkNoClash(left: DataFrame, right: DataFrame, key: Seq[String]): Unit = {
    val rightVals = right.columns.filter(c => c != TimeColumn && !key.contains(c))
    val clash = rightVals.intersect(left.columns)
    require(clash.isEmpty,
      s"column name clash between left and right: ${clash.mkString(",")}; " +
        "pass leftAlias/rightAlias to disambiguate")
  }

  /**
   * As-of backward left join: for each left row at time t, append the most
   * recent right row (sharing `key`) with right.time in [t - tolerance, t];
   * right columns are null when no such row exists. tolerance = "0ns" is the
   * exact-timestamp join (≙ TimeSeriesRDD.leftJoin).
   *
   * `binned = true` selects the scale path for low-cardinality or empty
   * keys: time is cut into tolerance-width bins, each right row is
   * duplicated into its own and the following bin, and the merge key
   * becomes (key, bin). Identical results (requires tolerance > 0), but
   * parallelism becomes |keys| × |bins| instead of |keys| — a keyless join
   * no longer degenerates to one partition, and one hot key no longer
   * serializes into one task, at the cost of shuffling every right row
   * twice (the declarative analog of the reference's range-intersecting
   * partition merge, RangeMergeJoin.scala:28-140).
   */
  def leftJoin(left: DataFrame, right: DataFrame, tolerance: String = "0ns",
               key: Seq[String] = Seq.empty, leftAlias: Option[String] = None,
               rightAlias: Option[String] = None,
               binned: Boolean = false): DataFrame =
    mergeJoin(left, right, TimeSeriesOps.parseDuration(tolerance), key,
      leftAlias, rightAlias, future = false, strict = false, binned = binned)

  /**
   * As-of forward left join: nearest right row with right.time in
   * [t, t + tolerance] ((t, t+tolerance] when strictLookahead)
   * (≙ TimeSeriesRDD.futureLeftJoin). `binned` as in [[leftJoin]] (right
   * rows duplicate into their own and the PRECEDING bin).
   */
  def futureLeftJoin(left: DataFrame, right: DataFrame, tolerance: String = "0ns",
                     key: Seq[String] = Seq.empty, leftAlias: Option[String] = None,
                     rightAlias: Option[String] = None,
                     strictLookahead: Boolean = false,
                     binned: Boolean = false): DataFrame =
    mergeJoin(left, right, TimeSeriesOps.parseDuration(tolerance), key,
      leftAlias, rightAlias, future = true, strict = strictLookahead,
      binned = binned)

  /** API alias of [[leftJoin]] (both run on the merge operator). */
  def leftJoinMerge(left: DataFrame, right: DataFrame, tolerance: String = "0ns",
                    key: Seq[String] = Seq.empty, leftAlias: Option[String] = None,
                    rightAlias: Option[String] = None): DataFrame =
    leftJoin(left, right, tolerance, key, leftAlias, rightAlias)

  /** API alias of [[futureLeftJoin]] (both run on the merge operator). */
  def futureLeftJoinMerge(left: DataFrame, right: DataFrame,
                          tolerance: String = "0ns",
                          key: Seq[String] = Seq.empty,
                          leftAlias: Option[String] = None,
                          rightAlias: Option[String] = None,
                          strictLookahead: Boolean = false): DataFrame =
    futureLeftJoin(left, right, tolerance, key, leftAlias, rightAlias,
      strictLookahead)

  /**
   * Symmetric (full-outer) as-of join (≙ OrderedRDD.symmetricJoin,
   * reference SymmetricJoin.scala:26-122): one output row per input row
   * from EITHER side; a left row at t carries the most recent right row in
   * [t - tolerance, t] (same key), a right row at t carries the most recent
   * left row in the same window; the other side is null-padded on miss.
   * `side` marks the originating table ("left" / "right") — the flattened
   * schema would otherwise lose what the reference's (Option, Option)
   * encoding keeps implicit.
   *
   * Executed as two backward merge passes (left against right, right
   * against left) tagged with `side` and unioned. Both passes project each
   * input identically, so the second pass reuses the first pass's two
   * exchanges and each side is shuffled once. `binned` as in [[leftJoin]]
   * (each pass bins its own inputs, so no exchange is shared).
   */
  def symmetricJoin(left0: DataFrame, right0: DataFrame, tolerance: String = "0ns",
                    key: Seq[String] = Seq.empty, leftAlias: Option[String] = None,
                    rightAlias: Option[String] = None,
                    binned: Boolean = false): DataFrame = {
    val tol = TimeSeriesOps.parseDuration(tolerance)
    val left = applyAlias(left0, leftAlias, key)
    val right = applyAlias(right0, rightAlias, key)
    require(!left.columns.contains("side") && !right.columns.contains("side"),
      "symmetricJoin emits a 'side' column; rename or alias the existing one")
    val lVals = left.columns.filter(c => c != TimeColumn && !key.contains(c)).toSeq
    val rVals = right.columns.filter(c => c != TimeColumn && !key.contains(c)).toSeq
    // schema-aligned to (time, key, lVals, rVals, side)
    val outCols = ((TimeColumn +: key) ++ lVals ++ rVals).map(col)
    def pass(a: DataFrame, b: DataFrame, side: String): DataFrame =
      mergeJoin(a, b, tol, key, None, None, future = false, strict = false, binned)
        .select(outCols :+ lit(side).as("side"): _*)
    pass(left, right, "left").unionByName(pass(right, left, "right"))
  }

  private def mergeJoin(left0: DataFrame, right0: DataFrame, tol: Long,
                        key: Seq[String], leftAlias: Option[String],
                        rightAlias: Option[String], future: Boolean,
                        strict: Boolean, binned: Boolean): DataFrame = {
    require(tol >= 0, "tolerance must be non-negative")
    // fresh exprIds on both sides: self-joins (both sides derived from one
    // scan) cannot alias the same attributes on both sides, and one input
    // projects identically in every merge it feeds (exchange reuse)
    def fresh(df: DataFrame): DataFrame = df.select(df.columns.map(c => col(c).as(c)).toSeq: _*)
    val left = fresh(applyAlias(left0, leftAlias, key))
    val right = fresh(applyAlias(right0, rightAlias, key))
    checkNoClash(left, right, key)
    // the merge hashes and compares both sides' keys and times as one type
    for (c <- TimeColumn +: key) {
      val (lt, rt) = (left.schema(c).dataType, right.schema(c).dataType)
      require(lt == rt, s"as-of join column $c is $lt on the left but $rt on the right; cast one side")
    }
    // Binned scale path: every right row lands in its own tolerance-width
    // bin AND the adjacent bin a left row could reach it from, so merging
    // on (key, bin) sees every candidate. `div` keeps the arithmetic
    // integral (epoch nanos are non-negative).
    val (l, r, mergeKey) =
      if (!binned) (left, right, key)
      else {
        require(tol > 0, "binned as-of join requires tolerance > 0")
        val bin = expr(s"$TimeColumn div ${tol}L")
        (left.withColumn(BinCol, bin),
          right.withColumn(BinCol, explode(array(bin, if (future) bin - 1 else bin + 1))),
          key :+ BinCol)
      }
    val merged = org.apache.spark.sql.graft.AsOfMergeJoin.leftJoinMerge(
      l, r, tol, mergeKey, TimeColumn, future, strict)
    // project to left columns + right value columns; positional temp names
    // sidestep the duplicated time/key names
    val lCols = l.columns.toSeq
    val rCols = r.columns.toSeq
    val tmp = lCols.indices.map(i => s"__l$i") ++ rCols.indices.map(i => s"__r$i")
    merged.toDF(tmp: _*).select(
      lCols.zipWithIndex.collect { case (c, i) if c != BinCol => col(s"__l$i").as(c) } ++
        rCols.zipWithIndex.collect {
          case (c, i) if c != TimeColumn && !mergeKey.contains(c) => col(s"__r$i").as(c)
        }: _*)
  }
}
