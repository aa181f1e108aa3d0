package graft.ts

import graft.SparkTestBase
import org.apache.spark.sql.{DataFrame, Row}

/** As-of join corner cases (≙ reference LeftJoinSpec/FutureLeftJoinSpec:
  * tolerance=0 exact matching, ties, null-padding, empty sides, aliases,
  * and the deterministic tie-break added in round 4). */
class AsOfJoinSpec extends SparkTestBase {
  import spark.implicits._

  private def left(rows: (Long, String)*) = rows.toDF("time", "k")
  private def right(rows: (Long, String, Int)*) = rows.toDF("time", "k", "v")

  private def joined(l: Seq[(Long, String)], r: Seq[(Long, String, Int)],
                     tol: String, future: Boolean = false,
                     strict: Boolean = false) = {
    val lf = left(l: _*)
    val rf = right(r: _*)
    val out =
      if (future) AsOfJoin.futureLeftJoin(lf, rf, tol, Seq("k"), strictLookahead = strict)
      else AsOfJoin.leftJoin(lf, rf, tol, Seq("k"))
    out.collect().map(r => (r.getLong(0), r.getString(1),
      if (r.isNullAt(2)) None else Some(r.getInt(2)))).sortBy(x => (x._1, x._2))
  }

  /** Sorted rows, for order-insensitive comparison with [[bruteForce]]. */
  private def norm(df: DataFrame): Seq[Seq[Any]] = sortRows(df.collect().map(_.toSeq).toSeq)
  private def sortRows(rows: Seq[Seq[Any]]): Seq[Seq[Any]] = rows.sortBy(_.mkString("|"))

  /** Value order with nulls least (Spark's ascending nulls-first). */
  private val nullsFirst: Ordering[Any] = (a: Any, b: Any) => (a, b) match {
    case (null, null) => 0
    case (null, _) => -1
    case (_, null) => 1
    case (x: Comparable[_], y) => x.asInstanceOf[Comparable[Any]].compareTo(y)
  }
  private val tupleOrd: Ordering[Seq[Any]] = Ordering.Implicits.seqOrdering(nullsFirst)

  /** Brute-force as-of reference: a nested loop over the collected rows.
    * A left row's candidates are the right rows whose key equals its key
    * (null matches null) and whose non-null time lies in [t - tol, t]
    * (backward), [t, t + tol] (forward) or (t, t + tol] (strict); the
    * nearest time wins, then the greatest value tuple (nulls least). A left
    * row with a null time is null-padded. Rows: left columns ++ right value
    * columns, sorted. */
  private def bruteForce(l: DataFrame, r: DataFrame, tol: String, key: Seq[String],
                         future: Boolean = false, strict: Boolean = false): Seq[Seq[Any]] = {
    val tolNs = TimeSeriesOps.parseDuration(tol)
    val rVals = r.columns.toSeq.filter(c => c != "time" && !key.contains(c))
    val (lt, lk) = (l.columns.indexOf("time"), key.map(l.columns.indexOf(_)))
    val (rt, rk) = (r.columns.indexOf("time"), key.map(r.columns.indexOf(_)))
    val rv = rVals.map(r.columns.indexOf(_))
    val rights = r.collect().map(_.toSeq).toSeq
    sortRows(l.collect().map(_.toSeq).toSeq.map { lr =>
      val cands = rights.filter { rr =>
        lr(lt) != null && rr(rt) != null && lk.map(lr) == rk.map(rr) && {
          val (a, b) = (lr(lt).asInstanceOf[Long], rr(rt).asInstanceOf[Long])
          if (!future) b <= a && b >= a - tolNs
          else (if (strict) b > a else b >= a) && b <= a + tolNs
        }
      }
      val best = cands.reduceOption { (x, y) =>
        val (tx, ty) = (x(rt).asInstanceOf[Long], y(rt).asInstanceOf[Long])
        val c = if (tx != ty) { if (future) ty compare tx else tx compare ty }
                else tupleOrd.compare(rv.map(x), rv.map(y))
        if (c >= 0) x else y
      }
      lr ++ rv.map(i => best.map(_(i)).orNull)
    })
  }

  /** Brute-force symmetric join: two backward [[bruteForce]] passes,
    * aligned to (time, key, left values, right values, side). */
  private def bruteSym(l: DataFrame, r: DataFrame, tol: String,
                       key: Seq[String]): Seq[Seq[Any]] = {
    def vals(df: DataFrame) = df.columns.toSeq.filter(c => c != "time" && !key.contains(c))
    val out = (("time" +: key) ++ vals(l) ++ vals(r))
    def pass(a: DataFrame, b: DataFrame, side: String) = {
      val cols = a.columns.toSeq ++ vals(b)
      bruteForce(a, b, tol, key).map(row => out.map(c => row(cols.indexOf(c))) :+ side)
    }
    sortRows(pass(l, r, "left") ++ pass(r, l, "right"))
  }

  behavior of "leftJoin (backward as-of)"

  it should "pick the most recent right row within tolerance" in {
    joined(Seq((10L, "a")), Seq((5L, "a", 1), (8L, "a", 2), (12L, "a", 9)),
      "3ns") shouldBe Array((10L, "a", Some(2)))
  }

  it should "null-pad when the nearest right row is outside tolerance" in {
    joined(Seq((10L, "a")), Seq((6L, "a", 1)), "3ns") shouldBe
      Array((10L, "a", None))
  }

  it should "treat tolerance 0ns as exact-timestamp matching" in {
    joined(Seq((10L, "a"), (11L, "a")), Seq((10L, "a", 7)), "0ns") shouldBe
      Array((10L, "a", Some(7)), (11L, "a", None))
  }

  it should "match only rows sharing the key" in {
    joined(Seq((10L, "a"), (10L, "b")), Seq((9L, "b", 5)), "5ns") shouldBe
      Array((10L, "a", None), (10L, "b", Some(5)))
  }

  it should "see a right row at exactly the left time" in {
    joined(Seq((10L, "a")), Seq((10L, "a", 3)), "5ns") shouldBe
      Array((10L, "a", Some(3)))
  }

  it should "break right-side ties at identical (key, time) deterministically" in {
    // Two right rows at the same instant: winner = greatest value tuple,
    // regardless of input order or partitioning.
    val r1 = Seq((10L, "a", 1), (10L, "a", 2))
    joined(Seq((10L, "a")), r1, "5ns") shouldBe Array((10L, "a", Some(2)))
    joined(Seq((10L, "a")), r1.reverse, "5ns") shouldBe Array((10L, "a", Some(2)))
  }

  it should "handle an empty right side with all-null padding" in {
    joined(Seq((10L, "a")), Seq.empty, "5ns") shouldBe Array((10L, "a", None))
  }

  it should "return no rows for an empty left side" in {
    joined(Seq.empty, Seq((10L, "a", 1)), "5ns") shouldBe Array.empty
  }

  it should "match null keys to null keys like the reference's SK map" in {
    val l = Seq((10L, null.asInstanceOf[String]), (10L, "a")).toDF("time", "k")
    val r = Seq((9L, null.asInstanceOf[String], 7), (8L, "a", 8)).toDF("time", "k", "v")
    AsOfJoin.leftJoin(l, r, "5ns", Seq("k")).collect()
      .map(row => (Option(row.getString(1)), row.getInt(2)))
      .sortBy(_._1) shouldBe Array((None, 7), (Some("a"), 8))
  }

  it should "reject negative tolerance" in {
    an[IllegalArgumentException] should be thrownBy
      AsOfJoin.leftJoin(left((1L, "a")), right((1L, "a", 1)), "-1ns", Seq("k"))
  }

  behavior of "futureLeftJoin (forward as-of)"

  it should "pick the nearest future right row within tolerance" in {
    joined(Seq((10L, "a")), Seq((11L, "a", 4), (13L, "a", 5), (9L, "a", 6)),
      "5ns", future = true) shouldBe Array((10L, "a", Some(4)))
  }

  it should "include a right row at exactly t when not strict" in {
    joined(Seq((10L, "a")), Seq((10L, "a", 7), (11L, "a", 8)),
      "5ns", future = true) shouldBe Array((10L, "a", Some(7)))
  }

  it should "exclude a right row at exactly t when strictLookahead" in {
    joined(Seq((10L, "a")), Seq((10L, "a", 7), (11L, "a", 8)),
      "5ns", future = true, strict = true) shouldBe Array((10L, "a", Some(8)))
  }

  it should "null-pad when the nearest future row is beyond tolerance" in {
    joined(Seq((10L, "a")), Seq((16L, "a", 1)), "5ns", future = true) shouldBe
      Array((10L, "a", None))
  }

  behavior of "binned as-of join (scale path)"

  it should "produce identical results to the unbinned plan" in {
    val rnd = new scala.util.Random(42)
    val lrows = Seq.tabulate(300)(i =>
      (rnd.nextInt(1000).toLong, if (rnd.nextBoolean()) "a" else "b", i))
    val rrows = Seq.tabulate(300)(i =>
      (rnd.nextInt(1000).toLong, if (rnd.nextBoolean()) "a" else "b", i + 1000))
    val lf = lrows.toDF("time", "k", "lv")
    val rf = rrows.toDF("time", "k", "rv")
    for (tol <- Seq("7ns", "40ns", "1000ns")) {
      norm(AsOfJoin.leftJoin(lf, rf, tol, Seq("k"), binned = true)) shouldBe
        bruteForce(lf, rf, tol, Seq("k"))
      norm(AsOfJoin.futureLeftJoin(lf, rf, tol, Seq("k"), binned = true)) shouldBe
        bruteForce(lf, rf, tol, Seq("k"), future = true)
      norm(AsOfJoin.futureLeftJoin(lf, rf, tol, Seq("k"),
        strictLookahead = true, binned = true)) shouldBe
        bruteForce(lf, rf, tol, Seq("k"), future = true, strict = true)
      // keyless: the case binning exists for
      norm(AsOfJoin.leftJoin(lf.drop("k"), rf.drop("k"), tol, binned = true)) shouldBe
        bruteForce(lf.drop("k"), rf.drop("k"), tol, Seq.empty)
    }
  }

  it should "reject binned mode with zero tolerance" in {
    an[IllegalArgumentException] should be thrownBy
      AsOfJoin.leftJoin(left((1L, "a")), right((1L, "a", 1)), "0ns", Seq("k"),
        binned = true)
  }

  behavior of "leftJoinMerge (phase-2 range-merge operator)"

  it should "produce identical results to a brute-force as-of join" in {
    val rnd = new scala.util.Random(7)
    // unique (k, time) pairs
    val lrows = rnd.shuffle(Seq.tabulate(400)(i =>
      ((i * 5).toLong, if (i % 3 == 0) "a" else "b", i)))
    val rrows = rnd.shuffle(Seq.tabulate(400)(i =>
      ((i * 7 + 1).toLong, if (i % 2 == 0) "a" else "b", i + 1000)))
    val lf = lrows.toDF("time", "k", "lv")
    val rf = rrows.toDF("time", "k", "rv")
    for (tol <- Seq("0ns", "10ns", "500ns", "100000ns")) {
      norm(AsOfJoin.leftJoinMerge(lf, rf, tol, Seq("k"))) shouldBe
        bruteForce(lf, rf, tol, Seq("k"))
    }
    // keyless (AllTuples distribution)
    norm(AsOfJoin.leftJoinMerge(lf.drop("k"), rf.drop("k"), "500ns")) shouldBe
      bruteForce(lf.drop("k"), rf.drop("k"), "500ns", Seq.empty)
    // forward variants, strict and non-strict
    for (tol <- Seq("0ns", "10ns", "500ns")) {
      norm(AsOfJoin.futureLeftJoinMerge(lf, rf, tol, Seq("k"))) shouldBe
        bruteForce(lf, rf, tol, Seq("k"), future = true)
      norm(AsOfJoin.futureLeftJoinMerge(lf, rf, tol, Seq("k"),
        strictLookahead = true)) shouldBe
        bruteForce(lf, rf, tol, Seq("k"), future = true, strict = true)
    }
  }

  it should "handle a self-derived right side (duplicate exprIds)" in {
    val base = Seq((1L, "a", 1), (2L, "a", 2), (3L, "a", 3)).toDF("time", "k", "v")
    val l = base.filter($"v" =!= 2).select($"time", $"k", $"v".as("lv"))
    val r = base.filter($"v" === 2).select($"time", $"k", $"v".as("rv"))
    val out = AsOfJoin.leftJoinMerge(l, r, "5ns", Seq("k"))
      .orderBy("time").collect()
    out.map(row => (row.getLong(0),
      if (row.isNullAt(3)) None else Some(row.getInt(3)))) shouldBe
      Array((1L, None), (3L, Some(2)))
  }

  it should "keep the left and right columns in order and null-pad a miss" in {
    val l = Seq((10L, "a")).toDF("time", "k")
    val r = Seq((8L, "a", 1, "x")).toDF("time", "k", "v", "s")
    val out = AsOfJoin.leftJoinMerge(l, r, "5ns", Seq("k"))
    out.columns.toSeq shouldBe Seq("time", "k", "v", "s")
    out.collect().head shouldBe Row(10L, "a", 1, "x")
    val miss = AsOfJoin.leftJoinMerge(l, r, "1ns", Seq("k")).collect().head
    miss shouldBe Row(10L, "a", null, null)
  }

  it should "emit UnsafeRows usable by collect and sort on the raw builder" in {
    // Regression: the physical operator must apply a result projection —
    // a raw JoinedRow(GenericInternalRow null side) ClassCastExceptions in
    // executeCollect (casts to UnsafeRow) and in SortExec's row sorter.
    import org.apache.spark.sql.graft.AsOfMergeJoin
    val l = Seq((10L, "a"), (20L, "b")).toDF("time", "k")
    val r = Seq((8L, "a", 1)).toDF("time", "k", "v")
    val direct = AsOfMergeJoin.leftJoinMerge(l, r, 5L, Seq("k"), "time")
    direct.collect().map(_.toSeq).toSet shouldBe
      Set(Seq(10L, "a", 8L, "a", 1), Seq(20L, "b", null, null, null))
    // sort on the right-side value ("time" is ambiguous on the raw output:
    // both sides keep their column) — SortExec consumes the rows directly
    direct.orderBy($"v".desc_nulls_last).collect().head.getLong(0) shouldBe 10L
  }

  behavior of "symmetricJoin (full-outer as-of)"

  private def sym(l: Seq[(Long, String, Int)], r: Seq[(Long, String, Int)],
                  tol: String) = {
    val lf = l.toDF("time", "k", "lv")
    val rf = r.toDF("time", "k", "rv")
    AsOfJoin.symmetricJoin(lf, rf, tol, Seq("k"))
      .collect().map(row => (row.getLong(0), row.getString(4),
        if (row.isNullAt(2)) None else Some(row.getInt(2)),
        if (row.isNullAt(3)) None else Some(row.getInt(3))))
      .sortBy(x => (x._1, x._2))
  }

  it should "emit one row per input row with backward matches both ways" in {
    sym(Seq((10L, "a", 1)), Seq((8L, "a", 5), (12L, "a", 6)), "5ns") shouldBe
      Array(
        (8L, "right", None, Some(5)),      // no left at or before 8
        (10L, "left", Some(1), Some(5)),   // left@10 sees right@8
        (12L, "right", Some(1), Some(6)))  // right@12 sees left@10
  }

  it should "null-pad matches outside tolerance in both directions" in {
    sym(Seq((10L, "a", 1)), Seq((2L, "a", 5)), "3ns") shouldBe
      Array(
        (2L, "right", None, Some(5)),
        (10L, "left", Some(1), None))
  }

  it should "let equal-time rows see each other in both directions" in {
    sym(Seq((10L, "a", 1)), Seq((10L, "a", 5)), "0ns") shouldBe
      Array(
        (10L, "left", Some(1), Some(5)),
        (10L, "right", Some(1), Some(5)))
  }

  it should "respect keys in both directions" in {
    sym(Seq((10L, "a", 1)), Seq((9L, "b", 5)), "5ns") shouldBe
      Array(
        (9L, "right", None, Some(5)),
        (10L, "left", Some(1), None))
  }

  it should "reject inputs that already carry a 'side' column" in {
    val l = Seq((1L, "a", "x")).toDF("time", "k", "side")
    val r = Seq((1L, "a", 2)).toDF("time", "k", "rv")
    an[IllegalArgumentException] should be thrownBy
      AsOfJoin.symmetricJoin(l, r, "1ns", Seq("k"))
  }

  it should "produce identical results on the binned scale path (incl. keyless)" in {
    val l = (0 until 40).map(i => (i * 7L + 3, "k" + (i % 2), i))
    val r = (0 until 40).map(i => (i * 11L, "k" + (i % 2), i * 100))
    for (key <- Seq(Seq("k"), Seq.empty[String])) {
      val lf = (if (key.isEmpty) l.map(x => (x._1, x._3)).toDF("time", "lv")
                else l.toDF("time", "k", "lv"))
      val rf = (if (key.isEmpty) r.map(x => (x._1, x._3)).toDF("time", "rv")
                else r.toDF("time", "k", "rv"))
      for (binned <- Seq(true, false))
        norm(AsOfJoin.symmetricJoin(lf, rf, "25ns", key, binned = binned)) shouldBe
          bruteSym(lf, rf, "25ns", key)
    }
  }

  behavior of "null times"

  it should "never match a null-time right row and null-pad a null-time left row" in {
    // a null time read as 0 would put right (null, "a") within 10ns of
    // left (5, "a"), and left (null, "a") at the head of every window
    val l = Seq[(Option[Long], String, Int)]((Some(5L), "a", 1), (None, "a", 2),
      (Some(20L), "a", 3), (None, "b", 4), (Some(3L), "b", 5)).toDF("time", "k", "lv")
    val r = Seq[(Option[Long], String, Int)]((None, "a", 10), (Some(15L), "a", 11),
      (Some(22L), "a", 12), (None, "b", 13), (Some(6L), "c", 14)).toDF("time", "k", "rv")
    val k = Seq("k")
    for (tol <- Seq("10ns", "100ns")) {
      for (j <- Seq(AsOfJoin.leftJoin(l, r, tol, k), AsOfJoin.leftJoinMerge(l, r, tol, k)))
        norm(j) shouldBe bruteForce(l, r, tol, k)
      for (strict <- Seq(false, true);
           j <- Seq(AsOfJoin.futureLeftJoin(l, r, tol, k, strictLookahead = strict),
             AsOfJoin.futureLeftJoinMerge(l, r, tol, k, strictLookahead = strict)))
        norm(j) shouldBe bruteForce(l, r, tol, k, future = true, strict = strict)
      norm(AsOfJoin.symmetricJoin(l, r, tol, k)) shouldBe bruteSym(l, r, tol, k)
    }
    AsOfJoin.leftJoinMerge(l, r, "10ns", k).filter($"lv" <= 2).orderBy("lv")
      .collect().map(_.get(3)) shouldBe Array(null, null)
  }

  behavior of "right-side ties at identical (key, time)"

  it should "resolve to the greatest value tuple on every layout, AQE mode and input order" in {
    val lrows = Seq[(Long, String, Option[Int])]((10L, "a", Some(1)), (10L, "a", Some(9)),
      (10L, "a", None), (12L, "a", Some(2)), (8L, "a", Some(3)), (14L, "a", Some(4)),
      (15L, "a", Some(5)), (10L, "b", Some(6)), (9L, "b", Some(7)), (10L, null, Some(8)))
    val rrows = Seq[(Long, String, Option[Int], String)](
      (10L, "a", Some(2), null), (10L, "a", Some(2), "y"), (10L, "a", Some(1), "z"),
      (10L, "a", None, "zz"), (14L, "a", Some(5), "p"), (14L, "a", Some(5), null),
      (14L, "a", None, null), (10L, "b", Some(7), "q"), (10L, "b", Some(7), "r"),
      (10L, null, Some(3), "n1"), (10L, null, Some(3), "n2"))
    val k = Seq("k")
    val tol = "5ns"
    def frames(rev: Boolean) = {
      def order[T](xs: Seq[T]) = if (rev) xs.reverse else xs
      // spread the tied rows over map tasks so plan order can vary
      (order(lrows).toDF("time", "k", "lv").repartition(3),
        order(rrows).toDF("time", "k", "v", "s").repartition(3))
    }
    val (l0, r0) = frames(rev = false)
    val backward = bruteForce(l0, r0, tol, k)
    val forward = bruteForce(l0, r0, tol, k, future = true)
    val strictFwd = bruteForce(l0, r0, tol, k, future = true, strict = true)
    val symmetric = bruteSym(l0, r0, tol, k)
    backward should contain(Seq(10L, "a", 9, 2, "y"))
    strictFwd should contain(Seq(10L, "a", 9, 5, "p"))
    symmetric should contain(Seq(10L, "a", 9, 2, "y", "right"))
    for (parts <- Seq(1, 4, 7); aqe <- Seq(false, true); rev <- Seq(false, true)) {
      spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
      spark.conf.set("spark.sql.adaptive.enabled", aqe.toString)
      try {
        val (l, r) = frames(rev)
        withClue(s"partitions=$parts aqe=$aqe reversed=$rev: ") {
          norm(AsOfJoin.leftJoin(l, r, tol, k)) shouldBe backward
          norm(AsOfJoin.leftJoinMerge(l, r, tol, k)) shouldBe backward
          norm(AsOfJoin.futureLeftJoin(l, r, tol, k)) shouldBe forward
          norm(AsOfJoin.futureLeftJoinMerge(l, r, tol, k)) shouldBe forward
          norm(AsOfJoin.futureLeftJoin(l, r, tol, k, strictLookahead = true)) shouldBe strictFwd
          norm(AsOfJoin.futureLeftJoinMerge(l, r, tol, k, strictLookahead = true)) shouldBe
            strictFwd
          norm(AsOfJoin.symmetricJoin(l, r, tol, k)) shouldBe symmetric
        }
      } finally {
        spark.conf.set("spark.sql.shuffle.partitions", "4")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
      }
    }
  }

  it should "skip the tie order when a right value type is unorderable" in {
    // a map column cannot be sorted: the right side sorts by (key, time) only
    val l = Seq((10L, "a")).toDF("time", "k")
    val r = Seq((8L, "a", Map("x" -> 1))).toDF("time", "k", "m")
    AsOfJoin.leftJoin(l, r, "5ns", Seq("k")).collect().head shouldBe
      Row(10L, "a", Map("x" -> 1))
    AsOfJoin.futureLeftJoin(l, r, "5ns", Seq("k")).collect().head shouldBe
      Row(10L, "a", null)
  }

  behavior of "aliases and clashes"

  it should "prefix right columns with rightAlias" in {
    val out = AsOfJoin.leftJoin(
      Seq((10L, "a", 1)).toDF("time", "k", "v"),
      Seq((9L, "a", 2)).toDF("time", "k", "v"),
      "5ns", Seq("k"), rightAlias = Some("r"))
    out.columns.toSeq shouldBe Seq("time", "k", "v", "r_v")
    out.select("r_v").as[Int].head() shouldBe 2
  }

  it should "reject key or time columns whose types differ between the sides" in {
    // the merge hashes and compares both sides' keys as one type
    val l = Seq((10L, 1)).toDF("time", "k")
    val r = Seq((9L, 1L, 2)).toDF("time", "k", "v")
    an[IllegalArgumentException] should be thrownBy AsOfJoin.leftJoin(l, r, "5ns", Seq("k"))
    an[IllegalArgumentException] should be thrownBy AsOfJoin.leftJoin(
      l, Seq((9, 1, 2)).toDF("time", "k", "v"), "5ns", Seq("k"))
  }

  it should "reject colliding value column names without aliases" in {
    an[IllegalArgumentException] should be thrownBy AsOfJoin.leftJoin(
      Seq((10L, "a", 1)).toDF("time", "k", "v"),
      Seq((9L, "a", 2)).toDF("time", "k", "v"),
      "5ns", Seq("k"))
  }

  it should "carry multiple right value columns through one struct" in {
    val l = Seq((10L, "a")).toDF("time", "k")
    val r = Seq((8L, "a", 1, "x"), (9L, "a", 2, "y")).toDF("time", "k", "v", "s")
    val row = AsOfJoin.leftJoin(l, r, "5ns", Seq("k")).collect().head
    row shouldBe Row(10L, "a", 2, "y")
  }

  it should "not leak an older right value when matched row has a null column" in {
    // right@8 has s="x"; right@9 (the match) has s=null — the null must
    // survive (struct bundling prevents per-column last() leakage).
    val l = Seq((10L, "a")).toDF("time", "k")
    val r = Seq((8L, "a", 1, "x"), (9L, "a", 2, null))
      .toDF("time", "k", "v", "s")
    val row = AsOfJoin.leftJoin(l, r, "5ns", Seq("k")).collect().head
    row shouldBe Row(10L, "a", 2, null)
  }
}
