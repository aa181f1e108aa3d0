package graft.llm

import graft.SparkTestBase
import org.apache.spark.sql.{functions => F}

/** Web-graph operators: href extraction semantics (pattern corner cases),
  * domain edge lifting, and an independent integer replay of the
  * fixed-iteration PageRank. */
class WebGraphSpec extends SparkTestBase {
  import spark.implicits._

  behavior of "extractLinks"

  it should "capture double-quoted hrefs with pinned corner semantics" in {
    val rows = Seq(
      // plain + uppercase tag
      """<a href="https://a.com/1">x</a> <A href="https://b.com/2">y</A>""",
      // data-href decoy: greedy [^>]* takes the LAST href in the tag
      """<a data-href="skip" href="https://real.com/p">z</a>""",
      // no-href anchor, href-like attr value, single quotes: no match
      """<a name="plain">x</a> <a title="href=nope">y</a> <a href='https://sq.com'>s</a>""",
      // relative href extracts (dropping happens at the edge lift)
      """<a href="/local/page">rel</a>""",
      // newline inside the tag; tag glued to href needs whitespace
      "<a\nclass=\"c\" href=\"https://nl.com/x\">n</a> <ahref=\"https://no.com\">m</a>")
    val got = rows.toDF("h")
      .select(WebGraph.extractLinks(F.col("h")).as("l"))
      .collect().map(_.getSeq[String](0).toList).toList
    got shouldBe List(
      List("https://a.com/1", "https://b.com/2"),
      List("https://real.com/p"),
      List(),
      List("/local/page"),
      List("https://nl.com/x"))
  }

  behavior of "domainEdges"

  it should "lift edges to registrable domains and drop relative links" in {
    val df = Seq(
      (1L, "https://WWW.Src1.co.uk:443/a",
        """<a href="https://a.com/1">x</a><a href="/rel">r</a>""" +
          """<a href="HTTPS://user@B.com:8080/q#f">y</a>"""),
      (2L, "https://src2.com/b",
        """<a href="https://a.com/2">x</a><a href="https://a.com/3">x2</a>"""))
      .toDF("id", "url", "html")
    val got = WebGraph.domainEdges(df, "url", "html")
      .collect().map(r => (r.getString(0), r.getString(1))).sorted.toList
    got shouldBe List(
      ("src1.co.uk", "a.com"), ("src1.co.uk", "b.com"),
      ("src2.com", "a.com"), ("src2.com", "a.com"))
  }

  behavior of "pageRankMicro"

  // Plain-Scala integer replay of the pinned contract.
  private def replay(edges: Seq[(String, String)], iters: Int)
      : Map[String, Long] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    val out = edges.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    var r = nodes.map(_ -> 1000000L).toMap
    (1 to iters).foreach { _ =>
      val in = edges.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map { case (src, _) => r(src) / out(src) }.sum
      }
      r = nodes.map(n => n -> (150000L + 85L * in.getOrElse(n, 0L) / 100L)).toMap
    }
    r
  }

  it should "match an independent integer replay (dangling, parallel edges)" in {
    // c is dangling (mass dropped); a<-b twice (parallel edge weight);
    // d has no inlinks (teleport only).
    val edges = Seq(("a", "b"), ("a", "c"), ("b", "a"), ("b", "a"),
      ("d", "a"), ("d", "b"), ("d", "c"))
    val got = WebGraph.pageRankMicro(
        edges.toDF("src_domain", "dst_domain"), iters = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    got shouldBe replay(edges, 3)
    // sanity: d (no inlinks) sits at the teleport floor, a is ranked top
    got("d") shouldBe 150000L
    got("a") should be > got("b")
  }

  it should "drop edges with a null endpoint before ranking" in {
    // e is reached only through (null, e), so it gets no row; (a, null)
    // must neither count toward a's outdegree nor yield a null node
    val edges = Seq(("a", "b"), ("b", "a"), ("a", "c"))
    val withNulls = edges ++ Seq((null: String, "c"), (null: String, "e"),
      ("a", null: String))
    val got = WebGraph.pageRankMicro(
        withNulls.toDF("src_domain", "dst_domain"), iters = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    got shouldBe replay(edges, 3)
  }

  it should "release every cache (localized result leaves none behind)" in {
    val before = spark.sparkContext.getPersistentRDDs.size
    val r = WebGraph.pageRankMicro(
      Seq(("a", "b"), ("b", "a")).toDF("src_domain", "dst_domain"), iters = 2)
    // |domains| = 2 <= LocalizeRows, so the result comes back as a local
    // DataFrame and the session holds NO residual cached RDD at all.
    spark.sparkContext.getPersistentRDDs.size shouldBe before
    r.count() shouldBe 2L
  }

  behavior of "inlinkStats"

  it should "count inbound links and distinct sources per domain" in {
    val df = Seq(
      (1L, "https://s1.com/a",
        """<a href="https://t.com/1">x</a><a href="https://t.com/2">y</a>"""),
      (2L, "https://s2.com/b", """<a href="https://t.com/3">x</a>"""),
      (3L, "https://s1.com/c", """<a href="https://u.org/1">x</a>"""))
      .toDF("id", "url", "html")
    val got = WebGraph.inlinkStats(df, "url", "html")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1).toList
    got shouldBe List(("t.com", 3L, 2L), ("u.org", 1L, 1L))
  }
}
