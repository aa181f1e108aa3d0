package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.{Column, functions => F}

/**
 * Web-graph operators for corpus curation: outlink extraction from raw
 * HTML, the page→page edge list lifted to registrable domains, and an
 * integer-arithmetic fixed-iteration PageRank — the domain-authority
 * signal crawl curation uses to prioritize fetch frontiers and to weight
 * URL-level quality filters (the Common-Crawl-style harmonic/PageRank
 * domain ranking, cf. Brin & Page 1998).
 *
 * Scale shapes: extraction is one codegen'd regexp scan per page (no
 * shuffle); the edge list is explode + one projection; PageRank is, per
 * iteration, ONE equi-join of the current rank vector (|domains| rows —
 * orders of magnitude smaller than the corpus) with the edge list plus
 * one map-side-combinable sum — no windows, no collects, and the rank
 * vector is re-persisted each round so the lineage stays one-deep.
 * Arithmetic is integer micro-units throughout, so every engine computes
 * the same ranks regardless of partitioning or merge order.
 */
object WebGraph {

  /** Double-quoted href values of `<a>` tags, in document order. The
    * pattern stays inside the subset java.util.regex and RE2 (DuckDB)
    * interpret identically: explicit whitespace class (RE2's `\s` lacks
    * U+000B), greedy `[^>]*` backtracking to the LAST href attribute of
    * a tag in both engines, no lookaround. Single-quoted/unquoted hrefs
    * are out of contract (the corpus construction quotes). */
  val HrefPattern = "<[aA][ \\t\\n\\r\\f][^>]*href=\"([^\"]*)\""

  /** Array of href strings per page — one regexp scan, no shuffle. */
  def extractLinks(html: Column): Column =
    F.regexp_extract_all(html, F.lit(HrefPattern), F.lit(1))

  /** (src_domain, dst_domain) multigraph edge list: source = registrable
    * domain of the page's own URL, destination = registrable domain of
    * each extracted absolute href. Relative links (no scheme ⇒ null
    * host) drop — the cross-site graph is what domain ranking consumes.
    * Parallel edges are kept: they are the edge weight under the integer
    * division below. */
  def domainEdges(df: DataFrame, urlCol: String, htmlCol: String): DataFrame = {
    val src = Urls.registrableDomain(Urls.host(F.col(urlCol)))
    val dst = Urls.registrableDomain(Urls.host(F.col("__wg_href")))
    df.select(src.as("src_domain"),
        F.explode(extractLinks(F.col(htmlCol))).as("__wg_href"))
      .select(F.col("src_domain"), dst.as("dst_domain"))
      .filter(F.col("src_domain").isNotNull && F.col("dst_domain").isNotNull)
  }

  /**
   * Fixed-iteration PageRank in integer MICRO-UNITS: every node starts at
   * 1_000_000; each iteration sends `rank div outdeg` along every edge
   * (integer division — remainders, like dangling-node mass, are dropped;
   * both deviations from the eigenvector formulation are standard
   * fixed-point simplifications and are part of the pinned contract) and
   * sets `rank' = ((dampDen−dampNum)·1_000_000) div dampDen +
   * (dampNum · Σ inbound) div dampDen`. All-integer ⇒ the result is
   * bit-identical for any partitioning, any merge order, and any engine —
   * the DuckDB oracle replays the iterations as chained CTEs.
   *
   * Output: (node, rank_micro) for every node that appears as a source or
   * destination of an edge. An edge with a null source or destination is
   * not an edge: it is dropped before ranking (as [[domainEdges]] and the
   * DuckDB oracle drop it), so it adds nothing to any outdegree, and a
   * domain seen only at the other end of such an edge gets no row.
   * `iters` is small and fixed (rank ordering stabilizes in a few rounds;
   * curation wants the ordering, not the eigenvector), so the whole op is
   * `iters` joins over the |domains|-sized vector.
   *
   * Result-persistence contract: up to `localizeRows` nodes the rank
   * vector is collected and returned as a LOCAL DataFrame — the call
   * leaves zero residual cache. Beyond that the persisted distributed
   * vector is returned and the caller must `unpersist()` it when done.
   * Callers that don't branch on size can always call `unpersist()` —
   * it is a no-op on the localized form, stated here so the contract is
   * not data-dependent from the caller's side.
   */
  def pageRankMicro(edges: DataFrame, iters: Int = 3,
                    dampNum: Long = 85L, dampDen: Long = 100L,
                    srcCol: String = "src_domain",
                    dstCol: String = "dst_domain",
                    localizeRows: Long = LocalizeRows): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    require(dampNum >= 0 && dampNum <= dampDen && dampDen > 0,
      "damping must satisfy 0 <= dampNum <= dampDen")
    // Collapse the multigraph to WEIGHTED edges once: parallel (src, dst)
    // edges each contribute the identical integer `rank div outdeg`, so
    // summing w copies equals w * (rank div outdeg) exactly — bit-identical
    // under the pinned integer contract. Every iteration then joins the
    // |distinct domain pairs|-row weighted list instead of the
    // |links|-row multigraph (at corpus scale, orders of magnitude fewer
    // rows per round), and the outdegree (= Σ w per src, still counting
    // parallel edges) rides ON the persisted edge frame so each round is
    // ONE join + one combinable sum instead of two joins.
    val ew = edges.select(F.col(srcCol).as("__wg_src"),
      F.col(dstCol).as("__wg_dst"))
      .filter(F.col("__wg_src").isNotNull && F.col("__wg_dst").isNotNull)
      .groupBy("__wg_src", "__wg_dst").agg(F.count(F.lit(1)).as("__wg_w"))
    val outdeg = ew.groupBy("__wg_src").agg(F.sum("__wg_w").as("__wg_out"))
    val e = ew.join(outdeg, "__wg_src")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nodes = e.select(F.col("__wg_src").as("node"))
      .union(e.select(F.col("__wg_dst").as("node"))).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val teleport = ((dampDen - dampNum) * 1000000L) / dampDen
    var ranks = nodes.select(F.col("node"),
      F.lit(1000000L).as("rank_micro"))
    var prev: DataFrame = null
    var i = 0
    while (i < iters) {
      val contribs = e
        .join(ranks, F.col("__wg_src") === F.col("node"))
        .select(F.col("__wg_dst"),
          (F.col("__wg_w") * F.expr("rank_micro div __wg_out")).as("__wg_c"))
        .groupBy("__wg_dst").agg(F.sum("__wg_c").as("__wg_in"))
      val next = nodes
        .join(contribs, F.col("node") === F.col("__wg_dst"), "left")
        .select(F.col("node"),
          (F.lit(teleport) +
            F.expr(s"($dampNum * coalesce(__wg_in, 0L)) div $dampDen"))
            .as("rank_micro"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      if (prev != null) prev.unpersist(blocking = false)
      prev = ranks
      ranks = next
      i += 1
    }
    // One action materializes the final |domains|-row vector, then every
    // intermediate cache is released. The materialized count decides the
    // return shape: up to `localizeRows` the vector is collected and
    // re-created as a local DataFrame (rank vectors ARE model parameters;
    // at the 500k default that is ~20 MB of payload but ~150-200 MB of
    // TRANSIENT driver heap once JVM Row/object overhead is counted —
    // size the threshold to the driver, not the payload), so the call
    // leaves NO residual cache in the session; beyond it the persisted
    // distributed vector is returned and the CALLER must unpersist when
    // done (unpersist on the localized form is a harmless no-op).
    val n = ranks.count()
    if (prev != null) prev.unpersist(blocking = false)
    e.unpersist(blocking = false)
    nodes.unpersist(blocking = false)
    if (n <= localizeRows) {
      val rows = ranks.collect()
      val schema = ranks.schema
      ranks.unpersist(blocking = false)
      val s = edges.sparkSession
      s.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    } else ranks
  }

  /** Default rank-vector size up to which [[pageRankMicro]] localizes its
    * result (collect + local DataFrame) instead of returning a persisted
    * distributed one the caller must release. 500k rows ≈ 20 MB of
    * payload but a several-fold larger transient driver-heap footprint
    * (JVM Row/object overhead) — kept conservatively below typical driver
    * budgets; override per call via `localizeRows`. */
  val LocalizeRows: Long = 500000L

  /** Per-destination-domain inlink audit: total inbound links and
    * distinct linking domains — the fan-in signal URL filters threshold
    * on. One explode + one two-measure aggregation. */
  def inlinkStats(df: DataFrame, urlCol: String, htmlCol: String): DataFrame =
    domainEdges(df, urlCol, htmlCol)
      .groupBy(F.col("dst_domain").as("domain"))
      .agg(F.count(F.lit(1)).as("n_inlinks"),
        F.count_distinct(F.col("src_domain")).as("n_src_domains"))
}
