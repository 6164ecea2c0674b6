package graft.rel

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed PageRank by damped power iteration (Page et al. 1999;
  * the Pregel/GraphX formulation re-expressed as declarative joins).
  *
  * Web-scale curation pipelines use link-graph centrality as a
  * document-quality prior — e.g. host-graph centrality in
  * Common-Crawl-derived corpora (RefinedWeb, Penedo 2023 §3.1 keeps
  * the host graph exactly for this purpose) — so the engine ships it
  * as a first-class operator next to the quality gates it feeds
  * ([[graft.text.QualityRules]]).
  *
  * Semantics (the standard random-surfer chain):
  *   r⁰(v)   = 1/N
  *   rᵏ⁺¹(v) = (1−d)/N + d·( Σ_{(u,v)∈E} rᵏ(u)/outdeg(u) + D_k/N )
  * where D_k = Σ over dangling nodes (outdeg 0) of rᵏ — the dangling
  * mass is redistributed uniformly, so Σ_v rᵏ(v) = 1 at every k.
  * Parallel edges count multiply (a u→v edge listed twice carries
  * 2·r/outdeg — the weighted-surfer convention); callers wanting
  * simple-graph semantics `.distinct()` their edge table first.
  *
  * Scale shape: per iteration, ONE equi-join of the rank vector onto
  * the (pre-joined, cached) edge+outdegree table on `src`, then ONE
  * map-side-combinable `groupBy(dst).sum` — the same two exchanges a
  * Pregel superstep costs. The dangling term and 1/N are broadcast
  * scalar subqueries (single-row aggregates), never driver collects.
  * The rank vector is |V| rows — at 100 TB of edges the host-level
  * vector is millions of rows, comfortably a normal shuffle; nothing
  * here materializes |E|-sized state beyond the cached edge table.
  * Each iteration ends at an RDD boundary (`planLeaf`): the rank
  * vector is referenced more than once per iteration (dangling mass +
  * contributions), and Catalyst expands plan references BY VALUE — an
  * un-truncated k-iteration chain is a 2^k-node logical plan that the
  * analyzer cannot survive past ~7 iterations. RDD lineage, by
  * contrast, is a dag BY REFERENCE (linear in k, shuffle outputs
  * reused across the two consumers within one action), and the
  * boundary pins no storage — unlike a per-iteration checkpoint,
  * which would leave k × |V| rows in executor block storage per call.
  * For iteration counts deep enough that even the RDD dag's scheduler
  * walk matters (~50+), `checkpointEvery` additionally truncates RDD
  * lineage with `Checkpointing.truncate`.
  */
object PageRank {

  /** Truncate the LOGICAL plan at `df`: the result reads `df`'s RDD
    * through a leaf scan, so downstream plan size stops compounding.
    * Lazy — no job, no pinned blocks. Shared by the iterative graph
    * operators ([[PageRank]], [[Hits]]). */
  private[rel] def planLeaf(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(df.rdd, df.schema)

  /** The graph family's node universe: the explicit `nodes` set, else
    * ALL raw edge endpoints — including nodes whose only edges are
    * self-loops (r18 review: KCore/Triangles derived the default from
    * the self-loop-FILTERED edge set and silently dropped such nodes
    * while LabelProp kept them; one definition ends the drift). */
  private[rel] def nodeUniverse(eRaw: DataFrame, c1: String, c2: String,
      nodes: Option[DataFrame]): DataFrame =
    nodes.getOrElse(eRaw.select(col(c1)).union(eRaw.select(col(c2))))
      .toDF("id").distinct()

  /** The family's canonical undirected simplification: self-loops
    * dropped, unordered (a, b) with a < b, deduped — previously
    * re-implemented per operator (the drift source above). */
  private[rel] def undirectedSimple(eRaw: DataFrame, c1: String,
      c2: String): DataFrame =
    eRaw.filter(col(c1) =!= col(c2))
      .select(least(col(c1), col(c2)).as("a"),
        greatest(col(c1), col(c2)).as("b"))
      .distinct()

  /** Ranks after `iters` damped power iterations over `edges`
    * (columns `srcCol`, `dstCol`; any integral or string node type).
    * Returns (id, r) for every node in `nodes` when given, else for
    * every node appearing as a source or destination — pass the full
    * universe explicitly when isolated nodes (no edges either way)
    * must still carry rank. A caller-supplied `nodes` MUST be a
    * superset of the edge endpoints: contributions into an
    * out-of-universe dst are dropped by the left join and an
    * out-of-universe src never ranks, so a partial universe silently
    * loses total rank mass (Σr < 1). To rank a subgraph, filter the
    * EDGE table to the subgraph first, then pass its node set.
    * Exact doubles — callers round for cross-engine comparison
    * (partial-sum order varies by partitioning, the q93 convention).
    *
    * The returned frame is materialized (`Checkpointing.truncate`) so the
    * |E|-sized cached edge+outdegree table can be unpersisted before
    * returning — callers get a computed rank vector, not a lazy
    * 5-join-deep plan holding executor storage.
    */
  def pageRank(edges: DataFrame, iters: Int, damping: Double = 0.85,
      srcCol: String = "src", dstCol: String = "dst",
      nodes: Option[DataFrame] = None,
      checkpointEvery: Int = 0,
      seeds: Option[DataFrame] = None): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(damping > 0.0 && damping < 1.0,
      s"damping must be in (0,1), got $damping")
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    val univ = nodes.getOrElse(
        e.select(col("src")).union(e.select(col("dst"))))
      .toDF("id").distinct()
    val outdeg = e.groupBy("src").agg(count(lit(1)).as("deg"))
    // |E|-sized, reused every iteration: join outdeg in once and cache
    val ed = e.join(outdeg, "src").cache()
    // the dangling node SET is iteration-invariant (r18 review: the
    // per-iteration anti-join against UNCACHED outdeg re-scanned and
    // re-aggregated the whole edge table every round) — |dangling|-
    // sized, cached once, released with ed
    val dangIds = univ.join(outdeg, col("id") === col("src"),
        "left_anti").select(col("id").as("did")).cache()
    // the teleport distribution p(v): uniform 1/N, or — personalized
    // PageRank (Page et al. 1999 §6; the seed-expansion operator of
    // host-graph curation) — 1/|S| on `seeds`, 0 elsewhere. Dangling
    // mass redistributes to p as well, so Σr = 1 in both modes. Both
    // forms derive from broadcast single-row aggregates, never a
    // driver collect; the |V|-row (id, p) vector is cached for reuse
    // across iterations and released with ed.
    var ssCached: Option[DataFrame] = None
    val tele = (seeds match {
      case None =>
        univ.crossJoin(broadcast(
            univ.agg((lit(1.0) / count(lit(1))).as("pp"))))
          .select(col("id"), col("pp").as("p"))
      case Some(sd) =>
        // seeds are restricted to the node universe BEFORE |S| is
        // counted: an out-of-universe seed would inflate |S| (ps =
        // 1/count) while its teleport mass is unassignable — silently
        // deflating Σr below 1. A seed set that is empty (or entirely
        // outside the universe) would yield an all-zero rank vector, so
        // it fails loudly instead. The semi-join is seed-set-sized.
        val ss = sd.toDF("sid").distinct()
          .join(univ, col("sid") === col("id"), "left_semi")
          // seed-set-sized; referenced by the require plus two tele
          // terms — cached so the universe distinct runs once (r18)
          .cache()
        ssCached = Some(ss)
        require(ss.limit(1).count() > 0,
          "pageRank: seeds must be non-empty and intersect the node universe")
        univ.join(ss, col("id") === col("sid"), "left")
          .crossJoin(broadcast(ss.agg((lit(1.0) / count(lit(1))).as("ps"))))
          .select(col("id"),
            when(col("sid").isNotNull, col("ps")).otherwise(lit(0.0))
              .as("p"))
    }).cache()

    var ranks = tele.select(col("id"), col("p").as("r"))
    for (k <- 1 to iters) {
      // unique names per side — no df("col") refs, so the iterated
      // self-referencing lineage can never trip ambiguous-attribute
      // resolution
      val rr = ranks.select(col("id").as("rid"), col("r"))
      // dangling mass: rank sitting on nodes with no out-edges
      val dang = broadcast(
        rr.join(dangIds, col("rid") === col("did"), "left_semi")
          .agg(coalesce(sum("r"), lit(0.0)).as("dmass")))
      val contrib = ed.join(rr, col("src") === col("rid"))
        .groupBy(col("dst").as("cid"))
        .agg(sum(col("r") / col("deg")).as("c"))
      ranks = tele
        .join(contrib, col("id") === col("cid"), "left")
        .crossJoin(dang)
        .select(col("id"),
          (lit(1.0 - damping) * col("p") +
            lit(damping) * (coalesce(col("c"), lit(0.0)) +
              col("dmass") * col("p"))).as("r"))
      ranks = planLeaf(ranks)
      if (checkpointEvery > 0 && k % checkpointEvery == 0 && k < iters)
        ranks = graft.Checkpointing.truncate(ranks)
    }
    // eager materialization: runs the whole chain (populating and
    // reusing the ed/tele caches across all iterations in one job),
    // then releases both — no session-lifetime storage leak
    val out = graft.Checkpointing.truncate(ranks)
    ed.unpersist(false)
    dangIds.unpersist(false)
    ssCached.foreach(_.unpersist(false))
    tele.unpersist(false)
    out
  }

  // ---------------------------------------------------------------- q101
  /** Contract entry: PageRank over a deterministic synthetic citation
    * graph on `documents` — each non-dangling doc cites 4 pseudo-random
    * peers via a multiplicative-hash formula replicated verbatim in the
    * DuckDB oracle (self-citations dropped); every 17th doc is made
    * dangling to exercise the redistribution term. 5 iterations,
    * d = 0.85; round(,6) absorbs partial-sum order (q93 convention).
    * doc_ids are contiguous 0..N−1 in every driver SF (FIXTURES.md;
    * verified empirically at all three SFs),
    * so `hash % N` always lands on a real doc; the node universe is
    * the full doc table, so never-cited dangling docs still rank.
    */
  /** The q101/q102 synthetic citation graph over `documents`: each
    * non-dangling doc (doc_id % 17 ≠ 0) cites 4 pseudo-random peers via
    * a multiplicative-hash formula replicated verbatim in
    * [[citationEdgesSql]]; self-citations dropped. Shared by PageRank
    * (q101) and HITS (q102) so the two graph contract entries judge
    * the operators, not two copies of a fixture. */
  private[rel] def citationEdges(s: SparkSession, d: String): DataFrame = {
    val docs = graft.Tables.documents(s, d)
    val nRow = broadcast(docs.agg(count(lit(1)).as("nn")))
    docs.select(col("doc_id").as("src"))
      .filter(col("src") % 17 =!= 0)
      .crossJoin(nRow)
      .select(col("src"), explode(sequence(lit(1L), lit(4L))).as("j"),
        col("nn"))
      .select(col("src"),
        ((col("src") * lit(2654435761L) + col("j") * lit(40503L))
          % col("nn")).as("dst"))
      .filter(col("src") =!= col("dst"))
  }

  /** DuckDB CTE text for the same graph: `n(nn, ni)`, `nodes(id)`,
    * `edges(src, dst)` — spliced by both q101's and q102's oracles. */
  private[rel] val citationEdgesSql: String =
    """n AS (SELECT CAST(count(*) AS DOUBLE) AS nn,
      |                  count(*) AS ni FROM documents),
      |nodes AS (SELECT doc_id AS id FROM documents),
      |edges AS MATERIALIZED (
      |  SELECT d.doc_id AS src,
      |         (d.doc_id * 2654435761 + j.j * 40503) % n.ni AS dst
      |  FROM documents d CROSS JOIN n
      |  CROSS JOIN (SELECT unnest(range(1, 5)) AS j) j
      |  WHERE d.doc_id % 17 <> 0
      |    AND (d.doc_id * 2654435761 + j.j * 40503) % n.ni <> d.doc_id)"""
      .stripMargin

  def q101PageRank(s: SparkSession, d: String): DataFrame = {
    val docs = graft.Tables.documents(s, d)
    pageRank(citationEdges(s, d), iters = 5,
        nodes = Some(docs.select(col("doc_id"))))
      .select(col("id").as("doc_id"), round(col("r"), 6).as("pr"))
      .orderBy("doc_id")
  }

  /** Unrolled 5-iteration oracle: each rᵏ CTE is the recurrence
    * verbatim — contributions via join+group-by, dangling mass via a
    * scalar subquery — so DuckDB recomputes the whole chain
    * independently.
    */
  private[rel] def q101Sql: String = {
    val iters = (1 to 5).map { k =>
      val p = s"r${k - 1}"
      // MATERIALIZED (the q102 lesson): each r{k} is referenced twice
      // (dangling scalar subquery + contribution join) — inlined, the
      // 5-deep chain re-evaluates the base scan 2^5 times
      s"""r$k AS MATERIALIZED (
         |  SELECT nodes.id,
         |    0.15 / n.nn + 0.85 * (COALESCE(c.s, 0)
         |      + (SELECT COALESCE(sum(p.r), 0) FROM $p p
         |         LEFT JOIN outdeg o ON p.id = o.src
         |         WHERE o.src IS NULL) / n.nn) AS r
         |  FROM nodes CROSS JOIN n
         |  LEFT JOIN (SELECT e.dst AS id, sum(p.r / o.deg) AS s
         |             FROM edges e JOIN $p p ON e.src = p.id
         |             JOIN outdeg o ON o.src = e.src
         |             GROUP BY e.dst) c ON c.id = nodes.id)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH $citationEdgesSql,
       |outdeg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
       |r0 AS (SELECT id, 1.0 / nn AS r FROM nodes CROSS JOIN n),
       |$iters
       |SELECT id AS doc_id, round(r, 6) AS pr FROM r5
       |ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- q107
  /** Contract entry: PERSONALIZED PageRank — teleport concentrated on
    * the seed set doc_id ≡ 7 (mod 50) (2% of the corpus at every SF),
    * the "expand a trusted seed corpus by link structure" operator
    * (the random-surfer-with-bookmarks of Page et al. §6; the same
    * machinery behind seed-based topic corpus construction). Same
    * graph, 5 iterations; unreachable-from-seeds docs rank ~0 and the
    * dangling mass returns to the SEEDS, not the whole universe —
    * both visible in the output. round(,6), the q101 convention. */
  def q107Ppr(s: SparkSession, d: String): DataFrame = {
    val docs = graft.Tables.documents(s, d)
    pageRank(citationEdges(s, d), iters = 5,
        nodes = Some(docs.select(col("doc_id"))),
        seeds = Some(docs.select(col("doc_id"))
          .filter(col("doc_id") % 50 === 7)))
      .select(col("id").as("doc_id"), round(col("r"), 6).as("ppr"))
      .orderBy("doc_id")
  }

  /** Unrolled PPR oracle: the q101 recurrence with the teleport
    * VECTOR t.p replacing 1/N — dangling mass multiplies into t.p
    * (matching Spark's `dmass * p` tree), so seeds reabsorb it. */
  private[rel] def q107Sql: String = {
    val iters = (1 to 5).map { k =>
      val p = s"r${k - 1}"
      s"""r$k AS MATERIALIZED (
         |  SELECT t.id,
         |    0.15 * t.p + 0.85 * (COALESCE(c.s, 0)
         |      + (SELECT COALESCE(sum(p.r), 0) FROM $p p
         |         LEFT JOIN outdeg o ON p.id = o.src
         |         WHERE o.src IS NULL) * t.p) AS r
         |  FROM tele t
         |  LEFT JOIN (SELECT e.dst AS id, sum(p.r / o.deg) AS s
         |             FROM edges e JOIN $p p ON e.src = p.id
         |             JOIN outdeg o ON o.src = e.src
         |             GROUP BY e.dst) c ON c.id = t.id)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH $citationEdgesSql,
       |outdeg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
       |tele AS MATERIALIZED (
       |  SELECT n2.id,
       |    CASE WHEN n2.id % 50 = 7 THEN 1.0 / sn.ns ELSE 0.0 END AS p
       |  FROM nodes n2 CROSS JOIN (
       |    SELECT CAST(count(*) AS DOUBLE) AS ns
       |    FROM nodes WHERE id % 50 = 7) sn),
       |r0 AS (SELECT id, p AS r FROM tele),
       |$iters
       |SELECT id AS doc_id, round(r, 6) AS ppr FROM r5
       |ORDER BY doc_id""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q101_pagerank" -> (q101PageRank _),
    "q107_ppr" -> (q107Ppr _))

  val oracle: Map[String, String] = Map(
    "q101_pagerank" -> q101Sql,
    "q107_ppr" -> q107Sql)
}
