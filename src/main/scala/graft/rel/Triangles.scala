package graft.rel

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-node triangle counting + local clustering coefficient — the
  * link-farm / tight-clique detector of host-graph curation (a node
  * whose neighborhood is abnormally self-connected is a spam-farm
  * signature; the complement of [[PageRank]]'s popularity prior and
  * [[LabelProp]]'s communities). Algorithm: the ordered wedge-closing
  * join of Schank & Wagner 2005 ("Finding, Counting and Listing all
  * Triangles in Large Graphs") — canonicalize to a simple undirected
  * edge set with a < b, enumerate wedges a<b<c through the shared
  * middle vertex, close them against the edge set, so every triangle
  * is produced EXACTLY once.
  *
  * Counts and degrees are all-integer (exact oracle, no rounding);
  * the clustering coefficient 2T/(d(d−1)) is one fixed double tree
  * over those integers, rounded for display only.
  *
  * Scale shape — DEGREE-ORDERED ORIENTATION (round 13, replacing the
  * id-ordered wedge join): each undirected edge is directed from its
  * lower-(degree, id) endpoint to the higher, and wedges are
  * enumerated at the APEX — the triangle's ≺-minimal vertex — as
  * out-neighbor pairs, closed against the oriented edge set. This is
  * the standard answer to "the curse of the last reducer" (Suri &
  * Vassilvitskii 2011, WWW; Schank & Wagner 2005's sequential
  * forward-algorithm invariant): under this orientation every
  * out-degree is O(√m), so per-key wedge work is bounded and total
  * wedge volume is O(m^{3/2}) REGARDLESS of degree skew — where the
  * naive id-ordered join does Σd² work and funnels a Zipfian hub's d²
  * wedges through the hub's single join key (one hot, un-splittable
  * task at crawl scale; measured in BASELINE.md's power-law probe).
  * Each triangle still closes exactly once (at its unique apex, with
  * its out-neighbors in ≺ order), then a map-side-combined
  * explode-count and a broadcast-sized join back onto degrees.
  */
object Triangles {

  /** (id, degree, triangles, lcc) over the undirected simplification
    * of `edges`; nodes from `nodes` (or edge endpoints) with degree
    * < 2 carry lcc null. */
  def triangleStats(edges: DataFrame,
      srcCol: String = "src", dstCol: String = "dst",
      nodes: Option[DataFrame] = None): DataFrame = {
    val e0 = edges.select(col(srcCol).as("s"), col(dstCol).as("t"))
    // simple undirected canonical form (shared helper, r18)
    val und = PageRank.undirectedSimple(e0, "s", "t").cache()
    // universe from the RAW endpoints: self-loop-only nodes still get
    // their (degree 0, 0 triangles, null lcc) row (r18 review)
    val univ = PageRank.nodeUniverse(e0, "s", "t", nodes)
    // |V|-sized and referenced three times (both orient joins + the
    // output join) — cached so the degree shuffle runs once (r18)
    val deg = und.select(col("a").as("id"))
      .union(und.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("degree"))
      .cache()
    val oriented = orient(und, deg)
    val tri = closedWedges(oriented)
      .select(explode(array(col("u"), col("v"), col("w0"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("triangles"))
    val out = univ
      .join(deg, Seq("id"), "left")
      .join(tri, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("degree"), lit(0L)).as("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"))
      .withColumn("lcc",
        when(col("degree") >= 2,
          lit(2.0) * col("triangles") /
            (col("degree").cast("double") *
              (col("degree").cast("double") - lit(1.0)))))
    // eager materialization, then release both cached relations — the
    // PageRank convention: callers get a computed frame, not a lazy
    // plan pinning executor storage
    val computed = graft.Checkpointing.truncate(out)
    oriented.unpersist(false)
    deg.unpersist(false)
    und.unpersist(false)
    computed
  }

  /** Degree-ordered orientation of a canonical (a < b) simple edge set:
    * (u, v, dv) with u → v iff (deg(u), u) ≺ (deg(v), v); dv = deg(v)
    * rides along so the apex can ≺-order its out-neighbors without a
    * second degree join. CACHED — callers unpersist. */
  private def orient(und: DataFrame, deg: DataFrame): DataFrame =
    und
      .join(deg.select(col("id").as("a"), col("degree").as("da")), "a")
      .join(deg.select(col("id").as("b"), col("degree").as("db")), "b")
      .select(
        when(col("da") <= col("db"), col("a")).otherwise(col("b")).as("u"),
        when(col("da") <= col("db"), col("b")).otherwise(col("a")).as("v"),
        when(col("da") <= col("db"), col("db")).otherwise(col("da"))
          .as("dv"))
      .cache() // reused: two wedge sides + the closure side

  /** One row (u, v, w0) per triangle, closed at its ≺-minimal APEX u:
    * out-neighbor pairs v ≺ w0 of each apex (key fan-out ≤ out-degree
    * ≤ O(√m) under the orientation — skew-proof, hubs included),
    * closed against the oriented edge v → w0. */
  private def closedWedges(oriented: DataFrame): DataFrame =
    oriented
      .join(oriented.select(col("u"), col("v").as("w0"),
        col("dv").as("dw")), "u")
      .filter(col("dv") < col("dw") ||
        (col("dv") === col("dw") && col("v") < col("w0")))
      .join(oriented.select(col("u").as("v"), col("v").as("w0")),
        Seq("v", "w0"))
      .select(col("u"), col("v"), col("w0"))

  // --------------------------------------------------------- DOULION
  /** Approximate GLOBAL triangle count by edge sparsification —
    * DOULION (Tsourakakis, Kang, Miller, Faloutsos 2009 KDD): keep
    * each canonical edge with probability p = 1/den, count triangles
    * on the sampled graph, scale by den³ (each triangle survives with
    * probability p³, so the estimator is unbiased; variance shrinks
    * as triangles share few edges — the paper's Thm 2). The scale
    * tier above [[triangleStats]]: the wedge join runs on an
    * m/den-edge graph, cutting its O(m^{3/2}) bound by den^{3/2}.
    *
    * Determinism (what makes this a HASH-oracled contract entry, not a
    * Monte-Carlo estimate): the coin is `xxhash64(a·2³¹ + b, 42)`
    * masked to `den − 1` (den a power of two, so the mask is the
    * parity/low-bits test in BOTH engines — no signed-mod subtlety),
    * a pure function of the edge — layout-invariant, replayable, and
    * replicated step-for-step by the DuckDB XXH64 replica. den³ scaling
    * is exact integer arithmetic. Node ids are assumed < 2³¹ (the
    * composite key is collision-free then; a collision would only
    * correlate two edges' coins, never break determinism).
    *
    * Returns ONE row: (n_edges, n_edges_sampled, triangles_sampled,
    * triangles_est). */
  def triangleCountApprox(edges: DataFrame, den: Int = 2,
      srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    require(den >= 1 && (den & (den - 1)) == 0,
      s"den must be a power of two, got $den")
    val e0 = edges.select(col(srcCol).as("s"), col(dstCol).as("t"))
    val und = PageRank.undirectedSimple(e0, "s", "t").cache()
    // lit(42L), not lit(42): the literal folds as a LONG chunk — the
    // replica (and every other replica caller) models the long fold
    val samp = und.filter(
        (xxhash64(col("a") * lit(1L << 31) + col("b"), lit(42L))
          .bitwiseAND(lit((den - 1).toLong))) === 0L)
      .cache()
    // cached: both orient joins read it (r18 — the deg shuffle ran twice)
    val deg = samp.select(col("a").as("id"))
      .union(samp.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("degree"))
      .cache()
    val oriented = orient(samp, deg)
    val out = und.agg(count(lit(1)).as("n_edges"))
      .crossJoin(broadcast(samp.agg(count(lit(1)).as("n_edges_sampled"))))
      .crossJoin(broadcast(closedWedges(oriented)
        .agg(count(lit(1)).as("triangles_sampled"))))
      .select(col("n_edges"), col("n_edges_sampled"),
        col("triangles_sampled"),
        (col("triangles_sampled") * lit(den.toLong * den * den))
          .as("triangles_est"))
    val computed = graft.Checkpointing.truncate(out)
    oriented.unpersist(false)
    deg.unpersist(false)
    samp.unpersist(false)
    und.unpersist(false)
    computed
  }

  // ---------------------------------------------------------------- q106
  /** Contract entry: triangle stats over the shared citation graph,
    * full doc universe. Integer columns exact; lcc is the fixed tree
    * rounded 6 (non-negative — no sign guard needed). */
  def q106Triangles(s: SparkSession, d: String): DataFrame = {
    val docs = graft.Tables.documents(s, d)
    triangleStats(PageRank.citationEdges(s, d),
        nodes = Some(docs.select(col("doc_id"))))
      .select(col("id").as("doc_id"), col("degree"), col("triangles"),
        round(col("lcc"), 6).as("lcc"))
      .orderBy("doc_id")
  }

  private[rel] val q106Sql: String =
    s"""WITH ${PageRank.citationEdgesSql},
       |und AS MATERIALIZED (
       |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       |  FROM edges),
       |deg AS (
       |  SELECT id, count(*) AS degree FROM (
       |    SELECT a AS id FROM und UNION ALL SELECT b AS id FROM und) t
       |  GROUP BY id),
       |tri AS (
       |  SELECT id, count(*) AS triangles FROM (
       |    SELECT unnest([w.a, w.b, w.c]) AS id
       |    FROM (SELECT e1.a, e1.b, e2.b AS c
       |          FROM und e1 JOIN und e2 ON e1.b = e2.a) w
       |    JOIN und e3 ON e3.a = w.a AND e3.b = w.c) x
       |  GROUP BY id)
       |SELECT n.id AS doc_id,
       |  COALESCE(deg.degree, 0) AS degree,
       |  COALESCE(tri.triangles, 0) AS triangles,
       |  round(CASE WHEN COALESCE(deg.degree, 0) >= 2
       |    THEN 2.0 * COALESCE(tri.triangles, 0)
       |      / (CAST(deg.degree AS DOUBLE) * (CAST(deg.degree AS DOUBLE) - 1.0))
       |    END, 6) AS lcc
       |FROM nodes n
       |LEFT JOIN deg ON deg.id = n.id
       |LEFT JOIN tri ON tri.id = n.id
       |ORDER BY doc_id""".stripMargin

  // ------------------------------------------------- nq_triangles_approx
  /** Contract entry: DOULION at p = 1/2 over the citation graph. The
    * oracle replays the WHOLE estimator: the deterministic coin via the
    * XXH64 replica, the triangle count on the sampled graph (id-ordered
    * wedge join — fine single-node), and the ×8 integer scaling. */
  def nqTrianglesApprox(s: SparkSession, d: String): DataFrame =
    triangleCountApprox(PageRank.citationEdges(s, d), den = 2)

  private[rel] val nqTrianglesApproxSql: String = {
    // idCol "ek", NOT "k": the replica chain's internal running-hash
    // column is named k, and a caller column of the same name makes
    // the chain's arithmetic bind ambiguously
    val xxh = graft.text.Mixing.xxh64CtesBody("keyed", "ek", ", a, b")
    s"""WITH ${PageRank.citationEdgesSql},
       |und AS MATERIALIZED (
       |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       |  FROM edges),
       |keyed AS (SELECT a, b, a * 2147483648 + b AS ek FROM und),
       |$xxh,
       |samp AS MATERIALIZED (
       |  SELECT a, b FROM r2h WHERE hh % 2 = 0),
       |tri AS (
       |  SELECT count(*) AS triangles_sampled
       |  FROM (SELECT e1.a, e1.b, e2.b AS c2
       |        FROM samp e1 JOIN samp e2 ON e1.b = e2.a) w
       |  JOIN samp e3 ON e3.a = w.a AND e3.b = w.c2)
       |SELECT
       |  (SELECT count(*) FROM und) AS n_edges,
       |  (SELECT count(*) FROM samp) AS n_edges_sampled,
       |  t.triangles_sampled,
       |  CAST(t.triangles_sampled * 8 AS BIGINT) AS triangles_est
       |FROM tri t""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q106_triangles" -> (q106Triangles _),
    "nq_triangles_approx" -> (nqTrianglesApprox _))

  val oracle: Map[String, String] = Map(
    "q106_triangles" -> q106Sql,
    "nq_triangles_approx" -> nqTrianglesApproxSql)
}
