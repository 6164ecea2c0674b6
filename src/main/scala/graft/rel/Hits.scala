package graft.rel

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** HITS hub/authority scoring (Kleinberg, JACM 1999 — "Authoritative
  * sources in a hyperlinked environment") by power iteration, the
  * link-graph companion to [[PageRank]]: PageRank ranks by incoming
  * random-surfer mass; HITS separates "points at good pages" (hub)
  * from "is pointed at by good hubs" (authority) — the pair a curation
  * pipeline wants when directories/aggregator pages must be told apart
  * from content pages before link-based quality weighting.
  *
  * Semantics (L1-normalized mutual recurrence; normalizing every half
  * step keeps both vectors summing to 1, so no overflow at any depth):
  *   h⁰(v)  = 1/N
  *   aᵏ(v)  ∝ Σ_{(u,v)∈E} hᵏ⁻¹(u)   (then a ← a / Σa)
  *   hᵏ(u)  ∝ Σ_{(u,v)∈E} aᵏ(v)     (then h ← h / Σh)
  * Parallel edges count multiply (same convention as [[PageRank]]);
  * nodes outside every edge carry 0 in both scores. Kleinberg's paper
  * normalizes by L2; L1 is chosen here because the normalizer is then
  * a plain `sum()` — the same broadcast scalar-subquery shape as
  * PageRank's dangling mass, and the one the DuckDB oracle replicates
  * with a scalar subquery. The ranking (and the fixpoint direction)
  * is identical under any positive scaling.
  *
  * Scale shape: per half-iteration, ONE equi-join of a |V|-row score
  * vector onto the cached edge table and ONE map-side-combinable
  * groupBy-sum, plus a single-row normalizer aggregate joined back by
  * broadcast — two exchanges per half step, never |E|-sized state
  * outside the cached edge table. Same contract as [[PageRank]]: the
  * returned frame is materialized (`Checkpointing.truncate`) and the
  * edge cache released before returning. As with PageRank, a
  * caller-supplied `nodes` must be a superset of the edge endpoints
  * or score mass silently drains through the left joins.
  */
object Hits {

  /** (id, auth, hub) after `iters` full HITS iterations. Exact
    * doubles — callers round for cross-engine comparison (the
    * normalizer sums are partial-sum-order dependent; q93 convention).
    */
  def hits(edges: DataFrame, iters: Int,
      srcCol: String = "src", dstCol: String = "dst",
      nodes: Option[DataFrame] = None): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .cache()
    // cached (r18 review): referenced inside EVERY half-step, so the
    // endpoints union+distinct otherwise re-ran 2×iters times
    val univ = PageRank.nodeUniverse(e, "src", "dst", nodes).cache()
    val nRow = broadcast(univ.agg((lit(1.0) / count(lit(1))).as("inv_n")))

    // one L1-normalized propagation half-step: score flows across the
    // edge table joined on `fromSide`, accumulates on the other side
    def halfStep(score: DataFrame, fromSide: String): DataFrame = {
      val toSide = if (fromSide == "src") "dst" else "src"
      val sv = score.select(col("id").as("sid"), col("s"))
      val raw = univ
        .join(e.join(sv, col(fromSide) === col("sid"))
            .groupBy(col(toSide).as("tid")).agg(sum("s").as("m")),
          col("id") === col("tid"), "left")
        .select(col("id"), coalesce(col("m"), lit(0.0)).as("raw"))
      // Σraw = 0 only on an empty edge set — guard keeps the all-zero
      // vector instead of 0/0 = NaN rows
      val norm = broadcast(raw.agg(sum("raw").as("z")))
      // RDD boundary per half-step (PageRank.planLeaf): `raw` is
      // referenced twice (normalizer + output) so an un-truncated
      // k-iteration chain is a 4^k-node logical plan — Catalyst
      // expands plan references by value, RDD dags share by reference
      PageRank.planLeaf(raw.crossJoin(norm)
        .select(col("id"),
          when(col("z") =!= 0.0, col("raw") / col("z"))
            .otherwise(lit(0.0)).as("s")))
    }

    var hub = univ.crossJoin(nRow).select(col("id"), col("inv_n").as("s"))
    var auth = hub
    for (_ <- 1 to iters) {
      auth = halfStep(hub, "src")   // authority ← hubs pointing at it
      hub = halfStep(auth, "dst")   // hub ← authorities it points at
    }
    val joined = auth.toDF("id", "auth")
      .join(hub.toDF("hid", "hub"), col("id") === col("hid"))
      .select(col("id"), col("auth"), col("hub"))
    val out = graft.Checkpointing.truncate(joined)
    e.unpersist(false)
    univ.unpersist(false)
    out
  }

  // ---------------------------------------------------------------- q102
  /** Contract entry: HITS over the q101 synthetic citation graph
    * ([[PageRank.citationEdges]]), 5 iterations, full doc universe
    * (every-17th docs are dangling hubs and never-cited docs score 0
    * authority — both classes exercised). round(,6) absorbs
    * partial-sum order (q93 convention); scores are non-negative so
    * the -0.0 guard is not needed. */
  def q102Hits(s: SparkSession, d: String): DataFrame = {
    val docs = graft.Tables.documents(s, d)
    hits(PageRank.citationEdges(s, d), iters = 5,
        nodes = Some(docs.select(col("doc_id"))))
      .select(col("id").as("doc_id"), round(col("auth"), 6).as("auth"),
        round(col("hub"), 6).as("hub"))
      .orderBy("doc_id")
  }

  /** Unrolled 5-iteration oracle: each half-step CTE is the recurrence
    * verbatim — propagation via join+group-by, the L1 normalizer as a
    * scalar subquery — over the shared citation-edge CTE text. Every
    * iteration CTE is AS MATERIALIZED: DuckDB inlines CTEs by default,
    * and each half-step references its predecessor ~3× (two normalizer
    * scalar subqueries + the propagation join), so the inlined 10-step
    * chain re-evaluates the base scan ~3^10 times — the same
    * exponential the Spark side cuts with planLeaf, cut here by
    * materialization. */
  private[rel] def q102Sql: String = {
    val steps = (1 to 5).map { k =>
      val ph = s"h${k - 1}"
      s"""a${k}r AS MATERIALIZED (
         |  SELECT nodes.id, COALESCE(c.m, 0) AS raw
         |  FROM nodes
         |  LEFT JOIN (SELECT e.dst AS id, sum(p.s) AS m
         |             FROM edges e JOIN $ph p ON e.src = p.id
         |             GROUP BY e.dst) c ON c.id = nodes.id),
         |a$k AS MATERIALIZED (
         |  SELECT id, CASE WHEN (SELECT sum(raw) FROM a${k}r) <> 0
         |    THEN raw / (SELECT sum(raw) FROM a${k}r) ELSE 0 END AS s
         |  FROM a${k}r),
         |h${k}r AS MATERIALIZED (
         |  SELECT nodes.id, COALESCE(c.m, 0) AS raw
         |  FROM nodes
         |  LEFT JOIN (SELECT e.src AS id, sum(p.s) AS m
         |             FROM edges e JOIN a$k p ON e.dst = p.id
         |             GROUP BY e.src) c ON c.id = nodes.id),
         |h$k AS MATERIALIZED (
         |  SELECT id, CASE WHEN (SELECT sum(raw) FROM h${k}r) <> 0
         |    THEN raw / (SELECT sum(raw) FROM h${k}r) ELSE 0 END AS s
         |  FROM h${k}r)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${PageRank.citationEdgesSql},
       |h0 AS MATERIALIZED (SELECT id, 1.0 / nn AS s FROM nodes CROSS JOIN n),
       |$steps
       |SELECT a5.id AS doc_id, round(a5.s, 6) AS auth,
       |  round(h5.s, 6) AS hub
       |FROM a5 JOIN h5 ON a5.id = h5.id
       |ORDER BY doc_id""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q102_hits" -> (q102Hits _))

  val oracle: Map[String, String] = Map(
    "q102_hits" -> q102Sql)
}
