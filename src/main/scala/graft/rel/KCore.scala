package graft.rel

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** k-core membership by synchronous peeling (Seidman 1983, "Network
  * structure and minimum degree"; the distributed peeling formulation
  * of Montresor et al. 2013): repeatedly discard nodes whose degree
  * within the surviving subgraph is below k — the fixpoint is the
  * k-core, the standard link-graph robustness screen (a page kept
  * only by pendant links leaves the core; a link-farm clique stays —
  * [[Triangles]]' local view made global).
  *
  * The operator runs a FIXED round count (caller-chosen) rather than
  * detecting the fixpoint: the peel sequence is deterministic either
  * way, a bounded unrollable recurrence is what the cross-engine
  * oracle can replay, and on real graphs peeling converges in a few
  * rounds (the contract entry's spec asserts the fixpoint was reached
  * at its round budget — if a pathological graph needed more, the
  * output is still exactly "the survivor set after R peels" on both
  * engines). All-integer — exact oracle, the [[LabelProp]] tier.
  *
  * Scale shape per round: one semi-join of the symmetrized edge table
  * against the alive set on EACH endpoint, one map-side-combined
  * degree count, one filter — the alive set shrinks monotonically, so
  * rounds get cheaper; plan-leaf boundary per round as in the rest of
  * the graph family.
  */
object KCore {

  /** (id, in_core, core_degree) after `rounds` peels at threshold `k`
    * over the undirected simplification of `edges`; `nodes` universe
    * rows outside the core carry (false, 0). */
  def kCore(edges: DataFrame, k: Int, rounds: Int,
      srcCol: String = "src", dstCol: String = "dst",
      nodes: Option[DataFrame] = None): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val e0 = edges.select(col(srcCol).as("s"), col(dstCol).as("t"))
    val und = PageRank.undirectedSimple(e0, "s", "t")
    val sym = und.union(und.select(col("b").as("a"), col("a").as("b")))
      .cache()
    // universe from the RAW endpoints (r18 review): a node whose only
    // edges are self-loops is still an endpoint and carries
    // (in_core=false, 0) like every other non-core node
    val univ = PageRank.nodeUniverse(e0, "s", "t", nodes)

    // alive: (id, deg) — degree within the current surviving subgraph
    var alive = sym.groupBy(col("a").as("id"))
      .agg(count(lit(1)).as("deg"))
      .filter(col("deg") >= k)
    alive = PageRank.planLeaf(alive)
    for (_ <- 2 to rounds) {
      val ids = alive.select(col("id"))
      val live = sym
        .join(ids.select(col("id").as("la")), col("a") === col("la"),
          "left_semi")
        .join(ids.select(col("id").as("lb")), col("b") === col("lb"),
          "left_semi")
      alive = PageRank.planLeaf(
        live.groupBy(col("a").as("id"))
          .agg(count(lit(1)).as("deg"))
          .filter(col("deg") >= k))
    }
    val out = graft.Checkpointing.truncate(univ
      .join(alive.select(col("id").as("cid"), col("deg")),
        col("id") === col("cid"), "left")
      .select(col("id"), col("cid").isNotNull.as("in_core"),
        coalesce(col("deg"), lit(0L)).as("core_degree")))
    sym.unpersist(false)
    out
  }

  // ---------------------------------------------------------------- q108
  // K chosen against the measured degree profile of the citation
  // graph (min 3 / median 8 / max 8 undirected-simple): K=6 leaves a
  // proper nonempty core (470/500 at sf0.01, fixpoint inside the
  // round budget — spec-pinned); K=7 cascades to EMPTY in 6 rounds
  // and K=3 keeps everything — both degenerate as contract outputs.
  // Deep cascades are exercised by the constructed-graph specs.
  private val K = 6
  private val Rounds = 6

  /** Contract entry: 6-core of the citation graph after 6 peels, full
    * doc universe. Integer-exact oracle. */
  def q108KCore(s: SparkSession, d: String): DataFrame = {
    val docs = graft.Tables.documents(s, d)
    kCore(PageRank.citationEdges(s, d), K, Rounds,
        nodes = Some(docs.select(col("doc_id"))))
      .select(col("id").as("doc_id"), col("in_core"), col("core_degree"))
      .orderBy("doc_id")
  }

  /** Unrolled 6-round peel (MATERIALIZED per round). Round 1 peels
    * from the full degree table; later rounds re-count within the
    * survivor-induced subgraph. */
  private[rel] def q108Sql: String = {
    val rounds = (2 to Rounds).map { r =>
      val p = s"alive${r - 1}"
      s"""alive$r AS MATERIALIZED (
         |  SELECT a AS id, count(*) AS deg
         |  FROM sym
         |  WHERE a IN (SELECT id FROM $p) AND b IN (SELECT id FROM $p)
         |  GROUP BY a
         |  HAVING count(*) >= $K)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${PageRank.citationEdgesSql},
       |und AS MATERIALIZED (
       |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       |  FROM edges),
       |sym AS MATERIALIZED (
       |  SELECT a, b FROM und UNION ALL SELECT b AS a, a AS b FROM und),
       |alive1 AS MATERIALIZED (
       |  SELECT a AS id, count(*) AS deg FROM sym GROUP BY a
       |  HAVING count(*) >= $K),
       |$rounds
       |SELECT n.id AS doc_id,
       |  al.id IS NOT NULL AS in_core,
       |  COALESCE(al.deg, 0) AS core_degree
       |FROM nodes n LEFT JOIN alive$Rounds al ON al.id = n.id
       |ORDER BY doc_id""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q108_kcore" -> (q108KCore _))

  val oracle: Map[String, String] = Map(
    "q108_kcore" -> q108Sql)
}
