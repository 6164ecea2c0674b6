package graft.rel

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Community detection by synchronous label propagation (Raghavan,
  * Albert & Kumara 2007, "Near linear time algorithm to detect
  * community structures in large-scale networks"), determinized: every
  * node adopts the most frequent label among its (undirected)
  * neighbors each round, ties to the SMALLEST label, fixed iteration
  * count — the async random-order variant of the paper converges
  * faster but is irreproducible by design, and a curation pipeline
  * needs the same communities on every run. Communities generalize
  * the near-dup connected components ([[graft.text.DedupClusters]]):
  * CC needs an edge to merge, LPA groups by neighborhood MAJORITY —
  * the host-graph topic/community prior of web-curation pipelines
  * (the same tier as [[PageRank]]'s quality prior).
  *
  * Everything is INTEGER arithmetic (labels, neighbor counts), so the
  * DuckDB oracle replays the recurrence with NO rounding tier at all —
  * exact hash equality, stronger than the graph pair's round-6
  * convention (q101/q102).
  *
  * Scale shape: per iteration, ONE equi-join of the |V|-row label
  * vector onto the cached symmetrized edge table, a map-side-combined
  * (dst, label) count, and an all-integer max_by argmax — two
  * exchanges, the Pregel superstep shape, with the same per-iteration
  * plan-leaf boundary as [[PageRank]] (Catalyst expands by value).
  */
object LabelProp {

  /** (id, community) after `iters` synchronous rounds over the
    * undirected closure of `edges`. Isolated nodes (present in
    * `nodes`, touching no edge) keep their own id as community. */
  def labelProp(edges: DataFrame, iters: Int,
      srcCol: String = "src", dstCol: String = "dst",
      nodes: Option[DataFrame] = None): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val e0 = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    // undirected closure: each edge votes in both directions
    val sym = e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
      .cache()
    val univ = PageRank.nodeUniverse(e0, "src", "dst", nodes)

    var labels = univ.select(col("id"), col("id").as("lab"))
    for (_ <- 1 to iters) {
      val prev = labels.select(col("id").as("pid"), col("lab"))
      // neighborhood vote: count per (node, neighbor-label), then the
      // all-integer argmax — max_by over (count, -label) implements
      // "most frequent, ties to the smallest label" with no window
      val votes = sym.join(prev, col("src") === col("pid"))
        .groupBy(col("dst").as("vid"), col("lab"))
        .agg(count(lit(1)).as("c"))
        .groupBy("vid")
        // min_by over (-count, label): largest count, ties to the
        // SMALLEST label — negating the count (always numeric) instead
        // of the label keeps string node ids working like the rest of
        // the graph family (r18 review: -label threw on strings)
        .agg(min_by(col("lab"),
          struct((-col("c")).as("nc"), col("lab"))).as("win"))
      labels = PageRank.planLeaf(
        labels.join(votes, col("id") === col("vid"), "left")
          .select(col("id"), coalesce(col("win"), col("lab")).as("lab")))
    }
    val out = graft.Checkpointing.truncate(
      labels.select(col("id"), col("lab").as("community")))
    sym.unpersist(false)
    out
  }

  // ---------------------------------------------------------------- q105
  /** Contract entry: 5 LPA rounds over the shared citation graph
    * ([[PageRank.citationEdges]]), full doc universe; output is each
    * doc's community plus the community size (a second all-integer
    * aggregate the oracle replays too). Exact hash — no rounding. */
  def q105LabelProp(s: SparkSession, d: String): DataFrame = {
    val docs = graft.Tables.documents(s, d)
    val lab = labelProp(PageRank.citationEdges(s, d), iters = 5,
      nodes = Some(docs.select(col("doc_id"))))
    val sizes = lab.groupBy("community").agg(count(lit(1)).as("csize"))
    lab.join(sizes, "community")
      .select(col("id").as("doc_id"), col("community"), col("csize"))
      .orderBy("doc_id")
  }

  /** Unrolled 5-round oracle (MATERIALIZED per round — the q102
    * lesson): each round is the vote + integer argmax verbatim; the
    * tie-break is ORDER BY count DESC, label ASC via row_number. */
  private[rel] def q105Sql: String = {
    val rounds = (1 to 5).map { k =>
      val p = s"l${k - 1}"
      s"""v$k AS MATERIALIZED (
         |  SELECT id, lab FROM (
         |    SELECT e.dst AS id, p.lab, count(*) AS c,
         |      row_number() OVER (PARTITION BY e.dst
         |        ORDER BY count(*) DESC, p.lab ASC) AS rn
         |    FROM sym e JOIN $p p ON e.src = p.id
         |    GROUP BY e.dst, p.lab) t
         |  WHERE rn = 1),
         |l$k AS MATERIALIZED (
         |  SELECT p.id, COALESCE(v.lab, p.lab) AS lab
         |  FROM $p p LEFT JOIN v$k v ON v.id = p.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${PageRank.citationEdgesSql},
       |sym AS MATERIALIZED (
       |  SELECT src, dst FROM edges
       |  UNION ALL SELECT dst AS src, src AS dst FROM edges),
       |l0 AS (SELECT id, id AS lab FROM nodes),
       |$rounds,
       |sz AS (SELECT lab, count(*) AS csize FROM l5 GROUP BY lab)
       |SELECT l5.id AS doc_id, l5.lab AS community, sz.csize
       |FROM l5 JOIN sz ON sz.lab = l5.lab
       |ORDER BY doc_id""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q105_label_prop" -> (q105LabelProp _))

  val oracle: Map[String, String] = Map(
    "q105_label_prop" -> q105Sql)
}
