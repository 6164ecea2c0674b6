package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Interpolated Kneser–Ney trigram language model — the KenLM/CCNet
  * quality-scoring backbone (Kneser & Ney 1995; Chen & Goodman 1998,
  * "An Empirical Study of Smoothing Techniques for Language Modeling";
  * Heafield 2011 "KenLM: Faster and Smaller Language Model Queries").
  * Upgrades the q66 bigram-MLE pair: q98 trains the smoothed trigram
  * table, q99 scores a HELD-OUT corpus slice with full backoff — the
  * CCNet recipe (Wenzek 2020) of scoring a crawl against a
  * reference-corpus KN model, where unseen n-grams are the whole point.
  *
  * Count discipline (the KenLM one): ONE corpus scan builds the raw
  * trigram type table `tri(w1,w2,w3) → c3`; every lower-order quantity
  * is DERIVED from `tri` as continuation ("diversity") counts, never
  * re-scanned from the corpus:
  *
  *   cont2(w2,w3) = N1+(·,w2,w3)  = #distinct w1 preceding (w2,w3)
  *   ctx2(w1,w2)  = (Σ_w3 c3, #distinct w3)        — denom + λ3 count
  *   ctx1(w2)     = (Σ_w3 N1+(·,w2,w3), #distinct w3) — denom + λ2 count
  *   cont1(w3)    = N1+(·,w3)     = #distinct w2 preceding w3 (types)
  *   NB           = total distinct (w2,w3) types
  *
  * Absolute discounts per order via the Ney/Essen/Kneser estimate
  * D = n1 / (n1 + 2·n2) over that order's count-of-counts (< 1 always,
  * so `c − D > 0` for every OBSERVED n-gram — no max() needed in q98).
  *
  *   P(w3|w1,w2) = (c3−D3)/c2 + (D3·t3/c2) · Pc(w3|w2)
  *   Pc(w3|w2)   = (m−D2)/mm  + (D2·t2/mm) · Pc(w3)
  *   Pc(w3)      = u/NB
  *
  * Scale shape: the corpus is touched once (narrow per-doc `transform`
  * to trigrams — no per-token window — then one hash aggregation);
  * everything downstream is joins/aggregations over TYPE tables whose
  * size is bounded by distinct-n-gram count, independent of corpus
  * row count. The five probability joins are vocabulary-keyed (AQE
  * broadcasts them while they fit); the three scalars (D3, D2, NB)
  * ride the `broadcast(single-row agg)` idiom. At 100 TB: exactly the
  * Brants 2007 "Large Language Models in Machine Translation" layout —
  * shard-count then merge type tables; counts here are additive the
  * same way q72 proves for the bigram table.
  *
  * Oracle: fully SQL-expressible from the raw documents table (the
  * q97 zero-dump tier): DuckDB re-tokenizes, re-derives the same count
  * tables, and re-runs the ONE shared-order double tree; round-6
  * comparison is exact (integer counts → identical doubles → identical
  * IEEE tree both engines).
  */
object KneserNey {

  /** Raw-split tokens (q97 parity: split on `\s+`, no empty-token
    * filter, so Spark and DuckDB tokenize bit-identically). */
  private def toks(docs: DataFrame, textCol: String): DataFrame =
    docs.select(expr(raw"split($textCol, '\\s+')").as("ts"))
      .filter(size(col("ts")) >= 3)

  /** The trigram type table (w1, w2, w3, c3) — the one corpus scan. */
  private def triTable(docs: DataFrame, textCol: String): DataFrame =
    toks(docs, textCol)
      .select(explode(expr(
        "transform(sequence(0, size(ts) - 3), i -> " +
          "struct(ts[i] AS w1, ts[i + 1] AS w2, ts[i + 2] AS w3))"))
        .as("g"))
      .groupBy(col("g.w1").as("w1"), col("g.w2").as("w2"),
        col("g.w3").as("w3"))
      .agg(count(lit(1)).as("c3"))

  /** D = n1/(n1 + 2·n2) over a count column; 0.5 fallback when the
    * corpus has no count-1/count-2 types at this order (degenerate —
    * every type ≥ 3× — where the estimate is 0/0). The fallback is a
    * `when` GUARD, not a coalesce: Spark 4 runs ANSI mode by default,
    * where a non-null 0/0 double division THROWS rather than nulling,
    * so the division must not be evaluated at all on the degenerate
    * branch. (DuckDB's double/HUGEINT-zero yields NULL, so the oracle
    * keeps its coalesce form — verified equivalent.) */
  private def discount(c: String): Column = {
    val n1 = sum(when(col(c) === 1, 1).otherwise(0))
    val n2 = sum(when(col(c) === 2, 1).otherwise(0))
    val den = n1 + lit(2) * n2
    when(den === 0, lit(0.5)).otherwise(n1.cast("double") / den)
  }

  /** All derived tables, built once and shared by the table/score
    * queries. */
  private case class Tables(tri: DataFrame, cont2: DataFrame,
      ctx2: DataFrame, ctx1: DataFrame, cont1: DataFrame,
      scalars: DataFrame)

  private def derive(tri0: DataFrame): Tables = {
    // the trigram TYPE table feeds six consumers (four derived tables,
    // two discount scalars); without materialization each one re-scans
    // the corpus and re-explodes the trigrams — observed as 14 parquet
    // scans in the q98 plan. Checkpointing.truncate, NOT cache() (r18
    // review): the consumers return LAZY frames, so nothing could
    // ever unpersist a cache() — each q98/q99/q100 call pinned a
    // CacheManager entry for the session's lifetime. The type table
    // is vocab-bounded (KB-to-MB however big the corpus), so the
    // eager truncate is cheap and its blocks die with the plan
    // references instead of the session.
    val tri = graft.Checkpointing.truncate(tri0)
    val cont2 = tri.groupBy("w2", "w3").agg(count(lit(1)).as("m"))
    val ctx2 = tri.groupBy("w1", "w2")
      .agg(sum("c3").as("c2"), count(lit(1)).as("t3"))
    val ctx1 = cont2.groupBy("w2")
      .agg(sum("m").as("mm"), count(lit(1)).as("t2"))
    val cont1 = cont2.groupBy("w3").agg(count(lit(1)).as("u"))
    val scalars = tri.agg(discount("c3").as("d3"))
      .crossJoin(cont2.agg(discount("m").as("d2"),
        count(lit(1)).as("nb")))
    Tables(tri, cont2, ctx2, ctx1, cont1, scalars)
  }

  /** Per-shard raw trigram counts — the additive partial of the KN
    * build (Brants 2007: count per shard, merge count tables; the
    * whole smoothed model is a pure function of the merged counts, so
    * sharded training is EXACTLY the monolithic model — q100 proves
    * it against q98's oracle every round). */
  def trigramCounts(docs: DataFrame, textCol: String = "text"): DataFrame =
    triTable(docs, textCol)

  /** Merge per-shard count tables (vocab-bounded work, independent of
    * corpus size — the q72 bigram-merge contract one order up). */
  def mergeTrigramCounts(parts: Seq[DataFrame]): DataFrame = {
    require(parts.nonEmpty, "mergeTrigramCounts needs at least one part")
    parts.map(_.select("w1", "w2", "w3", "c3"))
      .reduce(_ unionAll _)
      .groupBy("w1", "w2", "w3").agg(sum("c3").as("c3"))
  }

  /** The trained table from a (possibly merged) trigram count table:
    * every observed trigram with its raw count and interpolated-KN
    * probability (round 6), ordered by the trigram. */
  def trigramLmFromCounts(tri: DataFrame): DataFrame = {
    val t = derive(tri)
    // ONE shared-order double tree — written with the same parentheses
    // in the oracle SQL so every intermediate is bitwise shared
    val p = (col("c3") - col("d3")) / col("c2") +
      ((col("d3") * col("t3")) / col("c2")) *
        ((col("m") - col("d2")) / col("mm") +
          ((col("d2") * col("t2")) / col("mm")) *
            (col("u").cast("double") / col("nb")))
    t.tri
      .join(t.ctx2, Seq("w1", "w2"))
      .join(t.cont2, Seq("w2", "w3"))
      .join(t.ctx1, Seq("w2"))
      .join(t.cont1, Seq("w3"))
      .crossJoin(broadcast(t.scalars))
      .select(col("w1"), col("w2"), col("w3"), col("c3"),
        round(p, 6).as("p_kn"))
      .orderBy("w1", "w2", "w3")
  }

  /** One-shot convenience: count + smooth. */
  def trigramLm(docs: DataFrame, textCol: String = "text"): DataFrame =
    trigramLmFromCounts(trigramCounts(docs, textCol))

  /** Score `scoreDocs` against a KN model trained on `trainDocs`, with
    * the full query-time backoff cascade (KenLM semantics):
    *
    *   - trigram observed           → the interpolated P above
    *   - context (w1,w2) unseen     → back off to Pc(w3|w2) outright
    *     (backoff weight 1 — nothing was reserved from an unseen
    *     context)
    *   - trigram unseen, context seen → discount mass only:
    *     (0−D3 clamps to 0) + λ3 · Pc(w3|w2)
    *   - same cascade one order down for (w2,w3) vs context w2
    *   - w3 never seen as a continuation → Pc(w3) = 0 → the floor
    *
    * Per doc: trigram count and avg negative log-likelihood (round 4 —
    * the q71 precedent for order-insensitive averaging). `floorP`
    * clamps the genuinely-zero paths exactly like q71's unseen-bigram
    * floor.
    *
    * Scale shape: the scored corpus is one narrow trigram pass; all
    * five model joins are LEFT joins against type tables; the final
    * groupBy(doc_id) map-side combines. Nothing is corpus × corpus.
    */
  def score(trainDocs: DataFrame, scoreDocs: DataFrame,
      textCol: String = "text", idCol: String = "doc_id",
      floorP: Double = 1e-7): DataFrame = {
    val t = derive(triTable(trainDocs, textCol))
    val grams = scoreDocs
      .select(col(idCol), expr(raw"split($textCol, '\\s+')").as("ts"))
      .filter(size(col("ts")) >= 3)
      .select(col(idCol), explode(expr(
        "transform(sequence(0, size(ts) - 3), i -> " +
          "struct(ts[i] AS w1, ts[i + 1] AS w2, ts[i + 2] AS w3))"))
        .as("g"))
      .select(col(idCol), col("g.w1").as("w1"), col("g.w2").as("w2"),
        col("g.w3").as("w3"))
    val joined = grams
      .join(t.tri, Seq("w1", "w2", "w3"), "left")
      .join(t.ctx2, Seq("w1", "w2"), "left")
      .join(t.cont2, Seq("w2", "w3"), "left")
      .join(t.ctx1, Seq("w2"), "left")
      .join(t.cont1, Seq("w3"), "left")
      .crossJoin(broadcast(t.scalars))
    // unigram continuation: 0 when w3 was never a continuation type
    val pc1 = coalesce(col("u").cast("double") / col("nb"), lit(0.0))
    // bigram level: context w2 seen → discounted count (0 when the
    // (w2,w3) type is unseen; m ≥ 1 > D2 otherwise, so greatest(·,0)
    // only fires on the unseen path) + λ2 · Pc(w3); context unseen →
    // Pc(w3) outright
    val pc2 = when(col("mm").isNotNull,
      greatest(coalesce(col("m"), lit(0L)) - col("d2"), lit(0.0)) /
        col("mm") +
        ((col("d2") * col("t2")) / col("mm")) * pc1).otherwise(pc1)
    // trigram level: same cascade against context (w1,w2)
    val p = when(col("c2").isNotNull,
      greatest(coalesce(col("c3"), lit(0L)) - col("d3"), lit(0.0)) /
        col("c2") +
        ((col("d3") * col("t3")) / col("c2")) * pc2).otherwise(pc2)
    val scored = joined
      .select(col(idCol), (-log(greatest(p, lit(floorP)))).as("nll"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_trigrams"),
        round(avg(col("nll")), 4).as("avg_nll"))
    scoreDocs.select(col(idCol))
      .join(scored, Seq(idCol), "left")
      .select(col(idCol), col("n_trigrams"), col("avg_nll"))
      .orderBy(idCol)
  }

  /** The 80/20 held-out split both contract queries share: train on
    * doc_id % 5 ≠ 0, score doc_id % 5 = 0 — deterministic, and the
    * held-out slice guarantees every backoff path fires. */
  private def split(docs: DataFrame): (DataFrame, DataFrame) =
    (docs.filter(col("doc_id") % 5 =!= 0),
      docs.filter(col("doc_id") % 5 === 0))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q98_kneser_ney" -> ((s: SparkSession, d: String) =>
      trigramLm(split(graft.Tables.documents(s, d))._1)),
    "q99_kn_score" -> ((s: SparkSession, d: String) => {
      val (train, held) = split(graft.Tables.documents(s, d))
      score(train, held)
    }),
    // Sharded training: 3 disjoint count shards merged, then smoothed
    // — must be BIT-IDENTICAL to q98's monolithic build (it shares
    // q98's oracle SQL verbatim, so the driver re-proves the Brants
    // additivity every round)
    "q100_kn_merge" -> ((s: SparkSession, d: String) => {
      val train = split(graft.Tables.documents(s, d))._1
      trigramLmFromCounts(mergeTrigramCounts((0 until 3).map(k =>
        trigramCounts(train.filter(col("doc_id") % 3 === k)))))
    }))

  /** Shared CTE chain: tokenize the training slice, build the trigram
    * type table and every derived count table, identically to the
    * Scala side. */
  private val TrainCtes =
    """WITH tk AS (
      |  SELECT doc_id, regexp_split_to_array(text, '\s+') AS ts
      |  FROM documents WHERE doc_id % 5 <> 0),
      |tok AS (
      |  SELECT doc_id, unnest(ts) AS w, unnest(range(len(ts))) AS i
      |  FROM tk WHERE len(ts) >= 3),
      |g AS (
      |  SELECT doc_id, w AS w1,
      |    lead(w) OVER (PARTITION BY doc_id ORDER BY i) AS w2,
      |    lead(w, 2) OVER (PARTITION BY doc_id ORDER BY i) AS w3
      |  FROM tok),
      |tri AS (
      |  SELECT w1, w2, w3, count(*) AS c3 FROM g
      |  WHERE w3 IS NOT NULL GROUP BY 1, 2, 3),
      |cont2 AS (SELECT w2, w3, count(*) AS m FROM tri GROUP BY 1, 2),
      |ctx2 AS (
      |  SELECT w1, w2, CAST(sum(c3) AS BIGINT) AS c2, count(*) AS t3
      |  FROM tri GROUP BY 1, 2),
      |ctx1 AS (
      |  SELECT w2, CAST(sum(m) AS BIGINT) AS mm, count(*) AS t2
      |  FROM cont2 GROUP BY 1),
      |cont1 AS (SELECT w3, count(*) AS u FROM cont2 GROUP BY 1),
      |sc AS (SELECT
      |  (SELECT coalesce(
      |     CAST(sum(CASE WHEN c3 = 1 THEN 1 ELSE 0 END) AS DOUBLE) /
      |     (sum(CASE WHEN c3 = 1 THEN 1 ELSE 0 END)
      |      + 2 * sum(CASE WHEN c3 = 2 THEN 1 ELSE 0 END)), 0.5)
      |   FROM tri) AS d3,
      |  (SELECT coalesce(
      |     CAST(sum(CASE WHEN m = 1 THEN 1 ELSE 0 END) AS DOUBLE) /
      |     (sum(CASE WHEN m = 1 THEN 1 ELSE 0 END)
      |      + 2 * sum(CASE WHEN m = 2 THEN 1 ELSE 0 END)), 0.5)
      |   FROM cont2) AS d2,
      |  (SELECT count(*) FROM cont2) AS nb)""".stripMargin

  val oracle: Map[String, String] = Map(
    // q100 shares q98's oracle verbatim: merged-shard training must
    // reproduce the monolithic table bit-for-bit
    "q100_kn_merge" -> (TrainCtes +
      """
        |SELECT tri.w1, tri.w2, tri.w3, c3,
        |  round((c3 - d3) / c2 + ((d3 * t3) / c2) *
        |    ((m - d2) / mm + ((d2 * t2) / mm) *
        |      (CAST(u AS DOUBLE) / nb)), 6) AS p_kn
        |FROM tri
        |JOIN ctx2 USING (w1, w2)
        |JOIN cont2 USING (w2, w3)
        |JOIN ctx1 USING (w2)
        |JOIN cont1 USING (w3)
        |CROSS JOIN sc
        |ORDER BY w1, w2, w3""".stripMargin),
    "q98_kneser_ney" -> (TrainCtes +
      """
        |SELECT tri.w1, tri.w2, tri.w3, c3,
        |  round((c3 - d3) / c2 + ((d3 * t3) / c2) *
        |    ((m - d2) / mm + ((d2 * t2) / mm) *
        |      (CAST(u AS DOUBLE) / nb)), 6) AS p_kn
        |FROM tri
        |JOIN ctx2 USING (w1, w2)
        |JOIN cont2 USING (w2, w3)
        |JOIN ctx1 USING (w2)
        |JOIN cont1 USING (w3)
        |CROSS JOIN sc
        |ORDER BY w1, w2, w3""".stripMargin),
    "q99_kn_score" -> (TrainCtes +
      """,
        |hk AS (
        |  SELECT doc_id, regexp_split_to_array(text, '\s+') AS ts
        |  FROM documents WHERE doc_id % 5 = 0),
        |htok AS (
        |  SELECT doc_id, unnest(ts) AS w, unnest(range(len(ts))) AS i
        |  FROM hk WHERE len(ts) >= 3),
        |hg AS (
        |  SELECT doc_id, w AS w1,
        |    lead(w) OVER (PARTITION BY doc_id ORDER BY i) AS w2,
        |    lead(w, 2) OVER (PARTITION BY doc_id ORDER BY i) AS w3
        |  FROM htok),
        |grams AS (SELECT doc_id, w1, w2, w3 FROM hg WHERE w3 IS NOT NULL),
        |p AS (
        |  SELECT grams.doc_id,
        |    CASE WHEN ctx1.mm IS NOT NULL THEN
        |      greatest(coalesce(cont2.m, 0) - d2, 0.0) / ctx1.mm
        |        + ((d2 * ctx1.t2) / ctx1.mm) *
        |          coalesce(CAST(cont1.u AS DOUBLE) / nb, 0.0)
        |    ELSE coalesce(CAST(cont1.u AS DOUBLE) / nb, 0.0) END AS pc2,
        |    ctx2.c2, ctx2.t3, tri.c3
        |  FROM grams
        |  LEFT JOIN tri USING (w1, w2, w3)
        |  LEFT JOIN ctx2 USING (w1, w2)
        |  LEFT JOIN cont2 USING (w2, w3)
        |  LEFT JOIN ctx1 USING (w2)
        |  LEFT JOIN cont1 USING (w3)
        |  CROSS JOIN sc),
        |nl AS (
        |  SELECT doc_id, -ln(greatest(
        |    CASE WHEN c2 IS NOT NULL THEN
        |      greatest(coalesce(c3, 0) - d3, 0.0) / c2
        |        + ((d3 * t3) / c2) * pc2
        |    ELSE pc2 END, 1e-7)) AS nll
        |  FROM p CROSS JOIN sc),
        |agg AS (
        |  SELECT doc_id, count(*) AS n_trigrams,
        |    round(avg(nll), 4) AS avg_nll
        |  FROM nl GROUP BY doc_id)
        |SELECT d.doc_id, agg.n_trigrams, agg.avg_nll
        |FROM (SELECT doc_id FROM documents WHERE doc_id % 5 = 0) d
        |LEFT JOIN agg USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin))
}
