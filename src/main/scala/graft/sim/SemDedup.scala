package graft.sim

import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Semantic deduplication over an embedding column — the SemDeDup
  * recipe (Abbas et al. 2023, arXiv:2303.09540): k-means the embedding
  * space, then score cosine similarity ONLY within each cluster and
  * drop every vector that has a near-twin with a smaller id, keeping
  * the smallest id of each semantic-duplicate set's chain.
  *
  * Scale shape (the whole point of the cluster step): the candidate
  * self-join's key is (cluster), so pair volume is Σ_c n_c² instead of
  * corpus² — k is picked so n_c ≈ corpus/k stays bounded (SemDeDup used
  * k = 11k clusters for 233M embeddings; k should grow ~√corpus). Both
  * scale levers are built in, not left to the caller:
  *   - k derives from a corpus count by default (`autoK` ≈ √n, capped
  *     at 65 536 so the driver-side size tally stays bounded);
  *   - clusters that still exceed a size cap are recursively re-fit
  *     with their own k-means (the SemDeDup paper's own recipe for
  *     oversized clusters), so one skewed mega-cluster cannot drag the
  *     candidate join back toward n² — per-leaf pair volume is bounded
  *     by cap² regardless of how the corpus bunches.
  * The join is a co-shuffled equi-join on the leaf-cluster key; no
  * relation is broadcast (the corpus side scales), no pair leaves its
  * leaf, and the per-pair score is the codegen'd `vec_dot` on
  * pre-computed norms. Residual size skew inside the cap is AQE's
  * skew-split case (equi-join).
  *
  * Keeper policy: a vector is a duplicate iff ANY smaller-id vector in
  * its cluster is within `threshold` cosine — i.e. min-id-wins along
  * chains, matching the exact-dedup keeper convention (q23) and
  * SemDeDup's "keep one example per group". Seeded sample-trained
  * Lloyd (see `fitBounded`) → deterministic AND layout-independent:
  * the hash-of-id sample is the same rows under any partitioning, so
  * re-materializing the corpus with a different layout reproduces the
  * same tree and the same verdicts.
  *
  * The tree FIT is not SQL-expressible, but the verdicts are: both
  * contract queries dump their leaf assignments during Verify and
  * DuckDB re-runs the within-leaf scoring + min-id-wins rule on them
  * (hard hash oracle since round 10); the fit itself is spec-pinned on
  * planted fixtures.
  */
object SemDedup {

  /** k-means tree: root centroids plus sub-trees for the root clusters
    * whose population exceeded the size cap — the persistable artifact
    * of `fitBounded` (the analogue of a flat `KMeansModel`, which a
    * single skewed corpus can defeat). Centroids are plain float
    * arrays (k×dim KBs) trained driver-side on a bounded sample — see
    * [[fitBounded]].
    */
  final case class ClusterTree(cents: Array[Array[Float]],
      children: Map[Int, ClusterTree])

  /** Cluster-assignment column: nearest tree-node centroid by squared
    * L2 (shared `IvfPq.nearestCell` primitive, centroids ride the
    * closure). */
  private def assignCol(cents: Array[Array[Float]]) = {
    val fn = org.apache.spark.sql.functions.udf(
      (e: Seq[Float]) => IvfPq.nearestCell(e.toArray, cents))
    fn(col("emb"))
  }

  /** √n heuristic from the SemDeDup paper's own sizing (k = 11k for
    * 233M ⇒ ≈ √n/1.4), capped so the per-fit driver tally (k cluster
    * sizes) stays bounded at any corpus size — beyond the cap the
    * recursive split carries the rest of the size control.
    */
  def autoK(n: Long): Int =
    math.min(65536L, math.max(2L, math.ceil(math.sqrt(n.toDouble)).toLong)).toInt

  /** Default leaf-size cap: 4× the average cluster under k — generous
    * enough that a healthy corpus never splits, tight enough that a
    * mega-cluster's candidate join stays ~cap² per leaf.
    */
  def autoCap(n: Long, k: Int): Long = math.max(64L, 4L * (n / math.max(1, k) + 1))

  /** Fit a size-bounded cluster tree: root k-means, then recursively
    * re-fit every cluster whose population exceeds `sizeCap` with its
    * own k-means (kSub = ⌈n_c/cap⌉), down to `maxDepth` levels.
    *
    * Each node's centroids train driver-side (`PqKnn.lloyd`, 10 iters)
    * on a content-deterministic bounded SAMPLE of that node's rows —
    * the faiss/SemDeDup practice, and the same round-10 move as
    * IvfPq's coarse quantizer: the model is k×dim KBs, so a
    * full-corpus iterative MLlib fit per node bought nothing but
    * ~25 jobs of overhead (an earlier revision did exactly that, and
    * the tree fit was ~85% of nq_semantic_dedup's wall time). Bonus
    * over the MLlib fit: the hash-of-id sample makes the trained tree
    * LAYOUT-INDEPENDENT, where MLlib's seeded per-partition init could
    * shift boundary assignments across different input partitionings.
    * The only distributed work per node is one assignment pass + the
    * k-row size tally; every re-fit recursion filters to just that
    * cluster's rows.
    */
  private[sim] def fitBounded(e: DataFrame, k: Int, sizeCap: Long,
      seed: Long, maxDepth: Int): ClusterTree = {
    val s = e.sparkSession
    import s.implicits._
    val sample = e.orderBy(xxhash64(col("id")), col("id")).limit(2000)
      .select("emb").as[Seq[Float]].collect().map(_.toArray)
    require(sample.nonEmpty, "fitBounded: empty input")
    // k is bounded by the training sample: lloyd over 2000 points can
    // realize at most 2000 distinct centroids — asking for more (a
    // 10M-row corpus's autoK is 3163) only mints duplicate centroids
    // that receive zero assignments while every corpus row still pays
    // k×dim distance evaluations in the assignment UDF
    val kEff = math.min(k, sample.length)
    val cents = PqKnn.lloyd(sample, kEff, iters = 10, seed = seed)
    if (maxDepth <= 0) return ClusterTree(cents, Map.empty)
    val assigned = e.withColumn("cluster", assignCol(cents)).persist()
    try {
      val sizes = assigned.groupBy("cluster").count()
        .collect().map(r => r.getInt(0) -> r.getLong(1)) // ≤ k rows
      val children = sizes.collect {
        case (c, nC) if nC > sizeCap =>
          val kSub = math.min(nC,
            math.max(2L, math.ceil(nC.toDouble / sizeCap).toLong)).toInt
          c -> fitBounded(assigned.filter(col("cluster") === c).drop("cluster"),
            kSub, sizeCap, seed * 31 + c + 1, maxDepth - 1)
      }.toMap
      ClusterTree(cents, children)
    } finally assigned.unpersist()
  }

  /** Assign leaf-cluster paths under a trained tree: rows in un-split
    * root clusters get "c"; rows in split ones recurse to "c.s[.t…]".
    * The path string IS the equi-join key downstream — two rows are
    * candidates iff their full paths match. Union width = number of
    * split clusters (small by construction).
    */
  private[sim] def assignTree(tree: ClusterTree, e: DataFrame): DataFrame = {
    val assigned0 = e.withColumn("cluster", assignCol(tree.cents))
    if (tree.children.isEmpty)
      assigned0.withColumn("cluster", col("cluster").cast("string"))
    else {
      // referenced once per branch PLUS the flat filter — without a
      // materialization each reference re-runs the node's k×dim
      // assignment UDF over the node's whole input (Spark has no
      // common-subplan reuse), and the callers multiply the tree
      // again; truncate (not persist) because the tree is
      // built once per fit and the blocks free with the reference
      val assigned = graft.Checkpointing.truncate(assigned0)
      val splitKeys = tree.children.keys.toSeq
      val flat = assigned.filter(!col("cluster").isInCollection(splitKeys))
        .withColumn("cluster", col("cluster").cast("string"))
      tree.children.foldLeft(flat) { case (acc, (c, child)) =>
        val sub = assignTree(child, assigned.filter(col("cluster") === c)
          .drop("cluster"))
        acc.unionAll(sub.withColumn("cluster",
          concat(lit(s"$c."), col("cluster"))))
      }
    }
  }

  /** id/emb/norm/feature-vector projection shared by every entry. */
  private def prep(vecs: DataFrame, idCol: String, embCol: String): DataFrame = {
    graft.functions.VecFunctions.register(vecs.sparkSession)
    vecs.select(col(idCol).as("id"), col(embCol).as("emb"),
      array_to_vector(col(embCol)).as("v"),
      sqrt(expr(s"vec_dot($embCol, $embCol)")).as("nrm"))
  }

  /** Train the size-bounded tree over a corpus. k ≤ 0 → `autoK(n)`;
    * sizeCap ≤ 0 → `autoCap(n, k)`. The one extra corpus pass (the
    * count) is what makes the defaults scale-correct instead of
    * hardcoded.
    */
  def fitCorpus(vecs: DataFrame, idCol: String, embCol: String,
      k: Int = 0, sizeCap: Long = 0L, seed: Long = 42L,
      maxDepth: Int = 3): ClusterTree = {
    val e = prep(vecs, idCol, embCol)
    // one count serves both defaults (each evaluation is a corpus scan)
    lazy val n = e.count()
    val kEff = if (k > 0) k else autoK(n)
    val capEff = if (sizeCap > 0) sizeCap else autoCap(n, kEff)
    fitBounded(e, kEff, capEff, seed, maxDepth)
  }

  /** Core operator over any (id, embedding ARRAY<FLOAT>) frame.
    * Returns one row per input vector: (id, cluster, is_dup) — callers
    * keep `!is_dup`. `cluster` is the leaf path (e.g. "7" or "7.2").
    */
  def semanticDedup(vecs: DataFrame, idCol: String, embCol: String,
      k: Int = 0, threshold: Double = 0.97, seed: Long = 42L,
      sizeCap: Long = 0L, maxDepth: Int = 3,
      oracleDumpName: Option[String] = None): DataFrame = {
    val e = prep(vecs, idCol, embCol)
    val n = e.count()
    val kEff = if (k > 0) k else autoK(n)
    val capEff = if (sizeCap > 0) sizeCap else autoCap(n, kEff)
    val tree = fitBounded(e, kEff, capEff, seed, maxDepth)
    val assigned = assignTree(tree, e)
      .select(col("id"), col("emb"), col("nrm"), col("cluster"))
    // Verify-only: the leaf assignment, so the oracle re-runs the
    // SQL-expressible half — within-leaf cosine scoring and the
    // min-id-wins verdict — on identical buckets; the k-means tree fit
    // stays engine-specific, pinned by the planted-fixture specs
    oracleDumpName.foreach(nm => graft.OracleDump.dump(
      assigned.select(col("id"), col("cluster")),
      s"${VecPrep.AnnOracleDir}/$nm.parquet"))
    // within-leaf candidate pairs, scored one direction only
    // (lo < hi): the higher id is the one at risk of dropping
    val lo = assigned.select(col("cluster"), col("id").as("lo_id"),
      col("emb").as("lo_emb"), col("nrm").as("lo_nrm"))
    val hi = assigned.select(col("cluster"), col("id").as("hi_id"),
      col("emb").as("hi_emb"), col("nrm").as("hi_nrm"))
    // explicit aliases: hi("cluster") === lo("cluster") on same-lineage
    // frames logs a "trivially true predicate" WARN before the analyzer's
    // dataset-id disambiguation fixes it up — same resolved plan, but the
    // alias form says what it means and keeps executor logs clean
    val dups = hi.as("h").join(lo.as("l"),
        col("h.cluster") === col("l.cluster") && col("lo_id") < col("hi_id"))
      .filter(expr("vec_dot(hi_emb, lo_emb)") / (col("hi_nrm") * col("lo_nrm"))
        >= threshold)
      .select(col("hi_id").as("id")).distinct()
    assigned.select(col("id"), col("cluster"))
      .join(dups.withColumn("__d", lit(true)), Seq("id"), "left")
      .select(col("id"), col("cluster"),
        coalesce(col("__d"), lit(false)).as("is_dup"))
      .orderBy("id")
  }

  /** Persist a trained [[ClusterTree]] as one parquet relation of
    * (path, cluster, centroid) rows — `path` is the dot-joined prefix
    * of split-cluster indices ("" for the root, "7" for the sub-tree
    * under root cluster 7, …). KBs at any corpus size, so the tree the
    * corpus was deduped under can be version-controlled next to the
    * signature/gram/ANN stores and every later batch judged under the
    * identical buckets (train once, assign forever). */
  def writeTree(s: SparkSession, tree: ClusterTree, path: String): Unit = {
    import s.implicits._
    def rows(t: ClusterTree, prefix: String): Seq[(String, Int, Array[Float])] =
      t.cents.zipWithIndex.map { case (c, i) => (prefix, i, c) } ++
        t.children.toSeq.flatMap { case (c, child) =>
          rows(child, if (prefix.isEmpty) c.toString else s"$prefix.$c")
        }
    rows(tree, "").toDF("path", "cluster", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Load a tree written by [[writeTree]] — fails loudly on an empty or
    * root-less relation. */
  def readTree(s: SparkSession, path: String): ClusterTree = {
    val rows = s.read.parquet(path).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getSeq[Float](2).toArray))
    require(rows.nonEmpty, s"no cluster tree at $path")
    def build(prefix: String): ClusterTree = {
      val own = rows.filter(_._1 == prefix).sortBy(_._2)
      require(own.nonEmpty && own.map(_._2).toSeq == own.indices.toSeq,
        s"cluster tree at $path: node '$prefix' is missing or has " +
          "non-contiguous cluster ids — not a writeTree artifact")
      val childPrefixes = rows.map(_._1).distinct.filter { p =>
        val rest = if (prefix.isEmpty) p else p.stripPrefix(s"$prefix.")
        p != prefix && (prefix.isEmpty || p.startsWith(s"$prefix.")) &&
          !rest.contains('.')
      }
      ClusterTree(own.map(_._3),
        childPrefixes.map { p =>
          val c = (if (prefix.isEmpty) p else p.stripPrefix(s"$prefix.")).toInt
          c -> build(p)
        }.toMap)
    }
    build("")
  }

  /** Projection + cluster assignment under an ALREADY-TRAINED flat
    * model — the reusable artifact of the incremental path (the
    * analogue of the text side's persisted signature store: train once
    * over the corpus, assign forever). One narrow pass through
    * `model.transform` (the prediction runs executor-side against the
    * broadcast model).
    *
    * PRECONDITION: the model must have been configured with
    * `featuresCol = "v"` and `predictionCol = "cluster"` (the columns
    * `prep` produces and this select reads) — a default-configured
    * KMeansModel fails at analysis. Enforced loudly here rather than
    * surfacing as an unresolved-column error. */
  def assign(model: org.apache.spark.ml.clustering.KMeansModel,
      vecs: DataFrame, idCol: String, embCol: String): DataFrame = {
    require(model.getFeaturesCol == "v" && model.getPredictionCol == "cluster",
      s"assign expects a model trained with featuresCol=v and " +
        s"predictionCol=cluster (got ${model.getFeaturesCol}/" +
        s"${model.getPredictionCol}) — set both before fitting, or " +
        "model.copy the params")
    model.transform(prep(vecs, idCol, embCol))
      .select(col("id"), col("emb"), col("nrm"), col("cluster"))
  }

  /** Same under a size-bounded `ClusterTree` (from `fitCorpus`): the
    * cluster column is the leaf path, so a batch lands in exactly the
    * leaves the corpus was deduped in — split clusters included. */
  def assign(tree: ClusterTree, vecs: DataFrame, idCol: String,
      embCol: String): DataFrame =
    assignTree(tree, prep(vecs, idCol, embCol))
      .select(col("id"), col("emb"), col("nrm"), col("cluster"))

  /** Incremental semantic dedup: verdicts for a NEW batch against an
    * existing corpus without ever re-scoring corpus × corpus — the
    * SemDeDup analogue of `NearDup.minhashNeardupIncremental`. Both
    * inputs carry assignments from the SAME corpus-trained model (via
    * `assign`); a batch vector drops iff it has a same-cluster
    * near-twin in the corpus (any id) or an earlier (lower-id)
    * same-cluster twin in its own batch.
    *
    * Scale shape: both candidate joins are equi-joins on the cluster
    * key — batch × corpus is linear in the batch's cluster-mate count,
    * batch × batch is the intra-batch triangle; the corpus is scanned
    * once and NEVER self-joined. Assignment reuses the stored model,
    * so per-batch cost is independent of how many batches preceded.
    */
  def semanticDedupIncremental(corpusAssigned: DataFrame,
      batchAssigned: DataFrame, threshold: Double = 0.97): DataFrame = {
    val cor = corpusAssigned.select(col("cluster"), col("id").as("lo_id"),
      col("emb").as("lo_emb"), col("nrm").as("lo_nrm"))
    val bLo = batchAssigned.select(col("cluster"), col("id").as("lo_id"),
      col("emb").as("lo_emb"), col("nrm").as("lo_nrm"))
    val bHi = batchAssigned.select(col("cluster"), col("id").as("hi_id"),
      col("emb").as("hi_emb"), col("nrm").as("hi_nrm"))
    def twins(lo: DataFrame, requireLower: Boolean): DataFrame = {
      // aliases (not bHi("cluster") === lo("cluster")): the intra-batch
      // call joins same-lineage frames, where the raw form logs a
      // "trivially true predicate" WARN before the analyzer's dataset-id
      // disambiguation fixes it — same resolved plan, cleaner logs
      val cond0 = col("h.cluster") === col("l.cluster")
      val cond = if (requireLower) cond0 && col("lo_id") < col("hi_id")
        else cond0
      bHi.as("h").join(lo.as("l"), cond)
        .filter(expr("vec_dot(hi_emb, lo_emb)") /
          (col("hi_nrm") * col("lo_nrm")) >= threshold)
        .select(col("hi_id").as("id"))
    }
    batchAssigned.select(col("id"), col("cluster"))
      .join(twins(cor, requireLower = false)
          .unionAll(twins(bLo, requireLower = true))
          .distinct().withColumn("__d", lit(true)),
        Seq("id"), "left")
      .select(col("id"), col("cluster"),
        coalesce(col("__d"), lit(false)).as("is_dup"))
      .orderBy("id")
  }

  /** Driver entry over the embeddings table. threshold=0.97 on this
    * corpus flags only true near-twins (the synthetic embeddings are
    * near-uniform on the sphere; see SemDedupSpec's planted fixture for
    * the semantics check). */
  def semanticDedupQuery(s: SparkSession, d: String): DataFrame =
    semanticDedup(graft.Tables.embeddings(s, d), "vec_id", "embedding",
        oracleDumpName = Some("nq_semantic_dedup_assign"))
      .withColumnRenamed("id", "vec_id")

  /** Incremental entry: vec_id ≡ 0 (mod 10) plays the new batch, the
    * rest the standing corpus; the size-bounded tree trains on the
    * corpus only (the batch must not influence the buckets it is
    * judged in) with the same auto-k/auto-cap defaults as the batch
    * path. */
  def semanticDedupIncrementalQuery(s: SparkSession, d: String): DataFrame = {
    val all = graft.Tables.embeddings(s, d)
    val corpus = all.filter(col("vec_id") % 10 =!= 0)
    val batch = all.filter(col("vec_id") % 10 === 0)
    val tree = fitCorpus(corpus, "vec_id", "embedding")
    val corpusAssigned = assign(tree, corpus, "vec_id", "embedding")
    val batchAssigned = assign(tree, batch, "vec_id", "embedding")
    // Verify-only: both assignments, so the oracle re-runs the batch ×
    // corpus and intra-batch twin scoring on identical buckets (see
    // semanticDedup's dump)
    graft.OracleDump.dump(corpusAssigned.select(col("id"), col("cluster")),
      s"${VecPrep.AnnOracleDir}/nq_semdedup_inc_corpus.parquet")
    graft.OracleDump.dump(batchAssigned.select(col("id"), col("cluster")),
      s"${VecPrep.AnnOracleDir}/nq_semdedup_inc_batch.parquet")
    semanticDedupIncremental(corpusAssigned, batchAssigned)
      .withColumnRenamed("id", "vec_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "nq_semantic_dedup" -> (semanticDedupQuery _),
    "nq_semantic_dedup_inc" -> (semanticDedupIncrementalQuery _))

  // Cosine parity with DuckDB at a threshold compare is q31's
  // long-standing contract; the verdict semantics (min-id-wins within a
  // leaf; corpus twin at any id for the incremental path) re-run in SQL
  // over the dumped leaf assignments.
  private def vCte: String =
    "v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)"

  val oracle: Map[String, String] = Map(
    "nq_semantic_dedup" ->
      s"""WITH a AS (SELECT id, cluster FROM read_parquet(
         |       '${VecPrep.AnnOracleDir}/nq_semantic_dedup_assign.parquet/*.parquet')),
         |$vCte,
         |d AS (SELECT DISTINCT h.id
         |      FROM a h JOIN a l ON h.cluster = l.cluster AND l.id < h.id
         |      JOIN v hv ON hv.vec_id = h.id
         |      JOIN v lv ON lv.vec_id = l.id
         |      WHERE list_cosine_similarity(hv.e, lv.e) >= 0.97)
         |SELECT a.id AS vec_id, a.cluster, (d.id IS NOT NULL) AS is_dup
         |FROM a LEFT JOIN d ON a.id = d.id
         |ORDER BY vec_id""".stripMargin,
    "nq_semantic_dedup_inc" ->
      s"""WITH c AS (SELECT id, cluster FROM read_parquet(
         |       '${VecPrep.AnnOracleDir}/nq_semdedup_inc_corpus.parquet/*.parquet')),
         |b AS (SELECT id, cluster FROM read_parquet(
         |       '${VecPrep.AnnOracleDir}/nq_semdedup_inc_batch.parquet/*.parquet')),
         |$vCte,
         |d AS (SELECT DISTINCT h.id
         |      FROM b h JOIN c l ON h.cluster = l.cluster
         |      JOIN v hv ON hv.vec_id = h.id
         |      JOIN v lv ON lv.vec_id = l.id
         |      WHERE list_cosine_similarity(hv.e, lv.e) >= 0.97
         |      UNION
         |      SELECT DISTINCT h.id
         |      FROM b h JOIN b l ON h.cluster = l.cluster AND l.id < h.id
         |      JOIN v hv ON hv.vec_id = h.id
         |      JOIN v lv ON lv.vec_id = l.id
         |      WHERE list_cosine_similarity(hv.e, lv.e) >= 0.97)
         |SELECT b.id AS vec_id, b.cluster, (d.id IS NOT NULL) AS is_dup
         |FROM b LEFT JOIN d ON b.id = d.id
         |ORDER BY vec_id""".stripMargin)
}
