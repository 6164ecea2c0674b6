package graft.sim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted IVF-PQ index — build/search separation, the ANN member of
  * the engine's store family (signature store, gram store, heavy-hitter
  * store, cardinality store): train the coarse quantizer and residual
  * codebooks ONCE over the corpus, persist (centroids, codebooks,
  * codes, meta), then serve every later search — and encode every later
  * ingest batch — against the frozen artifact without retraining. This
  * is how production ANN serves 100 TB: index build is an offline job,
  * search loads KBs of model (centroids + codebooks) and scans only the
  * m-byte codes of probed cells; the raw float vectors never live in
  * the index (re-rank reads them from the source table).
  *
  * Layout under `path/`:
  *   meta.parquet       one row (k_cells, m, k, dim) — search/encode
  *                      fail LOUDLY on any mismatch with the caller's
  *                      expectations (a wrong-parameter read would
  *                      decode garbage codes, not error, otherwise)
  *   centroids.parquet  (cell, c ARRAY<FLOAT>)
  *   codebooks.parquet  (mi, cw, v ARRAY<FLOAT>)
  *   codes.parquet      (vec_id, cell, code ARRAY<INT>) — the only
  *                      corpus-sized relation; append target for
  *                      incremental ingest
  *
  * Incremental contract ([[encodeBatch]]): new vectors are assigned to
  * their nearest frozen centroid and PQ-encoded under the frozen
  * codebooks — batch-sized work, one append, no retraining (the
  * SemDedup `assign` analogue for ANN). Redelivery is made idempotent
  * by an anti-join against the stored vec_ids. Recall on drifted data
  * is the operator's documented limitation (rebuild when the corpus
  * distribution moves — the standard IVF-PQ practice).
  */
object IvfPqStore {

  /** Train + encode the corpus (same seeds as `IvfPq.ivfPqKnn`, so the
    * persisted index is IDENTICAL to the in-query composite's) and
    * write the four relations. Overwrites any existing index. */
  def buildIndex(s: SparkSession, d: String, path: String,
      kCells: Int = 16, m: Int = 8, k: Int = 32): Unit = {
    import s.implicits._
    val (_, cents, codebooks, codes) = IvfPq.trainEncode(s, d, kCells, m, k)
    Seq((kCells, m, k, cents.head.length))
      .toDF("k_cells", "m", "k", "dim")
      .write.mode("overwrite").parquet(s"$path/meta.parquet")
    cents.zipWithIndex.map { case (c, i) => (i, c) }.toSeq
      .toDF("cell", "c")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids.parquet")
    (for (mi <- codebooks.indices; cw <- codebooks(mi).indices)
      yield (mi, cw, codebooks(mi)(cw))).toDF("mi", "cw", "v")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/codebooks.parquet")
    // clustered at rest by cell: searchCodes pre-filters to the union
    // of probed cells, so this layout turns every probe into directory
    // pruning — a search reads ~nProbe/kCells of the codes instead of
    // scanning them all (partition-pruning is asserted in the spec)
    codes.toDF().repartition(col("cell"))
      .write.partitionBy("cell")
      .mode("overwrite").parquet(s"$path/codes.parquet")
  }

  /** Load the driver-side model halves (KBs) with the loud meta check. */
  private def loadModel(s: SparkSession, path: String,
      kCells: Int, m: Int, k: Int)
      : (Array[Array[Float]], Array[Array[Array[Float]]]) = {
    val meta = s.read.parquet(s"$path/meta.parquet").collect()
    require(meta.length == 1, s"index at $path has ${meta.length} meta rows")
    val (mk, mm, mkk, mdim) = (meta(0).getInt(0), meta(0).getInt(1),
      meta(0).getInt(2), meta(0).getInt(3))
    require(mk == kCells && mm == m && mkk == k,
      s"index at $path was built with (kCells=$mk, m=$mm, k=$mkk); " +
        s"caller expects ($kCells, $m, $k) — wrong-parameter reads decode " +
        "garbage, rebuild the index or match the parameters")
    val cents = s.read.parquet(s"$path/centroids.parquet")
      .collect().map(r => r.getInt(0) -> r.getSeq[Float](1).toArray)
      .sortBy(_._1).map(_._2)
    require(cents.length == mk && cents.forall(_.length == mdim),
      s"centroid relation at $path inconsistent with meta")
    val cbs = Array.ofDim[Array[Float]](mm, mkk)
    s.read.parquet(s"$path/codebooks.parquet").collect().foreach { r =>
      cbs(r.getInt(0))(r.getInt(1)) = r.getSeq[Float](2).toArray
    }
    require(cbs.forall(_.forall(_ != null)),
      s"codebook relation at $path is missing entries")
    (cents, cbs.map(_.toArray))
  }

  /** Search the persisted index: loads the KB-scale model, scans only
    * the codes relation; `rerankSource` supplies (vec_id, embedding)
    * for the exact shortlist re-rank. Query vectors are taken from the
    * source by id (the usual "search with corpus members" probe shape —
    * external query vectors just mean a different `queryVecs` array).
    */
  def searchIndex(s: SparkSession, path: String, rerankSource: DataFrame,
      queryIds: Seq[Long], kCells: Int = 16, nProbe: Int = 4, m: Int = 8,
      k: Int = 32, topK: Int = 5, shortlist: Int = 100,
      oracleDumpName: Option[String] = None): DataFrame = {
    import s.implicits._
    val (cents, codebooks) = loadModel(s, path, kCells, m, k)
    graft.rel.Stores.recoverSwap(s, s"$path/codes.parquet")
    // explicit select: partitionBy surfaces `cell` as the LAST column
    // (and as the inferred partition type), while the tuple encoder
    // binds by position
    // tombstone filter BEFORE the ADC shortlist: a delete never
    // shrinks the returned top-k while survivors remain (key-level
    // delete contract below)
    val codes = graft.rel.Tombstones.filterDeleted(
        s.read.parquet(s"$path/codes.parquet"), "vec_id",
        s"$path/codes.parquet")
      .select(col("vec_id"), col("cell").cast("int").as("cell"),
        col("code"))
      .as[(Long, Int, Array[Int])]
    val queryVecs = rerankSource
      .filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    IvfPq.searchCodes(codes, rerankSource, queryVecs, cents, codebooks,
      nProbe, topK, shortlist, oracleDumpName)
  }

  /** Encode a NEW batch under the frozen index and append — the
    * incremental ingest path: batch-sized work (nearest frozen centroid
    * + PQ encode per vector), one append, no retraining. Already-stored
    * vec_ids are skipped (anti-join), so a redelivered batch is a
    * no-op. */
  def encodeBatch(s: SparkSession, path: String, batch: DataFrame,
      kCells: Int = 16, m: Int = 8, k: Int = 32): Unit = {
    import s.implicits._
    val (cents, codebooks) = loadModel(s, path, kCells, m, k)
    graft.rel.Stores.recoverSwap(s, s"$path/codes.parquet")
    val seen = s.read.parquet(s"$path/codes.parquet").select("vec_id")
    val fresh = graft.rel.Tombstones.filterDeleted(
        // delete-before-arrival: a vec_id tombstoned before its vector
        // ever landed has no physical row for the seen-anti-join to
        // block — without this filter it would be encoded and stored
        // while deleted (hidden at read, but physically present)
        batch.select(col("vec_id"), col("embedding")),
        "vec_id", s"$path/codes.parquet")
      // intra-batch dedupe: the seen anti-join only blocks ids ALREADY
      // stored — a micro-batch carrying the same vec_id twice (an
      // at-least-once source re-delivering inside one frame) would
      // append duplicate codes rows and list the id twice in top-k
      .dropDuplicates("vec_id")
      .join(seen, Seq("vec_id"), "left_anti")
      .as[(Long, Array[Float])]
    val assigned = fresh
      .map { case (id, v) => (id, v, IvfPq.nearestCell(v, cents)) }
      .toDF("vec_id", "embedding", "cell")
      .as[(Long, Array[Float], Int)]
    IvfPq.encodeAssigned(assigned, cents, codebooks)
      .toDF().repartition(col("cell"))
      .write.partitionBy("cell") // keep the cell-clustered layout
      .mode("append").parquet(s"$path/codes.parquet")
  }

  // ------------------------------------------------ key-level delete
  // GDPR removal from the index (DESIGN_upsert.md's doc-keyed class):
  // the codes relation is keyed by vec_id, so a delete is a fenced
  // tombstone log beside it plus an anti-join at search — applied
  // BEFORE the ADC shortlist in [[searchIndex]], so deletions never
  // shrink the returned top-k while survivors remain. Two caveats,
  // documented rather than papered over:
  //  - [[encodeBatch]]'s idempotency anti-join sees the PHYSICAL codes,
  //    so re-inserting a deleted vec_id is a no-op until [[compactIndex]]
  //    removes the old row: a delete is terminal within a compaction
  //    epoch; re-ingest after compact behaves normally.
  //  - the frozen centroids/codebooks were trained on a corpus sample
  //    that may have included deleted vectors. A k-means centroid is
  //    not a recoverable record, but a strict full-forget pipeline
  //    folds deletion into the index's normal drift-rebuild schedule.

  /** Tombstone vec_ids out of the index (idempotent, replay-fenced). */
  def deleteFromIndex(keys: DataFrame, path: String, batchId: Long): Unit =
    graft.rel.Tombstones.applyDelete(keys, "vec_id",
      s"$path/codes.parquet", batchId)

  /** Fold the tombstone log into the codes relation, PRESERVING the
    * cell-partitioned layout (the generic [[graft.rel.Tombstones.compact]]
    * would flatten it and break searchCodes' partition pruning).
    * Read-before ≡ read-after; single maintenance owner, like every
    * store rewrite.
    *
    * Crash discipline — the root swap ([[graft.rel.Stores.swapDir]]),
    * not an in-place static overwrite (which would truncate the sole
    * copy of the corpus-sized codes relation before the rewrite job
    * committed): the survivors write COMPLETELY to the swap's tmp
    * sibling before the codes root moves, and
    * [[graft.rel.Stores.recoverSwap]] finishes an interrupted swap
    * from any entry. A deletion covering EVERY stored vector stages an
    * empty but SCHEMA-BEARING relation (the file-less-dir rule — a
    * _SUCCESS-only root would crash every later read's schema
    * inference; `cell` becomes a plain int column, which searchIndex's
    * cast-select reads on either layout). */
  def compactIndex(s: SparkSession, path: String): Unit = {
    val codesPath = s"$path/codes.parquet"
    val codes = new org.apache.hadoop.fs.Path(codesPath)
    val fs = codes.getFileSystem(s.sparkContext.hadoopConfiguration)
    graft.rel.Stores.recoverSwap(fs, codes)
    graft.rel.Tombstones.deletedKeys(s, codesPath).foreach { _ =>
      graft.rel.Stores.swapDir(fs, codes) { tmp =>
        val full = s.read.parquet(codesPath)
        // partition columns surface with inferred types — pin cell to
        // a plain int for the empty rewrite's schema
        val schema = org.apache.spark.sql.types.StructType(
          full.schema.fields.map(f =>
            if (f.name == "cell")
              f.copy(dataType = org.apache.spark.sql.types.IntegerType)
            else f))
        // one computation: emptiness probe + write
        val survivors = graft.Checkpointing.truncate(
          graft.rel.Tombstones.filterDeleted(full, "vec_id", codesPath))
        if (survivors.isEmpty)
          s.createDataFrame(
              s.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
            .coalesce(1).write.parquet(tmp.toString)
        else survivors.repartition(col("cell"))
          .write.partitionBy("cell").parquet(tmp.toString)
      }
      fs.delete(new org.apache.hadoop.fs.Path(
        graft.rel.Tombstones.logPath(codesPath)), true)
    }
  }

  /** Streaming ingest of the index: each micro-batch of
    * (vec_id, embedding) rows is assigned + PQ-encoded under the
    * FROZEN model and appended to the cell-partitioned codes relation
    * via foreachBatch — the ANN member of the engine's streaming store
    * family (signature/gram/heavy-hitter/cardinality streams). Like
    * the cardinality store — and unlike the additive heavy-hitter
    * counts — this sink needs NO batch-id fence: [[encodeBatch]]'s
    * anti-join against stored vec_ids makes a redelivered batch a
    * no-op, so at-least-once delivery composes into exactly-once codes
    * (spec-pinned). The index must already exist ([[buildIndex]] is
    * the offline calibration run, same contract as the ingest gate's
    * frozen thresholds); recall on drifted data remains the documented
    * rebuild trigger.
    */
  def ivfPqIngestStream(vecs: DataFrame, indexPath: String,
      kCells: Int = 16, m: Int = 8, k: Int = 32)
      : org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row] =
    vecs.writeStream.foreachBatch {
      (batch: DataFrame, _: Long) =>
        encodeBatch(batch.sparkSession, indexPath, batch, kCells, m, k)
    }

  /** Driver entry: build the index once per immutable source dir —
    * the operator's contract IS build once / search many, so repeated
    * invocations (Verify + Bench's median-of-3) measure what a user
    * pays per search against a standing index — and search it for the
    * same queries as `nq_ivfpq_knn`: the contract row that proves the
    * persisted path end-to-end inside Verify/Bench (identical output to
    * the in-query composite by construction; rows-only check since PQ
    * codes are not SQL-expressible). */
  def nqIvfPqStore(s: SparkSession, d: String): DataFrame = {
    val dir = graft.FixtureMemo.store("ivfpq-index", d) { root =>
      buildIndex(s, d, root.toString)
      root.toString
    }
    val src = VecPrep.embeddingFeatures(s, d)
      .select(col("vec_id"), col("embedding"))
    searchIndex(s, dir, src, 0L until 10L,
      oracleDumpName = Some("nq_ivfpq_store"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "nq_ivfpq_store" -> (nqIvfPqStore _))

  /** Exact-re-rank oracle over the dumped ADC shortlist of the
    * persisted-index search. */
  val oracle: Map[String, String] = Map(
    "nq_ivfpq_store" -> VecPrep.rerankOracleSql("nq_ivfpq_store"))
}
