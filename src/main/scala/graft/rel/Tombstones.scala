package graft.rel

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Key-level deletes for the DOC-KEYED stores (signature store, gram
  * store, ANN-code store, SemDedup assignments) — the GDPR-removal
  * half of DESIGN_upsert.md. The additive stores invert algebraically
  * (`AggStore.retractBatch`); the doc-keyed stores are plain relations
  * keyed by document, so a delete is an anti-join at read against a
  * tombstone log that lives NEXT TO the store (`<store>_tombstones/`).
  *
  * The log is itself a store: per-mutation-batch `batch_id` partitions
  * with dynamic-partition overwrite, so redelivered delete batches are
  * byte-idempotent exactly like redelivered data batches — and a
  * delete is also IDEMPOTENT semantically (anti-join twice = once), so
  * the fence is belt and braces. Writes never rewrite store data;
  * `compact` nets the log into the data when the read-side anti-join
  * grows past taste, without changing any answer.
  *
  * Scale shape: tombstone sets are deletion-sized (requests, not
  * corpus) — the read path broadcasts them when small, which AQE
  * already decides from the log's actual size; the anti-join keys are
  * the store's own doc ids, no new shuffle of the store when it is
  * already partitioned by key.
  */
object Tombstones {

  /** The log's location for a store root — beside it, never inside it
    * (the store's own reader must not glob tombstone files). */
  def logPath(storePath: String): String =
    storePath.stripSuffix("/") + "_tombstones"

  /** Record one delete batch: the distinct keys, under the mutation
    * batch's own fenced partition. Completes an interrupted kept-log
    * swap FIRST (the GraphStore.deleteEdges rule): a direct write
    * inside the swap window would recreate the log with only this
    * batch and orphan the staged kept set — its tombstones would
    * silently stop applying.
    *
    * `kind` tags every row with what it erases (r19, ADVICE): "key" =
    * a doc/key-level erasure, "gate" = a batch gate ([[gateBatches]]
    * sets it). The tag is what lets [[gatedBatches]] and
    * [[deletedKeys]] stop ALIASING on stores whose doc-keyed deletion
    * log shares this machinery — an erased doc key numerically equal
    * to a live batch id used to misreport as a gate awaiting rebuild.
    * Pre-r19 logs lack the column; readers treat untagged rows as
    * BOTH (the legacy heuristic), so old logs keep their exact
    * behavior and only newly-written rows disambiguate. */
  def applyDelete(keys: DataFrame, keyCol: String, storePath: String,
      batchId: Long, kind: String = "key"): Unit = {
    val log = logPath(storePath)
    TombstoneLog.recoverSwap(
      new org.apache.hadoop.fs.Path(log).getFileSystem(
        keys.sparkSession.sparkContext.hadoopConfiguration),
      log, log + "_next")
    Stores.writeBatch(keys.select(col(keyCol).as("key")).distinct()
      .withColumn("kind", lit(kind)), log, batchId)
  }

  /** The log rows with `kind` normalized (null on pre-r19 rows) —
    * mergeSchema because a log can mix pre- and post-tag partitions. */
  private def logRows(s: SparkSession, storePath: String)
      : Option[DataFrame] = {
    val log = logPath(storePath)
    val fs = new org.apache.hadoop.fs.Path(log)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    TombstoneLog.readDir(fs, log, log + "_next").map { dir =>
      val raw = s.read.option("mergeSchema", "true").parquet(dir)
      if (raw.columns.contains("kind")) raw
      else raw.withColumn("kind", lit(null).cast("string"))
    }
  }

  /** True iff the batch-partitioned dir holds a fenced partition — an
    * EMPTY request's dynamic overwrite leaves a file-less dir
    * (_SUCCESS only) whose bare parquet read fails schema inference,
    * so every ledger read gates on partitions, not existence (the
    * TombstoneLog.readDir rule; shared by the ingest-membership
    * ledgers in LmStore/SubstrDedup). This is the ONE implementation
    * of the file-less-dir gate — every store-family reader
    * (TombstoneLog.readDir, KeyedCompaction, the media stores) routes
    * through it so the partition-naming rule cannot drift. */
  private[graft] def populated(fs: org.apache.hadoop.fs.FileSystem,
      dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dir)
    fs.exists(p) && fs.listStatus(p)
      .exists(_.getPath.getName.startsWith("batch_id="))
  }

  private[graft] def populated(s: SparkSession, dir: String): Boolean =
    populated(new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(s.sparkContext.hadoopConfiguration), dir)

  /** All tombstoned keys for a store (empty relation when no delete
    * was ever issued — the common case costs one partition check).
    * Falls back to a staged `_next` replacement inside a kept-log
    * swap window (the TombstoneLog.readDir rule: a compaction that
    * SHRINKS a log stages the kept set and swaps; a reader landing
    * between the delete and the rename must not silently see "no
    * tombstones"). Readers never mutate. */
  def deletedKeys(s: SparkSession, storePath: String): Option[DataFrame] =
    // gate rows are batch gates, not key erasures — exclude when
    // tagged; untagged (pre-r19) rows keep counting as both
    logRows(s, storePath).map(_
      .filter(col("kind").isNull || col("kind") =!= "gate")
      .select(col("key")).distinct())

  /** The read-side filter: store rows minus tombstoned keys. */
  def filterDeleted(rows: DataFrame, keyCol: String,
      storePath: String): DataFrame =
    deletedKeys(rows.sparkSession, storePath) match {
      case Some(t) =>
        rows.join(t.withColumnRenamed("key", keyCol), Seq(keyCol),
          "left_anti")
      case None => rows
    }

  // ------------------------------------------------------ batch gate
  // Deletion for the NON-invertible sketch stores (HLL / KMV / KLL —
  // DESIGN_upsert.md's rebuild-or-gate class): registers, min-k sets,
  // and compaction buffers cannot subtract a key, so a key-level
  // delete GATES the ingest batches that contained the key instead.
  // The gate reuses the tombstone log machinery with batch ids as the
  // keys; the read path answers from the clean remainder (conservative
  // under-merge — gated history is excluded, a deleted key never
  // leaks); rebuilding = re-sketch the dirty batch from its RETAINED
  // raw input minus the deleted keys via the store's own applyBatch,
  // then lift the gate. If raw inputs were not retained the gate
  // simply stays — the honest "cannot forget without recompute"
  // answer, excluded loudly rather than leaked silently.

  /** Gate ingest batches (their sketches contain deleted keys).
    * Idempotent and replay-fenced like every delete batch. Mutation
    * ids must be ≥ 0 — the negative space is reserved for
    * [[ungateBatch]]'s folded log (a caller id colliding with the fold
    * partition would let a redelivered mutation overwrite unrelated
    * standing gates and leak deleted keys back into answers). */
  def gateBatches(s: SparkSession, storePath: String,
      batchIds: Seq[Long], mutationId: Long): Unit = {
    require(mutationId >= 0,
      s"gate mutation ids must be >= 0 (got $mutationId): negative " +
        "partitions are reserved for the folded log")
    import s.implicits._
    applyDelete(batchIds.toDF("gated"), "gated", storePath, mutationId,
      kind = "gate")
  }

  /** Currently gated batch ids (empty when no delete was issued).
    * Rows tagged `kind="key"` are doc erasures, never gates (r19 —
    * the aliasing fix); untagged pre-r19 rows fall back to the
    * numeric heuristic: non-numeric keys filter out (r18 — the same
    * log machinery backs doc-KEYED deletion on other store families,
    * and a string key's null cast would NPE a caller that merely
    * asked "any gates?"). */
  def gatedBatches(s: SparkSession, storePath: String): Set[Long] =
    logRows(s, storePath)
      .map(_.filter(col("kind").isNull || col("kind") === "gate")
        // try_cast, not cast: ANSI mode throws on a non-numeric string
        .select(expr("try_cast(key AS BIGINT)").as("k"))
        .filter(col("k").isNotNull).distinct()
        .collect().map(_.getLong(0)).toSet)
      .getOrElse(Set.empty)

  /** Store rows minus gated batches — for the per-batch partitioned
    * sketch stores (partition column `batch_id`). The gate set is
    * deletion-sized and already driver-side, so the exclusion is a
    * NOT-isin literal filter that reaches the scan as a PARTITION
    * filter — gated directories are never read, rather than read and
    * discarded through an anti-join. */
  def filterGated(rows: DataFrame, storePath: String): DataFrame = {
    val gated = gatedBatches(rows.sparkSession, storePath)
    if (gated.isEmpty) rows
    else rows.filter(
      !col("batch_id").cast("long").isin(gated.toSeq.sorted: _*))
  }

  /** Lift the gate on one batch — called after its sketch was rebuilt
    * clean. Rewrites the log into the RESERVED partition batch_id=-1
    * (outside the ≥ 0 mutation-id space [[gateBatches]] enforces, so
    * no redelivered mutation can overwrite the fold). Like every
    * compaction, the rewrite is a REPLAY HORIZON: gate mutations
    * issued before an ungate must not be redelivered after it — a
    * replayed pre-ungate mutation would re-gate the rebuilt batch
    * (conservative: estimates shrink, deleted keys never leak, and the
    * next rebuild+ungate clears it). Single maintenance owner. */
  def ungateBatch(s: SparkSession, storePath: String,
      batchId: Long): Unit = {
    val lp = logPath(storePath)
    val p = new org.apache.hadoop.fs.Path(lp)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (populated(s, lp)) {
      // remove ONLY the lifted gate; kind-tagged key erasures ride
      // through untouched (untagged pre-r19 rows are gates here — the
      // legacy convention this API served). coalesce-to-false keeps a
      // non-numeric legacy key from null-dropping the whole row.
      val isLifted =
        coalesce(col("kind"), lit("gate")) === "gate" &&
          coalesce(expr("try_cast(key AS BIGINT)") === lit(batchId),
            lit(false))
      // materialize before overwriting the source
      val rest = graft.Checkpointing.truncate(logRows(s, storePath).get
        .select(col("key"), col("kind")).distinct()
        .filter(!isLifted))
      if (rest.isEmpty) fs.delete(p, true)
      else rest.withColumn("batch_id", lit(-1L))
        .coalesce(1).write
        .option("partitionOverwriteMode", "static") // whole-log rewrite
        .partitionBy("batch_id")
        .mode("overwrite").parquet(lp)
    }
  }

  /** Fold the log into the store: rewrite the data minus tombstones
    * through the root swap ([[Stores.swapDir]] — a crash at any point
    * leaves one complete store that [[Stores.recoverSwap]] finds), then
    * truncate the log. Read-before ≡ read-after (spec-pinned); bounds
    * the standing anti-join. Run it from the single maintenance owner,
    * like every store rewrite in the engine. */
  def compact(s: SparkSession, storePath: String, keyCol: String): Unit = {
    Stores.recoverSwap(s, storePath)
    deletedKeys(s, storePath).foreach { _ =>
      val root = new org.apache.hadoop.fs.Path(storePath)
      val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
      Stores.swapDir(fs, root)(tmp => filterDeleted(
        s.read.parquet(storePath), keyCol, storePath)
        .write.parquet(tmp.toString))
      // the log AND any staged kept-set replacement: deleting only the
      // log inside a swap window would leave readers falling back to
      // the stale staged set (resurrecting already-netted tombstones)
      fs.delete(new org.apache.hadoop.fs.Path(logPath(storePath)), true)
      fs.delete(new org.apache.hadoop.fs.Path(
        logPath(storePath) + "_next"), true)
    }
  }
}
