package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted n-gram count store + streaming ingest — the LM family's
  * store tier (every other family has one: AggStore, Cms, KMV/KLL,
  * gram/signature stores): per-batch trigram TYPE-count partials
  * under `batch_id=N` partitions, merged reads, and the full
  * interpolated-KN model served from the merged counts. Because the
  * smoothed model is a pure function of the merged counts and counts
  * are additive over disjoint batches (the q100 proof), the stored
  * model is bit-identical to retraining monolithically on everything
  * ever ingested — continuous LM refresh without ever re-scanning old
  * corpora (Brants 2007 operationalized as a store).
  *
  * Replay contract: the AggStore/CardinalityStore discipline — each
  * batch's counts land in its OWN partition under dynamic overwrite,
  * so a redelivered batch byte-overwrites itself; no lineage fence
  * needed (the partition IS the fence; contrast the APPEND-mode
  * signature/heavy-hitter stores).
  *
  * Scale shape: per trigger, one narrow trigram transform + one hash
  * aggregation of the BATCH (vocab-bounded output); merged reads are
  * one groupBy over stored type tables (batches × types rows,
  * corpus-size-free). The store is exactly the Brants shard layout
  * persisted.
  */
object LmStore {

  private def writeCounts(counts: DataFrame, storePath: String,
      batchId: Long): Unit =
    counts
      .withColumn("batch_id", lit(batchId))
      .coalesce(1).write
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .mode("overwrite").parquet(storePath)

  /** Count one batch and write it under its own partition. Ingest
    * batch ids are NON-NEGATIVE (the streaming checkpoint's space);
    * deletions take the negative ids — shared-space collisions would
    * let a redelivered trigger overwrite a deletion. Arrivals filter
    * through the deletion ledger (delete-before-arrival + permanence:
    * a deleted doc_id never re-enters — the counted-gram-store
    * semantics). */
  /** The membership ledger beside the store: which doc ids actually
    * contributed counts (one id per ingested doc, per-batch fenced
    * partitions like everything else). A COUNT store cannot answer
    * "was this doc ever added?" from its aggregates, and a delete
    * that subtracts a never-ingested doc's counts silently corrupts
    * every trigram that doc shares with survivors — the
    * delete-before-arrival composition bug, caught by this spec. */
  private def ingestedPath(storePath: String): String =
    storePath.stripSuffix("/") + "_ingested"

  /** DELETE-DURING-REPLAY CAVEAT (the clusterIngestStream convention,
    * shared with [[graft.text.SubstrDedup.writeGramStoreCounted]]):
    * the ledger filter makes a REDELIVERED batch diverge from its
    * original write when a deletion landed in the crash window — the
    * replay excludes the just-deleted doc while the deletion already
    * subtracted its counts, double-subtracting every trigram it
    * shares with surviving docs. Delete at quiesce (after the
    * stream's checkpoint committed) — the erase-while-streaming
    * contract. */
  def applyBatch(docs: DataFrame, storePath: String, batchId: Long,
      textCol: String = "text", idCol: String = "doc_id"): Unit = {
    require(batchId >= 0,
      s"ingest batch ids are non-negative (got $batchId); negative " +
        "ids are reserved for deletions")
    val s = docs.sparkSession
    // counted AND recorded below — compute once
    val clean = graft.Checkpointing.truncate(
        graft.rel.Tombstones.deletedKeys(s, storePath) match {
      case Some(prior) => docs.join(
        prior.withColumnRenamed("key", idCol), Seq(idCol), "left_anti")
      case None => docs
    })
    writeCounts(KneserNey.trigramCounts(clean, textCol), storePath,
      batchId)
    clean.select(col(idCol).as("key")).distinct()
      .withColumn("batch_id", lit(batchId))
      .coalesce(1).write
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .mode("overwrite").parquet(ingestedPath(storePath))
  }

  /** GDPR-style keyed delete — the invertible-class pattern (counts
    * form an additive group): append the NEGATED trigram counts of
    * the deleted docs under the deletion's own fenced partition, and
    * record the doc ids in the adjacent tombstone ledger. The ledger
    * makes deletion PERMANENT and duplicate requests no-ops (a
    * doc-level ledger cannot tell a duplicate request from a
    * delete-after-re-ingest, so re-entry is barred — the documented
    * counted-gram-store choice). Callers supply the deleted docs WITH
    * text (the store holds only aggregated counts — nothing to
    * subtract from otherwise). `mutationId` must be NEGATIVE. */
  def deleteFromLmStore(deletedDocs: DataFrame, storePath: String,
      mutationId: Long, textCol: String = "text",
      idCol: String = "doc_id"): Unit = {
    require(mutationId < 0,
      s"deletion mutation ids are negative (got $mutationId); the " +
        "non-negative space belongs to the ingest checkpoint")
    val s = deletedDocs.sparkSession
    // negated AND recorded below — compute once
    val fresh = graft.Checkpointing.truncate(
        graft.rel.Tombstones.deletedKeys(s, storePath) match {
      case Some(prior) => deletedDocs.join(
        prior.withColumnRenamed("key", idCol), Seq(idCol), "left_anti")
      case None => deletedDocs
    })
    // subtract ONLY docs that actually contributed counts (the
    // membership ledger): a delete-before-arrival request must
    // tombstone the id — barring the future arrival — WITHOUT
    // subtracting counts that were never added (which would corrupt
    // every trigram shared with surviving docs)
    // partition-gated (the TombstoneLog.readDir rule): a first batch
    // whose docs were all pre-tombstoned leaves a file-less ledger dir
    val contributed =
      if (!graft.rel.Tombstones.populated(s, ingestedPath(storePath)))
        fresh.limit(0)
      else fresh.join(s.read.parquet(ingestedPath(storePath))
        .select(col("key").as(idCol)).distinct(), Seq(idCol))
    writeCounts(
      KneserNey.trigramCounts(contributed, textCol)
        .select(col("w1"), col("w2"), col("w3"),
          (-col("c3")).as("c3")),
      storePath, mutationId)
    graft.rel.Tombstones.applyDelete(fresh.select(idCol), idCol,
      storePath, mutationId)
  }

  /** Merged NET counts across every ingested batch and deletion —
    * only net-positive types survive (a fully-deleted trigram nets to
    * zero and vanishes from the model). Partition-gated (the
    * file-less-dir rule): a delete-before-any-ingest writes an EMPTY
    * negation whose dynamic overwrite leaves a _SUCCESS-only root —
    * read it as "no counts", never a schema-inference crash. */
  def countsFromStore(s: SparkSession, storePath: String): DataFrame =
    if (!graft.rel.Tombstones.populated(s, storePath))
      s.range(0).select(
        lit("").as("w1"), lit("").as("w2"), lit("").as("w3"),
        col("id").as("c3"))
    else s.read.parquet(storePath)
      .groupBy("w1", "w2", "w3").agg(sum("c3").as("c3"))
      .filter(col("c3") > 0)

  /** The interpolated-KN model from the store alone (never the raw
    * corpora). */
  def lmFromStore(s: SparkSession, storePath: String): DataFrame =
    KneserNey.trigramLmFromCounts(countsFromStore(s, storePath))

  /** Streaming ingest: each micro-batch counted and stored. The store
    * binds to its FIRST streaming lineage (the
    * `substrIngestStreamCounted` fence): a fresh checkpoint restarts
    * batch ids at 0 and its batch 0 would silently dynamic-overwrite
    * the original lineage's batch_id=0 with DIFFERENT docs' counts —
    * the "partition IS the fence" replay argument only covers
    * same-lineage redelivery, so any other lineage fails loudly. */
  def lmIngestStream(docs: DataFrame, storePath: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row] =
    graft.streaming.StreamingOps.lineageSink(docs) {
      (batch, batchId, lineage) =>
        graft.streaming.StreamingOps.bindStoreLineage(batch.sparkSession,
          storePath, s"LM count store at $storePath", lineage)
        applyBatch(batch, storePath, batchId)
    }

  // -------------------------------------------------------- contract
  /** Driver entry: the q98 training slice (doc_id % 5 ∈ {1,2,3,4})
    * arrives as 4 disjoint ingest batches keyed by that residue; the
    * model served FROM THE STORE must hash-match q98's monolithic
    * build (shares its oracle SQL verbatim — the q81 pattern), proving
    * the disk round trip (partitioned write, merged read, smoothing)
    * on top of q100's in-memory merge algebra. Store build memoized
    * per immutable driver dir (the q81 policy). */
  def nqLmStore(s: SparkSession, d: String): DataFrame = {
    val store = graft.FixtureMemo.store("graft_lm_store", d) { p =>
      val path = s"$p/counts.parquet"
      val train = graft.Tables.documents(s, d)
        .filter(col("doc_id") % 5 =!= 0)
      (1 to 4).foreach(b =>
        applyBatch(train.filter(pmod(col("doc_id"), lit(5)) === b),
          path, b.toLong))
      path
    }
    lmFromStore(s, store)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "nq_lm_store" -> (nqLmStore _))
}
