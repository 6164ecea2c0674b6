package graft.rel

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Incremental distinct-count maintenance — the cardinality member of
  * the engine's store family (NearDup's signature store, SubstrDedup's
  * gram store, StreamingOps' heavy-hitter store): per-ingest-batch HLL
  * sketches persisted per group, merged at read time into corpus-wide
  * distinct estimates WITHOUT rescanning history.
  *
  * This is the scale form of `approx_count_distinct` (q11 /
  * nq_approx_distinct answer the one-shot question): a daily "distinct
  * users per event type over all time" job at 100 TB cannot re-read
  * every historical batch, but each batch's per-group sketch is a few
  * KB (2^lgK 6-bit registers), the union is a register-wise max —
  * commutative, associative, IDEMPOTENT — and the merged estimate
  * equals the monolithic sketch of the full corpus EXACTLY (same
  * registers → same estimate; spec-pinned). Datasketches HLL via
  * Spark's native `hll_sketch_agg` / `hll_union_agg` /
  * `hll_sketch_estimate` (SPARK-16484 family) — map-side partial
  * aggregation, one tiny group-keyed shuffle per batch.
  *
  * Idempotence is the operational win over any count-based store: a
  * redelivered batch unions to the SAME registers, so ingest needs no
  * batch-id high-water mark (contrast `StreamingOps.heavyHittersStream`,
  * whose additive counts must fence redelivery). Mixed-lgK stores fail
  * loudly in `hll_union_agg` (allowDifferentLgConfigK=false default)
  * rather than silently degrading precision.
  *
  * Generalizes the reference's label-cardinality gesture (distinct
  * speaker count feeding the classifier head,
  * `/root/reference/src/voice_classifier.py:147`) to the
  * batch-incremental regime SURVEY §2.K's approx-distinct row mandates.
  */
object CardinalityStore {

  /** One batch's per-group sketches: (groupCols..., sketch BINARY). */
  def sketchBatch(batch: DataFrame, groupCols: Seq[String],
      valueCol: String, lgK: Int = 12): DataFrame =
    batch.groupBy(groupCols.map(col): _*)
      .agg(hll_sketch_agg(col(valueCol), lit(lgK)).as("sketch"))

  /** Sketch a batch and write it to the store under its own
    * `batch_id=N` partition. `coalesce(1)`: the output is group-count
    * rows of KB-sized sketches — one file per batch keeps the store's
    * file count = batch count, not batch × shuffle partitions.
    * Dynamic partition overwrite (not append): register-max already
    * makes a redelivered batch a no-op on every ESTIMATE, but an append
    * would still add a duplicate file per replay — growing the store's
    * row/file count unboundedly under repeated recovery; overwriting
    * the batch's own partition makes redelivery a no-op on the store's
    * SIZE too, while leaving every other batch's partition untouched.
    *
    * Replay-horizon guard (r18): register-max idempotence covers
    * replays strictly BELOW the fold watermark (duplicate content the
    * fold already unions — answer-invariant), but a same-lineage
    * redelivery AT the watermark would dynamic-OVERWRITE the
    * `batch_id=through` fold partition with one batch's registers,
    * silently dropping all folded history from every estimate. The
    * QuantileStore pattern applies family-wide: refuse at or below
    * the watermark, with the one exception of the gated-fold REBUILD
    * at == (re-sketch the fold's retained raw input minus deleted
    * keys, then ungate — [[rebuildBatch]] must overwrite in place). */
  def applyBatch(batch: DataFrame, groupCols: Seq[String], valueCol: String,
      storePath: String, batchId: Long, lgK: Int = 12): Unit = {
    val s = batch.sparkSession
    // ONE marker read decides both the rebuild exception and the
    // strictly-above refusal (the marker is a metadata RPC per ingest)
    val wm = FoldWatermark.read(s, storePath)
    val gatedFoldRebuild = wm.contains(batchId) &&
      Tombstones.gatedBatches(s, storePath).contains(batchId)
    if (!gatedFoldRebuild)
      FoldWatermark.requireIngestAbove(storePath, batchId, wm)
    sketchBatch(batch, groupCols, valueCol, lgK)
      .withColumn("batch_id", lit(batchId))
      .coalesce(1).write
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .mode("overwrite").parquet(storePath)
  }

  /** Merged distinct estimate per group across every batch in the
    * store — the read path: store-sized input (groups × batches rows),
    * never the raw history. Batches gated by a key-level delete
    * ([[Tombstones.gateBatches]] — HLL registers cannot subtract a
    * key) are excluded until [[rebuildBatch]] re-sketches them clean.
    *
    * `asOfBatch`: AS-OF snapshot — merge only batches ≤ k
    * (partition-pruned on the store's `batch_id` partition column,
    * the [[AggStore.aggFromStoreAsOf]] contract). The CURRENT gate
    * set still applies: a gate marks data containing deleted keys,
    * and historical reads must not resurrect them — as-of rewinds
    * the DATA timeline, never an erasure. */
  def estimateFromStore(s: SparkSession, storePath: String,
      groupCols: Seq[String], asOfBatch: Option[Long] = None): DataFrame =
    mergeSketches(
      Tombstones.filterGated(asOfRead(s, storePath, asOfBatch),
        storePath),
      groupCols)

  /** `batch_id <= k` when an as-of bound is given — shared by every
    * sketch store's read path (partition-pruned; see above). */
  private[graft] def asOf(store: DataFrame, asOfBatch: Option[Long])
      : DataFrame =
    asOfBatch.fold(store)(k => store.filter(col("batch_id") <= k))

  /** The GUARDED as-of read every path-reading store routes through:
    * an as-of below the compaction fold watermark fails loudly
    * ([[FoldWatermark]]) instead of silently serving the empty/partial
    * history the `batch_id <= k` filter would leave after the fold
    * partition dropped out. Stores that never compacted carry no
    * marker — the guard costs one existence probe and passes. */
  private[graft] def asOfRead(s: SparkSession, path: String,
      asOfBatch: Option[Long]): DataFrame = {
    // ONE marker probe serves both the as-of guard and the r18
    // leftover fence: sub-watermark rows are pre-fold leftovers of a
    // compaction that crashed between fold and prune (their content
    // is inside the fold partition), so excluding them keeps even the
    // un-recovered crash window answer-invisible
    val w = FoldWatermark.read(s, path)
    asOfBatch.foreach(k => FoldWatermark.requireAtOrAbove(path, k, w))
    asOf(FoldWatermark.excludeFoldedLeftovers(s.read.parquet(path), w),
      asOfBatch)
  }

  /** Re-sketch a gated batch from its RETAINED raw input minus the
    * deleted keys, overwrite its partition, and lift its gate — the
    * batch rejoins every answer clean (the rebuild half of the
    * rebuild-or-gate contract; see [[Tombstones.gateBatches]]). The
    * same two calls against KmvStore/QuantileStore `applyBatch` rebuild
    * those stores — the gate machinery is store-agnostic. */
  def rebuildBatch(cleanBatch: DataFrame, groupCols: Seq[String],
      valueCol: String, storePath: String, batchId: Long,
      lgK: Int = 12): Unit = {
    applyBatch(cleanBatch, groupCols, valueCol, storePath, batchId, lgK)
    Tombstones.ungateBatch(cleanBatch.sparkSession, storePath, batchId)
  }

  /** Merge any relation of (groupCols..., sketch) into per-group
    * estimates — register-wise max then estimate. */
  def mergeSketches(sketches: DataFrame, groupCols: Seq[String]): DataFrame =
    sketches.groupBy(groupCols.map(col): _*)
      .agg(hll_sketch_estimate(hll_union_agg(col("sketch"), lit(false)))
        .as("n_distinct_est"))

  /** Horizontal compaction: batches ≤ `through` fold into ONE
    * partition via the register-wise union WITHOUT the estimate tail
    * (the union's updatable binary is itself a sketch, so the fold
    * re-enters the store in ingest schema) — estimates are IDENTICAL
    * before and after (same registers → same estimate; spec-pinned).
    * Shared choreography: [[Stores.compactSketchesThrough]] (gate
    * refusal, fold watermark, idempotent prune). Ingest below the
    * watermark is refused by [[applyBatch]] (r18): idempotence covers
    * a sub-watermark replay's ANSWERS, but a redelivery AT the
    * watermark would overwrite the fold partition itself — the
    * gated-fold rebuild at == stays the one permitted exception. */
  def compactThrough(s: SparkSession, storePath: String,
      groupCols: Seq[String], through: Long): Unit =
    Stores.compactSketchesThrough(s, storePath, through)(
      _.groupBy(groupCols.map(col): _*)
        .agg(hll_union_agg(col("sketch"), lit(false)).as("sketch")))

  /** The merged per-group distinct estimates over the 5-way batch
    * split — the read-path answer a user of the store sees. Estimator
    * internals are not SQL-expressible, so this form is spec-pinned
    * (merge ≡ monolithic, ≤5% error) rather than driver-oracled; the
    * driver contract entry below hash-checks the MERGE itself. */
  def mergedEstimates(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
    val perBatch = (0 until 5).map(b =>
      sketchBatch(ev.filter(pmod(col("event_id"), lit(5)) === b),
        Seq("event_type"), "user_id"))
    mergeSketches(perBatch.reduce(_ unionAll _), Seq("event_type"))
      .withColumnRenamed("n_distinct_est", "n_users_est")
      .orderBy("event_type")
  }

  private[rel] val CardDumpDir = "/tmp/graft_card_oracle"

  /** Register pairs of a serialized sketch, folded to lgConfigK and
    * max-deduped — see GraftHllAccess for the mode-safety argument. */
  private val regPairs = udf((bytes: Array[Byte]) =>
    org.apache.datasketches.hll.GraftHllAccess.registerPairs(bytes))

  /** Driver entry: events arrive as 5 ingest batches (event_id mod 5),
    * each sketched independently; the output is the MERGED register
    * array per event type — the store's actual contract (the union is
    * a per-slot integer max, commutative/associative/idempotent).
    * The per-batch register pairs are dumped as oracle input, so
    * DuckDB re-runs the merge as `max(reg) GROUP BY (group, slot)`
    * and the driver hash-checks `hll_union_agg` against it exactly.
    * The estimator tail (harmonic mean + corrections) stays
    * spec-pinned via `mergedEstimates` in CardinalityStoreSpec —
    * registers are deterministic functions of the input SET (hashes +
    * max), so the dump and the merge may evaluate the plan twice and
    * still agree. */
  def nqCardStore(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
    val perBatch = (0 until 5).map(b =>
      sketchBatch(ev.filter(pmod(col("event_id"), lit(5)) === b),
        Seq("event_type"), "user_id")
        .withColumn("batch_id", lit(b)))
    val all = perBatch.reduce(_ unionAll _)
    graft.OracleDump.dump(
      all.select(col("event_type"), col("batch_id"),
          explode(regPairs(col("sketch"))).as("p"))
        .select(col("event_type"), col("batch_id"),
          col("p._1").as("slot"), col("p._2").as("reg")),
      CardDumpDir)
    all.groupBy("event_type")
      .agg(hll_union_agg(col("sketch"), lit(false)).as("msk"))
      .select(col("event_type"), explode(regPairs(col("msk"))).as("p"))
      .select(col("event_type"),
        col("p._1").as("slot"), col("p._2").as("reg"))
      .orderBy("event_type", "slot")
  }

  /** Driver entry (compacted twin): nq_card_store's exact 5-batch
    * ingest history PERSISTED through [[applyBatch]], then
    * [[compactThrough]](2) folds batches 0-2 into one partition, and
    * the output is the merged register array read from the COMPACTED
    * store. The oracle is nq_card_store's SQL VERBATIM over the same
    * per-batch register dump (this entry re-dumps the identical
    * deterministic content — the shared-dump discipline of the media
    * compact entries): register-wise max is the merge, so the fold
    * must be INVISIBLE through every register — a union bug, a lost
    * batch, or a corrupted fold binary all hash-fail. */
  def nqCardStoreCompact(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
    val perBatch = (0 until 5).map(b =>
      sketchBatch(ev.filter(pmod(col("event_id"), lit(5)) === b),
        Seq("event_type"), "user_id")
        .withColumn("batch_id", lit(b)))
    graft.OracleDump.dump(
      perBatch.reduce(_ unionAll _)
        .select(col("event_type"), col("batch_id"),
          explode(regPairs(col("sketch"))).as("p"))
        .select(col("event_type"), col("batch_id"),
          col("p._1").as("slot"), col("p._2").as("reg")),
      CardDumpDir)
    val store = graft.FixtureMemo.store("cardcompact", d) { root =>
      val path = s"$root/card_store"
      (0 until 5).foreach(b => applyBatch(
        ev.filter(pmod(col("event_id"), lit(5)) === b),
        Seq("event_type"), "user_id", path, b.toLong))
      compactThrough(s, path, Seq("event_type"), through = 2L)
      path
    }
    s.read.parquet(store)
      .groupBy("event_type")
      .agg(hll_union_agg(col("sketch"), lit(false)).as("msk"))
      .select(col("event_type"), explode(regPairs(col("msk"))).as("p"))
      .select(col("event_type"),
        col("p._1").as("slot"), col("p._2").as("reg"))
      .orderBy("event_type", "slot")
  }

  /** Streaming ingest of the store: each micro-batch sketched and
    * appended via foreachBatch. Register max makes a redelivered
    * micro-batch a no-op on every estimate, so — unlike the additive
    * heavy-hitter store (`StreamingOps.heavyHittersStream`), which must
    * fence replays with a lineage-bound batch-id high-water mark — this
    * sink needs NO replay protection: at-least-once delivery composes
    * with an idempotent merge into exactly-once estimates (the classic
    * sketch-store argument; spec-pinned by the redelivery test).
    */
  def cardinalityStream(stream: DataFrame, groupCols: Seq[String],
      valueCol: String, storePath: String, lgK: Int = 12)
      : org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row] =
    graft.streaming.StreamingOps.lineageSink(stream) {
      (batch, batchId, lineage) =>
        // lineage fence: register-max makes SAME-lineage redelivery a
        // no-op, but a fresh checkpoint's batch 0 would REPLACE the
        // original batch-0 partition (overwrite, not union) and lose
        // its registers
        graft.streaming.StreamingOps.bindStoreLineage(batch.sparkSession,
          storePath, s"cardinality store at $storePath", lineage)
        applyBatch(batch, groupCols, valueCol, storePath, batchId, lgK)
    }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "nq_card_store" -> (nqCardStore _),
    "nq_card_store_compact" -> (nqCardStoreCompact _))

  private val nqCardStoreSql: String =
    s"""SELECT event_type, slot, max(reg) AS reg
       |FROM read_parquet('$CardDumpDir/*.parquet')
       |GROUP BY event_type, slot
       |ORDER BY event_type, slot""".stripMargin

  /** The merge re-run by DuckDB over the dumped per-batch register
    * pairs: pure per-(group, slot) integer max. The compacted twin
    * answers the IDENTICAL SQL (the q81 shared-SQL discipline) —
    * compaction must be register-invisible. */
  val oracle: Map[String, String] = Map(
    "nq_card_store" -> nqCardStoreSql,
    "nq_card_store_compact" -> nqCardStoreSql)
}
