package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted perceptual-fingerprint store — the build-once/serve-many
  * form of the multimodal dedup family (every TEXT dedup member has
  * one: gram store `SubstrDedup`, semantic-assignment store `SemDedup`;
  * until this round the image/audio/video members were one-shot corpus
  * scans). The crawl shape: standing fingerprints accumulate under
  * fenced `batch_id` partitions, each INCOMING batch is judged against
  * the store with batch-sized work (never a store rescan), and keyed
  * deletes (GDPR — the erasure span must include media) are honored by
  * every read.
  *
  *   - rows are (media_id LONG, modality STRING, h LONG) — one 64-bit
  *     perceptual fingerprint per item ([[ImageDedup.dhash]],
  *     [[graft.audio.AudioDedup.fingerprint]], per-frame video dHash),
  *     modality-keyed so fingerprints of different kinds never pair;
  *   - ingest = dynamic-partition-overwrite under `batch_id` (the
  *     store-family fence: redelivery is byte-idempotent), natural
  *     partitioning — a fingerprint batch is corpus-sized (one row per
  *     item), so no `coalesce(1)` funnel (the GraphStore ingest rule);
  *   - judge = the Manku block-pair banded join ([[ImageDedup
  *     .nearDupPairs]]'s keys) with the BATCH side broadcast: the store
  *     side is one map pass (×28 key explosion) into a broadcast hash
  *     join — the store is never shuffled, and the work is
  *     collision-sized (~28·|batch|·|store|/2¹⁶ random key hits);
  *   - deletes = (media_id, modality) tombstones under their own fenced
  *     partitions, erasure-request-sized, broadcast-anti-joined by
  *     every read at every as-of (erasure is not rewindable — the
  *     store-family convention, [[graft.rel.GraphStore]]); the judge
  *     filters re-arrivals of erased keys, and [[scrubVerdicts]]
  *     extends the erasure span to verdicts already written before the
  *     erasure landed.
  *
  * 100 TB story: ingest appends without reading anything; the judge's
  * cost is proportional to the batch (broadcast) times the store scan —
  * a single narrow pass over column-pruned (modality, h) parquet; and
  * the one-shot corpus self-join remains available off the store read
  * for full re-clusters.
  */
object MediaDedupStore {

  private def dataDir(p: String) = s"$p/fingerprints"
  private def tombDir(p: String) = s"$p/_media_tombstones"

  /** True iff the fingerprint dir holds at least one fenced partition —
    * an ALL-TOMBSTONED (or empty) batch's dynamic overwrite leaves a
    * file-less dir (_SUCCESS only) whose bare parquet read fails
    * schema inference, so readers gate on partitions, not bare
    * existence (the [[MediaClusterStore]] hasBatches rule; without it
    * a crawl loop whose first batch was fully erased bricks on its
    * second batch). */
  private def hasFingerprints(s: SparkSession, storePath: String)
      : Boolean =
    graft.rel.Tombstones.populated(s, dataDir(storePath))

  /** The fingerprint store's replay-horizon check, exposed so
    * multi-store triggers (judge→ingest, judge→merge→ingest) can
    * refuse BEFORE their first write — a mid-sequence refusal would
    * leave verdicts/assignments standing for fingerprints that can
    * never land at that id. */
  private[sources] def requireIngestAllowed(s: SparkSession,
      storePath: String, batchId: Long): Unit =
    graft.rel.FoldWatermark.requireIngestAbove(s, dataDir(storePath),
      batchId)

  /** Ingest one fingerprint batch under its own fenced partition. */
  def applyFingerprintBatch(fps: DataFrame, storePath: String,
      batchId: Long): Unit = {
    // the replay-horizon guard: re-ingesting at or below the fold
    // watermark would resurrect a pruned partition
    requireIngestAllowed(fps.sparkSession, storePath, batchId)
    graft.rel.Stores.writeBatch(
      fps.select(col("media_id"), col("modality"), col("h")),
      dataDir(storePath), batchId, singleFile = false)
  }

  /** Keyed deletion: (media_id, modality) tombstones — modality is part
    * of the key, so erasing an image never touches an audio clip that
    * happens to share the numeric id. coalesce(1): deletion batches are
    * erasure-request-sized (reads broadcast the whole log). */
  def deleteMedia(keys: DataFrame, storePath: String, batchId: Long): Unit = {
    // complete any interrupted compaction swap BEFORE writing: a
    // direct write would recreate the log with only this batch and
    // orphan the staged kept-tombstone set (see GraphStore.deleteEdges)
    val s = keys.sparkSession
    graft.rel.TombstoneLog.recoverSwap(
      new org.apache.hadoop.fs.Path(storePath)
        .getFileSystem(s.sparkContext.hadoopConfiguration),
      tombDir(storePath), tombNextDir(storePath))
    graft.rel.Stores.writeBatch(keys.select(col("media_id"), col("modality")),
      tombDir(storePath), batchId)
  }

  /** The standing fingerprint set: batches ≤ asOfBatch (all when None)
    * minus tombstones — which apply at EVERY as-of (erasure is not
    * rewindable). */
  def fingerprintsFromStore(s: SparkSession, storePath: String,
      asOfBatch: Option[Long] = None): DataFrame = {
    // partition-gated, not existence-gated: a fully-erased store's dir
    // is deleted by compaction, and an all-tombstoned batch's dynamic
    // overwrite leaves a file-less dir — read either as empty
    if (!hasFingerprints(s, storePath))
      return s.range(0).select(col("id").as("media_id"),
        lit("").as("modality"), col("id").as("h"))
    val data = graft.rel.Stores.readBatches(s, dataDir(storePath), asOfBatch)
    minusTombstones(s, storePath,
      data.select("media_id", "modality", "h"))
  }

  /** Anti-join the broadcast tombstone log (or its staged replacement
    * inside a compaction swap window — [[graft.rel.TombstoneLog]]). */
  private[sources] def minusTombstones(s: SparkSession, storePath: String,
      base: DataFrame): DataFrame = {
    val fs = new org.apache.hadoop.fs.Path(storePath)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    graft.rel.TombstoneLog.readDir(fs, tombDir(storePath),
        tombNextDir(storePath)) match {
      case None => base
      case Some(dir) => base.join(
          broadcast(s.read.parquet(dir)
            .select(col("media_id").as("ti"), col("modality").as("tm"))
            .distinct()),
          col("media_id") === col("ti") && col("modality") === col("tm"),
          "left_anti")
        .select("media_id", "modality", "h")
    }
  }

  /** Batch-vs-store candidate pairs, exact-verified: every
    * (modality, id_a, id_b, hamming ≤ threshold) pair with one side in
    * `batch` and the other in the store's batches < `beforeBatch`
    * (minus tombstones). Reading strictly BELOW the judged batch's own
    * id is the replay fence for self-referential reads (an at-least-
    * once redelivery arriving after its own ingest must not judge the
    * batch against its own stored copy). The batch side broadcasts —
    * store-side work is one map pass + broadcast hash join, never a
    * store shuffle (spec-pinned: no SortMergeJoin in the plan). */
  private[graft] def crossPairs(s: SparkSession, batch: DataFrame,
      storePath: String, beforeBatch: Long, threshold: Int,
      broadcastBatch: Boolean = true,
      keepReArrivals: Boolean = false): DataFrame = {
    // bootstrap: the very first batch judges against an empty store
    // (no fingerprint partition yet — including the file-less dir an
    // all-tombstoned first batch leaves) — no cross pairs by definition
    if (!hasFingerprints(s, storePath))
      return s.range(0).select(
        lit("").as("modality"), col("id").as("id_a"),
        col("id").as("id_b"), col("id").as("hamming"))
    // partition-pruned read of batches < beforeBatch, minus tombstones
    // and minus a crashed compaction's sub-watermark leftovers (r18:
    // their fingerprints are already inside the fold partition, and
    // keeping both would judge each history row twice)
    val cleaned = minusTombstones(s, storePath,
      graft.rel.Stores.readBatches(s, dataDir(storePath))
        .filter(col("batch_id") < beforeBatch)
        .select("media_id", "modality", "h"))
    val sb = ImageDedup.blockPairKeys(cleaned)
      .select(col("modality"), col("bp"), col("bv"),
        col("media_id").as("sid"), col("h").as("sh"))
    val bb = ImageDedup.blockPairKeys(
        batch.select(col("media_id"), col("modality"), col("h")))
      .select(col("modality"), col("bp"), col("bv"),
        col("media_id").as("bid"), col("h").as("bh"))
    // after the `batch_id <` fence, an EQUAL-id match is exactly the
    // "id re-arrived under a NEW batch id" caller error the cluster
    // store documents ([[MediaClusterStore.applyClusterBatch]]): a
    // replay's own stored copy is excluded by the fence, so the only
    // way sid == bid survives is a second arrival under a fresh id.
    // `keepReArrivals` keeps those rows (id_a == id_b, the diagnostic
    // signal — detection is free, the banded join already collides
    // them) for callers that collect pairs anyway; the default drops
    // them, preserving the one-shot pair semantics the oracles prove.
    // Best-effort by construction: a re-arrival whose content drifted
    // past the hamming threshold never collides and stays undetected.
    val joined = sb.join(if (broadcastBatch) broadcast(bb) else bb,
        Seq("modality", "bp", "bv"))
    (if (keepReArrivals) joined
     else joined.filter(col("sid") =!= col("bid")))
      .withColumn("hamming", expr("bit_count(sh ^ bh)").cast("long"))
      .filter(col("hamming") <= threshold)
      .select(col("modality"),
        least(col("sid"), col("bid")).as("id_a"),
        greatest(col("sid"), col("bid")).as("id_b"),
        col("hamming"))
      .distinct()
  }

  /** The micro-batch contract's enforcement bound ([[judgeBatch]]):
    * above this many batch fingerprints the ×28 key explosion would
    * push an oversized relation through a driver broadcast (28 rows ×
    * ~50 B each per fingerprint ≈ 1.4 GB at the bound) — the judge
    * falls back to a plain equi-join and lets AQE pick the strategy.
    * Streaming micro-batches sit orders of magnitude below this; only
    * a backfill-sized "batch" crosses it, and a backfill pays a
    * shuffle by design rather than a driver OOM. */
  private[sources] val MaxBroadcastBatchRows = 1000000L

  /** Judge one incoming batch: all near-dup pairs it forms — against
    * the standing store (batches < `batchId`, cross pairs) and within
    * itself (the one-shot join over the batch alone). The union over an
    * ingest history reproduces the one-shot corpus join exactly (each
    * cross-batch pair surfaces when its LATER side arrives; each
    * within-batch pair once) — which is what lets the driver judge the
    * store path against the one-shot oracles verbatim.
    *
    * Erasure discipline: the incoming batch is anti-joined against the
    * tombstone log FIRST, so a batch re-delivering an erased
    * (media_id, modality) emits no verdicts naming it — without this,
    * the verdict stream and the store reads (which suppress the key)
    * would diverge for erased keys. Erasure is not rewindable, so a
    * replay AFTER an erasure re-derives the batch's verdicts without
    * the erased keys — and the idempotent partition overwrite of the
    * streaming path then actively scrubs the stale ones.
    *
    * The batch side broadcasts only while it honors the micro-batch
    * contract ([[MaxBroadcastBatchRows]]); an oversized batch (a
    * backfill pushed through the serving path) falls back to a
    * shuffled join instead of an oversized driver broadcast. The one
    * count this costs is batch-sized. Callers pass MATERIALIZED
    * batches (the entries and the streaming path truncate
    * upstream): the guard count and the two joins each walk the batch
    * lineage, and judgeBatch deliberately does not checkpoint
    * internally — that would double-materialize the streaming path's
    * already-checkpointed batch. */
  def judgeBatch(s: SparkSession, batch: DataFrame, storePath: String,
      batchId: Long, threshold: Int = 6,
      maxBroadcastBatchRows: Long = MaxBroadcastBatchRows,
      keepReArrivals: Boolean = false): DataFrame = {
    val b = minusTombstones(s, storePath,
      batch.select(col("media_id"), col("modality"), col("h")))
    val broadcastable = b.count() <= maxBroadcastBatchRows
    val within = ImageDedup.nearDupPairs(
        b.select(col("modality"), col("media_id").as("image_id"),
          col("h")),
        threshold, keyCols = Seq("modality"))
      .select(col("modality"), col("img_a").as("id_a"),
        col("img_b").as("id_b"), col("hamming"))
    // keepReArrivals (see crossPairs): id_a == id_b rows survive as
    // the re-arrival diagnostic — within-batch pairs are strictly
    // a < b, so every equal-id row is a batch-vs-store collision
    crossPairs(s, b, storePath, batchId, threshold,
      broadcastBatch = broadcastable,
      keepReArrivals = keepReArrivals).union(within)
  }

  /** Streaming ingest — each micro-batch lands under its own fenced
    * partition (at-least-once replay is byte-idempotent), and the store
    * binds to its FIRST streaming lineage: a fresh checkpoint restarts
    * batch ids at 0 and would silently overwrite batch-0 with different
    * content AND break the judge's batches-<-id replay fence, so any
    * other lineage fails loudly ([[graft.streaming.StreamingOps
    * .bindStoreLineage]]). */
  def fingerprintIngestStream(stream: DataFrame, storePath: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row] =
    graft.streaming.StreamingOps.lineageSink(stream) {
      (batch, batchId, lineage) =>
        graft.streaming.StreamingOps.bindStoreLineage(batch.sparkSession,
          storePath, s"media fingerprint store at $storePath", lineage)
        applyFingerprintBatch(batch, storePath, batchId)
    }

  /** Streaming judge-then-ingest — the crawl loop (the
    * `substrIngestStream` shape for media): each micro-batch is judged
    * against the standing store, its verdicts land under their own
    * `batch_id` partition of `verdictsPath`, THEN the batch ingests.
    * Exactly-once verdicts from at-least-once delivery with no
    * high-water state: the judge reads only batches < the replayed id
    * (its own ingest, landed or not, is invisible), so a replay
    * re-derives byte-identical verdicts and both writes are idempotent
    * partition overwrites. The lineage fence guards the batch-id
    * space, as for ingest. */
  def judgeIngestStream(stream: DataFrame, storePath: String,
      verdictsPath: String, threshold: Int = 6)
      : org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row] =
    graft.streaming.StreamingOps.lineageSink(stream) {
      (batch, batchId, lineage) =>
        applyJudgeIngestBatch(batch, storePath, verdictsPath, batchId,
          lineage, threshold)
    }

  /** One judge+ingest trigger (see [[judgeIngestStream]]). */
  private[graft] def applyJudgeIngestBatch(batch: DataFrame,
      storePath: String, verdictsPath: String, batchId: Long,
      lineage: String, threshold: Int = 6): Unit = {
    val s = batch.sparkSession
    graft.streaming.StreamingOps.bindStoreLineage(s, storePath,
      s"media fingerprint store at $storePath", lineage)
    // replay-horizon guard BEFORE the first write: a refusal after the
    // verdict write would leave verdicts standing for fingerprints
    // that can never land at this id
    requireIngestAllowed(s, storePath, batchId)
    // erased keys neither judge nor re-ingest: a batch re-delivering an
    // erased (media_id, modality) would otherwise write a fingerprint
    // every read suppresses (judgeBatch re-filters its own input —
    // harmless second anti-join over this already-clean checkpoint);
    // judged AND ingested — compute once
    val b = graft.Checkpointing.truncate(minusTombstones(s, storePath,
      batch.select(col("media_id"), col("modality"), col("h"))))
    // coalesce(1): a batch's verdicts are match-output-sized (the
    // banded join's collision tail), not corpus-sized — one file per
    // batch keeps the verdict store's file count = batch count (the
    // q81/store convention); a pathologically cliqued corpus is the
    // documented output-bound regime, not a plan problem
    graft.rel.Stores.writeBatch(judgeBatch(s, b, storePath, batchId,
      threshold), verdictsPath, batchId)
    applyFingerprintBatch(b, storePath, batchId)
  }

  /** GDPR maintenance for the verdict store ([[judgeIngestStream]]'s
    * output): tombstones suppress fingerprints in every STORE read and
    * [[judgeBatch]] filters re-arrivals, but pairs ALREADY written to
    * `verdictsPath` before an erasure keep naming the erased id — the
    * erasure span must include them. One read pass finds the HIT
    * partitions (a semi-join against the broadcast tombstone log on
    * either endpoint); only those rewrite — an erasure touching 2 of
    * 10k partitions rewrites 2, coalesce(1)-preserving the one-file-
    * per-batch ingest convention. Partitions left EMPTY are deleted
    * outright (a dynamic overwrite writes nothing for them and their
    * stale rows would persist — the KeyedCompaction empty-fold rule);
    * a fully scrubbed store deletes its root (a file-less dir would
    * brick later reads). Convergent, not atomic: a crash mid-scrub
    * leaves a partially-scrubbed store that a re-run completes. The
    * kept set materializes BEFORE any overwrite of its own input.
    * Maintenance-cadence work, like compaction, never on the ingest
    * path. */
  def scrubVerdicts(s: SparkSession, storePath: String,
      verdictsPath: String): Unit = {
    val vp = new org.apache.hadoop.fs.Path(verdictsPath)
    val fs = vp.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(vp)) return
    graft.rel.TombstoneLog.readDir(fs, tombDir(storePath),
        tombNextDir(storePath)).foreach { dir =>
      val tombs = broadcast(s.read.parquet(dir)
        .select(col("media_id").as("ti"), col("modality").as("tm"))
        .distinct())
      def hitsTomb(idCol: String) =
        col(idCol) === col("ti") && col("modality") === col("tm")
      val v = s.read.parquet(verdictsPath)
      // only partitions that HIT a tombstone rewrite — an erasure
      // touching 2 of 10k partitions must not rewrite the other 9998
      // (batch-count-bounded collect: one row per affected partition)
      val hitParts = v
        .join(tombs, hitsTomb("id_a") || hitsTomb("id_b"), "left_semi")
        .select("batch_id").distinct().collect().map(_.get(0)).toSeq
      if (hitParts.nonEmpty) {
        val kept = graft.Checkpointing.truncate(
          v.filter(col("batch_id").isInCollection(hitParts))
            .join(tombs, hitsTomb("id_a"), "left_anti")
            .join(tombs, hitsTomb("id_b"), "left_anti"))
        val after = kept.select("batch_id").distinct().collect()
          .map(r => s"batch_id=${r.get(0)}").toSet
        if (!kept.isEmpty)
          // coalesce(1): survivors of the affected partitions are
          // match-output-sized — keep the ingest path's one-file-per-
          // batch convention through the rewrite
          kept.coalesce(1).write
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .mode("overwrite").parquet(verdictsPath)
        hitParts.map(x => s"batch_id=$x").filterNot(after).foreach(p =>
          fs.delete(new org.apache.hadoop.fs.Path(s"$verdictsPath/$p"),
            true))
        // a fully-scrubbed store deletes its root (a file-less dir
        // would brick later reads)
        if (!graft.rel.Tombstones.populated(fs, vp.toString))
          fs.delete(vp, true)
      }
    }
  }

  // -------------------------------------------------------- compaction
  private def tombNextDir(p: String) = s"${tombDir(p)}_next"

  /** Horizontal compaction with tombstone fold-in — the store-family
    * maintenance step ([[graft.rel.GraphStore.compactThrough]]'s
    * contract applied to fingerprints): batches ≤ `through` minus the
    * tombstones collapse into ONE `batch_id=through` partition, and
    * tombstones whose every copy lived in the folded region drop from
    * the log (erasure aging). Reads are identical before and after on
    * the current form and every as-of ≥ `through`; as-of below the
    * watermark is no longer derivable (the retention trade). The
    * judge's `batch_id < judged` fence keeps working: a fold never
    * moves data ABOVE its own watermark, so any batch id issued after
    * `through` still reads exactly the pre-fold history. Compaction is
    * a REPLAY HORIZON for ids ≤ `through` (a judge replay below it
    * would read a folded history) — callers pick `through` below their
    * oldest replayable batch, the store-family convention
    * ([[graft.rel.Tombstones.ungateBatch]]).
    *
    * Crash discipline — the GraphStore one, via the shared
    * [[graft.rel.TombstoneLog]] swap: fold + kept both materialize
    * before any file moves; an EMPTY fold deletes the stale
    * `batch_id=through` partition outright (all-tombstoned region —
    * the dynamic overwrite would write nothing and let erased
    * fingerprints resurrect as their tombstones age out); the log
    * shrink is staged-write + delete + rename with reader fallback.
    * The kept-tombstone plan broadcasts the erasure-sized log into the
    * newer batches — the fingerprint relation is never exchanged. */
  def compactThrough(s: SparkSession, storePath: String,
      through: Long): Unit =
    graft.rel.KeyedCompaction.compactThrough(s, dataDir(storePath),
      tombDir(storePath), tombNextDir(storePath),
      Seq("media_id", "modality"), through)

  // ------------------------------------------------------ fingerprints
  /** The full planted multimodal corpus as (media_id, modality, h) —
    * image dHashes, audio spectral fingerprints, per-frame video
    * dHashes (packed frame ids). Pure in (s, d); the underlying media
    * corpora are fixture-memoized per immutable dir. */
  private[graft] def allFingerprints(s: SparkSession, d: String)
      : DataFrame = {
    val img = ImageDedup.dhashes(ImageDedup.generateDedupImages(s, d))
      .select(col("image_id").as("media_id"),
        lit("image").as("modality"), col("h"))
    val aud = graft.audio.AudioDedup.fingerprints(
        graft.audio.AudioDedup.generateDedupClips(s, d))
      .select(col("clip_id").as("media_id"),
        lit("audio").as("modality"), col("h"))
    val vid = ImageDedup.dhashes(
        VideoDedup.frames(VideoDedup.generateDedupVideos(s, d)))
      .select(col("image_id").as("media_id"),
        lit("video").as("modality"), col("h"))
    img.union(aud).union(vid)
  }

  private def dumpOracleInputs(s: SparkSession, d: String): Unit = {
    // same dump calls (same tags, same paths) as the three one-shot
    // entries — idempotent overwrites, so this entry never depends on a
    // sibling entry having run first
    ImageSource.dumpPixels(s, ImageDedup.generateDedupImages(s, d),
      resizeTo = 9, tag = "dedup9")
    ImageSource.dumpPixels(s,
      VideoDedup.frames(VideoDedup.generateDedupVideos(s, d)),
      resizeTo = 9, tag = "vdedup9")
    graft.audio.AudioDedup.dumpGrids(s,
      graft.audio.AudioDedup.generateDedupClips(s, d))
  }

  /** The batch-replay loop of every media store: materialize `fps`
    * ONCE (one decode pass feeds all three batches, not three decodes),
    * split it by the `batchOf` residue and apply `f` to each
    * `(batch, batchId)` in id order. */
  private[sources] def replayBatches[T](fps: DataFrame, batchOf: Column)(
      f: (DataFrame, Long) => T): Seq[T] = {
    val all = graft.Checkpointing.truncate(fps)
    (0 until 3).map(b => f(all.filter(batchOf === b), b.toLong))
  }

  /** The default batch key: media_id mod 3. */
  private[sources] def byMediaId: Column = pmod(col("media_id"), lit(3))

  /** The keyframe batch key: the VIDEO id inside the packed frame id
    * mod 3 (all of a video's keyframes travel together). */
  private[sources] def byVideoId: Column =
    pmod(expr("media_id DIV 100"), lit(3))

  /** Judge each replayed batch against the store-so-far; the union of
    * the per-batch verdicts. */
  private def judgeReplay(s: SparkSession, fps: DataFrame,
      batchOf: Column, store: String): DataFrame =
    replayBatches(fps, batchOf)(judgeBatch(s, _, store, _))
      .reduce(_.union(_))

  /** Ingest `fps` into a fresh store under `root` as three batches. */
  private def ingestReplay(fps: DataFrame, batchOf: Column,
      root: java.nio.file.Path): String = {
    val path = s"$root/media"
    replayBatches(fps, batchOf)(applyFingerprintBatch(_, path, _))
    path
  }

  // every store below is built once per immutable driver dir
  // (graft.FixtureMemo.store, the q81 memo policy)
  private def buildStore(s: SparkSession, d: String,
      root: java.nio.file.Path): String =
    ingestReplay(allFingerprints(s, d), byMediaId, root)

  // --------------------------------------------------- contract entries
  /** nq_media_dedup_store: the full multimodal corpus arrives as 3
    * fingerprint batches (media_id mod 3); each batch is judged against
    * the store-so-far on arrival; the union of the per-batch verdicts
    * must equal the ONE-SHOT corpus joins — so the oracle is the three
    * one-shot SQLs verbatim (prefixed CTEs), unioned with modality
    * tags. A batch leak, a fence miss, or a judge recall hole all
    * hash-fail. Video keeps the cross-video convention. */
  def nqMediaDedupStore(s: SparkSession, d: String): DataFrame = {
    val store =
      graft.FixtureMemo.store("mediadedup", d)(buildStore(s, d, _))
    dumpOracleInputs(s, d)
    // one decode pass feeds all three judges (each judge references its
    // batch twice: the broadcast probe side and the within-batch join)
    crossVideo(judgeReplay(s, allFingerprints(s, d), byMediaId, store))
  }

  /** The video verdict policy (within-video keyframe similarity is
    * static-scene detection, not duplication), in pair order. */
  private def crossVideo(pairs: DataFrame): DataFrame =
    pairs
      .filter(col("modality") =!= "video" ||
        expr("id_a DIV 100") =!= expr("id_b DIV 100"))
      .orderBy("modality", "id_a", "id_b")

  /** nq_media_dedup_delete: the same store plus one erasure batch — all
    * IMAGE "edit" variants (media_id ≥ 2·10⁶, modality = 'image') are
    * tombstoned — then the full pair set is recomputed off the store
    * READ. The oracle excludes exactly those ids from the image branch
    * and leaves audio (whose muted copies ALSO live at ids ≥ 2·10⁶!)
    * and video untouched — a deletion that ignores the modality key, or
    * one that leaks into reads, hash-fails. */
  def nqMediaDedupDelete(s: SparkSession, d: String): DataFrame =
    storePairs(s, d, graft.FixtureMemo.store("mediadedupdel", d)(
      buildErasedStore(s, d, _)))

  /** The full store plus the image-variant erasure batch. */
  private def buildErasedStore(s: SparkSession, d: String,
      root: java.nio.file.Path): String = {
    val path = buildStore(s, d, root)
    deleteMedia(
      allFingerprints(s, d)
        .filter(col("modality") === "image" &&
          col("media_id") >= 2000000L)
        .select("media_id", "modality"),
      path, 0L)
    path
  }

  /** The full pair set recomputed off a store READ. */
  private def storePairs(s: SparkSession, d: String, store: String)
      : DataFrame = {
    dumpOracleInputs(s, d)
    val fps = fingerprintsFromStore(s, store)
    crossVideo(ImageDedup.nearDupPairs(
        fps.select(col("modality"), col("media_id").as("image_id"),
          col("h")),
        keyCols = Seq("modality"))
      .select(col("modality"), col("img_a").as("id_a"),
        col("img_b").as("id_b"), col("hamming")))
  }

  /** nq_media_dedup_compact: the delete store's exact history —
    * 3 ingest batches + the image-variant erasure — then
    * [[compactThrough]](1) folds batches 0-1 (minus tombstones) into
    * one partition, and the full pair set is recomputed off the
    * COMPACTED store. The oracle is nq_media_dedup_delete's VERBATIM
    * (the q81/nq_graph_compact shared-SQL pattern): compaction must be
    * invisible through the whole pair relation, so a lost fingerprint,
    * a resurrected erased id, or a kept-tombstone bug all hash-fail.
    * (Batching is media_id mod 3, so ~⅓ of the erased ids live in
    * batch 2 > the watermark — their tombstones must SURVIVE the fold
    * and keep suppressing — while the rest fold out and their
    * tombstones age away: both kept-set paths are exercised.) */
  def nqMediaDedupCompact(s: SparkSession, d: String): DataFrame =
    storePairs(s, d, graft.FixtureMemo.store("mediadedupcompact", d) {
      root =>
        val path = buildErasedStore(s, d, root)
        compactThrough(s, path, through = 1L)
        path
    })

  // ------------------------------------------- flip-invariant store
  /** Dihedral MULTI-PROBE fingerprints of the reoriented corpus — 8
    * rows per image ([[ImageDedup.dihedralHashes]]): the store-side
    * representation of flip/rotation invariance. The store machinery
    * is fingerprint-agnostic, so invariance is an INGEST choice, not a
    * store change: with every transform's hash ingested, a mirrored or
    * rotated re-post arriving in a LATER batch aligns with its original
    * already standing in the store (some transform of the copy
    * re-aligns with some transform of the base at the grids' true
    * distance); pairs collapse to their MIN aligned hamming. Price: 8×
    * store rows and an 8× batch broadcast — the recall-complete tier,
    * chosen over canonical-min (1× rows) because the min's argmin
    * transform measurably flips on near-transform copies
    * (ImageDedup.dihedralMin's documented 1% miss). */
  private[graft] def flipFingerprints(s: SparkSession, d: String)
      : DataFrame = {
    // fingerprints are a pure derivation of the (memoized) corpus, so
    // the relation itself memoizes too — probes of the store entries
    // measure the JUDGE, not a 60k-image re-decode per run (the
    // production serving shape: fingerprints arrive with the batch)
    graft.FixtureMemo.parquet(s, "flipfp", d)(
      ImageDedup.dihedralHashes(ImageDedup.generateFlipImages(s, d))
        .select(col("image_id").as("media_id"),
          lit("image").as("modality"), col("h")))
  }

  /** The flip store, memoized per immutable dir (nq_media_dedup_flip). */
  private[graft] def flipStoreProbePath(s: SparkSession, d: String)
      : String =
    graft.FixtureMemo.store("mediaflip", d)(
      ingestReplay(flipFingerprints(s, d), byMediaId, _))

  /** nq_media_dedup_flip: the reoriented corpus (exactly
    * [[ImageDedup.nqImageNeardupFlip]]'s — planted lossless mirrors and
    * rot180s) arrives as 3 multi-probe fingerprint batches; each batch
    * is judged against the store-so-far on arrival; the per-batch
    * verdicts union and collapse to MIN aligned hamming. The oracle is
    * nq_image_neardup_flip's SQL VERBATIM (the q81 shared-oracle
    * discipline): all 8 transform hashes re-derived from the dumped
    * grids in exact HUGEINT arithmetic, min-aligned pair distances —
    * so a mirrored re-post that fails to match its standing original
    * through the incremental path hash-fails the entry. */
  def nqMediaDedupFlip(s: SparkSession, d: String): DataFrame = {
    val store = flipStoreProbePath(s, d)
    ImageSource.dumpPixels(s, ImageDedup.generateFlipImages(s, d),
      resizeTo = 9, tag = "flip9")
    judgeReplay(s, flipFingerprints(s, d), byMediaId, store)
      .groupBy("id_a", "id_b")
      .agg(min(col("hamming")).as("hamming"))
      .select(col("id_a").as("img_a"), col("id_b").as("img_b"),
        col("hamming"))
      .orderBy("img_a", "img_b")
  }

  // --------------------------------------------- keyframe store entry
  /** nq_video_keyframes_store: the scene-structured corpus (exactly
    * [[VideoDedup.nqVideoKeyframes]]'s — re-timed partial copies) is
    * keyframe-sampled and fingerprinted ONCE
    * ([[VideoDedup.keyframeHashes]]'s fused decode pass), then arrives
    * as 3 fingerprint batches keyed by VIDEO (all of a video's
    * keyframes travel together — the production crawl unit); each
    * batch is judged against the store-so-far on arrival. The union of
    * per-batch verdicts must equal the one-shot keyframe join, so the
    * oracle is nq_video_keyframes' SQL VERBATIM: selection re-derived
    * from the dumped all-frame grids, bits, pairs, cross-video filter.
    * This is the production composition the spec already pinned
    * (keyframe-ingest test) given the contract treatment. */
  def nqVideoKeyframesStore(s: SparkSession, d: String): DataFrame = {
    val vids = VideoDedup.generateSceneVideos(s, d)
    // memoized like flipFingerprints: keyframe selection + hash is a
    // pure derivation of the memoized corpus — probes measure judging
    def fps = VideoDedup.keyframeFingerprints(s, d)
    val store = graft.FixtureMemo.store("mediakfstore", d)(
      ingestReplay(fps, byVideoId, _))
    ImageSource.dumpPixels(s, VideoDedup.frames(vids), resizeTo = 9,
      tag = "vkf9")
    judgeReplay(s, fps, byVideoId, store)
      .filter(expr("id_a DIV 100") =!= expr("id_b DIV 100"))
      .select(
        expr("id_a DIV 100").as("vid_a"),
        pmod(col("id_a"), lit(100L)).as("frame_a"),
        expr("id_b DIV 100").as("vid_b"),
        pmod(col("id_b"), lit(100L)).as("frame_b"),
        col("hamming"))
      .orderBy("vid_a", "frame_a", "vid_b", "frame_b")
  }

  // ------------------------------------------- benched serving probe
  /** Synthetic PRECOMPUTED fingerprints keyed off the documents table —
    * the judge's BENCH corpus: h = xxhash64(media_id, 42) (the
    * DuckDB-replicated hash, so the oracle re-derives every bit with
    * no dumped inputs at all — the q65/q69 zero-dump tier), 8 media
    * per doc, plus planted near-dups as ≤3-bit xor masks:
    *   - m % 7 == 0  → copy at m + 10000001 within hamming ≤ 3 (the
    *     +1 offset shifts its batch residue, so these pairs cross
    *     batches in both directions);
    *   - m % 9 == 5  → copy at m + 20000000, hamming ≤ 1 (offset ≡ 0
    *     mod 20: base and copy share a batch — the within-batch path).
    * No codec anywhere: this corpus exists so the BENCH measures the
    * serving-path judge (broadcast banded join over the standing
    * store), not PNG/MJPEG decode — the production ingest cost the
    * one-shot media entries cannot expose under the ≤0.5 s budget. */
  private[graft] def syntheticFingerprints(s: SparkSession, d: String)
      : DataFrame = {
    // the copy offsets (+10000001 / +20000000) assume base ids stay
    // below them: once max(doc_id)·8+7 ≥ 10000001 (roughly sf ≥ 20 at
    // dense ids — the MAX, not the count: sparse id spaces hit the
    // boundary early) copy ids collide with base ids and the engine's
    // pair distinct vs the oracle's all-pairs multiplicity diverges as
    // an opaque hash mismatch — fail loudly at the boundary instead
    val maxDoc = graft.Tables.documents(s, d)
      .agg(max(col("doc_id"))).head().getLong(0)
    require(maxDoc * 8 + 7 < 10000001L,
      s"syntheticFingerprints: max doc_id $maxDoc × 8 + 7 reaches the " +
        "+10000001 copy offset — raise the offsets (and the oracle " +
        "SQL literals) before benching at this scale")
    val hb = graft.Tables.documents(s, d).select(col("doc_id"))
      .withColumn("j", explode(sequence(lit(0), lit(7))))
      .select((col("doc_id") * 8 + col("j")).as("m"))
      .withColumn("h", xxhash64(col("m"), lit(42L)))
    val base = hb.select(col("m").as("media_id"), col("h"))
    val v1 = hb.filter(col("m") % 7 === 0).select(
      (col("m") + 10000001L).as("media_id"),
      expr("h ^ (shiftleft(1L, cast((m*7) % 63 as int)) | " +
        "shiftleft(1L, cast((m*7+17) % 63 as int)) | " +
        "shiftleft(1L, cast((m*7+34) % 63 as int)))").as("h"))
    val v2 = hb.filter(col("m") % 9 === 5).select(
      (col("m") + 20000000L).as("media_id"),
      expr("h ^ shiftleft(1L, cast((m*11) % 63 as int))").as("h"))
    base.union(v1).union(v2)
      .select(col("media_id"), lit("media").as("modality"), col("h"))
  }

  /** nq_media_judge: judge ONE precomputed-fingerprint batch (media_id
    * ≡ 19 mod 20) against the standing store of the other 19 batches.
    * The store build is memoized per immutable dir (the store-family
    * bench amortization: build once / serve many — the first
    * invocation's build is excluded by the bench's median-of-3), so
    * the measured cost is the SERVING path alone: one batch-sized
    * fingerprint derivation, the ×28 block-pair broadcast into one
    * column-pruned store scan, and the within-batch self-join. The
    * oracle recomputes every hash via the XXH64 replica and takes
    * ALL pairs with a side in batch 19 — a store-store pair leak, a
    * fence miss, or a banding recall hole all hash-fail. */
  private[graft] def judgeBenchStore(s: SparkSession, d: String): String =
    // the 19 store residues land under THREE fenced partitions (a
    // compacted store's layout — compactThrough folds history the
    // same way): multi-partition reads stay exercised without 19
    // directory listings taxing every serving probe
    graft.FixtureMemo.store("mediajudgebench", d)(
      ingestReplay(judgeBenchHistory(s, d), byBenchResidue, _))

  /** The synthetic corpus' 19 store residues (media_id ≢ 19 mod 20). */
  private[sources] def judgeBenchHistory(s: SparkSession, d: String)
      : DataFrame =
    syntheticFingerprints(s, d).filter(pmod(col("media_id"), lit(20)) =!= 19)

  /** The judge-bench store's batch key: the residue mod 20, mod 3. */
  private[sources] def byBenchResidue: Column =
    pmod(pmod(col("media_id"), lit(20)), lit(3))

  /** The serving batch (media_id ≡ 19 mod 20) as ARRIVING data — a
    * memoized parquet fixture per immutable dir, so timed probes pay
    * one small read, not the synthetic re-derivation. Shared by
    * nq_media_judge and the cluster-merge serving entry
    * ([[MediaClusterStore.nqClusterMerge]]). */
  private[graft] def judgeBenchBatch(s: SparkSession, d: String)
      : DataFrame =
    graft.FixtureMemo.parquet(s, "mediajudgebatch", d)(
      syntheticFingerprints(s, d)
        .filter(pmod(col("media_id"), lit(20)) === 19))

  def nqMediaJudge(s: SparkSession, d: String): DataFrame = {
    // a serving batch ARRIVES as data (judgeBenchBatch), so the timed
    // path is the JUDGE: one small parquet read, the guard count, the
    // ×28 broadcast banded join against the standing store, the
    // within-batch self-join
    val store = judgeBenchStore(s, d)
    judgeBatch(s, judgeBenchBatch(s, d), store, 19L)
      .select(col("id_a"), col("id_b"), col("hamming"))
      .orderBy("id_a", "id_b")
  }

  /** The zero-dump oracle: XXH64 replica over the same 8-per-doc id
    * space, the same xor masks, then ALL pairs (exact all-pairs is
    * oracle-scale-only; the engine side is the banded join) with one
    * side in batch 9. */
  /** The synthetic-corpus CTE chain — base ids → XXH64 replica →
    * planted xor-mask copies, ending at fp(media_id, h). Shared by the
    * judge oracle and the cluster-merge oracle
    * ([[MediaClusterStore]]) so the corpus derivation can never drift
    * between them (the q81 shared-SQL discipline). */
  private[sources] lazy val syntheticFpCtes: String =
    s"""base AS (
       |  SELECT doc_id * 8 + j.j AS m
       |  FROM documents, (SELECT unnest(generate_series(0, 7)) AS j) j),
       |${graft.text.Mixing.xxh64CtesBody("base", "m", "")},
       |hb AS (SELECT m,
       |  CAST(CASE WHEN hh >= 9223372036854775808
       |    THEN CAST(hh AS HUGEINT) - 18446744073709551616
       |    ELSE CAST(hh AS HUGEINT) END AS BIGINT) AS h
       |  FROM r2h),
       |fp AS (
       |  SELECT m AS media_id, h FROM hb
       |  UNION ALL
       |  SELECT m + 10000001,
       |    xor(h, (1::BIGINT << CAST((m*7) % 63 AS INT)) |
       |           (1::BIGINT << CAST((m*7+17) % 63 AS INT)) |
       |           (1::BIGINT << CAST((m*7+34) % 63 AS INT)))
       |  FROM hb WHERE m % 7 = 0
       |  UNION ALL
       |  SELECT m + 20000000,
       |    xor(h, 1::BIGINT << CAST((m*11) % 63 AS INT))
       |  FROM hb WHERE m % 9 = 5)""".stripMargin

  private def mediaJudgeSql: String =
    s"""WITH $syntheticFpCtes,
       |pairs AS (
       |  SELECT a.media_id AS id_a, b.media_id AS id_b,
       |    CAST(bit_count(xor(a.h, b.h)) AS BIGINT) AS hamming
       |  FROM fp a JOIN fp b ON a.media_id < b.media_id
       |  WHERE a.media_id % 20 = 19 OR b.media_id % 20 = 19)
       |SELECT id_a, id_b, hamming FROM pairs
       |WHERE hamming <= 6
       |ORDER BY id_a, id_b""".stripMargin

  // ------------------------------------------------------------- oracle
  private val ImgDump = ImageSource.OracleDumpDir

  /** The image/video one-shot CTE chain (lum → bits → pairs), prefixed
    * so two instances compose in one statement. */
  private def lumPairCtes(prefix: String, tag: String): String =
    s"""${prefix}lum AS (
       |  SELECT image_id, px, 299 * r + 587 * g + 114 * b AS l
       |  FROM read_parquet('$ImgDump/image_px_$tag.parquet/*.parquet')),
       |${prefix}bits AS (
       |  SELECT a.image_id, (a.px // 9) * 8 + (a.px % 9) AS bit,
       |    CASE WHEN a.l < b.l THEN 1 ELSE 0 END AS v
       |  FROM ${prefix}lum a JOIN ${prefix}lum b
       |    ON b.image_id = a.image_id AND b.px = a.px + 1
       |  WHERE a.px % 9 < 8 AND a.px // 9 < 8),
       |${prefix}pairs AS (
       |  SELECT x.image_id AS img_a, y.image_id AS img_b,
       |    CAST(count(CASE WHEN x.v <> y.v THEN 1 END) AS BIGINT)
       |      AS hamming
       |  FROM ${prefix}bits x JOIN ${prefix}bits y
       |    ON x.bit = y.bit AND x.image_id < y.image_id
       |  GROUP BY 1, 2)""".stripMargin

  /** The audio one-shot CTE chain over the dumped energy grids. */
  private def audioPairCtes: String =
    s"""agrid AS (
       |  SELECT clip_id, t, b, e
       |  FROM read_parquet('${graft.audio.AudioDedup.GridDumpPath}/*.parquet')),
       |abits AS (
       |  SELECT x.clip_id, x.t * 8 + x.b AS bit,
       |    CASE WHEN x.e < y.e THEN 1 ELSE 0 END AS v
       |  FROM agrid x JOIN agrid y
       |    ON y.clip_id = x.clip_id AND y.b = x.b AND y.t = x.t + 1
       |  WHERE x.t < 8),
       |apairs AS (
       |  SELECT x.clip_id AS clip_a, y.clip_id AS clip_b,
       |    CAST(count(CASE WHEN x.v <> y.v THEN 1 END) AS BIGINT)
       |      AS hamming
       |  FROM abits x JOIN abits y
       |    ON x.bit = y.bit AND x.clip_id < y.clip_id
       |  GROUP BY 1, 2)""".stripMargin

  /** The combined one-shot union, with an optional extra predicate on
    * the image branch (the delete entry's erasure). */
  private def mediaUnionSql(imageExtra: String): String =
    s"""WITH ${lumPairCtes("i", "dedup9")},
       |${lumPairCtes("v", "vdedup9")},
       |$audioPairCtes
       |SELECT * FROM (
       |  SELECT 'image' AS modality, img_a AS id_a, img_b AS id_b,
       |    hamming
       |  FROM ipairs WHERE hamming <= 6$imageExtra
       |  UNION ALL
       |  SELECT 'audio', clip_a, clip_b, hamming
       |  FROM apairs WHERE hamming <= 6
       |  UNION ALL
       |  SELECT 'video', img_a, img_b, hamming
       |  FROM vpairs WHERE hamming <= 6 AND img_a // 100 <> img_b // 100
       |) ORDER BY modality, id_a, id_b""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "nq_media_dedup_store" -> (nqMediaDedupStore _),
    "nq_media_dedup_delete" -> (nqMediaDedupDelete _),
    "nq_media_dedup_compact" -> (nqMediaDedupCompact _),
    "nq_media_dedup_flip" -> (nqMediaDedupFlip _),
    "nq_video_keyframes_store" -> (nqVideoKeyframesStore _),
    "nq_media_judge" -> (nqMediaJudge _))

  private val deleteSql =
    mediaUnionSql(" AND img_a < 2000000 AND img_b < 2000000")

  val oracle: Map[String, String] = Map(
    // the incremental path must re-prove the one-shot SQLs verbatim
    "nq_media_dedup_store" -> mediaUnionSql(""),
    "nq_media_dedup_delete" -> deleteSql,
    // compaction is read-invisible BY CONTRACT: the compacted store
    // must answer the identical SQL the uncompacted one does
    "nq_media_dedup_compact" -> deleteSql,
    // the incremental multi-probe path re-proves the one-shot
    // flip-invariance SQL verbatim
    "nq_media_dedup_flip" -> ImageDedup.nqImageNeardupFlipSql,
    // keyframe ingest through the fenced store re-proves the one-shot
    // keyframe selection + pair SQL verbatim
    "nq_video_keyframes_store" -> VideoDedup.nqVideoKeyframesSql,
    "nq_media_judge" -> mediaJudgeSql)
}
