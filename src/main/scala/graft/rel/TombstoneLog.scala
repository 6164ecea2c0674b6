package graft.rel

import org.apache.spark.sql.DataFrame

/** The crash-safe tombstone-log swap shared by the keyed-deletion
  * stores ([[GraphStore]] edges, `sources.MediaDedupStore`
  * fingerprints): a compaction that SHRINKS the log must never leave a
  * window where the log is absent or partial — Spark's
  * `mode("overwrite")` deletes the target before committing, so a bare
  * full-dir rewrite loses the whole log on a crash mid-write,
  * resurrecting deleted keys still suppressed by it.
  *
  * Discipline: (a) write the kept set COMPLETELY to a staged sibling
  * (`<log>_next`), (b) delete the old log, (c) rename the staged dir
  * into place. Each crash window leaves one complete, readable log:
  * after (a) the old log is authoritative (readers ignore a stale
  * staging dir when the log exists — the next run overwrites it);
  * between (b) and (c) readers fall back to the staged dir; the next
  * maintenance entry completes the rename ([[recoverSwap]]).
  *
  * The logs live under underscore-prefixed dirs INSIDE the store root
  * on purpose: any glob of the root skips them (Spark's hidden-path
  * filter), so the data reader can never accidentally ingest
  * tombstones as rows. Reading such a dir EXPLICITLY works (the
  * partition dirs inside are visible) but logs a benign
  * "All paths were ignored" WARN from DataSource's root-path check —
  * cosmetic; the reads are verified row-exact by the store specs and
  * the driver oracles.
  */
private[graft] object TombstoneLog {

  private[rel] def path(p: String) = new org.apache.hadoop.fs.Path(p)

  /** Where the CURRENT log lives: the log dir, or — inside the swap
    * window — the fully-written staged replacement. None when neither
    * exists (no delete was ever issued) OR the candidate holds no
    * fenced partition: an EMPTY erasure request's dynamic overwrite
    * leaves a file-less dir (_SUCCESS only) whose bare parquet read
    * fails schema inference — every log layout is batch_id-partitioned
    * (direct deletes and [[swapIn]] alike), so gate on content, not
    * existence, and a file-less log reads as "no tombstones" for the
    * whole store family. Readers never mutate. */
  def readDir(fs: org.apache.hadoop.fs.FileSystem, log: String,
      next: String): Option[String] =
    if (Tombstones.populated(fs, log)) Some(log)
    else if (Tombstones.populated(fs, next)) Some(next)
    else None

  /** Complete an interrupted swap (old log deleted, staged rename not
    * done) — call on entry to any maintenance that reads the log. */
  def recoverSwap(fs: org.apache.hadoop.fs.FileSystem, log: String,
      next: String): Unit =
    if (!fs.exists(path(log)) && fs.exists(path(next)))
      require(fs.rename(path(next), path(log)),
        s"cannot complete interrupted tombstone-log swap at $next")

  /** Replace the log with `kept` (already materialized by the caller —
    * it reads the dir this replaces). An EMPTY kept set deletes the log
    * outright (readers probe existence; a schema-less empty parquet dir
    * would fail their read) — the stale staging dir goes FIRST, else a
    * crash between the two deletes would leave readers falling back to
    * an outdated staged log full of already-dropped tombstones. */
  def swapIn(kept: DataFrame, fs: org.apache.hadoop.fs.FileSystem,
      log: String, next: String): Unit =
    if (kept.isEmpty) {
      if (fs.exists(path(next))) fs.delete(path(next), true)
      fs.delete(path(log), true)
    } else {
      // coalesce(1): the log is erasure-request-sized by contract
      kept.coalesce(1).write
        .partitionBy("batch_id")
        .mode("overwrite").parquet(next)
      fs.delete(path(log), true)
      require(fs.rename(path(next), path(log)),
        s"cannot swap staged tombstone log $next into place")
    }
}

/** The keyed-deletion stores' shared compaction: fold `batch_id ≤
  * through` minus tombstones into ONE fenced partition, age out
  * tombstones with no surviving copy, shrink the log through
  * [[TombstoneLog]]'s staged swap. Parameterized by the store's key
  * columns — [[GraphStore]] compacts on (src, dst),
  * `sources.MediaDedupStore` on (media_id, modality); ONE
  * implementation of the crash discipline serves both (each store's
  * own scaladoc carries the read-semantics contract and its specs pin
  * the behavior).
  *
  * Crash windows (the AggStore.compactThrough lineage): fold + kept
  * sets BOTH materialize before any file moves; (1) the folded
  * partition writes under dynamic overwrite, (2) the folded originals
  * prune, (3) the log swaps via staged write + delete + rename. A
  * crash between (1) and (2) double-counts — recovery is
  * [[Stores.pruneThrough]] (idempotent), not a re-run; a crash around (3)
  * leaves either the old log (harmless — anti-joining an already-
  * removed key is a no-op) or the staged replacement (readers fall
  * back; the next maintenance entry completes the rename). A re-run
  * after success is a full no-op.
  *
  * EMPTY-FOLD case: if every row in batches ≤ through is tombstoned,
  * the dynamic overwrite writes NO partitions — an existing
  * `batch_id=through` partition would keep its stale (all-deleted)
  * rows while their tombstones age out, silently resurrecting erased
  * keys. The fold target is deleted outright instead.
  */
private[graft] object KeyedCompaction {
  import org.apache.spark.sql.{Column, SparkSession}
  import org.apache.spark.sql.functions._

  private def fsOf(s: SparkSession, p: String) =
    TombstoneLog.path(p).getFileSystem(s.sparkContext.hadoopConfiguration)

  private def keyCond(keyCols: Seq[String], pre: String): Column =
    keyCols.map(k => col(k) === col(s"$pre$k")).reduce(_ && _)

  private def renamedKeys(keyCols: Seq[String], pre: String) =
    keyCols.map(k => col(k).as(s"$pre$k"))

  /** `foldTransform` rewrites the fold region's payload BEFORE the
    * tombstone anti-join (identity for plain stores) — the
    * schema-preserving hook that lets a store bake derived state into
    * its fold (the cluster store's remap-closure resolution) without
    * duplicating this crash-window choreography. */
  def compactThrough(s: SparkSession, dataPath: String, logPath: String,
      nextPath: String, keyCols: Seq[String], through: Long,
      foldTransform: org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.DataFrame = identity): Unit = {
    val fs = fsOf(s, dataPath)
    TombstoneLog.recoverSwap(fs, logPath, nextPath)
    // a crashed ATOMIC fold publish recovers first (r19) — see
    // FoldWatermark.recoverFoldStages
    FoldWatermark.recoverFoldStages(fs, dataPath)
    // a fully-erased store's data dir was deleted by a prior empty-fold
    // compaction (see below) — nothing to fold; a FILE-LESS dir (an
    // all-tombstoned or empty first batch's dynamic overwrite wrote
    // only _SUCCESS) likewise holds nothing, and reading either would
    // fail schema inference, so gate on partitions, not existence; the
    // tombstone log is left as-is (its entries suppress nothing,
    // harmlessly, until new data arrives)
    if (!Tombstones.populated(fs, dataPath)) return
    // same partition gate for the log: an EMPTY erasure request leaves
    // a file-less log dir that must read as "no tombstones"
    val hasTombs = Tombstones.populated(fs, logPath)
    // re-entry after a crash between fold and prune (r18): the fold
    // already landed, so re-running it over fold + surviving originals
    // would keep each pre-fold row TWICE, permanently. The retry IS
    // the recovery: finish the idempotent tail phases and return.
    //  - watermark first (a fold-commit-marker entry means the crash
    //    preceded the watermark write), then the prune;
    //  - a `batch_id=through` partition WITHOUT the fold-commit marker
    //    is the EMPTY-fold case's stale all-tombstoned leftover —
    //    delete it (and a now-partition-less root, preserving the
    //    watermark), exactly as the interrupted run was about to;
    //  - the tombstone log is left UNTOUCHED, deliberately: the
    //    crashed attempt's kept-set reflected the tombstones at ITS
    //    fold time, and erasures that arrived since were never applied
    //    to the fold — re-shrinking the log here could drop a new
    //    tombstone whose only copies sit inside the fold, silently
    //    resurrecting its rows. Un-shrunk entries suppress at read
    //    time as always (harmless for folded-away keys), and the next
    //    fresh fold applies + shrinks them.
    val wm = FoldWatermark.read(fs, dataPath)
    if (FoldWatermark.resumeAfterFold(fs, dataPath, through, wm)) {
      FoldWatermark.write(fs, dataPath, through)
      Stores.pruneThrough(fs, dataPath, through)
      if (!FoldWatermark.foldCommitted(fs, dataPath, through)) {
        val tgt = TombstoneLog.path(s"$dataPath/batch_id=$through")
        if (fs.exists(tgt)) fs.delete(tgt, true)
        if (!Tombstones.populated(fs, dataPath))
          FoldWatermark.deletePreservingWatermark(fs, dataPath)
      }
      return
    }
    // fold region leftover-fenced (r18 review): a fresh fold at a
    // HIGHER through than a crashed compaction must not re-keep that
    // crash's sub-watermark leftover rows beside the fold partition
    // that already contains them
    val data = FoldWatermark.excludeFoldedLeftovers(
      s.read.parquet(dataPath), wm)
    val payload = data.columns.filterNot(_ == "batch_id").toSeq
    val old = foldTransform(data.filter(col("batch_id") <= through)
      .select(payload.map(col): _*))
    // fold: the region's surviving rows (tombstones applied) — output
    // re-enters the store in the exact ingest schema. Materialized
    // BEFORE the overwrite below rewrites one of its input partitions.
    val folded = graft.Checkpointing.truncate(if (!hasTombs) old
      else old.join(
          broadcast(s.read.parquet(logPath)
            .select(renamedKeys(keyCols, "__t_"): _*).distinct()),
          keyCond(keyCols, "__t_"), "left_anti")
        .select(payload.map(col): _*))
    val kept = if (hasTombs) graft.Checkpointing.truncate(
        keptTombstones(s, dataPath, logPath, keyCols, through))
      else null
    if (folded.isEmpty) {
      // the watermark records the fold BEFORE any partition is pruned
      // (a crash between marker and prune leaves as-of reads refusing
      // a still-derivable snapshot — conservative, never wrong; the
      // reverse order's crash window silently serves a partial one)
      FoldWatermark.write(fs, dataPath, through)
      Stores.pruneThrough(fs, dataPath, through)
      val tgt = TombstoneLog.path(s"$dataPath/batch_id=$through")
      if (fs.exists(tgt)) fs.delete(tgt, true)
      // if that was the LAST partition, a file-less dir would brick
      // every later read (parquet schema inference fails on zero
      // files) — delete the dir, PRESERVING the fold watermark: the
      // erased store's tombstones aged out with this fold, so the
      // ingest replay horizon is the ONLY thing left refusing a
      // redelivered pre-erasure batch from resurrecting erased rows
      if (!Tombstones.populated(fs, dataPath))
        FoldWatermark.deletePreservingWatermark(fs, dataPath)
    } else {
      // atomic publish (r19): stage + in-stage marker + one rename —
      // no window where the fold stands without its commit evidence
      FoldWatermark.publishFold(fs, dataPath, through) { stage =>
        folded.write.option("maxRecordsPerFile", 10000000L)
          .mode("overwrite").parquet(stage)
      }
      FoldWatermark.write(fs, dataPath, through)
      Stores.pruneThrough(fs, dataPath, through)
    }
    if (hasTombs) TombstoneLog.swapIn(kept, fs, logPath, nextPath)
  }

  /** The tombstones the fold must KEEP: exactly those with a copy in a
    * batch > through. The plan never exchanges the data relation: the
    * erasure-sized log broadcasts INTO the newer batches (matches are
    * tombstone-copy-sized), the match keys distinct down to at most
    * log size, and the log semi-joins that broadcast result. */
  def keptTombstones(s: SparkSession, dataPath: String, logPath: String,
      keyCols: Seq[String], through: Long): org.apache.spark.sql.DataFrame = {
    val tombs = s.read.parquet(logPath)
      .select(renamedKeys(keyCols, "__t_"): _*).distinct()
    val surviving = s.read.parquet(dataPath)
      .filter(col("batch_id") > through)
      .join(broadcast(tombs), keyCond(keyCols, "__t_"))
      .select(keyCols.map(k => col(s"__t_$k").as(s"__k_$k")): _*)
      .distinct()
    s.read.parquet(logPath)
      .join(broadcast(surviving), keyCond(keyCols, "__k_"), "left_semi")
  }
}

/** The compaction FOLD WATERMARK — the retention contract, enforced.
  *
  * Every horizontal compaction folds `batch_id ≤ through` into ONE
  * `batch_id=through` partition and prunes the originals, which makes
  * snapshots BELOW `through` underivable: an as-of read at k < through
  * filters `batch_id ≤ k`, drops the fold, and — before this marker —
  * silently served an EMPTY/partial historical view indistinguishable
  * from "before history began". The store family's rule is loud
  * failure or fallback, never a silent wrong answer, so both shared
  * compaction choreographies ([[KeyedCompaction.compactThrough]] and
  * [[Stores.compactThrough]], the merge-at-read stores' fold) persist
  * the fold watermark as a `_fold_watermark` file INSIDE the data dir
  * (underscore-prefixed: Spark's hidden-path filter keeps it out of
  * every scan), and the one guarded read ([[Stores.readBatches]])
  * refuses an `asOf` below it, naming the retention trade
  * ("pick compaction `through` = the oldest as-of still needed" — the
  * AggStore scaladoc's advice, now enforced).
  *
  * Crash discipline: the marker value only ever RISES (monotonic max),
  * writes go through a tmp file + delete + rename so no reader ever
  * sees a partial value (readers fall back to the tmp inside the swap
  * window — the [[TombstoneLog.readDir]] shape), and the marker lands
  * BEFORE the prune phase: each crash window either refuses a
  * still-derivable snapshot (harmless, conservative) or is the
  * pre-existing double-count window whose recovery is
  * [[Stores.pruneThrough]]. A fully-erased store's root deletion
  * takes the marker with it —
  * correct, because an erased store's history is empty at every as-of
  * (erasure is not rewindable). */
private[graft] object FoldWatermark {

  private def marker(dataPath: String) =
    TombstoneLog.path(s"$dataPath/_fold_watermark")
  private def markerTmp(dataPath: String) =
    TombstoneLog.path(s"$dataPath/_fold_watermark_tmp")

  /** The persisted watermark (None = never compacted). Falls back to
    * the staged tmp inside the write's delete→rename window.
    *
    * Read discipline: readFully of the file's full length (a single
    * in.read may return fewer bytes than the file holds on chunked
    * streams — a short read of "12" as "1" would silently WEAKEN the
    * guard, the exact class the marker exists to close). An
    * unparsable MARKER fails loudly (the marker is only ever created
    * by renaming a fully-written tmp, so corruption is external and
    * must not silently disable the guard); an unparsable TMP reads as
    * None (the one legitimate crash window — a first-ever write
    * interrupted mid-tmp leaves a truncated tmp and NO marker, and
    * the fold it belonged to never pruned). */
  def read(fs: org.apache.hadoop.fs.FileSystem,
      dataPath: String): Option[Long] = {
    def rd(p: org.apache.hadoop.fs.Path,
        loudOnCorrupt: Boolean): Option[Long] =
      if (!fs.exists(p)) None
      else {
        val len = fs.getFileStatus(p).getLen
        require(!loudOnCorrupt || len <= 64,
          s"corrupt fold-watermark marker at $p: $len bytes")
        val buf = new Array[Byte](math.min(len, 64L).toInt)
        val in = fs.open(p)
        try in.readFully(0, buf) finally in.close()
        val txt = new String(buf,
          java.nio.charset.StandardCharsets.UTF_8).trim
        val v = txt.toLongOption
        require(v.isDefined || !loudOnCorrupt,
          s"corrupt fold-watermark marker at $p ('$txt'): refusing to " +
            "serve as-of reads with the retention guard silently off — " +
            "restore the marker (its value = the newest compaction " +
            "`through`) or delete it ONLY if the store was never " +
            "compacted")
        v
      }
    rd(marker(dataPath), loudOnCorrupt = true)
      .orElse(rd(markerTmp(dataPath), loudOnCorrupt = false))
  }

  /** Raise the watermark to `through` (no-op when already at or
    * above — the marker is monotonic, so interleaved maintenance can
    * never LOWER the enforced retention bound). */
  def write(fs: org.apache.hadoop.fs.FileSystem, dataPath: String,
      through: Long): Unit =
    if (!read(fs, dataPath).exists(_ >= through)) {
      val tmp = markerTmp(dataPath)
      val out = fs.create(tmp, true)
      try out.write(through.toString
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      fs.delete(marker(dataPath), false)
      require(fs.rename(tmp, marker(dataPath)),
        s"cannot swap fold-watermark marker into place at $dataPath")
    }

  private def fsFor(s: org.apache.spark.sql.SparkSession,
      dataPath: String) =
    TombstoneLog.path(dataPath)
      .getFileSystem(s.sparkContext.hadoopConfiguration)

  /** Session-resolved convenience overload — the read-side fence
    * sites need the VALUE (guard + leftover exclusion from one
    * probe), and hand-building the FileSystem at each was the r18
    * review's boilerplate finding. */
  def read(s: org.apache.spark.sql.SparkSession,
      dataPath: String): Option[Long] =
    read(fsFor(s, dataPath), dataPath)

  /** The as-of read guard: loud refusal below the fold watermark —
    * the one silent-wrong-answer class the store family had left. */
  def requireAtOrAbove(s: org.apache.spark.sql.SparkSession,
      dataPath: String, asOf: Long): Unit =
    requireAtOrAbove(dataPath, asOf, read(fsFor(s, dataPath), dataPath))

  /** Same guard against an ALREADY-READ watermark — for read paths
    * that need the value for the leftover-exclusion fence too and
    * must not pay a second marker probe per read. */
  def requireAtOrAbove(dataPath: String, asOf: Long,
      watermark: Option[Long]): Unit =
    watermark.foreach(w => require(asOf >= w,
      s"as-of batch $asOf is below the compaction fold watermark $w " +
        s"at $dataPath: batches <= $w were folded into one partition " +
        "and snapshots below the watermark are no longer derivable " +
        "(the store-family retention trade — pick compaction " +
        "`through` = the oldest as-of still needed)"))

  /** The INCLUSIVE-lower-bound guard (batch-range reads): the
    * `batch_id=watermark` fold partition aggregates ALL prior
    * history, so a window opening at or below it would silently
    * include every folded batch's contribution — strictly-above
    * required. ONE implementation beside [[requireAtOrAbove]] so the
    * two guard flavors cannot drift. */
  def requireAbove(s: org.apache.spark.sql.SparkSession,
      dataPath: String, fromBatch: Long): Unit =
    read(fsFor(s, dataPath), dataPath).foreach(w => require(fromBatch > w,
      s"batch-range read opening at $fromBatch is at or below the " +
        s"compaction fold watermark $w at $dataPath: the fold " +
        "partition aggregates all prior history, so the window is no " +
        "longer derivable (pick compaction `through` below the oldest " +
        "window still needed)"))

  /** Delete a store root WITHOUT losing its fold watermark: the
    * full-erasure compaction path deletes a partition-less root (the
    * file-less-dir rule), but the marker inside it carries the INGEST
    * replay horizon — losing it would let a redelivered pre-erasure
    * batch silently resurrect erased rows (the tombstones aged out
    * with the fold, so nothing suppresses them). The root is recreated
    * holding ONLY the marker: partition-gated readers still see an
    * empty store, and the horizon guard survives. A root with no
    * marker deletes outright. */
  def deletePreservingWatermark(fs: org.apache.hadoop.fs.FileSystem,
      dir: String): Unit = {
    val w = read(fs, dir)
    fs.delete(TombstoneLog.path(dir), true)
    w.foreach { v =>
      fs.mkdirs(TombstoneLog.path(dir))
      write(fs, dir, v)
    }
  }

  /** Read-side leftover fence (r18): rows with `batch_id` BELOW the
    * fold watermark are pre-fold leftovers of a compaction that
    * crashed between fold and prune — their content is by definition
    * inside the `batch_id=watermark` fold partition, so merging them
    * would double-count (additive stores) or duplicate rows (keyed
    * stores). Excluding them makes the crash window answer-invisible
    * even before the re-entry recovery runs. Takes the ALREADY-READ
    * watermark so read paths pay one marker probe, not two; the
    * filter is a partition-pruning comparison on the store's
    * partition column (no data file of an excluded batch is opened). */
  def excludeFoldedLeftovers(df: org.apache.spark.sql.DataFrame,
      watermark: Option[Long]): org.apache.spark.sql.DataFrame =
    watermark.fold(df)(w => df.filter(
      org.apache.spark.sql.functions.col("batch_id")
        .cast("long") >= w))

  private def foldCommitMarker(dataPath: String, through: Long) =
    TombstoneLog.path(s"$dataPath/batch_id=$through/_fold_commit")

  /** The `_fold_commit` marker INSIDE a fold partition marks it
    * COMPLETE. Since r19 it is written into [[publishFold]]'s stage
    * and arrives via the swap rename, so partition and marker land
    * ATOMICALLY — there is no instant where a committed fold stands
    * without its evidence (r18's flow created it after the partition
    * commit, leaving a window a retry could double-count through;
    * the r18-era marker semantics still hold for already-written
    * stores). Underscore-prefixed: invisible to every scan; any
    * rewrite of the partition deletes the marker with it, and an
    * EMPTY fold (which stages nothing) never creates one — so a
    * crash-free empty fold can never fabricate a file-less
    * `batch_id=` dir that would break partition-gated readers'
    * schema inference. */
  def foldCommitted(fs: org.apache.hadoop.fs.FileSystem,
      dataPath: String, through: Long): Boolean =
    fs.exists(foldCommitMarker(dataPath, through))

  private def foldStage(dataPath: String, through: Long) =
    TombstoneLog.path(s"$dataPath/_fold_stage_$through")

  /** Publish a fold ATOMICALLY (r19 ADVICE — the residual window):
    * the r18 flow committed the fold partition via dynamic overwrite
    * and THEN created the `_fold_commit` marker; a retry landing in
    * between saw no fold evidence and re-folded the landed fold
    * together with the surviving originals (permanent double-count
    * for the additive stores) — "milliseconds" locally, but a
    * multi-file partition commit is not atomic on object stores, so
    * the window is materially wider there. Now the fold writes
    * COMPLETELY to an underscore-hidden staging sibling, the marker
    * lands INSIDE the stage, and one rename swaps the stage in as the
    * `batch_id=through` partition: every crash point re-enters either
    * as fold-not-started (incomplete stage discarded, originals
    * untouched) or as fold-done ([[recoverFoldStages]] finishes the
    * swap; the in-partition marker then carries the ordinary
    * [[resumeAfterFold]] evidence) — never in between.
    * `write` materializes the folded relation into the given stage
    * dir (each choreography keeps its own file-count convention). */
  def publishFold(fs: org.apache.hadoop.fs.FileSystem, dataPath: String,
      through: Long)(write: String => Unit): Unit = {
    val stage = foldStage(dataPath, through)
    fs.delete(stage, true) // a prior incomplete attempt's litter
    write(stage.toString)
    fs.create(new org.apache.hadoop.fs.Path(stage, "_fold_commit"), true)
      .close()
    val tgt = TombstoneLog.path(s"$dataPath/batch_id=$through")
    if (fs.exists(tgt)) fs.delete(tgt, true)
    require(fs.rename(stage, tgt),
      s"cannot swap fold stage into place at $tgt")
  }

  /** Entry-time recovery for a crashed [[publishFold]] — every
    * compaction choreography calls this FIRST: a COMPLETE stage (its
    * in-stage marker stands) is a landed fold whose swap/watermark/
    * prune tail must finish — idempotently completed here, so the
    * caller's ordinary resumeAfterFold/fresh-fold decision then reads
    * a store in a known state; an INCOMPLETE stage (crash mid-write)
    * is discarded — the originals were never touched, so a fresh fold
    * is safe. A complete stage BELOW the current watermark is litter
    * from a recovery that itself crashed after the watermark write:
    * its content is already inside a higher fold — discard. */
  def recoverFoldStages(fs: org.apache.hadoop.fs.FileSystem,
      dataPath: String): Unit = {
    val root = TombstoneLog.path(dataPath)
    if (!fs.exists(root)) return
    fs.listStatus(root)
      .filter(_.getPath.getName.startsWith("_fold_stage_"))
      .foreach { st =>
        scala.util.Try(st.getPath.getName
          .stripPrefix("_fold_stage_").toLong).toOption match {
          case Some(t) if fs.exists(new org.apache.hadoop.fs.Path(
              st.getPath, "_fold_commit")) &&
              read(fs, dataPath).forall(_ <= t) =>
            val tgt = TombstoneLog.path(s"$dataPath/batch_id=$t")
            if (fs.exists(tgt)) fs.delete(tgt, true)
            require(fs.rename(st.getPath, tgt),
              s"cannot recover fold stage into place at $tgt")
            write(fs, dataPath, t)
            // the prune tail — the one prune both choreographies use
            Stores.pruneThrough(fs, dataPath, t)
          case _ => fs.delete(st.getPath, true)
        }
      }
  }

  /** Compaction ENTRY decision (r18) — the contract that makes a
    * crashed compactThrough's natural retry BE its recovery instead
    * of a silent double-count:
    *
    *  - watermark ABOVE `through` → refuse loudly: batches ≤ watermark
    *    were already folded into one partition, so compacting below
    *    the fold is never meaningful;
    *  - fold evidence at `through` (watermark == through, or the
    *    fold-commit marker stands — the crash hit between fold write
    *    and watermark write) AND pre-fold leftovers below `through`
    *    still standing → the fold already landed and the prune did
    *    not finish: the caller must SKIP the fold phase and run the
    *    idempotent tail phases only (returns true);
    *  - otherwise → fresh fold (returns false). This includes the
    *    fold-evidence-but-no-leftovers case: with the originals
    *    pruned, re-folding is safe for every choreography (the fold
    *    of a fold is itself) and is exactly how a re-compaction at
    *    the same `through` applies erasures that arrived since.
    */
  def resumeAfterFold(fs: org.apache.hadoop.fs.FileSystem,
      dataPath: String, through: Long): Boolean =
    resumeAfterFold(fs, dataPath, through, read(fs, dataPath))

  /** Same decision against an ALREADY-READ watermark — the
    * choreographies need the value again for the fold-region fence
    * below and must not pay a second marker probe. */
  def resumeAfterFold(fs: org.apache.hadoop.fs.FileSystem,
      dataPath: String, through: Long, w: Option[Long]): Boolean = {
    w.foreach(v => require(v <= through,
      s"cannot compact through $through at $dataPath: the fold " +
        s"watermark is already $v — batches <= $v were folded into " +
        "one partition, so compacting below the fold is never " +
        "meaningful (pick through >= the watermark)"))
    (w.contains(through) || foldCommitted(fs, dataPath, through)) &&
      Stores.batchIds(fs, dataPath).exists(_ < through)
  }

  /** The INGEST-side replay-horizon guard: compaction is a replay
    * horizon for batch ids ≤ `through` (every compaction scaladoc's
    * contract) — re-ingesting at or below the fold watermark would
    * resurrect a pruned partition (or clobber the fold itself at ==),
    * and every later read would silently serve duplicate or
    * conflicting rows. Compacting stores call this at their public
    * ingest entry points; compaction's own fold write bypasses it
    * (the fold legitimately writes AT the watermark). */
  def requireIngestAbove(s: org.apache.spark.sql.SparkSession,
      dataPath: String, batchId: Long): Unit =
    requireIngestAbove(dataPath, batchId, read(fsFor(s, dataPath), dataPath))

  /** The same guard against an ALREADY-READ watermark — for ingest
    * paths that need the value for their own decision too (the
    * sketch stores' gated-fold-rebuild probe,
    * [[Stores.requireIngestOrRebuild]]) and must not pay a second
    * marker read per batch. */
  def requireIngestAbove(dataPath: String, batchId: Long,
      watermark: Option[Long]): Unit =
    watermark.foreach(w => require(batchId > w,
      s"ingest batch $batchId is at or below the compaction fold " +
        s"watermark $w at $dataPath: compaction is a replay horizon — " +
        s"batches <= $w were folded, and re-ingesting below the " +
        "watermark would resurrect a pruned partition (replay only " +
        "ids above it, or pick a fresh batch id)"))
}
