package graft.rel

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables._

/** Incremental EXACT aggregate maintenance — the materialized-view
  * member of the engine's store family (`CardinalityStore` = approximate
  * distinct, `KmvStore` = set operations, this = the exact additive
  * aggregates a 100 TB pipeline puts on a dashboard: row counts, sums,
  * averages, extrema per group, maintained per ingest batch without
  * ever rescanning history).
  *
  * Each batch is reduced to per-group PARTIAL aggregates
  * (count / sum / min / max — the classic commutative-semigroup
  * decomposition every distributed aggregate already relies on
  * map-side) and persisted under its own `batch_id=N` partition; the
  * read path merges store rows (groups × batches of them, KBs) into
  * answers identical to a monolithic aggregate over the raw history.
  * This is incremental view maintenance in its simplest, fully-exact
  * form: no sketch error, no re-read, O(groups) state per batch.
  *
  * Exactness across engines and batch splits is engineered, not hoped
  * for: DOUBLE sums are order-dependent (the one non-associative step
  * in the decomposition), so measures are quantized to integer cents
  * with `floor(v*100 + 0.5)` — pure IEEE double ops every engine
  * executes bit-identically — and summed as DECIMAL(38,0), which is
  * exact and associative. The merged sum therefore equals the raw
  * GROUP BY's sum EXACTLY however the history was batched, which is
  * what lets the DuckDB oracle check the STORE path against the raw
  * table (no dump needed — the strongest oracle form in the repo).
  *
  * Replay: sums and counts are additive, NOT idempotent — a
  * redelivered batch would double-count under blind append. The
  * `batch_id` dynamic-partition overwrite makes redelivery a no-op on
  * both the answers and the store's size (the `CardinalityStore`
  * argument; spec-pinned).
  *
  * Generalizes the reference's eager whole-corpus `describe()`-style
  * reporting (/root/reference/src/voice_classifier.py:147 recomputes
  * summary stats over the full frame table every run) to the
  * batch-incremental regime.
  */
object AggStore {

  /** Integer-cents quantization: deterministic (pure IEEE double
    * multiply/add/floor — no decimal rounding-mode divergence between
    * engines) and exact-summable once cast to decimal. */
  private def cents(v: Column): Column = Stores.cents(v)

  /** One batch's per-group partials:
    * (groupCols..., cnt, sum_cents DECIMAL, sum_sq_cents2 DECIMAL,
    * min_val, max_val). The squared-cents sum extends the additive
    * decomposition to second moments — variance from the store with
    * the same bit-exactness argument as the sums (integer squares,
    * decimal addition; cents ≤ ~10^7 → squares ≤ 10^14, and
    * DECIMAL(38,0) holds 10^24 batches of those). */
  def partialBatch(batch: DataFrame, groupCols: Seq[String],
      valueCol: String): DataFrame = {
    val c = cents(col(valueCol))
    batch.groupBy(groupCols.map(col): _*)
      .agg(
        count(col(valueCol)).as("cnt"),
        sum(c.cast(DecimalType(38, 0))).as("sum_cents"),
        sum((c * c).cast(DecimalType(38, 0))).as("sum_sq_cents2"),
        min(col(valueCol)).as("min_val"),
        max(col(valueCol)).as("max_val"))
  }

  /** The ONE fenced store write every mutation goes through (insert,
    * retraction, re-score): the batch's own `batch_id=N` partition
    * under dynamic overwrite. singleFile (the default): the output is
    * group-count rows of a few scalars — one file per batch keeps
    * store files = batches, not batches × shuffle partitions. Callers
    * whose grain is DATA-sized (JoinView's (dim key, attr) partials —
    * a billion-row dimension) pass false and keep natural
    * partitioning with a per-file cap. */
  private[rel] def writeFencedPartials(partials: DataFrame,
      storePath: String, batchId: Long,
      singleFile: Boolean = true,
      compactionFold: Boolean = false): Unit = {
    // the replay-horizon guard: an ingest at or below the fold
    // watermark would resurrect a pruned partition (or clobber the
    // fold at ==); only compaction's own fold write legitimately
    // lands AT the watermark
    if (!compactionFold)
      FoldWatermark.requireIngestAbove(partials.sparkSession, storePath,
        batchId)
    (if (singleFile) partials.withColumn("batch_id", lit(batchId))
        .coalesce(1)
     else partials.withColumn("batch_id", lit(batchId)))
      .write
      .option("partitionOverwriteMode", "dynamic")
      .option("maxRecordsPerFile", 10000000L)
      .partitionBy("batch_id")
      .mode("overwrite").parquet(storePath)
  }

  /** Reduce a batch and write it under its own `batch_id=N` store
    * partition — see the replay paragraph in the object doc. */
  def applyBatch(batch: DataFrame, groupCols: Seq[String], valueCol: String,
      storePath: String, batchId: Long): Unit =
    writeFencedPartials(partialBatch(batch, groupCols, valueCol),
      storePath, batchId)

  /** Merge any relation of partials into final per-group answers —
    * count/sum re-add (exact: decimal cents), min/max re-extremize.
    * sum_val/avg_val are derived from the exact cents total with a
    * fixed double expression tree (cast → /100.0 → /cnt) replicated
    * verbatim in the oracle SQL. */
  def mergePartials(partials: DataFrame, groupCols: Seq[String]): DataFrame = {
    val sumVal = sum("sum_cents").cast("double") / lit(100.0)
    // population variance from the exact moments:
    // ((Σc² − (Σc)²/n) / n) / 100² — every operand is one IEEE round
    // away from an exact integer, then a FIXED double expression tree,
    // so the oracle replicates it bit-for-bit; sqrt is IEEE
    // correctly-rounded, so stddev inherits the exactness
    val n = sum("cnt").cast("double")
    val cs = sum("sum_cents").cast("double")
    val css = sum("sum_sq_cents2").cast("double")
    val varVal = (css - cs * cs / n) / n / lit(10000.0)
    // the n = 0 guard protects the UPSERT path: a fully-retracted
    // group has non-null sum(cnt) = 0, and the per-group division
    // evaluates BEFORE mergeUpsert's n_rows > 0 filter can drop the
    // row — under Spark 4's default ANSI mode that 0/0 THROWS. Groups
    // from plain partials always have n ≥ 1, so the guard is inert on
    // every oracle path (verified: same hashes).
    partials.groupBy(groupCols.map(col): _*)
      .agg(
        sum("cnt").as("n_rows"),
        sumVal.as("sum_val"),
        when(n =!= 0.0, sumVal / sum("cnt")).as("avg_val"),
        when(n =!= 0.0, varVal).as("var_val"),
        when(n =!= 0.0, sqrt(varVal)).as("std_val"),
        min("min_val").as("min_val"),
        max("max_val").as("max_val"))
  }

  /** Read path: merged answers from the store alone — store-sized
    * input (groups × batches rows), never the raw history. */
  def aggFromStore(s: SparkSession, storePath: String,
      groupCols: Seq[String]): DataFrame =
    // leftover fence (r18): sub-watermark partials are a crashed
    // compaction's pre-fold leftovers, already counted in the fold —
    // merging them would double-count until the re-entry recovery runs
    mergePartials(FoldWatermark.excludeFoldedLeftovers(
      s.read.parquet(storePath),
      FoldWatermark.read(s, storePath)), groupCols)

  // ------------------------------------------------------- retraction
  // Keyed delete/re-score for the ADDITIVE (invertible) store — the
  // DESIGN_upsert.md case that needs no tombstone log: a retraction
  // batch is the algebraic inverse of an insert batch (negated count
  // and moment partials), ingested through the SAME partitioned write
  // path with the same replay fence. Re-scoring a key = retract the
  // old rows + insert the new ones, two fenced batches.
  //
  // MIN/MAX are NOT self-maintainable under deletion (removing the
  // extremum would require rescanning survivors — the classic IVM
  // limitation), so retraction rows carry NULL extrema and the upsert
  // read path reports the invertible moments only; the store's
  // min_val/max_val columns remain documented insert-only high-water
  // marks.

  /** The additive inverse of `partialBatch`: ingesting this after the
    * rows were inserted nets them out of every count/sum/moment
    * exactly (integer cents in DECIMAL(38,0) — subtraction is as
    * associative as addition). */
  def retractBatch(batch: DataFrame, groupCols: Seq[String],
      valueCol: String): DataFrame =
    partialBatch(batch, groupCols, valueCol)
      .select(groupCols.map(col) ++ Seq(
        (-col("cnt")).as("cnt"),
        (-col("sum_cents")).as("sum_cents"),
        (-col("sum_sq_cents2")).as("sum_sq_cents2"),
        lit(null).cast(batch.schema(valueCol).dataType).as("min_val"),
        lit(null).cast(batch.schema(valueCol).dataType).as("max_val")): _*)

  /** Write a retraction under its own batch partition — redelivered
    * retractions are no-ops exactly like redelivered inserts. */
  def applyRetraction(batch: DataFrame, groupCols: Seq[String],
      valueCol: String, storePath: String, batchId: Long): Unit =
    writeFencedPartials(retractBatch(batch, groupCols, valueCol),
      storePath, batchId)

  /** Merge under retraction: the invertible moments only (no
    * min/max — see the retraction note), groups netted to zero rows
    * disappear (matching a GROUP BY over the surviving raw rows). */
  def mergeUpsert(partials: DataFrame, groupCols: Seq[String]): DataFrame =
    mergePartials(partials, groupCols)
      .drop("min_val", "max_val")
      .filter(col("n_rows") > 0)

  /** Re-score: replace keyed rows' old values with new ones as ONE
    * netted batch — the DESIGN_upsert.md re-scoring case (a document's
    * quality/LM score changed and its contribution must move, not
    * double-count). The retraction of the old rows and the insertion
    * of the new ones land in the SAME fenced partition, so the upsert
    * is atomic at the partition level: a redelivered upsert overwrites
    * itself, and no reader can ever see the retraction without the
    * insertion (two separate batches would expose that window). */
  def applyRescore(oldRows: DataFrame, newRows: DataFrame,
      groupCols: Seq[String], valueCol: String, storePath: String,
      batchId: Long): Unit =
    writeFencedPartials(
      retractBatch(oldRows, groupCols, valueCol)
        .unionAll(partialBatch(newRows, groupCols, valueCol)),
      storePath, batchId)

  /** Streaming ingest: each micro-batch reduced to partials and written
    * to its own batch_id partition via foreachBatch. At-least-once
    * redelivery replays composable batchIds, and the partition
    * overwrite makes each replay byte-idempotent — no high-water mark
    * needed (contrast the additive heavy-hitter store, whose APPEND
    * sink must fence; here the batch's own partition IS the fence).
    * That fence covers one checkpoint lineage, so the store binds to
    * its first ([[graft.streaming.StreamingOps.bindStoreLineage]]). */
  def aggIngestStream(stream: DataFrame, groupCols: Seq[String],
      valueCol: String, storePath: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row] =
    graft.streaming.StreamingOps.lineageSink(stream) {
      (batch, batchId, lineage) =>
        graft.streaming.StreamingOps.bindStoreLineage(batch.sparkSession,
          storePath, s"agg store at $storePath", lineage)
        applyBatch(batch, groupCols, valueCol, storePath, batchId)
    }

  /** Driver entry: lineitem arrives as 5 ingest batches (l_orderkey
    * mod 5); the merged store answers the per-(returnflag, linestatus)
    * revenue summary. The oracle recomputes the SAME answer from the
    * raw table in one GROUP BY — the store path must match it exactly
    * (count/min/max trivially; sums because cents-decimal addition is
    * associative), proving merged ≡ monolithic against raw data. */
  def nqAggStore(s: SparkSession, d: String): DataFrame = {
    val li = lineitem(s, d)
    val groupCols = Seq("l_returnflag", "l_linestatus")
    val perBatch = (0 until 5).map(b =>
      partialBatch(li.filter(pmod(col("l_orderkey"), lit(5)) === b),
        groupCols, "l_extendedprice"))
    mergePartials(perBatch.reduce(_ unionAll _), groupCols)
      .orderBy("l_returnflag", "l_linestatus")
  }

  val nqAggStoreSql: String =
    """WITH c AS (
      |  SELECT l_returnflag, l_linestatus, l_extendedprice AS v,
      |    CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS cents
      |  FROM lineitem),
      |m AS (
      |  SELECT l_returnflag, l_linestatus,
      |    count(v) AS n_rows,
      |    CAST(CAST(sum(cents) AS DECIMAL(38,0)) AS DOUBLE) AS cs,
      |    CAST(CAST(sum(cents * cents) AS DECIMAL(38,0)) AS DOUBLE) AS css,
      |    CAST(count(v) AS DOUBLE) AS nd,
      |    min(v) AS min_val, max(v) AS max_val
      |  FROM c
      |  GROUP BY l_returnflag, l_linestatus)
      |SELECT l_returnflag, l_linestatus, n_rows,
      |  cs / 100.0 AS sum_val,
      |  cs / 100.0 / n_rows AS avg_val,
      |  (css - cs * cs / nd) / nd / 10000.0 AS var_val,
      |  sqrt((css - cs * cs / nd) / nd / 10000.0) AS std_val,
      |  min_val, max_val
      |FROM m
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** Driver entry (upsert): the 5 insert batches of nq_agg_store, then
    * a keyed delete of the l_orderkey ≡ 3 (mod 17) slice (~6% of rows)
    * as ONE retraction batch. The merged store must equal one GROUP BY
    * over the SURVIVING raw rows exactly — the oracle recomputes from
    * `lineitem WHERE l_orderkey % 17 <> 3`, so any double-count,
    * missed retraction, or broken inverse hash-fails. Extrema are
    * excluded by design (not self-maintainable under deletion). */
  def nqStoreUpsert(s: SparkSession, d: String): DataFrame = {
    val li = lineitem(s, d)
    val groupCols = Seq("l_returnflag", "l_linestatus")
    val perBatch = (0 until 5).map(b =>
      partialBatch(li.filter(pmod(col("l_orderkey"), lit(5)) === b),
        groupCols, "l_extendedprice"))
    val retract = retractBatch(
      li.filter(pmod(col("l_orderkey"), lit(17)) === 3),
      groupCols, "l_extendedprice")
    mergeUpsert((perBatch :+ retract).reduce(_ unionAll _), groupCols)
      .orderBy("l_returnflag", "l_linestatus")
  }

  val nqStoreUpsertSql: String =
    """WITH c AS (
      |  SELECT l_returnflag, l_linestatus, l_extendedprice AS v,
      |    CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS cents
      |  FROM lineitem WHERE l_orderkey % 17 <> 3),
      |m AS (
      |  SELECT l_returnflag, l_linestatus,
      |    count(v) AS n_rows,
      |    CAST(CAST(sum(cents) AS DECIMAL(38,0)) AS DOUBLE) AS cs,
      |    CAST(CAST(sum(cents * cents) AS DECIMAL(38,0)) AS DOUBLE) AS css,
      |    CAST(count(v) AS DOUBLE) AS nd
      |  FROM c
      |  GROUP BY l_returnflag, l_linestatus)
      |SELECT l_returnflag, l_linestatus, n_rows,
      |  cs / 100.0 AS sum_val,
      |  cs / 100.0 / n_rows AS avg_val,
      |  (css - cs * cs / nd) / nd / 10000.0 AS var_val,
      |  sqrt((css - cs * cs / nd) / nd / 10000.0) AS std_val
      |FROM m
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // ------------------------------------------------------- time travel
  /** AS-OF read: merged answers as they stood after batch `asOfBatch`
    * was ingested — later batches are excluded by partition-pruned
    * filter on the store's `batch_id` partition column (the scan lists
    * only the qualifying `batch_id=N` directories; no data file of a
    * later batch is opened). The store's append-only fenced layout
    * gives snapshot reads for free: every historical answer remains
    * derivable because ingest never rewrites prior partitions — the
    * reproducibility contract a training pipeline needs ("which
    * counts did the curation run on LAST week?") without a separate
    * snapshot mechanism. O(groups × asOfBatch+1) input rows.
    *
    * Same semantics over retraction batches: as-of BEFORE a deletion
    * batch reproduces the pre-deletion answers (specs pin this), which
    * is intended for audit; pipelines with erasure obligations must
    * age out pre-deletion batches (compact the store) rather than rely
    * on as-of reads forgetting them.
    *
    * An as-of below the compaction fold watermark fails LOUDLY
    * ([[FoldWatermark]]): its distinguishing partials were folded away
    * and the `batch_id <=` filter would silently serve an empty view. */
  def aggFromStoreAsOf(s: SparkSession, storePath: String,
      groupCols: Seq[String], asOfBatch: Long): DataFrame = {
    // one marker probe: the as-of guard plus the r18 leftover fence
    // (sub-watermark partials are already inside the fold partition)
    val w = FoldWatermark.read(s, storePath)
    FoldWatermark.requireAtOrAbove(storePath, asOfBatch, w)
    mergePartials(
      FoldWatermark.excludeFoldedLeftovers(
          s.read.parquet(storePath), w)
        .filter(col("batch_id") <= asOfBatch),
      groupCols)
  }

  // -------------------------------------------------------- compaction
  /** Horizontal store compaction: re-partialize batches 0..through
    * into ONE `batch_id=through` partition and drop the originals —
    * the small-files answer for a store that ingests thousands of
    * batches (a year of hourly ingest = 8.7k partitions of a few KB;
    * scan listing starts to dominate the read). Answers are preserved
    * EXACTLY: partials merge associatively (the store's founding
    * invariant), and re-partializing is itself a mergePartials whose
    * output re-enters the store in partial form.
    *
    * AS-OF semantics across compaction: snapshots at k ≥ `through`
    * are unchanged; snapshots BELOW the compaction watermark are no
    * longer derivable (their distinguishing partials were folded) —
    * the retention trade every log-structured store makes, and the
    * erasure-compaction step the as-of docs require. Callers pick
    * `through` = the oldest as-of they still need — ENFORCED: the
    * fold persists a [[FoldWatermark]] marker and every as-of read
    * below it fails loudly instead of serving an empty history.
    *
    * Crash safety (re-entrant since r18): the fold MATERIALIZES
    * (collect of groups-sized partials) before touching the store,
    * writes the `batch_id=through` partition under dynamic overwrite,
    * marks it committed, records the [[FoldWatermark]], then prunes
    * the folded partitions. A crash between write and prune used to
    * leave a store whose natural retry double-counted (re-folding the
    * fold together with the surviving originals); now re-entry reads
    * the fold evidence ([[FoldWatermark.resumeAfterFold]]) and runs
    * the prune-only recovery, so re-calling compactThrough IS the
    * crash response. Re-running after a SUCCESSFUL compaction is a
    * no-op either way, and compacting below the watermark refuses
    * loudly. */
  def compactThrough(s: SparkSession, storePath: String,
      groupCols: Seq[String], through: Long,
      singleFile: Boolean = true): Unit = {
    val fs = new org.apache.hadoop.fs.Path(storePath)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    // a crashed ATOMIC fold publish recovers first (r19): a complete
    // stage finishes its swap/watermark/prune tail, an incomplete one
    // discards — so the decision below always reads a known state
    FoldWatermark.recoverFoldStages(fs, storePath)
    // re-entry after a crash between fold and prune (r18): the fold
    // already landed (watermark == through, or the fold-commit marker
    // stands), so re-running it over fold + surviving originals would
    // double-count every pre-fold batch's partials — the retry IS the
    // recovery: raise the watermark if the crash preceded it, prune,
    // done. A watermark ABOVE `through` refuses loudly inside
    // resumeAfterFold (compacting below the fold is never meaningful).
    val wm = FoldWatermark.read(fs, storePath)
    if (FoldWatermark.resumeAfterFold(fs, storePath, through, wm)) {
      FoldWatermark.write(fs, storePath, through)
      pruneThrough(s, storePath, through)
      return
    }
    // fold region leftover-fenced (r18 review): a fresh fold at a
    // HIGHER through than a crashed compaction must not re-fold that
    // crash's sub-watermark leftovers with the fold containing them
    val store = FoldWatermark.excludeFoldedLeftovers(
      s.read.parquet(storePath), wm)
    val old = store.filter(col("batch_id") <= through)
    // fold: counts/sums re-add, extrema re-extremize — output has the
    // exact partialBatch schema, so reads can't tell it from an ingest.
    // truncate pins the fold RESULT before the overwrite below
    // rewrites one of its input partitions (self-referential write)
    val folded = graft.Checkpointing.truncate(old
      .groupBy(groupCols.map(col): _*)
      .agg(
        sum("cnt").as("cnt"),
        sum("sum_cents").cast(DecimalType(38, 0)).as("sum_cents"),
        sum("sum_sq_cents2").cast(DecimalType(38, 0)).as("sum_sq_cents2"),
        min("min_val").as("min_val"),
        max("max_val").as("max_val")))
    // atomic publish (r19): stage + in-stage marker + one rename —
    // no window where the fold stands without its commit evidence
    FoldWatermark.publishFold(fs, storePath, through) { stage =>
      (if (singleFile) folded.coalesce(1) else folded)
        .write.option("maxRecordsPerFile", 10000000L)
        .mode("overwrite").parquet(stage)
    }
    // watermark, then prune: every crash window resumes as fold-done
    // on re-entry (the swapped-in partition carries the marker) or
    // refuses a still-derivable snapshot (conservative) — never
    // serves a partial answer and never re-folds on retry
    FoldWatermark.write(fs, storePath, through)
    pruneThrough(s, storePath, through)
  }

  /** Delete the `batch_id < through` partitions — compactThrough's
    * second phase and its crash recovery (idempotent: a missing
    * partition is a no-op). */
  def pruneThrough(s: SparkSession, storePath: String,
      through: Long): Unit = {
    // list-then-delete, never iterate candidate ids: applyBatch accepts
    // ARBITRARY Long batch ids (epoch millis are a natural scheme), and
    // a `(0L until through)` loop over a sparse id space would issue
    // billions of no-op deletes — an effective hang. Listing touches
    // only partitions that exist (and is cheaper for dense ids too).
    val p = new org.apache.hadoop.fs.Path(storePath)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.listStatus(p).foreach { st =>
      val n = st.getPath.getName
      if (n.startsWith("batch_id=") &&
          scala.util.Try(n.stripPrefix("batch_id=").toLong).toOption
            .exists(_ < through))
        fs.delete(st.getPath, true)
    }
  }

  /** DIFF read: merged answers over batches in (fromBatch, toBatch]
    * alone — "what did the last ingest window add", the delta
    * companion to [[aggFromStoreAsOf]]. For the additive moments the
    * diff IS the contribution of those batches' raw rows (exact);
    * min_val/max_val are the extrema WITHIN the window, not a delta
    * (extrema don't subtract). Same partition-pruned scan shape. */
  def aggFromStoreBetween(s: SparkSession, storePath: String,
      groupCols: Seq[String], fromBatch: Long, toBatch: Long): DataFrame = {
    require(fromBatch <= toBatch,
      s"aggFromStoreBetween: fromBatch $fromBatch > toBatch $toBatch")
    // the LOWER bound carries the watermark obligation: a window
    // opening below the fold would include the batch_id=watermark fold
    // partition, leaking every folded batch's contribution into the
    // diff (fromBatch == watermark is fine — `batch_id >` excludes the
    // fold partition exactly)
    FoldWatermark.requireAtOrAbove(s, storePath, fromBatch)
    mergePartials(
      s.read.parquet(storePath)
        .filter(col("batch_id") > fromBatch && col("batch_id") <= toBatch),
      groupCols)
  }

  private val AsofGroupCols = Seq("l_returnflag", "l_linestatus")

  /** The shared 5-batch lineitem store behind nq_agg_asof and
    * nq_agg_diff: ONE builder, memoized per immutable driver dir
    * (nq_agg_asof then measures the snapshot READ, not 5 batch writes).
    * On a mutable dir each entry builds exactly one throwaway store. */
  private def asofStore(s: SparkSession, d: String): String =
    graft.FixtureMemo.store("aggasof", d) { root =>
      val path = s"$root/agg_store"
      val li = lineitem(s, d)
      (0 until 5).foreach(b => applyBatch(
        li.filter(pmod(col("l_orderkey"), lit(5)) === b),
        AsofGroupCols, "l_extendedprice", path, b.toLong))
      path
    }

  /** Driver entry (as-of): 5 fenced insert batches (l_orderkey mod 5),
    * then a snapshot read AS OF batch 2. The oracle re-aggregates the
    * raw rows of batches 0-2 (`l_orderkey % 5 <= 2`) — any leakage
    * from batches 3/4 into the snapshot, or partition-pruning bug
    * dropping a qualifying batch, hash-fails. Extrema included: as-of
    * reads see insert-only history, where min/max are exact. */
  def nqAggAsof(s: SparkSession, d: String): DataFrame =
    aggFromStoreAsOf(s, asofStore(s, d), AsofGroupCols, asOfBatch = 2L)
      .orderBy("l_returnflag", "l_linestatus")

  /** Driver entry (diff): the same memoized 5-batch store, read as the
    * delta of batches (2, 4] — the oracle re-aggregates the raw rows
    * of batches 3-4 only, so a window leak in either direction
    * hash-fails. */
  def nqAggDiff(s: SparkSession, d: String): DataFrame =
    aggFromStoreBetween(s, asofStore(s, d), AsofGroupCols,
        fromBatch = 2L, toBatch = 4L)
      .orderBy("l_returnflag", "l_linestatus")

  val nqAggDiffSql: String =
    """WITH c AS (
      |  SELECT l_returnflag, l_linestatus, l_extendedprice AS v,
      |    CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS cents
      |  FROM lineitem WHERE l_orderkey % 5 IN (3, 4)),
      |m AS (
      |  SELECT l_returnflag, l_linestatus,
      |    count(v) AS n_rows,
      |    CAST(CAST(sum(cents) AS DECIMAL(38,0)) AS DOUBLE) AS cs,
      |    CAST(CAST(sum(cents * cents) AS DECIMAL(38,0)) AS DOUBLE) AS css,
      |    CAST(count(v) AS DOUBLE) AS nd,
      |    min(v) AS min_val, max(v) AS max_val
      |  FROM c
      |  GROUP BY l_returnflag, l_linestatus)
      |SELECT l_returnflag, l_linestatus, n_rows,
      |  cs / 100.0 AS sum_val,
      |  cs / 100.0 / n_rows AS avg_val,
      |  (css - cs * cs / nd) / nd / 10000.0 AS var_val,
      |  sqrt((css - cs * cs / nd) / nd / 10000.0) AS std_val,
      |  min_val, max_val
      |FROM m
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  val nqAggAsofSql: String =
    """WITH c AS (
      |  SELECT l_returnflag, l_linestatus, l_extendedprice AS v,
      |    CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS cents
      |  FROM lineitem WHERE l_orderkey % 5 <= 2),
      |m AS (
      |  SELECT l_returnflag, l_linestatus,
      |    count(v) AS n_rows,
      |    CAST(CAST(sum(cents) AS DECIMAL(38,0)) AS DOUBLE) AS cs,
      |    CAST(CAST(sum(cents * cents) AS DECIMAL(38,0)) AS DOUBLE) AS css,
      |    CAST(count(v) AS DOUBLE) AS nd,
      |    min(v) AS min_val, max(v) AS max_val
      |  FROM c
      |  GROUP BY l_returnflag, l_linestatus)
      |SELECT l_returnflag, l_linestatus, n_rows,
      |  cs / 100.0 AS sum_val,
      |  cs / 100.0 / n_rows AS avg_val,
      |  (css - cs * cs / nd) / nd / 10000.0 AS var_val,
      |  sqrt((css - cs * cs / nd) / nd / 10000.0) AS std_val,
      |  min_val, max_val
      |FROM m
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "nq_agg_store" -> (nqAggStore _),
    "nq_store_upsert" -> (nqStoreUpsert _),
    "nq_agg_asof" -> (nqAggAsof _),
    "nq_agg_diff" -> (nqAggDiff _))

  val oracle: Map[String, String] = Map(
    "nq_agg_store" -> nqAggStoreSql,
    "nq_store_upsert" -> nqStoreUpsertSql,
    "nq_agg_asof" -> nqAggAsofSql,
    "nq_agg_diff" -> nqAggDiffSql)
}
