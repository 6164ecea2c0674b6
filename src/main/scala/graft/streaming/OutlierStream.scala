package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming outlier screen — [[graft.rel.Outliers]]' median/MAD
  * modified z-score with the scale frozen at calibration time,
  * completing the streaming monitoring triad (expectations = declared
  * rules, PSI = distribution shifts, this = row-level anomalies).
  * Freezing is the point, not a compromise: an outlier screen whose
  * median/MAD move with each batch would let a slow poisoning drift
  * re-center the scale around itself (the robustness argument of
  * Iglewicz & Hoaglin applied over time); the frozen reference is the
  * same calibration-artifact contract as [[DriftStream]]'s bins and
  * the ingest gate's thresholds — and [[DriftStream]] is exactly the
  * alarm that says when the reference itself needs re-freezing.
  *
  * Per-trigger cost: one narrow filter over the batch against the
  * broadcast (group → med, mad) table (group-count-bounded — the
  * codebook precedent) and a flagged-rows write; nothing rescans
  * history, no state grows. Groups unseen at freeze time are NOT
  * scored (no scale exists for them) — they surface through the
  * per-batch summary's `scored = false` rows instead of being
  * silently dropped.
  *
  * Exactly-once: the [[ExpectationsStream]]/[[DriftStream]]
  * discipline — deterministic per-batch file names + `_lineage`
  * fence.
  */
object OutlierStream {

  /** Calibration artifact: per-group robust location/scale. Groups
    * with MAD = 0 are excluded (no scale — the batch operator's
    * documented contract). */
  def freezeRobustStats(ref: DataFrame, groupCol: String,
      valueCol: String): DataFrame = {
    val v = col(valueCol)
    val med = ref.filter(v.isNotNull).groupBy(groupCol)
      .agg(expr(s"percentile($valueCol, 0.5)").as("med"))
    ref.filter(v.isNotNull)
      .join(broadcast(med), Seq(groupCol))
      .groupBy(groupCol, "med")
      .agg(expr(s"percentile(abs($valueCol - med), 0.5)").as("mad"))
      .filter(col("mad") > 0.0)
      .select(groupCol, "med", "mad")
  }

  /** Score one batch against the frozen stats: the flagged rows
    * (group, id, value, mz) plus null-scale rows excluded. */
  def scoreBatch(batch: DataFrame, frozen: DataFrame, groupCol: String,
      idCol: String, valueCol: String,
      threshold: Double = 3.5): DataFrame = {
    val v = col(valueCol)
    batch.filter(v.isNotNull)
      .join(broadcast(frozen), Seq(groupCol))
      .withColumn("mz",
        round(lit(0.6745) * (v - col("med")) / col("mad"), 4))
      .filter(abs(col("mz")) > threshold)
      .select(col(groupCol), col(idCol), v, col("mz"))
  }

  /** Per-batch monitoring summary: every group in the batch with its
    * row count, flagged count, and whether it was scorable at all
    * (`scored = false` ⇔ the group had no frozen scale). */
  def summarizeBatch(batch: DataFrame, frozen: DataFrame,
      groupCol: String, idCol: String, valueCol: String,
      threshold: Double = 3.5): DataFrame = {
    val v = col(valueCol)
    val flagged = scoreBatch(batch, frozen, groupCol, idCol, valueCol,
      threshold).groupBy(groupCol).agg(count(lit(1)).as("n_flagged"))
    batch.filter(v.isNotNull)
      .groupBy(groupCol).agg(count(lit(1)).as("n_rows"))
      .join(broadcast(frozen.select(col(groupCol),
        lit(true).as("scored"))), Seq(groupCol), "left")
      .join(flagged, Seq(groupCol), "left")
      .select(col(groupCol), col("n_rows"),
        coalesce(col("n_flagged"), lit(0L)).as("n_flagged"),
        coalesce(col("scored"), lit(false)).as("scored"))
  }

  /** Streaming sink: per trigger, append the flagged rows under
    * `<path>/rows/` and the per-group summary (including UNSCORED
    * groups — ones with no frozen scale) under `<path>/summary/`,
    * both fenced by the ONE `_lineage` marker at `<path>`. */
  def outlierIngestStream(rows: DataFrame, frozen: DataFrame,
      groupCol: String, idCol: String, valueCol: String,
      flaggedPath: String, threshold: Double = 3.5)
      : org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row] =
    StreamingOps.lineageSink(rows) { (batch, batchId, lineage) =>
      applyOutlierBatch(batch, batchId, frozen, groupCol, idCol,
        valueCol, flaggedPath, threshold, lineage)
    }

  /** One trigger, exposed for replay tests / backfill. */
  private[graft] def applyOutlierBatch(batch: DataFrame, batchId: Long,
      frozen: DataFrame, groupCol: String, idCol: String,
      valueCol: String, flaggedPath: String, threshold: Double = 3.5,
      lineage: String): Unit = {
    val s = batch.sparkSession
    StreamingOps.requireAtomicRename(
      new org.apache.hadoop.fs.Path(flaggedPath)
        .getFileSystem(s.sparkContext.hadoopConfiguration),
      s"outlier store at $flaggedPath")
    StreamingOps.bindStoreLineage(s, flaggedPath,
      s"outlier store at $flaggedPath", lineage)
    // the batch feeds both writes; materialize so the scan (and any
    // upstream source read) runs once, not once per output
    val b = graft.Checkpointing.truncate(batch)
    StreamingOps.writeSingleFile(
      scoreBatch(b, frozen, groupCol, idCol, valueCol, threshold)
        .withColumn("batch_id", lit(batchId)),
      s"$flaggedPath/rows", s"batch-$batchId.parquet")
    StreamingOps.writeSingleFile(
      summarizeBatch(b, frozen, groupCol, idCol, valueCol, threshold)
        .withColumn("batch_id", lit(batchId)),
      s"$flaggedPath/summary", s"batch-$batchId.parquet")
  }

  /** The accumulated flagged-row history. */
  def flaggedHistory(s: SparkSession, flaggedPath: String): DataFrame =
    s.read.parquet(s"$flaggedPath/rows").orderBy("batch_id")

  /** The per-batch per-group summary series (n_unscored monitoring:
    * `scored = false` rows are the groups the frozen reference has
    * never seen). */
  def summaryHistory(s: SparkSession, flaggedPath: String): DataFrame =
    s.read.parquet(s"$flaggedPath/summary").orderBy("batch_id")
}
