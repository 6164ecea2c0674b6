package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming drift monitor — [[graft.rel.Drift]]'s PSI scored per
  * micro-batch against a FROZEN reference: the production shape
  * (reference distribution fixed at calibration time — the ingest
  * gate's frozen-thresholds contract again — then every arriving
  * batch scored against it; a drifting source shows up in the stored
  * PSI series within one trigger). Sits beside
  * [[ExpectationsStream]]: expectations catch rule violations, PSI
  * catches the distribution shifts no rule anticipated.
  *
  * The reference is collapsed to `nBins + 3` numbers at freeze time
  * (bin counts + vmin/vmax/total — a bounded driver-side read of an
  * ALREADY-AGGREGATED nBins-row frame, the codebook/centroid
  * precedent), so per-trigger cost is ONE map-side-combined aggregate
  * of the batch plus a 10-row literal join — the reference is never
  * rescanned, no state store grows.
  *
  * Exactly-once: the [[ExpectationsStream]] discipline verbatim —
  * deterministic per-batch file names (replay overwrites identical
  * content), `_lineage` fence against fresh-checkpoint id restarts.
  */
object DriftStream {

  /** The calibration artifact: everything PSI needs from the
    * reference window. */
  final case class FrozenReference(vmin: Double, vmax: Double,
      refTot: Long, binCounts: Array[Long], eps: Double) {
    def nBins: Int = binCounts.length
  }

  /** Freeze a reference window: its equal-width bin layout and
    * counts. One pass over the reference (the same bin tree as
    * [[graft.rel.Drift.psiBins]]). */
  def freezeReference(ref: DataFrame, valueCol: String,
      nBins: Int = 10, eps: Double = 1e-6): FrozenReference = {
    require(nBins >= 2, s"nBins must be >= 2, got $nBins")
    val v = col(valueCol)
    val stats = ref.filter(v.isNotNull)
      .agg(min(v).as("vmin"), max(v).as("vmax"), count(lit(1)).as("n"))
      .head()
    require(stats.getLong(2) > 0,
      "cannot freeze an empty reference window")
    val (vmin, vmax) = (stats.getDouble(0), stats.getDouble(1))
    val counts = ref.filter(v.isNotNull)
      .groupBy(binExpr(v, vmin, vmax, nBins).as("bin"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    FrozenReference(vmin, vmax, stats.getLong(2),
      Array.tabulate(nBins)(counts.getOrElse(_, 0L)), eps)
  }

  /** The shared bin tree over literal bounds (Drift's convention:
    * degenerate reference → bin 0; clamp to [0, nBins-1]). */
  private def binExpr(v: org.apache.spark.sql.Column, vmin: Double,
      vmax: Double, nBins: Int): org.apache.spark.sql.Column =
    if (vmax == vmin) lit(0)
    else least(greatest(
      floor((v - lit(vmin)) / lit((vmax - vmin) / nBins)),
      lit(0.0)), lit(nBins - 1.0)).cast("int")

  /** Streaming sink: score each micro-batch's `valueCol` distribution
    * against the frozen reference; append per-batch per-bin PSI rows
    * (batch_id, bin, ref_n, cur_n, psi_term) to `metricsPath`. */
  def psiIngestStream(rows: DataFrame, valueCol: String,
      frozen: FrozenReference, metricsPath: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row] =
    StreamingOps.lineageSink(rows) { (batch, batchId, lineage) =>
      applyPsiBatch(batch, batchId, valueCol, frozen, metricsPath, lineage)
    }

  /** One trigger, exposed for replay-semantics tests / backfill. */
  private[graft] def applyPsiBatch(batch: DataFrame, batchId: Long,
      valueCol: String, frozen: FrozenReference, metricsPath: String,
      lineage: String): Unit = {
    val s = batch.sparkSession
    StreamingOps.requireAtomicRename(
      new org.apache.hadoop.fs.Path(metricsPath)
        .getFileSystem(s.sparkContext.hadoopConfiguration),
      s"PSI drift metric store at $metricsPath")
    StreamingOps.bindStoreLineage(s, metricsPath,
      s"PSI drift metric store at $metricsPath", lineage)
    StreamingOps.writeSingleFile(
      scoreBatch(batch, valueCol, frozen)
        .withColumn("batch_id", lit(batchId)),
      metricsPath, s"batch-$batchId.parquet")
  }

  /** Score one batch against the frozen reference (also the batch
    * backfill entry): per-bin PSI rows, always exactly nBins of
    * them. An empty batch clamps to eps per Drift's convention. */
  def scoreBatch(batch: DataFrame, valueCol: String,
      frozen: FrozenReference): DataFrame = {
    val s = batch.sparkSession
    val v = col(valueCol)
    // the non-null bin filter is the one the bin join infers: stating it
    // keeps both references to `counted` one plan (one exchange, reused)
    val counted = batch.filter(v.isNotNull)
      .groupBy(binExpr(v, frozen.vmin, frozen.vmax, frozen.nBins)
        .as("bin"))
      .agg(count(lit(1)).as("cur_n"))
      .filter(col("bin").isNotNull)
    val refRows = frozen.binCounts.zipWithIndex
      .map { case (n, b) => (b, n) }.toSeq
    import s.implicits._
    val frame = refRows.toDF("bin", "ref_n")
    // one global sum over the ≤ nBins binned rows, cross-joined back
    // (a literal-keyed window is an unpartitioned one); empty batch → 0
    val curTot = counted.agg(coalesce(sum("cur_n"), lit(0L)).as("cur_tot"))
    val eps = frozen.eps
    val p = greatest(col("ref_n").cast("double") / lit(frozen.refTot),
      lit(eps))
    val q = when(col("cur_tot") === 0, lit(eps)).otherwise(
      greatest(col("cur_n").cast("double") / col("cur_tot"), lit(eps)))
    frame.join(counted, Seq("bin"), "left")
      .na.fill(0L, Seq("cur_n"))
      .crossJoin(curTot)
      .withColumn("psi_term", round((p - q) * log(p / q), 6))
      .select(col("bin"), col("ref_n"), col("cur_n"), col("psi_term"))
      .orderBy("bin")
  }

  /** The stored per-batch PSI series; `sum(psi_term) GROUP BY
    * batch_id` is the alarm line. */
  def psiHistory(s: SparkSession, metricsPath: String): DataFrame =
    s.read.parquet(metricsPath).orderBy("batch_id", "bin")
}
