package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.rel.Expectations
import graft.rel.Expectations.{Check, Unique}

/** Data-quality monitoring over continuous ingest — the streaming
  * face of [[graft.rel.Expectations]] (Deequ's "metrics repository"
  * + incremental-computation idea, Schelter 2018 §3.3): every
  * micro-batch is scored by the SAME fused one-scan aggregate as the
  * batch operator, and the raw additive partials (compliant, n) land
  * in a per-batch metric store. Because every supported check's
  * compliant count is ADDITIVE over disjoint batches, the roll-up of
  * the store is bit-identical to running the batch suite over the
  * union of all ingested data — merge ≡ monolithic, the engine's
  * standard store contract, spec-pinned. Unique is rejected loudly:
  * count-distinct does not sum (its incremental form is the KMV
  * sketch store / rebuild path, not this store).
  *
  * The per-batch history this store accumulates is itself the input
  * to trend monitoring (feed a metric's batch series to
  * [[graft.rel.Drift.psiBins]] or q90's OLS trend) — quality
  * regressions show up as drift in the stored series.
  *
  * Exactly-once: deterministic per-batch file names via the
  * tmp+rename single-file writer (replay overwrites identical
  * content — a no-op), plus the `_lineage` fence against
  * fresh-checkpoint batch-id restarts. Per-trigger cost: one fused
  * aggregate scan of the BATCH (+ one anti-join per referential
  * check against its static dimension) and a handful-of-rows write —
  * nothing rescans history.
  */
object ExpectationsStream {

  /** Reject non-additive checks up front. */
  private def requireAdditive(checks: Seq[Check]): Unit =
    checks.foreach {
      case u: Unique => throw new IllegalArgumentException(
        s"${u.name}: Unique is not additive across batches (count " +
          "distinct does not sum) — monitor uniqueness with the KMV " +
          "cardinality store or the batch operator instead")
      case _ => ()
    }

  /** Streaming sink: score each micro-batch of `rows` (bound to the
    * check table name `tableName`) and append the per-batch metric
    * rows to `metricsPath`. `staticTables` supplies referential-check
    * dimensions (read once per trigger, batch-sized anti-joins). */
  def expectationsIngestStream(rows: DataFrame, tableName: String,
      checks: Seq[Check], staticTables: Map[String, DataFrame],
      metricsPath: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row] = {
    requireAdditive(checks)
    StreamingOps.lineageSink(rows) { (batch, batchId, lineage) =>
      applyExpectationsBatch(batch, batchId, tableName, checks,
        staticTables, metricsPath, lineage)
    }
  }

  /** One trigger, exposed for replay-semantics tests and for batch
    * (non-streaming) backfill with an explicit lineage. */
  private[graft] def applyExpectationsBatch(batch: DataFrame,
      batchId: Long, tableName: String, checks: Seq[Check],
      staticTables: Map[String, DataFrame], metricsPath: String,
      lineage: String): Unit = {
    requireAdditive(checks)
    val s = batch.sparkSession
    graft.rel.Stores.requireAtomicRename(
      new org.apache.hadoop.fs.Path(metricsPath)
        .getFileSystem(s.sparkContext.hadoopConfiguration),
      s"expectations metric store at $metricsPath")
    StreamingOps.bindStoreLineage(s, metricsPath,
      s"expectations metric store at $metricsPath", lineage)
    val raw = Expectations.metrics(
      staticTables + (tableName -> batch), checks)
      .withColumn("batch_id", lit(batchId))
    StreamingOps.writeSingleFile(raw, metricsPath,
      s"batch-$batchId.parquet")
  }

  /** The per-batch metric history — the monitoring time series. */
  def metricHistory(s: SparkSession, metricsPath: String): DataFrame =
    s.read.parquet(metricsPath)
      .orderBy("batch_id", "check_name")

  /** Roll-up over all ingested batches: sums the additive partials
    * and finalizes — bit-identical to the batch suite over the union
    * of every ingested row (merge ≡ monolithic, spec-pinned). */
  def expectationsFromStore(s: SparkSession,
      metricsPath: String): DataFrame =
    Expectations.finalize(
      s.read.parquet(metricsPath)
        .groupBy("check_name", "check_type")
        .agg(sum("compliant").as("compliant"), sum("n").as("n")))
}
