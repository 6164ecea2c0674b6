package graft.rel

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Incremental KMV (theta) sketch store — the set-operations member of
  * the store family (HLL `CardinalityStore` answers only "how many
  * distinct"; this one also answers "how many IN COMMON"): per-ingest-
  * batch KMV sketches persisted per group, merged at read time into
  * corpus-wide distinct AND cross-group intersection estimates without
  * rescanning history — the audience-overlap query a 100 TB event
  * pipeline cannot re-read raw data for.
  *
  * The merge is set-union-then-truncate over the retained hash values —
  * commutative, associative, IDEMPOTENT, and (unlike HLL registers)
  * EXACTLY equal to the monolithic sketch of the full corpus: the k
  * smallest distinct values of a union are a pure function of the
  * inputs, whatever the batch split (spec-pinned as exact equality,
  * where the HLL store's spec can only pin estimate equality).
  * Idempotence means at-least-once delivery needs no batch-id fence;
  * the store still partitions by batch_id with dynamic overwrite so a
  * redelivered batch is a no-op on the store's SIZE too (the
  * CardinalityStore argument).
  *
  * Merging re-uses the aggregate itself: a sketch's values ARE hashes,
  * so `kmv_sketch` over the exploded per-batch sketches IS the
  * union-truncate — no second code path to keep correct.
  */
object KmvStore {

  /** One batch's per-group sketches: (groupCols..., sk ARRAY<BIGINT>). */
  def sketchBatch(batch: DataFrame, groupCols: Seq[String],
      hashCol: String, k: Int): DataFrame = {
    graft.functions.VecFunctions.register(batch.sparkSession)
    batch.groupBy(groupCols.map(col): _*)
      .agg(expr(s"kmv_sketch(`$hashCol`, $k)").as("sk"))
  }

  /** Sketch a batch into its own `batch_id=N` store partition
    * (dynamic overwrite → replay-stable size; see object doc).
    *
    * Replay-horizon guard (r18): min-k idempotence covers replays
    * strictly BELOW the fold watermark, but a redelivery AT it would
    * dynamic-overwrite the fold partition with one batch's k-mins,
    * dropping all folded history — the CardinalityStore hazard. Same
    * pattern: refuse `batchId <=` watermark except the gated-fold
    * rebuild at == (which must overwrite the fold in place). */
  def applyBatch(batch: DataFrame, groupCols: Seq[String], hashCol: String,
      storePath: String, batchId: Long, k: Int): Unit = {
    val s = batch.sparkSession
    val wm = FoldWatermark.read(s, storePath)
    val gatedFoldRebuild = wm.contains(batchId) &&
      Tombstones.gatedBatches(s, storePath).contains(batchId)
    if (!gatedFoldRebuild)
      FoldWatermark.requireIngestAbove(storePath, batchId, wm)
    sketchBatch(batch, groupCols, hashCol, k)
      .withColumn("batch_id", lit(batchId))
      .coalesce(1).write
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .mode("overwrite").parquet(storePath)
  }

  /** Merge a (groupCols..., sk) relation across batches: explode the
    * retained values back to hashes and re-run the aggregate — the
    * union-truncate by construction. */
  def mergeSketches(sketches: DataFrame, groupCols: Seq[String],
      k: Int): DataFrame = {
    graft.functions.VecFunctions.register(sketches.sparkSession)
    sketches
      .select(groupCols.map(col) :+ explode(col("sk")).as("h"): _*)
      .groupBy(groupCols.map(col): _*)
      .agg(expr(s"kmv_sketch(h, $k)").as("sk"))
  }

  /** Horizontal compaction: batches ≤ `through` fold into ONE
    * partition via the store's own union-truncate merge — EXACTLY
    * answer-invariant (the k smallest distinct hashes of a union are
    * a pure function of the inputs, whatever the fold structure;
    * spec-pinned as set equality). Shared choreography:
    * [[Stores.compactSketchesThrough]] (gate refusal, fold watermark,
    * idempotent prune). Ingest at or below the watermark is refused
    * by [[applyBatch]] (r18) — idempotence covers sub-watermark
    * replays' answers, but a redelivery AT the watermark would
    * overwrite the fold itself; the gated-fold rebuild at == stays
    * the one permitted exception, family-wide. */
  def compactThrough(s: SparkSession, storePath: String,
      groupCols: Seq[String], k: Int, through: Long): Unit =
    Stores.compactSketchesThrough(s, storePath, through)(
      mergeSketches(_, groupCols, k))

  /** Read path: per-group merged sketches from the store — store-sized
    * input (groups × batches rows of ≤ k longs), never raw history.
    * Batches gated by a key-level delete ([[Tombstones.gateBatches]] —
    * a min-k set cannot subtract a key) are excluded until rebuilt
    * clean via [[applyBatch]] + [[Tombstones.ungateBatch]]. */
  def sketchesFromStore(s: SparkSession, storePath: String,
      groupCols: Seq[String], k: Int,
      asOfBatch: Option[Long] = None): DataFrame =
    mergeSketches(
      Tombstones.filterGated(
        CardinalityStore.asOfRead(s, storePath, asOfBatch),
        storePath),
      groupCols, k)

  // one persisted store per immutable source dir, process lifetime —
  // the store contract is sketch-once / query-many (q81's memo policy)
  private def eventStore(s: SparkSession, d: String, k: Int): String =
    graft.FixtureMemo.store("kmvstore", d) { root =>
      val path = s"$root/kmv.parquet"
      val ev = events(s, d).select(col("event_id"), col("event_type"),
        xxhash64(col("user_id"), lit(42L)).as("h"))
      (0 until 5).foreach { b =>
        applyBatch(ev.filter(pmod(col("event_id"), lit(5)) === b),
          Seq("event_type"), "h", path, b.toLong, k)
      }
      path
    }

  /** Driver entry: events ingested as 5 batches (event_id mod 5) into a
    * persisted per-type KMV store; the answer — distinct users SHARED
    * by each event-type pair — comes from the merged sketches alone.
    * Hard-oracled from the raw events table: merged-store sketches
    * equal the monolithic sketch EXACTLY (the KMV merge property,
    * spec-pinned), so DuckDB recomputes the same estimates via the
    * XXH64 replica without simulating batches. */
  def nqKmvStore(s: SparkSession, d: String, k: Int = 64): DataFrame = {
    val store = eventStore(s, d, k)
    ApproxQueries.intersectSketches(
      sketchesFromStore(s, store, Seq("event_type"), k),
      "event_type", k, "type_a", "type_b", "est_common_users")
  }

  // Oracle: XXH64(user_id, 42) via Mixing's validated two-round replica
  // over events, signed-order k-smallest-distinct per type, then the
  // identical θ/intersection arithmetic (ApproxQueries' chain shapes).
  private def storeSql(k: Int): String =
    graft.text.Mixing.xxh64CtesOver("events", "user_id", ", event_type") +
      s""",
       |hs0 AS (
       |  SELECT DISTINCT event_type,
       |    CASE WHEN hh >= 9223372036854775808
       |      THEN (hh::HUGEINT - 18446744073709551616)::BIGINT
       |      ELSE hh::BIGINT END AS hs
       |  FROM r2h),
       |rk AS (
       |  SELECT event_type, hs, row_number() OVER (
       |    PARTITION BY event_type ORDER BY hs) AS rn
       |  FROM hs0),
       |sk AS (SELECT event_type, hs FROM rk WHERE rn <= $k),
       |agg AS (SELECT event_type, count(*) AS m, max(hs) AS kth
       |        FROM sk GROUP BY 1),
       |th AS (
       |  SELECT a.event_type AS type_a, b.event_type AS type_b,
       |    least(
       |      CASE WHEN a.m < $k THEN 1.0
       |        ELSE (a.kth::DOUBLE + 9223372036854775808.0)
       |          / 18446744073709551616.0 END,
       |      CASE WHEN b.m < $k THEN 1.0
       |        ELSE (b.kth::DOUBLE + 9223372036854775808.0)
       |          / 18446744073709551616.0 END) AS theta
       |  FROM agg a JOIN agg b ON a.event_type < b.event_type),
       |com AS (
       |  SELECT t.type_a, t.type_b, count(*) AS c
       |  FROM th t
       |  JOIN sk s1 ON s1.event_type = t.type_a
       |  JOIN sk s2 ON s2.event_type = t.type_b AND s2.hs = s1.hs
       |  WHERE (s1.hs::DOUBLE + 9223372036854775808.0)
       |          / 18446744073709551616.0 < t.theta
       |  GROUP BY 1, 2)
       |SELECT t.type_a, t.type_b,
       |  round(coalesce(c.c, 0)::DOUBLE / t.theta, 4) AS est_common_users
       |FROM th t LEFT JOIN com c
       |  ON c.type_a = t.type_a AND c.type_b = t.type_b
       |ORDER BY t.type_a, t.type_b""".stripMargin

  /** Streaming ingest of the store: each micro-batch sketched into its
    * own batch_id partition via foreachBatch. Like the HLL store —
    * and unlike the additive heavy-hitter counts — the union-truncate
    * merge is idempotent, so at-least-once delivery composes into
    * exactly-once sketches with NO batch-id fence; dynamic overwrite
    * additionally keeps a replayed trigger a no-op on store size. */
  def kmvStream(stream: DataFrame, groupCols: Seq[String], hashCol: String,
      storePath: String, k: Int)
      : org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row] =
    graft.streaming.StreamingOps.lineageSink(stream) {
      (batch, batchId, lineage) =>
        graft.streaming.StreamingOps.bindStoreLineage(batch.sparkSession,
          storePath, s"KMV store at $storePath", lineage)
        applyBatch(batch, groupCols, hashCol, storePath, batchId, k)
    }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "nq_kmv_store" -> ((s: SparkSession, d: String) => nqKmvStore(s, d)))

  val oracle: Map[String, String] = Map(
    "nq_kmv_store" -> storeSql(64))
}
