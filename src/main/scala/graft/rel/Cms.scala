package graft.rel

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Count-min sketch — mergeable point-frequency estimation (Cormode &
  * Muthukrishnan 2005), the frequency member of the sketch family:
  * `CardinalityStore` answers "how many distinct", `KmvStore` answers
  * "how much overlap", the Misra–Gries store answers "which keys are
  * heavy" — this answers "how often does key x occur" for ANY x, from
  * depth×width counters instead of a vocabulary-sized table.
  *
  * Shape: each occurrence of a key increments one counter per row d,
  * at bucket g_d(key); the estimate is the MIN over rows of the probed
  * counters. Collisions only ever inflate a counter, so the estimate
  * is an overcount, never an undercount (est ≥ true, always —
  * one-sided error is the CMS contract), and est ≤ true + (e/width)·N
  * with probability ≥ 1 − e^−depth per probe.
  *
  * Hashing: g_d(x) = (lo + d·hi) mod width, where lo/hi are the two
  * 32-bit halves of one seeded xxhash64 — Kirsch–Mitzenmacher double
  * hashing (two independent-enough functions from one evaluation;
  * their 2006 result is for exactly this construction). With width a
  * power of two the whole chain is small non-negative integer
  * arithmetic: no 64-bit wraparound (ANSI-overflow-safe in SQL
  * engines) and bit-exact replicable — the estimates are hard
  * oracle-checkable, not just bounded.
  *
  * Scale shape: ONE scan; the explode-by-depth multiplies rows ×depth
  * but the groupBy(d, bucket) partial-aggregates map-side down to
  * ≤ depth·width counters per partition, so the exchange carries KBs
  * regardless of input size. Counters are ADDITIVE — the sketch of a
  * union is the cell-wise sum of the sketches (exact, associative),
  * which is what makes the per-batch store path equal the monolithic
  * sketch bit-for-bit and lets estimates ride one broadcast join.
  */
object Cms {

  val Depth = 4
  val Width = 1024

  private def checkParams(depth: Int, width: Int): Unit = {
    require(depth >= 1 && depth <= 64, s"cms: depth must be in [1,64], got $depth")
    require(width >= 2 && (width & (width - 1)) == 0 && width <= (1 << 30),
      s"cms: width must be a power of two in [2, 2^30], got $width " +
        "(power-of-two keeps the bucket map pure low-bit arithmetic, " +
        "identical signed or unsigned)")
  }

  /** (d, bucket) rows for a long key column: one row per input row per
    * sketch row d. lo + d·hi stays < 2^36 — no overflow anywhere. */
  private def buckets(df: DataFrame, keyCol: String, depth: Int,
      width: Int, seed: Long): DataFrame = {
    val h = xxhash64(col(keyCol), lit(seed))
    df.select(col(keyCol),
        h.bitwiseAND(lit(0xFFFFFFFFL)).as("lo"),
        shiftrightunsigned(h, 32).as("hi"))
      .select(col(keyCol), explode(sequence(lit(0), lit(depth - 1))).as("d"),
        col("lo"), col("hi"))
      .select(col(keyCol), col("d"),
        ((col("lo") + col("d") * col("hi")) % lit(width.toLong)).as("bucket"))
  }

  /** The sketch of a relation: (d, bucket, cnt), ≤ depth·width rows. */
  def cmsOf(df: DataFrame, keyCol: String, depth: Int = Depth,
      width: Int = Width, seed: Long = 42L): DataFrame = {
    checkParams(depth, width)
    buckets(df, keyCol, depth, width, seed)
      .groupBy("d", "bucket").agg(count(lit(1)).as("cnt"))
  }

  /** Cell-wise sum — the CMS merge (exact and associative: the merged
    * sketch of any batch split equals the monolithic sketch). */
  def merge(sketches: DataFrame): DataFrame =
    sketches.groupBy("d", "bucket").agg(sum("cnt").as("cnt"))

  /** Horizontal compaction: batches ≤ `through` fold into ONE
    * partition via the cell-wise counter sum — estimates IDENTICAL
    * before and after bit-for-bit (counters are exactly additive;
    * netted retraction batches fold with their signs). The fold is
    * [[Stores.compactThrough]] (fold watermark, idempotent prune; CMS
    * deletes by retraction, not gates, so the gate refusal is inert
    * here). */
  def compactThrough(s: SparkSession, storePath: String,
      through: Long): Unit =
    Stores.compactThrough(s, storePath, through)(merge(_))

  /** Point-frequency estimates for each distinct key in `probes`:
    * min over rows d of the probed counter. The sketch side is
    * ≤ depth·width rows — broadcast it so the probe side never
    * shuffles. A cell the sketch never materialized is an implicit
    * zero counter: the left join's null coalesces to 0 BEFORE the min,
    * so one empty cell correctly zeroes the estimate. */
  def estimate(cms: DataFrame, probes: DataFrame, keyCol: String,
      depth: Int = Depth, width: Int = Width, seed: Long = 42L): DataFrame = {
    checkParams(depth, width)
    buckets(probes.select(keyCol).distinct(), keyCol, depth, width, seed)
      .join(broadcast(cms), Seq("d", "bucket"), "left")
      .groupBy(keyCol)
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est"))
  }

  /** Per-batch sketch persisted under its own `batch_id=N` partition —
    * additive counters under dynamic partition overwrite: redelivery
    * rewrites the same partition byte-identically (the AggStore fence;
    * a blind append would double-count). */
  def applyBatch(batch: DataFrame, keyCol: String, storePath: String,
      batchId: Long, depth: Int = Depth, width: Int = Width,
      seed: Long = 42L): Unit = {
    // replay-horizon guard: counters are ADDITIVE — a batch replayed
    // below the fold watermark would double-count (and at == would
    // clobber the fold)
    FoldWatermark.requireIngestAbove(batch.sparkSession, storePath,
      batchId)
    Stores.writeBatch(cmsOf(batch, keyCol, depth, width, seed), storePath,
      batchId)
  }

  /** Retraction (DESIGN_upsert.md's by-negation class): the sketch of
    * the deleted rows with every counter NEGATED, under its own fence
    * partition — counters are additive, so after this batch lands the
    * merged store equals the sketch of the surviving rows bit-for-bit
    * (spec-pinned). The one-sided contract (est ≥ true frequency of
    * the surviving multiset) holds exactly when deletes are genuine —
    * every retracted row was previously ingested. A phantom delete
    * would push counters negative and break the bound; plain CMS has
    * no way to police that without rescanning history (the
    * count-sketch variant tolerates negatives, CMS does not), so the
    * precondition is documented loudly rather than silently assumed. */
  def retractBatch(deleted: DataFrame, keyCol: String, storePath: String,
      batchId: Long, depth: Int = Depth, width: Int = Width,
      seed: Long = 42L): Unit = {
    // same replay horizon as applyBatch: a negated batch double-
    // SUBTRACTS just as silently
    FoldWatermark.requireIngestAbove(deleted.sparkSession, storePath,
      batchId)
    Stores.writeBatch(cmsOf(deleted, keyCol, depth, width, seed)
        .select(col("d"), col("bucket"), (-col("cnt")).as("cnt")),
      storePath, batchId)
  }

  /** Read path: estimates from the store alone — cell-wise merge of
    * the per-batch sketches (store-sized input), never the raw
    * history. */
  def estimateFromStore(s: SparkSession, storePath: String,
      probes: DataFrame, keyCol: String, depth: Int = Depth,
      width: Int = Width, seed: Long = 42L,
      asOfBatch: Option[Long] = None): DataFrame =
    estimate(merge(
        Stores.readBatches(s, storePath, asOfBatch).drop("batch_id")),
      probes, keyCol, depth, width, seed)

  /** Streaming ingest: one sketch per micro-batch via foreachBatch —
    * the batch's own overwrite partition is the replay fence. */
  def cmsIngestStream(stream: DataFrame, keyCol: String, storePath: String,
      depth: Int = Depth, width: Int = Width, seed: Long = 42L)
      : org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row] =
    graft.streaming.StreamingOps.lineageSink(stream) {
      (batch, batchId, lineage) =>
        graft.streaming.StreamingOps.bindStoreLineage(batch.sparkSession,
          storePath, s"CMS store at $storePath", lineage)
        applyBatch(batch, keyCol, storePath, batchId, depth, width, seed)
    }

  /** Driver entry: events arrive as 5 ingest batches (event_id mod 5),
    * each reduced to its own sketch; the merged sketch answers
    * per-user event-count estimates for every observed user, alongside
    * the exact counts. The merge is exact-associative, so the oracle
    * recomputes the monolithic sketch straight from the raw table —
    * and re-proves the one-sided-error contract (est ≥ n_events) on
    * real data every round. */
  def q89CmsFreq(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
    val perBatch = (0 until 5).map(b =>
      cmsOf(ev.filter(pmod(col("event_id"), lit(5)) === b), "user_id"))
    val merged = merge(perBatch.reduce(_ unionAll _))
    val truth = ev.groupBy("user_id").agg(count(lit(1)).as("n_events"))
    truth.join(estimate(merged, ev, "user_id"), Seq("user_id"))
      .select(col("user_id"), col("n_events"), col("est"))
      .orderBy("user_id")
  }

  /** Driver entry (COMPACTED store, r18): the q89 question answered
    * from a PERSISTED five-batch store whose batches 0..2 were
    * horizontally folded into one partition. CMS cell sums are
    * additive integers — a fold is cell-wise exact — so the merged
    * estimates are BIT-IDENTICAL to the one-shot sketch's and the
    * entry re-proves q89's zero-dump oracle SQL verbatim (the q81 /
    * nq_card_store_compact shared-string discipline): any fold
    * double-count or cell loss — the additive store's crash-window
    * stakes — hash-fails through the exact counters. */
  def nqCmsStoreCompact(s: SparkSession, d: String): DataFrame = {
    val store = graft.FixtureMemo.store("cmsstorecmp", d) { root =>
      val path = s"$root/cms.parquet"
      val ev = events(s, d)
      (0 until 5).foreach(b => applyBatch(
        ev.filter(pmod(col("event_id"), lit(5)) === b),
        "user_id", path, b.toLong))
      compactThrough(s, path, through = 2L)
      path
    }
    val ev = events(s, d)
    val truth = ev.groupBy("user_id").agg(count(lit(1)).as("n_events"))
    truth.join(estimateFromStore(s, store, ev, "user_id"), Seq("user_id"))
      .select(col("user_id"), col("n_events"), col("est"))
      .orderBy("user_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q89_cms_freq" -> (q89CmsFreq _),
    "nq_cms_store_compact" -> (nqCmsStoreCompact _))

  // Oracle: the validated XXH64-long replica feeds the identical
  // lo/hi split + (lo + d·hi) mod width bucket map — all small-integer
  // arithmetic, so counters, mins, and the overestimate ordering are
  // bit-exact across engines. ONE shared string: the compacted-store
  // entry must answer the one-shot SQL verbatim (cell sums fold
  // exactly, so compaction is counter-invisible — hash-proved).
  private val q89CmsFreqSql: String =
    graft.text.Mixing.xxh64CtesOver("events", "user_id", "") +
      """,
        |hb AS (SELECT user_id, hh % 4294967296 AS lo, hh // 4294967296 AS hi
        |       FROM r2h),
        |bk AS (SELECT user_id, d,
        |         CAST((lo + d * hi) % 1024 AS BIGINT) AS bucket
        |       FROM hb, (SELECT unnest(range(0, 4)) AS d)),
        |cms AS (SELECT d, bucket, count(*) AS cnt FROM bk
        |        GROUP BY d, bucket),
        |pb AS (SELECT DISTINCT user_id, d, bucket FROM bk),
        |est AS (SELECT p.user_id, min(c.cnt) AS est
        |        FROM pb p JOIN cms c ON p.d = c.d AND p.bucket = c.bucket
        |        GROUP BY p.user_id)
        |SELECT t.user_id, t.n_events, e.est
        |FROM (SELECT user_id, count(*) AS n_events FROM events
        |      GROUP BY user_id) t
        |JOIN est e ON t.user_id = e.user_id
        |ORDER BY t.user_id""".stripMargin

  val oracle: Map[String, String] = Map(
    "q89_cms_freq" -> q89CmsFreqSql,
    "nq_cms_store_compact" -> q89CmsFreqSql)
}
