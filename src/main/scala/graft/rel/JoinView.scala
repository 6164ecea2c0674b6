package graft.rel

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Incremental maintenance of an aggregated JOIN view — the classic
  * IVM delta rules (Gupta & Mumick 1995, "Maintenance of Materialized
  * Views: Problems, Techniques, and Applications") specialized to the
  * fact ⋈ dimension → aggregate shape every curation/reporting
  * pipeline runs ("revenue per nation" over orders ⋈ customer):
  *
  *   - FACT batches are the easy delta: ΔV = agg(ΔF ⋈ D) — enrich the
  *     batch against the current dimension (broadcast join) and land
  *     its partials in the [[AggStore]] layout (fenced `batch_id`
  *     partition; additive DECIMAL cents, so merge ≡ from-scratch
  *     bit-for-bit).
  *   - DIMENSION changes are the classic hard case: re-keying a
  *     customer to a new nation invalidates every enriched fact row.
  *     The fix is GRANULARITY, not a fact rescan: the store keeps
  *     partials at (dim key, dim attribute) grain — fine enough that
  *     a dimension move is STORE-LOCAL. [[applyDimMove]] reads the
  *     moved keys' CURRENT merged partials (a store-sized read,
  *     partition pruning irrelevant at KBs) and writes one upsert
  *     batch: the exact negation under the old attribute + the same
  *     partials under the new one ([[AggStore]]'s retraction algebra
  *     — integer cents in DECIMAL(38,0), so the move nets out
  *     exactly; no fact row is ever re-read).
  *
  * The read path re-aggregates the fine-grained partials to the
  * report grain (per nation) — partials of partials, the same
  * commutative-semigroup argument as every AggStore read. A view at
  * 100 TB of facts holds |dim keys| × batches rows of scalars.
  *
  * MIN/MAX are excluded from this view on the retraction argument
  * (extrema are not self-maintainable under dimension moves — the
  * AggStore upsert contract).
  */
object JoinView {

  private def cents(v: org.apache.spark.sql.Column) = Stores.cents(v)

  import org.apache.spark.sql.types.DecimalType

  /** One fact batch's fine-grained partials: enrich against the
    * CURRENT dimension snapshot, reduce to (dimKey, dimAttr) grain.
    * Facts whose key misses the dimension are dropped (inner join) —
    * the view is defined over the join. */
  def factBatchPartials(facts: DataFrame, dim: DataFrame,
      factKey: String, dimKey: String, dimAttr: String,
      valueCol: String): DataFrame = {
    val c = cents(col(valueCol))
    facts.join(broadcast(dim.select(col(dimKey), col(dimAttr))),
        col(factKey) === col(dimKey))
      .groupBy(col(dimKey), col(dimAttr))
      .agg(count(col(valueCol)).as("cnt"),
        sum(c.cast(DecimalType(38, 0))).as("sum_cents"),
        sum((c * c).cast(DecimalType(38, 0))).as("sum_sq_cents2"),
        lit(null).cast("double").as("min_val"),
        lit(null).cast("double").as("max_val"))
  }

  /** Ingest one fact batch under its fenced partition. NO coalesce(1):
    * the partials are (dim key, attr)-grain — |dim|-sized, not
    * group-count-sized like the report-grain sketch stores — and a
    * billion-row dimension would funnel through one write task. The
    * aggregate's own (AQE-coalesced) partitioning carries to the write;
    * maxRecordsPerFile caps the degenerate giant-file case. */
  def applyFactBatch(facts: DataFrame, dim: DataFrame,
      factKey: String, dimKey: String, dimAttr: String, valueCol: String,
      storePath: String, batchId: Long): Unit = {
    // the replay-horizon guard (see compactThrough's scaladoc — "a
    // replayed fact batch below the watermark would RE-ADD its
    // partials"; at == it would overwrite the fold): now loud, not
    // documentation
    FoldWatermark.requireIngestAbove(facts.sparkSession, storePath,
      batchId)
    factBatchPartials(facts, dim, factKey, dimKey, dimAttr, valueCol)
      .withColumn("batch_id", lit(batchId))
      .write
      .option("partitionOverwriteMode", "dynamic")
      .option("maxRecordsPerFile", 10000000L)
      .partitionBy("batch_id")
      .mode("overwrite").parquet(storePath)
  }

  /** Dimension move: `moves` = (dimKey, old dimAttr → new dimAttr)
    * rows. ONE store-local upsert batch: the moved keys' current
    * merged partials negated under the old attribute and re-inserted
    * under the new one. No fact is re-read; the net is exact. */
  def applyDimMove(s: SparkSession, moves: DataFrame,
      dimKey: String, dimAttr: String,
      storePath: String, batchId: Long): Unit = {
    // replay fence for a SELF-REFERENTIAL batch: the delta is derived
    // from the store, so a redelivered move must exclude its own
    // partition from the read — otherwise the replay sees the first
    // delivery's −old/+new rows, nets the standing mass under `old`
    // to zero, and overwrites the partition with zeros (un-moving the
    // keys). With the exclusion, the recomputed delta is bit-identical
    // to the first delivery and the overwrite is a no-op.
    // leftover fence (r18): inside a crashed compaction's window the
    // store holds fold + pre-fold originals; deriving the delta from
    // both would MOVE TWICE the standing mass — a write-side error,
    // not just a read artifact
    val cur = FoldWatermark.excludeFoldedLeftovers(
        s.read.parquet(storePath), FoldWatermark.read(s, storePath))
      .filter(col("batch_id") =!= batchId)
      .join(broadcast(moves.select(col(dimKey).as("mk"),
        col(s"old_$dimAttr"), col(s"new_$dimAttr"))),
        col(dimKey) === col("mk"))
      // per-key totals across batches AND any prior moves: only the
      // rows currently standing under the OLD attribute move
      .filter(col(dimAttr) === col(s"old_$dimAttr"))
      .groupBy(col(dimKey), col(s"old_$dimAttr"), col(s"new_$dimAttr"))
      .agg(sum("cnt").as("cnt"),
        sum("sum_cents").cast(DecimalType(38, 0)).as("sum_cents"),
        sum("sum_sq_cents2").cast(DecimalType(38, 0))
          .as("sum_sq_cents2"))
    val retract = cur.select(col(dimKey),
      col(s"old_$dimAttr").as(dimAttr),
      (-col("cnt")).as("cnt"),
      (-col("sum_cents")).cast(DecimalType(38, 0)).as("sum_cents"),
      (-col("sum_sq_cents2")).cast(DecimalType(38, 0))
        .as("sum_sq_cents2"),
      lit(null).cast("double").as("min_val"),
      lit(null).cast("double").as("max_val"))
    val insert = cur.select(col(dimKey),
      col(s"new_$dimAttr").as(dimAttr),
      col("cnt"), col("sum_cents"), col("sum_sq_cents2"),
      lit(null).cast("double").as("min_val"),
      lit(null).cast("double").as("max_val"))
    // one eager materialization BEFORE the write: the upsert reads the
    // store it is about to append a partition to. coalesce(1): a move
    // batch is moves-sized (two rows per moved key), a keyed exception
    // like the graph store's tombstones — never dimension-sized.
    val delta = graft.Checkpointing.truncate(retract.unionAll(insert))
    // fold-watermark interaction, move-specific: a REPLAYED folded
    // move recomputes an EMPTY delta (the compacted store already
    // reflects it — spec-pinned no-op), so an empty delta simply skips
    // the write; a NON-empty delta at or below the watermark can only
    // be a caller-error NEW move re-using a folded id, and writing it
    // would dynamic-overwrite the fold partition itself — refuse loudly
    if (!delta.isEmpty) {
      FoldWatermark.requireIngestAbove(s, storePath, batchId)
      delta
        .withColumn("batch_id", lit(batchId))
        .coalesce(1).write
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .mode("overwrite").parquet(storePath)
    }
  }

  /** Horizontal compaction: the view store IS an AggStore at
    * (dim key, dim attr) grain, so folding batches ≤ `through` into one
    * partition delegates to [[AggStore.compactThrough]] with that
    * grain — the same associativity argument, crash discipline
    * (recovery = [[AggStore.pruneThrough]]), and as-of retention trade.
    * Interaction with the store's two batch kinds after compaction:
    *   - a REPLAYED dim move whose partition was folded recomputes its
    *     delta from the compacted store, which already reflects the
    *     move — no standing mass under the old attribute, an EMPTY
    *     delta, and the dynamic overwrite writes nothing: still a
    *     no-op (spec-pinned).
    *   - a replayed FACT batch below the watermark would RE-ADD its
    *     partials (its fence partition was folded away) — the usual
    *     log-structured rule applies: compact only below the
    *     redelivery horizon (the at-least-once source's committed
    *     offset), exactly as for AggStore itself. */
  def compactThrough(s: SparkSession, storePath: String,
      dimKey: String, dimAttr: String, through: Long): Unit =
    // singleFile = false: the fold is |dim|-grain — data-sized, not
    // group-count-sized — so it keeps natural partitioning (the same
    // reasoning as applyFactBatch's un-funneled write)
    AggStore.compactThrough(s, storePath, Seq(dimKey, dimAttr), through,
      singleFile = false)

  /** Report read: re-aggregate the fine-grained partials to the
    * report grain, dropping fully-retracted rows (the mergeUpsert
    * convention). Derived columns = AggStore's exact fixed trees. */
  def viewAtGrain(s: SparkSession, storePath: String,
      grainCol: String): DataFrame = {
    val n = sum("cnt").cast("double")
    val cs = sum("sum_cents").cast("double")
    // leftover fence (r18): see applyDimMove
    FoldWatermark.excludeFoldedLeftovers(
        s.read.parquet(storePath), FoldWatermark.read(s, storePath))
      .groupBy(col(grainCol))
      .agg(sum("cnt").as("n_rows"),
        (cs / lit(100.0)).as("sum_val"),
        when(n =!= 0.0, cs / lit(100.0) / sum("cnt")).as("avg_val"))
      .filter(col("n_rows") > 0)
  }

  // ---------------------------------------------------- nq_join_view
  /** Driver entry: revenue per nation from orders ⋈ customer,
    * maintained as 3 fact batches (o_orderkey mod 3) + ONE dimension
    * move (customers ≡ 1 mod 20 shift to (nation+1) mod 25). The
    * oracle joins raw orders against the MODIFIED customer table from
    * scratch — a stale enriched row, a missed move, or a double-count
    * hash-fails through the exact cents sums. */
  def nqJoinView(s: SparkSession, d: String): DataFrame = {
    val store = graft.FixtureMemo.store("joinview", d) { root =>
      val path = s"$root/view"
      val ord = orders(s, d)
      val cust = customer(s, d)
      (0 until 3).foreach(b => applyFactBatch(
        ord.filter(pmod(col("o_orderkey"), lit(3)) === b), cust,
        "o_custkey", "c_custkey", "c_nationkey", "o_totalprice",
        path, b.toLong))
      val moves = cust.filter(pmod(col("c_custkey"), lit(20)) === 1)
        .select(col("c_custkey"),
          col("c_nationkey").as("old_c_nationkey"),
          ((col("c_nationkey") + 1) % 25).as("new_c_nationkey"))
      applyDimMove(s, moves, "c_custkey", "c_nationkey", path, 3L)
      path
    }
    viewAtGrain(s, store, "c_nationkey")
      .orderBy("c_nationkey")
  }

  val nqJoinViewSql: String =
    """WITH moved AS (
      |  SELECT c_custkey,
      |    CASE WHEN c_custkey % 20 = 1
      |      THEN (c_nationkey + 1) % 25 ELSE c_nationkey END AS nk
      |  FROM customer),
      |e AS (
      |  SELECT m.nk AS c_nationkey, o.o_totalprice AS v,
      |    CAST(floor(o.o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
      |  FROM orders o JOIN moved m ON o.o_custkey = m.c_custkey)
      |SELECT c_nationkey,
      |  count(v) AS n_rows,
      |  CAST(CAST(sum(cents) AS DECIMAL(38,0)) AS DOUBLE) / 100.0
      |    AS sum_val,
      |  CAST(CAST(sum(cents) AS DECIMAL(38,0)) AS DOUBLE) / 100.0
      |    / count(v) AS avg_val
      |FROM e
      |GROUP BY c_nationkey
      |ORDER BY c_nationkey""".stripMargin

  /** Driver entry (compacted twin): nq_join_view's ingest history —
    * 3 fact batches + the dimension move — then [[compactThrough]](3)
    * folds all four partitions into one, and the report reads the
    * COMPACTED store. Oracle = nq_join_view's verbatim (the q81
    * shared-SQL pattern): compaction must be invisible through the
    * exact cents sums. */
  def nqJoinViewCompact(s: SparkSession, d: String): DataFrame = {
    val store = graft.FixtureMemo.store("joinviewcompact", d) { root =>
      val path = s"$root/view"
      val ord = orders(s, d)
      val cust = customer(s, d)
      (0 until 3).foreach(b => applyFactBatch(
        ord.filter(pmod(col("o_orderkey"), lit(3)) === b), cust,
        "o_custkey", "c_custkey", "c_nationkey", "o_totalprice",
        path, b.toLong))
      val moves = cust.filter(pmod(col("c_custkey"), lit(20)) === 1)
        .select(col("c_custkey"),
          col("c_nationkey").as("old_c_nationkey"),
          ((col("c_nationkey") + 1) % 25).as("new_c_nationkey"))
      applyDimMove(s, moves, "c_custkey", "c_nationkey", path, 3L)
      compactThrough(s, path, "c_custkey", "c_nationkey", through = 3L)
      path
    }
    viewAtGrain(s, store, "c_nationkey")
      .orderBy("c_nationkey")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "nq_join_view" -> (nqJoinView _),
    "nq_join_view_compact" -> (nqJoinViewCompact _))

  val oracle: Map[String, String] = Map(
    "nq_join_view" -> nqJoinViewSql,
    // compaction is read-invisible by contract — same SQL as the
    // uncompacted view
    "nq_join_view_compact" -> nqJoinViewSql)
}
