package graft.rel

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._

/** Incremental quantile maintenance — the DISTRIBUTION member of the
  * store family (`CardinalityStore` = how many distinct, `KmvStore` =
  * how many in common, `AggStore` = exact additive stats, this = "what
  * is p99 over all history"): per-ingest-batch KLL sketches
  * (`functions.KllSketch`) persisted per group, merged at read time
  * into corpus-wide quantile estimates without rescanning history.
  *
  * A percentile over 100 TB of history is the canonical
  * can't-recompute aggregate: exact percentile_cont (q39) buffers
  * every group value, and even the one-shot GK sketch
  * (nq_approx_percentiles) needs the raw rows again for every new
  * question. The KLL store reduces each batch to O(k log n) weighted
  * items; the merge re-feeds retained items at their native levels
  * (weight 2^l → level l, exact by the binary-digit insert), so
  * estimates keep the same rank-error class as a monolithic sketch and
  * TOTAL WEIGHT stays exactly the row count — an invariant the oracle
  * pins against the RAW table while the quantile tail is checked over
  * the dumped sketch.
  *
  * The estimator tail is plain SQL — cumulative weight over items
  * sorted by (v, w); quantile q = the smallest v whose cumulative
  * weight covers q·N, with the comparison as an integer
  * cross-multiplication (cw·den ≥ num·N) — shared verbatim with the
  * DuckDB oracle, which re-runs it over the dumped retained items
  * (the OracleDump pattern: the sketch build is engine-specific, its
  * arithmetic tail is not).
  *
  * Replay: sketch weights are additive, NOT idempotent — a redelivered
  * batch would double its weight under blind append, so the store
  * partitions by batch_id with dynamic overwrite (the `AggStore` /
  * `CardinalityStore` fence: the batch's own partition IS the fence).
  */
object QuantileStore {

  /** One batch's per-group sketches: (groupCols..., sk ARRAY<STRUCT>). */
  def sketchBatch(batch: DataFrame, groupCols: Seq[String],
      valueCol: String, k: Int): DataFrame = {
    graft.functions.VecFunctions.register(batch.sparkSession)
    batch.groupBy(groupCols.map(col): _*)
      .agg(expr(s"kll_sketch(CAST(`$valueCol` AS DOUBLE), 1L, $k)").as("sk"))
  }

  /** Sketch a batch into its own `batch_id=N` store partition.
    *
    * Replay-horizon guard (KLL weights are ADDITIVE — a batch
    * replayed below the fold watermark resurrects a pruned partition
    * and double-counts its weight in every quantile):
    * [[Stores.requireIngestOrRebuild]] refuses at or below the
    * watermark, except the gated whole-fold REBUILD at ==. */
  def applyBatch(batch: DataFrame, groupCols: Seq[String], valueCol: String,
      storePath: String, batchId: Long, k: Int): Unit = {
    Stores.requireIngestOrRebuild(batch.sparkSession, storePath, batchId)
    Stores.writeBatch(sketchBatch(batch, groupCols, valueCol, k),
      storePath, batchId)
  }

  /** Merge a (groupCols..., sk) relation across batches: explode the
    * retained weighted items and re-feed them — the binary-digit
    * insert places weight 2^l at level l, so this IS the KLL merge,
    * not an approximation of it. */
  def mergeSketches(sketches: DataFrame, groupCols: Seq[String],
      k: Int): DataFrame = {
    graft.functions.VecFunctions.register(sketches.sparkSession)
    sketches
      .select(groupCols.map(col) :+ explode(col("sk")).as("it"): _*)
      .select(groupCols.map(col) :+ col("it.v").as("v") :+
        col("it.w").as("w"): _*)
      .groupBy(groupCols.map(col): _*)
      .agg(expr(s"kll_sketch(v, w, $k)").as("sk"))
  }

  /** Horizontal compaction: batches ≤ `through` fold into ONE
    * partition via the store's own re-feed merge (retained items
    * re-insert at their native levels, so TOTAL WEIGHT is preserved
    * exactly — the row-count invariant — and estimates keep the
    * monolithic rank-error class; spec pins exact weight + the
    * quantile tail). The fold is [[Stores.compactThrough]] (gate
    * refusal, fold watermark, idempotent prune). */
  def compactThrough(s: SparkSession, storePath: String,
      groupCols: Seq[String], k: Int, through: Long): Unit =
    Stores.compactThrough(s, storePath, through)(
      mergeSketches(_, groupCols, k))

  /** Read path: merged per-group sketches from the store alone.
    * Batches gated by a key-level delete ([[Tombstones.gateBatches]] —
    * compaction buffers cannot subtract a key) are excluded until
    * rebuilt clean via [[applyBatch]] + [[Tombstones.ungateBatch]]. */
  def sketchesFromStore(s: SparkSession, storePath: String,
      groupCols: Seq[String], k: Int,
      asOfBatch: Option[Long] = None): DataFrame =
    mergeSketches(
      Tombstones.filterGated(Stores.readBatches(s, storePath, asOfBatch),
        storePath),
      groupCols, k)

  /** Streaming ingest: per-micro-batch sketches under the batch's own
    * partition — replay-idempotent by overwrite (see object doc). */
  def kllIngestStream(stream: DataFrame, groupCols: Seq[String],
      valueCol: String, storePath: String, k: Int)
      : org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row] =
    graft.streaming.StreamingOps.lineageSink(stream) {
      (batch, batchId, lineage) =>
        graft.streaming.StreamingOps.bindStoreLineage(batch.sparkSession,
          storePath, s"KLL store at $storePath", lineage)
        applyBatch(batch, groupCols, valueCol, storePath, batchId, k)
    }

  /** The estimator tail over a (groupCols..., sk) relation: explode to
    * weighted items, cumulative weight in (v, w) order, then each
    * quantile num/den as min v with cw·den ≥ num·N. Integer
    * comparisons throughout; N (= exact row count, the KLL weight-
    * conservation invariant) is returned as n_rows.
    */
  def quantilesOf(sketches: DataFrame, groupCols: Seq[String],
      quantiles: Seq[(String, Int, Int)]): DataFrame = {
    val items = sketches
      .select(groupCols.map(col) :+ explode(col("sk")).as("it"): _*)
      .select(groupCols.map(col) :+ col("it.v").as("v") :+
        col("it.w").as("w"): _*)
    val w = Window.partitionBy(groupCols.map(col): _*).orderBy("v", "w")
    val wAll = Window.partitionBy(groupCols.map(col): _*)
    val cum = items
      .withColumn("cw", sum("w").over(w))
      .withColumn("n", sum("w").over(wAll))
    val aggs = quantiles.map { case (name, num, den) =>
      min(when(col("cw") * den >= col("n") * num, col("v"))).as(name)
    } :+ max("n").as("n_rows")
    cum.groupBy(groupCols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
  }

  /** The same tail as DuckDB SQL over a dumped (groupCols..., v, w)
    * item relation at `dumpPath`, with n_rows cross-checked against
    * the RAW table (`rawSql` must yield (groupCols..., n_raw)). */
  private def quantileOracleSql(dumpPath: String, groupCol: String,
      quantiles: Seq[(String, Int, Int)], rawSql: String): String = {
    val qCols = quantiles.map { case (name, num, den) =>
      s"min(CASE WHEN cw * $den >= n * $num THEN v END) AS $name"
    }.mkString(",\n  ")
    s"""WITH items AS (
       |  SELECT $groupCol, v, w FROM read_parquet('$dumpPath/*.parquet')
       |), cum AS (
       |  SELECT $groupCol, v, w,
       |    sum(w) OVER (PARTITION BY $groupCol ORDER BY v, w
       |                 ROWS UNBOUNDED PRECEDING) AS cw,
       |    sum(w) OVER (PARTITION BY $groupCol) AS n
       |  FROM items
       |), est AS (
       |  SELECT $groupCol,
       |  $qCols,
       |  max(n) AS n_rows
       |  FROM cum GROUP BY $groupCol
       |), raw AS ($rawSql)
       |SELECT est.$groupCol,
       |  ${quantiles.map { case (name, _, _) => s"est.$name" }
                    .mkString(", ")},
       |  raw.n_raw AS n_rows
       |FROM est JOIN raw ON est.$groupCol = raw.$groupCol
       |ORDER BY est.$groupCol""".stripMargin
  }

  private val DumpDir = "/tmp/graft_quantile_oracle"
  private val Q = Seq(("p50", 1, 2), ("p90", 9, 10), ("p99", 99, 100))

  /** Driver entry (one-shot): per-returnflag revenue quantiles via a
    * single KLL sketch pass, k=256. n_rows is EXACT (weight
    * conservation); the quantile tail re-runs in DuckDB over the
    * dumped sketch. */
  def nqKllQuantiles(s: SparkSession, d: String, k: Int = 256): DataFrame = {
    // pin ONE materialization of each sketch relation: the dump and
    // the reported quantiles must read the SAME retained items
    // (partial-merge order varies run to run, so two lazy evaluations
    // of the same plan may retain different — equally valid — items)
    val sk = graft.Checkpointing.truncate(sketchBatch(lineitem(s, d),
      Seq("l_returnflag"), "l_extendedprice", k))
    graft.OracleDump.dump(
      sk.select(col("l_returnflag"), explode(col("sk")).as("it"))
        .select(col("l_returnflag"), col("it.v").as("v"),
          col("it.w").as("w")),
      s"$DumpDir/nq_kll_quantiles.parquet")
    quantilesOf(sk, Seq("l_returnflag"), Q).orderBy("l_returnflag")
  }

  val nqKllQuantilesSql: String = quantileOracleSql(
    s"$DumpDir/nq_kll_quantiles.parquet", "l_returnflag", Q,
    "SELECT l_returnflag, count(*) AS n_raw FROM lineitem GROUP BY 1")

  // one persisted store per immutable source dir, process lifetime
  // (the q81/KmvStore memo policy)
  private def orderStore(s: SparkSession, d: String, k: Int): String =
    graft.FixtureMemo.store("kllstore", d) { root =>
      val path = s"$root/kll.parquet"
      val o = orders(s, d)
      (0 until 5).foreach { b =>
        applyBatch(o.filter(pmod(col("o_orderkey"), lit(5)) === b),
          Seq("o_orderstatus"), "o_totalprice", path, b.toLong, k)
      }
      path
    }

  /** Driver entry (store): orders ingested as 5 batches into a
    * persisted per-status KLL store; order-price quantiles come from
    * the merged store alone. n_rows stays EXACT through both the
    * batch sketches and the merge (weight conservation end to end) —
    * the oracle checks it against raw orders, and the quantile tail
    * over the dumped merged sketch. */
  def nqKllStore(s: SparkSession, d: String, k: Int = 256): DataFrame = {
    val store = orderStore(s, d, k)
    val sk = graft.Checkpointing.truncate(
      sketchesFromStore(s, store, Seq("o_orderstatus"), k))
    graft.OracleDump.dump(
      sk.select(col("o_orderstatus"), explode(col("sk")).as("it"))
        .select(col("o_orderstatus"), col("it.v").as("v"),
          col("it.w").as("w")),
      s"$DumpDir/nq_kll_store.parquet")
    quantilesOf(sk, Seq("o_orderstatus"), Q).orderBy("o_orderstatus")
  }

  val nqKllStoreSql: String = quantileOracleSql(
    s"$DumpDir/nq_kll_store.parquet", "o_orderstatus", Q,
    "SELECT o_orderstatus, count(*) AS n_raw FROM orders GROUP BY 1")

  /** Driver entry (COMPACTED store, r18): the same five-batch ingest
    * with batches 0..2 horizontally folded into one partition — then
    * the identical store question. The oracle is [[nqKllStoreSql]]'s
    * exact constructor over the entry's own dump: unlike the HLL twin
    * (registers fold bit-identically, so the SQL string is shared
    * byte-for-byte), a KLL fold's RETAINED ITEMS legitimately differ
    * from the uncompacted merge's, so the compacted dump must be the
    * entry's own. The compaction-correctness teeth are unchanged:
    * `n_rows` joins from RAW orders, so any fold double-count or
    * weight loss — the additive store's crash-window stakes —
    * hash-fails, and the quantile tail re-runs in DuckDB over the
    * dumped items verbatim. */
  def nqKllStoreCompact(s: SparkSession, d: String,
      k: Int = 256): DataFrame = {
    val store = graft.FixtureMemo.store("kllstorecmp", d) { root =>
      val path = s"$root/kll.parquet"
      val o = orders(s, d)
      (0 until 5).foreach { b =>
        applyBatch(o.filter(pmod(col("o_orderkey"), lit(5)) === b),
          Seq("o_orderstatus"), "o_totalprice", path, b.toLong, k)
      }
      compactThrough(s, path, Seq("o_orderstatus"), k, through = 2L)
      path
    }
    val sk = graft.Checkpointing.truncate(
      sketchesFromStore(s, store, Seq("o_orderstatus"), k))
    graft.OracleDump.dump(
      sk.select(col("o_orderstatus"), explode(col("sk")).as("it"))
        .select(col("o_orderstatus"), col("it.v").as("v"),
          col("it.w").as("w")),
      s"$DumpDir/nq_kll_store_compact.parquet")
    quantilesOf(sk, Seq("o_orderstatus"), Q).orderBy("o_orderstatus")
  }

  val nqKllStoreCompactSql: String = quantileOracleSql(
    s"$DumpDir/nq_kll_store_compact.parquet", "o_orderstatus", Q,
    "SELECT o_orderstatus, count(*) AS n_raw FROM orders GROUP BY 1")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "nq_kll_quantiles" -> ((s: SparkSession, d: String) =>
      nqKllQuantiles(s, d)),
    "nq_kll_store" -> ((s: SparkSession, d: String) => nqKllStore(s, d)),
    "nq_kll_store_compact" -> ((s: SparkSession, d: String) =>
      nqKllStoreCompact(s, d)))

  val oracle: Map[String, String] = Map(
    "nq_kll_quantiles" -> nqKllQuantilesSql,
    "nq_kll_store" -> nqKllStoreSql,
    "nq_kll_store_compact" -> nqKllStoreCompactSql)
}
