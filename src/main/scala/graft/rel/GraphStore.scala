package graft.rel

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted link-graph store: edges ingested as fenced `batch_id=N`
  * partitions (the AggStore layout), an edge-level tombstone log for
  * keyed deletion (a retracted page's outlinks must leave the graph —
  * the link analogue of the round-11 GDPR surface), and graph
  * operators ([[PageRank]], [[Hits]], [[LabelProp]], [[Triangles]])
  * running off the store read. The web-curation shape: crawls arrive
  * incrementally, the host graph is an accumulated artifact, and
  * centrality is recomputed from the CURRENT graph — PageRank is not
  * incrementally maintainable exactly (a single edge can move every
  * rank), so the honest contract is store-maintenance + recompute,
  * never a stale-rank patch.
  *
  * Read semantics follow the store family: `asOfBatch` rewinds the
  * DATA timeline (partition-pruned `batch_id <= k`), while edge
  * tombstones apply to EVERY read — an erasure is not rewindable
  * ([[AggStore.aggFromStoreAsOf]]'s documented convention).
  * Redelivery of an edge batch or a delete batch is a no-op by the
  * usual dynamic-partition-overwrite fence.
  */
object GraphStore {

  private def tombDir(storePath: String) = s"$storePath/_edge_tombstones"
  private def dataDir(storePath: String) = s"$storePath/edges"
  // the tombstone-log swap staging dir — see compactThrough's crash notes
  private def tombNextDir(storePath: String) = s"$storePath/_edge_tombstones_next"

  private def fsOf(s: SparkSession, path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(s.sparkContext.hadoopConfiguration)

  /** Where the CURRENT tombstone log lives — the log dir, or the
    * staged replacement inside [[compactThrough]]'s swap window
    * ([[TombstoneLog.readDir]]). */
  private def tombReadDir(s: SparkSession, storePath: String)
      : Option[String] =
    TombstoneLog.readDir(fsOf(s, storePath), tombDir(storePath),
      tombNextDir(storePath))

  /** Ingest one edge batch under its own fenced partition.
    *
    * NOT single-file, deliberately: unlike the sketch stores (whose
    * per-batch output is group-count rows of scalars —
    * [[Stores.writeBatch]]'s default), an edge batch's payload IS the
    * data — a crawl delta at 100 TB scale is billions of rows, and
    * funneling it through one write task serializes the whole ingest.
    * The write keeps the batch's natural partitioning (one file per
    * task, capped by maxRecordsPerFile so a giant coalesced upstream
    * can't produce multi-GB files); the `batch_id` fence semantics
    * are unchanged. */
  def applyEdgeBatch(edges: DataFrame, storePath: String,
      batchId: Long): Unit = {
    // the replay-horizon guard: re-ingesting at or below the fold
    // watermark would resurrect a pruned partition
    FoldWatermark.requireIngestAbove(edges.sparkSession,
      dataDir(storePath), batchId)
    Stores.writeBatch(edges.select(col("src"), col("dst")),
      dataDir(storePath), batchId, singleFile = false)
  }

  /** Keyed edge deletion: (src, dst) pairs land in the tombstone log
    * under their own fenced partition; every read anti-joins them.
    * Deleting a pair removes ALL its copies (parallel edges included),
    * in every batch, at every as-of. coalesce(1): a deletion batch is
    * erasure-request-sized (exceptional by the store contract — reads
    * BROADCAST the whole log), never data-sized. */
  def deleteEdges(pairs: DataFrame, storePath: String,
      batchId: Long): Unit = {
    // the DELETE side of the replay horizon (symmetric with
    // applyEdgeBatch's guard): after compactThrough drops a
    // tombstone whose every copy was folded away, a REDELIVERED old
    // delete batch would recreate it in the shrunken log — and since
    // tombstones apply at every read, a legitimately re-inserted pair
    // would silently vanish again (violating the "erased history;
    // re-insert survives" contract)
    FoldWatermark.requireIngestAbove(pairs.sparkSession,
      dataDir(storePath), batchId)
    // an erasure arriving INSIDE a compaction's interrupted log swap
    // (log deleted, staged rename pending) must complete the swap
    // first: writing directly would recreate the log with ONLY this
    // batch, readers would stop falling back to the staged kept set,
    // and every tombstone in it would silently stop applying
    TombstoneLog.recoverSwap(fsOf(pairs.sparkSession, storePath),
      tombDir(storePath), tombNextDir(storePath))
    Stores.writeBatch(pairs.select(col("src"), col("dst")),
      tombDir(storePath), batchId)
  }

  /** The current (or as-of) edge set: batches ≤ k minus tombstones.
    * The tombstone side is tiny relative to the graph (deletions are
    * exceptional) — broadcast anti-join, no shuffle of the edge set. */
  def edgesFromStore(s: SparkSession, storePath: String,
      asOfBatch: Option[Long] = None): DataFrame = {
    // partition-gated, not existence-gated: a fully-erased store's dir
    // is deleted by compaction, and an all-tombstoned (or empty)
    // batch's dynamic overwrite leaves a FILE-LESS dir — read either
    // as empty (the TombstoneLog.readDir rule)
    if (!Tombstones.populated(s, dataDir(storePath)))
      return s.range(0).select(col("id").as("src"), col("id").as("dst"))
    val data = Stores.readBatches(s, dataDir(storePath), asOfBatch)
    tombReadDir(s, storePath) match {
      case None => data.select("src", "dst")
      case Some(dir) => data.join(
          broadcast(s.read.parquet(dir)
            .select(col("src").as("ts"), col("dst").as("td")).distinct()),
          col("src") === col("ts") && col("dst") === col("td"),
          "left_anti")
        .select("src", "dst")
    }
  }

  /** Streaming ingest — the store-family symmetry ([[AggStore
    * .aggIngestStream]], `QuantileStore.kllIngestStream`): each
    * micro-batch of (src, dst) rows lands under its own `batch_id`
    * partition via foreachBatch. At-least-once redelivery replays
    * composable batchIds and the partition overwrite makes each replay
    * byte-idempotent — the batch's own partition IS the fence, but the
    * fence only covers SAME-lineage redelivery: a fresh checkpoint
    * restarts ids at 0 and would silently dynamic-overwrite the
    * original lineage's partitions with different edges, so the store
    * binds to its first streaming lineage and any other fails loudly
    * (the `_lineage` fence every streaming store carries). */
  def edgeIngestStream(stream: DataFrame, storePath: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row] =
    graft.streaming.StreamingOps.lineageSink(stream) {
      (batch, batchId, lineage) =>
        graft.streaming.StreamingOps.bindStoreLineage(batch.sparkSession,
          storePath, s"edge store at $storePath", lineage)
        applyEdgeBatch(batch, storePath, batchId)
    }

  // -------------------------------------------------------- compaction
  /** Horizontal compaction with tombstone fold-in: batches ≤ `through`
    * minus the tombstones collapse into ONE `batch_id=through`
    * partition, and tombstones whose every copy lived in that folded
    * region are DROPPED from the log — the erasure-aging step the
    * AggStore as-of docs prescribe ("age out pre-deletion batches
    * rather than rely on as-of reads forgetting them"), and the answer
    * to the log growing monotonically while every read anti-joins it
    * forever.
    *
    * Which tombstones survive: exactly those with a matching (src, dst)
    * in a batch > `through` (a semi-join against the surviving
    * partitions — they must keep suppressing those copies). Reads are
    * therefore IDENTICAL before and after compaction, on the current
    * form and on every as-of ≥ `through`; as-of below the watermark is
    * no longer derivable (the retention trade every log-structured
    * store makes — callers pick `through` = the oldest as-of they
    * still need). One documented divergence, intended: a pair whose
    * tombstone was dropped is erased HISTORY — re-inserting it in a
    * LATER batch is a new fact and survives, where the uncompacted log
    * would have kept suppressing it (GDPR erasure applies to data held,
    * not data yet to arrive).
    *
    * Crash safety (the AggStore.compactThrough discipline): the folded
    * edge set and the surviving tombstone set BOTH materialize
    * (`Checkpointing.truncate`) before any store file moves; then (1)
    * the folded partition writes under dynamic overwrite, (2) the
    * folded originals prune, (3) the tombstone log swaps through a
    * staged sibling. A crash between (1) and (2) double-counts
    * batches < through —
    * recovery is [[pruneEdgesThrough]] (idempotent), NOT a re-run. A
    * crash before or during (3) leaves either the old log (unshrunk —
    * every read tolerates it: anti-joining an already-removed pair is a
    * no-op) or the fully-written staged replacement (readers fall back
    * to it, [[tombReadDir]]); a re-run completes the swap on entry.
    * Step (3) is never a bare full-dir overwrite: Spark's
    * mode("overwrite") deletes the target before committing, so a crash
    * mid-rewrite would lose tombstones still needed to suppress copies
    * in batches > through. Instead the kept set writes COMPLETELY to
    * `_edge_tombstones_next`, then delete-old + rename-staged — each
    * window leaves one complete, readable log. A re-run after success
    * is a full no-op: the fold of the folded partition is itself, and
    * the kept-tombstone set is a fixpoint.
    *
    * EMPTY-FOLD case, handled explicitly: if every edge in batches ≤
    * `through` is tombstoned, the dynamic partition overwrite writes NO
    * partitions — an existing `batch_id=through` partition would keep
    * its stale (all-deleted) edges while their tombstones age out of
    * the log, silently resurrecting erased pairs on every later read.
    * The fold target is deleted outright instead (the erasure contract
    * outranks the fence's write-only discipline here). */
  def compactThrough(s: SparkSession, storePath: String,
      through: Long): Unit =
    KeyedCompaction.compactThrough(s, dataDir(storePath),
      tombDir(storePath), tombNextDir(storePath), Seq("src", "dst"),
      through)

  /** The tombstones [[compactThrough]] must keep: exactly those whose
    * (src, dst) still has a copy in a batch > `through`. The plan never
    * exchanges the edge relation ([[KeyedCompaction.keptTombstones]] —
    * spec-pinned here): the former shape (`log SEMI JOIN (newer
    * edges).distinct()`) forced a full (src, dst) exchange of every
    * batch beyond the fold just to dedup a side a semi-join never
    * needed deduped. */
  private[rel] def keptTombstones(s: SparkSession, storePath: String,
      through: Long): DataFrame =
    KeyedCompaction.keptTombstones(s, dataDir(storePath),
      tombDir(storePath), Seq("src", "dst"), through)

  /** Delete the `batch_id < through` EDGE partitions — compactThrough's
    * prune phase and its crash recovery (idempotent: lists what exists,
    * so sparse/time-based batch ids never loop). */
  def pruneEdgesThrough(s: SparkSession, storePath: String,
      through: Long): Unit =
    Stores.pruneThrough(fsOf(s, storePath), dataDir(storePath), through)

  // ----------------------------------------------------- nq_graph_store
  /** Driver entry: the citation graph arrives as 3 ingest batches
    * (src mod 3), then ONE edge-deletion batch removes every edge with
    * (src + dst) ≡ 5 (mod 31) (~3%), and PageRank runs off the store
    * read. The oracle replays the recurrence over the citation edges
    * with the SAME deletion predicate applied as a WHERE — a
    * tombstone miss, a batch leak, or a surviving deleted edge all
    * hash-fail through the rank vector. */
  def nqGraphStore(s: SparkSession, d: String): DataFrame = {
    val store = graft.FixtureMemo.store("graphstore", d) { root =>
      val path = s"$root/graph"
      val e = PageRank.citationEdges(s, d)
      (0 until 3).foreach(b => applyEdgeBatch(
        e.filter(pmod(col("src"), lit(3)) === b), path, b.toLong))
      deleteEdges(
        e.filter(pmod(col("src") + col("dst"), lit(31)) === 5), path, 0L)
      path
    }
    val docs = graft.Tables.documents(s, d)
    PageRank.pageRank(edgesFromStore(s, store), iters = 5,
        nodes = Some(docs.select(col("doc_id"))))
      .select(col("id").as("doc_id"), round(col("r"), 6).as("pr"))
      .orderBy("doc_id")
  }

  /** q101's unrolled oracle over the post-deletion edge set. */
  private[rel] def nqGraphStoreSql: String = {
    val iters = (1 to 5).map { k =>
      val p = s"r${k - 1}"
      s"""r$k AS MATERIALIZED (
         |  SELECT nodes.id,
         |    0.15 / n.nn + 0.85 * (COALESCE(c.s, 0)
         |      + (SELECT COALESCE(sum(p.r), 0) FROM $p p
         |         LEFT JOIN outdeg o ON p.id = o.src
         |         WHERE o.src IS NULL) / n.nn) AS r
         |  FROM nodes CROSS JOIN n
         |  LEFT JOIN (SELECT e.dst AS id, sum(p.r / o.deg) AS s
         |             FROM kept e JOIN $p p ON e.src = p.id
         |             JOIN outdeg o ON o.src = e.src
         |             GROUP BY e.dst) c ON c.id = nodes.id)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH ${PageRank.citationEdgesSql},
       |kept AS MATERIALIZED (
       |  SELECT src, dst FROM edges WHERE (src + dst) % 31 <> 5),
       |outdeg AS (SELECT src, count(*) AS deg FROM kept GROUP BY src),
       |r0 AS (SELECT id, 1.0 / nn AS r FROM nodes CROSS JOIN n),
       |$iters
       |SELECT id AS doc_id, round(r, 6) AS pr FROM r5
       |ORDER BY doc_id""".stripMargin
  }

  /** Driver entry (compacted twin — the q81 shared-SQL pattern): the
    * SAME ingest history as nq_graph_store (3 edge batches + the keyed
    * deletion), then [[compactThrough]](2) folds everything into one
    * partition and drains the fully-applied tombstone log, and
    * PageRank runs off the COMPACTED store. The oracle is
    * nq_graph_store's verbatim — compaction must be invisible through
    * the whole rank vector, so a lost edge, a resurrected deleted
    * pair, or a kept-tombstone bug all hash-fail. */
  def nqGraphCompact(s: SparkSession, d: String): DataFrame = {
    val store = graft.FixtureMemo.store("graphcompact", d) { root =>
      val path = s"$root/graph"
      val e = PageRank.citationEdges(s, d)
      (0 until 3).foreach(b => applyEdgeBatch(
        e.filter(pmod(col("src"), lit(3)) === b), path, b.toLong))
      deleteEdges(
        e.filter(pmod(col("src") + col("dst"), lit(31)) === 5), path, 0L)
      compactThrough(s, path, through = 2L)
      path
    }
    val docs = graft.Tables.documents(s, d)
    PageRank.pageRank(edgesFromStore(s, store), iters = 5,
        nodes = Some(docs.select(col("doc_id"))))
      .select(col("id").as("doc_id"), round(col("r"), 6).as("pr"))
      .orderBy("doc_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "nq_graph_store" -> (nqGraphStore _),
    "nq_graph_compact" -> (nqGraphCompact _))

  val oracle: Map[String, String] = Map(
    "nq_graph_store" -> nqGraphStoreSql,
    // compaction is read-invisible BY CONTRACT: the compacted store
    // must answer the identical SQL the uncompacted one does
    "nq_graph_compact" -> nqGraphStoreSql)
}
