package graft.rel

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The edge store's contract: store-read equals the surviving edge
  * set (batches minus tombstones), as-of rewinds data but never an
  * erasure, redelivery of both batch kinds is a no-op, and PageRank
  * off the store equals PageRank on the direct edge set.
  */
class GraphStoreSpec extends SparkSpec {
  import spark.implicits._

  private def edgeSet(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq

  test("store read = batches minus tombstones; as-of rewinds data " +
      "but deletions still apply; redelivery no-ops") {
    val dir = java.nio.file.Files.createTempDirectory("graphstorespec")
    try {
      val store = dir.resolve("g").toString
      val b0 = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
      val b1 = Seq((3L, 4L), (4L, 1L)).toDF("src", "dst")
      GraphStore.applyEdgeBatch(b0, store, 0L)
      GraphStore.applyEdgeBatch(b1, store, 1L)
      GraphStore.deleteEdges(Seq((2L, 3L)).toDF("src", "dst"), store, 0L)
      assert(edgeSet(GraphStore.edgesFromStore(spark, store)) ===
        Seq((1L, 2L), (3L, 4L), (4L, 1L)))
      // as-of batch 0: only b0's data, and the deletion STILL applies
      assert(edgeSet(GraphStore.edgesFromStore(spark, store, Some(0L))) ===
        Seq((1L, 2L)))
      // redelivery of both batch kinds: same answers, same store size
      def nFiles = {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(dir).iterator().asScala
          .count(p => p.toString.endsWith(".parquet") &&
            java.nio.file.Files.isRegularFile(p))
      }
      val before = nFiles
      GraphStore.applyEdgeBatch(b1, store, 1L)
      GraphStore.deleteEdges(Seq((2L, 3L)).toDF("src", "dst"), store, 0L)
      assert(edgeSet(GraphStore.edgesFromStore(spark, store)) ===
        Seq((1L, 2L), (3L, 4L), (4L, 1L)))
      assert(nFiles === before, "redelivery must not grow the store")
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("deleting a pair removes ALL its parallel copies across batches") {
    val dir = java.nio.file.Files.createTempDirectory("graphstorepar")
    try {
      val store = dir.resolve("g").toString
      GraphStore.applyEdgeBatch(
        Seq((1L, 2L), (1L, 2L), (1L, 3L)).toDF("src", "dst"), store, 0L)
      GraphStore.applyEdgeBatch(
        Seq((1L, 2L)).toDF("src", "dst"), store, 1L)
      GraphStore.deleteEdges(Seq((1L, 2L)).toDF("src", "dst"), store, 0L)
      assert(edgeSet(GraphStore.edgesFromStore(spark, store)) ===
        Seq((1L, 3L)))
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("compaction: every read form preserved, tombstone log shrinks, " +
      "re-run and prune are no-ops") {
    val dir = java.nio.file.Files.createTempDirectory("graphstorecomp")
    try {
      val store = dir.resolve("g").toString
      GraphStore.applyEdgeBatch(
        Seq((1L, 2L), (2L, 3L)).toDF("src", "dst"), store, 0L)
      GraphStore.applyEdgeBatch(
        Seq((3L, 4L), (5L, 6L)).toDF("src", "dst"), store, 1L)
      GraphStore.applyEdgeBatch(
        Seq((7L, 8L), (5L, 6L)).toDF("src", "dst"), store, 2L)
      // (2,3)'s only copy is in the folded region → droppable;
      // (5,6) has a copy in batch 2 > watermark → must survive
      GraphStore.deleteEdges(Seq((2L, 3L)).toDF("src", "dst"), store, 0L)
      GraphStore.deleteEdges(Seq((5L, 6L)).toDF("src", "dst"), store, 1L)
      val curBefore = edgeSet(GraphStore.edgesFromStore(spark, store))
      val asof1Before =
        edgeSet(GraphStore.edgesFromStore(spark, store, Some(1L)))

      GraphStore.compactThrough(spark, store, through = 1L)

      assert(edgeSet(GraphStore.edgesFromStore(spark, store)) === curBefore,
        "current read must not move")
      assert(edgeSet(GraphStore.edgesFromStore(spark, store, Some(1L))) ===
        asof1Before, "as-of AT the watermark must survive")
      assert(edgeSet(GraphStore.edgesFromStore(spark, store, Some(2L))) ===
        curBefore)
      val tombs = spark.read.parquet(s"$store/_edge_tombstones")
        .select("src", "dst").collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(tombs.toSeq === Seq((5L, 6L)),
        "the log must shrink to exactly the still-needed tombstones")
      // the surviving tombstone still suppresses its batch-2 copy
      assert(!edgeSet(GraphStore.edgesFromStore(spark, store))
        .contains((5L, 6L)))
      // folded-region partitions are gone; only batch 1 and 2 remain
      val parts = new java.io.File(s"$store/edges").listFiles()
        .map(_.getName).filter(_.startsWith("batch_id=")).sorted.toSeq
      assert(parts === Seq("batch_id=1", "batch_id=2"))

      // re-run after success: a full no-op on every read
      GraphStore.compactThrough(spark, store, through = 1L)
      assert(edgeSet(GraphStore.edgesFromStore(spark, store)) === curBefore)
      assert(edgeSet(GraphStore.edgesFromStore(spark, store, Some(1L))) ===
        asof1Before)
      // prune is idempotent — the crash-recovery path between the fold
      // write and the prune (the AggStore discipline)
      GraphStore.pruneEdgesThrough(spark, store, 1L)
      assert(edgeSet(GraphStore.edgesFromStore(spark, store)) === curBefore)

      // the documented erasure-aging divergence, pinned: the DROPPED
      // tombstone no longer suppresses a post-compaction re-insert…
      GraphStore.applyEdgeBatch(Seq((2L, 3L)).toDF("src", "dst"), store, 3L)
      assert(edgeSet(GraphStore.edgesFromStore(spark, store))
        .contains((2L, 3L)), "a re-inserted erased pair is a new fact")
      // …while the KEPT one still does
      GraphStore.applyEdgeBatch(Seq((5L, 6L)).toDF("src", "dst"), store, 4L)
      assert(!edgeSet(GraphStore.edgesFromStore(spark, store))
        .contains((5L, 6L)))
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("as-of below the fold watermark fails LOUDLY (the KeyedCompaction " +
      "family's retention guard); at/above unchanged; never-compacted " +
      "pre-history reads stay empty, not errors") {
    val dir = java.nio.file.Files.createTempDirectory("graphwmark")
    try {
      val store = dir.resolve("g").toString
      GraphStore.applyEdgeBatch(
        Seq((1L, 2L)).toDF("src", "dst"), store, 0L)
      GraphStore.applyEdgeBatch(
        Seq((3L, 4L)).toDF("src", "dst"), store, 1L)
      GraphStore.applyEdgeBatch(
        Seq((5L, 6L)).toDF("src", "dst"), store, 2L)
      // a deletion so the compaction exercises the full choreography
      GraphStore.deleteEdges(Seq((1L, 2L)).toDF("src", "dst"), store, 0L)
      // never compacted: as-of before history began is a TRUE empty
      assert(edgeSet(GraphStore.edgesFromStore(spark, store, Some(-1L)))
        .isEmpty)
      val asof1 = edgeSet(GraphStore.edgesFromStore(spark, store, Some(1L)))
      GraphStore.compactThrough(spark, store, through = 1L)
      val e = intercept[IllegalArgumentException](
        GraphStore.edgesFromStore(spark, store, Some(0L)))
      assert(e.getMessage.contains("fold watermark 1") &&
        e.getMessage.contains("no longer derivable"), e.getMessage)
      assert(edgeSet(GraphStore.edgesFromStore(spark, store, Some(1L))) ===
        asof1, "as-of AT the watermark must survive unchanged")
      assert(edgeSet(GraphStore.edgesFromStore(spark, store, Some(2L)))
        .contains((5L, 6L)))
      // the ingest side: a replay at or below the horizon is refused,
      // a fresh batch above it lands
      val e2 = intercept[IllegalArgumentException](
        GraphStore.applyEdgeBatch(
          Seq((7L, 8L)).toDF("src", "dst"), store, 1L))
      assert(e2.getMessage.contains("replay horizon"), e2.getMessage)
      GraphStore.applyEdgeBatch(Seq((7L, 8L)).toDF("src", "dst"), store, 3L)
      assert(edgeSet(GraphStore.edgesFromStore(spark, store))
        .contains((7L, 8L)))
      // the DELETE side shares the horizon: a redelivered old delete
      // batch would recreate tombstones compaction aged out, silently
      // re-suppressing legitimately re-inserted pairs — refused; a
      // fresh delete above the horizon lands normally
      val e3 = intercept[IllegalArgumentException](
        GraphStore.deleteEdges(
          Seq((1L, 2L)).toDF("src", "dst"), store, 0L))
      assert(e3.getMessage.contains("replay horizon"), e3.getMessage)
      GraphStore.deleteEdges(Seq((7L, 8L)).toDF("src", "dst"), store, 2L)
      assert(!edgeSet(GraphStore.edgesFromStore(spark, store))
        .contains((7L, 8L)))
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("fully-tombstoned fold region: the batch_id=through partition " +
      "is removed, erased edges never resurrect") {
    // EVERY edge in batches <= through is deleted: the dynamic
    // overwrite writes no partitions, so without the explicit delete
    // the stale batch_id=1 partition would keep its (all-erased) edges
    // while their tombstones age out of the log — silent resurrection
    val dir = java.nio.file.Files.createTempDirectory("graphstoreempty")
    try {
      val store = dir.resolve("g").toString
      GraphStore.applyEdgeBatch(
        Seq((1L, 2L), (2L, 3L)).toDF("src", "dst"), store, 0L)
      GraphStore.applyEdgeBatch(
        Seq((3L, 4L)).toDF("src", "dst"), store, 1L)
      GraphStore.applyEdgeBatch(
        Seq((7L, 8L)).toDF("src", "dst"), store, 2L)
      // tombstone EVERYTHING in batches 0 and 1
      GraphStore.deleteEdges(
        Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst"), store, 0L)
      GraphStore.compactThrough(spark, store, through = 1L)
      assert(edgeSet(GraphStore.edgesFromStore(spark, store)) ===
        Seq((7L, 8L)),
        "erased edges must stay erased after an empty-fold compaction")
      val parts = new java.io.File(s"$store/edges").listFiles()
        .map(_.getName).filter(_.startsWith("batch_id=")).sorted.toSeq
      assert(parts === Seq("batch_id=2"),
        "the stale fold-target partition must be deleted outright")
      assert(!new java.io.File(s"$store/_edge_tombstones").exists(),
        "no copies beyond the fold -> the log fully drains")
      // re-run: still a no-op
      GraphStore.compactThrough(spark, store, through = 1L)
      assert(edgeSet(GraphStore.edgesFromStore(spark, store)) ===
        Seq((7L, 8L)))
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("FULL-erasure compaction: the store empties cleanly — reads " +
      "return the empty relation, re-ingest revives it") {
    // every edge in every batch tombstoned, compaction through the
    // LAST batch: without the explicit dir handling the data dir would
    // survive file-less and every later read would die on parquet
    // schema inference — the store bricked by its own maintenance
    val dir = java.nio.file.Files.createTempDirectory("graphstorefull")
    try {
      val store = dir.resolve("g").toString
      GraphStore.applyEdgeBatch(
        Seq((1L, 2L)).toDF("src", "dst"), store, 0L)
      GraphStore.applyEdgeBatch(
        Seq((3L, 4L)).toDF("src", "dst"), store, 1L)
      GraphStore.deleteEdges(
        Seq((1L, 2L), (3L, 4L)).toDF("src", "dst"), store, 0L)
      GraphStore.compactThrough(spark, store, through = 1L)
      assert(edgeSet(GraphStore.edgesFromStore(spark, store)) === Seq(),
        "fully-erased store reads empty, not AnalysisException")
      // maintenance on the empty store is a no-op, not a crash
      GraphStore.compactThrough(spark, store, through = 1L)
      // and the next ingest simply revives it
      GraphStore.applyEdgeBatch(
        Seq((5L, 6L)).toDF("src", "dst"), store, 2L)
      assert(edgeSet(GraphStore.edgesFromStore(spark, store)) ===
        Seq((5L, 6L)))
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("interrupted tombstone-log swap: reads fall back to the staged " +
      "log and the next compaction completes the rename") {
    val dir = java.nio.file.Files.createTempDirectory("graphstoreswap")
    try {
      val store = dir.resolve("g").toString
      GraphStore.applyEdgeBatch(
        Seq((1L, 2L), (2L, 3L)).toDF("src", "dst"), store, 0L)
      GraphStore.applyEdgeBatch(
        Seq((2L, 3L), (5L, 6L)).toDF("src", "dst"), store, 1L)
      GraphStore.deleteEdges(Seq((2L, 3L)).toDF("src", "dst"), store, 0L)
      val before = edgeSet(GraphStore.edgesFromStore(spark, store))
      assert(before === Seq((1L, 2L), (5L, 6L)))
      // simulate a crash between compactThrough's delete-old and
      // rename-staged: the complete log sits in _edge_tombstones_next
      val log = new java.io.File(s"$store/_edge_tombstones")
      val next = new java.io.File(s"$store/_edge_tombstones_next")
      assert(log.renameTo(next))
      assert(edgeSet(GraphStore.edgesFromStore(spark, store)) === before,
        "reads inside the swap window must use the staged log")
      // the next maintenance entry repairs the swap, then compacts
      GraphStore.compactThrough(spark, store, through = 0L)
      assert(edgeSet(GraphStore.edgesFromStore(spark, store)) === before)
      assert(log.exists() && !next.exists(),
        "the staged dir must be renamed back into place")
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("an erasure arriving inside an interrupted swap completes the " +
      "swap first — staged tombstones are never orphaned") {
    val dir = java.nio.file.Files.createTempDirectory("graphstoredelswap")
    try {
      val store = dir.resolve("g").toString
      GraphStore.applyEdgeBatch(
        Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("src", "dst"), store, 0L)
      GraphStore.deleteEdges(Seq((2L, 3L)).toDF("src", "dst"), store, 0L)
      // simulate the crash window: complete log sits in _next only
      val log = new java.io.File(s"$store/_edge_tombstones")
      val next = new java.io.File(s"$store/_edge_tombstones_next")
      assert(log.renameTo(next))
      // a NEW erasure lands during the window: it must not recreate
      // the log with only itself and orphan the staged kept set
      GraphStore.deleteEdges(Seq((5L, 6L)).toDF("src", "dst"), store, 1L)
      assert(edgeSet(GraphStore.edgesFromStore(spark, store)) ===
        Seq((1L, 2L)),
        "BOTH the staged tombstone and the new erasure must apply")
      assert(log.exists() && !next.exists(),
        "the write path must complete the rename before writing")
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("kept-tombstone plan never exchanges the edge relation") {
    val dir = java.nio.file.Files.createTempDirectory("graphstorekept")
    try {
      val store = dir.resolve("g").toString
      GraphStore.applyEdgeBatch(
        Seq((1L, 2L), (2L, 3L)).toDF("src", "dst"), store, 0L)
      GraphStore.applyEdgeBatch(
        Seq((2L, 3L), (5L, 6L), (7L, 8L)).toDF("src", "dst"), store, 1L)
      GraphStore.deleteEdges(
        Seq((2L, 3L), (1L, 2L)).toDF("src", "dst"), store, 0L)
      val kept = GraphStore.keptTombstones(spark, store, through = 0L)
      assert(kept.select("src", "dst").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq === Seq((2L, 3L)),
        "only the tombstone with a copy beyond the fold survives")
      // the maintenance plan's contract: the data-sized newer-edge scan
      // flows through broadcast joins only — a SortMergeJoin would mean
      // a full (src, dst) exchange of every batch beyond the fold
      val plan = kept.queryExecution.executedPlan.toString
      assert(!plan.contains("SortMergeJoin"),
        s"kept-tombstone plan grew a corpus-wide exchange:\n$plan")
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("compaction with a fully-drained tombstone log deletes the log dir") {
    val dir = java.nio.file.Files.createTempDirectory("graphstoredrain")
    try {
      val store = dir.resolve("g").toString
      GraphStore.applyEdgeBatch(
        Seq((1L, 2L), (2L, 3L)).toDF("src", "dst"), store, 0L)
      GraphStore.applyEdgeBatch(
        Seq((3L, 4L)).toDF("src", "dst"), store, 1L)
      GraphStore.deleteEdges(Seq((2L, 3L)).toDF("src", "dst"), store, 0L)
      GraphStore.compactThrough(spark, store, through = 1L)
      assert(!new java.io.File(s"$store/_edge_tombstones").exists(),
        "an empty log must be deleted, not left schema-less")
      assert(edgeSet(GraphStore.edgesFromStore(spark, store)) ===
        Seq((1L, 2L), (3L, 4L)))
      // compacting a store with NO tombstone dir also works
      GraphStore.compactThrough(spark, store, through = 1L)
      assert(edgeSet(GraphStore.edgesFromStore(spark, store)) ===
        Seq((1L, 2L), (3L, 4L)))
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("streaming edge ingest: streamed store reads equal the batch " +
      "path, deletions and as-of compose") {
    val dir = java.nio.file.Files.createTempDirectory("graphstorestream")
    try {
      val store = dir.resolve("g").toString
      implicit val sqlCtx = spark.sqlContext
      val stream = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Long)]
      val q = GraphStore.edgeIngestStream(
          stream.toDF.toDF("src", "dst"), store)
        .option("checkpointLocation", dir.resolve("ckpt").toString)
        .start()
      stream.addData((1L, 2L), (2L, 3L))
      q.processAllAvailable()
      stream.addData((3L, 4L), (4L, 1L))
      q.processAllAvailable()
      q.stop()
      GraphStore.deleteEdges(Seq((2L, 3L)).toDF("src", "dst"), store, 0L)
      assert(edgeSet(GraphStore.edgesFromStore(spark, store)) ===
        Seq((1L, 2L), (3L, 4L), (4L, 1L)))
      // as-of the first micro-batch: its data only, deletion applies
      assert(edgeSet(GraphStore.edgesFromStore(spark, store, Some(0L))) ===
        Seq((1L, 2L)))
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("pagerank off the store equals pagerank on the surviving " +
      "direct edge set") {
    val dir = java.nio.file.Files.createTempDirectory("graphstorepr")
    try {
      val store = dir.resolve("g").toString
      val e = PageRank.citationEdges(spark, sf0001)
      (0 until 3).foreach(b => GraphStore.applyEdgeBatch(
        e.filter(pmod(col("src"), lit(3)) === b), store, b.toLong))
      GraphStore.deleteEdges(
        e.filter(pmod(col("src") + col("dst"), lit(31)) === 5), store, 0L)
      val docs = graft.Tables.documents(spark, sf0001)
        .select(col("doc_id"))
      def ranks(edges: org.apache.spark.sql.DataFrame) =
        PageRank.pageRank(edges, iters = 3, nodes = Some(docs))
          .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val fromStore = ranks(GraphStore.edgesFromStore(spark, store))
      val direct = ranks(
        e.filter(pmod(col("src") + col("dst"), lit(31)) =!= 5))
      assert(fromStore.keySet == direct.keySet)
      fromStore.foreach { case (k, v) =>
        assert(math.abs(v - direct(k)) < 1e-12, s"doc $k: $v vs ${direct(k)}")
      }
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }
}
