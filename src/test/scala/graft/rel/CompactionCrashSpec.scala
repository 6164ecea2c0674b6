package graft.rel

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Compaction crash RE-ENTRY (r18, VERDICT r17 #1): for each of the
  * two shared choreographies — [[Stores.compactThrough]] (via
  * [[AggStore.compactThrough]] and its additive KLL and CMS members,
  * where a re-fold double-counts permanently) and
  * [[KeyedCompaction.compactThrough]] (via GraphStore) — reconstruct
  * the exact on-disk state a crash between fold-write and prune
  * leaves, and pin that:
  *
  *  (a) head reads FENCE the sub-watermark leftovers (the crash
  *      window is answer-invisible before any recovery runs),
  *  (b) re-CALLING compactThrough IS the recovery: answers and
  *      partitions equal the uninterrupted twin's (previously the
  *      natural retry re-folded the fold together with the surviving
  *      originals — a permanent double-count), and
  *  (c) compacting below the watermark refuses loudly.
  *
  * Crash states are reconstructed bit-faithfully: compact fully, then
  * restore the pruned original partitions (and, for the keyed store,
  * the pre-swap tombstone log) from a pre-compaction backup — the
  * state a kill right before the prune phase leaves (P2); deleting
  * the `_fold_watermark` marker on top reproduces a kill right before
  * the watermark write, where the in-partition `_fold_commit` marker
  * is the only fold evidence (P1).
  */
class CompactionCrashSpec extends SparkSpec {
  import spark.implicits._

  private def conf = spark.sparkContext.hadoopConfiguration
  private def fsOf(p: String) =
    new org.apache.hadoop.fs.Path(p).getFileSystem(conf)
  private def hp(p: String) = new org.apache.hadoop.fs.Path(p)

  private def copyDir(src: String, dst: String): Unit =
    org.apache.hadoop.fs.FileUtil.copy(
      fsOf(src), hp(src), fsOf(dst), hp(dst), false, conf)

  private def partitions(store: String) =
    spark.read.parquet(store).select(col("batch_id").cast("long"))
      .distinct().as[Long].collect().toSet

  // ------------------------------------------------------ AggStore
  test("AggStore crash re-entry: retry after a kill between fold and " +
      "prune does not double-count; leftovers are read-fenced; " +
      "compacting below the watermark refuses") {
    val dir = java.nio.file.Files.createTempDirectory("aggcrash")
    try {
      val store = dir.resolve("store").toString
      val backup = dir.resolve("backup").toString
      val li = graft.Tables.lineitem(spark, sf0001)
      val gc = Seq("l_returnflag", "l_linestatus")
      (0 until 5).foreach(b => AggStore.applyBatch(
        li.filter(pmod($"l_orderkey", lit(5)) === b),
        gc, "l_extendedprice", store, b.toLong))
      def full = AggStore.aggFromStore(spark, store, gc)
        .orderBy(gc.map(col): _*).collect().map(_.toSeq).toSeq
      val want = full
      copyDir(store, backup)
      AggStore.compactThrough(spark, store, gc, 2L)
      assert(full === want && partitions(store) === Set(2L, 3L, 4L))
      def restoreLeftovers(): Unit = Seq(0L, 1L).foreach(b =>
        copyDir(s"$backup/batch_id=$b", s"$store/batch_id=$b"))
      // P2: fold + commit marker + watermark stand, prune lost
      restoreLeftovers()
      assert(full === want,
        "head reads must fence sub-watermark leftovers (crash window " +
          "answer-invisible)")
      AggStore.compactThrough(spark, store, gc, 2L) // the natural retry
      assert(partitions(store) === Set(2L, 3L, 4L) && full === want,
        "re-entry must prune, never re-fold (double-count)")
      // P1: watermark write lost too — the in-partition fold-commit
      // marker is the only evidence
      restoreLeftovers()
      fsOf(store).delete(hp(s"$store/_fold_watermark"), false)
      AggStore.compactThrough(spark, store, gc, 2L)
      assert(partitions(store) === Set(2L, 3L, 4L) && full === want,
        "fold-commit marker alone must route re-entry to recovery")
      assert(FoldWatermark.read(fsOf(store), store) === Some(2L),
        "recovery must restore the watermark the crash lost")
      // (c) compacting BELOW the fold is never meaningful
      val e = intercept[IllegalArgumentException](
        AggStore.compactThrough(spark, store, gc, 1L))
      assert(e.getMessage.contains("never meaningful"), e.getMessage)
      // (d) a fresh fold at a HIGHER through than the crashed one:
      // the fold region must FENCE the crash's leftovers (their
      // content is already inside the batch_id=2 fold) — re-folding
      // both would double-count batches 0,1 permanently
      restoreLeftovers()
      AggStore.compactThrough(spark, store, gc, 3L)
      assert(partitions(store) === Set(3L, 4L) && full === want,
        "a higher-through fold over a crashed state must not " +
          "re-fold the leftovers")
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("atomic fold publish (r19): kill states INSIDE the old " +
      "commit-window — complete stage unswapped, incomplete stage, " +
      "and mid-swap — all re-enter to the uninterrupted twin's state") {
    val dir = java.nio.file.Files.createTempDirectory("stagecrash")
    try {
      val store = dir.resolve("store").toString
      val twin = dir.resolve("twin").toString
      val li = graft.Tables.lineitem(spark, sf0001)
      val gc = Seq("l_returnflag", "l_linestatus")
      (0 until 5).foreach(b => AggStore.applyBatch(
        li.filter(pmod($"l_orderkey", lit(5)) === b),
        gc, "l_extendedprice", store, b.toLong))
      def ans(p: String) = AggStore.aggFromStore(spark, p, gc)
        .orderBy(gc.map(col): _*).collect().map(_.toSeq).toSeq
      val want = ans(store)
      // the uninterrupted twin supplies the landed fold's exact bytes
      copyDir(store, twin)
      AggStore.compactThrough(spark, twin, gc, 2L)
      assert(ans(twin) === want)
      val fs = fsOf(store)

      // P0a: crash right after the in-stage marker create — stage
      // COMPLETE (fold + _fold_commit inside), originals untouched,
      // no watermark. The r18 flow had no such state: its fold landed
      // IN the store before any marker, and a retry in that instant
      // re-folded it with the originals (the ADVICE double-count).
      copyDir(s"$twin/batch_id=2", s"$store/_fold_stage_2")
      assert(ans(store) === want,
        "a standing stage must be invisible to readers")
      AggStore.compactThrough(spark, store, gc, 2L) // the natural retry
      assert(partitions(store) === Set(2L, 3L, 4L) && ans(store) === want,
        "complete-stage re-entry must swap + prune, never re-fold")
      assert(FoldWatermark.read(fs, store) === Some(2L))

      // P0b: crash MID-SWAP — target partition deleted, complete
      // stage standing, watermark/prune lost. Rebuild the pre-crash
      // batches first (fresh store), then sculpt the kill state.
      fs.delete(hp(store), true)
      (0 until 5).foreach(b => AggStore.applyBatch(
        li.filter(pmod($"l_orderkey", lit(5)) === b),
        gc, "l_extendedprice", store, b.toLong))
      copyDir(s"$twin/batch_id=2", s"$store/_fold_stage_2")
      fs.delete(hp(s"$store/batch_id=2"), true)
      AggStore.compactThrough(spark, store, gc, 2L)
      assert(partitions(store) === Set(2L, 3L, 4L) && ans(store) === want,
        "mid-swap re-entry must finish the swap")

      // P0c: crash MID-STAGE-WRITE — stage present, marker absent:
      // the originals were never touched, so the stage discards and
      // the fresh fold proceeds
      fs.delete(hp(store), true)
      (0 until 5).foreach(b => AggStore.applyBatch(
        li.filter(pmod($"l_orderkey", lit(5)) === b),
        gc, "l_extendedprice", store, b.toLong))
      copyDir(s"$twin/batch_id=2", s"$store/_fold_stage_2")
      fs.delete(hp(s"$store/_fold_stage_2/_fold_commit"), false)
      AggStore.compactThrough(spark, store, gc, 2L)
      assert(partitions(store) === Set(2L, 3L, 4L) && ans(store) === want,
        "an incomplete stage must discard and fold fresh")
      assert(!fs.exists(hp(s"$store/_fold_stage_2")),
        "no stage litter after recovery")
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  // -------------------------------------- sketch family (KLL + CMS)
  test("KLL crash re-entry: total weight (the double-count detector) " +
      "survives a kill between fold and prune + retry exactly") {
    val dir = java.nio.file.Files.createTempDirectory("kllcrash")
    try {
      val store = dir.resolve("s").toString
      val backup = dir.resolve("b").toString
      val ord = graft.Tables.orders(spark, sf0001)
      val gc = Seq("o_orderstatus")
      (0 until 4).foreach(b => QuantileStore.applyBatch(
        ord.filter(pmod($"o_orderkey", lit(4)) === b),
        gc, "o_totalprice", store, b.toLong, 256))
      def totalWeight = QuantileStore
        .sketchesFromStore(spark, store, gc, 256)
        .select(col("o_orderstatus"), explode(col("sk")).as("it"))
        .groupBy("o_orderstatus").agg(sum("it.w").as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val want = totalWeight
      copyDir(store, backup)
      QuantileStore.compactThrough(spark, store, gc, 256, 2L)
      assert(totalWeight === want)
      def restoreLeftovers(): Unit = Seq(0L, 1L).foreach(b =>
        copyDir(s"$backup/batch_id=$b", s"$store/batch_id=$b"))
      // P2 crash state: read fence first, then the retry recovery
      restoreLeftovers()
      assert(totalWeight === want, "leftovers must be read-fenced")
      QuantileStore.compactThrough(spark, store, gc, 256, 2L)
      assert(partitions(store) === Set(2L, 3L) && totalWeight === want,
        "retry must not re-feed the fold's items (weight doubling)")
      // P1 crash state (no watermark): marker routes to recovery
      restoreLeftovers()
      fsOf(store).delete(hp(s"$store/_fold_watermark"), false)
      QuantileStore.compactThrough(spark, store, gc, 256, 2L)
      assert(partitions(store) === Set(2L, 3L) && totalWeight === want)
      val e = intercept[IllegalArgumentException](
        QuantileStore.compactThrough(spark, store, gc, 256, 1L))
      assert(e.getMessage.contains("never meaningful"), e.getMessage)
      // a fresh fold at a HIGHER through over the crashed state must
      // fence the leftovers, or their weight doubles into the new fold
      restoreLeftovers()
      QuantileStore.compactThrough(spark, store, gc, 256, 3L)
      assert(partitions(store) === Set(3L) && totalWeight === want,
        "a higher-through fold must not re-feed the leftovers' items")
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("CMS crash re-entry: cell sums (additive) survive kill + retry " +
      "exactly") {
    val dir = java.nio.file.Files.createTempDirectory("cmscrash")
    try {
      val store = dir.resolve("s").toString
      val backup = dir.resolve("b").toString
      val ev = graft.Tables.events(spark, sf0001)
      val probes = ev.select("event_type").distinct()
      def est = Cms.estimateFromStore(spark, store, probes, "event_type")
        .orderBy("event_type").collect().map(_.toSeq).toSeq
      (0 until 3).foreach(b => Cms.applyBatch(
        ev.filter(pmod($"event_id", lit(3)) === b),
        "event_type", store, b.toLong))
      val want = est
      copyDir(store, backup)
      Cms.compactThrough(spark, store, 1L)
      assert(est === want)
      // P2 crash state
      copyDir(s"$backup/batch_id=0", s"$store/batch_id=0")
      assert(est === want, "leftovers must be read-fenced")
      Cms.compactThrough(spark, store, 1L)
      assert(partitions(store) === Set(1L, 2L) && est === want,
        "retry must not re-add the fold's counters")
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  // --------------------------------- KeyedCompaction (via GraphStore)
  test("keyed crash re-entry: retry prunes without duplicating rows, " +
      "leaves the tombstone log UNTOUCHED so erasures that arrived " +
      "after the crash keep suppressing, and the next fresh fold " +
      "applies them") {
    val dir = java.nio.file.Files.createTempDirectory("keyedcrash")
    try {
      val store = dir.resolve("g").toString
      val backup = dir.resolve("b").toString
      val edges = s"$store/edges"
      def edgeSet = GraphStore.edgesFromStore(spark, store)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      GraphStore.applyEdgeBatch(
        Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst"), store, 0L)
      GraphStore.applyEdgeBatch(
        Seq((4L, 5L), (5L, 6L)).toDF("src", "dst"), store, 1L)
      GraphStore.applyEdgeBatch(
        Seq((6L, 7L)).toDF("src", "dst"), store, 2L)
      GraphStore.deleteEdges(Seq((2L, 3L)).toDF("src", "dst"), store, 0L)
      val want = edgeSet
      copyDir(store, backup)
      GraphStore.compactThrough(spark, store, 1L)
      assert(edgeSet === want)
      // P2 crash state: restore pruned originals AND the pre-swap log
      copyDir(s"$backup/edges/batch_id=0", s"$edges/batch_id=0")
      val fs = fsOf(store)
      fs.delete(hp(s"$store/_edge_tombstones"), true)
      copyDir(s"$backup/_edge_tombstones", s"$store/_edge_tombstones")
      assert(edgeSet === want, "leftovers must be read-fenced")
      // an erasure arriving AFTER the crash, targeting an edge whose
      // only copy now sits inside the fold partition (a fresh mutation
      // id — the horizon guard rightly refuses ids at/below the fold)
      GraphStore.deleteEdges(Seq((1L, 2L)).toDF("src", "dst"), store, 5L)
      val wantErased = want.filterNot(_ == (1L, 2L))
      GraphStore.compactThrough(spark, store, 1L) // the natural retry
      assert(partitions(edges) === Set(1L, 2L),
        "retry must prune the leftovers")
      assert(edgeSet === wantErased,
        "recovery must NOT shrink the log — the post-crash tombstone " +
          "keeps suppressing its folded-away edge")
      // the next FRESH fold (no leftovers now) applies the erasure
      // into the data and the log shrink drops the spent tombstone
      GraphStore.compactThrough(spark, store, 1L)
      assert(edgeSet === wantErased)
      val foldRows = spark.read.parquet(edges)
        .filter(col("batch_id").cast("long") === 1L)
        .select("src", "dst")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(!foldRows.contains((1L, 2L)),
        "the fresh re-fold must bake the post-crash erasure in")
      // a fresh fold at a HIGHER through over a re-created crash
      // state: the leftover fence must keep batch 0's rows out — the
      // (1,2) tombstone is SPENT (applied + dropped from the log), so
      // an unfenced re-fold would silently RESURRECT the erased edge
      copyDir(s"$backup/edges/batch_id=0", s"$edges/batch_id=0")
      GraphStore.compactThrough(spark, store, 2L)
      assert(partitions(edges) === Set(2L) && edgeSet === wantErased,
        "a higher-through keyed fold must not re-keep fenced leftovers")
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("keyed EMPTY-fold crash re-entry: retry deletes the stale " +
      "all-tombstoned target and the partition-less root, preserving " +
      "the ingest horizon") {
    val dir = java.nio.file.Files.createTempDirectory("emptycrash")
    try {
      val store = dir.resolve("g").toString
      val backup = dir.resolve("b").toString
      val edges = s"$store/edges"
      GraphStore.applyEdgeBatch(
        Seq((1L, 2L)).toDF("src", "dst"), store, 0L)
      GraphStore.applyEdgeBatch(
        Seq((3L, 4L)).toDF("src", "dst"), store, 1L)
      GraphStore.deleteEdges(
        Seq((1L, 2L), (3L, 4L)).toDF("src", "dst"), store, 0L)
      copyDir(store, backup)
      GraphStore.compactThrough(spark, store, 1L) // empty fold
      def edgeSet = GraphStore.edgesFromStore(spark, store)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(edgeSet === Seq.empty)
      // crash state: watermark written, prune + target delete lost
      copyDir(s"$backup/edges/batch_id=0", s"$edges/batch_id=0")
      copyDir(s"$backup/edges/batch_id=1", s"$edges/batch_id=1")
      fsOf(store).delete(hp(s"$store/_edge_tombstones"), true)
      copyDir(s"$backup/_edge_tombstones", s"$store/_edge_tombstones")
      GraphStore.compactThrough(spark, store, 1L) // the natural retry
      assert(edgeSet === Seq.empty,
        "retry must finish the empty fold: no resurrected edges")
      // the ingest replay horizon survives the root cleanup
      val e = intercept[IllegalArgumentException](
        GraphStore.applyEdgeBatch(
          Seq((9L, 9L)).toDF("src", "dst"), store, 1L))
      assert(e.getMessage.toLowerCase.contains("watermark"),
        e.getMessage)
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }
}
