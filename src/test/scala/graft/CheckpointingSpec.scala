package graft

import java.nio.file.{Files, Path}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import scala.jdk.CollectionConverters._

/** The durability flag: `Checkpointing.truncate` must write reliable,
  * executor-loss-surviving checkpoints when the session has a checkpoint
  * dir (the cluster deployment mode) and fall back to localCheckpoint
  * when it doesn't — with identical results either way. Exercised
  * through an iterative operator (connected components), PageRank's
  * per-iteration truncation, and a store commit's materialize-before-
  * any-file-moves fold (a sketch-store compaction). A guard keeps
  * `truncate` the only materialization in `src/main`.
  */
class CheckpointingSpec extends SparkSpec {
  import spark.implicits._

  private def deleteTree(dir: Path): Unit =
    Files.walk(dir).iterator().asScala.toSeq.reverse
      .foreach(Files.deleteIfExists(_))

  /** `body` run with a fresh session checkpoint dir, and the number of
    * files it wrote there. Local mode is restored afterwards. */
  private def reliably[T](body: => T): (T, Long) = {
    assert(spark.sparkContext.getCheckpointDir.isEmpty,
      "suite precondition: no checkpoint dir set")
    val dir = Files.createTempDirectory("graft-ckpt")
    try {
      spark.sparkContext.setCheckpointDir(dir.toString)
      val out = body
      (out, Files.walk(dir).iterator().asScala.count(Files.isRegularFile(_)))
    } finally {
      // restore local mode for the rest of the shared-session suite.
      // SparkContext has no public unset; private[spark] members are
      // public in bytecode, so the generated setter is callable —
      // confirmed below by getCheckpointDir reading back empty.
      classOf[org.apache.spark.SparkContext]
        .getMethod("checkpointDir_$eq", classOf[Option[String]])
        .invoke(spark.sparkContext, None)
      deleteTree(dir)
      assert(spark.sparkContext.getCheckpointDir.isEmpty,
        "failed to restore local-checkpoint mode — later suites would " +
          "silently run in reliable mode against a deleted dir")
    }
  }

  private def connectedComponents(): Set[Row] =
    graft.text.DedupClusters.connectedComponents(
        Seq(1L, 2L, 3L, 4L, 5L, 6L).toDF("doc_id"),
        Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("d1", "d2"))
      .collect().toSet

  private def pageRank(): Set[Row] =
    graft.rel.PageRank.pageRank(
        Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 1L))
          .toDF("src", "dst"),
        iters = 4, checkpointEvery = 1)
      .select(col("id"), round(col("r"), 12).as("r"))
      .collect().toSet

  /** Three count-min batches folded through batch 1, read back. */
  private def sketchCompaction(): Set[Row] = {
    val dir = Files.createTempDirectory("graft-ckpt-store")
    try {
      val store = dir.resolve("store").toString
      val ev = spark.range(90).select(col("id").as("event_id"),
        (col("id") % 13).as("user_id"))
      (0 until 3).foreach(b => graft.rel.Cms.applyBatch(
        ev.filter(pmod(col("event_id"), lit(3)) === b), "user_id", store,
        b.toLong))
      graft.rel.Cms.compactThrough(spark, store, 1L)
      graft.rel.Cms.estimateFromStore(spark, store,
        ev.select("user_id").distinct(), "user_id").collect().toSet
    } finally deleteTree(dir)
  }

  private val inputs: Seq[(String, () => Set[Row])] = Seq(
    "reliable mode engages via the session checkpoint dir and matches " +
      "local mode" -> (() => connectedComponents()),
    "PageRank writes checkpoint files in reliable mode and matches " +
      "local mode" -> (() => pageRank()),
    "a sketch-store compaction writes checkpoint files in reliable " +
      "mode and matches local mode" -> (() => sketchCompaction()))

  inputs.foreach { case (name, run) =>
    test(name) {
      val local = run()
      assert(local.nonEmpty)
      val (reliable, written) = reliably(run())
      assert(reliable === local, "reliable mode changed the answer")
      assert(written > 0, "no files under the checkpoint dir — " +
        "truncate() did not take the reliable path")
    }
  }

  test("connected components: local mode gives the known labels") {
    assert(connectedComponents() === Set((1L, 1L), (2L, 1L), (3L, 1L),
      (4L, 4L), (5L, 4L), (6L, 6L)).map { case (a, b) => Row(a, b) })
  }

  test("reliable mode keeps a cache the caller put on the input") {
    val ds = spark.range(10).toDF("id").persist(StorageLevel.MEMORY_ONLY)
    try {
      val (out, _) = reliably(Checkpointing.truncate(ds).count())
      assert(out == 10)
      assert(ds.storageLevel == StorageLevel.MEMORY_ONLY,
        "truncate dropped the caller's cache")
    } finally ds.unpersist()
  }

  test("Checkpointing.truncate is the only materialization in src/main") {
    val main = new java.io.File("src/main/scala")
    assert(main.isDirectory, s"run from the repo root: ${main.getAbsolutePath}")
    val callers = Files.walk(main.toPath).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filter(p => new String(Files.readAllBytes(p), "UTF-8")
        .contains(".localCheckpoint("))
      .map(_.getFileName.toString).toSet
    assert(callers == Set("Checkpointing.scala"))
  }
}
