package graft.rel

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Key-level deletes for the doc-keyed stores (DESIGN_upsert.md): a
  * tombstoned doc disappears from every subsequent store read — so it
  * can never again appear in a near-dup candidate pair — redelivered
  * delete batches are no-ops, and `compact` folds the log into the
  * store without changing any answer.
  */
class TombstonesSpec extends SparkSpec {
  import spark.implicits._

  test("signature store: delete removes the doc from candidates; " +
      "replay is a no-op; compact preserves answers") {
    val docs = graft.Tables.documents(spark, sf0001)
    val corpus = docs.filter($"doc_id" % 10 =!= 0)
    val batch = docs.filter($"doc_id" % 10 === 0)
    val dir = java.nio.file.Files.createTempDirectory("graft-tomb")
    val path = dir.resolve("signatures.parquet").toString
    try {
      graft.text.NearDup.writeSignatureStore(corpus, path)
      def pairs = graft.text.NearDup
        .minhashNeardupIncrementalStored(spark, path, batch)
        .select("d1", "d2").as[(Long, Long)].collect().toSet
      val before = pairs
      assert(before.nonEmpty, "fixture must produce candidate pairs")
      // delete every corpus doc that participates in a pair
      val victims = before.flatMap(p => Seq(p._1, p._2))
        .filter(_ % 10 != 0).toSeq
      assert(victims.nonEmpty)
      graft.text.NearDup.deleteFromSignatureStore(
        victims.toDF("doc_id"), path, batchId = 0L)
      val after = pairs
      val afterIds = after.flatMap(p => Seq(p._1, p._2))
      assert(victims.forall(v => !afterIds.contains(v)),
        "a tombstoned doc must never reappear in a candidate pair")
      // replayed delete batch: same partition, same answers
      graft.text.NearDup.deleteFromSignatureStore(
        victims.toDF("doc_id"), path, batchId = 0L)
      assert(pairs === after, "replayed delete must not move answers")
      // compact folds the log into the store: read-before == read-after
      // and the log is gone
      Tombstones.compact(spark, path, "doc_id")
      assert(pairs === after, "compact must not change any answer")
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(!fs.exists(
        new org.apache.hadoop.fs.Path(Tombstones.logPath(path))),
        "compact must truncate the tombstone log")
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("signature store: a compact killed between its aside and in " +
      "renames loses no row — the next store read finishes the swap") {
    val docs = graft.Tables.documents(spark, sf0001)
    val corpus = docs.filter($"doc_id" % 10 =!= 0)
    val batch = docs.filter($"doc_id" % 10 === 0)
    val dir = java.nio.file.Files.createTempDirectory("graft-tomb-crash")
    val path = dir.resolve("signatures.parquet").toString
    CrashRenameFs.register(spark.sparkContext.hadoopConfiguration)
    try {
      graft.text.NearDup.writeSignatureStore(corpus, path)
      def storeIds = spark.read.parquet(path).select("doc_id").as[Long]
        .collect().toSet
      val all = storeIds
      val victims = all.toSeq.sorted.take(5)
      graft.text.NearDup.deleteFromSignatureStore(
        victims.toDF("doc_id"), path, batchId = 0L)
      def pairs = graft.text.NearDup
        .minhashNeardupIncrementalStored(spark, path, batch)
        .select("d1", "d2").as[(Long, Long)].collect().toSet
      val before = pairs
      // the process dies on the rename that moves the rewrite INTO the
      // store root: the live root has already left its path
      CrashRenameFs.killAt = Some(path)
      intercept[java.io.IOException](
        Tombstones.compact(spark, s"crashrename://$path", "doc_id"))
      CrashRenameFs.killAt = None
      assert(pairs === before, "the read after the crash must see the store")
      assert(storeIds === all -- victims,
        "every surviving row must stand in the recovered store")
    } finally {
      CrashRenameFs.killAt = None
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("signature store: compact recovers a pending swap on entry — " +
      "{precompact, complete compacting, no root} loses no row") {
    val docs = graft.Tables.documents(spark, sf0001)
    val dir = java.nio.file.Files.createTempDirectory("graft-tomb-pending")
    val path = dir.resolve("signatures.parquet").toString
    try {
      graft.text.NearDup.writeSignatureStore(docs, path)
      def storeIds = spark.read.parquet(path).select("doc_id").as[Long]
        .collect().toSet
      val all = storeIds
      val victims = all.toSeq.sorted.take(5)
      graft.text.NearDup.deleteFromSignatureStore(
        victims.toDF("doc_id"), path, batchId = 0L)
      // the state a compact leaves when it dies between its two renames:
      // the complete rewrite waits in .compacting, the old root is aside
      spark.read.parquet(path).filter(!$"doc_id".isin(victims: _*))
        .write.parquet(s"$path.compacting")
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(fs.rename(new org.apache.hadoop.fs.Path(path),
        new org.apache.hadoop.fs.Path(s"$path.precompact")))
      Tombstones.compact(spark, path, "doc_id")
      assert(storeIds === all -- victims,
        "every surviving row must stand in the compacted store")
      assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path.compacting")))
      assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path.precompact")))
      assert(!fs.exists(
        new org.apache.hadoop.fs.Path(Tombstones.logPath(path))),
        "compact must truncate the tombstone log")
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("gate log: the ungate fold survives a redelivered mutation; " +
      "negative mutation ids are rejected") {
    val dir = java.nio.file.Files.createTempDirectory("graft-gate")
    try {
      val store = dir.resolve("s.parquet").toString
      Tombstones.gateBatches(spark, store, Seq(2L, 3L), mutationId = 0L)
      Tombstones.gateBatches(spark, store, Seq(4L), mutationId = 1L)
      Tombstones.ungateBatch(spark, store, 2L)
      assert(Tombstones.gatedBatches(spark, store) === Set(3L, 4L))
      // redeliver mutation 0 AFTER the ungate folded the log: the fold
      // lives in the reserved negative partition, so the replayed
      // mutation must not erase mutation 1's standing gate on batch 4
      // (it conservatively re-gates 2/3 — the documented replay
      // horizon — but a deleted key must never leak back)
      Tombstones.gateBatches(spark, store, Seq(2L, 3L), mutationId = 0L)
      val g = Tombstones.gatedBatches(spark, store)
      assert(g.contains(4L),
        "a standing gate must survive a replayed earlier mutation")
      assert(g === Set(2L, 3L, 4L))
      intercept[IllegalArgumentException] {
        Tombstones.gateBatches(spark, store, Seq(9L), mutationId = -5L)
      }
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("deletes on a store with no tombstone log are free reads") {
    val dir = java.nio.file.Files.createTempDirectory("graft-tomb2")
    val path = dir.resolve("t.parquet").toString
    try {
      Seq((1L, "a"), (2L, "b")).toDF("doc_id", "v")
        .write.parquet(path)
      val out = Tombstones.filterDeleted(
        spark.read.parquet(path), "doc_id", path)
      assert(out.count() === 2L)
      // and deletes compose: two batches, distinct keys each
      Tombstones.applyDelete(Seq(1L).toDF("doc_id"), "doc_id", path, 0L)
      Tombstones.applyDelete(Seq(2L).toDF("doc_id"), "doc_id", path, 1L)
      assert(Tombstones.filterDeleted(
        spark.read.parquet(path), "doc_id", path).count() === 0L)
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("an EMPTY delete request leaves the ledger readable (a " +
      "file-less log reads as no tombstones) and later deletes land") {
    val dir = java.nio.file.Files.createTempDirectory("graft-tomb3")
    val path = dir.resolve("t.parquet").toString
    try {
      Seq((1L, "a"), (2L, "b")).toDF("doc_id", "v")
        .write.parquet(path)
      // an automated erasure pipeline matched zero keys: the dynamic
      // overwrite writes only _SUCCESS — every later read must treat
      // the file-less log as "no tombstones", not die on schema
      // inference
      Tombstones.applyDelete(
        Seq.empty[Long].toDF("doc_id"), "doc_id", path, 0L)
      assert(Tombstones.deletedKeys(spark, path).isEmpty)
      assert(Tombstones.filterDeleted(
        spark.read.parquet(path), "doc_id", path).count() === 2L)
      assert(Tombstones.gatedBatches(spark, path) === Set.empty[Long])
      // a real delete afterwards still lands and suppresses
      Tombstones.applyDelete(Seq(1L).toDF("doc_id"), "doc_id", path, 1L)
      assert(Tombstones.filterDeleted(
        spark.read.parquet(path), "doc_id", path).count() === 1L)
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }
}
