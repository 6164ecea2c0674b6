package graft.streaming

import graft.SparkSpec
import graft.text.NearDup
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

/** End-to-end streaming ingest dedup: feeding the corpus through
  * micro-batches must (a) leave the signature store holding exactly one
  * signature row per shingleable doc, and (b) emit exactly the pairs
  * the full-corpus batch run finds — each pair once, when its
  * later-arriving member lands.
  */
class IngestDedupSpec extends SparkSpec {
  import spark.implicits._

  test("ingest stream maintains the store and reproduces the full-run pairs") {
    val docs = graft.Tables.documents(spark, sf0001)
      .select("doc_id", "text").as[(Long, String)].collect()
    val dir = java.nio.file.Files.createTempDirectory("graft-ingest")
    val storePath = dir.resolve("signatures").toString
    val pairsPath = dir.resolve("pairs").toString
    try {
      implicit val sqlCtx = spark.sqlContext
      val stream = MemoryStream[(Long, String)]
      val q = StreamingOps
        .ingestDedupStream(stream.toDF.toDF("doc_id", "text"),
          storePath, pairsPath)
        .trigger(Trigger.ProcessingTime(0))
        .start()
      docs.grouped(math.max(1, docs.length / 3 + 1)).foreach { chunk =>
        stream.addData(chunk.toIndexedSeq)
        q.processAllAvailable()
      }
      q.stop()

      // store: exactly the batch-path signatures of the whole corpus —
      // ONE row per doc (collect to rows first; a toMap would silently
      // collapse duplicate doc_id rows before the comparison)
      val storeRows = spark.read.parquet(storePath)
        .select("doc_id", "sz").as[(Long, Int)].collect()
      assert(storeRows.length === storeRows.map(_._1).distinct.length,
        "store holds duplicate doc_id rows")
      val store = storeRows.toMap
      val full = NearDup
        .minhashNeardupFast(spark, sf0001) // ensures same defaults below
      val wantSigs = graft.Tables.documents(spark, sf0001)
        .select("doc_id", "text")
      val expected = {
        // one signature row per shingleable doc, sz matching
        val m = scala.collection.mutable.Map.empty[Long, Int]
        wantSigs.as[(Long, String)].collect().foreach { case (id, text) =>
          val n = text.split("\\s+").length
          if (n >= 3) m(id) = 0 // presence check; sz checked nonzero below
        }
        m
      }
      assert(store.keySet === expected.keySet,
        s"store docs ${store.size} vs expected ${expected.size}")
      assert(store.values.forall(_ > 0))

      // pairs: union over micro-batches equals the full-corpus run
      val got = spark.read.parquet(pairsPath)
        .select("d1", "d2", "jaccard").as[(Long, Long, Double)]
        .collect()
      val gotSet = got.toSet
      assert(got.length === gotSet.size, "a pair was emitted twice")
      val want = full.select("d1", "d2", "jaccard")
        .as[(Long, Long, Double)].collect().toSet
      assert(gotSet === want,
        s"missing=${want -- gotSet} extra=${gotSet -- want}")
      assert(want.nonEmpty)

      // redelivery/restart idempotence: replaying the ENTIRE corpus into
      // the same store (what an at-least-once source or a foreachBatch
      // re-run after restart does) must change nothing — the store
      // anti-join recognizes every doc as already ingested
      val replay = MemoryStream[(Long, String)]
      val q2 = StreamingOps
        .ingestDedupStream(replay.toDF.toDF("doc_id", "text"),
          storePath, pairsPath)
        .trigger(Trigger.ProcessingTime(0))
        .start()
      replay.addData(docs.toIndexedSeq)
      q2.processAllAvailable()
      q2.stop()
      assert(spark.read.parquet(storePath).count() === storeRows.length.toLong,
        "replay duplicated store rows")
      assert(spark.read.parquet(pairsPath).count() === got.length.toLong,
        "replay re-emitted pairs")
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("dedup horizon: pairs match the TTL variant; compaction drops exactly the stale rows") {
    // identical 20-token docs at controlled event times; horizon 20s.
    // A(t=1000s) ~ B(t=1010s) pair; C(t=1100s) ~ D(t=1104s) pair; every
    // cross-combination is farther apart than the horizon; E is unique.
    val ta = (1 to 20).map(i => s"alpha$i").mkString(" ")
    val te = (1 to 20).map(i => s"omega$i").mkString(" ")
    def ts(ms: Long) = new java.sql.Timestamp(ms)
    // away from epoch 0 (the initial watermark, where rows count as
    // late — same note as StreamingNearDupSpec): base t0 = 1000s
    val batches = Seq(
      Seq((1L, ta, ts(1000000L)), (2L, ta, ts(1010000L))),
      Seq((5L, te, ts(1050000L))),
      Seq((3L, ta, ts(1100000L)), (4L, ta, ts(1104000L))))
    val h = 20000L
    val dir = java.nio.file.Files.createTempDirectory("graft-horizon")
    val storePath = dir.resolve("signatures").toString
    val pairsPath = dir.resolve("pairs").toString
    try {
      implicit val sqlCtx = spark.sqlContext
      val stream = MemoryStream[(Long, String, java.sql.Timestamp)]
      val q = StreamingOps
        .ingestDedupStream(stream.toDF.toDF("doc_id", "text", "ts"),
          storePath, pairsPath, tsCol = "ts", horizonMs = h)
        .trigger(Trigger.ProcessingTime(0))
        .start()
      batches.foreach { b => stream.addData(b); q.processAllAvailable() }
      q.stop()
      val got = spark.read.parquet(pairsPath)
        .select("d1", "d2").as[(Long, Long)].collect().toSet
      assert(got === Set((1L, 2L), (3L, 4L)),
        s"horizon must allow only within-window pairs: $got")

      // the TTL streaming variant on the SAME timed corpus agrees: its
      // candidates are the banded collisions within ttl, and every one
      // here is an exact dup, so candidate set == verified set
      val src = MemoryStream[(Long, String, java.sql.Timestamp)]
      val qt = StreamingOps
        .neardupCandidatesStreamTtl(src.toDF.toDF("doc_id", "text", "ts"),
          ttlMs = h)
        .writeStream.outputMode("append").format("memory")
        .queryName("ttl_horizon_pairs")
        .trigger(Trigger.ProcessingTime(0)).start()
      batches.foreach { b => src.addData(b); qt.processAllAvailable() }
      qt.stop()
      val ttlPairs = spark.table("ttl_horizon_pairs")
        .as[(Long, Long)].collect().toSet
      assert(ttlPairs === got,
        s"ingest-with-horizon must match the TTL variant: ttl=$ttlPairs")

      // retention: compaction drops exactly the rows more than h behind
      // the store's newest event time (1104s → cutoff 1084s: keeps C, D)
      assert(spark.read.parquet(storePath).count() === 5L)
      StreamingOps.compactSignatureStore(spark, storePath,
        targetBytes = Long.MaxValue, horizonMs = h)
      val kept = spark.read.parquet(storePath)
        .select("doc_id").as[Long].collect().toSet
      assert(kept === Set(3L, 4L),
        s"retention must keep exactly the within-horizon rows: $kept")

      // a store written without event times refuses horizon retention
      val bare = dir.resolve("bare").toString
      Seq((9L, 1, Array(9L), Array(9L)))
        .toDF("doc_id", "sz", "hs", "band_sigs").write.parquet(bare)
      val ex = intercept[IllegalArgumentException] {
        StreamingOps.compactSignatureStore(spark, bare,
          targetBytes = Long.MaxValue, horizonMs = h)
      }
      assert(ex.getMessage.contains("ts_ms"))
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("compaction is retry-safe: a stale tmp dir from a crashed attempt never leaks") {
    val dir = java.nio.file.Files.createTempDirectory("graft-compact-retry")
    try {
      val store = dir.resolve("signatures").toString
      val rows = Seq(
        (1L, 3, Array(1L, 2L, 3L), Array(10L, 20L)),
        (2L, 2, Array(4L, 5L), Array(30L, 40L)))
      rows.toDF("doc_id", "sz", "hs", "band_sigs")
        .repartition(4).write.parquet(store)
      // a crashed earlier compaction left its tmp dir behind, holding
      // rows that were NEVER committed — a retry must discard them, not
      // merge or swap them in
      Seq((99L, 1, Array(9L), Array(9L)))
        .toDF("doc_id", "sz", "hs", "band_sigs")
        .write.parquet(dir.resolve("signatures.compacting").toString)
      StreamingOps.compactSignatureStore(spark, store,
        targetBytes = Long.MaxValue)
      val after = spark.read.parquet(store)
        .select("doc_id", "sz").as[(Long, Int)].collect().toSet
      assert(after === Set((1L, 3), (2L, 2)),
        s"stale tmp content leaked into the compacted store: $after")
      import scala.jdk.CollectionConverters._
      val parts = java.nio.file.Files.list(java.nio.file.Paths.get(store))
        .iterator().asScala.count(_.getFileName.toString.startsWith("part-"))
      assert(parts === 1, s"expected one compacted file, got $parts")
      assert(!java.nio.file.Files.exists(dir.resolve("signatures.compacting")),
        "tmp dir survived the swap")
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("crashed swap recovery: a complete tmp with no store finishes the swap") {
    // the OTHER crash window: the previous compaction wrote tmp, deleted
    // the store, and died before the rename. tmp holds the only copy of
    // the dedup history — recovery must complete the swap, never discard
    // it (discarding would silently re-ingest every doc from scratch)
    val dir = java.nio.file.Files.createTempDirectory("graft-swap-recover")
    try {
      val store = dir.resolve("signatures").toString
      Seq((1L, 3, Array(1L, 2L, 3L), Array(10L, 20L)))
        .toDF("doc_id", "sz", "hs", "band_sigs")
        .write.parquet(dir.resolve("signatures.compacting").toString)
      // no store dir exists — exactly the post-delete pre-rename state
      StreamingOps.compactSignatureStore(spark, store)
      val after = spark.read.parquet(store)
        .select("doc_id", "sz").as[(Long, Int)].collect().toSet
      assert(after === Set((1L, 3)),
        s"recovery lost the orphaned compacted store: $after")
      assert(!java.nio.file.Files.exists(dir.resolve("signatures.compacting")))
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("rename-based swap recovery: every crash state keeps one complete store") {
    // the swap is write(tmp) → rename(store, old) → rename(tmp, store)
    // → delete(old); crash between the renames and crash during the
    // final delete must both recover without data loss (the protocol
    // exists because a recursive DELETE of the live store is not atomic
    // outside HDFS — a crash mid-delete under the old protocol left a
    // partially-deleted store that recovery then committed)
    import scala.jdk.CollectionConverters._
    def mkStore(dir: java.nio.file.Path, name: String, ids: Seq[Long]): String = {
      val p = dir.resolve(name).toString
      ids.map(i => (i, 1, Array(i), Array(i)))
        .toDF("doc_id", "sz", "hs", "band_sigs").write.parquet(p)
      p
    }
    def storeIds(p: String): Set[Long] =
      spark.read.parquet(p).select("doc_id").as[Long].collect().toSet
    val fs = new org.apache.hadoop.fs.Path("/").getFileSystem(
      spark.sparkContext.hadoopConfiguration)

    // state A: crash between the two renames — old + complete tmp, no
    // store. Recovery must commit tmp and drop old.
    val a = java.nio.file.Files.createTempDirectory("graft-swap-a")
    mkStore(a, "signatures.precompact", Seq(1L, 2L))
    mkStore(a, "signatures.compacting", Seq(1L, 2L)) // the rewrite
    graft.rel.Stores.recoverSwap(fs,
      new org.apache.hadoop.fs.Path(a.resolve("signatures").toString))
    assert(storeIds(a.resolve("signatures").toString) === Set(1L, 2L))
    assert(!java.nio.file.Files.exists(a.resolve("signatures.precompact")))
    assert(!java.nio.file.Files.exists(a.resolve("signatures.compacting")))

    // state B: crash during the post-commit delete(old) — old + store
    // both present. old is superseded garbage; the store must survive
    // UNTOUCHED (under the delete-based protocol this state looked like
    // "uncommitted rewrite" and recovery kept a possibly-partial store).
    val b = java.nio.file.Files.createTempDirectory("graft-swap-b")
    mkStore(b, "signatures", Seq(1L, 2L, 3L))
    mkStore(b, "signatures.precompact", Seq(1L, 2L))
    graft.rel.Stores.recoverSwap(fs,
      new org.apache.hadoop.fs.Path(b.resolve("signatures").toString))
    assert(storeIds(b.resolve("signatures").toString) === Set(1L, 2L, 3L))
    assert(!java.nio.file.Files.exists(b.resolve("signatures.precompact")))

    // state C (defensive): only old exists — restore it as the store
    val c = java.nio.file.Files.createTempDirectory("graft-swap-c")
    mkStore(c, "signatures.precompact", Seq(7L))
    graft.rel.Stores.recoverSwap(fs,
      new org.apache.hadoop.fs.Path(c.resolve("signatures").toString))
    assert(storeIds(c.resolve("signatures").toString) === Set(7L))

    Seq(a, b, c).foreach { d =>
      java.nio.file.Files.walk(d).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("store compaction bounds the file count without changing store or pairs") {
    val docs = graft.Tables.documents(spark, sf0001)
      .select("doc_id", "text").as[(Long, String)].collect()
    val chunks = docs.grouped(math.max(1, docs.length / 20 + 1)).toSeq
    assert(chunks.length >= 15, s"want ~20 triggers, got ${chunks.length}")
    val dir = java.nio.file.Files.createTempDirectory("graft-compact")

    def partFiles(p: String): Seq[String] = {
      val d = java.nio.file.Paths.get(p)
      if (!java.nio.file.Files.isDirectory(d)) Seq.empty
      else {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.list(d).iterator().asScala
          .map(_.getFileName.toString).filter(_.startsWith("part-")).toSeq
      }
    }
    // run the same 20-trigger ingest twice: compacting at a tiny file
    // bound vs never compacting; the stores must be row-identical and
    // the pair outputs set-identical — compaction is a layout rewrite,
    // never a semantic one
    def run(name: String, maxFiles: Int): (Set[String], Set[String], Seq[Int]) = {
      implicit val sqlCtx = spark.sqlContext
      val storePath = dir.resolve(s"$name-signatures").toString
      val pairsPath = dir.resolve(s"$name-pairs").toString
      val stream = MemoryStream[(Long, String)]
      val q = StreamingOps
        .ingestDedupStream(stream.toDF.toDF("doc_id", "text"),
          storePath, pairsPath, maxStoreFiles = maxFiles)
        .trigger(Trigger.ProcessingTime(0))
        .start()
      val counts = chunks.map { chunk =>
        stream.addData(chunk.toIndexedSeq)
        q.processAllAvailable()
        partFiles(storePath).size
      }
      q.stop()
      val store = spark.read.parquet(storePath)
        .select("doc_id", "sz", "hs", "band_sigs")
        .as[(Long, Int, Array[Long], Array[Long])].collect()
        .map { case (id, sz, hs, bs) =>
          s"$id|$sz|${hs.mkString(",")}|${bs.mkString(",")}" }
      assert(store.length === store.distinct.length, "duplicate store rows")
      (store.toSet,
        spark.read.parquet(pairsPath).select("d1", "d2", "jaccard")
          .as[(Long, Long, Double)].collect()
          .map(p => s"${p._1}|${p._2}|${p._3}").toSet,
        counts)
    }
    try {
      val (storeC, pairsC, countsC) = run("compacted", maxFiles = 2)
      val (storeU, pairsU, countsU) = run("uncompacted", maxFiles = Int.MaxValue)
      assert(storeC === storeU, "compaction changed store content")
      assert(pairsC === pairsU, "compaction changed emitted pairs")
      assert(pairsC.nonEmpty)
      // bounded: every post-trigger count stays under bound + one
      // batch's worth of appended files (≤ shuffle.partitions = 8),
      // while the uncompacted run grows past it and keeps growing
      assert(countsC.forall(_ <= 2 + 8),
        s"compacted store file count not bounded: $countsC")
      assert(countsU.last > countsC.last,
        s"control failed: uncompacted=${countsU.last} files vs " +
          s"compacted=${countsC.last} — compaction never engaged")
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("a tombstoned doc stays visible to the redelivery fence: " +
      "re-sent content is not re-appended and emits no pairs") {
    // two near-identical docs so the ingest emits a real pair
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val d1 = (1L, base)
    val d2 = (2L, base + " tail")
    val dir = java.nio.file.Files.createTempDirectory("graft-tombfence")
    val storePath = dir.resolve("signatures").toString
    val pairsPath = dir.resolve("pairs").toString
    try {
      implicit val sqlCtx = spark.sqlContext
      val stream = MemoryStream[(Long, String)]
      val q = StreamingOps
        .ingestDedupStream(stream.toDF.toDF("doc_id", "text"),
          storePath, pairsPath)
        .trigger(Trigger.ProcessingTime(0))
        .option("checkpointLocation", dir.resolve("ckpt").toString)
        .start()
      stream.addData(Seq(d1, d2)); q.processAllAvailable()
      val pairsBefore = spark.read.parquet(pairsPath).count()
      assert(pairsBefore > 0, "fixture must emit a pair")
      // GDPR delete doc 1 between triggers, then the SAME content
      // arrives again (redelivery, or a post-delete re-submission).
      // The idempotency fence must consult PHYSICAL store rows — a
      // tombstone-filtered fence would re-append doc 1's signatures
      // and double-emit its pair history.
      NearDup.deleteFromSignatureStore(
        Seq(1L).toDF("doc_id"), storePath, batchId = 0L)
      stream.addData(Seq(d1)); q.processAllAvailable()
      q.stop()
      assert(spark.read.parquet(storePath)
        .filter($"doc_id" === 1L).count() === 1L,
        "the fence must block the re-append of a tombstoned doc's rows")
      assert(spark.read.parquet(pairsPath).count() === pairsBefore,
        "a blocked re-arrival must not emit pairs")
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("delete-before-arrival: a doc tombstoned before its content " +
      "ever lands is neither stored nor paired") {
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val dir = java.nio.file.Files.createTempDirectory("graft-preardel")
    val storePath = dir.resolve("signatures").toString
    val pairsPath = dir.resolve("pairs").toString
    try {
      implicit val sqlCtx = spark.sqlContext
      val stream = MemoryStream[(Long, String)]
      val q = StreamingOps
        .ingestDedupStream(stream.toDF.toDF("doc_id", "text"),
          storePath, pairsPath)
        .trigger(Trigger.ProcessingTime(0))
        .option("checkpointLocation", dir.resolve("ckpt").toString)
        .start()
      stream.addData(Seq((2L, base + " tail"))); q.processAllAvailable()
      // the GDPR request for doc 1 lands BEFORE its content does — no
      // physical row exists for the fence to block, so the arriving-
      // side tombstone filter is what must keep it out
      NearDup.deleteFromSignatureStore(
        Seq(1L).toDF("doc_id"), storePath, batchId = 0L)
      stream.addData(Seq((1L, base))); q.processAllAvailable()
      q.stop()
      assert(spark.read.parquet(storePath)
        .filter($"doc_id" === 1L).count() === 0L,
        "a pre-deleted doc's signatures must never be stored")
      val pairs = spark.read.parquet(pairsPath)
        .select("d1", "d2").as[(Long, Long)].collect()
      assert(!pairs.exists(p => p._1 == 1L || p._2 == 1L),
        "a pre-deleted doc must never pair")
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }
}
