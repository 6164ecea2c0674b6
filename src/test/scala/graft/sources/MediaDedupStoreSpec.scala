package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The perceptual-fingerprint store's contract: the incremental
  * batch-judge union reproduces the one-shot corpus join exactly,
  * ingest redelivery is byte-idempotent, the judge's store read is
  * fenced below the judged batch id (replay-safe for self-referential
  * reads), tombstones are modality-keyed and apply at every as-of,
  * the batch-vs-store plan never shuffles the store, and streaming
  * ingest binds to one lineage.
  */
class MediaDedupStoreSpec extends SparkSpec {
  import spark.implicits._

  private def fpsDF(rows: (Long, String, Long)*) =
    rows.toSeq.toDF("media_id", "modality", "h")

  private def pairSet(df: org.apache.spark.sql.DataFrame) =
    df.select("modality", "id_a", "id_b", "hamming").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet

  private def tmp(prefix: String) =
    java.nio.file.Files.createTempDirectory(prefix)

  private def rmrf(dir: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
      .foreach(java.nio.file.Files.deleteIfExists(_))
  }

  test("incremental judge union over the ingest history equals the " +
      "one-shot corpus join (all three modalities)") {
    val incr = pairSet(MediaDedupStore.nqMediaDedupStore(spark, sf0001))
    val all = MediaDedupStore.allFingerprints(spark, sf0001)
    val oneShot = pairSet(
      ImageDedup.nearDupPairs(
          all.select(col("modality"), col("media_id").as("image_id"),
            col("h")),
          keyCols = Seq("modality"))
        .select(col("modality"), col("img_a").as("id_a"),
          col("img_b").as("id_b"), col("hamming"))
        .filter(col("modality") =!= "video" ||
          expr("id_a DIV 100") =!= expr("id_b DIV 100")))
    assert(incr.nonEmpty, "the planted corpus must surface pairs")
    assert(incr === oneShot,
      s"diff = ${incr.diff(oneShot) ++ oneShot.diff(incr)}")
    // and the planted image brightness copies are in there
    assert(incr.exists { case (m, a, b, h) =>
      m == "image" && b == a + 1000000L && h == 0L })
    assert(incr.exists(_._1 == "audio"))
    assert(incr.exists(_._1 == "video"))
  }

  test("ingest redelivery is byte-idempotent; judge reads only batches " +
      "below the judged id (self-referential replay fence)") {
    val dir = tmp("mediastore")
    try {
      val store = dir.resolve("m").toString
      val b0 = fpsDF((1L, "image", 0L), (2L, "image", 1L))
      val b1 = fpsDF((3L, "image", 3L))
      MediaDedupStore.applyFingerprintBatch(b0, store, 0L)
      MediaDedupStore.applyFingerprintBatch(b1, store, 1L)
      def nFiles = {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(dir).iterator().asScala
          .count(p => p.toString.endsWith(".parquet") &&
            java.nio.file.Files.isRegularFile(p))
      }
      val before = nFiles
      MediaDedupStore.applyFingerprintBatch(b1, store, 1L) // redelivery
      assert(nFiles === before, "redelivery must not grow the store")
      assert(MediaDedupStore.fingerprintsFromStore(spark, store)
        .count() === 3L)
      // judge of batch 1 AFTER its own ingest (an at-least-once replay):
      // the store read is fenced to batches < 1, so verdicts are only
      // against batch 0 + within-batch — never the batch's stored copy
      val verdicts = pairSet(
        MediaDedupStore.judgeBatch(spark, b1, store, 1L))
      // h=3 vs h=0 (hamming 2), h=3 vs h=1 (hamming 1) — and NOT
      // (3,3) against its own stored copy
      assert(verdicts === Set(("image", 1L, 3L, 2L), ("image", 2L, 3L, 1L)))
    } finally rmrf(dir)
  }

  test("tombstones are modality-keyed and apply at every as-of") {
    val dir = tmp("mediatomb")
    try {
      val store = dir.resolve("m").toString
      // the SAME numeric id in two modalities — erasing the image must
      // not touch the clip
      MediaDedupStore.applyFingerprintBatch(
        fpsDF((7L, "image", 0L), (7L, "audio", 0L), (8L, "image", 1L)),
        store, 0L)
      MediaDedupStore.applyFingerprintBatch(
        fpsDF((9L, "image", 0L)), store, 1L)
      MediaDedupStore.deleteMedia(
        Seq((7L, "image")).toDF("media_id", "modality"), store, 0L)
      def ids(asOf: Option[Long]) =
        MediaDedupStore.fingerprintsFromStore(spark, store, asOf)
          .select("media_id", "modality").collect()
          .map(r => (r.getLong(0), r.getString(1))).toSet
      assert(ids(None) ===
        Set((7L, "audio"), (8L, "image"), (9L, "image")))
      // as-of batch 0 rewinds the DATA timeline, never the erasure
      assert(ids(Some(0L)) === Set((7L, "audio"), (8L, "image")))
      // deleted fingerprints never pair in the judge either
      val verdicts = pairSet(MediaDedupStore.judgeBatch(spark,
        fpsDF((10L, "image", 0L)), store, 2L))
      assert(!verdicts.exists { case (_, a, b, _) => a == 7L || b == 7L },
        s"erased image 7 paired: $verdicts")
      assert(verdicts === Set(("image", 9L, 10L, 0L), ("image", 8L, 10L, 1L)))
    } finally rmrf(dir)
  }

  test("batch-vs-store judge never shuffles the store (broadcast plan)") {
    val dir = tmp("mediaplan")
    try {
      val store = dir.resolve("m").toString
      MediaDedupStore.applyFingerprintBatch(
        fpsDF((1L, "image", 0L), (2L, "image", 255L)), store, 0L)
      val cross = MediaDedupStore.crossPairs(spark,
        fpsDF((5L, "image", 1L)), store, 1L, 6)
      val plan = cross.queryExecution.executedPlan.toString
      assert(!plan.contains("SortMergeJoin"),
        s"store side must flow through a broadcast join only:\n$plan")
      // the batches-<-judged fence must reach the scan as a PARTITION
      // filter (pruned directories), not a post-scan row filter — the
      // predicate must appear INSIDE the PartitionFilters list (a bare
      // contains() would pass on "PartitionFilters: []" plus batch_id
      // anywhere else in the plan)
      assert("PartitionFilters: \\[[^\\]]*batch_id".r
          .findFirstIn(plan).isDefined,
        s"batch_id fence did not prune partitions:\n$plan")
      assert(pairSet(cross) === Set(("image", 1L, 5L, 1L)))
    } finally rmrf(dir)
  }

  test("streaming ingest equals the batch path and binds to one lineage") {
    val dir = tmp("mediastream")
    try {
      val store = dir.resolve("m").toString
      implicit val sqlCtx = spark.sqlContext
      val stream = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, String, Long)]
      val q = MediaDedupStore.fingerprintIngestStream(
          stream.toDF.toDF("media_id", "modality", "h"), store)
        .option("checkpointLocation", dir.resolve("ckpt").toString)
        .start()
      stream.addData((1L, "image", 0L), (2L, "audio", 5L))
      q.processAllAvailable()
      stream.addData((3L, "video", 9L))
      q.processAllAvailable()
      q.stop()
      assert(MediaDedupStore.fingerprintsFromStore(spark, store)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        .toSet === Set((1L, "image", 0L), (2L, "audio", 5L),
          (3L, "video", 9L)))
      // the store is bound to the query's stable id; the fence against
      // any other lineage is pinned through this sink in LineageFenceSpec
      val lineage = {
        val src = scala.io.Source.fromFile(s"$store/_lineage")
        try src.mkString.trim finally src.close()
      }
      assert(lineage === q.id.toString)
    } finally rmrf(dir)
  }

  test("streaming judge-then-ingest: verdict union across micro-batches " +
      "equals the one-shot join; replay re-derives identical verdicts") {
    val dir = tmp("mediajudgestream")
    try {
      val store = dir.resolve("m").toString
      val verdicts = dir.resolve("v").toString
      implicit val sqlCtx = spark.sqlContext
      val stream = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, String, Long)]
      val q = MediaDedupStore.judgeIngestStream(
          stream.toDF.toDF("media_id", "modality", "h"), store, verdicts)
        .option("checkpointLocation", dir.resolve("ckpt").toString)
        .start()
      stream.addData((1L, "image", 0L), (2L, "image", 3L))
      q.processAllAvailable()
      stream.addData((3L, "image", 1L), (4L, "audio", 0L))
      q.processAllAvailable()
      q.stop()
      def readVerdicts = spark.read.parquet(verdicts)
        .select("modality", "id_a", "id_b", "hamming").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSet
      val streamed = readVerdicts
      // one-shot over the full set: (1,2) 0^3 = h2 within batch 0;
      // batch 1's 3 (h=1) pairs with 1 (0^1 = h1) and 2 (3^1 = h1);
      // audio 4 pairs with nothing
      assert(streamed === Set(("image", 1L, 2L, 2L),
        ("image", 1L, 3L, 1L), ("image", 2L, 3L, 1L)))
      // replay batch 1 AFTER its ingest landed (at-least-once): the
      // judge's < fence re-derives identical verdicts, both writes
      // idempotent
      val lineage = {
        val src = scala.io.Source.fromFile(s"$store/_lineage")
        try src.mkString.trim finally src.close()
      }
      MediaDedupStore.applyJudgeIngestBatch(
        fpsDF((3L, "image", 1L), (4L, "audio", 0L)), store, verdicts,
        1L, lineage)
      assert(readVerdicts === streamed, "replayed verdicts must not move")
      assert(MediaDedupStore.fingerprintsFromStore(spark, store)
        .count() === 4L)
    } finally rmrf(dir)
  }

  test("compaction: reads preserved on current + as-of >= watermark, " +
      "log shrinks to still-needed tombstones, empty fold never " +
      "resurrects, re-run is a no-op") {
    val dir = tmp("mediacompact")
    try {
      val store = dir.resolve("m").toString
      MediaDedupStore.applyFingerprintBatch(
        fpsDF((1L, "image", 0L), (2L, "image", 1L)), store, 0L)
      MediaDedupStore.applyFingerprintBatch(
        fpsDF((3L, "audio", 5L)), store, 1L)
      MediaDedupStore.applyFingerprintBatch(
        fpsDF((4L, "image", 9L)), store, 2L)
      // (2, image): only copy inside the fold -> tombstone droppable;
      // (4, image): copy in batch 2 > watermark -> must survive
      MediaDedupStore.deleteMedia(
        Seq((2L, "image"), (4L, "image")).toDF("media_id", "modality"),
        store, 0L)
      def ids(asOf: Option[Long] = None) =
        MediaDedupStore.fingerprintsFromStore(spark, store, asOf)
          .select("media_id", "modality").collect()
          .map(r => (r.getLong(0), r.getString(1))).toSet
      val before = ids()
      assert(before === Set((1L, "image"), (3L, "audio")))

      MediaDedupStore.compactThrough(spark, store, through = 1L)

      assert(ids() === before, "current read must not move")
      assert(ids(Some(1L)) === Set((1L, "image"), (3L, "audio")),
        "as-of AT the watermark must survive")
      val tombs = spark.read.parquet(s"$store/_media_tombstones")
        .select("media_id", "modality").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
      assert(tombs === Seq((4L, "image")),
        "only the still-needed tombstone survives the fold")
      val parts = new java.io.File(s"$store/fingerprints").listFiles()
        .map(_.getName).filter(_.startsWith("batch_id=")).sorted.toSeq
      assert(parts === Seq("batch_id=1", "batch_id=2"))
      // re-run: full no-op
      MediaDedupStore.compactThrough(spark, store, through = 1L)
      assert(ids() === before)

      // EMPTY fold: tombstone everything still in the fold region and
      // compact again — the stale fold-target partition must go, and
      // nothing resurrects once the tombstones age out
      MediaDedupStore.deleteMedia(
        Seq((1L, "image"), (3L, "audio")).toDF("media_id", "modality"),
        store, 1L)
      MediaDedupStore.compactThrough(spark, store, through = 1L)
      assert(ids() === Set.empty,
        "erased fingerprints must stay erased after an empty fold")
      val parts2 = new java.io.File(s"$store/fingerprints").listFiles()
        .map(_.getName).filter(_.startsWith("batch_id=")).sorted.toSeq
      assert(parts2 === Seq("batch_id=2"),
        "the stale fold-target partition must be deleted outright")
    } finally rmrf(dir)
  }

  test("keyframe video fingerprints compose with the store: scene " +
      "reuse surfaces through the incremental judge") {
    // the production pipeline: keyframe-sample incoming videos, hash
    // once, ingest/judge through the standing store — base corpus
    // ingested first, the re-timed copies judged as an arriving batch
    val dir = tmp("mediakf")
    try {
      val store = dir.resolve("m").toString
      val vids = VideoDedup.generateSceneVideos(spark, sf0001)
      val fps = VideoDedup.keyframeHashes(vids)
        .select(col("image_id").as("media_id"),
          lit("video").as("modality"), col("h"))
      val isCopy = col("media_id") >= 100000000L // packed (id+1e6)·100
      MediaDedupStore.applyFingerprintBatch(
        fps.filter(!isCopy), store, 0L)
      val verdicts = pairSet(MediaDedupStore.judgeBatch(
        spark, fps.filter(isCopy), store, 1L))
      val planted = graft.Tables.documents(spark, sf0001)
        .select("doc_id").as[Long].collect().filter(_ % 10 == 0)
        .flatMap { id =>
          val c = (id + 1000000L) * 100L
          Seq(("video", id * 100L + 6L, c, 0L),
            ("video", id * 100L + 9L, c + 4L, 0L))
        }.toSet
      assert(verdicts === planted,
        s"diff = ${verdicts.diff(planted) ++ planted.diff(verdicts)}")
    } finally rmrf(dir)
  }

  test("an oversized batch falls back to a shuffled join instead of a " +
      "driver broadcast, with identical verdicts") {
    val dir = tmp("mediabig")
    try {
      val store = dir.resolve("m").toString
      MediaDedupStore.applyFingerprintBatch(
        fpsDF((1L, "image", 0L), (2L, "image", 255L)), store, 0L)
      val batch = fpsDF((5L, "image", 1L), (6L, "image", 254L))
      val normal = MediaDedupStore.judgeBatch(spark, batch, store, 1L)
      // maxBroadcastBatchRows = 0: every batch is "oversized"
      val fallback = MediaDedupStore.judgeBatch(spark, batch, store, 1L,
        threshold = 6, maxBroadcastBatchRows = 0L)
      assert(pairSet(fallback) === pairSet(normal))
      assert(pairSet(fallback).nonEmpty)
      // the guard must actually drop the broadcast hint on the batch
      // side of the cross join (AQE may still pick a broadcast from
      // stats at this toy size, so pin the HINT via the logical plan)
      val hinted = MediaDedupStore.crossPairs(spark, batch, store, 1L, 6,
        broadcastBatch = true)
      val unhinted = MediaDedupStore.crossPairs(spark, batch, store, 1L, 6,
        broadcastBatch = false)
      def hasHint(df: org.apache.spark.sql.DataFrame) =
        df.queryExecution.optimizedPlan.toString
          .contains("strategy=broadcast")
      assert(hasHint(hinted), "the micro-batch path must keep the hint")
      assert(!hasHint(unhinted),
        "the oversized path must not hint a batch broadcast")
    } finally rmrf(dir)
  }

  test("a batch re-delivering an erased key neither judges nor " +
      "re-ingests it (verdict stream and store reads agree)") {
    val dir = tmp("mediaredeliver")
    try {
      val store = dir.resolve("m").toString
      val verdicts = dir.resolve("v").toString
      MediaDedupStore.applyFingerprintBatch(
        fpsDF((1L, "image", 0L), (2L, "image", 3L)), store, 0L)
      MediaDedupStore.deleteMedia(
        Seq((2L, "image")).toDF("media_id", "modality"), store, 0L)
      // batch 1 re-delivers the erased id 2 alongside a new id 3
      MediaDedupStore.applyJudgeIngestBatch(
        fpsDF((2L, "image", 3L), (3L, "image", 1L)), store, verdicts,
        1L, "lineage-x")
      val v = spark.read.parquet(verdicts)
        .select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(!v.exists { case (a, b) => a == 2L || b == 2L },
        s"erased id 2 must not appear in verdicts: $v")
      assert(v === Set((1L, 3L)))
      // and the erased fingerprint was not re-ingested: even a LATER
      // erasure-log compaction can never resurrect it
      val stored = spark.read.parquet(s"$store/fingerprints")
        .filter(col("batch_id") === 1L)
        .select("media_id").collect().map(_.getLong(0)).toSet
      assert(stored === Set(3L), s"batch 1 must hold only id 3: $stored")
    } finally rmrf(dir)
  }

  test("scrubVerdicts extends erasure to already-written verdicts: " +
      "both endpoints scrubbed, empty partitions deleted, idempotent") {
    val dir = tmp("mediascrub")
    try {
      val store = dir.resolve("m").toString
      val verdicts = dir.resolve("v").toString
      // batch 0: ids 1,2 pair; batch 1: id 3 pairs with both
      MediaDedupStore.applyJudgeIngestBatch(
        fpsDF((1L, "image", 0L), (2L, "image", 3L)), store, verdicts,
        0L, "lineage-y")
      MediaDedupStore.applyJudgeIngestBatch(
        fpsDF((3L, "image", 1L)), store, verdicts, 1L, "lineage-y")
      assert(spark.read.parquet(verdicts).count() === 3L)
      // erase id 1: the (1,2) and (1,3) verdicts must go; (2,3) stays
      MediaDedupStore.deleteMedia(
        Seq((1L, "image")).toDF("media_id", "modality"), store, 0L)
      MediaDedupStore.scrubVerdicts(spark, store, verdicts)
      def readPairs = spark.read.parquet(verdicts)
        .select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(readPairs === Set((2L, 3L)))
      // idempotent re-run
      MediaDedupStore.scrubVerdicts(spark, store, verdicts)
      assert(readPairs === Set((2L, 3L)))
      // erase the rest: the fully-scrubbed store deletes its root
      // (batch-0's partition is now empty — the empty-fold rule)
      MediaDedupStore.deleteMedia(
        Seq((2L, "image"), (3L, "image")).toDF("media_id", "modality"),
        store, 1L)
      MediaDedupStore.scrubVerdicts(spark, store, verdicts)
      assert(!new java.io.File(verdicts).exists(),
        "a fully-scrubbed verdict store must delete its root")
      // scrubbing a missing store is a no-op
      MediaDedupStore.scrubVerdicts(spark, store, verdicts)
    } finally rmrf(dir)
  }

  test("an erasure arriving inside an interrupted compaction swap " +
      "completes the swap first") {
    val dir = tmp("mediadelswap")
    try {
      val store = dir.resolve("m").toString
      MediaDedupStore.applyFingerprintBatch(
        fpsDF((1L, "image", 0L), (2L, "image", 1L), (3L, "audio", 5L)),
        store, 0L)
      MediaDedupStore.deleteMedia(
        Seq((2L, "image")).toDF("media_id", "modality"), store, 0L)
      val log = new java.io.File(s"$store/_media_tombstones")
      val next = new java.io.File(s"$store/_media_tombstones_next")
      assert(log.renameTo(next))
      MediaDedupStore.deleteMedia(
        Seq((3L, "audio")).toDF("media_id", "modality"), store, 1L)
      assert(MediaDedupStore.fingerprintsFromStore(spark, store)
        .select("media_id").collect().map(_.getLong(0)).toSet ===
        Set(1L), "BOTH the staged tombstone and the new erasure apply")
      assert(log.exists() && !next.exists())
    } finally rmrf(dir)
  }

  test("flip store: a mirrored/rotated re-post arriving as a LATER " +
      "batch matches its original standing in the store") {
    val dir = tmp("mediaflipstore")
    try {
      val store = dir.resolve("m").toString
      val fps = MediaDedupStore.flipFingerprints(spark, sf0001)
      // bases first, every reoriented copy (ids >= 1e6) as batch 1
      val isCopy = col("media_id") >= 1000000L
      MediaDedupStore.applyFingerprintBatch(
        fps.filter(!isCopy), store, 0L)
      val verdicts = MediaDedupStore.judgeBatch(
          spark, fps.filter(isCopy), store, 1L)
        .groupBy("id_a", "id_b").agg(min("hamming").as("hamming"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val planted = graft.Tables.documents(spark, sf0001)
        .select("doc_id").as[Long].collect()
        .collect {
          case id if id % 10 == 0 => (id, id + 1000000L) // mirror
          case id if id % 10 == 5 => (id, id + 2000000L) // rot180
        }.toSet
      assert(planted.subsetOf(verdicts),
        s"missed re-posts: ${planted.diff(verdicts)}")
    } finally rmrf(dir)
  }

  test("flip-store entry equals the one-shot multi-probe join " +
      "(min aligned hamming)") {
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
    val inc = asSet(MediaDedupStore.nqMediaDedupFlip(spark, sf0001))
    val oneShot = asSet(ImageDedup.nqImageNeardupFlip(spark, sf0001))
    assert(inc.nonEmpty)
    assert(inc === oneShot,
      s"diff = ${inc.diff(oneShot) ++ oneShot.diff(inc)}")
  }

  test("keyframe-store entry equals the one-shot keyframe join") {
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    val inc = asSet(MediaDedupStore.nqVideoKeyframesStore(spark, sf0001))
    val oneShot = asSet(VideoDedup.nqVideoKeyframes(spark, sf0001))
    assert(inc.nonEmpty)
    assert(inc === oneShot,
      s"diff = ${inc.diff(oneShot) ++ oneShot.diff(inc)}")
  }

  test("benched judge entry: planted near-dups touching the batch " +
      "surface; store-store pairs never leak into the verdicts") {
    val out = MediaDedupStore.nqMediaJudge(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.nonEmpty)
    // the judge of batch 19 must emit ONLY pairs with a side in it —
    // a store-store pair surfacing means the fence or the probe leaked
    assert(out.forall { case (a, b, _) => a % 20 == 19 || b % 20 == 19 },
      s"store-store leak: ${out.filterNot { case (a, b, _) =>
        a % 20 == 19 || b % 20 == 19 }.take(5).toSeq}")
    // both planted kinds surface: the cross-batch copies (offset shifts
    // the batch residue) and the within-batch ones (offset ≡ 0 mod 20)
    assert(out.exists { case (a, b, h) => b == a + 10000001L && h <= 3 },
      "cross-batch planted copies missing")
    assert(out.exists { case (a, b, h) => b == a + 20000000L && h <= 1 },
      "within-batch planted copies missing")
  }

  test("compaction is read-invisible through the full pair relation " +
      "(the compact entry equals the delete entry)") {
    val del = pairSet(MediaDedupStore.nqMediaDedupDelete(spark, sf0001))
    val cmp = pairSet(MediaDedupStore.nqMediaDedupCompact(spark, sf0001))
    assert(cmp === del,
      s"diff = ${cmp.diff(del) ++ del.diff(cmp)}")
  }

  test("post-erasure store read drops the image edit variants and " +
      "nothing else (the delete entry's contract)") {
    val out = MediaDedupStore.nqMediaDedupDelete(spark, sf0001)
    val pairs = pairSet(out)
    assert(!pairs.exists { case (m, a, b, _) =>
      m == "image" && (a >= 2000000L || b >= 2000000L) },
      "erased image variants must not pair")
    // audio's muted copies also live at ids >= 2e6 — they must SURVIVE
    assert(pairs.exists { case (m, a, b, _) =>
      m == "audio" && (a >= 2000000L || b >= 2000000L) },
      "the modality-keyed delete must not leak into audio")
    assert(pairs.exists(_._1 == "video"))
  }
}
