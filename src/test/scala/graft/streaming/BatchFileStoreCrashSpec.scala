package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** r19 review sweep of StreamingOps: the batch-file-store fold
  * choreography's crash/typing discipline, the signature-store
  * horizon's null-ts retention, and the heavy-hitter read path's swap
  * recovery. Each test pins a finding:
  *  - a delete-BEFORE-arrival tombstone survives routine compaction
  *    (the old shrink aged it out, voiding the advertised guarantee);
  *  - the fold writes a FRESH `batch-compacted-<gen>` generation and
  *    deletes the superseded one only after the new one committed
  *    (the old in-place replace window could lose every previously-
  *    folded row);
  *  - compaction entry completes an interrupted log swap;
  *  - string-keyed stores shrink their log by key, not by a long cast
  *    that nulls every key and wipes the log;
  *  - null-ts_ms signature rows retain under horizon compaction;
  *  - heavyHittersFromStore recovers a crashed rename swap.
  */
class BatchFileStoreCrashSpec extends SparkSpec {
  import spark.implicits._

  private def conf = spark.sparkContext.hadoopConfiguration
  private def fsOf(p: String) =
    new org.apache.hadoop.fs.Path(p).getFileSystem(conf)
  private def hp(p: String) = new org.apache.hadoop.fs.Path(p)

  private def pcm(seed: Int): Array[Byte] =
    Array.tabulate(2048)(i => ((i * seed) % 127).toByte)

  private def clipBatch(ids: Seq[Long]) =
    ids.map(i => (i, 0.0, pcm(i.toInt + 1), 8000)).toDF(
      "clip_id", "start_sec", "pcm", "sample_rate")

  private def withDir[T](f: String => T): T = {
    val dir = java.nio.file.Files.createTempDirectory("bfstore")
    try f(dir.toString) finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("delete-before-arrival survives compaction: a clip tombstoned " +
      "before its audio lands is still never featurized after routine " +
      "maintenance ran in between") {
    withDir { dir =>
      val store = s"$dir/feat"
      // the delete arrives FIRST — the log is the only fence
      StreamingOps.applyAudioFeatureBatch(clipBatch(Seq(1L, 2L)), 0L,
        store, 512, 256, lineage = "L")
      graft.rel.Tombstones.applyDelete(Seq(42L).toDF("clip_id"),
        "clip_id", store, batchId = 0L)
      StreamingOps.applyAudioFeatureBatch(clipBatch(Seq(3L)), 1L,
        store, 512, 256, lineage = "L")
      StreamingOps.applyAudioFeatureBatch(clipBatch(Seq(4L)), 2L,
        store, 512, 256, lineage = "L")
      StreamingOps.compactFeatureStore(spark, store)
      assert(graft.rel.Tombstones.deletedKeys(spark, store)
        .map(_.as[Long].collect().toSet).contains(Set(42L)),
        "the never-arrived tombstone must survive the shrink")
      // now clip 42 finally arrives — it must still be blocked
      StreamingOps.applyAudioFeatureBatch(clipBatch(Seq(42L, 5L)), 3L,
        store, 512, 256, lineage = "L")
      val got = StreamingOps.audioFeaturesFromStore(spark, store)
        .select("clip_id").distinct().as[Long].collect().toSet
      assert(!got.contains(42L),
        "the advertised delete-before-arrival guarantee must hold " +
          "across compaction")
      assert(got.contains(5L), "batch-mates are unaffected")
    }
  }

  test("the fold writes a fresh generation: the superseded compacted " +
      "file is a fold SOURCE and is deleted only after the new one " +
      "exists; two rounds preserve every surviving row") {
    withDir { dir =>
      val store = s"$dir/feat"
      (0 to 2).foreach(b => StreamingOps.applyAudioFeatureBatch(
        clipBatch(Seq(10L + b)), b.toLong, store, 512, 256,
        lineage = "L"))
      graft.rel.Tombstones.applyDelete(Seq(10L).toDF("clip_id"),
        "clip_id", store, batchId = 0L)
      def rows = StreamingOps.audioFeaturesFromStore(spark, store)
        .select("clip_id").distinct().as[Long].collect().toSet
      val want = rows // tombstone filter already applied at read
      StreamingOps.compactFeatureStore(spark, store)
      val fs = fsOf(store)
      def names = fs.listStatus(hp(store)).map(_.getPath.getName)
        .filter(_.startsWith("batch-")).toSet
      assert(names.exists(_.startsWith("batch-compacted-")),
        s"generation file expected, got $names")
      assert(rows === want)
      // round 2: new batches, then compact again — the PREVIOUS
      // generation folds as a source and a new generation replaces it
      (3 to 4).foreach(b => StreamingOps.applyAudioFeatureBatch(
        clipBatch(Seq(10L + b)), b.toLong, store, 512, 256,
        lineage = "L"))
      graft.rel.Tombstones.applyDelete(Seq(11L).toDF("clip_id"),
        "clip_id", store, batchId = 1L)
      StreamingOps.compactFeatureStore(spark, store)
      assert(names.count(_.startsWith("batch-compacted-")) === 1L,
        s"exactly one standing generation, got $names")
      assert(rows === want -- Set(11L) ++ Set(13L, 14L),
        "previously-folded rows must survive the second fold")
    }
  }

  test("compaction entry completes an interrupted tombstone-log swap " +
      "(only the staged _next set exists)") {
    withDir { dir =>
      val store = s"$dir/feat"
      (0 to 2).foreach(b => StreamingOps.applyAudioFeatureBatch(
        clipBatch(Seq(20L + b)), b.toLong, store, 512, 256,
        lineage = "L"))
      graft.rel.Tombstones.applyDelete(Seq(20L).toDF("clip_id"),
        "clip_id", store, batchId = 0L)
      // sculpt the mid-swap kill state: log renamed away, staged
      // replacement standing
      val log = graft.rel.Tombstones.logPath(store)
      val fs = fsOf(store)
      require(fs.rename(hp(log), hp(log + "_next")))
      StreamingOps.compactFeatureStore(spark, store) // must not throw
      val got = StreamingOps.audioFeaturesFromStore(spark, store)
        .select("clip_id").distinct().as[Long].collect().toSet
      assert(got === Set(21L, 22L),
        "the recovered log's tombstone must have applied in the fold")
    }
  }

  test("string-keyed store: the log shrink aligns on the log's key " +
      "type — tombstones are dropped/kept by KEY, never wiped by a " +
      "null-ing long cast") {
    withDir { dir =>
      val store = s"$dir/feat"
      // the store FILES are laid down directly (today's feature
      // pipelines key on longs; the choreography itself is
      // key-type-generic and must stay so)
      (0 to 2).foreach(b => StreamingOps.writeSingleFile(
        Seq((s"clip-$b", b * 1.0)).toDF("clip_name", "feat"),
        store, s"batch-$b.parquet"))
      // clip-0 arrived (will fold away); ghost never arrived
      graft.rel.Tombstones.applyDelete(
        Seq("clip-0", "ghost").toDF("clip_name"), "clip_name", store,
        batchId = 0L)
      StreamingOps.compactFeatureStore(spark, store, idCol = "clip_name")
      val kept = graft.rel.Tombstones.deletedKeys(spark, store)
        .map(_.as[String].collect().toSet).getOrElse(Set.empty)
      assert(kept === Set("ghost"),
        s"applied key drops, never-arrived key stays; got $kept")
      val got = StreamingOps
        .audioFeaturesFromStore(spark, store, idCol = "clip_name")
        .select("clip_name").distinct().as[String].collect().toSet
      assert(got === Set("clip-1", "clip-2"), s"got $got")
    }
  }

  test("signature-store horizon compaction retains null-ts_ms rows " +
      "instead of silently deleting their dedup history") {
    withDir { dir =>
      val store = s"$dir/sigs"
      val docs = (0L until 6L)
        .map(i => (i, s"tok$i a b c d e f g h i j"))
        .toDF("doc_id", "text")
      graft.text.NearDup.writeSignatureStore(docs, store)
      // sculpt a mixed store: half the rows carry event times
      val withTs = spark.read.parquet(store)
        .withColumn("ts_ms",
          when(col("doc_id") < 3L, lit(null).cast("long"))
            .otherwise(lit(1000000L) + col("doc_id")))
        .localCheckpoint()
      withTs.write.mode("overwrite").parquet(store)
      StreamingOps.compactSignatureStore(spark, store,
        horizonMs = 1L) // keeps only the newest 2 timestamped rows
      val ids = spark.read.parquet(store)
        .select("doc_id").as[Long].collect().toSet
      assert(ids === Set(0L, 1L, 2L, 4L, 5L),
        s"null-ts rows retain; only aged timestamped rows drop: $ids")
    }
  }

  test("heavyHittersFromStore recovers a crashed compaction swap on " +
      "the READ path (the stream that would have recovered it is the " +
      "thing that died)") {
    withDir { dir =>
      val store = s"$dir/hh"
      val docs = Seq.tabulate(30)(i =>
        (i.toLong, if (i % 3 == 0) "alpha beta" else "alpha gamma"))
        .toDF("doc_id", "text")
      StreamingOps.applyHeavyHitterBatch(docs, 0L, "test", store, 8)
      // sculpt the kill state: store renamed aside, swap never finished
      val fs = fsOf(store)
      require(fs.rename(hp(store), hp(s"$store.precompact")))
      val hh = StreamingOps.heavyHittersFromStore(docs, store, 8, 0.2)
        .select("term").as[String].collect().toSet
      assert(hh.contains("alpha"),
        "the read must recover the swap and serve the store")
    }
  }
}
