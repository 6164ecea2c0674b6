package graft.streaming

import graft.SparkSpec
import graft.sim.SemDedup
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import scala.util.Random

/** Semantic dedup at ingest: batches judged under a frozen tree
  * against the standing assignment store — twins flagged across
  * batches, replay a no-op, verdicts ≡ the batch incremental path.
  */
class SemanticIngestStreamSpec extends SparkSpec {
  import spark.implicits._

  private val rnd = new Random(31)
  private def unit(): Array[Float] = {
    val v = Array.fill(16)(rnd.nextGaussian())
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(x => (x / n).toFloat)
  }
  private def twin(v: Array[Float]): Array[Float] =
    v.updated(0, v(0) + 0.01f)

  test("streamed batches: intra-batch and cross-batch twins flagged, replay no-op") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("semingest")
    try {
      // frozen tree calibrated on a seed corpus (offline artifact)
      val corpus = (0L until 40L).map(i => (i, unit())).toDF("id", "emb")
      val treePath = dir.resolve("tree.parquet").toString
      SemDedup.writeTree(spark,
        SemDedup.fitCorpus(corpus, "id", "emb", k = 4), treePath)
      val store = dir.resolve("store").toString
      val verdicts = dir.resolve("verdicts").toString

      val a = unit(); val b = unit()
      val batch1 = Seq((100L, a), (101L, twin(a)), (102L, b))
      val batch2 = Seq((200L, twin(b)), (201L, unit()))
      val stream = MemoryStream[(Long, Array[Float])]
      val q = StreamingOps.semanticIngestStream(
          stream.toDF.toDF("vec_id", "embedding"),
          treePath, store, verdicts)
        .option("checkpointLocation", dir.resolve("ckpt").toString)
        .start()
      stream.addData(batch1); q.processAllAvailable()
      stream.addData(batch2); q.processAllAvailable()
      q.stop()

      val out = spark.read.parquet(verdicts)
        .select("vec_id", "is_dup").as[(Long, Boolean)].collect().toMap
      assert(out.size === 5, "one verdict per streamed vector")
      assert(!out(100L) && out(101L),
        "intra-batch twin flags the higher id only")
      assert(!out(102L))
      assert(out(200L), "cross-batch twin of a stored vector must drop")
      assert(!out(201L), "fresh vector survives")

      // replay the LAST batch exactly as recovery would re-deliver it:
      // same lineage (recovery resumes the original checkpoint — a
      // different lineage is the fence's loud-failure case), and only
      // the latest batch can ever be re-delivered (Structured Streaming
      // commits batch N before starting N+1, so a crash re-runs N
      // against a store that holds only batches < N plus N's own
      // excluded file)
      val boundLineage = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(store, "_lineage")),
        java.nio.charset.StandardCharsets.UTF_8).trim
      val storeRows = spark.read.parquet(store).count()
      StreamingOps.applySemanticIngestBatch(
        batch2.toDF("vec_id", "embedding"), batchId = 1L,
        treePath, store, verdicts, threshold = 0.97,
        lineage = boundLineage)
      assert(spark.read.parquet(store).count() === storeRows,
        "replayed batch must not grow the store")
      val replayed = spark.read.parquet(verdicts)
        .select("vec_id", "is_dup").as[(Long, Boolean)].collect().toMap
      assert(replayed === out, "replay must not change any verdict")

      // ingest ≡ the batch incremental path for batch 2
      val tree = SemDedup.readTree(spark, treePath)
      val direct = SemDedup.semanticDedupIncremental(
          SemDedup.assign(tree, batch1.toDF("vec_id", "embedding"),
            "vec_id", "embedding"),
          SemDedup.assign(tree, batch2.toDF("vec_id", "embedding"),
            "vec_id", "embedding"))
        .select(col("id"), col("is_dup")).as[(Long, Boolean)]
        .collect().toMap
      assert(batch2.map(_._1).forall(id => direct(id) === out(id)),
        "streamed verdicts must equal the batch incremental path")
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("assignment-store delete: a tombstoned id stops suppressing " +
      "new twins; a surviving holder keeps suppressing; compact " +
      "preserves the reader's batch-file layout") {
    val dir = java.nio.file.Files.createTempDirectory("semdel")
    try {
      val corpus = (0L until 40L).map(i => (i, unit())).toDF("id", "emb")
      val treePath = dir.resolve("tree.parquet").toString
      SemDedup.writeTree(spark,
        SemDedup.fitCorpus(corpus, "id", "emb", k = 4), treePath)
      val store = dir.resolve("store").toString
      val verdicts = dir.resolve("verdicts").toString
      def ingest(batchId: Long, rows: Seq[(Long, Array[Float])]): Unit =
        StreamingOps.applySemanticIngestBatch(
          rows.toDF("vec_id", "embedding"), batchId,
          treePath, store, verdicts, threshold = 0.97,
          lineage = "L")
      def verdict(id: Long): Boolean = spark.read.parquet(verdicts)
        .filter($"vec_id" === id).select("is_dup")
        .as[Boolean].head()

      val a = unit(); val b = unit()
      ingest(0L, Seq((100L, a), (101L, b)))
      ingest(1L, Seq((200L, twin(a))))
      assert(verdict(200L), "twin of a stored vector drops pre-delete")
      // delete every holder of the a-direction (100 and the stored 200)
      StreamingOps.deleteFromAssignmentStore(
        Seq(100L, 200L).toDF("id"), store, batchId = 0L)
      ingest(2L, Seq((300L, twin(a)), (301L, twin(b))))
      assert(!verdict(300L),
        "all holders of a were deleted — a new twin of a must survive")
      assert(verdict(301L),
        "b's holder 101 survives — a new twin of b still drops")
      // compact: tombstoned rows physically gone, log truncated, and
      // the compacted file still serves as corpus for later batches
      StreamingOps.compactAssignmentStore(spark, store)
      assert(spark.read.parquet(store)
        .filter($"id".isin(100L, 200L)).count() === 0L,
        "compact must remove tombstoned assignments physically")
      val fs = new org.apache.hadoop.fs.Path(store)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(!fs.exists(new org.apache.hadoop.fs.Path(
          graft.rel.Tombstones.logPath(store))),
        "compact must truncate the tombstone log")
      ingest(3L, Seq((400L, twin(b))))
      assert(verdict(400L),
        "the compacted store must still suppress through its reader")
      // delete-before-arrival: tombstone id 500 before it ever lands —
      // when it arrives it must be neither judged nor stored
      StreamingOps.deleteFromAssignmentStore(
        Seq(500L).toDF("id"), store, batchId = 1L)
      ingest(4L, Seq((500L, unit()), (501L, unit())))
      assert(spark.read.parquet(verdicts)
        .filter($"vec_id" === 500L).count() === 0L,
        "a pre-deleted id must not be judged")
      assert(spark.read.parquet(store)
        .filter($"id" === 500L).count() === 0L,
        "a pre-deleted id must not be stored")
      assert(spark.read.parquet(verdicts)
        .filter($"vec_id" === 501L).count() === 1L,
        "its batch-mates are unaffected")
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("compact leaves the NEWEST batch file un-folded (it may belong " +
      "to an uncommitted trigger) and SHRINKS the log to its victims — " +
      "suppression is seamless across the folded/kept boundary") {
    val dir = java.nio.file.Files.createTempDirectory("semnewest")
    try {
      val corpus = (0L until 40L).map(i => (i, unit())).toDF("id", "emb")
      val treePath = dir.resolve("tree.parquet").toString
      SemDedup.writeTree(spark,
        SemDedup.fitCorpus(corpus, "id", "emb", k = 4), treePath)
      val store = dir.resolve("store").toString
      val verdicts = dir.resolve("verdicts").toString
      def ingest(batchId: Long, rows: Seq[(Long, Array[Float])]): Unit =
        StreamingOps.applySemanticIngestBatch(
          rows.toDF("vec_id", "embedding"), batchId,
          treePath, store, verdicts, threshold = 0.97,
          lineage = "L")
      def verdict(id: Long): Boolean = spark.read.parquet(verdicts)
        .filter($"vec_id" === id).select("is_dup")
        .as[Boolean].head()
      val a = unit()
      ingest(0L, Seq((100L, a)))
      ingest(1L, Seq((200L, twin(a))))
      // victims straddle the fold boundary: 100 lives in the folded
      // batch-0, 200 in the NEWEST batch-1
      StreamingOps.deleteFromAssignmentStore(
        Seq(100L, 200L).toDF("id"), store, batchId = 0L)
      StreamingOps.compactAssignmentStore(spark, store)
      val fs = new org.apache.hadoop.fs.Path(store)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      // the newest file is never folded (its trigger's checkpoint may
      // not have committed; folding it would defeat the replay's
      // own-file exclusion)
      assert(fs.exists(new org.apache.hadoop.fs.Path(
        s"$store/batch-1.parquet")))
      // 100 folded away physically; 200 physically present in the
      // un-folded newest file but suppressed by the KEPT log
      assert(spark.read.parquet(store)
        .filter($"id" === 100L).count() === 0L)
      assert(spark.read.parquet(store)
        .filter($"id" === 200L).count() === 1L)
      assert(graft.rel.Tombstones.deletedKeys(spark, store).nonEmpty,
        "the log must SHRINK to the newest file's victims, not vanish")
      // the combined suppression: every holder of a is gone (one
      // folded, one log-suppressed) — a fresh twin of a must survive
      ingest(2L, Seq((300L, twin(a))))
      assert(!verdict(300L),
        "the kept log must keep suppressing the un-folded victim")
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }
}
