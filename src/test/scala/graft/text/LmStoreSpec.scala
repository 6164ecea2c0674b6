package graft.text

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** LM count store: stored model ≡ monolithic retrain, replay no-op,
  * streaming ingest, incremental refresh without corpus rescan. */
class LmStoreSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String)*) =
    rows.toSeq.toDF("doc_id", "text")

  private val b1 = Seq((1L, "a b c d a b c"), (2L, "b c d e a b"))
  private val b2 = Seq((3L, "c d e a a b c"), (4L, "d e a b c b"))
  private val b3 = Seq((5L, "e a b c d e b"))

  test("the stored model is bit-identical to monolithic retraining " +
      "on everything ingested; a replayed batch is a byte no-op") {
    val dir = java.nio.file.Files.createTempDirectory("lmstore")
    val store = dir.resolve("counts").toString
    LmStore.applyBatch(docs(b1: _*), store, 0L)
    LmStore.applyBatch(docs(b2: _*), store, 1L)
    val mono = KneserNey.trigramLm(docs((b1 ++ b2): _*))
      .collect().toSeq
    assert(LmStore.lmFromStore(spark, store).collect().toSeq == mono)
    // replay batch 1: dynamic overwrite of its own partition — no-op
    LmStore.applyBatch(docs(b2: _*), store, 1L)
    assert(LmStore.lmFromStore(spark, store).collect().toSeq == mono)
    // incremental refresh: one more batch, old corpora never rescanned
    LmStore.applyBatch(docs(b3: _*), store, 2L)
    assert(LmStore.lmFromStore(spark, store).collect().toSeq ==
      KneserNey.trigramLm(docs((b1 ++ b2 ++ b3): _*)).collect().toSeq)
  }

  test("keyed delete: write;delete(k) ≡ retrain-without-k bit-for-bit; " +
      "duplicate request no-ops; deletion is permanent (re-ingest " +
      "barred); delete-before-arrival never counts the doc") {
    val dir = java.nio.file.Files.createTempDirectory("lmdelete")
    val store = dir.resolve("counts").toString
    LmStore.applyBatch(docs(b1: _*), store, 0L)
    LmStore.applyBatch(docs(b2: _*), store, 1L)
    // delete doc 3 (must carry its text — the store holds only counts)
    val doc3 = docs(b2.head)
    LmStore.deleteFromLmStore(doc3, store, -1L)
    val without3 = KneserNey.trigramLm(docs((b1 :+ b2(1)): _*))
      .collect().toSeq
    assert(LmStore.lmFromStore(spark, store).collect().toSeq == without3,
      "delete must net doc 3 out of every count exactly")
    // duplicate GDPR request under a fresh mutation id: no-op (the
    // ledger bars double subtraction, which would silently corrupt
    // counts shared with surviving docs)
    LmStore.deleteFromLmStore(doc3, store, -2L)
    assert(LmStore.lmFromStore(spark, store).collect().toSeq == without3)
    // permanence: re-ingesting the deleted doc is filtered on arrival
    LmStore.applyBatch(doc3, store, 2L)
    assert(LmStore.lmFromStore(spark, store).collect().toSeq == without3)
    // delete-before-arrival: doc 5 tombstoned before it ever lands
    LmStore.deleteFromLmStore(docs(b3.head), store, -3L)
    LmStore.applyBatch(docs(b3.head), store, 3L)
    assert(LmStore.lmFromStore(spark, store).collect().toSeq == without3)
    // id-space discipline is enforced loudly
    intercept[IllegalArgumentException] {
      LmStore.deleteFromLmStore(doc3, store, 5L)
    }
    intercept[IllegalArgumentException] {
      LmStore.applyBatch(docs(b1: _*), store, -5L)
    }
  }

  test("streaming ingest lands the same store as the batch loop") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("lmstream")
    val store = dir.resolve("counts").toString
    val stream = MemoryStream[(Long, String)]
    val q = LmStore.lmIngestStream(
        stream.toDF.toDF("doc_id", "text"), store)
      .option("checkpointLocation", dir.resolve("ckpt").toString)
      .start()
    stream.addData(b1); q.processAllAvailable()
    stream.addData(b2); q.processAllAvailable()
    q.stop()
    assert(LmStore.lmFromStore(spark, store).collect().toSeq ==
      KneserNey.trigramLm(docs((b1 ++ b2): _*)).collect().toSeq)
  }

  test("a delete-before-any-ingest leaves a READABLE empty store (the " +
      "file-less-dir rule): counts and the model read empty, the " +
      "barred id never enters, and the first real ingest lands") {
    val dir = java.nio.file.Files.createTempDirectory("lmpredel")
    try {
      val store = dir.resolve("counts").toString
      // the negation of a never-ingested doc is EMPTY: the dynamic
      // overwrite leaves a _SUCCESS-only root
      LmStore.deleteFromLmStore(docs(b3.head), store, -1L)
      assert(LmStore.countsFromStore(spark, store).collect().isEmpty,
        "a file-less count store must read as empty, not crash")
      // the barred doc never enters; survivors land normally
      LmStore.applyBatch(docs((b1 :+ b3.head): _*), store, 0L)
      val got = LmStore.lmFromStore(spark, store).collect().toSeq
      assert(got == KneserNey.trigramLm(docs(b1: _*)).collect().toSeq,
        "the pre-deleted doc must be excluded from the first ingest")
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }
}
