package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger

/** Streaming Misra–Gries heavy hitters: the mergeable-summaries
  * guarantees must hold across per-trigger merges — counters bounded
  * by k, no false negatives above N/(k+1), counts within
  * [true − N/(k+1), true] — and a redelivered batch id must leave the
  * store untouched, including after a rewrite the truncation emptied.
  */
class HeavyHittersStreamSpec extends SparkSpec {
  import spark.implicits._
  import scala.jdk.CollectionConverters._

  private def delete(p: java.nio.file.Path): Unit = {
    val walk = java.nio.file.Files.walk(p)
    val paths = try walk.iterator().asScala.toSeq finally walk.close()
    paths.sortBy(-_.getNameCount)
      .foreach(x => java.nio.file.Files.deleteIfExists(x))
  }

  /** Non-sentinel counters. */
  private def counters(storePath: String): Map[String, Long] =
    spark.read.parquet(storePath).filter(col("term").isNotNull)
      .select("term", "cnt").as[(String, Long)].collect().toMap

  private def runBatches(storePath: String, k: Int,
      batches: Seq[Seq[(Long, String)]]): Unit = {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, String)]
    val q = StreamingOps
      .heavyHittersStream(stream.toDF.toDF("doc_id", "text"), storePath, k)
      .trigger(Trigger.ProcessingTime(0))
      .start()
    batches.foreach { b => stream.addData(b); q.processAllAvailable() }
    q.stop()
  }

  test("MG guarantees hold across triggers; counters stay k-bounded") {
    val k = 8
    // 3 triggers; per trigger: 'hot' x20, 'warm' x8, 12 unique tail
    // terms. Totals: N = 3*(20+8+12) = 120; hot=60, warm=24, each tail
    // term=1. N/(k+1) = 13.3 → hot and warm MUST survive with counts
    // in [true − 13.3, true]; no term may exceed its true count.
    val dir = java.nio.file.Files.createTempDirectory("graft-hh")
    val storePath = dir.resolve("hh").toString
    try {
      runBatches(storePath, k, (0 until 3).map(t => Seq((t.toLong,
        (Seq.fill(20)("hot") ++ Seq.fill(8)("warm") ++
          (0 until 12).map(i => s"tail${t}_$i")).mkString(" ")))))
      val store = counters(storePath)
      assert(store.size <= k, s"counters exceeded k=$k: ${store.size}")
      val err = 120.0 / (k + 1)
      val truth = Map("hot" -> 60L, "warm" -> 24L).withDefaultValue(1L)
      assert(store.contains("hot") && store.contains("warm"),
        s"terms above N/(k+1) must never be dropped; store=$store")
      store.foreach { case (term, cnt) =>
        assert(cnt <= truth(term), s"$term overcounted: $cnt")
        assert(cnt >= truth(term) - err,
          s"$term undercounted past the MG bound: $cnt vs ${truth(term)}")
      }
    } finally delete(dir)
  }

  test("summary matches one-shot Misra-Gries semantics on a single batch") {
    // one trigger = exact counts then ONE truncation: with k=2 and
    // counts a=5, b=3, c=2, d=1 the (k+1)-th largest is 2 → store
    // holds a=3, b=1 (c,d dropped)
    val text = (Seq.fill(5)("a") ++ Seq.fill(3)("b") ++
      Seq.fill(2)("c") ++ Seq("d")).mkString(" ")
    val dir = java.nio.file.Files.createTempDirectory("graft-hh1")
    val storePath = dir.resolve("hh").toString
    try {
      runBatches(storePath, 2, Seq(Seq((0L, text))))
      assert(counters(storePath) === Map("a" -> 3L, "b" -> 1L))
    } finally delete(dir)
  }

  test("redelivered batch ids are skipped — the store never double-counts") {
    // a real foreachBatch redelivery is the SAME query lineage
    // re-sending an already-applied batch id after an uncommitted
    // trigger — simulated exactly through the per-trigger entry point
    val dir = java.nio.file.Files.createTempDirectory("graft-hh2")
    val storePath = dir.resolve("hh").toString
    try {
      val batch = Seq((0L, "x x x y z")).toDF("doc_id", "text")
      StreamingOps.applyHeavyHitterBatch(batch, 0L, "L", storePath, 4)
      val before = counters(storePath)
      StreamingOps.applyHeavyHitterBatch(batch, 0L, "L", storePath, 4)
      assert(counters(storePath) === before, "replay must not double-count")
      assert(before("x") === 3L)
    } finally delete(dir)
  }

  test("a crashed first write (tmp without _SUCCESS) is discarded, not " +
      "promoted: the read finds no store and redelivered batch 0 applies " +
      "once") {
    val dir = java.nio.file.Files.createTempDirectory("graft-hh-crash")
    val storePath = dir.resolve("hh").toString
    val cleanPath = dir.resolve("clean").toString
    def rows(p: String) = spark.read.parquet(p).collect().map(_.toSeq).toSet
    try {
      val batch = Seq((0L, "x x x y z")).toDF("doc_id", "text")
      StreamingOps.applyHeavyHitterBatch(batch, 0L, "L", cleanPath, 4)
      // the kill state: batch 0's first write died inside its job — the
      // swap's tmp holds part of the batch and no job-commit marker, and
      // no store exists yet
      val tmp = s"$storePath.compacting"
      spark.read.parquet(cleanPath).filter(col("term") === "x")
        .write.parquet(tmp)
      java.nio.file.Files.delete(java.nio.file.Paths.get(tmp, "_SUCCESS"))
      intercept[org.apache.spark.sql.AnalysisException](
        StreamingOps.heavyHittersFromStore(batch, storePath, 4, 0.3))
      StreamingOps.applyHeavyHitterBatch(batch, 0L, "L", storePath, 4)
      assert(rows(storePath) === rows(cleanPath),
        "the redelivered batch must apply exactly once")
    } finally delete(dir)
  }

  test("high-water mark survives a rewrite the truncation left empty") {
    // k=1: batch 0 'h h h t' stores {h:2}; batch 1 'x x' merges to
    // {h:2, x:2}, d=2 → ZERO surviving counters. The sentinel row must
    // still carry batch_id=1, so a redelivered batch 1 (and 0) is
    // skipped instead of re-applied against the emptied store.
    val dir = java.nio.file.Files.createTempDirectory("graft-hh3")
    val storePath = dir.resolve("hh").toString
    try {
      val b0 = Seq((0L, "h h h t")).toDF("doc_id", "text")
      val b1 = Seq((1L, "x x")).toDF("doc_id", "text")
      StreamingOps.applyHeavyHitterBatch(b0, 0L, "L", storePath, 1)
      StreamingOps.applyHeavyHitterBatch(b1, 1L, "L", storePath, 1)
      assert(counters(storePath) === Map.empty[String, Long])
      val applied = spark.read.parquet(storePath)
        .agg(org.apache.spark.sql.functions.max("batch_id"))
        .head.getLong(0)
      assert(applied === 1L, "sentinel must carry the high-water mark")
      // redelivery of both already-applied batch ids: no-ops
      StreamingOps.applyHeavyHitterBatch(b0, 0L, "L", storePath, 1)
      StreamingOps.applyHeavyHitterBatch(b1, 1L, "L", storePath, 1)
      assert(counters(storePath) === Map.empty[String, Long])
      assert(spark.read.parquet(storePath)
        .agg(org.apache.spark.sql.functions.max("batch_id"))
        .head.getLong(0) === 1L)
    } finally delete(dir)
  }

  test("the MG floor is governed by the store's BUILD k, not the " +
      "caller's claim: a mismatched k fails loudly instead of " +
      "silently voiding the no-false-negative guarantee") {
    val dir = java.nio.file.Files.createTempDirectory("graft-hhk")
    val storePath = dir.resolve("hh").toString
    try {
      val docs = Seq((0L, "a a a b b c")).toDF("doc_id", "text")
      StreamingOps.applyHeavyHitterBatch(docs, 0L, "L", storePath, 4)
      // a reader claiming a LARGER k would pass the old caller-trusting
      // floor check while the k=4 summary may already have dropped
      // qualifying terms — the store's sentinel now pins the build k
      val e = intercept[IllegalArgumentException](
        StreamingOps.heavyHittersFromStore(docs, storePath, k = 1024,
          support = 0.01))
      assert(e.getMessage.contains("built with k=4"), e.getMessage)
      // the build k with a support below ITS floor still refuses
      val e2 = intercept[IllegalArgumentException](
        StreamingOps.heavyHittersFromStore(docs, storePath, k = 4,
          support = 0.01))
      assert(e2.getMessage.contains("floor"), e2.getMessage)
      // the sound read works
      val hh = StreamingOps.heavyHittersFromStore(docs, storePath,
          k = 4, support = 0.3)
        .collect().map(_.getString(0)).toSet
      assert(hh.contains("a"))
    } finally delete(dir)
  }

  test("store + exact verify ≡ batch heavy hitters on the same corpus") {
    // 3 streamed batches build the MG summary; reading it back through
    // the exact-verify pass must give exactly what the batch operator
    // computes from scratch on the same corpus — the summary is a
    // candidate generator, never a source of approximate answers
    val k = 8
    val support = 0.15 // ≥ 1/(k+1) ≈ 0.111, the soundness floor
    val batchDocs = (0 until 3).map { t =>
      (t.toLong, (Seq.fill(10)("hot") ++ Seq.fill(5)("warm") ++
        (0 until 10).map(i => s"tail${t}_$i")).mkString(" "))
    }
    val dir = java.nio.file.Files.createTempDirectory("graft-hh6")
    val storePath = dir.resolve("hh").toString
    try {
      batchDocs.zipWithIndex.foreach { case (doc, i) =>
        StreamingOps.applyHeavyHitterBatch(
          Seq(doc).toDF("doc_id", "text"), i.toLong, "L", storePath, k)
      }
      val corpus = batchDocs.toDF("doc_id", "text")
      val fromStore = StreamingOps
        .heavyHittersFromStore(corpus, storePath, k, support).collect().toSeq
      val batch = graft.text.TextQueries
        .heavyHitters(corpus, support).collect().toSeq
      assert(fromStore === batch)
      assert(fromStore.map(_.getString(0)).toSet === Set("hot", "warm"),
        s"hot=40%, warm=20% are the only terms above 15%: $fromStore")
      // below the MG soundness floor the read path must refuse
      val ex = intercept[IllegalArgumentException] {
        StreamingOps.heavyHittersFromStore(corpus, storePath, k, 0.01)
      }
      assert(ex.getMessage.contains("floor"))
    } finally delete(dir)
  }

  test("a fresh checkpoint over an existing store fails loudly, not silently") {
    // batch ids restart at 0 for a new query; before the lineage guard
    // this silently skipped the new query's first batches
    val dir = java.nio.file.Files.createTempDirectory("graft-hh4")
    val storePath = dir.resolve("hh").toString
    try {
      runBatches(storePath, 4, Seq(Seq((0L, "x x x y z"))))
      val before = counters(storePath)
      val ex = intercept[Exception] {
        runBatches(storePath, 4, Seq(Seq((1L, "fresh data"))))
      }
      def chain(t: Throwable): Seq[Throwable] =
        if (t == null) Seq.empty else t +: chain(t.getCause)
      assert(chain(ex).exists(c => c.getMessage != null &&
        c.getMessage.contains("lineage")),
        s"expected the lineage-mismatch failure, got: $ex")
      assert(counters(storePath) === before,
        "a rejected lineage must leave the store untouched")
    } finally delete(dir)
  }

  test("restart from the SAME checkpoint resumes the store idempotently") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-hh5")
    val storePath = dir.resolve("hh").toString
    val ckpt = dir.resolve("ckpt").toString
    try {
      val s1 = MemoryStream[(Long, String)]
      val q1 = StreamingOps
        .heavyHittersStream(s1.toDF.toDF("doc_id", "text"), storePath, 8)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.ProcessingTime(0)).start()
      s1.addData(Seq((0L, "x x x y")))
      q1.processAllAvailable(); q1.stop()
      // new run, same checkpoint: the STABLE query id is recovered from
      // checkpoint metadata, so the lineage guard admits the store
      val s2 = MemoryStream[(Long, String)]
      s2.addData(Seq((0L, "x x x y"))) // realign source offsets
      val q2 = StreamingOps
        .heavyHittersStream(s2.toDF.toDF("doc_id", "text"), storePath, 8)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.ProcessingTime(0)).start()
      assert(q2.id === q1.id, "restart must keep the stable query id")
      s2.addData(Seq((1L, "x y y")))
      q2.processAllAvailable(); q2.stop()
      val store = counters(storePath)
      assert(store("x") === 4L, s"x must accumulate across the restart: $store")
      assert(store("y") === 3L, s"y must accumulate across the restart: $store")
    } finally delete(dir)
  }
}
