package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Streaming ≡ batch equivalence: the same StreamingOps transforms run
  * over a file-stream source (driver parquet as the backlog) and a batch
  * read must agree once the stream drains.
  */
class StreamingOpsSpec extends SparkSpec {
  import spark.implicits._

  private def batchEvents = graft.Tables.events(spark, sf0001)

  // FileStreamSource wants a directory: stage the single parquet file
  private lazy val streamDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("events_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf0001/events.parquet"),
      dir.resolve("events.parquet"))
    dir.toString
  }

  private def streamEvents = {
    val schema = spark.read.parquet(s"$sf0001/events.parquet").schema
    val raw = spark.readStream.schema(schema).parquet(streamDir)
    // mirror Tables.events' layout tolerance: the testdata's ts column
    // has shipped as both TIMESTAMP(NANOS) (long under nanosAsLong) and
    // TIMESTAMP(MICROS) (ntz) across generations
    schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case _ => raw.withColumn("ts", col("ts").cast("timestamp"))
    }
  }

  private def drain(name: String, df: org.apache.spark.sql.DataFrame) = {
    val q = df.writeStream.outputMode("complete")
      .format("memory").queryName(name)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    spark.table(name)
  }

  test("hourly windowed counts: streaming equals batch") {
    val streamed = drain("hourly_s", StreamingOps.hourlyCounts(streamEvents))
      .select("window_start_us", "event_type", "n_events")
      .orderBy("window_start_us", "event_type").collect()
    val batch = StreamingOps.hourlyCounts(batchEvents)
      .select("window_start_us", "event_type", "n_events")
      .orderBy("window_start_us", "event_type").collect()
    assert(streamed.sameElements(batch))
    assert(batch.nonEmpty)
  }

  test("hopping windows: streaming equals batch equals q94, exactly") {
    val streamed = drain("hop_s", StreamingOps.hoppingCounts(streamEvents))
      .orderBy("event_type", "win_start_sec").collect()
    val batch = StreamingOps.hoppingCounts(batchEvents)
      .orderBy("event_type", "win_start_sec").collect()
    assert(streamed.nonEmpty && streamed.sameElements(batch))
    // and the batch contract query agrees cell for cell (cents sums
    // are integer — exact under any accumulation order)
    val q94 = graft.rel.Stats.q94HoppingWindows(spark, sf0001)
      .select("win_start_sec", "event_type", "n_events", "sum_cents")
      .orderBy("event_type", "win_start_sec").collect()
    val batchAligned = StreamingOps.hoppingCounts(batchEvents)
      .select("win_start_sec", "event_type", "n_events", "sum_cents")
      .orderBy("event_type", "win_start_sec").collect()
    assert(batchAligned.sameElements(q94))
  }

  test("session windows: streaming equals batch") {
    val streamed = drain("sess_s", StreamingOps.sessionWindows(streamEvents))
      .select("user_id", "session_start_us", "n_events")
      .orderBy("user_id", "session_start_us").collect()
    val batch = StreamingOps.sessionWindows(batchEvents)
      .select("user_id", "session_start_us", "n_events")
      .orderBy("user_id", "session_start_us").collect()
    assert(streamed.sameElements(batch))
    assert(batch.nonEmpty)
  }

  test("stream-stream interval join equals batch form") {
    val q = StreamingOps.signupPurchaseJoin(streamEvents)
      .writeStream.outputMode("append")
      .format("memory").queryName("funnel_s")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table("funnel_s")
      .select("signup_id", "purchase_id").orderBy("signup_id", "purchase_id")
      .collect()
    val batch = StreamingOps.signupPurchaseJoin(batchEvents)
      .select("signup_id", "purchase_id").orderBy("signup_id", "purchase_id")
      .collect()
    assert(streamed.sameElements(batch))
    assert(batch.nonEmpty)
  }

  test("typed mapGroups sessionizer agrees with the declarative window form") {
    val typed = StreamingOps.sessionCountsTyped(batchEvents)
      .orderBy("user_id").collect()
    val declarative = graft.rel.RelQueries.q16Sessionize(spark, sf0001)
      .select("user_id", "n_sessions", "n_events")
      .orderBy("user_id").collect()
    assert(typed.sameElements(declarative))
    assert(typed.nonEmpty)
  }

  test("checkpointed restart processes only new files (exactly-once sink)") {
    val inDir = java.nio.file.Files.createTempDirectory("ckpt_in")
    val outDir = java.nio.file.Files.createTempDirectory("ckpt_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("ckpt_meta").toString
    val src = java.nio.file.Paths.get(s"$sf0001/events.parquet")
    java.nio.file.Files.copy(src, inDir.resolve("batch1.parquet"))
    val schema = spark.read.parquet(s"$sf0001/events.parquet").schema

    def drainOnce(): Unit = {
      val q = spark.readStream.schema(schema).parquet(inDir.toString)
        .select("event_id", "user_id")
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }

    drainOnce()
    val n1 = spark.read.parquet(outDir).count()
    // second input file arrives; restart from the same checkpoint
    java.nio.file.Files.copy(src, inDir.resolve("batch2.parquet"))
    drainOnce()
    val n2 = spark.read.parquet(outDir).count()
    assert(n1 > 0)
    assert(n2 == 2 * n1, s"expected exactly one reprocess-free increment: " +
      s"first=$n1 total=$n2")
  }

  test("stateful running totals accumulate per user") {
    val ds = Seq((1L, 2.0), (1L, 3.0), (2L, 5.0)).toDS()
    val out = StreamingOps.runningUserTotals(ds).collect()
      .map(r => r.userId -> (r.nEvents, r.totalValue)).toMap
    assert(out(1L) == (2L, 5.0))
    assert(out(2L) == (1L, 5.0))
  }

  test("store protocols fail loudly on a rename-as-copy filesystem scheme") {
    // a local filesystem masquerading as s3a — the rename behavior is
    // irrelevant, only the scheme gate is under test: the swap protocol
    // must refuse up front, not corrupt on a crash mid-commit later
    val fakeS3a = new org.apache.hadoop.fs.RawLocalFileSystem() {
      override def getUri: java.net.URI = java.net.URI.create("s3a://bucket")
    }
    fakeS3a.initialize(java.net.URI.create("file:///"),
      spark.sparkContext.hadoopConfiguration)
    val e = intercept[IllegalStateException] {
      graft.rel.Stores.recoverSwap(fakeS3a,
        new org.apache.hadoop.fs.Path("/tmp/any-store"))
    }
    assert(e.getMessage.contains("atomic"), e.getMessage)
    // and the atomic local scheme passes the same gate
    val local = new org.apache.hadoop.fs.Path("/tmp")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.rel.Stores.requireAtomicRename(local, "spec probe") // no throw
  }
}
