package graft.sim

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The persisted IVF-PQ index: search-from-store ≡ the in-query
  * composite (same seeds → identical index), loud parameter-mismatch
  * failure, and the incremental encode path (new vectors retrievable,
  * redelivery a no-op).
  */
class IvfPqStoreSpec extends SparkSpec {
  import spark.implicits._

  private def tempDir() =
    java.nio.file.Files.createTempDirectory("ivfpq-store")

  private def cleanup(dir: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
      .foreach(java.nio.file.Files.deleteIfExists(_))
  }

  private def src = VecPrep.embeddingFeatures(spark, sf0001)
    .select(col("vec_id"), col("embedding"))

  test("search from the persisted index equals the in-query composite") {
    val dir = tempDir()
    try {
      IvfPqStore.buildIndex(spark, sf0001, dir.toString)
      val stored = IvfPqStore
        .searchIndex(spark, dir.toString, src, 0L until 10L)
        .collect().map(_.toSeq)
      val inQuery = IvfPq.ivfPqKnn(spark, sf0001)
        .collect().map(_.toSeq)
      assert(stored.nonEmpty && stored.toSeq === inQuery.toSeq,
        "frozen index must reproduce the composite's results exactly")
    } finally cleanup(dir)
  }

  test("cell-clustered codes: the search scan partition-prunes to probed cells") {
    val dir = tempDir()
    try {
      IvfPqStore.buildIndex(spark, sf0001, dir.toString)
      // layout: one cell=N directory per coarse cell
      val cellDirs = new java.io.File(s"$dir/codes.parquet").listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("cell="))
      assert(cellDirs.length == 16,
        s"expected 16 cell partitions, got ${cellDirs.length}")
      val out = IvfPqStore.searchIndex(spark, dir.toString, src, Seq(0L, 1L))
      out.collect()
      val plan = out.queryExecution.executedPlan.toString
      assert("PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(plan).isDefined,
        s"probed-cell restriction must reach the scan as a partition " +
          s"filter:\n$plan")
    } finally cleanup(dir)
  }

  test("parameter mismatch fails loudly, never decodes garbage") {
    val dir = tempDir()
    try {
      IvfPqStore.buildIndex(spark, sf0001, dir.toString)
      val e = intercept[IllegalArgumentException] {
        IvfPqStore.searchIndex(spark, dir.toString, src, Seq(0L), m = 4)
      }
      assert(e.getMessage.contains("rebuild"),
        s"expected the rebuild message, got: ${e.getMessage}")
    } finally cleanup(dir)
  }

  test("streaming ingest encodes micro-batches under the frozen index; replay a no-op") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = tempDir()
    try {
      // build WITHOUT the last 50 vectors, then stream them in 2 batches
      val all = src
      val maxId = all.agg(max("vec_id")).head().getLong(0)
      val cutId = maxId - 49
      val sub = java.nio.file.Files.createTempDirectory("ivfpq-ssubset")
      try {
        graft.Tables.embeddings(spark, sf0001)
          .filter($"vec_id" < cutId)
          .write.parquet(s"$sub/embeddings.parquet")
        IvfPqStore.buildIndex(spark, sub.toString, dir.toString)
        val before = spark.read.parquet(s"$dir/codes.parquet").count()
        val late = all.filter($"vec_id" >= cutId)
          .as[(Long, Array[Float])].collect()
        val stream = MemoryStream[(Long, Array[Float])]
        val q = IvfPqStore
          .ivfPqIngestStream(
            stream.toDF.toDF("vec_id", "embedding"), dir.toString)
          .option("checkpointLocation", s"$dir/ckpt")
          .start()
        val (b1, b2) = late.splitAt(25)
        stream.addData(b1.toIndexedSeq); q.processAllAvailable()
        stream.addData(b2.toIndexedSeq); q.processAllAvailable()
        // redelivery: same rows again — anti-join must no-op
        stream.addData(late.toIndexedSeq); q.processAllAvailable()
        q.stop()
        val codes = spark.read.parquet(s"$dir/codes.parquet")
        assert(codes.count() === before + 50,
          "each streamed vector encoded exactly once despite replay")
        assert(codes.filter($"vec_id" >= cutId).count() === 50)
        // streamed vectors are searchable under the frozen index
        val out = IvfPqStore.searchIndex(spark, dir.toString, all, Seq(maxId))
        assert(out.count() > 0, "ingested vectors must be searchable")
      } finally cleanup(sub)
    } finally cleanup(dir)
  }

  test("incremental encode: new vectors retrievable, redelivery a no-op") {
    val dir = tempDir()
    try {
      // build the index WITHOUT the last 50 vectors, then ingest them
      val all = src
      val maxId = all.agg(max("vec_id")).head().getLong(0)
      val cutId = maxId - 49
      val sub = java.nio.file.Files.createTempDirectory("ivfpq-subset")
      try {
        // trainEncode reads a table dir — stage the subset as a corpus
        graft.Tables.embeddings(spark, sf0001)
          .filter($"vec_id" < cutId)
          .write.parquet(s"$sub/embeddings.parquet")
        IvfPqStore.buildIndex(spark, sub.toString, dir.toString)
        val batch = all.filter($"vec_id" >= cutId)
        IvfPqStore.encodeBatch(spark, dir.toString, batch)
        val codes = spark.read.parquet(s"$dir/codes.parquet")
        assert(codes.filter($"vec_id" >= cutId).count() === 50,
          "every batch vector must be encoded")
        val before = codes.count()
        IvfPqStore.encodeBatch(spark, dir.toString, batch) // redelivery
        assert(spark.read.parquet(s"$dir/codes.parquet").count() === before,
          "a redelivered batch must not duplicate codes")
        // a batch vector's nearest neighbors include its planted twin
        // region: search for one ingested id and expect results
        val out = IvfPqStore.searchIndex(spark, dir.toString, all,
          Seq(maxId))
        assert(out.count() > 0, "ingested vectors must be searchable")
        assert(out.filter($"neighbor_id" === maxId).count() === 0,
          "a query never returns itself")
      } finally cleanup(sub)
    } finally cleanup(dir)
  }

  test("key-level delete: tombstoned vectors vanish, top-k stays full, " +
      "compact removes them physically without changing answers") {
    val dir = tempDir()
    try {
      IvfPqStore.buildIndex(spark, sf0001, dir.toString)
      def results() = IvfPqStore
        .searchIndex(spark, dir.toString, src, 0L until 10L).collect()
      val before = results()
      def perQuery(rows: Array[org.apache.spark.sql.Row]) = rows
        .groupBy(_.getAs[Long]("query_id")).view.mapValues(_.length).toMap
      // victims: every non-query id query 0 currently retrieves
      val victims = before.filter(_.getAs[Long]("query_id") == 0L)
        .map(_.getAs[Long]("neighbor_id")).filter(_ >= 10L).toSeq
      assert(victims.nonEmpty, "fixture must retrieve non-query neighbors")
      IvfPqStore.deleteFromIndex(victims.toDF("vec_id"), dir.toString, 0L)
      val after = results()
      assert(!after.exists(r => victims.contains(
          r.getAs[Long]("neighbor_id"))),
        "a tombstoned vector must never be returned")
      assert(perQuery(after) === perQuery(before),
        "the filter precedes the shortlist — top-k must stay full")
      // replayed delete batch: the fence partition absorbs it
      IvfPqStore.deleteFromIndex(victims.toDF("vec_id"), dir.toString, 0L)
      assert(results().map(_.toSeq).toSeq === after.map(_.toSeq).toSeq,
        "replayed delete must not move answers")
      // compact scans only surviving codes under the same frozen model:
      // identical answers prove the tombstone filter ran pre-shortlist
      IvfPqStore.compactIndex(spark, dir.toString)
      assert(results().map(_.toSeq).toSeq === after.map(_.toSeq).toSeq,
        "compact must not change any answer")
      assert(spark.read.parquet(s"$dir/codes.parquet")
        .filter($"vec_id".isin(victims: _*)).count() === 0L,
        "compact must remove tombstoned codes physically")
      val fs = new org.apache.hadoop.fs.Path(dir.toString)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(!fs.exists(new org.apache.hadoop.fs.Path(
          graft.rel.Tombstones.logPath(s"$dir/codes.parquet"))),
        "compact must truncate the tombstone log")
    } finally cleanup(dir)
  }

  test("delete is terminal within a compaction epoch; re-ingest after " +
      "compact restores the key as a retrievable neighbor") {
    val dir = tempDir()
    try {
      IvfPqStore.buildIndex(spark, sf0001, dir.toString)
      def q0Neighbors() = IvfPqStore
        .searchIndex(spark, dir.toString, src, Seq(0L))
        .select("neighbor_id").as[Long].collect().toSet
      val victim = q0Neighbors().find(_ >= 10L).get
      val victimRows = src.filter($"vec_id" === victim)
      IvfPqStore.deleteFromIndex(Seq(victim).toDF("vec_id"),
        dir.toString, 0L)
      // PRE-compact re-ingest: the physical-codes anti-join skips the
      // still-present row, and the tombstone keeps hiding it — the
      // documented "terminal within the epoch" semantics
      IvfPqStore.encodeBatch(spark, dir.toString, victimRows)
      assert(spark.read.parquet(s"$dir/codes.parquet")
        .filter($"vec_id" === victim).count() === 1L,
        "pre-compact re-ingest must not duplicate codes")
      assert(!q0Neighbors().contains(victim),
        "the key stays deleted until compact")
      // POST-compact: the old row is physically gone and the log is
      // truncated, so a fresh ingest of the same key works normally —
      // and the frozen model re-encodes it to the same codes, so it
      // returns to exactly its old place in the results
      IvfPqStore.compactIndex(spark, dir.toString)
      assert(spark.read.parquet(s"$dir/codes.parquet")
        .filter($"vec_id" === victim).count() === 0L)
      IvfPqStore.encodeBatch(spark, dir.toString, victimRows)
      assert(q0Neighbors().contains(victim),
        "a re-ingested key must be retrievable again after compact")
    } finally cleanup(dir)
  }

  test("compaction is crash-safe and total-deletion-safe: a deletion " +
      "covering EVERY vector leaves a READABLE empty store, an " +
      "interrupted swap recovers, and an intra-batch duplicate " +
      "vec_id encodes once") {
    val dir = tempDir()
    try {
      IvfPqStore.buildIndex(spark, sf0001, dir.toString)
      val codes = s"$dir/codes.parquet"
      val allIds = spark.read.parquet(codes)
        .select("vec_id").as[Long].collect().toSeq
      // intra-batch duplicate: an at-least-once source re-delivering
      // the same vec_id INSIDE one frame must encode it once (the
      // seen anti-join only blocks already-stored ids)
      val freshId = allIds.max + 1000L
      val vec = src.limit(1)
        .select(lit(freshId).as("vec_id"), $"embedding")
      IvfPqStore.encodeBatch(spark, dir.toString, vec.unionAll(vec))
      assert(spark.read.parquet(codes)
        .filter($"vec_id" === freshId).count() === 1L,
        "a duplicated in-batch vec_id must encode exactly once")
      // total deletion + compact: the codes root must stay READABLE
      // (empty, schema-bearing) — a file-less root would crash every
      // later read's schema inference
      IvfPqStore.deleteFromIndex((allIds :+ freshId).toDF("vec_id"),
        dir.toString, 1L)
      IvfPqStore.compactIndex(spark, dir.toString)
      assert(spark.read.parquet(codes).count() === 0L,
        "a fully-deleted store must read as empty, not crash")
      val empty = IvfPqStore.searchIndex(spark, dir.toString, src,
        0L until 3L)
      assert(empty.collect().isEmpty,
        "searching the emptied index answers empty")
      // and re-ingest after the full erasure works normally
      IvfPqStore.encodeBatch(spark, dir.toString, vec)
      assert(spark.read.parquet(codes).count() === 1L)
      // interrupted swap: the one codes-absent window (between the two
      // renames) recovers the complete old root on the next entry
      val fs = new org.apache.hadoop.fs.Path(codes)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      require(fs.rename(new org.apache.hadoop.fs.Path(codes),
        new org.apache.hadoop.fs.Path(s"$dir/codes.parquet.precompact")))
      IvfPqStore.compactIndex(spark, dir.toString) // recovers, no log → no-op
      assert(spark.read.parquet(codes).count() === 1L,
        "an interrupted swap must recover the old root")
    } finally cleanup(dir)
  }

  test("delete-before-arrival: a vec_id tombstoned before its vector " +
      "lands is never encoded into the store") {
    val dir = tempDir()
    try {
      val all = graft.Tables.embeddings(spark, sf0001)
        .select($"vec_id", $"embedding")
      val maxId = all.agg(max("vec_id")).as[Long].head()
      val late = all.filter($"vec_id" === maxId)
      val sub = tempDir()
      try {
        all.filter($"vec_id" =!= maxId).write.mode("overwrite")
          .parquet(s"$sub/embeddings.parquet")
        IvfPqStore.buildIndex(spark, sub.toString, dir.toString)
        // the GDPR request precedes the vector's arrival
        IvfPqStore.deleteFromIndex(Seq(maxId).toDF("vec_id"),
          dir.toString, 0L)
        IvfPqStore.encodeBatch(spark, dir.toString, late)
        assert(spark.read.parquet(s"$dir/codes.parquet")
          .filter($"vec_id" === maxId).count() === 0L,
          "a pre-deleted vec must never be stored")
      } finally cleanup(sub)
    } finally cleanup(dir)
  }
}
