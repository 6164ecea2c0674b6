package graft.rel

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The exact aggregate store's contract: merged batch partials equal a
  * monolithic aggregate over the raw history EXACTLY (the cents-decimal
  * sums are associative, so batching cannot move any digit), the split
  * into batches is irrelevant, redelivery is byte-idempotent via the
  * batch_id partition overwrite, and streaming ingest lands the same
  * store a batch loop does.
  */
class AggStoreSpec extends SparkSpec {
  import spark.implicits._

  private def li = graft.Tables.lineitem(spark, sf0001)
  private val groupCols = Seq("l_returnflag", "l_linestatus")

  private def monolithic =
    AggStore.mergePartials(
        AggStore.partialBatch(li, groupCols, "l_extendedprice"), groupCols)
      .orderBy("l_returnflag", "l_linestatus").collect().map(_.toSeq).toSeq

  test("merged 5-batch store equals the monolithic aggregate exactly") {
    val merged = AggStore.nqAggStore(spark, sf0001).collect().map(_.toSeq)
    assert(merged.nonEmpty && merged.toSeq === monolithic)
  }

  test("store variance tracks var_pop of the raw values") {
    val fromStore = AggStore.nqAggStore(spark, sf0001)
      .select("l_returnflag", "l_linestatus", "var_val")
      .as[(String, String, Double)].collect()
      .map { case (a, b, v) => (a, b) -> v }.toMap
    val direct = li.groupBy("l_returnflag", "l_linestatus")
      .agg(var_pop($"l_extendedprice").as("v"))
      .as[(String, String, Double)].collect()
      .map { case (a, b, v) => (a, b) -> v }.toMap
    assert(fromStore.keySet == direct.keySet)
    fromStore.foreach { case (k, v) =>
      // cents quantization perturbs each value by < 0.005, a vanishing
      // fraction of the price variance — the moments themselves are
      // exact, so store and direct agree to float-noise levels
      assert(math.abs(v - direct(k)) / direct(k) < 1e-4,
        s"$k: store var $v vs var_pop ${direct(k)}")
    }
  }

  test("batch split is irrelevant: 2-way and 7-way agree bit-for-bit") {
    def viaBatches(n: Int) = AggStore.mergePartials(
        (0 until n).map(b => AggStore.partialBatch(
          li.filter(pmod($"l_orderkey", lit(n)) === b),
          groupCols, "l_extendedprice")).reduce(_ unionAll _), groupCols)
      .orderBy("l_returnflag", "l_linestatus").collect().map(_.toSeq).toSeq
    assert(viaBatches(2) === viaBatches(7))
  }

  test("store path: persist, merge, idempotent redelivery") {
    val dir = java.nio.file.Files.createTempDirectory("aggstore")
    try {
      val store = dir.resolve("store.parquet").toString
      val b0 = li.filter(pmod($"l_orderkey", lit(2)) === 0)
      val b1 = li.filter(pmod($"l_orderkey", lit(2)) === 1)
      AggStore.applyBatch(b0, groupCols, "l_extendedprice", store, 0L)
      AggStore.applyBatch(b1, groupCols, "l_extendedprice", store, 1L)
      val two = AggStore.aggFromStore(spark, store, groupCols)
        .orderBy("l_returnflag", "l_linestatus").collect().map(_.toSeq).toSeq
      assert(two === monolithic,
        "store-merged answers must equal the raw-history aggregate")
      def nFiles = {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(dir).iterator().asScala
          .count(p => p.toString.endsWith(".parquet") &&
            java.nio.file.Files.isRegularFile(p))
      }
      val filesBefore = nFiles
      // redeliver batch 1 verbatim: additive sums would double-count
      // under append; the partition overwrite must make this a no-op
      // on answers AND on store size
      AggStore.applyBatch(b1, groupCols, "l_extendedprice", store, 1L)
      val redelivered = AggStore.aggFromStore(spark, store, groupCols)
        .orderBy("l_returnflag", "l_linestatus").collect().map(_.toSeq).toSeq
      assert(redelivered === two, "redelivery must not move any answer")
      assert(nFiles === filesBefore, "redelivery must not grow the store")
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("retraction: write; delete(k) equals write-without-k bit-for-bit") {
    val deleted = pmod($"l_orderkey", lit(17)) === 3
    val upserted = AggStore.nqStoreUpsert(spark, sf0001)
      .collect().map(_.toSeq).toSeq
    val survivorsOnly = AggStore.mergeUpsert(
        AggStore.partialBatch(li.filter(!deleted), groupCols,
          "l_extendedprice"), groupCols)
      .orderBy("l_returnflag", "l_linestatus").collect().map(_.toSeq).toSeq
    assert(upserted.nonEmpty && upserted === survivorsOnly,
      "retraction must net the deleted slice out of every moment exactly")
  }

  test("a FULLY-retracted group is dropped, not an ANSI " +
      "division-by-zero: the zero-count row's derived stats evaluate " +
      "before mergeUpsert's filter can remove it") {
    val oneStatus = $"l_returnflag" === "R"
    val ins = AggStore.partialBatch(li, groupCols, "l_extendedprice")
    val ret = AggStore.retractBatch(li.filter(oneStatus), groupCols,
      "l_extendedprice")
    val out = AggStore.mergeUpsert(ins.unionAll(ret), groupCols)
      .orderBy("l_returnflag", "l_linestatus").collect()
    assert(out.nonEmpty)
    assert(!out.exists(_.getString(0) == "R"),
      "the fully-retracted R groups must vanish from the merged store")
  }

  test("retraction store path: fenced write, netted read, replay no-op") {
    val dir = java.nio.file.Files.createTempDirectory("aggretract")
    try {
      val store = dir.resolve("store.parquet").toString
      val del = li.filter(pmod($"l_orderkey", lit(17)) === 3)
      AggStore.applyBatch(li, groupCols, "l_extendedprice", store, 0L)
      AggStore.applyRetraction(del, groupCols, "l_extendedprice", store, 1L)
      def readBack = AggStore.mergeUpsert(
          spark.read.parquet(store), groupCols)
        .orderBy("l_returnflag", "l_linestatus").collect().map(_.toSeq).toSeq
      val netted = readBack
      val survivorsOnly = AggStore.mergeUpsert(
          AggStore.partialBatch(li.filter(pmod($"l_orderkey", lit(17)) =!= 3),
            groupCols, "l_extendedprice"), groupCols)
        .orderBy("l_returnflag", "l_linestatus").collect().map(_.toSeq).toSeq
      assert(netted === survivorsOnly)
      // redeliver the retraction verbatim: its own partition is the fence
      AggStore.applyRetraction(del, groupCols, "l_extendedprice", store, 1L)
      assert(readBack === netted, "replayed retraction must not move answers")
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("re-score: one netted upsert batch moves a slice's contribution; " +
      "replay is a no-op") {
    val sliced = pmod($"l_orderkey", lit(17)) === 3
    val dir = java.nio.file.Files.createTempDirectory("aggrescore")
    try {
      val store = dir.resolve("store.parquet").toString
      AggStore.applyBatch(li, groupCols, "l_extendedprice", store, 0L)
      // the slice's prices double (a re-scoring of those rows)
      val oldRows = li.filter(sliced)
      val newRows = oldRows.withColumn("l_extendedprice",
        $"l_extendedprice" * 2.0)
      AggStore.applyRescore(oldRows, newRows, groupCols,
        "l_extendedprice", store, 1L)
      def readBack = AggStore.mergeUpsert(
          spark.read.parquet(store), groupCols)
        .orderBy("l_returnflag", "l_linestatus").collect().map(_.toSeq).toSeq
      val rescored = readBack
      // ground truth: one GROUP BY over the modified raw rows
      val modified = li.filter(!sliced).unionAll(newRows)
      val direct = AggStore.mergeUpsert(
          AggStore.partialBatch(modified, groupCols, "l_extendedprice"),
          groupCols)
        .orderBy("l_returnflag", "l_linestatus").collect().map(_.toSeq).toSeq
      assert(rescored.nonEmpty && rescored === direct,
        "the netted upsert must equal a GROUP BY over modified raw rows")
      AggStore.applyRescore(oldRows, newRows, groupCols,
        "l_extendedprice", store, 1L) // redelivery
      assert(readBack === rescored, "replayed upsert must not move answers")
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("as-of read: snapshot after batch k equals an aggregate over " +
      "batches 0..k's raw rows; as-of the last batch equals the full " +
      "merge; partition filter prunes the later batch directories") {
    val dir = java.nio.file.Files.createTempDirectory("aggasofspec")
    try {
      val store = dir.resolve("store").toString
      (0 until 5).foreach(b => AggStore.applyBatch(
        li.filter(pmod($"l_orderkey", lit(5)) === b),
        groupCols, "l_extendedprice", store, b.toLong))
      def direct(pred: org.apache.spark.sql.Column) =
        AggStore.mergePartials(
            AggStore.partialBatch(li.filter(pred), groupCols,
              "l_extendedprice"), groupCols)
          .orderBy("l_returnflag", "l_linestatus")
          .collect().map(_.toSeq).toSeq
      val asOf2 = AggStore.aggFromStoreAsOf(spark, store, groupCols, 2L)
        .orderBy("l_returnflag", "l_linestatus").collect().map(_.toSeq).toSeq
      assert(asOf2.nonEmpty &&
        asOf2 === direct(pmod($"l_orderkey", lit(5)) <= 2),
        "as-of 2 must see exactly batches 0-2's rows")
      val asOfLast = AggStore.aggFromStoreAsOf(spark, store, groupCols, 4L)
        .orderBy("l_returnflag", "l_linestatus").collect().map(_.toSeq).toSeq
      assert(asOfLast === AggStore.aggFromStore(spark, store, groupCols)
        .orderBy("l_returnflag", "l_linestatus").collect().map(_.toSeq).toSeq)
      // the snapshot must be partition pruning, not a filter over a
      // full-store scan: the batch_id predicate belongs in the scan's
      // PartitionFilters (later batch-3/4 directories never open)
      val plan = AggStore.aggFromStoreAsOf(spark, store, groupCols, 2L)
        .queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters") &&
        plan.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1")
          .contains("batch_id"),
        s"batch_id must appear in PartitionFilters, plan:\n$plan")
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("compaction: folding batches 0..2 into one partition preserves " +
      "every answer bit-for-bit, shrinks the store, keeps as-of >= " +
      "watermark intact, and re-running it is idempotent") {
    val dir = java.nio.file.Files.createTempDirectory("aggcompact")
    try {
      val store = dir.resolve("store").toString
      (0 until 5).foreach(b => AggStore.applyBatch(
        li.filter(pmod($"l_orderkey", lit(5)) === b),
        groupCols, "l_extendedprice", store, b.toLong))
      def full = AggStore.aggFromStore(spark, store, groupCols)
        .orderBy("l_returnflag", "l_linestatus").collect().map(_.toSeq).toSeq
      def asOf(k: Long) = AggStore.aggFromStoreAsOf(spark, store, groupCols, k)
        .orderBy("l_returnflag", "l_linestatus").collect().map(_.toSeq).toSeq
      def partitions = spark.read.parquet(store)
        .select("batch_id").distinct().as[Long].collect().toSet
      val fullBefore = full
      val asOf2Before = asOf(2L)
      val asOf3Before = asOf(3L)
      AggStore.compactThrough(spark, store, groupCols, 2L)
      assert(partitions === Set(2L, 3L, 4L), s"got $partitions")
      assert(full === fullBefore, "compaction must not move any answer")
      assert(asOf(2L) === asOf2Before,
        "as-of AT the compaction watermark must survive")
      assert(asOf(3L) === asOf3Before)
      // re-running after SUCCESS is a no-op (the fold of the folded
      // partition is itself); crash recovery between write and prune
      // is pruneThrough, exercised below
      AggStore.compactThrough(spark, store, groupCols, 2L)
      assert(partitions === Set(2L, 3L, 4L) && full === fullBefore)
      // prune is idempotent: deleting already-deleted partitions no-ops
      Stores.pruneThrough(new org.apache.hadoop.fs.Path(store)
        .getFileSystem(spark.sparkContext.hadoopConfiguration), store, 2L)
      assert(partitions === Set(2L, 3L, 4L) && full === fullBefore)
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("as-of below the compaction fold watermark fails LOUDLY naming " +
      "the retention trade; at/above the watermark unchanged; a " +
      "never-compacted store's pre-history as-of still reads (empty)") {
    val dir = java.nio.file.Files.createTempDirectory("aggwmark")
    try {
      val store = dir.resolve("store").toString
      (0 until 5).foreach(b => AggStore.applyBatch(
        li.filter(pmod($"l_orderkey", lit(5)) === b),
        groupCols, "l_extendedprice", store, b.toLong))
      def asOf(k: Long) = AggStore.aggFromStoreAsOf(spark, store, groupCols, k)
        .orderBy("l_returnflag", "l_linestatus").collect().map(_.toSeq).toSeq
      // never compacted: an as-of BEFORE history began reads empty —
      // that emptiness is true, not a fold artifact, so no guard fires
      assert(AggStore.aggFromStoreAsOf(spark, store, groupCols, -1L)
        .collect().isEmpty)
      val asOf2Before = asOf(2L)
      AggStore.compactThrough(spark, store, groupCols, 2L)
      // below the watermark: the distinguishing partials are GONE and
      // the filter would serve an empty view — must refuse, naming it
      val e = intercept[IllegalArgumentException](asOf(1L))
      assert(e.getMessage.contains("fold watermark 2") &&
        e.getMessage.contains("no longer derivable"), e.getMessage)
      // at/above: unchanged bit-for-bit
      assert(asOf(2L) === asOf2Before)
      // the diff window's LOWER bound carries the same obligation: a
      // window opening below the fold would leak folded history in
      val e2 = intercept[IllegalArgumentException](
        AggStore.aggFromStoreBetween(spark, store, groupCols, 1L, 4L))
      assert(e2.getMessage.contains("fold watermark"), e2.getMessage)
      // fromBatch == watermark excludes the fold partition exactly
      val w24 = AggStore.aggFromStoreBetween(spark, store, groupCols, 2L, 4L)
        .orderBy("l_returnflag", "l_linestatus").collect().map(_.toSeq).toSeq
      val direct = AggStore.mergePartials(
          AggStore.partialBatch(
            li.filter(pmod($"l_orderkey", lit(5)).isin(3, 4)),
            groupCols, "l_extendedprice"), groupCols)
        .orderBy("l_returnflag", "l_linestatus").collect().map(_.toSeq).toSeq
      assert(w24 === direct)
      // a LATER compaction only RAISES the watermark (monotonic max)
      AggStore.compactThrough(spark, store, groupCols, 3L)
      val e3 = intercept[IllegalArgumentException](asOf(2L))
      assert(e3.getMessage.contains("fold watermark 3"), e3.getMessage)
      assert(asOf(3L).nonEmpty && asOf(4L).nonEmpty)
      // the INGEST side of the same horizon: re-ingesting at or below
      // the watermark would resurrect a pruned partition (or clobber
      // the fold at ==) — refused; above it, ingest proceeds
      val e4 = intercept[IllegalArgumentException](AggStore.applyBatch(
        li.limit(10), groupCols, "l_extendedprice", store, 3L))
      assert(e4.getMessage.contains("replay horizon"), e4.getMessage)
      intercept[IllegalArgumentException](AggStore.applyBatch(
        li.limit(10), groupCols, "l_extendedprice", store, 1L))
      AggStore.applyBatch(li.limit(10), groupCols, "l_extendedprice",
        store, 5L)
      assert(asOf(5L).nonEmpty)
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("diff read: batches (k1, k2] equal a direct aggregate over that " +
      "window's raw rows; asof n_rows/sums + diff n_rows/sums = full") {
    val dir = java.nio.file.Files.createTempDirectory("aggdiffspec")
    try {
      val store = dir.resolve("store").toString
      (0 until 5).foreach(b => AggStore.applyBatch(
        li.filter(pmod($"l_orderkey", lit(5)) === b),
        groupCols, "l_extendedprice", store, b.toLong))
      val diff = AggStore.aggFromStoreBetween(spark, store, groupCols, 2L, 4L)
        .orderBy("l_returnflag", "l_linestatus").collect().map(_.toSeq).toSeq
      val direct = AggStore.mergePartials(
          AggStore.partialBatch(
            li.filter(pmod($"l_orderkey", lit(5)).isin(3, 4)),
            groupCols, "l_extendedprice"), groupCols)
        .orderBy("l_returnflag", "l_linestatus").collect().map(_.toSeq).toSeq
      assert(diff.nonEmpty && diff === direct)
      // additivity: snapshot + window = full history on count and sum
      // (extrema are within-window, not additive — excluded)
      def nsSums(rows: Seq[Seq[Any]]) = rows.map(r =>
        (r(0), r(1)) -> (r(2).asInstanceOf[Long],
          BigDecimal(r(3).asInstanceOf[Double]))).toMap
      val asOf2 = nsSums(AggStore.aggFromStoreAsOf(spark, store, groupCols, 2L)
        .orderBy("l_returnflag", "l_linestatus").collect().map(_.toSeq).toSeq)
      val w = nsSums(diff)
      val full = nsSums(AggStore.aggFromStore(spark, store, groupCols)
        .orderBy("l_returnflag", "l_linestatus").collect().map(_.toSeq).toSeq)
      full.foreach { case (k, (n, s)) =>
        assert(asOf2(k)._1 + w(k)._1 === n)
        assert((asOf2(k)._2 + w(k)._2 - s).abs < BigDecimal("0.005"))
      }
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("as-of straddling a retraction: the pre-deletion snapshot still " +
      "shows the deleted slice; the post-deletion snapshot nets it out") {
    val dir = java.nio.file.Files.createTempDirectory("aggasofret")
    try {
      val store = dir.resolve("store").toString
      val del = pmod($"l_orderkey", lit(17)) === 3
      AggStore.applyBatch(li, groupCols, "l_extendedprice", store, 0L)
      AggStore.applyRetraction(li.filter(del), groupCols,
        "l_extendedprice", store, 1L)
      def up(asOf: Long) = AggStore.mergeUpsert(
          spark.read.parquet(store).filter($"batch_id" <= asOf), groupCols)
        .orderBy("l_returnflag", "l_linestatus").collect().map(_.toSeq).toSeq
      val pre = up(0L)
      val post = up(1L)
      val all = AggStore.mergeUpsert(
          AggStore.partialBatch(li, groupCols, "l_extendedprice"), groupCols)
        .orderBy("l_returnflag", "l_linestatus").collect().map(_.toSeq).toSeq
      val survivors = AggStore.mergeUpsert(
          AggStore.partialBatch(li.filter(!del), groupCols,
            "l_extendedprice"), groupCols)
        .orderBy("l_returnflag", "l_linestatus").collect().map(_.toSeq).toSeq
      assert(pre === all, "as-of 0 must reproduce the pre-deletion answers")
      assert(post === survivors, "as-of 1 must net the retraction out")
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("streaming ingest lands the same store as the batch loop") {
    val dir = java.nio.file.Files.createTempDirectory("aggstream")
    try {
      val store = dir.resolve("store.parquet").toString
      val rows = li.select("l_orderkey", "l_returnflag", "l_linestatus",
          "l_extendedprice")
        .as[(Long, String, String, Double)].collect()
      implicit val sqlCtx = spark.sqlContext
      val stream = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, String, String, Double)]
      val q = AggStore.aggIngestStream(
          stream.toDF.toDF("l_orderkey", "l_returnflag", "l_linestatus",
            "l_extendedprice"),
          groupCols, "l_extendedprice", store)
        .option("checkpointLocation", dir.resolve("ckpt").toString)
        .start()
      stream.addData(rows.filter(_._1 % 2 == 0).toIndexedSeq)
      q.processAllAvailable()
      stream.addData(rows.filter(_._1 % 2 == 1).toIndexedSeq)
      q.processAllAvailable()
      q.stop()
      val streamed = AggStore.aggFromStore(spark, store, groupCols)
        .orderBy("l_returnflag", "l_linestatus").collect().map(_.toSeq).toSeq
      assert(streamed === monolithic,
        "streamed store must answer identically to the raw aggregate")
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }
}
