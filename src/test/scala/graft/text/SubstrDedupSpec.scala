package graft.text

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SubstrDedupSpec extends SparkSpec {
  import spark.implicits._

  private def words(prefix: String, n: Int): String =
    (0 until n).map(i => s"$prefix$i").mkString(" ")

  test("q73: repeated passage marks every non-first occurrence, merged to one span") {
    // doc 0: 30 unique tokens containing a 25-token passage P (tokens
    // 3..27); doc 1: different lead-in, then P verbatim. With w=20,
    // doc 1's redundant windows are exactly those fully inside its copy
    // of P → one merged span covering P's 25 tokens. doc 0 owns the
    // first occurrence and reports zero duplication.
    val p = words("p", 25)
    val doc0 = s"${words("a", 3)} $p ${words("z", 2)}"   // 30 tokens
    val doc1 = s"${words("b", 5)} $p"                    // 30 tokens
    val doc2 = words("u", 30)                            // unique
    val doc3 = "tiny doc below window width"             // < w tokens
    val docs = Seq(
      (0L, doc0, "en", "src", 1L), (1L, doc1, "en", "src", 1L),
      (2L, doc2, "en", "src", 1L), (3L, doc3, "en", "src", 1L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("substr").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SubstrDedup.q73SubstrDedup(spark, dir)
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(out(0) === ((0L, 30L, 0L, 0L, 0L)), "first occurrence owns P")
    // doc 1: P occupies positions 6..30; its 6 fully-inside windows
    // (starts 6..11) merge into one span [6, 30] = 25 tokens
    assert(out(1) === ((1L, 30L, 1L, 25L, 10000L * 25 / 30)))
    assert(out(2) === ((2L, 30L, 0L, 0L, 0L)), "unique doc is untouched")
    assert(out(3) === ((3L, 5L, 0L, 0L, 0L)), "sub-window doc is untouched")
  }

  test("q73: within-document repetition dedups against the doc's own first copy") {
    // one doc = Q Q (Q is 20 tokens): the second copy's windows are
    // redundant against the first; boundary-straddling windows are
    // unique, so the merged span is exactly the second Q — catching
    // self-repetition is part of the Lee et al. semantics
    val q = words("q", 20)
    val docs = Seq((0L, s"$q $q", "en", "src", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("substr-self").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val row = SubstrDedup.q73SubstrDedup(spark, dir).head()
    assert(row.getAs[Long]("n_tokens") === 40L)
    assert(row.getAs[Long]("n_dup_spans") === 1L)
    assert(row.getAs[Long]("n_dup_tokens") === 20L)
    assert(row.getAs[Long]("dup_bp") === 5000L)
  }

  test("q73: adjacent duplicated passages merge into one maximal span") {
    // docs 0/1 own passages A and B (20 tokens each); doc 2 = A B
    // back-to-back. doc 2's redundant windows are exactly A (start 1,
    // covering [1,20]) and B (start 21, covering [21,40]) — the 19
    // seam-straddling windows are first-seen in doc 2, hence unique.
    // Islands: start 21 ≤ end(20) + 1 glues the two runs → ONE maximal
    // span of 40 tokens, exactly the Lee et al. maximal-match shape.
    val a = words("aa", 20); val b = words("bb", 20)
    val docs = Seq(
      (0L, a, "en", "s", 1L), (1L, b, "en", "s", 1L),
      (2L, s"$a $b", "en", "s", 1L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("substr-adj").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SubstrDedup.q73SubstrDedup(spark, dir)
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(out(2) === ((2L, 40L, 1L, 40L, 10000L)),
      s"adjacent spans must merge: ${out.mkString(", ")}")
  }

  test("q76: cuts exactly the duplicated spans; full duplicates collapse to empty") {
    val p = words("p", 25)
    val doc0 = s"${words("a", 3)} $p ${words("z", 2)}"   // owns P
    val doc1 = s"${words("b", 5)} $p"                    // P is cut
    val doc2 = doc0                                      // verbatim dup of doc0
    val docs = Seq(
      (0L, doc0, "en", "s", 1L), (1L, doc1, "en", "s", 1L),
      (2L, doc2, "en", "s", 1L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("substr-cut").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SubstrDedup.q76SubstrCut(spark, dir)
      .as[(Long, Long, Long, String)].collect().sortBy(_._1)
    assert(out(0) === ((0L, 30L, 30L, doc0)), "first occurrence is untouched")
    assert(out(1) === ((1L, 30L, 5L, words("b", 5))),
      "doc 1 keeps only its lead-in")
    assert(out(2) === ((2L, 30L, 0L, "")),
      "a verbatim duplicate collapses to the empty string")
  }

  test("q76 conserves q73's accounting: kept = total − duplicated, corpus-wide") {
    val audit = SubstrDedup.q73SubstrDedup(spark, sf0001)
      .select("doc_id", "n_tokens", "n_dup_tokens")
    val cut = SubstrDedup.q76SubstrCut(spark, sf0001)
      .select("doc_id", "n_tokens_kept")
    val bad = audit.join(cut, "doc_id")
      .filter($"n_tokens_kept" =!= $"n_tokens" - $"n_dup_tokens")
    assert(bad.count() === 0,
      s"cut/audit mismatch: ${bad.limit(5).collect().mkString(", ")}")
  }

  test("q79: store hits and batch-internal firsts both judged at ingest") {
    val p = words("p", 25); val q = words("q", 25)
    val corpus = Seq((0L, s"${words("a", 5)} $p", "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val batch = Seq(
      (10L, s"${words("b", 5)} $p", "en", "s", 1L), // P hits the store
      (11L, s"${words("c", 5)} $q", "en", "s", 1L), // Q first seen here
      (12L, s"${words("d", 5)} $q", "en", "s", 1L)  // Q redundant in-batch
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = SubstrDedup.substrDedupIncremental(batch, corpus)
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(out(0) === ((10L, 30L, 1L, 25L, 10000L * 25 / 30)),
      "store hit marks the copied passage")
    assert(out(1) === ((11L, 30L, 0L, 0L, 0L)),
      "batch-internal first occurrence is clean")
    assert(out(2) === ((12L, 30L, 1L, 25L, 10000L * 25 / 30)),
      "batch-internal repeat is redundant")
    assert(out.length === 3, "corpus docs are judged elsewhere, not here")
  }

  test("q79: incremental equals the full run restricted to the batch") {
    val docs = graft.Tables.documents(spark, sf0001)
    val cut = docs.count() * 4 / 5
    val inc = SubstrDedup.substrDedupIncremental(
      docs.filter($"doc_id" >= cut), docs.filter($"doc_id" < cut))
      .collect().map(_.toSeq)
    val full = SubstrDedup.q73SubstrDedup(spark, sf0001)
      .filter($"doc_id" >= cut).collect().map(_.toSeq)
    assert(inc.nonEmpty && inc.toSeq === full.toSeq,
      "ingest path must reproduce the full corpus-wide verdicts")
  }

  test("q79: persisted gram store reproduces the direct path, appends accumulate") {
    val docs = graft.Tables.documents(spark, sf0001)
    val cut = docs.count() * 4 / 5
    val corpus = docs.filter($"doc_id" < cut)
    val batch = docs.filter($"doc_id" >= cut)
    val store = java.nio.file.Files.createTempDirectory("gramstore")
      .resolve("store.parquet").toString
    SubstrDedup.writeGramStore(corpus, store)
    val stored = SubstrDedup.substrDedupIncrementalStored(batch, store)
      .collect().map(_.toSeq)
    val direct = SubstrDedup.substrDedupIncremental(batch, corpus)
      .collect().map(_.toSeq)
    assert(stored.toSeq === direct.toSeq)
    // append the batch itself: a re-delivered copy of the batch is now
    // fully redundant against the store — the accumulate contract
    SubstrDedup.writeGramStore(batch, store)
    val redelivered = SubstrDedup.substrDedupIncrementalStored(
      batch.filter(length($"text") > 0), store)
    assert(redelivered.filter($"n_tokens" >= 20 && $"dup_bp" =!= 10000).count() === 0,
      "every grammable re-delivered doc must be fully duplicated now")
  }

  test("q79: a hex-key (old-build) gram store fails loudly, not silently fresh") {
    val store = java.nio.file.Files.createTempDirectory("gramstore-hex")
      .resolve("store.parquet").toString
    Seq("d4f1f56ef9361ff00112233445566778").toDF("h")
      .write.parquet(store)
    val batch = Seq((0L, words("a", 25), "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val e = intercept[IllegalArgumentException] {
      SubstrDedup.substrDedupIncrementalStored(batch, store)
    }
    assert(e.getMessage.contains("rebuild"),
      s"expected the rebuild-the-store lineage message, got: ${e.getMessage}")
  }

  test("q73: corpus run has real signal and conserves bounds") {
    val out = SubstrDedup.q73SubstrDedup(spark, sf0001).cache()
    val n = graft.Tables.documents(spark, sf0001).count()
    assert(out.count() === n, "one row per document")
    // coverage can never exceed the doc
    assert(out.filter($"n_dup_tokens" > $"n_tokens").count() === 0)
    assert(out.filter($"dup_bp" > 10000).count() === 0)
    // spans are ≥ w tokens by construction (each island holds ≥1 window)
    assert(out.filter($"n_dup_spans" > 0 && $"n_dup_tokens" < 20).count() === 0)
    // the synthetic corpus carries planted near-dups → nonzero signal
    assert(out.filter($"n_dup_spans" > 0).count() > 0,
      "expected duplicated substrings in the test corpus")
    out.unpersist()
  }

  test("q73: the winners-join sort-merge fallback is semantics-preserving") {
    // the redundancy join's build side (duplicated-gram winners) is
    // broadcast in typical corpora but falls back to sort-merge when
    // the dup set is genuinely huge (observed at the 50x scale probe:
    // AQE-final plan takes SMJ at ~31M gram rows). Pin the fallback
    // branch: with broadcast disabled the join must plan as SMJ and
    // produce BIT-IDENTICAL output to the default plan.
    val default = SubstrDedup.q73SubstrDedup(spark, sf0001)
      .collect().map(_.toSeq)
    val conf = spark.conf
    val saved = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
      .map(k => k -> conf.getOption(k))
    try {
      saved.foreach { case (k, _) => conf.set(k, "-1") }
      spark.catalog.clearCache() // drop plans cached under the old conf
      val df = SubstrDedup.q73SubstrDedup(spark, sf0001)
      val forced = df.collect().map(_.toSeq)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"),
        s"broadcast disabled must surface the SMJ fallback:\n$plan")
      assert(!plan.contains("BroadcastHashJoin"),
        "no broadcast join may survive threshold -1")
      assert(forced.toSeq === default.toSeq,
        "the SMJ fallback must reproduce the broadcast plan's rows")
    } finally {
      saved.foreach {
        case (k, Some(v)) => conf.set(k, v)
        case (k, None) => conf.unset(k)
      }
      spark.catalog.clearCache()
    }
  }

  test("counted store: delete(docs) judges identically to a store " +
      "that never held them") {
    val docs = graft.Tables.documents(spark, sf0001)
    val cut = docs.count() * 4 / 5
    val corpus = docs.filter($"doc_id" < cut)
    val deleted = corpus.filter(pmod($"doc_id", lit(7)) === 3)
    val batch = docs.filter($"doc_id" >= cut)
    val dir = java.nio.file.Files.createTempDirectory("gramcnt")
    try {
      val full = s"$dir/full.parquet"
      val survivors = s"$dir/survivors.parquet"
      SubstrDedup.writeGramStoreCounted(corpus, full, batchId = 0L)
      SubstrDedup.deleteFromGramStoreCounted(deleted, full, batchId = -1L)
      SubstrDedup.writeGramStoreCounted(
        corpus.filter(pmod($"doc_id", lit(7)) =!= 3), survivors, 0L)
      def judge(p: String) = SubstrDedup
        .substrDedupIncrementalStoredCounted(batch, p)
        .collect().map(_.toSeq).toSeq
      val afterDelete = judge(full)
      assert(afterDelete.nonEmpty && afterDelete === judge(survivors),
        "write+delete must equal write-without-deleted bit-for-bit")
      // replayed delete batch: its own partition is the fence
      SubstrDedup.deleteFromGramStoreCounted(deleted, full, batchId = -1L)
      assert(judge(full) === afterDelete,
        "replayed delete must not move answers")
      // compact folds the net counts in without changing any answer
      SubstrDedup.compactGramStoreCounted(spark, full)
      assert(judge(full) === afterDelete,
        "compact must not change any answer")
      val batches = spark.read.parquet(full)
        .select($"batch_id".cast("long")).distinct()
        .collect().map(_.getLong(0)).toSeq
      assert(batches === Seq(Long.MinValue),
        "compact must leave one folded batch in the reserved partition")
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("counted store compaction is crash-safe and horizon-enforced: " +
      "an interrupted swap recovers to the FULL old store, the lineage " +
      "marker survives the fold, deletion ids must be negative, and a " +
      "folded ingest id refuses redelivery") {
    val docs = graft.Tables.documents(spark, sf0001)
    val corpus = docs.filter($"doc_id" < 100)
    val dir = java.nio.file.Files.createTempDirectory("gramcntsafe")
    try {
      val path = s"$dir/grams.parquet"
      SubstrDedup.writeGramStoreCounted(corpus, path, 0L)
      SubstrDedup.writeGramStoreCounted(
        docs.filter($"doc_id" >= 100 && $"doc_id" < 200), path, 1L)
      // a streaming lineage marker (as the counted ingest stream binds)
      val fsP = new org.apache.hadoop.fs.Path(path)
      val fs = fsP.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val mk = new org.apache.hadoop.fs.Path(fsP, "_lineage")
      val out = fs.create(mk, true)
      out.write("lin-A".getBytes("UTF-8")); out.close()
      def live() = SubstrDedup.liveGrams(spark, path)
        .collect().map(_.getLong(0)).toSet
      val before = live()
      // ids are two-sided: positive deletes and negative ingests refuse
      intercept[IllegalArgumentException](
        SubstrDedup.deleteFromGramStoreCounted(corpus, path, 2L))
      intercept[IllegalArgumentException](
        SubstrDedup.writeGramStoreCounted(corpus, path, -3L))
      SubstrDedup.compactGramStoreCounted(spark, path)
      assert(live() === before, "compaction must not move the gram set")
      // the lineage fence SURVIVES the root swap
      assert(fs.exists(mk))
      val in = fs.open(mk)
      val lin = try scala.io.Source.fromInputStream(in, "UTF-8")
        .mkString.trim finally in.close()
      assert(lin === "lin-A")
      // the replay horizon is enforced: folded ingest ids refuse, a
      // fresh id above the watermark lands
      val e = intercept[IllegalArgumentException](
        SubstrDedup.writeGramStoreCounted(
          docs.filter($"doc_id" >= 200 && $"doc_id" < 210), path, 1L))
      assert(e.getMessage.contains("replay horizon"), e.getMessage)
      SubstrDedup.writeGramStoreCounted(
        docs.filter($"doc_id" >= 200 && $"doc_id" < 210), path, 2L)
      // a replayed DELETE after compaction stays safe WITHOUT the
      // horizon guard: the ledger fences it to an empty negation
      SubstrDedup.deleteFromGramStoreCounted(
        corpus.filter($"doc_id" === 1L), path, -9L)
      val afterDel = live()
      SubstrDedup.deleteFromGramStoreCounted(
        corpus.filter($"doc_id" === 1L), path, -9L)
      assert(live() === afterDel)
      // interrupted swap: the one store-absent window (between the two
      // renames) recovers to the complete old root on ANY entry
      val old = new org.apache.hadoop.fs.Path(s"${path}.precompact")
      require(fs.rename(fsP, old))
      assert(live() === afterDel,
        "a reader inside the swap window must recover the old root")
      assert(fs.exists(fsP) && !fs.exists(old))
      // RE-compaction with no surviving non-negative partitions (the
      // idempotent re-run: only the fold's reserved partition stands)
      // must CARRY the old watermark across the swap — before r18 the
      // fresh root lost the marker, silently disarming the replay
      // horizon and re-admitting a folded ingest id to double-count
      SubstrDedup.compactGramStoreCounted(spark, path)
      val e2 = intercept[IllegalArgumentException](
        SubstrDedup.writeGramStoreCounted(
          docs.filter($"doc_id" >= 210 && $"doc_id" < 220), path, 2L))
      assert(e2.getMessage.contains("replay horizon"), e2.getMessage)
      // ...and the same after a compact-after-deletions pass
      // (deletions write only negative ids)
      SubstrDedup.deleteFromGramStoreCounted(
        corpus.filter($"doc_id" === 2L), path, -10L)
      SubstrDedup.compactGramStoreCounted(spark, path)
      intercept[IllegalArgumentException](
        SubstrDedup.writeGramStoreCounted(
          docs.filter($"doc_id" >= 210 && $"doc_id" < 220), path, 2L))
      // a fresh id above the horizon still lands
      SubstrDedup.writeGramStoreCounted(
        docs.filter($"doc_id" >= 210 && $"doc_id" < 220), path, 3L)
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("counted store: a gram shared with a survivor stays; a " +
      "sole-owner gram is forgotten") {
    // corpus: doc 0 and doc 1 both contain passage P (so P's grams have
    // refcount 2); doc 1 alone contains Q. Delete doc 1: P must still
    // suppress a future copy (doc 0 survives), Q must not.
    val p = words("p", 20)
    val q = words("q", 20)
    val corpus = Seq(
      (0L, s"${words("a", 2)} $p", "en", "s", 1L),
      (1L, s"$p ${words("b", 3)} $q", "en", "s", 1L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    // batch: doc 10 = fresh lead-in + P, doc 11 = fresh lead-in + Q
    val batch = Seq(
      (10L, s"${words("c", 5)} $p", "en", "s", 1L),
      (11L, s"${words("d", 5)} $q", "en", "s", 1L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("gramcnt2")
    try {
      val path = s"$dir/grams.parquet"
      SubstrDedup.writeGramStoreCounted(corpus, path, 0L)
      SubstrDedup.deleteFromGramStoreCounted(
        corpus.filter($"doc_id" === 1L), path, -1L)
      def judge() = SubstrDedup
        .substrDedupIncrementalStoredCounted(batch, path)
        .select("doc_id", "n_dup_tokens")
        .as[(Long, Long)].collect().toMap
      val out = judge()
      assert(out(10L) === 20L,
        "P is still held by surviving doc 0 — the batch copy stays dup")
      assert(out(11L) === 0L,
        "Q's only holder was deleted — the batch copy must be fresh")
      // duplicate GDPR request under a FRESH batch id: the ledger must
      // absorb it — a second subtraction would net the survivor-shared
      // P to zero and silently stop suppressing doc 0's passage
      SubstrDedup.deleteFromGramStoreCounted(
        corpus.filter($"doc_id" === 1L), path, -2L)
      assert(judge() === out,
        "a duplicate delete request must not subtract twice")
      // deletes are PERMANENT: re-ingesting the deleted doc id is
      // excluded by the ledger, so Q stays forgotten
      SubstrDedup.writeGramStoreCounted(
        corpus.filter($"doc_id" === 1L), path, 3L)
      assert(judge() === out,
        "a deleted doc id must never re-enter the store")
      // DELETE-BEFORE-ARRIVAL must not subtract: doc 99 shares passage
      // P but never contributed counts — tombstoning it (with its
      // text, as GDPR requests arrive) must bar its future arrival
      // WITHOUT netting P's survivor-held refcount toward zero
      val preDeleted = Seq(
        (99L, s"${words("e", 4)} $p", "en", "s", 1L)
      ).toDF("doc_id", "text", "lang", "source", "n_chars")
      SubstrDedup.deleteFromGramStoreCounted(preDeleted, path, -4L)
      assert(judge() === out,
        "deleting a never-ingested doc must not subtract its grams")
      SubstrDedup.writeGramStoreCounted(preDeleted, path, 5L)
      assert(judge() === out,
        "the pre-deleted doc must still be barred from arriving")
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }
}
