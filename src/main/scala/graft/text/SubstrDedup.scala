package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._

/** Substring-level cross-document dedup — the ExactSubstr shape of
  * Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
  * Better"), re-expressed for Spark. Their suffix-array pass marks every
  * character span that recurs verbatim anywhere in the corpus; a suffix
  * array is a single-machine structure, so the distributed re-expression
  * fingerprints every overlapping `w`-token window (stride 1) and marks
  * a window redundant when it is not the corpus-wide first occurrence of
  * its fingerprint. Adjacent/overlapping redundant windows then merge
  * into maximal duplicated SPANS per document (gaps-and-islands), and
  * the operator reports per-document duplicated-substring coverage —
  * the audit a training pipeline runs before deciding to cut spans.
  *
  * Generalizes the reference's only dedup gesture
  * (`/root/reference/src/voice_classifier.py:104`, survey C2) from
  * whole-row to substring granularity, complementing q68's
  * non-overlapping chunk dedup (CCNet-style) with the stride-1 form
  * that catches duplicated passages at ANY offset.
  *
  * Scale shape (the 100 TB story):
  *  - the gram explosion is ~1 row per corpus token — the honest cost
  *    of substring-granular dedup (Lee et al. pay the same O(n) in
  *    suffix-array space). The exploded rows carry (doc_id, start, 8B
  *    md5) — the kilobyte gram strings are hashed NARROWLY, before any
  *    exchange, and never shuffle.
  *  - first-occurrence winners via `min(struct(doc_id, start))` per
  *    hash — map-side partial aggregation, so a boilerplate gram
  *    repeated millions of times collapses per map partition before the
  *    exchange (same skew-proof shape as q68, plan-guarded there).
  *  - redundancy test = join grams⋈winners on the hash, with winners
  *    pre-filtered to hashes seen MORE than once (singletons can't
  *    yield redundant rows). That build side is overlap-sized, not
  *    corpus-sized — AQE broadcasts it in typical corpora (measured
  *    −27% at the 10× probe), falling back to a sort-merge join when
  *    the dup set is genuinely huge; either way a hot key pairs
  *    millions of gram rows with exactly ONE winner row — AQE's skew
  *    split handles that, where a window-rank formulation would funnel
  *    the hot hash into one un-splittable window task instead.
  *  - span merging windows are partitioned by doc_id — bounded by one
  *    document's grams, never corpus-scale.
  *  - md5 keeps the oracle shared (DuckDB computes the same digest over
  *    the same strings, so any engine disagreement fails the driver
  *    hash loudly), and the key that actually SHUFFLES is its first 60
  *    bits as a LONG (see [[gramsOf]]) — the 8-byte-key regime md5's
  *    full hex form would otherwise cost 5× more bytes to reach.
  *
  * Output: per doc — token count, merged duplicated-span count,
  * duplicated-token count, and coverage in basis points (integer
  * `DIV`, exact in both engines — no float rounding at the hash gate).
  */
object SubstrDedup {

  /** Whitespace tokens with empties dropped: (doc_id, t). */
  private def toksOf(docs: DataFrame): DataFrame = {
    val toksCol = filter(split(col("text"), "\\s+"), t => length(t) > 0)
    docs.select(col("doc_id"), toksCol.as("t"))
  }

  /** Stride-1 w-gram fingerprints: (doc_id, start, h).
    *
    * `h` is the first 60 bits of the gram's md5 as a LONG — an 8-byte
    * shuffle key where the full hex digest is a 32-char string (~48 B
    * as UTF8String): the winners aggregate and the redundancy join both
    * key on `h`, so the truncation narrows every exchange in the family
    * by ~5× for free (md5 is computed identically in both engines;
    * `conv(hex,16,10)` here ≡ `('0x'||hex)::BIGINT` in the oracle, and
    * 15 hex chars = 60 bits keeps the unsigned value inside BIGINT).
    * Collision cost: 60-bit birthday at 1e12 distinct grams (~100 TB)
    * is ~4e5 false-redundant GRAM rows — relative error ~1e-6 on span
    * coverage, noise for the audit; widen back to the full digest if an
    * application needs exact spans.
    */
  private def gramsOf(toks: DataFrame, w: Int): DataFrame = {
    val s = toks.sparkSession
    import s.implicits._
    // Typed MD5 kernel (r19, guide §1.2 per-task work): the expression
    // form (explode(sequence) → slice → array_join → md5 → hex →
    // substring → conv) allocated, PER GRAM, a w-token array, a joined
    // UTF8String, a 32-char hex string, and a conv parse. Here each
    // token is UTF-8-encoded ONCE per document and the digest is fed
    // incrementally (token bytes + single space), and the 60-bit key is
    // read straight off the first 8 digest bytes: big-endian u64 >>> 4
    // ≡ ('0x' || first 15 hex chars)::BIGINT — the identical value, so
    // the shared DuckDB oracle is untouched (verified bit-for-bit by
    // the q73/q76/q79/q81/nq_gram_delete hash rows). Measured −20% on
    // q73 and −15% on q79 at sf0.1 (flat calibrator).
    toks.as[(Long, Array[String])]
      .flatMap { case (id, t) =>
        if (t == null || t.length < w) Iterator.empty
        else {
          val md = java.security.MessageDigest.getInstance("MD5")
          val enc = new Array[Array[Byte]](t.length)
          var i = 0
          while (i < t.length) {
            enc(i) = t(i).getBytes(java.nio.charset.StandardCharsets.UTF_8)
            i += 1
          }
          (0 to t.length - w).iterator.map { st =>
            md.reset()
            var j = st
            while (j < st + w) {
              md.update(enc(j))
              if (j < st + w - 1) md.update(' '.toByte)
              j += 1
            }
            val d = md.digest()
            var h = 0L
            var b = 0
            while (b < 8) { h = (h << 8) | (d(b) & 0xffL); b += 1 }
            (id, (st + 1).toLong, h >>> 4)
          }
        }
      }.toDF("doc_id", "start", "h")
  }

  /** Merge redundant windows (doc_id, start, end) into maximal spans
    * (doc_id, span, s, e) — the gaps-and-islands pass, windows bounded
    * by one document. */
  private def mergeSpans(redundant: DataFrame): DataFrame = {
    val byDoc = Window.partitionBy("doc_id").orderBy("start")
    redundant
      .withColumn("pm",
        max(col("end")).over(byDoc.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("fresh",
        when(col("pm").isNull || col("start") > col("pm") + 1, 1L)
          .otherwise(0L))
      .withColumn("span",
        sum(col("fresh")).over(byDoc.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("doc_id"), col("span"))
      .agg(min("start").as("s"), max("end").as("e"))
  }

  /** Maximal duplicated spans per document: (doc_id, s, e), 1-based
    * inclusive token positions. The grams→winners→redundant→islands
    * chain described in the object doc. */
  private def spansOf(toks: DataFrame, w: Int): DataFrame = {
    // cached: referenced by the winners aggregate AND the redundancy
    // join's probe side — without it the tokenize + explode + md5 pass
    // (the chain's dominant compute) runs twice (q25's shingle relation
    // sets the same precedent). The cached rows are the NARROW
    // (doc_id, start, h) triple, ~24 B/row — not the gram strings.
    // cache() here is lifecycle-safe because this is the BATCH path,
    // always invoked over the same source relation: the CacheManager
    // dedups by canonicalized plan, so repeated q73/q76 invocations
    // share ONE entry rather than accumulating (unlike the per-trigger
    // incremental path below, whose every batch is a fresh plan — that
    // one checkpoints instead).
    val grams = gramsOf(toks, w).cache()
    // (doc_id, start) is unique per gram row → the struct min is total.
    // Winners are restricted to hashes occurring MORE THAN ONCE: a
    // unique gram is trivially its own first occurrence and can never
    // yield a redundant row, so dropping singletons before the join
    // shrinks its build side from "every distinct gram" (corpus-scale)
    // to "distinct DUPLICATED grams" (overlap-scale) — small enough for
    // AQE to broadcast in typical corpora, which deletes the second
    // corpus-wide gram shuffle; when the dup set is genuinely huge AQE
    // falls back to the same sort-merge join as before. Output is
    // unchanged: singleton-hash gram rows used to pass the join and die
    // at the not-the-winner filter anyway.
    val winners = grams
      .groupBy("h")
      .agg(min(struct(col("doc_id"), col("start"))).as("win"),
        count(lit(1)).as("cnt"))
      .filter(col("cnt") > 1)
      .drop("cnt")
    val redundant = grams.join(winners, "h")
      .filter(col("doc_id") =!= col("win.doc_id") ||
        col("start") =!= col("win.start"))
      .select(col("doc_id"), col("start"),
        (col("start") + lit((w - 1).toLong)).as("end"))
    // gaps-and-islands: a window is glued to the running span while its
    // start is ≤ prev-max-end + 1 (adjacent token runs merge too)
    mergeSpans(redundant)
  }

  /** q73's per-document coverage report over any (toks, spans) pair. */
  private def coverage(toks: DataFrame, spans: DataFrame): DataFrame = {
    val perDoc = spans.groupBy("doc_id")
      .agg(count(lit(1)).as("n_dup_spans"),
        sum(col("e") - col("s") + 1).as("n_dup_tokens"))
    toks.select(col("doc_id"), size(col("t")).cast("long").as("n_tokens"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        coalesce(col("n_dup_tokens"), lit(0L)).as("n_dup_tokens"),
        when(col("n_tokens") > 0,
          expr("10000 * coalesce(n_dup_tokens, 0L) DIV n_tokens"))
          .otherwise(lit(0L)).as("dup_bp"))
      .orderBy("doc_id")
  }

  /** Duplicated-substring coverage per document (see object doc). */
  def q73SubstrDedup(s: SparkSession, d: String, w: Int = 20): DataFrame = {
    val toks = toksOf(documents(s, d))
    coverage(toks, spansOf(toks, w))
  }

  /** Ingest-time (incremental) substring dedup: judge a NEW batch of
    * documents against an already-ingested corpus WITHOUT re-scanning
    * the corpus text — the corpus side is its distinct gram-hash set
    * (the "gram store", persisted once at ingest exactly like
    * `NearDup`'s signature store). A batch gram is redundant iff its
    * hash is already in the store, or it is not the batch-internal
    * first occurrence. When batch doc_ids follow corpus doc_ids (the
    * ingest invariant: new docs get new ids), this equals the full
    * corpus-wide q73 restricted to the batch — spec-pinned, and the
    * q79 oracle re-proves it against the full-run SQL every round.
    *
    * Scale shape: per-trigger work is batch-sized (grams of the NEW
    * docs only) plus ONE hash semi-join against the store — the store
    * is corpus-token-scale but only its 8-byte keys ever move, and
    * the join is the only corpus-sized touch (no text re-scan, no
    * re-fingerprinting). Same incremental contract as
    * `NearDup.neardupIncremental`.
    */
  def substrDedupIncremental(batch: DataFrame, corpus: DataFrame,
      w: Int = 20): DataFrame =
    incrementalAgainst(batch, gramsOf(toksOf(corpus), w).select("h"), w)

  /** Persist the corpus's distinct gram hashes — fingerprint the corpus
    * text ONCE at ingest; every later batch judges against these 8-byte
    * keys without re-scanning corpus text (NearDup's signature-store
    * pattern at gram granularity). Append new batches' grams after
    * judging them to keep the store current. */
  def writeGramStore(corpus: DataFrame, path: String, w: Int = 20): Unit =
    gramsOf(toksOf(corpus), w).select("h").distinct()
      .write.mode("append").parquet(path)

  /** [[substrDedupIncremental]] against a persisted store — the real
    * ingest path: per-trigger cost is batch-sized gram work plus one
    * semi-join against the store's hash column. */
  def substrDedupIncrementalStored(batch: DataFrame, storePath: String,
      w: Int = 20): DataFrame = {
    val s = batch.sparkSession
    val store = s.read.parquet(storePath)
    // loud lineage failure, not silent wrong answers: a store written by
    // an older (hex-string-key) build would implicit-cast to NULL in the
    // semi-join and mark every batch gram "fresh"
    require(store.schema.fields.exists(f => f.name == "h" &&
      f.dataType == org.apache.spark.sql.types.LongType),
      s"gram store at $storePath has schema ${store.schema.simpleString}; " +
        "expected h BIGINT — rebuild it with writeGramStore (stores from " +
        "the hex-key build are not readable by this version)")
    incrementalAgainst(batch, store.select("h"), w)
  }

  // ---------------------------------------------- counted gram store
  // GDPR-capable variant (DESIGN_upsert.md's invertible class). The
  // plain store keeps only DISTINCT hashes, so it cannot forget a
  // document: a gram shared by a deleted and a surviving doc must stay,
  // and the store has no way to know. The counted store keeps (h, c) —
  // c = how many docs of the batch contain gram h — under the same
  // fenced batch_id partitions as every other store. A key-level
  // delete then appends the NEGATED counts of the deleted docs' grams
  // (computed from the deletion request's own text; the corpus is
  // never rescanned), and the judge reads the hashes with positive net
  // count: insert + delete of a doc nets to zero exactly, a gram also
  // held by survivors stays positive, and redelivered batches
  // overwrite their own partition (replay fence). Same additive
  // algebra as AggStore.retractBatch. The plain writeGramStore stays
  // the default for append-only pipelines — smaller rows, and its read
  // is a distinct rather than a group-sum.

  /** Per-batch gram refcounts: (h, c) with c = number of docs in
    * `docs` containing gram h — map-side-combinable counts over the
    * 8-byte keys, never the gram strings. */
  def gramRefcounts(docs: DataFrame, w: Int = 20): DataFrame =
    gramsOf(toksOf(docs), w).select("doc_id", "h").distinct()
      .groupBy("h").agg(count(lit(1)).as("c"))

  /** Ingest one batch of documents into the counted store. Docs on the
    * deletion ledger are EXCLUDED: a deleted doc id can never re-enter
    * the store (see [[deleteFromGramStoreCounted]] — deletes here are
    * permanent by contract, so a re-ingest must not resurrect counts
    * the ledger will refuse to subtract again). Ingest batch ids are
    * NON-NEGATIVE (the streaming checkpoint's space); deletions take
    * the negative ids — a shared space would let a redelivered trigger
    * dynamic-overwrite a deletion's negation partition and silently
    * resurrect the deleted docs' grams (the [[LmStore]] rule).
    *
    * DELETE-DURING-REPLAY CAVEAT (the clusterIngestStream convention):
    * the ledger filter makes a REDELIVERED batch diverge from its
    * original write when a deletion landed in the crash window — the
    * replay excludes the just-deleted doc while the deletion already
    * subtracted its counts from the ORIGINAL partition's content, so
    * grams the doc shared with batch-mates can net to 0 and their
    * duplicate suppression silently stops. Delete at quiesce (after
    * the stream's checkpoint committed), or follow an in-window delete
    * with [[compactGramStoreCounted]]'s maintenance pass AND a
    * re-fingerprint of the affected batch from retained raw input —
    * the erase-while-streaming contract every judged store here
    * carries. */
  def writeGramStoreCounted(corpus: DataFrame, path: String,
      batchId: Long, w: Int = 20): Unit = {
    require(batchId >= 0,
      s"ingest batch ids are non-negative (got $batchId); negative " +
        "ids are reserved for deletions")
    val admitted = graft.Checkpointing.truncate(graft.rel.Tombstones
      .deletedKeys(corpus.sparkSession, path) match {
      case Some(prior) => corpus.join(
        prior.withColumnRenamed("key", "doc_id"), Seq("doc_id"),
        "left_anti")
      case None => corpus
    }) // grammed AND recorded below — compute once
    // the replay-horizon guard (the counted algebra is additive: a
    // folded batch redelivered after compaction would recreate a
    // partition whose counts are already inside the fold — net
    // refcounts inflate silently). Deletion ids skip it: a replayed
    // delete is ledger-fenced to an empty negation instead.
    graft.rel.FoldWatermark.requireIngestAbove(corpus.sparkSession, path,
      batchId)
    graft.rel.Stores.writeBatch(gramRefcounts(admitted, w), path, batchId,
      singleFile = false)
    // membership ledger: the (h, c) aggregates cannot answer "did this
    // doc ever contribute?", and the delete path must not subtract
    // grams of a doc that never did (see deleteFromGramStoreCounted)
    graft.rel.Stores.writeBatch(
      admitted.select(col("doc_id").as("key")).distinct(),
      ingestedLogPath(path), batchId)
  }

  /** The membership ledger beside the counted store (which doc ids
    * actually contributed refcounts). */
  private def ingestedLogPath(path: String): String =
    path.stripSuffix("/") + "_ingested"

  /** Key-level delete: append the negated refcounts of the deleted
    * docs' grams (the deletion request carries the docs' text). After
    * this batch lands, a gram held ONLY by deleted docs nets to ≤ 0
    * and disappears from every subsequent judge.
    *
    * DUPLICATE-REQUEST GUARD: a second delete of an already-deleted
    * doc under a fresh batch id must not subtract again — it would net
    * survivor-shared grams to ≤ 0 and silently stop suppressing their
    * duplicates. The adjacent tombstone log is the ledger of every doc
    * ever deleted here; only first-time docs contribute negated
    * counts. Crash RETRIES must reuse the same batchId (the
    * engine-wide fence contract): the negation partition then
    * overwrites itself and the ledger write is idempotent. The ledger
    * deliberately survives [[compactGramStoreCounted]] — folded counts
    * are just as vulnerable to re-subtraction as raw ones.
    *
    * PERMANENCE: deletion here is forever — the ledger also bars the
    * doc id from re-entering via [[writeGramStoreCounted]], because a
    * ledger that must absorb duplicate requests cannot distinguish
    * them from a delete-after-re-ingest (one would be a no-op leak,
    * the other a double-subtract). The strict-GDPR reading is also the
    * only consistent one for this algebra; the IVF-PQ store's
    * "terminal within a compaction epoch" is the per-epoch analogue
    * for stores whose compact can truncate the log. */
  def deleteFromGramStoreCounted(deleted: DataFrame, path: String,
      batchId: Long, w: Int = 20): Unit = {
    require(batchId < 0,
      s"deletion batch ids are negative (got $batchId); the " +
        "non-negative space belongs to the ingest checkpoint — a " +
        "redelivered trigger sharing a deletion's id would " +
        "dynamic-overwrite the negation partition and silently " +
        "resurrect the deleted docs' grams (the LmStore rule)")
    require(batchId != Long.MinValue,
      "batch id Long.MinValue is reserved for the compaction fold " +
        "(a caller batch landing there would overwrite folded history)")
    val s = deleted.sparkSession
    val fresh = graft.Checkpointing.truncate(
        graft.rel.Tombstones.deletedKeys(s, path) match {
      case Some(prior) => deleted.join(
        prior.withColumnRenamed("key", "doc_id"), Seq("doc_id"),
        "left_anti")
      case None => deleted
    }) // negated AND recorded below — compute once
    // DELETE-BEFORE-ARRIVAL GUARD: subtract only docs on the
    // membership ledger — a doc tombstoned before it ever landed
    // contributed NO counts, and negating its grams anyway would net
    // survivor-shared grams toward ≤ 0, silently breaking their
    // duplicate suppression. The id still goes on the deletion
    // ledger below, barring the future arrival.
    // partition-gated (the TombstoneLog.readDir rule): a first batch
    // whose docs were all pre-tombstoned leaves a file-less ledger dir
    val contributed =
      if (!graft.rel.Tombstones.populated(s, ingestedLogPath(path)))
        fresh.limit(0)
      else fresh.join(s.read.parquet(ingestedLogPath(path))
        .select(col("key").as("doc_id")).distinct(), Seq("doc_id"))
    graft.rel.Stores.writeBatch(
      gramRefcounts(contributed, w)
        .select(col("h"), (-col("c")).as("c")),
      path, batchId, singleFile = false)
    graft.rel.Tombstones.applyDelete(fresh.select("doc_id"), "doc_id",
      path, batchId)
  }

  /** The live gram set: hashes whose refcounts net positive.
    * Partition-gated (the file-less-dir rule: a delete-before-any-
    * ingest leaves a _SUCCESS-only root whose bare read fails schema
    * inference — read it as "no grams"), and completes an interrupted
    * compaction swap first (the store is authoritative wherever it
    * stands). */
  def liveGrams(s: SparkSession, path: String): DataFrame = {
    graft.rel.Stores.recoverSwap(s, path)
    if (!graft.rel.Tombstones.populated(s, path))
      s.range(0).select(col("id").as("h"))
    else s.read.parquet(path).groupBy("h").agg(sum(col("c")).as("c"))
      .filter(col("c") > 0).select("h")
  }

  /** [[substrDedupIncrementalStored]] against the counted store. */
  def substrDedupIncrementalStoredCounted(batch: DataFrame,
      storePath: String, w: Int = 20): DataFrame =
    incrementalAgainst(batch,
      liveGrams(batch.sparkSession, storePath), w)

  /** Fold the net counts into one positive relation under the RESERVED
    * partition (ingest and delete reject it from callers, so no later
    * insert, delete, or streaming trigger can dynamic-overwrite folded
    * history). Read-before ≡ read-after (spec-pinned).
    *
    * Crash discipline — the root swap ([[graft.rel.Stores.swapDir]]),
    * not an in-place overwrite (Spark's whole-root overwrite deletes
    * the existing data before the job commits: a crash mid-write would
    * present an EMPTY store and silently admit every duplicate): the
    * fold writes COMPLETELY to the swap's tmp sibling — carrying over
    * the `_lineage` streaming fence marker, which a root swap would
    * otherwise silently disarm — before the root moves, and
    * [[graft.rel.Stores.recoverSwap]] finishes an interrupted swap
    * from any entry.
    *
    * REPLAY HORIZON, enforced: the fold records the largest folded
    * INGEST id as the [[graft.rel.FoldWatermark]] (written into the
    * tmp BEFORE the swap — no window without it), and
    * [[writeGramStoreCounted]] refuses ingest ids at or below it — a
    * redelivered folded batch would recreate counts already inside
    * the fold. Deletion ids stay unguarded (a replayed delete is
    * ledger-fenced to an empty negation). Run from the single
    * maintenance owner, quiesced, like every compaction here. */
  def compactGramStoreCounted(s: SparkSession, path: String): Unit = {
    val store = new org.apache.hadoop.fs.Path(path)
    val fs = store.getFileSystem(s.sparkContext.hadoopConfiguration)
    graft.rel.Stores.recoverSwap(fs, store)
    if (!graft.rel.Tombstones.populated(s, path)) return
    val maxIngest = graft.rel.Stores.batchIds(fs, path).filter(_ >= 0)
      .maxOption
    // materialize before any file moves
    val net = graft.Checkpointing.truncate(s.read.parquet(path)
      .groupBy("h").agg(sum(col("c")).as("c")).filter(col("c") > 0))
    graft.rel.Stores.swapDir(fs, store) { tmp =>
      graft.rel.Stores.writeBatch(net, tmp.toString, Long.MinValue,
        singleFile = false)
      // carry the streaming lineage fence across the swap
      val lineage = new org.apache.hadoop.fs.Path(store, "_lineage")
      if (fs.exists(lineage))
        org.apache.hadoop.fs.FileUtil.copy(fs, lineage, fs,
          new org.apache.hadoop.fs.Path(tmp, "_lineage"), false,
          s.sparkContext.hadoopConfiguration)
      // carry the OLD horizon across the swap too (like `_lineage`): a
      // re-compaction with no surviving non-negative partitions — an
      // idempotent re-run, or the prescribed compact-after-deletions
      // pass (deletions write only negative ids) — has maxIngest =
      // None, and writing nothing into tmp would let the root swap
      // silently disarm the replay-horizon guard, re-admitting a
      // redelivered pre-fold ingest batch to double-count its grams
      (graft.rel.FoldWatermark.read(fs, path) ++ maxIngest)
        .reduceOption(_ max _)
        .foreach(m => graft.rel.FoldWatermark.write(fs, tmp.toString, m))
    }
  }

  /** One batch's distinct gram hashes — the unit the streaming ingest
    * appends per trigger (`StreamingOps.substrIngestStream`). */
  private[graft] def batchGrams(docs: DataFrame, w: Int = 20): DataFrame =
    gramsOf(toksOf(docs), w).select("h").distinct()

  /** [[substrDedupIncremental]] against an explicit store relation of
    * gram hashes — the streaming ingest's judge step. */
  private[graft] def judgeAgainst(batch: DataFrame, storeH: DataFrame,
      w: Int = 20): DataFrame =
    incrementalAgainst(batch, storeH, w)

  private def incrementalAgainst(batch: DataFrame, store: DataFrame,
      w: Int): DataFrame = {
    val bToks  = toksOf(batch)
    // checkpointed for the same two-consumer reason as spansOf (store
    // join + batch-internal winners aggregate) — and NOT cache(), for
    // the same lifecycle reason: this runs once per streaming trigger,
    // and a cache() here would grow the CacheManager unboundedly
    val bGrams = graft.Checkpointing.truncate(gramsOf(bToks, w))
    val bWin = bGrams.groupBy("h")
      .agg(min(struct(col("doc_id"), col("start"))).as("win"))
    // redundant = (hash already in the store) ∪ (not the batch-internal
    // first occurrence). r19 (guide §2.3/§2.4): the store side probes
    // through a LEFT SEMI join — duplicate-proof for ANY store layout —
    // instead of the previous store.distinct() + marker left-join. That
    // distinct was a CORPUS-token-keyed exchange paid on every batch
    // judge, and for the persisted stores (q81's writeGramStore output,
    // liveGrams' positive-net aggregate) whose hash keys are already
    // unique it was a pure re-dedup tax. The union's dedup is keyed
    // (doc_id, start) and batch-redundant-row-sized. Semantics are
    // unchanged: a gram row lands in `redundant` under exactly the same
    // disjunction as before (the old left-join marker never duplicated
    // rows because both join sides were unique per h; the union-distinct
    // restores that uniqueness here).
    val inStore = bGrams.join(store.select("h"), Seq("h"), "left_semi")
      .select(col("doc_id"), col("start"))
    val notFirst = bGrams.join(bWin, "h")
      .filter(col("doc_id") =!= col("win.doc_id") ||
        col("start") =!= col("win.start"))
      .select(col("doc_id"), col("start"))
    val redundant = inStore.union(notFirst).distinct()
      .select(col("doc_id"), col("start"),
        (col("start") + lit((w - 1).toLong)).as("end"))
    coverage(bToks, mergeSpans(redundant))
  }

  /** Driver entry: corpus = doc_id below the cut (already ingested),
    * batch = doc_id at or above it (arriving now) — an id THRESHOLD
    * split, not a modulo, because the incremental ≡ full-run
    * equivalence needs every corpus id below every batch id (the
    * ingest invariant: new documents get new ids). The cut
    * `count(*) * 4 / 5` is derived identically in the oracle SQL. */
  def q79SubstrIncremental(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val cut = docs.count() * 4 / 5
    substrDedupIncremental(
      docs.filter(col("doc_id") >= cut), docs.filter(col("doc_id") < cut))
  }

  /** q79's semantics through the PERSISTED gram store — the real ingest
    * path ([[substrDedupIncrementalStored]]): corpus text fingerprinted
    * once into the store, each batch then judged with batch-sized gram
    * work plus one 8-byte-key semi-join. Same output as q79 (proof in
    * [[substrDedupIncremental]]'s scaladoc), so it shares q79's oracle
    * SQL — the driver re-proves store ≡ full-run every round. */
  def q81SubstrStored(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val cut = docs.count() * 4 / 5
    // one persisted gram store per immutable source dir, process
    // lifetime — the store's contract is fingerprint-once / judge-many,
    // so repeated invocations (Verify + Bench's median-of-3) measure the
    // per-batch judge cost against a standing store; the one-time
    // corpus fingerprinting is charged to the first invocation only.
    val store = graft.FixtureMemo.store("gramstore", d) { p =>
      val path = s"$p/grams.parquet"
      writeGramStore(docs.filter(col("doc_id") < cut), path)
      path
    }
    substrDedupIncrementalStored(docs.filter(col("doc_id") >= cut), store)
  }

  /** The actionable half of Lee et al.: CUT the duplicated spans q73
    * measures, emitting the deduplicated text (kept tokens re-joined
    * with single spaces — original whitespace is normalized, the
    * standard loss of token-level dedup). First occurrences stay; a
    * fully-duplicated document collapses to the empty string.
    *
    * Scale shape: the spans are collected per document (`collect_list`
    * keyed on doc_id — bounded by one doc's span count, ≤ n_tokens/w),
    * joined back doc-keyed, and the cut itself is a per-row array
    * lambda: O(tokens × spans) per document, both bounded by the
    * document — never corpus-scale. Everything upstream is q73's
    * skew-proof chain, shared code.
    */
  def q76SubstrCut(s: SparkSession, d: String, w: Int = 20): DataFrame = {
    val toks  = toksOf(documents(s, d))
    val spanArr = spansOf(toks, w).groupBy("doc_id")
      .agg(collect_list(struct(col("s"), col("e"))).as("spans"))
    toks.join(spanArr, Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(col("t")).cast("long").as("n_tokens"),
        when(col("spans").isNull, col("t")).otherwise(
          expr("filter(t, (x, i) -> NOT exists(spans, " +
            "sp -> i + 1 >= sp.s AND i + 1 <= sp.e))")).as("kept"))
      .select(col("doc_id"), col("n_tokens"),
        size(col("kept")).cast("long").as("n_tokens_kept"),
        array_join(col("kept"), " ").as("text_dedup"))
      .orderBy("doc_id")
  }

  // The oracle takes the direct row_number formulation (rn > 1 ⇔ not
  // the first occurrence) — semantically identical to the min-struct
  // winners because (doc_id, start) is unique per gram row.
  /** Shared CTE chain ending in `sp(doc_id, span, s, e)` — the maximal
    * duplicated spans — with `toks(doc_id, l)` still in scope. The
    * WITH-less body is exposed (r18) so the end-to-end pipeline
    * oracle composes it verbatim behind its own WITH RECURSIVE head. */
  private[text] val spanCtesBody: String =
    """toks AS (
      |  SELECT doc_id,
      |    list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS l
      |  FROM documents
      |), g AS (
      |  SELECT doc_id, CAST(i AS BIGINT) AS start,
      |    ('0x' || substr(md5(array_to_string(list_slice(l, i, i + 19), ' ')),
      |             1, 15))::BIGINT AS h
      |  FROM toks, LATERAL (
      |    SELECT unnest(generate_series(1, len(l) - 19)) AS i) s
      |  WHERE len(l) >= 20
      |), fo AS (
      |  SELECT doc_id, start,
      |    row_number() OVER (PARTITION BY h ORDER BY doc_id, start) AS rn
      |  FROM g
      |), red AS (
      |  SELECT doc_id, start, start + 19 AS e FROM fo WHERE rn > 1
      |), pm AS (
      |  SELECT doc_id, start, e,
      |    max(e) OVER (PARTITION BY doc_id ORDER BY start
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |      AS prev_e
      |  FROM red
      |), isl AS (
      |  SELECT doc_id, start, e,
      |    sum(CASE WHEN prev_e IS NULL OR start > prev_e + 1
      |             THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY doc_id ORDER BY start
      |            ROWS UNBOUNDED PRECEDING) AS span
      |  FROM pm
      |), sp AS (
      |  SELECT doc_id, span, min(start) AS s, max(e) AS e
      |  FROM isl GROUP BY doc_id, span
      |)""".stripMargin

  private val spanCtes: String = "WITH " + spanCtesBody

  val q73Sql: String = spanCtes + """, agg AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup_spans,
      |    CAST(sum(e - s + 1) AS BIGINT) AS n_dup_tokens
      |  FROM sp GROUP BY doc_id
      |)
      |SELECT t.doc_id, CAST(len(t.l) AS BIGINT) AS n_tokens,
      |  coalesce(a.n_dup_spans, 0) AS n_dup_spans,
      |  coalesce(a.n_dup_tokens, 0) AS n_dup_tokens,
      |  CASE WHEN len(t.l) > 0
      |    THEN (10000 * coalesce(a.n_dup_tokens, 0))
      |           // CAST(len(t.l) AS BIGINT)
      |    ELSE 0 END AS dup_bp
      |FROM toks t LEFT JOIN agg a USING (doc_id)
      |ORDER BY t.doc_id""".stripMargin

  // q76: cut everything inside the spans; kept tokens re-join with ' '
  // (same normalization as the Spark side's array_join)
  val q76Sql: String = spanCtes + """, pos AS (
      |  SELECT doc_id, CAST(i AS BIGINT) AS i, l[i] AS tok
      |  FROM toks, LATERAL (
      |    SELECT unnest(generate_series(1, len(l))) AS i) s2
      |), kept AS (
      |  SELECT p.doc_id, count(*) AS n_kept,
      |    string_agg(p.tok, ' ' ORDER BY p.i) AS text_dedup
      |  FROM pos p
      |  WHERE NOT EXISTS (SELECT 1 FROM sp x
      |                    WHERE x.doc_id = p.doc_id
      |                      AND p.i BETWEEN x.s AND x.e)
      |  GROUP BY p.doc_id
      |)
      |SELECT t.doc_id, CAST(len(t.l) AS BIGINT) AS n_tokens,
      |  CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_tokens_kept,
      |  coalesce(k.text_dedup, '') AS text_dedup
      |FROM toks t LEFT JOIN kept k USING (doc_id)
      |ORDER BY t.doc_id""".stripMargin

  // q79 oracle: the full-run chain with the per-doc report restricted
  // to batch ids — EXACTLY the incremental semantics when corpus ids
  // all precede batch ids (proof in substrDedupIncremental's scaladoc:
  // a batch gram whose hash exists in the corpus loses to the earlier
  // corpus occurrence either way; one that doesn't reduces to the
  // batch-internal first-occurrence rule either way). The driver
  // re-proves the store path ≡ the full run every round.
  private val q79Tail: String = """, agg AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup_spans,
      |    CAST(sum(e - s + 1) AS BIGINT) AS n_dup_tokens
      |  FROM sp GROUP BY doc_id
      |), cut AS (
      |  SELECT count(*) * 4 // 5 AS c FROM documents
      |)
      |SELECT t.doc_id, CAST(len(t.l) AS BIGINT) AS n_tokens,
      |  coalesce(a.n_dup_spans, 0) AS n_dup_spans,
      |  coalesce(a.n_dup_tokens, 0) AS n_dup_tokens,
      |  CASE WHEN len(t.l) > 0
      |    THEN (10000 * coalesce(a.n_dup_tokens, 0))
      |           // CAST(len(t.l) AS BIGINT)
      |    ELSE 0 END AS dup_bp
      |FROM toks t LEFT JOIN agg a USING (doc_id), cut
      |WHERE t.doc_id >= cut.c
      |ORDER BY t.doc_id""".stripMargin

  val q79Sql: String = spanCtes + q79Tail

  /** Driver entry for the counted store's DELETE contract, end to end:
    * fingerprint the corpus (doc_id below the q79 cut) into a counted
    * store, DELETE the corpus slice doc_id ≡ 3 (mod 7) (~14%) as one
    * negated-count batch, then judge the q79 batch. The result must
    * equal judging against a store that never held the deleted docs —
    * the oracle runs the full q79 chain over `documents` minus the
    * deleted corpus slice (raw-survivors form, the strongest oracle
    * shape: any gram the delete failed to forget, or forgot though a
    * survivor still holds it, shifts a first-occurrence and
    * hash-fails). */
  // counted store + delete built once per immutable source dir (q81's
  // memo policy): the construction is deterministic and the delete is
  // ledger-fenced, so repeated invocations (Verify + any timing run)
  // measure the per-batch judge.
  def nqGramDelete(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val cut = docs.count() * 4 / 5
    val store = graft.FixtureMemo.store("gramcounted", d) { p =>
      val corpus = docs.filter(col("doc_id") < cut)
      val path = s"$p/grams.parquet"
      writeGramStoreCounted(corpus, path, batchId = 0L)
      deleteFromGramStoreCounted(
        corpus.filter(pmod(col("doc_id"), lit(7)) === 3), path,
        batchId = -1L)
      path
    }
    substrDedupIncrementalStoredCounted(docs.filter(col("doc_id") >= cut),
      store)
  }

  // the q79 chain over surviving documents only: corpus minus the
  // deleted slice, batch unchanged (batch ids pass the first disjunct).
  // `cut` in the tail still counts ALL documents — the id threshold is
  // a property of the original corpus, not of the survivor set.
  val nqGramDeleteSql: String =
    spanCtes.replace("FROM documents",
      """FROM documents
        |  WHERE doc_id >= (SELECT count(*) * 4 // 5 FROM documents)
        |     OR doc_id % 7 <> 3""".stripMargin) + q79Tail

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q73_substr_dedup" ->
      ((s: SparkSession, d: String) => q73SubstrDedup(s, d)),
    "q76_substr_cut" ->
      ((s: SparkSession, d: String) => q76SubstrCut(s, d)),
    "q79_substr_incremental" -> (q79SubstrIncremental _),
    "q81_substr_stored" -> (q81SubstrStored _),
    "nq_gram_delete" -> (nqGramDelete _))

  val oracle: Map[String, String] = Map(
    "q73_substr_dedup" -> q73Sql,
    "q76_substr_cut" -> q76Sql,
    "q79_substr_incremental" -> q79Sql,
    // identical semantics to q79 by the ingest-invariant proof — the
    // stored path must reproduce the full-run SQL exactly
    "q81_substr_stored" -> q79Sql,
    "nq_gram_delete" -> nqGramDeleteSql)
}
