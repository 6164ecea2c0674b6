package graft.text

import org.apache.spark.ml.feature.{HashingTF, MinHashLSH}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Sub-quadratic near-duplicate detection: MinHash+LSH and SimHash.
  * These are the 100 TB-scale paths for what q25_neardup_jaccard computes
  * exactly — candidate generation is a bucket equi-join (shuffle keyed on
  * band/bucket), never an all-pairs product. The columnar-minhash family
  * (nq_minhash_neardup, nq_dedup_incremental) is hard-oracle-checked
  * since round 8 via a full DuckDB replica of the hash pipeline (see the
  * oracle section at the bottom); the MLlib-estimator and SimHash
  * variants stay rows-only (MLlib's internal hash family is not worth
  * replicating), with agreement against the exact jaccard query asserted
  * in the test suite instead.
  */
object NearDup {

  /** doc_id + distinct word-3-gram shingles (same shingling as q25).
    *
    * Typed map, not `transform(sequence(...))` + `explode`: the
    * expression route re-evaluates the generator chain per emitted row
    * (measured 11.7 s vs 0.5 s at sf0.1 for identical output) because the
    * HOF lambda escapes whole-stage codegen and projection collapse
    * inlines the split under it. The typed path tokenizes once per doc.
    */
  private[graft] def shingles(s: SparkSession, d: String): DataFrame =
    shinglesOf(documents(s, d))

  /** The shingle definition itself — ONE place, shared by the batch
    * path (`shinglesOf`) and the streaming-TTL path
    * (`bandedSignaturesTs`), so the two can't silently drift apart.
    */
  private def shingleArray(text: String): Array[String] = {
    // null text shingles to nothing (r18): a crawl corpus WILL carry
    // null rows, and the typed Dataset map reaches this with a real
    // null — the doc simply has no near-dup evidence (the quality
    // gate downstream classifies it), never a task-killing NPE
    if (text == null) return Array.empty[String]
    // empty tokens filtered EXPLICITLY: Java split drops trailing empty
    // strings but keeps a leading one (text starting with whitespace),
    // while DuckDB's regexp_split_to_array keeps both — the oracles
    // (q25/q63/nq_contamination) apply the same x <> '' filter, making
    // "no empty tokens" the single tokenization both engines agree on
    // (same discipline as q62's comment)
    val t = text.split("\\s+").filter(_.nonEmpty)
    if (t.length < 3) Array.empty[String]
    else Array.tabulate(t.length - 2)(i =>
      t(i) + " " + t(i + 1) + " " + t(i + 2)).distinct
  }

  /** Same shingling over an arbitrary (doc_id, text) relation. */
  private[graft] def shinglesOf(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs.select("doc_id", "text").as[(Long, String)]
      .map { case (id, text) => (id, shingleArray(text)) }
      .toDF("doc_id", "shingles")
  }

  /** (doc_id, h): every distinct shingle of every doc, hashed to a long
    * — THE shared shingle-hash relation (q25's inverted index, the
    * contamination semi-join). One definition so the engine's notion of
    * "a shingle's hash" cannot drift across call sites.
    */
  private[graft] def hashedShinglesOf(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    // ONE typed pass (r19): composing shinglesOf + a second typed
    // flatMap planned as MapElements → SerializeFromObject →
    // DeserializeToObject → MapPartitions — every doc's shingle array
    // crossed the Dataset ser/de boundary twice just to be re-opened
    // and hashed. Fused, the array never materializes as a row at all.
    docs.select("doc_id", "text").as[(Long, String)]
      .flatMap { case (id, text) =>
        shingleArray(text).iterator.map(x => (id, hashShingle(x)))
      }.toDF("doc_id", "h")
  }

  // ------------------------------------------------- MinHash + LSH
  // shingle set → sparse vector (HashingTF over 2^18 buckets) → MinHash
  // signatures → LSH banding (numHashTables OR-amplification) →
  // approxSimilarityJoin emits only bucket-colliding candidate pairs with
  // exact-on-signature jaccard distance. Seeded → deterministic.
  def minhashNeardup(s: SparkSession, d: String): DataFrame = {
    val sh = shingles(s, d)
    val tf = new HashingTF().setInputCol("shingles").setOutputCol("features")
      .setNumFeatures(1 << 18).setBinary(true)
    val vecs = tf.transform(sh).filter(size(col("shingles")) > 0)
    val lsh = new MinHashLSH().setInputCol("features").setOutputCol("sig")
      .setNumHashTables(8).setSeed(42)
    val model = lsh.fit(vecs)
    if (graft.OracleDump.enabled) {
      // the estimator's engine half dumps as data — each doc's nonzero
      // HashingTF indices (murmur3 term hashing) and the fitted hash
      // family's (a, b) pairs — and the oracle re-runs Spark's own
      // published tail in exact BIGINT arithmetic: per-table signature
      // min((1+idx)·a + b mod HASH_PRIME), OR-amplified table-value
      // collision join, true-jaccard key distance, threshold filter
      val spark = s
      import spark.implicits._
      val idxUdf = udf { v: org.apache.spark.ml.linalg.Vector =>
        v.toSparse.indices
      }
      graft.OracleDump.dump(
        vecs.select(col("doc_id"),
          explode(idxUdf(col("features"))).as("idx")),
        s"$MllibOracleDumpDir/mllib_idx.parquet")
      graft.OracleDump.dump(
        org.apache.spark.ml.feature.GraftLshAccess.coefficients(model)
          .zipWithIndex
          .map { case ((a, b), t) => (t, a.toLong, b.toLong) }.toSeq
          .toDF("t", "a", "b"),
        s"$MllibOracleDumpDir/mllib_coef.parquet")
    }
    model.approxSimilarityJoin(vecs, vecs, 0.9, "jaccard_dist")
      .filter(col("datasetA.doc_id") < col("datasetB.doc_id"))
      .select(col("datasetA.doc_id").as("d1"),
        col("datasetB.doc_id").as("d2"),
        round(lit(1.0) - col("jaccard_dist"), 4).as("jaccard_est"))
      .orderBy("d1", "d2")
  }

  // ------------------------------------------------- SimHash
  // 64-bit SimHash, fully in DataFrame expressions:
  //   token → xxhash64 → per-bit ±1 votes → sign of per-bit sums → 4
  //   16-bit bands. Candidates = pairs sharing ≥1 band (equi-join on
  //   (band_idx, band_value)); verified by exact Hamming distance over
  //   the 64-bit sign vector. Everything shuffles on small integer keys.
  def simhashNeardup(s: SparkSession, d: String, maxHamming: Int = 3): DataFrame = {
    // per-doc 64-bit sign vector, as array<int> of 0/1, bit 0 first.
    // Hash word-3-gram shingles, not unigrams: the corpus vocabulary is
    // tiny, so unigram profiles collide; shingles carry word order.
    val toks = shingles(s, d)
      .select(col("doc_id"), explode(col("shingles")).as("tok"))
      .select(col("doc_id"), xxhash64(col("tok")).as("h"))
    // 64 per-bit ±1 vote sums as ONE 64-column aggregate (no tokens×64
    // row explosion — at scale that factor is the whole shuffle volume)
    val voteCols = (0 until 64).map(b =>
      sum(when(expr(s"(h >> $b) & 1") === 1, 1).otherwise(-1)).as(s"v$b"))
    val bits = toks.groupBy("doc_id")
      .agg(voteCols.head, voteCols.tail: _*)
      .select(col("doc_id"),
        array((0 until 64).map(b =>
          when(col(s"v$b") > 0, 1).otherwise(0)): _*).as("bits"))
    // 16-bit bands for candidate generation
    val banded = bits.select(col("doc_id"), col("bits"), explode(expr(
      "transform(sequence(0, 3), band -> named_struct('band', band, " +
        "'bv', aggregate(sequence(0, 15), 0, " +
        "(acc, j) -> acc + bits[band * 16 + j] * CAST(pow(2, j) AS INT))))"))
      .as("bb"))
      .select(col("doc_id"), col("bits"),
        col("bb.band").as("band"), col("bb.bv").as("bv"))
    val a = banded.as("a"); val b = banded.as("b")
    // Hamming distance computed IN the join projection, BEFORE the
    // dedup: only a (d1, d2, hamming) scalar row crosses the
    // dropDuplicates exchange, not two 64-element bit arrays per
    // colliding band (the distance is identical for every duplicate
    // pair, so deduping after is equivalent and far lighter on the wire)
    a.join(b,
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"), expr(
        "aggregate(zip_with(a.bits, b.bits, (x, y) -> abs(x - y)), 0, " +
          "(acc, v) -> acc + v)").as("hamming"))
      .dropDuplicates("d1", "d2")
      .filter(col("hamming") <= maxHamming)
      .orderBy("d1", "d2")
  }

  // ------------------------------------------------- columnar MinHash
  // Columnar MinHash near-dup (no MLlib Vector materialization — the
  // estimator variant above is ~20× slower on the same data):
  //   1. NO shuffle for signatures: shingles arrive as per-doc arrays,
  //      so one narrow typed pass computes the 64 minhashes, the band
  //      signatures, and the sorted hash set per doc;
  //   2. candidate pairs = docs sharing any banded signature — b=16
  //      bands of r=4 rows (P(catch) = 1-(1-j⁴)^16: ≈1.0 at j≥0.8,
  //      0.64 at j=0.5, while j≈0.01 noise pairs essentially never
  //      collide → the candidate set stays ~linear in the true dups, the
  //      property that makes this run at 100 TB);
  //   3. exact jaccard verification ONLY on candidates via plain
  //      equi-joins on doc_id — emitted pairs are exact, not estimates.
  /** splitmix64 finalizer — a full-avalanche 64-bit mix (public-domain
    * constant set from the SplitMix64 PRNG). Used as both the shingle
    * string-hash finisher and the per-k hash family generator.
    */
  @inline private def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** FNV-1a 64 over UTF-8 bytes, finished with mix64. */
  @inline private[graft] def hashShingle(sh: String): Long = {
    var h = 0xcbf29ce484222325L
    val bytes = sh.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    while (i < bytes.length) {
      h = (h ^ (bytes(i) & 0xff)) * 0x100000001b3L
      i += 1
    }
    mix64(h)
  }

  /** Per-doc signature kernel shared by the batch and streaming paths:
    * shingle hashes → nHashes minhashes → nBands band signatures.
    * Per-k hash family g_k = h + k·mix64(h) (Kirsch–Mitzenmacher double
    * hashing): 2 hash evaluations + a mul-add per k, in JVM arithmetic
    * where wrap-around is free (the SQL route trips ANSI overflow
    * checks). Returns (sorted shingle-hash set, band signatures); empty
    * hs for docs too short to shingle.
    */
  private def sigKernel(sh: Array[String], nHashes: Int,
      rowsPerBand: Int): (Array[Long], Array[Long]) = {
    val nBands = nHashes / rowsPerBand
    val hs = new Array[Long](sh.length)
    var i = 0
    while (i < sh.length) { hs(i) = hashShingle(sh(i)); i += 1 }
    val sigs = Array.fill(nHashes)(Long.MaxValue)
    i = 0
    while (i < hs.length) {
      val h1 = hs(i); val h2 = mix64(h1)
      var k = 0
      while (k < nHashes) {
        val g = h1 + k * h2
        if (g < sigs(k)) sigs(k) = g
        k += 1
      }
      i += 1
    }
    val bandSigs = new Array[Long](nBands)
    var b = 0
    while (b < nBands) {
      var acc = 0L
      var r = 0
      while (r < rowsPerBand) {
        acc = mix64(acc ^ sigs(b * rowsPerBand + r)); r += 1
      }
      bandSigs(b) = acc
      b += 1
    }
    java.util.Arrays.sort(hs)
    (hs, bandSigs)
  }

  /** ONE narrow typed pass per doc computes everything hash-shaped: the
    * sorted shingle-hash set (for exact verification) and the per-band
    * signatures. Shingles are already per-doc arrays, so no explode +
    * shuffle + collect_set re-assembly is ever needed — the only
    * shuffles in the near-dup operators are the band candidate join and
    * the verify equi-joins. Returns (doc_id, hs, sz, band_sigs).
    */
  private[graft] def signatures(docs: DataFrame, nHashes: Int,
      rowsPerBand: Int): DataFrame = {
    require(nHashes % rowsPerBand == 0, "nHashes must divide into bands")
    val s = docs.sparkSession
    import s.implicits._
    shinglesOf(docs).as[(Long, Array[String])]
      .map { case (id, sh) =>
        val (hs, bandSigs) = sigKernel(sh, nHashes, rowsPerBand)
        (id, hs, hs.length, bandSigs)
      }
      .toDF("doc_id", "hs", "sz", "band_sigs")
      // docs with <3 tokens have no shingles: their all-MaxValue
      // signatures would mutually collide in every band (false cartesian
      // block) and their jaccard is undefined — drop before banding
      .filter(col("sz") > 0)
  }

  /** Exploded (doc_id, ts_ms, band, sig) rows for the event-time
    * streaming path — same kernel, but the typed map carries the event
    * time through so the stateful operator downstream can arm
    * per-bucket timeout timestamps. Input: (doc_id, text, ts:timestamp);
    * the caller re-applies its watermark on the reconstructed timestamp
    * downstream (typed maps mint metadata-free attributes, so an
    * upstream watermark column would not survive this pass).
    */
  private[graft] def bandedSignaturesTs(docs: DataFrame, nHashes: Int,
      rowsPerBand: Int): DataFrame = {
    require(nHashes % rowsPerBand == 0, "nHashes must divide into bands")
    val s = docs.sparkSession
    import s.implicits._
    docs.select(col("doc_id"), col("text"), unix_millis(col("ts")).as("ts_ms"))
      .as[(Long, String, Long)]
      .flatMap { case (id, text, tsMs) =>
        val sh = shingleArray(text)
        if (sh.isEmpty) Iterator.empty
        else {
          val (_, bandSigs) = sigKernel(sh, nHashes, rowsPerBand)
          bandSigs.iterator.zipWithIndex.map { case (sig, band) =>
            (id, tsMs, band, sig)
          }
        }
      }
      .toDF("doc_id", "ts_ms", "band", "sig")
  }

  def minhashNeardupFast(s: SparkSession, d: String, nHashes: Int = 64,
      rowsPerBand: Int = 4, threshold: Double = 0.5): DataFrame = {
    // reused by banding AND verification below — truncate, not
    // cache(): cached blocks registered here were never unpersisted,
    // piling up across repeated invocations in one JVM (bench/verify
    // re-runs); checkpoint blocks free via the ContextCleaner once the
    // frame is unreferenced (the family policy)
    val mh = graft.Checkpointing.truncate(
      signatures(documents(s, d), nHashes, rowsPerBand))
    val bands = mh.select(col("doc_id"),
      posexplode(col("band_sigs")).as(Seq("band", "sig")))
    val cands = bands.as("ba").join(bands.as("bb"),
        col("ba.band") === col("bb.band") && col("ba.sig") === col("bb.sig") &&
          col("ba.doc_id") < col("bb.doc_id"))
      .select(col("ba.doc_id").as("d1"), col("bb.doc_id").as("d2"))
      .distinct()
    verifyJaccard(cands, mh.select(col("doc_id"), col("hs"), col("sz")),
      threshold)
  }

  /** Exact-jaccard verification of candidate pairs against per-doc
    * sorted hash sets — shared by the full and incremental paths so the
    * "incremental ≡ full restricted to new pairs" invariant can't drift.
    * Deliberately NOT broadcast: the per-doc hash-set relation grows
    * with the corpus, so a broadcast here OOMs the driver at 100 TB by
    * construction. Plain shuffle equi-joins on doc_id scale linearly,
    * and AQE demotes them to broadcast whenever actually small.
    */
  private def verifyJaccard(cands: DataFrame, docSets: DataFrame,
      threshold: Double, sorted: Boolean = true): DataFrame = {
    graft.functions.VecFunctions.register(cands.sparkSession)
    val verified = cands
      .join(docSets.as("za"), col("d1") === col("za.doc_id"))
      .join(docSets.as("zb"), col("d2") === col("zb.doc_id"))
      .select(col("d1"), col("d2"),
        // codegen'd two-pointer merge over the (sorted by construction)
        // hash sets — array_intersect would hash-build a set and
        // materialize the intersection array per pair just to take its
        // length
        expr("sorted_intersect_count(za.hs, zb.hs)").as("n_inter"),
        col("za.sz").as("sz1"), col("zb.sz").as("sz2"))
      .select(col("d1"), col("d2"),
        (col("n_inter").cast("double") /
          (col("sz1") + col("sz2") - col("n_inter")).cast("double"))
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
    // the sort exists for deterministic driver-facing output; sinks that
    // append unordered (the streaming ingest path) skip the exchange
    if (sorted) verified.orderBy("d1", "d2") else verified
  }

  // ------------------------------------------------- incremental MinHash
  /** Near-dup pairs TOUCHING a new batch: (new × corpus) ∪ (new × new),
    * never corpus × corpus — the daily-ingest pattern. This entry point
    * recomputes corpus signatures (self-contained, for one-off runs);
    * `minhashNeardupIncrementalStored` below reads them from the
    * persisted store `writeSignatureStore` maintains, so each batch
    * costs |batch|·bands join probes instead of re-shingling the whole
    * corpus. Same banding, same exact-jaccard verification ⇒ output
    * equals the full run filtered to pairs with a new-side member
    * (asserted in NearDupSpec, as is stored ≡ recomputed).
    */
  def minhashNeardupIncremental(corpus: DataFrame, newDocs: DataFrame,
      nHashes: Int = 64, rowsPerBand: Int = 4,
      threshold: Double = 0.5): DataFrame =
    incrementalFromSignatures(
      graft.Checkpointing.truncate(
        signatures(corpus, nHashes, rowsPerBand)),
      graft.Checkpointing.truncate(
        signatures(newDocs, nHashes, rowsPerBand)), threshold)

  /** The stored-at-ingest form: corpus signatures come from a persisted
    * table (written once per doc by `writeSignatureStore`) instead of
    * being recomputed per batch — the shape that makes daily ingest
    * affordable at 100 TB, where re-shingling the corpus on every batch
    * is the dominant (and avoidable) cost. `signatures` is a pure
    * function of the text, so the store is append-only: new batches
    * append their own signature rows after being deduped.
    */
  def minhashNeardupIncrementalStored(s: SparkSession, storePath: String,
      newDocs: DataFrame, nHashes: Int = 64, rowsPerBand: Int = 4,
      threshold: Double = 0.5): DataFrame =
    incrementalFromSignatures(
      readSignatureStore(s, storePath, nHashes, rowsPerBand),
      graft.Checkpointing.truncate(
        signatures(newDocs, nHashes, rowsPerBand)), threshold)

  /** Stamp the banding parameters onto every signature row. Two literal
    * int columns cost nothing in parquet (RLE to a constant) and make
    * the store self-describing: the read-side fail-fast can check the
    * EXACT parameters instead of inferring them from the band count,
    * which collides across quotient-equal settings — (64,4) and (32,2)
    * both yield 16 bands but DIFFERENT minhash families, so a
    * count-only check would pass while cross dups silently vanish.
    */
  private[graft] def withStoreParams(sig: DataFrame, nHashes: Int,
      rowsPerBand: Int): DataFrame =
    sig.withColumn("n_hashes", lit(nHashes))
      .withColumn("rows_per_band", lit(rowsPerBand))

  /** `filterTombstones = false` serves the PHYSICAL rows — required by
    * the streaming ingest's idempotency anti-join, whose fence must see
    * a doc whose signatures already landed even if it was tombstoned
    * since (a filtered fence would re-append a replayed batch's rows
    * and double-emit its candidate pairs). Judge-side reads keep the
    * default: tombstoned docs never pair. A crash inside a root swap
    * of the store ([[graft.rel.Stores.swapDir]]: the compaction, the
    * tombstone fold) is recovered first, so no reader lands on an
    * absent store. */
  private[graft] def readSignatureStore(s: SparkSession, storePath: String,
      nHashes: Int, rowsPerBand: Int, validate: Boolean = true,
      filterTombstones: Boolean = true): DataFrame = {
    graft.rel.Stores.recoverSwap(s, storePath)
    val store = s.read.parquet(storePath)
    require(store.columns.contains("n_hashes") &&
      store.columns.contains("rows_per_band"),
      s"signature store at $storePath carries no banding parameters — " +
        "written by a pre-params version; rewrite it with " +
        "writeSignatureStore")
    if (validate) {
      // exact-params check (see withStoreParams for why band COUNT is
      // not enough). Scans until a hit, so the healthy-store cost grows
      // with the store — repeat openers validate once (streaming ingest)
      val bad = store.filter(col("n_hashes") =!= nHashes ||
        col("rows_per_band") =!= rowsPerBand).limit(1).count()
      require(bad == 0,
        s"signature store at $storePath was written under different " +
          s"(nHashes, rowsPerBand) than this query's ($nHashes, " +
          s"$rowsPerBand); rewrite the store or match the parameters")
    }
    // key-level deletes (GDPR removal): store rows minus the adjacent
    // tombstone log — one existence check when no delete was issued
    val bare = store.drop("n_hashes", "rows_per_band")
    if (filterTombstones)
      graft.rel.Tombstones.filterDeleted(bare, "doc_id", storePath)
    else bare
  }

  /** Key-level delete from the signature store: record the doc ids in
    * the adjacent tombstone log (`Tombstones`) — every subsequent
    * store read, batch or streaming, excludes them, so a removed doc
    * can never again appear in a candidate pair. Idempotent and
    * replay-fenced; `Tombstones.compact` folds the log into the store
    * through the root swap ([[graft.rel.Stores.swapDir]]) when the
    * standing anti-join grows past taste. */
  def deleteFromSignatureStore(keys: org.apache.spark.sql.DataFrame,
      storePath: String, batchId: Long): Unit =
    graft.rel.Tombstones.applyDelete(keys, "doc_id", storePath, batchId)

  /** Persist the signature store (doc_id, hs, sz, band_sigs + embedded
    * banding params) via the engine's own parquet writer. Overwrite
    * mode: the initial bootstrap; ingest appends with mode("append") on
    * the same schema.
    */
  def writeSignatureStore(corpus: DataFrame, path: String,
      nHashes: Int = 64, rowsPerBand: Int = 4): Unit =
    withStoreParams(signatures(corpus, nHashes, rowsPerBand),
      nHashes, rowsPerBand)
      .write.mode("overwrite").parquet(path)

  /** `horizonMs > 0` adds the TTL pair property (see
    * `StreamingOps.neardupCandidatesStreamTtl`): two docs farther apart
    * than the horizon in event time never pair. Both signature frames
    * must then carry a `ts_ms` column (the ingest path stores
    * first-arrival times, matching the TTL variant's first-arrival
    * pairing). */
  private[graft] def incrementalFromSignatures(sigC: DataFrame,
      sigN: DataFrame, threshold: Double,
      sorted: Boolean = true, horizonMs: Long = 0L): DataFrame = {
    def bandsOf(sig: DataFrame) =
      if (horizonMs > 0)
        sig.select(col("doc_id"), col("ts_ms"),
          posexplode(col("band_sigs")).as(Seq("band", "sig")))
      else sig.select(col("doc_id"),
        posexplode(col("band_sigs")).as(Seq("band", "sig")))
    def withinHorizon(a: String, b: String) =
      if (horizonMs > 0)
        abs(col(s"$a.ts_ms") - col(s"$b.ts_ms")) <= horizonMs
      else lit(true)
    val bandsC = bandsOf(sigC); val bandsN = bandsOf(sigN)
    // the sides are NOMINALLY disjoint, but an at-least-once caller can
    // redeliver a doc that is already in the corpus side — its bands
    // match themselves in every band, and without the id-inequality
    // guard the verify would emit degenerate (X, X, 1.0) rows that mark
    // the doc a duplicate of itself; orientation normalized to
    // (min, max) to match the full run's d1 < d2 convention
    val cross = bandsN.as("n").join(bandsC.as("c"),
        col("n.band") === col("c.band") && col("n.sig") === col("c.sig") &&
          col("n.doc_id") =!= col("c.doc_id") && withinHorizon("n", "c"))
      .select(least(col("n.doc_id"), col("c.doc_id")).as("d1"),
        greatest(col("n.doc_id"), col("c.doc_id")).as("d2"))
    val intra = bandsN.as("x").join(bandsN.as("y"),
        col("x.band") === col("y.band") && col("x.sig") === col("y.sig") &&
          col("x.doc_id") < col("y.doc_id") && withinHorizon("x", "y"))
      .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
    val cands = cross.union(intra).distinct()
    // dropDuplicates: a doc present on BOTH sides (same redelivery)
    // would otherwise join twice per pair side and multiply verify rows;
    // signatures are a pure function of the text, so either copy works
    val docSets = sigC.select(col("doc_id"), col("hs"), col("sz"))
      .union(sigN.select(col("doc_id"), col("hs"), col("sz")))
      .dropDuplicates("doc_id")
    verifyJaccard(cands, docSets, threshold, sorted)
  }

  /** Driver entry: docs with doc_id ≡ 0 (mod 10) play the "new batch". */
  def incrementalQuery(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    minhashNeardupIncremental(
      docs.filter(col("doc_id") % 10 =!= 0),
      docs.filter(col("doc_id") % 10 === 0))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "nq_minhash_neardup" -> ((s: SparkSession, d: String) => minhashNeardupFast(s, d)),
    "nq_minhash_mllib" -> (minhashNeardup _),
    "nq_dedup_incremental" -> (incrementalQuery _),
    "nq_simhash_neardup" -> ((s: SparkSession, d: String) => simhashNeardup(s, d)))

  // ------------------------------------------------------------ oracle
  // DuckDB replica of the ENTIRE columnar-minhash pipeline — the same
  // discipline as Mixing's XXH64 replica, applied to this file's own
  // hash family: FNV-1a-64 over UTF-8 bytes (ASCII corpus ⇒ unicode() of
  // each char IS the byte), the splitmix64 finalizer (mix64), the
  // Kirsch–Mitzenmacher g_k = h1 + k·mix64(h1) minhash family under
  // SIGNED long comparison, 4-row banded signatures via the chained
  // mix64 fold, the band equi-joins, and exact-jaccard verification —
  // re-derived from raw shingle STRINGS (set-equivalent to the engine's
  // hash-set intersection unless FNV collides, which this check would
  // then expose loudly). All 64-bit wrap-around arithmetic runs in
  // UHUGEINT mod 2^64; >>> n is division by 2^n; signed views are
  // reconstructed ±2^64 around 2^63. The banding is replicated EXACTLY
  // (not approximated by a plain jaccard threshold) so the oracle would
  // catch a silent change to the hash family or band fold, the failure
  // mode that makes stored signatures unjoinable (see
  // readSignatureStore). The CTE chain is shared by four promoted
  // queries: nq_minhash_neardup (full run), nq_dedup_incremental
  // (new-batch restriction), and — through `bandedReachCtes`, the
  // banded analogue of DedupClusters.reachCtes — nq_dedup_clusters and
  // the nq_curation family.
  /** splitmix64 as a 4-CTE chain: adds `outCol` to `cteIn`'s columns
    * (m64 must ride along), consuming `inExpr`. */
  private def mix64Sql(cteIn: String, inExpr: String, outCol: String,
      tag: String): String =
    s""",
       |${tag}a AS (SELECT *, ($inExpr + 11400714819323198485) % m64
       |  AS ${tag}z FROM $cteIn),
       |${tag}b AS (SELECT *, (xor(${tag}z, ${tag}z // 1073741824) *
       |  13787848793156543929) % m64 AS ${tag}y FROM ${tag}a),
       |${tag}c AS (SELECT *, (xor(${tag}y, ${tag}y // 134217728) *
       |  10723151780598845931) % m64 AS ${tag}x FROM ${tag}b),
       |${tag}d AS (SELECT * EXCLUDE (${tag}z, ${tag}y),
       |  xor(${tag}x, ${tag}x // 2147483648) AS $outCol FROM ${tag}c)""".stripMargin

  /** Shingles → FNV/mix64 hashes → 64 minhashes → 16 banded signatures,
    * ending in CTE `bands(doc_id, band, bsig)` (with `sh`/`shl` still
    * in scope for the verify tail). `recursive` switches the WITH
    * keyword for consumers that append a recursive reach CTE.
    */
  private def minhashCtes(recursive: Boolean): String = {
    val m64 = "CAST(18446744073709551616 AS UHUGEINT)"
    s"""WITH ${if (recursive) "RECURSIVE " else ""}cst AS (SELECT $m64 AS m64),
       |docs0 AS (SELECT doc_id,
       |  list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS t
       |  FROM documents),
       |shl AS (SELECT doc_id,
       |  list_distinct(list_transform(range(1, len(t) - 1),
       |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shs
       |  FROM docs0 WHERE len(t) >= 3),
       |ascg AS (SELECT CASE WHEN max(CASE WHEN
       |    octet_length(encode(sg)) <> length(sg) THEN 1 ELSE 0 END) = 1
       |  THEN error('minhash oracle decodes UTF-8 bytes via unicode(): ASCII-only corpus assumed')
       |  ELSE 1 END AS ok FROM (SELECT unnest(shs) AS sg FROM shl)),
       |sh AS (SELECT doc_id, unnest(shs) AS sg FROM shl, ascg),
       |f0 AS (SELECT doc_id, m64, list_reduce(
       |    list_prepend(CAST(14695981039346656037 AS UHUGEINT),
       |      list_transform(range(1, length(sg) + 1),
       |        i -> CAST(unicode(substr(sg, CAST(i AS INT), 1)) AS UHUGEINT))),
       |    (h, b) -> (xor(h, b) * 1099511628211) % $m64) AS fv
       |  FROM sh, cst)""".stripMargin +
      mix64Sql("f0", "fv", "h1", "mA") +
      mix64Sql("mAd", "h1", "h2", "mB") +
      s""",
         |ks AS (SELECT doc_id, h1, h2, m64, unnest(range(0, 64)) AS k FROM mBd),
         |gu AS (SELECT doc_id, k,
         |  (h1 + (CAST(k AS UHUGEINT) * h2) % m64) % m64 AS g FROM ks),
         |gs AS (SELECT doc_id, k,
         |  CAST(g AS HUGEINT) - CASE WHEN g >= 9223372036854775808
         |    THEN CAST(18446744073709551616 AS HUGEINT)
         |    ELSE CAST(0 AS HUGEINT) END AS gsg FROM gu),
         |mn AS (SELECT doc_id, k, min(gsg) AS s FROM gs GROUP BY doc_id, k),
         |mu AS (SELECT doc_id, k,
         |  CAST(s + CASE WHEN s < 0 THEN CAST(18446744073709551616 AS HUGEINT)
         |    ELSE CAST(0 AS HUGEINT) END AS UHUGEINT) AS su FROM mn),
         |bp AS (SELECT doc_id, k // 4 AS band,
         |  max(CASE WHEN k % 4 = 0 THEN su END) AS s0,
         |  max(CASE WHEN k % 4 = 1 THEN su END) AS s1,
         |  max(CASE WHEN k % 4 = 2 THEN su END) AS s2,
         |  max(CASE WHEN k % 4 = 3 THEN su END) AS s3
         |  FROM mu GROUP BY doc_id, k // 4),
         |bp0 AS (SELECT *, m64 FROM bp, cst)""".stripMargin +
      mix64Sql("bp0", "s0", "a1", "mC") + // fold starts at 0: mix64(0 ^ s0)
      mix64Sql("mCd", "xor(a1, s1)", "a2", "mD") +
      mix64Sql("mDd", "xor(a2, s2)", "a3", "mE") +
      mix64Sql("mEd", "xor(a3, s3)", "a4", "mF") +
      s""",
         |bands AS (SELECT doc_id, band, a4 AS bsig FROM mFd)""".stripMargin
  }

  /** Full-corpus candidate pairs: docs sharing any banded signature. */
  private val fullCandCte: String =
    s""",
       |cand AS (SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
       |  FROM bands x JOIN bands y ON x.band = y.band AND x.bsig = y.bsig
       |    AND x.doc_id < y.doc_id)""".stripMargin

  /** Incremental candidates: (new × corpus) ∪ (new × new) under the
    * mod-10 batch split the driver entry uses. */
  private val incCandCte: String =
    s""",
       |crossp AS (SELECT least(n.doc_id, c2.doc_id) AS d1,
       |    greatest(n.doc_id, c2.doc_id) AS d2
       |  FROM bands n JOIN bands c2 ON n.band = c2.band AND n.bsig = c2.bsig
       |  WHERE n.doc_id % 10 = 0 AND c2.doc_id % 10 <> 0),
       |intra AS (SELECT x.doc_id AS d1, y.doc_id AS d2
       |  FROM bands x JOIN bands y ON x.band = y.band AND x.bsig = y.bsig
       |    AND x.doc_id < y.doc_id
       |  WHERE x.doc_id % 10 = 0 AND y.doc_id % 10 = 0),
       |cand AS (SELECT DISTINCT d1, d2 FROM
       |  (SELECT * FROM crossp UNION ALL SELECT * FROM intra))""".stripMargin

  /** Exact-jaccard verify over candidate pairs, ending in `jac` (scored)
    * and `vp` (the verified ≥ 0.5 pair relation). */
  private val verifyCtes: String =
    s""",
       |szs AS (SELECT doc_id, len(shs) AS sz FROM shl),
       |inter AS (SELECT cand.d1, cand.d2, count(*) AS ni
       |  FROM cand
       |  JOIN sh a ON a.doc_id = cand.d1
       |  JOIN sh b ON b.doc_id = cand.d2 AND b.sg = a.sg
       |  GROUP BY cand.d1, cand.d2),
       |jac AS (SELECT d1, d2,
       |  CAST(ni AS DOUBLE) / CAST(z1.sz + z2.sz - ni AS DOUBLE) AS jaccard
       |  FROM inter
       |  JOIN szs z1 ON z1.doc_id = d1
       |  JOIN szs z2 ON z2.doc_id = d2),
       |vp AS (SELECT d1, d2 FROM jac WHERE jaccard >= 0.5)""".stripMargin

  private val pairSelect: String =
    "\nSELECT d1, d2, jaccard FROM jac WHERE jaccard >= 0.5 ORDER BY d1, d2"

  /** The banded analogue of `DedupClusters.reachCtes`: same terminal
    * `reach(doc_id, label)` relation, but the edge set is the engine's
    * actual MinHash-banded verified pairs instead of the exact q25 pair
    * relation — which is what lets nq_dedup_clusters / nq_curation /
    * nq_curation_stats (the banded scale paths) carry hard oracles
    * rather than rows-only checks. */
  private[text] val bandedReachCtes: String =
    minhashCtes(recursive = true) + fullCandCte + verifyCtes +
      s""",
         |edges AS (SELECT d1 AS u, d2 AS v FROM vp UNION SELECT d2, d1 FROM vp),
         |reach(doc_id, label) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.u, r.label FROM reach r JOIN edges e ON e.v = r.doc_id
         |)""".stripMargin

  private[text] val minhashFullSql: String =
    minhashCtes(recursive = false) + fullCandCte + verifyCtes + pairSelect

  private[text] val incrementalSql: String =
    minhashCtes(recursive = false) + incCandCte + verifyCtes + pairSelect

  // --------------------------------------------------- SimHash oracle
  // DuckDB replica of Spark's xxhash64 over STRINGS (seed 42): the
  // xxHash64 short-input path — init = seed + P5 + len, little-endian
  // 8-byte lanes through the merge round, the 4-byte chunk, per-byte
  // tail, then the final avalanche — followed by the SimHash vote /
  // sign / band / hamming pipeline, all integer-exact. The corpus'
  // word-3-gram shingles peak at 26 UTF-8 bytes, so the ≥32-byte
  // 4-accumulator stripe loop is never entered; a guard CTE calls
  // error() if the corpus ever grows a ≥32-byte shingle, turning the
  // assumption into a loud oracle failure instead of a silent
  // divergence. (Validated lane-for-lane against Spark's
  // XxHash64Function byte chain, the same way Mixing's replica was
  // validated against hashLong.)
  private val xxP1 = "11400714785074694791" // 0x9E3779B185EBCA87
  private val xxP2 = "14029467366897019727" // 0xC2B2AE3D27D4EB4F
  private val xxP3 = "1609587929392839161" // 0x165667B19E3779F9
  private val xxP4 = "9650029242287828579" // 0x85EBCA77C2B2AE63
  private val xxP5 = "2870177450012600261" // 0x27D4EB2F165667C5
  private val m64Sql = "CAST(18446744073709551616 AS UHUGEINT)"

  /** rotate-left mod 2^64 of expression `e` (textually duplicated). */
  private def rotlSql(e: String, r: Int): String =
    s"((( $e ) * ${1L << r}) % $m64Sql + (( $e ) // ${1L << (64 - r)})) % $m64Sql"

  /** DuckDB CTE chain replicating Spark's `xxhash64` (seed 42) over each
    * doc's distinct word-3-gram shingles, ending in
    * `tokh(doc_id, hu UHUGEINT)` — one row per (doc, shingle). Shared
    * prefix of the SimHash oracle and the KMV-sketch oracle; see
    * [[simhashSql]]'s scaladoc for the lane-for-lane validation story.
    */
  private[graft] val xxhashTokhCtes: String = {
    // 8-byte-lane fold step: h' = rotl27(h ^ rotl31(wv·P2)·P1) · P1 + P4
    val k1 = s"((${rotlSql(s"((wv * $xxP2) % $m64Sql)", 31)}) * $xxP1) % $m64Sql"
    val wordStep = s"((${rotlSql(s"xor(h, $k1)", 27)}) * $xxP1 + $xxP4) % $m64Sql"
    // tail-byte step: h' = rotl11(h ^ b·P5) · P1
    val byteStep =
      s"((${rotlSql(s"xor(h, (b * $xxP5) % $m64Sql)", 11)}) * $xxP1) % $m64Sql"
    // 4-byte-chunk step over the lane at the first post-word offset
    val lane4 = "(bl[CAST((n // 8) * 8 + 1 AS INT)] + " +
      "bl[CAST((n // 8) * 8 + 2 AS INT)] * 256 + " +
      "bl[CAST((n // 8) * 8 + 3 AS INT)] * 65536 + " +
      "bl[CAST((n // 8) * 8 + 4 AS INT)] * 16777216)"
    val chunk4Step =
      s"((${rotlSql(s"xor(hw, ($lane4 * $xxP1) % $m64Sql)", 23)}) * $xxP2 + $xxP3) % $m64Sql"
    s"""WITH docs0 AS (SELECT doc_id,
       |  list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS t
       |  FROM documents),
       |shl AS (SELECT doc_id,
       |  list_distinct(list_transform(range(1, len(t) - 1),
       |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shs
       |  FROM docs0 WHERE len(t) >= 3),
       |guard AS (SELECT CASE
       |    WHEN max(octet_length(encode(sg))) >= 32 THEN
       |    error('simhash oracle replicates only the <32-byte xxhash64 path')
       |    WHEN max(CASE WHEN octet_length(encode(sg)) <> length(sg)
       |      THEN 1 ELSE 0 END) = 1 THEN
       |    error('simhash oracle decodes UTF-8 bytes via unicode(): ASCII-only corpus assumed')
       |    ELSE 1 END AS ok
       |  FROM (SELECT unnest(shs) AS sg FROM shl)),
       |sh AS (SELECT doc_id, unnest(shs) AS sg FROM shl, guard),
       |bl0 AS (SELECT doc_id, sg, octet_length(encode(sg)) AS n,
       |  list_transform(range(1, octet_length(encode(sg)) + 1),
       |    i -> CAST(unicode(substr(sg, CAST(i AS INT), 1)) AS UHUGEINT)) AS bl
       |  FROM sh),
       |w0 AS (SELECT doc_id, sg, n, bl,
       |  list_transform(range(0, n // 8), j ->
       |    bl[CAST(j*8+1 AS INT)] + bl[CAST(j*8+2 AS INT)] * 256 +
       |    bl[CAST(j*8+3 AS INT)] * 65536 + bl[CAST(j*8+4 AS INT)] * 16777216 +
       |    bl[CAST(j*8+5 AS INT)] * 4294967296 +
       |    bl[CAST(j*8+6 AS INT)] * 1099511627776 +
       |    bl[CAST(j*8+7 AS INT)] * 281474976710656 +
       |    bl[CAST(j*8+8 AS INT)] * 72057594037927936) AS words
       |  FROM bl0),
       |h0 AS (SELECT *, (CAST(42 AS UHUGEINT) + $xxP5 + CAST(n AS UHUGEINT))
       |  % $m64Sql AS hini FROM w0),
       |h1 AS (SELECT *, list_reduce(list_prepend(hini, words),
       |    (h, wv) -> $wordStep) AS hw FROM h0),
       |h2 AS (SELECT *, CASE WHEN n % 8 >= 4 THEN $chunk4Step
       |    ELSE hw END AS h4 FROM h1),
       |h3 AS (SELECT *, list_reduce(list_prepend(h4,
       |    list_slice(bl, CAST((n // 8) * 8 +
       |      CASE WHEN n % 8 >= 4 THEN 4 ELSE 0 END + 1 AS INT),
       |      CAST(n AS INT))),
       |    (h, b) -> $byteStep) AS ht FROM h2),
       |a1 AS (SELECT doc_id, (xor(ht, ht // 8589934592) * $xxP2) % $m64Sql
       |  AS z FROM h3),
       |a2 AS (SELECT doc_id, (xor(z, z // 536870912) * $xxP3) % $m64Sql
       |  AS z2 FROM a1),
       |tokh AS (SELECT doc_id, xor(z2, z2 // 4294967296) AS hu FROM a2)""".stripMargin
  }

  private[text] val simhashSql: String = xxhashTokhCtes + s""",
       |vb AS (SELECT doc_id, unnest(range(0, 64)) AS b, hu FROM tokh),
       |vs AS (SELECT doc_id, b,
       |  CASE WHEN sum(CASE WHEN (hu // CAST(power(2, b) AS UHUGEINT)) % 2 = 1
       |    THEN 1 ELSE -1 END) > 0 THEN 1 ELSE 0 END AS bit
       |  FROM vb GROUP BY doc_id, b),
       |bitsl AS (SELECT doc_id, list(bit ORDER BY b) AS bits
       |  FROM vs GROUP BY doc_id),
       |bands AS (SELECT doc_id, b // 16 AS band,
       |  CAST(sum(bit * CAST(power(2, b % 16) AS BIGINT)) AS BIGINT) AS bv
       |  FROM vs GROUP BY doc_id, b // 16),
       |cand AS (SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
       |  FROM bands x JOIN bands y ON x.band = y.band AND x.bv = y.bv
       |    AND x.doc_id < y.doc_id),
       |ham AS (SELECT d1, d2,
       |  CAST(list_sum(list_transform(range(1, 65),
       |    i -> abs(bx.bits[CAST(i AS INT)] - by.bits[CAST(i AS INT)])))
       |    AS INT) AS hamming
       |  FROM cand
       |  JOIN bitsl bx ON bx.doc_id = d1
       |  JOIN bitsl by ON by.doc_id = d2)
       |SELECT d1, d2, hamming FROM ham WHERE hamming <= 3
       |ORDER BY d1, d2""".stripMargin

  private[graft] val MllibOracleDumpDir = "/tmp/graft_mllib_oracle"

  // nq_minhash_mllib: Spark's MinHashLSH tail re-run by DuckDB over the
  // dumped per-doc feature indices and fitted coefficients — signatures
  // in exact BIGINT arithmetic, candidate generation as the same
  // (table, value) collision equi-join, distance as the same
  // 1 − |∩|/|∪| double expression (operand order mirrored, down to the
  // double negation approxSimilarityJoin's distCol round-trip applies).
  private def minhashMllibSql: String =
    s"""WITH el AS (SELECT * FROM
       |  read_parquet('$MllibOracleDumpDir/mllib_idx.parquet/*.parquet')),
       |coef AS (SELECT * FROM
       |  read_parquet('$MllibOracleDumpDir/mllib_coef.parquet/*.parquet')),
       |sig AS (
       |  SELECT el.doc_id, coef.t,
       |    min(((1 + el.idx) * coef.a + coef.b) % ${
         org.apache.spark.ml.feature.GraftLshAccess.HashPrime}) AS hv
       |  FROM el CROSS JOIN coef GROUP BY 1, 2),
       |cand AS (
       |  SELECT DISTINCT s1.doc_id AS d1, s2.doc_id AS d2
       |  FROM sig s1 JOIN sig s2
       |    ON s1.t = s2.t AND s1.hv = s2.hv AND s1.doc_id < s2.doc_id),
       |sizes AS (SELECT doc_id, count(*) AS n FROM el GROUP BY 1),
       |inter AS (
       |  SELECT c.d1, c.d2, count(*) AS ni
       |  FROM cand c
       |  JOIN el e1 ON e1.doc_id = c.d1
       |  JOIN el e2 ON e2.doc_id = c.d2 AND e2.idx = e1.idx
       |  GROUP BY 1, 2),
       |dist AS (
       |  SELECT c.d1, c.d2,
       |    1 - coalesce(i.ni, 0)::DOUBLE
       |        / (z1.n + z2.n - coalesce(i.ni, 0)) AS jd
       |  FROM cand c
       |  LEFT JOIN inter i ON i.d1 = c.d1 AND i.d2 = c.d2
       |  JOIN sizes z1 ON z1.doc_id = c.d1
       |  JOIN sizes z2 ON z2.doc_id = c.d2)
       |SELECT d1, d2, round(1 - jd, 4) AS jaccard_est
       |FROM dist WHERE jd < 0.9
       |ORDER BY d1, d2""".stripMargin

  val oracle: Map[String, String] = Map(
    "nq_minhash_neardup" -> minhashFullSql,
    "nq_dedup_incremental" -> incrementalSql,
    "nq_simhash_neardup" -> simhashSql,
    "nq_minhash_mllib" -> minhashMllibSql)
}
