package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming operators (SURVEY §2.K event-time ops) — the
  * streaming form of the engine's time-segmentation family: the same
  * transforms run on a `readStream` source with watermark-bounded state.
  *
  * All functions take a DataFrame that may be batch or streaming —
  * identical code paths (the Spark contract); tests drive them both ways
  * and assert batch ≡ streaming-with-processAllAvailable.
  */
object StreamingOps {

  /** Tumbling 1-hour event-time windows with a 2-hour watermark.
    * Sums are rounded: incremental stateful accumulation adds in a
    * different order than the batch hash aggregate, and IEEE addition
    * is non-associative — rounding keeps the asserted batch ≡ streaming
    * equality ulp-proof (same discipline as the oracle queries).
    */
  def hourlyCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(sum("value"), 2).as("sum_value"))
      .select(unix_micros(col("window.start")).as("window_start_us"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** Hopping (sliding) event-time windows — q94's streaming twin: 1 h
    * windows every 15 min, each event counted in 4 overlapping
    * windows, state bounded by the watermark horizon. Sums ride as
    * exact integer cents (order-free addition), so streaming ≡ batch
    * ≡ q94 holds EXACTLY, not round-absorbed.
    */
  def hoppingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour", "15 minutes"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        // the ONE cents quantization (r19 review): streaming ≡ q94
        // equality is asserted, so the rounding must be structural,
        // not a byte-identical copy that could drift
        sum(graft.rel.Stores.cents(col("value"))).as("sum_cents"))
      .select(unix_timestamp(col("window.start")).as("win_start_sec"),
        col("event_type"), col("n_events"), col("sum_cents"))

  /** Gap-based sessionization via the built-in session_window:
    * 30-minute inactivity gap per user.
    */
  def sessionWindows(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        round(sum("value"), 2).as("sum_value"))
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("session_start_us"),
        col("n_events"), col("sum_value"))

  /** Stream-stream interval join: signups joined to purchases of the
    * same user within 1 hour — watermarks bound the join state on both
    * sides. Batch form: q43_funnel (same expressions).
    */
  def signupPurchaseJoin(events: DataFrame): DataFrame = {
    val signups = events.filter(col("event_type") === "signup")
      .select(col("user_id"), col("event_id").as("signup_id"),
        col("ts").as("signup_ts"))
      .withWatermark("signup_ts", "2 hours")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user_id"),
        col("event_id").as("purchase_id"), col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "2 hours")
    signups.join(purchases,
      col("user_id") === col("p_user_id") &&
        col("purchase_ts") > col("signup_ts") &&
        col("purchase_ts") <= col("signup_ts") + expr("INTERVAL 1 HOUR"))
      .select(col("user_id"), col("signup_id"), col("purchase_id"),
        unix_micros(col("signup_ts")).as("signup_ts_us"),
        unix_micros(col("purchase_ts")).as("purchase_ts_us"))
  }

  /** Typed-API sessionization with q16's strict-gap convention (a new
    * session when the gap EXCEEDS 30 min, matching the lag/cumsum form
    * and its oracle; the built-in session_window (q26) splits at
    * gap ≥ 30 min — the two differ only on exact-boundary gaps, which
    * micro-second event times make practically impossible), expressed
    * as a KeyValueGroupedDataset mapGroups
    * (the imperative per-key escape hatch for logic SQL can't express;
    * here it CAN, so the test suite asserts all three formulations agree).
    * Scale shape: one shuffle on user_id, per-group in-memory sort —
    * valid while a single user's events fit an executor (true for
    * bounded sessions; unbounded heavy hitters would use the window
    * formulation instead).
    */
  def sessionCountsTyped(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col("user_id"), col("ts").cast("double").as("t"))
      .as[(Long, Double)]
      .groupByKey(_._1)
      .mapGroups { (uid, it) =>
        val ts = it.map(_._2).toArray
        java.util.Arrays.sort(ts)
        var sessions = if (ts.isEmpty) 0 else 1
        var i = 1
        while (i < ts.length) {
          if (ts(i) - ts(i - 1) > 1800.0) sessions += 1
          i += 1
        }
        (uid, sessions.toLong, ts.length.toLong)
      }
      .toDF("user_id", "n_sessions", "n_events")
  }

  case class BucketState(ids: Seq[Long])

  /** TTL-path bucket state: held ids plus each member's newest event
    * time (parallel seqs), so live buckets can age-prune members.
    */
  case class TtlBucketState(ids: Seq[Long], ts: Seq[Long])

  /** Streaming near-dup candidate detection — the ingest-time dedup gate
    * of a training-data pipeline: documents arrive as a stream of
    * (doc_id, text); each doc's MinHash band signatures are computed in
    * the same narrow typed pass as the batch path
    * (`NearDup.signatures`), then keyed state per (band, sig) bucket
    * emits a candidate pair the moment a new doc lands in a bucket that
    * already holds others. Candidates then flow to exact verification
    * against the signature store (the batch verify join) — same
    * two-phase shape as `minhashNeardupFast`, incremental by
    * construction.
    *
    * State per bucket is a doc-id list capped at maxBucket (a viral
    * bucket stops emitting pairs instead of going quadratic — the
    * streaming analogue of the stop-shingle df cap). This entry point
    * keeps state forever (NoTimeout) — safe for finite replays and for
    * the batch-parity spec, never for a real unbounded stream; the
    * ingest-time form is `neardupCandidatesStreamTtl` below, whose
    * watermark-driven TTL bounds state. A pair colliding in several
    * bands is emitted once per band — dedup downstream (the verify
    * join's groupBy), as the batch path does with `distinct()`.
    */
  def neardupCandidatesStream(docs: DataFrame, nHashes: Int = 64,
      rowsPerBand: Int = 4, maxBucket: Int = 64): Dataset[(Long, Long)] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val bands = graft.text.NearDup.signatures(docs, nHashes, rowsPerBand)
      .select(col("doc_id"), posexplode(col("band_sigs")).as(Seq("band", "sig")))
      .as[(Long, Int, Long)]
    bands.groupByKey { case (_, band, sig) => (band, sig) }
      .flatMapGroupsWithState[BucketState, (Long, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout()) {
        case (_, it, state: GroupState[BucketState]) =>
          emitPairs(it.map(_._1), state, maxBucket)
      }
  }

  /** The unbounded-stream form: each (band, sig) bucket carries an
    * EVENT-TIME TTL with true horizon semantics, enforced at two
    * levels: (a) an idle bucket is evicted once the watermark passes
    * its deadline (newest arrival + ttl), and (b) every candidate pair
    * is age-checked (|t₁ − t₂| ≤ ttl) at emission, with held members
    * older than ttl relative to the WATERMARK dropped after the batch
    * (the watermark, not the newest arrival, is the true lower bound on
    * future admissible event times — see the prune-horizon comment) —
    * so two docs farther apart than the TTL never pair, even in a hot
    * bucket that is touched continuously, and even when a replay
    * coalesces spaced history into one large micro-batch.
    * State size is thus bounded by arrival rate × TTL horizon instead
    * of growing with the whole history; the horizon is the explicit
    * dedup-recency tradeoff every ingest-time gate makes.
    *
    * Event-time, not processing-time, deliberately: (a) the horizon is
    * a data property ("dedup against the last 7 days of documents"),
    * reproducible on replay — a processing-time TTL gives a different
    * answer every run; (b) with `ProcessingTimeTimeout` Spark considers
    * every trigger a potential timeout check
    * (`FlatMapGroupsWithStateExec.shouldRunAnotherBatch` is always
    * true), so micro-batches construct continuously even with no data —
    * with `EventTimeTimeout` extra batches run only when the watermark
    * actually advances.
    *
    * Input must carry an event-time column `ts`; `watermarkDelay`
    * bounds out-of-orderness. The watermark is applied AFTER the
    * signature map, on the reconstructed per-band timestamp: a typed
    * map's SerializeFromObject mints metadata-free attributes, so a
    * watermark applied upstream would not reach the stateful operator
    * (UnsupportedOperationChecker requires the watermarked column among
    * the FlatMapGroupsWithState child's output). Same watermark values
    * either way — the band explosion preserves each doc's event time.
    */
  def neardupCandidatesStreamTtl(docs: DataFrame, ttlMs: Long,
      watermarkDelay: String = "0 seconds", nHashes: Int = 64,
      rowsPerBand: Int = 4, maxBucket: Int = 64): Dataset[(Long, Long)] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val bands = graft.text.NearDup
      .bandedSignaturesTs(docs, nHashes, rowsPerBand)
      .select(col("doc_id"), timestamp_millis(col("ts_ms")).as("ts"),
        col("band"), col("sig"))
      .withWatermark("ts", watermarkDelay)
      .as[(Long, java.sql.Timestamp, Int, Long)]
    bands.groupByKey { case (_, _, band, sig) => (band, sig) }
      .flatMapGroupsWithState[TtlBucketState, (Long, Long)](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout()) {
        case (_, it, state: GroupState[TtlBucketState]) =>
          if (state.hasTimedOut) {
            // watermark passed the bucket's deadline with no arrivals
            // since — evict. (Spark never times out a key that has data
            // in the current trigger, so arrivals can't be lost.)
            state.remove()
            Iterator.empty
          } else {
            // individual EVENTS in event-time order (id tiebreak), NOT
            // collapsed per doc: a coalesced replay must emit the same
            // pairs as the original spaced micro-batches, and the spaced
            // run paired each doc at its FIRST arrival's timestamp, with
            // later re-arrivals only refreshing recency. Folding a doc's
            // in-batch events to their max up front would pair it at its
            // LATEST time — dropping a pair the spaced run emitted
            // whenever the first event was within ttl of a member but a
            // later event was not.
            val events = it.map { case (id, ts, _, _) => (id, ts.getTime) }
              .toSeq.sortBy { case (id, t) => (t, id) }
            val newest = events.iterator.map(_._2).max
            // re-arrivals refresh recency; stale members are NOT pruned
            // up front — the per-pair age check below makes pruning a
            // pure state-size concern, so it happens after the batch
            // (a blanket pre-prune would lose legal pairs: a mid-batch
            // arrival can sit within ttl of a member that is already
            // past the NEWEST arrival's horizon). The one exception is
            // the targeted prune at the maxBucket gate below, which
            // only drops members provably unpairable with the arrival
            // being considered.
            val prev = state.getOption
              .map(st => st.ids.zip(st.ts)).getOrElse(Seq.empty)
            val pairs = Seq.newBuilder[(Long, Long)]
            var held = prev
            events.foreach { case (id, t) =>
              val idx = held.indexWhere(_._1 == id)
              if (idx >= 0) {
                // re-arrival (from state or from an earlier event this
                // batch): refresh recency only, exactly like the spaced
                // run's re-arrival branch
                if (t > held(idx)._2) held = held.updated(idx, (id, t))
              } else {
                // at saturation, first drop members already older than
                // ttl relative to THIS arrival — they cannot pair with
                // it or with any later in-batch arrival (events are
                // time-ordered, so t only grows). Without this, a
                // coalesced replay whose stale history fills the bucket
                // drops fresh arrivals that the original spaced batches
                // (whose post-batch prunes freed the slots) accepted —
                // breaking batch-layout independence exactly at the cap.
                // (With watermarkDelay > 0 a future LATE arrival below t
                // could still have paired with a dropped member — an
                // accepted loss of the cap regime, which exists to bound
                // a viral bucket, not to be lossless.)
                if (held.size >= maxBucket)
                  held = held.filter(_._2 >= t - ttlMs)
                if (held.size < maxBucket) {
                  held.foreach { case (p, pt) =>
                    // the TTL is a PAIR property, not only a bucket
                    // property: two docs farther apart than ttl never
                    // pair — whether they arrive batches apart or land
                    // coalesced in the same micro-batch
                    if (math.abs(pt - t) <= ttlMs)
                      pairs += ((math.min(p, id), math.max(p, id)))
                  }
                  held = held :+ ((id, t))
                }
              }
            }
            // age-prune ONCE, after matching. The horizon is the
            // WATERMARK minus ttl, not newest-arrival minus ttl: a
            // future arrival is admitted whenever its event time is
            // ≥ the watermark, so with watermarkDelay > 0 it can be up
            // to `delay` OLDER than `newest` — a member in
            // (watermark − ttl, newest − ttl] can still legally pair
            // with such a late arrival and must be carried until the
            // watermark itself passes it. (Every arrival this batch
            // passed the late filter, so newest ≥ watermark and the
            // min() is belt-and-braces; at the default 0-second delay
            // the watermark trails newest by one batch, so state size
            // is the same up to that lag.)
            val horizon =
              math.min(newest, state.getCurrentWatermarkMs()) - ttlMs
            val kept = held.filter(_._2 >= horizon)
            state.update(TtlBucketState(kept.map(_._1), kept.map(_._2)))
            // sliding TTL re-armed on every touch: deadline = newest
            // arrival + ttl (clamped above the watermark, which
            // setTimeoutTimestamp requires for late stragglers)
            state.setTimeoutTimestamp(
              math.max(newest + ttlMs, state.getCurrentWatermarkMs() + 1))
            pairs.result().iterator
          }
      }
  }

  /** The full ingest-time dedup pipeline as a streaming composite —
    * the operational form of the signature store's "computed once per
    * doc at ingest" contract. Per micro-batch, in one foreachBatch
    * transaction scope:
    *
    *   1. compute the batch's MinHash signatures ONCE (truncate
    *      — reused by steps 2 and 3 without recomputation);
    *   2. emit exact-verified near-dup pairs touching the batch —
    *      (batch × store) ∪ (batch × batch), never store × store, via
    *      the same banded join + jaccard verify as the batch path, so
    *      the union of per-batch outputs over a replay equals the
    *      full-corpus run exactly (asserted in IngestDedupSpec);
    *   3. append the batch's signatures to the store — each doc is
    *      shingled exactly once in its lifetime; later batches join
    *      against stored signatures, never re-reading corpus text.
    *
    * Redelivery: a doc_id already in the store is SKIPPED (anti-join
    * before both the pair emission and the append) — at-least-once
    * sources re-deliver, and without the guard a re-sent doc would pair
    * with its stored self (degenerate d1 = d2 rows) and duplicate its
    * store row, double-emitting every future pair that touches it.
    * First write wins; a genuinely updated document needs a new
    * version-carrying doc_id upstream, same as any immutable store.
    *
    * Scale notes: every join keys on (band, sig) or doc_id — no
    * broadcast of anything corpus-sized; the store grows by |batch|
    * rows per trigger; the pair output is appended UNSORTED (the global
    * orderBy the batch entry points do for deterministic display would
    * be a per-trigger range-partition exchange no reader relies on).
    * Parquet append is not idempotent under retries — a production
    * deployment puts a transactional table format under `storePath`/
    * `pairsPath`; the pipeline shape is unchanged.
    *
    * FILE GROWTH: each trigger appends one file-set to the store, so an
    * unbounded stream would accumulate millions of small files and the
    * per-batch cost would stop being flat (listing + parquet footer
    * reads grow with the file count, not the row count). When more than
    * `maxStoreFiles` SMALL files (< compactTargetBytes/2 — the
    * per-trigger appends, never the ~target-sized outputs of a previous
    * compaction) have accumulated, the store is compacted — rewritten at
    * `compactTargetBytes` per file via a crash-recoverable tmp-dir swap
    * (see `compactSignatureStore`). Counting only small files keeps the
    * rewrite AMORTIZED: a store too big to fit in maxStoreFiles
    * target-sized files would otherwise trip a full O(store) rewrite on
    * EVERY trigger — exactly the unbounded per-batch cost this feature
    * exists to prevent; instead the rewrite runs once per ~maxStoreFiles
    * triggers and the file count stays O(rows/target) + maxStoreFiles,
    * row content untouched. The PAIRS dir is
    * deliberately NOT compacted: it is an externally-consumed
    * append-only log, and rewriting it under a consumer that tails the
    * directory by file listing would double-deliver pairs — its
    * lifecycle (tailing, archival, compaction) belongs to the consumer,
    * where the store is this pipeline's own internal state.
    *
    * DEDUP HORIZON (optional): by default the stream dedups against ALL
    * history. Deployments whose contract is "last N days" pass `tsCol`
    * (an event-time column of `docs`) and `horizonMs`: store rows carry
    * their doc's FIRST-arrival event time, pair emission gains the TTL
    * variant's pair property (docs farther apart than the horizon never
    * pair — `neardupCandidatesStreamTtl`'s |ts_a − ts_b| ≤ ttl check),
    * and compaction drops rows older than the horizon behind the
    * store's newest event time — so the store's size tracks the horizon
    * window, not corpus history. Spec-pinned against the TTL streaming
    * variant on the same timed corpus.
    *
    * Returns the un-started writer so callers own trigger/checkpoint.
    */
  def ingestDedupStream(docs: DataFrame, storePath: String,
      pairsPath: String, nHashes: Int = 64, rowsPerBand: Int = 4,
      threshold: Double = 0.5, maxStoreFiles: Int = 64,
      compactTargetBytes: Long = 128L << 20,
      tsCol: String = "", horizonMs: Long = 0L)
      : org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row] = {
    require(horizonMs <= 0 || tsCol.nonEmpty,
      "a dedup horizon needs event times: pass tsCol with horizonMs")
    // banding-param fail-fast ONCE per stream, not per trigger: the
    // validation scans the whole band_sigs column when the store is
    // healthy, a per-batch cost that would grow with the store and
    // erode the flat-per-batch property. The stream itself only ever
    // appends same-param rows after the first check, so later triggers
    // read unvalidated. (foreachBatch runs on the driver; this captured
    // flag persists for the life of the query.)
    var storeValidated = false
    docs.writeStream.foreachBatch {
      (batch: DataFrame, _: Long) =>
        val s = batch.sparkSession
        val store = new org.apache.hadoop.fs.Path(storePath)
        val fs = store.getFileSystem(s.sparkContext.hadoopConfiguration)
        // a crash inside a previous compaction's swap window must not
        // silently present an empty store (which would re-ingest every
        // doc and double-emit history) — finish or discard the swap first
        recoverCompactionSwap(fs, store)
        val sigC =
          if (fs.exists(store)) {
            // fails fast on a store written under different banding
            // parameters — same hazard as the batch stored path
            // PHYSICAL rows: this read feeds the redelivery fence
            // below, which must see a doc whose signatures already
            // landed even if it was tombstoned since — a filtered
            // fence would re-append a replayed batch and double-emit
            // its pairs. The judge re-applies the tombstone filter.
            val df = graft.text.NearDup.readSignatureStore(
              s, storePath, nHashes, rowsPerBand,
              validate = !storeValidated, filterTombstones = false)
            if (horizonMs > 0)
              require(df.columns.contains("ts_ms"),
                s"horizon retention needs event times, but the store at " +
                  s"$storePath carries no ts_ms column — it was written " +
                  "without a tsCol; rebuild it")
            storeValidated = true
            df
          } else null
        val sigsBase = graft.text.NearDup
          .signatures(batch, nHashes, rowsPerBand)
        val sigsTimed =
          if (tsCol.isEmpty) sigsBase
          else sigsBase.join( // first arrival wins, like the store itself
            batch.groupBy("doc_id")
              .agg(min(unix_millis(col(tsCol))).as("ts_ms")),
            Seq("doc_id"))
        val sigsAll = graft.text.NearDup.withStoreParams(
          sigsTimed, nHashes, rowsPerBand) // appended rows self-describe
          // like the bootstrap's (readSignatureStore validates params)
          .dropDuplicates("doc_id") // intra-batch redelivery
          // tombstone filter on the ARRIVING side too: a doc deleted
          // BEFORE its content ever landed (delete-before-arrival) has
          // no physical row for the fence to block, and without this
          // filter it would be stored and paired post-deletion
          .transform(df => graft.rel.Tombstones.filterDeleted(
            df, "doc_id", storePath))
        // computed once, reused by pairs + append
        val sigs = graft.Checkpointing.truncate(
          if (sigC == null) sigsAll
          else sigsAll.join(sigC.select("doc_id"), Seq("doc_id"),
            "left_anti"))
        graft.text.NearDup
          .incrementalFromSignatures(
            if (sigC == null) sigs.limit(0)
            // judge side: tombstoned docs never pair (GDPR read path)
            else graft.rel.Tombstones.filterDeleted(sigC, "doc_id",
              storePath),
            sigs, threshold, sorted = false, horizonMs = horizonMs)
          .write.mode("append").parquet(pairsPath)
        // coalesce(1): the append writes one file per PARTITION, and sigs
        // is post-shuffle (dropDuplicates) — without the coalesce a
        // single trigger could append more small files than
        // maxStoreFiles and trip a full O(store) rewrite on EVERY
        // trigger, the exact unbounded per-batch cost the small-file
        // bound exists to prevent. One file per trigger is the unit the
        // amortization math assumes; the data is already materialized,
        // so this is a merge-on-write, not a recompute.
        sigs.coalesce(1).write.mode("append").parquet(storePath)
        // one listStatus per trigger — metadata-only, cheap next to the
        // joins above; the rewrite itself runs only when the bound trips.
        // SMALL files only (see scaladoc): compacted ~target-sized
        // outputs must not re-trip the bound, or a large store would be
        // fully rewritten every trigger
        if (storeDataFiles(fs, store)
            .count(_.getLen < compactTargetBytes / 2) > maxStoreFiles)
          compactSignatureStore(s, storePath, compactTargetBytes, horizonMs)
        ()
    }
  }

  private def storeDataFiles(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path)
      : Seq[org.apache.hadoop.fs.FileStatus] =
    fs.listStatus(dir).toSeq
      .filter(st => st.isFile && st.getPath.getName.startsWith("part-"))

  private def compactTmp(store: org.apache.hadoop.fs.Path) =
    new org.apache.hadoop.fs.Path(
      store.getParent, store.getName + ".compacting")
  private def compactOld(store: org.apache.hadoop.fs.Path) =
    new org.apache.hadoop.fs.Path(
      store.getParent, store.getName + ".precompact")

  /** Crash recovery for the compaction swap. The swap is
    * write(tmp) → rename(store, old) → rename(tmp, store) → delete(old)
    * — RENAMES only in the critical section, never a recursive delete of
    * live data: a recursive delete is not atomic outside HDFS, and a
    * crash midway through deleting the store would leave a
    * partially-deleted store that is indistinguishable from an intact
    * one (silent loss of dedup history). With the rename protocol every
    * restart state is decidable from which paths exist:
    *   - old present, store present: the commit finished (or a previous
    *     recovery was interrupted deleting old) — old is superseded
    *     garbage; DELETE old. Deleting old is the only recursive delete
    *     in the protocol and is idempotent garbage collection.
    *   - old present, store missing, tmp present: crash between the two
    *     renames — tmp holds the complete compacted store; FINISH the
    *     swap, then delete old.
    *   - old present, store missing, tmp missing: defensive (not
    *     reachable under the protocol) — restore old as the store.
    *   - tmp present, store present, old absent: crash before the first
    *     rename — tmp is an uncommitted (possibly partial) rewrite and
    *     the store is intact; DISCARD tmp.
    *
    * `legacyPromote` governs the one ambiguous state {tmp present,
    * store absent, old absent}: for the SIGNATURE store it means a
    * complete rewrite stranded by the pre-rename (delete-based) swap
    * code — promote it. For a store whose every write goes through
    * this protocol from birth (the heavy-hitter store), that state is
    * only reachable by crashing inside the FIRST-ever tmp write, so
    * the tmp is an uncommitted partial and promoting it would poison
    * the stream — pass legacyPromote = false to discard it instead.
    */
  /** Filesystem schemes whose `rename` is a non-atomic copy+delete (or
    * can expose a partially-renamed directory): the store commit
    * protocols below would CORRUPT on them instead of failing — so any
    * store entry point fails loudly up front. HDFS, POSIX-local, and
    * viewfs renames are atomic; abfs (ADLS Gen2 with hierarchical
    * namespace) is too. Object-store deployments get the same
    * guarantees transactionally from a table format (Iceberg/Delta/
    * Hudi) or point the store at HDFS — the standard practice this
    * message names.
    */
  private val NonAtomicRenameSchemes =
    Set("s3", "s3a", "s3n", "gs", "oss", "cos", "swift", "wasb", "wasbs")

  /** Fail loudly when `fs` cannot give the rename-swap protocols their
    * atomicity assumption — a silent copy+delete "rename" would corrupt
    * the store on a crash mid-commit rather than leave a recoverable
    * state. */
  private[streaming] def requireAtomicRename(
      fs: org.apache.hadoop.fs.FileSystem, what: String): Unit = {
    val scheme = Option(fs.getUri.getScheme).map(_.toLowerCase).getOrElse("")
    if (NonAtomicRenameSchemes.contains(scheme))
      throw new IllegalStateException(
        s"$what relies on atomic FileSystem.rename for its crash-safe " +
          s"commit protocol, but scheme '$scheme' renames by copy+delete " +
          "— a crash mid-commit would corrupt the store instead of " +
          "leaving a recoverable state. Point the store at HDFS (or " +
          "another atomic-rename filesystem), or manage it through a " +
          "transactional table format.")
  }

  /** Bind a store to its FIRST streaming lineage via a `_lineage`
    * marker inside the store root (an underscore file, invisible to
    * every parquet read), creating the root if needed, and fail loudly
    * on any other lineage. Batch-id-keyed stores (batch-N files, or
    * batch_id partitions whose own overwrite is the replay fence) are
    * only exactly-once WITHIN one streaming checkpoint lineage: a fresh
    * checkpoint restarts ids at 0 and would silently overwrite the
    * original lineage's batch 0 with different content (idempotent-
    * merge stores included — the overwrite REPLACES the original
    * batch's registers/sketches/partials, it does not merge with them)
    * and re-judge docs against their own stored state. Marker commit
    * is create-tmp + atomic rename; losing a concurrent race re-reads
    * and enforces. */
  private[graft] def bindStoreLineage(s: SparkSession, storePath: String,
      what: String, lineage: String): Unit = {
    val dir = new org.apache.hadoop.fs.Path(storePath)
    val fs = dir.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.mkdirs(dir)
    val marker = new org.apache.hadoop.fs.Path(dir, "_lineage")
    if (fs.exists(marker)) {
      val in = fs.open(marker)
      val prev = try scala.io.Source.fromInputStream(in, "UTF-8")
        .mkString.trim
      finally in.close()
      if (prev != lineage)
        throw new IllegalStateException(
          s"$what is bound to streaming lineage $prev but this query " +
            s"is $lineage — a fresh checkpoint restarts batch ids and " +
            "would overwrite history. Continue the original checkpoint, " +
            "or rebuild the store")
    } else {
      // per-attempt tmp name: two concurrent first-binders sharing one
      // tmp path would clobber each other's half-written bytes (r19
      // review), and on POSIX local filesystems rename-to-existing
      // REPLACES atomically and returns true — so the old
      // "rename failed = lost the race" branch never fired there
      val tmp = new org.apache.hadoop.fs.Path(dir,
        s"_lineage.tmp-${java.util.UUID.randomUUID()}")
      val out = fs.create(tmp, true)
      try out.write(lineage.getBytes(
        java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      if (!fs.rename(tmp, marker)) fs.delete(tmp, false)
      // verify-after-write closes the race on BOTH rename semantics:
      // whichever racer's marker stands, exactly the other sees a
      // foreign lineage here and refuses before its first overwrite
      require(fs.exists(marker),
        s"cannot establish lineage marker at $marker")
      val in2 = fs.open(marker)
      val prev2 = try scala.io.Source.fromInputStream(in2, "UTF-8")
        .mkString.trim
      finally in2.close()
      if (prev2 != lineage)
        throw new IllegalStateException(
          s"$what was just bound to lineage $prev2; this query is $lineage — " +
            "a fresh checkpoint restarts batch ids and would overwrite " +
            "history. Continue the original checkpoint, or rebuild the store")
    }
  }

  private[streaming] def recoverCompactionSwap(
      fs: org.apache.hadoop.fs.FileSystem,
      store: org.apache.hadoop.fs.Path,
      legacyPromote: Boolean = true): Unit = {
    requireAtomicRename(fs, s"store at $store")
    val tmp = compactTmp(store)
    val old = compactOld(store)
    if (fs.exists(old)) {
      if (fs.exists(store)) fs.delete(old, true)
      else if (fs.exists(tmp)) {
        if (!fs.rename(tmp, store))
          throw new java.io.IOException(
            s"could not finish crashed compaction swap: $tmp -> $store")
        fs.delete(old, true)
      } else if (!fs.rename(old, store))
        throw new java.io.IOException(
          s"could not restore store after crashed compaction: $old -> $store")
    } else if (fs.exists(tmp)) {
      if (!fs.exists(store)) {
        if (legacyPromote) {
          // legacy delete-based swap state: tmp is the complete rewrite
          if (!fs.rename(tmp, store))
            throw new java.io.IOException(
              s"could not finish crashed compaction swap: $tmp -> $store")
        } else fs.delete(tmp, true) // uncommitted first write
      } else fs.delete(tmp, true)
    }
  }

  /** Rewrite the signature store as ~`targetBytes`-sized files — row
    * content identical (asserted pair-for-pair in IngestDedupSpec), file
    * count bounded. The rewrite goes to a sibling tmp dir FIRST (fully
    * materializing the read before anything is touched), then commits
    * with two renames: store → old, tmp → store, then old is deleted.
    * A crash at any point is recovered by `recoverCompactionSwap` (run
    * before every trigger and up front here) — every intermediate state
    * keeps a complete copy of the data under exactly one of the three
    * paths, making compaction retry-safe end to end. (Rename atomicity
    * holds on HDFS/posix and is ENFORCED — `requireAtomicRename` fails
    * loudly on rename-as-copy schemes; an object-store deployment gets
    * the same guarantee transactionally from a table format instead.)
    */
  /** `horizonMs > 0` additionally applies the dedup-horizon retention:
    * rows whose `ts_ms` is more than the horizon behind the store's
    * NEWEST event time are dropped in the same rewrite — the "last N
    * days" dedup contract (the lazy, store-side mirror of the TTL
    * streaming variant's `min(newest, watermark) − ttl` prune; here the
    * watermark is the store's own newest row, the tightest bound a
    * store compaction can know). Event-time, not wall-clock: a store
    * that stops ingesting stops forgetting. A dropped row can no longer
    * pair — the same accepted approximation as watermark pruning for
    * out-of-order stragglers beyond the horizon.
    */
  def compactSignatureStore(s: SparkSession, storePath: String,
      targetBytes: Long = 128L << 20, horizonMs: Long = 0L): Unit = {
    val store = new org.apache.hadoop.fs.Path(storePath)
    val fs = store.getFileSystem(s.sparkContext.hadoopConfiguration)
    recoverCompactionSwap(fs, store)
    val files = storeDataFiles(fs, store)
    if (files.isEmpty) return
    val nOut = math.max(1, math.min(files.size,
      math.ceil(files.map(_.getLen).sum.toDouble / targetBytes).toInt))
    val tmp = compactTmp(store)
    val old = compactOld(store)
    val all = s.read.parquet(storePath)
    val kept =
      if (horizonMs <= 0) all
      else {
        require(all.columns.contains("ts_ms"),
          s"horizon retention needs event times, but the store at " +
            s"$storePath carries no ts_ms column — ingest with a tsCol " +
            "or rebuild the store")
        // an empty store (or one whose ts_ms is all-null from a
        // schema-merged bootstrap) has no newest event time — nothing
        // to retain-prune, so the horizon pass is a no-op, not an NPE
        val newestRow = all.agg(max("ts_ms")).head
        if (newestRow.isNullAt(0)) all
        // null-ts_ms rows RETAIN (r19 review): a row without an event
        // time cannot age out — rows from a pre-tsCol bootstrap or a
        // null-timestamped ingest would otherwise drop wholesale,
        // silently deleting their dedup history and un-fencing their
        // doc ids against redelivery
        else all.filter(col("ts_ms").isNull ||
          col("ts_ms") >= newestRow.getLong(0) - horizonMs)
      }
    kept.repartition(nOut)
      .write.mode("overwrite").parquet(tmp.toString)
    if (!fs.rename(store, old))
      throw new java.io.IOException(
        s"compaction swap failed: could not rename $store to $old")
    if (!fs.rename(tmp, store))
      throw new java.io.IOException(
        s"compaction swap failed: could not rename $tmp to $store")
    fs.delete(old, true)
  }

  /** Streaming heavy hitters: a Misra–Gries summary of the corpus
    * token stream maintained across triggers in a k-bounded store —
    * the streaming complement of q70's sketch-then-verify. MG
    * summaries are MERGEABLE (Agarwal et al., "Mergeable Summaries",
    * PODS 2012): sum counters, subtract the (k+1)-th largest merged
    * count from every survivor, drop non-positives — and the error
    * bound (each stored count undercounts its true stream frequency by
    * at most N/(k+1), N = total tokens so far) survives any merge
    * tree, so per-trigger merging is as good as a one-shot pass. A
    * per-batch exact count is itself a valid MG summary with zero
    * error, so each trigger is: ONE distributed groupBy over the
    * batch's tokens (map-side combine — the only corpus-sized work),
    * then the merge against the ≤ k-row store. Any term with true
    * frequency > N/(k+1) is guaranteed present; q70's exact verify
    * pass over the surviving candidates turns the summary into exact
    * heavy hitters whenever needed.
    *
    * Exactly-once: foreachBatch redelivers batches on recovery and
    * counts are not idempotent under re-addition, so the store carries
    * the applied-batch high-water mark (on a NULL-term sentinel row,
    * so it survives even a rewrite the MG truncation left empty) and a
    * replayed trigger is skipped whole — the standard foreachBatch
    * idempotent-sink pattern (spec-pinned). The mark only means
    * anything within ONE streaming-checkpoint lineage (batch ids
    * restart at 0 for a new query), so every store row also carries
    * the STABLE streaming query id (`sql.streaming.queryId`, persisted
    * in the checkpoint metadata, unchanged across restarts): a fresh
    * checkpoint pointed at an existing store FAILS LOUDLY instead of
    * silently skipping its first batches — use a fresh storePath per
    * query lineage. The ≤ k+1-row rewrite commits through the
    * signature-store compaction's rename-swap protocol
    * (recoverCompactionSwap, legacyPromote=false: this store's only
    * {tmp, no store, no old} state is a crashed first write).
    */
  def heavyHittersStream(docs: DataFrame, storePath: String,
      k: Int = 256)
      : org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row] = {
    require(k > 0, s"k must be positive, got $k")
    lineageSink(docs) { (batch, batchId, lineage) =>
      applyHeavyHitterBatch(batch, batchId, lineage, storePath, k)
    }
  }

  /** The ONE foreachBatch sink of the lineage-fenced stores: each
    * trigger runs `trigger(batch, batchId, lineage)` with the query's
    * [[streamingLineage]], read once per trigger. The fence policy
    * itself (a `_lineage` marker via [[bindStoreLineage]], or a
    * store's own lineage column) stays with the store. Returns the
    * un-started writer so callers own trigger/checkpoint. */
  private[graft] def lineageSink(stream: DataFrame)(
      trigger: (DataFrame, Long, String) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        trigger(batch, batchId, streamingLineage(batch.sparkSession))
    }

  /** The stable streaming query id from the execution thread — the
    * lineage the exactly-once stores bind to: set by the
    * stream-execution thread and recovered from checkpoint metadata
    * on restart (runId changes per restart, this does not). FAILS
    * LOUDLY when the property is absent rather than falling back to a
    * shared sentinel: two different fresh-checkpoint queries defaulting
    * to the same "unknown" would both pass the lineage fence and
    * re-enable the batch-0 overwrite hazard the fence exists to
    * prevent. */
  private[graft] def streamingLineage(s: SparkSession): String =
    Option(s.sparkContext.getLocalProperty("sql.streaming.queryId"))
      .getOrElse(throw new IllegalStateException(
        "sql.streaming.queryId is not set on this thread — foreachBatch " +
          "is not running under a streaming execution, so the store's " +
          "lineage fence cannot bind to a checkpoint. Run through " +
          "writeStream.start(), or use the batch entry points directly."))

  /** One trigger of the MG merge — exposed (package-private) so the
    * exactly-once semantics are testable as they actually occur: a
    * redelivery is the SAME lineage re-sending an applied batch id
    * (skipped), a lineage mismatch is a DIFFERENT query id over an
    * existing store (throws).
    */
  private[graft] def applyHeavyHitterBatch(batch: DataFrame,
      batchId: Long, lineage: String, storePath: String, k: Int): Unit = {
    val s = batch.sparkSession
    val store = new org.apache.hadoop.fs.Path(storePath)
    val fs = store.getFileSystem(s.sparkContext.hadoopConfiguration)
    recoverCompactionSwap(fs, store, legacyPromote = false)
    val prev = if (fs.exists(store)) s.read.parquet(storePath) else null
    val applied = // idempotent replay: skip an already-applied batch
      if (prev == null) -1L
      else {
        // a store written before lineage tracking has no query_id
        // column at all — resolving max("query_id") against it would
        // surface as an unresolved-column AnalysisException instead of
        // the lineage contract; name the real problem and the way out
        if (!prev.columns.contains("query_id"))
          throw new IllegalStateException(
            s"heavy-hitter store $storePath predates lineage tracking " +
              "(no query_id column), so batch-id replay protection " +
              "cannot be tied to a streaming checkpoint. Rebuild the " +
              "store (fresh storePath) or backfill a query_id column " +
              "with this query's stable queryId before resuming.")
        val head = prev.agg(coalesce(max("batch_id"), lit(-1L)),
          coalesce(max("query_id"), lit("unknown"))).head
        val storedLineage = head.getString(1)
        if (storedLineage != lineage)
          throw new IllegalStateException(
            s"heavy-hitter store $storePath belongs to streaming query " +
              s"lineage $storedLineage but this query is $lineage: batch " +
              "ids restart at 0 for a new checkpoint, so continuing would " +
              "silently skip this lineage's first batches. Use a fresh " +
              "storePath per query lineage (or resume from the original " +
              "checkpoint).")
        head.getLong(0)
      }
    if (batchId > applied) {
      // ONE vocab-keyed shuffle per trigger: raw (term, 1) rows and
      // the ≤ k stored counters union straight into a single
      // groupBy-sum (map-side combine collapses the batch side; a
      // separate per-batch count would plan a second full exchange)
      val raw = graft.text.TextQueries.tokenTerms(batch)
        .select(col("term"), lit(1L).as("cnt"))
      // one computation: threshold + survivors
      val merged = graft.Checkpointing.truncate(
        (if (prev == null) raw
         else raw.unionAll(
           prev.filter(col("term").isNotNull)
             .select(col("term"), col("cnt"))))
          .groupBy("term").agg(sum("cnt").as("cnt")))
      val top = merged.orderBy(col("cnt").desc, col("term")).limit(k + 1)
        .select("cnt").collect().map(_.getLong(0))
      val d = if (top.length <= k) 0L else top.last
      // ≤ k survivors by construction: at most k counts exceed the
      // (k+1)-th largest; the sentinel row carries the high-water
      // mark whether or not any counter survived — and the BUILD k in
      // its cnt field (the MG guarantee floor is a property of the
      // summary's k, so the read path must not trust a caller-supplied
      // one; if the store ever saw a smaller k, keep the smaller —
      // the floor is governed by the worst truncation in its history)
      val prevK =
        if (prev == null) k.toLong
        else prev.filter(col("term").isNull)
          .agg(coalesce(min("cnt"), lit(k.toLong))).head.getLong(0)
      val effK = if (prevK > 0) math.min(k.toLong, prevK) else k.toLong
      val sentinel = s.range(1).select(
        lit(null).cast("string").as("term"), lit(effK).as("cnt"))
      val next = merged.filter(col("cnt") > d)
        .select(col("term"), (col("cnt") - d).as("cnt"))
        .unionAll(sentinel)
        .withColumn("batch_id", lit(batchId))
        .withColumn("query_id", lit(lineage))
      val tmp = compactTmp(store)
      val old = compactOld(store)
      next.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      if (fs.exists(store) && !fs.rename(store, old))
        throw new java.io.IOException(
          s"heavy-hitter swap failed: could not rename $store to $old")
      if (!fs.rename(tmp, store))
        throw new java.io.IOException(
          s"heavy-hitter swap failed: could not rename $tmp to $store")
      fs.delete(old, true)
    }
  }

  /** The MG store's READ path — the "summary → exact heavy hitters
    * whenever needed" half of the streaming heavy-hitter design: the
    * ≤ k stored counters are the candidate set (the MG bound makes
    * them a guaranteed superset of every term with true frequency
    * > N/(k+1)), and q70's exact-verify aggregate turns them into
    * exact counts in ONE corpus pass whose shuffle carries ≤ k+1
    * groups — no freqItems sketch pass, no vocabulary-sized exchange.
    *
    * Sound iff support ≥ 1/(k+1): below that floor the summary can
    * have already dropped a qualifying term, so the require is part of
    * the contract, not a convenience check. Equivalence with batch
    * `TextQueries.heavyHitters` on the same corpus is spec-pinned.
    */
  def heavyHittersFromStore(docs: DataFrame, storePath: String, k: Int,
      support: Double): DataFrame = {
    val s = docs.sparkSession
    // the READ path recovers an interrupted compaction swap too (r19
    // review): a crash inside applyHeavyHitterBatch's rename swap
    // leaves no store at this path, and the stream that would have
    // recovered it on its next trigger is the thing that just died —
    // without this, every read throws until a write happens to run
    val storeP = new org.apache.hadoop.fs.Path(storePath)
    recoverCompactionSwap(
      storeP.getFileSystem(s.sparkContext.hadoopConfiguration), storeP)
    val stored = graft.Checkpointing.truncate(s.read.parquet(storePath))
    // the MG floor is a property of the summary's BUILD k (persisted
    // on the sentinel row), not the caller's claim — a reader passing
    // a larger k would satisfy the require while the summary had
    // already dropped qualifying terms, silently voiding the
    // guarantee. Sentinel cnt <= 0 = a pre-tracking store: fall back
    // to the caller's k with the old (caller-trusting) semantics.
    val sentinelK = stored.filter(col("term").isNull)
      .agg(coalesce(min("cnt"), lit(0L))).head.getLong(0)
    val effK = if (sentinelK > 0) sentinelK else k.toLong
    require(sentinelK <= 0 || k.toLong == sentinelK,
      s"heavy-hitter store $storePath was built with k=$sentinelK " +
        s"but read with k=$k: the MG guarantee floor belongs to the " +
        "build k — pass it, or rebuild the store")
    require(support >= 1.0 / (effK + 1),
      s"support $support below the MG guarantee floor " +
        s"1/(k+1)=${1.0 / (effK + 1)}: the summary may have dropped a " +
        "qualifying term; rebuild the store with a larger k or raise " +
        "support")
    val candidates = stored
      .filter(col("term").isNotNull)
      .select("term").collect().map(_.getString(0)).toSeq // ≤ k rows
    graft.text.TextQueries.exactVerify(
      graft.text.TextQueries.tokenTerms(docs), candidates, support)
  }

  /** Shared bucket-state transition: emit (min, max) pairs of each new
    * arrival against the held ids, append arrivals up to maxBucket.
    */
  private def emitPairs(arrivalsIt: Iterator[Long],
      state: GroupState[BucketState], maxBucket: Int)
      : Iterator[(Long, Long)] = {
    val seen = state.getOption.map(_.ids).getOrElse(Seq.empty)
    val arrivals = arrivalsIt.toSeq.distinct.filterNot(seen.contains)
    val pairs = Seq.newBuilder[(Long, Long)]
    var held = seen
    arrivals.foreach { id =>
      if (held.size < maxBucket) {
        held.foreach { p =>
          pairs += ((math.min(p, id), math.max(p, id)))
        }
        held = held :+ id
      }
    }
    state.update(BucketState(held))
    pairs.result().iterator
  }

  // ------------------------------------------------- substring-dedup ingest

  /** Streaming substring-granular dedup at ingest (the stream form of
    * `SubstrDedup.substrDedupIncrementalStored`): every micro-batch is
    * judged against the accumulated gram store, its per-doc verdict
    * report is emitted, and its distinct gram hashes join the store.
    *
    * Exactly-once WITHOUT a high-water mark or lineage fence: every
    * artifact of batch N is ONE deterministically-named file
    * (`batch-N.parquet` under both the store and the verdicts dir),
    * written to a tmp dir and RENAMED into place — a redelivered batch
    * re-creates byte-identical content under the same name, so replay
    * converges instead of duplicating. The subtle hazard this design
    * closes: a crash after the GRAM append but before the checkpoint
    * commit re-judges batch N against a store that already contains
    * batch N's own grams, flipping every verdict to fully-duplicated.
    * The judge therefore reads the store as "every file EXCEPT
    * `batch-N.parquet`" — own-batch exclusion by NAME, which is exact
    * because Structured Streaming assigns each input file to exactly
    * one batch id (checkpoint file log), so no OTHER batch's file can
    * carry this batch's grams.
    *
    * Store growth: one file per trigger; when the batch-file count
    * passes `compactEvery`, files with id < the current batch merge
    * into one `compact-…` file (distinct h). Only STRICTLY older
    * batches compact — the current id is the only one replay can
    * re-deliver. Crash mid-compaction leaves merged batch files beside
    * the compact file: harmless, membership in a semi-join is
    * duplicate-insensitive, and the next compaction sweeps them.
    */
  def substrIngestStream(docs: DataFrame, storePath: String,
      verdictsPath: String, w: Int = 20, compactEvery: Int = 64)
      : org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row] =
    lineageSink(docs) { (batch, batchId, lineage) =>
      applySubstrIngestBatch(batch, batchId, storePath, verdictsPath,
        w, compactEvery, lineage)
    }

  /** One trigger, exposed so replay/crash-window semantics are testable
    * exactly as they occur. */
  private[graft] def applySubstrIngestBatch(batch: DataFrame,
      batchId: Long, storePath: String, verdictsPath: String,
      w: Int, compactEvery: Int, lineage: String): Unit = {
    val s = batch.sparkSession
    val fsp = new org.apache.hadoop.fs.Path(storePath)
    val fs = fsp.getFileSystem(s.sparkContext.hadoopConfiguration)
    // the lineage-marker commit and writeSingleFile's tmp-dir promote
    // both assume atomic rename — same contract as the compaction swap
    requireAtomicRename(fs, s"substring-dedup gram store at $storePath")
    // the batch-id file naming is only exactly-once WITHIN one streaming
    // checkpoint lineage: a FRESH checkpoint restarts ids at 0 and would
    // silently overwrite batch-0.parquet with different content (and
    // re-judge docs against their own stored grams). Bind the store to
    // its first lineage and fail loudly on any other — same contract as
    // the heavy-hitter store's high-water fence.
    bindStoreLineage(s, storePath, s"substring-dedup store at $storePath",
      lineage)
    val own = s"batch-$batchId.parquet"
    val storeFiles = fs.listStatus(fsp).toSeq.filter(st => st.isFile &&
      (st.getPath.getName.startsWith("batch-") ||
        st.getPath.getName.startsWith("compact-")) &&
      st.getPath.getName != own)
    val storeH =
      if (storeFiles.isEmpty)
        s.range(0).select(col("id").as("h")) // empty bootstrap store
      else s.read.parquet(storeFiles.map(_.getPath.toString): _*)
    // intra-batch redelivery; judged AND grammed below — compute once
    val b = graft.Checkpointing.truncate(batch.dropDuplicates("doc_id"))
    writeSingleFile(graft.text.SubstrDedup.judgeAgainst(b, storeH, w),
      verdictsPath, own)
    writeSingleFile(graft.text.SubstrDedup.batchGrams(b, w),
      storePath, own)
    // compact STRICTLY older batch files (replay can only re-deliver
    // the current id) together with prior compacts
    val mergeable = fs.listStatus(fsp).toSeq.filter { st =>
      val n = st.getPath.getName
      st.isFile && ((n.startsWith("batch-") && n != own &&
        n.stripPrefix("batch-").stripSuffix(".parquet")
          .forall(_.isDigit) &&
        n.stripPrefix("batch-").stripSuffix(".parquet").toLong < batchId)
        || n.startsWith("compact-"))
    }
    if (mergeable.count(_.getPath.getName.startsWith("batch-")) >
        compactEvery) {
      val merged = s.read
        .parquet(mergeable.map(_.getPath.toString): _*).distinct()
      writeSingleFile(merged, storePath, s"compact-at-$batchId.parquet")
      mergeable.filterNot(_.getPath.getName == s"compact-at-$batchId.parquet")
        .foreach(st => fs.delete(st.getPath, false))
    }
  }

  /** Streaming ingest of the COUNTED gram store — the GDPR-capable
    * sibling of [[substrIngestStream]] (DESIGN_upsert.md): per-trigger
    * refcount batches under fenced `batch_id` partitions instead of
    * distinct-hash files, so `SubstrDedup.deleteFromGramStoreCounted`
    * can forget a document between triggers and the NEXT trigger's
    * judge already excludes its sole-owner grams.
    *
    * Exactly-once: the partition overwrite makes a REPLAYED trigger
    * byte-idempotent, and judging excludes the trigger's own partition
    * (the crash window between store write and checkpoint commit would
    * otherwise re-judge batch N against its own grams). The `_lineage`
    * fence guards fresh-checkpoint id restarts, same as every
    * streaming store. Deletion batches must use ids OUTSIDE the
    * checkpoint's nonnegative sequence (negative ids by convention) —
    * the id space is shared with the stream's triggers. */
  def substrIngestStreamCounted(docs: DataFrame, storePath: String,
      verdictsPath: String, w: Int = 20)
      : org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row] =
    lineageSink(docs) { (batch, batchId, lineage) =>
      applySubstrIngestBatchCounted(batch, batchId, storePath,
        verdictsPath, w, lineage)
    }

  /** One counted-ingest trigger, exposed for replay-semantics tests. */
  private[graft] def applySubstrIngestBatchCounted(batch: DataFrame,
      batchId: Long, storePath: String, verdictsPath: String,
      w: Int, lineage: String): Unit = {
    val s = batch.sparkSession
    // BEFORE the lineage bind's mkdirs: an interrupted compaction
    // swap's recovery renames the old root back into place, which a
    // just-created empty root would corrupt (rename into an existing
    // dir nests instead of replacing)
    graft.text.SubstrDedup.recoverGramCompactSwap(s, storePath)
    val fsp = new org.apache.hadoop.fs.Path(storePath)
    val fs = fsp.getFileSystem(s.sparkContext.hadoopConfiguration)
    requireAtomicRename(fs,
      s"counted substring-dedup gram store at $storePath")
    bindStoreLineage(s, storePath,
      s"counted substring-dedup gram store at $storePath", lineage)
    // a doc tombstoned BEFORE its content arrives must be neither
    // judged nor stored (the ingestDedupStream discipline): the store
    // write below filters internally, but the VERDICT write must not
    // persist derived data of a deleted doc either
    val clean = graft.rel.Tombstones
      .deletedKeys(s, storePath) match {
      case Some(prior) => batch.join(
        prior.withColumnRenamed("key", "doc_id"), Seq("doc_id"),
        "left_anti")
      case None => batch
    }
    // intra-batch redelivery; judged AND grammed below — compute once
    val b = graft.Checkpointing.truncate(clean.dropDuplicates("doc_id"))
    // prior live grams: net-positive refcounts over every partition
    // EXCEPT this trigger's own (own-batch exclusion, see scaladoc)
    val hasData = graft.rel.Tombstones.populated(fs, storePath)
    val prior =
      if (!hasData) s.range(0).select(col("id").as("h"))
      else s.read.parquet(storePath)
        .filter(col("batch_id").cast("long") =!= batchId)
        .groupBy("h").agg(sum(col("c")).as("c"))
        .filter(col("c") > 0).select("h")
    writeSingleFile(graft.text.SubstrDedup.judgeAgainst(b, prior, w),
      verdictsPath, s"batch-$batchId.parquet")
    graft.text.SubstrDedup.writeGramStoreCounted(b, storePath, batchId, w)
  }

  /** Write `df` as exactly ONE deterministically-named parquet file via
    * tmp-dir + rename — the idempotence primitive of the substring
    * ingest (replay overwrites the same name with identical content).
    * Assumes atomic rename (HDFS / POSIX — same contract as the
    * signature store's compaction swap), enforced up front by
    * `requireAtomicRename` in `applySubstrIngestBatch`.
    */
  private[streaming] def writeSingleFile(df: DataFrame, dir: String,
      name: String): Unit = {
    val s = df.sparkSession
    val dirP = new org.apache.hadoop.fs.Path(dir)
    val fs = dirP.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.mkdirs(dirP)
    // sweep tmp dirs abandoned by crashed attempts (any name: a tmp dir
    // only lives inside one invocation)
    fs.listStatus(dirP).filter(st => st.isDirectory &&
        st.getPath.getName.startsWith(".tmp-"))
      .foreach(st => fs.delete(st.getPath, true))
    val tmp = new org.apache.hadoop.fs.Path(dirP, s".tmp-$name")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = fs.listStatus(tmp).map(_.getPath)
      .find(p => p.getName.startsWith("part-") &&
        p.getName.endsWith(".parquet"))
      .getOrElse(throw new IllegalStateException(
        s"no part file under $tmp"))
    val target = new org.apache.hadoop.fs.Path(dirP, name)
    if (fs.exists(target)) fs.delete(target, false) // replay: replace
    require(fs.rename(part, target), s"rename $part -> $target failed")
    fs.delete(tmp, true)
  }

  /** Semantic dedup at ingest — SemDeDup as a streaming sink, the
    * vector sibling of [[substrIngestStream]]: each micro-batch of
    * (vec_id, embedding) rows is leaf-assigned under a FROZEN cluster
    * tree (persisted by `SemDedup.writeTree` — the offline calibration
    * artifact, same contract as the ingest gate's frozen thresholds),
    * judged against the standing corpus's persisted ASSIGNMENTS, and
    * appended to them. Per-trigger cost: batch-sized assignment + the
    * batch × corpus cluster-keyed twin join — corpus never self-joined,
    * corpus text/vectors never re-clustered.
    *
    * Exactly-once: deterministic per-batch file names + own-batch
    * exclusion at judge time (the substring ingest's pattern verbatim —
    * a crash between the store append and the checkpoint commit would
    * otherwise re-judge batch N against its own stored vectors and
    * flip every verdict to duplicate), plus the `_lineage` fence
    * against fresh-checkpoint id restarts.
    */
  def semanticIngestStream(vecs: DataFrame, treePath: String,
      storePath: String, verdictsPath: String, threshold: Double = 0.97)
      : org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row] =
    lineageSink(vecs) { (batch, batchId, lineage) =>
      applySemanticIngestBatch(batch, batchId, treePath, storePath,
        verdictsPath, threshold, lineage)
    }

  /** One trigger of the semantic ingest — exposed so replay semantics
    * are testable exactly as they occur. */
  private[graft] def applySemanticIngestBatch(batch: DataFrame,
      batchId: Long, treePath: String, storePath: String,
      verdictsPath: String, threshold: Double, lineage: String): Unit = {
    val s = batch.sparkSession
    val fsp = new org.apache.hadoop.fs.Path(storePath)
    val fs = fsp.getFileSystem(s.sparkContext.hadoopConfiguration)
    requireAtomicRename(fs, s"semantic-dedup assignment store at $storePath")
    bindStoreLineage(s, storePath,
      s"semantic-dedup assignment store at $storePath", lineage)
    val own = s"batch-$batchId.parquet"
    val storeFiles = fs.listStatus(fsp).toSeq.filter(st => st.isFile &&
      st.getPath.getName.startsWith("batch-") &&
      st.getPath.getName != own)
    val tree = graft.sim.SemDedup.readTree(s, treePath)
    // intra-batch redelivery; assigned AND judged below — compute once
    val b = graft.Checkpointing.truncate(batch.dropDuplicates("vec_id"))
    // delete-before-arrival: an id tombstoned before its vector ever
    // landed must be neither judged nor stored (assign's output is
    // keyed `id`, the store's key)
    val batchAssigned = graft.rel.Tombstones.filterDeleted(
      graft.sim.SemDedup.assign(tree, b, "vec_id", "embedding"),
      "id", storePath)
    val corpusAssigned =
      if (storeFiles.isEmpty) batchAssigned.limit(0) // empty bootstrap
      // minus the tombstone log: a deleted id stops suppressing new
      // batches at the next trigger (deleteFromAssignmentStore below)
      else graft.rel.Tombstones.filterDeleted(
        s.read.parquet(storeFiles.map(_.getPath.toString): _*), "id",
        storePath)
    writeSingleFile(
      graft.sim.SemDedup
        .semanticDedupIncremental(corpusAssigned, batchAssigned, threshold)
        .withColumnRenamed("id", "vec_id"),
      verdictsPath, own)
    writeSingleFile(batchAssigned, storePath, own)
  }

  /** Key-level GDPR delete from the semantic-dedup assignment store
    * (DESIGN_upsert.md's doc-keyed class): tombstoned ids stop
    * suppressing future batches at the next trigger — the corpus read
    * in [[applySemanticIngestBatch]] anti-joins the adjacent log.
    * Verdicts already written are audit logs, not state; they are not
    * rewritten. Idempotent and replay-fenced like every delete batch. */
  def deleteFromAssignmentStore(keys: DataFrame, storePath: String,
      batchId: Long): Unit =
    graft.rel.Tombstones.applyDelete(keys, "id", storePath, batchId)

  /** Fold the tombstone log into the assignment store, PRESERVING the
    * batch-file layout the ingest reader expects (the generic
    * [[graft.rel.Tombstones.compact]] would rewrite the dir as a plain
    * parquet table, and the reader's batch-file listing would then
    * bootstrap empty) — the shared [[compactBatchFileStore]]
    * choreography. */
  def compactAssignmentStore(s: SparkSession, storePath: String): Unit =
    compactBatchFileStore(s, storePath, "id")

  /** The ONE fold choreography for the batch-FILE stores (semantic
    * assignments, audio features): survivors of every batch file
    * EXCEPT the newest collapse into a fresh
    * `batch-compacted-<gen>.parquet` generation, then the folded
    * sources delete, then the log shrinks.
    *
    * The NEWEST numbered batch file is deliberately left out of the
    * fold: it may belong to a trigger whose streaming checkpoint has
    * not committed yet, and folding it would defeat both the replay's
    * own-file name exclusion (its rows would hide inside the compacted
    * file and every doc would judge against its own vectors) and the
    * deterministic-name idempotence (the replay would re-append the
    * rows the fold already absorbed).
    *
    * Log shrink (r19 review — two bugs closed): tombstones are kept
    * while they still suppress a row in the un-folded newest file OR
    * while their key never arrived in ANY folded source — a
    * delete-BEFORE-arrival tombstone is the only thing standing
    * between a late-arriving deleted doc and the store (the ingest
    * paths' advertised guarantee), so routine maintenance must not
    * age it out. Only tombstones the fold fully APPLIED drop. The
    * key comparison aligns on the LOG's own key type — the previous
    * cast-to-long wiped the whole log for string-keyed stores.
    *
    * Crash discipline: the fold materializes and the compacted file
    * commits (tmp + rename, [[writeSingleFile]]) BEFORE any source
    * file deletes. The compacted file takes a FRESH generation name
    * (r19 review): overwriting `batch-compacted.parquet` in place
    * paid writeSingleFile's delete-then-rename replace window while
    * the old compacted file was itself a fold SOURCE — a crash inside
    * it destroyed the only copy of every previously-folded row (the
    * next run's tmp sweep deletes the survivor). A fresh name renames
    * onto nothing, and the superseded generation deletes with the
    * other sources only after the new one committed. The window
    * between the compacted write and the source deletes double-lists
    * rows; the fold is `dropDuplicates()` over identical copies, so a
    * RE-RUN converges (the AggStore crash-window recovery shape).
    * Single maintenance owner, quiesced, as for every store rewrite. */
  private def compactBatchFileStore(s: SparkSession, storePath: String,
      keyCol: String): Unit =
    graft.rel.Tombstones.deletedKeys(s, storePath).foreach { _ =>
      val fsp = new org.apache.hadoop.fs.Path(storePath)
      val fs = fsp.getFileSystem(s.sparkContext.hadoopConfiguration)
      val logP = graft.rel.Tombstones.logPath(storePath)
      // finish an interrupted log swap FIRST (r19 review): the shrink
      // below reads the log dir directly, and mid-swap only the
      // staged `_next` set exists — the read would abort the
      // choreography halfway until an unrelated applyDelete recovered
      graft.rel.TombstoneLog.recoverSwap(fs, logP, logP + "_next")
      val files = fs.listStatus(fsp).toSeq.filter(st => st.isFile &&
        st.getPath.getName.startsWith("batch-"))
      val num = "batch-(\\d+)\\.parquet".r
      val ids = files.flatMap(st => st.getPath.getName match {
        case num(i) => Some(i.toLong -> st); case _ => None
      })
      val newest = ids.sortBy(_._1).lastOption.map(_._2)
      val foldSet = files.filterNot(newest.contains)
      val log = s.read.parquet(logP)
      val kt = log.schema("key").dataType
      def keysOf(paths: Seq[String]) = s.read.parquet(paths: _*)
        .select(col(keyCol).cast(kt).as("key")).distinct()
      if (foldSet.nonEmpty) {
        // folded-source arrivals, materialized BEFORE the sources
        // delete — the shrink below needs them to tell an applied
        // tombstone from a delete-before-arrival fence
        val foldedKeys = graft.Checkpointing.truncate(
          keysOf(foldSet.map(_.getPath.toString)))
        // materialize before any file moves; dropDuplicates heals a
        // re-run over the crash window
        val survivors = graft.Checkpointing.truncate(
          graft.rel.Tombstones.filterDeleted(
            s.read.parquet(foldSet.map(_.getPath.toString): _*), keyCol,
            storePath).dropDuplicates())
        val gen = "batch-compacted-(\\d+)\\.parquet".r
        val nextGen = files.map(_.getPath.getName).foldLeft(0L) {
          case (m, gen(g)) => m max g.toLong
          case (m, _) => m
        } + 1L
        writeSingleFile(survivors, storePath,
          s"batch-compacted-$nextGen.parquet")
        foldSet.foreach(st => fs.delete(st.getPath, false))
        // drop ONLY the fully-applied tombstones: folded-and-gone
        // keys with no surviving row in the newest file; keys in the
        // newest file keep suppressing it, and keys that never
        // arrived keep fencing a future arrival
        val applied = newest.map(st =>
            foldedKeys.join(keysOf(Seq(st.getPath.toString)),
              Seq("key"), "left_anti"))
          .getOrElse(foldedKeys)
        val kept = graft.Checkpointing.truncate(
          log.join(applied, Seq("key"), "left_anti"))
        graft.rel.TombstoneLog.swapIn(kept, fs, logP, logP + "_next")
      }
      // nothing folded (≤ 1 batch file): no tombstone was applied, so
      // the log stays as-is — in particular a delete-before-ANY-
      // arrival log survives (the old code deleted it outright here)
    }

  /** Audio feature extraction at ingest — the multimodal × streaming
    * cell: each micro-batch of (clip_id, start_sec, pcm, sample_rate)
    * clips is framed and featurized
    * ([[graft.audio.SpectralFeatures]]: centroid/bandwidth/rolloff/
    * flatness/rms/zcr per STFT frame) and appended to a standing
    * per-frame feature store as ONE deterministic per-batch file —
    * decode-once semantics for audio that arrives continuously, the
    * same store contract as the gram/signature/assignment ingests:
    * exactly-once via deterministic file names (replay overwrites its
    * own file bit-for-bit), `_lineage`-fenced against fresh-checkpoint
    * restarts, tombstone-aware on both paths (delete-before-arrival:
    * a clip tombstoned before its audio ever lands is never
    * featurized into the store; reads anti-join the log).
    *
    * Scale shape: per-trigger cost is batch-sized decode + FFT — a
    * narrow per-clip flatMap, no shuffle, no state store; the standing
    * corpus is never re-read at ingest.
    */
  def audioFeatureIngestStream(clips: DataFrame, storePath: String,
      nFft: Int = 512, hop: Int = 256, idCol: String = "clip_id")
      : org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row] =
    lineageSink(clips) { (batch, batchId, lineage) =>
      applyAudioFeatureBatch(batch, batchId, storePath, nFft, hop,
        idCol, lineage)
    }

  /** One trigger of the audio feature ingest — exposed so replay
    * semantics are testable exactly as they occur. */
  private[graft] def applyAudioFeatureBatch(batch: DataFrame,
      batchId: Long, storePath: String, nFft: Int, hop: Int,
      idCol: String = "clip_id", lineage: String): Unit = {
    val s = batch.sparkSession
    requireAtomicRename(
      new org.apache.hadoop.fs.Path(storePath)
        .getFileSystem(s.sparkContext.hadoopConfiguration),
      s"audio feature store at $storePath")
    bindStoreLineage(s, storePath, s"audio feature store at $storePath",
      lineage)
    val own = s"batch-$batchId.parquet"
    // intra-batch redelivery + delete-before-arrival, both keyed on
    // the clip id BEFORE the (expensive) decode+FFT runs
    val b = graft.rel.Tombstones.filterDeleted(
      batch.dropDuplicates(idCol), idCol, storePath)
    val feats = graft.audio.SpectralFeatures.withFeatures(
        graft.audio.SpectralFeatures.frameSpectra(
          b, nFft, hop, idCol = idCol),
        nFft)
      .drop("ps") // the store keeps features, not raw spectra
    writeSingleFile(feats, storePath, own)
  }

  /** Read the standing feature store (all batches, minus tombstoned
    * clips). Empty-store bootstrap returns an empty relation with the
    * feature schema. */
  def audioFeaturesFromStore(s: SparkSession, storePath: String,
      idCol: String = "clip_id"): DataFrame = {
    val fsp = new org.apache.hadoop.fs.Path(storePath)
    val fs = fsp.getFileSystem(s.sparkContext.hadoopConfiguration)
    val files = if (fs.exists(fsp))
      fs.listStatus(fsp).toSeq.filter(st => st.isFile &&
        st.getPath.getName.startsWith("batch-")) else Seq.empty
    if (files.isEmpty)
      graft.audio.SpectralFeatures.withFeatures(
        graft.audio.SpectralFeatures.frameSpectra(
          s.createDataFrame(s.sparkContext
              .emptyRDD[org.apache.spark.sql.Row],
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField(idCol,
                org.apache.spark.sql.types.LongType),
              org.apache.spark.sql.types.StructField("start_sec",
                org.apache.spark.sql.types.DoubleType),
              org.apache.spark.sql.types.StructField("pcm",
                org.apache.spark.sql.types.BinaryType),
              org.apache.spark.sql.types.StructField("sample_rate",
                org.apache.spark.sql.types.IntegerType)))),
          idCol = idCol)).drop("ps")
    else graft.rel.Tombstones.filterDeleted(
      s.read.parquet(files.map(_.getPath.toString): _*), idCol,
      storePath)
  }

  /** Key-level GDPR delete from the audio feature store (doc-keyed
    * tombstone class): every frame of the clip disappears from reads
    * immediately; [[compactFeatureStore]] removes them physically. */
  def deleteFromFeatureStore(keys: DataFrame, storePath: String,
      batchId: Long, idCol: String = "clip_id"): Unit =
    graft.rel.Tombstones.applyDelete(keys, idCol, storePath, batchId)

  /** Fold the tombstone log into the feature store, preserving the
    * batch-file layout the ingest reader expects — the shared
    * [[compactBatchFileStore]] choreography (one implementation of
    * the newest-file exclusion + kept-log + crash discipline). */
  def compactFeatureStore(s: SparkSession, storePath: String,
      idCol: String = "clip_id"): Unit =
    compactBatchFileStore(s, storePath, idCol)

  case class UserRunning(userId: Long, nEvents: Long, totalValue: Double)

  /** Custom stateful op: running per-user totals via mapGroupsWithState
    * (the reference's "accumulate in event order" pattern, keyed state).
    */
  def runningUserTotals(events: Dataset[(Long, Double)])
      : Dataset[UserRunning] = {
    import events.sparkSession.implicits._
    events.groupByKey(_._1)
      .mapGroupsWithState[UserRunning, UserRunning](
        GroupStateTimeout.NoTimeout()) {
        case (uid, it, state: GroupState[UserRunning]) =>
          val prev = state.getOption.getOrElse(UserRunning(uid, 0L, 0.0))
          var n = prev.nEvents; var tot = prev.totalValue
          it.foreach { case (_, v) => n += 1; tot += v }
          val next = UserRunning(uid, n, tot)
          state.update(next)
          next
      }
  }
}
