package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.rel.Stores

/** The INCREMENTAL composed curation pipeline — [[Pipeline]]'s
  * end-to-end semantics served through the STANDING stores (VERDICT
  * r18 tasks #1/#2): a real 100 TB crawl never re-runs the one-shot
  * pipeline per day; it judges each ARRIVING batch of documents
  * against the state its stores accumulated from every earlier batch,
  * emits the batch's verdict/pack relation, and ingests the batch —
  * all at batch cost, never rescanning corpus text.
  *
  * Per-batch judge state (one root, the family's fenced-batch layout):
  *  - `sigs/`   — MinHash signature store ([[NearDup.signatures]] rows
  *    + embedded banding params), `batch_id` partitions;
  *  - `cl/`     — the modality-generic cluster store
  *    ([[graft.sources.MediaClusterStore]]) under modality 'text' —
  *    the same standing assignments nq_text_clusters_inc maintains;
  *  - `grams/`  — the substring gram store (q81's path: distinct
  *    60-bit gram hashes), `batch_id` partitions;
  *  - `fps/`    — exact-dedup md5 fingerprints of every ingested doc;
  *  - `rates/`  — the FROZEN temperature-mix rate table (see
  *    [[freezeRates]]);
  *  - `packwm/` — per-(lang, shard) packed-token watermarks (the
  *    AggStore partials shape: one partial row per batch, read =
  *    group-sum over batches below the acting id);
  *  - `verdicts/` — the APPEND-ONLY verdict log: each batch's emitted
  *    relation under its `batch_id` partition, never revised.
  *
  * AT-INGEST semantics, stated precisely: batch b's verdicts equal the
  * one-shot pipeline run over the PREFIX corpus (every earlier batch ∪
  * batch b) restricted to batch b — because with id-ordered batches
  * (the ingest invariant: new docs get new ids) every stage's standing
  * state reproduces the prefix run's first-occurrence / cluster-min /
  * span / rate decisions exactly (the q79→q81 proof for grams, the
  * nq_text_clusters_inc invariant for clusters, the store semi-join ∨
  * batch-internal-min rule for exact fps, pure per-doc functions for
  * the gates and the frozen mix). For the FINAL batch the prefix IS
  * the corpus, so its verdict columns re-prove nq_pipeline_e2e's SQL
  * verbatim restricted to the batch. A LATER batch may still bridge
  * two standing clusters — the standing assignments merge (history
  * re-reads see the merged view), but the verdict LOG is append-only:
  * an emitted verdict is a served training decision and is never
  * retroactively renumbered.
  *
  * PACK-STABILITY CONTRACT (r18 task #2 — the one place the batch
  * entry's semantics did not transfer to serving): pack offsets are
  * APPEND-ONLY. Batch b's survivors pack AFTER the standing
  * high-water token offset per (lang, shard) — the `packwm/`
  * watermark, summed over batches < b — with the within-batch running
  * sum in doc_id order. An arriving batch therefore NEVER renumbers
  * any earlier doc's (pack_id, pack_offset): a training run that
  * already consumed shard N of pack P re-reads it bit-identically
  * forever. The oracle proves the property end-to-end: its cross-batch
  * pack window (ORDER BY b, doc_id) only reproduces the emitted
  * offsets if every batch's offsets continue exactly from the previous
  * batches' totals.
  *
  * FROZEN MIX RATES: the one-shot entry derives keep thresholds from
  * the corpus it processes; a serving pipeline cannot re-derive them
  * per batch (the verdict for one doc would depend on which batch it
  * arrived in). [[freezeRates]] persists the rate table ONCE from a
  * calibration corpus; every batch filters by the frozen thresholds —
  * a pure function of (doc_id, lang, table). The driver fixture
  * calibrates on its own corpus, which is what makes "store path ≡
  * one-shot run" provable; a production deployment recalibrates by
  * writing a new table between epochs. A lang absent from the frozen
  * table (or NULL) is mix_out — same inner-join semantics as
  * [[Mixing.temperatureMix]].
  *
  * Replay discipline: every store write is a `batch_id` dynamic
  * partition overwrite and every judge read fences `batch_id <
  * batchId`, so a crash retry UNDER THE SAME id is byte-idempotent
  * (its own partial partitions are fenced out of its reads and
  * overwritten by its writes; the cluster merge is idempotent by
  * [[graft.sources.MediaClusterStore.applyClusterBatch]]'s contract).
  * Re-judging an id below the log's max is refused loudly — the store
  * has moved past that state.
  *
  * Scale shape: per batch — batch-sized gram/signature/fp/gate work,
  * ONE 8-byte-key semi-join against the gram store, one banded probe
  * of the signature store, one narrow scan of the assignment store,
  * and broadcast joins against the domain-sized rate and watermark
  * tables. Nothing corpus-content-sized moves after ingest; the only
  * corpus-scale touches are the key columns the stores exist to hold.
  *
  * Correctness: nq_pipeline_inc carries a full rows+schema+hash
  * oracle — three at-ingest chains (the e2e oracle's stage CTE bodies
  * VERBATIM, corpus reads re-pointed at the batch's prefix) unioned
  * under the cross-batch append-only pack window.
  */
object PipelineInc {

  private def sigsPath(root: String) = s"$root/sigs"
  private def clPath(root: String) = s"$root/cl"
  private def gramsPath(root: String) = s"$root/grams"
  private def fpsPath(root: String) = s"$root/fps"
  private def ratesPath(root: String) = s"$root/rates"
  private def packWmPath(root: String) = s"$root/packwm"
  private def verdictsPath(root: String) = s"$root/verdicts"

  /** Freeze the temperature-mix rate table from a calibration corpus
    * (see the object doc) — must run once before the first
    * [[judgeAndIngest]]; overwriting installs a new epoch's rates. */
  def freezeRates(calibration: DataFrame, root: String): Unit =
    Mixing.temperatureRates(calibration, "lang", Mixing.q74Alpha)
      .coalesce(1) // domain-cardinality rows (the rate-table bound)
      .write.mode("overwrite").parquet(ratesPath(root))

  /** Fenced store read — partition-gated (the file-less-dir rule),
    * restricted to batches strictly below the acting id so a crash
    * retry never judges a batch against its own partial ingest. */
  private def readFenced(s: SparkSession, path: String,
      before: Long): Option[DataFrame] =
    if (!graft.rel.Tombstones.populated(s, path)) None
    else Some(s.read.parquet(path).filter(col("batch_id") < before))

  private def maxBatchId(s: SparkSession, path: String): Option[Long] =
    graft.rel.Stores.batchIds(new org.apache.hadoop.fs.Path(path)
        .getFileSystem(s.sparkContext.hadoopConfiguration), path)
      .maxOption

  /** Judge ONE arriving batch against the standing stores, persist its
    * verdict/pack relation under `batch_id`, and ingest the batch's
    * fingerprints/signatures/grams/watermark — the serving loop's unit
    * of work. Returns the emitted relation (also readable from the
    * log). `batch` columns: (doc_id, lang, text). */
  def judgeAndIngest(batch: DataFrame, root: String,
      batchId: Long): DataFrame = {
    val s = batch.sparkSession
    require(batchId >= 0, s"batch ids are non-negative (got $batchId)")
    maxBatchId(s, verdictsPath(root)).foreach(m => require(batchId >= m,
      s"batch $batchId arrives below the verdict log's high-water id " +
        s"$m — the stores already ingested past that state; re-judging " +
        "would fence out history it was judged with (retry the SAME id, " +
        "or continue above it)"))
    val ratesP = new org.apache.hadoop.fs.Path(ratesPath(root))
    require(ratesP.getFileSystem(s.sparkContext.hadoopConfiguration)
      .exists(ratesP),
      s"no frozen rate table under $root — run freezeRates(calibration, " +
        "root) before the first batch (the mix verdict must not depend " +
        "on which batch a doc arrived in)")

    // multi-consumer batch relation (gates, md5, signatures, grams,
    // mix) — truncate, not cache(), per the per-trigger lifecycle rule
    val b = graft.Checkpointing.truncate(
      batch.select("doc_id", "lang", "text"))

    // ---- stage 1: Gopher structural gates (pure per-doc)
    val gop = Pipeline.structuralGate(b)

    // ---- stage 2: exact dedup vs the standing fingerprint store.
    // Keeper iff the fp is unseen in every earlier batch AND the doc
    // is the batch-internal min id for its fp — with id-ordered
    // batches exactly the prefix corpus' min-id-per-md5 rule. (A NULL
    // text has a NULL fp on both engines; it never equi-joins or
    // groups with real fps, and the gopher gate drops it first either
    // way — same masking as the one-shot entry.)
    val fps = b.select(col("doc_id"), md5(col("text")).as("fp"))
    val standingFp = readFenced(s, fpsPath(root), batchId)
      .map(_.select("fp").distinct())
      .getOrElse(s.range(0).select(lit("").cast("string").as("fp")))
    val exact = fps
      .join(standingFp.withColumn("__seen", lit(1)), Seq("fp"), "left")
      .withColumn("is_exact_keeper",
        col("__seen").isNull &&
          col("doc_id") === min("doc_id").over(Window.partitionBy("fp")))
      .select("doc_id", "is_exact_keeper")

    // ---- stage 3: near-dup — banded pairs touching the batch from
    // the persisted signature store ((new × stored) ∪ (new × new)),
    // merged into the standing cluster assignments; the batch's docs
    // then read their prefix-corpus cluster minima
    val sigN = graft.Checkpointing.truncate(
      NearDup.signatures(b, 64, 4))
    val sigC =
      if (!graft.rel.Tombstones.populated(s, sigsPath(root)))
        sigN.limit(0)
      else NearDup.readSignatureStore(s, sigsPath(root), 64, 4)
        .filter(col("batch_id") < batchId)
    val pairs = NearDup.incrementalFromSignatures(sigC, sigN,
      threshold = 0.5, sorted = false)
    graft.sources.MediaClusterStore.applyClusterBatch(s,
      b.select(col("doc_id").as("media_id"), lit("text").as("modality")),
      pairs.select(lit("text").as("modality"),
        col("d1").as("id_a"), col("d2").as("id_b")),
      clPath(root), batchId)
    val clusters = graft.sources.MediaClusterStore
      .assignmentsFromStore(s, clPath(root))
      .filter(col("modality") === "text")
      .select(col("media_id").as("doc_id"), col("cluster_id"))
      .join(b.select("doc_id"), Seq("doc_id"), "left_semi")

    // ---- stage 4: substring cut vs the standing gram store (q81's
    // judge: batch grams + one 8-byte-key semi-join); kept tokens =
    // total minus merged-span coverage, the e2e cut's arithmetic
    val storeH = readFenced(s, gramsPath(root), batchId)
      .map(_.select("h"))
      .getOrElse(s.range(0).select(col("id").as("h")))
    val cut = SubstrDedup.judgeAgainst(b, storeH)
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") - col("n_dup_tokens")).as("n_tokens_kept"))

    // ---- stage 5: temperature mix by the FROZEN rate table
    val mixSel = b.select("doc_id", "lang")
      .join(broadcast(s.read.parquet(ratesPath(root))), Seq("lang"))
      .filter(pmod(xxhash64(col("doc_id"), lit(42L)), lit(1000000L)) <
        col("keep_thr"))
      .select(col("doc_id"), lit(true).as("mix_in"))

    val verdict = b.select("doc_id", "lang")
      .join(gop, "doc_id")
      .join(exact, "doc_id")
      .join(clusters, "doc_id")
      .join(cut, "doc_id")
      .join(mixSel, Seq("doc_id"), "left")
      .withColumn("reason", Pipeline.reasonCol)

    // ---- stage 6: APPEND-ONLY pack — base = the standing per-(lang,
    // shard) token watermark; within-batch running sum in doc_id order
    val survivors = verdict.filter(col("reason").isNull)
      .select(col("doc_id"), col("lang"),
        (col("doc_id") % lit(Pipeline.PackShards.toLong)).as("shard"),
        col("n_tokens_kept"))
    val base = readFenced(s, packWmPath(root), batchId)
      .map(_.groupBy("lang", "shard").agg(sum("toks").as("base_tok")))
    val w = Window.partitionBy("lang", "shard").orderBy("doc_id")
    val withBase = base match {
      case Some(bw) => survivors
        // watermark rows are (langs × shards)-sized — broadcast
        .join(broadcast(bw), Seq("lang", "shard"), "left")
        .withColumn("base", coalesce(col("base_tok"), lit(0L)))
      case None => survivors.withColumn("base", lit(0L))
    }
    val packed = withBase
      .withColumn("start_tok", col("base") +
        coalesce(sum("n_tokens_kept").over(w) - col("n_tokens_kept"),
          lit(0L)))
      .select(col("doc_id"), col("shard"),
        (col("start_tok") / Pipeline.PackSeqLen).cast("long")
          .as("pack_id"),
        (col("start_tok") % Pipeline.PackSeqLen).as("pack_offset"))

    // materialize the verdicts and the watermark partial against the
    // PRE-batch store state BEFORE the ingest writes below mutate it —
    // a lazy plan re-evaluated after the appends would self-dup
    val rel = graft.Checkpointing.truncate(
      verdict.select(col("doc_id"), col("lang"),
        col("reason").isNull.as("kept"), col("reason"))
        .join(packed, Seq("doc_id"), "left")
        .select(col("doc_id"), col("lang"), col("kept"), col("reason"),
          col("shard"), col("pack_id"), col("pack_offset")))
    val wmRows = graft.Checkpointing.truncate(
      survivors.groupBy("lang", "shard")
        .agg(sum("n_tokens_kept").as("toks")))

    // every write is batch-sized data: natural partitioning
    def write(rows: DataFrame, path: String): Unit =
      Stores.writeBatch(rows, path, batchId, singleFile = false)
    write(rel, verdictsPath(root))
    write(wmRows, packWmPath(root))
    // ingest the batch into the judge stores (all pure functions of
    // the batch text — replay under the same id overwrites itself)
    write(fps.select("fp").distinct(), fpsPath(root))
    write(SubstrDedup.batchGrams(b), gramsPath(root))
    write(NearDup.withStoreParams(sigN, 64, 4), sigsPath(root))
    rel
  }

  /** The standing verdict log — every batch's emitted relation, in
    * arrival order (append-only: historical rows never change). */
  def verdictLog(s: SparkSession, root: String): DataFrame = {
    require(graft.rel.Tombstones.populated(s, verdictsPath(root)),
      s"no verdict log under $root — no batch was ever judged here")
    s.read.parquet(verdictsPath(root))
  }

  /** Driver entry: the documents corpus arrives as 3 id-tercile
    * batches (the ingest invariant: new docs get new ids); each is
    * judged at arrival and the entry serves the full append-only log.
    * Rates are frozen from the fixture's calibration corpus — the
    * whole corpus, which is exactly what makes the per-batch oracle
    * chains re-prove the e2e SQL (see the object doc). */
  def nqPipelineInc(s: SparkSession, d: String): DataFrame = {
    val docs = graft.Tables.documents(s, d)
    // one standing store per immutable source dir (q81's memo policy):
    // the contract is judge-at-arrival / read-many, so repeated
    // invocations (Verify + any timing run) read the standing log
    val root = graft.FixtureMemo.store("pipelineinc", d) { p =>
      val r = p.toString
      val n = docs.count()
      freezeRates(docs, r)
      Seq((0L, n / 3), (n / 3, n * 2 / 3), (n * 2 / 3, Long.MaxValue))
        .zipWithIndex.foreach { case ((lo, hi), bi) =>
          judgeAndIngest(
            docs.filter(col("doc_id") >= lo && col("doc_id") < hi),
            r, bi.toLong)
        }
      r
    }
    verdictLog(s, root)
      .select("doc_id", "lang", "kept", "reason", "shard", "pack_id",
        "pack_offset")
      .orderBy("doc_id")
  }

  /** One at-ingest verdict chain: the e2e oracle's stage CTE bodies
    * VERBATIM with every corpus-reading CTE re-pointed at `pdocs`
    * (the prefix the stores held when the batch arrived) — EXCEPT the
    * mix CTEs, which keep reading the full corpus: the rate table is
    * frozen at calibration, not re-derived per batch. `lo` restricts
    * the emitted verdicts to the batch's own ids. */
  private def atIngestChain(hiExpr: Option[String],
      loExpr: Option[String]): String = {
    def pfx(sql: String) = sql.replace("FROM documents", "FROM pdocs")
    val pdocs = hiExpr match {
      case Some(h) => s"pdocs AS (SELECT * FROM documents WHERE doc_id < ($h))"
      case None => "pdocs AS (SELECT * FROM documents)"
    }
    val loWhere =
      loExpr.map(l => s"\nWHERE doc_id >= ($l)").getOrElse("")
    "WITH RECURSIVE " + pdocs + ",\n" +
      pfx(NearDup.bandedReachCtes).stripPrefix("WITH RECURSIVE ") +
      pfx(Curation.gateCoreCtes) +
      ",\n" + pfx(QualityRules.gopherCtesBody) +
      ",\n" + pfx(SubstrDedup.spanCtesBody) +
      ",\n" + Mixing.mixCtesBody +
      pfx(Pipeline.verdictCtesTail) +
      "\nSELECT doc_id, lang, reason, n_kept FROM verdict" + loWhere
  }

  /** The incremental oracle: three at-ingest chains (batch terciles,
    * each judged against its prefix) unioned, then ONE cross-batch
    * pack window in (batch, doc_id) order — the offsets only match
    * the emitted relation if every batch's offsets continue exactly
    * from the standing watermark (append-only proven), and batch 2's
    * chain is the e2e verdict SQL verbatim restricted to the batch
    * (its prefix is the whole corpus). */
  private lazy val nqPipelineIncSql: String = {
    val c1 = "SELECT count(*) // 3 FROM documents"
    val c2 = "SELECT count(*) * 2 // 3 FROM documents"
    val union = Seq(
      (0, atIngestChain(Some(c1), None)),
      (1, atIngestChain(Some(c2), Some(c1))),
      (2, atIngestChain(None, Some(c2))))
      .map { case (bi, c) => s"SELECT $bi AS b, * FROM (\n$c\n)" }
      .mkString("\nUNION ALL\n")
    s"""WITH allb AS (
       |$union
       |), packed AS (
       |  SELECT doc_id, doc_id % ${Pipeline.PackShards} AS shard,
       |    sum(n_kept) OVER (PARTITION BY lang, doc_id % ${Pipeline.PackShards}
       |                      ORDER BY b, doc_id)
       |      - n_kept AS start_tok
       |  FROM allb WHERE reason IS NULL
       |)
       |SELECT a.doc_id, a.lang, a.reason IS NULL AS kept, a.reason,
       |  p.shard,
       |  CAST(floor(p.start_tok / ${Pipeline.PackSeqLen}) AS BIGINT) AS pack_id,
       |  CAST(p.start_tok % ${Pipeline.PackSeqLen} AS BIGINT) AS pack_offset
       |FROM allb a LEFT JOIN packed p USING (doc_id)
       |ORDER BY a.doc_id""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "nq_pipeline_inc" -> (nqPipelineInc _))

  val oracle: Map[String, String] = Map(
    "nq_pipeline_inc" -> nqPipelineIncSql)
}
