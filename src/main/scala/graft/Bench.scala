package graft

/** Benchmark main (driver contract): runs the headline queries on
  * SPARK_GRAFT_SF_DIR at local[N], prints ONE JSON line
  * {"metric":...,"value":N,"unit":"sec","queries":{...},"sf":...}.
  *
  * Queries are fully materialized through the `noop` sink — every column
  * is computed (a bare .count() would let Catalyst prune the world).
  * One small warmup query runs first so JIT/codegen/session setup isn't
  * billed to the first measured query. Per-query value = median of 3
  * un-memoized runs (see the comment at the measurement loop).
  */
object Bench {

  /** Headline set: the scale-relevant operators (joins, aggs, windows,
    * sessionization, dedup, ANN) — ML-training and generated-data
    * pipelines are excluded (they benchmark MLlib, not this engine).
    */
  val headline: Seq[String] = Seq(
    "q01_pricing_summary", "q02_filter_project", "q03_top_revenue",
    "q04_late_ship_priority", "q05_nation_revenue", "q06_forecast_revenue",
    "q08_top_orders_per_customer", "q09_rollup", "q11_distinct_counts",
    "q12_interval_join", "q13_running_total", "q14_json_extract",
    "q15_hourly_events", "q16_sessionize", "q23_dedup_exact",
    "q25_neardup_jaccard", "q30_knn_exact", "nq_lsh_neardup",
    // r14: nq_approx_distinct left the set — its contract row became
    // the INVARIANT-ORACLE form (sketch + exact distincts + bound
    // booleans, ~1.8 s at sf0.1: a verification tax, not an operator
    // cost). The sketch-scan shape stays benched through nq_profile's
    // per-column HLL distincts; the exact-distinct shape through q11.
    "nq_minhash_neardup",
    // LLM-pipeline composites: regressions in connected components,
    // end-to-end curation, and IVF ANN must show up in the bench, not
    // only in specs
    "nq_dedup_clusters", "nq_curation", "nq_ivf_knn",
    // round-4 text additions: vocabulary aggregate + repetition scoring
    // (the two heaviest new text shapes)
    "q59_vocab_topk", "q62_repetition",
    // round-7: the two heaviest previously un-benched shapes — the
    // union + RANGE-window as-of join and the full IVF-PQ ANN composite
    // (train + encode + ADC + re-rank); regressions here must show up
    // in the bench, not only in specs
    "q44_asof_join", "nq_ivfpq_knn",
    // round-7 continued: corpus-wide chunk dedup (the heaviest new text
    // shape) and BOTH decontamination forms — benching exact and Bloom-
    // prefiltered side by side keeps the prefilter's win (or any
    // regression of it) visible every round
    "q68_chunk_dedup", "nq_contamination", "nq_contamination_bloom",
    // round-7 continued: heavy hitters — the sketch-prefilter + exact
    // verify shape (two corpus scans, tiny shuffle) must stay visibly
    // cheaper than the full-vocabulary shuffle it replaces (q59) — and
    // LM scoring, the heaviest applied-text shape (bigram build on both
    // the reference split and the scored corpus + the LM equi-join)
    "q70_heavy_hitters", "q71_lm_score",
    // round-8: substring-granular dedup — the stride-1 gram explosion is
    // BY FAR the heaviest text shape (~1 gram row per corpus token), so
    // its cost and any plan regression must be visible every round; and
    // temperature mixing, whose count-pass + broadcast-rate + narrow
    // filter should stay near scan speed (a cheap query benched as a
    // canary: if it ever grows a corpus-sized shuffle, the number jumps)
    "q73_substr_dedup", "q74_temperature_mix",
    // round-8 continued: the two new composite shapes whose cost
    // profiles differ from anything already benched — the per-language
    // tercile ranking stacked on the LM-score pipeline (q77) and the
    // ingest-time substring dedup (q79: batch grams + store semi-join,
    // NOT the full corpus-wide winners aggregate)
    "q77_ccnet_buckets", "q79_substr_incremental",
    // round-9: the heaviest still-un-benched shapes join, per the r7
    // precedent — the span-CUT output (q73's chain + per-doc array
    // surgery), the auto-k semantic dedup composite (k-means tree +
    // within-leaf pair scoring), the HLL cardinality store merge, and
    // the custom bounded-top-k aggregate vs q08's window form
    "q76_substr_cut", "nq_semantic_dedup", "nq_card_store", "q80_topk_agg",
    // round-10: the store/incremental paths, previously invisible to
    // the bench. These three measure the per-search / per-batch cost
    // against a STANDING artifact (IVF-PQ index, fitted cluster tree,
    // persisted gram store): the one-time build is charged to each
    // store's first invocation and excluded by the median-of-3 — that
    // amortization IS the operators' contract (build once / serve
    // many), unlike the result-memoization clearMemo() guards against
    "nq_ivfpq_store", "nq_semantic_dedup_inc", "q81_substr_stored",
    // round-10 continued: the KMV theta-sketch pair — per-group
    // k-bounded distinct sketches and the sketch-only set-intersection
    // estimate (the capability HLL lacks); both ride one shingle-hash
    // pass + an ObjectHashAggregate whose exchange carries ≤ k longs
    // per (group, partition)
    "nq_kmv_distinct", "nq_kmv_intersect",
    // round-10 continued: learned-BPE end to end — type-table extract,
    // driver-side merge learning over the bounded type table, distinct-
    // word encode + corpus join-back
    "q82_bpe_stats",
    // round-10 continued: the z-order Morton mapping + total order —
    // the write-side layout pass (quantize + interleave fold + range
    // sort)
    "nq_zorder",
    // round-10 continued: the KMV store's cross-batch intersection read
    // path (persisted per-batch sketches, union-truncate merge,
    // sketch-only pairwise overlap; store build amortized like the
    // other store entries)
    "nq_kmv_store",
    // round-10 continued: resample + linear gap interpolation — dense
    // per-key spine + two ignoreNulls windows, exact micro-unit
    // arithmetic
    "q84_gapfill",
    // round-10 continued: the small-world-graph kNN — per-shard NSW
    // build (embarrassingly parallel) + broadcast-query beam walks +
    // exact re-rank of the ≤ P·ef candidate union — plus its
    // persisted-store search path (build amortized, the store-family
    // contract)
    "nq_nsw_knn", "nq_nsw_store",
    // round-10 continued: the exact aggregate store (5-batch partials +
    // merge — a cheap canary: if the store path ever grows a raw-table
    // rescan, the number jumps) and the prefix-filtered exact
    // similarity join (high-threshold candidate volume must stay
    // prefix-sized, not inverted-index-sized)
    "nq_agg_store", "q85_prefix_join",
    // round-10 continued: the KLL quantile-sketch pair — the one-shot
    // sketch pass (per-group O(k log n) state, ObjectHashAggregate
    // exchange) and the store's merged-read path (re-feed of persisted
    // weighted items; build amortized, the store-family contract)
    "nq_kll_quantiles", "nq_kll_store",
    // round-10 continued: BM25 ranked retrieval — the posting-list
    // shape (query-term filter BEFORE the tf aggregate) must keep this
    // at scan speed; a vocabulary-sized shuffle would show up here —
    // and the BFD bin packer, whose per-(lang, shard) sequential group
    // work must stay shard-bounded
    "q86_bm25", "nq_pack_bins",
    // round-10 continued: the SQ8 flat-scan ANN tier — the byte-kernel
    // code scan must stay cheaper than the float scan it compresses —
    // and the table profiler's SCALE form (HLL distincts, one
    // aggregate job, no EXPAND; the exact q87 form stays contract-only:
    // its EXPAND×columns cost is the documented price of exactness,
    // ~5.7 s at sf0.1 vs ~3.7 s approx — both one scan, the gap is
    // the 11× input multiplication)
    "nq_sq8_knn", "nq_profile",
    // round-10 continued: priority sampling — the k+1-bounded heap
    // aggregate must keep this at scan speed (a window fallback or a
    // second scan for τ would double it)
    "q88_priority_sample",
    // round-10 continued: count-min frequency estimates — the
    // explode-by-depth must partial-aggregate down to depth·width
    // counters map-side (a KB exchange) and the probe join must stay
    // broadcast; a row-sized shuffle here would jump the number
    "q89_cms_freq",
    // round-10 continued: the OLS trend aggregate — two broadcast
    // dimension joins + two map-side-combined aggregates; a shuffled
    // dimension join or a row-sized moment exchange would jump it
    "q90_trend_ols",
    // round-10 continued: time-weighted average — one series-key
    // exchange and an O(1)-state window; a global-sort window (no
    // partition key) or a second exchange would jump it
    "q91_twa",
    // round-10 continued: χ² cells (corpus-count aggregate + tiny
    // grid joins — a canary near scan speed) and domain KL (the
    // tokenize + two-level count shape; a vocabulary-sized broadcast
    // regression or a second corpus scan would jump it)
    "q92_chi2_cells", "q93_domain_kl",
    // round-10 continued: the hopping-window aggregate — the ×4
    // window expansion must partial-aggregate map-side (an exchange
    // carrying events×4 rows would jump it) — and retention cohorts,
    // one user-keyed aggregate + a cells-sized re-aggregate
    "q94_hopping_windows", "q95_retention_cohorts",
    // round-10 continued: session path analysis — one user-keyed
    // window + session-bounded list aggregation; a corpus-sized
    // collect or unkeyed window would jump it
    "q96_session_paths",
    // round-11: Zipf vocabulary fit — one corpus scan to type counts
    // + a topK-capped single-reducer rank over the vocabulary; a
    // corpus-sized window or second scan would jump it (~0.35 s
    // median, inside the ≤0.5 s headroom budget; the round's other
    // additions run 0.6-2.5 s and stay Verify-contract-only per the
    // BASELINE.md policy)
    "nq_zipf",
    // round-12: seasonal decomposition (one series-key exchange + a
    // 24-slot aggregate — a window-shape canary at ~0.4 s) and the
    // aggregate store's AS-OF snapshot read (~0.23 s: if batch_id
    // partition pruning ever breaks into a full-store scan + filter,
    // this number jumps). q101_pagerank/q102_hits stay Verify-only:
    // 2.6/4.7 s medians — iteration-count-bound scheduling overhead at
    // local scale, outside the ≤0.5 s budget (BASELINE.md policy)
    "q103_seasonal", "nq_agg_asof",
    // round-12 continued: the incremental join-view read (~0.41 s —
    // a fine-grain-to-report re-aggregate over the store alone; a
    // fact-table rescan sneaking into the read path would jump it)
    "nq_join_view",
    // round-13: the store-backed quantile calibration read (~0.35 s
    // with the standing sketches memoized — the zero-shuffle ingest
    // path: batch × broadcast binary searches; a window or a corpus
    // rescan sneaking in would jump it). The summary-line change made
    // the stdout tail size-invariant, so additions no longer risk the
    // r10/r11 truncation; the ≤0.5 s budget still applies
    "nq_qnorm_store",
    // round-15: the media fingerprint store's SERVING path — judge one
    // precomputed-fingerprint batch (~2.4k) against the standing store
    // (~48k, memoized build amortized per the store-entry convention):
    // the ×28 block-pair broadcast into one column-pruned store scan +
    // the within-batch self-join. ~1.0-1.2 s at sf0.1 — a DOCUMENTED
    // exception to the ≤0.5 s budget (BASELINE.md): the cost is the
    // serving join's fixed pipeline (broadcast build, candidate
    // distinct, guard count), not data volume; shrinking the corpus
    // further would bench scheduling noise instead of the operator the
    // entry exists to watch. A store shuffle or a fence break would
    // jump it far past this floor
    "nq_media_judge",
    // round-16: the cluster store's MERGE serving path — one
    // precomputed-pairs merge (an idempotent batch-19 replay against
    // the memoized standing assignments) + the standing-assignment
    // read. Watches the per-batch maintenance cost the judge entry
    // cannot: an accidental corpus-sized resolve, a remap-closure
    // rescan, or a read shuffle jumps this number
    "nq_cluster_merge")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.start()

    def runOne(name: String): Double = {
      // bypass cross-call memoization (DedupClusters/Curation checkpoint
      // their results for Verify, which legitimately reuses them) — every
      // timed run must execute the FULL pipeline, or best-of-2 reports the
      // cost of re-reading a checkpoint instead of the operator
      text.DedupClusters.clearMemo()
      text.Curation.clearMemo()
      // and drop the SQL cache: queries that .cache() intermediates
      // (q25's shingle relations, nq_minhash_neardup) would otherwise
      // have run b's identical analyzed plan substituted with run a's
      // InMemoryRelations by the CacheManager — best-of-2 would report
      // the cost of scanning cached blocks, not the operator (and the
      // pinned blocks would squat executor memory for every later query)
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      try SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getClass.getName}: " +
          s"${e.getMessage}")
        return -1.0
      }
      (System.nanoTime() - t0) / 1e9
    }

    runOne("q06_forecast_revenue") // warmup: session + codegen + parquet footer

    // median-of-3 (round 8, replacing best-of-2): the machine's ambient
    // band is ±8%, and the round-7 honest-timing change (per-run
    // clearMemo + clearCache) removed the memoized floor that used to
    // damp it — a best-of-2 can still land 8% hot on both runs, masking
    // real ~20% regressions in the heavy queries. The median of 3 is
    // robust to one outlier in either direction. Failed runs are
    // excluded; all-failed reports -1.
    val results = headline.map { n =>
      val runs = Seq(runOne(n), runOne(n), runOne(n)).filter(_ >= 0).sorted
      // true median: with an even survivor count (one failed run) the
      // middle pair is averaged — runs(size/2) alone would report the
      // LARGER of 2 survivors, biasing a flaky query pessimistically
      n -> (runs.length match {
        case 0 => -1.0
        case n2 if n2 % 2 == 1 => runs(n2 / 2)
        case n2 => (runs(n2 / 2 - 1) + runs(n2 / 2)) / 2.0
      })
    }
    val full = fullLine(results, sfDir)
    // the full per-query line goes to a FILE (unbounded growth is fine
    // there); documented in README: SPARK_GRAFT_BENCH_OUT
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", DefaultBenchOut)
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(out),
      (full + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $out: ${e.getMessage}")
    }
    spark.stop()
    // print LAST, after spark.stop()'s log flood: with build.sbt's
    // `run / outputStrategy := StdoutOutput` the forked JVM inherits the
    // real stdout, so these are bare un-prefixed lines (sbt's default
    // LoggedOutput would stamp them "[info] ", defeating line-oriented
    // JSON parsing driver-side — BENCH_r02 "parsed": null).
    //
    // The full per-query line prints FIRST (informational — intact in
    // bench_out.json regardless); the driver's parse target is the
    // SUMMARY line below, printed last: the driver keeps only the last
    // 2000 chars of stdout, and at 72 entries the full line (~1810
    // chars even at 3 dp) was ~5 entries from outgrowing that window
    // again (the BENCH_r10/r11 "parsed": null failure mode). The
    // summary's length is INVARIANT in the headline-set size (~140
    // chars + the sf path), so growth can never truncate it.
    println(full)
    println(summaryLine(results, sfDir, out))
    System.out.flush()
  }

  /** ROOT-locale fixed 3-decimal format: a comma-decimal default locale
    * would make the JSON line unparseable ("0,400"). 1 ms granularity
    * keeps the full line compact (see [[fullLine]]). */
  private[graft] def f3(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  /** JSON string escape for the two interpolated PATH fields (r18
    * review): a quote/backslash/control char in SPARK_GRAFT_SF_DIR or
    * SPARK_GRAFT_BENCH_OUT would otherwise break the driver's parse
    * of the summary line — the exact parsed:null class the summary
    * line exists to prevent (the Verify.q discipline). */
  private def jq(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** The full per-query JSON line — bench_out.json's single line. */
  private[graft] def fullLine(results: Seq[(String, Double)],
      sfDir: String): String = {
    val qs = results.map { case (k, v) => "\"" + k + "\":" + f3(v) }
      .mkString("{", ",", "}")
    s"""{"metric":"total","value":${f3(totalOf(results))},"unit":"sec","queries":$qs,"sf":${jq(sfDir)}}"""
  }

  /** One source of truth for the per-query output's default location —
    * run()'s env fallback and summaryLine's default must never drift. */
  private[graft] val DefaultBenchOut = "/root/repo/bench_out.json"

  /** The summary line Bench prints last: total + counts only, NO
    * per-query map — its length does not grow with the headline set, so
    * a 2000-char stdout tail can never truncate it (BenchLineSpec pins
    * the bound). `n_failed` counts the entries that failed every run:
    * the total leaves them out, so a query that starts failing would
    * otherwise read as a faster bench. Per-query values live in
    * `queriesFile` — the RESOLVED output path (SPARK_GRAFT_BENCH_OUT
    * may override the default, and the pointer must follow it). */
  private[graft] def summaryLine(results: Seq[(String, Double)],
      sfDir: String,
      queriesFile: String = DefaultBenchOut): String =
    s"""{"metric":"total","value":${f3(totalOf(results))},"unit":"sec","n_queries":${results.size},"n_failed":${results.count(_._2 < 0)},"queries_file":${jq(queriesFile)},"sf":${jq(sfDir)}}"""

  /** Sum over the entries that produced a time; failed ones (−1) are
    * counted by the summary's `n_failed` instead. */
  private[graft] def totalOf(results: Seq[(String, Double)]): Double =
    results.map(_._2).filter(_ >= 0).sum
}
