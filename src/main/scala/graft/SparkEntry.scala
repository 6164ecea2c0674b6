package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Aggregates the named, oracle-checked queries from each operator family:
  *   - graft.rel.RelQueries — relational inventory (SURVEY §2.C–2.H, §2.K)
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Three-way join + aggregate + top-k (SURVEY §2.K) — the engine's
    * spine, with a guaranteed non-empty result at every scale factor.
    */
  def entry(spark: SparkSession): DataFrame =
    rel.RelQueries.q3TopRevenue(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    rel.RelQueries.queries ++ text.TextQueries.queries ++
      sim.SimQueries.queries ++
      // rows-only checked (not SQL-expressible): LSH/sketch/heuristic ops
      text.NearDup.queries ++ text.DedupClusters.queries ++
      text.Curation.queries ++ text.Mixing.queries ++
      text.TrainPrep.queries ++
      sim.LshKnn.queries ++ text.LangId.queries ++
      rel.ApproxQueries.queries ++ rel.Skew.queries ++
      ml.VoicePipeline.queries ++
      rel.CardinalityStore.queries ++
      sim.IvfKnn.queries ++ sim.PqKnn.queries ++ sim.Clustering.queries ++
      sim.IvfPq.queries ++ sim.IvfPqStore.queries ++ sim.SemDedup.queries ++
      sim.NswKnn.queries ++
      text.Scrub.queries ++ text.SubstrDedup.queries ++
      text.QualityRules.queries ++
      sources.ImageSource.queries ++
      sources.VideoSource.queries ++ text.Bpe.queries ++
      rel.Layout.queries ++ rel.KmvStore.queries ++ rel.Resample.queries ++
      rel.AggStore.queries ++ text.PrefixJoin.queries ++
      rel.QuantileStore.queries ++ audio.Src.queries ++
      text.Bm25.queries ++ text.BinPack.queries ++ sim.Sq8Knn.queries ++
      rel.Profiler.queries ++ text.PrioritySample.queries ++
      rel.Cms.queries ++ rel.Trend.queries ++ rel.Stats.queries ++
      text.Divergence.queries ++ audio.FeatureQueries.queries ++
      text.TextAugment.queries ++ text.Collocations.queries ++
      text.KneserNey.queries ++ rel.Expectations.queries ++
      rel.Drift.queries ++ text.Zipf.queries ++ rel.Outliers.queries ++
      rel.Forecast.queries ++ text.LmStore.queries ++
      rel.PageRank.queries ++ rel.Hits.queries ++ rel.Seasonal.queries ++
      sim.Mmr.queries ++ rel.LabelProp.queries ++ rel.Triangles.queries ++
      rel.GraphStore.queries ++ rel.KCore.queries ++
      rel.JoinView.queries ++ text.QuantileNorm.queries ++
      rel.Cusum.queries ++ sources.ImageDedup.queries ++
      audio.AudioDedup.queries ++ sources.VideoDedup.queries ++
      sources.MediaDedupStore.queries ++ sources.MediaClusterStore.queries ++
      text.Pipeline.queries ++ text.PipelineInc.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    rel.RelQueries.oracle ++ text.TextQueries.oracle ++
      sim.SimQueries.oracle ++
      // round-7 promotions: deterministic nq_* ops + exact-pair CC gain
      // hard DuckDB checks (salt-invariance, generated LangId scoring,
      // XXH64-replica sampling, recursive-CTE components)
      rel.Skew.oracle ++ text.LangId.oracle ++ text.Mixing.oracle ++
      text.DedupClusters.oracle ++
      // round-7 continued: exact-path curation (q64), deterministic
      // shuffle-shard (q65), bigram LM table (q66)
      text.Curation.oracle ++ text.TrainPrep.oracle ++
      // round-7 continued: PII redaction (q67), chunk-level exact dedup
      // (q68), and the Bloom-prefiltered decontamination (same oracle as
      // the exact form — the prefilter must be semantics-preserving)
      text.Scrub.oracle ++
      // round-8 promotions: the full columnar-minhash pipeline (FNV +
      // splitmix64 + KM banding + jaccard verify) replicated in DuckDB
      // promotes the whole banded family — nq_minhash_neardup and
      // nq_dedup_incremental here, plus nq_dedup_clusters /
      // nq_curation / nq_curation_stats through the DedupClusters and
      // Curation maps above (banded-reach oracles added round 8)
      text.NearDup.oracle ++
      // round-8 continued: substring-level cross-document dedup
      // (Lee et al. 2022 ExactSubstr shape) — q73
      text.SubstrDedup.oracle ++
      // round-8 continued: Gopher-rule quality gates (Rae et al. 2021)
      text.QualityRules.oracle ++
      // round-10 promotions: the generated-voice B7 cumsum transcript
      // and D1 interval labeling, oracle-checked against dumped inputs
      ml.VoicePipeline.oracle ++
      // round-10 continued: the approximate-kNN family — each variant's
      // exact-re-rank tail re-run by DuckDB over its dumped candidate/
      // shortlist pairs (q30's proven cosine-precision contract)
      sim.IvfKnn.oracle ++ sim.PqKnn.oracle ++ sim.IvfPq.oracle ++
      sim.IvfPqStore.oracle ++
      // round-10 continued: SemDedup's within-leaf verdicts over dumped
      // assignments, and the CCNet approx-bucket assignment over the
      // dumped GK thresholds (both engine-specific halves stay
      // spec-pinned)
      sim.SemDedup.oracle ++ sim.Clustering.oracle ++ sim.LshKnn.oracle ++
      // round-10 continued: the multimodal feature tails — channel
      // means / integer-luma histograms / per-frame means re-aggregated
      // by DuckDB over dumped decoded pixels (the codec half ships as
      // inputs)
      sources.ImageSource.oracle ++ sources.VideoSource.oracle ++
      // round-10 continued: the KMV theta-sketch family — deterministic
      // given the (DuckDB-replicated) xxhash64, so distinct AND
      // set-intersection estimates hash-check end to end
      rel.ApproxQueries.oracle ++
      // round-10 continued: the learned-BPE corpus-application tail
      // (tokenize → type join → per-doc aggregate) over the dumped
      // per-type subword counts
      text.Bpe.oracle ++
      // round-10 continued: the z-order layout's Morton mapping —
      // exact integral quantization + bit interleave in both engines
      rel.Layout.oracle ++
      // round-10 continued: the KMV store's cross-batch intersection
      // estimates — merged-store ≡ monolithic is exact for KMV, so the
      // oracle recomputes straight from raw events via the XXH64
      // replica
      rel.KmvStore.oracle ++
      // round-11 promotion: the HLL cardinality store's MERGE — DuckDB
      // re-runs the register-wise max over dumped per-batch register
      // pairs; the estimator tail stays spec-pinned
      rel.CardinalityStore.oracle ++
      // round-11 promotion: bin packing — per-bin aggregate rebuilt by
      // DuckDB from the dumped assignment, guarded by the packing
      // invariants (membership, capacity, oversize-singleton, dense
      // ids); only the sequential BFD choice stays spec-pinned
      text.BinPack.oracle ++
      // round-10 continued: resample + linear gap interpolation — the
      // whole chain is exact arithmetic over round-6 bucket means
      rel.Resample.oracle ++
      // round-10 continued: the small-world-graph kNN's exact re-rank
      // tail over its dumped beam candidates (the ANN-family pattern)
      sim.NswKnn.oracle ++
      // round-10 continued: the exact aggregate store — merged batch
      // partials vs one raw-table GROUP BY (cents-decimal sums are
      // associative, so the store path must match bit-for-bit)
      rel.AggStore.oracle ++
      // round-10 continued: the prefix-filtered exact similarity join —
      // same naive-SQL oracle shape as q25, at the high threshold
      text.PrefixJoin.oracle ++
      // round-10 continued: the KLL quantile family — n_rows is EXACT
      // (weight conservation) and checked against the raw tables; the
      // quantile tail re-runs in DuckDB over the dumped sketch items
      rel.QuantileStore.oracle ++
      // round-10 continued: the sample-rate converter — windowed-sinc
      // output dumped as micro-unit integers, DuckDB re-runs the
      // integer aggregation tail (the image-decode pattern)
      audio.Src.oracle ++
      // round-10 continued: BM25 ranked retrieval — integer counts
      // through one fixed double expression tree, replicated verbatim
      text.Bm25.oracle ++
      // round-10 continued: SQ8 kNN — the ANN-family re-rank oracle
      // over its dumped shortlist
      sim.Sq8Knn.oracle ++
      // round-10 continued: the table profiler — per-column stats in
      // one pass, oracle = schema-generated UNION ALL branches
      rel.Profiler.oracle ++
      // round-10 continued: priority sampling — the XXH64 replica feeds
      // an all-exact u/priority/τ/ŵ double chain, and the naive window
      // form re-proves the bounded-heap selection every round
      text.PrioritySample.oracle ++
      // round-10 continued: count-min frequency estimates — all
      // small-integer arithmetic off the XXH64 replica, bit-exact
      rel.Cms.oracle ++
      // round-10 continued: per-group OLS — exact decimal moments, one
      // fixed double tail, bit-green incl. slope/intercept/r²
      rel.Trend.oracle ++
      // round-10 continued: χ² cells (pure fixed trees over exact
      // counts) and per-source KL divergence (q86's round-6 sum
      // convention over fixed-tree contributions)
      rel.Stats.oracle ++ text.Divergence.oracle ++
      // round-11: the audio feature pack — spectral descriptors /
      // MFCC deltas / SpecAugment masks, each re-derived by DuckDB
      // from dumped spectra, DCT inputs, and drawn masks (the nq_mfcc
      // sequential-list-op discipline; the mask oracle is exact with
      // no rounding at all)
      audio.FeatureQueries.oracle ++
      // round-11: seeded word dropout — the whole op (tokenize, key,
      // xxhash64, keep/drop, ordered re-join) re-runs in DuckDB from
      // the raw documents table via the step-exact XXH64 replica; no
      // dumped inputs at all (the q65/q69/q74 oracle tier)
      text.TextAugment.oracle ++
      // round-11: PMI collocations (word2phrase) — another zero-dump
      // oracle: DuckDB re-tokenizes and re-runs the shared-order
      // ln(c_xy·NU²/(c_x·c_y·NB)) tree from the raw documents table
      text.Collocations.oracle ++
      // round-11: interpolated Kneser-Ney trigram LM (train + held-out
      // backoff scoring) — zero-dump: DuckDB re-derives the trigram
      // type table, continuation counts, and discounts from the raw
      // documents table and re-runs the identical probability tree
      text.KneserNey.oracle ++
      // round-11: Deequ-style expectation suite — fused one-scan
      // constraint aggregates + anti-join referential checks, rebuilt
      // verbatim by DuckDB as a UNION ALL over the same expressions
      rel.Expectations.oracle ++
      // round-11: PSI drift monitor — per-bin shared-order trees over
      // exact counts, the generated bin frame keeps empty bins
      rel.Drift.oracle ++
      // round-11: Zipf-law vocabulary fit (ln-ln OLS, round-4 per the
      // q93 unordered-double-sum convention)
      text.Zipf.oracle ++
      // round-11: median/MAD modified z-score outliers (both engines
      // flag on the identical ROUNDED score)
      rel.Outliers.oracle ++
      // round-11: Holt exponential smoothing — the recursive-CTE
      // oracle replays the identical recurrence tree (complements
      // spelled as 1.0 − α on both sides, never collapsed literals)
      rel.Forecast.oracle ++
      // round-11: the LM count store — served model must reproduce
      // q98's monolithic oracle verbatim (the q81 shared-SQL pattern)
      Map("nq_lm_store" -> text.KneserNey.oracle("q98_kneser_ney")) ++
      // round-12: link-graph PageRank — unrolled 5-iteration recurrence
      // rebuilt verbatim by DuckDB over the same synthetic citation
      // edges (round-6 absorbs partial-sum order, the q93 convention)
      rel.PageRank.oracle ++
      // round-12: HITS hub/authority over the same citation graph
      // (unrolled L1-normalized half-steps, same oracle discipline)
      rel.Hits.oracle ++
      // round-12: classical seasonal decomposition — ×24 fixed-point
      // keeps every unordered sum exact dyadic, so the compare is
      // bit-exact before the display round
      rel.Seasonal.oracle ++
      // round-12: MMR diverse selection — the oracle replays the
      // unrolled 10-step greedy over the dumped relevance/sim doubles
      // (bit-identical argmax chain, ties to the smaller id)
      sim.Mmr.oracle ++
      // round-12: label-propagation communities — all-integer
      // recurrence, EXACT oracle (no rounding tier)
      rel.LabelProp.oracle ++
      // round-12: triangle counts + clustering coefficient — ordered
      // wedge-closing join, integer-exact with one fixed-tree double
      rel.Triangles.oracle ++
      // round-12: the persisted edge store — PageRank off the store
      // read after a keyed edge deletion, judged through the rank
      // vector against the same-predicate WHERE in DuckDB
      rel.GraphStore.oracle ++
      // round-12: k-core membership by bounded peeling — all-integer,
      // exact oracle (the LabelProp tier)
      rel.KCore.oracle ++
      // round-12: incremental join-view maintenance — fact batches +
      // a store-local dimension move vs a from-scratch join over the
      // MODIFIED dimension (exact cents algebra)
      rel.JoinView.oracle ++
      // round-12: cross-group quantile normalization — integer ranks
      // through one fixed interpolation tree, replicated verbatim
      text.QuantileNorm.oracle ++
      // round-13: CUSUM changepoint detection — exact hourly cents,
      // fixed moment trees, and the sequential recurrence replayed by
      // a recursive CTE (the nq_holt discipline)
      rel.Cusum.oracle ++
      // round-13: perceptual image near-dup — integer-luma dHash bits,
      // banded hamming join; DuckDB re-derives bits, pairs, and
      // distances from the dumped 9×9 grids (the image-decode pattern)
      sources.ImageDedup.oracle ++
      // round-13: perceptual audio near-dup — spectral time-gradient
      // fingerprint over dumped energy grids, same banded machinery
      audio.AudioDedup.oracle ++
      // round-13: cross-video frame reuse — per-frame dHash through
      // the demuxer, image oracle verbatim over packed frame ids
      sources.VideoDedup.oracle ++
      // round-14: the persisted perceptual-fingerprint store — the
      // incremental batch-judge union and the post-erasure store read
      // are judged against the three one-shot oracles verbatim
      // (prefixed CTEs, modality-tagged union); keyframe video dedup's
      // selection + pairs re-derived from the dumped all-frame grids
      sources.MediaDedupStore.oracle ++
      // round-15: standing cluster assignments maintained by per-batch
      // label union-find — the store read re-proves the one-shot
      // recursive-CTE connected components verbatim
      sources.MediaClusterStore.oracle ++
      // r18: the composed end-to-end curation pipeline — the stage
      // oracles' shared CTE bodies recomposed verbatim
      text.Pipeline.oracle ++
      // r19: the INCREMENTAL pipeline through the standing stores —
      // three at-ingest prefix chains under one append-only pack window
      text.PipelineInc.oracle
}
