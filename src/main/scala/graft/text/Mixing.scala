package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Corpus composition operators: domain mixing and benchmark
  * decontamination — the two gates between a curated corpus and a
  * training run.
  */
object Mixing {

  /** Deterministic weighted down-sampling per domain (here: language) —
    * "data mixing". Selection is a pure function of (doc_id, seed):
    * keep doc iff pmod(xxhash64(doc_id, seed), 10^6) < frac·10^6.
    * Unlike `sampleBy`/Bernoulli `sample` (whose per-partition RNG makes
    * the kept set depend on partition layout), a hash threshold yields
    * the SAME sample at any parallelism, supports reproducible
    * re-materialization, and needs no shuffle — it's a narrow filter.
    * Domains absent from `fractions` are dropped (fraction 0).
    */
  def domainMix(docs: DataFrame, domainCol: String,
      fractions: Map[String, Double], seed: Long = 42L): DataFrame = {
    // floor()ed INTEGER threshold (r18 review): comparing pmod against
    // the raw double frac·10^6 kept pmod == floor(frac·10^6) rows that
    // the oracle generator's truncated-long threshold drops — latent
    // while every recipe fraction is a multiple of 1e-6, divergent for
    // 1/3-style fractions (temperatureMix already floors)
    val frac = fractions.foldLeft(lit(0L)) { case (acc, (dom, f)) =>
      when(col(domainCol) === dom,
        lit(math.floor(f * 1000000.0).toLong)).otherwise(acc)
    }
    docs.filter(pmod(xxhash64(col("doc_id"), lit(seed)), lit(1000000L)) <
      frac)
  }

  /** Benchmark decontamination: per benchmark document, the fraction of
    * its word-3-gram shingles that appear ANYWHERE in the training
    * corpus. The corpus side is collapsed to DISTINCT shingle hashes
    * (8-byte keys — at 100 TB this is the big-but-linear side of one
    * semi-join keyed on the hash); the benchmark side is tiny by
    * definition. Docs with overlap ≥ `flagAt` are contaminated and must
    * be dropped from the corpus or the benchmark. EVERY benchmark doc
    * gets a verdict row; docs too short to shingle (< 3 tokens) carry
    * null overlap/contaminated — "unknown", not "clean" (the n-gram
    * method simply cannot judge them; screen them by exact match).
    */
  def contamination(corpus: DataFrame, benchmark: DataFrame,
      flagAt: Double = 0.8): DataFrame =
    verdicts(benchmark, NearDup.hashedShinglesOf(benchmark),
      NearDup.hashedShinglesOf(corpus).select("h").distinct(), flagAt)

  /** `contamination` with a broadcast Bloom prefilter on the corpus side
    * — the 100 TB execution shape. The exact form shuffles EVERY distinct
    * corpus shingle hash (linear in the corpus) into the semi-join even
    * though only hashes that also occur in the tiny benchmark can ever
    * match. Here the benchmark's distinct hashes (small by definition)
    * build a Bloom filter (distributed treeAggregate, constant driver
    * state), which is broadcast and applied as a narrow filter AT SCAN
    * SPEED on the corpus shingles — the corpus-sized shuffle shrinks to
    * (true overlap + fpp·corpus) rows. Bloom filters have no false
    * negatives and the exact join downstream removes the false
    * positives, so the output is IDENTICAL to `contamination` (same
    * oracle SQL; pinned in MixingSpec).
    *
    * Measured (`Scratch contam 50`, tools/Scratch.scala at commit
    * 15fbb0b; 225k docs): candidate shingle rows
    * admitted to the aggregation drop 11.7M → 262k (2.2%); actual
    * shuffle records written drop 1.39M → 65k (21× — the exact form's
    * partial aggregate already combines repeated shingles within
    * partitions, so the exchange shrinks by less than the raw
    * candidate ratio). Wall time at local[32] TIES the exact form —
    * with page-cached input both are scan-dominated, and a small hash
    * shuffle is free on one box. The prefilter is for the cluster
    * regime, where the corpus-side shuffle is network-bound TBs and a
    * 21× record reduction is the difference between a
    * network-saturating stage and a footnote.
    *
    * An exact broadcast hash-set would also work but costs ~8 bytes per
    * benchmark shingle; the Bloom at fpp=0.01 costs ~1.2 bytes — the
    * difference between an 80 MB and a 12 MB broadcast at a 10M-shingle
    * benchmark suite. The membership probe is a Scala UDF (not a codegen
    * expression) deliberately: the filter object lives in a broadcast
    * variable, which a Catalyst literal can't carry without embedding
    * megabytes into the plan string.
    */
  def contaminationBloom(corpus: DataFrame, benchmark: DataFrame,
      flagAt: Double = 0.8, fpp: Double = 0.01): DataFrame = {
    val s = corpus.sparkSession
    val benchSh = NearDup.hashedShinglesOf(benchmark)
    val benchH = benchSh.select("h").distinct()
    // two tiny jobs on the benchmark side: cardinality, then the filter
    // build (treeAggregate of fixed-size bit arrays)
    val n = math.max(benchH.count(), 1L)
    val bloom = benchH.stat.bloomFilter("h", n, fpp)
    val bc = s.sparkContext.broadcast(bloom)
    try {
      val mightMatch = udf((h: Long) => bc.value.mightContainLong(h))
      // localCheckpoint is EAGER: the corpus scan (the only consumer of
      // the broadcast) runs here, materializing just the prefiltered
      // distinct hashes (~overlap + fpp·corpus rows) — so the filter's
      // executor copies can be dropped immediately below instead of
      // lingering until the ContextCleaner happens to GC the UDF, which
      // in a long-lived driver accumulates broadcast blocks per call
      val corpusSh = NearDup.hashedShinglesOf(corpus)
        .filter(mightMatch(col("h"))).select("h").distinct()
        .localCheckpoint()
      verdicts(benchmark, benchSh, corpusSh, flagAt)
    } finally bc.unpersist() // not destroy(): refetchable if ever replayed
  }

  /** Temperature-flattened domain mixing — the multilingual-LM sampling
    * recipe (Conneau et al. 2020 "Unsupervised Cross-lingual
    * Representation Learning at Scale" §3.1; mT5 ships α=0.3): with
    * corpus domain shares p_i ∝ n_i, resample so the mix follows
    * q_i ∝ p_i^α. That means per-domain keep rate r_i ∝ n_i^(α−1),
    * normalized here so the RAREST domain is kept whole:
    * r_i = (n_min / n_i)^(1−α). α=1 reproduces the corpus unchanged;
    * α→0 flattens toward uniform across domains. Unlike `domainMix`,
    * the rates are derived FROM the data — no hand recipe.
    *
    * Selection is the same pure-function-of-(id, seed) hash threshold
    * as `domainMix`: keep iff pmod(xxhash64(id, 42), 10^6) <
    * floor(10^6 · r_i) — layout-independent, re-materializable, and
    * monotone in α (one hash draw per doc serves every temperature, so
    * the α=0.3 sample is a subset of the α=0.7 sample; spec-pinned).
    *
    * Scale shape: the count pass is one tiny aggregate reading ONLY the
    * domain column (domain-cardinality output); the min and the rate
    * table stay domain-sized and broadcast; the selection itself is a
    * narrow filter at scan speed. No corpus-sized shuffle anywhere.
    *
    * Cross-engine determinism (why the oracle is safe): n_min/n_i and
    * 10^6·pow(·) are the same IEEE operation sequence in both engines;
    * the exponent literal is interpolated from the SAME Scala double
    * (`(1.0 - alpha).toString` round-trips exactly), so both engines
    * evaluate pow at identical arguments. A last-ulp pow disagreement
    * could only flip the floor when 10^6·r_i sits within ~1e-10 of an
    * integer — and the exact-ratio cases where that happens (r_i = 1,
    * ratio a power of two) are exactly the ones pow computes exactly.
    */
  def temperatureMix(docs: DataFrame, domainCol: String, idCol: String,
      alpha: Double = 0.3): DataFrame =
    docs.join(broadcast(temperatureRates(docs, domainCol, alpha)), domainCol)
      .filter(pmod(xxhash64(col(idCol), lit(42L)), lit(1000000L)) <
        col("keep_thr"))

  /** The rate TABLE alone — (domain, keep_thr), derived exactly as
    * [[temperatureMix]] applies it (split out r19 so the incremental
    * pipeline can FREEZE the table at calibration time and serve
    * arriving batches against the persisted copy: the selection is a
    * pure function of (id, keep_thr), so a frozen table makes the mix
    * verdict batch-stable by construction). Domain-cardinality rows. */
  private[text] def temperatureRates(docs: DataFrame, domainCol: String,
      alpha: Double): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, s"alpha must be in (0,1]: $alpha")
    val counts = docs.groupBy(domainCol).agg(count(lit(1)).as("n_dom"))
    counts
      .crossJoin(counts.agg(min(col("n_dom")).as("n_min")))
      .select(col(domainCol),
        floor(lit(1000000.0) *
          pow(col("n_min").cast("double") / col("n_dom").cast("double"),
            lit(1.0 - alpha))).as("keep_thr"))
  }

  private[text] val q74Alpha = 0.3

  def q74TemperatureMix(s: SparkSession, d: String): DataFrame =
    temperatureMix(documents(s, d), "lang", "doc_id", q74Alpha)
      .select("doc_id", "lang", "keep_thr")
      .orderBy("doc_id")

  /** Shared verdict tail: per-benchmark-doc overlap of its shingles
    * (`benchSh`, computed once by each caller) against `corpusSh`
    * (distinct corpus shingle hashes, Bloom-prefiltered or not). */
  private def verdicts(benchmark: DataFrame, benchSh: DataFrame,
      corpusSh: DataFrame, flagAt: Double): DataFrame = {
    // ONE pass over the benchmark shingles computes both counts: left
    // join against the distinct corpus hashes (multiplicity-safe) with a
    // match marker, then a single aggregate — no second tokenize scan
    val both = benchSh
      .join(corpusSh.withColumn("__m", lit(1)), Seq("h"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"), count(col("__m")).as("n_matched"))
    // contaminated derives from the ROUNDED overlap so the emitted flag
    // always agrees with a consumer re-deriving it from the column
    benchmark.select(col("doc_id")).distinct()
      .join(both, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        when(col("n_shingles").isNotNull, col("n_matched")).as("n_matched"))
      .withColumn("overlap",
        round(col("n_matched").cast("double") /
          col("n_shingles").cast("double"), 4))
      .withColumn("contaminated", col("overlap") >= flagAt)
      .orderBy("doc_id")
  }

  /** Deterministic per-group sampling — "reservoir-k per key" without
    * the reservoir: rank each row inside its group by a seeded hash of
    * its stable id and keep the first `n`. Equivalent in distribution
    * to uniform k-per-group sampling, but a pure function of
    * (id, seed) — layout-independent and re-materializable, unlike
    * `sampleBy` (per-partition RNG) or any true reservoir (order-
    * dependent). The per-LANGUAGE cap companion to `domainMix`'s
    * per-language rate.
    *
    * Scale shape: ONE shuffle keyed on the group for the window rank
    * (external sort within each hash partition); groups are language-
    * cardinality so skew is bounded by the biggest group — for
    * pathological group skew, pre-aggregate with the salted pattern
    * (`rel.Skew`) or raise spark.sql.shuffle.partitions; nothing is
    * broadcast or collected.
    */
  def groupSample(docs: DataFrame, groupCol: String, idCol: String,
      n: Int, seed: Long = 42L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    docs
      .select(col(idCol), col(groupCol),
        xxhash64(col(idCol), lit(seed)).as("hkey"))
      .withColumn("rn", row_number()
        .over(Window.partitionBy(groupCol).orderBy(col("hkey"), col(idCol)))
        .cast("long"))
      .filter(col("rn") <= n)
      .select(col(idCol), col(groupCol), col("rn"))
  }

  def q69GroupSample(s: SparkSession, d: String, n: Int = 20): DataFrame =
    groupSample(documents(s, d), "lang", "doc_id", n)
      .orderBy("lang", "rn")

  /** [[groupSample]]'s scale twin: identical output (exact n per
    * group, seeded-hash order), but the per-group selection runs
    * through the k-bounded `top_k` heap aggregate instead of a
    * row_number window — the exchange carries ≤ n entries per
    * (group, partition) after the map-side partial, and nothing sorts
    * the full group. The descending heap selects the n SMALLEST
    * (hkey, id) via the bitwise-complement trick (~x is a monotone
    * order reversal with no Long.MinValue overflow, unlike negation).
    * At 100 TB this is the form to run: the window twin sorts every
    * group end-to-end; this one never materializes a group at all. */
  def groupSampleTopK(docs: DataFrame, groupCol: String, idCol: String,
      n: Int, seed: Long = 42L): DataFrame = {
    graft.functions.VecFunctions.register(docs.sparkSession)
    docs
      .select(col(groupCol),
        struct(
          expr(s"~xxhash64($idCol, ${seed}L)").as("nh"),
          expr(s"~$idCol").as("nd")).as("sv"))
      .groupBy(groupCol)
      .agg(expr(s"top_k(sv, $n)").as("top"))
      .select(col(groupCol), posexplode(col("top")).as(Seq("pos", "t")))
      .select(expr("~t.nd").as(idCol), col(groupCol),
        (col("pos") + 1L).as("rn"))
  }

  /** Driver entries: mix to a fixed lang recipe; treat docs with
    * doc_id ≡ 0 (mod 10) as the held-out benchmark and the rest as the
    * training corpus. The recipe is shared with the oracle SQL below.
    */
  private[text] val mixRecipe: Map[String, Double] =
    Map("en" -> 1.0, "de" -> 0.5, "fr" -> 0.5, "es" -> 0.25, "zh" -> 0.25)

  def domainMixQuery(s: SparkSession, d: String): DataFrame =
    domainMix(documents(s, d), "lang", mixRecipe)
      .select("doc_id", "lang")
      .orderBy("doc_id")

  def contaminationQuery(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    contamination(docs.filter(col("doc_id") % 10 =!= 0),
      docs.filter(col("doc_id") % 10 === 0))
  }

  def contaminationBloomQuery(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    contaminationBloom(docs.filter(col("doc_id") % 10 =!= 0),
      docs.filter(col("doc_id") % 10 === 0))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "nq_domain_mix" -> (domainMixQuery _),
    "nq_contamination" -> (contaminationQuery _),
    "nq_contamination_bloom" -> (contaminationBloomQuery _),
    "q69_group_sample" -> ((s: SparkSession, d: String) =>
      q69GroupSample(s, d)),
    // the heap-aggregate twin: output-identical to q69 by design, so
    // it carries the SAME oracle SQL and the driver independently
    // verifies the equivalence claim every round (the
    // contamination_bloom precedent)
    "nq_group_sample_topk" -> ((s: SparkSession, d: String) =>
      groupSampleTopK(documents(s, d), "lang", "doc_id", 20)
        .orderBy("lang", "rn")),
    "q74_temperature_mix" -> (q74TemperatureMix _))

  // ------------------------------------------------------------ oracle
  // DuckDB replica of Spark's xxhash64(doc_id, 42): XXH64 of one 8-byte
  // long under Spark's default seed 42, re-chained once for the literal
  // (Spark folds each argument with the running hash as the next seed).
  // All 64-bit wrap-around arithmetic runs in UHUGEINT (128-bit
  // unsigned) mod 2^64; rotl(v,r) = (v·2^r mod 2^64) + v div 2^(64-r);
  // logical shifts are divisions by powers of two. Validated
  // step-for-step against Spark's XxHash64Function.hashLong chain.
  // doc_id ≥ 0 is assumed by the UHUGEINT cast (true of the corpus; a
  // negative id would need two's-complement widening).
  // The final CASE converts the unsigned value back to Spark's signed
  // pmod: 2^64 mod 10^6 = 551616, so the signed residue of a value
  // ≥ 2^63 is (u mod 10^6 + (10^6 − 551616)) mod 10^6.
  /** CTE chain computing `hh` = unsigned XXH64 of one long `doc_id`
    * under Spark's seed-42 literal fold (see the arithmetic notes above
    * `oracle`), ending in CTE `r2h(doc_id[, extraCols], hh)`. Extra
    * passthrough columns ride the `SELECT *` chain for free — callers
    * splice e.g. ", lang" (domain mix) or "" (shuffle shard, q65).
    */
  private[text] def xxh64Ctes(extraCols: String): String =
    xxh64CtesOver("documents", "doc_id", extraCols)

  /** The same chain over any (table, idCol) — e.g. the KMV store's
    * xxhash64(user_id, 42) over events. */
  private[graft] def xxh64CtesOver(table: String, idCol: String,
      extraCols: String): String =
    "WITH " + xxh64CtesBody(table, idCol, extraCols)

  /** The chain WITHOUT the leading `WITH` — for callers that need
    * their own CTEs defined first (`table` may then be one of them):
    * `s"WITH myCtes, ${xxh64CtesBody("myCte", ...)}, tail AS ..."`. */
  private[graft] def xxh64CtesBody(table: String, idCol: String,
      extraCols: String): String =
    s"""c AS (SELECT CAST(18446744073709551616 AS UHUGEINT) AS m64,
       |             CAST(11400714785074694791 AS UHUGEINT) AS p1,
       |             CAST(14029467366897019727 AS UHUGEINT) AS p2,
       |             CAST(1609587929392839161 AS UHUGEINT) AS p3,
       |             CAST(9650029242287828579 AS UHUGEINT) AS p4,
       |             CAST(2870177450012600261 AS UHUGEINT) AS p5),
       |ids AS (SELECT $idCol$extraCols, CAST($idCol AS UHUGEINT) AS x,
       |               m64, p1, p2, p3, p4, p5 FROM $table, c),
         |r1a AS (SELECT *, (x * p2) % m64 AS k FROM ids),
         |r1b AS (SELECT * EXCLUDE k,
         |  (((k * 2147483648) % m64 + k // 8589934592) * p1) % m64 AS k2
         |  FROM r1a),
         |r1c AS (SELECT * EXCLUDE k2,
         |  xor(CAST(42 AS UHUGEINT) + p5 + 8, k2) AS h1 FROM r1b),
         |r1d AS (SELECT * EXCLUDE h1,
         |  ((((h1 * 134217728) % m64 + h1 // 137438953472) * p1) % m64
         |    + p4) % m64 AS h3 FROM r1c),
         |r1f AS (SELECT * EXCLUDE h3,
         |  (xor(h3, h3 // 8589934592) * p2) % m64 AS h4 FROM r1d),
         |r1g AS (SELECT * EXCLUDE h4,
         |  (xor(h4, h4 // 536870912) * p3) % m64 AS h5 FROM r1f),
         |r1h AS (SELECT * EXCLUDE h5,
         |  xor(h5, h5 // 4294967296) AS s1 FROM r1g),
         |r2a AS (SELECT *, (CAST(42 AS UHUGEINT) * p2) % m64 AS k FROM r1h),
         |r2b AS (SELECT * EXCLUDE k,
         |  (((k * 2147483648) % m64 + k // 8589934592) * p1) % m64 AS k2
         |  FROM r2a),
         |r2c AS (SELECT * EXCLUDE (k2, s1),
         |  xor((s1 + p5 + 8) % m64, k2) AS h1 FROM r2b),
         |r2d AS (SELECT * EXCLUDE h1,
         |  ((((h1 * 134217728) % m64 + h1 // 137438953472) * p1) % m64
         |    + p4) % m64 AS h3 FROM r2c),
         |r2f AS (SELECT * EXCLUDE h3,
         |  (xor(h3, h3 // 8589934592) * p2) % m64 AS h4 FROM r2d),
         |r2g AS (SELECT * EXCLUDE h4,
         |  (xor(h4, h4 // 536870912) * p3) % m64 AS h5 FROM r2f),
         |r2h AS (SELECT $idCol$extraCols, xor(h5, h5 // 4294967296) AS hh
         |  FROM r2g)""".stripMargin

  val oracle: Map[String, String] = {
    val thresholds = mixRecipe.toSeq.sortBy(_._1)
      .map { case (l, f) => s"WHEN '$l' THEN ${(f * 1000000L).toLong}" }
      .mkString(" ")
    Map("nq_domain_mix" -> (xxh64Ctes(", lang") +
      s""",
         |pm AS (SELECT doc_id, lang,
         |  CAST(CASE WHEN hh >= 9223372036854775808
         |    THEN (hh % 1000000 + 448384) % 1000000
         |    ELSE hh % 1000000 END AS BIGINT) AS pmod FROM r2h)
         |SELECT doc_id, lang FROM pm
         |WHERE pmod < CASE lang $thresholds ELSE 0 END
         |ORDER BY doc_id""".stripMargin),
      "nq_contamination" -> contaminationSql,
      // the Bloom prefilter is output-identical to the exact form (no
      // false negatives; the exact join removes false positives), so it
      // carries the SAME oracle — the driver independently verifies the
      // equivalence claim every round
      "nq_contamination_bloom" -> contaminationSql,
      // q69: same XXH64 replica as q65; the signed hkey reconstruction
      // (hh − 2^64 for hh ≥ 2^63) matches Spark's signed-long ordering
      "q69_group_sample" -> groupSampleSql,
      // output-identical heap-aggregate twin — same oracle by design
      // (see the queries map): the driver hash-checks both paths
      // against one SQL, independently confirming window ≡ top_k
      "nq_group_sample_topk" -> groupSampleSql,
      // q74: same XXH64 replica; the rate derivation repeats the Spark
      // side's exact IEEE operation sequence, with the pow exponent
      // interpolated from the SAME Scala double so both engines parse
      // the identical value (Double.toString round-trips exactly)
      "q74_temperature_mix" -> q74Sql)
  }

  /** The temperature-mix selection as a WITH-less CTE body ending in
    * `mixsel(doc_id, lang, keep_thr)` — the selected documents. The
    * rate CTEs are the q74 oracle's, with the mix-local names prefixed
    * (mixmn/mixpm, r18) so the end-to-end pipeline oracle can compose
    * this body verbatim next to the banded-reach (`mn`) and
    * substring-span (`pm`) chains without CTE-name collisions;
    * [[q74Sql]] itself is `WITH ` + this + the presentation select, so
    * q74 and the pipeline share one string. */
  private[text] lazy val mixCtesBody: String =
    xxh64CtesBody("documents", "doc_id", ", lang") +
      s""",
         |cnt AS (SELECT lang, count(*) AS n_dom FROM documents
         |        GROUP BY lang),
         |mixmn AS (SELECT min(n_dom) AS n_min FROM cnt),
         |rt AS (SELECT lang, CAST(floor(1000000.0 *
         |    pow(CAST(n_min AS DOUBLE) / CAST(n_dom AS DOUBLE),
         |        ${1.0 - q74Alpha})) AS BIGINT) AS keep_thr
         |  FROM cnt, mixmn),
         |mixpm AS (SELECT doc_id, lang,
         |  CAST(CASE WHEN hh >= 9223372036854775808
         |    THEN (hh % 1000000 + 448384) % 1000000
         |    ELSE hh % 1000000 END AS BIGINT) AS pmod FROM r2h),
         |mixsel AS (SELECT p.doc_id, p.lang, r.keep_thr
         |  FROM mixpm p JOIN rt r USING (lang)
         |  WHERE p.pmod < r.keep_thr)""".stripMargin

  private[text] lazy val q74Sql: String = "WITH " + mixCtesBody +
    "\nSELECT doc_id, lang, keep_thr FROM mixsel ORDER BY doc_id"

  // Contamination oracle compares raw shingle STRINGS where Spark
  // compares 64-bit shingle hashes (same counts unless two distinct
  // shingles of one corpus collide in 64 bits — ~1e-9 at this
  // corpus size, and a collision would fail the check loudly, not
  // silently). Same split/shingle/grouping semantics as q25's
  // oracle; bench/corpus split mirrors contaminationQuery's
  // doc_id % 10 partition. Docs too short to shingle surface as
  // n_shingles=0 with NULL n_matched/overlap/contaminated —
  // "unknown", identical to the Spark path.
  // (lazy: referenced by `oracle` above its textual position)
  // q69: same XXH64 replica as q65; the signed hkey reconstruction
  // (hh − 2^64 for hh ≥ 2^63) matches Spark's signed-long ordering
  private lazy val groupSampleSql: String = xxh64Ctes(", lang") +
    """,
      |sgn AS (SELECT doc_id, lang,
      |  CAST(CAST(hh AS HUGEINT) -
      |    CASE WHEN hh >= 9223372036854775808
      |      THEN CAST(18446744073709551616 AS HUGEINT) ELSE 0 END
      |    AS BIGINT) AS hkey FROM r2h),
      |rk AS (SELECT doc_id, lang,
      |  row_number() OVER (PARTITION BY lang ORDER BY hkey, doc_id)
      |    AS rn
      |  FROM sgn)
      |SELECT doc_id, lang, rn FROM rk WHERE rn <= 20
      |ORDER BY lang, rn""".stripMargin

  private lazy val contaminationSql: String =
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS l
        |  FROM documents
        |), tri AS (
        |  SELECT DISTINCT doc_id, l[i] || ' ' || l[i+1] || ' ' || l[i+2] AS tri
        |  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(l) - 2)) AS i) g
        |), corpus AS (
        |  SELECT DISTINCT tri FROM tri WHERE doc_id % 10 <> 0
        |), bench AS (
        |  SELECT doc_id, tri FROM tri WHERE doc_id % 10 = 0
        |), agg AS (
        |  SELECT b.doc_id, count(*) AS n_shingles, count(c.tri) AS n_matched
        |  FROM bench b LEFT JOIN corpus c ON b.tri = c.tri
        |  GROUP BY b.doc_id
        |)
        |SELECT d.doc_id,
        |  coalesce(a.n_shingles, 0) AS n_shingles,
        |  a.n_matched AS n_matched,
        |  round(CAST(a.n_matched AS DOUBLE) / a.n_shingles, 4) AS overlap,
        |  (round(CAST(a.n_matched AS DOUBLE) / a.n_shingles, 4) >= 0.8)
        |    AS contaminated
        |FROM (SELECT DISTINCT doc_id FROM documents WHERE doc_id % 10 = 0) d
        |LEFT JOIN agg a ON d.doc_id = a.doc_id
        |ORDER BY d.doc_id""".stripMargin
}
