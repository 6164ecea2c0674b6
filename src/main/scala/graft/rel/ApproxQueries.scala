package graft.rel

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Sketch-based aggregates (SURVEY §2.K): HLL++ approximate distinct,
  * KLL-style approximate percentiles, and the KMV theta-sketch family.
  * The 100 TB story: exact countDistinct (q11) needs a two-phase
  * shuffle of every distinct key, and exact percentile_cont (q39)
  * buffers every group value for the interpolation sort — all sketches
  * here reduce that to fixed-size mergeable summaries (map-side
  * partials, constant network). The HLL/GK sketch internals differ
  * between engines, so those two stay rows-only with error-bound specs;
  * the KMV sketch (`functions.KmvSketch`) is fully DETERMINISTIC given
  * the hash column, so its whole pipeline — Spark's xxhash64 replicated
  * integer-exactly in DuckDB, k-smallest-distinct selection, estimator
  * arithmetic — is hard-oracle-checked.
  */
object ApproxQueries {

  /** HLL++ distinct estimates (rsd 0.02) per return flag — the raw
    * operator: three fixed-size mergeable sketches replacing q11's
    * exact two-phase distinct shuffles. */
  def approxDistinct(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        approx_count_distinct("l_partkey", 0.02).as("approx_parts"),
        approx_count_distinct("l_suppkey", 0.02).as("approx_supps"),
        approx_count_distinct("l_orderkey", 0.02).as("approx_orders"),
        count(lit(1)).as("n_rows"))
      .orderBy("l_returnflag")

  /** HLL++'s documented error band, as a hard relative bound for the
    * contract row: rsd 0.02 is ONE standard error; 0.05 = 2.5σ. The
    * sketch is deterministic given the data, and the observed error on
    * the driver tables is ≤ ~2%, so the margin is ample — while a real
    * estimator bug (register indexing, merge, bias correction) lands
    * far outside it. */
  private val HllEps = 0.05

  /** The INVARIANT-ORACLE form of [[approxDistinct]] (the nq_pack_bins
    * weaker-but-real precedent, promoted from a rows-only check): the
    * HLL++ internals aren't replicable in DuckDB, so the contract row
    * hash-checks the documented bound instead of the estimate — the
    * Spark side emits the EXACT distincts plus booleans asserting
    * |approx − exact| ≤ ε·exact from its own estimates, the oracle
    * emits the same exact counts plus literal TRUE. A sketch drifting
    * past ε (or an exact-count disagreement) fails the hash. */
  def nqApproxDistinct(s: SparkSession, d: String): DataFrame = {
    def inBound(a: String, e: String) =
      (abs(col(a).cast("double") - col(e).cast("double")) <=
        lit(HllEps) * col(e).cast("double"))
    // two aggregates joined on the group-count-sized key, NOT one: a
    // single agg mixing 3 DISTINCT aggregates with 3 sketch aggregates
    // plans the sketches through the multi-distinct EXPAND — measured
    // 8.3 s at sf0.1 vs 0.76 s for q11's pure-distinct shape; split,
    // each half keeps its own efficient plan (~1 s combined)
    val exact = lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        countDistinct(col("l_partkey")).as("exact_parts"),
        countDistinct(col("l_suppkey")).as("exact_supps"),
        countDistinct(col("l_orderkey")).as("exact_orders"),
        count(lit(1)).as("n_rows"))
    val approx = approxDistinct(s, d)
      .select(col("l_returnflag"), col("approx_parts").as("a_parts"),
        col("approx_supps").as("a_supps"),
        col("approx_orders").as("a_orders"))
    exact.join(broadcast(approx), "l_returnflag")
      .select(col("l_returnflag"), col("n_rows"),
        col("exact_parts"), col("exact_supps"), col("exact_orders"),
        inBound("a_parts", "exact_parts").as("parts_in_bound"),
        inBound("a_supps", "exact_supps").as("supps_in_bound"),
        inBound("a_orders", "exact_orders").as("orders_in_bound"))
      .orderBy("l_returnflag")
  }

  private val nqApproxDistinctSql: String =
    """SELECT l_returnflag, count(*) AS n_rows,
      |  count(DISTINCT l_partkey) AS exact_parts,
      |  count(DISTINCT l_suppkey) AS exact_supps,
      |  count(DISTINCT l_orderkey) AS exact_orders,
      |  TRUE AS parts_in_bound, TRUE AS supps_in_bound,
      |  TRUE AS orders_in_bound
      |FROM lineitem GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** q39's percentiles as a mergeable sketch: `approx_percentile`
    * (Greenwald–Khanna in Spark) with accuracy 10000 → rank error
    * ≤ 1/10000 of the group size. Same grouping, same output shape as
    * q39, so ApproxSketchSpec can assert the sketch lands within
    * rank-error bounds of the exact interpolated values.
    */
  def approxPercentiles(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .groupBy("o_orderstatus")
      .agg(
        round(expr("approx_percentile(o_totalprice, 0.5, 10000)"), 2).as("p50"),
        round(expr("approx_percentile(o_totalprice, 0.9, 10000)"), 2).as("p90"),
        round(expr("approx_percentile(o_totalprice, 0.99, 10000)"), 2).as("p99"),
        count(lit(1)).as("n_orders"))
      .orderBy("o_orderstatus")

  /** GK's rank guarantee as the checked bound: accuracy 10000 bounds
    * the returned ELEMENT's rank within ±1e-4·n of the target rank.
    * δ = 1e-3 leaves 10× slack, plus an absolute ±1 rank absorbing
    * floor/ceil convention differences — still a real bound: a sketch
    * off by half a percentile point of rank fails it. (A VALUE bracket
    * via quantiles at p ± δ is the wrong check: on a small group the
    * interpolated bracket collapses between two adjacent elements and
    * rejects a rank-EXACT answer.) */
  private val GkDelta = 0.001

  /** The invariant-oracle form of [[approxPercentiles]]: exact
    * interpolated percentiles (q39's proven percentile/quantile_cont
    * replication) plus booleans asserting each GK estimate satisfies
    * the sketch's own RANK guarantee — the ranks the returned value
    * occupies ([#below + 1, #≤]) must intersect
    * [(p − δ)·n − 1, (p + δ)·n + 1]. The rank counts cost one extra
    * scan of the table against the broadcast per-group estimates (the
    * verification price, paid by the contract row — the serving form
    * is [[approxPercentiles]], one pass). Oracle = exact values +
    * literal TRUE. */
  def nqApproxPercentiles(s: SparkSession, d: String): DataFrame = {
    val pcts = Seq("p50" -> 0.5, "p90" -> 0.9, "p99" -> 0.99)
    val base = orders(s, d).select(col("o_orderstatus"), col("o_totalprice"))
    val aggCols = Seq(count(lit(1)).as("n_orders")) ++
      pcts.flatMap { case (nm, p) => Seq(
        round(expr(s"percentile(o_totalprice, $p)"), 2).as(s"${nm}_exact"),
        expr(s"approx_percentile(o_totalprice, $p, 10000)").as(s"a_$nm")) }
    // materialized once (group-count-sized): `agg` feeds both the
    // broadcast into the rank-count scan and the final join — without
    // this each reference re-runs the whole percentile aggregate
    val agg = graft.Checkpointing.truncate(base.groupBy("o_orderstatus")
      .agg(aggCols.head, aggCols.tail: _*))
    // rank of each estimate within its own group: one scan, broadcast
    // group-count-sized estimates, map-side-combined counts
    val cntCols = pcts.map(_._1).flatMap { nm => Seq(
      sum(when(col("o_totalprice") < col(s"a_$nm"), 1L).otherwise(0L))
        .as(s"below_$nm"),
      sum(when(col("o_totalprice") <= col(s"a_$nm"), 1L).otherwise(0L))
        .as(s"le_$nm")) }
    val counts = base.join(broadcast(agg), "o_orderstatus")
      .groupBy("o_orderstatus")
      .agg(cntCols.head, cntCols.tail: _*)
    val sel = Seq(col("o_orderstatus"), col("n_orders")) ++
      pcts.flatMap { case (nm, p) =>
        val n = col("n_orders").cast("double")
        Seq(col(s"${nm}_exact"),
          (((col(s"below_$nm") + 1).cast("double") <=
              lit(p + GkDelta) * n + 1.0) &&
            (col(s"le_$nm").cast("double") >= lit(p - GkDelta) * n - 1.0))
            .as(s"${nm}_in_bound"))
      }
    agg.join(counts, "o_orderstatus").select(sel: _*)
      .orderBy("o_orderstatus")
  }

  private val nqApproxPercentilesSql: String =
    """SELECT o_orderstatus, count(*) AS n_orders,
      |  round(quantile_cont(o_totalprice, 0.5), 2) AS p50_exact,
      |  TRUE AS p50_in_bound,
      |  round(quantile_cont(o_totalprice, 0.9), 2) AS p90_exact,
      |  TRUE AS p90_in_bound,
      |  round(quantile_cont(o_totalprice, 0.99), 2) AS p99_exact,
      |  TRUE AS p99_in_bound
      |FROM orders GROUP BY o_orderstatus
      |ORDER BY o_orderstatus""".stripMargin

  // ------------------------------------------------- KMV theta sketch
  // u(h) maps the SIGNED 64-bit hash order onto [0,1): both engines run
  // the identical double chain (h → double, + 2⁶³, ÷ 2⁶⁴ — each
  // constant exactly representable), so estimates compare bitwise.
  private val U1 = 9.223372036854775808e18 // 2^63
  private val U2 = 1.8446744073709551616e19 // 2^64
  private[rel] def u(c: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    (c.cast("double") + lit(U1)) / lit(U2)

  /** A full sketch's threshold u(h_(k)); 1.0 for an under-full
    * (= complete) sketch. */
  private[rel] def theta(skCol: org.apache.spark.sql.Column, k: Int)
      : org.apache.spark.sql.Column =
    when(size(skCol) < k, lit(1.0)).otherwise(u(element_at(skCol, k)))

  /** Pairwise set-intersection estimates from a (group, sketch)
    * relation alone: for each group pair (a < b), θ = min(θ_a, θ_b) and
    * the estimate is |{x ∈ sk_a ∩ sk_b : u(x) < θ}| / θ. The join is
    * over the group-count-sized sketch relation — raw data is never
    * rescanned. */
  private[rel] def intersectSketches(sk: DataFrame, groupCol: String,
      k: Int, aName: String, bName: String, estName: String): DataFrame = {
    // NOT cached, A/B-measured and rejected (r19): both pair sides read
    // this relation, so a cache would halve the upstream sketch build —
    // but the two builds run as concurrent jobs on otherwise-idle cores
    // at test SFs and the cache barrier serialized them (cached ~0.99 s
    // vs uncached ~0.78 s for nq_kmv_intersect; same finding as
    // Zipf/Seasonal, opposite of the heavy-subtree LSH case).
    val skC = sk
    val a = skC.select(col(groupCol).as(aName), col("sk").as("ska"))
    val b = skC.select(col(groupCol).as(bName), col("sk").as("skb"))
    a.join(broadcast(b), col(aName) < col(bName))
      .withColumn("theta", least(theta(col("ska"), k), theta(col("skb"), k)))
      .select(col(aName), col(bName),
        round(size(filter(array_intersect(col("ska"), col("skb")),
            x => u(x) < col("theta"))).cast("double") / col("theta"), 4)
          .as(estName))
      .orderBy(aName, bName)
  }

  /** Per-lang KMV sketch of the distinct-shingle universe:
    * (lang, sketch ARRAY<BIGINT>). One narrow hash pass + one k-bounded
    * aggregate — the shuffle carries ≤ k longs per (lang, partition).
    */
  private def langSketches(s: SparkSession, d: String, k: Int): DataFrame = {
    graft.functions.VecFunctions.register(s)
    graft.text.NearDup.shingles(s, d)
      .select(col("doc_id"), explode(col("shingles")).as("sg"))
      .select(col("doc_id"), xxhash64(col("sg")).as("h"))
      .join(documents(s, d).select("doc_id", "lang"), "doc_id")
      .groupBy("lang")
      .agg(expr(s"kmv_sketch(h, $k)").as("sk"))
  }

  /** Distinct shingles per lang via the KMV estimator: an under-full
    * sketch IS the exact distinct set; a full one estimates
    * (k−1)/u(h_(k)) (Beyer et al. 2007). */
  def kmvDistinct(s: SparkSession, d: String, k: Int = 256): DataFrame =
    langSketches(s, d, k)
      .select(col("lang"),
        round(when(size(col("sk")) < k, size(col("sk")).cast("double"))
          .otherwise(lit((k - 1).toDouble) / u(element_at(col("sk"), k))), 4)
          .as("est_distinct_shingles"))
      .orderBy("lang")

  /** Cross-lang shingle-set OVERLAP from the sketches alone — the
    * capability HLL cannot give: θ = min of the two sketch thresholds
    * (1.0 for an under-full = complete sketch), the intersection
    * estimate is |{x ∈ sk_A ∩ sk_B : u(x) < θ}| / θ. Raw data is never
    * rescanned: pre-aggregated per-group sketches join pairwise (a
    * group-count-sized relation — the broadcast NLJ is over #langs
    * rows, not data). */
  def kmvIntersect(s: SparkSession, d: String, k: Int = 256): DataFrame =
    intersectSketches(langSketches(s, d, k), "lang", k,
      "lang_a", "lang_b", "est_common_shingles")

  // DuckDB replica: the xxhash64 chain (shared with the SimHash oracle)
  // ends in tokh(doc_id, hu UHUGEINT); convert to the signed order the
  // sketch uses, take the k smallest DISTINCT per lang, and run the
  // same estimator arithmetic.
  private def kmvCtes(k: Int): String =
    graft.text.NearDup.xxhashTokhCtes + s""",
       |lsk AS (
       |  SELECT lang, hs, row_number() OVER (
       |    PARTITION BY lang ORDER BY hs) AS rn
       |  FROM (SELECT DISTINCT d.lang,
       |          CASE WHEN t.hu >= 9223372036854775808
       |            THEN (t.hu::HUGEINT - 18446744073709551616)::BIGINT
       |            ELSE t.hu::BIGINT END AS hs
       |        FROM tokh t JOIN documents d USING (doc_id))),
       |sk AS (SELECT lang, hs, rn FROM lsk WHERE rn <= $k),
       |agg AS (SELECT lang, count(*) AS m, max(hs) AS kth
       |        FROM sk GROUP BY 1)""".stripMargin

  private def kmvDistinctSql(k: Int): String = kmvCtes(k) + s"""
       |SELECT lang,
       |  round(CASE WHEN m < $k THEN m::DOUBLE
       |    ELSE ${(k - 1).toDouble} /
       |      ((kth::DOUBLE + 9223372036854775808.0)
       |        / 18446744073709551616.0) END, 4) AS est_distinct_shingles
       |FROM agg ORDER BY lang""".stripMargin

  private def kmvIntersectSql(k: Int): String = kmvCtes(k) + s""",
       |th AS (
       |  SELECT a.lang AS lang_a, b.lang AS lang_b,
       |    least(
       |      CASE WHEN a.m < $k THEN 1.0
       |        ELSE (a.kth::DOUBLE + 9223372036854775808.0)
       |          / 18446744073709551616.0 END,
       |      CASE WHEN b.m < $k THEN 1.0
       |        ELSE (b.kth::DOUBLE + 9223372036854775808.0)
       |          / 18446744073709551616.0 END) AS theta
       |  FROM agg a JOIN agg b ON a.lang < b.lang),
       |com AS (
       |  SELECT t.lang_a, t.lang_b, count(*) AS c
       |  FROM th t
       |  JOIN sk s1 ON s1.lang = t.lang_a
       |  JOIN sk s2 ON s2.lang = t.lang_b AND s2.hs = s1.hs
       |  WHERE (s1.hs::DOUBLE + 9223372036854775808.0)
       |          / 18446744073709551616.0 < t.theta
       |  GROUP BY 1, 2)
       |SELECT t.lang_a, t.lang_b,
       |  round(coalesce(c.c, 0)::DOUBLE / t.theta, 4)
       |    AS est_common_shingles
       |FROM th t LEFT JOIN com c
       |  ON c.lang_a = t.lang_a AND c.lang_b = t.lang_b
       |ORDER BY t.lang_a, t.lang_b""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "nq_approx_distinct" -> (nqApproxDistinct _),
    "nq_approx_percentiles" -> (nqApproxPercentiles _),
    "nq_kmv_distinct" -> ((s: SparkSession, d: String) => kmvDistinct(s, d)),
    "nq_kmv_intersect" -> ((s: SparkSession, d: String) => kmvIntersect(s, d)))

  val oracle: Map[String, String] = Map(
    // round-14 promotion of the last two no_oracle rows: invariant
    // oracles — DuckDB computes the EXACT answers, the engine asserts
    // its sketch estimates land within the documented error bound
    "nq_approx_distinct" -> nqApproxDistinctSql,
    "nq_approx_percentiles" -> nqApproxPercentilesSql,
    "nq_kmv_distinct" -> kmvDistinctSql(256),
    "nq_kmv_intersect" -> kmvIntersectSql(256))
}
