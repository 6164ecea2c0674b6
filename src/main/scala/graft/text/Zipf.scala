package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Zipf-law fit over the corpus vocabulary — the standard sanity
  * diagnostic of a text corpus (Zipf 1949; Piantadosi 2014 review):
  * regress ln(frequency) on ln(rank) and report the exponent s in
  * freq ∝ rank^(−s). Natural corpora sit near s ≈ 1 with high r²;
  * a synthetic or corrupted corpus (uniform draws, boilerplate
  * floods) shows up immediately as a flat exponent or a poor fit —
  * which is exactly what a curation pipeline uses it for (corpus
  * health dashboards next to nq_psi and the q87 profiler).
  *
  * Scale shape: ONE corpus scan to vocabulary counts (map-side
  * combine), then rank + fit over the VOCABULARY table — bounded by
  * type count, independent of corpus rows. The exact dense ranking
  * needs a total order over the vocabulary (one reducer — the same
  * documented bound as q77's exact tercile form; vocabulary ≪ corpus
  * makes it affordable, and `topK` caps it besides). The ln-moment
  * sums are unordered doubles, so outputs round to 4 (the q93 KL
  * convention: round absorbs partition-order noise, which sits ~8
  * orders below at vocabulary scale).
  */
object Zipf {

  /** (n_types, n_tokens, n_ranks, zipf_exponent, r2): exponent from
    * the top `topK` ranks (head-of-distribution fitting, standard
    * practice — the hapax tail flattens the ln-ln line). */
  def fit(docs: DataFrame, topK: Int = 10000,
      textCol: String = "text"): DataFrame = {
    require(topK >= 3, s"need >= 3 ranks for a fit, got $topK")
    val counts = docs
      .select(explode(split(col(textCol), "\\s+")).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("c"))
    // NOT cached, measured and rejected (r19): the totals aggregate and
    // the top_k selection each re-run the tokenize+count subtree (2
    // scans), but they run as CONCURRENT jobs on otherwise-idle cores —
    // a cache() barrier serialized them and read +70% on the bench
    // (0.25 → 0.42 s). On a saturated cluster the double pass is the
    // real cost; revisit with a cache sized to the vocabulary if this
    // operator ever runs there hot.
    val totals = counts.agg(count(lit(1)).as("n_types"),
      sum("c").as("n_tokens"))
    // topK selection via the engine's bounded top_k aggregate, NOT a
    // vocabulary-wide window: row_number() with no partition would
    // funnel the ENTIRE vocabulary (easily 10⁹ types on web text)
    // through one sort task just to keep 10⁴ rows, where the heap
    // aggregate's exchange carries ≤ (k+1)·partitions rows (the q80
    // shape, plan-guarded). TopK.ranked then numbers the ≤ topK
    // survivors (its own limit is a no-op here). Tie direction at the
    // boundary differs from (c desc, w asc) — struct ordering keeps
    // the LARGEST w among equal counts — but
    // every fit statistic is tie-invariant: boundary candidates share
    // c (identical y), and the rank SET 1..topK is fixed, so each
    // regression sum is unchanged term-for-term (the oracle keeps the
    // original order and round-4 absorbs FP summation order as ever).
    graft.functions.VecFunctions.register(docs.sparkSession)
    val ranked = graft.rel.TopK.ranked(counts
        .agg(expr(s"top_k(struct(c, w), $topK)").as("tk"))
        .select(explode(col("tk")).as("s"))
        .select(col("s.c").as("c"), col("s.w").as("w")),
      topK, "r", col("c").desc, col("w"))
    val lx = log(col("r").cast("double"))
    val ly = log(col("c").cast("double"))
    val m = ranked.agg(count(lit(1)).as("n_ranks"),
      sum(lx).as("sx"), sum(ly).as("sy"),
      sum(lx * lx).as("sxx"), sum(lx * ly).as("sxy"),
      sum(ly * ly).as("syy"))
    val nd = col("n_ranks").cast("double")
    val num = nd * col("sxy") - col("sx") * col("sy")
    val den = nd * col("sxx") - col("sx") * col("sx")
    val varY = nd * col("syy") - col("sy") * col("sy")
    m.crossJoin(broadcast(totals))
      .select(col("n_types"), col("n_tokens"), col("n_ranks"),
        when(den =!= 0.0, round(-(num / den), 4)).as("zipf_exponent"),
        when(den =!= 0.0 && varY =!= 0.0,
          round(num * num / (den * varY), 4)).as("r2"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "nq_zipf" -> ((s: SparkSession, d: String) =>
      fit(graft.Tables.documents(s, d))))

  val oracle: Map[String, String] = Map(
    "nq_zipf" ->
      """WITH tok AS (
        |  SELECT unnest(regexp_split_to_array(text, '\s+')) AS w
        |  FROM documents),
        |counts AS (
        |  SELECT w, count(*) AS c FROM tok WHERE w <> '' GROUP BY w),
        |tot AS (
        |  SELECT count(*) AS n_types, CAST(sum(c) AS BIGINT) AS n_tokens
        |  FROM counts),
        |ranked AS (
        |  SELECT c, row_number() OVER (ORDER BY c DESC, w) AS r
        |  FROM counts QUALIFY r <= 10000),
        |m AS (
        |  SELECT count(*) AS n_ranks,
        |    CAST(count(*) AS DOUBLE) AS nd,
        |    sum(ln(CAST(r AS DOUBLE))) AS sx,
        |    sum(ln(CAST(c AS DOUBLE))) AS sy,
        |    sum(ln(CAST(r AS DOUBLE)) * ln(CAST(r AS DOUBLE))) AS sxx,
        |    sum(ln(CAST(r AS DOUBLE)) * ln(CAST(c AS DOUBLE))) AS sxy,
        |    sum(ln(CAST(c AS DOUBLE)) * ln(CAST(c AS DOUBLE))) AS syy
        |  FROM ranked)
        |SELECT n_types, n_tokens, n_ranks,
        |  CASE WHEN (nd * sxx - sx * sx) <> 0.0 THEN
        |    round(-((nd * sxy - sx * sy) / (nd * sxx - sx * sx)), 4)
        |  END AS zipf_exponent,
        |  CASE WHEN (nd * sxx - sx * sx) <> 0.0
        |    AND (nd * syy - sy * sy) <> 0.0 THEN
        |    round((nd * sxy - sx * sy) * (nd * sxy - sx * sy)
        |      / ((nd * sxx - sx * sx) * (nd * syy - sy * sy)), 4)
        |  END AS r2
        |FROM m CROSS JOIN tot""".stripMargin)
}
