package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** BM25 ranked retrieval (Robertson & Zaragoza 2009, the Okapi
  * weighting every production search engine defaults to) — the
  * retrieval-side complement to q40's TF-IDF: given a keyword query,
  * rank the corpus by
  *
  *   score(D,Q) = Σ_{t∈Q} idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·|D|/avgdl))
  *   idf(t)     = ln(1 + (N − df + 0.5)/(df + 0.5))
  *
  * with the standard k1=1.2, b=0.75. A training-data pipeline uses
  * exactly this shape for query-targeted curation (pull the documents
  * most relevant to a benchmark/topic before a decontamination or
  * boost pass).
  *
  * Scale shape: the tf aggregate runs over QUERY-TERM rows only — the
  * term filter lands before the exchange, so the shuffle carries the
  * posting lists of the queried terms, not the corpus vocabulary (the
  * inverted-index access pattern, same discipline as q25's shingle
  * index). Doc lengths are a per-doc count with map-side combine;
  * N/avgdl/df are a broadcast scalar row; the final top-k is a
  * bounded sort. Every float derives from integer counts through one
  * fixed expression tree, replicated verbatim in the DuckDB oracle.
  */
object Bm25 {

  val K1 = 1.2
  val B = 0.75

  /** Top-k docs for `queryTerms` over a (doc_id, text) relation. */
  def bm25TopK(docs: DataFrame, queryTermsRaw: Seq[String], k: Int,
      scoreDecimals: Int = 6): DataFrame = {
    // dedup defensively: a repeated query term would double its
    // contribution (tf/df are per-term, the outer sum is per-row)
    val queryTerms = queryTermsRaw.distinct
    require(queryTerms.nonEmpty, "bm25TopK: empty query")
    require(k > 0, s"bm25TopK: k must be positive, got $k")
    val terms = docs.select(col("doc_id"),
      explode(split(col("text"), "\\s+")).as("term"))
      .filter(col("term") =!= "")
    val lens = terms.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val stats = lens.agg(count(lit(1)).as("n_docs"),
      sum("dl").as("dl_sum"))
    // query-term postings only: the filter precedes the aggregate, so
    // the exchange is posting-list-sized, not vocabulary-sized
    val qTerms = terms.filter(col("term").isin(queryTerms: _*))
    val tf = qTerms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = qTerms.select("doc_id", "term").distinct()
      .groupBy("term").agg(count(lit(1)).as("df"))
    val avgdl = col("dl_sum").cast("double") / col("n_docs")
    val idf = log(lit(1.0) +
      (col("n_docs").cast("double") - col("df") + lit(0.5)) /
        (col("df") + lit(0.5)))
    val tfPart = (col("tf") * lit(K1 + 1.0)) /
      (col("tf") + lit(K1) * (lit(1.0 - B) + lit(B) * col("dl") / avgdl))
    val scored = tf.join(dfreq, "term")
      .join(lens, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("contrib", idf * tfPart)
      .groupBy("doc_id")
      .agg(round(sum("contrib"), scoreDecimals).as("score"),
        count(lit(1)).as("n_terms_hit"))
    graft.rel.TopK.ranked(scored, k, "rank", col("score").desc, col("doc_id"))
  }

  /** Driver entry: top-20 documents for the query "hash join filter". */
  def q86Bm25(s: SparkSession, d: String): DataFrame =
    bm25TopK(documents(s, d), Seq("hash", "join", "filter"), 20)

  val q86Sql: String =
    s"""WITH terms AS (
       |  SELECT doc_id,
       |    unnest(list_filter(regexp_split_to_array(text, '\\s+'),
       |                       x -> x <> '')) AS term
       |  FROM documents
       |), lens AS (
       |  SELECT doc_id, count(*) AS dl FROM terms GROUP BY doc_id
       |), stats AS (
       |  SELECT count(*) AS n_docs, sum(dl) AS dl_sum FROM lens
       |), q AS (
       |  SELECT doc_id, term FROM terms
       |  WHERE term IN ('hash', 'join', 'filter')
       |), tf AS (
       |  SELECT doc_id, term, count(*) AS tf FROM q GROUP BY 1, 2
       |), dfreq AS (
       |  SELECT term, count(*) AS df
       |  FROM (SELECT DISTINCT doc_id, term FROM q) GROUP BY 1
       |), scored AS (
       |  SELECT tf.doc_id,
       |    ln(1.0 + (CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5)) *
       |      ((tf * ${K1 + 1.0}) /
       |       (tf + $K1 * ((1.0 - $B) + $B * dl /
       |                    (CAST(dl_sum AS DOUBLE) / n_docs)))) AS contrib
       |  FROM tf JOIN dfreq USING (term)
       |  JOIN lens ON tf.doc_id = lens.doc_id
       |  CROSS JOIN stats
       |), agg AS (
       |  SELECT doc_id, round(sum(contrib), 6) AS score,
       |    count(*) AS n_terms_hit
       |  FROM scored GROUP BY doc_id
       |), ranked AS (
       |  SELECT doc_id, score, n_terms_hit,
       |    row_number() OVER (ORDER BY score DESC, doc_id) AS rank
       |  FROM agg)
       |SELECT doc_id, score, n_terms_hit, rank FROM ranked
       |WHERE rank <= 20
       |ORDER BY rank""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q86_bm25" -> (q86Bm25 _))

  val oracle: Map[String, String] = Map(
    "q86_bm25" -> q86Sql)
}
