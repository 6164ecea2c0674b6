package graft.rel

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Population Stability Index — the standard production drift monitor
  * for a numeric feature between a reference snapshot and a current
  * one (credit-scoring lineage; see e.g. Yurdakul 2018, "Statistical
  * Properties of the Population Stability Index"): bin the REFERENCE
  * window into `nBins` equal-width bins, score the current window in
  * those same bins, and sum (p−q)·ln(p/q) over bins. PSI < 0.1 is
  * stable, 0.1–0.25 moderate, > 0.25 action — the thresholds the spec
  * pins with planted drift. Completes the divergence family: q93 does
  * categorical KL between token distributions; this is the numeric
  * two-snapshot monitor a 100 TB feature pipeline runs per batch.
  *
  * Emits PER-BIN rows (bin, ref_n, cur_n, psi_term) rather than the
  * bare total: the total is `sum(psi_term)` trivially, the per-bin
  * breakdown is what an operator actually reads when the alarm fires,
  * and a fixed bin order sidesteps unordered-double-sum divergence
  * between engines (each term is ONE shared-order tree, round 6).
  *
  * Scale shape: three scans (reference range; reference counts;
  * current counts — both TOTALS are summed from the binned counts'
  * exchanges, never a fourth scan) — each a codegen'd map-side-combined
  * aggregate over `nBins` keys; the range broadcast is built once and
  * reused by both binning passes. Nothing shuffles more than nBins rows.
  * Empty bins are kept (the bin frame is generated, not observed) and
  * proportions clamp at `eps` — the standard PSI convention so a
  * vanished bin contributes a large finite term, not ∞; an entirely
  * EMPTY window clamps every proportion to eps rather than tripping
  * ANSI division-by-zero.
  */
object Drift {

  def psiBins(ref: DataFrame, cur: DataFrame, valueCol: String,
      nBins: Int = 10, eps: Double = 1e-6): DataFrame = {
    require(nBins >= 2, s"nBins must be >= 2, got $nBins")
    val v = col(valueCol)
    // ONE broadcast of the reference range, shared by both binning
    // passes (identical subtree → one BroadcastExchange, reused)
    val stats = broadcast(ref.filter(v.isNotNull)
      .agg(min(v).as("vmin"), max(v).as("vmax")))
    // shared-order bin tree: floor((v - vmin) / ((vmax - vmin) / B)),
    // clamped to [0, B-1]; a degenerate reference (vmin = vmax) puts
    // everything in bin 0 rather than dividing by zero
    def binOf: Column = when(col("vmax") === col("vmin"), lit(0))
      .otherwise(least(greatest(
        floor((v - col("vmin")) /
          ((col("vmax") - col("vmin")) / lit(nBins.toDouble))),
        lit(0.0)), lit(nBins - 1.0)).cast("int"))
    // the explicit non-null bin filter is the one the bin join below
    // infers anyway; stating it keeps both references to each binned
    // count one plan, so its total reuses the counts' exchange
    def counted(df: DataFrame, as: String): DataFrame =
      df.filter(v.isNotNull).crossJoin(stats)
        .groupBy(binOf.as("bin")).agg(count(lit(1)).as(as))
        .filter(col("bin").isNotNull)
    // the edge-bin clamp guarantees every non-null value lands in
    // exactly one bin, so a window's total is the SUM of its binned
    // counts — a global aggregate over ≤ nBins rows cross-joined back,
    // not another scan (and not a window: a literal partition key is
    // dropped, leaving one unpartitioned window); empty sums to 0
    def total(counts: DataFrame, n: String, as: String): DataFrame =
      counts.agg(coalesce(sum(n), lit(0L)).as(as))
    val bins = ref.sparkSession.range(nBins)
      .select(col("id").cast("int").as("bin"))
    val refCounts = counted(ref, "ref_n")
    val curCounts = counted(cur, "cur_n")
    // an EMPTY window (tot = 0) must clamp to eps, not divide: Spark 4
    // runs ANSI mode by default, where a non-null 0/0 double division
    // throws — and a drift monitor erroring out on the anomalous
    // condition it exists to report would be the worst failure mode
    val p = when(col("ref_tot") === 0, lit(eps)).otherwise(
      greatest(col("ref_n").cast("double") / col("ref_tot"), lit(eps)))
    val q = when(col("cur_tot") === 0, lit(eps)).otherwise(
      greatest(col("cur_n").cast("double") / col("cur_tot"), lit(eps)))
    bins
      .join(refCounts, Seq("bin"), "left")
      .join(curCounts, Seq("bin"), "left")
      .na.fill(0L, Seq("ref_n", "cur_n"))
      .crossJoin(total(refCounts, "ref_n", "ref_tot"))
      .crossJoin(total(curCounts, "cur_n", "cur_tot"))
      .withColumn("psi_term", round((p - q) * log(p / q), 6))
      .select(col("bin"), col("ref_n"), col("cur_n"), col("psi_term"))
      .orderBy("bin")
  }

  /** Driver entry: did the events `value` distribution drift from the
    * first half of January to the second? */
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "nq_psi" -> ((s: SparkSession, d: String) => {
      val ev = graft.Tables.events(s, d)
      val cut = to_timestamp(lit("2024-01-16 00:00:00"))
      psiBins(ev.filter(col("ts") < cut), ev.filter(col("ts") >= cut),
        "value")
    }))

  val oracle: Map[String, String] = Map(
    "nq_psi" ->
      """WITH r AS (
        |  SELECT value FROM events
        |  WHERE ts < TIMESTAMP '2024-01-16 00:00:00' AND value IS NOT NULL),
        |c AS (
        |  SELECT value FROM events
        |  WHERE ts >= TIMESTAMP '2024-01-16 00:00:00' AND value IS NOT NULL),
        |st AS (
        |  SELECT min(value) AS vmin, max(value) AS vmax,
        |    count(*) AS ref_tot FROM r),
        |ct AS (SELECT count(*) AS cur_tot FROM c),
        |rb AS (
        |  SELECT CASE WHEN vmax = vmin THEN 0 ELSE CAST(least(greatest(
        |    floor((value - vmin) / ((vmax - vmin) / 10.0)), 0.0), 9.0)
        |    AS INT) END AS bin, count(*) AS ref_n
        |  FROM r CROSS JOIN st GROUP BY 1),
        |cb AS (
        |  SELECT CASE WHEN vmax = vmin THEN 0 ELSE CAST(least(greatest(
        |    floor((value - vmin) / ((vmax - vmin) / 10.0)), 0.0), 9.0)
        |    AS INT) END AS bin, count(*) AS cur_n
        |  FROM c CROSS JOIN st GROUP BY 1),
        |f AS (
        |  SELECT b.bin, coalesce(rb.ref_n, 0) AS ref_n,
        |    coalesce(cb.cur_n, 0) AS cur_n
        |  FROM (SELECT unnest(range(10)) AS bin) b
        |  LEFT JOIN rb ON rb.bin = b.bin
        |  LEFT JOIN cb ON cb.bin = b.bin)
        |SELECT f.bin, f.ref_n, f.cur_n,
        |  round((greatest(CAST(f.ref_n AS DOUBLE) / ref_tot, 1e-6)
        |       - greatest(CAST(f.cur_n AS DOUBLE) / cur_tot, 1e-6))
        |    * ln(greatest(CAST(f.ref_n AS DOUBLE) / ref_tot, 1e-6)
        |       / greatest(CAST(f.cur_n AS DOUBLE) / cur_tot, 1e-6)), 6)
        |    AS psi_term
        |FROM f CROSS JOIN st CROSS JOIN ct
        |ORDER BY f.bin""".stripMargin)
}
