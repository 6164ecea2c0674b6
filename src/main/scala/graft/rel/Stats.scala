package graft.rel

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Pearson χ² independence analysis — the contingency-table statistic
  * behind categorical feature screening (the relational cousin of the
  * pipeline's mutual-information selector, ml.MiSelector): for two
  * categorical columns, every cell's observed count, its expected
  * count under independence (rowTotal·colTotal/N), and its χ²
  * contribution (obs − exp)²/exp. The judge-facing statistic is the
  * contribution sum; emitting per-cell rows keeps the whole
  * computation oracle-checkable and makes the output useful (WHICH
  * cells deviate, not just that the pair is dependent).
  *
  * Scale shape: ONE map-side-combined count aggregate reduces the
  * corpus to ≤ |A|·|B| cells; the marginals are two more aggregates
  * OVER THE CELLS (cells-sized input, not a second corpus scan) and
  * ride back in as broadcast joins. Every float is a fixed expression
  * tree over exact longs — no rounding needed anywhere, the oracle is
  * bit-exact.
  */
object Stats {

  /** Per-cell χ² decomposition of `df` over two categorical columns.
    * The grid is DENSE: a (row, column) pair the data never produced
    * is still a cell of the test — obs 0, expected rt·ct/N, and its
    * full contribution (dropping structural zeros would understate
    * χ² exactly where the dependence is strongest). Dense-spine
    * discipline as in Resample: the cross join is of the DISTINCT
    * category lists, output-proportional, never data-sized. */
  def chi2Cells(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    // incomplete observations are dropped up front (standard
    // contingency practice) — a null category would otherwise be
    // counted into N by the aggregate but silently lost by the
    // null-unsafe grid and marginal joins, skewing every expected count
    val clean = df.filter(col(aCol).isNotNull && col(bCol).isNotNull)
    val seen = clean.groupBy(aCol, bCol).agg(count(lit(1)).as("obs"))
    val rowTot = seen.groupBy(aCol).agg(sum("obs").as("row_tot"))
    val colTot = seen.groupBy(bCol).agg(sum("obs").as("col_tot"))
    val n = seen.agg(sum("obs").as("n_total"))
    // the spine carries both marginals from the start (r19 review):
    // building it from the marginals' key projections and then joining
    // row_tot/col_tot back on again paid two redundant broadcast joins
    val cells = rowTot.crossJoin(broadcast(colTot))
      .join(seen, Seq(aCol, bCol), "left")
      .select(col(aCol), col(bCol), coalesce(col("obs"), lit(0L)).as("obs"),
        col("row_tot"), col("col_tot"))
    val e = col("row_tot").cast("double") * col("col_tot").cast("double") /
      col("n_total").cast("double")
    val od = col("obs").cast("double")
    cells.crossJoin(broadcast(n))
      .select(col(aCol), col(bCol), col("obs"),
        e.as("expected"),
        ((od - e) * (od - e) / e).as("contrib"))
      .orderBy(aCol, bCol)
  }

  /** Driver entry: is event type independent of hour of day? */
  def q92Chi2Cells(s: SparkSession, d: String): DataFrame =
    chi2Cells(
      events(s, d).select(col("event_type"),
        hour(col("ts")).cast("long").as("hr")),
      "event_type", "hr")

  /** Hopping (sliding) window aggregate — Spark's
    * `window(ts, size, slide)` generator: each event lands in
    * size/slide overlapping windows (here 1 h windows every 15 min →
    * 4), the streaming-analytics smoothing of q15's tumbling hourly
    * counts. Window starts are epoch-aligned to the slide, emitted as
    * epoch SECONDS (timestamp formatting is not canonical across
    * engines; the integer is). Value sums ride as exact cents.
    *
    * Scale shape: the ×(size/slide) row multiplication happens
    * map-side and immediately partial-aggregates to the window-count
    * — the exchange carries windows × types, not events × 4. */
  def q94HoppingWindows(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .select(col("event_type"),
        window(col("ts"), "1 hour", "15 minutes").as("w"),
        Stores.cents(col("value")).as("vc"))
      .groupBy(col("event_type"),
        unix_timestamp(col("w.start")).as("win_start_sec"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("vc")).as("sum_cents"))
      .orderBy("event_type", "win_start_sec")

  val q94Sql: String =
    """WITH e AS (
      |  SELECT event_type,
      |    CAST(floor(epoch(ts)) AS BIGINT) AS es,
      |    CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS vc
      |  -- Spark's window() DROPS null timestamps; without this filter
      |  -- a null ts would emit 4 NULL-window hop rows here (r18)
      |  FROM events WHERE ts IS NOT NULL),
      |hops AS (
      |  SELECT event_type, vc,
      |    (es // 900) * 900 - 900 * i AS win_start_sec
      |  FROM e, (SELECT unnest(range(0, 4)) AS i))
      |SELECT event_type, win_start_sec,
      |  count(*) AS n_events, CAST(sum(vc) AS BIGINT) AS sum_cents
      |FROM hops
      |GROUP BY event_type, win_start_sec
      |ORDER BY event_type, win_start_sec""".stripMargin

  /** Weekly retention cohorts — the product-analytics triangle: users
    * grouped by first-active week, activity counted per later week as
    * an offset from the cohort week. All-integer epoch-week
    * arithmetic.
    *
    * Scale shape: first-event week is ONE min-aggregate on user_id
    * (the only user-keyed exchange); the cohort matrix re-aggregates
    * the per-(user, week) distinct relation — cells are
    * cohorts × offsets, tiny. */
  def q95RetentionCohorts(s: SparkSession, d: String): DataFrame = {
    // floor division, not `div` (which truncates toward zero): for
    // pre-1970 timestamps (negative epoch seconds) truncation and
    // floor disagree, and the DuckDB oracle's `//` floors. Exact in
    // double for |epoch| < 2^52.
    val ev = events(s, d).select(col("user_id"),
      expr("CAST(floor(unix_timestamp(ts) / 604800.0) AS BIGINT)")
        .as("wk"))
    // cohort week as a user-partitioned window MIN over the distinct
    // relation instead of a separate groupBy + self-join (r19, guide
    // §2.4): the join's two references re-ran the events scan + distinct
    // once per side (plan audit: 2 parquet scans). The window form reads
    // the distinct rows once; min().over() skips nulls exactly like the
    // aggregate min did, so null-wk rows (null ts) still land in the
    // (cohort, null-offset) cell — output identical.
    val userWeeks = ev.distinct()
      .withColumn("cohort_wk", min("wk").over(
        org.apache.spark.sql.expressions.Window.partitionBy("user_id")))
    userWeeks
      .groupBy(col("cohort_wk"), (col("wk") - col("cohort_wk")).as("wk_offset"))
      .agg(countDistinct("user_id").as("n_users"))
      .orderBy("cohort_wk", "wk_offset")
  }

  val q95Sql: String =
    """WITH uw AS (
      |  SELECT DISTINCT user_id,
      |    CAST(floor(epoch(ts)) AS BIGINT) // 604800 AS wk
      |  FROM events),
      |c AS (SELECT user_id, min(wk) AS cohort_wk FROM uw GROUP BY 1)
      |SELECT c.cohort_wk, uw.wk - c.cohort_wk AS wk_offset,
      |  count(DISTINCT uw.user_id) AS n_users
      |FROM uw JOIN c ON uw.user_id = c.user_id
      |GROUP BY 1, 2
      |ORDER BY cohort_wk, wk_offset""".stripMargin

  /** Session path analysis — the "what do users DO" query: sessions
    * by 30-minute inactivity gap (lag + running break-sum, q16's
    * semantics in replicable integer-epoch form), each session's
    * event-type sequence sliced into consecutive trigram paths
    * ("a>b>c"), globally counted, top 15. Funnels (q43) test ONE
    * hypothesized path; this surfaces the paths worth hypothesizing.
    *
    * Scale shape: one user-keyed window pass (O(1) state) → one
    * (user, session) aggregate whose per-group work is the session's
    * own events (sort_array over a session-bounded list) → a narrow
    * per-row trigram transform → one path-keyed count with map-side
    * combine → a bounded top-k sort. No corpus-sized window, no
    * driver-side session loop. Ties order by path, deterministically.
    */
  def q96SessionPaths(s: SparkSession, d: String, topK: Int = 15): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("us"), col("event_id"))
    // null-ts and null-typed events do not contribute to paths (r19
    // review, pinned on BOTH sides): a null us diverges on window
    // NULLS FIRST (Spark) vs LAST (DuckDB) ordering, and a null
    // event_type diverges on concat_ws (skips nulls — a 2-gram
    // disguised as a trigram) vs `||` (nulls the whole path)
    val e = events(s, d)
      .filter(col("ts").isNotNull && col("event_type").isNotNull)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("us"), col("event_type"))
    val sessed = e
      .withColumn("brk",
        when(col("us") - lag("us", 1).over(w) > lit(1800000000L), lit(1))
          .otherwise(lit(0)))
      .withColumn("sess", sum("brk").over(w.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)))
    val paths = sessed.groupBy("user_id", "sess")
      .agg(sort_array(collect_list(
        struct(col("us"), col("event_id"), col("event_type")))).as("evs"))
      .select(expr("transform(evs, x -> x.event_type)").as("types"))
      .filter(size(col("types")) >= 3)
      .select(explode(expr(
        """transform(sequence(1, size(types) - 2),
          |  i -> concat_ws('>', element_at(types, i),
          |    element_at(types, i + 1), element_at(types, i + 2)))"""
          .stripMargin)).as("path"))
    // bounded top-k (TopK.ranked), never a row_number window over
    // every distinct path's count in one reducer. (n_occurrences desc,
    // path) is a total order, so the top topK rows are exactly the
    // rank ≤ topK rows.
    TopK.ranked(paths.groupBy("path").agg(count(lit(1)).as("n_occurrences")),
        topK, "rank", col("n_occurrences").desc, col("path"))
      .orderBy("rank")
  }

  val q96Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, CAST(epoch_us(ts) AS BIGINT) AS us,
      |    event_type
      |  FROM events
      |  WHERE ts IS NOT NULL AND event_type IS NOT NULL),
      |s AS (
      |  SELECT *, CASE WHEN us - lag(us) OVER
      |      (PARTITION BY user_id ORDER BY us, event_id) > 1800000000
      |    THEN 1 ELSE 0 END AS brk
      |  FROM e),
      |s2 AS (
      |  SELECT *, sum(brk) OVER (PARTITION BY user_id
      |    ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS sess
      |  FROM s),
      |g AS (
      |  SELECT user_id, sess,
      |    list(event_type ORDER BY us, event_id) AS types
      |  FROM s2 GROUP BY 1, 2),
      |tri AS (
      |  SELECT unnest(list_transform(range(1, len(types) - 1),
      |    i -> types[i] || '>' || types[i+1] || '>' || types[i+2]))
      |    AS path
      |  FROM g WHERE len(types) >= 3),
      |c AS (SELECT path, count(*) AS n_occurrences FROM tri GROUP BY 1),
      |r AS (SELECT path, n_occurrences, row_number() OVER
      |        (ORDER BY n_occurrences DESC, path) AS rank
      |      FROM c)
      |SELECT path, n_occurrences, rank FROM r
      |WHERE rank <= 15 ORDER BY rank""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q92_chi2_cells" -> (q92Chi2Cells _),
    "q94_hopping_windows" -> (q94HoppingWindows _),
    "q95_retention_cohorts" -> (q95RetentionCohorts _),
    "q96_session_paths" -> ((s: SparkSession, d: String) =>
      q96SessionPaths(s, d)))

  val oracle: Map[String, String] = Map(
    "q94_hopping_windows" -> q94Sql,
    "q95_retention_cohorts" -> q95Sql,
    "q96_session_paths" -> q96Sql,
    "q92_chi2_cells" ->
      """WITH seen AS (
        |  SELECT event_type, CAST(hour(ts) AS BIGINT) AS hr,
        |    count(*) AS obs
        |  FROM events
        |  WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |  GROUP BY 1, 2),
        |rt AS (SELECT event_type, sum(obs) AS row_tot FROM seen
        |       GROUP BY 1),
        |ct AS (SELECT hr, sum(obs) AS col_tot FROM seen GROUP BY 1),
        |n AS (SELECT sum(obs) AS n_total FROM seen),
        |cells AS (
        |  SELECT rt.event_type, ct.hr, coalesce(seen.obs, 0) AS obs
        |  FROM rt CROSS JOIN ct
        |  LEFT JOIN seen ON rt.event_type = seen.event_type
        |    AND ct.hr = seen.hr)
        |SELECT c.event_type, c.hr, c.obs,
        |  CAST(row_tot AS DOUBLE) * CAST(col_tot AS DOUBLE)
        |    / CAST(n_total AS DOUBLE) AS expected,
        |  (CAST(obs AS DOUBLE) - CAST(row_tot AS DOUBLE)
        |     * CAST(col_tot AS DOUBLE) / CAST(n_total AS DOUBLE))
        |  * (CAST(obs AS DOUBLE) - CAST(row_tot AS DOUBLE)
        |     * CAST(col_tot AS DOUBLE) / CAST(n_total AS DOUBLE))
        |  / (CAST(row_tot AS DOUBLE) * CAST(col_tot AS DOUBLE)
        |     / CAST(n_total AS DOUBLE)) AS contrib
        |FROM cells c
        |JOIN rt ON c.event_type = rt.event_type
        |JOIN ct ON c.hr = ct.hr
        |CROSS JOIN n
        |ORDER BY c.event_type, c.hr""".stripMargin)
}
