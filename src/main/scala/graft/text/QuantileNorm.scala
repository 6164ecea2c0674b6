package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Cross-group quantile normalization — map each group's score
  * distribution onto the GLOBAL score distribution by rank (the
  * quantile-matching transform of Bolstad et al. 2003, bioinformatics'
  * "quantile normalization", = scikit-learn's QuantileTransformer fit
  * on the pooled corpus): a document's calibrated score is the global
  * quantile at its within-group percentile. The mixing family's
  * missing calibration step: per-language quality scores are not
  * comparable across languages (different length/stopword baselines),
  * and gating every language at one raw threshold silently keeps
  * easy languages and guts hard ones — CCNet's per-language terciles
  * (q77) sidestep this with per-group buckets; quantile normalization
  * produces a single comparable SCORE, which downstream temperature
  * mixing (q74) can consume directly.
  *
  * Determinism/exactness: ranks are integers off the total order
  * (score, doc_id); the percentile (r−1)/(n−1), the fractional global
  * position p = pct·(N−1), and the linear interpolation between the
  * two bracketing global order statistics are ONE fixed double tree
  * replicated verbatim in the oracle — identical inputs, identical
  * IEEE ops, identical floor/indexing on both engines. Groups with a
  * single row pin pct = 0.5 (the distribution-free convention; both
  * engines spell the CASE identically).
  *
  * Scale shape: one window per side — within-group rank (group-keyed
  * exchange) and the global order statistics. The exact global rank
  * is a total sort (the q39 exact-percentile bound, documented); the
  * 100 TB path swaps the global side for the engine's KLL sketch
  * (`kll_sketch` quantile lookup at pct — mergeable partials, no
  * total sort) with identical semantics at sketch accuracy. The two
  * index lookups are plain equi-joins on the dense global rank.
  */
/** The shared prefix-sum + binary-search kernel of the approx and
  * store-backed calibration paths — ONE definition (r18 review: the
  * two paths carried verbatim copies that could drift on a boundary
  * fix and split nq_qnorm_approx from nq_qnorm_store). Serializable:
  * the lookup UDF closures reference it from executors. */
private object QnSearch extends Serializable {
  /** (values, cumulative weights) of a retained-item array. */
  def prefixSums(items: Array[(Double, Long)])
      : (Array[Double], Array[Long]) = {
    val vs = items.map(_._1)
    val cw = new Array[Long](items.length)
    var acc = 0L; var i = 0
    while (i < items.length) { acc += items(i)._2; cw(i) = acc; i += 1 }
    (vs, cw)
  }

  /** First index with cw(i) > t over the strictly-increasing prefix
    * sums; == cw.length iff t >= the total weight. */
  def firstAbove(cw: Array[Long], t: Long): Int = {
    var lo = 0; var hi = cw.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (cw(mid) > t) hi = mid else lo = mid + 1
    }
    lo
  }
}

object QuantileNorm {

  /** (idCol, groupCol, scoreCol, pct, calibrated) — `pct` the
    * within-group percentile, `calibrated` the interpolated global
    * quantile at it. Exact doubles; callers round for display. */
  def quantileNormalize(rows: DataFrame, groupCol: String, idCol: String,
      scoreCol: String): DataFrame = {
    val wg = Window.partitionBy(groupCol)
      .orderBy(col(scoreCol), col(idCol))
    val wgAll = Window.partitionBy(groupCol)
    val wGlob = Window.orderBy(col(scoreCol), col(idCol))
    val base = rows.select(col(idCol), col(groupCol), col(scoreCol))
    // global order statistics: dense 0-based rank → value
    val gv = base
      .select(col(scoreCol).cast("double").as("gval"),
        (row_number().over(wGlob) - 1).cast("long").as("gidx"))
    val nGlob = broadcast(gv.agg(count(lit(1)).as("nn")))
    val ranked = base
      .withColumn("rk", row_number().over(wg).cast("long"))
      .withColumn("ng", count(lit(1)).over(wgAll).cast("long"))
      .crossJoin(nGlob)
      .withColumn("pct",
        when(col("ng") === 1L, lit(0.5))
          .otherwise((col("rk") - lit(1L)).cast("double") /
            (col("ng") - lit(1L)).cast("double")))
      .withColumn("p", col("pct") *
        (col("nn") - lit(1L)).cast("double"))
      .withColumn("lo", floor(col("p")).cast("long"))
      .withColumn("frac", col("p") - col("lo").cast("double"))
    ranked
      .join(gv.select(col("gidx").as("lo"), col("gval").as("vlo")), "lo")
      .join(gv.select((col("gidx") - 1).as("lo"), col("gval").as("vhi")),
        Seq("lo"), "left") // vhi = value at lo+1; null at the top end
      .select(col(idCol), col(groupCol), col(scoreCol), col("pct"),
        (col("vlo") + col("frac") *
          (coalesce(col("vhi"), col("vlo")) - col("vlo")))
          .as("calibrated"))
  }

  // ------------------------------------------------------------- approx
  /** The 100 TB twin of [[quantileNormalize]] (the q77/nq_ccnet_buckets
    * exact-vs-approx precedent): the GLOBAL side — the only
    * un-partitionable piece of the exact form — comes from the engine's
    * own KLL sketch (`functions.KllSketch`: mergeable partials, one
    * ObjectHashAggregate whose exchange carries sketches, never rows)
    * instead of a corpus-wide `Window.orderBy` row_number, which at
    * scale is a single-task total sort of the whole table. The
    * within-group percentile stays EXACT (its window is partitioned by
    * `groupCol` — the shuffle every grouped operator already pays).
    *
    * Semantics: identical interpolation tree, with the global order
    * statistics replaced by the sketch's weighted items — item i with
    * cumulative weight cw occupies global positions [cw−w, cw−1], so
    * position lookup is "first item with cw > lo" (v is non-decreasing
    * along the cw order, making that the min-v-over-suffix both engines
    * spell the same way). Total weight is EXACTLY N (KLL weight
    * conservation), so the fractional position p = pct·(N−1) uses the
    * true row count, and rank error is the sketch's ~1/k band
    * (spec-pinned against the exact form).
    *
    * Scale shape: one partitioned window + one global sketch aggregate
    * over the corpus; the retained items are O(k log n) — a bounded,
    * fail-loud driver collect (the Mmr.scala:58 convention; 256·log₂ of
    * even 10¹² rows is ~10k items) — and ship to executors ONCE as a
    * broadcast, looked up by binary search per row (O(log items), no
    * join, no second corpus pass).
    *
    * Returns (result, items): `items` = the retained (v, w) pairs the
    * result was computed from, for the oracle dump (the
    * nq_kll_quantiles pattern — the estimator tail re-runs in DuckDB
    * over the identical items).
    */
  def quantileNormalizeApprox(rows: DataFrame, groupCol: String,
      idCol: String, scoreCol: String, k: Int = 256,
      maxRetained: Int = 4000000): (DataFrame, DataFrame) = {
    val s = rows.sparkSession
    import s.implicits._
    graft.functions.VecFunctions.register(s)
    val base = rows.select(col(idCol), col(groupCol), col(scoreCol))
    // ONE materialization of the sketch (partial-merge order varies run
    // to run, so two lazy evaluations may retain different — equally
    // valid — items): collect the bounded item list and derive BOTH the
    // lookup arrays and the dump relation from it.
    val items: Array[(Double, Long)] = base
      .agg(expr(s"kll_sketch(CAST(`$scoreCol` AS DOUBLE), 1L, $k)").as("sk"))
      .select(explode(col("sk")).as("it"))
      .select(col("it.v"), col("it.w")).as[(Double, Long)].collect()
    require(items.nonEmpty, "quantileNormalizeApprox: empty input")
    require(items.length <= maxRetained,
      s"quantileNormalizeApprox: ${items.length} retained items exceed " +
        s"the $maxRetained driver bound — raise maxRetained deliberately")
    val (vArr, cwArr) = QnSearch.prefixSums(items)
    val n = cwArr.last // exact row count: KLL weight conservation
    val bc = s.sparkContext.broadcast((cwArr, vArr))
    // firstAbove == length iff t >= N, which lo <= N-1 precludes for
    // vlo and COALESCEs for vhi
    val lookup = udf { (lo: Long, frac: Double) =>
      val (cw, vs) = bc.value
      val vlo = vs(QnSearch.firstAbove(cw, lo))
      val i2 = QnSearch.firstAbove(cw, lo + 1)
      val vhi = if (i2 < vs.length) vs(i2) else vlo
      // the EXACT form's interpolation tree, verbatim
      vlo + frac * (vhi - vlo)
    }
    val wg = Window.partitionBy(groupCol)
      .orderBy(col(scoreCol), col(idCol))
    val wgAll = Window.partitionBy(groupCol)
    val result = base
      .withColumn("rk", row_number().over(wg).cast("long"))
      .withColumn("ng", count(lit(1)).over(wgAll).cast("long"))
      .withColumn("pct",
        when(col("ng") === 1L, lit(0.5))
          .otherwise((col("rk") - lit(1L)).cast("double") /
            (col("ng") - lit(1L)).cast("double")))
      .withColumn("p", col("pct") * lit((n - 1).toDouble))
      .withColumn("lo", floor(col("p")).cast("long"))
      .withColumn("frac", col("p") - col("lo").cast("double"))
      .select(col(idCol), col(groupCol), col(scoreCol), col("pct"),
        lookup(col("lo"), col("frac")).as("calibrated"))
    (result, items.toSeq.toDF("v", "w"))
  }

  // ----------------------------------------------------- store-backed
  /** Calibrate an INCOMING batch against PERSISTED distributions — the
    * ingest-path form (nq_qnorm_approx computes both sides from the
    * corpus in one job; a production pipeline fits the calibration
    * nightly and applies it to each arriving batch): the standing
    * per-group KLL sketches give the batch doc's within-group
    * percentile (cumulative weight strictly below its score over total
    * group weight), the standing GLOBAL sketch gives the calibrated
    * value at that percentile (the approx form's interpolation tree,
    * verbatim). Zero windows, zero shuffle: the batch maps once over
    * two broadcast item tables with O(log items) binary searches per
    * row. Docs whose group has no standing sketch calibrate to NULL
    * (a new language is a curation decision, not a silent 0.5).
    *
    * pct convention (own definition, spec-tied to the exact form's
    * rank band): ng = 1 pins 0.5 (the q109 singleton rule), else
    * min(1, cwBelow/(ng−1)) — a batch score above every standing item
    * caps at the top quantile. */
  def calibrateFromSketches(batch: DataFrame, groupCol: String,
      idCol: String, scoreCol: String,
      groupItems: Map[String, Array[(Double, Long)]],
      globalItems: Array[(Double, Long)]): DataFrame = {
    val s = batch.sparkSession
    require(globalItems.nonEmpty, "calibrateFromSketches: empty global")
    val (gv, gcw) = QnSearch.prefixSums(globalItems)
    val nGlob = gcw.last
    val byGroup = groupItems.map { case (g, it) =>
      g -> QnSearch.prefixSums(it) }
    val bc = s.sparkContext.broadcast((byGroup, gv, gcw, nGlob))
    def firstGe(vs: Array[Double], x: Double): Int = {
      var lo = 0; var hi = vs.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (vs(mid) >= x) hi = mid else lo = mid + 1
      }
      lo
    }
    val cal = udf { (g: String, x: Double) =>
      val (groups, gvs, gcws, n) = bc.value
      groups.get(g).map { case (vs, cws) =>
        val ng = cws.last
        val i = firstGe(vs, x)
        val cwBelow = if (i == 0) 0L else cws(i - 1)
        // the fixed tree, mirrored in the oracle SQL
        val pct =
          if (ng == 1L) 0.5
          else math.min(1.0, cwBelow.toDouble / (ng - 1L).toDouble)
        val p = pct * (n - 1L).toDouble
        val lo = math.floor(p).toLong
        val frac = p - lo.toDouble
        val vlo = gvs(QnSearch.firstAbove(gcws, lo))
        val i2 = QnSearch.firstAbove(gcws, lo + 1)
        val vhi = if (i2 < gvs.length) gvs(i2) else vlo
        (pct, vlo + frac * (vhi - vlo))
      }
    }
    batch
      .select(col(idCol), col(groupCol), col(scoreCol))
      .withColumn("r",
        cal(col(groupCol), col(scoreCol).cast("double")))
      .select(col(idCol), col(groupCol), col(scoreCol),
        col("r._1").as("pct"), col("r._2").as("calibrated"))
  }

  // ---------------------------------------------------------------- q109
  /** Contract entry: per-language n_chars distributions calibrated to
    * the global one. round(,6); scores positive, no sign guard. */
  def q109QuantileNorm(s: SparkSession, d: String): DataFrame =
    quantileNormalize(graft.Tables.documents(s, d), "lang", "doc_id",
        "n_chars")
      .select(col("doc_id"), col("lang"), col("n_chars"),
        round(col("pct"), 6).as("pct"),
        round(col("calibrated"), 6).as("calibrated"))
      .orderBy("doc_id")

  private[text] val q109Sql: String =
    """WITH base AS (
      |  SELECT doc_id, lang, n_chars FROM documents),
      |gv AS (
      |  SELECT CAST(n_chars AS DOUBLE) AS gval,
      |    CAST(row_number() OVER (ORDER BY n_chars, doc_id) - 1
      |      AS BIGINT) AS gidx
      |  FROM base),
      |nn AS (SELECT count(*) AS nn FROM base),
      |rk AS (
      |  SELECT doc_id, lang, n_chars,
      |    CAST(row_number() OVER (PARTITION BY lang
      |      ORDER BY n_chars, doc_id) AS BIGINT) AS rk,
      |    CAST(count(*) OVER (PARTITION BY lang) AS BIGINT) AS ng
      |  FROM base),
      |px AS (
      |  SELECT r.*, nn.nn,
      |    CASE WHEN r.ng = 1 THEN 0.5
      |      ELSE CAST(r.rk - 1 AS DOUBLE) / CAST(r.ng - 1 AS DOUBLE)
      |    END AS pct
      |  FROM rk r CROSS JOIN nn),
      |pp AS (
      |  SELECT *, pct * CAST(nn - 1 AS DOUBLE) AS p FROM px),
      |ll AS (
      |  SELECT *, CAST(floor(p) AS BIGINT) AS lo,
      |    p - CAST(CAST(floor(p) AS BIGINT) AS DOUBLE) AS frac
      |  FROM pp)
      |SELECT l.doc_id, l.lang, l.n_chars,
      |  round(l.pct, 6) AS pct,
      |  round(vl.gval + l.frac * (COALESCE(vh.gval, vl.gval) - vl.gval),
      |    6) AS calibrated
      |FROM ll l
      |JOIN gv vl ON vl.gidx = l.lo
      |LEFT JOIN gv vh ON vh.gidx = l.lo + 1
      |ORDER BY l.doc_id""".stripMargin

  // ------------------------------------------------------ nq_qnorm_approx
  private val DumpDir = "/tmp/graft_qnorm_oracle"

  /** Contract entry: q109's calibration with the global side from the
    * KLL sketch (k=256). The oracle re-runs the whole estimator tail —
    * within-group percentile, fractional position, sketch-item lookup,
    * interpolation — in DuckDB over the DUMPED retained items, so a
    * wrong cumulative weight, a broken binary search, or an
    * interpolation drift all hash-fail. */
  def nqQnormApprox(s: SparkSession, d: String): DataFrame = {
    val (res, items) = quantileNormalizeApprox(
      graft.Tables.documents(s, d), "lang", "doc_id", "n_chars", k = 256)
    graft.OracleDump.dump(items, s"$DumpDir/nq_qnorm_approx.parquet")
    res.select(col("doc_id"), col("lang"), col("n_chars"),
        round(col("pct"), 6).as("pct"),
        round(col("calibrated"), 6).as("calibrated"))
      .orderBy("doc_id")
  }

  private[text] val nqQnormApproxSql: String =
    s"""WITH base AS (
       |  SELECT doc_id, lang, n_chars FROM documents),
       |items AS (
       |  SELECT v, w
       |  FROM read_parquet('$DumpDir/nq_qnorm_approx.parquet/*.parquet')),
       |cum AS (
       |  SELECT v, w,
       |    sum(w) OVER (ORDER BY v, w ROWS UNBOUNDED PRECEDING) AS cw
       |  FROM items),
       |nn AS (SELECT CAST(sum(w) AS BIGINT) AS nn FROM items),
       |rk AS (
       |  SELECT doc_id, lang, n_chars,
       |    CAST(row_number() OVER (PARTITION BY lang
       |      ORDER BY n_chars, doc_id) AS BIGINT) AS rk,
       |    CAST(count(*) OVER (PARTITION BY lang) AS BIGINT) AS ng
       |  FROM base),
       |px AS (
       |  SELECT r.*, nn.nn,
       |    CASE WHEN r.ng = 1 THEN 0.5
       |      ELSE CAST(r.rk - 1 AS DOUBLE) / CAST(r.ng - 1 AS DOUBLE)
       |    END AS pct
       |  FROM rk r CROSS JOIN nn),
       |pp AS (
       |  SELECT *, pct * CAST(nn - 1 AS DOUBLE) AS p FROM px),
       |ll AS (
       |  SELECT *, CAST(floor(p) AS BIGINT) AS lo,
       |    p - CAST(CAST(floor(p) AS BIGINT) AS DOUBLE) AS frac
       |  FROM pp),
       |lu AS (
       |  SELECT l.doc_id, l.lang, l.n_chars, l.pct, l.frac,
       |    min(CASE WHEN c.cw > l.lo THEN c.v END) AS vlo,
       |    min(CASE WHEN c.cw > l.lo + 1 THEN c.v END) AS vhi
       |  FROM ll l CROSS JOIN cum c
       |  GROUP BY l.doc_id, l.lang, l.n_chars, l.pct, l.frac)
       |SELECT doc_id, lang, n_chars,
       |  round(pct, 6) AS pct,
       |  round(vlo + frac * (COALESCE(vhi, vlo) - vlo), 6) AS calibrated
       |FROM lu
       |ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------ nq_qnorm_store
  /** Driver entry: the corpus splits into standing history (doc_id %
    * 7 ≠ 3, ingested as 3 fenced KLL-store batches per lang + 3 for
    * the global sketch) and an incoming batch (doc_id % 7 = 3)
    * calibrated against the MERGED store reads alone. The oracle
    * re-runs the whole estimator over the two dumped item tables —
    * cwBelow, the capped percentile, and the global interpolation —
    * so a wrong prefix sum, a broken group lookup, or a cap miss all
    * hash-fail. */
  def nqQnormStore(s: SparkSession, d: String, k: Int = 256): DataFrame = {
    import s.implicits._
    // one store build (collected item tables) per immutable driver dir
    val (byLang, glob) = graft.FixtureMemo.store("qnormstore", d) { p =>
      val history = graft.Tables.documents(s, d)
        .filter(pmod(col("doc_id"), lit(7)) =!= 3)
      val langPath = s"$p/lang.parquet"
      val globPath = s"$p/glob.parquet"
      (0 until 3).foreach { b =>
        val slice = history.filter(pmod(col("doc_id"), lit(3)) === b)
        graft.rel.QuantileStore.applyBatch(slice, Seq("lang"), "n_chars",
          langPath, b.toLong, k)
        graft.rel.QuantileStore.applyBatch(slice, Seq(), "n_chars",
          globPath, b.toLong, k)
      }
      // ONE materialization each (the partial-merge-order discipline):
      // the collected arrays feed BOTH the lookup and the oracle dump
      val byLang = graft.rel.QuantileStore
        .sketchesFromStore(s, langPath, Seq("lang"), k)
        .select(col("lang"), explode(col("sk")).as("it"))
        .select(col("lang"), col("it.v"), col("it.w"))
        .as[(String, Double, Long)].collect()
        .groupBy(_._1).map { case (g, rows) =>
          g -> rows.map(r => (r._2, r._3)).sortBy(r => (r._1, r._2)) }
      val glob = graft.rel.QuantileStore
        .sketchesFromStore(s, globPath, Seq(), k)
        .select(explode(col("sk")).as("it"))
        .select(col("it.v"), col("it.w"))
        .as[(Double, Long)].collect().sortBy(r => (r._1, r._2))
      (byLang, glob)
    }
    graft.OracleDump.dump(
      byLang.toSeq.flatMap { case (g, it) =>
        it.map(x => (g, x._1, x._2)) }.toDF("lang", "v", "w"),
      s"$DumpDir/nq_qnorm_store_group.parquet")
    graft.OracleDump.dump(glob.toSeq.toDF("v", "w"),
      s"$DumpDir/nq_qnorm_store_global.parquet")
    val batch = graft.Tables.documents(s, d)
      .filter(pmod(col("doc_id"), lit(7)) === 3)
    calibrateFromSketches(batch, "lang", "doc_id", "n_chars",
        byLang, glob)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        round(col("pct"), 6).as("pct"),
        round(col("calibrated"), 6).as("calibrated"))
      .orderBy("doc_id")
  }

  private[text] val nqQnormStoreSql: String =
    s"""WITH batch AS (
       |  SELECT doc_id, lang, n_chars FROM documents
       |  WHERE doc_id % 7 = 3),
       |gi AS (
       |  SELECT lang, v, w
       |  FROM read_parquet('$DumpDir/nq_qnorm_store_group.parquet/*.parquet')),
       |gbl AS (
       |  SELECT v, w
       |  FROM read_parquet('$DumpDir/nq_qnorm_store_global.parquet/*.parquet')),
       |gcum AS (
       |  SELECT v, w,
       |    sum(w) OVER (ORDER BY v, w ROWS UNBOUNDED PRECEDING) AS cw
       |  FROM gbl),
       |nn AS (SELECT CAST(sum(w) AS BIGINT) AS nn FROM gbl),
       |ngs AS (SELECT lang, CAST(sum(w) AS BIGINT) AS ng
       |        FROM gi GROUP BY lang),
       |below AS (
       |  SELECT b.doc_id, b.lang, b.n_chars, n.ng,
       |    COALESCE((SELECT CAST(sum(g2.w) AS BIGINT) FROM gi g2
       |              WHERE g2.lang = b.lang
       |                AND g2.v < CAST(b.n_chars AS DOUBLE)), 0) AS cwb
       |  FROM batch b LEFT JOIN ngs n USING (lang)),
       |px AS (
       |  SELECT doc_id, lang, n_chars,
       |    CASE WHEN ng IS NULL THEN NULL
       |         WHEN ng = 1 THEN 0.5
       |         ELSE least(1.0,
       |           CAST(cwb AS DOUBLE) / CAST(ng - 1 AS DOUBLE)) END AS pct
       |  FROM below),
       |pp AS (
       |  SELECT p.*, nn.nn, pct * CAST(nn - 1 AS DOUBLE) AS p
       |  FROM px p CROSS JOIN nn),
       |ll AS (
       |  SELECT *, CAST(floor(p) AS BIGINT) AS lo,
       |    p - CAST(CAST(floor(p) AS BIGINT) AS DOUBLE) AS frac
       |  FROM pp),
       |lu AS (
       |  SELECT l.doc_id, l.lang, l.n_chars, l.pct, l.frac,
       |    min(CASE WHEN c.cw > l.lo THEN c.v END) AS vlo,
       |    min(CASE WHEN c.cw > l.lo + 1 THEN c.v END) AS vhi
       |  FROM ll l CROSS JOIN gcum c
       |  GROUP BY l.doc_id, l.lang, l.n_chars, l.pct, l.frac)
       |SELECT doc_id, lang, n_chars,
       |  round(pct, 6) AS pct,
       |  round(vlo + frac * (COALESCE(vhi, vlo) - vlo), 6) AS calibrated
       |FROM lu
       |ORDER BY doc_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q109_quantile_norm" -> (q109QuantileNorm _),
    "nq_qnorm_approx" -> (nqQnormApprox _),
    "nq_qnorm_store" -> ((s: SparkSession, d: String) =>
      nqQnormStore(s, d)))

  val oracle: Map[String, String] = Map(
    "q109_quantile_norm" -> q109Sql,
    "nq_qnorm_approx" -> nqQnormApproxSql,
    "nq_qnorm_store" -> nqQnormStoreSql)
}
