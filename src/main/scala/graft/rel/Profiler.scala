package graft.rel

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables._

/** Table profiling — pandas `describe()` / DuckDB `SUMMARIZE` as one
  * distributed pass (the reference recomputes exactly this shape
  * eagerly over its whole frame table every run,
  * /root/reference/src/voice_classifier.py:147): one row per column
  * with row/null/distinct counts and numeric min/max/mean, for any
  * input schema by reflection.
  *
  * Scale shape: ONE aggregate job produces every per-column statistic
  * (a single scan, map-side partials for all of them), then the wide
  * result row pivots to per-column rows driver-side via a literal
  * struct array — rows = columns, not data. The exact per-column
  * distinct count is the one statistic whose single-pass form
  * multiplies the scan (Spark plans multi-distinct aggregates with
  * EXPAND: one input row per distinct-column) — honest but heavy at
  * 100 TB, so `profile` takes a flag: exact distinct for the oracle
  * contract (q87), KMV min-k sketches (k-bounded partials, no EXPAND)
  * as the default scale path — the same exact/approx pairing as
  * q11 vs nq_approx_distinct / nq_kmv_distinct.
  *
  * Timestamps profile their counts but not min/max/mean: cross-engine
  * timestamp-to-string formatting is not canonical, and the numeric
  * channel is typed DOUBLE. Means are round-4 like every aggregated
  * double in the contract (q01's convention).
  */
object Profiler {

  private def isNumeric(dt: DataType): Boolean = dt match {
    case _: ByteType | _: ShortType | _: IntegerType | _: LongType |
         _: FloatType | _: DoubleType | _: DecimalType => true
    case _ => false
  }

  /** Per-column profile of `df`: (col_name, dtype, n_rows, n_null,
    * n_distinct | n_distinct_est, min_num, max_num, avg_num).
    *
    * Exact form: `countDistinct` per column (EXPAND — one input row
    * per distinct column; the oracle contract q87). Approx scale form:
    * a KMV min-k sketch per column over `xxhash64` — k-bounded
    * exchange state, no EXPAND, and 2.7× cheaper than
    * `approx_count_distinct`'s interpreted HLL updates (measured r11:
    * 0.9 s vs 2.4 s for the 11-sketch-only pass at sf0.1 — both run
    * interpreted because imperative aggregates disable whole-stage
    * codegen, but the common KMV row is a cheap reject while HLL pays
    * a register update per row). The estimate is (k−1)/u(h_(k)) (Beyer
    * et al. 2007), the same bit-replicable double chain nq_kmv_distinct
    * hash-checks — which is what lets nq_profile carry a full DuckDB
    * oracle: declarative stats recompute exactly from the raw table,
    * the estimator tail re-runs over the dumped sketches. */
  def profile(df: DataFrame, exactDistinct: Boolean = false,
      k: Int = ApproxK, dumpPath: Option[String] = None): DataFrame = {
    val cols = df.schema.fields
    val wide = if (exactDistinct) {
      val aggs: Seq[Column] = cols.flatMap { f =>
        val c = col(f.name)
        val base = Seq(
          count(c).as(s"__cnt_${f.name}"),
          countDistinct(c).as(s"__nd_${f.name}"))
        val num = if (isNumeric(f.dataType)) Seq(
          min(c).cast("double").as(s"__min_${f.name}"),
          max(c).cast("double").as(s"__max_${f.name}"),
          round(avg(c.cast("double")), 4).as(s"__avg_${f.name}"))
        else Seq.empty
        base ++ num
      }.toSeq
      df.agg(count(lit(1)).as("__n"), aggs: _*)
    } else approxWide(df, k)
    // KMV sketches are deterministic functions of the input SET (min-k
    // over hashes, order-free), so dumping them re-evaluates the
    // aggregate without pinning (contrast QuantileStore's KLL pin)
    dumpPath.filter(_ => !exactDistinct).foreach { p =>
      graft.OracleDump.dump(
        wide.select(explode(array(cols.map(f => struct(
            lit(f.name).as("col_name"),
            col(s"__sk_${f.name}").as("sk"))): _*)).as("e"))
          .select(col("e.col_name"), explode(col("e.sk")).as("v")),
        p)
    }
    val perCol = cols.map { f =>
      val numeric = isNumeric(f.dataType)
      val nd =
        if (exactDistinct) col(s"__nd_${f.name}").as("n_distinct")
        else {
          val sk = col(s"__sk_${f.name}")
          round(when(size(sk) < k, size(sk).cast("double"))
            .otherwise(lit((k - 1).toDouble) /
              ApproxQueries.u(element_at(sk, k))), 4)
            .as("n_distinct_est")
        }
      struct(
        lit(f.name).as("col_name"),
        lit(f.dataType.simpleString).as("dtype"),
        col("__n").as("n_rows"),
        (col("__n") - col(s"__cnt_${f.name}")).as("n_null"),
        nd,
        (if (numeric) col(s"__min_${f.name}")
         else lit(null).cast("double")).as("min_num"),
        (if (numeric) col(s"__max_${f.name}")
         else lit(null).cast("double")).as("max_num"),
        (if (numeric) col(s"__avg_${f.name}")
         else lit(null).cast("double")).as("avg_num"))
    }
    wide.select(explode(array(perCol: _*)).as("p"))
      .select("p.*")
      .orderBy("col_name")
  }

  /** The approx scale form's one-pass aggregate as a FUSED typed
    * kernel (r20; guide §1.2 per-task work). The previous shape — 11
    * `kmv_sketch` TypedImperativeAggregates + 30 declarative stats in
    * one Aggregate — forced ObjectHashAggregateExec, which runs EVERY
    * aggregate's update interpreted (41 MutableProjection evals per
    * row; the scan's Project wasn't even whole-stage-codegen'd).
    * Here the only per-row expression work is the codegen'd projection
    * (null-guarded xxhash64 per column + numeric double casts); one
    * mapPartitions pass then updates all counters and the k-bounded
    * MinSets in tight JVM code — still ONE scan (the r11 two-job split
    * stays rejected: it halves local time but doubles the 100 TB
    * scan). Partials are one row per partition (k longs per column +
    * a few doubles), merged in PARTITION-ID ORDER in a single task —
    * the double sums are therefore deterministic, unlike the previous
    * fetch-order final merge. Same wide-row schema out, so the pivot,
    * estimator tail, and sketch dump are untouched; min/max use
    * java.lang.Double.compare with first-value seeding, reproducing
    * Spark's NaN-greatest aggregate ordering, and min/max-then-cast ≡
    * cast-then-min/max because the numeric→double cast is monotone.
    */
  private def approxWide(df: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    val cols = df.schema.fields
    val numIdx = cols.indices.filter(i => isNumeric(cols(i).dataType))
    val nC = cols.length
    val nN = numIdx.length
    // codegen'd projection: one null-guarded hash per column (null iff
    // the value is null — the kernel reads null-ness off the hash), then
    // the numeric columns cast to double
    val proj = df.select(
      cols.map(f => when(col(f.name).isNotNull, xxhash64(col(f.name)))
        .as(s"__h_${f.name}")) ++
      numIdx.map(i => col(cols(i).name).cast("double")
        .as(s"__v_${cols(i).name}")): _*)
    val partialSchema = StructType(Seq(
      StructField("pid", IntegerType, nullable = false),
      StructField("n", LongType, nullable = false),
      StructField("cnt", ArrayType(LongType, containsNull = false)),
      StructField("mn", ArrayType(DoubleType, containsNull = false)),
      StructField("mx", ArrayType(DoubleType, containsNull = false)),
      StructField("sm", ArrayType(DoubleType, containsNull = false)),
      StructField("sks",
        ArrayType(ArrayType(LongType, containsNull = false)))))
    val partials = proj.mapPartitions { it =>
      var n = 0L
      val cnt = new Array[Long](nC)
      val ncnt = new Array[Long](nN)
      val mn = new Array[Double](nN)
      val mx = new Array[Double](nN)
      val sm = new Array[Double](nN)
      val sks = Array.fill(nC)(new graft.functions.KmvSketch.MinSet(k))
      while (it.hasNext) {
        val r = it.next(); n += 1
        var j = 0
        while (j < nC) {
          if (!r.isNullAt(j)) { cnt(j) += 1; sks(j).offer(r.getLong(j)) }
          j += 1
        }
        var i = 0
        while (i < nN) {
          val c = nC + i
          if (!r.isNullAt(c)) {
            val v = r.getDouble(c)
            if (ncnt(i) == 0L) { mn(i) = v; mx(i) = v }
            else {
              if (java.lang.Double.compare(v, mn(i)) < 0) mn(i) = v
              if (java.lang.Double.compare(v, mx(i)) > 0) mx(i) = v
            }
            ncnt(i) += 1
            sm(i) += v
          }
          i += 1
        }
      }
      Iterator.single(Row(
        org.apache.spark.TaskContext.getPartitionId(), n,
        cnt.toSeq, mn.toSeq, mx.toSeq, sm.toSeq,
        sks.toSeq.map(_.sortedAsc.toSeq)))
    }(Encoders.row(partialSchema))
    // one-row final merge: the exchange carries one k-bounded row per
    // scan partition; merging in pid order pins the double-sum order
    val one = partials.repartition(1).mapPartitions { it =>
      val rows = it.toArray.sortBy(_.getInt(0))
      var n = 0L
      val cnt = new Array[Long](nC)
      val ncnt = new Array[Long](nN)
      val mn = new Array[Double](nN)
      val mx = new Array[Double](nN)
      val sm = new Array[Double](nN)
      val sks = Array.fill(nC)(new graft.functions.KmvSketch.MinSet(k))
      for (r <- rows) {
        n += r.getLong(1)
        val rc = r.getSeq[Long](2)
        val rmn = r.getSeq[Double](3); val rmx = r.getSeq[Double](4)
        val rsm = r.getSeq[Double](5)
        val rsk = r.getSeq[Seq[Long]](6)
        var j = 0
        while (j < nC) {
          cnt(j) += rc(j)
          rsk(j).foreach(sks(j).offer)
          j += 1
        }
        var i = 0
        while (i < nN) {
          // a partial's min/max slot is live iff that partial saw a
          // non-null value for the column — recoverable from cnt: the
          // partial counts cnt off the hash column and ncnt off the cast
          // column, and the two agree because a numeric→double cast
          // never nulls a non-null value. A projection that could (a
          // try_cast, a guarded cast) must carry ncnt in the partial
          // row, or a stale 0.0 seed would merge as a real min/max
          if (rc(numIdx(i)) > 0L) {
            if (ncnt(i) == 0L) { mn(i) = rmn(i); mx(i) = rmx(i) }
            else {
              if (java.lang.Double.compare(rmn(i), mn(i)) < 0) mn(i) = rmn(i)
              if (java.lang.Double.compare(rmx(i), mx(i)) > 0) mx(i) = rmx(i)
            }
            ncnt(i) += rc(numIdx(i))
            sm(i) += rsm(i)
          }
          i += 1
        }
      }
      Iterator.single(Row(0, n, cnt.toSeq, mn.toSeq, mx.toSeq, sm.toSeq,
        sks.toSeq.map(_.sortedAsc.toSeq)))
    }(Encoders.row(partialSchema))
    one.select(
      col("n").as("__n") +:
      (cols.zipWithIndex.flatMap { case (f, j) =>
        Seq(element_at(col("cnt"), j + 1).as(s"__cnt_${f.name}"),
          element_at(col("sks"), j + 1).as(s"__sk_${f.name}"))
      } ++
      numIdx.zipWithIndex.flatMap { case (ci, i) =>
        val c = cols(ci).name
        val nonEmpty = element_at(col("cnt"), ci + 1) > 0L
        Seq(
          when(nonEmpty, element_at(col("mn"), i + 1)).as(s"__min_$c"),
          when(nonEmpty, element_at(col("mx"), i + 1)).as(s"__max_$c"),
          when(nonEmpty, round(
            element_at(col("sm"), i + 1) /
              element_at(col("cnt"), ci + 1).cast("double"), 4))
            .as(s"__avg_$c"))
      }): _*)
  }

  /** KMV size for the approx form: ~1/√k ≈ 2.2% relative error,
    * matching approx_count_distinct's previous 0.02 rsd. */
  val ApproxK = 2048

  private[rel] val ProfileDumpDir = "/tmp/graft_profile_oracle"

  /** Driver entry: the lineitem profile with EXACT distincts (the
    * oracle-checkable form; the approx default is the scale path). */
  def q87Profile(s: SparkSession, d: String): DataFrame =
    profile(lineitem(s, d), exactDistinct = true)

  /** One per-column oracle branch — the scaffolding SHARED by the
    * exact and approx forms (only the distinct column differs, via
    * `distinctSql`): the exact stats must stay bit-identical between
    * the two oracles, so they are generated from one place. */
  private def profileBranch(table: String, name: String, dtype: String,
      numeric: Boolean, distinctSql: String): String = {
    val minS = if (numeric) s"CAST(min($name) AS DOUBLE)"
               else "CAST(NULL AS DOUBLE)"
    val maxS = if (numeric) s"CAST(max($name) AS DOUBLE)"
               else "CAST(NULL AS DOUBLE)"
    val avgS = if (numeric) s"round(avg(CAST($name AS DOUBLE)), 4)"
               else "CAST(NULL AS DOUBLE)"
    s"""SELECT '$name' AS col_name, '$dtype' AS dtype,
       |  count(*) AS n_rows,
       |  count(*) - count($name) AS n_null,
       |  $distinctSql,
       |  $minS AS min_num, $maxS AS max_num, $avgS AS avg_num
       |FROM $table""".stripMargin
  }

  /** Oracle: one UNION ALL branch per column, generated from the same
    * schema the Spark side reflects over — the two engines cannot
    * drift on column lists. */
  private def profileSql(table: String,
      cols: Seq[(String, String, Boolean)]): String =
    cols.map { case (name, dtype, numeric) =>
      profileBranch(table, name, dtype, numeric,
        s"count(DISTINCT $name) AS n_distinct")
    }.mkString("", "\nUNION ALL\n", "\nORDER BY col_name")

  // lineitem's columns, mirrored from TESTDATA.md's fixed schema; the
  // dtype strings are Spark's simpleString names (the driver compares
  // values, and these are data in the result)
  private val LineitemColsV = Seq(
    ("l_orderkey", "bigint", true),
    ("l_partkey", "bigint", true),
    ("l_suppkey", "bigint", true),
    ("l_linenumber", "int", true),
    ("l_quantity", "double", true),
    ("l_extendedprice", "double", true),
    ("l_discount", "double", true),
    ("l_tax", "double", true),
    ("l_returnflag", "string", false),
    ("l_linestatus", "string", false),
    ("l_shipdate", "timestamp_ntz", false))

  val q87Sql: String = profileSql("lineitem", LineitemColsV)

  /** The scale form: KMV distinct estimates, no EXPAND, k-bounded
    * exchange state; hash-oracled (see `profile`'s scaladoc). */
  def nqProfile(s: SparkSession, d: String): DataFrame =
    profile(lineitem(s, d), dumpPath = Some(ProfileDumpDir))

  /** Oracle for the approx form: n_rows/n_null/min/max/avg recomputed
    * EXACTLY from the raw table (the q87 machinery); the distinct
    * estimate re-derives from the dumped per-column sketch via the
    * same (k−1)/u(h_(k)) double chain nq_kmv_distinct proved
    * bit-replicable. */
  private def profileApproxSql(table: String,
      cols: Seq[(String, String, Boolean)], k: Int): String = {
    val branches = cols.map { case (name, dtype, numeric) =>
      profileBranch(table, name, dtype, numeric,
        s"""coalesce((SELECT round(CASE WHEN m < $k THEN m::DOUBLE
           |      ELSE ${(k - 1).toDouble} /
           |        ((kth::DOUBLE + 9223372036854775808.0)
           |          / 18446744073709551616.0) END, 4)
           |    FROM agg WHERE agg.col_name = '$name'), 0.0)
           |    AS n_distinct_est""".stripMargin)
    }.mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
    s"""WITH agg AS (
       |  SELECT col_name, count(*) AS m, max(v) AS kth
       |  FROM read_parquet('$ProfileDumpDir/*.parquet')
       |  GROUP BY col_name)
       |$branches""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q87_profile" -> (q87Profile _),
    "nq_profile" -> (nqProfile _))

  val oracle: Map[String, String] = Map(
    "q87_profile" -> q87Sql,
    "nq_profile" -> profileApproxSql("lineitem", LineitemColsV, ApproxK))
}
