package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver's test tables (TESTDATA.md).
  *
  * All tables are single Parquet files per scale factor. Reading through
  * here (rather than ad-hoc paths) keeps every query's scan going through
  * the vectorized Parquet reader with Catalyst column pruning / predicate
  * pushdown intact — at 100 TB these become partitioned table roots and
  * nothing else changes.
  */
object Tables {
  // Memoized per (session, path) for the IMMUTABLE driver test data
  // only: spark.read.parquet re-lists the directory and re-reads footers
  // on every call, a fixed ~50-150 ms tax per query that dominates
  // sub-second queries at test SFs. Mutable locations (spec fixture temp
  // dirs, which are rewritten with mode=overwrite) always read fresh —
  // a memoized FileIndex would serve stale or deleted files. On a real
  // deployment catalog tables + the metastore play this role.
  private val memo =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]

  /** The driver's immutable test-data root (TESTDATA.md). Results and
    * file listings under it may be memoized for the session; anything
    * else (spec fixture temp dirs, user paths) must always read fresh.
    * Trailing separator so sibling dirs (e.g. …/testdata_v2) don't match.
    */
  val ImmutableRoot = "/root/testdata/"

  /** Extra immutable roots, comma-separated (`SPARK_GRAFT_IMMUTABLE_DIRS`)
    * for data that lives outside [[ImmutableRoot]] and is never rewritten
    * while a JVM reads it. perfbench (`perfbench/run.py`) sets it to its
    * data dir on every benchmark JVM, so the store entries' build-once /
    * serve-many memo ([[FixtureMemo]]) applies there: curation's standing
    * `nq_media_judge` store is built once, in setup, and every timed op
    * measures the serving path instead of a per-run store rebuild. */
  private val extraImmutable: Seq[String] =
    sys.env.get("SPARK_GRAFT_IMMUTABLE_DIRS")
      // trim + strip trailing slashes (r18 review): "/tmp/sf1f/" or a
      // space after the comma silently disabled the match — and a
      // disabled memo shows up only as probe timings quietly measuring
      // per-run store rebuilds instead of the read path
      .map(_.split(',').toSeq.map(_.trim.stripSuffix("/"))
        .filter(_.nonEmpty))
      .getOrElse(Nil)

  def isImmutable(dir: String): Boolean =
    dir.startsWith(ImmutableRoot) || dir == ImmutableRoot.stripSuffix("/") ||
      extraImmutable.exists(r => dir == r || dir.startsWith(r + "/"))

  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    if (isImmutable(dir)) {
      // evict entries of stopped sessions: a JVM that cycles sessions
      // (per-suite test runners) must not strongly retain dead sessions
      // and their QueryExecutions through this memo forever
      memo.filterInPlace { case ((s, _), _) => !s.sparkContext.isStopped }
      memo.getOrElseUpdate((spark, path), spark.read.parquet(path))
    } else spark.read.parquet(path)
  }

  def region(s: SparkSession, d: String): DataFrame   = t(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = t(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = t(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = t(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = t(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = t(s, d, "lineitem")

  /** events.ts has shipped as BOTH parquet TIMESTAMP(NANOS) and
    * TIMESTAMP(MICROS) across testdata generations, so normalize from
    * whatever the footer says to a session-TZ microsecond TIMESTAMP:
    *  - NANOS + spark.sql.legacy.parquet.nanosAsLong=true (set by every
    *    session in this engine) surfaces as LONG nanoseconds → integer
    *    `div 1000` (stays in LONG; a double roundtrip would lose
    *    precision above 2^53) then timestamp_micros.
    *  - MICROS surfaces as TIMESTAMP_NTZ → cast to TIMESTAMP (sessions
    *    pin UTC, so the wall-clock values are unchanged).
    * DuckDB reads the same file at micros either way, so both engines
    * agree on values.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    val raw = t(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case _ => raw.withColumn("ts", col("ts").cast("timestamp"))
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = t(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = t(s, d, "embeddings")
}
