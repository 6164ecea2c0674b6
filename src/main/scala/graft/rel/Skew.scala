package graft.rel

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew mitigation utilities (SURVEY §4.2 / the 100 TB checklist).
  *
  * AQE's skew-join splitting handles sort-merge joins automatically; these
  * cover the two cases it doesn't:
  *  - a skewed AGGREGATE key (one group ≫ others → one reducer burns):
  *    two-phase salted aggregation;
  *  - a skewed JOIN key against a small-but-not-broadcastable side:
  *    salt the big side, replicate the small side per salt.
  *
  * The salt must differ BETWEEN COPIES of identical rows (the canonical
  * hot key is a duplicated/sentinel row) — a content hash cannot do
  * that, so the salt is seeded rand(): Spark seeds rand per partition
  * index, so recomputation of a partition under task retry reproduces
  * the same salts (quirk Q6 discipline holds) — PROVIDED the
  * partition's row membership and order are themselves deterministic
  * under recomputation: a file scan or a checkpointed relation. A raw
  * SHUFFLE OUTPUT is outside that contract (r18 review): shuffle
  * fetch order is nondeterministic, so a retried upstream task can
  * hand rows different salts than the copies a completed reducer
  * already aggregated (the SPARK-23207 class — rows double-counted or
  * dropped with no error). Callers salting a shuffled relation must
  * materialize it first (`Checkpointing.truncate`); the contract entry reads
  * straight from parquet and is inside the contract.
  */
object Skew {

  private def saltCol(nSalts: Int): Column =
    (rand(42) * nSalts).cast("int")

  /** Two-phase salted sum/count aggregation: groupBy(key, salt) partial →
    * groupBy(key) final. The hot key's rows spread over nSalts reducers
    * in phase 1; phase 2 only merges nSalts partials per key.
    */
  def saltedSumCount(df: DataFrame, keyCols: Seq[String], valueCol: String,
      nSalts: Int = 16): DataFrame = {
    val k = keyCols.map(col)
    df.withColumn("__salt", saltCol(nSalts))
      .groupBy((k :+ col("__salt")): _*)
      .agg(sum(valueCol).as("__psum"), count(lit(1)).as("__pcnt"))
      .groupBy(k: _*)
      .agg(sum("__psum").as(s"sum_$valueCol"), sum("__pcnt").as("n_rows"))
  }

  /** Driver entry (rows-only): salted per-user value totals over events,
    * ordered for determinism — the salted plan must agree with the plain
    * groupBy (asserted in SkewSpec); this runs it inside the contract.
    */
  def saltedAggQuery(s: org.apache.spark.sql.SparkSession,
      d: String): DataFrame =
    saltedSumCount(graft.Tables.events(s, d).select("user_id", "value"),
        Seq("user_id"), "value")
      .select(col("user_id"), round(col("sum_value"), 2).as("sum_value"),
        col("n_rows"))
      .orderBy("user_id")

  val queries: Map[String, (org.apache.spark.sql.SparkSession, String) => DataFrame] =
    Map("nq_salted_agg" -> (saltedAggQuery _))

  /** The salted two-phase aggregation must be answer-identical to the
    * plain one-phase groupBy — that IS the operator's contract, so the
    * oracle is the unsalted SQL. (Addition order differs between the
    * two plans, but inputs are 2-decimal positives, so round(·,2) sits
    * ~5e-3 away from any boundary vs ~1e-12 of float noise.)
    */
  val oracle: Map[String, String] = Map(
    "nq_salted_agg" ->
      """SELECT user_id, round(sum(value), 2) AS sum_value,
        |  count(*) AS n_rows
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)

  /** Salted equi-join: big side gets a deterministic salt in [0, nSalts);
    * the small side is replicated nSalts times (explode) so every
    * (key, salt) pair still matches. Hot keys on the big side fan out
    * across nSalts partitions instead of one.
    */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String,
      nSalts: Int = 16): DataFrame = {
    val saltedBig = big.withColumn("__salt", saltCol(nSalts))
    val repSmall = small.withColumn("__salt",
      explode(sequence(lit(0), lit(nSalts - 1))))
    saltedBig.join(repSmall, Seq(key, "__salt")).drop("__salt")
  }
}
