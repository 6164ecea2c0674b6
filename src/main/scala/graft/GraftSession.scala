package graft

import org.apache.spark.sql.SparkSession

/** The one session setup shared by Bench, Verify, the Scratch tool and
  * the test suite, so their configs cannot drift apart. Every key is a
  * contract the queries rely on: the extensions hook (`vec_dot`,
  * `top_k`), UTC timestamps, and `nanosAsLong` for events.parquet.
  */
object GraftSession {

  /** The core count the mains run at: SPARK_GRAFT_CPUS, default 4. */
  def envCpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** The started session at local[cpus], log level WARN. */
  def start(cpus: Int = envCpus): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      // events.parquet has shipped as TIMESTAMP(NANOS) and (MICROS)
      // across testdata generations; see Tables.events
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
