package graft

/** Pins the contract config of the one session setup Bench, Verify and
  * the suite share: TestSession is `GraftSession.start(8)`. */
class GraftSessionSpec extends SparkSpec {

  test("GraftSession sets every contract key at start") {
    // the SparkContext's conf holds what the builder set, whatever a
    // spec later changed at runtime
    val conf = spark.sparkContext.getConf
    assert(spark.sparkContext.master === "local[8]")
    assert(conf.get("spark.sql.shuffle.partitions") === "8")
    assert(conf.get("spark.sql.extensions") === "graft.GraftExtensions")
    assert(conf.get("spark.sql.adaptive.enabled") === "true")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
    assert(conf.get("spark.sql.session.timeZone") === "UTC")
    assert(conf.get("spark.ui.enabled") === "false")
  }

  test("vec_dot resolves through the extensions key alone") {
    // a new session gets a fresh function registry, so only the
    // extensions hook (not a programmatic VecFunctions.register) can
    // have put vec_dot there
    val row = spark.newSession().sql(
      "SELECT vec_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)), " +
        "array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d").head()
    assert(row.getDouble(0) === 11.0)
  }
}
