package graft.tools

import org.apache.spark.sql.SparkSession

/** Ad-hoc inspection main (not part of the Bench/Verify contract), run in the
  * session Bench and Verify use (`GraftSession`, SPARK_GRAFT_CPUS) on
  * SPARK_GRAFT_SF_DIR:
  *
  *   explain [out=<dir>] <name>…  formatted physical plans (one
  *                                <name>.txt per entry under out=)
  *   oraclesql <name>…            an entry's composed DuckDB oracle SQL
  *   benchq <name>…               Bench's per-entry regime in isolation
  *   warnhunt [all]               runtime warnings attributed per entry
  *
  * A correctness subset is `SPARK_GRAFT_VERIFY_ONLY=<names>` on
  * graft.Verify. The round-specific probes this tool used to carry stay
  * readable with `git show 15fbb0b:src/main/scala/graft/tools/Scratch.scala`.
  */
object Scratch {
  private val Modes = Seq("explain", "oraclesql", "benchq", "warnhunt")

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("")
    require(Modes.contains(mode),
      s"usage: Scratch ${Modes.mkString("|")} [args…] (got '$mode')")
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.start()
    try mode match {
      case "explain" => explain(spark, d, args.drop(1))
      case "oraclesql" => args.drop(1).foreach(n =>
        println(graft.SparkEntry.oracleSql(n)))
      case "benchq" => benchq(spark, d, args.drop(1))
      case "warnhunt" => warnhunt(spark, d, args.lift(1).contains("all"))
    } finally spark.stop()
  }

  /** Formatted physical plans of the named entries; a leading
    * `out=<dir>` writes one `<name>.txt` per entry instead of printing. */
  private def explain(spark: SparkSession, d: String,
      args: Seq[String]): Unit = {
    val outDir = args.headOption.filter(_.startsWith("out="))
      .map(_.stripPrefix("out="))
    outDir.foreach(p => new java.io.File(p).mkdirs())
    for (name <- args.filterNot(_.startsWith("out="))) {
      val plan = graft.SparkEntry.queries(name)(spark, d)
        .queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
      outDir match {
        case Some(p) => java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$p/$name.txt"),
          plan.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        case None =>
          println(s"\n=================== $name ===================")
          println(plan)
      }
    }
  }

  private def noop(spark: SparkSession, d: String, name: String): Unit =
    graft.SparkEntry.queries(name)(spark, d)
      .write.format("noop").mode("overwrite").save()

  /** Bench's measurement regime for the named entries only: the q06
    * warm-up, then per run clearMemo + clearCache and a noop-sink write,
    * three runs, median — reproduces one BENCH_r{N} number. */
  private def benchq(spark: SparkSession, d: String,
      names: Seq[String]): Unit = {
    noop(spark, d, "q06_forecast_revenue")
    def runOne(name: String): Double = {
      graft.text.DedupClusters.clearMemo()
      graft.text.Curation.clearMemo()
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      noop(spark, d, name)
      (System.nanoTime() - t0) / 1e9
    }
    for (q <- names) {
      val runs = Seq(runOne(q), runOne(q), runOne(q)).sorted
      println(f"[scratch] $q: runs=${runs.map(r => f"$r%.2f").mkString(",")} " +
        f"median=${runs(1)}%.2f s")
    }
  }

  /** Runs every headline entry (every contract entry with `all`) behind
    * a stderr marker, so runtime warnings (single-partition windows,
    * broadcast sizes, …) can be attributed to the entry that raised them. */
  private def warnhunt(spark: SparkSession, d: String, all: Boolean): Unit = {
    val names =
      if (all) graft.SparkEntry.queries.keys.toSeq.sorted
      else graft.Bench.headline
    for (q <- names) {
      System.err.println(s"===MARK=== $q")
      Console.err.flush()
      try noop(spark, d, q)
      catch { case e: Throwable =>
        System.err.println(s"===MARK=== $q FAILED: ${e.getMessage}") }
    }
  }
}
