package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // contract queries with non-table-dir inputs (generated voice, ANN
    // candidate sets) dump their oracle-input relations only under this
    // flag — Bench runs the same functions and must not pay the extra
    // materialization per timed run (see graft.OracleDump)
    System.setProperty(OracleDump.Enabled, "true")
    val spark = GraftSession.start()
    new java.io.File(outDir).mkdirs()
    // builder-side tooling only (never set by the driver): restrict the
    // dump to a comma-separated subset while iterating on new entries —
    // a full 190-entry dump is ~10 min, a 3-entry one seconds. The
    // emitted oracle_sql.json is filtered to the same subset so
    // tools/check_oracle.py compares exactly what was dumped.
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    // a mistyped entry name would silently select nothing — the dump and
    // oracle_sql.json would come out empty and the oracle check would
    // report a vacuous pass for the subset; fail loudly instead
    only.foreach { names =>
      val unknown = names.diff(SparkEntry.queries.keySet)
      require(unknown.isEmpty,
        s"SPARK_GRAFT_VERIFY_ONLY names not in SparkEntry.queries: " +
          s"${unknown.toSeq.sorted.mkString(", ")}")
    }
    def selected(name: String) = only.forall(_.contains(name))
    SparkEntry.queries.filter(kv => selected(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getClass.getName}: " +
          s"${e.getMessage}")
        e.getStackTrace.take(8).foreach(f => System.err.println(s"    $f"))
        Option(e.getCause).foreach(c =>
          System.err.println(s"  caused by ${c.getClass.getName}: ${c.getMessage}"))
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => selected(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
