package graft

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one build-once / serve-many memo behind every driver-entry
  * store and generated fixture. A store entry (an ingest history, a
  * built index, a synthesized media corpus) is a pure function of its
  * source dir, so on the immutable driver data ([[Tables.isImmutable]])
  * it is built once per JVM and every later call — any session — reads
  * the standing result: timed runs measure the serving path, not a
  * per-run rebuild or codec encode.
  *
  *  - [[store]]`(name, d)(build)`: `build` receives a fresh scratch
  *    root. On an immutable `d` the result is built once per
  *    `(name, d)`; on a mutable `d` (a spec fixture dir rewritten in
  *    place) every call builds into its own fresh root, so a lazily read
  *    DataFrame an earlier call returned never loses its files to a
  *    later rebuild.
  *  - [[parquet]]`(s, name, d)(build)`: the same gate for a generated
  *    DataFrame. On an immutable `d` it is materialized to parquet once
  *    and read back; on a mutable `d` it is returned as built. The
  *    dir-less overload is for fixtures keyed by their own parameters
  *    alone (no source dir to go stale), always memoized.
  *
  * Every scratch root is deleted by one JVM shutdown hook.
  */
object FixtureMemo {

  // The holder makes a memoized build run exactly once:
  // TrieMap.getOrElseUpdate may evaluate its thunk in two RACING first
  // callers — with the result built eagerly both would build, orphaning
  // one scratch root and skewing the first timed run the memo exists to
  // protect. Creating a holder is free; only the single stored holder's
  // lazy val ever forces `build` (lazy-val init is synchronized by the
  // JVM, and a build that throws leaves it unset for the next caller).
  private final class Holder(thunk: () => Any) {
    lazy val value: Any = thunk()
  }
  // (name, source dir); a dir-less fixture keys with an empty dir
  private val memo =
    scala.collection.concurrent.TrieMap.empty[(String, String), Holder]

  private val roots = new java.util.concurrent.ConcurrentLinkedQueue[Path]
  sys.addShutdownHook {
    import scala.jdk.CollectionConverters._
    roots.asScala.foreach { p =>
      if (Files.exists(p))
        Files.walk(p).iterator().asScala.toSeq.reverse
          .foreach(Files.deleteIfExists(_))
    }
  }

  private def scratchDir(prefix: String): Path = {
    val p = Files.createTempDirectory(prefix)
    roots.add(p)
    p
  }

  private def once[T](name: String, d: String)(build: Path => T): T =
    memo.getOrElseUpdate((name, d),
      new Holder(() => build(scratchDir(name)))).value.asInstanceOf[T]

  /** `build` into a fresh scratch root — once per `(name, d)` when `d`
    * is immutable, on every call otherwise. `name` must be unique per
    * call site (it is the memo key and the root's prefix). */
  def store[T](name: String, d: String)(build: Path => T): T =
    if (Tables.isImmutable(d)) once(name, d)(build)
    else build(scratchDir(name))

  private def materialize(build: => DataFrame)(root: Path): String = {
    val out = s"$root/fixture"
    build.write.mode("overwrite").parquet(out)
    out
  }

  /** A generated DataFrame over source dir `d`: materialized once per
    * `(name, d)` when `d` is immutable, else `build` itself, unwritten. */
  def parquet(s: SparkSession, name: String, d: String)(
      build: => DataFrame): DataFrame =
    if (Tables.isImmutable(d)) s.read.parquet(once(name, d)(materialize(build)))
    else build

  /** A generated DataFrame that is a pure function of `name` (no source
    * dir): always built once per JVM. */
  def parquet(s: SparkSession, name: String)(build: => DataFrame)
      : DataFrame =
    s.read.parquet(once(name, "")(materialize(build)))
}
