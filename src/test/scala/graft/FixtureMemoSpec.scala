package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.{CyclicBarrier, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

/** The build-once memo every driver-entry store goes through: once per
  * (name, immutable dir) even under racing first callers, a fresh root
  * per call on a mutable dir — and no store outside it re-implements
  * the gate or the scratch-root recipe. */
class FixtureMemoSpec extends SparkSpec {

  private val immutableDir = sf0001
  private val mutableDir = "/tmp/fixture-memo-spec-src"

  test("two racing first callers on an immutable dir run build once") {
    assert(Tables.isImmutable(immutableDir))
    val builds = new AtomicInteger()
    val barrier = new CyclicBarrier(2)
    val pool = Executors.newFixedThreadPool(2)
    try {
      val calls = (1 to 2).map { _ =>
        pool.submit(new java.util.concurrent.Callable[Path] {
          def call(): Path = {
            barrier.await()
            FixtureMemo.store("fixturememospec-race", immutableDir) { root =>
              builds.incrementAndGet()
              Thread.sleep(200) // hold the build open while the rival arrives
              root
            }
          }
        })
      }
      val roots = calls.map(_.get(60, TimeUnit.SECONDS))
      assert(builds.get == 1)
      assert(roots.distinct.size == 1)
    } finally pool.shutdownNow()
  }

  test("two names on the same immutable dir build twice, each once") {
    val builds = new AtomicInteger()
    def call(name: String): Path =
      FixtureMemo.store(name, immutableDir) { root =>
        builds.incrementAndGet(); root
      }
    val a = call("fixturememospec-a")
    val b = call("fixturememospec-b")
    assert(call("fixturememospec-a") == a && call("fixturememospec-b") == b)
    assert(builds.get == 2)
    assert(a != b)
  }

  test("a mutable dir builds on each call into distinct roots") {
    assert(!Tables.isImmutable(mutableDir))
    val builds = new AtomicInteger()
    def call(): Path =
      FixtureMemo.store("fixturememospec-mutable", mutableDir) { root =>
        builds.incrementAndGet(); root
      }
    val (r1, r2) = (call(), call())
    assert(builds.get == 2)
    assert(r1 != r2 && Files.isDirectory(r1) && Files.isDirectory(r2))
  }

  test("a DataFrame from the first mutable call still reads after the " +
      "second call") {
    def call(n: Long) =
      FixtureMemo.store("fixturememospec-lazy", mutableDir) { root =>
        val out = s"$root/t"
        spark.range(n).write.parquet(out)
        spark.read.parquet(out) // lazy: files are read at action time
      }
    val first = call(5)
    val second = call(7)
    assert(second.count() == 7)
    assert(first.count() == 5)
  }

  test("only FixtureMemo makes scratch roots; only the memo owners gate " +
      "on isImmutable") {
    val main = new java.io.File("src/main/scala")
    assert(main.isDirectory, s"run from the repo root: ${main.getAbsolutePath}")
    import scala.jdk.CollectionConverters._
    val sources = Files.walk(main.toPath).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    def filesWith(word: String): Set[String] = sources.filter { p =>
      new String(Files.readAllBytes(p), "UTF-8").contains(word)
    }.map(_.getFileName.toString).toSet
    assert(filesWith("createTempDirectory") == Set("FixtureMemo.scala"))
    assert(filesWith("addShutdownHook") == Set("FixtureMemo.scala"))
    assert(filesWith("isImmutable") == Set("Tables.scala",
      "FixtureMemo.scala", "Curation.scala", "DedupClusters.scala"))
  }
}
