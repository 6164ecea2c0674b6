package graft

import org.scalatest.funsuite.AnyFunSuite
import com.fasterxml.jackson.databind.ObjectMapper

/** Pins the Bench stdout contract: the driver keeps only the LAST 2000
  * chars of Bench stdout and parses the JSON line out of that tail
  * (BENCH_r10/r11 recorded "parsed": null when the growing per-query
  * line outgrew the window). Round 13 made truncation structurally
  * impossible: the driver-facing line is a SUMMARY whose length does
  * not depend on the headline-set size; the per-query map lives in
  * bench_out.json.
  */
class BenchLineSpec extends AnyFunSuite {

  private val mapper = new ObjectMapper()
  private val results: Seq[(String, Double)] =
    Bench.headline.map(n => n -> 1.234)
  private val sf = "/root/testdata/sf0.1"

  test("summary line parses as JSON and fits the driver tail with wide margin") {
    val line = Bench.summaryLine(results, sf)
    // sbt's trailing "[success] …" line eats ~75 chars of the 2000-char
    // tail; demand an order-of-magnitude margin, not a squeak-by
    assert(line.length < 300, s"summary line too long (${line.length}): $line")
    val node = mapper.readTree(line)
    assert(node.get("metric").asText() === "total")
    assert(math.abs(node.get("value").asDouble() -
      1.234 * Bench.headline.size) < 1e-6)
    assert(node.get("n_queries").asInt() === Bench.headline.size)
    assert(node.get("queries_file").asText() === "/root/repo/bench_out.json")
    assert(node.get("sf").asText() === sf)
    assert(node.get("queries") == null,
      "the summary must NOT carry the per-query map — that is what " +
        "makes its length set-size-invariant")
  }

  test("summary line's queries_file pointer follows the resolved " +
      "output path, not a hardcoded default") {
    // SPARK_GRAFT_BENCH_OUT overrides where the per-query line lands;
    // the driver-facing pointer must name the ACTUAL file
    val line = Bench.summaryLine(results, sf, "/tmp/elsewhere.json")
    assert(mapper.readTree(line).get("queries_file").asText() ===
      "/tmp/elsewhere.json")
  }

  test("summary line length is invariant in the headline-set size") {
    val now = Bench.summaryLine(results, sf).length
    // a future set 3x the size moves the line only by the count digits
    val tripled = Bench.summaryLine(results ++ results ++ results, sf).length
    assert(tripled - now <= 2,
      s"summary grew with the set: $now -> $tripled chars")
  }

  test("summary line counts failed entries and leaves them out of the total") {
    // a failed entry reports -1; the total drops it, so n_failed is
    // what tells a newly failing query apart from a faster bench
    val withFailure = results.updated(0, results.head._1 -> -1.0)
    val line = Bench.summaryLine(withFailure, sf)
    assert(line.length < 300, s"summary line too long (${line.length}): $line")
    val node = mapper.readTree(line)
    assert(node.get("n_failed").asInt() === 1)
    assert(node.get("n_queries").asInt() === Bench.headline.size)
    assert(math.abs(node.get("value").asDouble() -
      1.234 * (Bench.headline.size - 1)) < 1e-6)
    assert(mapper.readTree(Bench.summaryLine(results, sf))
      .get("n_failed").asInt() === 0)
  }

  test("full line carries every per-query value and parses") {
    val node = mapper.readTree(Bench.fullLine(results, sf))
    val qs = node.get("queries")
    assert(qs.size() === Bench.headline.size)
    Bench.headline.foreach { n =>
      assert(math.abs(qs.get(n).asDouble() - 1.234) < 1e-9, n)
    }
  }

  test("f3 formats with ROOT locale under a comma-decimal default locale") {
    val saved = java.util.Locale.getDefault
    try {
      java.util.Locale.setDefault(java.util.Locale.FRANCE)
      assert(Bench.f3(0.4) === "0.400")
      assert(Bench.f3(12.3456) === "12.346")
      // and the whole line stays valid JSON under that locale
      mapper.readTree(Bench.summaryLine(results, sf))
      mapper.readTree(Bench.fullLine(results, sf))
    } finally java.util.Locale.setDefault(saved)
  }
}
