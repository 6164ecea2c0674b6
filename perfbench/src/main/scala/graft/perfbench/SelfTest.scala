package graft.perfbench

/** The benchmark's own checks that need no Spark session:
  * `--mode selftest` prints one line per case and exits 1 on a failure. */
object SelfTest {

  private def cases: Seq[(String, () => Boolean)] = Seq(
    "same seed gives the same query order" -> (() =>
      Workloads.order(Workloads.Curation, 7L, 3) == Workloads.order(Workloads.Curation, 7L, 3)),
    "another seed gives another query order" -> (() =>
      Workloads.order(Workloads.Analytics, 7L, 0) != Workloads.order(Workloads.Analytics, 8L, 0)),
    "passes of one run differ in order" -> (() =>
      Workloads.order(Workloads.Analytics, 7L, 0) != Workloads.order(Workloads.Analytics, 7L, 1)),
    "an order is a permutation of the query set" -> (() =>
      Workloads.order(Workloads.Curation, 11L, 2).sorted == Workloads.Curation.sorted),
    "same seed gives the same ingest batches" -> (() =>
      (0 until 25).map(IngestWorkload.batch(1000, 100, 5L, _)) ==
        (0 until 25).map(IngestWorkload.batch(1000, 100, 5L, _))),
    "another seed gives other ingest batches" -> (() =>
      IngestWorkload.batch(1000, 100, 5L, 0) != IngestWorkload.batch(1000, 100, 6L, 0)),
    "one epoch of batches deals every row once" -> (() =>
      (0 until 10).flatMap(IngestWorkload.batch(1000, 100, 5L, _)).sorted == (0 until 1000)),
    "voice corpus follows the run seed" -> (() =>
      VoiceWorkload.corpusSeed(5L) == VoiceWorkload.corpusSeed(5L) &&
        VoiceWorkload.corpusSeed(5L) != VoiceWorkload.corpusSeed(6L) &&
        (0L until 10L).map(VoiceWorkload.corpusSeed).distinct.size == 10),
    "every voice corpus lasts 90 ± 1 s" -> (() =>
      VoiceWorkload.CorpusSeeds.forall(s =>
        math.abs(VoiceWorkload.corpusSeconds(s, VoiceWorkload.Phrases) - 90) <= 1)),
    "self time is duration minus direct children" -> (() => {
      // root [0,100] > a [10,60] > b [20,30]; root > c [70,90]
      val spans = Seq(Span(1, "root", "", 0, 0, 0, 100), Span(2, "a", "", 1, 0, 10, 60),
        Span(3, "b", "", 2, 0, 20, 30), Span(4, "c", "", 1, 0, 70, 90))
      Span.selfNs(spans) == Map(1 -> 30L, 2 -> 40L, 3 -> 10L, 4 -> 20L)
    }),
    "self times sum to the root's duration" -> (() => {
      val spans = Seq(Span(1, "root", "", 0, 0, 0, 100), Span(2, "q", "", 1, 0, 5, 50),
        Span(3, "e", "", 2, 0, 5, 20), Span(4, "q", "", 1, 0, 50, 99))
      Span.selfByName(spans).values.sum == 100L &&
        Span.selfByName(spans) == Map("root" -> 6L, "q" -> 79L, "e" -> 15L)
    }),
    "inclusive time counts a same-name nested span once" -> (() => {
      val spans = Seq(Span(1, "x", "", 0, 0, 0, 10), Span(2, "x", "", 1, 0, 2, 5),
        Span(3, "y", "", 1, 0, 6, 8))
      Span.inclusiveByName(spans) == Map("x" -> 10L, "y" -> 2L)
    }),
    "innermost picks the shortest containing span" -> (() => {
      val spans = Seq(Span(1, "r", "", 0, 0, 0, 100), Span(2, "a", "", 1, 0, 10, 60))
      Span.innermost(spans, 20).map(_.id).contains(2) &&
        Span.innermost(spans, 70).map(_.id).contains(1) && Span.innermost(spans, 200).isEmpty
    }),
    "quantiles interpolate between order statistics" -> (() =>
      Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0 && Stats.median(Seq(1.0, 2.0, 3.0, 4.0)) == 2.5 &&
        Stats.quantile(Seq(0.0, 10.0), 0.9) == 9.0),
    "every span-time metric is a per-layer metric" -> (() =>
      Metrics.SpanTimes.forall(n => Metrics.PerLayer.exists(_._1 == s"${n}_s"))),
    "metric names are unique" -> (() => {
      val names = (Metrics.EndToEnd ++ Metrics.PerLayer).map(_._1)
      names.distinct.size == names.size
    }),
    "each benchmarked query has one owning layer" -> (() =>
      (Workloads.Analytics ++ Workloads.Curation).forall(q =>
        Set("rel", "text", "sim", "sources").contains(Workloads.layerOf(q))) &&
        Workloads.Analytics.forall(Workloads.layerOf(_) == "rel")))

  def run(): Unit = {
    val results = cases.map { case (name, f) =>
      val ok = try f() catch { case scala.util.control.NonFatal(_) => false }
      println(s"${if (ok) "ok  " else "FAIL"} $name")
      ok
    }
    if (results.contains(false)) sys.exit(1)
  }
}
