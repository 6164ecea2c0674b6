package graft.perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry

/** One timed operation: a query, a pipeline, an ingest batch. */
final case class Op(kind: String, key: String, seconds: Double, ok: Boolean,
    rows: Long, pass: Int)

/** What a workload sees of the run: the session, its inputs, the tracer
  * and the op log. `data` is the sf0.1 table directory. */
final class Ctx(val spark: SparkSession, val data: String, val seed: Long,
    val work: String, val tracer: Tracer) {
  val cores: Int = spark.sparkContext.defaultParallelism
  val ops = ArrayBuffer.empty[Op]
  /** Keys whose output check failed. An op counts as failed if its key
    * is one of them or prefixes one (`ingest` ← `ingest:agg`). */
  val badKeys = mutable.Set.empty[String]
  var checks = 0
  var checksPassed = 0
  /** Workload-specific values reported beside the span metrics. */
  val extra = mutable.Map.empty[String, Double]
  /** Sub-operation latencies by kind (ingest write and read). */
  val subLatencies = mutable.Map.empty[String, ArrayBuffer[Double]]

  def op(kind: String, key: String)(body: => Long): Unit = {
    val t0 = System.nanoTime()
    val (ok, rows) =
      try (true, body)
      catch { case NonFatal(e) =>
        System.err.println(s"[perfbench] $kind $key failed: $e")
        (false, 0L)
      }
    val o = Op(kind, key, (System.nanoTime() - t0) / 1e9, ok, rows, tracer.pass)
    System.err.println(f"[perfbench] pass ${o.pass} $kind $key ${o.seconds}%.3f s")
    ops += o
  }

  def timed[A](kind: String)(body: => A): A = {
    val t0 = System.nanoTime()
    try body
    finally subLatencies.getOrElseUpdate(kind, ArrayBuffer.empty) +=
      (System.nanoTime() - t0) / 1e9
  }

  def check(key: String, ok: Boolean, detail: => String): Unit = {
    checks += 1
    if (ok) checksPassed += 1
    else {
      badKeys += key
      System.err.println(s"[perfbench] output check failed for $key: $detail")
    }
  }
}

trait Workload {
  /** The op kind whose latencies are reported as op_p50_s and bench.op_p90_s. */
  def opKind: String
  def setup(c: Ctx): Unit
  def pass(c: Ctx, n: Int): Unit
  /** Output checks after the timed region. */
  def finish(c: Ctx): Unit = ()
  /** Where one call into the program runs several stages: a stack-sample
    * classifier and the class of unclassified instants per span name. */
  def stackClasses: Option[(
    (Array[StackTraceElement], Seq[Array[StackTraceElement]]) => String,
    String => String)] = None
}

object Workloads {
  val Analytics: Seq[String] = Seq("q01_pricing_summary", "q03_top_revenue",
    "q05_nation_revenue", "q08_top_orders_per_customer", "q09_rollup",
    "q11_distinct_counts", "q12_interval_join", "q13_running_total",
    "q16_sessionize", "q44_asof_join", "q80_topk_agg", "q84_gapfill",
    "q89_cms_freq", "q91_twa", "q96_session_paths", "nq_profile", "nq_zorder")

  /** The dedup self-joins, candidate generators, decontamination and ANN
    * shapes of the text, sim and sources layers. Six shapes of the
    * original 16-query set (nq_curation, nq_dedup_clusters, q71_lm_score,
    * q86_bm25, nq_semantic_dedup, nq_nsw_knn) are left out so that a run
    * fits its time box; each overlaps a kept shape or the ingest stores. */
  val Curation: Seq[String] = Seq("q23_dedup_exact", "q25_neardup_jaccard",
    "nq_minhash_neardup", "nq_lsh_neardup", "q73_substr_dedup",
    "q85_prefix_join", "nq_contamination_bloom", "q30_knn_exact",
    "nq_ivfpq_knn", "nq_media_judge")

  /** The module that owns each benchmarked query (its source package);
    * nq_lsh_neardup lives in graft.sim. */
  def layerOf(q: String): String =
    if (Analytics.contains(q)) "rel"
    else if (Set("nq_lsh_neardup", "q30_knn_exact", "nq_ivfpq_knn").contains(q)) "sim"
    else if (q == "nq_media_judge") "sources"
    else "text"

  def apply(name: String, goldens: Map[String, (Long, String)]): Workload = name match {
    case "voice" => new VoiceWorkload(VoiceWorkload.Phrases)
    case "analytics" => new QueryWorkload(Analytics, goldens)
    case "curation" => new QueryWorkload(Curation, goldens)
    case "ingest" => new IngestWorkload
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Query order of pass `n`: a permutation drawn from the run seed. */
  def order(names: Seq[String], seed: Long, n: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + n).shuffle(names)

  /** Drops every cross-call memo, as Bench does before each query, so a
    * timed query does its full work. */
  def clearMemos(spark: SparkSession): Unit = {
    graft.text.DedupClusters.clearMemo()
    graft.text.Curation.clearMemo()
    spark.catalog.clearCache()
  }
}

/** `analytics` and `curation`: repeated passes over a query set in a
  * seeded order, each query through the noop sink. */
final class QueryWorkload(names: Seq[String], goldens: Map[String, (Long, String)])
    extends Workload {
  import QueryWorkload._
  val opKind = "query"

  /** Bench's warm-up query, then every query of the set that memoizes a
    * standing store or fixture, so those builds land in setup_s. A full
    * warm-up pass would steady the timed pass but does not fit the time
    * box; the timed pass runs in a JVM warmed only by these. */
  def setup(c: Ctx): Unit = (Warmup +: names.filter(Standing)).foreach { q =>
    Workloads.clearMemos(c.spark)
    SparkEntry.queries(q)(c.spark, c.data).write.format("noop").mode("overwrite").save()
  }

  def pass(c: Ctx, n: Int): Unit = Workloads.order(names, c.seed, n).foreach { q =>
    Workloads.clearMemos(c.spark)
    c.op(opKind, q) {
      c.tracer.span(s"${Workloads.layerOf(q)}.query", q) {
        val df = c.tracer.span("spark.eager", q)(SparkEntry.queries(q)(c.spark, c.data))
        df.write.format("noop").mode("overwrite").save()
      }
      goldens.get(q).map(_._1).getOrElse(0L)
    }
  }

  /** Result hashes of a seeded sample of the set against the goldens.
    * A failed check fails every timed run of that query. */
  override def finish(c: Ctx): Unit = checked(names, c.seed).foreach { q =>
    Workloads.clearMemos(c.spark)
    try {
      val got = Checks.resultHash(SparkEntry.queries(q)(c.spark, c.data))
      val want = goldens.get(q)
      c.check(q, want.contains(got), s"got $got, golden ${want.getOrElse("missing")}")
    } catch { case NonFatal(e) => c.check(q, ok = false, e.toString) }
  }
}

object QueryWorkload {
  val Warmup = "q06_forecast_revenue"
  /** Queries that build a standing store or fixture once per JVM. */
  val Standing: Set[String] = Set("nq_media_judge")
  /** Queries whose output is checked in each run. */
  val ChecksPerRun = 2

  /** The run's checked sample: a seeded choice, so a set of runs with
    * different seeds checks every query. */
  def checked(names: Seq[String], seed: Long): Seq[String] =
    new scala.util.Random(seed * 31L + 17L).shuffle(names).take(ChecksPerRun)
}

object VoiceWorkload {
  /** Phrases per pipeline. The paper's corpus is 11 (≈35 s at local[4]);
    * 3 keeps one pipeline near 20 s in a fresh JVM so a run fits its time
    * box, with the paper's MLP settings. */
  val Phrases = 3
  val MinAccuracy = 0.80

  /** Generator seeds of the voice corpus; run seed n uses entry n mod 10.
    * The pool holds the amount of work fixed while the inputs vary:
    *  - each corpus lasts 90 ± 1 s, the median 3-phrase length (lengths
    *    span 70-111 s over generator seeds, a ±12% spread on a pass);
    *  - each one's MLP fit launched 94-102 jobs at local[4]. The L-BFGS
    *    stops after a data-dependent number of evaluations: 62-136 jobs
    *    over 40 corpora of 90 ± 1 s, a ±30% spread on a pass.
    * Chosen from the first 90 ± 1 s corpus at or after `k * 1000003` for
    * k in 0 until 40, by the fit's job count. */
  val CorpusSeeds: Seq[Long] = Seq(12L, 2000012L, 6000035L, 10000042L,
    12000038L, 13000055L, 18000056L, 21000075L, 34000125L, 37000125L)

  def corpusSeed(runSeed: Long): Long =
    CorpusSeeds(Math.floorMod(runSeed, CorpusSeeds.size.toLong).toInt)

  /** Seconds of audio `VoiceDataGen` makes for a corpus: each phrase's text
    * length × 0.07 s, floored. */
  def corpusSeconds(seed: Long, phrases: Int): Double =
    (0 until phrases).map(p =>
      math.floor(graft.gen.VoiceDataGen.loremText(seed, p.toLong).length * 0.07)).sum

  /** Stack-sample class of one instant of the pipeline. */
  def classify(client: Array[StackTraceElement],
      tasks: Seq[Array[StackTraceElement]]): String = {
    def has(st: Array[StackTraceElement], cls: String, method: String = null) =
      st.exists(f => f.getClassName.startsWith(cls) &&
        (method == null || f.getMethodName == method))
    if (tasks.exists(has(_, "graft.gen.VoiceDataGen"))) "gen.synth"
    else if (tasks.exists(has(_, "graft.audio."))) "audio.mel"
    else if (has(client, "org.apache.spark.ml.feature.PCA", "fit")) "ml.pca"
    else if (has(client, "graft.ml.MiSelector")) "ml.mi_select"
    else if (has(client, "org.apache.spark.ml.Pipeline", "fit")) "ml.fit"
    else null
  }

  /** Class of unclassified instants inside each pipeline call. */
  def defaultClass(span: String): String = span match {
    case "voice.timeseries" => "ml.label_join"
    case "voice.train_eval" => "ml.predict_eval"
    case _ => "ml.report"
  }
}

/** `voice`: the paper's pipeline, one fresh session per pass so the
  * pipeline's per-session time-series memo misses. */
final class VoiceWorkload(phrases: Int) extends Workload {
  import graft.ml.VoicePipeline
  val opKind = "pipeline"
  private val accuracies = ArrayBuffer.empty[Double]

  private def pipeline(c: Ctx, s: SparkSession, n: Int, seed: Long): (Long, Double) = {
    val ts = c.tracer.span("voice.timeseries") {
      val ts = VoicePipeline.timeSeries(s, n, seed)
      ts.write.format("noop").mode("overwrite").save()
      ts
    }
    val r = c.tracer.span("voice.train_eval")(VoicePipeline.trainAndEvaluate(s, n, seed))
    c.tracer.span("voice.report")(VoicePipeline.classificationReport(r.predictions).collect())
    (ts.count(), r.accuracy)
  }

  /** Nothing beyond the session. A warm-up pipeline on a 2-phrase corpus
    * costs ~14 s, as much as it takes out of the pass, and left the pass's
    * relative spread no smaller; so a pass measures the pipeline in a
    * fresh JVM, as the paper's job runs. */
  def setup(c: Ctx): Unit = ()

  def pass(c: Ctx, n: Int): Unit = {
    c.spark.catalog.clearCache()
    var acc = Double.NaN
    c.op(opKind, "voice") {
      val (frames, a) = pipeline(c, c.spark.newSession(), phrases,
        VoiceWorkload.corpusSeed(c.seed))
      acc = a
      frames
    }
    if (!acc.isNaN) {
      accuracies += acc
      c.check("voice", acc >= VoiceWorkload.MinAccuracy, s"accuracy $acc < ${VoiceWorkload.MinAccuracy}")
    }
    c.spark.catalog.clearCache()
  }

  override def finish(c: Ctx): Unit =
    if (accuracies.nonEmpty) c.extra("ml.accuracy") = Stats.median(accuracies.toSeq)

  override def stackClasses =
    Some((VoiceWorkload.classify _, VoiceWorkload.defaultClass _))
}

object IngestWorkload {
  val EventsPerBatch = 5000
  val DocsPerBatch = 250
  val BatchesPerPass = 2
  val K = 256
  val Group = Seq("event_type")
  val RelStores = Seq("agg", "hll", "kmv", "kll", "cms")

  /** Row indexes of batch `b` (0-based) over a pool of `n` rows: the pool
    * is dealt out in a fresh seeded permutation per epoch. */
  def batch(n: Int, per: Int, seed: Long, b: Int): Seq[Int] = {
    val perEpoch = n / per
    val epoch = b / perEpoch
    val perm = new scala.util.Random(seed * 7919L + epoch).shuffle((0 until n).toVector)
    perm.slice((b % perEpoch) * per, (b % perEpoch + 1) * per)
  }
}

/** `ingest`: seeded batches of `events` and `documents` through the
  * stores' foreachBatch sinks, one trigger per batch, with a merge-at-read
  * per store after each batch and a compaction per pass. */
final class IngestWorkload extends Workload {
  import IngestWorkload._
  import graft.rel._
  val opKind = "batch"

  type Ev = (Long, Long, String, Double) // event_id, user_id, event_type, value
  type Doc = (Long, String)
  private var events: Array[Ev] = _
  private var docs: Array[Doc] = _
  /** (event indexes, document indexes) of every batch sent, in order. */
  private val ingested = ArrayBuffer.empty[(Seq[Int], Seq[Int])]
  private var nextBatch = 0
  private var inputBytes = 0L
  private var root: String = _
  private val evStreams = mutable.LinkedHashMap.empty[String,
    org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Ev]]
  private var docStream: org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Doc] = _
  private val queries = mutable.LinkedHashMap.empty[String,
    org.apache.spark.sql.streaming.StreamingQuery]

  private def path(store: String) = s"$root/$store"

  def setup(c: Ctx): Unit = {
    val s = c.spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    root = s"${c.work}/ingest-${c.tracer.runId}"
    events = graft.Tables.events(s, c.data)
      .select("event_id", "user_id", "event_type", "value").as[Ev].collect()
    docs = graft.Tables.documents(s, c.data).select("doc_id", "text").as[Doc].collect()
    def start(name: String, df: DataFrame)(
        sink: DataFrame => org.apache.spark.sql.streaming.DataStreamWriter[Row]): Unit = {
      s.sparkContext.setLocalProperty(Tracer.StreamProp, name)
      s.sparkContext.setLocalProperty(Tracer.SpanProp, null)
      try queries(name) = sink(df)
        .option("checkpointLocation", s"$root/_ckpt/$name").start()
      finally s.sparkContext.setLocalProperty(Tracer.StreamProp, null)
    }
    def evStream(name: String) = {
      val m = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Ev]
      evStreams(name) = m
      m.toDF().toDF("event_id", "user_id", "event_type", "value")
    }
    start("agg", evStream("agg"))(AggStore.aggIngestStream(_, Group, "value", path("agg")))
    start("hll", evStream("hll"))(CardinalityStore.cardinalityStream(_, Group, "user_id", path("hll")))
    start("kmv", evStream("kmv").select(col("event_type"), xxhash64(col("user_id"), lit(42L)).as("h")))(
      KmvStore.kmvStream(_, Group, "h", path("kmv"), K))
    start("kll", evStream("kll"))(QuantileStore.kllIngestStream(_, Group, "value", path("kll"), K))
    start("cms", evStream("cms"))(Cms.cmsIngestStream(_, "user_id", path("cms")))
    docStream = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Doc]
    start("lm", docStream.toDF().toDF("doc_id", "text"))(graft.text.LmStore.lmIngestStream(_, path("lm")))
    // warm-up: the first trigger of every sink, on a tenth of a batch
    val perEpoch = events.length / EventsPerBatch
    send(c, batch(events.length, EventsPerBatch, c.seed, perEpoch - 1).take(EventsPerBatch / 10),
      batch(docs.length, DocsPerBatch, c.seed, perEpoch - 1).take(DocsPerBatch / 10))
  }

  private def ingestBatch(c: Ctx): Unit = {
    val b = nextBatch
    nextBatch += 1
    send(c, batch(events.length, EventsPerBatch, c.seed, b), batch(docs.length, DocsPerBatch, c.seed, b))
  }

  private def send(c: Ctx, evIdx: Seq[Int], docIdx: Seq[Int]): Unit = {
    val ev = evIdx.map(events)
    val dc = docIdx.map(docs)
    evStreams.foreach { case (name, m) =>
      c.tracer.span("streaming.trigger", name) {
        m.addData(ev)
        queries(name).processAllAvailable()
      }
    }
    c.tracer.span("streaming.trigger", "lm") {
      docStream.addData(dc)
      queries("lm").processAllAvailable()
    }
    ingested += ((evIdx, docIdx))
    inputBytes += ev.map(e => 8L * 3 + e._3.length).sum + dc.map(d => 8L + d._2.length).sum
  }

  private def readStore(c: Ctx, store: String): DataFrame = {
    val s = c.spark
    store match {
      case "agg" => AggStore.aggFromStore(s, path("agg"), Group)
      case "hll" => CardinalityStore.estimateFromStore(s, path("hll"), Group)
      case "kmv" => KmvStore.sketchesFromStore(s, path("kmv"), Group, K)
      case "kll" => QuantileStore.quantilesOf(
        QuantileStore.sketchesFromStore(s, path("kll"), Group, K), Group, Seq(("p50", 1, 2)))
      case "cms" => Cms.estimateFromStore(s, path("cms"), probes(s), "user_id")
    }
  }

  private def probes(s: SparkSession): DataFrame = {
    import s.implicits._
    (0L until 50L).map(_ * 7L).toDF("user_id")
  }

  private def reads(c: Ctx): Unit = {
    RelStores.foreach(st => c.timed("read")(
      c.tracer.span("rel.store_read", st)(readStore(c, st).collect())))
    c.timed("read")(c.tracer.span("text.store_read", "lm")(
      graft.text.LmStore.countsFromStore(c.spark, path("lm"))
        .write.format("noop").mode("overwrite").save()))
  }

  def pass(c: Ctx, n: Int): Unit = {
    (0 until BatchesPerPass).foreach { _ =>
      c.op(opKind, "ingest") {
        val rows = (EventsPerBatch + DocsPerBatch).toLong
        c.timed("write")(ingestBatch(c))
        reads(c)
        rows
      }
    }
    c.op("compact", "ingest") {
      val s = c.spark
      // stream batch ids count the warm-up trigger as 0
      val through = nextBatch.toLong
      c.tracer.span("rel.store_compact", "agg")(AggStore.compactThrough(s, path("agg"), Group, through))
      c.tracer.span("rel.store_compact", "hll")(CardinalityStore.compactThrough(s, path("hll"), Group, through))
      c.tracer.span("rel.store_compact", "kmv")(KmvStore.compactThrough(s, path("kmv"), Group, K, through))
      c.tracer.span("rel.store_compact", "kll")(QuantileStore.compactThrough(s, path("kll"), Group, K, through))
      c.tracer.span("rel.store_compact", "cms")(Cms.compactThrough(s, path("cms"), through))
      0L
    }
    if (c.tracer.active) {
      val (files, bytes) = Checks.du(RelStores.map(path))
      c.extra("rel.store_files") = c.extra.getOrElse("rel.store_files", 0.0) + files
      c.extra("rel.store_mb") = c.extra.getOrElse("rel.store_mb", 0.0) + bytes / 1e6
    }
  }

  /** Final store reads against one-shot computations over every ingested
    * row, for the stores whose merge is exact: AggStore sums, HLL
    * registers, KMV, CMS, KLL row counts and the LM store's trigram
    * counts. */
  override def finish(c: Ctx): Unit = {
    queries.values.foreach(_.stop())
    val s = c.spark
    import s.implicits._
    val all = ingested.toSeq.flatMap(_._1.map(events))
      .toDF("event_id", "user_id", "event_type", "value").cache()
    def same(store: String, got: DataFrame, want: DataFrame): Unit = {
      val g = Checks.canonicalRows(got)
      val w = Checks.canonicalRows(want)
      c.check(s"ingest:$store", g == w, s"store read ${g.take(3)} vs one-shot ${w.take(3)}")
    }
    try {
      same("agg", readStore(c, "agg"), AggStore.mergePartials(
        AggStore.partialBatch(all, Group, "value"), Group))
      same("hll", readStore(c, "hll"), CardinalityStore.mergeSketches(
        CardinalityStore.sketchBatch(all, Group, "user_id"), Group))
      same("kmv", readStore(c, "kmv"), KmvStore.sketchBatch(
        all.select(col("event_type"), xxhash64(col("user_id"), lit(42L)).as("h")), Group, "h", K))
      same("cms", readStore(c, "cms"), Cms.estimate(Cms.cmsOf(all, "user_id"), probes(s), "user_id"))
      same("kll", readStore(c, "kll").select("event_type", "n_rows"),
        all.groupBy("event_type").agg(count(lit(1)).as("n_rows")))
      val allDocs = ingested.toSeq.flatMap(_._2.map(docs))
        .toDF("doc_id", "text")
      same("lm", graft.text.LmStore.countsFromStore(s, path("lm")),
        graft.text.KneserNey.trigramCounts(allDocs).select("w1", "w2", "w3", "c3"))
    } catch { case NonFatal(e) => c.check("ingest:read", ok = false, e.toString) }
    // every store and ledger under the run's root; checkpoints excluded
    val bytes = Checks.du(Seq(root))._2 - Checks.du(Seq(s"$root/_ckpt"))._2
    c.extra("ingest.space_amp") = bytes.toDouble / inputBytes
    all.unpersist()
  }
}
