package graft.perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The benchmark's metric names and units, in print order. */
object Metrics {
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "wall_s" -> "s", "ops_per_s" -> "1/s",
    "rows_per_s" -> "rows/s", "op_p50_s" -> "s", "accuracy" -> "ratio")

  /** Span names whose inclusive seconds per traced pass are reported as
    * `<name>_s`. */
  val SpanTimes: Seq[String] = Seq("gen.synth", "audio.mel", "ml.pca",
    "ml.label_join", "ml.mi_select", "ml.fit", "ml.predict_eval", "ml.report",
    "rel.query", "text.query", "sim.query", "sources.query",
    "streaming.trigger", "rel.store_read", "text.store_read",
    "rel.store_compact", "spark.eager")

  val PerLayer: Seq[(String, String)] =
    SpanTimes.map(n => s"${n}_s" -> "s") ++ Seq("spark.plan_s" -> "s",
      "ml.fit_jobs" -> "count", "ml.fit_parallelism" -> "ratio",
      "ml.accuracy" -> "ratio",
      "rel.store_files" -> "count", "rel.store_mb" -> "MB",
      "spark.eager_jobs" -> "count", "spark.jobs" -> "count",
      "spark.stages" -> "count", "spark.tasks" -> "count",
      "spark.tasks_per_stage" -> "ratio", "spark.executor_run_s" -> "s",
      "spark.executor_cpu_s" -> "s", "spark.gc_s" -> "s",
      "spark.parallelism" -> "ratio", "spark.shuffle_write_mb" -> "MB",
      "spark.shuffle_read_mb" -> "MB", "spark.spill_mb" -> "MB",
      "ingest.write_p50_s" -> "s", "ingest.write_p90_s" -> "s",
      "ingest.read_p50_s" -> "s", "ingest.read_p90_s" -> "s",
      "ingest.space_amp" -> "ratio",
      "bench.wall_s" -> "s", "bench.untraced_wall_s" -> "s",
      "bench.trace_overhead_s" -> "s", "bench.harness_s" -> "s",
      "bench.op_p90_s" -> "s", "bench.calib_s" -> "s",
      "bench.fail_ratio" -> "ratio", "jvm.peak_heap_mb" -> "MB")
}

final case class Args(mode: String = "run", workload: String = "",
    seed: Long = 0L, seconds: Int = 10, trace: Boolean = false,
    data: String = "", work: String = "", goldens: String = "",
    out: String = "")

object Main {

  def parse(args: Array[String]): Args =
    args.grouped(2).foldLeft(Args()) {
      case (a, Array("--mode", v)) => a.copy(mode = v)
      case (a, Array("--workload", v)) => a.copy(workload = v)
      case (a, Array("--seed", v)) => a.copy(seed = v.toLong)
      case (a, Array("--seconds", v)) => a.copy(seconds = v.toInt)
      case (a, Array("--trace", v)) => a.copy(trace = v == "1")
      case (a, Array("--data", v)) => a.copy(data = v)
      case (a, Array("--work", v)) => a.copy(work = v)
      case (a, Array("--goldens", v)) => a.copy(goldens = v)
      case (a, Array("--out", v)) => a.copy(out = v)
      case (_, other) => throw new IllegalArgumentException(
        s"bad arguments: ${other.mkString(" ")}")
    }

  def main(args: Array[String]): Unit = {
    val a = parse(args)
    a.mode match {
      case "run" => println(Runner.run(a))
      case "goldens" => Goldens.dump(a)
      case "list-metrics" =>
        println(Json.obj(Seq(
          "end_to_end" -> Json.arr(Metrics.EndToEnd.map { case (n, u) => Json.arr(Seq(Json.str(n), Json.str(u))) }),
          "per_layer" -> Json.arr(Metrics.PerLayer.map { case (n, u) => Json.arr(Seq(Json.str(n), Json.str(u))) }))))
      case "selftest" => SelfTest.run()
      case m => throw new IllegalArgumentException(s"unknown mode $m")
    }
  }

  /** Bench's session: local[nproc] with nproc shuffle partitions. */
  def session(work: String): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

object Runner {

  /** One fixed small scan, run once to warm up and then timed twice:
    * the ambient-load gauge. */
  def calibrate(spark: SparkSession): Seq[Double] = (0 until 3).map { _ =>
    val t0 = System.nanoTime()
    spark.range(0L, 4000000L, 1L, spark.sparkContext.defaultParallelism)
      .selectExpr("sum(id % 7)").collect()
    (System.nanoTime() - t0) / 1e9
  }.drop(1)

  def run(a: Args): String = {
    val t0 = System.nanoTime()
    val spark = Main.session(a.work)
    val sessionNs = System.nanoTime() - t0
    val sc = spark.sparkContext
    val tracer = new Tracer(sc)
    val ctx = new Ctx(spark, a.data, a.seed, a.work, tracer)
    val wl = Workloads(a.workload, Goldens.load(a.goldens))
    val calib = ArrayBuffer.empty[Double]
    calib ++= calibrate(spark)

    val s0 = System.nanoTime()
    wl.setup(ctx)
    val setupS = (sessionNs + System.nanoTime() - s0) / 1e9
    ctx.subLatencies.clear()

    val jobLog = new JobLog
    val planLog = new PlanLog
    val sampler = if (a.trace) wl.stackClasses.map { case (cls, _) =>
      new Sampler(Thread.currentThread(), 10L, cls)
    } else None
    val heap = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).toSeq
    heap.foreach(_.resetPeakUsage())

    // a traced run alternates traced (odd) and untraced (even) passes, so
    // the trace's overhead is measured in the same JVM; its first pass,
    // cold, is left out of that comparison
    val passNs = ArrayBuffer.empty[(Boolean, Long)]
    val minPasses = if (a.trace) 3 else 1
    val timed0 = System.nanoTime()
    var n = 0
    while (n < minPasses || System.nanoTime() - timed0 < a.seconds * 1000000000L) {
      val traced = a.trace && n % 2 == 1
      if (traced) {
        sc.addSparkListener(jobLog)
        spark.listenerManager.register(planLog)
        sampler.foreach(_.on = true)
      }
      tracer.pass = n
      tracer.active = traced
      val p0 = System.nanoTime()
      tracer.span("bench.pass")(wl.pass(ctx, n))
      passNs += ((traced, System.nanoTime() - p0))
      tracer.active = false
      if (traced) {
        sampler.foreach(_.on = false)
        org.apache.spark.PerfbenchBus.drain(sc)
        sc.removeSparkListener(jobLog)
        spark.listenerManager.unregister(planLog)
      }
      n += 1
    }
    val timedS = (System.nanoTime() - timed0) / 1e9
    val peakHeapMb = heap.map(_.getPeakUsage.getUsed).sum / 1e6

    try wl.finish(ctx)
    catch { case scala.util.control.NonFatal(e) => ctx.check("finish", ok = false, e.toString) }
    calib ++= calibrate(spark)
    System.err.println(f"[perfbench] calibrator before ${calib.take(2).mkString(",")} after ${calib.drop(2).mkString(",")}")

    val ops = ctx.ops.toSeq
    def bad(o: Op) = !o.ok || ctx.badKeys.exists(k => k == o.key || k.startsWith(o.key + ":"))
    val failed = ops.count(bad)
    val attempted = math.max(1, ops.size)
    val primary = ops.filter(_.kind == wl.opKind)
    val lat = if (primary.isEmpty) Seq(0.0) else primary.map(_.seconds)
    val walls = passNs.toSeq
    val issues = ArrayBuffer.empty[String]

    val metrics: Seq[(String, Double)] =
      if (!a.trace) Seq(
        "setup_s" -> setupS,
        "wall_s" -> Stats.median(walls.map(_._2 / 1e9)),
        "ops_per_s" -> primary.size / timedS,
        "rows_per_s" -> primary.map(_.rows).sum / timedS,
        "op_p50_s" -> Stats.median(lat),
        "accuracy" -> ctx.extra.getOrElse("ml.accuracy",
          if (ctx.checks == 0) 0.0 else ctx.checksPassed.toDouble / ctx.checks))
      else {
        sampler.foreach { sm =>
          sm.stop()
          val default = wl.stackClasses.get._2
          sm.deriveInto(tracer, tracer.all.filter(_.name.startsWith("voice.")), default)
        }
        val tw = TraceSummary(tracer.all, jobLog, planLog, ctx.cores, walls.drop(1))
        issues ++= tw.bypassIssues(a.workload)
        val path = tw.write(if (a.out.nonEmpty) a.out else s"${a.work}/traces",
          a.workload, a.seed, tracer.runId)
        System.err.println(s"[perfbench] trace written to $path")
        val sub = ctx.subLatencies
        def q(kind: String, p: Double) =
          sub.get(kind).filter(_.nonEmpty).map(xs => Stats.quantile(xs.toSeq, p)).getOrElse(0.0)
        tw.metrics ++ Seq(
          "ml.accuracy" -> ctx.extra.getOrElse("ml.accuracy", 0.0),
          "rel.store_files" -> ctx.extra.getOrElse("rel.store_files", 0.0) / tw.nTraced,
          "rel.store_mb" -> ctx.extra.getOrElse("rel.store_mb", 0.0) / tw.nTraced,
          "ingest.write_p50_s" -> q("write", 0.5),
          "ingest.write_p90_s" -> q("write", Stats.TailQuantile),
          "ingest.read_p50_s" -> q("read", 0.5),
          "ingest.read_p90_s" -> q("read", Stats.TailQuantile),
          "ingest.space_amp" -> ctx.extra.getOrElse("ingest.space_amp", 0.0),
          "bench.op_p90_s" -> Stats.quantile(lat, Stats.TailQuantile),
          "bench.calib_s" -> Stats.median(calib.toSeq),
          "bench.fail_ratio" -> failed.toDouble / attempted,
          "jvm.peak_heap_mb" -> peakHeapMb)
      }
    spark.stop()

    val units = (if (a.trace) Metrics.PerLayer else Metrics.EndToEnd).toMap
    val byName = metrics.toMap
    val missing = units.keySet -- byName.keySet
    require(missing.isEmpty, s"metrics not computed: ${missing.mkString(", ")}")
    issues.foreach(i => System.err.println(s"[perfbench] $i"))
    val correct = failed == 0 && ctx.checks > 0 && ctx.checksPassed == ctx.checks &&
      issues.isEmpty && ops.nonEmpty
    Json.obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj((if (a.trace) Metrics.PerLayer else Metrics.EndToEnd).map {
        case (m, u) => m -> Json.obj(Seq("value" -> Json.num(byName(m)), "unit" -> Json.str(u)))
      })))
  }
}

/** Per-layer numbers of a traced run, per traced pass. */
final case class TraceSummary(spans: Seq[Span], jobLog: JobLog, planLog: PlanLog,
    cores: Int, walls: Seq[(Boolean, Long)]) {
  val roots: Seq[Span] = spans.filter(_.name == "bench.pass")
  val nTraced: Int = math.max(1, roots.size)
  private val byId = spans.map(s => s.id -> s).toMap
  private def inTraced(ns: Long) = roots.exists(r => r.startNs <= ns && ns <= r.endNs)

  private def under(s: Span, anc: Int): Boolean = {
    var cur: Option[Span] = Some(s)
    while (cur.isDefined) {
      if (cur.get.id == anc) return true
      cur = byId.get(cur.get.parent)
    }
    false
  }

  /** Each traced job with the innermost span it ran under: its own span
    * property refined by time into derived children, or, for a stream's
    * micro-batch, that sink's trigger span open at submission. */
  val jobs: Seq[(JobRec, Option[Span])] = jobLog.jobs.asScala.toSeq
    .filter(j => inTraced(j.submitNs)).map { j =>
      val home =
        if (j.span > 0) Span.innermost(spans.filter(under(_, j.span)), j.submitNs)
        else if (j.stream != null) Span.innermost(spans.filter(s =>
          s.name == "streaming.trigger" && s.tag == j.stream), j.submitNs)
        else None
      (j, home)
    }

  private def stagesOf(js: Seq[JobRec]): Seq[StageRec] =
    js.flatMap(_.stageIds).distinct.flatMap(id => Option(jobLog.stages.get(id)))

  private def jobsNamed(name: String) = jobs.collect { case (j, Some(s)) if s.name == name => j }

  def metrics: Seq[(String, Double)] = {
    val incl = Span.inclusiveByName(spans)
    def secs(name: String) = incl.getOrElse(name, 0L) / 1e9 / nTraced
    val planS = planLog.phases.asScala.toSeq.filter(p => inTraced(p._1)).map(_._2).sum / 1e3
    val all = stagesOf(jobs.map(_._1))
    val runS = all.map(_.runMs).sum / 1e3
    val tracedWall = walls.filter(_._1).map(_._2).sum / 1e9
    val untraced = walls.filterNot(_._1).map(_._2 / 1e9)
    val fitJobs = jobsNamed("ml.fit")
    val fitS = incl.getOrElse("ml.fit", 0L) / 1e9
    val tasks = all.map(_.tasks).sum
    Metrics.SpanTimes.map(n => s"${n}_s" -> secs(n)) ++ Seq(
      "spark.plan_s" -> planS / nTraced,
      "ml.fit_jobs" -> fitJobs.size.toDouble / nTraced,
      "ml.fit_parallelism" -> (if (fitS > 0)
        stagesOf(fitJobs).map(_.runMs).sum / 1e3 / (fitS * cores) else 0.0),
      "spark.eager_jobs" -> jobsNamed("spark.eager").size.toDouble / nTraced,
      "spark.jobs" -> jobs.size.toDouble / nTraced,
      "spark.stages" -> all.size.toDouble / nTraced,
      "spark.tasks" -> tasks.toDouble / nTraced,
      "spark.tasks_per_stage" -> (if (all.isEmpty) 0.0 else tasks.toDouble / all.size),
      "spark.executor_run_s" -> runS / nTraced,
      "spark.executor_cpu_s" -> all.map(_.cpuNs).sum / 1e9 / nTraced,
      "spark.gc_s" -> all.map(_.gcMs).sum / 1e3 / nTraced,
      "spark.parallelism" -> (if (tracedWall > 0) runS / (tracedWall * cores) else 0.0),
      "spark.shuffle_write_mb" -> all.map(_.shuffleWrite).sum / 1e6 / nTraced,
      "spark.shuffle_read_mb" -> all.map(_.shuffleRead).sum / 1e6 / nTraced,
      "spark.spill_mb" -> all.map(_.spill).sum / 1e6 / nTraced,
      "bench.wall_s" -> tracedWall / nTraced,
      "bench.untraced_wall_s" -> Stats.mean(untraced),
      "bench.trace_overhead_s" -> (tracedWall / nTraced - Stats.mean(untraced)),
      "bench.harness_s" -> Span.selfByName(spans).getOrElse("bench.pass", 0L) / 1e9 / nTraced)
  }

  /** The layer-bypass predictions: each module is idle on the workloads
    * that do not use it. And every traced voice pass ran the pipeline's
    * feature prefix (synth, mel, PCA) rather than a memoized time series:
    * its PCA fit launched a job. The check rests on the PCA fit because a
    * warm synthesis of the 3-phrase corpus (~50 ms) can fall between two
    * stack samples. */
  def bypassIssues(workload: String): Seq[String] = {
    val incl = Span.inclusiveByName(spans)
    val idle =
      if (workload == "voice") Seq("rel.query", "text.query", "sim.query", "sources.query")
      else Seq("gen.synth", "audio.mel", "ml.pca", "ml.label_join", "ml.mi_select",
        "ml.fit", "ml.predict_eval", "ml.report")
    val busy = idle.filter(n => incl.getOrElse(n, 0L) > 0L)
      .map(n => s"layer bypass violated: $n ran on $workload")
    val fitted = jobs.collect { case (_, Some(s)) if s.name == "ml.pca" => s.pass }.toSet
    val memoized =
      if (workload != "voice") Nil
      else roots.filterNot(r => fitted(r.pass))
        .map(r => s"traced voice pass ${r.pass} launched no job to fit PCA: the feature prefix was skipped")
    busy ++ memoized
  }

  /** Spans as JSON lines (one per span, then a summary line). */
  def write(traceDir: String, workload: String, seed: Long, runId: String): String = {
    val dir = Paths.get(traceDir)
    Files.createDirectories(dir)
    val file = dir.resolve(s"$workload-seed$seed-$runId.jsonl")
    val self = Span.selfNs(spans)
    val jobCount = jobs.flatMap(_._2).groupBy(_.id).map { case (k, v) => k -> v.size }
    val lines = spans.sortBy(_.startNs).map { s =>
      Json.obj(Seq("run_id" -> Json.str(runId), "id" -> s.id.toString,
        "name" -> Json.str(s.name), "tag" -> Json.str(s.tag),
        "parent" -> s.parent.toString, "pass" -> s.pass.toString,
        "start_ms" -> Json.num(s.startNs / 1e6), "end_ms" -> Json.num(s.endNs / 1e6),
        "self_ms" -> Json.num(self(s.id) / 1e6),
        "jobs" -> jobCount.getOrElse(s.id, 0).toString))
    }
    val summary = Json.obj(Seq("run_id" -> Json.str(runId),
      "summary" -> Json.str(workload),
      "self_s_per_pass" -> Json.obj(Span.selfByName(spans).toSeq.sortBy(_._1)
        .map { case (n, ns) => n -> Json.num(ns / 1e9 / nTraced) }),
      "traced_pass_s" -> Json.arr(walls.filter(_._1).map(w => Json.num(w._2 / 1e9))),
      "untraced_pass_s" -> Json.arr(walls.filterNot(_._1).map(w => Json.num(w._2 / 1e9)))))
    Files.write(file, (lines :+ summary).mkString("", "\n", "\n").getBytes(UTF_8))
    file.toString
  }
}

/** Golden result hashes: `goldens` mode writes each query's hash and its
  * result (for the DuckDB cross-check in make_goldens.py). */
object Goldens {
  def load(path: String): Map[String, (Long, String)] =
    if (path.isEmpty || !Files.exists(Paths.get(path))) Map.empty
    else new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(path)).get("hashes").properties().asScala
      .map(e => e.getKey -> (e.getValue.get("rows").asLong, e.getValue.get("hash").asText))
      .toMap

  def dump(a: Args): Unit = {
    val spark = Main.session(a.work)
    val names = Workloads.Analytics ++ Workloads.Curation
    val hashes = names.map { q =>
      Workloads.clearMemos(spark)
      val df = graft.SparkEntry.queries(q)(spark, a.data)
      val (rows, hash) = Checks.resultHash(df)
      df.coalesce(1).write.mode("overwrite").parquet(s"${a.out}/$q")
      System.err.println(s"[perfbench] golden $q rows=$rows hash=$hash")
      q -> Json.obj(Seq("rows" -> rows.toString, "hash" -> Json.str(hash)))
    }
    val oracle = names.flatMap(q => graft.SparkEntry.oracleSql.get(q).map(q -> _))
      .filterNot(_._2.contains("read_parquet"))
      .map { case (q, sql) => q -> Json.str(sql) }
    Files.write(Paths.get(a.out, "hashes.json"), Json.obj(hashes).getBytes(UTF_8))
    Files.write(Paths.get(a.out, "oracle_sql.json"), Json.obj(oracle).getBytes(UTF_8))
    spark.stop()
  }
}

/** Minimal JSON writer: values are pre-rendered strings. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ", ", "]")
}
