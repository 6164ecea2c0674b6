package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed region of the benchmark's own code. `parent` is 0 for a
  * pass root; `tag` names the query, sink or store the span served. */
final case class Span(id: Int, name: String, tag: String, parent: Int,
    pass: Int, startNs: Long, endNs: Long) {
  def ns: Long = endNs - startNs
}

object Span {

  /** Self time per span: its duration minus its direct children's. */
  def selfNs(spans: Seq[Span]): Map[Int, Long] = {
    val childNs = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.ns).sum }
    spans.map(s => s.id -> (s.ns - childNs.getOrElse(s.id, 0L))).toMap
  }

  /** Σ self time per span name. */
  def selfByName(spans: Seq[Span]): Map[String, Long] = {
    val self = selfNs(spans)
    spans.groupBy(_.name).map { case (n, ss) => n -> ss.map(s => self(s.id)).sum }
  }

  /** Σ inclusive time per span name, counting a span nested inside a
    * span of the same name once. */
  def inclusiveByName(spans: Seq[Span]): Map[String, Long] = {
    val byId = spans.map(s => s.id -> s).toMap
    def nestedInSame(s: Span): Boolean = {
      var p = byId.get(s.parent)
      while (p.isDefined) {
        if (p.get.name == s.name) return true
        p = byId.get(p.get.parent)
      }
      false
    }
    spans.filterNot(nestedInSame).groupBy(_.name)
      .map { case (n, ss) => n -> ss.map(_.ns).sum }
  }

  /** The innermost span that contains instant `ns` among `candidates`. */
  def innermost(candidates: Seq[Span], ns: Long): Option[Span] =
    candidates.filter(s => s.startNs <= ns && ns <= s.endNs)
      .sortBy(_.ns).headOption
}

/** Records spans around calls into the program. Disabled, `span` is a
  * plain call. Each span's id is set as a Spark local property so the
  * jobs it launches (including AQE's stage threads, which capture the
  * caller's properties) can be attributed to it. */
final class Tracer(sc: SparkContext) {
  val runId: String = java.util.UUID.randomUUID().toString
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 1
  var active = false
  var pass = 0

  def all: Seq[Span] = spans.toSeq

  def span[A](name: String, tag: String = "")(body: => A): A =
    if (!active) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      sc.setLocalProperty(Tracer.SpanProp, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(Tracer.SpanProp,
          stack.headOption.map(_.toString).orNull)
        spans += Span(id, name, tag, parent, pass, t0, t1)
      }
    }

  /** Adds spans derived after the fact (stack-sample segments). */
  def derive(name: String, parent: Span, startNs: Long, endNs: Long): Unit = {
    spans += Span(nextId, name, parent.tag, parent.id, parent.pass, startNs, endNs)
    nextId += 1
  }
}

object Tracer {
  val SpanProp = "perfbench.span"
  val StreamProp = "perfbench.stream"

  /** Wall-clock ms ↔ System.nanoTime, fixed once per JVM so listener
    * event times (ms) and span bounds (ns) share one time line. */
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def msToNs(ms: Long): Long = baseNs + (ms - baseMs) * 1000000L
}

/** Per-stage and per-job facts from the listener bus. */
final case class JobRec(id: Int, submitNs: Long, span: Int, stream: String,
    stageIds: Seq[Int])
final case class StageRec(id: Int, tasks: Int, runMs: Long, cpuNs: Long,
    gcMs: Long, shuffleWrite: Long, shuffleRead: Long, spill: Long)

final class JobLog extends SparkListener {
  val jobs = new java.util.concurrent.ConcurrentLinkedQueue[JobRec]()
  val stages = new java.util.concurrent.ConcurrentHashMap[Int, StageRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    jobs.add(JobRec(e.jobId, Tracer.msToNs(e.time),
      p.flatMap(x => Option(x.getProperty(Tracer.SpanProp))).map(_.toInt).getOrElse(0),
      p.flatMap(x => Option(x.getProperty(Tracer.StreamProp))).orNull,
      e.stageIds))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    if (m != null) stages.put(i.stageId, StageRec(i.stageId, i.numTasks,
      m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
      m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
      m.diskBytesSpilled))
  }
}

/** Catalyst phase time (analysis, optimization, planning) of every
  * executed query, from each QueryExecution's planning tracker. */
final class PlanLog extends QueryExecutionListener {
  /** (phase start ns, phase ms) */
  val phases = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
  private def record(qe: QueryExecution): Unit =
    qe.tracker.phases.values.foreach(p =>
      phases.add((Tracer.msToNs(p.startTimeMs), p.durationMs)))
  override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = record(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
}

/** Samples the client thread and Spark's task threads every `periodMs`
  * and classifies each instant with `classify(client, tasks)`; null
  * means "no finer class". Used where one call into the program runs
  * several stages (the voice pipeline), so their time can be split
  * without touching the program. */
final class Sampler(client: Thread, periodMs: Long,
    classify: (Array[StackTraceElement], Seq[Array[StackTraceElement]]) => String) {
  val ticks = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String)]()
  @volatile var on = false
  @volatile private var stopped = false

  private val root: ThreadGroup = {
    var g = Thread.currentThread().getThreadGroup
    while (g.getParent != null) g = g.getParent
    g
  }

  /** Spark's task threads, enumerated afresh each tick (cheap: no stack
    * walk) so a task that starts between ticks is not missed. */
  private def workers(): Seq[Thread] = {
    val all = new Array[Thread](root.activeCount() * 2 + 16)
    all.take(root.enumerate(all, true)).toSeq
      .filter(_.getName.startsWith("Executor task launch"))
  }

  private val thread = new Thread(() => {
    while (!stopped) {
      if (on) ticks.add((System.nanoTime(),
        classify(client.getStackTrace, workers().map(_.getStackTrace))))
      Thread.sleep(periodMs)
    }
  }, "perfbench-sampler")
  thread.setDaemon(true)
  thread.start()

  def stop(): Unit = { stopped = true; thread.join() }

  /** Splits each span in `parents` into contiguous same-class segments;
    * unclassified instants take the parent's default class. */
  def deriveInto(tracer: Tracer, parents: Seq[Span], default: String => String): Unit = {
    import scala.jdk.CollectionConverters._
    val all = ticks.asScala.toSeq.sortBy(_._1)
    parents.foreach { p =>
      val inside = all.filter(t => t._1 >= p.startNs && t._1 <= p.endNs)
        .map { case (ns, c) => (ns, Option(c).getOrElse(default(p.name))) }
      var segStart = p.startNs
      var cur = inside.headOption.map(_._2).getOrElse(default(p.name))
      inside.foreach { case (ns, c) =>
        if (c != cur) { tracer.derive(cur, p, segStart, ns); segStart = ns; cur = c }
      }
      tracer.derive(cur, p, segStart, p.endNs)
    }
  }
}
