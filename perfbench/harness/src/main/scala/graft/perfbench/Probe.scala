package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed interval. `parent` is the span that caused it (0 = root);
  * every span of one operation carries that operation's `op` id. */
final case class Span(id: Long, parent: Long, op: Long, name: String,
    start: Long, end: Long)

/** In-memory span buffer, written out once when the run ends. Times are
  * epoch nanoseconds for harness spans and epoch milliseconds × 1e6 for the
  * Spark job/stage spans the listener reports. */
object Spans {
  private val ids = new AtomicLong(0)
  val buf = new ConcurrentLinkedQueue[Span]()
  def nextId(): Long = ids.incrementAndGet()
  def add(s: Span): Unit = buf.add(s)
  def nowNs(): Long = System.currentTimeMillis() * 1000000L +
    (System.nanoTime() % 1000000L + 1000000L) % 1000000L

  /** Self time of each span: its duration minus the union of its
    * children's intervals (clipped to the parent). */
  def selfTimes(all: Seq[Span]): Map[Long, Long] = {
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var curA = Long.MinValue
      var curB = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a > curB) {
          if (curB > curA) covered += curB - curA
          curA = a; curB = b
        } else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      s.id -> math.max(0L, (s.end - s.start) - covered)
    }.toMap
  }
}

/** Spark-side totals for one set of operations. */
final class SparkTotals {
  var jobs = 0L
  var jobsInConstruct = 0L
  var stages = 0L
  var tasks = 0L
  var failedTasks = 0L
  var schedDelayMs = 0L
  var deserMs = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var longestStageMs = 0L
}

/** The benchmark's own SparkListener. Every operation runs under a job
  * group `pbT-<op>` (traced) or `pbU-<op>` (untraced) and a local property
  * naming its current phase span, so Spark work is attributed to the
  * operation and phase that caused it. Jobs outside any `pb` group (e.g.
  * checkpoints submitted from a shared thread pool) are counted as
  * unattributed. */
final class Listener extends SparkListener {
  val totals = new SparkTotals
  val unattributedJobs = new AtomicLong(0)
  private val started = new AtomicLong(0)
  private val ended = new AtomicLong(0)
  // stageId -> (op, phase, parentSpan)
  private val stageOwner = mutable.Map.empty[Int, (Long, String, Long)]
  private val jobSpan = mutable.Map.empty[Int, (Long, Long, Long, Long)]

  private def prop(p: java.util.Properties, k: String): String =
    if (p == null) null else p.getProperty(k)

  /** Set once the timed phase is drained: later work (checks, extra
    * artifact builds) is not part of the measured operations. */
  @volatile var frozen = false

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    started.incrementAndGet()
    if (frozen) return
    val group = prop(e.properties, "spark.jobGroup.id")
    if (group == null || !group.startsWith("pb")) {
      unattributedJobs.incrementAndGet(); return
    }
    if (!group.startsWith("pbT-")) return
    val op = group.stripPrefix("pbT-").toLong
    val phase = Option(prop(e.properties, Probe.PhaseKey)).getOrElse("?")
    val parent = Option(prop(e.properties, Probe.SpanKey)).map(_.toLong)
      .getOrElse(0L)
    val id = Spans.nextId()
    totals.jobs += 1
    if (phase == "construct") totals.jobsInConstruct += 1
    jobSpan(e.jobId) = (id, parent, op, e.time)
    e.stageIds.foreach(s => stageOwner(s) = (op, phase, id))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    ended.incrementAndGet()
    jobSpan.remove(e.jobId).foreach { case (id, parent, op, t0) =>
      Spans.add(Span(id, parent, op, s"spark.job.${e.jobId}",
        t0 * 1000000L, e.time * 1000000L))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted)
      : Unit = synchronized {
    if (frozen) return
    val si = e.stageInfo
    stageOwner.get(si.stageId).foreach { case (op, _, jobSpanId) =>
      totals.stages += 1
      for (a <- si.submissionTime; b <- si.completionTime) {
        totals.longestStageMs = math.max(totals.longestStageMs, b - a)
        Spans.add(Span(Spans.nextId(), jobSpanId, op,
          s"spark.stage.${si.stageId}", a * 1000000L, b * 1000000L))
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (frozen) return
    if (!stageOwner.contains(e.stageId)) return
    val info = e.taskInfo
    totals.tasks += 1
    if (info.failed || info.killed) totals.failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      totals.deserMs += m.executorDeserializeTime
      totals.runMs += m.executorRunTime
      totals.cpuNs += m.executorCpuTime
      totals.gcMs += m.jvmGCTime
      totals.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      totals.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      totals.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      // the Spark UI's scheduler-delay formula: time the task existed
      // that was neither deserializing, running, serializing its result
      // nor fetching it
      totals.schedDelayMs += math.max(0L, info.duration -
        m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - (if (info.gettingResultTime > 0)
          info.finishTime - info.gettingResultTime else 0L))
    }
  }

  /** Wait (bounded) until every job the bus has announced has ended, so
    * the totals are complete before they are read. */
  def drain(sc: SparkContext): Unit = {
    val t0 = System.nanoTime()
    while ((started.get != ended.get || sc.statusTracker.getActiveJobIds()
        .nonEmpty) && System.nanoTime() - t0 < 10e9)
      Thread.sleep(20)
    Thread.sleep(200) // trailing stage/task events queued after the job end
    frozen = true
  }
}

/** Runs operations with their phase split and bookkeeping. */
final class Probe(sc: SparkContext, val traced: Boolean) {
  private val opIds = new AtomicLong(0)
  private val pairsPerKind =
    new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()
  /** (kind, phase) -> per-operation phase durations in ns, of the
    * operations that count: all of them in an untraced run, the traced
    * ones in a traced run. */
  val phases = new java.util.concurrent.ConcurrentHashMap[(String, String),
    ConcurrentLinkedQueue[Long]]()
  /** Traced runs: wall-time ratio first / second of each operation pair
    * whose first execution is traced, and of each control pair (both
    * untraced). */
  val tracedPairs = new ConcurrentLinkedQueue[Double]()
  val controlPairs = new ConcurrentLinkedQueue[Double]()
  /** Traced operations run. */
  val tracedOps = new AtomicLong(0)
  /** Record `plans.Checkpointed` sites inside traced operations. The
    * capture is process-wide, so only a workload that runs one operation
    * at a time may turn it on. */
  @volatile var captureSites = false
  /** Checkpoint sites captured inside traced operations. */
  val sites = new AtomicLong(0)

  /** Forget every figure recorded so far (after warm-up). */
  def reset(): Unit = {
    phases.clear(); tracedPairs.clear(); controlPairs.clear()
    pairsPerKind.clear()
    tracedOps.set(0); sites.set(0)
  }

  final class Op(val id: Long, val kind: String, val on: Boolean,
      val span: Long) {
    private val record = on || !traced
    /** Time one phase; the Spark jobs it submits are tagged with it. */
    def phase[T](name: String)(f: => T): T = {
      val sid = if (on) Spans.nextId() else 0L
      if (on) {
        sc.setLocalProperty(Probe.PhaseKey, name)
        sc.setLocalProperty(Probe.SpanKey, sid.toString)
      }
      val a = Spans.nowNs()
      val t0 = System.nanoTime()
      try f finally {
        val dt = System.nanoTime() - t0
        if (on) {
          Spans.add(Span(sid, span, id, name, a, a + dt))
          sc.setLocalProperty(Probe.PhaseKey, null)
          sc.setLocalProperty(Probe.SpanKey, null)
        }
        if (record) phases.computeIfAbsent((kind, name),
          _ => new ConcurrentLinkedQueue).add(dt)
      }
    }
  }

  /** One execution of an operation, traced (`on`: spans, checkpoint
    * capture, its Spark work attributed by the listener) or not. */
  private def once[T](kind: String, on: Boolean)(body: Op => T): (T, Long) = {
    val id = opIds.incrementAndGet()
    val op = new Op(id, kind, on, if (on) Spans.nextId() else 0L)
    sc.setJobGroup(s"${if (on) "pbT" else "pbU"}-$id", kind,
      interruptOnCancel = false)
    val capture = on && captureSites
    if (capture) graft.plans.Checkpointed.startCapture()
    val a = Spans.nowNs()
    val t0 = System.nanoTime()
    try {
      val r = body(op)
      (r, System.nanoTime() - t0)
    } finally {
      val dt = System.nanoTime() - t0
      if (capture)
        sites.addAndGet(graft.plans.Checkpointed.stopCapture().size.toLong)
      if (on) {
        Spans.add(Span(op.span, 0L, id, s"op.$kind", a, a + dt))
        tracedOps.incrementAndGet()
      }
      sc.clearJobGroup()
    }
  }

  /** Run one operation; returns the body's result and the operation's
    * wall time in ns. In a traced run a `paired` operation runs twice
    * back to back on the same inputs, and the second, untraced execution
    * only measures: every other pair of a kind traces its first
    * execution, the rest are control pairs traced in neither. A repeat
    * runs faster than a first execution (warm caches), by a factor the
    * control pairs measure, so the tracing overhead is the traced pairs'
    * median first/second ratio over the control pairs'. The first
    * execution's result and wall time are returned, so the traced
    * executions run where untraced ones would. An operation with side
    * effects (an ingest batch) is not paired: it runs once, traced. */
  def run[T](kind: String, paired: Boolean = true)(body: Op => T): (T, Long) =
    if (!traced) once(kind, on = false)(body)
    else if (!paired) once(kind, on = true)(body)
    else {
      val on = pairsPerKind.computeIfAbsent(kind,
        _ => new AtomicLong(0)).getAndIncrement() % 2 == 0
      val first = once(kind, on)(body)
      val second = once(kind, on = false)(body)
      (if (on) tracedPairs else controlPairs)
        .add(first._2.toDouble / math.max(1L, second._2))
      first
    }

  /** Phase durations of every operation whose kind is `kind` or starts
    * with `kind.`. */
  def phaseValues(kind: String, phase: String): Seq[Long] =
    phases.asScala.toSeq.collect {
      case ((k, p), v) if p == phase && (k == kind || k.startsWith(kind + "."))
        => v.asScala.toSeq
    }.flatten
}

object Probe {
  val PhaseKey = "perfbench.phase"
  val SpanKey = "perfbench.span"
}
