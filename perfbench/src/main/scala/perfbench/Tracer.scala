package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Counters of Spark work, summed over the jobs of one span (or over all
  * jobs, for the totals). */
final class Counters {
  val jobs, stages, tasks = new AtomicLong
  val runMs, cpuNs, gcMs = new AtomicLong
  val inputBytes, outputBytes, shuffleWriteBytes, shuffleReadBytes, spillBytes = new AtomicLong
  val peakTaskMem = new AtomicLong

  def addTask(m: org.apache.spark.executor.TaskMetrics): Unit = {
    tasks.incrementAndGet()
    if (m != null) {
      runMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      inputBytes.addAndGet(m.inputMetrics.bytesRead)
      outputBytes.addAndGet(m.outputMetrics.bytesWritten)
      shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleReadBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      peakTaskMem.getAndUpdate(p => math.max(p, m.peakExecutionMemory))
    }
  }

  def addAll(o: Counters): Unit = {
    Seq(jobs -> o.jobs, stages -> o.stages, tasks -> o.tasks, runMs -> o.runMs,
      cpuNs -> o.cpuNs, gcMs -> o.gcMs, inputBytes -> o.inputBytes,
      outputBytes -> o.outputBytes, shuffleWriteBytes -> o.shuffleWriteBytes,
      shuffleReadBytes -> o.shuffleReadBytes, spillBytes -> o.spillBytes)
      .foreach { case (a, b) => a.addAndGet(b.get) }
    peakTaskMem.getAndUpdate(p => math.max(p, o.peakTaskMem.get))
  }

  def toMap: Map[String, Long] = Map(
    "jobs" -> jobs.get, "stages" -> stages.get, "tasks" -> tasks.get,
    "run_ms" -> runMs.get, "cpu_ns" -> cpuNs.get, "gc_ms" -> gcMs.get,
    "input_bytes" -> inputBytes.get, "output_bytes" -> outputBytes.get,
    "shuffle_write_bytes" -> shuffleWriteBytes.get,
    "shuffle_read_bytes" -> shuffleReadBytes.get, "spill_bytes" -> spillBytes.get,
    "peak_task_mem" -> peakTaskMem.get)
}

/** One timed call into a layer. Times are wall-clock milliseconds (the
  * clock Spark stamps its job events with) plus a nanosecond duration. */
final class Span(val id: Long, val name: String, val parent: Long, val startMs: Long) {
  @volatile var endMs: Long = -1L
  @volatile var durNs: Long = 0L
  val own = new Counters
  /** [start, end) of every job attributed to this span. */
  val jobIntervals = new ConcurrentHashMap[Int, (Long, Long)]()
}

/** The benchmark's outside-in tracer.
  *
  * [[span]] wraps a call into a layer's public entry point. It records the
  * span and sets the Spark local property [[Tracer.SpanProp]] to the span's
  * id for the duration of the call; local properties travel with every job
  * submitted from the thread, so the listener reads the innermost open span
  * back from `JobStart.properties` and attributes the job, its stages and
  * its tasks to it. Nothing is forced: the tracer only sees the jobs the
  * layer starts on its own.
  *
  * With `enabled = false` no listener is installed and spans run their
  * body bare, so untraced runs measure the engine alone. [[active]] turns
  * spans and both listeners off for single operations of a traced run,
  * which is how the run measures the tracer's whole overhead.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  private val nextId = new AtomicLong(0)
  private val spans = new ConcurrentHashMap[Long, Span]()
  private val jobSpan = new ConcurrentHashMap[Int, Long]()
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private val jobStart = new ConcurrentHashMap[Int, Long]()
  /** Work seen by the listener, whether or not a span claimed it. */
  val totals = new Counters
  /** Work no span claimed (jobs started outside every span). */
  val unattributed = new Counters
  /** Catalyst phase milliseconds summed over every query the listener saw. */
  val phaseMs = new ConcurrentHashMap[String, AtomicLong]()
  val queries = new AtomicLong
  /** Catalyst phase milliseconds of the queries run inside operation bodies
    * ([[opPhases]]), and the number of such operations. */
  val opPhaseMs = mutable.Map.empty[String, Long]
  var phasedOps = 0
  @volatile private var on = false

  private def countersOf(spanId: Long): Counters =
    if (spanId < 0) unattributed else spans.get(spanId).own

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val sid = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProp)))
        .map(_.toLong).filter(spans.containsKey).getOrElse(-1L)
      jobSpan.put(e.jobId, sid)
      jobStart.put(e.jobId, e.time)
      e.stageIds.foreach(s => stageSpan.putIfAbsent(s, sid))
      totals.jobs.incrementAndGet()
      countersOf(sid).jobs.incrementAndGet()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val sid = jobSpan.getOrDefault(e.jobId, -1L)
      if (sid >= 0)
        spans.get(sid).jobIntervals.put(e.jobId, (jobStart.getOrDefault(e.jobId, e.time), e.time))
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      totals.stages.incrementAndGet()
      countersOf(stageSpan.getOrDefault(e.stageInfo.stageId, -1L)).stages.incrementAndGet()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      totals.addTask(e.taskMetrics)
      countersOf(stageSpan.getOrDefault(e.stageId, -1L)).addTask(e.taskMetrics)
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      queries.incrementAndGet()
      qe.tracker.phases.foreach { case (phase, s) =>
        phaseMs.computeIfAbsent(phase, _ => new AtomicLong).addAndGet(s.durationMs)
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  def active: Boolean = on

  /** Turns spans and both listeners on or off. The listener bus is drained
    * first, so every event of the work before the switch is counted. */
  def active_=(v: Boolean): Unit = if (enabled && v != on) {
    drain()
    if (v) {
      sc.addSparkListener(listener)
      spark.listenerManager.register(qeListener)
    } else {
      sc.removeSparkListener(listener)
      spark.listenerManager.unregister(qeListener)
    }
    on = v
  }
  active = true

  private def phaseSnapshot(): Map[String, Long] = phaseMs.asScala.map { case (k, v) => k -> v.get }.toMap

  /** Runs `body`, one operation, and adds the Catalyst phase times of the
    * queries it ran to [[opPhaseMs]]. The bus is drained before and after
    * `body`, so a caller that times `body` inside this call times no drain
    * and the queries the harness runs around an operation are not counted. */
  def opPhases[T](body: => T): T = {
    if (!enabled || !on) return body
    drain()
    val before = phaseSnapshot()
    val r = body
    drain()
    phaseSnapshot().foreach { case (k, v) =>
      opPhaseMs(k) = opPhaseMs.getOrElse(k, 0L) + v - before.getOrElse(k, 0L)
    }
    phasedOps += 1
    r
  }

  /** Run `body` as a span named `name`, nested in the span open on this
    * thread (if any). */
  def span[T](name: String)(body: => T): T = {
    if (!enabled || !on) return body
    val parentProp = sc.getLocalProperty(Tracer.SpanProp)
    val parent = Option(parentProp).map(_.toLong).getOrElse(-1L)
    val s = new Span(nextId.getAndIncrement(), name, parent, System.currentTimeMillis())
    spans.put(s.id, s)
    sc.setLocalProperty(Tracer.SpanProp, s.id.toString)
    val t0 = System.nanoTime()
    try body
    finally {
      s.durNs = System.nanoTime() - t0
      s.endMs = System.currentTimeMillis()
      sc.setLocalProperty(Tracer.SpanProp, parentProp)
    }
  }

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = if (enabled) org.apache.spark.GraftSparkShim.drainListenerBus(spark)

  def allSpans: Seq[Span] = spans.values().asScala.toSeq.sortBy(_.id)

  /** Children of every span, for [[subtree]] and [[driverGapMs]]. */
  def index(all: Seq[Span] = allSpans): Map[Long, Seq[Span]] = all.groupBy(_.parent)

  private def walk(s: Span, index: Map[Long, Seq[Span]])(f: Span => Unit): Unit = {
    f(s)
    index.getOrElse(s.id, Nil).foreach(walk(_, index)(f))
  }

  /** Counters of `s` and every span nested in it. */
  def subtree(s: Span, index: Map[Long, Seq[Span]]): Counters = {
    val c = new Counters
    walk(s, index)(x => c.addAll(x.own))
    c
  }

  /** Wall time of `s` during which none of its jobs was running. */
  def driverGapMs(s: Span, index: Map[Long, Seq[Span]]): Double = {
    val ivs = mutable.ArrayBuffer.empty[(Long, Long)]
    walk(s, index)(x => ivs ++= x.jobIntervals.values().asScala)
    var covered = 0L
    var cur = (Long.MinValue, Long.MinValue)
    ivs.map { case (a, b) => (math.max(a, s.startMs), math.min(b, s.endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
      .foreach { case (a, b) =>
        if (a > cur._2) { covered += cur._2 - cur._1; cur = (a, b) }
        else cur = (cur._1, math.max(cur._2, b))
      }
    covered += cur._2 - cur._1
    math.max(0.0, s.durNs / 1e6 - covered)
  }

  /** The trace as one JSON document: every span with its parent, times and
    * counters, plus the listener's totals. */
  def toJson: String = {
    val m = ItemGen.mapper
    val root = m.createObjectNode()
    val arr = root.putArray("spans")
    allSpans.foreach { s =>
      val o = arr.addObject()
      o.put("id", s.id); o.put("name", s.name); o.put("parent", s.parent)
      o.put("start_ms", s.startMs); o.put("end_ms", s.endMs); o.put("dur_ns", s.durNs)
      val c = o.putObject("counters")
      s.own.toMap.foreach { case (k, v) => c.put(k, v) }
    }
    val t = root.putObject("totals")
    totals.toMap.foreach { case (k, v) => t.put(k, v) }
    val u = root.putObject("unattributed")
    unattributed.toMap.foreach { case (k, v) => u.put(k, v) }
    val p = root.putObject("catalyst_phase_ms")
    phaseMs.asScala.foreach { case (k, v) => p.put(k, v.get) }
    m.writerWithDefaultPrettyPrinter().writeValueAsString(root)
  }
}

object Tracer {
  val SpanProp = "perfbench.span"
}
