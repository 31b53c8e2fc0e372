package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.streaming.{WalRecord, WalSink}
import graft.util.Json

/** Work counted by the listeners while one scope (a timed line or a WAL
  * round) is open. */
final class Counters {
  val jobs, tasks, taskRunMs, taskCpuNs, shuffleBytes, gcMs, planningMs = new AtomicLong
  val gateBatches, stateCommitMs = new AtomicLong
  /** CPU the whole process spent inside the scope. */
  val processCpuNs = new AtomicLong
}

/** One recorded span: epoch-ms interval, the span that caused it (-1 for
  * a root) and the trace id it belongs to (a line key or a batch id). */
final case class Span(id: Int, parent: Int, traceId: String, name: String,
    startMs: Double, endMs: Double)

/** The traced run's instruments, registered from outside the program: a
  * SparkListener (jobs, tasks, shuffle, GC), a QueryExecutionListener
  * (the planning tracker's phases), a StreamingQueryListener (progress
  * durations and state-operator commits) and the codegen compile-time
  * counter. Spans stay in memory until [[writeSpans]]. */
final class Tracer(spark: SparkSession) {
  @volatile private var scope: Counters = new Counters
  @volatile private var scopeSpan: Int = -1
  @volatile private var scopeTrace: String = ""
  @volatile private var recording = false
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val jobStarts = mutable.Map.empty[Int, (Long, Int, String)]
  val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]

  def span(parent: Int, traceId: String, name: String, startMs: Double, endMs: Double): Int =
    spans.synchronized {
      spans += Span(spans.size, parent, traceId, name, startMs, endMs)
      spans.size - 1
    }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (recording) {
      scope.jobs.incrementAndGet()
      jobStarts.synchronized(jobStarts(e.jobId) = (e.time, scopeSpan, scopeTrace))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobStarts.synchronized(jobStarts.remove(e.jobId)).foreach { case (t0, parent, tr) =>
        span(parent, tr, s"job ${e.jobId}", t0.toDouble, e.time.toDouble)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (recording) {
      val m = e.taskMetrics
      val c = scope
      c.tasks.incrementAndGet()
      if (m != null) {
        c.taskRunMs.addAndGet(m.executorRunTime)
        c.taskCpuNs.addAndGet(m.executorCpuTime)
        c.gcMs.addAndGet(m.jvmGCTime)
        c.shuffleBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (recording) scope.planningMs.addAndGet(qe.tracker.phases.values.map(_.durationMs).sum)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (recording) {
        val p = e.progress
        progress.synchronized(progress += p)
        val c = scope
        if (p.numInputRows > 0 || p.stateOperators.nonEmpty) c.gateBatches.incrementAndGet()
        c.stateCommitMs.addAndGet(p.stateOperators.map(_.commitTimeMs).sum)
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
        val total = Option(p.durationMs.get("triggerExecution")).map(_.toLong).getOrElse(0L)
        span(scopeSpan, s"batch ${p.batchId}", "microbatch", start, start + total)
      }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(qeListener)
  spark.streams.addListener(streamListener)

  def close(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  def drain(): Unit = org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)

  /** Start or stop recording. The bus is drained first, so events of work
    * done before the switch are counted (or not) by the old setting. */
  def record(on: Boolean): Unit = {
    drain()
    recording = on
  }

  def isRecording: Boolean = recording

  /** Run `body` as a root span named `name` with its own counters; the
    * bus is drained on both sides so every event lands in its scope. */
  def scoped[A](traceId: String, name: String)(body: => A): (A, Counters, Double) = {
    drain()
    val c = new Counters
    val compile0 = CodeGenerator.compileTime
    val cpu0 = processCpuNs()
    val t0 = System.currentTimeMillis().toDouble
    val id = span(-1, traceId, name, t0, t0)
    scope = c; scopeSpan = id; scopeTrace = traceId
    val out = try body finally {
      c.processCpuNs.set(processCpuNs() - cpu0)
      drain()
      val t1 = System.currentTimeMillis().toDouble
      spans.synchronized(spans(id) = spans(id).copy(endMs = t1))
      scope = new Counters; scopeSpan = -1; scopeTrace = ""
    }
    (out, c, (CodeGenerator.compileTime - compile0) / 1e9)
  }

  private def processCpuNs(): Long = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Spans as JSON lines, each with its self time: duration minus the
    * part of its interval covered by its child spans. */
  def writeSpans(path: java.nio.file.Path): Unit = {
    val all = spans.synchronized(spans.toVector)
    val kids = all.filter(_.parent >= 0).groupBy(_.parent)
    def covered(s: Span): Double = {
      val iv = kids.getOrElse(s.id, Vector.empty)
        .map(k => (math.max(k.startMs, s.startMs), math.min(k.endMs, s.endMs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var (sum, end) = (0.0, Double.MinValue)
      iv.foreach { case (a, b) =>
        val from = math.max(a, end)
        if (b > from) { sum += b - from; end = b }
      }
      sum
    }
    val lines = all.map { s =>
      f"""{"id":${s.id},"parent":${s.parent},"trace":${Json.quote(s.traceId)},"name":${Json.quote(s.name)},""" +
        f""""start_ms":${s.startMs}%.1f,"end_ms":${s.endMs}%.1f,"self_ms":${s.endMs - s.startMs - covered(s)}%.1f}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}

/** JVM-wide sink call statistics (local mode: executor tasks run in this
  * JVM). Only [[TimedSink]] writes here, and only while `on` is set. */
object SinkStats {
  @volatile var on = false
  private var durNs = new Array[Long](1 << 16)
  private var n = 0
  private val entities = mutable.HashSet.empty[Long]
  val ignored = new AtomicLong

  def record(entityId: Long, ns: Long): Unit = synchronized {
    if (n == durNs.length) durNs = java.util.Arrays.copyOf(durNs, n * 2)
    durNs(n) = ns; n += 1
    entities += entityId
  }

  def snapshot(): (Array[Long], Int) = synchronized((java.util.Arrays.copyOf(durNs, n), entities.size))
}

/** Timing decorator around the sink under test. */
final class TimedSink(inner: WalSink) extends WalSink {
  override def syncEntity(r: WalRecord): Boolean =
    if (!SinkStats.on) inner.syncEntity(r)
    else {
      val t0 = System.nanoTime()
      val applied = inner.syncEntity(r)
      SinkStats.record(r.entityId, System.nanoTime() - t0)
      if (!applied) SinkStats.ignored.incrementAndGet()
      applied
    }
}
