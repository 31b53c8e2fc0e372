package graft.util

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** The one timed-line runner of [[graft.Bench]] and
  * [[graft.BenchScaling]]: every timed line is a [[Runner.attempt]],
  * which times it, turns a NonFatal failure into the -1.0 sentinel,
  * sums its wall/CPU/GC per line name, and appends the opt-in
  * SPARK_GRAFT_BENCH_DIAG row (r15): cumulative JVM GC ms, used heap, and
  * the spark/RocksDB/feed scratch footprint under java.io.tmpdir, as one
  * JSONL line after every attempt. Lets a re-read pin an inflated leg to
  * session aging (GC/heap climb) vs state/scratch accumulation vs host
  * band (all flat). The diag row is best-effort and opt-in: the tmpdir
  * walk costs real time on big scratch trees, so it stays off the
  * default bench run. */
object BenchDiag {
  /** Wall seconds of `body`. */
  def wall(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  /** CPU ns this process has burned, all threads (-1 if unavailable). */
  def procCpuNs(): Long = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case _ => -1L
  }

  /** Cumulative GC ms over every collector. */
  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum

  /** One line's attempts summed: wall s, process CPU s, GC ms. */
  final case class Acc(wall: Double, cpu: Double, gcMs: Long) {
    /** CPU seconds per wall second: a healthy multi-second line at
      * local[N] reads well above 1, a host-stalled one collapses toward
      * 0 (r20 stall evidence); -1 when nothing succeeded. */
    def coresBusy: Double = if (wall > 0) cpu / wall else -1.0
  }

  /** Times every attempt of a run; `extra` tags each diag row (e.g. the
    * scaling factor). */
  final class Runner(path: Option[String], extra: Map[String, String] = Map.empty) {
    private val acc = scala.collection.mutable.LinkedHashMap.empty[String, Acc]

    /** One timed attempt: the wall seconds of `body`, or the -1.0
      * failure sentinel (named on stderr) when it throws a NonFatal
      * error — some BenchScaling legs fail BY DESIGN at high factors
      * (loud guards), and the sentinel records them as marked lines. The
      * attempt's wall (0 when failed), process CPU and GC add to
      * `name`'s [[Acc]], and the diag row is appended either way. A fatal
      * error (OOM, stack overflow) propagates and ends the run: timing
      * later lines in a JVM that just blew its heap would report numbers
      * nothing should trust. */
    def attempt(name: String)(body: => Unit): Double = {
      val (gc0, cpu0) = (gcMs(), procCpuNs())
      val sec =
        try wall(body)
        catch { case NonFatal(e) =>
          val at = extra.map { case (k, v) => s"$k $v, " }.mkString
          System.err.println(s"[bench] $name failed (${at}reported -1.0): ${e.getMessage}")
          -1.0
        }
      val a = acc.getOrElse(name, Acc(0.0, 0.0, 0L))
      acc(name) = Acc(a.wall + math.max(sec, 0.0),
        a.cpu + math.max(procCpuNs() - cpu0, 0L) / 1e9,
        a.gcMs + math.max(gcMs() - gc0, 0L))
      log(name, sec)
      sec
    }

    /** `name`'s summed attempts, if it ran. */
    def totals(name: String): Option[Acc] = acc.get(name)

    private def log(name: String, sec: Double): Unit = path.foreach { p =>
      try {
        val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed >> 20
        def sizeOf(f: java.io.File): Long =
          if (f.isFile) f.length()
          else Option(f.listFiles()).getOrElse(Array.empty).map(sizeOf).sum
        val scratchMb = Option(new java.io.File(System.getProperty("java.io.tmpdir"))
            .listFiles()).getOrElse(Array.empty)
          .filter(f => f.getName.startsWith("spark-") ||
            f.getName.contains("StateStore") || f.getName.startsWith("graft_") ||
            f.getName.startsWith("temporary-"))
          .map(sizeOf).sum >> 20
        val extras = extra.map { case (k, v) => s",${Json.quote(k)}:${Json.quote(v)}" }.mkString
        java.nio.file.Files.writeString(java.nio.file.Paths.get(p),
          s"""{"q":${Json.quote(name)},"sec":${f"$sec%.3f"},"gc_ms":${gcMs()},""" +
            s""""heap_mb":$heapMb,"scratch_mb":$scratchMb$extras}""" + "\n",
          java.nio.file.StandardOpenOption.CREATE,
          java.nio.file.StandardOpenOption.APPEND)
      } catch { case NonFatal(_) => }
    }
  }
}
