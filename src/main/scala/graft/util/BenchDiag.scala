package graft.util

import scala.util.control.NonFatal

/** Shared per-attempt bench timing and diagnostics (the
  * SPARK_GRAFT_BENCH_DIAG hook, r15): cumulative JVM GC ms, used heap, and the
  * spark/RocksDB/feed scratch footprint under java.io.tmpdir, appended
  * as one JSONL line after every timed attempt. Lets a re-read pin an
  * inflated leg to session aging (GC/heap climb) vs state/scratch
  * accumulation vs host band (all flat). Shared by [[graft.Bench]] and
  * [[graft.BenchScaling]], whose timed lines all go through [[attempt]] —
  * the r15 verdict's x2@64× question is a SCALING leg. The diag row is
  * best-effort and opt-in: the tmpdir walk costs real time on big
  * scratch trees, so it must never run on a driver bench. */
object BenchDiag {
  /** Wall seconds of `body` — the timing half of [[attempt]]. */
  def wall(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  /** One timed bench line attempt: the wall seconds of `body`, or the
    * -1.0 failure sentinel (named on stderr) when it throws a NonFatal
    * error — some BenchScaling legs fail BY DESIGN at high factors (loud
    * guards), and the sentinel records them as marked lines. The diag row
    * ([[log]], tagged with `extra`) is appended either way. A fatal error
    * (OOM, stack overflow) propagates and ends the run: timing later
    * lines in a JVM that just blew its heap would report numbers nothing
    * should trust. */
  def attempt(path: Option[String], name: String, extra: Map[String, String] = Map.empty)
      (body: => Unit): Double = {
    val sec =
      try wall(body)
      catch { case NonFatal(e) =>
        val at = extra.map { case (k, v) => s"$k $v, " }.mkString
        System.err.println(s"[bench] $name failed (${at}reported -1.0): ${e.getMessage}")
        -1.0
      }
    log(path, name, sec, extra)
    sec
  }

  /** Append one diag row for `name` to `path` (a no-op when None). */
  def log(path: Option[String], name: String, sec: Double,
      extra: Map[String, String] = Map.empty): Unit = path.foreach { p =>
    try {
      import scala.jdk.CollectionConverters._
      val gcMs = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(_.getCollectionTime).filter(_ > 0).sum
      val heapMb = java.lang.management.ManagementFactory
        .getMemoryMXBean.getHeapMemoryUsage.getUsed >> 20
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
        s"""{"q":${Json.quote(name)},"sec":${f"$sec%.3f"},"gc_ms":$gcMs,""" +
          s""""heap_mb":$heapMb,"scratch_mb":$scratchMb$extras}""" + "\n",
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
    } catch { case NonFatal(_) => }
  }
}
