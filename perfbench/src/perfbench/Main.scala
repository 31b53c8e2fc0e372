package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

import graft.util.Json

/** What one run measured. `metrics` holds the end-to-end metrics on an
  * untraced run and the per-layer metrics on a traced one; `notes` are
  * human-readable facts printed beside the result (sample counts, stall
  * lines). */
final case class Result(attempted: Long, failed: Long, metrics: Map[String, Double],
    notes: Seq[String] = Nil)

/** Everything a workload gets: the session, its temporary directory, the
  * seed and measuring window, and the tracer on a traced run. */
final case class Ctx(spark: SparkSession, tmp: Path, seed: Long, seconds: Int,
    tracer: Option[Tracer], cores: Int, smoke: Boolean, sessionS: Double) {
  def traced: Boolean = tracer.isDefined
  def dir(name: String): Path = Files.createDirectories(tmp.resolve(name))
}

/** Benchmark entry point, started by `perfbench/run.py`:
  * `perfbench.Main <workload> <seed> <seconds> <trace 0|1> <tmpDir> <cores> <smoke 0|1> <spansFile>`.
  * Prints one `PERFBENCH_RESULT {...}` line; run.py attaches the units
  * declared in BENCHMARK.json and prints the final result line. */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, seed, seconds, trace, tmp, cores, smoke, spansFile) = args
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val tmpDir = Paths.get(tmp).toAbsolutePath
    val spark = session(tmpDir, cores.toInt)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val tracer = if (trace == "1") Some(new Tracer(spark)) else None
    val ctx = Ctx(spark, tmpDir, seed.toLong, seconds.toInt, tracer, cores.toInt, smoke == "1", sessionS)
    val run: Ctx => Result = workload match {
      case "wal" => WalBench.wal
      case "store_cycle" => StoreBench.cycle
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    }
    val t0 = System.nanoTime()
    val r = run(ctx)
    val workloadS = (System.nanoTime() - t0) / 1e9
    val metrics = r.metrics ++ (if (ctx.traced) Map("jvm.peak_rss_mb" -> peakRssMb()) else Map.empty)
    tracer.foreach { t => t.close(); t.writeSpans(Paths.get(spansFile)) }
    (r.notes :+ f"jvm: session $sessionS%.1f s, workload $workloadS%.1f s")
      .foreach(n => println(s"[perfbench] $n"))
    val ms = metrics.toSeq.sortBy(_._1).map { case (k, v) => s"${Json.quote(k)}:${num(v)}" }
    println(s"""PERFBENCH_RESULT {"attempted":${r.attempted},"failed":${r.failed},""" +
      s""""metrics":${ms.mkString("{", ",", "}")}}""")
    spark.stop()
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  private def session(tmp: Path, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // local mode on the loopback, whatever the host name resolves to
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", Files.createDirectories(tmp.resolve("spark-local")).toString)
      .config("spark.sql.warehouse.dir", tmp.resolve("spark-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The process's peak resident set (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray
      .map(_.toString).find(_.startsWith("VmHWM:")).get
    line.split("\\s+")(1).toDouble / 1024.0
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile, `q` in (0, 1]. */
  def percentile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    xs.sorted.apply(math.ceil(q * xs.size).toInt - 1)
  }
}
