package graft

import org.apache.spark.sql.SparkSession

/** The harness every entry-point main (Bench, BenchScaling, Verify,
  * PlanDump) and the test base share: one session posture and one key
  * selector. Dependency-free on purpose — building a session or
  * selecting keys never initializes an operator group. */
object Driver {
  /** Local cores: `SPARK_GRAFT_CPUS`, else `default`. */
  def cpus(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt).getOrElse(default)

  /** The session every main runs in: `local[cpus]` with shuffle
    * partitions = cpus, graft's SQL extensions, a UTC session zone,
    * nanosecond parquet timestamps read as longs (`Tables.events`
    * normalizes them), no UI, WARN logging. */
  def session(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The entries of `all` whose keys a comma-separated `csv` names, in
    * `all`'s order; `None` keeps everything. An unknown key fails, named
    * — a typo silently shrinking a run would print a success-shaped
    * result missing the very key under study. `what` names the knob. */
  def select[A](all: Seq[(String, A)], csv: Option[String], what: String): Seq[(String, A)] =
    csv.fold(all) { s =>
      val want = s.split(",").map(_.trim).filter(_.nonEmpty).toSet
      val unknown = want -- all.map(_._1)
      require(unknown.isEmpty, s"unknown $what keys: ${unknown.toSeq.sorted.mkString(",")}")
      all.filter { case (k, _) => want(k) }
    }
}
