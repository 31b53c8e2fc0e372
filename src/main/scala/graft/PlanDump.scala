package graft

import org.apache.spark.sql.DataFrame

/** Diagnostics main: dump `.explain("formatted")` for a curated set of
  * query/stage plans to a directory — the before/after plan evidence the
  * optimization rounds commit under `plans/rNN/`. Usage:
  *
  *   sbt "runMain graft.PlanDump <outDir> <suffix> [key,key,...]"
  *
  * writes `<outDir>/<key>_<suffix>.txt` per key. Reads the corpus from
  * SPARK_GRAFT_SF_DIR (default sf0.01 — plan SHAPE is SF-independent).
  * Stage bodies are dumped as their own keys (the registered consumers
  * read materialized stages, which hides the build plan). */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PlanDump <outDir> <suffix> [keys]")
    val outDir = java.nio.file.Paths.get(args(0))
    val suffix = args(1)
    java.nio.file.Files.createDirectories(outDir)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = Driver.session(Driver.cpus(4))
    // stage BODIES under their own keys: registered queries read
    // materialized stages, so their plans hide the build's shape
    val stageBodies: Seq[(String, () => DataFrame)] = Seq(
      "stage_route_index" -> (() => graft.ops.PipelineOps.routeIndexUnstaged(spark, sfDir)),
      "stage_label_index" -> (() => graft.ops.PipelineOps.labelIndexUnstaged(spark, sfDir)),
      "stage_sticky" -> (() => graft.ops.PipelineOps.stickySplitsUnstaged(spark, sfDir)),
      "stage_x16_assignment" -> (() => graft.ops.VectorOps.x16Assignment(spark, sfDir)),
      "stage_route_decisions" -> (() => graft.ops.PipelineOps.routeDecisions(spark, sfDir)),
      "stage_label_route_decisions" ->
        (() => graft.ops.PipelineOps.labelRouteDecisions(spark, sfDir)))
    val all: Seq[(String, () => DataFrame)] =
      stageBodies ++ SparkEntry.queries.toSeq.sortBy(_._1).map { case (k, fn) =>
        k -> (() => fn(spark, sfDir))
      }
    Driver.select(all, args.lift(2), "PlanDump").foreach { case (key, mk) =>
      try {
        val plan = mk().queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.writeString(outDir.resolve(s"${key}_$suffix.txt"), plan)
        println(s"[plandump] wrote ${key}_$suffix.txt")
      } catch { case e: Throwable =>
        println(s"[plandump] $key FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
