package perfbench

import scala.collection.mutable
import scala.util.Try

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.ops._
import graft.streaming.StreamGate

/** The stores' write-beside-read cycle: persist each stamped store through
  * its public persister in production order (each later persist consumes
  * the stores before it), write the store-set manifest, then clear every
  * in-session stage and serve the store-consuming keys with only the
  * manifest configured. */
object StoreBench {
  /** (artifact key, store sub-dir, per-artifact path conf, persister). */
  private val persists: Seq[(String, String, String, (SparkSession, String, String) => Unit)] = Seq(
    ("x24_labels", "labels", "spark.graft.labelsPath", PipelineOps.persistLabels),
    ("x68_sticky", "sticky", "spark.graft.stickyPath", PipelineOps.persistStickySplits),
    ("s18_index", "route_index", "spark.graft.routeIndexPath", PipelineOps.persistRouteIndex),
    ("s21_index", "label_index", "spark.graft.labelIndexPath", PipelineOps.persistLabelIndex),
    ("x62b_merges", "merges", "spark.graft.mergesPath", TextOps.persistMerges),
    ("s20_stats", "s20_stats", "spark.graft.retrievalStatsPath", StreamGate.persistRetrievalStats),
    ("sketch_daily", "sketches", "spark.graft.sketchPath", Analytics.persistSketchDaily),
    ("x57_index", "ivf_index", "spark.graft.ivfIndexPath", VectorOps.persistPqIndex))

  /** The keys served after the flip: one consumer of each store (sticky,
    * IVF index, x24 labels, labels as x75's seed, s20 stats, merges, route
    * index, label index, sketches) plus the freshness audit over the
    * whole store set. */
  val servedKeys: Seq[String] = Seq("x68_split_stable", "x57_ivf_pq", "x24_dedup_clusters",
    "x75_inc_labels", "s20_retrieval_stream", "x67b_bpe_frozen", "s18_split_route",
    "s21_label_route", "q28_hll_rollup", "x74_artifact_freshness")

  /** The ops object (group) that registers each key. */
  val groups: Seq[(String, Iterable[String])] = Seq(
    "changelog" -> Changelog.queries.keys, "relational" -> Relational.queries.keys,
    "skew" -> Skew.queries.keys, "windows" -> Windows.queries.keys,
    "analytics" -> Analytics.queries.keys, "scalars" -> Scalars.queries.keys,
    "textops" -> TextOps.queries.keys, "pipelineops" -> PipelineOps.queries.keys,
    "vectorops" -> VectorOps.queries.keys, "multimodal" -> Multimodal.queries.keys,
    "layout" -> Layout.queries.keys, "audit" -> Audit.queries.keys,
    "streamingbatch" -> StreamingBatch.queries.keys, "streamgate" -> StreamGate.queries.keys)

  def groupOf(key: String): String = groups.collectFirst { case (g, ks) if ks.exists(_ == key) => g }.get

  /** One timed line: wall, construct (the key's function call), the rows
    * a served key wrote (None for a persist; a failure if the line threw),
    * and the traced run's counters. */
  final case class Line(key: String, wall: Double, construct: Double, rows: Try[Option[Long]],
      counters: Option[Counters] = None, compileS: Double = 0.0) {
    def ok: Boolean = rows.toOption.exists(!_.contains(0L))
  }

  /** Time one line. A served key's frame (`construct` returns None for a
    * persist) is written to the `noop` sink, every output column
    * materialized, with its row count observed on the way. */
  private def timed(ctx: Ctx, key: String)(construct: => Option[DataFrame]): Line = {
    def run(): (Double, Double, Try[Option[Long]]) = {
      val t0 = System.nanoTime()
      val frame = Try(construct)
      val t1 = System.nanoTime()
      val rows = frame.map(_.map { df =>
        val obs = new Observation()
        df.observe(obs, count(lit(1)).as("n")).write.format("noop").mode("overwrite").save()
        obs.get("n").asInstanceOf[Long]
      })
      rows.failed.foreach(e => System.err.println(s"[perfbench] $key failed: $e"))
      ((System.nanoTime() - t0) / 1e9, (t1 - t0) / 1e9, rows)
    }
    ctx.tracer match {
      case Some(t) if t.isRecording =>
        val ((wall, cons, rows), c, compile) = t.scoped(key, "line")(run())
        Line(key, wall, cons, rows, Some(c), compile)
      case _ =>
        val (wall, cons, rows) = run()
        Line(key, wall, cons, rows)
    }
  }

  private def servePass(ctx: Ctx, dir: String, keys: Seq[String]): Seq[Line] = {
    Stages.clear()
    keys.map(k => timed(ctx, k)(Some(SparkEntry.queries(k)(ctx.spark, dir))))
  }

  /** Row count and an order-free content hash of one key's output, over
    * the columns served and derived outputs must agree on. */
  private def fingerprint(key: String, df: DataFrame): (Long, Long) = {
    val cols = comparedCols.getOrElse(key, df.columns.toSeq)
    val r = df.agg(count(lit(1)), coalesce(sum(hash(cols.map(col): _*).cast("long")), lit(0L)))
      .first()
    (r.getLong(0), r.getLong(1))
  }

  /** x75's `seed_id` and `changed` report the split between stored history
    * and arrivals, which follows the freeze boundary (the store's max_id
    * when served, 9/10 of the corpus when derived); the labeling itself
    * must agree. */
  private val comparedCols: Map[String, Seq[String]] = Map("x75_inc_labels" -> Seq("doc_id", "cluster_id"))

  def cycle(ctx: Ctx): Result = {
    val spark = ctx.spark
    val (docs, embs, nEvents) = if (ctx.smoke) (200, 200, 2000) else (500, 500, 10000)
    // set-up, three times: generate the tables, then warm the noop-write
    // path on plans that build no stage
    val setups = (0 until 3).map { i =>
      val t0 = System.nanoTime()
      val d = ctx.dir(s"data$i").toString
      Gen.writeStoreTables(spark, ctx.seed, d, docs, embs, nEvents)
      Seq(Changelog.c2Backlog(spark, d), Changelog.c1Snapshot(spark, d))
        .foreach(_.write.format("noop").mode("overwrite").save())
      (System.nanoTime() - t0) / 1e9
    }
    val setupS = ctx.sessionS + Stats.median(setups)
    val dir = ctx.tmp.resolve("data2").toString
    // the empty-job floor the stall verdict charges per job
    val floorS = Stats.median((0 until 15).map { _ =>
      val t0 = System.nanoTime()
      spark.sparkContext.parallelize(Seq(1), 1).count()
      (System.nanoTime() - t0) / 1e9
    })
    Stages.clear()
    spark.catalog.clearCache()

    val store = ctx.dir("stores")
    ctx.tracer.foreach(_.record(true))
    val persistLines = persists.map { case (artifact, sub, conf, persist) =>
      val path = store.resolve(sub).toString
      val l = timed(ctx, s"persist:$artifact") { persist(spark, dir, path); None }
      spark.conf.set(conf, path)
      l
    }
    val manifest = store.resolve("manifest").toString
    val manifestLine = timed(ctx, "persist:store_manifest") {
      val thr = Artifacts.readStampFacts(spark, store.resolve("sticky").toString, "x68_sticky")
        ._2("thr").toLong
      Artifacts.writeManifest(spark, manifest,
        persists.map { case (a, sub, _, _) => a -> store.resolve(sub).toString }.toMap, thr)
      None
    }
    persists.foreach { case (_, _, conf, _) => spark.conf.unset(conf) }
    spark.conf.set("spark.graft.storeManifest", manifest)
    // the served pass runs cold, as on an untraced run, and is the one
    // the per-layer numbers come from. A traced run then serves twice
    // more, traced and untraced in an order the seed alternates; the gap
    // between those two is the tracing overhead
    val tracer = ctx.tracer
    def pass(traced: Boolean): Seq[Line] = {
      tracer.foreach(_.record(traced))
      servePass(ctx, dir, servedKeys)
    }
    val served = pass(traced = ctx.traced)
    val (again, untraced) =
      if (!ctx.traced) (Nil, Nil)
      else if (ctx.seed % 2 == 0) { val t = pass(traced = true); (t, pass(traced = false)) }
      else { val u = pass(traced = false); (pass(traced = true), u) }
    tracer.foreach(_.record(false))
    val persistAll = persistLines :+ manifestLine

    // check: every line ran and every served key wrote rows. Smoke runs
    // also compare each served key with the same key derived in-session
    // with no store configured (outside the timed window).
    val c0 = System.nanoTime()
    val readValidateS = if (!ctx.traced) 0.0 else {
      Stages.clear()
      val t0 = System.nanoTime()
      persists.foreach { case (a, sub, _, _) => Artifacts.readStamped(spark, store.resolve(sub).toString, a) }
      (System.nanoTime() - t0) / 1e9
    }
    val mismatched: Set[String] = if (!ctx.smoke) Set.empty else {
      val servedFp = servedKeys.map(k => k -> Try(fingerprint(k, SparkEntry.queries(k)(spark, dir)))).toMap
      spark.conf.unset("spark.graft.storeManifest")
      Stages.clear()
      servedKeys.filterNot(auditKeys).filter { k =>
        val derived = Try(fingerprint(k, SparkEntry.queries(k)(spark, dir)))
        val same = servedFp(k).isSuccess && servedFp(k).toOption == derived.toOption
        if (!same) System.err.println(s"[perfbench] $k: served ${servedFp(k)} vs derived $derived")
        !same
      }.toSet
    }
    val checkS = (System.nanoTime() - c0) / 1e9
    val all = persistAll ++ served
    val failedLines = all.filter(l => !l.ok || mismatched(l.key)).map(_.key)
    // a line's typical wall is their geometric mean: every line weighs the
    // same whatever its size, and a stall on one line moves it far less
    // than it moves the median of 19 lines of very different sizes
    val walls = all.map(_.wall * 1e3)
    val notes = Seq(f"store_cycle: ${all.size} lines (${persistAll.size} persist, ${served.size} serve), " +
      f"persist ${persistAll.map(_.wall).sum}%.2f s, " +
      f"serve ${served.map(_.wall).sum}%.2f s, check ${checkS}%.2f s, " +
      f"set-ups ${setups.map(s => f"$s%.2f").mkString(" ")} s",
      all.map(l => f"${l.key}=${l.wall}%.2f").mkString("lines: ", " ", "")) ++
      (if (failedLines.isEmpty) Nil else Seq(s"failed lines: ${failedLines.mkString(",")}"))
    if (ctx.traced) {
      val overhead = (again.map(_.wall).sum / untraced.map(_.wall).sum - 1) * 100
      val (layers, stalls) = layerMetrics(ctx, persistAll, served, floorS)
      Result(all.size, failedLines.size, layers ++ Map(
        "artifacts.read_validate_s" -> readValidateS,
        "trace.overhead_pct" -> overhead),
        notes :+ s"stall lines: ${if (stalls.isEmpty) "none" else stalls.mkString(",")}" :+
          f"empty-job floor ${floorS * 1e3}%.1f ms" :+ f"serve passes: cold ${served.map(_.wall).sum}%.2f s, " +
          f"warm traced ${again.map(_.wall).sum}%.2f s, warm untraced ${untraced.map(_.wall).sum}%.2f s")
    } else Result(all.size, failedLines.size, Map(
      "setup_s" -> setupS,
      "throughput_per_s" -> all.size / all.map(_.wall).sum,
      "latency_ms" -> math.exp(walls.map(math.log).sum / walls.size)), notes)
  }

  /** The freshness audit reports on the store set itself, so its served
    * and derived outputs legitimately differ; it is only required to
    * write rows. */
  private val auditKeys = Set("x74_artifact_freshness")

  private def layerMetrics(ctx: Ctx, persistAll: Seq[Line], served: Seq[Line],
      floorS: Double): (Map[String, Double], Seq[String]) = {
    val out = mutable.Map.empty[String, Double]
    def c(l: Line): Counters = l.counters.get
    served.groupBy(l => groupOf(l.key)).foreach { case (g, ls) =>
      out(s"ops.$g.wall_s") = ls.map(_.wall).sum
      out(s"ops.$g.construct_s") = ls.map(_.construct).sum
      out(s"ops.$g.jobs") = ls.map(c(_).jobs.get.toDouble).sum
      out(s"ops.$g.task_cpu_s") = ls.map(c(_).taskCpuNs.get / 1e9).sum
      out(s"ops.$g.compile_s") = ls.map(_.compileS).sum
    }
    persistAll.foreach(l => out(s"artifacts.${l.key.stripPrefix("persist:")}.persist_s") = l.wall)
    val all = persistAll ++ served
    // wall the line's own work does not account for: codegen compile,
    // planning, task run time spread over the cores, and the empty-job
    // floor per job. Driver-side loops (the gates' stream threads) leave
    // some on every run; a stall line also burned under one core of
    // process CPU across its wall, which only a host stall explains.
    def unexplained(l: Line): Double = math.max(0.0, l.wall - (l.compileS +
      c(l).planningMs.get / 1e3 + c(l).taskRunMs.get / 1e3 / ctx.cores + c(l).jobs.get * floorS))
    val stalls = all.filter(l => unexplained(l) > math.max(1.0, 0.5 * l.wall) &&
      c(l).processCpuNs.get / 1e9 < l.wall).map(_.key)
    out ++= Map(
      "lines.planning_s" -> all.map(c(_).planningMs.get / 1e3).sum,
      "lines.tasks" -> all.map(c(_).tasks.get.toDouble).sum,
      "lines.task_run_s" -> all.map(c(_).taskRunMs.get / 1e3).sum,
      "lines.shuffle_mb" -> all.map(c(_).shuffleBytes.get / 1048576.0).sum,
      "lines.gc_s" -> all.map(c(_).gcMs.get / 1e3).sum,
      "lines.unexplained_s" -> all.map(unexplained).sum,
      "lines.stall_lines" -> stalls.size.toDouble,
      "gates.batches" -> all.map(c(_).gateBatches.get.toDouble).sum,
      "gates.state_commit_ms" -> all.map(c(_).stateCommitMs.get.toDouble).sum)
    (out.toMap, stalls)
  }
}
