package graft

import scala.util.control.NonFatal

import graft.util.{BenchDiag, Json}

/** Benchmark main — runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line
  * {"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}.
  *
  * Execution is a write to the `noop` DSv2 sink, not `.count()`: count
  * collapses to Aggregate[count(1)], letting ColumnPruning delete every
  * projected expression and EliminateSorts drop the ordering — a
  * projection-heavy query would "benchmark" an empty-column scan. The
  * noop sink materializes every output column.
  *
  * A short warmup job runs first (untimed) so JVM/classloader/codegen
  * startup cost doesn't land on whichever query runs first; then every
  * artifact of the [[graft.ops.Stages.registry]] is pre-materialized as
  * its own timed `stage:<name>` line, in declaration order (so no
  * consumer line silently absorbs a shared build — the r10 x27 4.3×
  * mystery — and no stage line absorbs another's: the registry declares
  * each artifact after those its build reads); queries then execute in
  * sorted-key order for run-to-run comparability. Every timed line is
  * one [[graft.util.BenchDiag.Runner.attempt]]: a NonFatal failure is reported
  * with the sentinel time -1.0 (never silently folded into the total), a
  * fatal one ends the run. The full JSON line is also written to
  * `bench_results.json` in the CWD, immune to the driver's bounded
  * stdout tail capture. */
object Bench {
  /** The compact line's size bound: headroom inside a ~2000-char stdout
    * tail capture for sbt's "[info] " prefix and trailing
    * "[success] Total time" line. */
  val tailBudget = 1600

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Driver.session(Driver.cpus(4))
    // warmup: scan+agg, window, and broadcast-join plans through the SAME
    // noop-write path the timed queries use, untimed — count() alone left
    // DSv2 noop-sink resolution + write-path codegen to land on the first
    // timed query, and a single agg-only warmup still left window-exec and
    // broadcast-exchange codegen on whichever query first used them.
    Seq(
      () => graft.ops.Changelog.c2Backlog(spark, sfDir),
      () => graft.ops.Windows.q7WindowRank(spark, sfDir),
      () => graft.ops.Relational.q3JoinBcast(spark, sfDir)
    ).foreach { mk =>
      try mk().write.format("noop").mode("overwrite").save()
      catch { case NonFatal(_) => }
    }
    // Per-query stall evidence, ALWAYS captured (r20, VERDICT item 1):
    // the r19 driver bench had three contiguous wall-clock windows where
    // unchanged code inflated 4–18× (host stalls — the same keys read
    // normal isolated minutes later), and the single-run artifact carried
    // nothing to adjudicate it. The runner sums process CPU, wall and GC
    // per line (a few MXBean reads per attempt): a query whose attempts
    // burned ~0 process CPU across a multi-second wall is a host stall,
    // not a plan change. Reported per query in bench_results.json
    // ("queries_diag") and as a bounded "stall_suspect" list on the
    // compact line.
    // SPARK_GRAFT_BENCH_DIAG=<path.jsonl>: opt-in per-attempt diagnostics
    // (see BenchDiag), stage lines included (a regressed stage build, the
    // r16 x68_sticky/x16_centroids watch, needs the same context). Purpose:
    // pin the random-order RocksDB-gate inflation (r14: s12 4.5→25.1 s
    // when late in a shuffled order) to session aging (GC/heap climb) vs
    // state-store accumulation (scratch climb).
    val runner = new BenchDiag.Runner(sys.env.get("SPARK_GRAFT_BENCH_DIAG"))
    // SPARK_GRAFT_BENCH_ONLY=q1,s8,... isolates queries (the honest way
    // to time one line, per the README position-noise note)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
    // Every staged artifact of graft.ops.Stages (frames, driver-held
    // values, media corpora, gate replay feeds) is pre-materialized
    // BEFORE the per-query loop, each as its own TIMED line
    // (`stage:<name>`, folded into the total — they are real work), in
    // registry order. Without this, whichever consumer ran first paid the
    // whole shared build on its own line: the r10 driver bench showed
    // x27_semantic_dedup at 4.30× its r9 time with zero code change
    // because the x16/x27-shared k-means stage landed there — plausible,
    // but unattributable from the artifact. Named stage lines make that
    // cost visible and keep every consumer line a consumer-only number.
    // Build failure → sentinel -1.0, and the consumers then rebuild
    // lazily (their lines absorb it — still attributed, via the -1.0
    // marker). Skipped under BENCH_ONLY: an isolated line should carry
    // everything it triggers (including a shared build) — that's the
    // point of isolating it. partial_total already marks the regime.
    val stageResults =
      if (only.isDefined) Seq.empty[(String, Double)]
      else graft.ops.Stages.registry.map { st =>
        val name = "stage:" + st.name
        name -> runner.attempt(name)(st(spark, sfDir))
      }
    // default order is sorted keys (run-to-run comparability); set
    // SPARK_GRAFT_BENCH_ORDER=random (+ optional SPARK_GRAFT_BENCH_SEED)
    // to shuffle it — separates real per-query cost from position
    // effects (session aging, host contention) in A/B readings
    val ordered = {
      val sorted = Driver.select(SparkEntry.queries.toSeq.sortBy(_._1), only,
        "SPARK_GRAFT_BENCH_ONLY")
      if (sys.env.get("SPARK_GRAFT_BENCH_ORDER").contains("random")) {
        val seed = sys.env.getOrElse("SPARK_GRAFT_BENCH_SEED", "42").toLong
        new scala.util.Random(seed).shuffle(sorted)
      } else sorted
    }
    // SPARK_GRAFT_BENCH_REPEAT=N (default 1) reports each query's MEDIAN
    // over N back-to-back runs. CAVEAT: attempts 2..N reuse the Stages
    // entries (frames, driver-held values, stamped reads) built by
    // attempt 1, so REPEAT>=2 medians are a WARM regime — compare them
    // only to other REPEAT runs, never to single-run totals
    val repeat = math.max(sys.env.getOrElse("SPARK_GRAFT_BENCH_REPEAT", "1").toInt, 1)
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    val timed = stageResults.map { case (n, v) => (n, v, v) } ++
      ordered.map { case (name, fn) =>
        // any failed attempt fails the query (a flaky query must not hide
        // behind the median of its survivors) — and ends the attempts: a
        // slow failure repeated N times buys no information
        val runs = scala.collection.mutable.ArrayBuffer.empty[Double]
        var failed = false
        var n = 0
        while (n < repeat && !failed) {
          val sec = runner.attempt(name)(
            fn(spark, sfDir).write.format("noop").mode("overwrite").save())
          if (sec >= 0) runs += sec else failed = true
          n += 1
        }
        if (failed) (name, -1.0, -1.0)
        else (name, median(runs.toSeq), runs.min)
      }
    val results = timed.map { case (n, med, _) => (n, med) }
    val total = results.map(_._2).filter(_ >= 0).sum
    // a filtered run must not masquerade as a full-surface total, and a
    // warm-median run (REPEAT>=2, see caveat above) must not masquerade
    // as a cold single-run total
    val metric =
      if (only.isDefined) "partial_total"
      else if (repeat > 1) "warm_total"
      else "total"
    // repeat mode also reports each query's MIN attempt ("queries_min"):
    // median is the stable reading, min is the contention floor — their
    // gap is the noise band a reader would otherwise have to guess at
    val repeatField =
      if (repeat > 1) {
        val mins = Json.seconds(timed.map { case (k, _, mn) => (k, mn) })
        s""","repeat":$repeat,"queries_min":$mins"""
      } else ""
    // stall evidence (r20): per-query CPU-cores-busy + GC delta on the
    // full line; keys whose summed attempts burned <1 CPU-core across a
    // ≥2 s wall are named on the compact line (bounded list) so the
    // driver's single-run artifact self-labels host-stall contamination
    val diagField = results.flatMap { case (k, _) => runner.totals(k).map { a =>
      Json.quote(k) + s""":{"cpu":${f"${a.coresBusy}%.2f"},"gc_ms":${a.gcMs}}"""
    } }.mkString(""","queries_diag":{""", ",", "}")
    val stallSuspects = results.collect { case (k, v)
      if v >= 2.0 && runner.totals(k).exists(a => a.wall > 0 && a.coresBusy < 1.0) => k }
    val line = s"""{"metric":${Json.quote(metric)},"value":${f"$total%.3f"},"unit":"sec",""" +
      s""""queries":${Json.seconds(results)},"sf":${Json.quote(sfDir)}$repeatField$diagField}"""
    println(line)
    println(compactLine(results, total, metric, sfDir, repeat, stallSuspects))
    // Builder-side copy of the full bench line (repo root, next to
    // CORPUS_STATS_BENCH.json): the driver's stdout tail capture is
    // bounded and has truncated the head of the queries map before
    // (BENCH_r10 lost c1..q26 and parsed as null) — this file survives
    // regardless, so every per-query number exists in SOME artifact.
    // Best-effort like the corpus stats: a read-only CWD must not fail
    // the bench.
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("bench_results.json"), line + "\n")
    catch { case NonFatal(e) =>
      System.err.println(s"[bench] bench_results.json write failed (non-fatal): ${e.getMessage}")
    }
    // Per-table corpus fingerprint next to every bench reading (file, not
    // stdout: the driver's tail capture is bounded and must keep seeing
    // exactly one metric line). Makes round-over-round bench deltas
    // attributable when the driver regenerates the test data — the r9
    // 3–5× events/documents outliers were undiagnosable without this.
    try CorpusStats.write(spark, sfDir, "CORPUS_STATS_BENCH.json")
    catch { case NonFatal(e) =>
      System.err.println(s"[bench] corpus stats failed (non-fatal): ${e.getMessage}")
    }
    spark.stop()
  }

  /** The size-bounded line printed LAST. A bounded stdout tail capture
    * keeps only the last ~2000 characters; the full line is ~3× that, so
    * its head is cut off and the reading parses as null (every
    * BENCH_r1..r12 artifact). This line keeps the same metric/total/sf
    * with the queries trimmed to the most expensive keys until it fits
    * `tailBudget`, so the tail always holds one complete parseable line. Failed lines
    * (sentinel -1.0) are never elided — a missing failure marker would
    * read as "all green" from the parsed artifact. "elided" counts the
    * dropped (cheap) keys; the untrimmed vector is bench_results.json. */
  def compactLine(results: Seq[(String, Double)], total: Double, metric: String,
      sfDir: String, repeat: Int, stallSuspects: Seq[String]): String = {
    val (failed, ok) = results.partition(_._2 < 0)
    val stallField =
      if (stallSuspects.isEmpty) ""
      else s""","stall_suspect":${stallSuspects.take(8).map(Json.quote).mkString("[", ",", "]")}"""
    def fit(k: Int): String = {
      val top = (failed ++ ok.sortBy { case (_, v) => -v }.take(math.max(k - failed.size, 0)))
        .sortBy(_._1)
      s"""{"metric":${Json.quote(metric)},"value":${f"$total%.3f"},"unit":"sec",""" +
        s""""queries":${Json.seconds(top)},"sf":${Json.quote(sfDir)},"compact":true,""" +
        s""""n_queries":${results.size},"elided":${results.size - top.size},""" +
        s""""full":"bench_results.json"${
          if (repeat > 1) s""","repeat":$repeat""" else ""}$stallField}"""
    }
    var k = results.size
    var line = fit(k)
    while (line.length > tailBudget && k > 1) {
      // shrink proportionally, then by 1 — terminates at k=1
      k = math.min(k - 1, (k * tailBudget) / line.length)
      line = fit(math.max(k, 1))
    }
    line
  }
}
