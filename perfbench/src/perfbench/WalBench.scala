package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.nio.file.attribute.FileTime

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.sources.Sources
import graft.streaming.{JdbcWalSink, WalPipeline, WalRecord, WalSink}

/** The paper's own path: WAL files → `Sources.walFileStream` →
  * `WalPipeline` (`Streams.foreachBatchSync`) → `JdbcWalSink` into an
  * embedded Derby table, all at the program's defaults (pollMillis 1000,
  * retrySleepMs 1000, maxFilesPerTrigger 16, Derby's default durability). */
object WalBench {
  val FileRecords = 1000
  val RoundFiles = 16
  val TailFileRecords = 100
  val TailPeriodMs = 100L
  /** A tail whose pipeline is more than this many files behind when the
    * last file is published has a growing backlog, and the run fails. */
  val MaxBacklogFiles = 30

  /** Derby lives under the run's temporary directory; one database per run. */
  private def derbyUrl(ctx: Ctx): String = {
    System.setProperty("derby.system.home", ctx.dir("derby").toString)
    s"jdbc:derby:${ctx.tmp.resolve("derby").resolve("db")};create=true"
  }

  /** Commit time of every batch: the mtime of its checkpoint
    * `commits/<batch>` marker. */
  private def commitTimes(ckpt: Path): Map[Long, Long] =
    Files.list(ckpt.resolve("commits")).iterator().asScala
      .filter(_.getFileName.toString.forall(_.isDigit))
      .map(p => p.getFileName.toString.toLong -> Files.getLastModifiedTime(p).toMillis).toMap

  private val sourceEntry = """"path":"[^"]*/([^"/]+)".*"batchId":(\d+)""".r

  /** WAL file name → the batch that read it, from the file source's log
    * in the checkpoint (`sources/0/<batch>` and its `.compact` files). */
  private def batchOfFile(ckpt: Path): Map[String, Long] =
    Files.list(ckpt.resolve("sources").resolve("0")).iterator().asScala
      .filterNot(_.getFileName.toString.startsWith("."))
      .flatMap(p => Files.readAllLines(p).asScala)
      .flatMap(l => sourceEntry.findFirstMatchIn(l))
      .map(m => m.group(1) -> m.group(2).toLong).toMap

  private def fileName(i: Int): String = f"wal-$i%07d.parquet"

  /** Render files `from until to` of a record stream into `dir`, in id
    * order, one file at a time, with ascending mtimes. */
  private def render(dir: Path, from: Int, to: Int, perFile: Int)(rec: Long => WalRecord): Unit =
    for (f <- from until to) {
      val p = dir.resolve(fileName(f))
      Gen.writeWalFile(p, (0 until perFile).map(i => rec(f.toLong * perFile + i)))
      Files.setLastModifiedTime(p, FileTime.fromMillis(1700000000000L + f * 10L))
    }

  /** The final target rows: entity → (last_id, deleted, payload). */
  private def targetRows(url: String, table: String): Map[Long, (Long, Int, String)] = {
    val c = java.sql.DriverManager.getConnection(url)
    try {
      val rs = c.createStatement().executeQuery(
        s"SELECT entity_id, last_id, deleted, payload FROM $table")
      val out = mutable.Map.empty[Long, (Long, Int, String)]
      while (rs.next()) out(rs.getLong(1)) = (rs.getLong(2), rs.getInt(3), rs.getString(4))
      out.toMap
    } finally c.close()
  }

  /** Records whose entity's final row differs from the last-op-per-key
    * fold of `recs` (`Streams.applyRecords`: max id wins, DELETE leaves a
    * tombstone), plus a count for every unexpected row. */
  private def failedRecords(url: String, table: String, recs: Iterator[WalRecord]): Long = {
    val last = mutable.Map.empty[Long, WalRecord]
    val count = mutable.Map.empty[Long, Long].withDefaultValue(0L)
    recs.foreach { r =>
      count(r.entityId) += 1
      if (last.get(r.entityId).forall(_.id < r.id)) last(r.entityId) = r
    }
    val rows = targetRows(url, table)
    val wrong = last.iterator.collect { case (e, r) if {
      val del = if (r.operation == "DELETE") 1 else 0
      !rows.get(e).contains((r.id, del, if (del == 1) null else r.payload))
    } => count(e) }.sum
    wrong + (rows.keySet -- last.keySet).size
  }

  /** Start a pipeline on `walDir`, drain what is there, close it. Returns
    * the start()→processAllAvailable() wall, the start epoch ms, and the
    * pipeline's own meters once they have absorbed every batch. */
  private def drainOnce(ctx: Ctx, walDir: Path, ckpt: Path, sink: WalSink,
      records: Long): (Double, Long, Map[String, Long], Double, Double) = {
    val p = new WalPipeline(Sources.walFileStream(ctx.spark, walDir.toString), sink, ckpt.toString)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    p.start()
    val t1 = System.nanoTime()
    p.processAllAvailable()
    val wall = (System.nanoTime() - t0) / 1e9
    val gauges = settle(ctx, p, records)
    val t2 = System.nanoTime()
    p.close()
    (wall, startMs, gauges, (t1 - t0) / 1e6, (System.nanoTime() - t2) / 1e6)
  }

  /** WalMetrics is fed by the async listener bus: wait (bounded) until it
    * has absorbed `records` rows. */
  private def settle(ctx: Ctx, p: WalPipeline, records: Long): Map[String, Long] = {
    val deadline = System.nanoTime() + 10000000000L
    while (p.metrics.numSynchronized.get() < records && System.nanoTime() < deadline) {
      org.apache.spark.perfbench.ListenerBus.drain(ctx.spark.sparkContext)
      Thread.sleep(5)
    }
    p.metrics.gauges
  }

  private def metersOk(g: Map[String, Long], records: Long): Boolean =
    g("wal_num_synchronized") == records && g("wal_num_ignored_already_done") == 0 &&
      g("wal_num_io_failures") == 0

  /** The drain's input: 1,500 entities with ~67 ops each (the sf0.1
    * `events` shape), replayed with continuing ids. */
  private final class DrainInput(ctx: Ctx) {
    private val (nEvents, users) = if (ctx.smoke) (8000, 120) else (100000, 1500)
    val roundFiles: Int = if (ctx.smoke) 4 else RoundFiles
    val roundRecs: Long = roundFiles.toLong * FileRecords
    private val events = Gen.events(ctx.seed, nEvents, users)
    private val entity = Gen.bijection(ctx.seed, users)
    def rec(j: Long): WalRecord = {
      val e = events((j % nEvents).toInt)
      Gen.walRecord(e, j, entity(e.userId.toInt))
    }
  }

  /** The tail's input: `--seconds` seconds of 100-record files, every
    * record its own entity, a seeded bijection of `event_id`. A traced run
    * has twice as many files, so its p95 over 200 files (at 10 s) has ten
    * beyond it. */
  private final class TailInput(ctx: Ctx) {
    val nFiles: Int = (if (ctx.smoke) 30 else ctx.seconds * 10) * (if (ctx.traced) 2 else 1)
    val records: Long = nFiles.toLong * TailFileRecords
    private val events = Gen.events(ctx.seed + 1, records.toInt, 1500)
    private val entity = Gen.bijection(ctx.seed + 1, records.toInt)
    def rec(j: Long): WalRecord = Gen.walRecord(events(j.toInt), j, entity(j.toInt))
  }

  /** One phase's outcome: records, failed records, its end-to-end value,
    * and on a traced run its per-layer metrics and tracing overhead. */
  private final case class Phase(records: Long, failed: Long, value: Double,
      layers: Map[String, Double], overheadPct: Double, note: String)

  /** The paper's path in one process, in two phases on one Derby
    * database. First a closed backlog drain of hot keys, whose records/s
    * is `throughput_per_s`; then an open-loop tail of new keys, whose
    * per-file median latency is `latency_ms`. */
  def wal(ctx: Ctx): Result = {
    val url = derbyUrl(ctx)
    val drainIn = new DrainInput(ctx)
    val tailIn = new TailInput(ctx)
    // set-up, three times: a fresh table and one drain round's worth of
    // WAL, rendered and drained untimed, which carries the JIT over most
    // of the climb the drain shows over its first ~100,000 records; then
    // the tail's files, rendered into a staging directory
    var staging: Path = null
    val setups = (0 until 3).map { i =>
      val t0 = System.nanoTime()
      val table = s"WARM$i"
      JdbcWalSink.ensureTable(url, table)
      val dir = ctx.dir(s"warm$i/wal")
      render(dir, 0, drainIn.roundFiles, FileRecords)(drainIn.rec)
      drainOnce(ctx, dir, ctx.tmp.resolve(s"warm$i/ckpt"), new JdbcWalSink(url, table), drainIn.roundRecs)
      staging = ctx.dir(s"staging$i")
      render(staging, 0, tailIn.nFiles, TailFileRecords)(tailIn.rec)
      (System.nanoTime() - t0) / 1e9
    }
    val d = drain(ctx, drainIn, url)
    val t = tail(ctx, tailIn, url, staging)
    val notes = Seq(f"wal: set-ups ${setups.map(s => f"$s%.2f").mkString(" ")} s", d.note, t.note)
    val (records, failed) = (d.records + t.records, d.failed + t.failed)
    if (ctx.traced) Result(records, failed, d.layers ++ t.layers +
      ("trace.overhead_pct" -> Seq(d.overheadPct, t.overheadPct).maxBy(math.abs)), notes)
    else Result(records, failed, Map(
      "setup_s" -> (ctx.sessionS + Stats.median(setups)),
      "throughput_per_s" -> d.value,
      "latency_ms" -> t.value), notes)
  }

  /** Rounds of 16 files of 1,000 records (one full trigger), each
    * drained by a fresh pipeline into one target, for `--seconds` (at
    * least four rounds). The value is the median round's records/s from
    * `WalPipeline.start()` to the return of `processAllAvailable()`, over
    * every round but the first, which fills the empty target with inserts
    * where the others update. On a traced run every other round is
    * traced, and the gap between the two halves' rates is the tracing
    * overhead. */
  private def drain(ctx: Ctx, in: DrainInput, url: String): Phase = {
    JdbcWalSink.ensureTable(url, "TARGET")
    val sink = new JdbcWalSink(url, "TARGET")
    val deadline = System.nanoTime() + ctx.seconds * 1000000000L
    val rates = mutable.ArrayBuffer.empty[(Double, Boolean)] // (records/s, traced round)
    val layer = new WalLayers
    var failedRounds = 0L
    var round = 0
    while (round < 4 || System.nanoTime() < deadline) {
      val dir = ctx.dir(s"round$round/wal")
      val ckpt = ctx.tmp.resolve(s"round$round/ckpt")
      render(dir, round * in.roundFiles, (round + 1) * in.roundFiles, FileRecords)(in.rec)
      val traced = ctx.traced && round % 2 == 1
      SinkStats.on = traced
      ctx.tracer.foreach(_.record(traced))
      def once() = drainOnce(ctx, dir, ckpt, if (ctx.traced) new TimedSink(sink) else sink, in.roundRecs)
      val (wall, startMs, gauges, startWall, closeWall) =
        if (traced) ctx.tracer.get.scoped(s"round $round", "round")(once())._1 else once()
      SinkStats.on = false
      if (!metersOk(gauges, in.roundRecs)) failedRounds += 1
      rates += ((in.roundRecs / wall, traced))
      if (traced) layer.round(ctx, _ => startMs, startWall, closeWall, gauges)
      round += 1
    }
    val rounds = round
    ctx.tracer.foreach(_.record(false))
    val total = rounds * in.roundRecs
    val wrong = failedRecords(url, "TARGET", (0L until total).iterator.map(in.rec))
    val note = f"drain: $rounds rounds of ${in.roundRecs} records, " +
      s"rates ${rates.map(r => f"${r._1}%.0f").mkString(" ")}/s"
    val updating = rates.drop(1)
    val (tr, un) = updating.partition(_._2)
    val overhead = if (!ctx.traced) 0.0
      else (Stats.median(un.map(_._1).toSeq) / Stats.median(tr.map(_._1).toSeq) - 1) * 100
    Phase(total, math.min(total, wrong + failedRounds * in.roundRecs),
      Stats.median(updating.map(_._1).toSeq),
      if (ctx.traced) layer.applyMetrics(url, "TARGET") else Map.empty, overhead, note)
  }

  private def sleepUntil(epochMs: Long): Unit = {
    var left = epochMs - System.currentTimeMillis()
    while (left > 0) { Thread.sleep(left); left = epochMs - System.currentTimeMillis() }
  }

  /** Open loop at 1,000 records/s: one 100-record file every 100 ms,
    * published by atomic rename into the directory a running pipeline
    * reads, by one thread on a schedule that does not slow when the
    * pipeline slows. A file's latency runs from when it was due to the
    * commit of the batch that read it; the value is the median over
    * files. On a traced run the second half of the files is traced, and
    * the gap between the halves' median latencies is the tracing
    * overhead. */
  private def tail(ctx: Ctx, in: TailInput, url: String, staging: Path): Phase = {
    val nFiles = in.nFiles
    JdbcWalSink.ensureTable(url, "TAIL")
    val wal = ctx.dir("tail/wal")
    val ckpt = ctx.tmp.resolve("tail/ckpt")
    val p = new WalPipeline(Sources.walFileStream(ctx.spark, wal.toString),
      new JdbcWalSink(url, "TAIL"), ckpt.toString)
    val t0 = System.nanoTime()
    p.start()
    val startWall = (System.nanoTime() - t0) / 1e6
    // Trigger.ProcessingTime fires on whole multiples of its interval, so
    // due times 50 ms past each 100 ms step give every run the same phase
    val first = (System.currentTimeMillis() / 1000 + 1) * 1000 + 50
    def due(f: Int): Long = first + f * TailPeriodMs
    val published = new Array[Long](nFiles)
    val gen = new Thread(() => for (f <- 0 until nFiles) {
      sleepUntil(due(f))
      Files.move(staging.resolve(fileName(f)), wal.resolve(fileName(f)), StandardCopyOption.ATOMIC_MOVE)
      published(f) = System.currentTimeMillis()
    }, "perfbench-tail-generator")
    gen.start()
    def finish(): Unit = { gen.join(); p.processAllAvailable() }
    ctx.tracer match {
      case Some(t) =>
        sleepUntil(due(nFiles / 2))
        t.record(true)
        t.scoped("tail", "tail")(finish())
      case None => finish()
    }
    val gauges = settle(ctx, p, in.records)
    val t2 = System.nanoTime()
    p.close()
    val closeWall = (System.nanoTime() - t2) / 1e6

    val commits = commitTimes(ckpt)
    val batchOf = batchOfFile(ckpt)
    val committed = (0 until nFiles).map(f => commits(batchOf(fileName(f))))
    val latency = (0 until nFiles).map(f => (committed(f) - due(f)).toDouble)
    val late = (0 until nFiles).map(f => (published(f) - due(f)).toDouble)
    val backlog = committed.count(_ > published.max)
    require(backlog <= MaxBacklogFiles,
      s"wal tail: $backlog files still uncommitted when the last was published; the backlog grows")
    val wrong = failedRecords(url, "TAIL", (0L until in.records).iterator.map(in.rec))
    val note = f"tail: $nFiles files of $TailFileRecords records, ${commits.size} batches, " +
      f"latency p50 ${Stats.median(latency)}%.0f p95 ${Stats.percentile(latency, 0.95)}%.0f ms, " +
      f"generator late p95 ${Stats.percentile(late, 0.95)}%.1f ms, backlog at end $backlog files"
    val (layers, overhead) = ctx.tracer match {
      case None => (Map.empty[String, Double], 0.0)
      case Some(_) =>
        val half = nFiles / 2
        val dueOf = (0 until nFiles).groupBy(f => batchOf(fileName(f))).map { case (b, fs) => b -> due(fs.min) }
        val layer = new WalLayers
        layer.round(ctx, dueOf, startWall, closeWall, gauges)
        (layer.pipelineMetrics ++ Map(
          "pipeline.file_latency_p95_ms" -> Stats.percentile(latency, 0.95),
          "gen.late_p95_ms" -> Stats.percentile(late, 0.95),
          "gen.backlog_end_files" -> backlog.toDouble),
          (Stats.median(latency.drop(half)) / Stats.median(latency.take(half)) - 1) * 100)
    }
    Phase(in.records, if (metersOk(gauges, in.records)) math.min(in.records, wrong) else in.records,
      Stats.median(latency), layers, overhead, note)
  }
}

/** Per-layer accumulation over a phase's traced batches: the source and
  * pipeline phases from `StreamingQueryProgress.durationMs`, the sink from
  * [[SinkStats]], the target from Derby itself. */
final class WalLayers {
  private val dur = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val rows = mutable.ArrayBuffer.empty[Double]
  private val waits = mutable.ArrayBuffer.empty[Double]
  private var batches = 0
  private var retries = 0L
  private var startMs, closeMs = 0.0

  /** Absorb one traced pipeline's progress reports and meters. A batch's
    * trigger wait runs from `dueOf(batchId)`, when its first file was due,
    * to the batch's start. */
  def round(ctx: Ctx, dueOf: Long => Long, startWall: Double, closeWall: Double,
      gauges: Map[String, Long]): Unit = {
    retries += gauges("wal_num_io_failures")
    val t = ctx.tracer.get
    t.record(false)
    val ps = t.progress.synchronized(t.progress.toVector).filter(_.numInputRows > 0)
    ps.foreach { p =>
      batches += 1
      rows += p.numInputRows.toDouble
      waits += (java.time.Instant.parse(p.timestamp).toEpochMilli - dueOf(p.batchId)).toDouble
      p.durationMs.asScala.foreach { case (k, v) => dur(k) += v.toDouble }
    }
    startMs += startWall
    closeMs += closeWall
    t.progress.synchronized(t.progress.clear())
  }

  /** The source and the pipeline's fixed phases (reported from the tail,
    * where they dominate). */
  def pipelineMetrics: Map[String, Double] = Map(
    "sources.latestOffset_ms" -> dur("latestOffset"),
    "sources.getBatch_ms" -> dur("getBatch"),
    "pipeline.queryPlanning_ms" -> dur("queryPlanning"),
    "pipeline.commitOffsets_ms" -> dur("commitOffsets"),
    "pipeline.walCommit_ms" -> dur("walCommit"),
    "pipeline.start_ms" -> startMs,
    "pipeline.close_ms" -> closeMs,
    "pipeline.batches" -> batches.toDouble,
    "pipeline.rows_per_batch_p50" -> (if (rows.isEmpty) 0.0 else Stats.median(rows.toSeq)),
    "pipeline.trigger_wait_ms" -> (if (waits.isEmpty) 0.0 else Stats.median(waits.toSeq)))

  /** The apply path: foreachBatchSync, the sink and the target (reported
    * from the drain, where they dominate). */
  def applyMetrics(url: String, table: String): Map[String, Double] = {
    val (calls, entities) = SinkStats.snapshot()
    java.util.Arrays.sort(calls)
    def pct(q: Double): Double = if (calls.isEmpty) 0.0 else calls(((calls.length - 1) * q).toInt) / 1e3
    val busyS = calls.map(_.toDouble).sum / 1e9
    val c = java.sql.DriverManager.getConnection(url)
    val (nRows, tombs) = try {
      val rs = c.createStatement().executeQuery(s"SELECT COUNT(*), SUM(deleted) FROM $table")
      rs.next(); (rs.getLong(1).toDouble, rs.getLong(2).toDouble)
    } finally c.close()
    Map(
      "foreachBatchSync.addBatch_ms" -> dur("addBatch"),
      "foreachBatchSync.retries" -> retries.toDouble,
      "sink.calls" -> calls.length.toDouble,
      "sink.busy_s" -> busyS,
      "sink.call_p50_us" -> pct(0.5),
      "sink.call_p99_us" -> pct(0.99),
      "sink.ignored" -> SinkStats.ignored.get().toDouble,
      "sink.useful_ratio" -> (if (calls.isEmpty) 0.0 else entities.toDouble / calls.length),
      "sink.parallelism" -> (if (dur("addBatch") > 0) busyS / (dur("addBatch") / 1e3) else 0.0),
      "target.rows" -> nRows,
      "target.tombstones" -> tombs)
  }
}
