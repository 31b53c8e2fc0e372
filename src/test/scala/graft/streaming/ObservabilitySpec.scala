package graft.streaming

import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.sql.execution.QueryExecution
import graft.SparkTestBase
import graft.sources.Sources

/** The WAL meters (SURVEY.md §3 E3) — the reference's gauges
  * (`WalConsumer.java:78-98`) — and Spark's `observe()` per-action metric
  * rows, which count without a second pass over the data. */
class ObservabilitySpec extends SparkTestBase {
  test("observe() surfaces wal_num_records and value sum in one pass") {
    val s = spark
    val captured = new AtomicReference[Row]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        qe.observedMetrics.get("wal").foreach(captured.set)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    s.listenerManager.register(listener)
    try {
      graft.model.Tables.events(s, sf0001)
        .observe("wal", count(lit(1)).as("wal_num_records"),
          sum(graft.model.Tables.cents(col("value"))).as("value_c"))
        .write.format("noop").mode("overwrite").save()
      val deadline = System.currentTimeMillis() + 10000
      while (captured.get() == null && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      val m = captured.get()
      assert(m != null, "observed metrics not delivered")
      assert(m.getAs[Long]("wal_num_records") == 1000L)
      assert(m.getAs[Long]("value_c") > 0L)
    } finally s.listenerManager.unregister(listener)
  }

  test("replayed batch feeds the already-done meter and observed metrics") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    TestSink.reset()
    val ms = MemoryStream[WalRecord]
    val tmp = tempDir("graft-meter").toString
    // reporter emissions (the JmxReporter-analog path) captured per
    // absorbed batch
    val emitted = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Long]]()
    val p = new WalPipeline(ms.toDS(), new TestSink, s"$tmp/ckpt",
      pollMillis = 10L, retrySleepMs = 1L,
      reporterEmit = g => emitted.add(g))
    p.start()
    try {
      ms.addData(WalRecord(0, 1, "ADD", "name1"), WalRecord(1, 2, "ADD", "name2"))
      p.processAllAvailable()
      assert(p.metrics.numIgnoredAlreadyDone.get() == 0L)
      // the reference's replay scenario (WalConsumerTest.java:66-68): the
      // same records delivered again — the sink flags each as already done
      ms.addData(WalRecord(0, 1, "ADD", "name1"), WalRecord(1, 2, "ADD", "name2"),
        WalRecord(2, 1, "UPDATE", "updated-name"))
      p.processAllAvailable()
      assert(p.metrics.numIgnoredAlreadyDone.get() == 2L,
        s"expected 2 ignored replays, got ${p.metrics.numIgnoredAlreadyDone.get()}")
      assert(p.metrics.numSynchronized.get() > 0L)
      // the scrape point exposes the full reference gauge set
      val g = p.metrics.gauges
      assert(g("wal_num_ignored_already_done") == 2L)
      assert(g.keySet == Set("wal_state", "wal_num_records", "wal_num_synchronized",
        "wal_num_ignored_already_done", "wal_num_io_failures", "wal_not_empty_seconds"))
      // the reporter (JmxReporter analog) pushed the same gauge set once
      // per absorbed batch, after that batch's update: the snapshots are
      // the exact per-batch series — each one's synchronized meter is the
      // running sum of the per-batch record counts, and the last one
      // carries the replay count (async bus: wait for the second batch)
      import scala.jdk.CollectionConverters._
      val repDeadline = System.currentTimeMillis() + 10000
      while (!emitted.asScala.exists(_("wal_num_synchronized") == 5L) &&
        System.currentTimeMillis() < repDeadline) Thread.sleep(50)
      val series = emitted.asScala.toSeq
      assert(series.nonEmpty, "reporter emitted nothing")
      assert(series.forall(_.keySet == g.keySet),
        s"reporter gauge keys drifted: ${series.map(_.keySet)}")
      val running = series.scanLeft(0L)(_ + _("wal_num_records")).tail
      assert(series.map(_("wal_num_synchronized")) == running,
        s"not a per-batch series: $series")
      assert(series.last("wal_num_synchronized") == 5L, series)
      assert(series.last("wal_num_ignored_already_done") == 2L, series)
      // the observed record meters count each of the five delivered records
      // exactly once (counted in the apply pass, not by a re-run plan node)
      assert(series.map(_("wal_num_records")).sum == 5L, series)
      assert(p.metrics.gauges("wal_num_synchronized") == 5L, p.metrics.gauges)
    } finally p.close()
  }

  test("an idle WAL reads EMPTY with no lag age, and NOT_EMPTY again after new data") {
    // The reference sets EMPTY on every empty poll (`WalConsumer.java:150-154`);
    // Spark reports idle triggers only as QueryIdleEvents, at most once per
    // noDataProgressEventInterval. The query reads that interval when it
    // is constructed, so it is lowered around this pipeline's start only.
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import scala.jdk.CollectionConverters._
    TestSink.reset()
    val ms = MemoryStream[WalRecord]
    val tmp = tempDir("graft-idle-state").toString
    val emitted = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Long]]()
    val p = new WalPipeline(ms.toDS(), new TestSink, s"$tmp/ckpt",
      pollMillis = 50L, retrySleepMs = 1L, reporterEmit = g => emitted.add(g))
    val interval = "spark.sql.streaming.noDataProgressEventInterval"
    val prior = s.conf.getAll.get(interval)
    s.conf.set(interval, "200ms")
    try p.start() finally prior.fold(s.conf.unset(interval))(s.conf.set(interval, _))
    // index of the first emission after `from` that satisfies `pred`
    def awaitEmission(from: Int)(pred: Map[String, Long] => Boolean): Int = {
      val deadline = System.currentTimeMillis() + 10000
      var at = -1
      while (at < 0 && System.currentTimeMillis() < deadline) {
        at = emitted.asScala.toSeq.indexWhere(pred, from + 1)
        if (at < 0) Thread.sleep(20)
      }
      assert(at >= 0, s"no such emission after #$from: ${emitted.asScala.toSeq}")
      at
    }
    def state(g: Map[String, Long]) = WalState(g("wal_state").toInt)
    try {
      ms.addData(WalRecord(0, 1, "ADD", "a"), WalRecord(1, 2, "ADD", "b"))
      p.processAllAvailable()
      val drained = awaitEmission(-1)(_("wal_num_synchronized") == 2L)
      assert(state(emitted.asScala.toSeq(drained)) == WalState.NOT_EMPTY)
      val idle = awaitEmission(drained)(g => state(g) == WalState.EMPTY)
      val g = emitted.asScala.toSeq(idle)
      assert(g("wal_num_records") == 0L && g("wal_not_empty_seconds") == 0L, g)
      // idle past a whole second: the lag age must not grow on an empty WAL
      Thread.sleep(1200)
      assert(p.metrics.state.get() == WalState.EMPTY, p.metrics.gauges)
      assert(p.metrics.notEmptySeconds == 0L, p.metrics.gauges)
      ms.addData(WalRecord(2, 1, "UPDATE", "c"))
      p.processAllAvailable()
      val again = awaitEmission(idle)(_("wal_num_synchronized") == 3L)
      assert(state(emitted.asScala.toSeq(again)) == WalState.NOT_EMPTY)
    } finally p.close()
  }

  test("jdbc replay over a fresh checkpoint: the already-done meter counts exactly the replayed records") {
    // A second consumer with a FRESH checkpoint re-reads the whole WAL
    // into a target the first consumer already drained: every old record
    // is a replay (its key's watermark is at or past it), every new one
    // is applied — including new records of keys the replay straddles.
    val s = spark
    import s.implicits._
    val (tmp, url) = JdbcTestKit.freshDerby(tempDir("graft-jdbc-replay"))
    val walDir = s"$tmp/wal"
    JdbcWalSink.ensureTable(url, "replay_target")
    val rnd = new scala.util.Random(11)
    def recs(ids: Range, keys: Range): Seq[WalRecord] = ids.map { i =>
      WalRecord(i, keys(rnd.nextInt(keys.size)),
        if (rnd.nextInt(5) == 0) "DELETE" else "UPDATE", s"v$i") }
    val old = recs(0 until 400, 1 to 40)
    val fresh = recs(400 until 600, 31 to 60) // keys 31..40 straddle, 41..60 are new

    def drain(ckpt: String, n: Long): WalPipeline = {
      val p = new WalPipeline(Sources.walFileStream(s, walDir),
        new JdbcWalSink(url, "replay_target"), ckpt, pollMillis = 10L, retrySleepMs = 1L)
      p.start()
      try {
        p.processAllAvailable()
        val deadline = System.currentTimeMillis() + 10000
        while (p.metrics.numSynchronized.get() < n && System.currentTimeMillis() < deadline)
          Thread.sleep(20)
      } finally p.close()
      p
    }

    old.toDF().write.mode("append").parquet(walDir)
    val p1 = drain(s"$tmp/ckpt1", old.size)
    assert(p1.metrics.numIgnoredAlreadyDone.get() == 0L)
    val before = JdbcTestKit.rows(url, "replay_target")
    assert(before == JdbcTestKit.fold(old))

    fresh.toDF().write.mode("append").parquet(walDir)
    val p2 = drain(s"$tmp/ckpt2", old.size + fresh.size)
    assert(p2.metrics.numSynchronized.get() == old.size + fresh.size)
    assert(p2.metrics.numIgnoredAlreadyDone.get() == old.size.toLong,
      s"every replayed record and nothing else: ${p2.metrics.gauges}")
    val after = JdbcTestKit.rows(url, "replay_target")
    assert(after == JdbcTestKit.fold(old ++ fresh))
    val touched = fresh.map(_.entityId).toSet
    assert(after.filter(kv => !touched(kv._1)) == before.filter(kv => !touched(kv._1)),
      "replayed keys' rows are unchanged")
  }
}
