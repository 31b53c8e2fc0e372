package graft.streaming

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.SparkTestBase
import graft.sources.Sources

/** The reference's poll loop (`WalConsumer.java:44`, `:150-154`): a poll
  * that found records is followed at once by the next one, and only an
  * empty poll sleeps `pollMillis`. */
class WalPollingSpec extends SparkTestBase {
  private val PollingDelay = "spark.sql.streaming.pollingDelay"

  private def pollingDelaySetting: Option[String] = spark.conf.getAll.get(PollingDelay)

  /** An empty in-memory WAL that counts how often the query polls it
    * (the id only has to be unique: streams compare by it). */
  private def countingWal(polls: AtomicInteger): MemoryStream[WalRecord] = {
    import spark.implicits._
    new MemoryStream[WalRecord](polls.hashCode, spark, None) {
      override def latestOffset(): Offset = {
        polls.incrementAndGet()
        super.latestOffset()
      }
      override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
        polls.incrementAndGet()
        super.latestOffset(start, limit)
      }
    }
  }

  test("back-to-back batches: a backlog of one-file triggers drains in under one pollMillis") {
    val s = spark
    import s.implicits._
    val tmp = tempDir("graft-poll").toString
    val walDir = s"$tmp/wal"
    for (f <- 0 until 4)
      Seq(WalRecord(f, f + 1, "ADD", s"v$f")).toDF().write.mode("append").parquet(walDir)
    TestSink.reset()
    val pollMillis = 5000L
    val p = new WalPipeline(Sources.walFileStream(s, walDir, maxFilesPerTrigger = 1),
      new TestSink, s"$tmp/ckpt", pollMillis = pollMillis, retrySleepMs = 1L)
    val t0 = System.nanoTime()
    val q = p.start()
    try {
      p.processAllAvailable()
      val drainMs = (System.nanoTime() - t0) / 1000000
      assert(q.recentProgress.count(_.numInputRows > 0) == 4, "one file per trigger")
      assert(TestSink.target.size == 4)
      assert(drainMs < pollMillis,
        s"four batches and the empty poll took $drainMs ms: a batch waited for a trigger boundary")
      // the query now sleeps pollMillis after that empty poll; stop interrupts it
      val t1 = System.nanoTime()
      p.close()
      val closeMs = (System.nanoTime() - t1) / 1000000
      assert(closeMs < pollMillis / 2, s"close() of an idle pipeline took $closeMs ms")
    } finally p.close()
  }

  test("an idle WAL is polled about once per pollMillis, whatever the session's own delay") {
    val polls = new AtomicInteger(0)
    val tmp = tempDir("graft-idle").toString
    val pollMillis = 500L
    val windowMs = 3000L
    val prior = pollingDelaySetting
    spark.conf.set(PollingDelay, "10ms")
    val p = new WalPipeline(countingWal(polls).toDS(), new TestSink, s"$tmp/ckpt",
      pollMillis = pollMillis, retrySleepMs = 1L)
    try {
      p.start()
      assert(pollingDelaySetting == Some("10ms"), "start() must restore the session's setting")
      p.processAllAvailable() // returns after the first empty poll
      val before = polls.get()
      Thread.sleep(windowMs)
      val n = polls.get() - before
      assert(n >= 2 && n <= windowMs / pollMillis + 2,
        s"$n polls in $windowMs ms of an idle WAL at pollMillis $pollMillis")
    } finally {
      p.close()
      prior.fold(spark.conf.unset(PollingDelay))(spark.conf.set(PollingDelay, _))
    }
  }

  test("start() leaves spark.sql.streaming.pollingDelay as it found it, unset or set") {
    val tmp = tempDir("graft-delay").toString
    val prior = pollingDelaySetting
    def startAndClose(ckpt: String): Unit = {
      val p = new WalPipeline(countingWal(new AtomicInteger).toDS(), new TestSink,
        s"$tmp/$ckpt", pollMillis = 20L, retrySleepMs = 1L)
      try p.start() finally p.close()
    }
    try {
      spark.conf.unset(PollingDelay)
      startAndClose("unset")
      assert(pollingDelaySetting.isEmpty, s"unset delay left as $pollingDelaySetting")
      spark.conf.set(PollingDelay, "250ms")
      startAndClose("set")
      assert(pollingDelaySetting == Some("250ms"), s"set delay left as $pollingDelaySetting")
    } finally prior.fold(spark.conf.unset(PollingDelay))(spark.conf.set(PollingDelay, _))
  }
}
