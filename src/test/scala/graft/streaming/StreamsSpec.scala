package graft.streaming

import java.io.IOException
import java.sql.Timestamp
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.SparkTestBase

/** Streaming semantics tests porting the reference's golden scenario
  * (`/root/reference/src/test/java/ir/sahab/walconsumer/WalConsumerTest.java:62-79`):
  * ADD(1,"name1") → ADD(2,"name2") already-done → UPDATE(1,"updated-name")
  * → ADD(3,"name3") with one IOException retry → DELETE(3).
  * Expected final state: {1→"updated-name", 2→"name2"}. */
class StreamsSpec extends SparkTestBase {

  test("s1: snapshotStream applies golden scenario with replay suppression") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val ms = MemoryStream[WalRecord]
    val q = Streams.snapshotStream(ms.toDS())
      .writeStream.format("memory").queryName("snap").outputMode("update").start()
    try {
      ms.addData(WalRecord(0, 1, "ADD", "name1"), WalRecord(1, 2, "ADD", "name2"))
      q.processAllAvailable()
      // replay of id=1 (already done) + real update + add
      ms.addData(WalRecord(1, 2, "ADD", "name2-replayed"),
        WalRecord(2, 1, "UPDATE", "updated-name"), WalRecord(3, 3, "ADD", "name3"))
      q.processAllAvailable()
      ms.addData(WalRecord(4, 3, "DELETE", null))
      q.processAllAvailable()
      val finalState = s.table("snap").as[EntityState].collect()
        .groupBy(_.entityId).map { case (k, vs) => k -> vs.maxBy(_.lastId) }
      assert(finalState(1L).payload == "updated-name" && !finalState(1L).deleted)
      assert(finalState(2L).payload == "name2" && !finalState(2L).deleted,
        "replayed ADD must not overwrite state (already-done detection)")
      assert(finalState(3L).deleted, "DELETE removes the entity")
    } finally q.stop()
  }

  test("s1 on RocksDB: snapshotStream matches the golden scenario under the RocksDB state store") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    // the same operator on the other state-store provider: the golden
    // scenario must not depend on where the per-key state lives
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val ms = MemoryStream[WalRecord]
    val q = Streams.snapshotStream(ms.toDS())
      .writeStream.format("memory").queryName("snaprocks").outputMode("update").start()
    try {
      ms.addData(WalRecord(0, 1, "ADD", "name1"), WalRecord(1, 2, "ADD", "name2"))
      q.processAllAvailable()
      ms.addData(WalRecord(1, 2, "ADD", "name2-replayed"),
        WalRecord(2, 1, "UPDATE", "updated-name"), WalRecord(3, 3, "ADD", "name3"))
      q.processAllAvailable()
      ms.addData(WalRecord(4, 3, "DELETE", null))
      q.processAllAvailable()
      val finalState = s.table("snaprocks").as[EntityState].collect()
        .groupBy(_.entityId).map { case (k, vs) => k -> vs.maxBy(_.lastId) }
      assert(finalState(1L).payload == "updated-name" && !finalState(1L).deleted)
      assert(finalState(2L).payload == "name2" && !finalState(2L).deleted,
        "replay must not overwrite")
      assert(finalState(3L).deleted)
    } finally {
      q.stop()
      s.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("s1-sink: foreachBatchSync is idempotent and retries IOException") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    TestSink.reset()
    // entity 2 pre-applied (the reference's already-done scenario)
    TestSink.target.put(2L, "name2"); TestSink.appliedThru.put(2L, 1L)
    TestSink.failOnceIds.put(3L, true) // id=3 throws IOException once
    val ms = MemoryStream[WalRecord]
    val q = ms.toDS().writeStream
      .foreachBatch(Streams.foreachBatchSync(new TestSink, retrySleepMs = 1L))
      .start()
    try {
      ms.addData(
        WalRecord(0, 1, "ADD", "name1"), WalRecord(1, 2, "ADD", "name2"),
        WalRecord(2, 1, "UPDATE", "updated-name"),
        WalRecord(3, 3, "ADD", "name3"), WalRecord(4, 3, "DELETE", null))
      q.processAllAvailable()
      import scala.jdk.CollectionConverters._
      assert(TestSink.target.asScala.toMap == Map(1L -> "updated-name", 2L -> "name2"),
        s"reference golden state; got ${TestSink.target}")
      // the IOException fails the batch once; the driver-side retry replays
      // it and the idempotent sink flags every already-applied record
      assert(TestSink.retried.get() == 1, "exactly one IOException (id 3)")
      assert(TestSink.alreadyDone.get() >= 1, "replays detected, never re-applied")
    } finally q.stop()
  }

  test("s7: stream-static enrichment joins the dim on every micro-batch") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val dim = Seq((1L, "alpha"), (2L, "beta")).toDF("dim_key", "dim_name")
    val ms = MemoryStream[WalRecord]
    val q = Streams.enrichStream(ms.toDS().toDF(), dim, col("entityId") === col("dim_key"))
      .select(col("id"), col("entityId"), col("dim_name"))
      .writeStream.format("memory").queryName("enrich").outputMode("append").start()
    try {
      ms.addData(WalRecord(0, 1, "ADD", "a"), WalRecord(1, 2, "ADD", "b"),
        WalRecord(2, 3, "ADD", "no-dim-row"))
      q.processAllAvailable()
      val rows = s.table("enrich").collect()
        .map(r => (r.getLong(0), r.getString(2))).toMap
      assert(rows == Map(0L -> "alpha", 1L -> "beta"),
        "inner enrichment keeps only keyed records, with dim attributes attached")
    } finally q.stop()
  }

  test("s2/s4: tumbling window with watermark drops too-late data") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val ms = MemoryStream[(Timestamp, String, Double)]
    val ev = ms.toDS().toDF("ts", "event_type", "value")
    val q = Streams.tumblingCounts(ev)
      .writeStream.format("memory").queryName("tumble").outputMode("update").start()
    def t(h: Int, m: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    try {
      ms.addData((t(1, 0), "view", 1.25), (t(2, 30), "view", 2.5))
      q.processAllAvailable() // watermark advances to 02:20
      ms.addData((t(0, 5), "view", 4.0), (t(2, 40), "click", 0.75)) // 00:05 is beyond-late
      q.processAllAvailable()
      val starts = s.table("tumble").select("start_ms").as[Long].collect().toSet
      val hour0 = Timestamp.valueOf("2024-01-01 00:00:00").getTime
      assert(!starts.contains(hour0), "event older than watermark must be dropped")
      val hour2 = Timestamp.valueOf("2024-01-01 02:00:00").getTime
      assert(starts.contains(hour2))
      // s2's scaled value sum rides the same operator
      val valueC = s.table("tumble").filter(col("start_ms") === hour2)
        .select("event_type", "value_c").as[(String, Long)].collect().toMap
      assert(valueC == Map("view" -> 250L, "click" -> 75L), s"value_c: $valueC")
    } finally q.stop()
  }

  test("s11 production form: update-mode windowed distinct sketch under a watermark") {
    // the registered s11 gate runs complete mode; the 100 TB form it
    // documents is THIS: update mode + event-time watermark, where each
    // window's state row is the HLL++ buffer and closed windows evict.
    // Pin that the final per-window estimates match exact distincts and
    // that a beyond-late row is dropped rather than reopening its window.
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val ms = MemoryStream[(Timestamp, Long)]
    val ev = ms.toDS().toDF("ts", "user_id")
    val agg = ev.withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(approx_count_distinct(col("user_id"), 0.01).as("approx"))
      .select(col("window.start").as("start"), col("approx"))
    val q = agg.writeStream.format("memory").queryName("s11prod")
      .outputMode("update").start()
    def t(h: Int, m: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    try {
      ms.addData((t(1, 0), 1L), (t(1, 10), 2L), (t(1, 20), 1L), (t(2, 30), 9L))
      q.processAllAvailable() // watermark → 02:20, hour-1 window is closed
      ms.addData((t(1, 30), 3L), (t(2, 40), 10L)) // 01:30 is beyond-late
      q.processAllAvailable()
      val rows = s.table("s11prod").collect()
        .groupBy(_.getTimestamp(0)).view.mapValues(_.map(_.getLong(1)).last).toMap
      // at 3 distinct values the sketch is exact; the late user 3 must
      // NOT have reopened hour 1 (its last emission stays 2 distinct)
      assert(rows(t(1, 0)) == 2L, s"hour-1 window must hold {1,2}: $rows")
      assert(rows(t(2, 0)) == 2L, s"hour-2 window must hold {9,10}: $rows")
    } finally q.stop()
  }

  test("s13 production form: update-mode windowed GK quantiles under a watermark") {
    // the registered s13 gate runs complete mode; its documented 100 TB
    // form is update mode + event-time watermark, the state row being
    // the mergeable GK summary and closed windows evicting. Pin the
    // quantile value and that a beyond-late row cannot reopen a closed
    // window.
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val ms = MemoryStream[(Timestamp, Long)]
    val ev = ms.toDS().toDF("ts", "v")
    val agg = ev.withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(percentile_approx(col("v"), array(lit(0.5)), lit(1000)).as("qs"))
      .select(col("window.start").as("start"), col("qs").getItem(0).as("p50"))
    val q = agg.writeStream.format("memory").queryName("s13prod")
      .outputMode("update").start()
    def t(h: Int, m: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    try {
      ms.addData((t(1, 0), 10L), (t(1, 10), 20L), (t(1, 20), 30L), (t(2, 30), 7L))
      q.processAllAvailable() // watermark → 02:20, hour-1 window closed
      ms.addData((t(1, 30), 1000L), (t(2, 40), 9L)) // 01:30 is beyond-late
      q.processAllAvailable()
      val rows = s.table("s13prod").collect()
        .groupBy(_.getTimestamp(0)).view.mapValues(_.map(_.getLong(1)).last).toMap
      assert(rows(t(1, 0)) == 20L,
        s"hour-1 median must stay 20 (late 1000 dropped, window closed): $rows")
      assert(rows(t(2, 0)) == 7L || rows(t(2, 0)) == 8L || rows(t(2, 0)) == 9L,
        s"hour-2 median of {7,9}: $rows")
    } finally q.stop()
  }

  test("s14 production form: update-mode windowed top-k heap under a watermark") {
    // the heap aggregate is a TypedImperativeAggregate like the GK/HLL
    // buffers — this pins that it serializes through the streaming state
    // store in update mode and that closed windows evict (the s14
    // scaladoc's production-form claim, measured).
    import graft.functions.TopKByAgg.topkBy
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val ms = MemoryStream[(Timestamp, Long, Long)]
    val ev = ms.toDS().toDF("ts", "v", "tag")
    val agg = ev.withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(topkBy(col("v"), col("tag"), 2).as("tk"))
      .select(col("window.start").as("start"), col("tk"))
    val q = agg.writeStream.format("memory").queryName("s14prod")
      .outputMode("update").start()
    def t(h: Int, m: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    try {
      ms.addData((t(1, 0), 5L, 1L), (t(1, 10), 9L, 2L), (t(1, 20), 7L, 3L),
        (t(2, 30), 4L, 8L))
      q.processAllAvailable() // hour-1 closed
      ms.addData((t(1, 30), 100L, 9L), (t(2, 40), 6L, 10L)) // beyond-late
      q.processAllAvailable()
      val rows = s.table("s14prod").collect()
        .groupBy(_.getTimestamp(0)).view.mapValues(_.map(r =>
          r.getSeq[org.apache.spark.sql.Row](1).map(x => (x.getLong(0), x.getLong(1)))).last)
        .toMap
      assert(rows(t(1, 0)) == Seq((9L, 2L), (7L, 3L)),
        s"hour-1 top-2 must exclude the beyond-late 100: $rows")
      assert(rows(t(2, 0)) == Seq((6L, 10L), (4L, 8L)), s"hour-2 top-2: $rows")
    } finally q.stop()
  }

  test("s5: dropDuplicatesWithinWatermark suppresses replayed ids") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val ms = MemoryStream[(Long, Timestamp)]
    val ev = ms.toDS().toDF("event_id", "ts")
    val q = Streams.dedupStream(ev)
      .writeStream.format("memory").queryName("dedup").outputMode("append").start()
    try {
      ms.addData((1L, Timestamp.valueOf("2024-01-01 01:00:00")))
      q.processAllAvailable()
      ms.addData((1L, Timestamp.valueOf("2024-01-01 01:00:30")), // replay, in watermark
        (2L, Timestamp.valueOf("2024-01-01 01:01:00")))
      q.processAllAvailable()
      val ids = s.table("dedup").select("event_id").as[Long].collect().toSeq
      assert(ids.sorted == Seq(1L, 2L), s"replayed id must appear once; got $ids")
    } finally q.stop()
  }

  test("s3b: session windows merge events within the gap (streaming)") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val ms = MemoryStream[(Long, Timestamp)]
    val ev = ms.toDS().toDF("user_id", "ts")
    val q = Streams.sessionCounts(ev)
      .writeStream.format("memory").queryName("sess").outputMode("complete").start()
    try {
      // user 1: two events 10 min apart (one session), then a 40-min gap (new session)
      ms.addData((1L, Timestamp.valueOf("2024-01-01 01:00:00")),
        (1L, Timestamp.valueOf("2024-01-01 01:10:00")),
        (1L, Timestamp.valueOf("2024-01-01 01:50:00")))
      q.processAllAvailable()
      val rows = s.table("sess")
        .select("user_id", "session_start_ms", "n_events")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(rows == Set(
        (1L, Timestamp.valueOf("2024-01-01 01:00:00").getTime, 2L),
        (1L, Timestamp.valueOf("2024-01-01 01:50:00").getTime, 1L)))
    } finally q.stop()
  }

  test("s6: stream-stream interval join buffers and matches across batches") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val pms = MemoryStream[(Long, Timestamp)]
    val vms = MemoryStream[(Long, Timestamp)]
    val joined = Streams.intervalJoin(
      pms.toDS().toDF("p_user", "p_ts"), vms.toDS().toDF("v_user", "v_ts"))
    val q = joined.writeStream.format("memory").queryName("ij")
      .outputMode("append").start()
    try {
      // view arrives first, purchase for the same user arrives a batch later
      vms.addData((1L, Timestamp.valueOf("2024-01-01 01:00:00")),
        (2L, Timestamp.valueOf("2024-01-01 01:05:00")))
      q.processAllAvailable()
      pms.addData((1L, Timestamp.valueOf("2024-01-01 01:30:00")), // within 1h of its view
        (3L, Timestamp.valueOf("2024-01-01 01:30:00"))) // no view → no row
      q.processAllAvailable()
      val rows = s.table("ij").select("p_user").as[Long].collect().toSeq
      assert(rows == Seq(1L), s"only user 1 has a view within the hour; got $rows")
    } finally q.stop()
  }

  test("s3: sliding windows emit 2 windows per event") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val ms = MemoryStream[(Timestamp, String)]
    val ev = ms.toDS().toDF("ts", "event_type")
    val q = Streams.slidingCounts(ev)
      .writeStream.format("memory").queryName("slide").outputMode("update").start()
    try {
      ms.addData((Timestamp.valueOf("2024-01-01 05:30:00"), "view"))
      q.processAllAvailable()
      val starts = s.table("slide").select("start_ms").as[Long].collect().toSet
      assert(starts == Set(
        Timestamp.valueOf("2024-01-01 04:00:00").getTime,
        Timestamp.valueOf("2024-01-01 05:00:00").getTime))
    } finally q.stop()
  }

  test("s8: bloom novelty stream flags index echoes as dups and fresh docs as novel") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val index = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six seven")).toDF("doc_id", "text")
    val ms = MemoryStream[(Long, String)]
    val stream = Streams.noveltyStream(s, ms.toDS().toDF("doc_id", "text"), index)
    // the probe must be the native plan-literal might_contain, never a
    // ScalaUDF (the q26-measured codegen breaker) — pin it on the
    // analyzed plan, where expressions are visible pre-execution
    val planStr = stream.queryExecution.analyzed.toString
    assert(planStr.contains("might_contain"), s"native bloom probe missing:\n$planStr")
    assert(!planStr.contains("UDF"), s"ScalaUDF crept back into the s8 plan:\n$planStr")
    val q = stream.writeStream.format("memory").queryName("novel").outputMode("append").start()
    try {
      ms.addData(
        (10L, "alpha beta gamma delta epsilon zeta"), // exact echo of doc 1
        (11L, "totally fresh never seen words here now"), // disjoint vocabulary
        (12L, "hi")) // gram-less: vacuously novel
      q.processAllAvailable()
      val rows = s.table("novel").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
      val (k10, h10, nov10, f10) = rows(10L)
      assert(h10 == k10 && nov10 == 0L && f10 == 0L, s"echo must score 0 novelty: ${rows(10L)}")
      val (_, _, nov11, f11) = rows(11L)
      assert(f11 == 1L && nov11 >= 500L, s"fresh doc must screen novel: ${rows(11L)}")
      assert(rows(12L) == (0L, 0L, 1000L, 1L), s"gram-less doc is vacuously novel: ${rows(12L)}")
    } finally q.stop()
  }

  test("s9: temporal as-of stream == an independent log-order fold, across batches") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // log-ordered event stream, 3 users interleaved; batch cuts land
    // mid-lineage (view in batch 1, purchase in batch 2) on purpose
    val batches = Seq(
      Seq(ProbeEvent(1, 1, "view"), ProbeEvent(2, 2, "purchase"),
        ProbeEvent(3, 1, "view"), ProbeEvent(4, 3, "view")),
      Seq(ProbeEvent(5, 1, "purchase"), ProbeEvent(6, 2, "view"),
        ProbeEvent(7, 3, "purchase"), ProbeEvent(8, 1, "view"),
        ProbeEvent(9, 1, "purchase")),
      Seq(ProbeEvent(10, 2, "purchase"), ProbeEvent(11, 3, "click"),
        ProbeEvent(12, 3, "purchase")))
    // independent derivation: a per-user fold over the global log order
    val expected = {
      val latest = scala.collection.mutable.Map.empty[Long, Long]
      batches.flatten.sortBy(_.eventId).flatMap { e =>
        e.eventType match {
          case "view" => latest(e.userId) = e.eventId; None
          case "purchase" =>
            Some(AsofMatch(e.eventId, e.userId, latest.getOrElse(e.userId, -1L)))
          case _ => None
        }
      }
    }
    val ms = MemoryStream[ProbeEvent]
    val q = Streams.temporalAsofStream(ms.toDS())
      .writeStream.format("memory").queryName("tasof").outputMode("append").start()
    try {
      batches.foreach { b => ms.addData(b: _*); q.processAllAvailable() }
      val got = s.table("tasof").as[AsofMatch].collect().sortBy(_.eventId).toSeq
      assert(got == expected, s"got $got\nexpected $expected")
      // the cross-batch case specifically: purchase 5 sees view 3 from batch 1
      assert(got.find(_.eventId == 5).get.priorViewId == 3L)
      // purchase with no prior view gets the -1 sentinel
      assert(got.find(_.eventId == 2).get.priorViewId == -1L)
    } finally {
      q.stop()
      s.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("s9: replayed (late, smaller-id) view does not rewind the temporal register") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val ms = MemoryStream[ProbeEvent]
    val q = Streams.temporalAsofStream(ms.toDS())
      .writeStream.format("memory").queryName("tasof2").outputMode("append").start()
    try {
      ms.addData(ProbeEvent(10, 1, "view"))
      q.processAllAvailable()
      ms.addData(ProbeEvent(3, 1, "view"), ProbeEvent(11, 1, "purchase"))
      q.processAllAvailable()
      val got = s.table("tasof2").as[AsofMatch].collect()
      assert(got.length == 1 && got(0).priorViewId == 10L,
        s"replayed view 3 must not shadow view 10: ${got.toSeq}")
    } finally {
      q.stop()
      s.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }
}

/** Shared-state test sink (local mode: executor == driver JVM). Mirrors
  * `WalEntityConsumerCallback.syncEntity` semantics. */
class TestSink extends WalSink {
  override def syncEntity(r: WalRecord): Boolean = {
    if (r.id <= TestSink.appliedThru.getOrDefault(r.entityId, -1L)) {
      TestSink.alreadyDone.incrementAndGet()
      return false // already done — reference WalConsumer.java:271-278
    }
    if (TestSink.failOnceIds.replace(r.id, true, false)) {
      TestSink.retried.incrementAndGet()
      throw new IOException(s"transient failure for id ${r.id}")
    }
    r.operation match {
      case "DELETE" => TestSink.target.remove(r.entityId)
      case _        => TestSink.target.put(r.entityId, r.payload)
    }
    TestSink.appliedThru.put(r.entityId, r.id)
    TestSink.effects.merge(r.id, 1, (a, b) => Integer.valueOf(a + b))
    true
  }
}

object TestSink {
  val target = new ConcurrentHashMap[Long, String]()
  val appliedThru = new ConcurrentHashMap[Long, Long]()
  val failOnceIds = new ConcurrentHashMap[Long, Boolean]()
  /** record id → times the sink actually APPLIED it (exactly-once-effect
    * assertions: every value must be 1, however many consumers ran). */
  val effects = new ConcurrentHashMap[Long, Integer]()
  val alreadyDone = new AtomicInteger(0)
  val retried = new AtomicInteger(0)
  def reset(): Unit = { target.clear(); appliedThru.clear(); failOnceIds.clear()
    effects.clear(); alreadyDone.set(0); retried.set(0) }
}
