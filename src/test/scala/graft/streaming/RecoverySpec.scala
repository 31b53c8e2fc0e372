package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.sources.Sources

/** Restart semantics — the reference's consume-atomicity contract
  * (`WalHeadHandle.java:29-42`: a failed commit replays the record; the
  * callback detects the redo). Spark form: checkpointed offsets + an
  * idempotent sink ⇒ stopping and restarting the pipeline never produces
  * duplicate effects. */
class RecoverySpec extends SparkTestBase {

  /** The sf0.001 events log as a WAL: user_id keys (hot: ~67 ops each),
    * event_id order, the `error` type as DELETE (c1's DELETE analog). */
  private def eventsLog: Seq[WalRecord] = {
    val s = spark
    import s.implicits._
    graft.model.Tables.events(s, sf0001)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      .as[(Long, Long, String, Double)].collect().sortBy(_._1).toSeq
      .map { case (id, user, tpe, v) =>
        WalRecord(id, user, if (tpe == "error") "DELETE" else "UPDATE", v.toString) }
  }

  /** c1_snapshot of the events log before `bound`: key → (last id, payload). */
  private def c1At(bound: Long): Map[Long, (Long, String)] =
    graft.ops.Changelog.snapshotOf(graft.model.Tables.events(spark, sf0001)
        .filter(col("event_id") < bound))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(3).toString))).toMap

  test("pipeline restart from checkpoint: no duplicate effects, no lost records") {
    val s = spark
    import s.implicits._
    val tmp = tempDir("graft-recover").toString
    val walDir = s"$tmp/wal"
    Files.createDirectories(java.nio.file.Paths.get(walDir))
    TestSink.reset()

    Seq(WalRecord(0, 1, "ADD", "a0"), WalRecord(1, 2, "ADD", "a1"))
      .toDF().write.mode("append").parquet(walDir)
    val p1 = new WalPipeline(Sources.walFileStream(s, walDir), new TestSink,
      s"$tmp/ckpt", pollMillis = 10L, retrySleepMs = 1L)
    p1.start()
    p1.processAllAvailable()
    p1.close() // stop — consumer instance goes away (reference close())

    // records arrive while no consumer is running
    Seq(WalRecord(2, 1, "UPDATE", "a2"), WalRecord(3, 3, "ADD", "a3"))
      .toDF().write.mode("append").parquet(walDir)

    // a NEW consumer resumes from the same checkpoint
    val p2 = new WalPipeline(Sources.walFileStream(s, walDir), new TestSink,
      s"$tmp/ckpt", pollMillis = 10L, retrySleepMs = 1L)
    p2.start()
    try {
      p2.processAllAvailable()
      import scala.jdk.CollectionConverters._
      assert(TestSink.target.asScala.toMap ==
        Map(1L -> "a2", 2L -> "a1", 3L -> "a3"))
      // ids 0 and 1 were applied before the restart; if the restarted query
      // replayed them, the idempotent sink must have flagged them, not
      // re-applied (appliedThru still monotonic)
      assert(TestSink.appliedThru.get(1L) == 2L)
      assert(TestSink.appliedThru.get(2L) == 1L)
    } finally p2.close()
  }

  test("two competing consumers: loser fails cleanly, takeover after close, exactly one effect per record") {
    // The reference's HA story (`/root/reference/README.md:40-43`): N
    // consumers may run against one WAL; the row lock serializes them —
    // competitors block/lose the race gracefully
    // (`WalConsumer.java:185-193`, retry loop `:219-228`) and any
    // survivor takes over without duplicating effects. Spark form: ONE
    // checkpoint dir is the lock. With stopActiveRunOnRestart=false a
    // second pipeline on the same checkpoint is REFUSED at start (the
    // loser); with the default true it PREEMPTS the incumbent (new-run-
    // wins). Either way the sink must see exactly one effect per record.
    val s = spark
    import s.implicits._
    val tmp = tempDir("graft-ha").toString
    val walDir = s"$tmp/wal"
    Files.createDirectories(java.nio.file.Paths.get(walDir))
    TestSink.reset()
    val prevConf = s.conf.get("spark.sql.streaming.stopActiveRunOnRestart")
    try {
      Seq(WalRecord(0, 1, "ADD", "a0"), WalRecord(1, 2, "ADD", "a1"))
        .toDF().write.mode("append").parquet(walDir)
      val p1 = new WalPipeline(Sources.walFileStream(s, walDir), new TestSink,
        s"$tmp/ckpt", pollMillis = 10L, retrySleepMs = 1L)
      p1.start()
      p1.processAllAvailable()

      // -- competitor loses the race: same WAL, same checkpoint --
      s.conf.set("spark.sql.streaming.stopActiveRunOnRestart", "false")
      val loser = new WalPipeline(Sources.walFileStream(s, walDir), new TestSink,
        s"$tmp/ckpt", pollMillis = 10L, retrySleepMs = 1L)
      val nBefore = s.streams.listListeners().length
      val delayBefore = s.conf.getAll.get("spark.sql.streaming.pollingDelay")
      intercept[IllegalStateException] { loser.start() }
      // clean loss: no listener leak, no session conf change, the
      // winner's query is untouched and keeps consuming
      assert(s.streams.listListeners().length == nBefore,
        "refused start must unregister its listeners")
      assert(s.conf.getAll.get("spark.sql.streaming.pollingDelay") == delayBefore,
        "refused start must restore the session's polling delay")
      Seq(WalRecord(2, 1, "UPDATE", "a2"))
        .toDF().write.mode("append").parquet(walDir)
      p1.processAllAvailable()
      import scala.jdk.CollectionConverters._
      assert(TestSink.target.asScala.toMap == Map(1L -> "a2", 2L -> "a1"))

      // -- takeover after close(): reference consumer death → survivor --
      p1.close()
      Seq(WalRecord(3, 3, "ADD", "a3"))
        .toDF().write.mode("append").parquet(walDir)
      val p2 = new WalPipeline(Sources.walFileStream(s, walDir), new TestSink,
        s"$tmp/ckpt", pollMillis = 10L, retrySleepMs = 1L)
      p2.start() // same instance class as the loser — now it wins
      p2.processAllAvailable()
      assert(TestSink.target.asScala.toMap == Map(1L -> "a2", 2L -> "a1", 3L -> "a3"))

      // -- preemption (Spark default): a new run STOPS the incumbent --
      s.conf.set("spark.sql.streaming.stopActiveRunOnRestart", "true")
      val p3 = new WalPipeline(Sources.walFileStream(s, walDir), new TestSink,
        s"$tmp/ckpt", pollMillis = 10L, retrySleepMs = 1L)
      val q3 = p3.start()
      Seq(WalRecord(4, 2, "UPDATE", "a4"))
        .toDF().write.mode("append").parquet(walDir)
      p3.processAllAvailable()
      assert(q3.isActive, "preempting run must be the live one")
      assert(TestSink.target.asScala.toMap ==
        Map(1L -> "a2", 2L -> "a4", 3L -> "a3"))
      p3.close()
      p2.close() // stopped by the preemption; close() is a clean no-op

      // THE contract: one WAL, three competing consumer instances, and
      // still exactly one applied effect per record
      assert(TestSink.effects.asScala == Map(0L -> 1, 1L -> 1, 2L -> 1, 3L -> 1, 4L -> 1),
        s"effects: ${TestSink.effects.asScala}")
    } finally s.conf.set("spark.sql.streaming.stopActiveRunOnRestart", prevConf)
  }

  test("multi-target fan-out: one WAL, parquet + JDBC consumers progress independently and converge") {
    // The reference's motivating scenario (`/root/reference/README.md:15-17`):
    // one WAL, N INDEPENDENT consumers each shipping the changes to a
    // DIFFERENT target — "another relational database, a NoSQL database,
    // ... a queue" — each with its own offset bookkeeping. Spark form:
    // two streaming consumers over the same WAL dir with INDEPENDENT
    // checkpoints; killing one must not stall the other, and a restart
    // catches the dead target up to convergence without double-applies.
    val s = spark
    import s.implicits._
    val (tmp, url) = JdbcTestKit.freshDerby(tempDir("graft-fanout"))
    val walDir = s"$tmp/wal"
    Files.createDirectories(java.nio.file.Paths.get(walDir))
    JdbcWalSink.ensureTable(url, "wal_target")

    def snapA: Map[Long, String] =
      SnapshotTable.read(s, s"$tmp/snapA").select("entityId", "payload")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // read back through Spark's jdbc source — the fan-out loop closed
    def jdbcB: Map[Long, String] =
      s.read.jdbc(url, "wal_target", new java.util.Properties()).filter(col("DELETED") === 0)
        .select(col("ENTITY_ID"), col("PAYLOAD"))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap

    Seq(WalRecord(0, 1, "ADD", "a0"), WalRecord(1, 2, "ADD", "b0"),
      WalRecord(2, 1, "UPDATE", "a1"))
      .toDF().write.mode("append").parquet(walDir)

    // consumer A → parquet snapshot table; consumer B → JDBC table
    val qa = SnapshotTable.materialize(
      Sources.walFileStream(s, walDir), s"$tmp/snapA", s"$tmp/ckptA", nParts = 1)
    val pb = new WalPipeline(Sources.walFileStream(s, walDir),
      new JdbcWalSink(url, "wal_target"), s"$tmp/ckptB",
      pollMillis = 10L, retrySleepMs = 1L)
    pb.start()
    try {
      qa.processAllAvailable(); pb.processAllAvailable()
      assert(snapA == Map(1L -> "a1", 2L -> "b0"), s"snapA: $snapA")
      assert(jdbcB == Map(1L -> "a1", 2L -> "b0"), s"jdbcB: $jdbcB")

      // B goes down; the WAL keeps growing; A progresses independently
      pb.close()
      Seq(WalRecord(3, 3, "ADD", "c0"), WalRecord(4, 2, "DELETE", null))
        .toDF().write.mode("append").parquet(walDir)
      qa.processAllAvailable()
      assert(snapA == Map(1L -> "a1", 3L -> "c0"),
        s"live consumer must progress while the other is down: $snapA")
      assert(jdbcB == Map(1L -> "a1", 2L -> "b0"),
        s"down consumer's target must be untouched: $jdbcB")

      // B restarts from ITS OWN checkpoint and catches up — convergence
      val pb2 = new WalPipeline(Sources.walFileStream(s, walDir),
        new JdbcWalSink(url, "wal_target"), s"$tmp/ckptB",
        pollMillis = 10L, retrySleepMs = 1L)
      pb2.start()
      try {
        pb2.processAllAvailable()
        assert(jdbcB == Map(1L -> "a1", 3L -> "c0"), s"converged jdbcB: $jdbcB")
        // exactly-once effect: every entity's watermark is its LAST wal id
        // (a double-apply or a replayed early record would perturb these),
        // and the delete survives as a tombstone with its watermark
        val marks = s.read.jdbc(url, "wal_target", new java.util.Properties())
          .select(col("ENTITY_ID"), col("LAST_ID"), col("DELETED"))
          .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getInt(2)))).toMap
        assert(marks == Map(1L -> ((2L, 0)), 2L -> ((4L, 1)), 3L -> ((3L, 0))),
          s"marks: $marks")
      } finally pb2.close()
    } finally qa.stop()
  }

  test("multiplexed WAL: two entity types, per-type consumers converge; dispatch sink matches") {
    // The reference's registration model: the WAL carries an entity_type
    // discriminator (`WalEntity.java:41-46`) and each consumer instance is
    // constructed FOR one entity class, resolving its own physical target
    // table (`WalConsumer.java:339-352`). One log, two types with
    // OVERLAPPING entity-id spaces (independent per type — each reference
    // subclass is its own table); two per-type consumers must each
    // converge to their own current state without ever seeing the other's
    // records, and a single MultiplexWalSink consumer dispatching per
    // type must land the identical state.
    val s = spark
    import s.implicits._
    val (tmp, url) = JdbcTestKit.freshDerby(tempDir("graft-mux"))
    val walDir = s"$tmp/wal"
    Files.createDirectories(java.nio.file.Paths.get(walDir))
    Seq("users_target", "orders_target", "mux_users", "mux_orders")
      .foreach(JdbcWalSink.ensureTable(url, _))

    def stateOf(table: String): Map[Long, String] =
      s.read.jdbc(url, table, new java.util.Properties()).filter(col("DELETED") === 0)
        .select(col("ENTITY_ID"), col("PAYLOAD"))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap

    // interleaved log; entityId 1 exists in BOTH types
    Seq(
      WalRecord(0, 1, "ADD", "u1-v0", "UserEntity"),
      WalRecord(1, 1, "ADD", "o1-v0", "OrderEntity"),
      WalRecord(2, 2, "ADD", "u2-v0", "UserEntity"),
      WalRecord(3, 1, "UPDATE", "o1-v1", "OrderEntity"),
      WalRecord(4, 1, "UPDATE", "u1-v1", "UserEntity"),
      WalRecord(5, 2, "ADD", "o2-v0", "OrderEntity"),
      WalRecord(6, 2, "DELETE", null, "UserEntity"))
      .toDF().write.mode("append").parquet(walDir)

    val expectedUsers = Map(1L -> "u1-v1")
    val expectedOrders = Map(1L -> "o1-v1", 2L -> "o2-v0")

    // -- per-type consumers (the reference's N registered consumers) --
    val pu = new WalPipeline(Sources.walFileStream(s, walDir),
      new JdbcWalSink(url, "users_target"), s"$tmp/ckptU",
      pollMillis = 10L, retrySleepMs = 1L, entityType = Some("UserEntity"))
    val po = new WalPipeline(Sources.walFileStream(s, walDir),
      new JdbcWalSink(url, "orders_target"), s"$tmp/ckptO",
      pollMillis = 10L, retrySleepMs = 1L, entityType = Some("OrderEntity"))
    pu.start(); po.start()
    try {
      pu.processAllAvailable(); po.processAllAvailable()
      assert(stateOf("users_target") == expectedUsers, stateOf("users_target"))
      assert(stateOf("orders_target") == expectedOrders, stateOf("orders_target"))
      // the type filter reached the consumer: each pipeline's record count
      // is its own slice (4 user records incl. the delete, 3 order records)
      assert(pu.metrics.numSynchronized.get() == 4L, pu.metrics.gauges)
      assert(po.metrics.numSynchronized.get() == 3L, po.metrics.gauges)
      // user delete left a tombstone with its watermark; order id 1 untouched
      val userMarks = s.read.jdbc(url, "users_target", new java.util.Properties())
        .select(col("ENTITY_ID"), col("LAST_ID"), col("DELETED"))
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getInt(2)))).toMap
      assert(userMarks == Map(1L -> ((4L, 0)), 2L -> ((6L, 1))), userMarks)
    } finally { pu.close(); po.close() }

    // -- one consumer + per-type dispatch (the getTableName twin) --
    val mux = new WalPipeline(Sources.walFileStream(s, walDir),
      new MultiplexWalSink(Map(
        "UserEntity" -> new JdbcWalSink(url, "mux_users"),
        "OrderEntity" -> new JdbcWalSink(url, "mux_orders"))),
      s"$tmp/ckptM", pollMillis = 10L, retrySleepMs = 1L)
    mux.start()
    try {
      mux.processAllAvailable()
      assert(stateOf("mux_users") == expectedUsers, stateOf("mux_users"))
      assert(stateOf("mux_orders") == expectedOrders, stateOf("mux_orders"))
      assert(mux.metrics.numSynchronized.get() == 7L, mux.metrics.gauges)
    } finally mux.close()

    // an unregistered type fails loudly, never silently drops a mutation
    val err = intercept[IllegalArgumentException] {
      new MultiplexWalSink(Map("UserEntity" -> new TestSink))
        .syncEntity(WalRecord(9, 9, "ADD", "x", "GhostEntity"))
    }
    assert(err.getMessage.contains("GhostEntity"))
  }

  test("jdbc target outage parks the consumer in IO retry; recovery applies exactly once") {
    // R6 against a REAL relational target: the reference retries forever
    // on target inaccessibility (`WalConsumer.java:259-269`,
    // sleepMillisOnIoFailure). JDBC outages surface as SQLException, so
    // JdbcWalSink translates them to the consume loop's IO contract —
    // here the target table simply doesn't exist yet (a migration/
    // failover window), and the pipeline must PARK, not die, then apply
    // everything exactly once when the target appears.
    val s = spark
    import s.implicits._
    val (tmp, url) = JdbcTestKit.freshDerby(tempDir("graft-jdbc-outage"))
    val walDir = s"$tmp/wal"
    Files.createDirectories(java.nio.file.Paths.get(walDir))
    Seq(WalRecord(0, 1, "ADD", "a0"), WalRecord(1, 2, "ADD", "b0"))
      .toDF().write.mode("append").parquet(walDir)
    val p = new WalPipeline(Sources.walFileStream(s, walDir),
      new JdbcWalSink(url, "outage_target"), s"$tmp/ckpt",
      pollMillis = 10L, retrySleepMs = 25L)
    p.start()
    try {
      val deadline = System.currentTimeMillis() + 60000
      while (p.metrics.numIoFailures.get() == 0 && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      assert(p.metrics.numIoFailures.get() > 0,
        "missing IO-failure signal while the jdbc target is absent")
      assert(p.metrics.state.get() == WalState.INACCESSIBLE_IO_FAILURE)
      // the target comes back mid-retry; the parked batch must drain
      JdbcWalSink.ensureTable(url, "outage_target")
      p.processAllAvailable()
      val got = s.read.jdbc(url, "outage_target", new java.util.Properties())
        .select(col("ENTITY_ID"), col("PAYLOAD"), col("LAST_ID"))
        .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
      assert(got == Map(1L -> (("a0", 0L)), 2L -> (("b0", 1L))), s"got $got")
      assert(p.metrics.state.get() != WalState.INACCESSIBLE_IO_FAILURE,
        "recovery must clear the inaccessible state")
    } finally p.close()
  }

  test("mid-batch target fault: the failed chunk rolls back whole; the drain lands c1_snapshot exactly once") {
    // A target that rejects one write partway through a batch: a CHECK
    // constraint refuses the payload 'poison', carried by the batch's
    // LAST key, so the chunk's earlier writes have already executed when
    // it fails. The whole chunk must roll back (no row of it visible
    // while the consumer is parked), and once the target accepts the
    // write the drain must land exactly the last-op state. One shuffle
    // partition and a batch under one chunk make the failed attempt a
    // single transaction, so the successful retry finds nothing of it
    // applied and the already-done meter stays 0.
    val s = spark
    import s.implicits._
    val (tmp, url) = JdbcTestKit.freshDerby(tempDir("graft-jdbc-fault"))
    val walDir = s"$tmp/wal"
    JdbcWalSink.ensureTable(url, "fault_target")
    JdbcTestKit.exec(url,
      "ALTER TABLE fault_target ADD CONSTRAINT no_poison CHECK (payload <> 'poison')")

    val log = eventsLog
    val boundary = log(log.size / 2).id
    val (head, rest) = log.partition(_.id < boundary)
    // two new keys past every user: a clean insert, then the poison
    val (topId, topKey) = (log.map(_.id).max, log.map(_.entityId).max)
    val tail = rest ++ Seq(WalRecord(topId + 1, topKey + 1, "ADD", "fresh"),
      WalRecord(topId + 2, topKey + 2, "ADD", "poison"))
    assert(tail.size < JdbcWalSink.ChunkRecords, "the faulted batch must be one chunk")

    def liveRows: Map[Long, (Long, String)] =
      JdbcTestKit.rows(url, "fault_target").collect {
        case (k, (id, 0, p)) if k <= topKey => k -> ((id, p)) }

    head.toDF().coalesce(1).write.mode("append").parquet(walDir)
    val prevParts = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "1")
    val p = new WalPipeline(Sources.walFileStream(s, walDir),
      new JdbcWalSink(url, "fault_target"), s"$tmp/ckpt",
      pollMillis = 10L, retrySleepMs = 25L)
    try {
      p.start()
      p.processAllAvailable()
      val afterHead = JdbcTestKit.rows(url, "fault_target")
      assert(afterHead == JdbcTestKit.fold(head))
      assert(liveRows == c1At(boundary), "first batch == c1_snapshot at its boundary")

      tail.toDF().coalesce(1).write.mode("append").parquet(walDir)
      val deadline = System.currentTimeMillis() + 60000
      while (p.metrics.numIoFailures.get() == 0 && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      assert(p.metrics.numIoFailures.get() > 0, "the poisoned write must fail the batch")
      assert(p.metrics.state.get() == WalState.INACCESSIBLE_IO_FAILURE)
      assert(JdbcTestKit.rows(url, "fault_target") == afterHead,
        "no row of the failed chunk may be visible while the consumer is parked")

      // the target accepts the write again; the parked batch drains
      JdbcTestKit.exec(url, "ALTER TABLE fault_target DROP CONSTRAINT no_poison")
      p.processAllAvailable()
      assert(JdbcTestKit.rows(url, "fault_target") == JdbcTestKit.fold(head ++ tail))
      assert(liveRows == c1At(topId + 1), "final target == c1_snapshot at the last event")
      val g = p.metrics.gauges
      assert(g("wal_num_io_failures") >= 1L, g)
      assert(g("wal_num_ignored_already_done") == 0L, g)
      assert(p.metrics.state.get() != WalState.INACCESSIBLE_IO_FAILURE)
    } finally {
      p.close()
      s.conf.set("spark.sql.shuffle.partitions", prevParts)
    }
  }

  test("retried multi-partition batch: the already-done meter counts exactly what the failed attempts committed") {
    // A batch spread over four shuffle partitions, one of which carries a
    // 'poison' payload the target's CHECK constraint refuses. Partitions
    // commit independently, so each failed attempt commits every clean
    // partition's chunk and rolls back only the poisoned one. When the
    // target accepts the write, the successful attempt must count as
    // already applied exactly the records those commits (and the head
    // batch) cover: per key, the batch records at or below the stored
    // last_id. The record meters count the batch once, not once per
    // attempt.
    val s = spark
    import s.implicits._
    val (tmp, url) = JdbcTestKit.freshDerby(tempDir("graft-jdbc-multipart"))
    val walDir = s"$tmp/wal"
    JdbcWalSink.ensureTable(url, "multipart_target")
    JdbcTestKit.exec(url,
      "ALTER TABLE multipart_target ADD CONSTRAINT no_poison CHECK (payload <> 'poison')")

    val log = eventsLog
    val boundary = log(log.size / 2).id
    val (head, rest) = log.partition(_.id < boundary)
    // the batch: the rest of the log, the head's last 20 records replayed,
    // and the poison on a new key past every user
    val (topId, topKey) = (log.map(_.id).max, log.map(_.entityId).max)
    val poison = WalRecord(topId + 1, topKey + 1, "ADD", "poison")
    val batch = rest ++ head.takeRight(20) :+ poison

    val nParts = 4
    // the batch's hash partitioning: pmod(murmur3(entityId), nParts)
    val partOf = batch.map(_.entityId).distinct.toDF("k")
      .select(col("k"), pmod(hash(col("k")), lit(nParts)))
      .as[(Long, Int)].collect().toMap
    val poisoned = batch.filter(r => partOf(r.entityId) == partOf(poison.entityId))
    assert(batch.map(r => partOf(r.entityId)).distinct.size >= 2,
      "the batch must span several partitions")
    // parked: every clean partition committed, the poisoned one not at all
    val parked = JdbcTestKit.fold(head ++ batch.diff(poisoned))

    head.toDF().coalesce(1).write.mode("append").parquet(walDir)
    val prevParts = s.conf.get("spark.sql.shuffle.partitions")
    val prevCoalesce = s.conf.get("spark.sql.adaptive.coalescePartitions.enabled")
    s.conf.set("spark.sql.shuffle.partitions", nParts.toString)
    s.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    val p = new WalPipeline(Sources.walFileStream(s, walDir),
      new JdbcWalSink(url, "multipart_target"), s"$tmp/ckpt",
      pollMillis = 10L, retrySleepMs = 100L)
    try {
      p.start()
      p.processAllAvailable()
      assert(JdbcTestKit.rows(url, "multipart_target") == JdbcTestKit.fold(head))
      // the listener bus is async: wait for the head batch's progress
      val headDeadline = System.currentTimeMillis() + 10000
      while (p.metrics.numSynchronized.get() < head.size &&
        System.currentTimeMillis() < headDeadline) Thread.sleep(20)
      assert(p.metrics.numSynchronized.get() == head.size.toLong, p.metrics.gauges)

      batch.toDF().coalesce(1).write.mode("append").parquet(walDir)
      val deadline = System.currentTimeMillis() + 60000
      while ((p.metrics.gauges("wal_num_io_failures") < 2L ||
          JdbcTestKit.rows(url, "multipart_target") != parked) &&
        System.currentTimeMillis() < deadline) Thread.sleep(20)
      assert(p.metrics.gauges("wal_num_io_failures") >= 2L, p.metrics.gauges)
      assert(p.metrics.state.get() == WalState.INACCESSIBLE_IO_FAILURE)
      val stored = JdbcTestKit.rows(url, "multipart_target")
      assert(stored == parked, "each clean partition commits; the poisoned one rolls back")
      val applied = batch.count(r => stored.get(r.entityId).exists(_._1 >= r.id)).toLong
      assert(applied > 20L, s"the failed attempts must have committed some partition: $applied")

      JdbcTestKit.exec(url, "ALTER TABLE multipart_target DROP CONSTRAINT no_poison")
      p.processAllAvailable()
      val syncDeadline = System.currentTimeMillis() + 10000
      while (p.metrics.numSynchronized.get() < head.size + batch.size &&
        System.currentTimeMillis() < syncDeadline) Thread.sleep(20)
      val g = p.metrics.gauges
      assert(g("wal_num_ignored_already_done") == applied, g)
      assert(g("wal_num_synchronized") - head.size == batch.size.toLong,
        s"the retried batch must count its ${batch.size} records once: $g")
      assert(g("wal_num_records") == batch.size.toLong, g)
      assert(JdbcTestKit.rows(url, "multipart_target") == JdbcTestKit.fold(head ++ batch))
      val live = JdbcTestKit.rows(url, "multipart_target").collect {
        case (k, (id, 0, pl)) if k <= topKey => k -> ((id, pl)) }
      assert(live == c1At(topId + 1), "final target == c1_snapshot at the last event")
    } finally {
      p.close()
      s.conf.set("spark.sql.shuffle.partitions", prevParts)
      s.conf.set("spark.sql.adaptive.coalescePartitions.enabled", prevCoalesce)
    }
  }

  test("abnormal query termination surfaces as INACCESSIBLE_IO_FAILURE") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val ms = MemoryStream[WalRecord]
    val metrics = new WalMetrics(_ => ())
    s.streams.addListener(metrics)
    val q = ms.toDS().writeStream
      .foreachBatch { (_: org.apache.spark.sql.Dataset[WalRecord], _: Long) =>
        throw new java.io.IOException("target unreachable and not retried here")
      }
      .option("checkpointLocation", tempDir("graft-fail").toString)
      .start()
    metrics.queryId = q.id
    try {
      ms.addData(WalRecord(0, 1, "ADD", "x"))
      intercept[Exception] { q.processAllAvailable() }
      // listener events are async; wait briefly
      val deadline = System.currentTimeMillis() + 10000
      while (metrics.state.get() != WalState.INACCESSIBLE_IO_FAILURE &&
        System.currentTimeMillis() < deadline) Thread.sleep(50)
      assert(metrics.state.get() == WalState.INACCESSIBLE_IO_FAILURE)
    } finally {
      if (q.isActive) q.stop()
      s.streams.removeListener(metrics)
    }
  }
}
