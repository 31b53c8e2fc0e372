package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.SparkTestBase

class SnapshotTableSpec extends SparkTestBase {

  test("materialized snapshot table tracks the golden scenario across batches") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val tmp = tempDir("graft-snap").toString
    val ms = MemoryStream[WalRecord]
    val q = SnapshotTable.materialize(ms.toDS(), s"$tmp/table", s"$tmp/ckpt", nParts = 1)
    def state(): Map[Long, String] =
      SnapshotTable.read(s, s"$tmp/table").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
    try {
      ms.addData(WalRecord(0, 1, "ADD", "name1"), WalRecord(1, 2, "ADD", "name2"))
      q.processAllAvailable()
      assert(state() == Map(1L -> "name1", 2L -> "name2"))

      // replay + update + add (already-done replay must lose the merge)
      ms.addData(WalRecord(1, 2, "ADD", "name2-replay"),
        WalRecord(2, 1, "UPDATE", "updated-name"), WalRecord(3, 3, "ADD", "name3"))
      q.processAllAvailable()
      assert(state() == Map(1L -> "updated-name", 2L -> "name2", 3L -> "name3"))

      ms.addData(WalRecord(4, 3, "DELETE", null))
      q.processAllAvailable()
      assert(state() == Map(1L -> "updated-name", 2L -> "name2"),
        "the reference golden final state")
    } finally q.stop()
  }

  test("partitioned sink rewrites only touched partitions") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val tmp = tempDir("graft-psnap").toString
    val base = s"$tmp/table"
    val nParts = 4
    val ms = MemoryStream[WalRecord]
    val q = ms.toDS().writeStream
      .foreachBatch(SnapshotTable.partitionedSink(base, nParts))
      .option("checkpointLocation", s"$tmp/ckpt").start()
    def versionsOf(p: Long): Seq[String] = {
      val d = new java.io.File(s"$base/p=$p")
      if (!d.exists()) Seq.empty else d.listFiles().map(_.getName).toSeq.sorted
    }
    try {
      // keys 0..7 → all 4 partitions
      ms.addData((0L to 7L).map(k => WalRecord(k, k, "ADD", s"v$k")): _*)
      q.processAllAvailable()
      val v0 = (0L until 4L).map(versionsOf)
      assert(v0.forall(_.contains("v=0")))

      // second batch touches ONLY keys 1 and 5 (both hash to partition 1)
      ms.addData(WalRecord(8, 1, "UPDATE", "v1b"), WalRecord(9, 5, "DELETE", null))
      q.processAllAvailable()
      assert(versionsOf(1).contains("v=1"), "touched partition advanced")
      Seq(0L, 2L, 3L).foreach(p =>
        assert(versionsOf(p) == v0(p.toInt), s"untouched partition $p must not be rewritten"))

      val state = SnapshotTable.read(s, base)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      val expected = (0L to 7L).map(k => k -> s"v$k").toMap + (1L -> "v1b") - 5L
      assert(state == expected)

      // the manifest records nParts; a sink restarted with a different
      // partition count must refuse instead of silently mis-hashing
      val bad = intercept[Exception] {
        SnapshotTable.partitionedSink(base, 2)(
          Seq(WalRecord(10, 1, "UPDATE", "x")).toDS(), 99L)
      }
      assert(bad.getMessage.contains("nParts"))
    } finally q.stop()
  }

  test("orphaned version from a crashed batch never displaces the manifest-referenced one") {
    val s = spark
    import s.implicits._
    val tmp = tempDir("graft-orphan").toString
    val base = s"$tmp/table"
    val nParts = 2
    val sink = SnapshotTable.partitionedSink(base, nParts)
    sink(Seq(WalRecord(0, 1, "ADD", "a"), WalRecord(1, 2, "ADD", "b")).toDS(), 0L)
    assert(SnapshotTable.readManifest(s, base).get._2 == Map(0L -> 0L, 1L -> 0L))

    // simulate a crash AFTER a partition commit but BEFORE the manifest
    // swap: partition 1 has a committed v=1 the manifest doesn't reference
    Seq((1L, "a-orphan", 5L)).toDF("entityId", "payload", "lastId")
      .write.parquet(s"$base/p=1/v=1")

    // the replayed batch must (a) keep serving readers through the still-
    // referenced v=0, (b) version PAST the orphan, (c) reclaim the orphan
    sink(Seq(WalRecord(2, 1, "UPDATE", "a2")).toDS(), 0L)
    val dirs = new java.io.File(s"$base/p=1").listFiles().map(_.getName).toSet
    assert(dirs.contains("v=2"), s"new version must exceed the orphan: $dirs")
    assert(dirs.contains("v=0"), s"manifest-referenced v=0 must survive the commit: $dirs")
    assert(!dirs.contains("v=1"), s"unreferenced orphan must be reclaimed: $dirs")
    assert(SnapshotTable.readManifest(s, base).get._2(1L) == 2L)
    val state = SnapshotTable.read(s, base)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(state == Map(1L -> "a2", 2L -> "b"),
      "orphan payload must not leak into the committed view")
  }

  test("merge is idempotent: re-applying a batch changes nothing") {
    val s = spark
    import s.implicits._
    val batch = Seq(
      WalRecord(0, 1, "ADD", "a"), WalRecord(1, 1, "UPDATE", "b"),
      WalRecord(2, 2, "ADD", "c")).toDS()
    val once = SnapshotTable.merge(
      Seq.empty[(Long, String, Long)].toDF("entityId", "payload", "lastId"), batch)
    val twice = SnapshotTable.merge(once, batch)
    assert(once.collect().toSet == twice.collect().toSet)
    assert(once.collect().map(r => r.getLong(0) -> r.getString(1)).toMap ==
      Map(1L -> "b", 2L -> "c"))
  }
}
