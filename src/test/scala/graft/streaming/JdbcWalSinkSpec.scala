package graft.streaming

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.scalacheck.Gen
import graft.SparkTestBase

/** The set-at-a-time apply (`JdbcWalSink.syncAll`) against the per-record
  * apply it replaces (`JdbcTestKit.syncOnce`), on twin Derby tables: the
  * same final rows and the same already-applied count, on generated
  * sorted partitions with hot keys, DELETEs (also as a key's last op),
  * duplicate ids, and stored watermarks below, tied with and inside a
  * replayed run. Plus the partition-level routing of [[MultiplexWalSink]]. */
class JdbcWalSinkSpec extends SparkTestBase {
  import JdbcTestKit._

  private val (_, url) = freshDerby(tempDir("graft-jdbc-sink"))
  private val (setTable, oracleTable) = ("SET_APPLY", "ORACLE_APPLY")
  Seq(setTable, oracleTable).foreach(JdbcWalSink.ensureTable(url, _))

  /** One partition (sorted by (entityId, id)) and the rows already in the
    * target before it is applied. */
  private final case class Trial(part: Vector[WalRecord], pre: Map[Long, TargetRow])

  private type Run = (Vector[WalRecord], Option[TargetRow])

  /** One key's run of `len` records: ids ascend by 0–3 (0 = a duplicate id,
    * with its own payload), ops mix ADD/UPDATE/DELETE. Its stored row is
    * absent, below the run, tied with one of its ids (so the run straddles
    * the watermark, or sits wholly at or below it) or above it. */
  private def runGen(key: Long, len: Gen[Int]): Gen[Run] =
    for {
      n <- len
      base <- Gen.choose(0L, 40L)
      steps <- Gen.listOfN(n, Gen.frequency(1 -> Gen.const(0L), 5 -> Gen.choose(1L, 3L)))
      ops <- Gen.listOfN(n, Gen.frequency(3 -> "UPDATE", 1 -> "ADD", 2 -> "DELETE"))
      tags <- Gen.listOfN(n, Gen.choose(0, 99))
      run = steps.scanLeft(base)(_ + _).tail.zip(ops).zip(tags).zipWithIndex.map {
        case (((id, op), tag), i) => WalRecord(id, key, op, s"k$key-$i-$tag")
      }.toVector
      w <- Gen.frequency(
        3 -> Gen.const(None),
        1 -> Gen.const(Some(run.head.id - 1)),
        3 -> Gen.oneOf(run.map(_.id)).map(Some(_)),
        1 -> Gen.const(Some(run.last.id + 1)))
      deleted <- Gen.oneOf(0, 1)
    } yield (run, w.map(id => (id, deleted, if (deleted == 1) null else s"pre$key")))

  /** One run per entry of `lens`, over distinct keys in ascending order. */
  private def trialGen(lens: Seq[Gen[Int]]): Gen[Trial] =
    Gen.pick(lens.size, -500L to 500L).flatMap { picked =>
      val keys = picked.toList.sorted
      Gen.sequence[List[Run], Run](keys.zip(lens).map { case (k, len) => runGen(k, len) })
        .map(runs => Trial(runs.flatMap(_._1).toVector,
          keys.zip(runs).collect { case (k, (_, Some(row))) => k -> row }.toMap))
    }

  private val smallLen = Gen.frequency(4 -> Gen.choose(1, 4), 1 -> Gen.choose(20, 120))

  /** Load `pre` into both tables, apply the partition set-at-a-time to one
    * and record by record to the other, compare. */
  private def assertEquivalent(t: Trial, label: String): Unit = {
    Seq(setTable, oracleTable).foreach { tbl =>
      exec(url, s"DELETE FROM $tbl")
      withOwnConnection(url) { c =>
        val st = c.prepareStatement(
          s"INSERT INTO $tbl (entity_id, payload, last_id, deleted) VALUES (?, ?, ?, ?)")
        try t.pre.foreach { case (k, (id, del, p)) =>
          st.setLong(1, k); st.setString(2, p); st.setLong(3, id); st.setInt(4, del)
          st.executeUpdate()
        } finally st.close()
      }
    }
    val ignored = new JdbcWalSink(url, setTable).syncAll(t.part.iterator)
    val oracleIgnored = withOwnConnection(url)(c =>
      t.part.count(r => !syncOnce(c, oracleTable, r)).toLong)
    assert(ignored == oracleIgnored, s"$label: ignored count")
    assert(rows(url, setTable) == rows(url, oracleTable), s"$label: final rows")
  }

  test("syncAll == the per-record apply on random sorted partitions: rows and ignored count") {
    (1L to 40L).foreach { seed =>
      val keys = SparkTestBase.sampleGen(Gen.choose(1, 30), seed)
      val t = SparkTestBase.sampleGen(trialGen(Seq.fill(keys)(smallLen)), seed)
      assert(t.part.nonEmpty)
      assertEquivalent(t, s"seed $seed (${t.part.size} records, ${t.pre.size} stored rows)")
    }
  }

  test("syncAll == the per-record apply across chunk boundaries, with a run longer than a chunk") {
    val chunk = JdbcWalSink.ChunkRecords
    val lens = Seq(chunk / 2, 1, 3, chunk + chunk / 4, 2, chunk / 3, 1, chunk / 2)
      .map(n => Gen.const(n): Gen[Int])
    val t = SparkTestBase.sampleGen(trialGen(lens), 7L)
    assert(t.part.size > 2 * chunk)
    assertEquivalent(t, s"${t.part.size} records")
  }

  test("syncEntity is the one-record syncAll: applied, then already applied") {
    exec(url, s"DELETE FROM $setTable")
    val sink = new JdbcWalSink(url, setTable)
    assert(sink.syncEntity(WalRecord(5, 1, "ADD", "a")))
    assert(!sink.syncEntity(WalRecord(5, 1, "ADD", "a")), "a replay is already applied")
    assert(!sink.syncEntity(WalRecord(4, 1, "UPDATE", "old")), "an older record is already applied")
    assert(rows(url, setTable) == Map(1L -> ((5L, 0, "a"))))
  }

  test("unsorted input trips the sort require") {
    val sink = new JdbcWalSink(url, setTable)
    Seq(
      Seq(WalRecord(2, 1, "ADD", "a"), WalRecord(1, 1, "ADD", "b")), // ids descend within a key
      Seq(WalRecord(1, 2, "ADD", "a"), WalRecord(2, 1, "ADD", "b")), // keys descend
      Seq(WalRecord(1, 1, "ADD", "a"), WalRecord(2, 2, "ADD", "b"), WalRecord(3, 1, "ADD", "c"))
    ).foreach { part =>
      val e = intercept[IllegalArgumentException](sink.syncAll(part.iterator))
      assert(e.getMessage.contains("not sorted by (entityId, id)"), e.getMessage)
    }
  }

  /** Records every slice it is handed; reports each record as applied. */
  private final class SliceSink extends WalSink {
    val slices = new ConcurrentLinkedQueue[Vector[WalRecord]]()
    override def syncEntity(r: WalRecord): Boolean = syncAll(Iterator.single(r)) == 0
    override def syncAll(rows: Iterator[WalRecord]): Long = { slices.add(rows.toVector); 0L }
  }

  test("multiplex: one syncAll per type slice, in partition order; an unregistered type applies nothing") {
    val (users, orders) = (new SliceSink, new SliceSink)
    val mux = new MultiplexWalSink(Map("UserEntity" -> users, "OrderEntity" -> orders))
    val part = Vector(
      WalRecord(0, 1, "ADD", "u1", "UserEntity"), WalRecord(1, 1, "ADD", "o1", "OrderEntity"),
      WalRecord(4, 1, "UPDATE", "u1b", "UserEntity"), WalRecord(2, 2, "ADD", "u2", "UserEntity"),
      WalRecord(3, 3, "ADD", "o3", "OrderEntity"))
    assert(mux.syncAll(part.iterator) == 0L)
    assert(users.slices.asScala.toList == List(part.filter(_.entityType == "UserEntity")))
    assert(orders.slices.asScala.toList == List(part.filter(_.entityType == "OrderEntity")))

    val (u2, o2) = (new SliceSink, new SliceSink)
    val err = intercept[IllegalArgumentException] {
      new MultiplexWalSink(Map("UserEntity" -> u2, "OrderEntity" -> o2))
        .syncAll((part :+ WalRecord(9, 9, "ADD", "x", "GhostEntity")).iterator)
    }
    assert(err.getMessage.contains("no sink registered for entityType 'GhostEntity' (id=9)"),
      err.getMessage)
    assert(u2.slices.isEmpty && o2.slices.isEmpty, "no delegate may apply before the type check")
  }
}
