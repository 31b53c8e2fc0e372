package graft.streaming

import java.io.IOException
import java.sql.{Connection, SQLException}

import scala.collection.concurrent.TrieMap
import scala.collection.mutable
import scala.util.Using

/** JDBC target for the WAL consumer — the reference's motivating fan-out
  * scenario (`/root/reference/README.md:15-17`: transfer the changes to
  * "another relational database, a NoSQL database, ... a queue"): each
  * WAL record is applied to a relational table with last-applied-id
  * idempotency, so at-least-once delivery yields exactly-once row state
  * (the same contract the reference's callback keeps via its own
  * bookkeeping, `WalEntityConsumerCallback.java:10-17`).
  *
  * Target table shape: `(entity_id BIGINT PRIMARY KEY, payload VARCHAR,
  * last_id BIGINT, deleted INT)`. DELETE keeps a TOMBSTONE row (deleted
  * = 1) rather than removing it: the idempotency watermark must survive
  * the delete, or a replayed earlier record would resurrect the entity.
  * Readers filter `deleted = 0` (see the RecoverySpec fan-out e2e, which
  * reads back through Spark's jdbc source).
  *
  * Apply path: set-at-a-time, one partition per [[syncAll]] call. The
  * partition must be sorted by `(entityId, id)` — [[Streams.foreachBatchSync]]'s
  * contract, checked with a `require`. It is walked in chunks of about
  * `ChunkRecords` records, cut only at key boundaries, so a key's run
  * never spans two transactions; the chunk bounds both the buffered
  * records and the transaction size. Per chunk, each key's run collapses
  * to its LAST record (every applied op overwrites the whole row, so the
  * ordered fold reduces to the max id — `c9_compact` semantics); one
  * hoisted prepared SELECT reads each key's `last_id` watermark `w`;
  * new keys are batched as INSERTs and known keys whose last id is above
  * `w` as UPDATEs; one `executeBatch` per statement and ONE commit. A
  * failed chunk is rolled back whole, so a retry never sees half a chunk.
  * The replay rule is per record as before: a record is already applied
  * when the watermark is ≥ its id — on a lastId TIE the stored row wins,
  * mirroring SnapshotTable.merge and the reference's redo detection
  * (`WalHeadHandle.java:29-42`). [[syncEntity]] is the one-record chunk.
  *
  * Connections are pooled per URL, JVM-wide, and held per chunk
  * transaction: [[Streams.foreachBatchSync]] applies partitions from
  * executor threads, and JDBC connections are not safe for concurrent
  * use, so partitions buffer their chunks in parallel and take turns
  * writing them. Per-entity ordering is the batch's repartition+sort
  * contract; cross-entity interleaving is fine because rows are
  * independent. A driver for the URL must be on the executor classpath
  * (DriverManager's ServiceLoader finds it — Derby/Postgres/MySQL all
  * register themselves). */
final class JdbcWalSink(url: String, table: String) extends WalSink {
  import JdbcWalSink._
  require(table.matches("[A-Za-z_][A-Za-z0-9_]*"), s"unsafe table name: $table")

  override def syncEntity(r: WalRecord): Boolean = syncAll(Iterator.single(r)) == 0

  /** Returns the records already applied: for a key whose run has `n`
    * records over a stored watermark `w`, `n − |distinct ids > w|` —
    * what the per-record loop counts, duplicate ids included.
    *
    * SQL failures are rethrown as IOException: the consume loop's
    * retry-forever contract ([[Streams.foreachBatchSync]], mirroring the
    * reference's sleepMillisOnIoFailure) is keyed on IO — without this
    * translation a transient JDBC outage (connection refused, table
    * briefly absent mid-migration, failover) would KILL the query
    * instead of parking it in INACCESSIBLE_IO_FAILURE until the target
    * returns. Committed chunks stay idempotent across retries by the
    * watermark, so at-least-once redelivery after an outage is safe. */
  override def syncAll(rows: Iterator[WalRecord]): Long = {
    val chunk = new Chunk
    var ignored = 0L
    var prev: WalRecord = null
    rows.foreach { r =>
      val newKey = prev == null || r.entityId != prev.entityId
      if (prev != null)
        require(r.entityId > prev.entityId || (!newKey && r.id >= prev.id),
          s"partition not sorted by (entityId, id): (${prev.entityId}, ${prev.id}) " +
            s"then (${r.entityId}, ${r.id})")
      if (newKey && chunk.records >= ChunkRecords) { ignored += write(chunk); chunk.clear() }
      chunk.add(r, newKey)
      prev = r
    }
    if (chunk.records > 0) ignored += write(chunk)
    ignored
  }

  /** One chunk, one transaction; returns its already-applied count. */
  private def write(chunk: Chunk): Long =
    try withConnection(url) { c =>
      inTransaction(c) {
        Using.Manager { use =>
          val sel = use(c.prepareStatement(s"SELECT last_id FROM $table WHERE entity_id = ?"))
          val ins = use(c.prepareStatement(
            s"INSERT INTO $table (entity_id, payload, last_id, deleted) VALUES (?, ?, ?, ?)"))
          val upd = use(c.prepareStatement(
            s"UPDATE $table SET payload = ?, last_id = ?, deleted = ? WHERE entity_id = ?"))
          var ignored = 0L
          var inserts, updates = 0
          chunk.runs.foreach { run =>
            sel.setLong(1, run.entityId)
            val rs = sel.executeQuery()
            val w = try { if (rs.next()) Some(rs.getLong(1)) else None } finally rs.close()
            ignored += run.n - chunk.idsAbove(run, w)
            val top = run.top
            val deleted = if (top.operation == "DELETE") 1 else 0
            val payload = if (deleted == 1) null else top.payload
            if (w.isEmpty) {
              ins.setLong(1, top.entityId); ins.setString(2, payload)
              ins.setLong(3, top.id); ins.setInt(4, deleted)
              ins.addBatch(); inserts += 1
            } else if (top.id > w.get) {
              upd.setString(1, payload); upd.setLong(2, top.id)
              upd.setInt(3, deleted); upd.setLong(4, top.entityId)
              upd.addBatch(); updates += 1
            }
          }
          if (inserts > 0) ins.executeBatch()
          if (updates > 0) upd.executeBatch()
          ignored
        }.get
      }
    } catch { case e: SQLException =>
      throw new IOException(s"jdbc target unavailable: ${e.getMessage}", e)
    }
}

object JdbcWalSink {
  /** Records buffered per chunk transaction (a chunk closes at the first
    * key boundary at or past it). Bounds memory and transaction size. */
  private[streaming] val ChunkRecords = 4096

  /** One key's run within a chunk: its record count, the record that
    * wins (the first with the max id, as the per-record loop keeps it),
    * and the slice `[from, until)` of the chunk's distinct ids. */
  private final class Run(val entityId: Long, var top: WalRecord, val from: Int) {
    var n = 0L
    var until: Int = from
  }

  /** A chunk of consecutive per-key runs, with each run's distinct ids
    * (ascending, as the sort delivers them) in one flat array. */
  private final class Chunk {
    val runs = mutable.ArrayBuffer.empty[Run]
    var records = 0
    private var ids = new Array[Long](ChunkRecords)

    def add(r: WalRecord, newKey: Boolean): Unit = {
      val size = if (runs.isEmpty) 0 else runs.last.until
      if (newKey) runs += new Run(r.entityId, r, size)
      val run = runs.last
      run.n += 1
      records += 1
      if (run.until == run.from || ids(run.until - 1) != r.id) {
        if (size == ids.length) ids = java.util.Arrays.copyOf(ids, size * 2)
        ids(size) = r.id
        run.until += 1
      }
      if (r.id > run.top.id) run.top = r
    }

    /** How many of the run's distinct ids are above the watermark (all of
      * them for a key with no row yet). */
    def idsAbove(run: Run, w: Option[Long]): Int = {
      var i = run.until
      while (i > run.from && w.forall(ids(i - 1) > _)) i -= 1
      run.until - i
    }

    def clear(): Unit = { runs.clear(); records = 0 }
  }

  /** Run `f` as one transaction: commit on success; on any failure roll
    * back (a rollback error is suppressed into the original) and rethrow.
    * Autocommit is restored either way, so the pooled connection is left
    * as every other user expects it. */
  private def inTransaction[A](c: Connection)(f: => A): A = {
    c.setAutoCommit(false)
    try {
      val a = f
      c.commit()
      a
    } catch { case t: Throwable =>
      try c.rollback() catch { case e: SQLException => t.addSuppressed(e) }
      throw t
    } finally c.setAutoCommit(true)
  }

  /** One connection per URL for the whole JVM (local mode: driver and
    * executors share it). Never closed explicitly — embedded engines
    * (Derby) tear down with the JVM, and server connections die with the
    * process; a closed/broken entry is replaced on next use. */
  private val pool = TrieMap.empty[String, Connection]

  private def connection(url: String): Connection = {
    val c = pool.getOrElseUpdate(url, java.sql.DriverManager.getConnection(url))
    if (c.isClosed) { pool.remove(url, c); connection(url) } else c
  }

  private def withConnection[A](url: String)(f: Connection => A): A = {
    val c = connection(url)
    c.synchronized(f(c))
  }

  /** Create the target table if absent (idempotent — the DDL a real
    * deployment runs once, a test calls before starting the pipeline). */
  def ensureTable(url: String, table: String): Unit = withConnection(url) { c =>
    val meta = c.getMetaData.getTables(null, null, table.toUpperCase, null)
    val exists = try meta.next() finally meta.close()
    if (!exists) {
      val st = c.createStatement()
      try st.executeUpdate(
        s"""CREATE TABLE $table (
           |  entity_id BIGINT PRIMARY KEY,
           |  payload VARCHAR(32672),
           |  last_id BIGINT NOT NULL,
           |  deleted INT NOT NULL)""".stripMargin)
      finally st.close()
    }
  }
}
