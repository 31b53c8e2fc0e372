package graft.streaming

import java.nio.file.Path
import java.sql.{Connection, DriverManager}

/** Test-side JDBC helpers for the WAL sink specs: a fresh embedded Derby
  * database, target read-back, the last-op-per-key fold, and the
  * per-record apply oracle. */
object JdbcTestKit {
  /** One target row: (last_id, deleted, payload). */
  type TargetRow = (Long, Int, String)

  // Derby boots once per JVM and keeps the system home it booted with,
  // re-creating that dir whenever a later database is created — so the
  // home (where derby.log lands) is one dir under the build output, never
  // a spec's scratch dir, which is deleted when its suite ends
  System.setProperty("derby.system.home", new java.io.File("target/derby").getAbsolutePath)

  /** A fresh Derby database in the scratch dir `dir`: the dir as a string
    * and the database URL. */
  def freshDerby(dir: Path): (String, String) = {
    val tmp = dir.toString
    (tmp, s"jdbc:derby:$tmp/derby;create=true")
  }

  /** Run `f` on a connection of its own (autocommit), closed after. */
  def withOwnConnection[A](url: String)(f: Connection => A): A = {
    val c = DriverManager.getConnection(url)
    try f(c) finally c.close()
  }

  def exec(url: String, sql: String): Unit = withOwnConnection(url) { c =>
    val st = c.createStatement()
    try st.executeUpdate(sql) finally st.close()
  }

  /** Every row of a target table, read over a separate connection — what
    * any other reader of the target sees (committed state only). */
  def rows(url: String, table: String): Map[Long, TargetRow] = withOwnConnection(url) { c =>
    val st = c.createStatement()
    try {
      val rs = st.executeQuery(s"SELECT entity_id, last_id, deleted, payload FROM $table")
      val out = Map.newBuilder[Long, TargetRow]
      while (rs.next()) out += rs.getLong(1) -> ((rs.getLong(2), rs.getInt(3), rs.getString(4)))
      out.result()
    } finally st.close()
  }

  /** The target a log must leave behind: per key the last-op state
    * ([[Streams.applyRecords]]); DELETE leaves a tombstone. */
  def fold(recs: Seq[WalRecord]): Map[Long, TargetRow] =
    recs.groupBy(_.entityId).map { case (k, rs) =>
      val st = Streams.applyRecords(k, None, rs.iterator)
      k -> ((st.lastId, if (st.deleted) 1 else 0, st.payload))
    }

  /** The per-record apply, one record at a time: SELECT the key's
    * watermark, then INSERT or UPDATE unless the record is already
    * applied (watermark ≥ id). The reference for `JdbcWalSink.syncAll`'s
    * set-at-a-time collapse; `c` runs in autocommit. */
  def syncOnce(c: Connection, table: String, r: WalRecord): Boolean = {
    val sel = c.prepareStatement(s"SELECT last_id FROM $table WHERE entity_id = ?")
    val prev =
      try {
        sel.setLong(1, r.entityId)
        val rs = sel.executeQuery()
        try { if (rs.next()) Some(rs.getLong(1)) else None } finally rs.close()
      } finally sel.close()
    if (prev.exists(_ >= r.id)) false
    else {
      val deleted = if (r.operation == "DELETE") 1 else 0
      val payload = if (deleted == 1) null else r.payload
      val st =
        if (prev.isEmpty)
          c.prepareStatement(
            s"INSERT INTO $table (entity_id, payload, last_id, deleted) VALUES (?, ?, ?, ?)")
        else
          c.prepareStatement(
            s"UPDATE $table SET payload = ?, last_id = ?, deleted = ? WHERE entity_id = ?")
      try {
        if (prev.isEmpty) {
          st.setLong(1, r.entityId); st.setString(2, payload)
          st.setLong(3, r.id); st.setInt(4, deleted)
        } else {
          st.setString(1, payload); st.setLong(2, r.id)
          st.setInt(3, deleted); st.setLong(4, r.entityId)
        }
        st.executeUpdate()
      } finally st.close()
      true
    }
  }
}
