package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Tables

/** The S1–S7 streaming keys over the static events table (SURVEY.md
  * §2.3), so the time-window / late-data / dedup semantics join the
  * DuckDB oracle gate. A streaming query run over a static frame is the
  * same query (a batch plan drops the watermark), so s2, s3, s3b and s7
  * call the graft.streaming.Streams operators directly; StreamsSpec
  * covers their micro-batch behavior with MemoryStream golden tests.
  * s5 and s6 keep batch definitions of their own (each says why), and
  * watermark behavior itself is not batch-expressible (SURVEY.md §5).
  *
  * s1's batch analogue is c1_snapshot (same semantics, same oracle).
  *
  * All window starts are emitted as epoch milliseconds: Spark truncates
  * parquet ns-timestamps to µs while DuckDB keeps ns, so comparing raw
  * timestamps would diverge — epoch_ms truncation is engine-agnostic.
  */
object StreamingBatch {
  import Tables._
  import graft.streaming.Streams

  /** s1: the streaming stateful snapshot's batch equivalent — same
    * last-op-wins semantics as c1 (the stream/batch parity property in
    * StreamBatchParitySpec proves the streaming form
    * graft.streaming.Streams.snapshotStream agrees with this on any
    * micro-batch split). */
  def s1StreamSnapshot(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Changelog.c1Snapshot(spark, dir)

  /** s2: tumbling 1-hour windows (Spark `window()` aligns to the epoch,
    * which for whole hours equals date_trunc). */
  def s2Tumbling(spark: SparkSession, dir: String): DataFrame =
    Streams.tumblingCounts(events(spark, dir)).orderBy("start_ms", "event_type")

  /** s3: sliding 2h/1h windows — each event lands in 2 windows. */
  def s3Sliding(spark: SparkSession, dir: String): DataFrame =
    Streams.slidingCounts(events(spark, dir)).orderBy("start_ms")

  /** s3b: 30-minute-gap session windows per user (oracle =
    * gaps-and-islands). */
  def s3bSession(spark: SparkSession, dir: String): DataFrame =
    Streams.sessionCounts(events(spark, dir)).orderBy("user_id", "session_start_ms")

  /** s4: late-data accounting — events older than (global max ts −
    * [[Streams.Watermark]]), i.e. what the streaming operators' watermark
    * would drop if they arrived last. */
  def s4LateEvents(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
    val mx = ev.agg(max(col("ts")).as("mx"))
    ev.crossJoin(broadcast(mx))
      .filter(col("ts") < col("mx") - expr(s"INTERVAL ${Streams.Watermark}"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_late"))
      .orderBy("event_type")
  }

  /** s5: replay dedup — the WAL replayed twice collapses to one copy by id.
    * The streaming form (graft.streaming.Streams.dedupStream) cannot run
    * here: `dropDuplicatesWithinWatermark` is rejected on a batch frame. */
  def s5DedupReplay(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir).select(col("event_id"), col("user_id"))
    ev.union(ev)
      .dropDuplicates("event_id")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"))
      .orderBy("user_id")
  }

  /** s6: batch analogue of the stream-stream interval join — per purchase,
    * the number of same-user views in the preceding hour. A left join plus
    * a count, so it is not the streaming form
    * (graft.streaming.Streams.intervalJoin, an inner stream-stream join
    * with watermark-bounded state). */
  def s6IntervalJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"), col("ts").as("p_ts"))
    val v = ev.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"))
    p.join(v,
        col("p_user") === col("v_user") &&
          col("v_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") && col("v_ts") <= col("p_ts"),
        "left")
      .groupBy(col("p_id"), col("p_user"))
      .agg(sum(when(col("v_user").isNotNull, 1L).otherwise(0L)).as("n_views_1h"))
      .orderBy("p_id")
  }

  /** s7: the stream-static enrichment join
    * (graft.streaming.Streams.enrichStream) over the static events table —
    * every event looked up against the `nation` dimension (user_id mod 25
    * as the foreign key), aggregated per dimension attribute. */
  def s7StreamEnrich(spark: SparkSession, dir: String): DataFrame =
    Streams.enrichStream(events(spark, dir), nation(spark, dir),
        // C-style % on BOTH sides (Spark Remainder ≡ DuckDB %) — pmod
        // would silently diverge from the oracle on a negative key
        (col("user_id") % lit(25L)) === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n"), sum(cents(col("value"))).as("value_c"))
      .orderBy("n_name")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s1_stream_snapshot" -> s1StreamSnapshot,
    "s7_stream_enrich" -> s7StreamEnrich,
    "s6_interval_join" -> s6IntervalJoin,
    "s2_tumbling" -> s2Tumbling,
    "s3_sliding" -> s3Sliding,
    "s3b_session" -> s3bSession,
    "s4_late_events" -> s4LateEvents,
    "s5_dedup_replay" -> s5DedupReplay)

  val oracle: Map[String, String] = Map(
    "s1_stream_snapshot" -> graft.ops.Changelog.oracle("c1_snapshot"),
    "s7_stream_enrich" ->
      s"""SELECT n_name, count(*) AS n, CAST(sum(${centsSql("value")}) AS BIGINT) AS value_c
         |FROM events JOIN nation ON user_id % 25 = n_nationkey
         |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "s6_interval_join" ->
      """SELECT p.event_id AS p_id, p.user_id AS p_user,
        |  CAST(sum(CASE WHEN v.user_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_views_1h
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
        |  ON p.user_id = v.user_id
        | AND v.ts >= p.ts - INTERVAL 1 HOUR AND v.ts <= p.ts
        |GROUP BY p.event_id, p.user_id ORDER BY p_id""".stripMargin,
    "s2_tumbling" ->
      s"""SELECT epoch_ms(date_trunc('hour', ts)) AS start_ms, event_type,
         |  count(*) AS n, CAST(sum(${centsSql("value")}) AS BIGINT) AS value_c
         |FROM events GROUP BY 1, 2 ORDER BY start_ms, event_type""".stripMargin,
    "s3_sliding" ->
      """SELECT start_ms, count(*) AS n FROM (
        |  SELECT unnest([epoch_ms(date_trunc('hour', ts)) - 3600000,
        |                 epoch_ms(date_trunc('hour', ts))]) AS start_ms
        |  FROM events)
        |GROUP BY start_ms ORDER BY start_ms""".stripMargin,
    "s3b_session" ->
      """WITH x AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts >= lag(ts) OVER w + INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_s
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |y AS (
        |  SELECT user_id, ts,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM x)
        |SELECT user_id, min(epoch_ms(ts)) AS session_start_ms, count(*) AS n_events
        |FROM y GROUP BY user_id, sid ORDER BY user_id, session_start_ms""".stripMargin,
    "s4_late_events" ->
      """SELECT event_type, count(*) AS n_late FROM events
        |WHERE ts < (SELECT max(ts) FROM events) - INTERVAL 10 MINUTE
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "s5_dedup_replay" ->
      """SELECT user_id, count(*) AS n FROM (
        |  SELECT DISTINCT event_id, user_id FROM (
        |    SELECT event_id, user_id FROM events
        |    UNION ALL SELECT event_id, user_id FROM events))
        |GROUP BY user_id ORDER BY user_id""".stripMargin)
}
