package graft.streaming

import java.io.IOException

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** One WAL record — the streaming mirror of the reference's `WalEntity`
  * (`/root/reference/src/main/java/ir/sahab/walconsumer/WalEntity.java:27-46`):
  * `id` is the IDENTITY log sequence number (total order materialized in
  * the data), `entityId` the key the mutation applies to, `operation` one
  * of ADD/UPDATE/DELETE (`Operation.java:6-10`), `payload` the entity
  * bytes (string here so tests stay readable), `entityType` the record's
  * type discriminator (`WalEntity.java:41-46` — the reference defaults it
  * to the entity subclass's simple name; here the base name, since a
  * single-type WAL never sets it). Entity-id spaces of DIFFERENT types
  * are independent (each reference subclass is its own table), so every
  * keyed view ([[Streams.snapshotStream]], [[SnapshotTable]], sinks)
  * consumes a SINGLE type: split a multiplexed stream with
  * [[Streams.forEntityType]] first — the Spark form of the reference's
  * consumer-per-entity-class registration. */
case class WalRecord(id: Long, entityId: Long, operation: String, payload: String,
    entityType: String = WalRecord.DefaultEntityType)

object WalRecord {
  /** Default discriminator — the reference's base-class simple name (its
    * constructor default when no subclass overrides it). */
  val DefaultEntityType = "WalEntity"
}

/** Current state of one entity after applying the log. */
case class EntityState(entityId: Long, payload: String, lastId: Long, deleted: Boolean)

/** The sink SPI — mirror of `WalEntityConsumerCallback.syncEntity`
  * (`/root/reference/src/main/java/ir/sahab/walconsumer/WalEntityConsumerCallback.java:10-17`):
  * apply one record to the external target; return false when the record
  * was already applied (idempotent replay detected); throw IOException on
  * transient target failure (caller retries). */
trait WalSink extends Serializable {
  def syncEntity(r: WalRecord): Boolean

  /** Apply one micro-batch partition, sorted by `(entityId, id)`
    * ([[Streams.foreachBatchSync]]'s contract), and return how many of its
    * records were already applied — exactly the count of `false` results
    * the records would get from `syncEntity` one at a time, in order
    * (duplicate ids and replays that straddle the stored watermark
    * included), so the `wal_num_ignored_already_done` meter does not
    * depend on how a sink applies the set. The default is that loop; a
    * sink overrides it to apply the partition set-at-a-time
    * ([[JdbcWalSink]]). Throws IOException on transient target failure;
    * the caller retries the whole batch. */
  def syncAll(rows: Iterator[WalRecord]): Long = {
    var ignored = 0L
    rows.foreach(r => if (!syncEntity(r)) ignored += 1)
    ignored
  }
}

/** Per-type physical-target resolution — the sink-side twin of the
  * reference's `WalConsumer.getTableName` (`WalConsumer.java:339-352`,
  * which maps each entity CLASS to its own physical table): one consumer
  * drains a multiplexed WAL and each record is dispatched to the sink
  * registered for its `entityType`. A record of an UNREGISTERED type
  * fails loudly (the reference makes this unrepresentable — a consumer
  * is constructed FOR a class; silently dropping a typed mutation would
  * be data loss, not leniency). Idempotency/retry contracts are the
  * delegates'; the dispatch itself is stateless and adds no retry
  * semantics of its own. */
final class MultiplexWalSink(sinks: Map[String, WalSink]) extends WalSink {
  require(sinks.nonEmpty, "at least one entityType -> sink binding required")

  private def sinkFor(r: WalRecord): WalSink =
    sinks.getOrElse(r.entityType,
      throw new IllegalArgumentException(
        s"no sink registered for entityType '${r.entityType}' (id=${r.id}); " +
          s"registered: ${sinks.keys.toSeq.sorted.mkString(", ")}"))

  override def syncEntity(r: WalRecord): Boolean = sinkFor(r).syncEntity(r)

  /** Splits the partition by `entityType` and hands each slice, still in
    * `(entityId, id)` order, to its delegate's `syncAll`. The partition is
    * buffered first so a record of an unregistered type fails before any
    * delegate applies anything. */
  override def syncAll(rows: Iterator[WalRecord]): Long = {
    val slices = rows.toVector.groupBy(_.entityType).toSeq
      .map { case (_, slice) => sinkFor(slice.head) -> slice }
    slices.map { case (sink, slice) => sink.syncAll(slice.iterator) }.sum
  }
}

/** One probe/changelog event for the temporal as-of stream (S9): the
  * events-table row shape (`event_id` is the log sequence number). */
case class ProbeEvent(eventId: Long, userId: Long, eventType: String)

/** S9 output: a purchase matched to the latest prior view of its user. */
case class AsofMatch(eventId: Long, userId: Long, priorViewId: Long)

/** The keyed state machine of the temporal as-of join (S9,
  * Streams.temporalAsofStream): per user, `view` events update a
  * one-long "latest view" register; `purchase` events read it as-of
  * their log position. Records inside one batch-key group are applied in
  * log order, so intra-batch view→purchase chains resolve exactly like
  * the batch q16/q16b. State is ONE long per key — the minimal temporal
  * table — and TTLConfig can bound it for keys that go cold. */
class TemporalAsofProcessor extends StatefulProcessor[Long, ProbeEvent, AsofMatch] {
  @transient private var latestView: ValueState[Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    latestView = getHandle.getValueState[Long](
      "latestView", Encoders.scalaLong, TTLConfig.NONE)

  override def handleInputRows(key: Long, rows: Iterator[ProbeEvent],
      timers: TimerValues): Iterator[AsofMatch] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[AsofMatch]
    rows.toSeq.sortBy(_.eventId).foreach { e =>
      e.eventType match {
        case "view" =>
          // ignore regressions: a replayed/late view must not rewind state
          if (!latestView.exists() || latestView.get() < e.eventId)
            latestView.update(e.eventId)
        case "purchase" =>
          out += AsofMatch(e.eventId, key,
            if (latestView.exists()) latestView.get() else -1L)
        case _ => ()
      }
    }
    out.iterator
  }
}

/** One arriving document for the budget-admission stream (S19):
  * `shard` is the deterministic budget slice its id hashes to. */
case class BudgetDoc(docId: Long, shard: Long, nTok: Long)

/** S19 output: the doc with its shard-local running total and the
  * admission verdict (1 = within the shard's budget). */
case class BudgetAdmit(docId: Long, shard: Long, nTok: Long, cumTok: Long, admitted: Long)

/** S19 state machine: per budget shard TWO longs — the running token
  * sum and the last admitted doc id. Docs inside a batch-key group fold
  * in doc_id order (the `rows.toSeq.sortBy` buffer is bounded by ONE
  * micro-batch's share of one shard — heap O(maxBatchRows/shards), the
  * feed-sizing knob, never stream-length), the sum advances
  * unconditionally (x65's prefix rule: admitted ⟺ the running total at
  * this doc stays within budget), and the verdict is a pure function of
  * the total — so the emission is exactly the per-shard prefix sum the
  * batch oracle computes with a partitioned window. CROSS-batch order is
  * a feed contract (the corpus replays in id order), not something this
  * processor can sort — so it is enforced as a loud invariant: the
  * `lastDoc` register rejects any arrival at-or-behind the shard's
  * high-water id rather than silently emitting wrong admission verdicts
  * off a reordered/re-listed feed. State never grows: two registers per
  * shard, however long the stream runs. */
class BudgetAdmitProcessor(shardBudget: Long)
  extends StatefulProcessor[Long, BudgetDoc, BudgetAdmit] {
  @transient private var cum: ValueState[Long] = _
  @transient private var lastDoc: ValueState[Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    cum = getHandle.getValueState[Long]("cum", Encoders.scalaLong, TTLConfig.NONE)
    lastDoc = getHandle.getValueState[Long]("lastDoc", Encoders.scalaLong, TTLConfig.NONE)
  }

  override def handleInputRows(key: Long, rows: Iterator[BudgetDoc],
      timers: TimerValues): Iterator[BudgetAdmit] = {
    var c = if (cum.exists()) cum.get() else 0L
    var hw = if (lastDoc.exists()) lastDoc.get() else Long.MinValue
    val out = rows.toSeq.sortBy(_.docId).map { d =>
      if (d.docId <= hw)
        throw new IllegalStateException(
          s"s19 feed ordering violated: shard $key saw doc ${d.docId} after $hw — " +
            "the budget prefix sum is only correct over an id-ordered replay")
      hw = d.docId
      c += d.nTok
      BudgetAdmit(d.docId, key, d.nTok, c, if (c <= shardBudget) 1L else 0L)
    }
    cum.update(c)
    lastDoc.update(hw)
    out.iterator
  }
}

/** One token occurrence in the heavy-hitter stream: `slot` is a
  * DETERMINISTIC hash of the token (`pmod(xxhash64(bg), P)`), so one
  * token always lands in one slot — the per-(lang, slot) summaries
  * partition the token space disjointly, and "merging" them back is a
  * plain union. `bg` rides as UTF-8 BYTES (r20): the summary is keyed
  * by UTF8String, so a String field forced a per-token decode at the
  * Dataset boundary plus a re-encode at `add` — the bytes pass through
  * untouched now. */
case class FreqToken(lang: String, slot: Int, bg: Array[Byte])

/** One per-batch emission of a (lang, slot) summary: `upd` is the
  * key's update ordinal (the gate keeps the row with the max), `cand`
  * the current Misra–Gries candidate SET. r20: the effective counts
  * were dropped from the emission — no consumer ever read them (the
  * verdict is exact-count-from-batch + membership, the q27 family
  * posture), and encoding k·|keys| map entries into every micro-batch's
  * sink rows was the gate's single largest avoidable cost. */
case class FreqSummaryEmit(lang: String, slot: Int, upd: Long, cand: Seq[String])

/** S10 state machine: one [[graft.functions.MGSummary]] per (lang, slot),
  * carried across micro-batches as its serialized form (the same bytes
  * the batch aggregate ships through the shuffle), re-emitted after every
  * batch that touches the key. The one-sided MG guarantee is
  * arrival-order-independent, which is the only property the gate's
  * verdict row reads — the candidate SET may differ between runs at the
  * boundary, exactly like the batch q27 family. */
class FreqStreamProcessor(k: Int)
  extends StatefulProcessor[(String, Int), FreqToken, FreqSummaryEmit] {
  @transient private var summary: ValueState[Array[Byte]] = _
  @transient private var updates: ValueState[Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    summary = getHandle.getValueState[Array[Byte]](
      "summary", Encoders.BINARY, TTLConfig.NONE)
    updates = getHandle.getValueState[Long](
      "updates", Encoders.scalaLong, TTLConfig.NONE)
  }

  override def handleInputRows(key: (String, Int), rows: Iterator[FreqToken],
      timers: TimerValues): Iterator[FreqSummaryEmit] = {
    val m =
      if (summary.exists()) graft.functions.MGSummary.deserialize(k, summary.get())
      else new graft.functions.MGSummary(k)
    rows.foreach(t => m.add(org.apache.spark.unsafe.types.UTF8String.fromBytes(t.bg)))
    summary.update(m.serialize())
    val upd = (if (updates.exists()) updates.get() else 0L) + 1L
    updates.update(upd)
    val cand = m.counts.map(_._1.toString).toSeq
    Iterator.single(FreqSummaryEmit(key._1, key._2, upd, cand))
  }
}

/** One CDC record for the SCD2 maintenance stream (S12): the events-row
  * shape with the timestamp pre-projected to epoch millis. */
case class Scd2Record(eventId: Long, tsMs: Long, userId: Long, op: String, value: Double)

/** One emitted SCD2 version (S12). `validToId == -1` while the version
  * is open; a later record for the key RE-EMITS the version closed, so
  * the append stream is a CDC-out feed a warehouse upserts by the
  * (userId, validFromId) version key — consumers keep the row with the
  * max validToId (closed beats open: real ids are nonnegative). */
case class Scd2Version(userId: Long, validFromId: Long, validToId: Long,
    validFromMs: Long, op: String, value: Double)

/** S12 state machine: continuous SCD2 maintenance — the streaming twin
  * of the batch interval build ([[graft.ops.Changelog.scd2Of]]). State
  * per key is ONE open version (the same O(1)-per-key footing as the
  * temporal as-of register): each arriving record closes the open
  * version (re-emitting it with its valid_to) and opens its own. A
  * replayed/late record at-or-behind the open version is ignored rather
  * than rewinding emitted intervals (at-least-once posture — emitted
  * closed versions are immutable history). Records inside one batch-key
  * group apply in log order, so intra-batch version chains come out
  * exactly like the batch window. */
class Scd2Processor extends StatefulProcessor[Long, Scd2Record, Scd2Version] {
  @transient private var open: ValueState[Scd2Version] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    open = getHandle.getValueState[Scd2Version](
      "open", Encoders.product[Scd2Version], TTLConfig.NONE)

  override def handleInputRows(key: Long, rows: Iterator[Scd2Record],
      timers: TimerValues): Iterator[Scd2Version] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Scd2Version]
    var cur = if (open.exists()) Some(open.get()) else None
    rows.toSeq.sortBy(_.eventId).foreach { r =>
      if (cur.forall(_.validFromId < r.eventId)) {
        cur.foreach(v => out += v.copy(validToId = r.eventId))
        val opened = Scd2Version(key, r.eventId, -1L, r.tsMs, r.op, r.value)
        out += opened
        cur = Some(opened)
      }
    }
    cur.foreach(open.update)
    out.iterator
  }
}

/** S1–S5 (SURVEY.md §2.3): the reference's consume loop
  * (`WalConsumer.java:130-179`) re-expressed as Structured Streaming.
  *
  * Delivery-guarantee mapping (SURVEY.md §2.1 R3–R7): the reference holds a
  * global `SELECT … FOR UPDATE` row lock so exactly one record is in flight
  * across all consumers; Spark instead gives each micro-batch checkpointed
  * offsets + single-writer `foreachBatch`, and we preserve the OBSERVABLE
  * contract — per-entity ordered apply + at-least-once delivery into an
  * idempotent sink = exactly-once effect. The global serialization itself is
  * deliberately relaxed (it is the reference's scalability ceiling, one
  * record per two RDBMS transactions; `WalConsumer.java:185-193`).
  *
  * One definition per streaming concept: the S2, S3, S3b and S7
  * operators below are also the registered batch keys
  * ([[graft.ops.StreamingBatch]]) — the same query run over the static
  * events table. S5 and S6 keep a separate batch definition (each says
  * why).
  */
object Streams {

  /** The WAL-apply state machine of [[snapshotStream]] (and the test
    * oracles' per-key fold): the record with the highest id in the batch
    * wins (every applied op overwrites the whole state, so the ordered
    * fold reduces to max-id — one O(n) pass, no per-key sort or buffer);
    * replays (id ≤ lastId) are ignored — the reference's "already done"
    * detection (`WalConsumer.java:271-278`). Unknown operation strings
    * fail loudly: the reference's `Operation` enum made garbage
    * unrepresentable, so silently upserting a malformed record would be
    * a semantic hole, not leniency. */
  def applyRecords(key: Long, prev: Option[EntityState],
      recs: Iterator[WalRecord]): EntityState = {
    val cur = prev.getOrElse(EntityState(key, null, -1L, deleted = true))
    var top: WalRecord = null
    recs.foreach { r =>
      if (r.operation != "ADD" && r.operation != "UPDATE" && r.operation != "DELETE")
        throw new IllegalArgumentException(
          s"unknown WAL operation '${r.operation}' (id=${r.id}, entity=$key)")
      if (top == null || r.id > top.id) top = r
    }
    if (top == null || top.id <= cur.lastId) cur
    else if (top.operation == "DELETE") EntityState(key, null, top.id, deleted = true)
    else EntityState(key, top.payload, top.id, deleted = false)
  }

  /** Select one entity type's sub-log from a multiplexed WAL — the Spark
    * form of the reference's consumer-per-entity-class registration
    * (`WalConsumer.java:339-352`: each consumer instance is constructed
    * for ONE entity class and reads only that class's records). A plain
    * column predicate so it reaches the source scan (parquet WAL dirs
    * prune row groups on it; a JDBC WAL pushes it into the WHERE clause)
    * — each of N per-type consumers reads its own slice, not N copies of
    * the whole log. Keyed consumers ([[snapshotStream]], [[SnapshotTable]],
    * [[foreachBatchSync]] targets) assume a single-type input because
    * entity-id spaces of different types are independent; route through
    * this first. */
  def forEntityType(records: Dataset[WalRecord], tpe: String): Dataset[WalRecord] = {
    import records.sparkSession.implicits._
    records.filter(col("entityType") === tpe).as[WalRecord]
  }

  /** S1: stateful changelog → current-state view via
    * flatMapGroupsWithState. Emits the post-batch state of each touched
    * key (Update mode). Runs on either state-store provider (HDFS-backed
    * default or RocksDB).
    *
    * State-growth note: deleted keys keep a tombstone (lastId marker) so
    * late replays stay detectable, and that state grows with every key
    * ever deleted. Timer-based eviction (ProcessingTimeTimeout) turned
    * out to busy-loop the micro-batch engine while timers are pending, so
    * the supported mitigation at scale is periodic state re-bootstrap:
    * stop the query, materialize current state with [[SnapshotTable]]
    * (tombstones drop out of the merge), and restart the stream from the
    * materialized snapshot + fresh checkpoint past the replay horizon. */
  def snapshotStream(records: Dataset[WalRecord]): Dataset[EntityState] = {
    import records.sparkSession.implicits._
    records
      .groupByKey(_.entityId)
      .flatMapGroupsWithState[EntityState, EntityState](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (key: Long, recs: Iterator[WalRecord], state: GroupState[EntityState]) =>
          val cur = applyRecords(key, state.getOption, recs)
          state.update(cur)
          Iterator.single(cur)
      }
  }

  /** The consume loop body as a foreachBatch function: per-entity, in id
    * order, at-least-once into the idempotent sink; transient IOException
    * retried with backoff, forever (`WalConsumer.java:259-269`,
    * sleepMillisOnIoFailure). Returns the writer to attach:
    * `ds.writeStream.foreachBatch(foreachBatchSync(sink, retrySleepMs))`.
    *
    * Each partition is co-located by `entityId`, sorted by
    * `(entityId, id)`, and handed to the sink in ONE `WalSink.syncAll`
    * call — the sink sees whole per-key runs and may apply them
    * set-at-a-time ([[JdbcWalSink]] collapses each run to its last op);
    * a sink without an override gets the per-record `syncEntity` loop.
    *
    * The retry loop runs DRIVER-side around the whole batch, not inside
    * the executor closure: a task stuck in an in-closure retry loop is
    * invisible to the driver (no metrics, no accumulator flush, no
    * cancellation), whereas a failed-and-replayed batch is safe because
    * the sink contract makes re-applies detectable (`false` = already
    * done). `onIoFailure`/`onRecovered` let the owner surface the outage
    * (WalPipeline wires them to the INACCESSIBLE_IO_FAILURE gauge —
    * reference state semantics, `WalConsumer.java:137-142, 354-359`).
    *
    * `onApplied(batchId, records, ignored)` runs once per
    * successfully-applied batch, before the batch commits: `records` is
    * the number of records the batch handed the sink (the
    * `wal_num_synchronized` meter), `ignored` the number the sink
    * reported as already applied (the sum of the partitions' `syncAll`
    * counts, per record as `syncEntity == false` would count them) — the
    * reference's `wal_num_ignored_already_done` meter
    * (`WalConsumer.java:271-278`), its replay-observability signal. Both
    * are counted in the same partition pass with per-attempt
    * LongAccumulators, so a batch that fails mid-apply and is retried
    * reports only the successful attempt's counts. */
  def foreachBatchSync(sink: WalSink, retrySleepMs: Long = 1000L,
      onIoFailure: () => Unit = () => (), onRecovered: () => Unit = () => (),
      onApplied: (Long, Long, Long) => Unit = (_, _, _) => ())
      : (Dataset[WalRecord], Long) => Unit = { (batch, batchId) =>
    // depth-bounded cause walk: a cyclic cause chain (initCause loops are
    // constructible) must classify as non-IO, not blow the stack inside
    // the catch guard
    def isIo(t: Throwable, depth: Int = 16): Boolean =
      t != null && depth > 0 &&
        (t.isInstanceOf[IOException] || isIo(t.getCause, depth - 1))
    var done = false
    var failedBefore = false
    while (!done) {
      val records = batch.sparkSession.sparkContext.longAccumulator
      val ignored = batch.sparkSession.sparkContext.longAccumulator
      try {
        batch
          .repartition(col("entityId")) // co-locate each key; parallel across keys
          .sortWithinPartitions(col("entityId"), col("id")) // ordered apply per key
          .foreachPartition { (rows: Iterator[WalRecord]) =>
            var n = 0L
            ignored.add(sink.syncAll(rows.map { r => n += 1; r }))
            records.add(n)
          }
        done = true
        onApplied(batchId, records.value, ignored.value)
        if (failedBefore) onRecovered()
      } catch {
        case e: Throwable if isIo(e) => // transient target outage: retry forever
          failedBefore = true
          onIoFailure()
          Thread.sleep(retrySleepMs)
      }
    }
  }

  /** The event-time watermark delay of every windowed, dedup and join
    * operator below, and the late-data horizon of the batch s4 key
    * ([[graft.ops.StreamingBatch.s4LateEvents]]). */
  val Watermark = "10 minutes"

  /** S2: tumbling 1-hour event-time window counts and scaled value sums
    * under the watermark. Also the registered `s2_tumbling` key over the
    * static events table: a batch plan drops the watermark
    * (`EliminateEventTimeWatermark`), so the two are one query. */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", Watermark)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(graft.model.Tables.cents(col("value"))).as("value_c"))
      .select(unix_millis(col("window.start")).as("start_ms"), col("event_type"),
        col("n"), col("value_c"))

  /** S3: sliding 2-hour/1-hour windows — each event lands in 2 windows.
    * Also the registered `s3_sliding` key (see [[tumblingCounts]]). */
  def slidingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", Watermark)
      .groupBy(window(col("ts"), "2 hours", "1 hour"))
      .agg(count(lit(1)).as("n"))
      .select(unix_millis(col("window.start")).as("start_ms"), col("n"))

  /** S3b: 30-minute-gap session windows per user. A new session starts
    * iff ts ≥ prev + gap (Spark merges only strictly-overlapping
    * [ts, ts+gap) intervals). Also the registered `s3b_session` key (see
    * [[tumblingCounts]]). */
  def sessionCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", Watermark)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        unix_millis(col("session_window.start")).as("session_start_ms"), col("n_events"))

  /** S6: stream-stream interval join — purchases matched to the same
    * user's views within the preceding hour. Both sides carry watermarks
    * so the join state is bounded: a buffered view can be evicted once
    * the purchase-side watermark passes view.ts + 1h. An inner join; the
    * registered `s6_interval_join` key is its own batch definition, a
    * left join plus a per-purchase view count. */
  def intervalJoin(purchases: DataFrame, views: DataFrame): DataFrame = {
    val p = purchases.withWatermark("p_ts", Watermark)
    val v = views.withWatermark("v_ts", Watermark)
    p.join(v,
      expr("""p_user = v_user AND
              v_ts >= p_ts - INTERVAL 1 HOUR AND v_ts <= p_ts"""))
  }

  /** S7: stream-static enrichment — dimension lookup on a live stream.
    * The static side is re-resolved and broadcast on EVERY micro-batch
    * (so a dim refresh between batches is picked up), and the join is
    * state-free — unlike stream-stream joins there is no watermark
    * bookkeeping. The registered `s7_stream_enrich` key runs it over the
    * static events table and aggregates per dimension attribute. */
  def enrichStream(records: DataFrame, dim: DataFrame,
      on: org.apache.spark.sql.Column): DataFrame =
    records.join(broadcast(dim), on)

  /** S9: temporal as-of join — the streaming twin of the batch q16/q16b
    * (and of Flink's temporal table join): the `view` sub-stream is a
    * changelog that maintains a per-user temporal table (latest view id),
    * and each `purchase` probes it as-of its own log position. Built on
    * transformWithState ([[TemporalAsofProcessor]]); one shuffle on the
    * key, O(1) state per key, no join buffering — where a stream-stream
    * interval join (S6) must retain BOTH sides within the watermark, the
    * temporal form retains one register per key regardless of rate.
    * Exactly the q16 result when events arrive in log order (the WAL
    * contract); a late view older than the register is ignored rather
    * than rewinding emitted matches (at-least-once posture). */
  def temporalAsofStream(events: Dataset[ProbeEvent]): Dataset[AsofMatch] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.userId)
      .transformWithState(new TemporalAsofProcessor, TimeMode.None(), OutputMode.Append())
  }

  /** S12: continuous SCD2 maintenance ([[Scd2Processor]]) — changelog in,
    * version-interval CDC feed out. One shuffle on the key, one open
    * version of state per key regardless of history length (closed
    * intervals leave the state store the moment they're emitted — at
    * 100 TB the interval TABLE lives in the warehouse the append stream
    * feeds, never in state). Equals the batch c7 build when records
    * arrive in log order (the WAL contract). */
  def scd2Stream(records: Dataset[Scd2Record]): Dataset[Scd2Version] = {
    import records.sparkSession.implicits._
    records
      .groupByKey(_.userId)
      .transformWithState(new Scd2Processor, TimeMode.None(), OutputMode.Append())
  }

  /** S10: continuous heavy-hitter tracking — the streaming twin of the
    * batch q27c: per-(lang, slot) Misra–Gries summaries maintained in
    * transformWithState state across micro-batches. The slot is a
    * deterministic token hash, so the P summaries per language cover
    * DISJOINT token sub-universes: state updates shuffle over G×P keys
    * (no single-task group funnel — the q23 hot-key problem designed out
    * of the state layer), and the final per-language candidate set is
    * the plain union of its slots, no MG pruning at read time. Guarantee
    * per token: undercount ≤ N_slot/(k+1) ≤ N_group/(k+1) — at least as
    * strong as the batch aggregate's. */
  def freqStream(tokens: Dataset[FreqToken], k: Int): Dataset[FreqSummaryEmit] = {
    import tokens.sparkSession.implicits._
    tokens
      .groupByKey(t => (t.lang, t.slot))
      .transformWithState(new FreqStreamProcessor(k), TimeMode.None(), OutputMode.Append())
  }

  /** S5: replay suppression by id within the watermark — the streaming
    * form of the reference's "already done" dedup. Streaming only:
    * `dropDuplicatesWithinWatermark` is rejected on a batch frame, so
    * the registered `s5_dedup_replay` key is its own batch definition. */
  def dedupStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", Watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** S8: continuous-ingest novelty screening — the streaming twin of the
    * batch x36: each arriving document is scored against a BLOOM FILTER
    * of the static corpus's 3-gram index, built once driver-side
    * (`DataFrameStatFunctions.bloomFilter`) and planted as a PLAN
    * LITERAL under Spark's native `might_contain` probe
    * ([[graft.functions.BloomProbe.countMaybeHits]] — the q26 form; the
    * literal ships with the task binaries like a broadcast would, and no
    * ScalaUDF enters the stream plan). The bloom is built over
    * `xxhash64(gram)` longs — the domain the builtin probes — and the
    * probe side applies the same hash inside a HOF fold, so build and
    * probe agree per gram. The stream side is completely STATELESS —
    * per-row gram hashing plus an O(1) membership probe, no streaming
    * aggregation, no state store, no watermark — which is what lets it
    * run at ingest line rate; the bloom's one-sided error only ever
    * UNDERcounts novelty (a false positive claims a gram was seen), so
    * `novelty_per_1000` is a lower bound and the `is_novel` screen errs
    * toward keeping the pairwise verify stage in the loop. At a 100 TB
    * index you size `expectedNumItems`/`fpp` (bits ≈ -n·ln(fpp)/ln²2) or
    * shard the stream by gram hash into the batch x36 shape instead. */
  def noveltyStream(spark: SparkSession, docs: DataFrame, indexDocs: DataFrame,
      fpp: Double = 0.001): DataFrame = {
    val grams3 = graft.ops.PipelineOps.gramHashes(3)
    // NOT distinct'd: a bloom is a set, so deduplicating its input only
    // mattered for expectedNumItems sizing. Sizing now comes from a
    // single-row approx_count_distinct over the same frame (+50%
    // headroom, 10× the sketch's rsd — a tail-case sketch underestimate
    // inside that margin cannot undersize the filter; past it the
    // realized false-positive rate degrades smoothly above `fpp`, which
    // is therefore a TARGET under sketch-based sizing, not a bound) —
    // near-distinct bits on repetitive corpora where the raw occurrence
    // count would inflate the filter, and still no shuffle anywhere in
    // the build: the sizing aggregate and the bloom aggregation are two
    // shuffle-free passes over one persisted gram-hash frame.
    val idx = indexDocs
      .select(graft.ops.TextOps.toks(col("text")).as("w"))
      .select(explode(grams3).as("g"))
      .select(xxhash64(col("g")).as("h"))
      .persist()
    val bloomBytes =
      try {
        val n = idx.agg(approx_count_distinct(col("h"), 0.05)).collect()(0).getLong(0)
        require(n >= 0, s"negative distinct-gram estimate: $n")
        val capacity = math.max(n + n / 2, 1L)
        val sc = spark.sparkContext
        val prevDesc = sc.getLocalProperty("spark.job.description")
        sc.setJobDescription(
          s"noveltyStream bloom build: capacity=$capacity fpp=$fpp (est n=$n)")
        val bloom =
          try idx.stat.bloomFilter("h", capacity, fpp)
          finally sc.setJobDescription(prevDesc)
        val bos = new java.io.ByteArrayOutputStream()
        bloom.writeTo(bos)
        bos.toByteArray
      } finally idx.unpersist()
    docs
      .select(col("doc_id"), graft.ops.TextOps.toks(col("text")).as("w"))
      .select(col("doc_id"), grams3.as("gs"))
      .select(col("doc_id"),
        size(col("gs")).cast("long").as("n_keys"),
        graft.functions.BloomProbe.countMaybeHits(bloomBytes, col("gs")).as("n_maybe_hit"))
      .select(col("doc_id"), col("n_keys"), col("n_maybe_hit"),
        // same verdict math as the batch twin: exact integer fdiv, shared cut
        when(col("n_keys") === 0, 1000L)
          .otherwise(graft.model.Tables.fdiv(
            lit(1000L) * (col("n_keys") - col("n_maybe_hit")), col("n_keys")))
          .as("novelty_per_1000"))
      .withColumn("is_novel",
        when(col("novelty_per_1000") >= graft.ops.PipelineOps.x36NoveltyCut, 1L).otherwise(0L))
  }
}
