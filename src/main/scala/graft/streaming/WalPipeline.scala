package graft.streaming

import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}

/** Consumer states — mirror of the reference's WalState enum
  * (`/root/reference/src/main/java/ir/sahab/walconsumer/WalConsumer.java:354-359`). */
object WalState extends Enumeration {
  val NONE, EMPTY, NOT_EMPTY, INACCESSIBLE_IO_FAILURE = Value
}

/** Observability — mirror of the reference's metric set
  * (`WalConsumer.java:49-54, 78-98`): `wal_state`, `wal_num_records` (per
  * batch, replacing the 60 s cached COUNT gauge), `wal_not_empty_seconds`
  * (lag-age proxy), `wal_num_synchronized` meter. The record counts come
  * from the apply loop ([[Streams.foreachBatchSync]]'s `onApplied`:
  * the records of the batch's successful attempt, so a retried batch
  * counts once); a StreamingQueryListener turns them into the per-batch
  * gauges instead of per-record RDBMS queries.
  *
  * Also the reporter — the reference's JmxReporter analog
  * (`WalConsumer.java:106-114`, which registers every gauge/meter with a
  * JMX reporter at consumer construction): after each newly absorbed
  * batch updates the gauges, [[gauges]] is handed to `emit` — a log line
  * by default ([[WalMetrics.logEmit]]); a Prometheus/StatsD/JMX push in
  * production (the key set is stable, asserted by ObservabilitySpec).
  * One listener updates and emits, so the emitted snapshots are exactly
  * the per-batch series. */
final class WalMetrics(emit: Map[String, Long] => Unit)
  extends StreamingQueryListener with Serializable {
  val numSynchronized = new AtomicLong(0)
  val numIoFailures = new AtomicLong(0)
  val lastBatchRows = new AtomicLong(0)
  /** Records the sink reported as already applied (the `WalSink.syncAll`
    * counts, per record as `syncEntity == false` would count them)
    * — the reference's `wal_num_ignored_already_done` meter
    * (`WalConsumer.java:271-278`). */
  val numIgnoredAlreadyDone = new AtomicLong(0)
  val state = new AtomicReference[WalState.Value](WalState.NONE)
  @volatile private var notEmptySinceMs: Long = -1L
  /** Set by the owning pipeline; events from other queries on the same
    * session are ignored (a session-wide listener would otherwise report
    * a neighbor query's failure as this WAL's state). */
  @volatile private[streaming] var queryId: java.util.UUID = _
  /** Highest batchId already absorbed — progress events race queryId
    * assignment (the listener bus is async), so the pipeline replays
    * query.recentProgress after assignment and this guard deduplicates. */
  private val lastBatchId = new AtomicLong(-1L)

  private def mine(id: java.util.UUID): Boolean = queryId != null && queryId == id

  def notEmptySeconds: Long =
    if (notEmptySinceMs < 0) 0 else (System.currentTimeMillis() - notEmptySinceMs) / 1000

  /** One-call scrape point for an external reporter — the Spark form of
    * the reference's JmxReporter registration (`WalConsumer.java:106-114`).
    * Spark's own JMX path also works out of the box: with
    * `spark.sql.streaming.metricsEnabled=true` the query's
    * inputRate/latency gauges flow into the session's MetricsSystem
    * (metrics.properties → JmxSink); the WAL-specific meters below are
    * what that bridge doesn't carry. */
  def gauges: Map[String, Long] = Map(
    "wal_state" -> state.get().id.toLong,
    "wal_num_records" -> lastBatchRows.get(),
    "wal_num_synchronized" -> numSynchronized.get(),
    "wal_num_ignored_already_done" -> numIgnoredAlreadyDone.get(),
    "wal_num_io_failures" -> numIoFailures.get(),
    "wal_not_empty_seconds" -> notEmptySeconds)

  /** Target outage begins/ends (wired into foreachBatchSync). */
  private[streaming] def ioFailure(): Unit = {
    numIoFailures.incrementAndGet()
    state.set(WalState.INACCESSIBLE_IO_FAILURE)
  }
  private[streaming] def recovered(): Unit = state.set(WalState.NOT_EMPTY)

  /** Called by the pipeline on close(): listener events are async, so the
    * reference's unregister-on-close (`WalConsumer.java:299-317`) is done
    * synchronously here, not in onQueryTerminated. */
  private[streaming] def closed(): Unit = {
    state.set(WalState.NONE)
    notEmptySinceMs = -1L
  }

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
    if (mine(e.id)) state.set(WalState.NONE)

  /** Records of each applied batch, by batchId, until its progress is
    * absorbed. */
  private val appliedRecords = new java.util.concurrent.ConcurrentSkipListMap[Long, Long]()

  /** The apply loop's per-batch counts ([[Streams.foreachBatchSync]]'s
    * `onApplied`), from the batch's successful attempt. `records` counts
    * the batch the consumer applies — after the entity-type filter, so a
    * per-type consumer over a multiplexed WAL counts only its own slice,
    * the reference's per-consumer wal_num_synchronized
    * (`WalConsumer.java:49-54`: metrics are per consumer instance, and
    * each instance reads only its class's records). The batch's progress
    * event, which is posted after this call, folds `records` into the
    * gauges ([[absorb]]). */
  private[streaming] def applied(batchId: Long, records: Long, ignored: Long): Unit = {
    numIgnoredAlreadyDone.addAndGet(ignored)
    appliedRecords.put(batchId, records)
  }

  /** Absorb one progress report exactly once (by batchId), then emit the
    * updated gauges. Synchronized: the pipeline's replay after start and
    * the listener bus may absorb concurrently, and each emission must see
    * only its own batch's update. */
  private[streaming] def absorb(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Unit = synchronized {
    val prev = lastBatchId.getAndUpdate(b => math.max(b, p.batchId))
    if (p.batchId > prev && state.get() != WalState.INACCESSIBLE_IO_FAILURE) {
      // every batch up to this one whose progress was not absorbed is
      // folded in here, so no applied record goes uncounted
      val upTo = appliedRecords.headMap(p.batchId, true)
      var rows = 0L
      upTo.values.forEach(n => rows += n)
      upTo.clear()
      lastBatchRows.set(rows)
      if (rows > 0) {
        numSynchronized.addAndGet(rows)
        if (notEmptySinceMs < 0) notEmptySinceMs = System.currentTimeMillis()
        state.set(WalState.NOT_EMPTY)
      } else {
        notEmptySinceMs = -1L
        state.set(WalState.EMPTY)
      }
      emit(gauges)
    }
  }

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    if (mine(e.progress.id)) absorb(e.progress)

  /** An empty poll — the reference sets EMPTY on every one
    * (`WalConsumer.java:150-154`). Spark reports an idle trigger only
    * here, never as a progress event, and at most once per
    * `spark.sql.streaming.noDataProgressEventInterval` (10 s by default),
    * so without this a drained WAL would read NOT_EMPTY and age forever.
    * A target outage keeps its state. */
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit =
    if (mine(e.id)) synchronized {
      if (state.get() != WalState.INACCESSIBLE_IO_FAILURE) {
        lastBatchRows.set(0)
        notEmptySinceMs = -1L
        state.set(WalState.EMPTY)
        emit(gauges)
      }
    }

  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    if (mine(e.id)) {
      // IO-caused death → the reference's INACCESSIBLE_IO_FAILURE
      // (`WalConsumer.java:137-142`); clean stop or non-IO bug → NONE.
      // Heuristic: the event only carries the exception as a STRING (no
      // typed cause), so this is a fallback — the foreachBatchSync
      // ioFailure() callback is the authoritative signal. The match is
      // anchored to a cause-chain boundary (the fully-qualified class
      // name opening the trace or a "Caused by:" line), so a failure
      // whose MESSAGE merely mentions "IOException" is not mislabeled.
      val io = e.exception.exists(_.linesIterator.exists { l =>
        val t = l.stripLeading()
        t.startsWith("java.io.IOException") || t.startsWith("Caused by: java.io.IOException")
      })
      state.set(if (io) WalState.INACCESSIBLE_IO_FAILURE else WalState.NONE)
    }
}

object WalMetrics {
  /** Default emit target: one log line per absorbed batch. */
  val logEmit: Map[String, Long] => Unit = { g =>
    org.slf4j.LoggerFactory.getLogger(classOf[WalMetrics])
      .info(g.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString("wal gauges: ", " ", ""))
  }
}

/** Lifecycle wrapper — the Spark form of the reference's consumer object
  * (`WalConsumer.java:127-181` start / `:299-317` close):
  *
  *   reference                      | here
  *   -------------------------------|----------------------------------
  *   dedicated consumer thread      | StreamingQuery micro-batch loop
  *   poll sleep 1000 ms when empty  | pollingDelay = pollMillis, trigger 0
  *   row-lock serialization         | checkpointed offsets, single writer
  *   delete head + commit           | checkpoint commit after foreachBatch
  *   close(): stop flag+interrupt   | query.stop()
  *   metric unregister on close     | listener removed on close()
  *
  * [[metrics]] counts each batch's records in the apply loop
  * (`foreachBatchSync`'s `onApplied`, the successful attempt only), so a
  * batch retried through a target outage is counted once.
  *
  * `pollMillis` is the reference's `sleepMillisWhenWalIsEmpty`
  * (`WalConsumer.java:44`): the sleep after an empty poll only. A batch
  * that found data is followed at once by the next poll
  * (`Trigger.ProcessingTime(0)`); Spark's micro-batch loop sleeps its
  * `spark.sql.streaming.pollingDelay` after a trigger that found none,
  * after waking `processAllAvailable`'s waiters (so a drain returns right
  * after its empty poll), and `query.stop()` interrupts that sleep. Spark
  * reads the delay once, from the starting session's conf, when the
  * query is constructed, and offers no per-query option; so [[start]]
  * sets it to `pollMillis` around `writeStream…start()` only, under one
  * lock shared by every pipeline, and restores the prior value (or unsets
  * it) in `finally`, also when `start()` throws. The remaining window:
  * another thread that starts a streaming query on the same session,
  * not through a WalPipeline, while a pipeline is starting gets
  * `pollMillis` as its delay.
  *
  * `entityType`: registration-model selector — the reference constructs
  * each consumer FOR one entity class and it reads only that class's
  * records (`WalConsumer.java:339-352`); pass `Some(type)` to drain only
  * that type's sub-log from a multiplexed WAL (the filter reaches the
  * source scan, see [[Streams.forEntityType]]). `None` (default) drains
  * everything — the single-type deployment, or a [[MultiplexWalSink]]
  * dispatching per type. */
final class WalPipeline(
    records: Dataset[WalRecord],
    sink: WalSink,
    checkpointDir: String,
    pollMillis: Long = 1000L,
    retrySleepMs: Long = 1000L,
    reporterEmit: Map[String, Long] => Unit = WalMetrics.logEmit,
    entityType: Option[String] = None) {

  val metrics = new WalMetrics(reporterEmit)
  private var query: StreamingQuery = _

  /** Start draining the WAL into the sink (at-least-once + idempotent
    * sink = exactly-once effect). */
  def start(): StreamingQuery = synchronized {
    require(query == null, "already started")
    records.sparkSession.streams.addListener(metrics)
    // A start() that fails must not leak its listeners: the reference's
    // HA story is N competing consumers where the losers fail the lock
    // race gracefully (`WalConsumer.java:185-193,219-228`); here the
    // loser is a second pipeline on the SAME checkpoint, refused by
    // Spark's active-run exclusivity — it must leave the session exactly
    // as it found it (RecoverySpec's two-instance scenario).
    val selected = entityType.fold(records)(t => Streams.forEntityType(records, t))
    try {
      val writer = selected.writeStream
        .foreachBatch(Streams.foreachBatchSync(sink, retrySleepMs,
          onIoFailure = () => metrics.ioFailure(),
          onRecovered = () => metrics.recovered(),
          onApplied = metrics.applied))
        .option("checkpointLocation", checkpointDir)
        .trigger(Trigger.ProcessingTime(0L))
      query = WalPipeline.withPollingDelay(records.sparkSession, pollMillis)(writer.start())
    } catch {
      case t: Throwable =>
        records.sparkSession.streams.removeListener(metrics)
        throw t
    }
    metrics.queryId = query.id
    // progress events posted before the assignment above were dropped by
    // the listener's scope filter; replay them (deduplicated by batchId)
    query.recentProgress.foreach(metrics.absorb)
    query
  }

  /** Drain everything currently in the WAL, then return (test/backfill
    * convenience — the reference has no equivalent; its loop never ends). */
  def processAllAvailable(): Unit = {
    val q = synchronized {
      require(query != null, "pipeline not started")
      query
    }
    q.processAllAvailable()
  }

  def close(): Unit = synchronized {
    if (query != null) {
      query.stop()
      records.sparkSession.streams.removeListener(metrics)
      metrics.closed()
      query = null
    }
  }
}

object WalPipeline {
  private val PollingDelay = "spark.sql.streaming.pollingDelay"

  /** Runs `start` with the session's no-data sleep set to `pollMillis`,
    * then restores the session conf as it was (see [[WalPipeline]]). */
  private def withPollingDelay[A](spark: SparkSession, pollMillis: Long)(start: => A): A =
    synchronized {
      val conf = spark.conf
      val prior = conf.getAll.get(PollingDelay)
      conf.set(PollingDelay, s"${pollMillis}ms")
      try start
      finally prior.fold(conf.unset(PollingDelay))(conf.set(PollingDelay, _))
    }
}
