package graft.streaming

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Tables

/** The 14 stream gates (SURVEY.md §2.3 s8–s21): each runs the REAL
  * streaming pipeline — file-arrival source (the production ingress
  * shape), the production transform, memory sink — one multi-batch pass
  * over the sf tables, then returns the sink as a batch DataFrame so the
  * driver's DuckDB hash gate sees the streamed rows. Every gate states
  * only its plan, output mode and verdict: the replay stream comes from
  * ONE accessor ([[replay]]; the document gates' history/arrival split
  * from [[arrivals]]) and the query lifecycle — name, memory sink, run
  * to the end of the feed, stop, detach — from ONE runner ([[run]]).
  *
  * The feed is staged by ONE `repartitionByRange` executor write as
  * contiguous key-range files of ~[[targetRowsPerFile]] rows each,
  * grouped into [[gateBatches]] chunks of `filesPerTrigger` files — the
  * driver never collects the corpus (it only renames part files and
  * stamps mod-times so the file source replays chunks in log order), so
  * the gate has neither a driver-memory ceiling nor a single-task write
  * ceiling: pointed at a larger SF it stages more files, not bigger
  * ones, and scales with the cluster.
  *
  * Determinism: events are fed in log order split across several
  * micro-batches (so cross-batch state transitions are exercised, not
  * just the degenerate one-batch fold), the s9 processor resolves
  * intra-batch order per key, and s8's bloom filter is a fixed-seed
  * structure built from a commutative merge — both outputs are
  * bit-stable under any shuffle partitioning.
  */
object StreamGate {
  private val runId = new AtomicLong(0)

  /** Micro-batches per gate run: >1 so state survives batch boundaries. */
  private val gateBatches = 4

  /** Target rows per staged file: bounds what any single post-shuffle
    * write task owns. Chunk count stays [[gateBatches]]; FILE count grows
    * with the feed, so no task ever funnels 1/gateBatches of the corpus
    * (the round-8 ceiling) — a 16× feed just stages 16× the files. */
  private[streaming] val targetRowsPerFile = 25000L

  /** A staged feed: the dir plus how many files form one micro-batch. */
  private[streaming] final case class Feed(dir: Path, filesPerTrigger: Int)

  /** Shared staged feeds, one per (session, sfDir, table): the five
    * event-log gates (s9/s11/s12/s13/s14) replay the same events table
    * and the two document gates (s8/s10) the same documents table, but
    * each used to stage its OWN near-identical key-range copy — six
    * staging builds of two tables per session, ~16 s of the r10 bench.
    * The staged frame is the column SUPERSET in the table's log order,
    * so the row set and replay chunking are identical for every
    * consumer; each gate projects/renames its columns AFTER the stream
    * read (parquet column pruning means it pays only for the columns it
    * touches). s8 filters its arrival slice post-read — its probe is
    * stateless, so which chunk the arrivals land in cannot change its
    * output. Feeds die with the application (listener) or via
    * [[clearFeeds]]; the per-gate try/finally deletion only applies to
    * unshared feeds (the restart e2e harnesses stage their own). */
  private val feedCache = TrieMap.empty[(SparkSession, String, String), Feed]
  private val feedHooked = TrieMap.empty[org.apache.spark.SparkContext, Unit]

  private def cachedFeed(spark: SparkSession, dir: String, table: String)
      (build: => Feed): Feed = {
    val key = (spark, dir, table)
    feedCache.get(key).getOrElse(synchronized {
      // entries of stopped contexts are unreachable garbage; their dirs
      // still exist on local disk — deleteFeed's local-rm path clears
      // them even though the Hadoop FS handle is gone
      feedCache.keys.filter(_._1.sparkContext.isStopped).toSeq.foreach { k =>
        feedCache.remove(k).foreach(f => deleteFeed(k._1, f.dir))
      }
      feedHooked.getOrElseUpdate(spark.sparkContext, {
        spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
          override def onApplicationEnd(
              e: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit = clearFeeds()
        })
      })
      feedCache.getOrElseUpdate(key, build)
    })
  }

  /** A replayed table: its staged column superset (every column a gate
    * over it reads), replayed in `order` (its log order). */
  private final case class Replayed(table: String, order: String,
      superset: (SparkSession, String) => DataFrame)

  private val Events = Replayed("events", "event_id", (s, d) =>
    Tables.events(s, d).select(col("event_id"), col("ts"),
      col("user_id"), col("event_type"), col("value")))
  private val Documents = Replayed("documents", "doc_id", (s, d) =>
    Tables.documents(s, d).select(col("doc_id"), col("lang"), col("text")))
  private val Embeddings = Replayed("embeddings", "vec_id", (s, d) =>
    Tables.embeddings(s, d).select(col("vec_id"), col("embedding")))

  private def sharedFeed(spark: SparkSession, dir: String, t: Replayed): Feed =
    cachedFeed(spark, dir, t.table)(stageFeed(t.superset(spark, dir), t.order))

  /** The shared events feed (staged once per session × sfDir). Public to
    * graft so Bench can pre-materialize it as its own timed line. */
  private[graft] def sharedEventsFeed(spark: SparkSession, dir: String): Feed =
    sharedFeed(spark, dir, Events)

  /** The shared documents feed (staged once per session × sfDir). */
  private[graft] def sharedDocsFeed(spark: SparkSession, dir: String): Feed =
    sharedFeed(spark, dir, Documents)

  /** The shared embeddings feed (staged once per session × sfDir). */
  private[graft] def sharedEmbFeed(spark: SparkSession, dir: String): Feed =
    sharedFeed(spark, dir, Embeddings)

  /** Drop and delete every shared feed (tests; application end). */
  private[graft] def clearFeeds(): Unit = synchronized {
    feedCache.keys.toSeq.foreach { k =>
      feedCache.remove(k).foreach(f => deleteFeed(k._1, f.dir))
    }
  }

  /** Drop and delete one session's shared feeds — wired into
    * [[graft.ops.Stages.evictSession]], so the documented "one call
    * frees everything this session pinned" contract covers the staged
    * feed dirs too (a long-lived JVM cycling sessions over one context
    * would otherwise keep each dead session's feeds on disk until
    * application end). A failed staging build never reaches the cache
    * (getOrElseUpdate inserts only on success), so the next caller
    * simply rebuilds. */
  private[graft] def evictSessionFeeds(spark: SparkSession): Unit = synchronized {
    feedCache.keys.filter(_._1 eq spark).toSeq.foreach { k =>
      feedCache.remove(k).foreach(f => deleteFeed(k._1, f.dir))
    }
  }

  private def hadoopFs(spark: SparkSession): org.apache.hadoop.fs.FileSystem =
    org.apache.hadoop.fs.FileSystem.get(spark.sessionState.newHadoopConf())

  /** Stage `df` as ordered parquet files in a fresh temp dir, in
    * `orderCol` order: ONE `repartitionByRange` write job cuts the feed
    * into contiguous key-range slices (ascending partition id = ascending
    * range, so the part-file NAME order is the log order), every write
    * task owns about [[targetRowsPerFile]] rows, and each file gets a
    * strictly increasing mod-time so the file source's oldest-first
    * listing replays the log in order. A micro-batch is
    * `filesPerTrigger` consecutive files (= one key-range chunk of
    * 1/[[gateBatches]] of the feed); intra-batch order is the
    * transform's job to resolve, exactly as before. All file
    * manipulation goes through the session's Hadoop FileSystem, so the
    * staging dir may live on a cluster FS — the driver renames and
    * stamps times, it never reads the data. Caller must delete the dir
    * via [[deleteFeed]]. */
  private[streaming] def stageFeed(df: DataFrame, orderCol: String): Feed = {
    val dir = Files.createTempDirectory("graft_gate_feed_")
    // staging failure (rename IOException, the setTimes require below)
    // must not orphan the corpus-sized copy already written — the
    // callers' try/finally only guards feeds that were RETURNED
    try stageFeedInto(df, orderCol, dir)
    catch { case t: Throwable => deleteFeed(df.sparkSession, dir); throw t }
  }

  private def stageFeedInto(df: DataFrame, orderCol: String, dir: Path): Feed = {
    val fs = hadoopFs(df.sparkSession)
    val n = df.count()
    var filesPerChunk = 1
    if (n > 0) {
      // files per chunk from the feed size (capped: each extra file is a
      // listing + scheduling cost, and 32 slices per chunk already means
      // no task writes more than ~1/128 of the corpus)
      filesPerChunk = math.min(32L,
        (n + targetRowsPerFile * gateBatches - 1) / (targetRowsPerFile * gateBatches)).toInt
      val out = new org.apache.hadoop.fs.Path(dir.resolve("staged").toString)
      df.repartitionByRange(gateBatches * filesPerChunk, col(orderCol))
        .write.mode("overwrite").parquet(out.toString)
      val t0 = System.currentTimeMillis() - 3600L * 1000
      // sparse ranges may leave empty partitions (no part file emitted);
      // name order of the emitted files is still the range order
      val staged = fs.listStatus(out).map(_.getPath)
        .filter(_.getName.startsWith("part-")).sortBy(_.getName)
        .zipWithIndex.map { case (p, k) =>
          val dst = new org.apache.hadoop.fs.Path(dir.toString, f"b$k%04d.parquet")
          // rename reports most failures by RETURNING false, and the
          // delete below would then destroy the unmoved file — check
          if (!fs.rename(p, dst))
            throw new java.io.IOException(s"gate feed staging: failed to move $p to $dst")
          fs.setTimes(dst, t0 + k * 60000L, -1)
          dst
        }.toSeq
      fs.delete(out, true)
      // the replay order IS the s9 correctness contract; on a store where
      // setTimes is a no-op the file source would batch arbitrarily —
      // fail loudly instead
      val times = staged.map(p => fs.getFileStatus(p).getModificationTime)
      require(times == times.sorted && times.distinct.size == times.size,
        s"gate feed staging: mod-times not strictly increasing ($times) — " +
          "this FileSystem does not honor setTimes; the file-source replay order would be arbitrary")
    }
    Feed(dir, filesPerChunk)
  }

  /** Delete a staged feed dir on BOTH filesystems it may touch: the
    * session's Hadoop FS (where scheme-less writes actually landed —
    * fs.defaultFS on a cluster) and the driver-local temp dir created by
    * Files.createTempDirectory. On a local-FS session both are the same
    * path; delete() tolerates the second call finding nothing. */
  private[streaming] def deleteFeed(spark: SparkSession, dir: Path): Unit = {
    try hadoopFs(spark).delete(new org.apache.hadoop.fs.Path(dir.toString), true)
    catch { case scala.util.control.NonFatal(_) => () }
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
      f.delete()
    }
    rm(dir.toFile)
  }

  /** The shared staged replay stream of `t`, with its superset schema:
    * one micro-batch consumes the next `filesPerTrigger` oldest files =
    * one contiguous key-range chunk. */
  private def replay(spark: SparkSession, dir: String, t: Replayed): DataFrame = {
    val feed = sharedFeed(spark, dir, t)
    spark.readStream
      .schema(t.superset(spark, dir).schema)
      .option("maxFilesPerTrigger", feed.filesPerTrigger)
      .parquet(feed.dir.toString)
  }

  /** The document gates' split (s8/s17/s18/s20/s21): the history
    * boundary `thr` ([[Tables.historyThr]], the 9/10 freeze rule) and the
    * arrival stream — the documents replay past it. */
  private def arrivals(spark: SparkSession, dir: String): (Long, DataFrame) = {
    val thr = Tables.historyThr(Tables.documents(spark, dir).select(col("doc_id"), col("text")))
    (thr, replay(spark, dir, Documents).filter(col("doc_id") > thr))
  }

  /** The one gate lifecycle: start `frame` into a memory sink named
    * `<key>_gate_<n>`, run the whole feed, stop the query, and return
    * the sink materialized (`localCheckpoint`) with its temp view
    * dropped — repeated gate runs in one session (determinism sweeps,
    * bench + verify) must not accumulate driver-held sink tables, and a
    * failed run surfaces its own exception and leaks neither its query
    * nor its view. The checkpointed blocks are reclaimed by the
    * ContextCleaner once the returned frame is dropped. */
  private[streaming] def run(spark: SparkSession, key: String, frame: Dataset[_],
      outputMode: String = "append"): DataFrame = {
    val name = s"${key}_gate_${runId.incrementAndGet()}"
    val q = frame.writeStream.format("memory").queryName(name).outputMode(outputMode).start()
    try {
      try q.processAllAvailable() finally q.stop()
      spark.table(name).localCheckpoint(true)
    } finally spark.catalog.dropTempView(name)
  }

  /** Shuffle-partition cap for the gate's streaming run. Stateful
    * operators open one state store per shuffle partition per
    * micro-batch, so a 32-partition bench session pays 32 RocksDB
    * instances × batch for a verify-scale feed — harness overhead, not
    * operator cost. A CAP, not a pin: a session already below it keeps
    * its own setting. DeterminismSpec's 1/3/17 sweep lifts it through
    * [[uncapped]], so its 17-partition leg really runs 17 wide. Back at
    * 4 (r20, VERDICT item 3): the r19 2-cap was a timed-region harness
    * tune, not engine speed — it halved the store
    * count only at benchmark scale (at 100 TB you want MORE state
    * partitions, not 2) and polluted the gate A/B numbers. The real r19
    * gate win (RocksDB changelog checkpointing + numKeys tracking off,
    * [[withRocksDB]]) is kept. Production streams size their own
    * shuffle partitions; this cap only bounds the verify/bench
    * harness. */
  private val gatePartitionCap = new scala.util.DynamicVariable[Int](4)

  /** Test seam: run `body` (on this thread) with [[gatePartitionCap]]
    * lifted, so a gate runs at the session's own shuffle width. */
  private[graft] def uncapped[T](body: => T): T =
    gatePartitionCap.withValue(Int.MaxValue)(body)

  private def withConf[T](spark: SparkSession, kvs: (String, String)*)(body: => T): T = {
    val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  private def withRocksDB[T](spark: SparkSession)(body: => T): T = {
    val current = spark.conf.get("spark.sql.shuffle.partitions").toInt
    withConf(spark,
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
      // changelog checkpointing: each commit uploads the batch's delta
      // instead of synchronizing a full RocksDB snapshot — the documented
      // production setting for frequent small commits, and exactly the
      // gates' shape (4 micro-batches × small per-batch state). Snapshot
      // maintenance still runs in the background, so restart recovery is
      // unchanged (r19 opt: ~25% off every gate's line at sf0.1).
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true",
      // numKeys bookkeeping scans on every put/delete are metrics-only —
      // state-size audits read the store contents, not this gauge
      "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows" -> "false",
      "spark.sql.shuffle.partitions" -> math.min(current, gatePartitionCap.value).toString)(body)
  }

  /** s9 gate: the temporal as-of stream ([[Streams.temporalAsofStream]],
    * transformWithState one-register-per-key) over the sf event log, fed
    * in log order across [[gateBatches]] micro-batches. In log order the
    * stream is exactly the batch as-of (q16), so the oracle is q16's SQL
    * verbatim — purchases matched to the latest prior same-user view. */
  def s9TemporalAsof(spark: SparkSession, dir: String): DataFrame = withRocksDB(spark) {
    import spark.implicits._
    run(spark, "s9", Streams.temporalAsofStream(
        replay(spark, dir, Events)
          .select(col("event_id").as("eventId"), col("user_id").as("userId"),
            col("event_type").as("eventType"))
          .as[ProbeEvent]))
      .select(col("eventId").as("event_id"), col("userId").as("user_id"),
        col("priorViewId").as("prior_view_id"))
      .orderBy("event_id")
  }

  /** s8 gate: the continuous-ingest novelty screen
    * ([[Streams.noveltyStream]], stateless broadcast-bloom probe) with the
    * x36 corpus split — index = oldest 90% of documents, stream = the
    * newest 10% fed as micro-batches. A bloom probe is approximate, so
    * (like q9b) the dumped row is a VERDICT the exact oracle can check,
    * not the raw estimate: per streamed doc, the exact gram/hit counts
    * (recomputed batch-side, same lineage as x36) plus three 0/1 flags —
    * the stream saw the same gram count, the bloom never missed a true
    * hit (one-sided error), and its false-positive surplus stayed within
    * max(1, n_keys/20) (20× slack over the configured fpp=1e-3). */
  def s8NoveltyStream(spark: SparkSession, dir: String): DataFrame = {
    // arrivals come off the shared docs feed, filtered post-read: the
    // probe is stateless, so the arrivals landing in the feed's tail
    // chunks (they are the top 10% of the doc_id range) changes nothing
    val (thr, arr) = arrivals(spark, dir)
    val indexDocs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
      .filter(col("doc_id") <= thr)
    val streamed = run(spark, "s8",
        Streams.noveltyStream(spark, arr.select(col("doc_id"), col("text")), indexDocs))
      .select(col("doc_id"), col("n_keys").as("n_keys_s"), col("n_maybe_hit"))
    // exact twin of the probe: x36's hit counts, read from the shared
    // stage (identical 90/10 split and gram keys — the lineage runs once
    // per session across x36 and this gate)
    val exact = graft.ops.Stages.x36Hits(spark, dir)
      .select(col("doc_id"), col("n_keys"), col("n_hit"))
    streamed.join(exact, Seq("doc_id"))
      .select(col("doc_id"), col("n_keys"), col("n_hit"),
        (col("n_keys_s") === col("n_keys")).cast("long").as("keys_match"),
        (col("n_maybe_hit") >= col("n_hit")).cast("long").as("probe_sound"),
        (col("n_maybe_hit") - col("n_hit") <=
          greatest(lit(1L), Tables.fdiv(col("n_keys"), lit(20L))))
          .cast("long").as("fp_in_bound"))
      .orderBy("doc_id")
  }

  /** s17 gate: continuous tokenizer-drift monitor — the serving twin of
    * x67's batch encode, in the s16 frozen-model posture: the WORD-TYPE
    * BPE merge table (x62b's trainer — the production subword path) is
    * trained ONCE on the oldest-90% history slice (the s8/x36 split, via
    * [[graft.ops.Stages.s17Merges]]), frozen into the streaming plan as
    * k literal `replace` passes, and applied to every arriving document
    * rendered char-level-within-words ([[graft.ops.TextOps.charSeqCol]]
    * — the 3-space word boundary keeps intra-word merges exact on whole
    * documents). The emitted per-doc (n_tok, n_bpe, bpe_per_1000) is the
    * drift series a monitor thresholds: a corpus shift shows up as the
    * retained-tokens ratio climbing toward 1000 (the stale vocabulary
    * stops compressing).
    *
    * Stateless per-row map — no watermark, no state store; at 100 TB
    * the merge table is k rows shipped to every encoder task and the
    * gate scales exactly like the ingest scan. The DuckDB oracle
    * re-derives BOTH chains independently (weighted word-type rounds on
    * ≤thr, char-level replay on >thr) as unrolled materialized CTEs —
    * exact parity, no bound flags needed. */
  def s17BpeDriftStream(spark: SparkSession, dir: String): DataFrame = {
    val merges = graft.ops.Stages.s17Merges(spark, dir)
      .orderBy("round").collect() // k rows — the frozen tokenizer
      .map(r => (r.getString(1), r.getString(2)))
    val base = arrivals(spark, dir)._2
      // n_tok from the same trimmed rendering n_bpe uses (x67's rule):
      // raw-array size would over-count boundary-space documents.
      .select(col("doc_id"), graft.ops.TextOps.charSeqCol(col("text")).as("s"))
      .select(col("doc_id"),
        size(split(trim(col("s")), "  ")).cast("long").as("n_tok"), col("s"))
    val encoded = merges.foldLeft(base) { case (df, (l, r)) =>
      df.withColumn("s", replace(col("s"), lit(s" $l  $r "), lit(s" ${l}_$r ")))
    }.select(col("doc_id"), col("n_tok"),
      size(split(trim(col("s")), "  ")).cast("long").as("n_bpe"))
    run(spark, "s17", encoded)
      .select(col("doc_id"), col("n_tok"), col("n_bpe"),
        Tables.fdiv(lit(1000L) * col("n_bpe"), col("n_tok")).as("bpe_per_1000"))
      .orderBy("doc_id")
  }

  /** s18 gate: continuous split ROUTING — x68's decision at serving
    * time, before any batch re-clustering can run: each arriving
    * document is banded with the exact x13 signature pipeline
    * (per-row array-min twin, pinned equal in this spec) and probed
    * against a FROZEN index of the history slice's bands, each band
    * carrying the OR of its held members' sticky splits
    * ([[graft.ops.Stages.x68Sticky]] — the same phase-1 table x68
    * reads). One split bit → route there ('inherited'); conflicting
    * bits → 'quarantine' (the arrival bridges clusters with different
    * held splits — x68's rule, decided from direct band neighbors);
    * no held neighbor → the hash rule on the arrival's own id
    * ('fresh'). Band-neighbor routing is the serving approximation of
    * x68's full transitive closure: transitivity through OTHER
    * arrivals is the batch job's business, the router must decide per
    * document NOW — and conservatively, which is why conflict
    * quarantines rather than picks.
    *
    * Plan shape at 100 TB: the arrival path is stateless — per-row
    * banding (HOF min over the doc's own shingles) + four stream-static
    * equi-joins against the frozen (band, h) → bits index (no state
    * store, no watermark); the index itself is history-banding + the
    * staged sticky table, built once and frozen (here localCheckpoint'ed
    * so micro-batches don't rebuild it; in production a materialized
    * table). Hot buckets are capped at the x13 df cap before they enter
    * the index. The DuckDB oracle re-derives the whole lattice — closure
    * → sticky, bands → capped index, arrival bands → OR — independently;
    * exact parity, no bound flags. */
  def s18SplitRouteStream(spark: SparkSession, dir: String): DataFrame = {
    // frozen index: ≤ 4 rows per history doc before the hot-bucket cap,
    // one row per surviving (band, h) after the OR — bounded, STAGED
    // (materialized once per session, shared with x69's audit) so the
    // feed's micro-batches re-read blocks instead of re-running the
    // banding + fixpoint per batch per join
    val joined = bandProbe(spark, dir, graft.ops.Stages.s18Index(spark, dir), "bits")
    // a shingle-less arrival matches nothing and routes 'fresh'
    val routed = joined.select(col("doc_id"),
      (0 until 4).map(b => coalesce(col(s"bits$b"), lit(0L)))
        .reduce(_ bitwiseOR _).as("bits"))
    run(spark, "s18", routed)
      .select(Seq(col("doc_id"), col("bits")) ++
        graft.ops.PipelineOps.routeVerdictCols(col("bits"), col("doc_id")): _*)
      .orderBy("doc_id")
  }

  /** s21 gate: continuous cluster-label ASSIGNMENT — the serving half
    * of the label lifecycle x75's incremental maintenance batches (the
    * 14th gate, and the s18 posture applied to LABELS): each arriving
    * document is banded with the exact x13 signature pipeline and
    * probed against a FROZEN (band, h) → min-history-label index
    * ([[graft.ops.Stages.s21Index]] — history bands at the shared df
    * cap joined to the frozen history labeling, x75's seed). The
    * arrival is assigned the MINIMUM matched neighbor label
    * ('matched' — "this incoming doc belongs to that stored dedup
    * cluster, decide NOW"), or stands alone under its own id
    * ('fresh'). Assignment is TO the stored cluster by its stored
    * name: an arrival with a smaller id does not rename the cluster at
    * serve time — renames (and merges an arrival bridges) are the
    * batch maintenance job's business (x75), exactly the
    * router-vs-closure division s18/x68 establish for splits.
    *
    * Plan shape at 100 TB: stateless — per-row banding (HOF min over
    * the doc's own shingles) + four stream-static equi-joins against
    * the frozen staged index; no state store, no watermark. The DuckDB
    * oracle re-derives the whole lattice (history closure → labels,
    * bands → capped min-label index, arrival bands → min) — exact
    * parity, no bound flags. */
  def s21LabelRouteStream(spark: SparkSession, dir: String): DataFrame = {
    val joined = bandProbe(spark, dir, graft.ops.Stages.s21Index(spark, dir), "lab")
    // least() skips nulls: the min over however many bands matched (a
    // shingle-less arrival matches nothing and assigns 'fresh')
    val minLab = least((0 until 4).map(b => col(s"lab$b")): _*)
    val routed = joined.select(col("doc_id") +:
      graft.ops.PipelineOps.labelVerdictCols(minLab, col("doc_id")): _*)
    run(spark, "s21", routed).orderBy("doc_id")
  }

  /** The s18/s21 arrival probe: each arriving document banded with the
    * exact x13 signature pipeline (per-row, [[graft.ops.TextOps.rowBandCols]])
    * and probed by four stream-static left joins (stateless) against a
    * frozen (band, h) index, band `b`'s `payload` landing in
    * `<payload><b>`. A shingle-less arrival has null band keys and
    * matches nothing. */
  private def bandProbe(spark: SparkSession, dir: String, idx: DataFrame,
      payload: String): DataFrame = {
    val arr = arrivals(spark, dir)._2
      .select(col("doc_id") +: graft.ops.TextOps.rowBandCols(
        graft.ops.TextOps.shinglesOf(split(col("text"), " "))): _*)
    (0 until 4).foldLeft(arr) { (cur, b) =>
      cur.join(idx.filter(col("band") === b)
          .select(col("h").as(s"b$b"), col(payload).as(s"$payload$b")),
        Seq(s"b$b"), "left")
    }
  }

  /** S19 budget shard count — the admission parallelism knob: the
    * global budget splits evenly across this many state keys, each a
    * ONE-long register. At cluster scale set ≈ state-store parallelism;
    * the budget slices are x65's bucket idea made causal. */
  private[streaming] val s19Shards = 8L

  /** s19 gate: continuous token-budget ADMISSION — x65's selection as a
    * serving decision (the 12th gate): documents stream in id order,
    * each hashes to a budget shard (h16(doc_id) % shards), and the
    * shard's state machine admits it iff the shard-local running token
    * sum stays within budget/shards — x65's greedy prefix rule, causal.
    * A global FIFO admission is inherently sequential (one running sum
    * = one state key = one writer); the SHARDED budget is the honest
    * scalable contract: K independent registers, each deciding its own
    * slice, the same two-level decomposition x65's bucket offsets use
    * for the batch prefix sum.
    *
    * Plan shape at 100 TB: per-row O(1) — one hash, one state read, one
    * add; state is ONE long per shard forever (no growth with the
    * stream); shards scale with the cluster. The budget itself is a
    * 1-row batch aggregate computed before the stream starts (in
    * production: the capacity plan). Exact parity oracle: the per-shard
    * prefix sum as a partitioned window — admission is a pure function
    * of the running total, so the gate row IS the oracle row. */
  def s19BudgetAdmitStream(spark: SparkSession, dir: String): DataFrame = withRocksDB(spark) {
    import spark.implicits._
    val budget = Tables.documents(spark, dir)
      .agg(Tables.fdiv(sum(size(split(col("text"), " ")).cast("long")), lit(2L)).as("b"))
      .collect()(0).getLong(0) // 1 row — the x65 budget rule
    val shardBudget = Math.floorDiv(budget, s19Shards)
    val src = replay(spark, dir, Documents)
      .select(col("doc_id").as("docId"),
        (graft.ops.PipelineOps.h16(col("doc_id")) % s19Shards).as("shard"),
        size(split(col("text"), " ")).cast("long").as("nTok"))
      .as[BudgetDoc]
    run(spark, "s19", src.groupByKey(_.shard)
        .transformWithState(new BudgetAdmitProcessor(shardBudget),
          org.apache.spark.sql.streaming.TimeMode.None(),
          org.apache.spark.sql.streaming.OutputMode.Append()))
      .select(col("docId").as("doc_id"), col("shard"), col("nTok").as("n_tok"),
        col("cumTok").as("cum_tok"), col("admitted"))
      .orderBy("doc_id")
  }

  /** s20's frozen retrieval index, derived from the history slice: one
    * row per (q_id, term) with the term's history df and the history
    * corpus stats (n docs, t tokens) denormalized onto every row —
    * ≤15 rows by construction (5 queries × ≤3 distinct terms), BM25's
    * whole index state for a fixed query set. */
  private[streaming] def deriveRetrievalStats(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.LongType
    val d = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val thr = Tables.historyThr(d)
    val hist = d.filter(col("doc_id") <= thr)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
    val st = hist.agg(count(lit(1)).as("n"),
      sum(size(col("w")).cast(LongType)).as("t")).collect()(0)
    val (n, t) = (st.getLong(0), st.getLong(1)) // 1 row — frozen corpus stats
    // the ONE query-set definition (TextOps.bm25QueryTerms) — shared
    // with x71/x73's probes and x74's expected-row arithmetic, so a
    // tokenization or query-set retune changes all of them together
    val qt = graft.ops.TextOps.bm25QueryTerms(hist)
    val dft = hist.select(col("doc_id"), explode(col("w")).as("term"))
      .join(broadcast(qt.select(col("term")).distinct()), "term")
      .distinct()
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    qt.join(dft, "term")
      .select(col("q_id"), col("term"), col("df"), lit(n).as("n"), lit(t).as("t"))
  }

  /** Persist s20's frozen retrieval stats — the FOURTH stored-governance
    * artifact (sticky splits / IVFADC index / x24 labels / this): the
    * frozen (q_id, term, df, n, t) index a deployment ships to its
    * serving routers, stamped and validated like the other three. Point
    * `spark.graft.retrievalStatsPath` (or
    * SPARK_GRAFT_RETRIEVAL_STATS_PATH) at the written path and the s20
    * gate scores arrivals against the SHIPPED index in any later
    * session — loud on missing/wrong/stale, never a silent re-derive
    * against a drifted history slice. */
  def persistRetrievalStats(spark: SparkSession, dir: String, path: String): Unit = {
    val thr = Tables.historyThr(Tables.documents(spark, dir)) // 1 row — stamped for x74's audit
    val store = graft.ops.Artifacts.RetrievalStats
    graft.ops.Artifacts.writeStamped(spark, deriveRetrievalStats(spark, dir),
      path, store.key, Map(store.prop -> thr.toString))
  }

  /** s20 gate: continuous RETRIEVAL screen — x71's BM25 scoring as a
    * serving decision (the 13th gate), completing the retrieval
    * lifecycle the way s16 completes the vector index's: the query-term
    * statistics (N, total tokens, per-term df — BM25's whole index
    * state for a fixed query set) FREEZE on the oldest-90% history
    * slice (the s8/x36/s17 split), and every arriving document is
    * scored against all five queries per-row, emitting the (doc, query)
    * matches — the shape a continuous decontamination screen has: "an
    * arriving training document just scored high against an eval query"
    * is exactly this row.
    *
    * Stateless per-row map in the s17/s18 frozen-model posture: the
    * ≤15 (q_id, term, df) rows collect once (bounded driver state, the
    * s17 merge-table idiom) and fold into literal codegen'd expressions
    * — per arrival, tf per term is a HOF count over the doc's own token
    * array, the score the same two-floor integer arithmetic as x71
    * (exact oracle parity, no bound flags). No state store, no
    * watermark, no stream-side join or aggregation: at 100 TB the
    * frozen stats ship to every scoring task like x67's merge table and
    * the gate scales exactly like the ingest scan.
    *
    * The frozen stats PERSIST as the fourth stored-governance artifact
    * ([[persistRetrievalStats]] + `spark.graft.retrievalStatsPath` /
    * SPARK_GRAFT_RETRIEVAL_STATS_PATH — the stickyPath idiom, stamped
    * and validated via [[graft.ops.Artifacts]]): a serving installment
    * reads the index the deployment SHIPPED instead of re-deriving it
    * from whatever the history slice looks like that day. */
  def s20RetrievalStream(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.LongType
    val stats = graft.ops.Artifacts.RetrievalStats.key
    val statDf = graft.ops.Artifacts.configuredPath(spark, stats) match {
      case Some(p) => graft.ops.Stages.readStamped(spark, p, stats)
      case None    => deriveRetrievalStats(spark, dir)
    }
    // bound the collect BEFORE it happens: limit(1001) caps what can ever
    // reach the driver (an oversized store cannot OOM the guard that
    // exists to reject it), and both failure modes are named loudly —
    // ≤15 rows by construction on a healthy index, the s17 idiom
    val statRows = statDf.limit(1001).collect()
    require(statRows.nonEmpty,
      "s20: empty frozen retrieval stats — no history docs with doc_id < 5 (degenerate corpus)")
    require(statRows.length <= 1000,
      s"s20: frozen stats table exceeds 1000 rows — not a query-set index")
    val (n, t) = (statRows(0).getAs[Long]("n"), statRows(0).getAs[Long]("t"))
    val frozen = statRows.map(r =>
      (r.getAs[Long]("q_id"), r.getAs[String]("term"), r.getAs[Long]("df")))
    def termScore(term: String, df: Long): Column = {
      val tf = size(filter(col("w"), x => x === lit(term))).cast(LongType)
      val ratio = call_function("div",
        lit(2200000000L) * tf, lit(100000L) * tf + lit(12L) * col("dnorm1e4"))
      call_function("div", lit(2L * (n - df) + 1L) * ratio, lit(2L * df + 1L))
    }
    val perQuery = frozen.groupBy(_._1).toSeq.sortBy(_._1).map { case (q, rows) =>
      struct(lit(q).as("q_id"),
        rows.map { case (_, tm, df) => termScore(tm, df) }.reduce(_ + _).as("score1e4"))
    }
    val scored = arrivals(spark, dir)._2
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .withColumn("dnorm1e4", lit(2500L) +
        call_function("div", lit(7500L) * lit(n) * size(col("w")).cast(LongType), lit(t)))
      .select(col("doc_id"), explode(array(perQuery: _*)).as("qs"))
      .select(col("doc_id"), col("qs.q_id").as("q_id"), col("qs.score1e4").as("score1e4"))
      .filter(col("score1e4") > 0L) // ≥1 matching term — the screen's emission rule
    run(spark, "s20", scored).orderBy("doc_id", "q_id")
  }

  /** S10 MG capacity and slot count. k matches the batch q27c (so the
    * oracle is q27c's SQL verbatim); [[s10Slots]] spreads each language
    * over that many disjoint-token state keys. */
  private val s10K = 5000
  private[streaming] val s10Slots = 8

  /** s10 gate: continuous heavy-hitter tracking ([[Streams.freqStream]],
    * per-(lang, slot) MG summaries in transformWithState state) over the
    * document bigram stream, fed in doc_id order across [[gateBatches]]
    * micro-batches. Slots partition the token space by hash, so the
    * final per-language candidate set is the UNION of each slot's last
    * emission — distributed, no driver merge, no read-time MG pruning.
    * Verdict row = the batch q27c shape: exact per-(lang, bigram) counts
    * (batch twin, same lineage as q27c) for every group hitter above a
    * 0.05% group share, plus the flag that the streamed summary held it
    * (guaranteed: per-slot bound N_slot/(k+1) ≤ 0.02% of the group). */
  def s10FreqStream(spark: SparkSession, dir: String): DataFrame = withRocksDB(spark) {
    s10Verdict(spark, dir,
      run(spark, "s10", Streams.freqStream(s10Tokens(replay(spark, dir, Documents)), s10K)))
  }

  /** The s10 stream transform: document rows → slotted bigram tokens
    * (shared by the gate and the restart e2e). */
  private[streaming] def s10Tokens(docs: DataFrame): Dataset[FreqToken] = {
    val s = docs.sparkSession
    import s.implicits._
    graft.ops.Analytics.docBigrams(docs)
      .select(col("lang"),
        pmod(xxhash64(col("bg")), lit(s10Slots.toLong)).cast("int").as("slot"),
        // UTF-8 bytes, not String (r20): the processor keys its summary
        // by UTF8String, so the cast is a no-op reslice while a String
        // field paid decode+re-encode per token
        col("bg").cast("binary").as("bg"))
      .as[FreqToken]
  }

  /** The s10 verdict: last emission per (lang, slot) → slot-union
    * candidate set → exact q27c count/total twin with the membership
    * flag (one candidate row per (lang, bg) by slot-disjointness). */
  private[streaming] def s10Verdict(spark: SparkSession, dir: String,
      emissions: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang"), col("slot")).orderBy(col("upd").desc)
    val cand = emissions
      .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
      .select(col("lang"), explode(col("cand")).as("bg"))
    // exact twin from the shared stage (same lineage as q27c's verdict)
    graft.ops.Stages.q27cHitters(spark, dir)
      .join(cand.withColumn("in_sketch", lit(1L)), Seq("lang", "bg"), "left")
      .select(col("lang"), col("bg"), col("cnt"),
        coalesce(col("in_sketch"), lit(0L)).as("in_sketch"))
      .orderBy("lang", "bg")
  }

  /** The s11 stream shape, shared by the gate and the restart e2e: rsd,
    * the week projection, and the streaming HLL aggregation whose state
    * row IS the sketch buffer. */
  private[streaming] val s11Rsd = 0.05
  private[streaming] def s11Weekly(df: DataFrame): DataFrame = df.select(
    date_trunc("week", col("ts")).cast("date").cast("string").as("wk"),
    col("user_id"))
  private[streaming] def s11Aggregate(df: DataFrame): DataFrame =
    s11Weekly(df).groupBy(col("wk"))
      .agg(approx_count_distinct(col("user_id"), s11Rsd).as("approx"))

  /** The s11 verdict join: exact weekly distincts (batch twin) + the
    * 3·rsd bound flag the oracle pins to 1. */
  private[streaming] def s11Verdict(spark: SparkSession, dir: String,
      streamed: DataFrame): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("event_id"), col("ts"), col("user_id"))
    s11Weekly(e).groupBy(col("wk")).agg(countDistinct(col("user_id")).as("n_users"))
      .join(streamed, "wk")
      .select(col("wk"), col("n_users"),
        (abs(col("approx").cast("double") - col("n_users").cast("double"))
          <= lit(3 * s11Rsd) * col("n_users").cast("double")).cast("long").as("in_bound"))
      .orderBy("wk")
  }

  /** s11 gate: continuous distinct-user counting — the streaming twin of
    * the batch HLL rollup (q28), and deliberately the most Spark-native
    * stateful shape in the repo: a plain streaming aggregation
    * `groupBy(week).agg(approx_count_distinct(user))`, where the state
    * store row IS the mergeable HLL++ buffer (fixed-size per group, no
    * user set ever materialized — the property that makes continuous
    * distinct viable at 100 TB of arrivals). No custom state logic: the
    * partial-aggregate machinery that merges sketch buffers through a
    * batch shuffle is exactly what merges them across micro-batches.
    * The gate runs complete mode into the memory sink (final table =
    * final counts); the production path is update mode + an event-time
    * watermark so closed weeks' state evicts. Verdict row = q9b idiom:
    * exact weekly distincts (batch twin) + a 3·rsd bound flag the
    * oracle pins to 1; the raw estimate is never emitted. */
  def s11DistinctStream(spark: SparkSession, dir: String): DataFrame = withRocksDB(spark) {
    s11Verdict(spark, dir, run(spark, "s11", s11Aggregate(replay(spark, dir, Events)
      .select(col("event_id"), col("ts"), col("user_id"))), "complete"))
  }

  /** s13 shared shape: weekly `percentile_approx` over the cents-scaled
    * event value — the state-store row IS the mergeable GK summary
    * (Greenwald–Khanna via Spark's ApproximatePercentile buffer), the
    * same minimal-state footing as s11's HLL++ row: no per-value state,
    * the partial-aggregate machinery that merges summaries through a
    * batch shuffle merges them across micro-batches. accuracy=1000 ⇒
    * DETERMINISTIC rank error ≤ 1/1000 (GK's guarantee is worst-case,
    * not probabilistic); the verdict widens ×2 for the merge path and
    * checks the TIE-AWARE span condition (q29's contract). */
  private[streaming] val s13Accuracy = 1000
  private[streaming] def s13Weekly(df: DataFrame): DataFrame = df.select(
    date_trunc("week", col("ts")).cast("date").cast("string").as("wk"),
    Tables.cents(col("value")).as("v")).filter(col("v").isNotNull)
  private[streaming] def s13Aggregate(df: DataFrame): DataFrame =
    s13Weekly(df).groupBy(col("wk"))
      .agg(percentile_approx(col("v"), array(lit(0.5), lit(0.9), lit(0.99)),
        lit(s13Accuracy)).as("qs"))

  /** The s13 verdict: per (week, pct), the streamed quantile's exact
    * rank span [count(<q), count(≤q)] must intersect p ± 2/accuracy —
    * integer math, one scan (thresholds broadcast back as columns, the
    * q29 shape). Bounded driver reads: #weeks × 3 quantiles. */
  private[streaming] def s13Verdict(spark: SparkSession, dir: String,
      streamed: DataFrame): DataFrame = {
    val slackBp = 2L * 10000L / s13Accuracy
    val thr = streamed.collect().map { r =>
      val qs = r.getSeq[Long](1)
      (r.getString(0), qs(0), qs(1), qs(2))
    }.toSeq
    val thrDf = spark.createDataFrame(thr).toDF("wk", "q50", "q90", "q99")
    val e = s13Weekly(Tables.events(spark, dir))
    val le = (q: org.apache.spark.sql.Column) => sum((col("v") <= q).cast("long"))
    val lt = (q: org.apache.spark.sql.Column) => sum((col("v") < q).cast("long"))
    val perWeek = e.join(broadcast(thrDf), "wk")
      .groupBy(col("wk"))
      .agg(count(lit(1)).as("n"),
        lt(col("q50")), le(col("q50")), lt(col("q90")), le(col("q90")),
        lt(col("q99")), le(col("q99")))
      .collect()
    val rows = perWeek.flatMap { r =>
      val (wk, n) = (r.getString(0), r.getLong(1))
      Seq(50L, 90L, 99L).zipWithIndex.map { case (pct, i) =>
        val (cLt, cLe) = (r.getLong(2 + 2 * i), r.getLong(3 + 2 * i))
        val ok = cLt * 10000L <= (pct * 100 + slackBp) * n &&
          cLe * 10000L >= (pct * 100 - slackBp) * n
        (wk, pct, n, if (ok) 1L else 0L)
      }
    }
    spark.createDataFrame(rows.toSeq).toDF("wk", "pct", "n", "in_bound")
      .orderBy("wk", "pct")
  }

  /** s13 gate: continuous quantile tracking — q29's streaming twin
    * (complete-mode gate; update mode + event-time watermark evicting
    * closed weeks is the production form, like s11). */
  def s13QuantileStream(spark: SparkSession, dir: String): DataFrame = withRocksDB(spark) {
    s13Verdict(spark, dir, run(spark, "s13", s13Aggregate(replay(spark, dir, Events)
      .select(col("event_id"), col("ts"), col("value"))), "complete"))
  }

  /** s12 gate: continuous SCD2 maintenance ([[Streams.scd2Stream]],
    * transformWithState one-open-version-per-key) over the sf event log
    * fed in log order. The append stream is a CDC-out feed: every
    * version is emitted open (valid_to_id = -1) and re-emitted closed
    * when its successor arrives, so the gate applies the documented
    * consumer rule — keep max(valid_to_id) per (user, valid_from_id)
    * version key — and the reconstructed table must be EXACTLY the
    * batch SCD2 build: c7's oracle verbatim. Error-op rows close their
    * predecessor but emit no visible version, same as c7. */
  def s12Scd2Stream(spark: SparkSession, dir: String): DataFrame = withRocksDB(spark) {
    import spark.implicits._
    run(spark, "s12", Streams.scd2Stream(replay(spark, dir, Events)
        .select(col("event_id").as("eventId"), unix_millis(col("ts")).as("tsMs"),
          col("user_id").as("userId"), col("event_type").as("op"), col("value"))
        .as[Scd2Record]))
      .groupBy(col("userId").as("user_id"), col("validFromId").as("valid_from_id"))
      .agg(max(col("validToId")).as("valid_to_id"),
        max(col("validFromMs")).as("valid_from_ms"),
        max(col("op")).as("op"), max(col("value")).as("value"))
      .filter(col("op") =!= "error")
      .withColumn("is_current", when(col("valid_to_id") === -1L, 1L).otherwise(0L))
      .select(col("user_id"), col("valid_from_id"), col("valid_to_id"),
        col("valid_from_ms"), col("op"), col("value"), col("is_current"))
      .orderBy("user_id", "valid_from_id")
  }

  /** s14 shared shape: weekly "k biggest events by value" where the
    * state-store row IS graft's [[graft.functions.TopKByAgg]] bounded
    * heap (≤k pairs per week, fixed-size state like s11's HLL++ row and
    * s13's GK summary) — the top-k cell of the streaming-twin matrix.
    * Null values are filtered before the aggregate (matching the
    * oracle's WHERE), and the ranking (cents DESC, event_id ASC) is a
    * total order, so the selection is exact. */
  private[streaming] def s14Weekly(df: DataFrame): DataFrame = df.select(
    date_trunc("week", col("ts")).cast("date").cast("string").as("wk"),
    Tables.cents(col("value")).as("v"), col("event_id"))
    .filter(col("v").isNotNull)

  private[streaming] def s14Aggregate(df: DataFrame): DataFrame = {
    import graft.functions.TopKByAgg.topkBy
    s14Weekly(df).groupBy(col("wk"))
      .agg(topkBy(col("v"), col("event_id"), 5).as("tk"))
  }

  /** s14 gate: continuous per-group top-k — x42's streaming twin and
    * the fourth cell of the streaming-twin matrix (distinct q28↔s11,
    * frequency q27c↔s10, quantiles q29↔s13, top-k x42↔s14). Because
    * selection under a total order is EXACT and merge-invariant —
    * TopKSpec's property — the cross-micro-batch merge cannot drift,
    * and the gate is the full window-rank SQL oracle, not a bound-flag
    * verdict: the strongest gate in the streaming family. Complete-mode
    * memory sink like s11/s13; update mode + an event-time watermark
    * evicting closed weeks is the production form. */
  def s14TopkStream(spark: SparkSession, dir: String): DataFrame = withRocksDB(spark) {
    run(spark, "s14", s14Aggregate(replay(spark, dir, Events)
        .select(col("event_id"), col("ts"), col("value"))), "complete")
      .select(col("wk"), posexplode(col("tk")))
      .select(col("wk"), (col("pos") + 1).cast("long").as("rnk"),
        col("col.tag").as("event_id"), col("col.ord").as("v"))
      .orderBy("wk", "rnk")
  }

  /** s15 shared shape: per-(type, day) event counts — q32's streaming
    * state. The state-store row is ONE long per (type, day) cell
    * (bounded by |types|×|days| however large the event log), and
    * counts merge by sum, so the cross-micro-batch fold is exact under
    * any feed chunking. */
  private[streaming] def s15Aggregate(df: DataFrame): DataFrame =
    df.select(col("event_type"),
      date_trunc("day", col("ts")).cast("date").cast("string").as("day"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("n"))

  /** s15 gate: continuous anomaly monitoring — q32's streaming twin and
    * the fifth cell of the streaming-twin matrix (distinct q28↔s11,
    * frequency q27c↔s10, quantiles q29↔s13, top-k x42↔s14, anomaly
    * q32↔s15). The stream folds the daily count table through the state
    * store across micro-batches; the z² verdict then runs the batch
    * operator's own arithmetic over the streamed table, so the fold is
    * exact and the gate is q32's full oracle verbatim — no bound flag.
    * Complete-mode memory sink like s11/s13/s14; update mode + an
    * event-time watermark closing days (each day's verdict firing once
    * its baseline week is sealed) is the production form. */
  def s15AnomalyStream(spark: SparkSession, dir: String): DataFrame = withRocksDB(spark) {
    graft.ops.Windows.q32AnomalyOn(run(spark, "s15", s15Aggregate(replay(spark, dir, Events)
      .select(col("event_type"), col("ts"))), "complete"))
  }

  /** s16's per-row IVFADC routing + encoding against the FROZEN
    * driver-held models, as pure per-row expressions — no join at all:
    * each arriving vector scores 16 centroid literals (the exact
    * scaled-cosine the batch index uses, argmax via a packed
    * `least`) and 4×8 codebook literals (exact int64 squared-L2,
    * argmin via the same packing as [[graft.ops.VectorOps]]'s encoder).
    * This is the SERVING shape of index maintenance: model parameters
    * ride the closure as literals, arrivals never shuffle. Emits
    * (vec_id, list_id, cw) with cw the 12-bit packed code word
    * code0 + 8·code1 + 64·code2 + 512·code3. */
  private[streaming] def s16Encode(spark: SparkSession, dir: String,
      df: DataFrame): DataFrame = {
    import graft.functions.VectorFunctions.{dotArr, normSqArr}
    import graft.ops.VectorOps.{pqK, pqM, pqSub, x16Scale}
    val cents = graft.ops.Stages.x16Centroids(spark, dir)
    val books = graft.ops.Stages.pqBooks(spark, dir)
    val v = col("embedding")
    val nrm = sqrt(normSqArr(v))
    // route: max scaled-cosine, lowest-cid ties — the ONE shared
    // packed-min expression ([[graft.ops.VectorOps.routePacked]], since
    // r20 also the batch assignment's form), so serving and batch
    // arithmetic cannot drift
    val routePacked = graft.ops.VectorOps.routePacked(cents, v, nrm)
    val sv = transform(v, x => floor(x.cast("double") * lit(x16Scale.toDouble)))
    def codeM(m: Int): Column = {
      val u = slice(sv, m * pqSub + 1, pqSub)
      least(books.filter(_._1 == m.toLong).map { case (_, cid, cu) =>
        aggregate(zip_with(u, typedlit(cu), (a, b) => (a - b) * (a - b)),
          lit(0L), (acc, x) => acc + x) * lit(pqK) + lit(cid)
      }: _*) % lit(pqK)
    }
    df.select(col("vec_id"),
      (routePacked % lit(16L)).as("list_id"),
      (0 until pqM).map(m => codeM(m) * lit(1L << (3 * m)))
        .reduce(_ + _).as("cw"))
  }

  /** The s16 batch twin: per-list occupancy and summed code words from
    * the STORED [[graft.ops.Stages.x57Index]] — the same materialized
    * index x57 serves. */
  private[streaming] def s16BatchLists(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.VectorOps.pqM
    graft.ops.Stages.x57Index(spark, dir)
      .groupBy(col("list_id"))
      .agg(Tables.fdiv(count(lit(1)), lit(pqM.toLong)).as("n_vecs"),
        sum(col("cid") *
          when(col("m") === 0, 1L).when(col("m") === 1, 8L)
            .when(col("m") === 2, 64L).otherwise(512L)).as("cw_sum"))
  }

  /** s16 gate: continuous IVFADC index maintenance — the streaming twin
    * of the x56/x57 index BUILD, closing the index lifecycle (x56/x57
    * build+serve, x58 audits recall, s16 maintains under arrivals): new
    * vectors stream in and are routed + PQ-encoded per row against the
    * FROZEN centroids/codebooks (the deployment shape — inserts never
    * retrain), while a streaming aggregation tracks per-inverted-list
    * occupancy and the additive code-word sum across micro-batches.
    * Exact parity gate: the final streamed per-list table must equal
    * the batch x57Index rollup bit-for-bit (occupancy AND code
    * checksum), proving route+encode agree row-for-row with the stored
    * index regardless of arrival chunking. State = one (count, sum)
    * row per inverted list — k rows total, the minimal-state s11
    * footing; at 100 TB of arrivals the state is still k rows. */
  def s16PqStream(spark: SparkSession, dir: String): DataFrame = withRocksDB(spark) {
    val streamed = run(spark, "s16", s16Encode(spark, dir, replay(spark, dir, Embeddings))
      .groupBy(col("list_id"))
      .agg(count(lit(1)).as("n_vecs_s"), sum(col("cw")).as("cw_sum_s")), "complete")
    s16BatchLists(spark, dir).join(streamed, Seq("list_id"), "left")
      .select(col("list_id"), col("n_vecs"), col("cw_sum"),
        (coalesce(col("n_vecs_s"), lit(-1L)) === col("n_vecs"))
          .cast("long").as("occupancy_match"),
        (coalesce(col("cw_sum_s"), lit(-1L)) === col("cw_sum"))
          .cast("long").as("codes_match"))
      .orderBy("list_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s21_label_route" -> s21LabelRouteStream,
    "s20_retrieval_stream" -> s20RetrievalStream,
    "s19_budget_admit" -> s19BudgetAdmitStream,
    "s18_split_route" -> s18SplitRouteStream,
    "s17_bpe_drift_stream" -> s17BpeDriftStream,
    "s16_pq_stream" -> s16PqStream,
    "s8_novelty_stream" -> s8NoveltyStream,
    "s15_anomaly_stream" -> s15AnomalyStream,
    "s14_topk_stream" -> s14TopkStream,
    "s9_temporal_asof" -> s9TemporalAsof,
    "s10_freq_stream" -> s10FreqStream,
    "s11_distinct_stream" -> s11DistinctStream,
    "s12_scd2_stream" -> s12Scd2Stream,
    "s13_quantile_stream" -> s13QuantileStream)

  val oracle: Map[String, String] = Map(
    // s20: the frozen-stats scoring is exact (same two-floor integer
    // arithmetic as x71), so the oracle re-derives the history index and
    // the arrival scoring independently — exact parity, no bound flags
    "s20_retrieval_stream" ->
      """WITH d AS MATERIALIZED (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |t AS (SELECT (9 * max(doc_id)) // 10 AS thr FROM d),
        |hist AS MATERIALIZED (SELECT doc_id, w FROM d CROSS JOIN t WHERE doc_id <= thr),
        |st AS MATERIALIZED (SELECT count(*) AS n, CAST(sum(len(w)) AS BIGINT) AS tt FROM hist),
        |qt AS (SELECT DISTINCT doc_id AS q_id, unnest(w[1:3]) AS term FROM hist WHERE doc_id < 5),
        |dft AS (SELECT term, count(DISTINCT doc_id) AS df
        |        FROM (SELECT doc_id, unnest(w) AS term FROM hist)
        |        WHERE term IN (SELECT term FROM qt) GROUP BY 1),
        |arr AS (SELECT doc_id, w,
        |          2500 + (7500 * (SELECT n FROM st) * len(w)) // (SELECT tt FROM st) AS dnorm1e4
        |        FROM d CROSS JOIN t WHERE doc_id > thr),
        |p AS (SELECT arr.doc_id, qt.q_id, qt.term, arr.dnorm1e4,
        |        CAST(len(list_filter(arr.w, x -> x = qt.term)) AS BIGINT) AS tf
        |      FROM arr CROSS JOIN qt),
        |sc AS (SELECT p.doc_id, p.q_id,
        |         CAST(sum(((2 * ((SELECT n FROM st) - dft.df) + 1)
        |             * ((2200000000 * p.tf) // (100000 * p.tf + 12 * p.dnorm1e4)))
        |           // (2 * dft.df + 1)) AS BIGINT) AS score1e4
        |       FROM p JOIN dft USING (term) GROUP BY 1, 2)
        |SELECT doc_id, q_id, score1e4 FROM sc
        |WHERE score1e4 > 0 ORDER BY doc_id, q_id""".stripMargin,
    // s19: admission is a pure function of the shard-local running sum,
    // so the oracle is the per-shard prefix sum as a partitioned window
    "s19_budget_admit" -> {
      val shardSql = s"${graft.ops.PipelineOps.hex16Sql("md5(CAST(doc_id AS VARCHAR))")} % $s19Shards"
      s"""WITH d AS MATERIALIZED (SELECT doc_id,
         |        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
         |        CAST($shardSql AS BIGINT) AS shard
         |      FROM documents),
         |t AS (SELECT ${Tables.fdivSql("CAST(sum(n_tok) AS BIGINT)", "2")} AS budget FROM d),
         |sb AS (SELECT ${Tables.fdivSql("budget", s19Shards.toString)} AS shard_budget FROM t),
         |c AS (SELECT doc_id, shard, n_tok,
         |        CAST(sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id) AS BIGINT) AS cum_tok
         |      FROM d)
         |SELECT doc_id, shard, n_tok, cum_tok,
         |  CAST(CASE WHEN cum_tok <= (SELECT shard_budget FROM sb) THEN 1 ELSE 0 END AS BIGINT) AS admitted
         |FROM c ORDER BY doc_id""".stripMargin
    },
    // s18: band-neighbor routing against the frozen history index is
    // exact — the oracle re-derives closure→sticky, capped band index,
    // arrival bands and the OR independently
    "s18_split_route" -> graft.ops.PipelineOps.s18OracleSql,
    // s21: band-neighbor label assignment against the frozen index is
    // exact — the oracle re-derives closure→labels, capped min-label
    // index, arrival bands and the min independently
    "s21_label_route" -> graft.ops.PipelineOps.s21OracleSql,
    // s17: the frozen-merge replay is exact, so the oracle re-derives
    // both chains (train on <=thr, apply on >thr) independently
    "s17_bpe_drift_stream" -> graft.ops.TextOps.s17OracleSql(graft.ops.TextOps.bpeRounds),
    // s16: the streamed per-list rollup is exact parity with the stored
    // index, so the oracle unrolls the index build (x16 assignment +
    // PQ codes) and pins both match flags to 1
    "s16_pq_stream" ->
      s"""WITH ${graft.ops.VectorOps.x16AssignCtesSql},
         |${graft.ops.VectorOps.pqCtesSql}
         |SELECT a.cid AS list_id,
         |  ${Tables.fdivSql("CAST(count(*) AS BIGINT)", "4")} AS n_vecs,
         |  CAST(sum(f.cid * (CASE f.m WHEN 0 THEN 1 WHEN 1 THEN 8 WHEN 2 THEN 64 ELSE 512 END)) AS BIGINT) AS cw_sum,
         |  CAST(1 AS BIGINT) AS occupancy_match,
         |  CAST(1 AS BIGINT) AS codes_match
         |FROM assign a JOIN pqaf f ON f.vec_id = a.vec_id
         |GROUP BY a.cid ORDER BY a.cid""".stripMargin,
    // s9 in log order ≡ the batch as-of: q16's oracle verbatim
    "s9_temporal_asof" -> graft.ops.Windows.oracle("q16_asof"),
    // s15: the streamed daily fold is exact, so the batch q32 oracle
    // gates it verbatim — no bound flag
    "s15_anomaly_stream" -> graft.ops.Windows.oracle("q32_anomaly"),
    // s14: exact selection ⇒ the full window-rank oracle, no bound flag
    "s14_topk_stream" ->
      s"""SELECT wk, CAST(rnk AS BIGINT) AS rnk, event_id, v FROM (
         |  SELECT CAST(CAST(date_trunc('week', ts) AS DATE) AS VARCHAR) AS wk, event_id,
         |    ${Tables.centsSql("value")} AS v,
         |    row_number() OVER (
         |      PARTITION BY CAST(date_trunc('week', ts) AS DATE)
         |      ORDER BY ${Tables.centsSql("value")} DESC, event_id ASC) AS rnk
         |  FROM events WHERE value IS NOT NULL)
         |WHERE rnk <= 5 ORDER BY wk, rnk""".stripMargin,
    // s11: exact weekly distincts + the bound flag pinned to 1 (the
    // q28 shape without its total row)
    "s11_distinct_stream" ->
      """WITH e AS (SELECT CAST(CAST(date_trunc('week', ts) AS DATE) AS VARCHAR) AS wk, user_id FROM events)
        |SELECT wk, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        |  CAST(1 AS BIGINT) AS in_bound
        |FROM e GROUP BY wk ORDER BY wk""".stripMargin,
    // s10's verdict row is the batch q27c shape: its oracle verbatim
    "s10_freq_stream" -> graft.ops.Analytics.oracle("q27c_freq_grouped"),
    // s12 in log order ≡ the batch SCD2 build: c7's oracle verbatim
    "s12_scd2_stream" -> graft.ops.Changelog.oracle("c7_scd2"),
    // s13: exact weekly n + the tie-aware rank flag pinned to 1 (q29's
    // weekly rows, no total)
    "s13_quantile_stream" ->
      """WITH w AS (SELECT CAST(CAST(date_trunc('week', ts) AS DATE) AS VARCHAR) AS wk, count(*) AS n
        |           FROM events WHERE value IS NOT NULL GROUP BY 1)
        |SELECT wk, CAST(p.pct AS BIGINT) AS pct, CAST(n AS BIGINT) AS n, CAST(1 AS BIGINT) AS in_bound
        |FROM w CROSS JOIN (VALUES (50), (90), (99)) AS p(pct)
        |ORDER BY wk, pct""".stripMargin,
    "s8_novelty_stream" ->
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |g AS (SELECT doc_id, CASE WHEN len(w) >= 3
         |        THEN list_distinct(list_transform(range(1, len(w) - 1),
         |               i -> md5(array_to_string(w[i : i + 2], ' '))))
         |        ELSE [] END AS gs FROM d),
         |t AS (SELECT ${Tables.fdivSql("9 * max(doc_id)", "10")} AS thr FROM g),
         |oldk AS (SELECT DISTINCT unnest(gs) AS h FROM g CROSS JOIN t WHERE doc_id <= thr),
         |e AS (SELECT doc_id, unnest(gs) AS h FROM g CROSS JOIN t WHERE doc_id > thr),
         |hits AS (SELECT e.doc_id, count(o.h) AS n_hit
         |         FROM e LEFT JOIN oldk o ON e.h = o.h GROUP BY e.doc_id),
         |base AS (SELECT doc_id, len(gs) AS n_keys FROM g CROSS JOIN t WHERE doc_id > thr)
         |SELECT base.doc_id, CAST(n_keys AS BIGINT) AS n_keys,
         |  CAST(coalesce(n_hit, 0) AS BIGINT) AS n_hit,
         |  CAST(1 AS BIGINT) AS keys_match, CAST(1 AS BIGINT) AS probe_sound,
         |  CAST(1 AS BIGINT) AS fp_in_bound
         |FROM base LEFT JOIN hits ON base.doc_id = hits.doc_id
         |ORDER BY base.doc_id""".stripMargin)
}
