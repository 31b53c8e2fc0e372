package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import scala.collection.concurrent.TrieMap
import scala.util.control.NonFatal

import graft.streaming.StreamGate

/** The per-session artifact cache: every shared build of the engine,
  * computed once per (session, sfDir) and declared here ONCE, as a
  * [[Stage]] descriptor whose name is its bench line (`stage:<name>`) and
  * whose declaration order is the bench order ([[registry]]).
  *
  * The dedup stack forms a DAG, not a tree: x13's candidate pairs feed
  * the x13 query itself, x24's clustering, and x33's QA report; x2's
  * exact pairs feed x2 and x33; x24's labels feed x24 and x35. Spark
  * recomputes diamond subtrees per consumer (and exprId renumbering
  * defeats ReusedExchange across separate actions), so before this
  * helper a QA run (x33) cost two full dedup runs and a canonical pick
  * (x35) re-ran the whole label-propagation fixpoint — the two plans the
  * round-3 verdict flagged as the only ones weak at 100×.
  *
  * Each artifact is built EAGERLY the first time any consumer asks for
  * it, under one monitor, and served from one map after that. The entry
  * kinds, and what releasing an entry does:
  *
  *  - [[Frame]]: a materialized DataFrame. By default
  *    `localCheckpoint(true)` — executor-memory blocks, zero I/O, right
  *    for tests and single-session batch runs; release unpersists the
  *    checkpoint's blocks ([[graft.util.Checkpoints.release]];
  *    `Dataset.unpersist` would not). With `spark.graft.stageDir` (or the
  *    `SPARK_GRAFT_STAGE_DIR` env var) set to a writable directory, each
  *    frame is written once as parquet and re-read by every consumer —
  *    the durable parquet-between-phases shape the same pipeline has at
  *    100 TB (survives executor loss, holds no block-manager memory);
  *    release is then nothing, the files go with the session's `run_<id>`
  *    scratch subdir ([[runIds]]). A frame backed by a stamped store
  *    serves the CONFIGURED store ([[readStamped]]) and stages only when
  *    unconfigured.
  *  - [[Held]] / [[Centroids]]: a small driver-held value (codebooks,
  *    centroids, a serialized bloom), bounded by construction; release is
  *    nothing.
  *  - [[ReplayFeed]]: a stream gate's staged replay files; release is
  *    [[StreamGate.deleteFeed]].
  *  - [[Corpus]]: a generated media corpus directory; release deletes it.
  *
  * Eviction runs the release action of every entry it drops:
  * [[evictSession]] drops one session's entries, [[evict]] one context's
  * (wired to `onApplicationEnd`, the one listener every entry kind
  * shares), [[purgeStopped]] those of stopped contexts (the build slow
  * path's backstop), and [[clear]] every entry. The first three also
  * drop the owners' stamped-read memos and parquet run scratch; [[clear]]
  * drops every stamped-read and manifest memo. The exception is
  * [[invalidateStoreDerived]]: a store overwrite drops the entries built
  * from that store WITHOUT releasing them (frames built before the
  * overwrite keep serving their generation).
  *
  * The cached frames are the BOUNDED artifacts of the pipeline — pair
  * lists capped upstream by df caps/banding and the label table (one row
  * per doc id, two longs) — never corpus-sized text, so either
  * materialization is small. Consumer plans are identical both ways:
  * read the stage, never re-derive it.
  *
  * Consumers must apply their own output ordering AFTER reading a stage:
  * a checkpoint preserves partition layout, not a contract.
  */
object Stages {
  // every descriptor below appends itself here on construction, so this
  // must be initialized before the first one
  private val declared = scala.collection.mutable.ArrayBuffer.empty[Stage[_]]

  /** Every staged artifact, in declaration order: Bench times one
    * `stage:<name>` line per descriptor, in this order, before its query
    * lines. Each descriptor is declared after every descriptor its build
    * reads (StagesSpec pins it), so a line carries only its own build. */
  private[graft] def registry: Seq[Stage[_]] = declared.toSeq

  /** One staged artifact: its bench line name and how to build (or
    * serve) it for a (session, sfDir). Constructing one registers it, and
    * only this object constructs them, so the registry is complete. */
  sealed abstract class Stage[T](val name: String) {
    declared += this
    def apply(spark: SparkSession, dir: String): T
  }

  // key: (session, sfDir, entry name, resolved stage root) — the root is
  // part of a frame's key so toggling spark.graft.stageDir mid-session
  // builds the new mode's stage instead of silently serving the old
  // mode's; the other kinds key with None
  private type Key = (SparkSession, String, String, Option[String])
  // the built value, the store keys its build consulted (see [[cached]])
  // and the action that frees what it holds
  private final case class Entry(value: Any, deps: Set[String], release: () => Unit)
  private val entries = TrieMap.empty[Key, Entry]
  private val noRelease: () => Unit = () => ()

  // validated stamped-store reads, memoized per (session, path, artifact):
  // Artifacts.readStamped runs the meta collect plus a full count()
  // validation job per call, and the label/sticky/index stores each have
  // several consumers per session — validate once, serve the validated
  // frame (plus the stamp's row count and freeze props, so a consumer
  // needing both never re-validates) after that. Entries are lazy
  // parquet plans (no pinned blocks); eviction is bare map removal, and
  // [[Artifacts.writeStamped]] evicts its path's entries on overwrite
  // (a persist-then-read flow reusing one path must re-validate the new
  // stamp, never serve a plan over deleted files).
  private val stampedCache =
    TrieMap.empty[(SparkSession, String, String), (DataFrame, Long, Map[String, String])]

  /** [[Artifacts.readStamped]] with the validation memoized per
    * (session, path, artifact) — the accessor every configured-path
    * branch goes through. Same build discipline as [[cached]]: fast-path
    * get, validate under the one monitor. */
  private[graft] def readStamped(spark: SparkSession, path: String,
      artifact: String): DataFrame =
    readStampedEntry(spark, path, artifact)._1

  /** The stamped store at `path`: its memoized validated frame and its
    * stamped freeze boundary (the descriptor's axis prop, loud when
    * missing) — one validation pass serves both. */
  private[graft] def generationAt(spark: SparkSession, path: String,
      store: Artifacts.Store): (DataFrame, Long) = {
    val (df, _, props) = readStampedEntry(spark, path, store.key)
    (df, Artifacts.stampedLong(store, path, props, store.prop))
  }

  /** [[generationAt]] of the CONFIGURED store, None when unconfigured —
    * the frame + boundary pair x75's maintenance and the route index's
    * sticky generation read. */
  private[graft] def generation(spark: SparkSession,
      store: Artifacts.Store): Option[(DataFrame, Long)] =
    Artifacts.configuredPath(spark, store.key).map(generationAt(spark, _, store))

  private def readStampedEntry(spark: SparkSession, path: String,
      artifact: String): (DataFrame, Long, Map[String, String]) = {
    // normalized key ([[Artifacts.normPath]]): equivalent spellings
    // (file:/ URI vs bare, relative vs absolute) share one memo, so
    // writeStamped's eviction cannot miss a read inserted under another
    // spelling of the same location
    val key = (spark, Artifacts.normPath(spark, path), artifact)
    stampedCache.get(key).getOrElse(synchronized {
      purgeStopped()
      hookEviction(spark)
      stampedCache.getOrElseUpdate(key,
        Artifacts.readStampedWithFacts(spark, path, artifact))
    })
  }

  /** Drop every memoized read of the NORMALIZED path `norm` (all
    * sessions, all artifact keys) — called by [[Artifacts.writeStamped]]
    * when the path is overwritten, so a re-persist within a session is
    * served fresh and re-validated instead of from a plan over the
    * deleted files. Callers pass [[Artifacts.normPath]] output; entries
    * are inserted under the same normalization. */
  private[graft] def invalidateStamped(norm: String): Unit =
    stampedCache.keys.filter(_._2 == norm).foreach(stampedCache.remove)

  // the store-key sets of the builds running on this thread, innermost
  // first (builds nest: a stage's build asks for other stages)
  private val building =
    ThreadLocal.withInitial(() => List.empty[scala.collection.mutable.Set[String]])

  /** Record a store consultation against the innermost build on this
    * thread (a no-op outside builds). [[Artifacts.configuredPath]] calls
    * it on EVERY resolution, successful or not: a stage built while its
    * store was unconfigured is as stale after a persist as one built from
    * the previous generation. [[cached]] passes an inner entry's set up
    * to the enclosing build, on a build and on a cache hit alike, so an
    * entry's set covers its whole derivation. */
  private[graft] def consulted(artifact: String): Unit =
    building.get.headOption.foreach(_ += artifact)

  /** Drop every entry whose build consulted `artifact` — called by
    * [[Artifacts.writeStamped]] after the overwrite, alongside
    * [[invalidateStamped]]. Complete by construction: the dependency
    * sets are recorded, never hand-kept, so a new stage that reads a
    * store is evicted without being listed anywhere. Conservative across
    * sessions and sfDirs: eviction is cheap (consumers rebuild on next
    * ask and then resolve the CURRENT store generation), staleness is a
    * correctness defect. The entries are NOT released here: frames
    * constructed BEFORE the persist legitimately keep serving their
    * construction-time generation (the StoreLifecycleSpec running-stream
    * contract) and still reference the checkpoint blocks — dropping our
    * handle makes them ContextCleaner-reclaimable once those frames go. */
  private[graft] def invalidateStoreDerived(artifact: String): Unit = synchronized {
    dependents(artifact).foreach(entries.remove)
  }

  private def dependents(artifact: String): Iterable[Key] =
    entries.collect { case (k, e) if e.deps(artifact) => k }

  /** The names of the cached entries whose build consulted `artifact`. */
  private[graft] def dependentStages(artifact: String): Set[String] =
    dependents(artifact).map(_._3).toSet

  private[graft] def cachedEntryCount: Int = entries.size + stampedCache.size

  /** How many entries (stages, feeds, corpora, stamped reads) `spark`
    * owns. */
  private[graft] def sessionEntryCount(spark: SparkSession): Int =
    entries.keys.count(_._1 eq spark) + stampedCache.keys.count(_._1 eq spark)

  /** Drop every entry whose session `owned` selects, running its release
    * action. The per-key `remove` is atomic, so a release runs once even
    * when two eviction paths race. Release is best-effort: a leaked block
    * or dir is a leak, not a correctness error. */
  private def release(owned: SparkSession => Boolean): Unit =
    entries.keys.filter(k => owned(k._1)).foreach { k =>
      entries.remove(k).foreach { e =>
        try e.release() catch { case NonFatal(_) => () }
      }
    }

  /** [[release]] plus the owners' stamped reads and run scratch dirs. */
  private def drop(owned: SparkSession => Boolean): Unit = {
    release(owned)
    stampedCache.keys.filter(k => owned(k._1)).foreach(stampedCache.remove)
    runIds.keys.filter(owned).foreach(dropRunScratch)
  }

  /** Contexts that already carry the eviction listener. */
  private val hooked = TrieMap.empty[org.apache.spark.SparkContext, Unit]

  /** Drop every entry owned by `sc` — wired to onApplicationEnd below, so
    * a long-lived JVM cycling applications (a notebook server, a test
    * runner) can't accumulate entries. A frame's release is a no-op on a
    * STOPPED context (the blocks died with the executors); feed and
    * corpus dirs are driver-local disk and are deleted either way. */
  private[graft] def evict(sc: org.apache.spark.SparkContext): Unit = {
    drop(_.sparkContext eq sc)
    // a LIVE context keeps its hook (the listener stays registered on the
    // bus either way — dropping the marker would make the next build add
    // a duplicate listener); a stopped context's marker is garbage
    if (sc.isStopped) hooked.remove(sc)
  }

  /** Explicit per-session release, for long-lived JVMs cycling many
    * sessions over ONE live context (a notebook server): Spark has no
    * session-end listener event, so a session owner that is done should
    * call this to free everything the session pinned — checkpoint
    * blocks, replay feeds, media corpora, stamped-read memos and its
    * parquet run scratch — rather than leaving it until application end.
    * Synchronized with the build monitor so an in-flight build can't
    * slip an entry past the eviction's key snapshot. NOTE: released
    * stages cannot recompute (localCheckpoint truncates lineage) — call
    * only when this session is done. */
  def evictSession(spark: SparkSession): Unit = synchronized(drop(_ eq spark))

  /** Drop a session's run id, deleting its parquet-mode `run_<id>`
    * scratch subdir first (after the id is dropped the path is
    * unreachable — [[stageRoot]] would mint a fresh one). Best-effort:
    * conf/FS access can fail on a stopping context, and a leaked dir is
    * disk, not correctness — but every eviction path ([[evictSession]],
    * application-end [[evict]], the [[purgeStopped]] backstop) must at
    * least ATTEMPT it, or a JVM cycling sessions over one shared stage
    * root grows a corpus-sized orphan per run. */
  private def dropRunScratch(spark: SparkSession): Unit = {
    try {
      if (runIds.contains(spark)) stageRoot(spark).foreach { d =>
        val p = new org.apache.hadoop.fs.Path(d)
        org.apache.hadoop.fs.FileSystem
          .get(p.toUri, spark.sessionState.newHadoopConf()).delete(p, true)
      }
    } catch { case NonFatal(_) => () }
    runIds.remove(spark)
  }

  private def hookEviction(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    hooked.getOrElseUpdate(sc, {
      sc.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onApplicationEnd(
            e: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit = evict(sc)
      })
    })
  }

  /** Entries whose context is already stopped are unreachable garbage —
    * purged (and released: their dirs outlive the executors) on the build
    * slow path, which is the only place the maps grow. Also drops the
    * listener markers: this is the backstop for the case where
    * onApplicationEnd never arrived (LiveListenerBus drops events when
    * its queue overflows). */
  private def purgeStopped(): Unit = {
    drop(_.sparkContext.isStopped)
    hooked.keys.filter(_.isStopped).foreach(hooked.remove)
  }

  /** Per-session run tag under the configured stage root: two LIVE
    * sessions pointed at one root used to silently overwrite each other's
    * stage files (documented as forbidden, previously unenforced); each
    * session now writes under its own `run_<id>` subdirectory, so sharing
    * a root is safe — at the price of each session building its own
    * stages, which is the parquet mode's per-run-scratch contract anyway.
    * Every eviction path deletes the subdirectory via
    * [[dropRunScratch]]. */
  private val runIds = TrieMap.empty[SparkSession, String]

  private def runTag(spark: SparkSession): String =
    runIds.getOrElseUpdate(spark,
      java.util.UUID.randomUUID().toString.replace("-", "").take(12))

  /** The parquet-stage root, if configured: runtime conf first (testable
    * per session; an EMPTY conf value explicitly forces localCheckpoint
    * even when the env var is exported — tests of the default mode rely
    * on that), env var as the deployment default. The resolved root is
    * session-scoped (see [[runIds]]). */
  private def stageRoot(spark: SparkSession): Option[String] = {
    val base = spark.conf.getOption("spark.graft.stageDir") match {
      case Some(v) => Some(v).filter(_.nonEmpty)
      case None    => sys.env.get("SPARK_GRAFT_STAGE_DIR").filter(_.nonEmpty)
    }
    base.map(r => s"${r.stripSuffix("/")}/run_${runTag(spark)}")
  }

  /** The one cache path every kind goes through. Builds are serialized:
    * TrieMap.getOrElseUpdate may evaluate the by-name op in two racing
    * threads and discard one result — orphaned blocks for a checkpoint,
    * but two concurrent WRITERS of one parquet path, or a second corpus
    * or feed directory nobody deletes. One monitor across all entries is
    * fine: builds are rare and heavy, lookups after the first never reach
    * it (fast-path get). Each entry keeps the store keys its build
    * consulted ([[consulted]]), and every return — built or cached —
    * passes them to the enclosing build, if any. A build that throws
    * leaves no entry, so the next ask rebuilds. */
  private def cached[T](key: Key)(build: => (T, () => Unit)): T = {
    val e = entries.getOrElse(key, synchronized {
      purgeStopped()
      hookEviction(key._1)
      entries.getOrElseUpdate(key, {
        val deps = scala.collection.mutable.Set.empty[String]
        building.set(deps :: building.get)
        val (value, release) =
          try build
          finally building.set(building.get.tail)
        Entry(value, deps.toSet, release)
      })
    })
    e.deps.foreach(consulted)
    e.value.asInstanceOf[T]
  }

  /** A materialized frame, optionally backed by a stamped `store`: the
    * CONFIGURED store, validated and memoized ([[readStamped]] — loud on
    * missing/wrong/stale, never a silent re-derive), else the in-session
    * `build`, staged so it runs once per session. */
  final class Frame private[Stages] (name: String, store: Option[Artifacts.Store],
      build: (SparkSession, String) => DataFrame) extends Stage[DataFrame](name) {
    def apply(spark: SparkSession, dir: String): DataFrame =
      store.flatMap(s => Artifacts.configuredPath(spark, s.key).map(readStamped(spark, _, s.key)))
        .getOrElse(staged(spark, dir))

    private def staged(spark: SparkSession, dir: String): DataFrame = {
      val root = stageRoot(spark)
      cached((spark, dir, name, root))(root match {
        case Some(r) =>
          // one subdir per (sfDir, stage): the sanitized path plus its
          // hash keeps parallel scale factors from colliding under one
          // root (sanitizing alone could map "a/b" and "a_b" together;
          // a 32-bit hash alone has real collision odds — both must
          // match to collide)
          val tag = dir.replaceAll("[^A-Za-z0-9.-]", "_").takeRight(48) +
            "_" + java.lang.Integer.toHexString(dir.hashCode)
          val path = s"$r/stage_${tag}_$name"
          build(spark, dir).write.mode("overwrite").parquet(path)
          (spark.read.parquet(path), noRelease)
        case None =>
          val cp = build(spark, dir).localCheckpoint(true)
          (cp, () => if (!spark.sparkContext.isStopped) graft.util.Checkpoints.release(cp))
      })
    }
  }

  /** A driver-held value. */
  final class Held[T] private[Stages] (name: String, build: (SparkSession, String) => T)
      extends Stage[T](name) {
    def apply(spark: SparkSession, dir: String): T =
      cached((spark, dir, name, None))((build(spark, dir), noRelease))
  }

  /** x16's learned k-means centroids — k·dim scaled longs, driver-held
    * (the MLlib shape; see VectorOps.kmeansCentroids). Learned once per
    * (session, sfDir, k), cached as `<name>_<k>`; consumed by x16's IVF
    * probe and x27's SemDeDup cluster key. The bench line learns the
    * default k. */
  final class Centroids private[Stages] (name: String)
      extends Stage[Seq[(Long, Seq[Long])]](name) {
    def apply(spark: SparkSession, dir: String): Seq[(Long, Seq[Long])] =
      apply(spark, dir, VectorOps.x16K)
    def apply(spark: SparkSession, dir: String, k: Int): Seq[(Long, Seq[Long])] =
      cached((spark, dir, s"${name}_$k", None))(
        (VectorOps.kmeansCentroids(spark, dir, k), noRelease))
  }

  /** A shared stream-gate replay feed, one per (session, sfDir, table):
    * the five event-log gates (s9/s11/s12/s13/s14) replay the same events
    * table and the document gates the same documents table, but each
    * used to stage its OWN near-identical key-range copy — six staging
    * builds of two tables per session, ~16 s of the r10 bench. The staged
    * frame is the column `superset` every gate over the table reads, in
    * the table's log `order`, so the row set and replay chunking are
    * identical for every consumer; each gate projects/renames its columns
    * AFTER the stream read (parquet column pruning means it pays only for
    * the columns it touches). s8 filters its arrival slice post-read —
    * its probe is stateless, so which chunk the arrivals land in cannot
    * change its output. Unshared feeds (the restart e2e harnesses) stage
    * and delete their own. */
  private[graft] final class ReplayFeed private[Stages] (name: String, order: String,
      val superset: (SparkSession, String) => DataFrame)
      extends Stage[StreamGate.Feed](name) {
    def apply(spark: SparkSession, dir: String): StreamGate.Feed =
      cached((spark, dir, name, None)) {
        val feed = StreamGate.stageFeed(superset(spark, dir), order)
        (feed, () => StreamGate.deleteFeed(spark, feed.dir))
      }
  }

  /** A generated media corpus: `write` fills a fresh driver-local temp
    * dir `graft_<name>_*` (executor tasks write the files; the driver
    * holds only the directory name), which a failed build deletes before
    * rethrowing and a release deletes with the entry. */
  final class Corpus private[Stages] (name: String,
      write: (SparkSession, String, String) => Unit) extends Stage[String](name) {
    def apply(spark: SparkSession, dir: String): String =
      cached((spark, dir, name, None)) {
        val out = java.nio.file.Files.createTempDirectory(s"graft_${name}_").toFile
        try write(spark, dir, out.toString)
        catch { case t: Throwable => deleteTree(out); throw t }
        (out.toString, () => deleteTree(out))
      }
  }

  /** Recursive delete of a driver-local directory (best-effort). */
  private[graft] def deleteTree(f: java.io.File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteTree)
    f.delete()
  }

  // ---- the registry, in bench order ----

  /** x16's learned k-means centroids (see [[Centroids]]). */
  val x16Centroids = new Centroids("x16_centroids")

  /** The trained PQ codebooks (m, cid, cu) — driver-held M·k·sub longs
    * (512 here), the same bounded-collect shape as [[x16Centroids]].
    * Trained once per (session, sfDir); consumed by x56's encoder, x57's
    * ADC search, and x58's recall QA. */
  val pqBooks = new Held[Seq[(Long, Long, Seq[Long])]]("pq_books",
    (s, d) => VectorOps.pqTrainBooks(s, d))

  /** The materialized IVFADC index (vec_id, m, cid, list_id): coarse
    * inverted-file assignment + PQ codes, M rows × three longs per
    * vector — the stored 4-byte/vector index a deployment builds once
    * and serves many searches from. Two sources, in priority order:
    * (1) the PERSISTED table ([[VectorOps.persistPqIndex]] +
    * `spark.graft.ivfIndexPath`) — a configured-but-missing path throws
    * rather than silently re-deriving (the x68Sticky rule: a re-derive
    * under retrained books would serve codes the stored deployment never
    * shipped); (2) the in-session stage. Read by x57's searcher, x58's
    * recall QA, and the s16 gate; sized ∝ corpus rows (3 longs × M per
    * vector), far smaller than any gram stage. */
  val x57Index = new Frame("x57_index", Some(Artifacts.IvfIndex),
    (s, d) => VectorOps.buildPqIndex(s, d))

  /** The per-user daily-cents series (user_id, sv) — |users| rows ×
    * #days longs, bounded. Read by the series trio x59/x60/x61, each of
    * which references it 2–4 times inside one plan; without the stage
    * every reference re-ran the (user, day) rollup over the full event
    * log. */
  val seriesDaily = new Frame("series_daily", None,
    (s, d) => Windows.dailySeriesUnstaged(s, d))

  /** x49's ranked gram index (doc_id, h0, df, rnk, n): per-doc distinct
    * 64-bit 3-gram keys with global document frequency, rarest-first
    * rank, and set size — read by x49's prefix filter AND both verify
    * sides (three consumers of one diamond). Unlike the pair-list
    * stages this one is GRAM-COUNT-sized (the biggest staged artifact);
    * it earns the slot because the alternative is re-running the
    * shingle explode + two window exchanges per consumer inside one
    * query, and at 100 TB this exact frame is the durable parquet gram
    * stage the x49 scaladoc names. */
  val x49Grams = new Frame("x49_grams", None, (s, d) => TextOps.x49RankedGrams(s, d))

  /** The shared positional 5-gram frame (doc_id, source, p, h = md5 hex)
    * — read by x43's span coverage (doc_id, p, h) and x45's
    * source-overlap matrix (source, h). Gram-count-sized like
    * [[x49Grams]], same justification: one corpus 5-gram hash pass per
    * session instead of one per consumer. */
  val grams5 = new Frame("grams5", None, (s, d) => TextOps.grams5Rows(s, d))

  /** x2's exact 3-gram-Jaccard near-dup pairs (d1, d2, inter, n1, n2,
    * jac_s4), unsorted. */
  val x2Pairs = new Frame("x2_pairs", None, (s, d) => TextOps.x2PairsUnsorted(s, d))

  /** The x13 MinHash band table over the FULL corpus (doc_id, band, h —
    * ≤4 rows per doc, three longs; the bounded banding artifact). One
    * corpus shingle→minhash→band pass per session (r20, guide §2.4):
    * before this stage the banding re-ran per consumer — x13's pair
    * stage, the s18/s21 frozen-index builds (history slice), the
    * router/label arrival probes (arrival slice), and x78's re-freeze
    * proof (full + delta) each paid their own corpus scan + shingle
    * explode + minhash aggregate. Banding is doc-local, so every slice
    * is a doc-id filter of this one frame (filter-then-band ≡
    * band-then-filter — x78's r19 argument, applied everywhere). Also
    * retires x78's inline localCheckpoint, which was never released
    * (r19 ADVICE): the stage's blocks are released by [[clear]] /
    * [[evictSession]] like every other stage's. */
  val x13BandsAll = new Frame("x13_bands", None, (s, d) =>
    TextOps.x13Bands(graft.model.Tables.documents(s, d).select(col("doc_id"), col("text"))))

  /** x13's MinHash-LSH candidate pairs (d1, d2, n_shared_bands),
    * unsorted. */
  val x13Pairs = new Frame("x13_pairs", None, (s, d) => TextOps.x13Pairs(s, d))

  /** x24's connected-component labels (doc_id, cluster_id) over the x13
    * candidate graph. Two sources, in priority order: (1) the PERSISTED
    * table ([[PipelineOps.persistLabels]] + `spark.graft.labelsPath`) —
    * the stored-governance form: x63/x66's splits, x35's canonical
    * picks, and the sticky seeding ALL derive from this stage, so a
    * re-derive under a retuned x13 candidate generator would silently
    * reshape every one of them; the store is stamp-validated
    * ([[Artifacts.readStamped]]) and loud on missing/wrong/stale;
    * (2) the in-session stage, built FROM the x13 stage, so a session
    * that runs x13 + x24 + x33 + x35 executes the
    * shingle→minhash→band lineage exactly once. */
  val x24Labels = new Frame("x24_labels", Some(Artifacts.Labels), (s, d) =>
    PipelineOps.connectedComponents(
      graft.model.Tables.documents(s, d).select(col("doc_id")),
      x13Pairs(s, d).select(col("d1"), col("d2"))))

  /** x75's in-session seed: the HISTORY labeling (doc_id ≤ the 9/10
    * boundary, components over history-internal pairs) — the
    * correctness harness's stand-in for a labels store frozen at that
    * boundary, the label index's seed, and the sticky roll-forward's
    * cluster source. Derived via the seeded residual
    * ([[PipelineOps.histLabelsOn]] — the [[x68Sticky]] idiom): the full
    * fixpoint is already paid for (staged, or FREE when the labels
    * STORE is configured), so the history pass adds only the residual
    * propagation over arrival-touching clusters — in a store-served
    * session this is what keeps the label-index re-freeze ∝ arrivals
    * instead of a fresh corpus-sized fixpoint. Exact: min-label
    * fixpoints are unique (the histStickyOn argument). Staged so x75
    * and its audit twins run the residual once per session. */
  val x75Seed = new Frame("x75_seed", None, { (s, d) =>
    val thr = graft.model.Tables.historyThr( // 1 row — the installment boundary
      graft.model.Tables.documents(s, d).select(col("doc_id")))
    PipelineOps.histLabelsOn(x13Pairs(s, d).select(col("d1"), col("d2")), x24Labels(s, d), thr)
  })

  /** x75's maintenance output (doc_id, seed_id, cluster_id, changed —
    * one row per doc, two labels and a flag) — read by the x75 query
    * itself AND x76's label-agreement audit. Before this stage (r19
    * opt) each consumer re-ran the arrival star contraction at
    * construction: the fixpoint loop executes EAGERLY (per-round
    * localCheckpoint + convergence probe), so x76 paid x75's whole
    * contraction again on every invocation. BenchScaling's
    * `x75_marginal` leg keeps calling the engine directly — its point
    * is to time exactly that contraction. */
  val x75Labels = new Frame("x75_labels", None, (s, d) => PipelineOps.x75IncLabels(s, d))

  /** x68's sticky split table (doc_id, split_old — one row per HISTORY
    * doc). Two sources, in priority order: (1) the PERSISTED table
    * ([[PipelineOps.persistStickySplits]] + `spark.graft.stickyPath`) —
    * x68's production contract, a stored governance assignment every
    * later installment reads back (stamp-validated via
    * [[Artifacts.readStamped]] — a configured-but-missing, wrong-table,
    * stale-version, or torn path throws with the mismatch named rather
    * than silently re-deriving or serving the wrong table: a re-derive
    * under a retuned candidate generator could migrate held docs, the
    * exact defect the stored table exists to prevent); (2) the
    * in-session derivation —
    * phase-1 components over history-internal x13 pairs, hashed through
    * the shared split rule, staged so the fixpoint runs once per
    * session. Read by x68's batch assignment and the s18 routing gate's
    * frozen index. */
  val x68Sticky = new Frame("x68_sticky", Some(Artifacts.Sticky),
    (s, d) => PipelineOps.stickySplitsUnstaged(s, d))

  /** x68's sticky split assignment (doc_id, cluster_id, split, origin —
    * one row per doc) — read by the x68 query itself, x69's route
    * agreement, and x78's re-freeze proof (its new-generation sticky).
    * One shared materialization instead of three independent
    * splitStableOn plan executions per session (r19 opt; the engine
    * [[PipelineOps.x68SplitStable]] stays canonical — SplitStableSpec
    * pins ITS plan, and BenchScaling times it directly). */
  val x68Assign = new Frame("x68_assign", None, (s, d) => PipelineOps.x68SplitStable(s, d))

  /** The s18 router's frozen index in its STORED form (band, h, df,
    * bits — over- and under-cap buckets, tombstoned payloads past the
    * cap): what [[PipelineOps.persistRouteIndexIncremental]] merges
    * into and x78's proof compares. Two sources, in priority order:
    * (1) the PERSISTED table ([[PipelineOps.persistRouteIndex]] +
    * `spark.graft.routeIndexPath`) — the serving form: the index is the
    * router's whole decision state, and until this store it was the
    * LAST artifact re-derived at serve time (a corpus-sized history
    * banding pass per session — the measured cause of x69's 39.7 s at
    * the 1024× store-served leg while the stored-label path served at
    * 0.97 s); stamp-validated, loud on missing/wrong/stale; (2) the
    * in-session stage, so the banding runs once per session. */
  val s18IndexFull = new Frame("s18_index", Some(Artifacts.RouteIndex),
    (s, d) => PipelineOps.routeIndexUnstaged(s, d))

  /** The s21 label router's frozen index in its STORED form (band, h,
    * df, labs — distinct member-label sets, tombstoned past the cap):
    * the mergeable form [[PipelineOps.persistLabelIndexIncremental]]
    * consumes. Two sources, in priority order: (1) the PERSISTED table
    * ([[PipelineOps.persistLabelIndex]] + `spark.graft.labelIndexPath`),
    * stamp-validated, loud on missing/wrong/stale; (2) the in-session
    * stage, so the banding + seed fixpoint run once per session. */
  val s21IndexFull = new Frame("s21_index", Some(Artifacts.LabelIndex),
    (s, d) => PipelineOps.labelIndexUnstaged(s, d))

  /** x9's per-document quality scores (doc_id + five ints, one row per
    * doc) — read by the x9 query itself, x34's source report, x35's
    * canonical pick, and the x38 capstone, so a report cycle scores the
    * corpus once instead of once per consumer. */
  val x9Scores = new Frame("x9_scores", None, (s, d) => TextOps.x9QualityUnsorted(s, d))

  /** x62's trained BPE merge table (round, l, r, n_pair — k rows, the
    * tokenizer artifact) — read by x62 itself and REPLAYED by x67's
    * encode pass, so train-then-apply runs the k training rounds
    * once per session. */
  val x62Merges = new Frame("x62_merges", None, (s, d) => TextOps.x62BpeTrain(s, d))

  /** The s17 drift gate's FROZEN merge table: the WORD-TYPE trainer
    * (x62b — ONE corpus pass for the weighted type table, k vocab-sized
    * rounds; the production path for subword vocabularies) over the
    * oldest-90% history slice (the s8/x36 split), so the gate replays a
    * tokenizer that has never seen its arrivals — the drift-monitoring
    * posture. Trained on word types, replayed on documents rendered
    * char-level-within-words ([[TextOps.charSeqCol]]). Until r15 this
    * trained via x62's k-corpus-pass chain — the priced stage line
    * (`stage:s17_merges`) now costs x62b-class. Two sources, in priority
    * order: (1) the PERSISTED tokenizer ([[TextOps.persistMerges]] +
    * `spark.graft.mergesPath`) — the ship-once form: a drift monitor
    * comparing against a per-session re-derived model can silently
    * monitor the WRONG tokenizer under any trainer retune, so the store
    * is stamp-validated and loud on missing/wrong/stale; (2) the
    * in-session stage. */
  val s17Merges = new Frame("s17_merges", Some(Artifacts.Merges),
    (s, d) => TextOps.frozenWordTypeMerges(s, d)._2)

  /** x36's incremental-batch hit counts (doc_id, n_keys, n_hit) against
    * the 90%-corpus shingle index — read by x36's novelty verdict and by
    * the S8 stream gate's exact twin, so batch and stream score the
    * arrivals once per session. */
  val x36Hits = new Frame("x36_hits", None, (s, d) => PipelineOps.x36HitsUnsorted(s, d))

  /** q27c's exact per-(lang, bigram) heavy hitters (lang, bg, cnt — only
    * rows above the 0.05% group-share threshold, BOUNDED by construction:
    * ≤ 2000 hitters per group by pigeonhole) — read by q27c's verdict
    * join and by the S10 stream gate's exact twin, so a session that runs
    * both pays the corpus bigram count ONCE (the x36Hits pattern). */
  val q27cHitters = new Frame("q27c_hitters", None, (s, d) => Analytics.q27cExactHitters(s, d))

  /** The daily sketch warehouse (wk, d, n_events, n_values, hll_users,
    * kll_value) — q28/q29's rollup source. Two sources, in priority
    * order: (1) the PERSISTED table ([[Analytics.persistSketchDaily]] +
    * `spark.graft.sketchPath`) — the warehouse form: a serving session
    * answers weekly/all-time distinct and quantile questions from
    * stored bytes, never rescanning the event log; stamp-validated,
    * loud on missing/wrong/stale; (2) the in-session build, staged so
    * q28 and q29 aggregate the log once per session. */
  val sketchDaily = new Frame("sketch_daily", Some(Artifacts.Sketches),
    (s, d) => Analytics.sketchDailyUnstaged(s, d))

  /** q24's fact-side BOUNDED key stats (`Skew.hotKeyStats` shape: top
    * 1000 keys by count + the row total as `__t`, ≤ 1001 values) — the
    * persisted stats stage the [[graft.ops.Skew.splitSkewJoin]] scaladoc
    * names as the 100 TB form. Staged so the registered q24 query and its
    * audit twins detect hot keys from ONE stats scan of the fact side per
    * session instead of one per call; exact for any hotShare ≥ 0.001
    * (pigeonhole — see hotKeyStats). Deliberately NOT the full key-count
    * frame: that is corpus-keyed (tens of millions of rows at the 64×
    * audit leg) and materializing it cost more than the scans it saved. */
  val q24KeyStats = new Frame("q24_keystats", None,
    (s, d) => Skew.hotKeyStats(Skew.q24Fact(s, d), "jk"))

  /** q26's serialized dim-key bloom — bounded by construction (bloom
    * BITS, never rows; ~14.4 bits/key at fpp 1e-3), built once per
    * (session, sfDir) so the registered q26 query, its audit twin runs,
    * and any other caller plant the SAME literal from ONE dim stats
    * pass — the amortized form the q24 stats stage established. */
  val q26Bloom = new Held[Array[Byte]]("q26_bloom",
    (s, d) => Relational.q26BloomBytes(Relational.q26Dim(s, d)))

  /** The generated-PNG corpus both media lines ingest (x15 decode, x15b
    * transform) — one corpus write per session; without its own line
    * whichever media line runs first absorbs the PNG writes. */
  val pngCorpus = new Corpus("png_corpus", (s, d, out) => Multimodal.writePngCorpus(s, d, out))

  /** The generated-WAV corpus x15c ingests. */
  val wavCorpus = new Corpus("wav_corpus", (s, d, out) => Multimodal.writeWavCorpus(s, d, out))

  /** The generated multi-frame-GIF corpus x15d ingests. */
  val gifCorpus = new Corpus("gif_corpus", (s, d, out) => Multimodal.writeGifCorpus(s, d, out))

  /** The events replay feed (s9, s11–s15). */
  private[graft] val gateEventsFeed = new ReplayFeed("gate_events_feed", "event_id", (s, d) =>
    graft.model.Tables.events(s, d).select(col("event_id"), col("ts"),
      col("user_id"), col("event_type"), col("value")))

  /** The documents replay feed (s8, s10, s17, s18, s20, s21). */
  private[graft] val gateDocsFeed = new ReplayFeed("gate_docs_feed", "doc_id", (s, d) =>
    graft.model.Tables.documents(s, d).select(col("doc_id"), col("lang"), col("text")))

  /** The embeddings replay feed (s16). */
  private[graft] val gateEmbFeed = new ReplayFeed("gate_emb_feed", "vec_id", (s, d) =>
    graft.model.Tables.embeddings(s, d).select(col("vec_id"), col("embedding")))

  // ---- views over registry entries ----

  /** The SERVED route index (band, h, bits — under-cap buckets only),
    * read by the s18 gate's stream-static joins and x69's agreement
    * audit; the cap filter applies at read so the stored form can keep
    * the over-cap occupancies the incremental merge needs. */
  def s18Index(spark: SparkSession, dir: String): DataFrame =
    PipelineOps.serveRouteIndex(s18IndexFull(spark, dir))

  /** The SERVED label index (band, h, lab = min member label), read by
    * the s21 gate's stream-static joins and its batch twin (the
    * s18Index pattern applied to labels). */
  def s21Index(spark: SparkSession, dir: String): DataFrame =
    PipelineOps.serveLabelIndex(s21IndexFull(spark, dir))

  /** Drop every entry of every session, releasing each (checkpoint
    * blocks, feed and corpus dirs), plus every stamped-read and manifest
    * memo (sessions keep their parquet run scratch). Tests that re-run
    * one query under varied configs — e.g. DeterminismSpec's
    * shuffle-partition sweep — must clear between runs or the cache
    * would mask the property under test; BenchScaling clears per
    * factor. */
  def clear(): Unit = synchronized {
    release(_ => true)
    stampedCache.clear()
    // the manifest (artifact → path) maps are read memos the same way —
    // the global reset must cover them or a per-factor scaling run
    // serves a previous factor's store set (r18 ADVICE)
    Artifacts.clearManifestCache()
  }
}
