package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import scala.collection.concurrent.TrieMap

/** Materialized pipeline stages, computed once per (session, sfDir).
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
  * Each stage is materialized EAGERLY the first time any consumer asks
  * for it and served from this cache after that, in one of two forms:
  *
  *  - default: `localCheckpoint(true)` — executor-memory blocks, zero
  *    I/O, right for tests and single-session batch runs. The blocks die
  *    with an executor and stay pinned until [[clear]], so a long-lived
  *    session scanning many sfDirs should prefer
  *  - parquet: set `spark.graft.stageDir` (or the `SPARK_GRAFT_STAGE_DIR`
  *    env var) to a writable directory and each stage is written once as
  *    a parquet table and re-read by every consumer — the
  *    durable parquet-between-phases shape the same pipeline has at
  *    100 TB (survives executor loss, holds no block-manager memory).
  *    The root is per-RUN scratch space, not a cross-session cache:
  *    each session writes under its own `run_<id>` subdirectory, so
  *    live sessions may share one root without clobbering each other;
  *    [[evictSession]] deletes the departing session's subdirectory.
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
  // key: (session, sfDir, stage name, resolved stage root) — the root is
  // part of the key so toggling spark.graft.stageDir mid-session builds
  // the new mode's stage instead of silently serving the old mode's
  private type Key = (SparkSession, String, String, Option[String])
  // each entry carries the store keys its build consulted (see [[stage]])
  private val cache = TrieMap.empty[Key, (DataFrame, Set[String])]
  // small driver-held artifacts (centroids, codebooks, serialized blooms):
  // bounded by construction, no executor blocks to release — bare map
  // hygiene only (see [[held]])
  private val heldCache = TrieMap.empty[(SparkSession, String, String), Any]

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
    * branch goes through. Same build discipline as [[stage]]: fast-path
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

  // the store-key sets of the stage builds running on this thread,
  // innermost first (builds nest: a stage's build asks for other stages)
  private val building =
    ThreadLocal.withInitial(() => List.empty[scala.collection.mutable.Set[String]])

  /** Record a store consultation against the innermost stage build on
    * this thread (a no-op outside builds). [[Artifacts.configuredPath]]
    * calls it on EVERY resolution, successful or not: a stage built
    * while its store was unconfigured is as stale after a persist as one
    * built from the previous generation. [[stage]] passes an inner
    * stage's set up to the enclosing build, on a build and on a cache
    * hit alike, so a stage's set covers its whole derivation. */
  private[graft] def consulted(artifact: String): Unit =
    building.get.headOption.foreach(_ += artifact)

  /** Drop every stage entry whose build consulted `artifact` — called by
    * [[Artifacts.writeStamped]] after the overwrite, alongside
    * [[invalidateStamped]]. Complete by construction: the dependency
    * sets are recorded, never hand-kept, so a new stage that reads a
    * store is evicted without being listed anywhere. Conservative across
    * sessions and sfDirs: eviction is cheap (consumers rebuild on next
    * ask and then resolve the CURRENT store generation), staleness is a
    * correctness defect. The checkpoint blocks are NOT force-released
    * here: frames constructed BEFORE the persist legitimately keep
    * serving their construction-time generation (the StoreLifecycleSpec
    * running-stream contract) and still reference the blocks — dropping
    * our handle makes them ContextCleaner-reclaimable once those frames
    * go. */
  private[graft] def invalidateStoreDerived(artifact: String): Unit = synchronized {
    dependents(artifact).foreach { k =>
      cache.remove(k)
      pinnedRdds.remove(k)
    }
  }

  private def dependents(artifact: String): Iterable[Key] =
    cache.collect { case (k, (_, deps)) if deps(artifact) => k }

  /** The names of the cached stages whose build consulted `artifact`. */
  private[graft] def dependentStages(artifact: String): Set[String] =
    dependents(artifact).map(_._3).toSet

  /** The RDD handles whose blocks a localCheckpoint-mode stage pins.
    * `Dataset.unpersist` only uncaches CacheManager entries — it does NOT
    * release a checkpoint's blocks — so release goes through these
    * handles. Releasing invalidates the stage by design: localCheckpoint
    * truncates lineage, so an unpersisted stage cannot recompute; evict
    * only when the owning session's consumers are done. */
  private val pinnedRdds = TrieMap.empty[Key, Seq[org.apache.spark.rdd.RDD[_]]]

  /** Drop one entry and unpersist its pinned checkpoint blocks. */
  private def release(k: Key): Unit = {
    cache.remove(k)
    pinnedRdds.remove(k).foreach(_.foreach { r =>
      try r.unpersist(blocking = false)
      catch { case scala.util.control.NonFatal(_) => () }
    })
  }

  /** Contexts that already carry the eviction listener. */
  private val hooked = TrieMap.empty[org.apache.spark.SparkContext, Unit]

  /** Drop every entry owned by `sc` — wired to onApplicationEnd below, so
    * a long-lived JVM cycling applications (a notebook server, a test
    * runner) can't accumulate entries whose localCheckpoint blocks are
    * already dead with their executors. On a STOPPED context there is
    * nothing to unpersist (the blocks died with the executors) — bare map
    * removal; on a live one the entries go through [[release]], because a
    * dropped handle is the only way the blocks ever get freed. */
  private[graft] def evict(sc: org.apache.spark.SparkContext): Unit = {
    val owned = (cache.keySet ++ pinnedRdds.keySet).filter(_._1.sparkContext eq sc)
    if (sc.isStopped) owned.foreach { k => cache.remove(k); pinnedRdds.remove(k) }
    else owned.foreach(release)
    heldCache.keys.filter(_._1.sparkContext eq sc).foreach(heldCache.remove)
    stampedCache.keys.filter(_._1.sparkContext eq sc).foreach(stampedCache.remove)
    runIds.keys.filter(_.sparkContext eq sc).foreach(dropRunScratch)
    // x15's PNG scratch is driver-local disk — delete even after the
    // context died (the dirs outlive the executors)
    Multimodal.evictMediaByContext(sc)
    // a LIVE context keeps its hook (the listener stays registered on the
    // bus either way — dropping the marker would make the next build add
    // a duplicate listener); a stopped context's marker is garbage
    if (sc.isStopped) hooked.remove(sc)
  }

  private[graft] def cachedEntryCount: Int =
    cache.size + heldCache.size + stampedCache.size

  /** Explicit per-session release, for long-lived JVMs cycling many
    * sessions over ONE live context (a notebook server): Spark has no
    * session-end listener event, so a session owner that is done should
    * call this to unpersist the session's localCheckpoint blocks rather
    * than leaving them pinned until application end. Parquet-mode stages
    * hold no blocks; their entries are just dropped. Synchronized with
    * the build monitor so an in-flight build can't slip an entry past
    * the eviction's key snapshot. NOTE: released stages cannot recompute
    * (see [[pinnedRdds]]) — call only when this session is done. */
  def evictSession(spark: SparkSession): Unit = synchronized {
    cache.keys.filter(_._1 eq spark).foreach(release)
    heldCache.keys.filter(_._1 eq spark).foreach(heldCache.remove)
    stampedCache.keys.filter(_._1 eq spark).foreach(stampedCache.remove)
    // parquet mode: this session's run_<id> scratch subdir is dead with
    // its entries
    dropRunScratch(spark)
    // the stream gates' staged replay feeds are session-pinned disk the
    // same way — one eviction call frees everything
    graft.streaming.StreamGate.evictSessionFeeds(spark)
    // ...as are x15's generated-PNG corpus scratch dirs
    Multimodal.evictSessionMedia(spark)
  }

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
    } catch { case scala.util.control.NonFatal(_) => () }
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

  /** Entries whose context is already stopped are unreachable garbage
    * (their blocks died with the executors) — purged on the build slow
    * path, which is the only place the maps grow. Covers every map,
    * including the pinned-RDD handles and the listener markers: this is
    * the backstop for the case where onApplicationEnd never arrived
    * (LiveListenerBus drops events when its queue overflows). */
  private def purgeStopped(): Unit = {
    cache.keys.filter(_._1.sparkContext.isStopped).foreach(cache.remove)
    pinnedRdds.keys.filter(_._1.sparkContext.isStopped).foreach(pinnedRdds.remove)
    heldCache.keys.filter(_._1.sparkContext.isStopped).foreach(heldCache.remove)
    stampedCache.keys.filter(_._1.sparkContext.isStopped).foreach(stampedCache.remove)
    runIds.keys.filter(_.sparkContext.isStopped).foreach(dropRunScratch)
    hooked.keys.filter(_.isStopped).foreach(hooked.remove)
    Multimodal.purgeStoppedMedia()
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

  /** Builds are serialized: TrieMap.getOrElseUpdate may evaluate the
    * by-name op in two racing threads and discard one result — harmless
    * for localCheckpoint (orphaned blocks), but in parquet mode the two
    * losers would WRITE the same path concurrently. One monitor across
    * all stages is fine: builds are rare and heavy, lookups after the
    * first never reach it (fast-path get). Each entry keeps the store
    * keys its build consulted ([[consulted]]), and every return — built
    * or cached — passes them to the enclosing build, if any. */
  private def stage(spark: SparkSession, dir: String, name: String)
      (build: => DataFrame): DataFrame = {
    val key = (spark, dir, name, stageRoot(spark))
    val (df, deps) = cache.getOrElse(key, synchronized {
      purgeStopped()
      hookEviction(spark)
      cache.getOrElseUpdate(key, recording(key._4 match {
        case Some(root) =>
          // one subdir per (sfDir, stage): the sanitized path plus its
          // hash keeps parallel scale factors from colliding under one
          // root (sanitizing alone could map "a/b" and "a_b" together;
          // a 32-bit hash alone has real collision odds — both must
          // match to collide)
          val tag = dir.replaceAll("[^A-Za-z0-9.-]", "_").takeRight(48) +
            "_" + java.lang.Integer.toHexString(dir.hashCode)
          val path = s"$root/stage_${tag}_$name"
          build.write.mode("overwrite").parquet(path)
          spark.read.parquet(path)
        case None =>
          val cp = build.localCheckpoint(true)
          // retain the checkpointed RDD handle: it is the ONLY way to
          // release the blocks later (Dataset.unpersist won't)
          pinnedRdds.put(key, cp.queryExecution.analyzed.collect {
            case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
          })
          cp
      }))
    })
    deps.foreach(consulted)
    df
  }

  /** Run a stage build with a fresh consultation frame on this thread's
    * stack; returns the built frame with the store keys it consulted. */
  private def recording(build: => DataFrame): (DataFrame, Set[String]) = {
    val deps = scala.collection.mutable.Set.empty[String]
    building.set(deps :: building.get)
    try (build, deps.toSet)
    finally building.set(building.get.tail)
  }

  /** A driver-held artifact built once per (session, sfDir, name), under
    * [[stage]]'s discipline: fast-path get, build under the one monitor —
    * a lock-free getOrElseUpdate could run the build's jobs twice AND
    * slip an entry past evictSession's synchronized key snapshot. */
  private def held[T](spark: SparkSession, dir: String, name: String)(build: => T): T =
    heldCache.getOrElse((spark, dir, name), synchronized {
      purgeStopped()
      hookEviction(spark)
      heldCache.getOrElseUpdate((spark, dir, name), build)
    }).asInstanceOf[T]

  /** A stamped store's frame: the CONFIGURED store, validated and
    * memoized ([[readStamped]] — loud on missing/wrong/stale, never a
    * silent re-derive), else the in-session `build`, staged under the
    * store's key so it runs once per session. */
  private def served(spark: SparkSession, dir: String, store: Artifacts.Store)
      (build: => DataFrame): DataFrame =
    Artifacts.configuredPath(spark, store.key) match {
      case Some(p) => readStamped(spark, p, store.key)
      case None    => stage(spark, dir, store.key)(build)
    }

  /** x2's exact 3-gram-Jaccard near-dup pairs (d1, d2, inter, n1, n2,
    * jac_s4), unsorted. */
  def x2Pairs(spark: SparkSession, dir: String): DataFrame =
    stage(spark, dir, "x2_pairs")(TextOps.x2PairsUnsorted(spark, dir))

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
  def x13BandsAll(spark: SparkSession, dir: String): DataFrame =
    stage(spark, dir, "x13_bands")(
      TextOps.x13Bands(graft.model.Tables.documents(spark, dir)
        .select(col("doc_id"), col("text"))))

  /** x13's MinHash-LSH candidate pairs (d1, d2, n_shared_bands),
    * unsorted. */
  def x13Pairs(spark: SparkSession, dir: String): DataFrame =
    stage(spark, dir, "x13_pairs")(TextOps.x13Pairs(spark, dir))

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
  def x24Labels(spark: SparkSession, dir: String): DataFrame =
    served(spark, dir, Artifacts.Labels)(
      PipelineOps.connectedComponents(
        graft.model.Tables.documents(spark, dir).select(col("doc_id")),
        x13Pairs(spark, dir).select(col("d1"), col("d2"))))

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
  def x75Seed(spark: SparkSession, dir: String): DataFrame =
    stage(spark, dir, "x75_seed") {
      val thr = graft.model.Tables.historyThr( // 1 row — the installment boundary
        graft.model.Tables.documents(spark, dir).select(col("doc_id")))
      PipelineOps.histLabelsOn(
        x13Pairs(spark, dir).select(col("d1"), col("d2")),
        x24Labels(spark, dir), thr)
    }

  /** x9's per-document quality scores (doc_id + five ints, one row per
    * doc) — read by the x9 query itself, x34's source report, x35's
    * canonical pick, and the x38 capstone, so a report cycle scores the
    * corpus once instead of once per consumer. */
  def x9Scores(spark: SparkSession, dir: String): DataFrame =
    stage(spark, dir, "x9_scores")(TextOps.x9QualityUnsorted(spark, dir))

  /** x75's maintenance output (doc_id, seed_id, cluster_id, changed —
    * one row per doc, two labels and a flag) — read by the x75 query
    * itself AND x76's label-agreement audit. Before this stage (r19
    * opt) each consumer re-ran the arrival star contraction at
    * construction: the fixpoint loop executes EAGERLY (per-round
    * localCheckpoint + convergence probe), so x76 paid x75's whole
    * contraction again on every invocation. BenchScaling's
    * `x75_marginal` leg keeps calling the engine directly — its point
    * is to time exactly that contraction. */
  def x75Labels(spark: SparkSession, dir: String): DataFrame =
    stage(spark, dir, "x75_labels")(PipelineOps.x75IncLabels(spark, dir))

  /** x68's sticky split assignment (doc_id, cluster_id, split, origin —
    * one row per doc) — read by the x68 query itself, x69's route
    * agreement, and x78's re-freeze proof (its new-generation sticky).
    * One shared materialization instead of three independent
    * splitStableOn plan executions per session (r19 opt; the engine
    * [[PipelineOps.x68SplitStable]] stays canonical — SplitStableSpec
    * pins ITS plan, and BenchScaling times it directly). */
  def x68Assign(spark: SparkSession, dir: String): DataFrame =
    stage(spark, dir, "x68_assign")(PipelineOps.x68SplitStable(spark, dir))

  /** x62's trained BPE merge table (round, l, r, n_pair — k rows, the
    * tokenizer artifact) — read by x62 itself and REPLAYED by x67's
    * encode pass, so train-then-apply runs the k training rounds
    * once per session. */
  def x62Merges(spark: SparkSession, dir: String): DataFrame =
    stage(spark, dir, "x62_merges")(TextOps.x62BpeTrain(spark, dir))

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
  def s17Merges(spark: SparkSession, dir: String): DataFrame =
    served(spark, dir, Artifacts.Merges)(TextOps.frozenWordTypeMerges(spark, dir)._2)

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
  def x68Sticky(spark: SparkSession, dir: String): DataFrame =
    served(spark, dir, Artifacts.Sticky)(PipelineOps.stickySplitsUnstaged(spark, dir))

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
  def s18IndexFull(spark: SparkSession, dir: String): DataFrame =
    served(spark, dir, Artifacts.RouteIndex)(PipelineOps.routeIndexUnstaged(spark, dir))

  /** The SERVED route index (band, h, bits — under-cap buckets only),
    * read by the s18 gate's stream-static joins and x69's agreement
    * audit; the cap filter applies at read so the stored form can keep
    * the over-cap occupancies the incremental merge needs. */
  def s18Index(spark: SparkSession, dir: String): DataFrame =
    PipelineOps.serveRouteIndex(s18IndexFull(spark, dir))

  /** The s21 label router's frozen index in its STORED form (band, h,
    * df, labs — distinct member-label sets, tombstoned past the cap):
    * the mergeable form [[PipelineOps.persistLabelIndexIncremental]]
    * consumes. Two sources, in priority order: (1) the PERSISTED table
    * ([[PipelineOps.persistLabelIndex]] + `spark.graft.labelIndexPath`),
    * stamp-validated, loud on missing/wrong/stale; (2) the in-session
    * stage, so the banding + seed fixpoint run once per session. */
  def s21IndexFull(spark: SparkSession, dir: String): DataFrame =
    served(spark, dir, Artifacts.LabelIndex)(PipelineOps.labelIndexUnstaged(spark, dir))

  /** The SERVED label index (band, h, lab = min member label), read by
    * the s21 gate's stream-static joins and its batch twin (the
    * s18Index pattern applied to labels). */
  def s21Index(spark: SparkSession, dir: String): DataFrame =
    PipelineOps.serveLabelIndex(s21IndexFull(spark, dir))

  /** The daily sketch warehouse (wk, d, n_events, n_values, hll_users,
    * kll_value) — q28/q29's rollup source. Two sources, in priority
    * order: (1) the PERSISTED table ([[Analytics.persistSketchDaily]] +
    * `spark.graft.sketchPath`) — the warehouse form: a serving session
    * answers weekly/all-time distinct and quantile questions from
    * stored bytes, never rescanning the event log; stamp-validated,
    * loud on missing/wrong/stale; (2) the in-session build, staged so
    * q28 and q29 aggregate the log once per session. */
  def sketchDaily(spark: SparkSession, dir: String): DataFrame =
    served(spark, dir, Artifacts.Sketches)(Analytics.sketchDailyUnstaged(spark, dir))

  /** x36's incremental-batch hit counts (doc_id, n_keys, n_hit) against
    * the 90%-corpus shingle index — read by x36's novelty verdict and by
    * the S8 stream gate's exact twin, so batch and stream score the
    * arrivals once per session. */
  def x36Hits(spark: SparkSession, dir: String): DataFrame =
    stage(spark, dir, "x36_hits")(PipelineOps.x36HitsUnsorted(spark, dir))

  /** q27c's exact per-(lang, bigram) heavy hitters (lang, bg, cnt — only
    * rows above the 0.05% group-share threshold, BOUNDED by construction:
    * ≤ 2000 hitters per group by pigeonhole) — read by q27c's verdict
    * join and by the S10 stream gate's exact twin, so a session that runs
    * both pays the corpus bigram count ONCE (the x36Hits pattern). */
  def q27cHitters(spark: SparkSession, dir: String): DataFrame =
    stage(spark, dir, "q27c_hitters")(Analytics.q27cExactHitters(spark, dir))

  /** q24's fact-side BOUNDED key stats (`Skew.hotKeyStats` shape: top
    * 1000 keys by count + the row total as `__t`, ≤ 1001 values) — the
    * persisted stats stage the [[graft.ops.Skew.splitSkewJoin]] scaladoc
    * names as the 100 TB form. Staged so the registered q24 query and its
    * audit twins detect hot keys from ONE stats scan of the fact side per
    * session instead of one per call; exact for any hotShare ≥ 0.001
    * (pigeonhole — see hotKeyStats). Deliberately NOT the full key-count
    * frame: that is corpus-keyed (tens of millions of rows at the 64×
    * audit leg) and materializing it cost more than the scans it saved. */
  def q24KeyStats(spark: SparkSession, dir: String): DataFrame =
    stage(spark, dir, "q24_keystats")(Skew.hotKeyStats(Skew.q24Fact(spark, dir), "jk"))

  /** q26's serialized dim-key bloom — bounded by construction (bloom
    * BITS, never rows; ~14.4 bits/key at fpp 1e-3), built once per
    * (session, sfDir) so the registered q26 query, its audit twin runs,
    * and any other caller plant the SAME literal from ONE dim stats
    * pass — the amortized form the q24 stats stage established. */
  def q26Bloom(spark: SparkSession, dir: String): Array[Byte] =
    held(spark, dir, "q26_bloom")(Relational.q26BloomBytes(Relational.q26Dim(spark, dir)))

  /** x49's ranked gram index (doc_id, h0, df, rnk, n): per-doc distinct
    * 64-bit 3-gram keys with global document frequency, rarest-first
    * rank, and set size — read by x49's prefix filter AND both verify
    * sides (three consumers of one diamond). Unlike the pair-list
    * stages this one is GRAM-COUNT-sized (the biggest staged artifact);
    * it earns the slot because the alternative is re-running the
    * shingle explode + two window exchanges per consumer inside one
    * query, and at 100 TB this exact frame is the durable parquet gram
    * stage the x49 scaladoc names. */
  def x49Grams(spark: SparkSession, dir: String): DataFrame =
    stage(spark, dir, "x49_grams")(TextOps.x49RankedGrams(spark, dir))

  /** The shared positional 5-gram frame (doc_id, source, p, h = md5 hex)
    * — read by x43's span coverage (doc_id, p, h) and x45's
    * source-overlap matrix (source, h). Gram-count-sized like
    * [[x49Grams]], same justification: one corpus 5-gram hash pass per
    * session instead of one per consumer. */
  def grams5(spark: SparkSession, dir: String): DataFrame =
    stage(spark, dir, "grams5")(TextOps.grams5Rows(spark, dir))

  /** x16's learned k-means centroids — k·dim scaled longs, driver-held
    * (the MLlib shape; see VectorOps.kmeansCentroids). Learned once per
    * (session, sfDir); consumed by x16's IVF probe and x27's SemDeDup
    * cluster key. */
  def x16Centroids(spark: SparkSession, dir: String,
      k: Int = VectorOps.x16K): Seq[(Long, Seq[Long])] =
    held(spark, dir, s"x16_centroids_$k")(VectorOps.kmeansCentroids(spark, dir, k))

  /** The trained PQ codebooks (m, cid, cu) — driver-held M·k·sub longs
    * (512 here), the same bounded-collect shape as [[x16Centroids]].
    * Trained once per (session, sfDir); consumed by x56's encoder, x57's
    * ADC search, and x58's recall QA. */
  def pqBooks(spark: SparkSession, dir: String): Seq[(Long, Long, Seq[Long])] =
    held(spark, dir, "pq_books")(VectorOps.pqTrainBooks(spark, dir))

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
  def x57Index(spark: SparkSession, dir: String): DataFrame =
    served(spark, dir, Artifacts.IvfIndex)(VectorOps.buildPqIndex(spark, dir))

  /** The per-user daily-cents series (user_id, sv) — |users| rows ×
    * #days longs, bounded. Read by the series trio x59/x60/x61, each of
    * which references it 2–4 times inside one plan; without the stage
    * every reference re-ran the (user, day) rollup over the full event
    * log. */
  def seriesDaily(spark: SparkSession, dir: String): DataFrame =
    stage(spark, dir, "series_daily")(Windows.dailySeriesUnstaged(spark, dir))

  /** Drop every cached stage (tests that re-run one query under varied
    * configs — e.g. DeterminismSpec's shuffle-partition sweep — must
    * clear between runs or the cache would mask the property under
    * test). */
  def clear(): Unit = synchronized {
    // union of key sets: a pinned-RDD entry can outlive its cache entry
    // (purgeStopped removes cache rows for stopped contexts first)
    (cache.keySet ++ pinnedRdds.keySet).foreach(release)
    cache.clear()
    heldCache.clear()
    stampedCache.clear()
    // the manifest (artifact → path) maps are read memos the same way —
    // the global reset must cover them or a per-factor scaling run
    // serves a previous factor's store set (r18 ADVICE)
    Artifacts.clearManifestCache()
  }
}
