package graft.ops

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Stamped persisted artifacts — the stored-governance contracts.
  *
  * Eight tables cross session boundaries as parquet a deployment writes
  * once and serves many times, plus the store-set manifest naming one
  * generation of them: x68's sticky splits, x24's cluster labels, the
  * IVFADC index, s20's frozen retrieval stats, the trained BPE tokenizer
  * (THE ship-once artifact of a training-data pipeline), the two serving
  * band indexes (s18's split-bits router index and s21's min-label
  * assignment index) and the daily sketch warehouse. Each is declared
  * ONCE, as a [[Store]] in [[stores]]; its version, path knobs, freeze
  * prop, x74 audit rule and x77 coherence role are fields of that value,
  * and everything else (path resolution, both audits, stage eviction,
  * the scaling store leg) derives from the registry. An
  * unstamped read would serve ANY parquet at the
  * configured path — a wrong-corpus table, a different artifact, a
  * torn write, or a table produced by an older operator version — and
  * every one of those fails silently downstream (splits migrate, codes
  * route to dead lists) instead of at the read. So every persist writes
  * a one-row `_graft_meta` parquet beside the data (underscore prefix:
  * invisible to the outer scan, the `_SUCCESS` convention) recording
  * the artifact key, producing-operator version, schema DDL, and row
  * count; every configured-path read validates all four and throws with
  * the mismatch named. Consistent with the loud-failure posture the
  * sticky/IVF paths established for MISSING paths — this extends it to
  * wrong and stale ones.
  *
  * The stamp is provenance + integrity, not freshness: a stored
  * artifact legitimately outlives corpus growth (that is the point of
  * freezing it), so corpus-consistency stays the deployment's contract;
  * the `props` map carries the freeze parameters (e.g. the sticky
  * threshold) for auditors.
  */
object Artifacts {
  /** A right side of an x77 coherence row: another store, or a corpus
    * axis head. */
  sealed trait Side { def name: String }

  /** The corpus axis a store freezes on, and the stamp prop its
    * producer records the boundary under. */
  sealed abstract class Axis(val name: String, val prop: String) extends Side
  /** The history slice: the 9/10 boundary over doc ids
    * ([[graft.model.Tables.historyThr]]). */
  case object History extends Axis("history", "thr")
  /** The documents head: the max doc id. */
  case object DocHead extends Axis("doc_head", "max_id")
  /** The vector lattice's head: the max embedding id. */
  case object EmbeddingsHead extends Axis("embeddings_head", DocHead.prop)
  /** The events log's head: its max day, yyyymmdd. */
  case object EventsHead extends Axis("events_head", "max_day")

  /** x74's expected-rows rule: the row count a fresh persist over the
    * current corpus would stamp. */
  sealed trait Rows
  object Rows {
    /** Lattice-shaped counts (capped band buckets, a manifest's entry
      * list): recomputing one means re-running the derivation the audit
      * exists to avoid, so the boundary carries freshness and expected
      * mirrors stamped (0 when unconfigured). */
    case object BoundaryOnly extends Rows
    /** One row per document. */
    case object Docs extends Rows
    /** One row per history document. */
    case object HistoryDocs extends Rows
    /** One row per distinct (q_id, term) of the history eval docs. */
    case object QueryTerms extends Rows
    /** M code rows per embedding. */
    case object VectorCodes extends Rows
    /** One row per active event day. */
    case object EventDays extends Rows
    /** A fixed-k table: its stamped count is the `prop` stamp prop, and
      * expected is the configured training-round count. */
    case object Rounds extends Rows { val prop = "rounds" }
  }

  /** x77's role for a store: the generation anchor others compare
    * against, or one named row comparing this store's boundary with a
    * typed right side. */
  sealed trait Coherence
  case object Anchor extends Coherence
  final case class Check(name: String, right: Side, op: (Long, Long) => Boolean)
      extends Coherence

  /** One stamped artifact. `version` is the producing-operator version,
    * bumped when the SEMANTICS change (schema drift alone is caught by
    * the DDL check): a consumer from a newer engine refuses a table
    * stamped by an incompatible producer instead of silently misreading
    * it. `conf`/`env` locate the configured store ([[configuredPath]]). */
  final case class Store(key: String, version: Int, conf: String, env: String,
      axis: Axis, rows: Rows, coherence: Coherence) extends Side {
    def name: String = key
    /** The stamp prop holding this store's freeze boundary. */
    def prop: String = axis.prop
  }

  // declared in dependency order: a coherence check names stores above it
  val Sticky = Store("x68_sticky", 1, "spark.graft.stickyPath", "SPARK_GRAFT_STICKY_PATH",
    History, Rows.HistoryDocs, Anchor)
  // the full labeling must cover the frozen history slice (sticky
  // seeding and x63's inheritance both join through it)
  val Labels = Store("x24_labels", 1, "spark.graft.labelsPath", "SPARK_GRAFT_LABELS_PATH",
    DocHead, Rows.Docs, Check("labels_cover_history", Sticky, _ >= _))
  // the vector lattice's store lives on the embeddings axis: its
  // generation check is against that axis's head
  val IvfIndex = Store("x57_index", 1, "spark.graft.ivfIndexPath", "SPARK_GRAFT_IVF_INDEX_PATH",
    EmbeddingsHead, Rows.VectorCodes, Check("ivf_index_matches_embeddings", EmbeddingsHead, _ == _))
  // drift monitor + retrieval screen must freeze WITH the splits — a
  // different generation monitors a corpus the splits never saw
  val RetrievalStats = Store("s20_stats", 1, "spark.graft.retrievalStatsPath",
    "SPARK_GRAFT_RETRIEVAL_STATS_PATH", History, Rows.QueryTerms,
    Check("retrieval_stats_match_sticky", Sticky, _ == _))
  val Merges = Store("x62b_merges", 1, "spark.graft.mergesPath", "SPARK_GRAFT_MERGES_PATH",
    History, Rows.Rounds, Check("merges_match_sticky", Sticky, _ == _))
  // v2 (r19): the stored band indexes carry per-bucket occupancy `df` and
  // tombstoned payloads past the cap — the MERGEABLE form the incremental
  // re-freeze needs; v1 stores cannot be merged into and must re-persist.
  // The router's index must be banded over the EXACT sticky generation it
  // serves (persistRouteIndex's production order)
  val RouteIndex = Store("s18_index", 2, "spark.graft.routeIndexPath",
    "SPARK_GRAFT_ROUTE_INDEX_PATH", History, Rows.BoundaryOnly,
    Check("route_index_matches_sticky", Sticky, _ == _))
  // the label index's seed slice must be covered by the label store x75
  // maintains from
  val LabelIndex = Store("s21_index", 2, "spark.graft.labelIndexPath",
    "SPARK_GRAFT_LABEL_INDEX_PATH", History, Rows.BoundaryOnly,
    Check("label_index_inside_labels", Labels, _ <= _))
  // the daily sketch warehouse, the first store on the EVENTS axis:
  // per-day HLL/KLL sketches q28/q29 roll up from
  val Sketches = Store("sketch_daily", 1, "spark.graft.sketchPath", "SPARK_GRAFT_SKETCH_PATH",
    EventsHead, Rows.EventDays, Check("sketches_match_events", EventsHead, _ == _))
  // the store-SET manifest: one stamped table naming a freeze
  // generation's store paths (artifact → path), so a deployment flips
  // every serving knob with ONE conf — see [[writeManifest]]. Its rows
  // are however many stores the deployment ships (boundary-only), and
  // its stamped boundary must be the sticky generation it points at
  val StoreManifest = Store("store_manifest", 1, "spark.graft.storeManifest",
    "SPARK_GRAFT_STORE_MANIFEST", History, Rows.BoundaryOnly,
    Check("manifest_matches_sticky", Sticky, _ == _))

  /** The registry: every stamped artifact, once. */
  val stores: Seq[Store] = Seq(Sticky, Labels, IvfIndex, RetrievalStats, Merges,
    RouteIndex, LabelIndex, Sketches, StoreManifest)

  val versions: Map[String, Int] = stores.map(s => s.key -> s.version).toMap

  private val byKey: Map[String, Store] = stores.map(s => s.key -> s).toMap

  /** The registered store for `key` — loud on an unknown key. */
  private def store(key: String): Store =
    byKey.getOrElse(key, throw new IllegalArgumentException(s"unknown graft artifact key: $key"))

  /** The configured store location for `artifact`, if any — the ONE
    * resolution every configured-path branch (and both audits) shares.
    * Three layers, most specific wins:
    * (1) the artifact's own runtime conf — an EMPTY value forces
    * re-derivation, overriding everything below (the stageDir
    * convention); (2) the artifact's env var (same empty rule);
    * (3) the store-set MANIFEST ([[StoreManifest]]'s knobs — see
    * [[writeManifest]]): one stamped table naming a whole freeze
    * generation's paths, so a deployment flips every serving knob
    * atomically with ONE conf instead of eight — the partial-flip
    * (mixed-generation) window the per-knob form leaves open is exactly
    * what x77 audits. An artifact absent from the manifest derives
    * in-session as if unconfigured. Every call is recorded against the
    * stage build running on this thread ([[Stages.consulted]]) — the
    * manifest layer through its own recursive call — which is what
    * derives the stage eviction set of a store overwrite. */
  def configuredPath(spark: SparkSession, artifact: String): Option[String] = {
    val s = store(artifact)
    Stages.consulted(s.key)
    val explicit: Option[Option[String]] = spark.conf.getOption(s.conf) match {
      case Some(v) => Some(Some(v).filter(_.nonEmpty))
      case None    => sys.env.get(s.env).map(v => Some(v).filter(_.nonEmpty))
    }
    explicit match {
      case Some(resolved) => resolved
      case None if s ne StoreManifest =>
        // the manifest knob itself resolves through the base layers
        // only (no self-reference)
        configuredPath(spark, StoreManifest.key)
          .flatMap(mp => manifestEntries(spark, mp).get(s.key))
      case None => None
    }
  }

  /** One canonical spelling for store-path cache keys: qualified against
    * the path's filesystem (file:/ URI vs bare path, relative vs
    * absolute all collapse to one form), trailing slash stripped —
    * insertion and eviction must agree on the key or an overwrite under
    * a differently-spelled knob leaves a stale memo served for the rest
    * of the session (the r18 ADVICE defect). Best-effort: an
    * unresolvable path falls back to its raw spelling — the two
    * spellings then miss each other, which is exactly the
    * pre-normalization behavior, never a crash. */
  private[graft] def normPath(spark: SparkSession, path: String): String =
    try {
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(spark.sessionState.newHadoopConf())
        .makeQualified(p).toString.stripSuffix("/")
    } catch { case scala.util.control.NonFatal(_) => path.stripSuffix("/") }

  // the manifest's (artifact → path) rows, collected once per (session,
  // path) — configuredPath runs on every query construction, and a
  // parquet collect per call would be a driver job per query
  private def manifestEntries(spark: SparkSession, mpath: String): Map[String, String] =
    Stages.atPath(spark, mpath, s"manifest:${StoreManifest.key}")(
      readStamped(spark, mpath, StoreManifest.key).collect()
        .map(r => (r.getString(0), r.getString(1))).toMap)

  /** Persist a store-set manifest — the atomic-flip form of the eight
    * path knobs: one stamped table of (artifact, path) rows naming a
    * freeze GENERATION's stores, written after the per-store persists
    * and pointed at via `spark.graft.storeManifest`. Every
    * [[configuredPath]] resolution without an explicit per-artifact
    * knob then serves the manifest's path, so a session is either on
    * the whole generation or none of it — the mixed-generation window
    * an eight-knob flip leaves open (and x77 measures) closes to the
    * one conf set. `thr` is the generation's freeze boundary, stamped
    * for x74's audit (boundary-only, like the band indexes). Keys must
    * be registered artifacts; the manifest cannot name itself. */
  def writeManifest(spark: SparkSession, path: String,
      paths: Map[String, String], thr: Long): Unit = {
    require(paths.nonEmpty, "store manifest: no entries")
    val unknown = paths.keySet -- versions.keySet
    require(unknown.isEmpty,
      s"store manifest: unknown artifact keys ${unknown.toSeq.sorted}")
    require(!paths.contains(StoreManifest.key),
      "store manifest: a manifest cannot name itself")
    import spark.implicits._
    writeStamped(spark, paths.toSeq.sortBy(_._1).toDF("artifact", "path"),
      path, StoreManifest.key, Map(StoreManifest.prop -> thr.toString))
  }

  private def metaPath(path: String): String = s"${path.stripSuffix("/")}/_graft_meta"

  /** Persist `df` as parquet at `path` with the `_graft_meta` stamp.
    * The stamp records the READ-BACK schema and count, so it certifies
    * the bytes on disk, not the plan that produced them. */
  def writeStamped(spark: SparkSession, df: DataFrame, path: String,
      artifact: String, props: Map[String, String] = Map.empty): Unit = {
    val version = store(artifact).version
    df.write.mode("overwrite").parquet(path)
    val written = spark.read.parquet(path)
    import spark.implicits._
    Seq((artifact, version, written.schema.toDDL, written.count(), props))
      .toDF("artifact", "version", "schema_ddl", "n_rows", "props")
      .coalesce(1)
      .write.mode("overwrite").parquet(metaPath(path))
    // a persist-then-read flow reusing one path within a session must
    // never serve the PREVIOUS table's memoized plan (a plan over
    // overwritten files) or skip re-validating the new stamp — evict
    // the path's validated-read entries alongside the overwrite, under
    // the same normalized key the readers insert with
    Stages.invalidatePath(normPath(spark, path))
    // ...and the STAGES whose build consulted this artifact: they were
    // derived from the pre-overwrite store generation (or from none) —
    // without this, an in-session re-persist left them serving stale
    // results while the direct store reads re-validated
    Stages.invalidateStoreDerived(artifact)
  }

  /** Read a stamped artifact, failing loudly (with the mismatch named)
    * on: missing/malformed stamp, wrong artifact key, producer-version
    * mismatch, schema drift, row-count drift, or an empty table. */
  def readStamped(spark: SparkSession, path: String, artifact: String): DataFrame =
    readStampedWithFacts(spark, path, artifact)._1

  /** [[readStamped]] returning the stamp's row count and freeze props
    * alongside the validated frame — ONE meta collect + ONE count()
    * integrity job serve both, so a consumer that needs the frame AND
    * the freeze boundary (x75's seed) doesn't validate twice. */
  def readStampedWithFacts(spark: SparkSession, path: String,
      artifact: String): (DataFrame, Long, Map[String, String]) = {
    val m = stampOf(spark, path, artifact)
    val df = spark.read.parquet(path)
    val storedDdl = m.getAs[String]("schema_ddl")
    require(df.schema.toDDL == storedDdl,
      s"$artifact at $path: schema drifted from its stamp — stored '$storedDdl', " +
        s"found '${df.schema.toDDL}'")
    val storedRows = m.getAs[Long]("n_rows")
    val n = df.count()
    require(n == storedRows,
      s"$artifact at $path: row count $n != stamped $storedRows — torn or tampered table")
    require(n > 0L, s"$artifact at $path: stamped table is empty")
    (df, n, propsOf(m))
  }

  /** The stamp's props map (freeze parameters), for audits. */
  def readProps(spark: SparkSession, path: String): Map[String, String] =
    propsOf(spark.read.parquet(metaPath(path)).collect()(0))

  /** The stamp's recorded row count and freeze props, identity-validated
    * (artifact key + producer version) but WITHOUT the data-side count
    * job — x74's freshness audit reads what the producer STAMPED;
    * data-vs-stamp integrity stays [[readStamped]]'s job at serve
    * time. Loud on a missing/malformed/foreign stamp, the readStamped
    * posture. */
  def readStampFacts(spark: SparkSession, path: String,
      artifact: String): (Long, Map[String, String]) = {
    val m = stampOf(spark, path, artifact)
    (m.getAs[Long]("n_rows"), propsOf(m))
  }

  /** A stamp prop as a long — loud when the producer did not stamp it
    * (an out-of-band writer, or a stamp older than the prop). */
  private[graft] def stampedLong(s: Store, path: String,
      props: Map[String, String], prop: String): Long = {
    require(props.contains(prop),
      s"${s.key} stamp at $path lacks the '$prop' freeze prop — " +
        "re-persist with the current producer")
    props(prop).toLong
  }

  private def propsOf(meta: Row): Map[String, String] =
    meta.getAs[scala.collection.Map[String, String]]("props").toMap

  /** The one `_graft_meta` row under `path`, identity-validated: present,
    * well-formed, this artifact's key, this engine's producer version —
    * the check [[readStampedWithFacts]] and [[readStampFacts]] share. */
  private def stampOf(spark: SparkSession, path: String, artifact: String): Row = {
    val version = store(artifact).version
    val mp = metaPath(path)
    val meta =
      try spark.read.parquet(mp).collect()
      catch { case e: org.apache.spark.sql.AnalysisException =>
        throw new IllegalArgumentException(
          s"$artifact: no _graft_meta stamp under $path — not a stamped graft artifact " +
            s"(persist through the stamped writer, e.g. PipelineOps.persistStickySplits / " +
            s"persistLabels / VectorOps.persistPqIndex / TextOps.persistMerges): ${e.getMessage}")
      }
    require(meta.length == 1,
      s"$artifact: malformed _graft_meta at $mp — expected 1 row, found ${meta.length}")
    val m = meta(0)
    val storedArtifact = m.getAs[String]("artifact")
    require(storedArtifact == artifact,
      s"configured path $path holds artifact '$storedArtifact', not '$artifact' — " +
        "refusing a different table")
    val storedVersion = m.getAs[Int]("version")
    require(storedVersion == version,
      s"$artifact at $path was produced by version $storedVersion; this engine " +
        s"expects $version — re-persist with the current producer")
    m
  }
}
