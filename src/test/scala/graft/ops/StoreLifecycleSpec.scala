package graft.ops

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.SparkTestBase

/** The freeze → serve → re-freeze lifecycle, end to end — the full
  * store cycle no single-store spec exercises: labels + label index
  * frozen on an EARLIER corpus installment, served (stale but valid)
  * against the grown corpus with x74 quantifying the staleness, x75
  * folding the arrivals into the stored labeling, then BOTH stores
  * re-persisted at the SAME paths — x74 flips stale→fresh and the
  * re-reads serve the new stamps (the in-session overwrite
  * invalidation [[Artifacts.writeStamped]] guarantees). */
class StoreLifecycleSpec extends SparkTestBase {

  test("labels + label index: freeze on an old installment, serve stale, re-freeze fresh") {
    val tmp = tempDir("graft_lifecycle_").toString
    val labelsPath = s"$tmp/labels"
    val idxPath = s"$tmp/label_index"
    val full = graft.model.Tables.documents(spark, sf0001)
    val mxFull = full.agg(max(col("doc_id"))).collect()(0).getLong(0)
    val nFull = full.count()
    // the EARLIER installment: the corpus as of the current 9/10
    // boundary — exactly the docs the full corpus calls history
    val cutoff = Math.floorDiv(9L * mxFull, 10L)
    val oldDir = s"$tmp/corpus0"
    full.filter(col("doc_id") <= cutoff).write.parquet(s"$oldDir/documents.parquet")
    val nOld = full.filter(col("doc_id") <= cutoff).count()

    // FREEZE: persist both label-lifecycle stores on the old installment
    PipelineOps.persistLabels(spark, oldDir, labelsPath)
    PipelineOps.persistLabelIndex(spark, oldDir, idxPath)

    val serving = spark.newSession()
    serving.conf.set("spark.graft.labelsPath", labelsPath)
    serving.conf.set("spark.graft.labelIndexPath", idxPath)
    try {
      // x74 quantifies the staleness of both stores against the GROWN
      // corpus: boundary lag and (for labels) the rows a fresh persist
      // would add
      val before = Audit.x74ArtifactFreshness(serving, sf0001).collect()
        .map(r => r.getString(0) -> r).toMap
      val lab0 = before("x24_labels")
      assert(lab0.getLong(7) == 0L, s"stale labels store not flagged: $lab0")
      assert(lab0.getLong(1) == cutoff && lab0.getLong(2) == mxFull &&
        lab0.getLong(3) == mxFull - cutoff,
        s"labels boundary lag wrong: $lab0")
      assert(lab0.getLong(6) == nFull - nOld,
        s"labels row_drift must price the fresh persist: $lab0")
      val idx0 = before("s21_index")
      assert(idx0.getLong(7) == 0L && idx0.getLong(3) > 0L,
        s"stale label index not flagged with magnitude: $idx0")

      // SERVE: the stale-but-valid stores still serve — s21's batch twin
      // assigns every arrival from the stored index, and x75 folds the
      // arrivals into the stored labeling (seeded at the store's OWN
      // frozen boundary, read from the stamp)
      val assigned = PipelineOps.labelRouteDecisions(serving, sf0001)
      assert(assigned.count() == nFull - nOld,
        "the router must assign exactly the docs past the store's boundary")
      val maintained = PipelineOps.x75IncLabels(serving, sf0001)
      assert(maintained.count() == nFull, "x75 must relabel the whole corpus")
      assert(maintained.filter(col("doc_id") > cutoff).count() == nFull - nOld,
        "x75's arrivals are exactly the docs past the stored max_id")

      // RE-FREEZE: persist both stores on the grown corpus at the SAME
      // paths — the serving session must re-validate the new stamps
      // (writeStamped evicts the memoized reads), and x74 flips fresh
      PipelineOps.persistLabels(serving, sf0001, labelsPath)
      PipelineOps.persistLabelIndex(serving, sf0001, idxPath)
      val after = Audit.x74ArtifactFreshness(serving, sf0001).collect()
        .map(r => r.getString(0) -> r).toMap
      assert(after("x24_labels").getLong(7) == 1L,
        s"re-persisted labels still stale: ${after("x24_labels")}")
      assert(after("s21_index").getLong(7) == 1L,
        s"re-persisted label index still stale: ${after("s21_index")}")
      assert(after("x24_labels").getLong(3) == 0L &&
        after("x24_labels").getLong(6) == 0L,
        s"fresh store must read zero magnitude: ${after("x24_labels")}")
      // and the re-frozen store SERVES: the router answers every arrival
      // from the REFRESHED index (the memoized stale read was evicted by
      // the overwrite — this re-read would throw on the old plan's
      // deleted files, and re-validates the new stamp)
      assert(PipelineOps.labelRouteDecisions(serving, sf0001).count() == nFull - nOld,
        "the router must keep serving from the re-frozen index")
    } finally {
      serving.conf.unset("spark.graft.labelsPath")
      serving.conf.unset("spark.graft.labelIndexPath")
    }
  }

  test("manifest flip mid-flight: a RUNNING stream keeps its construction-time generation; a restart serves the flip") {
    // the restart-to-flip contract (r18 verdict gap #4), pinned on the
    // gates' exact mechanism — a stream-static join against a
    // manifest-resolved store: the static side is resolved ONCE at query
    // construction, and generation A's files are immutable (the
    // incremental persists refuse in-place overwrites), so micro-batches
    // arriving AFTER the manifest repoints keep routing on A; only a
    // restarted query re-resolves and serves B. x77 is the page that
    // gates the flip itself (AuditSpec's mixed-generation test).
    val tmp = tempDir("graft_flip_").toString
    val thr = {
      val mx = graft.model.Tables.documents(spark, sf0001)
        .agg(max(col("doc_id"))).collect()(0).getLong(0)
      Math.floorDiv(9L * mx, 10L)
    }
    PipelineOps.persistStickySplits(spark, sf0001, s"$tmp/sticky")
    PipelineOps.persistRouteIndex(spark, sf0001, s"$tmp/routeA")
    // generation B: every bucket doctored to conflicting bits (3) — a
    // query on B quarantines every band-matched arrival, observably
    // different from A's inherited routes
    Artifacts.writeStamped(spark, spark.read.parquet(s"$tmp/routeA")
      .withColumn("bits", when(col("bits").isNotNull, lit(3L))),
      s"$tmp/routeB", "s18_index",
      Map("thr" -> Artifacts.readProps(spark, s"$tmp/routeA")("thr")))
    def manifest(route: String): Unit =
      Artifacts.writeManifest(spark, s"$tmp/manifest", Map(
        "x68_sticky" -> s"$tmp/sticky", "s18_index" -> s"$tmp/$route"), thr)
    manifest("routeA")
    val serving = spark.newSession()
    serving.conf.set("spark.graft.storeManifest", s"$tmp/manifest")
    try {
      // the docs generation A actually inherits (its observable signature)
      val inheritedA = PipelineOps.routeDecisions(serving, sf0001)
        .filter(col("origin") === "inherited").select("doc_id")
        .collect().map(_.getLong(0)).toSeq.sorted
      assert(inheritedA.size >= 2, s"need ≥2 inherited arrivals: $inheritedA")
      val (phase1, phase2) = inheritedA.splitAt(inheritedA.size / 2)
      val arr = graft.model.Tables.documents(serving, sf0001)
        .filter(col("doc_id") > thr).select(col("doc_id"), col("text"))
      val feedDir = s"$tmp/feed"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(feedDir))
      // the file-stream source lists FILES, not written parquet dirs —
      // stage each phase and move its single part-file in flat
      def feedFile(df: org.apache.spark.sql.DataFrame, stage: String, dst: String): Unit = {
        df.coalesce(1).write.parquet(stage)
        val part = new java.io.File(stage).listFiles()
          .find(_.getName.startsWith("part-")).get
        java.nio.file.Files.copy(part.toPath, java.nio.file.Paths.get(dst))
      }
      feedFile(arr.filter(col("doc_id").isin(phase1: _*)), s"$tmp/stage1", s"$feedDir/p1.parquet")
      // the mini-gate: the s18 stream-static shape verbatim (per-row
      // banding + four left joins against the construction-time index)
      val idx = Stages.s18Index(serving, sf0001) // ← resolves generation A
      val stream = serving.readStream.schema(arr.schema)
        .option("maxFilesPerTrigger", 1).parquet(feedDir)
        .select(col("doc_id") +: TextOps.rowBandCols(
          TextOps.shinglesOf(split(col("text"), " "))): _*)
      val joined = (0 until 4).foldLeft(stream) { (cur, b) =>
        cur.join(idx.filter(col("band") === b)
            .select(col("h").as(s"b$b"), col("bits").as(s"bits$b")),
          Seq(s"b$b"), "left")
      }.select(col("doc_id"),
        (0 until 4).map(b => coalesce(col(s"bits$b"), lit(0L)))
          .reduce(_ bitwiseOR _).as("bits"))
      val q = joined.writeStream.format("memory").queryName("flip_gate")
        .outputMode("append").start()
      try {
        q.processAllAvailable() // phase 1 on generation A
        manifest("routeB")      // THE FLIP: same manifest path, new set
        feedFile(arr.filter(col("doc_id").isin(phase2: _*)),
          s"$tmp/stage2", s"$feedDir/p2.parquet") // late micro-batches
        q.processAllAvailable()
      } finally q.stop()
      val routedBits = serving.table("flip_gate").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      serving.catalog.dropTempView("flip_gate")
      // BOTH phases routed on generation A: single-bit (inherited) rows
      // exist even among the docs fed AFTER the flip — generation B
      // would read bits=3 on every matched doc
      assert(phase2.forall(d => Set(1L, 2L, 4L)(routedBits(d))),
        s"post-flip micro-batches must keep the construction-time generation: $routedBits")
      // a RESTART re-resolves: the manifest overwrite evicted the memo
      // chain, so the same session's next query serves generation B
      val restarted = PipelineOps.routeDecisions(serving, sf0001)
        .groupBy(col("origin")).count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(!restarted.contains("inherited") &&
        restarted.getOrElse("quarantined", 0L) >= phase2.size.toLong,
        s"restarted query must serve the flipped generation: $restarted")
    } finally serving.conf.unset("spark.graft.storeManifest")
  }

  test("store-derived stages are evicted on re-persist: Stages.x75Labels serves the new labels generation") {
    // the r19 shared-stage memoization opened a staleness hole the
    // stamped-read eviction alone did not cover: Stages.x75Labels
    // (x75 + x76's shared frame) was built from a read of the labels
    // store, and an in-session re-persist of that store evicted only the
    // memoized READ — the derived stage kept serving the pre-persist
    // generation. Pinned here via an observably different generation 2.
    val tmp = tempDir("graft_stage_evict_").toString
    val labelsPath = s"$tmp/labels"
    PipelineOps.persistLabels(spark, sf0001, labelsPath)
    val serving = spark.newSession()
    serving.conf.set("spark.graft.labelsPath", labelsPath)
    try {
      val before = Stages.x75Labels(serving, sf0001)
        .filter(col("cluster_id") =!= col("doc_id")).count()
      assert(before > 0L,
        "need ≥1 non-singleton cluster for the generation flip to be observable")
      // generation 2, doctored observably: every doc its own label
      // (all singletons), frozen at the full corpus boundary — under it
      // x75 has no arrivals and every maintained label equals the doc id
      val mxFull = graft.model.Tables.documents(spark, sf0001)
        .agg(max(col("doc_id"))).collect()(0).getLong(0)
      Artifacts.writeStamped(serving,
        graft.model.Tables.documents(serving, sf0001)
          .select(col("doc_id"), col("doc_id").as("cluster_id")),
        labelsPath, "x24_labels", Map("max_id" -> mxFull.toString))
      val after = Stages.x75Labels(serving, sf0001)
        .filter(col("cluster_id") =!= col("doc_id")).count()
      assert(after == 0L,
        s"Stages.x75Labels still serves the pre-persist generation ($after non-singleton rows)")
    } finally serving.conf.unset("spark.graft.labelsPath")
  }

  test("re-persisting each store rebuilds exactly the stages whose build consulted it") {
    // stage eviction is DERIVED: every store consultation during a stage
    // build is recorded against that stage, so no hand-kept map can miss
    // a new store reader. Every stage is built in-session with nothing
    // configured (consultation, not a successful read, is what counts),
    // then each of the nine artifacts is re-persisted in turn.
    Stages.clear()
    val tmp = tempDir("graft_derived_evict_").toString
    val stages: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "x13_bands" -> (() => Stages.x13BandsAll(spark, sf0001)),
      "x13_pairs" -> (() => Stages.x13Pairs(spark, sf0001)),
      "x9_scores" -> (() => Stages.x9Scores(spark, sf0001)),
      "x24_labels" -> (() => Stages.x24Labels(spark, sf0001)),
      "x75_seed" -> (() => Stages.x75Seed(spark, sf0001)),
      "x75_labels" -> (() => Stages.x75Labels(spark, sf0001)),
      "x68_sticky" -> (() => Stages.x68Sticky(spark, sf0001)),
      "x68_assign" -> (() => Stages.x68Assign(spark, sf0001)),
      "s18_index" -> (() => Stages.s18IndexFull(spark, sf0001)),
      "s21_index" -> (() => Stages.s21IndexFull(spark, sf0001)),
      "s17_merges" -> (() => Stages.s17Merges(spark, sf0001)),
      "sketch_daily" -> (() => Stages.sketchDaily(spark, sf0001)),
      "x57_index" -> (() => Stages.x57Index(spark, sf0001)))
    val persists: Seq[(String, String => Unit)] = Seq(
      "x24_labels" -> (PipelineOps.persistLabels(spark, sf0001, _)),
      "x68_sticky" -> (PipelineOps.persistStickySplits(spark, sf0001, _)),
      "s18_index" -> (PipelineOps.persistRouteIndex(spark, sf0001, _)),
      "s21_index" -> (PipelineOps.persistLabelIndex(spark, sf0001, _)),
      "x62b_merges" -> (TextOps.persistMerges(spark, sf0001, _)),
      "s20_stats" -> (graft.streaming.StreamGate.persistRetrievalStats(spark, sf0001, _)),
      "sketch_daily" -> (Analytics.persistSketchDaily(spark, sf0001, _)),
      "x57_index" -> (VectorOps.persistPqIndex(spark, sf0001, _)),
      "store_manifest" -> (p => Artifacts.writeManifest(spark, p,
        Map("x68_sticky" -> s"$tmp/x68_sticky"), 1L)))
    assert(persists.map(_._1).toSet == Artifacts.versions.keySet)
    try {
      stages.foreach(_._2())
      // the derived sets cover every entry of the retired hand-kept map
      val labelReaders = Set("x75_seed", "x75_labels", "x68_sticky",
        "x68_assign", "s18_index", "s21_index")
      assert(labelReaders.subsetOf(Stages.dependentStages("x24_labels")),
        Stages.dependentStages("x24_labels"))
      assert(labelReaders.subsetOf(Stages.dependentStages("store_manifest")),
        Stages.dependentStages("store_manifest"))
      assert(Set("x68_assign", "s18_index").subsetOf(Stages.dependentStages("x68_sticky")),
        Stages.dependentStages("x68_sticky"))
      // stages that read no store are nobody's dependents
      assert(!Artifacts.versions.keySet.exists(a =>
        Stages.dependentStages(a)("x13_pairs") || Stages.dependentStages(a)("x9_scores")))
      persists.foreach { case (artifact, persist) =>
        val before = stages.map { case (n, get) => n -> get() }.toMap
        val consulted = Stages.dependentStages(artifact)
        persist(s"$tmp/$artifact")
        stages.foreach { case (n, get) =>
          if (consulted(n))
            assert(get() ne before(n), s"$n consulted $artifact but survived its re-persist")
          else
            assert(get() eq before(n), s"$n never consulted $artifact but was evicted")
        }
      }
    } finally Stages.clear()
  }
}
