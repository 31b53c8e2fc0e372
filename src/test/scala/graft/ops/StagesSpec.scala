package graft.ops

import java.nio.file.Files

import graft.SparkTestBase

/** Stage-cache lifecycle: mode-aware keys and context eviction. */
class StagesSpec extends SparkTestBase {

  test("stamped-store reads are memoized per session and evicted with it") {
    Stages.clear()
    val path = s"${Files.createTempDirectory("graft_stamped_")}/sticky"
    PipelineOps.persistStickySplits(spark, sf0001, path)
    val fresh = spark.newSession()
    fresh.conf.set("spark.graft.stickyPath", path)
    try {
      val n0 = Stages.cachedEntryCount
      val first = Stages.x68Sticky(fresh, sf0001)
      assert(Stages.cachedEntryCount == n0 + 1,
        "a configured-path read must land one stamped-cache entry")
      // the second consumer serves the SAME validated frame — the meta
      // collect + count() validation ran once per (session, path)
      assert(Stages.x68Sticky(fresh, sf0001) eq first,
        "second read must serve the memoized validated frame")
      assert(Stages.cachedEntryCount == n0 + 1)
      Stages.evictSession(fresh)
      assert(Stages.cachedEntryCount == n0,
        "evictSession must drop the session's stamped-cache entries")
    } finally fresh.conf.unset("spark.graft.stickyPath")
  }

  test("re-persisting a path in-session evicts the memoized stamped read") {
    // the latent trap the r17 ADVICE named: writeStamped overwrites the
    // parquet, so a memoized read of the same path would serve a plan
    // over DELETED files (or skip re-validating the new stamp) — the
    // writer must evict the path's entries
    Stages.clear()
    val path = s"${Files.createTempDirectory("graft_stamped_")}/sticky"
    PipelineOps.persistStickySplits(spark, sf0001, path)
    val fresh = spark.newSession()
    fresh.conf.set("spark.graft.stickyPath", path)
    try {
      val first = Stages.x68Sticky(fresh, sf0001)
      val thr = first.agg(org.apache.spark.sql.functions.max("doc_id"))
        .collect()(0).getLong(0) // materialize BEFORE the overwrite
      val n1 = first.count()
      // overwrite the SAME path with a doctored table (every doc 'test')
      val s = spark
      import s.implicits._
      val doctored = (0L until n1).map(i => (i, "test"))
      Artifacts.writeStamped(s, doctored.toDF("doc_id", "split_old"), path,
        "x68_sticky", Map("thr" -> thr.toString))
      // the re-read must serve the NEW table through a fresh validation —
      // a stale memo would either throw on deleted files or serve old rows
      val second = Stages.x68Sticky(fresh, sf0001)
      assert(!(second eq first), "overwrite must evict the memoized read")
      val splits = second.select("split_old").distinct()
        .collect().map(_.getString(0)).toSeq
      assert(splits == Seq("test"),
        s"re-read served stale content after the overwrite: $splits")
    } finally fresh.conf.unset("spark.graft.stickyPath")
  }

  test("stamped-read memos key on the NORMALIZED path: an overwrite evicts reads under any spelling") {
    // the r18 ADVICE gap: eviction matched paths by exact string, so a
    // knob spelled file:/... and a persist spelled /... missed each
    // other and the session kept serving the stale memo
    Stages.clear()
    val path = s"${Files.createTempDirectory("graft_stamped_")}/sticky"
    PipelineOps.persistStickySplits(spark, sf0001, path)
    val fresh = spark.newSession()
    fresh.conf.set("spark.graft.stickyPath", s"file:$path") // URI spelling
    try {
      val first = Stages.x68Sticky(fresh, sf0001)
      val thr = first.agg(org.apache.spark.sql.functions.max("doc_id"))
        .collect()(0).getLong(0)
      val n1 = first.count()
      val s = spark
      import s.implicits._
      // overwrite via the BARE spelling — must evict the file:-keyed memo
      Artifacts.writeStamped(s, (0L until n1).map(i => (i, "test")).toDF("doc_id", "split_old"),
        path, "x68_sticky", Map("thr" -> thr.toString))
      val second = Stages.x68Sticky(fresh, sf0001)
      assert(!(second eq first),
        "overwrite under the bare spelling must evict the file:-spelled memo")
      val splits = second.select("split_old").distinct()
        .collect().map(_.getString(0)).toSeq
      assert(splits == Seq("test"),
        s"re-read under the URI spelling served stale content: $splits")
    } finally fresh.conf.unset("spark.graft.stickyPath")
  }

  test("toggling the stage mode mid-session serves the new mode without clear()") {
    Stages.clear()
    val modeKey = "spark.graft.stageDir"
    val prev = spark.conf.getOption(modeKey)
    try {
      spark.conf.set(modeKey, "") // explicit localCheckpoint mode
      val mem = Stages.x9Scores(spark, sf0001)
      assert(mem.queryExecution.analyzed.toString.contains("LogicalRDD"),
        "empty stageDir must build a localCheckpoint stage")
      val root = Files.createTempDirectory("graft-stages-mode").toString
      spark.conf.set(modeKey, root)
      // no Stages.clear() here — the resolved root is part of the cache key
      val pq = Stages.x9Scores(spark, sf0001)
      assert(pq.queryExecution.analyzed.toString.contains("parquet"),
        s"stageDir=$root must build a parquet stage without clear():\n" +
          pq.queryExecution.analyzed)
      assert(pq.collect().toSet == mem.collect().toSet, "modes must agree on data")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(modeKey, v)
        case None    => spark.conf.unset(modeKey)
      }
      Stages.clear()
    }
  }

  test("persisted IVFADC index: fresh session serves the stored table bit-identically") {
    val tmp = Files.createTempDirectory("graft_ivf_").toString
    val path = s"$tmp/ivf"
    VectorOps.persistPqIndex(spark, sf0001, path)
    val baseline = VectorOps.x57IvfPqSearch(spark, sf0001)
      .collect().map(_.toString).toSeq
    // the serving installment: a fresh session (own conf, own stages)
    // re-derives centroids/codebooks deterministically but reads the
    // INDEX from the store instead of rebuilding it
    val fresh = spark.newSession()
    fresh.conf.set("spark.graft.ivfIndexPath", path)
    try {
      val got = VectorOps.x57IvfPqSearch(fresh, sf0001)
        .collect().map(_.toString).toSeq
      assert(got == baseline,
        s"stored-index search diverged from the derive-path search: $got vs $baseline")
    } finally fresh.conf.unset("spark.graft.ivfIndexPath")
  }

  test("x57Index CONSUMES the stored index; a missing path fails loudly") {
    val tmp = Files.createTempDirectory("graft_ivf_").toString
    val path = s"$tmp/ivf"
    VectorOps.persistPqIndex(spark, sf0001, path)
    // doctor one row's list routing and store THAT — the served index
    // must reflect it (consumption, not re-derivation)
    import org.apache.spark.sql.functions._
    val doctoredPath = s"$tmp/doctored"
    // re-stamped through the writer API: the point under test is
    // consumption-not-rederivation, not stamp validation
    Artifacts.writeStamped(spark, spark.read.parquet(path)
      .withColumn("list_id",
        when(col("vec_id") === 1 && col("m") === 0, lit(999L)).otherwise(col("list_id"))),
      doctoredPath, "x57_index")
    val fresh = spark.newSession()
    fresh.conf.set("spark.graft.ivfIndexPath", doctoredPath)
    try {
      val served = Stages.x57Index(fresh, sf0001)
        .filter(col("vec_id") === 1 && col("m") === 0)
        .collect().map(_.getAs[Long]("list_id")).toSeq
      assert(served == Seq(999L),
        s"x57Index re-derived instead of consuming the stored index: $served")
      fresh.conf.set("spark.graft.ivfIndexPath", s"$tmp/does_not_exist")
      val e = intercept[IllegalArgumentException] {
        Stages.x57Index(fresh, sf0001).collect()
      }
      assert(e.getMessage.contains("_graft_meta"), e.getMessage)
      // a stale-producer stamp (version drift) must refuse by name: fake
      // a version-0 stamp over the same data
      val stale = s"$tmp/stale"
      spark.read.parquet(path).write.parquet(stale)
      spark.read.parquet(s"$path/_graft_meta")
        .withColumn("version", lit(0))
        .write.parquet(s"$stale/_graft_meta")
      fresh.conf.set("spark.graft.ivfIndexPath", stale)
      val old = intercept[IllegalArgumentException] {
        Stages.x57Index(fresh, sf0001).collect()
      }
      assert(old.getMessage.contains("version 0"), old.getMessage)
    } finally fresh.conf.unset("spark.graft.ivfIndexPath")
  }

  test("evictSession releases one session's BLOCKS; an unrelated session's survive") {
    Stages.clear()
    val modeKey = "spark.graft.stageDir"
    val prev = spark.conf.getOption(modeKey)
    try {
      spark.conf.set(modeKey, "") // force localCheckpoint mode (blocks exist)
      val other = spark.newSession()
      other.conf.set(modeKey, "")
      val before = spark.sparkContext.getPersistentRDDs.keySet
      Stages.x9Scores(spark, sf0001)
      val afterMine = spark.sparkContext.getPersistentRDDs.keySet
      Stages.x9Scores(other, sf0001)
      val otherIds = spark.sparkContext.getPersistentRDDs.keySet -- afterMine
      val myIds = afterMine -- before
      assert(myIds.nonEmpty && otherIds.nonEmpty, "each build must pin checkpoint blocks")
      assert(Stages.cachedEntryCount == 2)
      Stages.evictSession(other)
      val left = spark.sparkContext.getPersistentRDDs.keySet
      // Dataset.unpersist would NOT release these — the pinned-RDD path must
      assert((left & otherIds).isEmpty,
        s"evicted session's checkpoint blocks still persisted: ${left & otherIds}")
      assert(myIds.subsetOf(left),
        "evicting one session must not release the other session's blocks")
      assert(Stages.cachedEntryCount == 1)
      assert(Stages.x9Scores(spark, sf0001).count() > 0)
    } finally {
      prev match {
        case Some(v) => spark.conf.set(modeKey, v)
        case None    => spark.conf.unset(modeKey)
      }
      Stages.clear()
    }
  }

  test("two live sessions sharing one parquet stage root write distinct run subdirs") {
    Stages.clear()
    val modeKey = "spark.graft.stageDir"
    val prev = spark.conf.getOption(modeKey)
    val root = Files.createTempDirectory("graft-stages-shared").toString
    try {
      spark.conf.set(modeKey, root)
      val other = spark.newSession()
      other.conf.set(modeKey, root)
      val a = Stages.x9Scores(spark, sf0001)
      val b = Stages.x9Scores(other, sf0001)
      def runDirs = Option(new java.io.File(root).listFiles()).getOrElse(Array.empty)
        .filter(f => f.isDirectory && f.getName.startsWith("run_")).map(_.getName).toSet
      assert(runDirs.size == 2,
        s"each live session must own its own run subdir under a shared root: $runDirs")
      // no clobbering: both frames read their own files and agree on data
      assert(a.collect().toSet == b.collect().toSet)
      // departing session takes its scratch with it; the survivor's stays
      Stages.evictSession(other)
      assert(runDirs.size == 1, s"evicted session's run subdir must be deleted: $runDirs")
      assert(a.collect().nonEmpty)
    } finally {
      prev match {
        case Some(v) => spark.conf.set(modeKey, v)
        case None    => spark.conf.unset(modeKey)
      }
      Stages.clear()
      graft.SparkTestBase.deleteRecursively(new java.io.File(root))
    }
  }

  test("evictSession deletes a departing session's x15 PNG scratch; the survivor's stays") {
    import java.nio.file.Paths
    val other = spark.newSession()
    try {
      val mine = Stages.pngCorpus(spark, sf0001)
      val theirs = Stages.pngCorpus(other, sf0001)
      assert(mine != theirs, "each session must own its own PNG scratch dir")
      assert(Files.exists(Paths.get(mine)) && Files.exists(Paths.get(theirs)))
      assert(Stages.sessionEntryCount(other) == 1)
      Stages.evictSession(other)
      assert(!Files.exists(Paths.get(theirs)),
        "evicted session's PNG scratch dir must be deleted from disk")
      assert(Stages.sessionEntryCount(other) == 0)
      assert(Files.exists(Paths.get(mine)),
        "evicting one session must not delete another session's PNG scratch")
      // a rebuilt corpus after eviction lands in a FRESH dir (no stale path)
      val rebuilt = Stages.pngCorpus(other, sf0001)
      assert(rebuilt != theirs && Files.exists(Paths.get(rebuilt)))
      // the global reset deletes every session's corpus dir
      Stages.clear()
      assert(!Files.exists(Paths.get(mine)) && !Files.exists(Paths.get(rebuilt)),
        "Stages.clear() must delete the corpus dirs it drops")
    } finally {
      Stages.evictSession(other)
      Stages.evictSession(spark)
    }
  }

  test("evict(sc) drops every entry owned by the context") {
    Stages.clear()
    Stages.x9Scores(spark, sf0001)
    Stages.x16Centroids(spark, sf0001)
    val books = Stages.pqBooks(spark, sf0001)
    assert(Stages.pqBooks(spark, sf0001) eq books, "the codebooks train once per session")
    assert(Stages.cachedEntryCount >= 2)
    Stages.evict(spark.sparkContext)
    assert(Stages.cachedEntryCount == 0,
      "application-end eviction must drop the context's stage entries")
    // the driver-held PQ codebooks go with the context too: the next ask
    // retrains instead of serving a departed application's books
    val retrained = Stages.pqBooks(spark, sf0001)
    val retrainedAfterEvict = !(retrained eq books)
    assert(retrainedAfterEvict, "evict(sc) must drop the context's PQ codebooks")
    // ...and with a departing session
    Stages.evictSession(spark)
    assert(Stages.cachedEntryCount == 0,
      "evictSession must drop the session's driver-held entries")
    val retrainedAfterSession = !(Stages.pqBooks(spark, sf0001) eq retrained)
    assert(retrainedAfterSession, "evictSession must drop the session's PQ codebooks")
    // the cache must rebuild cleanly after eviction
    assert(Stages.x9Scores(spark, sf0001).count() > 0)
    Stages.clear()
  }

  test("the stage registry: 30 bench lines in order, each building exactly its own entry") {
    // the bench's stage:* lines ARE the registry, in declaration order —
    // pinned here so a reorder or a new artifact is a visible change
    val names = Seq("x16_centroids", "pq_books", "x57_index", "series_daily",
      "x49_grams", "grams5", "x2_pairs", "x13_bands", "x13_pairs", "x24_labels",
      "x75_seed", "x75_labels", "x68_sticky", "x68_assign", "s18_index", "s21_index",
      "x9_scores", "x62_merges", "s17_merges", "x36_hits", "q27c_hitters",
      "sketch_daily", "q24_keystats", "q26_bloom", "png_corpus", "wav_corpus",
      "gif_corpus", "gate_events_feed", "gate_docs_feed", "gate_emb_feed")
    assert(Stages.registry.map(_.name) == names)
    // built in that order from a clear cache, every line adds exactly one
    // entry: no line builds an artifact declared after it (its line would
    // then absorb that build) and none reads a stamped store
    Stages.clear()
    try {
      Stages.registry.foreach { st =>
        val n0 = Stages.cachedEntryCount
        st(spark, sf0001)
        assert(Stages.cachedEntryCount == n0 + 1,
          s"stage:${st.name} added ${Stages.cachedEntryCount - n0} entries, not 1")
      }
    } finally Stages.clear()
  }
}
