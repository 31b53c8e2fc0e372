package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkTestBase

/** The store-set manifest — the atomic-flip form of the seven path
  * knobs ([[Artifacts.writeManifest]] + `spark.graft.storeManifest`):
  * one stamped (artifact, path) table names a freeze generation, and
  * every configuredPath resolution without an explicit per-artifact
  * knob serves it. The defect class under test: flipping seven knobs
  * one by one leaves a mixed-generation window (x77's subject); the
  * manifest closes it to one conf set. */
class ManifestSpec extends SparkTestBase {

  private def freezeBoundary(dir: String): Long = {
    val mx = graft.model.Tables.documents(spark, dir)
      .agg(max(col("doc_id"))).collect()(0).getLong(0)
    Math.floorDiv(9L * mx, 10L)
  }

  test("one manifest conf flips every named store; absent artifacts derive in-session") {
    val tmp = tempDir("graft_manifest_").toString
    PipelineOps.persistStickySplits(spark, sf0001, s"$tmp/sticky")
    PipelineOps.persistRouteIndex(spark, sf0001, s"$tmp/route_index")
    TextOps.persistMerges(spark, sf0001, s"$tmp/merges")
    Artifacts.writeManifest(spark, s"$tmp/manifest", Map(
      "x68_sticky" -> s"$tmp/sticky",
      "s18_index" -> s"$tmp/route_index",
      "x62b_merges" -> s"$tmp/merges"), freezeBoundary(sf0001))
    val sticky = spark.read.parquet(s"$tmp/sticky").collect().map(_.toString).sorted.toSeq
    // the stored form carries df + tombstones (v2); compare the SERVED
    // projection, which is what s18Index yields
    val idx = PipelineOps.serveRouteIndex(spark.read.parquet(s"$tmp/route_index"))
      .collect().map(_.toString).sorted.toSeq
    val fresh = spark.newSession()
    fresh.conf.set("spark.graft.storeManifest", s"$tmp/manifest")
    try {
      // all three named stores serve through the ONE conf
      assert(Stages.x68Sticky(fresh, sf0001).collect().map(_.toString).sorted.toSeq == sticky)
      assert(Stages.s18Index(fresh, sf0001).collect().map(_.toString).sorted.toSeq == idx)
      assert(Stages.s17Merges(fresh, sf0001).count() == TextOps.bpeRounds.toLong)
      // an artifact ABSENT from the manifest derives in-session (labels
      // has no manifest entry — x24 must run the fixpoint, not throw)
      assert(PipelineOps.x24DedupClusters(fresh, sf0001).count() > 0L)
      // x74 audits the manifest generation as fresh, and x77's
      // manifest constraint holds
      val x74 = Audit.x74ArtifactFreshness(fresh, sf0001).collect()
        .map(r => r.getString(0) -> r.getLong(7)).toMap
      assert(x74("store_manifest") == 1L && x74("x68_sticky") == 1L &&
        x74("s18_index") == 1L, x74.toString)
      val x77 = Audit.x77StoreCoherence(fresh, sf0001).collect()
        .map(r => r.getString(0) -> r.getLong(5)).toMap
      assert(x77.values.forall(_ == 1L), x77.toString)
    } finally fresh.conf.unset("spark.graft.storeManifest")
  }

  test("an explicit per-artifact knob overrides the manifest; an empty one forces re-derivation") {
    val tmp = tempDir("graft_manifest_").toString
    PipelineOps.persistStickySplits(spark, sf0001, s"$tmp/sticky")
    Artifacts.writeManifest(spark, s"$tmp/manifest",
      Map("x68_sticky" -> s"$tmp/sticky"), freezeBoundary(sf0001))
    // a doctored second store to distinguish explicit-vs-manifest wins
    val s = spark
    import s.implicits._
    val n = spark.read.parquet(s"$tmp/sticky").count()
    Artifacts.writeStamped(s, (0L until n).map(i => (i, "val")).toDF("doc_id", "split_old"),
      s"$tmp/sticky2", "x68_sticky", Map("thr" -> freezeBoundary(sf0001).toString))
    val fresh = spark.newSession()
    fresh.conf.set("spark.graft.storeManifest", s"$tmp/manifest")
    fresh.conf.set("spark.graft.stickyPath", s"$tmp/sticky2")
    try {
      val splits = Stages.x68Sticky(fresh, sf0001)
        .select("split_old").distinct().collect().map(_.getString(0)).toSeq
      assert(splits == Seq("val"),
        s"explicit knob must beat the manifest: $splits")
      // the stageDir convention: an EMPTY explicit value forces
      // re-derivation even with a manifest naming a store
      fresh.conf.set("spark.graft.stickyPath", "")
      val derived = Stages.x68Sticky(fresh, sf0001)
      assert(derived.select("split_old").distinct().count() > 1L,
        "empty explicit knob must force the in-session derivation")
    } finally {
      fresh.conf.unset("spark.graft.stickyPath")
      fresh.conf.unset("spark.graft.storeManifest")
    }
  }

  test("manifest validation: unknown keys, self-reference, and wrong artifact fail loudly") {
    val tmp = tempDir("graft_manifest_").toString
    val thr = freezeBoundary(sf0001)
    val bad1 = intercept[IllegalArgumentException] {
      Artifacts.writeManifest(spark, s"$tmp/m1", Map("not_a_store" -> "/x"), thr)
    }
    assert(bad1.getMessage.contains("unknown artifact keys"), bad1.getMessage)
    val bad2 = intercept[IllegalArgumentException] {
      Artifacts.writeManifest(spark, s"$tmp/m2",
        Map("store_manifest" -> "/x"), thr)
    }
    assert(bad2.getMessage.contains("cannot name itself"), bad2.getMessage)
    // the manifest knob pointed at a NON-manifest stamped artifact
    PipelineOps.persistStickySplits(spark, sf0001, s"$tmp/sticky")
    val fresh = spark.newSession()
    fresh.conf.set("spark.graft.storeManifest", s"$tmp/sticky")
    try {
      val wrong = intercept[IllegalArgumentException] {
        Stages.x68Sticky(fresh, sf0001).collect()
      }
      assert(wrong.getMessage.contains("store_manifest"), wrong.getMessage)
    } finally fresh.conf.unset("spark.graft.storeManifest")
  }

  test("re-writing a manifest in-session is served fresh (cache evicted on overwrite)") {
    val tmp = tempDir("graft_manifest_").toString
    val thr = freezeBoundary(sf0001)
    PipelineOps.persistStickySplits(spark, sf0001, s"$tmp/stickyA")
    val s = spark
    import s.implicits._
    val n = spark.read.parquet(s"$tmp/stickyA").count()
    Artifacts.writeStamped(s, (0L until n).map(i => (i, "test")).toDF("doc_id", "split_old"),
      s"$tmp/stickyB", "x68_sticky", Map("thr" -> thr.toString))
    Artifacts.writeManifest(spark, s"$tmp/manifest",
      Map("x68_sticky" -> s"$tmp/stickyA"), thr)
    val fresh = spark.newSession()
    fresh.conf.set("spark.graft.storeManifest", s"$tmp/manifest")
    try {
      assert(Stages.x68Sticky(fresh, sf0001)
        .select("split_old").distinct().count() > 1L)
      // the generation flips: same manifest path, new store set
      Artifacts.writeManifest(spark, s"$tmp/manifest",
        Map("x68_sticky" -> s"$tmp/stickyB"), thr)
      // no session eviction: the manifest overwrite alone must
      // re-resolve (its cache evicts on writeStamped), and the new
      // store path misses the per-(path, artifact) read memo
      val splits = Stages.x68Sticky(fresh, sf0001)
        .select("split_old").distinct().collect().map(_.getString(0)).toSeq
      assert(splits == Seq("test"),
        s"re-written manifest must re-resolve the store set: $splits")
    } finally fresh.conf.unset("spark.graft.storeManifest")
  }
}
