package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkTestBase

/** The sixth and seventh stamped stores — the serving band indexes
  * (s18's (band, h) → split-bits router index and s21's (band, h) →
  * min-label assignment index): round-trip, doctored-consumption,
  * wrong-artifact, loud-on-missing, and the x74 freshness rows — the
  * TokenizerStoreSpec idiom applied to the routers' decision state.
  * The defect class under test: the indexes are the routers' WHOLE
  * frozen decision state, and until these stores every serving session
  * re-banded the history corpus to rebuild them — a rebuild under a
  * retuned banding/df-cap silently routes arrivals a frozen deployment
  * never would (and was the measured 39.7 s x69 / 21.8 s x68 cost at
  * the 1024× store-served leg). */
class BandIndexStoreSpec extends SparkTestBase {

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("persisted route index: a fresh session serves the stored index to s18/x69 bit-identically") {
    val tmp = tempDir("graft_bandidx_").toString
    val path = s"$tmp/route_index"
    PipelineOps.persistRouteIndex(spark, sf0001, path)
    // the stamp records the freeze boundary for x74's audit
    assert(Artifacts.readProps(spark, path)("thr").toLong > 0L)
    val derivedIdx = rows(PipelineOps.routeIndexUnstaged(spark, sf0001))
    val derivedRoutes = rows(PipelineOps.routeDecisions(spark, sf0001))
    val derivedX69 = rows(PipelineOps.x69RouteAgreement(spark, sf0001))
    val fresh = spark.newSession()
    fresh.conf.set("spark.graft.routeIndexPath", path)
    try {
      assert(rows(Stages.s18IndexFull(fresh, sf0001)) == derivedIdx,
        "stored route index diverged from the derivation")
      assert(rows(PipelineOps.routeDecisions(fresh, sf0001)) == derivedRoutes,
        "store-served routing diverged from the derive-path routing")
      assert(rows(PipelineOps.x69RouteAgreement(fresh, sf0001)) == derivedX69,
        "store-served x69 diverged from the derive-path audit")
    } finally fresh.conf.unset("spark.graft.routeIndexPath")
  }

  test("persisted label index: a fresh session serves the stored index to s21's batch twin") {
    val tmp = tempDir("graft_bandidx_").toString
    val path = s"$tmp/label_index"
    PipelineOps.persistLabelIndex(spark, sf0001, path)
    assert(Artifacts.readProps(spark, path)("thr").toLong > 0L)
    val derivedIdx = rows(PipelineOps.labelIndexUnstaged(spark, sf0001))
    val derivedAssign = rows(PipelineOps.labelRouteDecisions(spark, sf0001))
    val fresh = spark.newSession()
    fresh.conf.set("spark.graft.labelIndexPath", path)
    try {
      assert(rows(Stages.s21IndexFull(fresh, sf0001)) == derivedIdx,
        "stored label index diverged from the derivation")
      assert(rows(PipelineOps.labelRouteDecisions(fresh, sf0001)) == derivedAssign,
        "store-served assignment diverged from the derive-path assignment")
    } finally fresh.conf.unset("spark.graft.labelIndexPath")
  }

  test("the router CONSUMES the stored index: a doctored bucket routes arrivals, not a re-derive") {
    val tmp = tempDir("graft_bandidx_").toString
    val path = s"$tmp/route_index"
    PipelineOps.persistRouteIndex(spark, sf0001, path)
    // doctor EVERY bucket to conflicting bits (3 = test|val): a consumed
    // index must quarantine every band-hit arrival; a re-derive would
    // restore the true bits
    val doctoredPath = s"$tmp/doctored"
    Artifacts.writeStamped(spark,
      spark.read.parquet(path).withColumn("bits", lit(3L)),
      doctoredPath, "s18_index")
    val fresh = spark.newSession()
    fresh.conf.set("spark.graft.routeIndexPath", doctoredPath)
    try {
      val routed = PipelineOps.routeDecisions(fresh, sf0001)
        .groupBy(col("origin")).count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(!routed.contains("inherited"),
        s"doctored all-conflict index still inherited — re-derived, not consumed: $routed")
      assert(routed.getOrElse("quarantined", 0L) > 0L,
        s"no band-hit arrival quarantined under the all-conflict index: $routed")
    } finally fresh.conf.unset("spark.graft.routeIndexPath")
  }

  test("band-index stamp validation: wrong artifact and missing path fail loudly") {
    val tmp = tempDir("graft_bandidx_").toString
    // the configured path holds a DIFFERENT stamped artifact (the other
    // band index — the nastiest confusion: same (band, h) key columns)
    PipelineOps.persistLabelIndex(spark, sf0001, s"$tmp/label_index")
    val fresh = spark.newSession()
    fresh.conf.set("spark.graft.routeIndexPath", s"$tmp/label_index")
    try {
      val wrong = intercept[IllegalArgumentException] {
        Stages.s18Index(fresh, sf0001).collect()
      }
      assert(wrong.getMessage.contains("s21_index") &&
        wrong.getMessage.contains("s18_index"), wrong.getMessage)
      fresh.conf.set("spark.graft.routeIndexPath", s"$tmp/does_not_exist")
      val missing = intercept[IllegalArgumentException] {
        PipelineOps.routeDecisions(fresh, sf0001).collect()
      }
      assert(missing.getMessage.contains("_graft_meta"), missing.getMessage)
    } finally fresh.conf.unset("spark.graft.routeIndexPath")
  }

  test("x74 audits the band indexes: fresh stores read fresh, a stale boundary is flagged with magnitude") {
    val tmp = tempDir("graft_bandidx_").toString
    PipelineOps.persistRouteIndex(spark, sf0001, s"$tmp/route_index")
    PipelineOps.persistLabelIndex(spark, sf0001, s"$tmp/label_index")
    val fresh = spark.newSession()
    fresh.conf.set("spark.graft.routeIndexPath", s"$tmp/route_index")
    fresh.conf.set("spark.graft.labelIndexPath", s"$tmp/label_index")
    try {
      val ok = Audit.x74ArtifactFreshness(fresh, sf0001).collect()
        .filter(r => r.getString(0) == "s18_index" || r.getString(0) == "s21_index")
      assert(ok.length == 2 && ok.forall(_.getLong(7) == 1L),
        s"fresh index stores flagged stale: ${ok.mkString(", ")}")
      // boundary-only artifacts: stamped rows mirror into expected (the
      // REAL bucket count, not the unconfigured 0)
      assert(ok.forall(r => r.getLong(4) > 0L && r.getLong(4) == r.getLong(5)),
        s"configured index rows must surface in the audit: ${ok.mkString(", ")}")
      // stale: same table re-stamped at an older freeze boundary
      val thrNow = ok.head.getLong(2)
      Artifacts.writeStamped(spark, spark.read.parquet(s"$tmp/route_index"),
        s"$tmp/stale", "s18_index", Map("thr" -> (thrNow / 2).toString))
      fresh.conf.set("spark.graft.routeIndexPath", s"$tmp/stale")
      val bad = Audit.x74ArtifactFreshness(fresh, sf0001).collect()
        .find(_.getString(0) == "s18_index").get
      assert(bad.getLong(7) == 0L, s"stale index not flagged: $bad")
      assert(bad.getLong(3) == thrNow - thrNow / 2,
        s"arrivals_past_freeze must quantify the boundary lag: $bad")
      assert(bad.getLong(6) == 0L,
        s"boundary-only artifact must carry zero row drift: $bad")
    } finally {
      fresh.conf.unset("spark.graft.routeIndexPath")
      fresh.conf.unset("spark.graft.labelIndexPath")
    }
  }
}
