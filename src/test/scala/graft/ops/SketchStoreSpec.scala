package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkTestBase

/** The ninth stamped store — the daily sketch warehouse (per-day HLL
  * user sketches + KLL value sketches, q28/q29's rollup source, the
  * first store on the EVENTS axis): round-trip through both consumers,
  * consumption-not-rederivation, x74/x77 audit rows, and the loud
  * failure modes. The defect class under test: sketch rollups are
  * exactly the queries a deployment answers from STORED bytes instead
  * of history rescans, so a session silently rebuilding the dailies
  * (or serving a foreign/stale table) defeats the warehouse's point. */
class SketchStoreSpec extends SparkTestBase {

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("persisted sketch warehouse: a fresh session serves q28/q29 from the store, gates green") {
    val tmp = tempDir("graft_sketch_").toString
    val path = s"$tmp/sketches"
    Analytics.persistSketchDaily(spark, sf0001, path)
    assert(Artifacts.readProps(spark, path)("max_day").toLong > 20000000L,
      "the stamp must carry the yyyymmdd log head")
    val derived28 = rows(Analytics.q28HllRollup(spark, sf0001))
    val derived29 = rows(Analytics.q29KllRollup(spark, sf0001))
    val fresh = spark.newSession()
    fresh.conf.set("spark.graft.sketchPath", path)
    try {
      // q28's store-served estimates are register-identical (HLL union
      // is a register max), so the verdict rows match exactly; q29's
      // sketches are randomized but the verdict rows carry only exact
      // counts + the rank-bound flag, which must hold either way
      assert(rows(Analytics.q28HllRollup(fresh, sf0001)) == derived28,
        "store-served q28 diverged from the derive path")
      assert(rows(Analytics.q29KllRollup(fresh, sf0001)) == derived29,
        "store-served q29 diverged from the derive path")
    } finally fresh.conf.unset("spark.graft.sketchPath")
  }

  test("q28/q29 CONSUME the store: a week dropped from the warehouse vanishes from the rollups") {
    val tmp = tempDir("graft_sketch_").toString
    val path = s"$tmp/sketches"
    Analytics.persistSketchDaily(spark, sf0001, path)
    val n28 = Analytics.q28HllRollup(spark, sf0001).count()
    val n29 = Analytics.q29KllRollup(spark, sf0001).count()
    val wk0 = spark.read.parquet(path).agg(min(col("wk"))).collect()(0).getString(0)
    Artifacts.writeStamped(spark,
      spark.read.parquet(path).filter(col("wk") =!= wk0), s"$tmp/doctored",
      "sketch_daily", Map("max_day" -> Artifacts.readProps(spark, path)("max_day")))
    val fresh = spark.newSession()
    fresh.conf.set("spark.graft.sketchPath", s"$tmp/doctored")
    try {
      // q28 loses the dropped week's row; q29 loses its 3 percentile rows
      // — a re-derive would restore both
      assert(Analytics.q28HllRollup(fresh, sf0001).count() == n28 - 1,
        "q28 re-derived instead of consuming the doctored store")
      assert(Analytics.q29KllRollup(fresh, sf0001).count() == n29 - 3,
        "q29 re-derived instead of consuming the doctored store")
    } finally fresh.conf.unset("spark.graft.sketchPath")
  }

  test("sketch-store stamp validation: wrong artifact and missing path fail loudly") {
    val tmp = tempDir("graft_sketch_").toString
    PipelineOps.persistStickySplits(spark, sf0001, s"$tmp/sticky")
    val fresh = spark.newSession()
    fresh.conf.set("spark.graft.sketchPath", s"$tmp/sticky")
    try {
      val wrong = intercept[IllegalArgumentException] {
        Analytics.q28HllRollup(fresh, sf0001).collect()
      }
      assert(wrong.getMessage.contains("x68_sticky") &&
        wrong.getMessage.contains("sketch_daily"), wrong.getMessage)
      fresh.conf.set("spark.graft.sketchPath", s"$tmp/does_not_exist")
      val missing = intercept[IllegalArgumentException] {
        Analytics.q29KllRollup(fresh, sf0001).collect()
      }
      assert(missing.getMessage.contains("_graft_meta"), missing.getMessage)
    } finally fresh.conf.unset("spark.graft.sketchPath")
  }

  test("x74/x77 audit the sketch warehouse: fresh reads fresh, a stale log head is flagged") {
    val tmp = tempDir("graft_sketch_").toString
    Analytics.persistSketchDaily(spark, sf0001, s"$tmp/sketches")
    val fresh = spark.newSession()
    fresh.conf.set("spark.graft.sketchPath", s"$tmp/sketches")
    try {
      val ok = Audit.x74ArtifactFreshness(fresh, sf0001).collect()
        .find(_.getString(0) == "sketch_daily").get
      assert(ok.getLong(7) == 1L && ok.getLong(4) > 0L,
        s"fresh sketch store flagged stale: $ok")
      val co = Audit.x77StoreCoherence(fresh, sf0001).collect()
        .find(_.getString(0) == "sketches_match_events").get
      assert(co.getLong(5) == 1L, s"fresh store must cohere with the log head: $co")
      // stale: the same table stamped at an older log head with a day
      // dropped — both magnitude columns must quantify it
      val store = spark.read.parquet(s"$tmp/sketches")
      val mxd = Artifacts.readProps(spark, s"$tmp/sketches")("max_day").toLong
      val lastDay = store.agg(max(col("d"))).collect()(0).getDate(0)
      Artifacts.writeStamped(spark, store.filter(col("d") =!= lit(lastDay)),
        s"$tmp/stale", "sketch_daily", Map("max_day" -> (mxd - 1).toString))
      fresh.conf.set("spark.graft.sketchPath", s"$tmp/stale")
      val bad = Audit.x74ArtifactFreshness(fresh, sf0001).collect()
        .find(_.getString(0) == "sketch_daily").get
      assert(bad.getLong(7) == 0L && bad.getLong(3) == 1L && bad.getLong(6) == 1L,
        s"stale sketch store not flagged with magnitudes: $bad")
      val coBad = Audit.x77StoreCoherence(fresh, sf0001).collect()
        .find(_.getString(0) == "sketches_match_events").get
      assert(coBad.getLong(5) == 0L, s"stale log head must break coherence: $coBad")
    } finally fresh.conf.unset("spark.graft.sketchPath")
  }
}
