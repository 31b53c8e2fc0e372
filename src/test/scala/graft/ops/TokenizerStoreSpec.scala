package graft.ops

import org.apache.spark.sql.functions.col
import graft.SparkTestBase

/** The fifth stamped store — the shipped tokenizer
  * ([[TextOps.persistMerges]] + `spark.graft.mergesPath`): round-trip,
  * doctored-consumption, wrong-artifact, and loud-on-missing, the
  * SplitStableSpec idiom applied to the merge table. The defect class
  * under test: a drift monitor (s17) or encoder (x67b) re-deriving its
  * model per session can silently run the WRONG tokenizer after any
  * trainer retune; the store makes the model an explicit artifact. */
class TokenizerStoreSpec extends SparkTestBase {

  private def mergeRows(df: org.apache.spark.sql.DataFrame): Seq[(Long, String, String, Long)] =
    df.orderBy("round").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq

  test("persisted tokenizer: a fresh session serves the stored model to s17Merges and x67b") {
    val tmp = tempDir("graft_merges_").toString
    val path = s"$tmp/merges"
    TextOps.persistMerges(spark, sf0001, path)
    // the stamp records the freeze parameters for auditors
    val props = Artifacts.readProps(spark, path)
    assert(props("rounds") == "6" && props("thr").toLong > 0L, props.toString)
    val derived = mergeRows(TextOps.frozenWordTypeMerges(spark, sf0001)._2)
    assert(derived.nonEmpty)
    val fresh = spark.newSession()
    fresh.conf.set("spark.graft.mergesPath", path)
    try {
      // s17's frozen model IS the stored table (deterministic trainer,
      // so the round trip is observationally exact)
      assert(mergeRows(Stages.s17Merges(fresh, sf0001)) == derived)
      // x67b store-served = the char-level word-type replay of the
      // SHIPPED model, computed here directly from the store
      val want = TextOps.bpeApplyCounts(
          graft.model.Tables.documents(fresh, sf0001),
          derived.map(m => (m._2, m._3)),
          TextOps.charSeqCol(col("text")))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      val got = TextOps.x67bBpeFrozen(fresh, sf0001)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      assert(got == want)
      // the replay actually compresses something (n_bpe < n_tok somewhere)
      assert(got.exists(r => r._3 < r._2), "stored model merged nothing")
      // x67 (the SESSION-TRAINED encode) must IGNORE the store: its
      // registered oracle is token-level, so a configured store changing
      // its output would break the correctness gate on a fresh store —
      // the r17 ADVICE defect this split fixes
      val x67With = TextOps.x67BpeApply(fresh, sf0001)
        .collect().map(_.toString).toSeq
      val x67Without = TextOps.x67BpeApply(spark, sf0001)
        .collect().map(_.toString).toSeq
      assert(x67With == x67Without,
        "x67 must be store-blind (x67b is the store-served encode)")
    } finally fresh.conf.unset("spark.graft.mergesPath")
  }

  test("x67b CONSUMES the stored model: a doctored merge table is replayed, not re-derived") {
    val tmp = tempDir("graft_merges_").toString
    val s = spark
    import s.implicits._
    val derived = mergeRows(TextOps.frozenWordTypeMerges(spark, sf0001)._2)
    // doctor round 1: replace the argmax pair with a pair that never
    // occurs (underscore never appears in corpus tokens), neutering it —
    // a re-derive would restore the true argmax
    val doctored = derived.zipWithIndex.map { case ((rnd, l, r, n), i) =>
      if (i == 0) (rnd, "__never", "__seen", n) else (rnd, l, r, n)
    }
    val doctoredPath = s"$tmp/doctored"
    Artifacts.writeStamped(s,
      doctored.toDF("round", "l", "r", "n_pair"), doctoredPath, "x62b_merges")
    val fresh = spark.newSession()
    fresh.conf.set("spark.graft.mergesPath", doctoredPath)
    try {
      assert(mergeRows(Stages.s17Merges(fresh, sf0001)) == doctored,
        "s17Merges re-derived instead of consuming the store")
      val want = TextOps.bpeApplyCounts(
          graft.model.Tables.documents(fresh, sf0001),
          doctored.map(m => (m._2, m._3)),
          TextOps.charSeqCol(col("text")))
        .collect().map(r => (r.getLong(0), r.getLong(2))).toSeq
      val got = TextOps.x67bBpeFrozen(fresh, sf0001)
        .collect().map(r => (r.getLong(0), r.getLong(2))).toSeq
      assert(got == want, "x67b re-derived instead of consuming the stored model")
    } finally fresh.conf.unset("spark.graft.mergesPath")
  }

  test("merges stamp validation: wrong artifact and missing path fail loudly") {
    val tmp = tempDir("graft_merges_").toString
    // the configured path holds a DIFFERENT stamped artifact
    PipelineOps.persistStickySplits(spark, sf0001, s"$tmp/sticky")
    val fresh = spark.newSession()
    fresh.conf.set("spark.graft.mergesPath", s"$tmp/sticky")
    try {
      val wrong = intercept[IllegalArgumentException] {
        Stages.s17Merges(fresh, sf0001).collect()
      }
      assert(wrong.getMessage.contains("x68_sticky") &&
        wrong.getMessage.contains("x62b_merges"), wrong.getMessage)
      fresh.conf.set("spark.graft.mergesPath", s"$tmp/does_not_exist")
      val missing = intercept[IllegalArgumentException] {
        TextOps.x67bBpeFrozen(fresh, sf0001).collect()
      }
      assert(missing.getMessage.contains("_graft_meta"), missing.getMessage)
    } finally fresh.conf.unset("spark.graft.mergesPath")
  }
}
