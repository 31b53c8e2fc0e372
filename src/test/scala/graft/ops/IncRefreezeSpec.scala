package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkTestBase

/** Incremental band-index re-freeze (r19): the merge engines'
  * exactness properties on adversarial synthetic lattices, the
  * grown-corpus production cadence end to end (incremental persist ≡
  * full persist, file-level), the x78 proof rows, and the loud
  * failure modes (in-place overwrite, backwards boundary, remap
  * coverage). The defect class under test: a re-freeze that re-bands
  * full history is the last superlinear freeze line (store:persist
  * grew 2.61× per 4× data in r18) — but an incremental merge that is
  * CHEAPER and WRONG (resurrected over-cap buckets, stale label names
  * after a cluster merge) silently reshapes serving decisions, so
  * every cheap path here is pinned equal to its expensive twin. */
class IncRefreezeSpec extends SparkTestBase {

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  private def bandsOf(rws: Seq[(Long, Long, Long)]): DataFrame = {
    val s = spark
    import s.implicits._
    rws.toDF("doc_id", "band", "h")
  }

  test("mergeRouteIndex: occupancies add, bits OR, and a cap-crossing bucket tombstones") {
    val s = spark
    import s.implicits._
    val cap = 50
    // bucket (0,1): 30 old + 30 delta = 60 > cap → must tombstone;
    // bucket (0,2): 2 old + 1 delta = 3 → bits OR across generations
    val oldBands = bandsOf((1L to 30L).map(d => (d, 0L, 1L)) ++ Seq((1L, 0L, 2L), (2L, 0L, 2L)))
    val deltaBands = bandsOf((31L to 60L).map(d => (d, 0L, 1L)) :+ ((61L, 0L, 2L)))
    val oldSplits = (1L to 30L).map(d => (d, "train")).toDF("doc_id", "split")
    val deltaSplits = ((31L to 60L).map(d => (d, "val")) :+ ((61L, "test")))
      .toDF("doc_id", "split")
    val allSplits = oldSplits.unionByName(deltaSplits)
    val inc = PipelineOps.mergeRouteIndex(
      PipelineOps.routeIndexOn(oldBands, oldSplits), deltaBands, deltaSplits)
    val full = PipelineOps.routeIndexOn(oldBands.unionByName(deltaBands), allSplits)
    assert(rows(inc) == rows(full), "incremental route merge diverged from full rebuild")
    val got = inc.collect().map(r => r.getLong(1) ->
      ((r.getLong(2), if (r.isNullAt(3)) -1L else r.getLong(3)))).toMap // keyed by h (band=0)
    assert(got(1L) == (60L, -1L), s"cap-crossing bucket must tombstone: $got")
    assert(got(2L) == (3L, 1L | 4L), s"bits must OR across generations: $got")
    assert(cap == TextOps.x13BandDfCap, "test geometry assumes the shared cap")
  }

  test("mergeLabelIndex: label SETS remap through cluster merges where a min-only remap would lie") {
    val s = spark
    import s.implicits._
    // old seed: clusters {5,6}→5 and {7,8}→7; the new generation merges
    // {7,8} with an OLDER cluster {1,2} (label 1), so old label 7
    // renames to 1 — the bucket's min flips from 5 to 1, which a
    // min-only stored payload could not reproduce (remap(min=5)=5≠1)
    val oldBands = bandsOf(Seq((5L, 0L, 9L), (7L, 0L, 9L)))
    val deltaBands = bandsOf(Seq((100L, 1L, 3L)))
    val oldSeed = Seq((5L, 5L), (6L, 5L), (7L, 7L), (8L, 7L)).toDF("doc_id", "cluster_id")
    val newSeed = Seq((1L, 1L), (2L, 1L), (5L, 5L), (6L, 5L), (7L, 1L), (8L, 1L),
      (100L, 1L)).toDF("doc_id", "cluster_id")
    val renameTo = newSeed.select(col("doc_id").as("lab"), col("cluster_id").as("new_lab"))
    val inc = PipelineOps.mergeLabelIndex(
      PipelineOps.labelIndexOn(oldBands, oldSeed), deltaBands,
      newSeed.filter(col("doc_id") === 100L), renameTo)
    val full = PipelineOps.labelIndexOn(oldBands.unionByName(deltaBands), newSeed)
    assert(rows(inc) == rows(full), "incremental label merge diverged from full rebuild")
    val bucket = inc.filter(col("h") === 9L).collect()(0)
    assert(bucket.getAs[scala.collection.Seq[Long]]("labs").toSeq == Seq(1L, 5L),
      s"renamed label set must read [1, 5] after the merge: $bucket")
  }

  test("x78 on sf0.001: incremental ≡ full rebuild for both indexes, stored and served") {
    val got = PipelineOps.x78IndexRefreeze(spark, sf0001).collect()
    assert(got.length == 4, s"expected 4 (index, form) rows: ${got.mkString(", ")}")
    got.foreach { r =>
      assert(r.getLong(4) == 0L && r.getLong(5) == 1L,
        s"incremental/full divergence: $r")
      assert(r.getLong(2) > 0L && r.getLong(2) == r.getLong(3),
        s"both paths must build the same non-empty index: $r")
    }
  }

  test("production cadence on a grown corpus: incremental persists equal full persists file-for-file") {
    val tmp = tempDir("graft_increfreeze_").toString
    val full = graft.model.Tables.documents(spark, sf0001)
    val mxFull = full.agg(max(col("doc_id"))).collect()(0).getLong(0)
    val cutoff = Math.floorDiv(9L * mxFull, 10L) // gen-B boundary on the full corpus
    val oldDir = s"$tmp/corpus0"
    full.filter(col("doc_id") <= cutoff).write.parquet(s"$oldDir/documents.parquet")
    val thrA = Math.floorDiv(9L * cutoff, 10L) // gen-A boundary on the old installment

    // GENERATION A: freeze sticky + both indexes on the old installment
    PipelineOps.persistStickySplits(spark, oldDir, s"$tmp/stickyA")
    PipelineOps.persistRouteIndex(spark, oldDir, s"$tmp/routeA")
    PipelineOps.persistLabelIndex(spark, oldDir, s"$tmp/labelA")
    assert(Artifacts.readProps(spark, s"$tmp/stickyA")("thr").toLong == thrA)

    // GENERATION B, incremental: roll sticky forward, then re-freeze the
    // indexes banding ONLY the (thrA, cutoff] arrivals
    val s2 = spark.newSession()
    PipelineOps.persistStickySplitsIncremental(s2, sf0001, s"$tmp/stickyB", s"$tmp/stickyA")
    val stB = Artifacts.readProps(spark, s"$tmp/stickyB")
    assert(stB("thr").toLong == cutoff && stB("merged_from_thr").toLong == thrA,
      s"rolled sticky stamp must carry both boundaries: $stB")
    // stickiness: every gen-A doc keeps its split verbatim in gen B
    val a = spark.read.parquet(s"$tmp/stickyA")
    val b = spark.read.parquet(s"$tmp/stickyB")
    assert(b.join(a.withColumnRenamed("split_old", "old"), "doc_id")
      .filter(col("split_old") =!= col("old")).count() == 0L,
      "a held doc migrated across the sticky roll-forward")
    s2.conf.set("spark.graft.stickyPath", s"$tmp/stickyB")
    try {
      PipelineOps.persistRouteIndexIncremental(s2, sf0001, s"$tmp/routeB", s"$tmp/routeA")
      PipelineOps.persistLabelIndexIncremental(s2, sf0001, s"$tmp/labelB", s"$tmp/labelA")
      // GENERATION B, full rebuild (the expensive twin): same sticky
      // generation, whole corpus re-banded
      PipelineOps.persistRouteIndex(s2, sf0001, s"$tmp/routeFull")
      PipelineOps.persistLabelIndex(s2, sf0001, s"$tmp/labelFull")
      assert(rows(spark.read.parquet(s"$tmp/routeB")) ==
        rows(spark.read.parquet(s"$tmp/routeFull")),
        "incremental route-index persist diverged from the full rebuild")
      assert(rows(spark.read.parquet(s"$tmp/labelB")) ==
        rows(spark.read.parquet(s"$tmp/labelFull")),
        "incremental label-index persist diverged from the full rebuild")
      val rp = Artifacts.readProps(spark, s"$tmp/routeB")
      assert(rp("thr").toLong == cutoff && rp("merged_from_thr").toLong == thrA,
        s"re-frozen index stamp must carry both boundaries: $rp")
    } finally s2.conf.unset("spark.graft.stickyPath")
  }

  test("loud failure modes: in-place overwrite, backwards boundary, remap coverage") {
    val tmp = tempDir("graft_increfreeze_").toString
    PipelineOps.persistRouteIndex(spark, sf0001, s"$tmp/route")
    PipelineOps.persistLabelIndex(spark, sf0001, s"$tmp/label")
    // in-place: the read plan would consume files the write deletes
    val inPlace = intercept[IllegalArgumentException] {
      PipelineOps.persistRouteIndexIncremental(spark, sf0001, s"$tmp/route/", s"$tmp/route")
    }
    assert(inPlace.getMessage.contains("in-place"), inPlace.getMessage)
    // backwards: an index frozen at the full corpus boundary cannot fold
    // into an OLDER installment
    val full = graft.model.Tables.documents(spark, sf0001)
    val mxFull = full.agg(max(col("doc_id"))).collect()(0).getLong(0)
    val cutoff = Math.floorDiv(9L * mxFull, 10L)
    val oldDir = s"$tmp/corpus0"
    full.filter(col("doc_id") <= cutoff).write.parquet(s"$oldDir/documents.parquet")
    val back = intercept[IllegalArgumentException] {
      PipelineOps.persistRouteIndexIncremental(spark, oldDir, s"$tmp/routeBack", s"$tmp/route")
    }
    assert(back.getMessage.contains("behind"), back.getMessage)
    // remap coverage: a stored label absent from the current seed names
    // a different corpus — must refuse, not silently drop the label
    val doctored = spark.read.parquet(s"$tmp/label")
      .withColumn("labs", when(col("labs").isNotNull,
        array_union(col("labs"), array(lit(999999999L)))).otherwise(col("labs"))) // bogus label
    Artifacts.writeStamped(spark, doctored, s"$tmp/labelBogus", "s21_index",
      Map("thr" -> Artifacts.readProps(spark, s"$tmp/label")("thr")))
    val remap = intercept[IllegalArgumentException] {
      PipelineOps.persistLabelIndexIncremental(spark, sf0001, s"$tmp/labelB", s"$tmp/labelBogus")
    }
    assert(remap.getMessage.contains("absent from the current seed"), remap.getMessage)
  }
}
