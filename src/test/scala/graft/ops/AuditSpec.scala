package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkTestBase

/** x48 constraint audit: injected violations must be counted exactly,
  * the clean corpus must pass everything, and the row-level pass must
  * stay one scan per table. */
class AuditSpec extends SparkTestBase {
  import spark.implicits._

  test("x48: injected violations are counted exactly") {
    val df = Seq(
      (1L, Some(2.0), "ok"),
      (1L, None, "ok"),        // dup id + null value
      (2L, Some(-1.0), "bad"), // domain violation
      (3L, None, "ok")         // null value
    ).toDF("id", "value", "kind")
    val got = Audit.rowChecks(df, Seq(
        "value_complete" -> col("value").isNull,
        "kind_domain" -> !col("kind").isin("ok")),
        uniqueKey = Some("id_unique" -> col("id")))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got("value_complete") === ((4L, 2L)))
    assert(got("kind_domain") === ((4L, 1L)))
    assert(got("id_unique") === ((4L, 1L)))
  }

  test("x48: fk orphans come from one left-join pass, never a lookup") {
    val child = Seq((1L, "a"), (2L, "b"), (9L, "c"), (9L, "d")).toDF("k", "x")
    val parent = Seq((1L, "p"), (2L, "q"), (3L, "r")).toDF("pk", "y")
    val v = Audit.fkCheck("fk", child, "k", parent, "pk")
    val row = v.collect().head
    assert((row.getLong(1), row.getLong(2)) === ((4L, 2L)))
    val plan = v.queryExecution.executedPlan.toString
    assert(plan.contains("LeftOuter") && !plan.contains("CartesianProduct"), plan)
  }

  test("x48: the driver corpus passes every constraint") {
    val rows = Audit.x48ConstraintAudit(spark, sf001).collect()
    assert(rows.length === 9)
    assert(rows.forall(_.getLong(3) == 1L),
      rows.filter(_.getLong(3) == 0L).mkString(", "))
  }

  test("x50: each violation sets exactly its bit; dup ids flag every copy") {
    import spark.implicits._
    val dir = tempDir("graft_x50").toString
    val clean = (1 to 25).map(i => s"tok$i").mkString(" ")
    val big = "x" * 100001
    Seq(
      (1L, clean, "en", "s", clean.length.toLong),  // mask 0
      (2L, "", "en", "s", 0L),                      // empty text (+ short warn)
      (3L, clean, "en", "s", 999L),                 // n_chars drift
      (4L, clean, "", "s", clean.length.toLong),    // missing lang
      (5L, clean, "en", "", clean.length.toLong),   // missing source
      (6L, big, "en", "s", 100001L),                // oversize (1 token -> short warn)
      (7L, clean, "en", "s", clean.length.toLong),  // dup pair: both copies flag
      (7L, clean, "en", "s", clean.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val got = Audit.x50Quarantine(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.filter(_._1 == 1L).toSeq == Seq((1L, 0L, 0L, 0L, 0L)))
    assert(got.filter(_._1 == 2L).toSeq == Seq((2L, 1L, 1L, 1L, 1L)))
    // warn bit 1 reads the STORED n_chars (999 >= 400) — advisory bits
    // don't re-derive fields the hard bits already police
    assert(got.filter(_._1 == 3L).toSeq == Seq((3L, 2L, 1L, 1L, 2L)))
    assert(got.filter(_._1 == 4L).toSeq == Seq((4L, 4L, 1L, 1L, 0L)))
    assert(got.filter(_._1 == 5L).toSeq == Seq((5L, 8L, 1L, 1L, 0L)))
    // oversize doc is 1 token and > 400 chars: both warn bits
    assert(got.filter(_._1 == 6L).toSeq == Seq((6L, 16L, 1L, 1L, 3L)))
    assert(got.filter(_._1 == 7L).toSeq ==
      Seq((7L, 32L, 1L, 1L, 0L), (7L, 32L, 1L, 1L, 0L)))
  }

  test("x50: the driver corpus routes fully to the corpus side, warn bits vary") {
    val rows = Audit.x50Quarantine(spark, sf001).collect()
    assert(rows.length == 500)
    assert(rows.forall(r => r.getLong(1) == 0L && r.getLong(3) == 0L),
      "clean corpus must not quarantine")
    assert(rows.map(_.getLong(4)).distinct.length > 1,
      "warn mask must vary on the real corpus or the gate is vacuous")
  }

  test("x74: unconfigured audit covers every stamped artifact, all fresh") {
    val rows = Audit.x74ArtifactFreshness(spark, sf0001).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))).toMap
    // one row per Artifacts.versions key — a new store must add its row
    assert(rows.keySet == Artifacts.versions.keySet,
      s"audit rows ${rows.keySet} != stamped artifacts ${Artifacts.versions.keySet}")
    rows.foreach { case (a, (fb, cb, apf, sr, er, rd, fresh)) =>
      assert(fb == cb && apf == 0L && sr == er && rd == 0L && fresh == 1L,
        s"$a not fresh unconfigured: ${rows(a)}")
    }
    // the expected counts are the real artifact sizes: sticky rows
    val nHist = rows("x68_sticky")._5
    assert(nHist > 0L && nHist < rows("x24_labels")._5,
      s"history count $nHist vs docs ${rows("x24_labels")._5}")
    assert(rows("x62b_merges")._5 == TextOps.bpeRounds.toLong)
    // the band indexes audit boundary-only: no store, no rows to audit
    assert(rows("s18_index")._5 == 0L && rows("s21_index")._5 == 0L)
    assert(rows("s18_index")._1 == rows("x68_sticky")._1,
      "the route index freezes at the sticky boundary")
  }

  test("x74: a fresh configured store audits fresh; a stale one is flagged with its frozen boundary") {
    val tmp = tempDir("graft_x74_").toString
    // fresh store: persist on THIS corpus, configure, audit agrees
    PipelineOps.persistStickySplits(spark, sf0001, s"$tmp/sticky")
    val fresh = spark.newSession()
    fresh.conf.set("spark.graft.stickyPath", s"$tmp/sticky")
    try {
      val ok = Audit.x74ArtifactFreshness(fresh, sf0001).collect()
        .find(_.getString(0) == "x68_sticky").get
      assert(ok.getLong(7) == 1L, s"fresh store flagged stale: $ok")
      assert(ok.getLong(3) == 0L && ok.getLong(6) == 0L,
        s"fresh store must read zero staleness magnitude: $ok")
      // stale store: the same table frozen at an OLDER boundary (fewer
      // history docs) — the corpus has since grown past it
      val s = spark
      val sticky = s.read.parquet(s"$tmp/sticky")
      val staleThr = Audit.x74ArtifactFreshness(s, sf0001).collect()
        .find(_.getString(0) == "x68_sticky").get.getLong(2) / 2
      Artifacts.writeStamped(s, sticky.filter(col("doc_id") <= staleThr),
        s"$tmp/stale", "x68_sticky", Map("thr" -> staleThr.toString))
      fresh.conf.set("spark.graft.stickyPath", s"$tmp/stale")
      val bad = Audit.x74ArtifactFreshness(fresh, sf0001).collect()
        .find(_.getString(0) == "x68_sticky").get
      assert(bad.getLong(7) == 0L, s"stale store not flagged: $bad")
      assert(bad.getLong(1) == staleThr && bad.getLong(2) > staleThr,
        s"frozen/current boundaries wrong: $bad")
      assert(bad.getLong(4) < bad.getLong(5),
        s"stamped rows should trail the grown corpus: $bad")
      // the staleness MAGNITUDE columns quantify re-persist urgency:
      // arrivals past the freeze and the rows a fresh persist would add
      assert(bad.getLong(3) == bad.getLong(2) - bad.getLong(1) && bad.getLong(3) > 0L,
        s"arrivals_past_freeze must be current - frozen: $bad")
      assert(bad.getLong(6) == bad.getLong(5) - bad.getLong(4) && bad.getLong(6) > 0L,
        s"row_drift must be expected - stamped: $bad")
      // a stamp with NO freeze prop (an out-of-band writer) fails loudly
      Artifacts.writeStamped(s, sticky, s"$tmp/noprop", "x68_sticky")
      fresh.conf.set("spark.graft.stickyPath", s"$tmp/noprop")
      val e = intercept[IllegalArgumentException] {
        Audit.x74ArtifactFreshness(fresh, sf0001).collect()
      }
      assert(e.getMessage.contains("thr"), e.getMessage)
    } finally fresh.conf.unset("spark.graft.stickyPath")
  }

  test("x77: unconfigured coherence audit passes every cross-store constraint") {
    val rows = Audit.x77StoreCoherence(spark, sf0001).collect()
    assert(rows.length == 8, rows.mkString(", "))
    assert(rows.forall(_.getLong(5) == 1L),
      s"single-generation audit must pass everything: ${rows.mkString(", ")}")
    // boundary columns carry the real would-be values, not placeholders
    val m = rows.map(r => r.getString(0) -> (r.getLong(3), r.getLong(4))).toMap
    assert(m("route_index_matches_sticky")._1 == m("route_index_matches_sticky")._2)
    assert(m("labels_cover_history")._1 > m("labels_cover_history")._2,
      "max_id must exceed the 9/10 boundary on a real corpus")
    // the r19 row: the vector-lattice store audits against ITS axis head
    assert(m("ivf_index_matches_embeddings")._1 == m("ivf_index_matches_embeddings")._2 &&
      m("ivf_index_matches_embeddings")._1 > 0L,
      s"x57_index must appear in the coherence matrix: ${rows.mkString(", ")}")
  }

  test("x77: stores from different installments flip the named constraint") {
    val tmp = tempDir("graft_x77_").toString
    // the OLD installment: the corpus as of the current 9/10 boundary
    val full = graft.model.Tables.documents(spark, sf0001)
    val mx = full.agg(max(col("doc_id"))).collect()(0).getLong(0)
    val cutoff = Math.floorDiv(9L * mx, 10L)
    full.filter(col("doc_id") <= cutoff)
      .write.parquet(s"$tmp/corpus0/documents.parquet")
    // sticky frozen on the OLD installment, route index banded on the
    // CURRENT one — the exact mixed-generation deployment x77 exists to
    // refuse (x74 alone would only flag the sticky as stale)
    PipelineOps.persistStickySplits(spark, s"$tmp/corpus0", s"$tmp/sticky")
    PipelineOps.persistRouteIndex(spark, sf0001, s"$tmp/route_index")
    val fresh = spark.newSession()
    fresh.conf.set("spark.graft.stickyPath", s"$tmp/sticky")
    fresh.conf.set("spark.graft.routeIndexPath", s"$tmp/route_index")
    try {
      val rows = Audit.x77StoreCoherence(fresh, sf0001).collect()
        .map(r => r.getString(0) -> r).toMap
      val bad = rows("route_index_matches_sticky")
      assert(bad.getLong(5) == 0L, s"mixed generations not flagged: $bad")
      assert(bad.getLong(3) == cutoff && bad.getLong(4) == Math.floorDiv(9L * cutoff, 10L),
        s"boundary columns must name both generations: $bad")
      // the tokenizer/retrieval constraints compare against the STORED
      // sticky generation now — unconfigured would-be boundaries (thr of
      // the current corpus) no longer match it
      assert(rows("merges_match_sticky").getLong(5) == 0L,
        s"generation skew must propagate: ${rows("merges_match_sticky")}")
    } finally {
      fresh.conf.unset("spark.graft.stickyPath")
      fresh.conf.unset("spark.graft.routeIndexPath")
    }
  }

  test("x48: row-level checks share one scan per table") {
    // events contributes 4 constraints (3 row checks + uniqueness) but
    // must scan once; the whole audit reads its 3 tables + the fk parent
    val plan = Audit.x48ConstraintAudit(spark, sf001).queryExecution.optimizedPlan
    val scans = plan.collect {
      case r: org.apache.spark.sql.catalyst.plans.logical.LeafNode => r
    }
    // events ×1, lineitem ×2 (row checks + fk child), orders ×1, docs ×1
    // — relation reuse may dedupe further, never multiply
    assert(scans.length <= 5, s"${scans.length} leaf scans:\n$plan")
  }

  test("x48: the uniqueness count-distinct rides the sum aggregate without an Expand") {
    // the scaladoc claim, asserted: a single count-distinct alongside
    // plain sums plans as a two-phase distinct aggregate, not the
    // grouping-sets Expand that would multiply the scanned rows
    val exec = Audit.x48ConstraintAudit(spark, sf001).queryExecution.executedPlan.toString
    assert(!exec.contains("Expand"), s"unexpected Expand:\n$exec")
  }
}
