package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkTestBase

/** x49 exact set-similarity join: the prefix filter must be LOSSLESS —
  * byte-identical to the brute-force all-shared-gram join — on the
  * driver corpus, on adversarial boundary cases, and on randomized
  * synthetic corpora (the Bayardo/Xiao prefix lemma, tested rather than
  * trusted). */
class SetsimSpec extends SparkTestBase {
  import spark.implicits._

  private def gramFrame(docs: Seq[(Long, Seq[Long])]) =
    docs.flatMap { case (id, gs) => gs.map(g => (id, g, 0L)) }
      .toDF("doc_id", "h0", "h1")

  private def pairs(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => ((r.getLong(0), r.getLong(1)),
      (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap

  test("x49: prefix-filtered equals brute force on the driver corpus") {
    val filtered = TextOps.x49SetsimJoin(spark, sf001).collect()
    val brute = Oracles.x49Brute(spark, sf001).collect()
    assert(filtered.nonEmpty, "driver corpus has near-dup structure; empty means broken")
    assert(filtered.toSeq == brute.toSeq)
  }

  test("x49: exact tau boundary is admitted, just-below excluded") {
    // J = 3/5 exactly: |A|=3, |B|=5, inter=3 — also the length-filter
    // boundary (3·5 = 5·3); C overlaps A by 2 of 3 (J = 2/4 = 0.5 < τ)
    val g = gramFrame(Seq(
      1L -> Seq(10L, 11L, 12L),
      2L -> Seq(10L, 11L, 12L, 13L, 14L),
      3L -> Seq(10L, 11L, 99L)))
    val got = pairs(TextOps.x49On(g))
    assert(got.keySet == Set((1L, 2L)), s"got $got")
    assert(got((1L, 2L)) == ((3L, 3L, 5L, 6000L)))
    assert(pairs(Oracles.x49BruteOn(g)) == got)
  }

  test("x49: length filter alone never excludes a qualifying pair") {
    // sizes 3 vs 6 fail the length filter (3·6 > 5·3) — and indeed no
    // such pair can reach J ≥ 3/5 (max J = 3/6 = 0.5); the filtered and
    // brute forms must agree that the pair is absent
    val g = gramFrame(Seq(
      1L -> Seq(10L, 11L, 12L),
      2L -> Seq(10L, 11L, 12L, 13L, 14L, 15L)))
    assert(TextOps.x49On(g).collect().isEmpty)
    assert(Oracles.x49BruteOn(g).collect().isEmpty)
  }

  test("x49: identical and contained sets") {
    val g = gramFrame(Seq(
      1L -> Seq(1L, 2L, 3L, 4L),
      2L -> Seq(1L, 2L, 3L, 4L),   // identical: J = 1
      3L -> Seq(1L, 2L, 3L)))      // contained: J = 3/4 with both
    val got = pairs(TextOps.x49On(g))
    assert(got.keySet == Set((1L, 2L), (1L, 3L), (2L, 3L)), s"got $got")
    assert(got((1L, 2L)) == ((4L, 4L, 4L, 10000L)))
    assert(got((1L, 3L)) == ((3L, 4L, 3L, 7500L)))
    assert(pairs(Oracles.x49BruteOn(g)) == got)
  }

  test("x49: lossless on randomized synthetic corpora") {
    // 3 seeds × 40 docs drawing 3–15 grams from an 80-gram universe with
    // popularity skew (low gram ids drawn more often → realistic shared
    // boilerplate); every corpus must agree with brute force exactly
    Seq(7, 23, 101).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val docs = (0L until 40L).map { id =>
        val n = 3 + rnd.nextInt(13)
        // near-dup structure: every 4th doc mutates the previous doc's
        // grams instead of drawing fresh — guarantees pairs near τ
        id -> Seq.fill(n * 2)(math.min(
          rnd.nextInt(80), rnd.nextInt(80)).toLong).distinct.take(n)
      }
      val base = docs.toMap
      val mutated = docs.map { case (id, gs) =>
        if (id % 4 == 3) id -> (base(id - 1).dropRight(1) ++ gs.take(1)).distinct
        else id -> gs
      }
      val g = gramFrame(mutated)
      val got = pairs(TextOps.x49On(g))
      val want = pairs(Oracles.x49BruteOn(g))
      assert(got == want, s"seed $seed: filtered ${got.keySet} vs brute ${want.keySet}")
      assert(want.nonEmpty, s"seed $seed: corpus must actually contain qualifying pairs")
    }
  }

  test("x49: positional filter prunes candidates without losing a final pair") {
    // the A/B contract behind BenchScaling's count legs: positional
    // candidates are a SUBSET of the plain-prefix candidates, and every
    // emitted pair survives the positional filter (losslessness at the
    // candidate level — end-to-end parity is the brute-force suite)
    val g = {
      val rnd = new scala.util.Random(11)
      val docs = (0L until 60L).map { id =>
        val n = 3 + rnd.nextInt(13)
        id -> Seq.fill(n * 2)(math.min(rnd.nextInt(90), rnd.nextInt(90)).toLong).distinct.take(n)
      }
      val base = docs.toMap
      gramFrame(docs.map { case (id, gs) =>
        if (id % 3 == 2) id -> (base(id - 1).dropRight(1) ++ gs.take(1)).distinct else id -> gs
      })
    }
    val rk = TextOps.x49RankedOf(g).localCheckpoint(true)
    def keys(df: org.apache.spark.sql.DataFrame) =
      df.select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pos = keys(TextOps.x49Candidates(rk))
    val all = keys(TextOps.x49Candidates(rk, positional = false))
    val finalPairs = TextOps.x49On(g).select("d1", "d2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pos.subsetOf(all), s"positional must prune, not invent: ${pos -- all}")
    assert(finalPairs.subsetOf(pos), s"positional dropped real pairs: ${finalPairs -- pos}")
    assert(pos.size < all.size,
      s"positional filter pruned nothing on a skewed corpus (pos=${pos.size}, all=${all.size})")
  }

  test("x49: no cartesian product and candidates come from the prefix index") {
    val plan = TextOps.x49SetsimJoin(spark, sf0001).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }
}
