package graft.ops

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.apache.spark.sql.functions._
import graft.SparkTestBase

/** Property tests for the round-3 pipeline cores: x26's winnowing
  * selection (the MOSS coverage guarantee) and x31's per-writer packing
  * prefix sums — both run on ARBITRARY generated corpora, not just the
  * driver fixtures. */
class PipelinePropertySpec extends SparkTestBase {

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def sample[A](g: Gen[A], seed: Long): A =
    graft.SparkTestBase.sampleGen(g, seed)

  test("bpeTrainSeqs == reference trainer on random weighted corpora at every checkpoint cadence") {
    val s = spark
    import s.implicits._
    // tiny alphabet forces merge collisions and ties (the (n DESC, l, r)
    // tiebreak path); zero-length words exercise the <2-unit guard; the
    // weights exercise the weighted argmax x62b relies on
    val corpusGen = Gen.listOfN(12, Gen.zip(
      Gen.choose(0, 6).flatMap(n => Gen.listOfN(n, Gen.oneOf("a", "b", "c"))),
      Gen.choose(1L, 9L)))
    def reference(seqs0: Seq[(Vector[String], Long)], rounds: Int)
        : Seq[(Long, String, String, Long)] = {
      var seqs = seqs0
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
      var round = 1
      var exhausted = false
      while (round <= rounds && !exhausted) {
        val counts = scala.collection.mutable.Map.empty[(String, String), Long]
        seqs.foreach { case (w, n) =>
          w.indices.dropRight(1).foreach { i =>
            counts((w(i), w(i + 1))) = counts.getOrElse((w(i), w(i + 1)), 0L) + n
          }
        }
        if (counts.isEmpty) exhausted = true
        else {
          val ((l, r), n) = counts.minBy { case ((l, r), n) => (-n, l, r) }
          out += ((round.toLong, l, r, n))
          seqs = seqs.map { case (w, nw) =>
            val b = Vector.newBuilder[String]
            var i = 0
            while (i < w.length) {
              if (i + 1 < w.length && w(i) == l && w(i + 1) == r) { b += s"${l}_$r"; i += 2 }
              else { b += w(i); i += 1 }
            }
            (b.result(), nw)
          }
        }
        round += 1
      }
      out.toSeq
    }
    for (seed <- 1L to 6L) {
      val corpus = sample(corpusGen, 500L + seed)
        .map { case (w, n) => (w.toVector, n) }
      val expect = reference(corpus, rounds = 5)
      val seqsDf = corpus.map { case (w, n) =>
        (" " + w.mkString("  ") + " ", n) }.toDF("s", "freq")
      Seq(1, 2, 8).foreach { cp =>
        val got = TextOps.bpeTrainSeqs(s, seqsDf, rounds = 5, checkpointEvery = cp)
          .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
        assert(got == expect,
          s"seed $seed checkpointEvery $cp:\n got $got\n exp $expect\n corpus $corpus")
      }
    }
  }

  test("bpeTrainSeqs releases every checkpoint's blocks at the RDD layer") {
    val s = spark
    import s.implicits._
    val before = s.sparkContext.getPersistentRDDs.keySet
    val seqs = Seq.fill(40)((" a  b  a  b  c ", 2L)).toDF("s", "freq")
    // checkpointEvery=1 rolls a checkpoint per accepted merge — the
    // deep-vocab regime the r15 ADVICE flagged: Dataset.unpersist is a
    // no-op on checkpoint blocks, so without the RDD-layer release this
    // run would leave one pinned block set per round
    TextOps.bpeTrainSeqs(s, seqs, rounds = 4, checkpointEvery = 1).collect()
    val pinned = s.sparkContext.getPersistentRDDs.keySet -- before
    assert(pinned.isEmpty,
      s"bpeTrainSeqs left ${pinned.size} checkpointed RDDs pinned after training")
  }

  test("charSeqCol: rendering matches the reference and merges never cross word boundaries") {
    val s = spark
    import s.implicits._
    // adversarial shapes the corpus never exercises: empty words (from
    // double spaces), leading/trailing spaces, single-char words, and a
    // tiny alphabet so ' l  r ' merge patterns straddle word boundaries
    // IF the 3-space isolation ever broke
    val docGen = Gen.listOfN(40, Gen.choose(0, 5).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("", "a", "b", "ab", "ba", "aab"))))
    def renderRef(words: Seq[String]): String =
      " " + words.filter(_.nonEmpty)
        .map(w => w.split("").mkString("  ")).mkString("   ") + " "
    for (seed <- 1L to 6L) {
      val docs = sample(docGen, 300L + seed).zipWithIndex
        .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }
      val rendered = docs.toDF("doc_id", "text")
        .select(col("doc_id"), TextOps.charSeqCol(col("text")).as("s"))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      docs.foreach { case (id, text) =>
        val want = renderRef(text.split(" ").toSeq)
        assert(rendered(id) == want, s"seed $seed doc $id [$text]: '${rendered(id)}' != '$want'")
      }
      // boundary isolation: replaying the merge (a, b) must count only
      // WITHIN-word greedy non-overlapping 'a b' adjacencies — a match
      // across the 3-space word boundary would inflate the count
      def mergedCountRef(words: Seq[String]): Int =
        words.filter(_.nonEmpty).map { w =>
          val cs = w.split("")
          var i = 0; var n = 0
          while (i < cs.length) {
            if (i + 1 < cs.length && cs(i) == "a" && cs(i + 1) == "b") { n += 1; i += 2 }
            else i += 1
          }
          n
        }.sum
      val counted = docs.toDF("doc_id", "text")
        .select(col("doc_id"), TextOps.charSeqCol(col("text")).as("s"))
        .select(col("doc_id"),
          size(split(trim(col("s")), "  ")).as("n0"),
          size(split(trim(replace(col("s"), lit(" a  b "), lit(" a_b "))), "  ")).as("n1"))
        .collect().map(r => r.getLong(0) -> (r.getInt(1) - r.getInt(2))).toMap
      docs.foreach { case (id, text) =>
        val words = text.split(" ").toSeq
        if (words.exists(_.nonEmpty))
          assert(counted(id) == mergedCountRef(words),
            s"seed $seed doc $id [$text]: merge count ${counted(id)} != ${mergedCountRef(words)}")
      }
    }
    // the degenerate-doc convention (charSeqCol scaladoc): no non-empty
    // words → rendering '  ', n_tok = 1 (NOT 0 — the 1-token floor keeps
    // s17's fdiv(1000·n_bpe, n_tok) ratio total), and no merge applies
    val degenerate = Seq((0L, ""), (1L, " "), (2L, "   ")).toDF("doc_id", "text")
      .select(col("doc_id"), TextOps.charSeqCol(col("text")).as("s"))
      .select(col("doc_id"), col("s"),
        size(split(trim(col("s")), "  ")).as("n_tok"),
        size(split(trim(replace(col("s"), lit(" a  b "), lit(" a_b "))), "  ")).as("n_bpe"))
      .collect()
    degenerate.foreach { r =>
      assert(r.getString(1) == "  ", s"doc ${r.getLong(0)}: rendering '${r.getString(1)}'")
      assert(r.getInt(2) == 1 && r.getInt(3) == 1,
        s"doc ${r.getLong(0)}: degenerate counts (${r.getInt(2)}, ${r.getInt(3)}) != (1, 1)")
    }
  }

  test("winnowing: selection equals brute force and every shingle window is covered") {
    val s = spark
    import s.implicits._
    // small alphabet forces hash ties inside windows (the leftmost-min
    // tiebreak path); lengths 0..24 cover the empty/short guards
    val docGen = Gen.listOfN(30,
      Gen.choose(0, 24).flatMap(n => Gen.listOfN(n, Gen.oneOf("a", "b", "c", "d"))))
    for (seed <- 1L to 8L) {
      val docs = sample(docGen, seed).zipWithIndex.map { case (w, i) => (i.toLong, w) }
      val got = docs.toDF("doc_id", "w")
        .select(col("doc_id"), Oracles.winnowShingles.as("sh"))
        .select(col("doc_id"), Oracles.winnowSelection.as("fps"))
        .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toVector).toMap
      docs.foreach { case (id, w) =>
        val sh = if (w.size >= 3) w.sliding(3).map(g => md5hex(g.mkString(" "))).toVector
                 else Vector.empty[String]
        val brute = if (sh.size >= 4) sh.sliding(4).map(win => win(win.indexOf(win.min))).toVector.distinct
                    else Vector.empty[String]
        assert(got(id) == brute, s"seed $seed doc $id (${w.size} toks): ${got(id)} != $brute")
        // the winnowing guarantee: every window of 4 consecutive shingles
        // contains at least one selected fingerprint
        if (sh.size >= 4) {
          val selected = got(id).toSet
          sh.sliding(4).zipWithIndex.foreach { case (win, i) =>
            assert(win.exists(selected), s"seed $seed doc $id: window $i uncovered")
          }
        }
      }
    }
  }

  test("budget select: two-level global prefix sum matches a sequential fold on arbitrary corpora") {
    val s = spark
    import s.implicits._
    // sparse doc_ids (empty range buckets), duplicate quality levels,
    // zero-token docs, budgets that land mid-bucket
    val rowGen = Gen.listOfN(150,
      Gen.zip(Gen.choose(0L, 5000L), Gen.choose(0L, 4L).map(_ * 25L), Gen.choose(0L, 40L)))
    for (seed <- 1L to 8L) {
      val rows = sample(rowGen, seed)
        .groupBy(_._1).map(_._2.head).toSeq // doc_id must be unique
        .map { case (d, q, t) => (d, q, t) }
      val budget = rows.map(_._3).sum / 2
      var cum = 0L
      val expect = rows.sortBy { case (d, q, _) => (-q, d) }.flatMap { case (d, q, t) =>
        cum += t
        if (cum <= budget) Some(d -> (q, t, cum)) else None
      }.toMap
      val got = PipelineOps.budgetSelectOn(rows.toDF("doc_id", "quality", "n_tok"))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
      assert(got == expect, s"seed $seed: missing=${expect.keySet -- got.keySet} " +
        s"extra=${got.keySet -- expect.keySet}")
    }
  }

  test("x70 temp mixture: two-level bucket draw matches a sequential fold on skewed corpora") {
    val s = spark
    import s.implicits._
    // lang heavily head-skewed (the exact shape the bucket decomposition
    // exists for), sparse 48-bit priorities including bucket-boundary
    // values, duplicate h48 (the doc_id tiebreak path)
    val rowGen = Gen.listOfN(220, Gen.zip(
      Gen.choose(0L, 9999L),
      Gen.frequency(8 -> Gen.const("en"), 1 -> Gen.oneOf("de", "fr", "ja")),
      Gen.oneOf(Gen.choose(0L, (1L << 48) - 1), Gen.choose(0L, 3L).map(_ << 43))))
    for (seed <- 1L to 6L) {
      val rows = sample(rowGen, 900L + seed)
        .groupBy(_._1).map(_._2.head).toSeq // doc_id must be unique
      val counts = rows.groupBy(_._2).view.mapValues(_.size.toLong).toMap
      val w = counts.view.mapValues(n => math.sqrt(n.toDouble).toLong).toMap
      val sw = w.values.sum
      val k = rows.size.toLong / 2
      val target = counts.map { case (l, n) => l -> math.min(n, k * w(l) / sw) }
      val expect = rows.groupBy(_._2).map { case (l, ds) =>
        val kept = ds.sortBy { case (d, _, h) => (h, d) }.take(target(l).toInt)
        l -> (counts(l), w(l), target(l), kept.size.toLong, kept.map(_._1).sum)
      }
      val got = PipelineOps.x70TempMixtureOn(rows.toDF("doc_id", "lang", "h48"))
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
      assert(got == expect, s"seed $seed:\n got $got\n exp $expect")
    }
  }

  test("packing: per-writer prefix sums match brute force on arbitrary corpora") {
    val s = spark
    import s.implicits._
    val rowGen = Gen.listOfN(200,
      Gen.zip(Gen.choose(0L, 50L), Gen.choose(0L, 3L)))
    for (seed <- 1L to 8L) {
      val rows = sample(rowGen, seed).zipWithIndex
        .map { case ((nTok, writer), i) => (i.toLong, nTok, writer) }
      val got = PipelineOps.packingOn(
          rows.toDF("doc_id", "n_tok", "writer"), budget = 64L)
        .collect().map(r => r.getLong(0) -> (r.getLong(3), r.getLong(4))).toMap
      rows.groupBy(_._3).foreach { case (_, ds) =>
        var cum = 0L
        ds.sortBy(_._1).foreach { case (id, nTok, _) =>
          assert(got(id) == (math.floorDiv(cum, 64L), math.floorMod(cum, 64L)),
            s"seed $seed doc $id: ${got(id)} vs cum=$cum")
          cum += nTok
        }
      }
    }
  }
}
