package graft.ops

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.SparkTestBase

/** Property test for x24's connected-components engine: for ANY random
  * graph, the distributed min-label fixpoint must produce exactly the
  * components a driver-side union-find produces (labels = min member id,
  * singletons label themselves). */
class ClusterPropertySpec extends SparkTestBase {

  private def edgeGen(n: Long): Gen[List[(Long, Long)]] =
    Gen.listOf(Gen.zip(Gen.choose(0L, n - 1), Gen.choose(0L, n - 1)))
      .map(_.collect { case (a, b) if a != b => (math.min(a, b), math.max(a, b)) })

  private def unionFind(n: Long, edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map((0L until n).map(i => i -> i): _*)
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    (0L until n).map(i => i -> find(i)).toMap
  }

  test("connectedComponents fails loudly when the iteration cap is hit") {
    val s = spark
    import s.implicits._
    // a 10-node chain has diameter 9: min-label needs ~9 rounds, so a cap
    // of 3 must abort with the documented error, never return a
    // half-converged labeling
    val nodes = (0L until 10L).toDF("doc_id")
    val chain = (0L until 9L).map(i => (i, i + 1)).toDF("d1", "d2")
    val e = intercept[IllegalArgumentException] {
      PipelineOps.connectedComponents(nodes, chain, maxIters = 3).collect()
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("connectedComponents collapses a 200-node chain (diameter 199) within the O(log n) cap") {
    val s = spark
    import s.implicits._
    // the shape the old min-label propagation priced at O(diameter)
    // rounds: a long path. The star contraction must label it with the
    // iteration budget of the LOG bound (16 ≫ log₂ 200 ≈ 7.6 alternating
    // rounds, ≪ the 199 rounds propagation would need)
    val n = 200L
    val nodes = (0L until n).toDF("doc_id")
    val chain = (0L until n - 1).map(i => (i, i + 1)).toDF("d1", "d2")
    val got = PipelineOps.connectedComponents(nodes, chain, maxIters = 16).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == (0L until n).map(_ -> 0L).toMap)
  }

  test("connectedComponents releases every superseded round's checkpoint blocks") {
    val s = spark
    import s.implicits._
    val before = s.sparkContext.getPersistentRDDs.keySet
    val nodes = (0L until 64L).toDF("doc_id")
    val chain = (0L until 63L).map(i => (i, i + 1)).toDF("d1", "d2")
    val labels = PipelineOps.connectedComponents(nodes, chain)
    labels.collect()
    val pinned = s.sparkContext.getPersistentRDDs.keySet -- before
    // multi-round run: only the FINAL star forest's checkpoint may stay
    // pinned (the result plan reads it); every superseded round must have
    // been released at the RDD layer — Dataset.unpersist would leave one
    // block set per round here
    assert(pinned.size <= 1,
      s"superseded star-contraction rounds left ${pinned.size} checkpointed RDDs pinned")
  }

  test("connectedComponents == union-find for 15 random graphs") {
    val s = spark
    import s.implicits._
    val n = 20L
    (1 to 15).foreach { i =>
      val edges = edgeGen(n)(Gen.Parameters.default, Seed(i.toLong)).getOrElse(Nil)
      val nodes = (0L until n).toDF("doc_id")
      val pairs = edges match {
        case Nil => Seq.empty[(Long, Long)].toDF("d1", "d2")
        case es => es.toDF("d1", "d2")
      }
      val got = PipelineOps.connectedComponents(nodes, pairs).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val expected = unionFind(n, edges)
      assert(got == expected, s"seed=$i edges=$edges")
    }
  }

  test("x75 incremental == direct full fixpoint on 12 random two-installment graphs") {
    // the contraction theorem under test: seeding from the history
    // labeling and contracting ONLY arrival-incident pairs must
    // reproduce the full fixpoint exactly — including merges an arrival
    // causes between two stored clusters (labels, unlike splits, may
    // merge; there is no quarantine)
    val s = spark
    import s.implicits._
    val n = 24L
    val thr = 17L
    (1 to 12).foreach { i =>
      val edges = edgeGen(n)(Gen.Parameters.default, Seed(500L + i)).getOrElse(Nil)
      val nodes = (0L until n).toDF("doc_id")
      val histEdges = edges.filter(e => e._1 <= thr && e._2 <= thr)
      val seed = unionFind(thr + 1, histEdges).toSeq.toDF("doc_id", "cluster_id")
      val arrPairs = edges.filter(e => e._1 > thr || e._2 > thr) match {
        case Nil => Seq.empty[(Long, Long)].toDF("d1", "d2")
        case es  => es.toDF("d1", "d2")
      }
      val got = PipelineOps.incLabelsOn(seed, nodes, arrPairs).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      val full = unionFind(n, edges)
      val hist = unionFind(thr + 1, histEdges)
      got.foreach { case (d, seedId, clusterId, changed) =>
        val wantSeed = if (d <= thr) hist(d) else d
        assert(seedId == wantSeed && clusterId == full(d) &&
          changed == (if (wantSeed == full(d)) 0L else 1L),
          s"seed=$i doc=$d got=($seedId,$clusterId,$changed) " +
            s"want=($wantSeed,${full(d)}) edges=$edges")
      }
      assert(got.map(_._1).toSeq == (0L until n), s"seed=$i row coverage")
    }
  }

  test("x75 serves a stamped labels store as its seed; missing max_id prop fails loudly") {
    val tmp = tempDir("graft_x75_").toString
    val sf = sf0001
    // the store a deployment would have written when the corpus WAS the
    // history slice: the in-session seed, stamped with its boundary
    val seed = Stages.x75Seed(spark, sf)
    val thr = graft.model.Tables.documents(spark, sf)
      .agg(graft.model.Tables.fdiv(
        org.apache.spark.sql.functions.lit(9L) *
          org.apache.spark.sql.functions.max(org.apache.spark.sql.functions.col("doc_id")),
        org.apache.spark.sql.functions.lit(10L))).collect()(0).getLong(0)
    Artifacts.writeStamped(spark, seed, s"$tmp/labels", "x24_labels",
      Map("max_id" -> thr.toString))
    val baseline = PipelineOps.x75IncLabels(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val fresh = spark.newSession()
    fresh.conf.set("spark.graft.labelsPath", s"$tmp/labels")
    try {
      val got = PipelineOps.x75IncLabels(fresh, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
      // deterministic seed ⇒ the store-served run is observationally
      // identical to the in-session derivation
      assert(got == baseline)
      // a labels store stamped WITHOUT the boundary prop cannot declare
      // what "arrived since" — x75 must refuse, not guess
      Artifacts.writeStamped(spark, seed, s"$tmp/noprop", "x24_labels")
      fresh.conf.set("spark.graft.labelsPath", s"$tmp/noprop")
      val e = intercept[IllegalArgumentException] {
        PipelineOps.x75IncLabels(fresh, sf).collect()
      }
      assert(e.getMessage.contains("max_id"), e.getMessage)
    } finally fresh.conf.unset("spark.graft.labelsPath")
  }
}
