package graft.ops

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.sources.TestSinks
import graft.streaming.{WalRecord, Streams, TestSink}

/** Scale-technique evidence: salting, bucketed shuffle-free joins, and
  * streaming throughput vs the reference's serialized ceiling. */
class ScaleSpec extends SparkTestBase {

  test("q28: the sketch path partial-aggregates map-side (no raw-row funnel)") {
    // the 100 TB claim behind the rollup family: sketch buffers combine
    // BEFORE the shuffle, so each exchange carries one buffer per
    // (partition × group), never raw rows. TypedImperativeAggregates
    // plan as ObjectHashAggregate partial/final pairs — pin both the
    // operator and its partial mode on the daily-sketch stage
    val e = graft.model.Tables.events(spark, sf0001)
      .select(to_date(col("ts")).as("d"), col("user_id"))
    val plan = e.groupBy(col("d"))
      .agg(hll_sketch_agg(col("user_id")).as("sk"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), s"sketch agg not object-hash:\n$plan")
    assert(plan.contains("partial_hll_sketch_agg"),
      s"no map-side partial sketch aggregation:\n$plan")
    val theta = e.groupBy(col("d"))
      .agg(graft.functions.ThetaSketchAgg.thetaSketch(col("user_id")).as("sk"))
      .queryExecution.executedPlan.toString
    assert(theta.contains("partial_theta_sketch"),
      s"no map-side partial theta aggregation:\n$theta")
  }

  test("salted two-phase aggregate is exact under a hot key") {
    val s = spark
    import s.implicits._
    // 90% of rows on one hot key; salt from the unique id (deterministic,
    // retry-safe — see Skew scaladoc)
    val df = s.range(0, 100000)
      .select(col("id"),
        when(col("id") % 10 === 0, col("id") % 7).otherwise(0L).as("k"),
        lit(1.0).as("v"))
    val direct = df.groupBy("k").agg(sum("v").as("total"), count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet
    val salted = Skew.saltedSumCount(df, col("k"), col("v"), buckets = 8,
        saltFrom = Some(col("id")))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet
    assert(salted == direct)
  }

  test("q23: the salt reaches the phase-1 shuffle (registered skew query)") {
    // the registered query's physical plan must shuffle phase 1 on
    // (k, __salt) — a salt the optimizer folded away would silently
    // restore the hot-key funnel the operator exists to break
    val q = Skew.q23SkewAgg(spark, sf0001)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("__salt"), s"salt column missing from the physical plan:\n$plan")
    assert(q.collect().length == 3, "l_returnflag has 3 keys")
  }

  test("salted equi-join is exact under a hot key") {
    val s = spark
    import s.implicits._
    // 50% of left rows on key 1; right key unique
    val left = s.range(0, 20000)
      .select(col("id"), when(col("id") % 2 === 0, 1L).otherwise(col("id")).as("jk"))
    val right = s.range(0, 20000).select(col("id").as("rk"), (col("id") * 3).as("payload"))
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "rk", "payload").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val plain = norm(left.join(right, col("jk") === col("rk")))
    val salted = Skew.saltedEquiJoin(left, col("jk"), right, col("rk"),
      saltFrom = col("id"), buckets = 8)
    assert(norm(salted) == plain)
    // the salt must survive into the join keys, not fold away
    val plan = salted.queryExecution.executedPlan.toString
    assert(plan.contains("__salt"), s"salt missing from the join plan:\n$plan")
  }

  test("q24: split skew join equals the naive join; hot slice broadcasts, cold slice shuffles") {
    val split = Skew.q24SkewJoin(spark, sf0001)
    val naive = Skew.q24NaiveJoin(spark, sf0001)
    assert(split.collect().toSeq == naive.collect().toSeq)
    // at sf-test sizes AQE broadcasts the cold side too (orders fits the
    // threshold); disable auto-broadcast to see the 100 TB plan, where only
    // the operator's explicit hot-slice broadcast() hint survives
    val thresholdKey = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(thresholdKey)
    try {
      spark.conf.set(thresholdKey, "-1")
      val plan = Skew.q24SkewJoin(spark, sf0001).queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"),
        s"hot slice must join by broadcast:\n$plan")
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        s"cold slice must stay a shuffled join:\n$plan")
      assert(plan.contains("Union"), s"expected hot/cold union:\n$plan")
    } finally spark.conf.set(thresholdKey, prev)
  }

  test("split skew join ignores a hot NULL key (which would poison the isin branches)") {
    val s = spark
    import s.implicits._
    // 60% of left keys are null (far above hotShare); the rest are uniform
    val left = s.range(0, 1000)
      .select(col("id"), when(col("id") % 5 < 3, lit(null)).otherwise(col("id") % 100).as("jk"))
    val right = s.range(0, 100).select(col("id").as("rk"))
    val out = Skew.splitSkewJoin(left, "jk", right, "rk", hotShare = 0.05)
    val plain = left.join(right, col("jk") === col("rk"))
    assert(out.count() == plain.count() && out.count() == 400)
  }

  test("q24 hot-key stats are staged: fact side scanned once per session, stats reads hit the bounded stage") {
    Stages.clear()
    val stage1 = Stages.q24KeyStats(spark, sf0001)
    // the stage is a materialized artifact (LogicalRDD after checkpoint),
    // not a live parquet lineage — so the threshold/hot-key reads in
    // splitSkewJoin cannot re-scan lineitem
    assert(stage1.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr
    }.nonEmpty, "q24 key-stats stage must be materialized, not a parquet re-read")
    // BOUNDED: never corpus-keyed (the full key-count frame is)
    assert(stage1.count() <= 1000, "staged stats must be the bounded top-k form")
    // re-request serves the same frame: the stats pass ran once
    assert(Stages.q24KeyStats(spark, sf0001) eq stage1)
    // the registered query + audit twin consume the stage without adding entries
    val n = Stages.cachedEntryCount
    val fromStage = Skew.q24SkewJoin(spark, sf0001)
    Skew.q24SplitAudit(spark, sf0001)
    assert(Stages.cachedEntryCount == n, "q24 must reuse the staged key stats")
    // and the staged detection changes nothing about the answer
    assert(fromStage.collect().toSeq == Skew.q24NaiveJoin(spark, sf0001).collect().toSeq)
  }

  test("split skew join accepts precomputed stats — full and bounded shapes — and stays exact") {
    val s = spark
    import s.implicits._
    val left = s.range(0, 2000)
      .select(col("id"), when(col("id") % 2 === 0, 1L).otherwise(col("id")).as("jk"))
    val right = s.range(0, 2000).select(col("id").as("rk"), (col("id") * 3).as("payload"))
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "rk", "payload").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val plain = norm(left.join(right, col("jk") === col("rk")))
    assert(norm(Skew.splitSkewJoin(left, "jk", right, "rk", hotShare = 0.05,
      stats = Some(Skew.keyCounts(left, "jk")))) == plain)
    // bounded shape: cap far below the distinct-key count still detects
    // the hot key exactly (hotShare 0.05 >= 1/cap) and joins identically
    val bounded = Skew.hotKeyStats(left, "jk", cap = 20)
    assert(bounded.count() == 20 &&
      bounded.select(col("__t")).first().getLong(0) == 2000L)
    assert(norm(Skew.splitSkewJoin(left, "jk", right, "rk", hotShare = 0.05,
      stats = Some(bounded))) == plain)
    // empty left: no readable total — must degrade to the (empty) plain join
    val empty = left.filter(lit(false))
    assert(Skew.splitSkewJoin(empty, "jk", right, "rk").count() == 0)
    assert(Skew.splitSkewJoin(empty, "jk", right, "rk",
      stats = Some(Skew.keyCounts(empty, "jk"))).count() == 0)
    assert(Skew.splitSkewJoin(empty, "jk", right, "rk",
      stats = Some(Skew.hotKeyStats(empty, "jk", cap = 20))).count() == 0)
  }

  test("split skew join with no hot key degrades to the plain join") {
    val s = spark
    import s.implicits._
    val left = s.range(0, 1000).select(col("id"), (col("id") % 200).as("jk"))
    val right = s.range(0, 200).select(col("id").as("rk"))
    val out = Skew.splitSkewJoin(left, "jk", right, "rk", hotShare = 0.05)
    assert(out.count() == 1000)
    assert(!out.queryExecution.executedPlan.toString.contains("Union"),
      "uniform keys must not produce a hot/cold split")
  }

  test("property: both skew joins equal the plain join on arbitrary skewed corpora") {
    val s = spark
    import s.implicits._
    import org.scalacheck.Gen
    import graft.SparkTestBase.{sampleGen => sample}
    // left: mixture of one hot key, a uniform tail, and nulls; right:
    // 0..60 with 1-3 duplicate rows per key (multi-row matches exercise
    // the fan-out path both mitigations must preserve exactly)
    val rowGen = Gen.frequency(
      (5, Gen.const(Option(7L))),
      (4, Gen.choose(0L, 60L).map(Option(_))),
      (1, Gen.const(Option.empty[Long])))
    val leftGen = Gen.listOfN(800, rowGen)
    val dupGen = Gen.listOfN(61, Gen.choose(1, 3))
    for (seed <- 1L to 6L) {
      val left = sample(leftGen, seed).zipWithIndex
        .map { case (k, i) => (i.toLong, k) }.toDF("id", "jk")
      val right = sample(dupGen, seed + 100).zipWithIndex
        .flatMap { case (d, k) => (0 until d).map(j => (k.toLong, k * 10L + j)) }
        .toDF("rk", "payload")
      def norm(df: org.apache.spark.sql.DataFrame) =
        df.select("id", "rk", "payload").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
      val plain = norm(left.join(right, col("jk") === col("rk")))
      val hotShare = Seq(0.01, 0.05, 0.3)(seed.toInt % 3)
      assert(norm(Skew.splitSkewJoin(left, "jk", right, "rk", hotShare)) == plain,
        s"split != plain at seed $seed hotShare $hotShare")
      val buckets = Seq(2, 5, 16)(seed.toInt % 3)
      assert(norm(Skew.saltedEquiJoin(left, col("jk"), right, col("rk"),
        saltFrom = col("id"), buckets = buckets)) == plain,
        s"salted != plain at seed $seed buckets $buckets")
      // the hot-scoped variant (r20): same meet-exactly-once contract
      // with the replication confined to the hot key — including the
      // degenerate scopings (predicate never / always-on-non-null true)
      def hotOf(k: org.apache.spark.sql.Column) = (seed.toInt % 3) match {
        case 0 => k === 7L       // the actual hot key
        case 1 => k === -1L      // never hot
        case _ => k.isNotNull    // everything non-null hot
      }
      assert(norm(Skew.saltedEquiJoinHot(left, col("jk"), right, col("rk"), hotOf,
        saltFrom = col("id"), buckets = buckets)) == plain,
        s"hot-scoped salted != plain at seed $seed buckets $buckets")
    }
  }

  test("q25: the many-right-rows hot-key twins all agree (saltedEquiJoin's niche shape)") {
    // key 1 owns ~25% of left rows AND ~10% of right rows — the product
    // fan-out both mitigations must preserve exactly
    val naive = Skew.q25NaiveJoin(spark, sf0001).collect().toSeq
    assert(naive.nonEmpty)
    assert(Skew.q25SaltedAudit(spark, sf0001).collect().toSeq == naive)
    assert(Skew.q25SplitAudit(spark, sf0001).collect().toSeq == naive)
  }

  test("q25_salted_join (registered) salts the join and equals its unsalted twin") {
    val reg = Skew.q25SaltedJoin(spark, sf0001)
    // the salt must survive into the physical join keys — otherwise the
    // registered row silently degrades to the plain join it mitigates
    assert(reg.queryExecution.executedPlan.toString.contains("__salt"),
      "registered q25 plan lost its salt keys")
    val l = graft.model.Tables.lineitem(spark, sf0001).withColumn("jk",
      when(col("l_orderkey").between(1, 400), lit(1L)).otherwise(col("l_orderkey")))
    val r = graft.model.Tables.orders(spark, sf0001).withColumn("rk",
      when(col("o_orderkey").between(1, 100), lit(1L)).otherwise(col("o_orderkey")))
    val plain = l.join(r, col("jk") === col("rk"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        sum(graft.model.Tables.cents(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("revenue_c"))
      .orderBy("o_orderpriority").collect().toSeq
    assert(reg.collect().toSeq == plain)
  }

  test("q26 bloom probe prunes the fact side below a merge join") {
    val plan = Relational.q26BloomJoin(spark, sf0001).queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"), "native probe missing from the physical plan")
    assert(plan.contains("SortMergeJoin"), "dim side must not broadcast (the operator's niche)")
    // pruning bites AND is sound: the probe keeps every matched fact row
    // (blooms have no false negatives) plus at most an fpp-bounded
    // overhang, well under half the fact table at ~20% dim selectivity
    val fact = graft.model.Tables.lineitem(spark, sf0001)
    // the REGISTERED dim definition, not an inline copy — if the
    // operator's dim drifts, this test must drift with it
    val dim = Relational.q26Dim(spark, sf0001)
    val matched = fact.join(dim, col("l_orderkey") === col("o_orderkey")).count()
    val passed = fact.filter(Relational.q26Probe(dim, col("l_orderkey"))).count()
    val total = fact.count()
    assert(passed >= matched, s"bloom rejected a true match: passed=$passed matched=$matched")
    assert(passed <= matched + math.max(10L, total / 100),
      s"false-positive overhang past the fpp bound: passed=$passed matched=$matched total=$total")
    assert(passed < total / 2, s"pruning didn't bite: passed=$passed of $total")
  }

  test("q26 builds its probe bloom once per session and evicts with it") {
    Stages.clear()
    try {
      val b1 = Stages.q26Bloom(spark, sf0001)
      assert(b1.nonEmpty)
      assert(Stages.q26Bloom(spark, sf0001) eq b1, "second request must serve the cached bloom")
      val n = Stages.cachedEntryCount
      Relational.q26BloomJoin(spark, sf0001).collect()
      assert(Stages.cachedEntryCount == n, "registered q26 must reuse the staged bloom")
      Stages.evictSession(spark)
      assert(Stages.cachedEntryCount == 0, "evictSession must drop the bloom entry")
    } finally Stages.clear()
  }

  /** Total shuffle bytes written by the fully-executed plan — read off
    * the exchange nodes' SQL metrics after the action, no listener race. */
  private def shuffledBytes(df: org.apache.spark.sql.DataFrame): Long = {
    df.collect()
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val root = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    def bytes(m: Map[String, org.apache.spark.sql.execution.metric.SQLMetric]): Long =
      m.get("shuffleBytesWritten").map(_.value)
        .orElse(m.get("dataSize").map(_.value)).getOrElse(0L)
    // AQE hides every executed exchange inside a LEAF query-stage node
    // (the whole final plan is one ResultQueryStageExec) — recurse
    // through each stage's wrapped plan, counting exchanges on the way
    def walk(p: SparkPlan): Long = p match {
      case q: QueryStageExec => walk(q.plan)
      case s: ShuffleExchangeLike => bytes(s.metrics) + s.children.map(walk).sum
      case other => other.children.map(walk).sum
    }
    walk(root)
  }

  test("q26 bloom probe cuts the shuffled bytes vs its unprobed twin (the 100 TB claim)") {
    // wall time at local[32] is the wrong meter for a shuffle-reduction
    // operator (memory-speed shuffles); the saved BYTES are the claim —
    // at ~20% dim selectivity the probed plan must shuffle well under
    // half of what the plain twin moves
    val probed = shuffledBytes(Relational.q26BloomJoin(spark, sf0001))
    val plain = shuffledBytes(Relational.q26PlainAudit(spark, sf0001))
    assert(probed > 0 && plain > 0, s"exchange metrics missing: probed=$probed plain=$plain")
    assert(probed * 2 < plain, s"probe did not cut the shuffle: probed=$probed plain=$plain")
  }

  test("x43's min/max detection shuffles no more bytes than the countDistinct form, in one exchange") {
    // the round-11 rewrite's claim, measured: "occurs in >=2 distinct
    // docs" via min/max is ONE exchange where countDistinct plans two (a
    // (h, doc_id) dedup pass, then the count) — on the positional-gram
    // intermediate, the biggest this query has. Bytes are the honest
    // meter (local shuffles are memory-speed).
    import org.apache.spark.sql.functions.countDistinct
    val d = graft.model.Tables.documents(spark, sf0001)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
    val grams = graft.ops.TextOps.x43Grams(d, 5)
    val minmax = shuffledBytes(graft.ops.TextOps.x43SharedGrams(grams))
    val twoPass = shuffledBytes(grams.groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2).select(col("h")))
    assert(minmax > 0 && twoPass > 0, s"exchange metrics missing: $minmax / $twoPass")
    assert(minmax <= twoPass,
      s"single-exchange detection moved MORE bytes: minmax=$minmax countDistinct=$twoPass")
  }

  test("x42's heap aggregate: window-twin parity, bytes vs the un-rewritten window, no map-side sort") {
    // Credit where due, measured here rather than assumed: Spark's own
    // InferWindowGroupLimit (3.5+) rewrites `row_number() ... <= lit(k)`
    // to a partial group-limit BELOW the exchange, so the optimized
    // window twin ships ~as few rows as the heap aggregate. What the
    // heap form still buys at 100 TB, and what this test pins:
    //   (a) the group-limit rewrite needs a LITERAL rank predicate over
    //       a bare window — with it disabled (the stand-in for every
    //       shape the rewrite can't see: k from a join, rank consumed in
    //       an expression, engines without the rule) the window ships
    //       every row of every group, and the heap form shuffles a small
    //       fraction of those bytes;
    //   (b) even the rewritten window SORTS every map partition (a Sort
    //       node under the exchange — O(n log n) per task) where the
    //       heap aggregate plans NO sort anywhere: O(n log k) selection;
    //   (c) both forms agree with brute force exactly.
    // 200k rows, 4 groups, k=5 across 8 map partitions.
    import graft.functions.TopKByAgg.topkBy
    import org.apache.spark.sql.expressions.Window
    val df = spark.range(0, 200000, 1, 8)
      .select((col("id") % 4).as("g"), (col("id") % 9973).as("ord"), col("id").as("tag"))
    def winForm = df.select(col("g"), col("ord"), col("tag"),
        row_number().over(
          Window.partitionBy(col("g")).orderBy(col("ord").desc, col("tag").asc))
          .cast("long").as("rn"))
      .filter(col("rn") <= 5)
      .select(col("g"), col("rn"), col("ord"), col("tag"))
    val heap = df.groupBy(col("g")).agg(topkBy(col("ord"), col("tag"), 5).as("tk"))
      .select(col("g"), posexplode(col("tk")))
      .select(col("g"), (col("pos") + 1L).as("rn"), col("col.ord").as("ord"), col("col.tag").as("tag"))
    val heapRows = heap.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).sorted
    val winRows = winForm.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).sorted
    assert(heapRows.toSeq == winRows.toSeq, "the two formulations must agree exactly")
    // (b) no Sort node anywhere in the heap plan; the window plan has one
    val heapPlan = heap.queryExecution.executedPlan.toString
    assert(!heapPlan.contains("Sort "), s"heap form must not sort:\n$heapPlan")
    assert(winForm.queryExecution.executedPlan.toString.contains("Sort "),
      "window form is expected to sort its map partitions")
    // (a) bytes vs the un-rewritten window
    val thresholdKey = "spark.sql.optimizer.windowGroupLimitThreshold"
    val orig = spark.conf.get(thresholdKey)
    val naiveBytes = try {
      spark.conf.set(thresholdKey, "-1")
      shuffledBytes(winForm)
    } finally spark.conf.set(thresholdKey, orig)
    val heapBytes = shuffledBytes(heap)
    assert(heapBytes > 0 && naiveBytes > 0,
      s"exchange metrics missing: heap=$heapBytes naiveWindow=$naiveBytes")
    assert(heapBytes * 10 < naiveBytes,
      s"heap form did not cut the shuffle: heap=$heapBytes naiveWindow=$naiveBytes")
  }

  test("bucketed tables join without a shuffle") {
    val s = spark
    import s.implicits._
    Seq("orders_b", "lineitem_b").foreach { t =>
      s.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(s"spark-warehouse/$t")
      if (loc.exists()) graft.SparkTestBase.deleteRecursively(loc)
    }
    TestSinks.writeBucketed(
      graft.model.Tables.orders(s, sf0001), "orders_b", "o_orderkey", 8)
    TestSinks.writeBucketed(
      graft.model.Tables.lineitem(s, sf0001)
        .withColumnRenamed("l_orderkey", "o_orderkey"), "lineitem_b", "o_orderkey", 8)
    val joined = s.table("orders_b").join(s.table("lineitem_b"), "o_orderkey")
      .groupBy("o_orderpriority").count()
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning(o_orderkey"),
      s"bucketed join must not shuffle on the join key:\n$plan")
    assert(joined.count() == 5)
  }

  test("streaming sink throughput beats the reference's serialized floor") {
    val s = spark
    import s.implicits._
    val n = 50000
    TestSink.reset()
    val batch = s.range(0, n)
      .select(col("id"), (col("id") % 500).as("entityId"),
        lit("ADD").as("operation"), concat(lit("p"), col("id")).as("payload"),
        lit(WalRecord.DefaultEntityType).as("entityType"))
      .as[WalRecord]
    val t0 = System.nanoTime()
    Streams.foreachBatchSync(new TestSink, retrySleepMs = 1L)(batch, 0L)
    val secs = (System.nanoTime() - t0) / 1e9
    val rate = n / secs
    info(f"sink throughput: $rate%.0f records/s over $n records")
    assert(TestSink.target.size() == 500)
    // reference ceiling: 1 record per 2 RDBMS transactions, globally
    // serialized (WalConsumer.java:185-193) — O(100-1000)/s. Require 10x.
    assert(rate > 10000, f"expected >10k rec/s, got $rate%.0f")
  }
}
