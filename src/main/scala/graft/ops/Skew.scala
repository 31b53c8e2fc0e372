package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Tables

/** Skew mitigation utilities (100 TB posture). AQE's skew-join splitting
  * handles join-side skew at runtime; these helpers cover AGGREGATION
  * skew, where one hot key (the null user, the default tenant, the bot
  * account) funnels a whole partition through one task.
  *
  * The two-phase salted aggregate is exact for any commutative+associative
  * aggregate: phase 1 groups by (key, salt) so the hot key's rows spread
  * over `buckets` tasks; phase 2 merges the per-salt partials. Spark
  * already does map-side partial aggregation INSIDE a partition — salting
  * additionally spreads a hot key across the SHUFFLE, which partials
  * cannot do. */
object Skew {

  /** Exact salted sum+count per key, emitted as (k, total, n).
    *
    * The salt MUST be deterministic per row: a nondeterministic salt
    * (rand, monotonically_increasing_id) re-routes rows differently when
    * a shuffle map task is retried after executor loss, silently
    * duplicating/losing partials (the SPARK-23207 failure class). Pass a
    * stable discriminator column (an id, a timestamp) as `saltFrom`; by
    * default the salt hashes the value column, which is retry-safe but
    * collapses to one bucket if the hot key's values are all identical —
    * prefer an explicit unique `saltFrom` when one exists. */
  def saltedSumCount(df: DataFrame, key: Column, value: Column,
      buckets: Int = 32, saltFrom: Option[Column] = None): DataFrame = {
    val salted = df.withColumn("__salt",
      pmod(xxhash64(saltFrom.getOrElse(value)), lit(buckets.toLong)))
    salted
      .groupBy(key.as("k"), col("__salt"))
      .agg(sum(value).as("partial_sum"), count(lit(1)).as("partial_n"))
      .groupBy(col("k"))
      .agg(sum(col("partial_sum")).as("total"), sum(col("partial_n")).as("n"))
  }

  /** q23: the salted aggregate wired into the query surface — quantity
    * totals per l_returnflag, a 3-distinct-value key where EVERY key is
    * hot (each funnels ~1/3 of the fact table through one reducer in
    * the naive plan). The two-phase plan spreads each key over 32 salt
    * buckets in phase 1; phase 2 merges 3·32 partial rows. Exactness:
    * sum/count are commutative+associative over the scaled-int values,
    * so the result is identical to the direct aggregate the oracle
    * runs — the DETERMINISTIC per-row salt (l_orderkey, see
    * [[saltedSumCount]]'s retry-safety note) just re-routes partials. */
  def q23SkewAgg(spark: SparkSession, dir: String): DataFrame =
    saltedSumCount(
      Tables.lineitem(spark, dir),
      key = col("l_returnflag"),
      value = Tables.cents(col("l_quantity")),
      saltFrom = Some(col("l_orderkey")))
      .orderBy("k")

  // ---- join-side skew -----------------------------------------------------

  /** Salted inner equi-join: spread a hot LEFT key across `buckets` reducer
    * tasks by salting the left side and replicating the ENTIRE right side
    * once per salt value. Exact for inner equi-joins: every (l, r) match
    * pair meets exactly once, under l's salt. Use when hot keys are unknown
    * or carry many right rows; the price is a `buckets`× shuffle of the
    * right side, so prefer [[splitSkewJoin]] when the hot slice of the
    * right side is small enough to broadcast. MEASURED (README
    * "Many-right-rows skew leg", round 9): on the q25 shape this beats
    * the naive join at every factor and beats split too once `buckets`
    * is sized to the available parallelism — salted parallelism is
    * capped at `buckets`, so leaving it at 16 on a 32-core host gives
    * split the lead back at high factors.
    *
    * Same retry-safety rule as [[saltedSumCount]]: the left salt must be
    * deterministic per row (`saltFrom`), never `rand()`. */
  def saltedEquiJoin(left: DataFrame, leftKey: Column, right: DataFrame,
      rightKey: Column, saltFrom: Column, buckets: Int = 16): DataFrame = {
    val l = left.withColumn("__salt", pmod(xxhash64(saltFrom), lit(buckets.toLong)))
    val r = right.withColumn("__salt",
      explode(sequence(lit(0L), lit(buckets.toLong - 1))))
    l.join(r, leftKey === rightKey && l("__salt") === r("__salt"))
      .drop("__salt")
  }

  /** [[saltedEquiJoin]] scoped to KNOWN hot keys (r20, guide §2.5: salt
    * the hot keys, not the universe): cold left rows keep salt 0 and
    * cold right rows are emitted once (salt 0 only), so the `buckets`×
    * replication — the blind form's whole price — pays only for the hot
    * slice. Exact for inner equi-joins by the same meet-exactly-once
    * argument: equal keys are either both hot (pair meets once, under
    * l's salt) or both cold (once, at salt 0). `hot` is ONE predicate
    * over the join key, applied to both keys, so hot-ness agrees across
    * the sides by construction. */
  def saltedEquiJoinHot(left: DataFrame, leftKey: Column,
      right: DataFrame, rightKey: Column, hot: Column => Column,
      saltFrom: Column, buckets: Int = 16): DataFrame = {
    val l = left.withColumn("__salt",
      when(hot(leftKey), pmod(xxhash64(saltFrom), lit(buckets.toLong))).otherwise(lit(0L)))
    val r = right.withColumn("__salt",
      explode(when(hot(rightKey), sequence(lit(0L), lit(buckets.toLong - 1)))
        .otherwise(array(lit(0L)))))
    l.join(r, leftKey === rightKey && l("__salt") === r("__salt"))
      .drop("__salt")
  }

  /** Map-side-combinable per-key row counts of `df` — the FULL stats
    * shape [[splitSkewJoin]] consumes: one row per distinct key (null
    * included), columns `__k` (key) and `__c` (count). */
  def keyCounts(df: DataFrame, keyName: String): DataFrame =
    df.groupBy(col(keyName).as("__k")).agg(count(lit(1)).as("__c"))

  /** The BOUNDED stats artifact worth persisting across calls (see
    * `Stages.q24KeyStats`): the top `cap` keys by count plus the row
    * total as a constant `__t` column — ≤ cap rows, never corpus-keyed,
    * so it can be staged in memory at any corpus size (materializing the
    * FULL key-count frame was measured to cost tens of seconds at 64×;
    * a key-frequency table over 100 TB is itself big data). EXACT for any
    * detection with hotShare ≥ 1/cap: strictly more than total/cap rows
    * pigeonholes at most cap−1 keys, and all of them sort into the top
    * cap by count. The row total rides the same pass as a footer-cheap
    * `count()` on the unmodified source frame. */
  def hotKeyStats(df: DataFrame, keyName: String, cap: Int = 1000): DataFrame = {
    require(cap >= 1, s"cap must be positive: $cap")
    keyCounts(df, keyName)
      .orderBy(col("__c").desc)
      .limit(cap)
      .withColumn("__t", lit(df.count()))
  }

  /** Hot-slice split inner equi-join — the shape that survives a 100 TB
    * shuffled fact⋈fact join with a hot foreign key (the null user, the
    * default tenant): detect the hot left keys with a map-side-combinable
    * count, broadcast ONLY the right rows for those keys to the hot left
    * slice, and shuffle-join the cold remainder as usual. The union is
    * exactly the plain inner join (hot/cold partition the left rows; the
    * right filter drops no match for the hot slice).
    *
    * Hot detection is exact, not sampled: the per-key count partials
    * combine map-side, so even the hot key's count costs one row per map
    * task at the shuffle. The driver collect is bounded by construction —
    * at most `1/hotShare` keys can exceed `hotShare` of the rows — and the
    * broadcast right slice is (hot keys × right rows per key), which is
    * small exactly when this strategy applies; use [[saltedEquiJoin]]
    * otherwise. AQE's skew-split handles the mild runtime case; this
    * operator is for the structural hot key you know survives every run.
    *
    * Cost accounting: one column-less `count()` (parquet answers it from
    * footer metadata), one map-side-combined key-count pass, then the two
    * join branches each scan `left` with the hot-set filter pushed to the
    * parquet reader. At 100 TB the stats pass is amortized into a
    * persisted stage: pass `stats = Some(...)` — either the full
    * [[keyCounts]] shape, or the BOUNDED [[hotKeyStats]] shape (`__t`
    * column present; its cap must satisfy hotShare ≥ 1/cap, e.g.
    * `Stages.q24KeyStats`) — and the call never scans `left` for
    * detection at all. The join result is identical for ANY hot set, so
    * detection precision affects only the plan, never the answer. */
  def splitSkewJoin(left: DataFrame, leftKeyName: String, right: DataFrame,
      rightKeyName: String, hotShare: Double = 0.01,
      shuffleCold: Boolean = false,
      stats: Option[DataFrame] = None): DataFrame = {
    require(hotShare > 0 && hotShare < 1, s"hotShare must be in (0,1): $hotShare")
    val lk = col(leftKeyName)
    // null keys never match an inner equi-join, so a "hot" null key needs
    // no hot-slice handling — and it MUST be excluded: a null inside an
    // isin() list makes both branch predicates evaluate to null on every
    // row (three-valued logic), silently emptying the whole join
    val hotKeys = stats match {
      case Some(s) =>
        // bounded hotKeyStats carry the row total in __t (their count sum
        // covers only the retained top keys); full keyCounts sum to it
        val total: Double =
          if (s.columns.contains("__t"))
            s.select(col("__t")).head(1).headOption.map(_.getLong(0).toDouble).getOrElse(0.0)
          else {
            val r = s.agg(sum(col("__c"))).first()
            if (r.isNullAt(0)) 0.0 else r.getLong(0).toDouble
          }
        s.filter(col("__c") > total * hotShare && col("__k").isNotNull)
          .select(col("__k")).collect().map(_.get(0)).toSeq
      case None =>
        val threshold = left.count() * hotShare
        keyCounts(left, leftKeyName)
          .filter(col("__c") > threshold && col("__k").isNotNull)
          .select(col("__k")).collect().map(_.get(0)).toSeq
    }
    val cond = lk === col(rightKeyName)
    // shuffleCold pins the cold branch to a shuffled join (audit use: at
    // sf-test sizes AQE broadcasts a right side a 100 TB run couldn't)
    val coldRight = if (shuffleCold) right.hint("merge") else right
    if (hotKeys.isEmpty) left.join(coldRight, cond)
    else {
      val hotRight = right.filter(col(rightKeyName).isin(hotKeys: _*))
      left.filter(!lk.isin(hotKeys: _*)).join(coldRight, cond)
        .unionByName(left.filter(lk.isin(hotKeys: _*)).join(broadcast(hotRight), cond))
    }
  }

  /** The q24 fact side: lineitem with a synthetic hot foreign key — a
    * quarter of the fact table re-points at order 1 (the "default tenant"
    * pattern; the driver data's keys are uniform, so the hot key is
    * derived). Deterministic, and expressible identically in DuckDB. */
  def q24Fact(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir).withColumn("jk",
      when(col("l_orderkey") % 4 === 0, lit(1L)).otherwise(col("l_orderkey")))

  /** Naive shuffled twin of [[q24SkewJoin]] (audit baseline: one reducer
    * owns ~25% of the fact rows). Broadcast of the right side is what AQE
    * would pick at sf-test sizes — and exactly what a 100 TB orders table
    * forbids — so the audit path disables it via a merge hint. */
  def q24NaiveJoin(spark: SparkSession, dir: String): DataFrame =
    q24Agg(q24Fact(spark, dir)
      .join(Tables.orders(spark, dir).hint("merge"), col("jk") === col("o_orderkey")))

  private def q24Agg(joined: DataFrame): DataFrame =
    joined.groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n"),
        sum(Tables.cents(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("revenue_c"))
      .orderBy("o_orderpriority")

  /** q24: join-side skew, handled. The hot slice (key 1, ~25% of lineitem)
    * joins its single order row by broadcast; the cold 75% shuffle-joins
    * normally. No reducer ever sees the hot key's fan-in. Revenue through
    * integer cents → partitioning-invariant. Hot detection reads the
    * staged bounded key stats ([[Stages.q24KeyStats]]) — the fact side
    * pays its stats scan once per session, not once per call. */
  def q24SkewJoin(spark: SparkSession, dir: String): DataFrame =
    q24Agg(splitSkewJoin(q24Fact(spark, dir), "jk", Tables.orders(spark, dir), "o_orderkey",
      stats = Some(Stages.q24KeyStats(spark, dir))))

  /** Audit twins (BenchScaling skew leg; [[q24NaiveJoin]] is the third) —
    * all three pin the bulk join to a shuffled merge join so the ONLY
    * variable is hot-key handling: naive = one reducer owns the hot key
    * (the 100 TB straggler; AQE's skew split stays dormant below its
    * 256 MB partition threshold, which is exactly the audit regime),
    * salted = replicate-right over 16 salt buckets, split = hot-slice
    * broadcast + cold shuffle. */
  def q24SaltedAudit(spark: SparkSession, dir: String): DataFrame =
    q24Agg(saltedEquiJoin(
      q24Fact(spark, dir), col("jk"),
      Tables.orders(spark, dir).hint("merge"), col("o_orderkey"),
      saltFrom = xxhash64(col("l_orderkey"), col("l_linenumber"))))

  def q24SplitAudit(spark: SparkSession, dir: String): DataFrame =
    q24Agg(splitSkewJoin(q24Fact(spark, dir), "jk",
      Tables.orders(spark, dir), "o_orderkey", shuffleCold = true,
      stats = Some(Stages.q24KeyStats(spark, dir))))

  // ---- q25 audit family: saltedEquiJoin's claimed niche -------------------

  /** The q25 right side: orders where ONE key owns thousands of rows —
    * every o_orderkey ≡ 0 (mod 10) re-points at key 1, so at sf0.01 key 1
    * carries ~1.5k order rows and the BenchScaling key offset (≡0 mod 10)
    * concentrates the slice ×factor. Combined with [[q24Fact]]'s hot left
    * quarter this is the many-right-rows-per-hot-key shape
    * [[saltedEquiJoin]]'s scaladoc claims: the hot-slice broadcast
    * [[splitSkewJoin]] leans on is no longer one row but a slice growing
    * with the corpus. Audit-only (BenchScaling q25 legs + the ScaleSpec
    * three-way equality pin); product rows = hotLeft × hotRight make this
    * shape quadratic under concentration, so legs run on small bases. */
  def q25Right(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir).withColumn("rk",
      when(col("o_orderkey") % 10 === 0, lit(1L)).otherwise(col("o_orderkey")))

  private def q25Agg(joined: DataFrame): DataFrame =
    joined.groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n"),
        sum(Tables.cents(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("revenue_c"))
      .orderBy("o_orderpriority")

  /** Naive twin: the hot reducer owns hotLeft + hotRight AND emits the
    * full hotLeft×hotRight product alone. */
  def q25NaiveJoin(spark: SparkSession, dir: String): DataFrame =
    q25Agg(q24Fact(spark, dir)
      .join(q25Right(spark, dir).hint("merge"), col("jk") === col("rk")))

  /** Salted twin: left spread over `buckets` salt values, right (hot
    * slice included) replicated ×buckets — each (key, salt) reducer emits
    * product/buckets. Salted parallelism is CAPPED at `buckets`, so the
    * audit drives it at the default 16 and at 32 (= the bench core
    * count): buckets ∝ cores is the knob that keeps salted ahead once
    * the emitted product dominates. */
  def q25SaltedAudit(spark: SparkSession, dir: String,
      buckets: Int = 16): DataFrame =
    q25Agg(saltedEquiJoin(
      q24Fact(spark, dir), col("jk"),
      q25Right(spark, dir).hint("merge"), col("rk"),
      saltFrom = xxhash64(col("l_orderkey"), col("l_linenumber")),
      buckets = buckets))

  /** Split twin: the thousands-row hot slice is broadcast to every left
    * scan task — the cost [[saltedEquiJoin]] exists to avoid when the
    * slice × executor count outgrows memory. */
  def q25SplitAudit(spark: SparkSession, dir: String): DataFrame =
    q25Agg(splitSkewJoin(q24Fact(spark, dir), "jk",
      q25Right(spark, dir), "rk", shuffleCold = true))

  /** q25: the salted equi-join wired into the query surface, on a
    * registered-surface-safe cut of the audit shape above. The hot slice
    * is pinned to CONSTANT key ranges, not corpus shares: lineitem keys
    * 1–400 (~1.6k rows at any SF — orderkeys are dense from 0 in the
    * driver data, so the range exists at every SF) re-point at key 1, and
    * order keys 1–100 (exactly 100 rows) do the same. Share-based
    * concentration on BOTH sides (the previous `% 100` cut) made the
    * registered line's emitted hot product grow ×sf² — ~9M rows at sf0.1
    * and suite-dominating at the next sf bump — while a constant cut
    * emits ~160k hot rows at EVERY sf, so the bench line tracks the
    * operator, not the shape's quadratic tax. The hot key still owns a
    * right SLICE (100 order rows), the many-right-rows form
    * [[saltedEquiJoin]] exists for; the share-driven niche MEASUREMENT
    * lives in the audit legs above, where factors are controlled. The
    * salt spreads the hot left slice over 16 reducer buckets and
    * replicates the right side ×16; the result is exactly the plain
    * join's (each match pair meets once), so the oracle is the unsalted
    * SQL. */
  def q25SaltedJoin(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir).withColumn("jk",
      when(col("l_orderkey").between(1, 400), lit(1L)).otherwise(col("l_orderkey")))
    val r = Tables.orders(spark, dir).withColumn("rk",
      when(col("o_orderkey").between(1, 100), lit(1L)).otherwise(col("o_orderkey")))
    // r20 (§2.5): the hot key is KNOWN here (1, by construction), so the
    // salt is scoped to it — the blind form replicated the ENTIRE right
    // table ×16 (2.4M extra shuffled rows at sf0.1) to spread one key.
    // Result identical (meet-exactly-once per the saltedEquiJoinHot doc);
    // the blind form stays for the audit legs, where hot keys are the
    // unknown under study.
    q25Agg(saltedEquiJoinHot(l, col("jk"), r, col("rk"), _ === 1L,
      saltFrom = xxhash64(col("l_orderkey"), col("l_linenumber"))))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q23_skew_agg" -> q23SkewAgg,
    "q24_skew_join" -> q24SkewJoin,
    "q25_salted_join" -> q25SaltedJoin)

  val oracle: Map[String, String] = Map(
    "q23_skew_agg" ->
      s"""SELECT l_returnflag AS k,
         |  CAST(sum(${Tables.centsSql("l_quantity")}) AS BIGINT) AS total,
         |  count(*) AS n
         |FROM lineitem GROUP BY 1 ORDER BY k""".stripMargin,
    "q24_skew_join" ->
      s"""WITH l AS (
         |  SELECT CASE WHEN l_orderkey % 4 = 0 THEN 1 ELSE l_orderkey END AS jk,
         |    l_extendedprice, l_discount
         |  FROM lineitem)
         |SELECT o_orderpriority, count(*) AS n,
         |  CAST(sum(${Tables.centsSql("l_extendedprice * (1 - l_discount)")}) AS BIGINT) AS revenue_c
         |FROM l JOIN orders ON jk = o_orderkey
         |GROUP BY 1 ORDER BY o_orderpriority""".stripMargin,
    "q25_salted_join" ->
      s"""WITH l AS (
         |  SELECT CASE WHEN l_orderkey BETWEEN 1 AND 400 THEN 1 ELSE l_orderkey END AS jk,
         |    l_extendedprice, l_discount
         |  FROM lineitem),
         |r AS (
         |  SELECT CASE WHEN o_orderkey BETWEEN 1 AND 100 THEN 1 ELSE o_orderkey END AS rk,
         |    o_orderpriority
         |  FROM orders)
         |SELECT o_orderpriority, count(*) AS n,
         |  CAST(sum(${Tables.centsSql("l_extendedprice * (1 - l_discount)")}) AS BIGINT) AS revenue_c
         |FROM l JOIN r ON jk = rk
         |GROUP BY 1 ORDER BY o_orderpriority""".stripMargin)
}
