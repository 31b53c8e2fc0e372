package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Tables

/** Q9–Q11 (SURVEY.md §2.3): distinct (exact + HLL sketch), set operations,
  * grouping sets / rollup.
  *
  * Scale notes: exact distinct is a two-phase hash (partial distinct
  * map-side); approx_count_distinct (q9b) is the 100 TB path — a mergeable
  * HLL sketch, one pass, constant memory. Set ops run as shuffled distinct
  * unions/joins; rollup computes all grouping sets in one shuffle via
  * Expand, not one pass per level.
  */
object Analytics {
  import Tables._

  /** q9: exact multi-column distinct counts per group. */
  def q9Distinct(spark: SparkSession, dir: String): DataFrame =
    lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_partkey")).as("n_part"),
        countDistinct(col("l_suppkey")).as("n_supp"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag")

  /** q9b: HLL approximate distinct — the sketch path that survives 100 TB.
    * The raw estimate is engine-specific, so the query emits a
    * DuckDB-checkable VERDICT instead of the sketch value: per group, the
    * exact distinct counts (sub-aggregated in the same pass) plus
    * `within_bound = |approx − exact| ≤ 3·rsd·exact` as 0/1. The oracle is
    * the exact counts with a literal 1 — any sketch drifting past 3σ of
    * its configured rsd (0.05) turns the row red under the hash gate.
    * Note the exact sub-aggregation exists FOR the gate (the same
    * pattern as StreamGate's s8 verdict): the production 100 TB path is
    * the bare `approx_count_distinct` call alone — one pass, mergeable,
    * no Expand — and this query's bench time measures sketch + gate
    * twin, not the sketch path by itself. */
  def q9bApproxDistinct(spark: SparkSession, dir: String): DataFrame = {
    val rsd = 0.05
    def withinBound(approx: String, exact: String) =
      (abs(col(approx).cast("double") - col(exact).cast("double"))
        <= lit(3 * rsd) * col(exact).cast("double")).cast("int")
    lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        approx_count_distinct(col("l_partkey"), rsd).as("approx_part"),
        approx_count_distinct(col("l_suppkey"), rsd).as("approx_supp"),
        countDistinct(col("l_partkey")).as("n_part"),
        countDistinct(col("l_suppkey")).as("n_supp"))
      .select(
        col("l_returnflag"), col("n_part"), col("n_supp"),
        withinBound("approx_part", "n_part").as("part_in_bound"),
        withinBound("approx_supp", "n_supp").as("supp_in_bound"))
      .orderBy("l_returnflag")
  }

  /** q10: union / intersect / except over yearly customer key sets,
    * computed as ONE aggregation: per customer, presence flags
    * in95/in96 (max of year indicators — map-side combinable), then the
    * three set kinds derived from the flags and exploded to labeled rows.
    * Semantically identical to chained UNION/INTERSECT/EXCEPT (the oracle
    * keeps that formulation as an independent derivation) but one scan +
    * one shuffle instead of six scans and up to six shuffles — the shape
    * that survives 100 TB of orders. */
  def q10SetOps(spark: SparkSession, dir: String): DataFrame = {
    val o = orders(spark, dir)
      .select(year(col("o_orderdate")).as("y"), col("o_custkey"))
      .filter(col("y").isin(1995, 1996))
    val none = array().cast("array<string>")
    o.groupBy(col("o_custkey"))
      .agg(
        max(when(col("y") === 1995, 1).otherwise(0)).as("in95"),
        max(when(col("y") === 1996, 1).otherwise(0)).as("in96"))
      .select(col("o_custkey"),
        explode(concat(
          array(lit("union")), // every flagged customer is in the union
          when(col("in95") === 1 && col("in96") === 1, array(lit("intersect"))).otherwise(none),
          when(col("in95") === 1 && col("in96") === 0, array(lit("except"))).otherwise(none)
        )).as("kind"))
      .select(col("kind"), col("o_custkey"))
      .orderBy("kind", "o_custkey")
  }

  /** q11: rollup with coalesced group labels (no nulls in output → identical
    * sort order in Spark and DuckDB). */
  def q11Rollup(spark: SparkSession, dir: String): DataFrame =
    lineitem(spark, dir)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(cents(col("l_quantity"))).as("qty_c"), count(lit(1)).as("n"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
        coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
        col("qty_c"), col("n"))
      .orderBy("rf", "ls")

  /** q11b: full cube over the same measures (4 grouping sets in one
    * Expand+shuffle pass). */
  def q11bCube(spark: SparkSession, dir: String): DataFrame =
    lineitem(spark, dir)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(cents(col("l_quantity"))).as("qty_c"), count(lit(1)).as("n"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
        coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
        col("qty_c"), col("n"))
      .orderBy("rf", "ls")

  /** q11c: arbitrary GROUPING SETS — ((rf), (ls), ()): the one grouping
    * shape rollup/cube can't express (per-flag totals and per-status totals
    * with no (rf, ls) detail rows). Same single Expand+shuffle pass as
    * q11/q11b, 3 replicas per input row instead of cube's 4. */
  def q11cGroupingSets(spark: SparkSession, dir: String): DataFrame =
    lineitem(spark, dir)
      .groupingSets(
        Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq.empty),
        col("l_returnflag"), col("l_linestatus"))
      .agg(sum(cents(col("l_quantity"))).as("qty_c"), count(lit(1)).as("n"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
        coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
        col("qty_c"), col("n"))
      .orderBy("rf", "ls")

  /** q17: exact interpolated quantiles (Spark `percentile` ≡ DuckDB
    * `quantile_cont`, both linear interpolation on the sorted set). The
    * approximate path at 100 TB is `approx_percentile` (KLL-like sketch,
    * mergeable) — same call shape, no global sort. */
  def q17Quantiles(spark: SparkSession, dir: String): DataFrame =
    lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        cents(expr("percentile(l_quantity, 0.5)")).as("p50_c"),
        cents(expr("percentile(l_quantity, 0.9)")).as("p90_c"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag")

  /** q17b: the 100 TB quantile path GATED — `approx_percentile` (GK-style
    * mergeable sketch, no global sort) with its rank-error guarantee
    * checked exactly, in the q9b/s8 verdict-row idiom. The sketch VALUE is
    * merge-order-dependent (unlike HLL, quantile sketches are not
    * partitioning-invariant), so the dumped row carries only exact,
    * deterministic columns: the exact p50 plus a 0/1 flag that the sketch
    * value's true rank sits within the documented ±n/accuracy window
    * (accuracy 100 → ±1% of n; the flag is stable under any partitioning
    * as long as the sketch honors its contract, which DeterminismSpec
    * sweeps). Oracle = exact median + literal-1 flag. */
  def q17bApproxQuantiles(spark: SparkSession, dir: String): DataFrame = {
    val accuracy = 100
    val li = lineitem(spark, dir)
    val sk = li.groupBy(col("l_returnflag"))
      .agg(
        expr("approx_percentile(l_quantity, 0.5, 100)").as("approx_p50"),
        cents(expr("percentile(l_quantity, 0.5)")).as("p50_c"),
        count(lit(1)).as("n"))
    // exact rank of the sketch value: rows strictly below / at-or-below it
    val ranked = li.select(col("l_returnflag").as("rf2"), col("l_quantity"))
      .join(sk, col("rf2") === col("l_returnflag"))
      .groupBy(col("l_returnflag"), col("p50_c"), col("n"))
      .agg(
        sum(when(col("l_quantity") < col("approx_p50"), 1L).otherwise(0L)).as("n_lt"),
        sum(when(col("l_quantity") <= col("approx_p50"), 1L).otherwise(0L)).as("n_le"))
    // GK guarantee at rank r = 0.5·n with error ε = 1/accuracy:
    // some value with rank in [r − εn, r + εn] was returned, i.e.
    // n_lt ≤ r + εn and n_le ≥ r − εn
    val eps = graft.model.Tables.fdiv(col("n"), lit(accuracy.toLong))
    val target = graft.model.Tables.fdiv(col("n"), lit(2L))
    ranked.select(
      col("l_returnflag"), col("p50_c"), col("n"),
      (col("n_lt") <= target + eps && col("n_le") >= target - eps)
        .cast("long").as("sketch_in_bound"))
      .orderBy("l_returnflag")
  }

  /** q18: statistical moments with INTEGER-EXACT internals — mean and
    * sample variance derived from scaled-int power sums, so the result is
    * partitioning-invariant (a naive stddev_samp over doubles is
    * accumulation-order dependent and can't hash-match an oracle).
    * The n·Σx² − (Σx)² product exceeds Long around sf1, so the moment
    * arithmetic runs in decimal(38,0) (the oracle side stays in DuckDB's
    * native HUGEINT); the exact floor-division is (num − num % den) / den,
    * whose quotient is integral and therefore exact in both engines. */
  def q18Stats(spark: SparkSession, dir: String): DataFrame = {
    val x = cents(col("l_quantity")) // exact cents
    val dec = "decimal(38,0)"
    lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        sum(x).cast(dec).as("s1"),
        sum(x * x).cast(dec).as("s2"),
        count(lit(1)).cast(dec).as("n"))
      .select(col("l_returnflag"),
        ((col("s1") - (col("s1") % col("n"))) / col("n")).cast("long").as("mean_c"),
        // sample variance in cents²: (n*Σx² − (Σx)²) / (n(n−1)), floored
        {
          val num = col("n") * col("s2") - col("s1") * col("s1")
          val den = col("n") * (col("n") - lit(1).cast(dec))
          // n=1 → variance undefined; sentinel -1 (never a valid variance)
          when(col("n") <= 1, lit(-1L))
            .otherwise(((num - (num % den)) / den).cast("long")).as("var_c2")
        },
        col("n").cast("long").as("n"))
      .orderBy("l_returnflag")
  }

  /** q19: pivot — event counts per user spread across event-type columns
    * (fixed pivot value list, so the schema is static and plannable). */
  def q19Pivot(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(col("user_id"))
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy("user_id")

  /** q20: unpivot (melt) — wide lineitem measures to long (measure, value)
    * rows, then aggregate per measure. */
  def q20Unpivot(spark: SparkSession, dir: String): DataFrame =
    lineitem(spark, dir)
      .select(col("l_orderkey"),
        cents(col("l_quantity")).as("quantity_c"),
        cents(col("l_extendedprice")).as("extendedprice_c"),
        cents(col("l_discount")).as("discount_c"))
      .unpivot(Array(col("l_orderkey")),
        Array(col("quantity_c"), col("extendedprice_c"), col("discount_c")),
        "measure", "value_c")
      .groupBy(col("measure"))
      .agg(sum(col("value_c")).as("total_c"), count(lit(1)).as("n"))
      .orderBy("measure")

  /** q18b: Pearson correlation from exact decimal power sums — the same
    * partitioning-invariant recipe as q18 (naive corr() over doubles is
    * accumulation-order dependent). Only the final sqrt/division run in
    * floating point, on exact integers, then 1e-4-scaled. */
  def q18bCorr(spark: SparkSession, dir: String): DataFrame = {
    val x = cents(col("l_quantity"))
    val y = cents(col("l_extendedprice"))
    val dec = "decimal(38,0)"
    lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        sum(x).cast(dec).as("sx"), sum(y).cast(dec).as("sy"),
        sum(x * y).cast(dec).as("sxy"),
        sum(x * x).cast(dec).as("sxx"), sum(y * y).cast(dec).as("syy"),
        count(lit(1)).cast(dec).as("n"))
      .select(col("l_returnflag"),
        {
          val vx = (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
          val vy = (col("n") * col("syy") - col("sy") * col("sy")).cast("double")
          val cov = (col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
          // zero variance → correlation undefined; sentinel outside [-1e4,1e4]
          when(vx * vy <= 0, lit(-10001L))
            .otherwise(scaled4(cov / sqrt(vx * vy))).as("corr_s4")
        },
        col("n").cast("long").as("n"))
      .orderBy("l_returnflag")
  }

  /** q27: frequent items (heavy hitters) — the third sketch family next to
    * HLL (q9b) and GK quantiles (q17b), gated in the same verdict-row
    * idiom. Input is the zipf-shaped bigram stream of `documents` (916
    * distinct bigrams at sf0.01, ~5% of them above the threshold — the
    * token unigrams are near-uniform, so bigrams are where a heavy-hitter
    * sketch means something). The sketch is Spark's `stat.freqItems`
    * (Misra–Gries/KPS, mergeable, ≤ 1/support counters): with capacity
    * support 0.001 it GUARANTEES every item of true share > 0.1% is in
    * the candidate set under any partitioning (MG merge adds the error
    * bounds, never breaks the one-sided guarantee). The exact filter runs
    * at 0.15% — margin above the sketch bound, the q9b trick — with
    * INTEGER arithmetic (`cnt·10000 > n_total·15`, exact in both
    * engines), so the dumped rows are the exact heavy hitters + a
    * sketch-membership flag the oracle pins to literal 1. The candidate
    * set itself is partitioning-dependent near the boundary and is never
    * emitted. 100 TB path: the sketch is the single-pass answer (constant
    * memory, mergeable); the exact count twin exists for the gate. The
    * candidate collect is bounded by construction: ≤ 1/support = 1000
    * strings. */
  def q27FreqItems(spark: SparkSession, dir: String): DataFrame =
    q27FreqItemsAt(spark, dir, 15L, 10000L, 0.001)

  /** q27's parameterized form: exact threshold share = num/den, sketch
    * capacity support as given (must stay below num/den so the one-sided
    * guarantee covers every emitted row). The scaling audit divides both
    * by the replication factor — replicas have disjoint bigram
    * namespaces, so per-replica counts are constant while the total
    * grows ×f; scaling the knobs keeps the per-replica qualifying set
    * fixed and the output rows ×f (output-linear, the honest "more
    * corpus" shape). */
  /** The q27-family bigram stream: one (lang, bg) row per adjacent token
    * pair of `documents`; docs with <2 tokens dropped in BOTH engines
    * (oracle twin: `WHERE len(string_split(...)) >= 2`). ONE definition
    * shared by q27/q27b (which prune `lang` away), q27c, and the s10
    * stream gate — the stream/batch parity gate (s10's oracle is q27c's
    * SQL verbatim) rides on these lineages never diverging. */
  private[graft] def docBigrams(docs: DataFrame): DataFrame =
    docs.select(col("lang"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 2)
      .select(col("lang"), explode(expr(
        "transform(sequence(0, size(w) - 2), i -> concat(w[i], ' ', w[i + 1]))")).as("bg"))

  /** q27c's exact twin, shared with the s10 verdict: per-(lang, bigram)
    * counts above the 0.05% group-share threshold (integer-exact). */
  private[graft] def q27cExactHitters(spark: SparkSession, dir: String): DataFrame = {
    val counts = docBigrams(documents(spark, dir))
      .groupBy(col("lang"), col("bg")).agg(count(lit(1)).as("cnt"))
    val totals = counts.groupBy(col("lang")).agg(sum(col("cnt")).as("n_total"))
    counts.join(broadcast(totals), "lang")
      .filter(col("cnt") * lit(10000L) > col("n_total") * lit(5L))
      .select(col("lang"), col("bg"), col("cnt"))
  }

  def q27FreqItemsAt(spark: SparkSession, dir: String,
      supportNum: Long, supportDen: Long, sketchSupport: Double): DataFrame = {
    require(supportNum.toDouble / supportDen > sketchSupport,
      "exact threshold must exceed the sketch capacity support")
    val bgs = docBigrams(documents(spark, dir)).select(col("bg"))
    val cand = bgs.stat.freqItems(Seq("bg"), sketchSupport)
      .collect()(0).getSeq[String](0).toSeq.sorted
    val counts = bgs.groupBy(col("bg")).agg(count(lit(1)).as("cnt"))
    // total from the count frame, not a third corpus scan — the groupBy
    // exchange is an identical subplan, so this side reads ReusedExchange
    val total = counts.agg(sum(col("cnt")).as("n_total"))
    counts.crossJoin(broadcast(total))
      .filter(col("cnt") * lit(supportDen) > col("n_total") * lit(supportNum))
      .select(col("bg"), col("cnt"),
        array_contains(typedLit(cand), col("bg")).cast("long").as("in_sketch"))
      .orderBy("bg")
  }

  /** q27b: heavy hitters BELOW the builtin's reach — the same verdict-row
    * shape as q27, but the exact threshold sits at a 0.005% share, under
    * `stat.freqItems`' hard floor (support ≥ 1e-4 → no guarantee below a
    * 0.01% share, the measured ceiling in the README's q27 scaling leg).
    * The sketch is graft's own Misra–Gries aggregate
    * ([[graft.functions.FreqItemsMG]], k = 50 000 counters → one-sided
    * guarantee at a 1/(k+1) ≈ 0.002% share, 2.5× margin under the
    * threshold): a real partial aggregate — map-side MG summaries merged
    * through the shuffle (Agarwal et al. mergeable-summaries combine),
    * amortized O(1) per row via lazy decrements, k counters per task. At
    * 100 TB the sketch pass is the answer; the exact count twin exists
    * for the gate, as in q9b/q17b/q27. */
  def q27bFreqDeep(spark: SparkSession, dir: String): DataFrame =
    q27bFreqDeepAt(spark, dir, 5L, 100000L, 50000)

  /** q27b parameterized (threshold share = num/den, k MG counters); the
    * scaling audit scales threshold ÷f and k ×f together, the same
    * knob convention as q27's scaled variant — but with no API ceiling. */
  def q27bFreqDeepAt(spark: SparkSession, dir: String,
      supportNum: Long, supportDen: Long, k: Int): DataFrame = {
    require(supportNum * (k + 1L) > supportDen,
      "exact threshold must exceed the MG guarantee bound 1/(k+1)")
    val bgs = docBigrams(documents(spark, dir)).select(col("bg"))
    val sk = bgs.agg(
      graft.functions.FreqItemsMG.freqItemsMg(col("bg"), k).as("cand"))
    val counts = bgs.groupBy(col("bg")).agg(count(lit(1)).as("cnt"))
    val total = counts.agg(sum(col("cnt")).as("n_total"))
    counts.crossJoin(broadcast(total)).crossJoin(broadcast(sk))
      .filter(col("cnt") * lit(supportDen) > col("n_total") * lit(supportNum))
      .select(col("bg"), col("cnt"),
        map_contains_key(col("cand"), col("bg")).cast("long").as("in_sketch"))
      .orderBy("bg")
  }

  /** q27c: GROUPED heavy hitters — per-language bigram hitters at a
    * share > 0.05% of the GROUP's total, the shape `stat.freqItems`
    * cannot express at all (it is whole-DataFrame only; a per-group run
    * would need one job per group). [[graft.functions.FreqItemsMG]] is a
    * real aggregate, so `groupBy(lang).agg(freq_items_mg(bg, k))` gives
    * every group its own mergeable summary in ONE pass — map-side
    * partials per (partition × group), merged per group through the
    * shuffle. Guarantee per group: undercount ≤ N_g/(k+1); k = 5000 →
    * 0.02% of the group, 2.5× under the threshold. The exact twin joins
    * back on `lang` (broadcast: one row per language); totals derive
    * from the count frame (ReusedExchange, q27's idiom). Verdict-row
    * gate as q27/q27b. */
  def q27cFreqGrouped(spark: SparkSession, dir: String): DataFrame = {
    val k = 5000
    val sk = docBigrams(documents(spark, dir)).groupBy(col("lang"))
      .agg(graft.functions.FreqItemsMG.freqItemsMg(col("bg"), k).as("cand"))
    // exact twin from the shared stage: q27c and the s10 gate pay the
    // corpus bigram count once per session between them
    Stages.q27cHitters(spark, dir).join(broadcast(sk), "lang")
      .select(col("lang"), col("bg"), col("cnt"),
        map_contains_key(col("cand"), col("bg")).cast("long").as("in_sketch"))
      .orderBy("lang", "bg")
  }

  /** q28: incremental distinct counting via MERGEABLE HLL sketches — the
    * sketch-rollup pattern that replaces rescans at 100 TB: aggregate the
    * raw stream ONCE into fine-grained (daily) DataSketches HLL sketches,
    * then answer every coarser question (weekly, all-time) by unioning
    * the stored sketches — `hll_union_agg` over binary sketch columns,
    * never a second pass over the corpus. The q9b/q17b/q27 verdict-row
    * idiom gates it: the dumped rows are the EXACT distinct user counts
    * per ISO week (plus a 'total' row) with an
    * `in_bound = |union-estimate − exact| ≤ 3·rse·exact` flag the oracle
    * pins to 1; the raw estimate (engine-specific) is never emitted.
    * Estimate invariance: HLL union is a register-wise max — commutative
    * and associative — so unlike MG's boundary-dependent candidate set,
    * the unioned estimate itself is identical under any partitioning or
    * merge tree (DeterminismSpec sweeps it). The exact twin exists FOR
    * the gate; the production path is sketch build + union alone.
    * rse = 1.04/√2^lgK at Spark's default lgConfigK = 12. */
  def q28HllRollup(spark: SparkSession, dir: String): DataFrame = {
    val rse = 1.04 / math.sqrt((1 << 12).toDouble)
    // Monday-based week truncation matches DuckDB's ISO date_trunc('week')
    val e = events(spark, dir).select(
      date_trunc("week", col("ts")).cast("date").cast("string").as("wk"),
      col("user_id"))
    // the daily sketches come from the WAREHOUSE ([[Stages.sketchDaily]]
    // — the stamped store when configured, so a serving session answers
    // from stored bytes without touching raw history; the exact twin
    // below exists FOR the gate and still scans events)
    val weekly = Stages.sketchDaily(spark, dir)
      .select(col("wk"), col("hll_users").as("sk"))
      .groupBy(col("wk")).agg(hll_union_agg(col("sk")).as("sk"))
    val total = weekly.agg(hll_union_agg(col("sk")).as("sk"))
      .select(lit("total").as("wk"), col("sk"))
    val est = weekly.unionByName(total)
      .select(col("wk"), hll_sketch_estimate(col("sk")).as("approx"))
    val exact = e.groupBy(col("wk")).agg(countDistinct(col("user_id")).as("n_users"))
      .unionByName(e.agg(countDistinct(col("user_id")).as("n_users"))
        .select(lit("total").as("wk"), col("n_users")))
    est.join(exact, "wk")
      .select(col("wk"), col("n_users"),
        (abs(col("approx").cast("double") - col("n_users").cast("double"))
          <= lit(3 * rse) * col("n_users").cast("double")).cast("long").as("in_bound"))
      .orderBy("wk")
  }

  /** q28b: approximate per-key counts via a Count-Min sketch — the
    * point-query companion to q28's distinct rollup, Spark's builtin
    * `count_min_sketch` aggregate (mergeable: cell-wise addition, so the
    * merged sketch — and every estimate read from it — is EXACTLY
    * partition-invariant, like q28's register-max and unlike MG's
    * boundary-dependent candidates). Two guarantees gate the verdict
    * rows (the q9b idiom — exact counts dumped, sketch values never):
    * `over_ok` pins CMS's deterministic one-sidedness (estimates never
    * undercount, Cormode–Muthukrishnan 2005) and `within_bound` pins
    * est ≤ exact + εN (holds with prob ≥ confidence per key; ε = 0.001,
    * so the slack is integer-exact at any corpus size). Confidence is
    * 0.9999 — per-key failure 1e-4 puts the ACROSS-20-probed-keys failure
    * odds at ~2e-3, so a driver data regeneration can't realistically
    * flip the pinned gate (at the old 0.99 the union bound allowed ~18%);
    * the price is depth 14 instead of 7, still a fixed ~220 KB sketch. The probe is a
    * driver-side read of ONE aggregated sketch (bounded by construction:
    * depth·width cells ≈ 14×2000 longs, independent of corpus size)
    * against the top-20 keys — the exact top-k twin exists FOR the gate;
    * the production path ships the fixed-size sketch and probes ad-hoc
    * keys with no per-key state. Ties at the top-k boundary break on
    * user_id in both engines, so the emitted key set is deterministic. */
  def q28bCmsCounts(spark: SparkSession, dir: String): DataFrame = {
    val eps = 0.001
    val e = events(spark, dir).select(col("user_id"))
    val skBytes = e
      .agg(count_min_sketch(col("user_id"), lit(eps), lit(0.9999), lit(42)).as("sk"))
      .collect()(0).getAs[Array[Byte]](0)
    val sketch = org.apache.spark.util.sketch.CountMinSketch
      .readFrom(new java.io.ByteArrayInputStream(skBytes))
    val counts = e.groupBy(col("user_id")).agg(count(lit(1)).as("cnt"))
    // εN slack straight from the sketch's own stream length — no extra job
    val slack = math.ceil(eps * sketch.totalCount()).toLong
    val top = counts.orderBy(col("cnt").desc, col("user_id")).limit(20)
      .collect().map { r =>
        val (u, c) = (r.getLong(0), r.getLong(1))
        val est = sketch.estimateCount(u)
        (u, c, if (est >= c) 1L else 0L, if (est <= c + slack) 1L else 0L)
      }.toSeq
    spark.createDataFrame(top)
      .toDF("user_id", "cnt", "over_ok", "within_bound")
      .orderBy("user_id")
  }

  /** q28c: audience OVERLAP from stored sketches — the set-operation
    * capability HLL cannot provide (HLL union answers |A ∪ B| only): a
    * Theta sketch retains the k smallest key hashes, i.e. a uniform
    * sample of the key space, so per-week sketches support
    * INTERSECTION estimates — distinct users active in both week w and
    * week w+1 — with no history rescan and no pairwise user join
    * ([[graft.functions.ThetaSketchAgg]], Apache DataSketches theta,
    * the library Spark's own HLL functions ship with). One sketch per
    * week (mergeable partial aggregate through the shuffle), adjacent
    * pairs intersected driver-side from the collected sketch frame
    * (bounded by construction: #weeks × ≤ 2^lgK hashes). Verdict rows
    * (q9b idiom): the EXACT co-active counts — a distinct frame
    * self-joined on (user, week+7), the twin that exists for the gate —
    * plus an `in_bound` flag the oracle pins to 1. At the gate SFs the
    * sketches hold every user hash (exact mode), so the intersection
    * estimate is exact and trivially in bound; at 100 TB the same plan
    * answers from fixed-size sketches with the published theta error. */
  /** The theta warehouse build shared by the exact gate and the
    * estimation-mode test oracle (`Oracles.q28cOverlapBounds`): one sketch per week of distinct user
    * hashes, merged through the shuffle, collected driver-side (bounded
    * by construction: #weeks × ≤ 2^lgK hashes). */
  private[graft] def q28cWeeklySketches(spark: SparkSession, dir: String,
      lgK: Int): Map[java.time.LocalDate, Array[Byte]] = {
    import graft.functions.ThetaSketchAgg
    events(spark, dir).select(
        date_trunc("week", col("ts")).cast("date").as("wkd"), col("user_id"))
      .groupBy(col("wkd"))
      .agg(ThetaSketchAgg.thetaSketch(col("user_id"), lgK).as("sk"))
      .collect()
      .map(r => r.getDate(0).toLocalDate -> r.getAs[Array[Byte]](1)).toMap
  }

  def q28cThetaOverlap(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.ThetaSketchAgg
    val u = events(spark, dir).select(
      date_trunc("week", col("ts")).cast("date").as("wkd"), col("user_id"))
    val sketches = q28cWeeklySketches(spark, dir, ThetaSketchAgg.defaultLgK)
    // The in_bound=1 oracle pin assumes EXACT mode (≤ 2^lgK distinct
    // users per week, theta == 1), where the intersection estimate is the
    // true overlap. In estimation mode intersection error scales with the
    // UNION size and overlap fraction — a 3·rse-of-overlap bound would be
    // the wrong guarantee — so a corpus that crosses the line must fail
    // loudly here, not flake at the gate.
    sketches.foreach { case (w, sk) =>
      if (!ThetaSketchAgg.isExact(sk))
        throw new IllegalStateException(
          s"q28c: week $w theta sketch left exact mode (> ${1 << ThetaSketchAgg.defaultLgK} " +
            "distinct users); the exact-overlap gate no longer applies — raise lgK " +
            "or re-derive in_bound from the union-size error analysis")
    }
    val estRows = sketches.toSeq
      .flatMap { case (w, sk) =>
        sketches.get(w.plusDays(7)).map { nxt =>
          (w.toString, w.plusDays(7).toString,
            math.rint(ThetaSketchAgg.intersectEstimate(sk, nxt)).toLong)
        }
      }
    val est = spark.createDataFrame(estRows).toDF("wk", "wk_next", "approx")
    val d = u.distinct()
    val exact = d.as("ea").join(d.as("eb"),
        col("eb.user_id") === col("ea.user_id") &&
          col("eb.wkd") === date_add(col("ea.wkd"), 7))
      .groupBy(col("ea.wkd").cast("string").as("wk"))
      .agg(count(lit(1)).as("n_both"))
    est.join(exact, Seq("wk"), "left")
      .select(col("wk"), col("wk_next"),
        coalesce(col("n_both"), lit(0L)).as("n_both"),
        (abs(col("approx").cast("double") - coalesce(col("n_both"), lit(0L)).cast("double"))
          <= greatest(lit(3 * 0.0163) * coalesce(col("n_both"), lit(0L)).cast("double"), lit(1.0)))
          .cast("long").as("in_bound"))
      .orderBy("wk")
  }

  /** q29: QUANTILE rollup from stored mergeable KLL sketches — the
    * member that completes the sketch warehouse (q28 HLL = distinct,
    * q28b CMS + q27b MG = frequency, q28c Theta = set ops, q29 KLL =
    * quantiles): per-day sketches of the event value (cents-scaled
    * long) built ONCE, rolled up to weekly and all-time by merging the
    * stored bytes ([[graft.functions.KllSketchAgg]] /
    * [[graft.functions.KllMergeAgg]]) — never a history rescan, and the
    * all-time percentile never re-sorts 100 TB (the exact q17 path's
    * cost). Driver reads are bounded by construction: #weeks sketches
    * × ~3 KB each.
    *
    * Gate (q9b verdict-row idiom): dumped rows are (wk, pct, exact n,
    * in_bound) — the sketch's p50/p90/p99 answers are checked against
    * their EXACT rank span in one scan (per-week thresholds broadcast
    * back as columns; the all-time thresholds ride the same scan and
    * sum across weeks). in_bound is the TIE-AWARE rank condition in
    * pure integer math: the returned value's exact rank span
    * [count(<q), count(≤q)] must intersect [p−2ε(k), p+2ε(k)] — under
    * duplicates the inclusive rank alone can exceed p by the atom's
    * whole mass even from a perfect sketch (measured in
    * KllSketchSpec's boundary-biased generator), so span-intersection
    * is the correct distribution-free contract. KLL's guarantee is on
    * RANK, and compaction flips random coins — two runs may store
    * different bytes — so rank-with-slack is the ONLY correct gate:
    * never pin estimate or byte equality. 2ε keeps the ~27 pinned
    * flags safe across driver data regenerations (measured max
    * deviation ≈ 1.0ε over 1200 merged-sketch checks). */
  def q29KllRollup(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.KllSketchAgg
    val e = events(spark, dir)
      .select(
        date_trunc("week", col("ts")).cast("date").cast("string").as("wk"),
        cents(col("value")).as("v"))
      .filter(col("v").isNotNull)
    // daily KLL sketches from the warehouse (the q28 note): n_values > 0
    // keeps the day-group set identical to the filtered in-session
    // grouping (an all-null day would carry an empty sketch)
    val weekly = Stages.sketchDaily(spark, dir)
      .filter(col("n_values") > 0L)
      .select(col("wk"), col("kll_value").as("sk"))
      .groupBy(col("wk")).agg(KllSketchAgg.kllMerge(col("sk")).as("sk"))
    val wkSketch = weekly.collect()
      .map(r => r.getString(0) -> r.getAs[Array[Byte]](1)).toSeq.sortBy(_._1)
    val totalSketch = weekly.agg(KllSketchAgg.kllMerge(col("sk")).as("sk"))
      .collect()(0).getAs[Array[Byte]](0)
    val ps = Seq(50L -> 0.5, 90L -> 0.9, 99L -> 0.99)
    // integer slack in basis points: |c·10000 − pct_bp·n| ≤ slackBp·n
    val slackBp = math.ceil(2 * KllSketchAgg.epsilon() * 10000).toLong
    val thrDf = spark.createDataFrame(
        wkSketch.map { case (wk, sk) =>
          (wk, KllSketchAgg.quantile(sk, 0.5), KllSketchAgg.quantile(sk, 0.9),
            KllSketchAgg.quantile(sk, 0.99))
        })
      .toDF("wk", "q50", "q90", "q99")
    val Seq(t50, t90, t99) = ps.map(p => KllSketchAgg.quantile(totalSketch, p._2))
    val le = (q: org.apache.spark.sql.Column) => sum((col("v") <= q).cast("long"))
    val lt = (q: org.apache.spark.sql.Column) => sum((col("v") < q).cast("long"))
    val perWeek = e.join(broadcast(thrDf), "wk")
      .groupBy(col("wk"))
      .agg(count(lit(1)).as("n"),
        lt(col("q50")), le(col("q50")), lt(col("q90")), le(col("q90")),
        lt(col("q99")), le(col("q99")),
        lt(lit(t50)), le(lit(t50)), lt(lit(t90)), le(lit(t90)),
        lt(lit(t99)), le(lit(t99)))
      .collect()
      .map(r => (r.getString(0), r.getLong(1),
        (2 to 7 by 2).map(i => (r.getLong(i), r.getLong(i + 1))),
        (8 to 13 by 2).map(i => (r.getLong(i), r.getLong(i + 1)))))
    // tie-aware: [count(<q), count(≤q)] must intersect [p−2ε, p+2ε]
    val inBound = (cLt: Long, cLe: Long, pctBp: Long, n: Long) =>
      if (cLt * 10000L <= (pctBp + slackBp) * n &&
        cLe * 10000L >= (pctBp - slackBp) * n) 1L else 0L
    val weekRows = perWeek.flatMap { case (wk, n, own, _) =>
      ps.map(_._1).zip(own).map { case (pct, (cLt, cLe)) =>
        (wk, pct, n, inBound(cLt, cLe, pct * 100, n))
      }
    }
    val nTot = perWeek.map(_._2).sum
    val totalRows = ps.map(_._1).zipWithIndex.map { case (pct, i) =>
      ("total", pct, nTot,
        inBound(perWeek.map(_._4(i)._1).sum, perWeek.map(_._4(i)._2).sum, pct * 100, nTot))
    }
    spark.createDataFrame((weekRows ++ totalRows).toSeq)
      .toDF("wk", "pct", "n", "in_bound")
      .orderBy("wk", "pct")
  }

  /** The daily sketch-warehouse table — ONE pass over the event log
    * yielding every per-day mergeable summary the rollup family needs:
    * (wk, d, n_events, n_values, hll_users, kll_value). q28 rolls the
    * HLL column up to weekly/all-time distincts, q29 the KLL column to
    * quantiles; the counts make the store auditable (x74's expected
    * rows) and let q29 reproduce its null-filtered day grouping
    * (`n_values > 0`) without re-deriving. The KLL aggregate skips
    * nulls, so one unfiltered grouping serves both columns. */
  private[graft] def sketchDailyUnstaged(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.KllSketchAgg
    events(spark, dir).select(
        date_trunc("week", col("ts")).cast("date").cast("string").as("wk"),
        to_date(col("ts")).as("d"),
        col("user_id"), cents(col("value")).as("v"))
      .groupBy(col("wk"), col("d"))
      .agg(count(lit(1)).as("n_events"),
        count(col("v")).as("n_values"),
        hll_sketch_agg(col("user_id")).as("hll_users"),
        KllSketchAgg.kllSketch(col("v")).as("kll_value"))
  }

  /** Persist the daily sketch warehouse — the NINTH stored-governance
    * artifact, and the first on the EVENTS axis: q28/q29's rollups are
    * exactly the queries a deployment answers from stored sketches
    * instead of history rescans, so the stored table is the artifact —
    * until this store the specs round-tripped bare parquet while every
    * session rebuilt the dailies from the raw log. Point
    * `spark.graft.sketchPath` (or SPARK_GRAFT_SKETCH_PATH) at the
    * written path and [[Stages.sketchDaily]] serves it to q28 and q29,
    * stamp-validated ([[Artifacts]]), loud on missing/wrong/stale. The
    * freeze boundary is the log head (`max_day`, yyyymmdd) — the axis
    * x74 audits this store against. */
  def persistSketchDaily(spark: SparkSession, dir: String, path: String): Unit = {
    val mxDay = events(spark, dir)
      .agg(max(date_format(to_date(col("ts")), "yyyyMMdd").cast("long")))
      .collect()(0).getLong(0) // 1 row — the log head, stamped for x74
    Artifacts.writeStamped(spark, sketchDailyUnstaged(spark, dir), path,
      Artifacts.Sketches.key, Map(Artifacts.Sketches.prop -> mxDay.toString))
  }

  /** q30: weekly cohort retention — the event-log staple: users
    * cohorted by their FIRST active week, then counted distinct per
    * (cohort, week-offset) cell. The denominator (cohort size) is the
    * offset-0 cell by construction (a user is always active in their
    * first week), and retention is emitted as an exact per-mille
    * integer, never a raw double ratio.
    *
    * Plan shape at 100 TB: one distinct over (user, week) — the only
    * corpus-sized shuffle — then min-per-user (same user partitioning,
    * exchange reused), a user-keyed equi-join back, and a
    * (cohort × offset) rollup whose group count is bounded by
    * #weeks² — map-side combinable, never user-cardinality. No window,
    * no self-join over raw events. */
  def q30Retention(spark: SparkSession, dir: String): DataFrame = {
    val uw = events(spark, dir)
      .select(col("user_id"), date_trunc("week", col("ts")).cast("date").as("wkd"))
      .distinct()
    val cohort = uw.groupBy(col("user_id")).agg(min(col("wkd")).as("cw"))
    val cells = uw.join(cohort, "user_id")
      .groupBy(col("cw"), (datediff(col("wkd"), col("cw")) / 7).cast("long").as("off"))
      .agg(countDistinct(col("user_id")).as("n_active"))
    val sizes = cells.filter(col("off") === 0L)
      .select(col("cw"), col("n_active").as("n_cohort"))
    cells.join(sizes, "cw")
      .select(col("cw").cast("string").as("cohort_wk"), col("off"),
        col("n_cohort"), col("n_active"),
        Tables.fdiv(lit(1000L) * col("n_active"), col("n_cohort")).as("retained_per_1000"))
      .orderBy("cohort_wk", "off")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q9_distinct" -> q9Distinct,
    "q29_kll_rollup" -> q29KllRollup,
    "q30_retention" -> q30Retention,
    "q28_hll_rollup" -> q28HllRollup,
    "q28b_cms_counts" -> q28bCmsCounts,
    "q28c_theta_overlap" -> q28cThetaOverlap,
    "q27_freq_items" -> q27FreqItems,
    "q27b_freq_deep" -> q27bFreqDeep,
    "q27c_freq_grouped" -> q27cFreqGrouped,
    "q11b_cube" -> q11bCube,
    "q11c_grouping_sets" -> q11cGroupingSets,
    "q17_quantiles" -> q17Quantiles,
    "q17b_approx_quantiles" -> q17bApproxQuantiles,
    "q18_stats" -> q18Stats,
    "q18b_corr" -> q18bCorr,
    "q19_pivot" -> q19Pivot,
    "q20_unpivot" -> q20Unpivot,
    "q9b_approx_distinct" -> q9bApproxDistinct,
    "q10_setops" -> q10SetOps,
    "q11_rollup" -> q11Rollup)

  val oracle: Map[String, String] = Map(
    "q28c_theta_overlap" ->
      """WITH e AS (SELECT DISTINCT CAST(date_trunc('week', ts) AS DATE) AS wkd, user_id FROM events),
        |w AS (SELECT DISTINCT wkd FROM e),
        |p AS (SELECT wkd AS a, wkd + 7 AS b FROM w WHERE wkd + 7 IN (SELECT wkd FROM w)),
        |x AS (SELECT p.a, p.b, count(eb.user_id) AS n_both
        |      FROM p JOIN e ea ON ea.wkd = p.a
        |      LEFT JOIN e eb ON eb.wkd = p.b AND eb.user_id = ea.user_id
        |      GROUP BY p.a, p.b)
        |SELECT CAST(a AS VARCHAR) AS wk, CAST(b AS VARCHAR) AS wk_next,
        |  CAST(n_both AS BIGINT) AS n_both, CAST(1 AS BIGINT) AS in_bound
        |FROM x ORDER BY wk""".stripMargin,
    "q28b_cms_counts" ->
      """WITH c AS (SELECT user_id, count(*) AS cnt FROM events GROUP BY user_id),
        |t AS (SELECT user_id, cnt FROM c ORDER BY cnt DESC, user_id LIMIT 20)
        |SELECT user_id, CAST(cnt AS BIGINT) AS cnt,
        |  CAST(1 AS BIGINT) AS over_ok, CAST(1 AS BIGINT) AS within_bound
        |FROM t ORDER BY user_id""".stripMargin,
    "q30_retention" ->
      s"""WITH uw AS (SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS wkd FROM events),
        |c AS (SELECT user_id, min(wkd) AS cw FROM uw GROUP BY user_id),
        |cells AS (SELECT cw, (wkd - cw) // 7 AS off, count(DISTINCT uw.user_id) AS n_active
        |          FROM uw JOIN c USING (user_id) GROUP BY cw, (wkd - cw) // 7),
        |s AS (SELECT cw, n_active AS n_cohort FROM cells WHERE off = 0)
        |SELECT CAST(cells.cw AS VARCHAR) AS cohort_wk, CAST(off AS BIGINT) AS off,
        |       CAST(n_cohort AS BIGINT) AS n_cohort, CAST(n_active AS BIGINT) AS n_active,
        |       ${Tables.fdivSql("1000 * n_active", "n_cohort")} AS retained_per_1000
        |FROM cells JOIN s USING (cw) ORDER BY cohort_wk, off""".stripMargin,
    "q29_kll_rollup" ->
      """WITH w AS (SELECT CAST(CAST(date_trunc('week', ts) AS DATE) AS VARCHAR) AS wk, count(*) AS n
        |           FROM events WHERE value IS NOT NULL GROUP BY 1
        |           UNION ALL
        |           SELECT 'total', count(*) FROM events WHERE value IS NOT NULL)
        |SELECT wk, CAST(p.pct AS BIGINT) AS pct, CAST(n AS BIGINT) AS n, CAST(1 AS BIGINT) AS in_bound
        |FROM w CROSS JOIN (VALUES (50), (90), (99)) AS p(pct)
        |ORDER BY wk, pct""".stripMargin,
    "q28_hll_rollup" ->
      """WITH e AS (SELECT CAST(CAST(date_trunc('week', ts) AS DATE) AS VARCHAR) AS wk, user_id FROM events),
        |u AS (SELECT wk, count(DISTINCT user_id) AS n_users FROM e GROUP BY wk
        |      UNION ALL SELECT 'total', count(DISTINCT user_id) FROM e)
        |SELECT wk, CAST(n_users AS BIGINT) AS n_users, CAST(1 AS BIGINT) AS in_bound
        |FROM u ORDER BY wk""".stripMargin,
    "q27_freq_items" ->
      """WITH d AS (SELECT string_split(text, ' ') AS w FROM documents WHERE len(string_split(text, ' ')) >= 2),
        |t AS (SELECT unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i + 1])) AS bg FROM d),
        |c AS (SELECT bg, count(*) AS cnt FROM t GROUP BY bg),
        |n AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_total FROM c)
        |SELECT bg, cnt, CAST(1 AS BIGINT) AS in_sketch
        |FROM c WHERE cnt * 10000 > (SELECT n_total FROM n) * 15
        |ORDER BY bg""".stripMargin,
    "q27b_freq_deep" ->
      """WITH d AS (SELECT string_split(text, ' ') AS w FROM documents WHERE len(string_split(text, ' ')) >= 2),
        |t AS (SELECT unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i + 1])) AS bg FROM d),
        |c AS (SELECT bg, count(*) AS cnt FROM t GROUP BY bg),
        |n AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_total FROM c)
        |SELECT bg, cnt, CAST(1 AS BIGINT) AS in_sketch
        |FROM c WHERE cnt * 100000 > (SELECT n_total FROM n) * 5
        |ORDER BY bg""".stripMargin,
    "q27c_freq_grouped" ->
      """WITH d AS (SELECT lang, string_split(text, ' ') AS w FROM documents WHERE len(string_split(text, ' ')) >= 2),
        |t AS (SELECT lang, unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i + 1])) AS bg FROM d),
        |c AS (SELECT lang, bg, count(*) AS cnt FROM t GROUP BY lang, bg),
        |n AS (SELECT lang, CAST(sum(cnt) AS BIGINT) AS n_total FROM c GROUP BY lang)
        |SELECT c.lang, bg, cnt, CAST(1 AS BIGINT) AS in_sketch
        |FROM c JOIN n ON c.lang = n.lang
        |WHERE cnt * 10000 > n_total * 5
        |ORDER BY c.lang, bg""".stripMargin,
    "q9_distinct" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_part,
        |  count(DISTINCT l_suppkey) AS n_supp, count(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q9b_approx_distinct" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_part,
        |  count(DISTINCT l_suppkey) AS n_supp,
        |  CAST(1 AS INTEGER) AS part_in_bound, CAST(1 AS INTEGER) AS supp_in_bound
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q17_quantiles" ->
      s"""SELECT l_returnflag,
         |  ${centsSql("quantile_cont(l_quantity, 0.5)")} AS p50_c,
         |  ${centsSql("quantile_cont(l_quantity, 0.9)")} AS p90_c,
         |  count(*) AS n
         |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q17b_approx_quantiles" ->
      s"""SELECT l_returnflag,
         |  ${centsSql("quantile_cont(l_quantity, 0.5)")} AS p50_c,
         |  count(*) AS n,
         |  CAST(1 AS BIGINT) AS sketch_in_bound
         |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q18_stats" ->
      s"""WITH s AS (SELECT l_returnflag,
         |  sum(${centsSql("l_quantity")}) AS s1,
         |  sum(${centsSql("l_quantity")} * ${centsSql("l_quantity")}) AS s2,
         |  count(*) AS n
         |FROM lineitem GROUP BY l_returnflag)
         |SELECT l_returnflag,
         |  CAST(s1 // n AS BIGINT) AS mean_c,
         |  CASE WHEN n <= 1 THEN -1
         |       ELSE CAST((n * s2 - s1 * s1) // (n * (n - 1)) AS BIGINT) END AS var_c2,
         |  CAST(n AS BIGINT) AS n
         |FROM s ORDER BY l_returnflag""".stripMargin,
    "q18b_corr" ->
      s"""WITH s AS (SELECT l_returnflag,
         |  sum(${centsSql("l_quantity")}) AS sx,
         |  sum(${centsSql("l_extendedprice")}) AS sy,
         |  sum(${centsSql("l_quantity")} * ${centsSql("l_extendedprice")}) AS sxy,
         |  sum(${centsSql("l_quantity")} * ${centsSql("l_quantity")}) AS sxx,
         |  sum(${centsSql("l_extendedprice")} * ${centsSql("l_extendedprice")}) AS syy,
         |  count(*) AS n
         |FROM lineitem GROUP BY l_returnflag)
         |SELECT l_returnflag,
         |  CASE WHEN CAST(n * sxx - sx * sx AS DOUBLE) * CAST(n * syy - sy * sy AS DOUBLE) <= 0 THEN -10001
         |       ELSE ${scaled4Sql("CAST(n * sxy - sx * sy AS DOUBLE) / sqrt(CAST(n * sxx - sx * sx AS DOUBLE) * CAST(n * syy - sy * sy AS DOUBLE))")} END AS corr_s4,
         |  CAST(n AS BIGINT) AS n
         |FROM s ORDER BY l_returnflag""".stripMargin,
    "q19_pivot" ->
      """SELECT user_id,
        |  CAST(count(*) FILTER (event_type = 'click') AS BIGINT) AS click,
        |  CAST(count(*) FILTER (event_type = 'error') AS BIGINT) AS error,
        |  CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT) AS purchase,
        |  CAST(count(*) FILTER (event_type = 'signup') AS BIGINT) AS signup,
        |  CAST(count(*) FILTER (event_type = 'view') AS BIGINT) AS view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q20_unpivot" -> {
      def m(name: String) =
        s"SELECT l_orderkey, '${name}_c' AS measure, ${centsSql(s"l_$name")} AS value_c FROM lineitem"
      s"""WITH long AS (${m("quantity")} UNION ALL ${m("extendedprice")} UNION ALL ${m("discount")})
         |SELECT measure, CAST(sum(value_c) AS BIGINT) AS total_c, count(*) AS n
         |FROM long GROUP BY measure ORDER BY measure""".stripMargin
    },
    "q10_setops" ->
      """WITH a AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1995),
        |b AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1996)
        |SELECT 'union' AS kind, o_custkey FROM (SELECT o_custkey FROM a UNION SELECT o_custkey FROM b)
        |UNION ALL
        |SELECT 'intersect' AS kind, o_custkey FROM (SELECT o_custkey FROM a INTERSECT SELECT o_custkey FROM b)
        |UNION ALL
        |SELECT 'except' AS kind, o_custkey FROM (SELECT o_custkey FROM a EXCEPT SELECT o_custkey FROM b)
        |ORDER BY kind, o_custkey""".stripMargin,
    "q11_rollup" ->
      s"""SELECT coalesce(l_returnflag, 'ALL') AS rf, coalesce(l_linestatus, 'ALL') AS ls,
         |  CAST(sum(${centsSql("l_quantity")}) AS BIGINT) AS qty_c, count(*) AS n
         |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
         |ORDER BY rf, ls""".stripMargin,
    "q11b_cube" ->
      s"""SELECT coalesce(l_returnflag, 'ALL') AS rf, coalesce(l_linestatus, 'ALL') AS ls,
         |  CAST(sum(${centsSql("l_quantity")}) AS BIGINT) AS qty_c, count(*) AS n
         |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
         |ORDER BY rf, ls""".stripMargin,
    "q11c_grouping_sets" ->
      s"""SELECT coalesce(l_returnflag, 'ALL') AS rf, coalesce(l_linestatus, 'ALL') AS ls,
         |  CAST(sum(${centsSql("l_quantity")}) AS BIGINT) AS qty_c, count(*) AS n
         |FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
         |ORDER BY rf, ls""".stripMargin)
}
