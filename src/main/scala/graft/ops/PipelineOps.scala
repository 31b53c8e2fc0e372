package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.model.Tables

/** X-series training-data-pipeline operators beyond the round-1 surface:
  * document chunking, TF-IDF term scoring, deterministic stratified
  * sampling, and int8 embedding quantization — the remaining preprocessing
  * stages a large-scale LLM data pipeline runs between raw corpus and
  * training shards.
  *
  * Cross-engine determinism notes (same rules as the rest of the repo):
  * no transcendentals in scored outputs (libm's ln/log are not guaranteed
  * bit-identical across engines, so x19 uses an exact integer idf
  * surrogate), md5 is the only shared hash (x20's sampling key), rounding
  * is round-half-away-from-zero in both engines (x21), and every floor
  * division removes the remainder first so the quotient is
  * convention-independent.
  *
  * Scale notes (100 TB posture): chunking and quantization are pure
  * per-row maps (no shuffle, fully codegen-able except the documented
  * HOF aggregates); TF-IDF is two hash aggregations sharing the term key
  * plus a broadcast scalar; stratified sampling is a map-side filter on a
  * hash — the classic shuffle-free deterministic sampler — followed by a
  * tiny per-stratum count.
  */
object PipelineOps {
  import Tables._

  /** Tokens of `text` (corpus is single-space separated) — shared
    * definition with [[TextOps.toks]]. */
  private def toks(c: Column): Column = TextOps.toks(c)

  // ---- x18: document chunking ----

  /** Token-window chunking: size 50, stride 40 (10-token overlap). */
  private val chunkSize = 50
  private val chunkStride = 40

  /** x18: split each document into overlapping token windows — the shard
    * layout step before tokenization. One chunk per window start
    * 1, 1+stride, 1+2·stride, … ≤ n_tok; the last window may be short.
    * Emits window geometry + boundary tokens (the cheap verifiable
    * projection of the chunk text). Pure per-row explode — no shuffle;
    * at 100 TB this is the map stage ahead of a shard writer. */
  def x18Chunking(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .select(col("doc_id"), toks(col("text")).as("w"))
      .withColumn("n", size(col("w")).cast(LongType))
      .select(col("doc_id"), col("n"), col("w"),
        explode(sequence(lit(1L), col("n"), lit(chunkStride.toLong))).as("s"))
      .select(
        col("doc_id"),
        fdiv(col("s") - 1, lit(chunkStride.toLong)).as("chunk_id"),
        col("s").as("chunk_start"),
        (least(col("n"), col("s") + (chunkSize - 1)) - col("s") + 1).as("n_tok_chunk"),
        element_at(col("w"), col("s").cast("int")).as("first_tok"),
        element_at(col("w"), least(col("n"), col("s") + (chunkSize - 1)).cast("int")).as("last_tok"))
      .orderBy("doc_id", "chunk_id")

  // ---- x19: TF-IDF top terms ----

  /** x19: top-3 terms per document by tf·idf. The idf is the exact
    * integer surrogate floor(1000·N/df) (ln is not cross-engine
    * bit-stable; the ranking behavior — rare terms up, boilerplate down —
    * is identical), so every score is exact integer math. Two hash
    * aggregations share the term key; N is a broadcast scalar. Ties
    * break on term asc. */
  def x19Tfidf(spark: SparkSession, dir: String): DataFrame = {
    val tok = documents(spark, dir)
      .select(col("doc_id"), explode(toks(col("text"))).as("t"))
    val tf = tok.groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("tf"))
    val df = tok.select(col("doc_id"), col("t")).distinct()
      .groupBy(col("t")).agg(count(lit(1)).as("df"))
    val n = documents(spark, dir).agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(df, "t").crossJoin(broadcast(n))
      .select(col("doc_id"), col("t"),
        (col("tf") * fdiv(lit(1000L) * col("n_docs"), col("df"))).as("tfidf_x1000"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("tfidf_x1000").desc, col("t").asc)
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("doc_id"), col("rn").cast(LongType).as("rn"),
        col("t").as("term"), col("tfidf_x1000"))
      .orderBy("doc_id", "rn")
  }

  // ---- x44: reproducible fixed-size per-group sample ----

  /** x44: k sample documents per (lang, source) cell — the QA /
    * eyeballing / labeling draw every corpus report needs, as BOTTOM-k
    * priority sampling: keep the k smallest md5-derived priorities per
    * group (min-wise hashing — a uniform sample of the cell, and unlike
    * rand() the SAME sample on every engine, every run, any
    * partitioning). Complements x20: x20's hash-threshold filter yields
    * a fixed RATE (size ∝ stratum); this yields a fixed SIZE per cell
    * regardless of skew — the shape you want when humans read the rows.
    *
    * Spark side: the same mergeable bounded-heap aggregate as x42
    * ([[graft.functions.TopKByAgg]]) on the NEGATED 48-bit hash
    * priority — map-side partials keep ≤k pairs per group × task, only
    * those cross the shuffle, nothing sorts, and the count rides the
    * same ObjectHashAggregate pass. At 100 TB the alternatives are a
    * per-group window sort (full shuffle + sort of the corpus) or
    * TABLESAMPLE (neither per-group nor reproducible); this is the
    * bounded mergeable form. Ties are broken doc_id-ascending in both
    * engines (48-bit priorities make them ~impossible anyway), so the
    * draw is deterministic and hash-gateable. */
  def x44GroupSample(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TopKByAgg.topkBy
    val k = 3
    val d = documents(spark, dir).select(col("lang"), col("source"), col("doc_id"),
      // top 48 md5 bits (first 12 hex chars), non-negative — negation
      // turns topk_by's max-heap into bottom-k-by-hash
      shiftrightunsigned(
        graft.functions.HashFunctions.md5Long(col("doc_id").cast("string"), 0), 16).as("h48"))
    d.groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"), topkBy(-col("h48"), col("doc_id"), k).as("tk"))
      .select(col("lang"), col("source"), col("n_docs"), posexplode(col("tk")))
      .select(col("lang"), col("source"), col("n_docs"),
        (col("pos") + 1).cast(LongType).as("rnk"),
        col("col.tag").as("doc_id"), (-col("col.ord")).as("h48"))
      .orderBy("lang", "source", "rnk")
  }

  // ---- x20: deterministic stratified sampling ----

  /** Per-stratum keep-rate: first 16 md5 bits of the doc id under this
    * threshold ⇒ kept. 13107/65536 ≈ 20%. */
  private val sampleThreshold = 13107L

  /** x20: stratified (per-language) deterministic sample — the
    * shuffle-free sampler: keep iff hash16(doc_id) < threshold, then
    * count kept/total per stratum. Hash sampling is reproducible across
    * runs AND engines (md5 is the shared hash), needs no state, and at
    * 100 TB is a map-side filter the scan absorbs. */
  def x20StratifiedSample(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .select(col("lang"),
        // first 16 md5 bits via the native digest expression (≡ the
        // oracle's hex-parse derivation); shared helper with x30/x31
        h16(col("doc_id")).as("h16"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_total"),
        sum(when(col("h16") < sampleThreshold, 1L).otherwise(0L)).as("n_kept"))
      .select(col("lang"), col("n_total"), col("n_kept"),
        fdiv(lit(1000L) * col("n_kept"), col("n_total")).as("kept_per_1000"))
      .orderBy("lang")

  // ---- x21: int8 embedding quantization ----

  /** x21: symmetric int8 quantization per vector — q_i =
    * round(127·x_i/amax) with amax = max|x_i| — plus integer checksums of
    * the quantized codes (dimension, 1e-4-scaled amax, code sum, code
    * extrema, first code). amax is a comparison (order-independent),
    * x_i/amax·127 a single double op chain, round half-away in both
    * engines, and the code sum is integer — all deterministic. Pure
    * per-row map over the array; the zero vector quantizes to all-zero
    * codes (guarded, no division by zero). */
  def x21EmbedQuant(spark: SparkSession, dir: String): DataFrame = {
    val vd = transform(col("embedding"), x => x.cast("double"))
    val amax = array_max(transform(vd, x => abs(x)))
    val q = transform(vd, x =>
      when(col("amax") === 0d, 0L)
        .otherwise(greatest(lit(-127L), least(lit(127L),
          round(x * 127d / col("amax")).cast(LongType)))))
    embeddings(spark, dir)
      .withColumn("amax", amax)
      .withColumn("q", q)
      .select(
        col("vec_id"),
        size(col("q")).cast(LongType).as("dim"),
        scaled4(col("amax")).as("amax_s4"),
        aggregate(col("q"), lit(0L), (acc, x) => acc + x).as("q_sum"),
        array_min(col("q")).as("q_min"),
        array_max(col("q")).as("q_max"),
        element_at(col("q"), 1).as("q1"))
      .orderBy("vec_id")
  }

  // ---- x22: denylist redaction ----

  /** Terms scrubbed by x22 (stand-ins for a PII denylist — the corpus is
    * synthetic word text, so the demonstration list is two frequent
    * terms; swapping in a real entity list changes nothing structural). */
  private val redactList = Seq("customer", "value")
  private val redactedMark = "[REDACTED]"

  /** x22: scrubbing pass — replace denylisted tokens, count the
    * replacements, fingerprint the scrubbed text. Token-level transform
    * (split → map → join), NOT a regex: Java and RE2 regex dialects can
    * disagree at edges, token equality cannot. Pure per-row map; at
    * 100 TB this is the PII-scrub stage fused into the scan. */
  def x22Redact(spark: SparkSession, dir: String): DataFrame = {
    val w = toks(col("text"))
    val scrubbed = array_join(
      transform(w, t => when(t.isInCollection(redactList), lit(redactedMark)).otherwise(t)),
      " ")
    documents(spark, dir)
      .select(col("doc_id"),
        size(filter(w, t => t.isInCollection(redactList))).cast(LongType).as("n_redacted"),
        md5(scrubbed).as("scrubbed_md5"))
      .orderBy("doc_id")
  }

  // ---- x52: structural PII scan ----

  private val piiMark = "[PII]"

  /** The deterministic PII overlay x52 scans: the corpus is synthetic
    * digit-free word text (no real PII, by construction), so each doc
    * gets ONE appended PII-shaped token derived from its doc_id —
    * doc_id%3 picks email / phone / IPv4 — built identically in the
    * oracle SQL. The corpus tokens are the negatives (a detector that
    * ever fires on them breaks the hash gate); the overlay is the
    * positives. Swapping in real text changes nothing structural. */
  private def piiSuffix: Column =
    when(col("doc_id") % 3 === 0,
      concat(lit(" user"), col("doc_id").cast("string"), lit("@mail.example.com")))
      .when(col("doc_id") % 3 === 1,
        concat(lit(" +1-555-"), lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
      .otherwise(concat(lit(" 10."), (col("doc_id") % 256).cast("string"),
        lit("."), (col("doc_id") % 256).cast("string"), lit(".7")))

  /** Structural (token-shape) PII detectors — deliberately NOT regexes:
    * Java and RE2 dialects can disagree at edges (the x22 rule), while
    * contains/split_part/translate/length have one semantics in both
    * engines. Email = has '@' and a '.' after it; phone = '+' prefix,
    * ≥8 chars, digits/+/- only; IPv4 = digits/dots only, exactly four
    * 1–3 digit groups. */
  private def isEmail(t: Column): Column =
    t.contains("@") && split_part(t, lit("@"), lit(2)).contains(".")
  private def isPhone(t: Column): Column =
    t.startsWith("+") && length(t) >= 8 && translate(t, "0123456789+-", "") === ""
  private def isIp(t: Column): Column =
    translate(t, "0123456789.", "") === "" &&
      size(split(t, "[.]")) === 4 &&
      size(filter(split(t, "[.]"), p => length(p).between(1, 3))) === 4

  /** x52: PII scan + scrub — the regulatory-floor pass every corpus
    * release runs (x22 scrubs a KNOWN entity denylist; x52 finds
    * UNKNOWN structurally-PII-shaped tokens). Per doc: counts per PII
    * class over every token of the overlaid text and the md5 of the
    * scrubbed text with each hit replaced by `[PII]`. Pure per-row
    * codegen'd HOF chain (split → filter/transform → array_join) — no
    * shuffle, no UDF; at 100 TB this fuses into the scan like x22. */
  def x52PiiScan(spark: SparkSession, dir: String): DataFrame = {
    val w = toks(concat(col("text"), piiSuffix))
    val isPii = (t: Column) => isEmail(t) || isPhone(t) || isIp(t)
    val scrubbed = array_join(
      transform(w, t => when(isPii(t), lit(piiMark)).otherwise(t)), " ")
    documents(spark, dir)
      .select(col("doc_id"),
        size(filter(w, t => isEmail(t))).cast(LongType).as("n_email"),
        size(filter(w, t => isPhone(t))).cast(LongType).as("n_phone"),
        size(filter(w, t => isIp(t))).cast(LongType).as("n_ip"),
        md5(scrubbed).as("scrubbed_md5"))
      .orderBy("doc_id")
  }

  // ---- x23: SimHash near-dup pairs ----

  /** x23's Hamming radius and its exact pigeonhole banding: a pair
    * within Hamming ≤ 3 of a 64-bit fingerprint differs in at most 3 of
    * the 4 disjoint 16-bit slices, so it MUST match on at least one —
    * the slice equi-join loses nothing at this radius (unlike x14's
    * probabilistic bands). x7's 16-bit fingerprint saturates on a
    * shared-vocabulary corpus (3.6% of all pairs within Hamming 1), so
    * x23 builds the standard 64-bit simhash: bit j of a token is bit
    * (j mod 4) of md5 hex nibble (j div 4). */
  private val x23MaxHamming = 3
  private val x23Bands = x23MaxHamming + 1
  // a slice per band must tile the 64-bit fingerprint exactly, or the
  // pigeonhole guarantee (and Spark-vs-DuckDB shift parity: Java wraps
  // shift amounts mod 64, DuckDB doesn't) silently breaks
  require(x23Bands * 16 == 64,
    s"x23 banding must tile 64 bits in 16-bit slices; got $x23Bands bands")

  /** The 64-bit per-document simhash frame (doc_id, sh) — the native
    * per-row expression (graft.functions.SimhashBits: bit j of a token =
    * bit (j mod 4) of md5 hex nibble (j div 4)): zero-shuffle, where the
    * previous column-wise aggregation ([[x23FingerprintsAggForm]], kept
    * as the equivalence reference) exploded tokens and shuffled on
    * doc_id. Split out so the pigeonhole-exactness property of x23 is
    * testable against a driver-side brute force. */
  private[graft] def x23Fingerprints(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .select(col("doc_id"),
        graft.functions.SimhashFunctions.simhashBits(
          graft.ops.TextOps.toks(col("text")), 64).as("sh"))

  /** The column-wise aggregation formulation — equivalence reference. */
  private[graft] def x23FingerprintsAggForm(spark: SparkSession, dir: String): DataFrame =
    TextOps.simhashAgg(
      TextOps.tokHash64(spark, dir),
      nBits = 64,
      contrib = j =>
        when(graft.functions.HashFunctions.md5Nibble(col("h0"), j / 4)
          .bitwiseAND(lit(1L << (j % 4))) =!= 0L, 1L).otherwise(-1L))

  /** Occupancy guard on x23's band buckets. x23's pigeonhole banding is
    * EXACT — dropping a hot bucket (x13's df-cap fix) would silently
    * lose true pairs, so the honest behavior on a degenerate corpus (one
    * 16-bit slice shared by d documents — a near-identical boilerplate
    * flood makes the bucket join C(d,2)-quadratic) is to FAIL LOUDLY and
    * tell the operator to widen the slices or pre-dedup, not to return a
    * silently-incomplete answer or grind through the quadratic. The
    * check rides the same (band, h) exchange the pairing needs, and
    * fires before any posting-list buffer materializes. */
  private[ops] val x23BucketGuard = 4096L

  /** x23: near-dup pairs by 64-bit SimHash Hamming distance ≤ 3 — the
    * dedup USE of simhash fingerprints (x7 exposes the fingerprint
    * itself). One token pass builds 64 ±1 contribution sums (map-side
    * combinable wide aggregate); candidates come from the 4-slice
    * pigeonhole bucketing; verification is bit_count(xor), identical
    * two's-complement integer ops in both engines. */
  def x23SimhashNeardup(spark: SparkSession, dir: String): DataFrame =
    x23PairsOnFp(x23Fingerprints(spark, dir))

  /** x23's banding + pairing over any (doc_id, sh) fingerprint frame —
    * split out so the occupancy guard is testable on a synthetic
    * degenerate corpus.
    *
    * Shape: an inverted index like x2/x13, NOT a self-join — the
    * fingerprint subtree (token explode → 64-column simhash agg)
    * executes ONCE, where the previous a-join-b formulation re-executed
    * it per join side. Posting lists carry (doc_id, sh) structs so the
    * Hamming verify runs inside the pair explode with no join-back;
    * sort_array orders by the leading doc_id field, so enumeration is
    * already strict d1 < d2. A pair sharing several band slices appears
    * once per shared slice — distinct collapses them, exactly as the
    * oracle's DISTINCT does. */
  private[graft] def x23PairsOnFp(fp: DataFrame): DataFrame = {
    val keyed = fp.select(col("doc_id"), col("sh"), explode(array(
        (0 until x23Bands).map(b => struct(lit(b.toLong).as("band"),
          shiftright(col("sh"), 16 * b).bitwiseAND(lit(0xFFFFL)).as("h"))): _*)).as("k"))
      .select(col("doc_id"), col("sh"), col("k.band").as("band"), col("k.h").as("h"))
    val wB = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band"), col("h"))
    // the guard lives in the df column the ≥2 filter consumes, so the
    // optimizer cannot prune it: a hot bucket raises before any list
    // materializes, a healthy one passes its occupancy through
    val posting = keyed
      .withColumn("df", count(lit(1)).over(wB))
      .withColumn("df",
        when(col("df") <= x23BucketGuard, col("df"))
          .otherwise(raise_error(format_string(
            "x23_simhash_neardup: band bucket occupancy %s exceeds the exactness guard " +
              s"$x23BucketGuard — degenerate near-identical flood; pre-dedup (x1) or widen the slices",
            col("df"))).cast(LongType)))
      .filter(col("df") >= 2)
      .groupBy(col("band"), col("h"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("sh")))).as("ds"))
    posting
      .select(explode(flatten(transform(col("ds"), (a, i) =>
        transform(
          slice(col("ds"), i + 2, size(col("ds")) - i - 1),
          b => struct(a.getField("doc_id").as("d1"), b.getField("doc_id").as("d2"),
            bit_count(a.getField("sh").bitwiseXOR(b.getField("sh")))
              .cast(LongType).as("hamming")))))).as("p"))
      .select(col("p.d1").as("d1"), col("p.d2").as("d2"), col("p.hamming").as("hamming"))
      .distinct()
      .filter(col("hamming") <= x23MaxHamming)
      .orderBy("d1", "d2")
  }

  // ---- x24: near-dup clusters (connected components) ----

  /** Iteration cap for x24's star contraction — convergence needs
    * O(log n) alternating rounds (Kiveris et al.), so 50 covers any
    * graph that fits in an exabyte; the cap only guards a logic error
    * (the run fails loudly rather than returning a half-converged
    * labeling). */
  private val ccMaxIters = 50

  /** x24: duplicate-cluster assignment — connected components over the
    * x13 MinHash-LSH candidate graph, labeling every document with the
    * smallest doc_id reachable through shared-band pairs (singletons
    * label themselves). This is the step that turns pairwise near-dup
    * evidence into "keep one per cluster" decisions.
    *
    * Spark side: alternating large-star/small-star contraction to the
    * star-forest FIXPOINT (see [[connectedComponents]]) — O(log n)
    * rounds independent of component diameter, with the edge set
    * contracting every round instead of being re-joined at full size. The
    * DuckDB oracle computes the same labeling as a recursive
    * transitive-closure CTE — an independent derivation that agrees
    * exactly BECAUSE min-reachable labelings are unique.
    *
    * Reads the [[Stages.x24Labels]] materialized stage (itself built
    * from the x13 pair stage) — the fixpoint runs once per session and
    * x35's canonical pick reads the same labels. */
  def x24DedupClusters(spark: SparkSession, dir: String): DataFrame =
    Stages.x24Labels(spark, dir).orderBy("doc_id")

  /** Large-star contraction round: every node points its LARGER
    * neighbors at the minimum of its closed neighborhood. Each
    * undirected edge (u, v), u < v, is processed exactly once (at u's
    * group) and rewrites to (v, min(Γ(u) ∪ {u})) — endpoints only ever
    * decrease, high-degree hubs collapse their whole fringe onto the
    * local minimum in one round, and the per-node min is one map-side-
    * combinable aggregate + one equi-join, never a collect_list. */
  private def ccLargeStar(e: DataFrame): DataFrame = {
    val sym = e.unionByName(e.select(col("v").as("u"), col("u").as("v")))
    val m = sym.groupBy("u").agg(min(col("v")).as("mn"))
      .select(col("u"), least(col("u"), col("mn")).as("m"))
    sym.filter(col("v") > col("u"))
      .join(m, "u")
      .select(col("v").as("u"), col("m").as("v")) // m ≤ u < v: oriented, no self-loop
      .distinct()
  }

  /** Small-star contraction round: every node rewires its SMALLER
    * neighbors (and itself) to the minimum of that set — the step that
    * turns the chains large-star leaves into stars. Same plan shape:
    * one min aggregate, one equi-join, one union, one distinct. */
  private def ccSmallStar(e: DataFrame): DataFrame = {
    val or = e.select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
    val m = or.groupBy("u").agg(min(col("v")).as("m"))
    or.join(m, "u")
      .select(col("v").as("u"), col("m").as("v"))
      .unionByName(m.select(col("u"), col("m").as("v")))
      .filter(col("u") =!= col("v")) // drop the rewired minimum's self-loop
      .distinct()
  }

  /** Exact termination test: the edge set is a star forest ⟺ no child
    * carries two parents and no parent is itself a child. ONE aggregate
    * job over the round's checkpointed blocks (each node's child-row
    * count and a parent marker carry both conditions) — both operations
    * leave a star forest unchanged, and the alternation is guaranteed
    * to reach one, so this IS convergence (never a heuristic count/hash
    * comparison that could terminate early on a collision). */
  private def ccIsStarForest(e: DataFrame): Boolean =
    e.select(col("u").as("n"), lit(1L).as("c"))
      .unionByName(e.select(col("v").as("n"), lit(0L).as("c")))
      .groupBy(col("n"))
      .agg(sum(col("c")).as("nc"), min(col("c")).as("mn"))
      // nc = how many parents n carries; mn = 0 ⟺ n is also a parent
      .filter(col("nc") > 1L || (col("nc") >= 1L && col("mn") === 0L))
      .isEmpty

  /** Connected components over any (doc_id) node / (d1, d2) pair frames —
    * x24's engine, split out so the fixpoint is property-testable against
    * a driver-side union-find on arbitrary graphs.
    *
    * Alternating large-star / small-star contraction (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14 — the
    * public algorithm behind GraphFrames' implementation): rounds are
    * O(log n) REGARDLESS of component diameter, and the edge set
    * CONTRACTS toward the final star forest instead of being re-joined
    * at full size every round — the two terms that made the previous
    * min-label propagation (per-round join over the whole pair table ×
    * component diameter) the last superlinear stage in the dedup DAG at
    * the 256×/1024× audit legs. Both operations preserve components and
    * only ever decrease edge endpoints, so the fixpoint is the star
    * forest rooted at each component's minimum id — exactly the
    * min-reachable label the DuckDB oracle derives via its recursive
    * transitive-closure CTE. Singletons (and star roots) label
    * themselves via the final left join. */
  private[graft] def connectedComponents(nodes: DataFrame, pairs: DataFrame,
      maxIters: Int = ccMaxIters): DataFrame = {
    var e = pairs
      .select(greatest(col("d1"), col("d2")).as("u"), least(col("d1"), col("d2")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint(true)
    var converged = ccIsStarForest(e)
    var it = 0
    try {
      while (!converged && it < maxIters) {
        val next = ccSmallStar(ccLargeStar(e)).localCheckpoint(true)
        // the superseded round's blocks are dead — released at the RDD
        // layer (Dataset.unpersist is a no-op on checkpoint blocks; see
        // [[graft.util.Checkpoints]])
        graft.util.Checkpoints.release(e)
        e = next
        converged = ccIsStarForest(e)
        it += 1
      }
      require(converged, s"connectedComponents: star contraction did not converge in $maxIters rounds")
    } finally {
      // deterministic cleanup on the failure path too: without it, the
      // last round's blocks linger until ContextCleaner GC
      if (!converged) graft.util.Checkpoints.release(e)
    }
    // the final star forest's checkpoint is deliberately NOT released on
    // success: its lineage is truncated, so the returned plan depends on
    // those blocks (the ContextCleaner reclaims them once the result is
    // dropped)
    nodes.join(e.select(col("u").as("doc_id"), col("v").as("lab")), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("lab"), col("doc_id")).as("cluster_id"))
      .orderBy("doc_id")
  }

  // ---- x75: incremental label maintenance ----

  /** x75: incremental cluster-label maintenance — the histStickyOn
    * residual-subgraph idiom applied to the LABEL store itself: at
    * 100 TB you never re-contract the whole candidate graph per ingest,
    * you fold the arrivals into the labeling you already shipped. The
    * stored labeling (frozen when the history slice froze) SEEDS the
    * run: every history document contracts to its stored label, every
    * arrival stands for itself, and the star contraction runs ONLY on
    * the arrival-incident pairs over those supernodes — the boundary
    * fraction of the pair table, not the corpus. Unlike x68's splits
    * (which quarantine bridges), labels MAY merge: an arrival bridging
    * two stored clusters relabels both to the merged minimum —
    * exactness is the contraction theorem: seed labels are the min ids
    * of their history components, so components of (contracted seed ∪
    * arrival-incident pairs) carry the global min id, i.e. the full
    * fixpoint's label. The emitted (doc_id, seed_id, cluster_id,
    * changed) row is the maintenance diff a governance review reads:
    * changed=1 rows are exactly the docs whose cluster grew past its
    * freeze.
    *
    * Seed sources, in priority order: (1) the stamped labels store
    * (`spark.graft.labelsPath` — the history boundary read from the
    * stamp's `max_id` freeze prop, so the store itself declares what
    * "arrived since"); (2) in-session derivation at the 9/10 boundary
    * (CC over history-internal pairs — the correctness harness's
    * stand-in for a store frozen at that boundary). The DuckDB oracle
    * re-derives BOTH fixpoints as recursive closures; agreement is
    * exact because min-label fixpoints are unique. */
  def x75IncLabels(spark: SparkSession, dir: String): DataFrame = {
    val d = documents(spark, dir).select(col("doc_id"))
    val pairs = Stages.x13Pairs(spark, dir).select(col("d1"), col("d2"))
    val (thr, seed) = Stages.generation(spark, Artifacts.Labels) match {
      // ONE memoized validation pass serves both the frame and the
      // stamped boundary — no second meta read or count() job
      case Some((stored, maxId)) => (maxId, stored.select(col("doc_id"), col("cluster_id")))
      // 1 row — the installment boundary
      case None => (Tables.historyThr(d), Stages.x75Seed(spark, dir))
    }
    incLabelsOn(seed, d, pairs.filter(col("d1") > thr || col("d2") > thr))
  }

  /** x75's engine over any seed labeling / node / arrival-pair frames —
    * split out so ClusterPropertySpec can drive it against a driver-side
    * union-find on arbitrary two-installment graphs. `seed` rows define
    * history membership (absent docs are arrivals); `arrPairs` must be
    * exactly the pairs with an endpoint outside the seed. */
  private[graft] def incLabelsOn(seed: DataFrame, nodes: DataFrame,
      arrPairs: DataFrame): DataFrame = {
    // contract each arrival-incident edge to supernodes: a history
    // endpoint becomes its stored label, an arrival stays itself —
    // two equi-joins against the seed (label-table-sized, no corpus text)
    val superEdges = arrPairs
      .join(seed.select(col("doc_id").as("d1"), col("cluster_id").as("l1")),
        Seq("d1"), "left")
      .join(seed.select(col("doc_id").as("d2"), col("cluster_id").as("l2")),
        Seq("d2"), "left")
      .select(coalesce(col("l1"), col("d1")).as("d1"),
        coalesce(col("l2"), col("d2")).as("d2"))
    // supernodes: every stored cluster + every arrival; the contraction
    // runs ONLY on arrival-incident edges (the marginal-cost property)
    val superNodes = seed.select(col("cluster_id").as("doc_id")).distinct()
      .unionByName(nodes.join(seed.select(col("doc_id")), Seq("doc_id"), "left_anti"))
    val superLabels = connectedComponents(superNodes, superEdges)
      .select(col("doc_id").as("seed_id"), col("cluster_id"))
    nodes
      .join(seed.select(col("doc_id"), col("cluster_id").as("s")), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("s"), col("doc_id")).as("seed_id"))
      .join(superLabels, "seed_id")
      .select(col("doc_id"), col("seed_id"), col("cluster_id"),
        when(col("seed_id") =!= col("cluster_id"), 1L).otherwise(0L).as("changed"))
      .orderBy("doc_id")
  }

  // ---- x25: boilerplate detection (segment-frequency dedup) ----

  /** Segment geometry and hotness threshold for x25: non-overlapping
    * 3-token segments (the "line" stand-in — the corpus has no newlines),
    * boilerplate = a segment whose document frequency is ≥ 3. */
  private val bpSegLen = 3L
  private val bpDfHot = 3L

  /** x25: corpus-frequency boilerplate detection — the CCNet/RefinedWeb
    * line-dedup stage: hash each document segment, count how many
    * DISTINCT documents contain each hash, and score every document by
    * its share of corpus-hot segments. Plan: one explode → one distinct
    * (doc, hash) aggregation → one hash-key aggregation → one equi-join
    * back — every step keyed, map-side combinable, no driver state; at
    * 100 TB this is exactly the shape of production line-dedup (the df
    * table shuffles on the segment hash, never materializes text). */
  def x25Boilerplate(spark: SparkSession, dir: String): DataFrame = {
    val nSegs = call_function("div", size(col("w")).cast(LongType) - 1L, lit(bpSegLen))
    val segs = documents(spark, dir)
      .select(col("doc_id"), toks(col("text")).as("w"))
      .select(col("doc_id"), explode(transform(
        sequence(lit(0L), nSegs),
        i => md5(array_join(slice(col("w"), (i * bpSegLen + 1L).cast("int"), lit(bpSegLen.toInt)), " ")))).as("h"))
    val segDf = segs.distinct().groupBy(col("h")).agg(count(lit(1)).as("df"))
    segs.join(segDf, "h")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_segs"),
        sum(when(col("df") >= bpDfHot, 1L).otherwise(0L)).as("n_bp"))
      .select(col("doc_id"), col("n_segs"), col("n_bp"),
        fdiv(lit(1000L) * col("n_bp"), col("n_segs")).as("bp_per_1000"))
      .orderBy("doc_id")
  }

  // ---- x26: winnowing fingerprint overlap ----

  /** x26 geometry: 3-token rolling shingles, winnowing window of 4
    * consecutive shingle hashes (leftmost-minimum selection — the
    * deterministic variant of Schleimer et al.'s rightmost rule; both
    * engines pick the FIRST position of the minimum), fingerprints hot
    * beyond df 50 dropped before pairing, pairs reported at ≥ 3 shared
    * fingerprints. */
  private[graft] val winShingle = 3
  private[graft] val winWindow = 4
  private val winDfCap = 50L
  private val winMinShared = 3L

  /** x26: winnowing document fingerprints (MOSS-style) + overlap pair
    * mining. Each document keeps only the per-window minimum shingle
    * hash — a guaranteed-coverage sample of its shingle set — and pairs
    * of documents sharing ≥ 3 selected fingerprints are reported with
    * the overlap count. The selection is a pure per-row map (no
    * shuffle); pairing is the x2-style inverted-index equi-join with a
    * df cap, so one corpus-hot fingerprint cannot go quadratic. */
  def x26Winnowing(spark: SparkSession, dir: String): DataFrame = {
    val fps = documents(spark, dir)
      .select(col("doc_id"), toks(col("text")).as("w"))
      .select(col("doc_id"), explode(graft.functions.WinnowFunctions
        .winnowFingerprints(col("w"), winShingle, winWindow)).as("fp"))
    // One winnow pass (native expression — one ThreadLocal digest
    // streamed over token bytes, leftmost-min per window; the lambda
    // HOF chain it replaces was CodegenFallback and interpreted
    // O(m·window) expression nodes per document), two shuffles: df via
    // a window count on the fp shuffle, then pair enumeration by
    // exploding C(df,2) per fingerprint. The df cap runs BEFORE
    // collect_list, so a corpus-hot fingerprint is dropped by the
    // streaming window count and never materializes a posting list.
    val wDf = org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))
    val posting = fps
      .withColumn("df", count(lit(1)).over(wDf))
      .filter(col("df") <= winDfCap && col("df") >= 2)
      .groupBy(col("fp"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
    posting
      .select(explode(flatten(transform(
        sequence(lit(1), size(col("ds")) - 1),
        i => transform(slice(col("ds"), i + 1, size(col("ds")) - i),
          d2 => struct(element_at(col("ds"), i).as("d1"), d2.as("d2")))))).as("p"))
      .groupBy(col("p.d1").as("d1"), col("p.d2").as("d2"))
      .agg(count(lit(1)).as("n_shared_fp"))
      .filter(col("n_shared_fp") >= winMinShared)
      .orderBy("d1", "d2")
  }

  // ---- x28: unigram-surprisal quality scoring ----

  /** x28 band cuts on mean surprisal bits ×100 (the corpus is a flat
    * synthetic Zipf pool, so the cuts sit just above the 500-bit floor;
    * on a real corpus they'd come from held-out percentiles the way
    * CCNet splits head/middle/tail). */
  private val x28Cut1 = 505L
  private val x28Cut2 = 520L

  /** floor(log2(c)) for positive longs, exact in both engines via the
    * binary-string length (no libm: `log2` of a non-power-of-two is
    * irrational, and floor over a double approximation is one ulp from
    * flipping — length(bin(c))-1 is pure integer). */
  private def log2floor(c: Column): Column = (length(bin(c)) - 1).cast(LongType)

  /** x28: unigram language-model surprisal — the CCNet/Gopher
    * perplexity-filter stage with a unigram LM standing in for KenLM.
    * Each token scores floor(log2 N) − floor(log2 count(token)) ≈
    * −log2 p(token); a document's mean surprisal bands it into
    * head/middle/tail (0/1/2). Plan: one token explode feeding a vocab
    * count (hash agg on token, map-side combinable), a scalar total
    * (broadcast), an equi-join back on token, and a per-doc aggregation —
    * two shuffles, both keyed, the canonical shape of corpus LM scoring
    * at 100 TB (the vocab table shuffles on token; no driver state). */
  def x28Surprisal(spark: SparkSession, dir: String): DataFrame = {
    val tok = documents(spark, dir)
      .select(col("doc_id"), explode(toks(col("text"))).as("t"))
    val vocab = tok.groupBy(col("t")).agg(count(lit(1)).as("cnt"))
    val total = tok.agg(count(lit(1)).as("n_total"))
    tok.join(vocab, "t").crossJoin(broadcast(total))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tok"),
        sum(log2floor(col("n_total")) - log2floor(col("cnt"))).as("sum_bits"))
      .select(col("doc_id"), col("n_tok"), col("sum_bits"),
        fdiv(lit(100L) * col("sum_bits"), col("n_tok")).as("mean_bits_x100"))
      .withColumn("band",
        when(col("mean_bits_x100") <= x28Cut1, 0L)
          .when(col("mean_bits_x100") <= x28Cut2, 1L)
          .otherwise(2L))
      .orderBy("doc_id")
  }

  // ---- x29: benchmark decontamination ----

  /** x29 geometry: 4-token grams (real decontamination uses 8–13-gram
    * windows; this corpus's near-dups are dense token edits, so 4 is the
    * longest gram with cross-document signal), benchmark set =
    * doc_id ≡ 0 (mod 100) — the deterministic stand-in for an eval set. */
  private val contamGram = 4
  private val contamMod = 100L

  /** x29: training-set decontamination — flag corpus documents sharing
    * any exact n-gram with a benchmark (eval) document, the standard
    * pre-training hygiene pass (GPT-3 appendix C shape). The benchmark
    * gram set is BROADCAST — eval sets are small and fixed at real scale,
    * so the corpus side never shuffles: one gram explode, one broadcast
    * left join, one per-doc aggregation (map-side combinable). */
  /** Distinct md5 hashes of the `n`-token grams of column `w` — shared
    * gram-set builder for x29/x36 and the S8 novelty stream (keep in sync
    * with the DuckDB twin `list_distinct(list_transform(range(...),
    * i -> md5(...)))` in both oracles). Docs shorter than `n` tokens get
    * an empty set. */
  private[graft] def gramHashes(n: Int): Column =
    graft.functions.GramFunctions.gramMd5Hexes(col("w"), n)

  def x29Decontam(spark: SparkSession, dir: String): DataFrame = {
    val g = documents(spark, dir)
      .select(col("doc_id"), toks(col("text")).as("w"))
      .select(col("doc_id"), gramHashes(contamGram).as("gs"))
    val bench = g.filter(col("doc_id") % contamMod === 0)
      .select(explode(col("gs")).as("h")).distinct()
      .withColumn("hit", lit(1L))
    g.filter(col("doc_id") % contamMod =!= 0)
      .select(col("doc_id"), explode_outer(col("gs")).as("h"))
      .join(broadcast(bench), Seq("h"), "left")
      .groupBy(col("doc_id"))
      .agg(count(col("h")).as("n_grams"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .select(col("doc_id"), col("n_grams"), col("n_hit"),
        when(col("n_hit") > 0, 1L).otherwise(0L).as("is_contaminated"))
      .orderBy("doc_id")
  }

  // ---- x30: data-mixture rebalancing ----

  /** Deterministic 16-bit sampling key shared with x20: top 16 bits of
    * md5(doc_id). */
  private[graft] def h16(c: Column): Column =
    shiftrightunsigned(graft.functions.HashFunctions.md5Long(c.cast("string"), 0), 48)

  /** x30: data-mixture rebalancing — the Llama/DoReMi mixing stage:
    * downsample every language to the smallest language's count so the
    * kept corpus is uniform across languages. The per-language keep rate
    * is the exact integer fdiv(65536·min_count, count) compared against
    * the deterministic 16-bit hash key, so the SAME documents are kept on
    * any cluster layout. Plan: a tiny per-lang count (broadcast, one row
    * per language), a broadcast join back, and a map-side keep filter —
    * the corpus never shuffles; the only wide ops are two hash
    * aggregations on `lang` (a handful of keys, map-side combinable). */
  def x30Mixture(spark: SparkSession, dir: String): DataFrame = {
    val d = documents(spark, dir)
      .select(col("doc_id"), col("lang"), h16(col("doc_id")).as("h16"))
    val counts = d.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
    val minC = counts.agg(min(col("n_docs")).as("min_docs"))
    val rates = counts.crossJoin(broadcast(minC))
      .select(col("lang"), col("n_docs"),
        fdiv(lit(65536L) * col("min_docs"), col("n_docs")).as("rate16"))
    d.join(broadcast(rates), "lang")
      .groupBy(col("lang"))
      .agg(max(col("n_docs")).as("n_docs"), max(col("rate16")).as("rate16"),
        sum(when(col("h16") < col("rate16"), 1L).otherwise(0L)).as("n_kept"))
      .select(col("lang"), col("n_docs"), col("rate16"), col("n_kept"))
      .orderBy("lang")
  }

  // ---- x70: temperature-sampled language mixture ----

  /** x70: temperature-sampled mixture rebalancing (α = 1/2) — the
    * XLM-R/mT5 mixing rule x30's uniform floor generalizes to: language
    * l is kept ∝ cnt_l^α, flattening the head-language dominance
    * without collapsing every language to the minimum like x30. All
    * arithmetic is engine-exact: the weight is the INTEGER square root
    * w_l = ⌊√cnt_l⌋ (floor(sqrt(double)) is exact for cnt < 2^52 —
    * IEEE sqrt is correctly rounded and the nearest double below an
    * integer k < 2^26 floors to k−1, so the boundary cannot
    * mis-round at any corpus this engine sees), the keep budget is
    * K = ⌊total/2⌋ docs, each language's target is
    * min(cnt_l, ⌊K·w_l / Σw⌋), and the kept docs are the language's
    * bottom-target by the 48-bit md5 priority — x44's reproducible
    * draw, exact sizes on any cluster layout. The rollup counts the
    * kept set and checksums it (sum of kept doc_ids) rather than
    * asserting target reached — the measure-don't-assume posture.
    *
    * Plan shape at 100 TB: one tiny per-language count (broadcast), and
    * the priority draw as x65's TWO-LEVEL bucket rank — `lang` is an
    * inherently head-skewed partition key (a real multilingual corpus
    * puts 40–50% of documents in one language, so a per-language window
    * is a one-reducer sort of half the corpus at scale): (1) docs bucket
    * by the h48 RANGE (h48 is the primary order key, so buckets compose
    * in draw order exactly); (2) a tiny per-(lang, bucket) count frame
    * yields each bucket's rank offset via a window over THAT frame;
    * (3) the corpus-sized window partitions by (lang, bucket) — the head
    * language's sort spreads over [[x65Buckets]] tasks, the scale knob.
    * ContractSpec pins the decomposition; BenchScaling's
    * `x70_skew` leg (ONE language replicated) measures it. */
  def x70TempMixture(spark: SparkSession, dir: String): DataFrame =
    x70TempMixtureOn(x70DrawFrame(spark, dir))

  /** x70's input projection (doc_id, lang, h48 draw priority) — split out
    * so BenchScaling's skew leg can remap `lang` before the draw. */
  private[graft] def x70DrawFrame(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir).select(col("doc_id"), col("lang"),
      shiftrightunsigned(
        graft.functions.HashFunctions.md5Long(col("doc_id").cast("string"), 0), 16).as("h48"))

  /** x70's core over any (doc_id, lang, h48) frame — split out so the
    * skew leg can replicate one language and the two-level rank algebra
    * is property-testable (the budgetSelectOn precedent). */
  private[graft] def x70TempMixtureOn(d: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // |languages| rows, eagerly materialized: the counts frame feeds BOTH
    // the per-language targets and the 1-row totals — without this the
    // diamond re-executes the corpus lang scan once per consumer (the
    // x2DedupNearOn byK precedent)
    val counts = d.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
      .withColumn("w", floor(sqrt(col("n_docs"))).cast(LongType))
      .localCheckpoint(true)
    val tot = counts.agg(sum(col("w")).as("sw"),
      fdiv(sum(col("n_docs")), lit(2L)).as("k"))
    val targets = counts.crossJoin(broadcast(tot))
      .select(col("lang"), col("n_docs"), col("w"),
        least(col("n_docs"), fdiv(col("k") * col("w"), col("sw"))).as("target"))
    // two-level draw rank (x65's offsets idiom): bucket over the h48
    // range — same h48 ⇒ same bucket, so (h48, doc_id) order composes
    // across buckets and rank = bucket offset + within-bucket row_number
    val bucketed = d.withColumn("bkt", fdiv(col("h48") * x65Buckets, lit(1L << 48)))
    val offW = Window.partitionBy(col("lang")).orderBy(col("bkt"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offsets = bucketed.groupBy(col("lang"), col("bkt"))
      .agg(count(lit(1)).as("grp_n"))
      .withColumn("off", sum(col("grp_n")).over(offW) - col("grp_n"))
      .select(col("lang"), col("bkt"), col("off"))
    val inW = Window.partitionBy(col("lang"), col("bkt"))
      .orderBy(col("h48"), col("doc_id"))
    val kept = bucketed.join(broadcast(offsets), Seq("lang", "bkt"))
      .withColumn("rnk", col("off") + row_number().over(inW))
      .join(broadcast(targets.select(col("lang"), col("target"))), "lang")
      .filter(col("rnk") <= col("target"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("kept_doc_sum"))
    targets.join(kept, Seq("lang"), "left")
      .select(col("lang"), col("n_docs"), col("w"), col("target"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("kept_doc_sum"), lit(0L)).as("kept_doc_sum"))
      .orderBy("lang")
  }

  // ---- x31: sequence packing ----

  /** x31 geometry: 8 parallel shard writers (hash-assigned), 512-token
    * shard budget. */
  private val packWriters = 8L
  private val packBudget = 512L

  /** x31: sequence packing — assign every document a (writer, shard,
    * offset) in the concatenate-and-cut token layout GPT-style training
    * shards use. Documents are hash-partitioned across writers (the
    * 16-bit md5 key mod writers), and within a writer the shard/offset
    * comes from a running token sum in doc_id order. The window is
    * PARTITIONED BY writer — the scalable two-phase cumsum shape: each
    * writer's prefix sums compute independently in parallel, there is no
    * global-order window (which would serialize onto one task at 100 TB);
    * widening the writer pool is the scale knob. */
  def x31Packing(spark: SparkSession, dir: String): DataFrame =
    packingOn(documents(spark, dir)
      .select(col("doc_id"),
        size(toks(col("text"))).cast(LongType).as("n_tok"),
        (h16(col("doc_id")) % packWriters).as("writer")))

  /** x31's packing core over any (doc_id, n_tok, writer) frame — split
    * out so the per-writer prefix-sum geometry is property-testable on
    * arbitrary corpora. */
  private[graft] def packingOn(d: DataFrame, budget: Long = packBudget): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("writer")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    d.withColumn("cum", sum(col("n_tok")).over(w))
      .select(col("doc_id"), col("writer"), col("n_tok"),
        fdiv(col("cum") - col("n_tok"), lit(budget)).as("shard_id"),
        ((col("cum") - col("n_tok")) % budget).as("shard_off"))
      .orderBy("doc_id")
  }

  // ---- x32: intra-document repetition ----

  /** x32: within-document repetition signals — the Gopher repetition
    * filters (duplicate 2-gram fraction and most-frequent-token share)
    * that catch degenerate/boilerplate documents exact dedup misses.
    * Pure per-row map over the token array: no shuffle anywhere except
    * the output sort. The two counts are native codegen'd expressions
    * (graft.functions.TopTokenCount / DistinctBigramCount — the
    * Md5Long/DotProduct precedent): the previous lambda-HOF formulation
    * was CodegenFallback and interpreted an expression tree per token,
    * making a linear per-row map the #2 bench line. The 2-gram count is
    * max(n−1, 0) by construction — arithmetic, not an array build. */
  def x32Repetition(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.{distinctBigramCount, topTokenCount}
    documents(spark, dir)
      .select(col("doc_id"), toks(col("text")).as("w"))
      .select(col("doc_id"),
        size(col("w")).cast(LongType).as("n_tok"),
        greatest(size(col("w")) - 1, lit(0)).cast(LongType).as("n_g2"),
        distinctBigramCount(col("w")).as("n_g2_uniq"),
        topTokenCount(col("w")).as("top_cnt"))
      .select(col("doc_id"), col("n_tok"),
        when(col("n_g2") === 0, 0L)
          .otherwise(fdiv(lit(1000L) * (col("n_g2") - col("n_g2_uniq")), col("n_g2")))
          .as("dup2_per_1000"),
        fdiv(lit(1000L) * col("top_cnt"), col("n_tok")).as("top_tok_per_1000"))
      .orderBy("doc_id")
  }

  // ---- x33: dedup-method evaluation ----

  /** x33: candidate-quality QA for the dedup stack — the stage a real
    * pipeline runs before trusting a blocker: compare MinHash-LSH
    * candidates (x13) against exact 3-gram-Jaccard pairs (x2, the
    * truth set at this threshold) and report the confusion counts plus
    * integer recall/precision. One full outer join of two small pair
    * sets (both already df-capped/banded upstream — the pair tables are
    * bounded data even at 100 TB) and a single aggregation.
    *
    * Both inputs are read from their materialized stages — a QA report
    * must cost two tiny pair-table scans, not two full dedup runs (the
    * round-3 verdict's top item: the inline lineage recompute made this
    * the slowest query on the board). */
  def x33DedupEval(spark: SparkSession, dir: String): DataFrame = {
    val exact = Stages.x2Pairs(spark, dir).select(col("d1"), col("d2"), lit(1L).as("ex"))
    val lsh = Stages.x13Pairs(spark, dir).select(col("d1"), col("d2"), lit(1L).as("ls"))
    exact.join(lsh, Seq("d1", "d2"), "full")
      .agg(
        coalesce(sum(when(col("ex").isNotNull && col("ls").isNotNull, 1L).otherwise(0L)), lit(0L)).as("n_both"),
        coalesce(sum(when(col("ex").isNotNull && col("ls").isNull, 1L).otherwise(0L)), lit(0L)).as("n_exact_only"),
        coalesce(sum(when(col("ex").isNull && col("ls").isNotNull, 1L).otherwise(0L)), lit(0L)).as("n_lsh_only"))
      .select(col("n_both"), col("n_exact_only"), col("n_lsh_only"),
        fdiv(lit(1000L) * col("n_both"),
          greatest(col("n_both") + col("n_exact_only"), lit(1L))).as("recall_per_1000"),
        fdiv(lit(1000L) * col("n_both"),
          greatest(col("n_both") + col("n_lsh_only"), lit(1L))).as("precision_per_1000"))
  }

  // ---- x34: per-source corpus report ----

  /** x34: per-source corpus report — the provenance rollup a curation
    * team reads before setting mixture weights: doc counts, language
    * spread, token volume, mean x9 quality score, and each source's
    * share of the corpus. Reuses x9's integer quality scores joined back
    * on doc_id (co-partitioned equi-join), then one aggregation on
    * `source` (few keys, map-side combinable) plus a broadcast scalar
    * total. `source` is the one documents column nothing else reads —
    * this closes the data-model surface. */
  def x34SourceReport(spark: SparkSession, dir: String): DataFrame = {
    val q = Stages.x9Scores(spark, dir).select(col("doc_id"), col("n_tok"), col("quality"))
    val d = documents(spark, dir).select(col("doc_id"), col("source"), col("lang"))
    val total = d.agg(count(lit(1)).as("n_total"))
    d.join(q, "doc_id").crossJoin(broadcast(total))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("lang")).as("n_langs"),
        sum(col("n_tok")).as("sum_tok"),
        sum(col("quality")).as("sum_quality"),
        max(col("n_total")).as("n_total"))
      .select(col("source"), col("n_docs"), col("n_langs"), col("sum_tok"),
        fdiv(lit(100L) * col("sum_quality"), col("n_docs")).as("mean_quality_x100"),
        fdiv(lit(1000L) * col("n_docs"), col("n_total")).as("share_per_1000"))
      .orderBy("source")
  }

  // ---- x35: canonical keeper per dedup cluster ----

  /** x35: best-of-cluster selection — after clustering (x24), pick the
    * member each cluster KEEPS: highest x9 quality, ties to the lowest
    * doc_id. This is the stage that turns dedup clusters into a training
    * set (production pipelines keep the best copy, not the first seen).
    * Plan: cluster labels equi-joined to quality scores on doc_id, then
    * one rank window partitioned by cluster_id — clusters are the
    * partition key, so the window parallelizes across them and no
    * cluster's data leaves one partition. Labels come from the
    * [[Stages.x24Labels]] stage — picking keepers must not re-run the
    * propagation fixpoint (the round-3 verdict's other weak plan). */
  def x35CanonicalPick(spark: SparkSession, dir: String): DataFrame = {
    val labels = Stages.x24Labels(spark, dir).select(col("doc_id"), col("cluster_id"))
    val q = Stages.x9Scores(spark, dir).select(col("doc_id"), col("quality"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster_id"))
      .orderBy(col("quality").desc, col("doc_id").asc)
    labels.join(q, "doc_id")
      .withColumn("rn", row_number().over(w))
      .withColumn("n_members",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy(col("cluster_id"))))
      .filter(col("rn") === 1)
      .select(col("cluster_id"), col("n_members"),
        col("doc_id").as("keep_id"), col("quality").as("keep_quality"))
      .orderBy("cluster_id")
  }

  // ---- x36: incremental dedup (new batch vs corpus index) ----

  /** x36 novelty threshold: a new document is novel when ≥ 50% of its
    * shingles are unseen in the index. Shared with the S8 stream twin so
    * batch and stream verdicts can't drift. */
  private[graft] val x36NoveltyCut = 500L

  /** x36: incremental-ingest novelty screening — the shape batch
    * self-dedup (x1/x2) does not cover: score the NEWEST arrivals (top
    * 10% of doc_id, a deterministic stand-in for "since the last run")
    * against the shingle index of everything older. Per new doc: how
    * many of its 3-gram keys already exist anywhere in the index, and a
    * novelty verdict. Plan: the index side is corpus-sized, so unlike
    * x29 it is NOT broadcast — a plain equi-join on the shingle hash
    * (both sides shuffle on h, the incremental batch being tiny relative
    * to the index), then one per-doc aggregation. This is the coarse
    * screen ahead of pairwise verification (x2) in an incremental
    * pipeline. The (doc_id, n_keys, n_hit) hit counts are shared with
    * the S8 novelty stream's driver gate through [[Stages.x36Hits]]
    * (same 90/10 split, same gram keys — the exact twin the stream's
    * bloom verdict is checked against), so a session running both
    * scores the batch against the index once. */
  def x36IncrementalDedup(spark: SparkSession, dir: String): DataFrame =
    Stages.x36Hits(spark, dir)
      .select(col("doc_id"), col("n_keys"), col("n_hit"),
        // a zero-shingle doc (< 3 tokens) has NO evidence of existing in
        // the index — vacuously novel (1000), never screened out as a dup
        when(col("n_keys") === 0, 1000L)
          .otherwise(fdiv(lit(1000L) * (col("n_keys") - col("n_hit")),
            col("n_keys"))).as("novelty_per_1000"))
      .withColumn("is_novel",
        when(col("novelty_per_1000") >= x36NoveltyCut, 1L).otherwise(0L))
      .orderBy("doc_id")

  /** The x36 hit-count builder (unsorted; one row per incremental-batch
    * doc) — consumers go through [[Stages.x36Hits]]. */
  private[graft] def x36HitsUnsorted(spark: SparkSession, dir: String): DataFrame = {
    val d = documents(spark, dir).select(col("doc_id"), toks(col("text")).as("w"))
    val thr = d.agg(Tables.historyThr(max(col("doc_id"))).as("thr"))
    // the batch split runs BEFORE the gram transform, so each branch
    // hashes only its own share of the corpus (index 0.9×, batch 0.1×),
    // not the full corpus twice
    val keyed = d.crossJoin(broadcast(thr))
    val oldKeys = keyed.filter(col("doc_id") <= col("thr"))
      .select(explode(gramHashes(3)).as("h")).distinct()
      .withColumn("hit", lit(1L))
    keyed.filter(col("doc_id") > col("thr"))
      .select(col("doc_id"), gramHashes(3).as("gs"))
      .select(col("doc_id"), explode_outer(col("gs")).as("h"))
      .join(oldKeys, Seq("h"), "left")
      .groupBy(col("doc_id"))
      .agg(count(col("h")).as("n_keys"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
  }

  // ---- x37: shard manifest ----

  /** x37: the shard manifest downstream of x31 — per (writer, shard):
    * how many documents start there and their token volume, plus each
    * shard's starting doc (the seek key a data loader uses). One
    * aggregation over x31's layout; groups are (writer, shard) so the
    * rollup is map-side combinable and the manifest stays tiny relative
    * to the corpus at any scale. */
  def x37ShardManifest(spark: SparkSession, dir: String): DataFrame =
    x31Packing(spark, dir)
      .groupBy(col("writer"), col("shard_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("n_tok"),
        min(col("doc_id")).as("first_doc_id"))
      .orderBy("writer", "shard_id")

  // ---- x38: the pipeline end to end ----

  /** x38: the training-data pipeline as ONE composed query — exact-dedup
    * canonical keep (x1) ∩ decontamination survivors (x29) ∩ quality
    * gate (x9 ≥ 75, i.e. at least 3 of the 4 heuristic gates) → packed
    * into per-writer shards (x31 geometry) → the shard manifest a
    * trainer reads (x37 shape). This is the capstone composability
    * check: every stage is the registered operator itself, joined on
    * doc_id — no stage is re-derived inline — so the optimizer sees one
    * plan and the oracle re-derives the whole lattice in SQL CTEs.
    *
    * Scale shape: three keep-lists are (doc_id)-keyed frames joined on
    * the same key (shuffle or broadcast per AQE's stats call), packing
    * stays the per-writer window prefix sum (writer pool = scale knob),
    * and the manifest is a map-side-combinable rollup. Nothing in the
    * composition adds a stage the pieces didn't already have. */
  def x38PipelineE2e(spark: SparkSession, dir: String): DataFrame = {
    val kept = graft.ops.TextOps.x1DedupExact(spark, dir)
      .select(col("keep_id").as("doc_id"))
    val clean = x29Decontam(spark, dir)
      .filter(col("is_contaminated") === 0).select(col("doc_id"))
    val good = Stages.x9Scores(spark, dir)
      .filter(col("quality") >= 75).select(col("doc_id"))
    val survivors = kept.join(clean, "doc_id").join(good, "doc_id")
    val packed = packingOn(survivors
      .join(documents(spark, dir), "doc_id")
      .select(col("doc_id"),
        size(graft.ops.TextOps.toks(col("text"))).cast(LongType).as("n_tok"),
        (h16(col("doc_id")) % packWriters).as("writer")))
    packed
      .groupBy(col("writer"), col("shard_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("n_tok"),
        min(col("doc_id")).as("first_doc_id"))
      .orderBy("writer", "shard_id")
  }

  // ---- x39: deterministic global training-order shuffle ----

  /** x39: epoch-seeded global shuffle order — every training run needs
    * the corpus in a reproducible pseudo-random order (and a DIFFERENT
    * one per epoch), which at 100 TB must not mean a global
    * single-partition sort-rank. Order key = md5(doc_id ":" seed) (md5
    * is the engine-shared hash — x20 precedent), rank assignment is the
    * distributed two-phase form: repartitionByRange cuts the corpus into
    * contiguous key slices, each slice sorts and row_numbers LOCALLY
    * (window partitioned by slice, never global), and slice offsets come
    * from a bounded slice-count frame (≤ shuffle.partitions rows;
    * its cumulative window runs over that tiny frame only) broadcast
    * back. The emitted position is the TOTAL-ORDER rank, so it is
    * invariant to where repartitionByRange's sampled boundaries land —
    * sampling moves rows between adjacent slices, never changes any
    * row's rank.
    *
    * The slice-local rank is a `mapPartitions` counter over the
    * range-sorted slice — the one genuinely per-partition-imperative
    * step (brief tier d), and deliberately so: a
    * `Window.partitionBy(spark_partition_id())` formulation reads
    * cleaner but Catalyst cannot see that pid is clustered under
    * RangePartitioning (pid-clustering holds physically by definition,
    * but EnsureRequirements reasons symbolically), so it inserts a
    * SECOND full-corpus hashpartitioning(pid) exchange and discards the
    * range sort — double the shuffle weight at 100 TB. With the counter,
    * the rank costs ONE corpus shuffle (the range); the trailing
    * orderBy(doc_id) is the oracle-dump convention, not the operator.
    *
    * The ranked slice feeds TWO consumers — the per-slice count
    * aggregate and the final join — so it is lazily localCheckpoint'd:
    * the offset subtree (executed first, as the join's broadcast side)
    * materializes the blocks, the join's main side reads them back, and
    * the range shuffle + counter run EXACTLY once (OpsSpec pins both
    * plan scans to one checkpointed RDD). At 100 TB the same two-reader
    * shape would stage the epoch's rank manifest to parquet instead
    * (executor-memory blocks don't survive executor loss; an epoch
    * order is worth persisting anyway for resumable training).
    * Oracle is the single row_number window DuckDB can afford at sf
    * scale. */
  def x39ShuffleOrder(spark: SparkSession, dir: String): DataFrame =
    x39ShuffleOrderSeeded(spark, dir, 0L)

  /** The seeded form: seed = epoch (or any replay tag). */
  def x39ShuffleOrderSeeded(spark: SparkSession, dir: String, seed: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val parts = spark.sessionState.conf.numShufflePartitions
    val local = documents(spark, dir)
      .select(col("doc_id"),
        md5(concat(col("doc_id").cast("string"), lit(":" + seed))).as("h"))
      .as[(Long, String)]
      .repartitionByRange(parts, col("h"), col("doc_id"))
      .sortWithinPartitions(col("h"), col("doc_id"))
      .mapPartitions { it =>
        // slice-local rank by sorted arrival order — see the scaladoc
        // for why this is a counter and not a pid window
        val pid = org.apache.spark.TaskContext.getPartitionId()
        var i = 0L
        it.map { case (id, _) => i += 1; (pid, id, i) }
      }
      .toDF("pid", "doc_id", "rn")
      // lazy checkpoint: both consumers below share ONE computed RDD —
      // see the single-pass note in the scaladoc
      .localCheckpoint(false)
    // bounded: one row per slice; the offset window orders slices by pid
    // (ascending pid = ascending key range, a repartitionByRange
    // guarantee) over ≤ `parts` rows — deliberately tiny, never corpus
    val offsets = local.groupBy(col("pid")).agg(count(lit(1)).as("n"))
      .withColumn("off",
        coalesce(sum(col("n")).over(
          Window.orderBy(col("pid")).rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("pid"), col("off"))
    local
      .join(broadcast(offsets), "pid")
      .select(col("doc_id"), (col("off") + col("rn") - 1).cast(LongType).as("pos"))
      .orderBy("doc_id")
  }

  // ---- x40: bigram LM scoring with stupid backoff ----

  /** Bigram (u, t) occurrences of the token arrays in `df(w)` — built
    * map-side from the array itself (two slices zipped), never a
    * positional self-join or per-doc window. */
  private def bigramsOf(df: DataFrame): DataFrame =
    df.select(col("doc_id"),
        explode(zip_with(
          slice(col("w"), lit(1), size(col("w")) - 1),
          slice(col("w"), lit(2), size(col("w")) - 1),
          (a, b) => struct(a.as("u"), b.as("t")))).as("bg"))
      .select(col("doc_id"), col("bg.u").as("u"), col("bg.t").as("t"))

  /** x40: bigram language-model surprisal with stupid backoff — the
    * CCNet/KenLM quality-filter shape one order up from x28's unigram:
    * the LM is TRAINED on a reference half of the corpus (doc_id ≡ 0
    * mod 2, standing in for "KenLM trained on Wikipedia") and SCORES the
    * held-out half, so unseen bigrams and OOV tokens genuinely occur and
    * the backoff path is live. Per scored token:
    *   - seen bigram:  bits = ⌊log2 c(u)⌋ − ⌊log2 c(u,t)⌋  (≈ −log2 p(t|u))
    *   - unseen bigram, seen unigram (stupid backoff, Brants et al. 2007,
    *     α = 0.5 ⇒ +1 bit): bits = 1 + ⌊log2 N⌋ − ⌊log2 c(t)⌋
    *   - OOV: bits = 1 + ⌊log2 N⌋  (pseudo-count 1)
    * A document's first token scores against the unigram LM (no context,
    * no penalty). All-integer (the x28 log2floor recipe) so sums are
    * exact under any partitioning.
    *
    * The keep verdict is RELATIVE, CCNet-style: keep the docs at or below
    * the corpus's lower-median mean surprisal (absolute bit cuts drift
    * with ⌊log2 N⌋ as the corpus grows — measured 460 → 505 ×100-bits
    * between sf0.01 and sf0.1 on identical generators). The median is
    * exact integer arithmetic over a histogram BOUNDED by construction:
    * mean_bits_x100 ∈ [0, 6400] (≤ 64 bits/token × 100), so the
    * cumulative window runs over ≤ 6401 rows no matter the corpus size.
    *
    * Plan shape at 100 TB: bigram construction is a per-row array zip
    * (no shuffle); the LM tables are hash aggregations keyed on (u,t)/t
    * (map-side combinable, vocab-sized outputs); scoring is three keyed
    * equi-joins against vocab-sized sides (Spark broadcasts them while
    * they fit, falls back to shuffle joins when the vocab outgrows the
    * executors — both correct) and one per-doc aggregation. The
    * reference half never re-scans for scoring: its two count tables ARE
    * the model. */
  def x40BigramLm(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = documents(spark, dir).select(col("doc_id"), toks(col("text")).as("w"))
    val refD = d.filter(col("doc_id") % 2 === 0)
    val scoreD = d.filter(col("doc_id") % 2 === 1)
    val tokRef = refD.select(explode(col("w")).as("t"))
    val uni = tokRef.groupBy(col("t")).agg(count(lit(1)).as("cnt_t"))
    val total = tokRef.agg(count(lit(1)).as("n_total"))
    val bigc = bigramsOf(refD).groupBy(col("u"), col("t")).agg(count(lit(1)).as("cnt_ut"))

    val occBigram = bigramsOf(scoreD)
      .join(bigc, Seq("u", "t"), "left")
      .join(uni.select(col("t").as("u"), col("cnt_t").as("cnt_u")), Seq("u"), "left")
      .join(uni, Seq("t"), "left")
      .crossJoin(broadcast(total))
      .select(col("doc_id"),
        // cnt_ut non-null implies cnt_u non-null (a seen bigram's left
        // token is in the reference vocab by construction)
        when(col("cnt_ut").isNotNull, log2floor(col("cnt_u")) - log2floor(col("cnt_ut")))
          .when(col("cnt_t").isNotNull, lit(1L) + log2floor(col("n_total")) - log2floor(col("cnt_t")))
          .otherwise(lit(1L) + log2floor(col("n_total"))).as("bits"),
        when(col("cnt_ut").isNull, 1L).otherwise(0L).as("bo"),
        when(col("cnt_t").isNull, 1L).otherwise(0L).as("oov"))
    val occFirst = scoreD
      .select(col("doc_id"), element_at(col("w"), 1).as("t"))
      .join(uni, Seq("t"), "left")
      .crossJoin(broadcast(total))
      .select(col("doc_id"),
        when(col("cnt_t").isNotNull, log2floor(col("n_total")) - log2floor(col("cnt_t")))
          .otherwise(log2floor(col("n_total"))).as("bits"),
        lit(0L).as("bo"),
        when(col("cnt_t").isNull, 1L).otherwise(0L).as("oov"))

    val per = occBigram.unionByName(occFirst)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tok"), sum(col("bits")).as("sum_bits"),
        sum(col("bo")).as("n_backoff"), sum(col("oov")).as("n_oov"))
      .withColumn("mean_bits_x100", fdiv(lit(100L) * col("sum_bits"), col("n_tok")))
      // two consumers below (histogram + final join) share one computed
      // frame — same single-pass trick as x39's ranked slice
      .localCheckpoint(false)
    // bounded histogram (≤ 6401 distinct means); the single-partition
    // cumulative window is over that bounded frame, never the corpus
    val hist = per.groupBy(col("mean_bits_x100")).agg(count(lit(1)).as("c"))
    val cut = hist
      .withColumn("cum", sum(col("c")).over(
        Window.orderBy(col("mean_bits_x100"))
          .rowsBetween(Window.unboundedPreceding, 0)))
      .crossJoin(broadcast(hist.agg(sum(col("c")).as("n_docs"))))
      // lower median: smallest mean with cumulative count ≥ half the docs
      .filter(col("cum") * 2 >= col("n_docs"))
      .agg(min(col("mean_bits_x100")).as("cut"))
    per.crossJoin(broadcast(cut))
      .withColumn("keep", when(col("mean_bits_x100") <= col("cut"), 1L).otherwise(0L))
      .select(col("doc_id"), col("n_tok"), col("sum_bits"), col("n_backoff"),
        col("n_oov"), col("mean_bits_x100"), col("keep"))
      .orderBy("doc_id")
  }

  // ---- x41: corpus snapshot diff ----

  /** x41: dataset snapshot diff — crawl-over-crawl corpus versioning:
    * which documents were ADDED, REMOVED, CHANGED, or carried UNCHANGED
    * between two corpus versions. The versions are derived
    * deterministically from the documents table (the x36 idiom): version
    * A = the oldest 90% as first crawled; version B = the recrawl —
    * every 19th doc gone from the source, every 17th≡3 doc re-extracted
    * with different content, the newest 10% newly discovered.
    *
    * Plan shape at 100 TB: content is reduced to its md5 BEFORE the
    * join, so the full-outer join shuffles (doc_id, 32-byte hash) pairs
    * — never text bodies — and both sides co-partition on doc_id (with
    * bucketed snapshot storage the join is shuffle-free). The status
    * classification is one projection over the joined row; the rollup
    * is a 4-group map-side-combined aggregate. Emitted rows are the
    * per-status counts + doc-id range, the shape a crawl-ops dashboard
    * ingests. */
  def x41DatasetDiff(spark: SparkSession, dir: String): DataFrame = {
    val d = documents(spark, dir).select(col("doc_id"), col("text"))
    val thr = d.agg(Tables.historyThr(max(col("doc_id"))).as("thr"))
    val a = d.crossJoin(broadcast(thr)).filter(col("doc_id") <= col("thr"))
      .select(col("doc_id"), md5(col("text")).as("ha"))
    val b = d.filter(col("doc_id") % 19 =!= 0)
      .select(col("doc_id"),
        md5(when(col("doc_id") % 17 === 3, concat(col("text"), lit(" v2")))
          .otherwise(col("text"))).as("hb"))
    a.join(b, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("ha").isNull, "added")
          .when(col("hb").isNull, "removed")
          .when(col("ha") =!= col("hb"), "changed")
          .otherwise("unchanged").as("status"))
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n"),
        min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
      .orderBy("status")
  }

  /** x42: per-group top-k selection WITHOUT a sort — "the 5 biggest
    * documents per (lang, source) cell", the shard-QA / leaderboard
    * shape every corpus report needs. Aggregates with graft's
    * [[graft.functions.TopKByAgg]] mergeable bounded-heap summary:
    * map-side partials keep ≤k pairs per (group × task), only those
    * cross the shuffle, and nothing is ever sorted — O(n log k)
    * selection per task.
    *
    * Honest relation to the window form (the oracle here): Spark's own
    * `InferWindowGroupLimit` (3.5+) rewrites a LITERAL
    * `row_number() <= k` filter to a partial group-limit below the
    * exchange, so the optimized window twin ships comparably few rows —
    * measured, not assumed, in ScaleSpec. What the aggregate form still
    * buys at 100 TB, pinned there: (a) the rewrite needs the literal
    * rank predicate over a bare window — k from a join, a rank consumed
    * in an expression, or any composition the rule can't see falls back
    * to full-corpus shuffle + sort, the heap form doesn't; (b) even the
    * rewritten window SORTS every map partition (Sort under the
    * exchange) where this plan has no Sort node at all; (c) being an
    * aggregate FUNCTION it composes with other aggregates in the same
    * groupBy pass and yields the per-group array directly. Ties are
    * impossible in the ranking ((n_chars DESC, doc_id ASC), unique
    * doc_id), so the answer is deterministic and hash-gateable. */
  def x42GroupedTopk(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TopKByAgg.topkBy
    // n_docs rides the SAME aggregate pass — the composed form the
    // window rewrite can't fuse (it would take a windowed scan plus a
    // separate count); here it's one ObjectHashAggregate, plan-pinned
    // in OpsSpec
    // the explicit null filter keeps the aggregate and window-rank
    // formulations identity-equal under ANY corpus: topk_by skips
    // null-ord rows while a window rank would order them (DESC
    // nulls-last) into small groups' top-5 — today's corpus has no null
    // n_chars, but parity must not depend on that invariant (the oracle
    // and the window audit carry the same filter)
    documents(spark, dir)
      .filter(col("n_chars").isNotNull)
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"), topkBy(col("n_chars"), col("doc_id"), 5).as("tk"))
      .select(col("lang"), col("source"), col("n_docs"), posexplode(col("tk")))
      .select(col("lang"), col("source"), col("n_docs"),
        (col("pos") + 1).cast(LongType).as("rnk"),
        col("col.tag").as("doc_id"), col("col.ord").as("n_chars"))
      .orderBy("lang", "source", "rnk")
  }

  /** Audit twin of x42 (BenchScaling only, never registered): the same
    * answer via the standard window-rank formulation — every row
    * shuffles to its (lang, source) reducer and each group is sorted
    * whole. The measured delta against the heap aggregate is x42's
    * scale claim. */
  def x42WindowAudit(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("lang"), col("source"))
      .orderBy(col("n_chars").desc, col("doc_id").asc)
    documents(spark, dir)
      .filter(col("n_chars").isNotNull) // identity with x42 — see its scaladoc
      .select(col("lang"), col("source"), col("doc_id"), col("n_chars"),
        row_number().over(w).as("rnk"))
      .filter(col("rnk") <= 5)
      .select(col("lang"), col("source"), col("rnk").cast(LongType).as("rnk"),
        col("doc_id"), col("n_chars"))
      .orderBy("lang", "source", "rnk")
  }

  // ---- x63: leakage-safe train/val/test split assignment ----

  /** x63: contamination-aware split assignment — the step between dedup
    * and training that decides which documents may see each other: a
    * near-dup pair split across train and eval is silent test-set
    * leakage, so the split is assigned per dedup CLUSTER, not per
    * document. Every doc inherits its x24 connected-component label and
    * the whole cluster lands in one split via a deterministic 16-bit
    * hash of the cluster id (bucket 0 of 10 → test, 1 → val, rest →
    * train ≈ 80/10/10). By construction no x13 near-dup candidate pair
    * can straddle splits (both endpoints share a cluster label —
    * OpsSpec proves it against the pair table rather than assuming it).
    *
    * Plan shape: a pure projection over the staged x24 labels — the
    * fixpoint already ran once per session for x24/x35; the split is
    * h16(cluster_id) % 10, zero additional shuffle, zero joins. At
    * 100 TB this is the cheapest possible governance op: label stage +
    * map. */
  def x63SplitAssign(spark: SparkSession, dir: String): DataFrame =
    Stages.x24Labels(spark, dir)
      .select(col("doc_id"), col("cluster_id"),
        splitOf(col("cluster_id")).as("split"))
      .orderBy("doc_id")

  // ---- x66: split-governance audit ----

  /** x66: the release-gate QA table for x63's split — per split: doc and
    * cluster counts, token share (per-1000 of the corpus), and the
    * cross-split near-dup pair count computed INDEPENDENTLY from the
    * x13 candidate table (x63 makes it 0 by construction; the audit
    * measures it rather than trusting the construction — the same
    * measure-don't-assume posture as x33/x51/x58). A nonzero cell here
    * is exactly the "test set leaked into train" page you never want.
    *
    * Plan shape: the label stage + one groupBy(split) over a broadcast-
    * enriched projection (n_tok rides the shared x9 score stage), plus
    * a pair-table join onto the per-doc split map — the pair table is
    * candidate-sized (LSH-bounded), never corpus². Total-token share
    * rides the Changelog 1-row crossJoin idiom. */
  def x66SplitAudit(spark: SparkSession, dir: String): DataFrame = {
    val assigned = Stages.x24Labels(spark, dir)
      .select(col("doc_id"), col("cluster_id"), splitOf(col("cluster_id")).as("split"))
    val withTok = assigned.join(
      Stages.x9Scores(spark, dir).select(col("doc_id"), col("n_tok")), "doc_id")
    val tot = withTok.agg(sum(col("n_tok")).as("tot"))
    val perSplit = withTok.groupBy(col("split")).agg(
      count(lit(1)).as("n_docs"),
      countDistinct(col("cluster_id")).as("n_clusters"),
      sum(col("n_tok")).as("sum_tok"))
    val sides = Stages.x13Pairs(spark, dir)
      .join(assigned.select(col("doc_id").as("d1"), col("split").as("s1")), "d1")
      .join(assigned.select(col("doc_id").as("d2"), col("split").as("s2")), "d2")
      .filter(col("s1") =!= col("s2"))
    // one row per SIDE of each cross pair — as a per-row explode, not a
    // union of two projections: the union form planned the pairs ⋈
    // assigned ⋈ assigned subtree TWICE (each branch its own scan+joins
    // — the x68 double-derivation defect in audit clothing); the
    // explode reads the joined frame once
    val crossBySplit = sides
      .select(explode(array(col("s1"), col("s2"))).as("split"))
      .groupBy(col("split")).agg(count(lit(1)).as("cp"))
    perSplit.join(crossBySplit, Seq("split"), "left")
      .crossJoin(broadcast(tot))
      .select(col("split"), col("n_docs"), col("n_clusters"),
        fdiv(lit(1000L) * col("sum_tok"), col("tot")).as("tok_share_per_1000"),
        coalesce(col("cp"), lit(0L)).as("cross_split_pairs"))
      .orderBy("split")
  }

  /** x63/x66/x68's shared split rule: 16-bit hash of the cluster id,
    * bucket 0 of 10 → test, 1 → val, rest → train. */
  private[graft] def splitOf(clusterId: Column): Column = {
    val bucket = h16(clusterId) % 10
    when(bucket === 0, "test").when(bucket === 1, "val").otherwise("train")
  }

  // ---- x68: split stability under incremental corpus growth ----

  /** x68: STICKY split assignment under incremental growth — the time
    * dimension x63 lacks. x63 hashes the full-corpus cluster label
    * (= min doc_id of the component), so when newly-ingested documents
    * BRIDGE two existing clusters (exactly the event x36's incremental
    * dedup detects), the merged component takes the smaller label and
    * every doc on the losing side gets a NEW cluster_id — h16 of which
    * can silently migrate it train↔test across re-runs: eval docs
    * leaking into train over time, the precise failure split governance
    * exists to prevent.
    *
    * x68 replays the corpus in the two installments the x36/s8/s17 ops
    * already model (history = doc_id ≤ ⌊9·max/10⌋, arrivals above) and
    * assigns:
    *  - history docs: the split their PHASE-1 cluster (components over
    *    pairs with BOTH endpoints in history) hashed to — held forever,
    *    zero migrations by construction (`origin = 'held'`);
    *  - arrivals joining a cluster whose held members all agree:
    *    inherit that split (`'inherited'`);
    *  - arrivals whose cluster bridges held members with DIFFERENT
    *    splits: `split = 'quarantine'` (`origin = 'quarantined'`) — the
    *    one case where per-doc stickiness and whole-cluster purity
    *    genuinely conflict, resolved by excluding the bridge docs from
    *    training rather than migrating history;
    *  - arrivals in clusters with no held member: x63's hash rule on
    *    the full label (`'fresh'`).
    * Leakage invariant (SplitStableSpec proves it on adversarial
    * graphs): no candidate pair ever straddles two distinct REAL splits
    * — any cross-split pair has a quarantined endpoint. In production
    * the sticky table is a PERSISTED per-doc assignment joined back;
    * this stateless engine re-derives it deterministically from the
    * same history slice (min-label fixpoints are unique), which is
    * observationally identical.
    *
    * Plan shape at 100 TB: the full labels ride the staged x24 fixpoint;
    * phase 1 is one more min-label propagation over the history-filtered
    * pair list (candidate-bounded, never corpus²); then ONE aggregate
    * keyed by cluster_id (count-distinct over ≤3 split values) and two
    * equi-joins keyed on doc_id/cluster_id — all map-side-combinable or
    * shuffle-on-the-key, no driver state beyond the 1-row threshold. */
  def x68SplitStable(spark: SparkSession, dir: String): DataFrame =
    splitStableOn(Stages.x68Sticky(spark, dir), Stages.x24Labels(spark, dir))

  /** The frozen per-doc split table of the HISTORY slice (doc_id ≤
    * ⌊9·max/10⌋ — the s8/x36/s17 split): phase-1 components over
    * history-internal candidate pairs, split via the shared hash rule.
    * x68's sticky input and the s18 router's label source — consumers
    * read it through [[Stages.x68Sticky]] so the phase-1 derivation runs
    * once per session (or never, when the PERSISTED table is configured).
    *
    * The phase-1 fixpoint is SEEDED from the staged full fixpoint
    * ([[Stages.x24Labels]]) instead of re-propagating the whole history
    * graph — see [[histStickyOn]]; the full fixpoint is already paid for
    * (staged, shared with x24/x63/x68's phase 2), so the history pass
    * adds only the residual propagation over arrival-touching clusters. */
  private[graft] def stickySplitsUnstaged(spark: SparkSession, dir: String): DataFrame =
    // r20 (§2.4): the sticky table IS the split-hash projection of the
    // history labeling [[Stages.x75Seed]] serves — both were
    // histLabelsOn(x13Pairs, x24Labels, thr) with identical thr, so the
    // two stages paid the residual star-contraction fixpoint twice per
    // session. One fixpoint now feeds both; [[histStickyOn]] stays the
    // canonical engine (SplitStableSpec drives it directly).
    Stages.x75Seed(spark, dir)
      .select(col("doc_id"), splitOf(col("cluster_id")).as("split_old"))

  /** History-slice components from the FULL fixpoint plus a residual
    * propagation — the r14 verdict's seeding lever, made sound: history
    * components refine full components, and a full cluster whose members
    * are ALL history docs keeps every one of its connecting pairs under
    * the history filter — its history restriction IS the full component,
    * min label included, so the staged full label is reused verbatim.
    * Only clusters touching an arrival (doc_id > thr) can split under the
    * history restriction; the label-propagation fixpoint re-runs on THAT
    * residual subgraph alone (its history docs + the pairs inside those
    * clusters — at a 10% arrival share this is the boundary fraction of
    * the pair table, not the whole of it, which is what turned x68's
    * 256× leg superlinear). Exact by construction: pairs never cross full
    * clusters, so the residual subgraph is vertex-disjoint from the pure
    * slice and the union of labelings is the history fixpoint. */
  private[graft] def histStickyOn(pairs: DataFrame, full: DataFrame,
      thr: Long): DataFrame =
    histLabelsOn(pairs, full, thr)
      .select(col("doc_id"), splitOf(col("cluster_id")).as("split_old"))

  /** The LABELING form of [[histStickyOn]]'s residual derivation — the
    * history-slice connected components seeded from the full fixpoint,
    * before the split hash: [[Stages.x75Seed]] serves this (the label
    * index's seed, x75's in-session stand-in, the sticky roll-forward's
    * cluster source), so in a store-served session the history labeling
    * costs the residual propagation over arrival-touching clusters —
    * never a fresh corpus-sized fixpoint. Exactness is [[histStickyOn]]'s
    * argument verbatim (the split hash was a projection of these same
    * rows). */
  private[graft] def histLabelsOn(pairs: DataFrame, full: DataFrame,
      thr: Long): DataFrame = {
    // clusters whose history restriction can differ from the full
    // component: exactly those containing an arrival — one map-side-
    // combinable agg over the label table (cluster count ≤ doc count)
    val mixed = full.groupBy(col("cluster_id"))
      .agg(max(col("doc_id")).as("mx"))
      .filter(col("mx") > thr)
      .select(col("cluster_id"))
    val histFull = full.filter(col("doc_id") <= thr)
    // pure-history clusters: full label = history label, no propagation
    val pure = histFull.join(mixed, Seq("cluster_id"), "left_anti")
      .select(col("doc_id"), col("cluster_id"))
    // residual: history members + history-internal pairs of mixed
    // clusters (an edge's endpoints share a full cluster, so classifying
    // by d1 classifies the pair)
    val residNodes = histFull.join(mixed, "cluster_id").select(col("doc_id"))
    val residPairs = pairs
      .filter(col("d1") <= thr && col("d2") <= thr)
      .join(full.select(col("doc_id").as("d1"), col("cluster_id")), "d1")
      .join(mixed, "cluster_id")
      .select(col("d1"), col("d2"))
    pure.unionByName(connectedComponents(residNodes, residPairs))
  }

  /** Persist the sticky-split table — x68's PRODUCTION contract: the
    * governance assignment is a STORED per-doc table, written once when
    * the history slice freezes and consumed by every later installment,
    * session, and serving router — not re-derived per run. (Re-derivation
    * is deterministic today — min-label fixpoints are unique — but the
    * stored table is the artifact auditors sign off on and the only form
    * that survives a candidate-generator retune.) Point
    * `spark.graft.stickyPath` (or the SPARK_GRAFT_STICKY_PATH env var) at
    * the written path and [[Stages.x68Sticky]] serves the stored table to
    * x68, the s18 router index, and x69's audit in any later session. The
    * path names ONE corpus's table; keeping it pointed at the right
    * corpus is the deployment's contract. Written STAMPED
    * ([[Artifacts]]): a one-row `_graft_meta` beside the parquet records
    * artifact key, producer version, schema, row count, and the frozen
    * threshold; [[Stages.x68Sticky]] validates all of it at read and
    * throws on any mismatch — a wrong-table, stale-version, or torn
    * store fails at the read, never as silent split migration. */
  def persistStickySplits(spark: SparkSession, dir: String, path: String): Unit = {
    // 1 row — the frozen boundary, stamped as provenance
    val thr = Tables.historyThr(documents(spark, dir))
    Artifacts.writeStamped(spark, stickySplitsUnstaged(spark, dir), path,
      Artifacts.Sticky.key, Map(Artifacts.Sticky.prop -> thr.toString))
  }

  /** Persist x24's cluster labels — the THIRD stored-governance artifact
    * (the sticky/IVF idiom applied to the label stage every governance
    * consumer derives from): x63/x66's splits, x35's canonical picks,
    * and the sticky seeding all read the label table, so a retuned x13
    * candidate generator re-deriving it silently RESHAPES the splits —
    * the exact defect class the sticky store closed for x68, one level
    * up. Point `spark.graft.labelsPath` (or SPARK_GRAFT_LABELS_PATH) at
    * the written path and [[Stages.x24Labels]] serves the stored table
    * to every consumer in any later session, stamp-validated
    * ([[Artifacts]]), loud on missing/wrong/stale. The path names ONE
    * corpus's labels; keeping it pointed right is the deployment's
    * contract. Derives the fixpoint fresh (never through a configured
    * labelsPath — persisting a copy of the store would launder a stale
    * table into a fresh stamp). */
  def persistLabels(spark: SparkSession, dir: String, path: String): Unit = {
    val maxId = documents(spark, dir).agg(max(col("doc_id")))
      .collect()(0).getLong(0) // 1 row — the freeze boundary, stamped for x74's audit
    Artifacts.writeStamped(spark,
      connectedComponents(
        documents(spark, dir).select(col("doc_id")),
        Stages.x13Pairs(spark, dir).select(col("d1"), col("d2"))),
      path, Artifacts.Labels.key, Map(Artifacts.Labels.prop -> maxId.toString))
  }

  /** Persist the s18 router's frozen band index — the SIXTH stored-
    * governance artifact, and the serving path's last re-derived-at-
    * serve-time table: the index is the router's WHOLE decision state
    * ((band, h) → OR'd split bits over the frozen history slice), and
    * until this store every serving session re-ran the corpus-sized
    * history banding to rebuild it — the measured reason x69 read
    * 39.7 s at the 1024× store-served leg while the stored-label path
    * served at 0.97 s. Production order: freeze sticky splits first
    * ([[persistStickySplits]]), point `spark.graft.stickyPath` at that
    * store, THEN persist the index — the derivation deliberately
    * consumes [[Stages.x68Sticky]], so the shipped index is banded over
    * the exact sticky table the deployment signed off on, not a
    * re-derived one. Point `spark.graft.routeIndexPath` (or
    * SPARK_GRAFT_ROUTE_INDEX_PATH) at the written path and
    * [[Stages.s18Index]] serves the stored index to the s18 gate, x69's
    * audit, and the batch routing twin — stamped ([[Artifacts]]) with
    * the freeze boundary, loud on missing/wrong/stale. */
  def persistRouteIndex(spark: SparkSession, dir: String, path: String): Unit = {
    // the stamped boundary is the CONSUMED sticky generation's (one
    // source of truth with the banded slice — see [[stickyGeneration]]);
    // unconfigured it equals the corpus 9/10 boundary as before
    val thr = stickyGeneration(spark, dir)._2
    Artifacts.writeStamped(spark, routeIndexUnstaged(spark, dir), path,
      Artifacts.RouteIndex.key, Map(Artifacts.RouteIndex.prop -> thr.toString))
  }

  /** Persist the s21 label router's frozen band index — the SEVENTH
    * stored-governance artifact ([[persistRouteIndex]]'s posture applied
    * to the label lifecycle): (band, h) → min frozen-history-label,
    * s21's whole assignment state. Built over the frozen history
    * labeling ([[Stages.x75Seed]] — the same seed x75's maintenance
    * contracts from), so the shipped index assigns exactly the stored
    * names the batch job froze. Point `spark.graft.labelIndexPath` (or
    * SPARK_GRAFT_LABEL_INDEX_PATH) at the written path and
    * [[Stages.s21Index]] serves it to the s21 gate and its batch twin —
    * stamped, loud on missing/wrong/stale. */
  def persistLabelIndex(spark: SparkSession, dir: String, path: String): Unit = {
    // 1 row — the frozen boundary, stamped for x74's audit
    val thr = Tables.historyThr(documents(spark, dir))
    Artifacts.writeStamped(spark, labelIndexUnstaged(spark, dir), path,
      Artifacts.LabelIndex.key, Map(Artifacts.LabelIndex.prop -> thr.toString))
  }

  // ---- incremental re-freeze: the stored-governance maintenance path ----

  /** Merge a stored route index with the bands of the docs that arrived
    * past its freeze — the incremental re-freeze engine: occupancies
    * add, split bits OR, and a bucket whose merged occupancy crosses
    * the df cap tombstones (exactly what a full rebuild would do — df
    * only grows, so a stored tombstone never un-tombstones). EXACT
    * against a full rebuild at the new boundary provided (a) `deltaBands`
    * covers precisely the docs in (old thr, new thr] and (b) the new
    * sticky generation HOLDS old docs' splits (the x68 sticky contract —
    * [[persistStickySplitsIncremental]]'s output, where held rows keep
    * `split_old` verbatim); x78 proves the equality under the
    * correctness gate rather than asserting it. */
  private[graft] def mergeRouteIndex(old: DataFrame, deltaBands: DataFrame,
      deltaSplits: DataFrame): DataFrame = {
    val deltaAgg = deltaBands.join(deltaSplits, "doc_id")
      .groupBy(col("band"), col("h"))
      .agg(count(lit(1)).as("df_d"), bit_or(splitBitCol(col("split"))).as("bits_d"))
    old.select(col("band"), col("h"), col("df").as("df_o"), col("bits").as("bits_o"))
      .join(deltaAgg, Seq("band", "h"), "full")
      .select(col("band"), col("h"),
        (coalesce(col("df_o"), lit(0L)) + coalesce(col("df_d"), lit(0L))).as("df"),
        col("bits_o"), col("bits_d"))
      .select(col("band"), col("h"), col("df"),
        when(col("df") > TextOps.x13BandDfCap, lit(null).cast(LongType))
          .otherwise(coalesce(col("bits_o"), lit(0L))
            .bitwiseOR(coalesce(col("bits_d"), lit(0L)))).as("bits"))
  }

  /** [[mergeRouteIndex]]'s label twin, with the one extra move labels
    * need: stored label SETS are remapped through the new generation's
    * seed before the union (`renameTo`: old label → its doc's label
    * under the new seed), because history clusters MERGE as the
    * boundary advances and the merged cluster takes the smaller name —
    * a member's new label IS the new label of its old label's doc
    * (components only merge), so the remapped set union the delta set
    * equals the full rebuild's set exactly. Occupancy math and the
    * tombstone rule are [[mergeRouteIndex]]'s; delta label sets are
    * collected ONLY for buckets whose merged occupancy stays under the
    * cap (a boilerplate flood among the arrivals never materializes a
    * set). Remap coverage is validated loudly by the caller
    * ([[persistLabelIndexIncremental]]) — an inner join here would
    * silently drop an unmapped label. */
  private[graft] def mergeLabelIndex(old: DataFrame, deltaBands: DataFrame,
      deltaLabels: DataFrame, renameTo: DataFrame): DataFrame = {
    val emptyLabs = array().cast(org.apache.spark.sql.types.ArrayType(LongType))
    val deltaDf = deltaBands.groupBy(col("band"), col("h"))
      .agg(count(lit(1)).as("df_d"))
    val merged = old
      .select(col("band"), col("h"), col("df").as("df_o"), col("labs").as("labs_o"))
      .join(deltaDf, Seq("band", "h"), "full")
      .select(col("band"), col("h"),
        (coalesce(col("df_o"), lit(0L)) + coalesce(col("df_d"), lit(0L))).as("df"),
        col("labs_o"), col("df_d"))
    val deltaLabs = deltaBands
      .join(merged.filter(col("df") <= TextOps.x13BandDfCap && col("df_d").isNotNull)
        .select(col("band"), col("h")), Seq("band", "h"), "left_semi")
      .join(deltaLabels, "doc_id")
      .groupBy(col("band"), col("h"))
      .agg(collect_set(col("cluster_id")).as("labs_d"))
    val remapped = old.filter(col("labs").isNotNull)
      .select(col("band"), col("h"), explode(col("labs")).as("lab"))
      .join(renameTo, "lab")
      .groupBy(col("band"), col("h"))
      .agg(collect_set(col("new_lab")).as("labs_r"))
    merged
      .join(deltaLabs, Seq("band", "h"), "left")
      .join(remapped, Seq("band", "h"), "left")
      .select(col("band"), col("h"), col("df"),
        when(col("df") > TextOps.x13BandDfCap,
          lit(null).cast(org.apache.spark.sql.types.ArrayType(LongType)))
          .otherwise(sort_array(array_distinct(concat(
            coalesce(col("labs_r"), emptyLabs),
            coalesce(col("labs_d"), emptyLabs))))).as("labs"))
  }

  /** Roll a stored sticky table forward one freeze generation — the
    * production cadence behind the incremental index persists: fold the
    * docs that arrived in (stored thr, current 9/10 boundary] into the
    * stored assignment via x68's decision rule ([[splitStableOn]]
    * against the NEW history labeling, [[Stages.x75Seed]]), so held
    * docs keep their split verbatim (the contract
    * [[mergeRouteIndex]]'s exactness needs), bridge arrivals
    * quarantine, and the rest inherit or hash fresh. Writes the new
    * generation STAMPED at the new boundary, with `merged_from_thr`
    * recording the lineage for audits. Refuses an in-place overwrite
    * (the read plan would consume files the write deletes) and a
    * backwards boundary. */
  def persistStickySplitsIncremental(spark: SparkSession, dir: String,
      path: String, fromPath: String): Unit = {
    require(Artifacts.normPath(spark, path) != Artifacts.normPath(spark, fromPath),
      s"sticky refreeze: refusing in-place overwrite of $fromPath — " +
        "write the new generation to a fresh path (generational store layout)")
    val (oldSticky, thrOld) = Stages.generationAt(spark, fromPath, Artifacts.Sticky)
    val thrNew = Tables.historyThr(documents(spark, dir))
    require(thrNew >= thrOld,
      s"sticky refreeze: current boundary $thrNew is behind the stored generation $thrOld — " +
        "wrong corpus or wrong store")
    Artifacts.writeStamped(spark,
      splitStableOn(oldSticky, Stages.x75Seed(spark, dir))
        .select(col("doc_id"), col("split").as("split_old")),
      path, Artifacts.Sticky.key, refreezeProps(Artifacts.Sticky, thrNew, thrOld))
  }

  /** Incremental route-index re-freeze: band ONLY the docs that arrived
    * past the stored index's freeze and merge them into the stored
    * (band, h) rows ([[mergeRouteIndex]]) — the full-history banding
    * (the measured superlinear term of the r18 freeze price) never
    * re-runs. The delta's splits come from the CURRENT sticky
    * generation ([[stickyGeneration]] — store or in-session), whose
    * boundary must be at or past the stored index's; production order
    * is therefore: roll the sticky store forward first
    * ([[persistStickySplitsIncremental]]), point `spark.graft.stickyPath`
    * at the new generation, then re-freeze the index. x78 proves
    * incremental ≡ full rebuild under the correctness gate. */
  def persistRouteIndexIncremental(spark: SparkSession, dir: String,
      path: String, fromPath: String): Unit = {
    require(Artifacts.normPath(spark, path) != Artifacts.normPath(spark, fromPath),
      s"route-index refreeze: refusing in-place overwrite of $fromPath — " +
        "write the new generation to a fresh path")
    val (oldIdx, thrOld) = Stages.generationAt(spark, fromPath, Artifacts.RouteIndex)
    val (sticky, thrNew) = stickyGeneration(spark, dir)
    require(thrNew >= thrOld,
      s"route-index refreeze: sticky generation $thrNew is behind the stored index $thrOld — " +
        "roll the sticky store forward first (persistStickySplitsIncremental)")
    val deltaBands = Stages.x13BandsAll(spark, dir)
      .filter(col("doc_id") > thrOld && col("doc_id") <= thrNew)
    Artifacts.writeStamped(spark,
      mergeRouteIndex(oldIdx, deltaBands,
        sticky.filter(col("doc_id") > thrOld)
          .select(col("doc_id"), col("split_old").as("split"))),
      path, Artifacts.RouteIndex.key, refreezeProps(Artifacts.RouteIndex, thrNew, thrOld))
  }

  /** Incremental label-index re-freeze ([[persistRouteIndexIncremental]]'s
    * label twin): delta docs banded and labeled under the CURRENT seed
    * generation ([[Stages.x75Seed]]), stored label sets remapped through
    * the same seed (old label → its doc's current label — renames from
    * cluster merges propagate), merged via [[mergeLabelIndex]]. Remap
    * coverage is validated loudly: every stored label must resolve in
    * the new seed (a label absent from the seed means the configured
    * index was frozen over a different corpus). */
  def persistLabelIndexIncremental(spark: SparkSession, dir: String,
      path: String, fromPath: String): Unit = {
    require(Artifacts.normPath(spark, path) != Artifacts.normPath(spark, fromPath),
      s"label-index refreeze: refusing in-place overwrite of $fromPath — " +
        "write the new generation to a fresh path")
    val (oldIdx, thrOld) = Stages.generationAt(spark, fromPath, Artifacts.LabelIndex)
    val thrNew = Tables.historyThr(documents(spark, dir))
    require(thrNew >= thrOld,
      s"label-index refreeze: current boundary $thrNew is behind the stored index $thrOld — " +
        "wrong corpus or wrong store")
    val seedNew = Stages.x75Seed(spark, dir)
    val renameTo = seedNew.select(col("doc_id").as("lab"), col("cluster_id").as("new_lab"))
    val missing = oldIdx.filter(col("labs").isNotNull)
      .select(explode(col("labs")).as("lab")).distinct()
      .join(renameTo, Seq("lab"), "left_anti").count() // index-sized, freeze-time only
    require(missing == 0L,
      s"label-index refreeze: $missing stored labels are absent from the current seed " +
        s"generation — the index at $fromPath was frozen over a different corpus")
    val deltaBands = Stages.x13BandsAll(spark, dir)
      .filter(col("doc_id") > thrOld && col("doc_id") <= thrNew)
    Artifacts.writeStamped(spark,
      mergeLabelIndex(oldIdx, deltaBands,
        seedNew.filter(col("doc_id") > thrOld), renameTo),
      path, Artifacts.LabelIndex.key, refreezeProps(Artifacts.LabelIndex, thrNew, thrOld))
  }

  /** A re-frozen generation's stamp props: the new boundary under the
    * store's freeze prop, and the generation it merged from as lineage
    * for audits (`merged_from_<prop>`). */
  private def refreezeProps(store: Artifacts.Store, thrNew: Long,
      thrOld: Long): Map[String, String] =
    Map(store.prop -> thrNew.toString, s"merged_from_${store.prop}" -> thrOld.toString)

  /** One side of x78's comparison: (band, h) plus the STORED payload
    * struct (df + bits/labs) and the SERVED payload struct (null past
    * the cap), full-outer-joined so a bucket present on one side only
    * reads as a mismatch. */
  private def refreezeJoined(full: DataFrame, inc: DataFrame, payload: String,
      servedVal: Column): DataFrame = {
    def side(d: DataFrame, p: String, s: String) = d.select(col("band"), col("h"),
      struct(col("df"), col(payload)).as(p),
      when(col("df") <= TextOps.x13BandDfCap, struct(servedVal)).as(s))
    side(full, "pa", "sa").join(side(inc, "pb", "sb"), Seq("band", "h"), "full")
  }

  /** x78's verdict rows from one joined frame: ONE aggregate yields
    * both the stored-form and served-form equality counts (the
    * rowChecks explode idiom — the corpus-sized join appears once in
    * the plan, not once per row). */
  private def refreezeRows(name: String, joined: DataFrame): DataFrame = {
    def n(c: Column) = coalesce(sum(c.cast(LongType)), lit(0L))
    joined.agg(
      n(col("pa").isNotNull).as("f_st"), n(col("pb").isNotNull).as("i_st"),
      n(not(col("pa") <=> col("pb"))).as("m_st"),
      n(col("sa").isNotNull).as("f_se"), n(col("sb").isNotNull).as("i_se"),
      n(not(col("sa") <=> col("sb"))).as("m_se"))
      .select(explode(array(
        struct(lit("stored").as("form"), col("f_st").as("n_full"),
          col("i_st").as("n_inc"), col("m_st").as("n_mismatch")),
        struct(lit("served").as("form"), col("f_se").as("n_full"),
          col("i_se").as("n_inc"), col("m_se").as("n_mismatch")))).as("e"))
      .select(lit(name).as("index_name"), col("e.form").as("form"),
        col("e.n_full").as("n_full"), col("e.n_inc").as("n_inc"),
        col("e.n_mismatch").as("n_mismatch"),
        when(col("e.n_mismatch") === 0L && col("e.n_full") === col("e.n_inc"), 1L)
          .otherwise(0L).as("pass"))
  }

  /** x78: the incremental re-freeze PROOF — incremental ≡ full rebuild,
    * under the correctness gate rather than asserted. Replays the
    * production cadence in-session: generation k is the staged band
    * indexes at the standard 9/10 boundary; generation k+1 advances the
    * boundary to the corpus head (every arrival becomes history), with
    * the new sticky generation = x68's closure (held docs keep their
    * splits — the contract [[mergeRouteIndex]] needs; bridge arrivals
    * carry the quarantine bit, so the new bit-8 path is exercised) and
    * the new seed = the full label fixpoint (renames from cluster
    * merges exercise [[mergeLabelIndex]]'s remap). Both indexes are
    * then built BOTH ways — incremental (stored rows + arrival bands
    * only) and full rebuild (the whole corpus re-banded) — and compared
    * bucket-by-bucket with null-safe equality on occupancy AND payload,
    * in stored and served forms. Output: one row per (index, form) with
    * both row counts, the mismatch count, and a 0/1 pass — the oracle
    * pins the counts to an independent full-corpus banding and the
    * mismatches to zero, so any divergence between the cheap path and
    * the expensive path fails the hash gate.
    *
    * Scale shape: the FULL rebuild here is the proof's cost, paid only
    * by the proof (production runs [[persistRouteIndexIncremental]] /
    * [[persistLabelIndexIncremental]], whose price is ∝ arrivals — the
    * 1024× store leg measures it); the compares are index-sized
    * (lattice, not corpus) full-outer joins on (band, h). */
  def x78IndexRefreeze(spark: SparkSession, dir: String): DataFrame = {
    val d = documents(spark, dir).select(col("doc_id"), col("text"))
    val thrOld = Tables.historyThr(d) // 1 row — generation k's boundary
    // r19 opt (guide §2.4/§3.3): the proof's shared inputs each fed TWO+
    // consumers as independent subtrees — the corpus banding appeared
    // FOUR times in the one plan (full rebuild ×2, delta ×2; Spark
    // recomputes diamond subtrees, and exprId renumbering defeats
    // ReusedExchange across them) and the sticky closure twice. The
    // banding is a bounded artifact (≤4 rows/doc of (doc_id, band, h)) —
    // materialize it ONCE (the Stages discipline, inline because x78 is
    // its only consumer) and derive the delta as a per-doc filter of the
    // full banding (x13Bands is doc-local, so filter-then-band ≡
    // band-then-filter); the sticky closure is the shared
    // [[Stages.x68Assign]] stage. Plan: 50 Exchange / 15 SMJ → a handful
    // per side; see plans/r19/x78_index_refreeze_*.txt.
    val stickyNew = Stages.x68Assign(spark, dir).select(col("doc_id"), col("split"))
    val seedNew = Stages.x24Labels(spark, dir)
    // r20: the banding is the shared [[Stages.x13BandsAll]] stage (one
    // corpus pass per session, released via Stages.clear/evictSession)
    // instead of an inline localCheckpoint that was never released
    val allBands = Stages.x13BandsAll(spark, dir)
    val deltaBands = allBands.filter(col("doc_id") > thrOld)
    val incRoute = mergeRouteIndex(Stages.s18IndexFull(spark, dir), deltaBands,
      stickyNew.filter(col("doc_id") > thrOld))
    val incLabel = mergeLabelIndex(Stages.s21IndexFull(spark, dir), deltaBands,
      seedNew.filter(col("doc_id") > thrOld),
      seedNew.select(col("doc_id").as("lab"), col("cluster_id").as("new_lab")))
    refreezeRows(Artifacts.RouteIndex.key,
      refreezeJoined(routeIndexOn(allBands, stickyNew), incRoute, "bits",
        col("bits").as("v")))
      .unionByName(refreezeRows(Artifacts.LabelIndex.key,
        refreezeJoined(labelIndexOn(allBands, seedNew), incLabel, "labs",
          array_min(col("labs")).as("v"))))
      .orderBy("index_name", "form")
  }

  /** x68's decision rule over any sticky (doc_id, split_old) and full
    * (doc_id, cluster_id) labelings — split out so SplitStableSpec can
    * drive it with adversarial two-installment graphs (the
    * budgetSelectOn/packingOn precedent). */
  private[graft] def splitStableOn(sticky: DataFrame, full: DataFrame): DataFrame = {
    // ONE doc-keyed join feeds both consumers — the cluster-old
    // aggregate and the per-doc decision probe — with NO filter between
    // them: countDistinct/min ignore the null split_old of arrival-only
    // rows, and a cluster with zero held members aggregates to
    // n_splits = 0, which falls through the decision chain to the same
    // 'fresh' branch its previously-ABSENT row (null n_splits) did. The
    // unfiltered reuse is load-bearing: with identical subtrees on both
    // sides, AQE dedupes the corpus-sized doc_id exchanges of `full`
    // AND `sticky` via ReusedExchange — the old inner-join aggregate
    // side carried an inferred isnotnull the probe side lacked, so the
    // plan scanned and shuffled both inputs TWICE (the dominant term of
    // x68's 1024× store-served line). The explicit cluster_id filter is
    // vacuous (every producer coalesces it to doc_id) but load-bearing
    // the same way: the final cluster-keyed left join INFERS
    // isnotnull(cluster_id) on its aggregate side and pushes it into
    // that side's scan — stating it on the shared frame keeps both
    // occurrences canonically identical. Plan-pinned in SplitStableSpec.
    val joined = full.filter(col("cluster_id").isNotNull)
      .join(sticky, Seq("doc_id"), "left")
    val clusterOld = joined
      .groupBy(col("cluster_id"))
      .agg(countDistinct(col("split_old")).as("n_splits"),
        min(col("split_old")).as("old_split"))
    joined
      .join(clusterOld, Seq("cluster_id"), "left")
      .select(col("doc_id"), col("cluster_id"),
        when(col("split_old").isNotNull, col("split_old"))
          .when(col("n_splits") === 1L, col("old_split"))
          .when(col("n_splits") >= 2L, lit("quarantine"))
          .otherwise(splitOf(col("cluster_id"))).as("split"),
        when(col("split_old").isNotNull, lit("held"))
          .when(col("n_splits") === 1L, lit("inherited"))
          .when(col("n_splits") >= 2L, lit("quarantined"))
          .otherwise(lit("fresh")).as("origin"))
      .orderBy("doc_id")
  }

  // ---- x65: token-budget corpus selection ----

  /** x65: quality-greedy corpus selection under a token budget — "fill
    * half the corpus' tokens with the best documents": rank docs by
    * (quality DESC, doc_id ASC) and keep the prefix whose running token
    * sum stays within budget = ⌊total_tokens / 2⌋. This is the data-
    * selection step after scoring (x9) and before packing (x31).
    *
    * The running sum is a GLOBAL prefix sum, which a naive
    * `Window.orderBy` computes in ONE task — the classic driver-shaped
    * anti-pattern at 100 TB. Instead the two-level prefix sum: (1) a
    * tiny per-(quality, doc-range-bucket) token-sum aggregate (quality
    * has 5 levels × [[x65Buckets]] range buckets — bounded, broadcast);
    * (2) each group's global offset via a window over that TINY frame;
    * (3) a window partitioned BY (quality, bucket) adds within-group
    * running sums to the broadcast offset. Every corpus-sized step is
    * either a map-side-combinable aggregate or a partitioned window —
    * nothing corpus-sized sorts globally; at 1000 executors the bucket
    * count scales with the cluster, not the data. Budget and max doc_id
    * ride one broadcast 1-row aggregate (the Changelog crossJoin
    * idiom). */
  def x65BudgetSelect(spark: SparkSession, dir: String): DataFrame =
    budgetSelectOn(
      Stages.x9Scores(spark, dir).select(col("doc_id"), col("quality"), col("n_tok")))

  /** x65's core over any (doc_id, quality, n_tok) frame — split out so
    * the two-level prefix-sum algebra is property-testable against a
    * sequential fold on arbitrary corpora (the packingOn precedent). */
  private[graft] def budgetSelectOn(q: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lims = q.agg(fdiv(sum(col("n_tok")), lit(2L)).as("budget"),
      (max(col("doc_id")) + 1L).as("mx"))
    val bucketed = q.crossJoin(broadcast(lims))
      .withColumn("bkt", fdiv(col("doc_id") * x65Buckets, col("mx")))
    // per-(quality, bkt) totals: ≤ |quality levels|·x65Buckets rows —
    // the offsets frame (tiny; its global window is over that frame,
    // never the corpus)
    val offW = Window.orderBy(col("quality").desc, col("bkt").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offsets = bucketed.groupBy(col("quality"), col("bkt"))
      .agg(sum(col("n_tok")).as("grp_tok"))
      .withColumn("off", sum(col("grp_tok")).over(offW) - col("grp_tok"))
      .select(col("quality"), col("bkt"), col("off"))
    val inW = Window.partitionBy(col("quality"), col("bkt")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bucketed.join(broadcast(offsets), Seq("quality", "bkt"))
      .withColumn("cum_tok", col("off") + sum(col("n_tok")).over(inW))
      .filter(col("cum_tok") <= col("budget"))
      .select(col("doc_id"), col("quality"), col("n_tok"), col("cum_tok"))
      .orderBy("doc_id")
  }

  /** Range buckets for x65's two-level global prefix sum; at cluster
    * scale set ≈ shuffle parallelism (the per-group window then never
    * sees more than corpus/buckets rows). */
  private[graft] val x65Buckets = 32L

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x63_split_assign" -> x63SplitAssign,
    "x66_split_audit" -> x66SplitAudit,
    // registered key serves the shared stage (r19 opt — x69 and x78
    // read the same assignment; [[Stages.x68Assign]])
    "x68_split_stable" -> ((s: SparkSession, d: String) =>
      Stages.x68Assign(s, d).orderBy("doc_id")),
    "x69_route_agreement" -> x69RouteAgreement,
    "x65_budget_select" -> x65BudgetSelect,
    "x39_shuffle_order" -> x39ShuffleOrder,
    "x42_grouped_topk" -> x42GroupedTopk,
    "x40_bigram_lm" -> x40BigramLm,
    "x41_dataset_diff" -> x41DatasetDiff,
    "x18_chunking" -> x18Chunking,
    "x19_tfidf" -> x19Tfidf,
    "x20_stratified_sample" -> x20StratifiedSample,
    "x44_group_sample" -> x44GroupSample,
    "x21_embed_quant" -> x21EmbedQuant,
    "x22_redact" -> x22Redact,
    "x52_pii_scan" -> x52PiiScan,
    "x23_simhash_neardup" -> x23SimhashNeardup,
    "x24_dedup_clusters" -> x24DedupClusters,
    // the registered key serves the shared stage (r19 opt — x76 reads
    // the same frame; [[Stages.x75Labels]]); the engine below stays the
    // canonical producer and BenchScaling's x75_marginal leg
    "x75_inc_labels" -> ((s: SparkSession, d: String) =>
      Stages.x75Labels(s, d).orderBy("doc_id")),
    "x76_label_agreement" -> x76LabelAgreement,
    "x78_index_refreeze" -> x78IndexRefreeze,
    "x25_boilerplate" -> x25Boilerplate,
    "x26_winnowing" -> x26Winnowing,
    "x28_surprisal" -> x28Surprisal,
    "x29_decontam" -> x29Decontam,
    "x30_mixture" -> x30Mixture,
    "x70_temp_mixture" -> x70TempMixture,
    "x31_packing" -> x31Packing,
    "x32_repetition" -> x32Repetition,
    "x33_dedup_eval" -> x33DedupEval,
    "x34_source_report" -> x34SourceReport,
    "x35_canonical_pick" -> x35CanonicalPick,
    "x36_incremental_dedup" -> x36IncrementalDedup,
    "x37_shard_manifest" -> x37ShardManifest,
    "x38_pipeline_e2e" -> x38PipelineE2e)

  /** DuckDB twin of the Spark hex16 parse (no conv(); nibble positions
    * via instr on the hex alphabet). */
  private[graft] def hex16Sql(h: String): String =
    (0 until 4).map { i =>
      val nib = TextOps.nibSql(h, i + 1)
      s"(${1L << (4 * (3 - i))} * $nib)"
    }.mkString("(", " + ", ")")

  /** DuckDB twin of x44's 48-bit priority (first 12 hex chars of md5,
    * same nibble parse as hex16Sql). */
  private[graft] def hex48Sql(h: String): String =
    (0 until 12).map { i =>
      val nib = TextOps.nibSql(h, i + 1)
      s"(${1L << (4 * (11 - i))} * $nib)"
    }.mkString("(", " + ", ")")

  /** x31's oracle — a val (not a map self-reference) because x37's
    * manifest oracle embeds it. */
  private val x31Sql: String =
    s"""WITH d AS (SELECT doc_id,
       |    len(string_split(text, ' ')) AS n_tok,
       |    ${hex16Sql("md5(CAST(doc_id AS VARCHAR))")} % $packWriters AS writer
       |  FROM documents),
       |c AS (SELECT doc_id, writer, n_tok,
       |    sum(n_tok) OVER (PARTITION BY writer ORDER BY doc_id
       |                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM d)
       |SELECT doc_id, writer, CAST(n_tok AS BIGINT) AS n_tok,
       |  ${fdivSql("CAST(cum - n_tok AS BIGINT)", packBudget.toString)} AS shard_id,
       |  CAST((cum - n_tok) % $packBudget AS BIGINT) AS shard_off
       |FROM c ORDER BY doc_id""".stripMargin

  /** x24's oracle: independent derivation — transitive closure as a
    * recursive CTE over the same x13 candidate pairs; min-label fixpoints
    * are unique, so it agrees exactly with Spark's iterative propagation.
    * A val (not a map self-reference) because x35's oracle embeds it. */
  private val x24Sql: String =
    s"""WITH RECURSIVE
       |pairs AS (SELECT d1, d2 FROM (${TextOps.oracle("x13_minhash_lsh")}) t),
       |edges AS (SELECT d1, d2 FROM pairs UNION SELECT d2 AS d1, d1 AS d2 FROM pairs),
       |reach AS (
       |  SELECT doc_id AS d, doc_id AS l FROM documents
       |  UNION
       |  SELECT e.d1 AS d, r.l FROM edges e JOIN reach r ON r.d = e.d2
       |)
       |SELECT d AS doc_id, min(l) AS cluster_id FROM reach GROUP BY d
       |ORDER BY doc_id""".stripMargin

  /** x75's oracle: BOTH fixpoints as recursive transitive closures —
    * the full labeling (x24Sql's derivation) and the history-restricted
    * seed — joined into the maintenance diff. Exact agreement with the
    * incremental contraction because min-label fixpoints are unique and
    * seed labels are the min ids of their history components. */
  private val x75Sql: String =
    s"""WITH RECURSIVE
       |t AS MATERIALIZED (SELECT ${fdivSql("9 * max(doc_id)", "10")} AS thr FROM documents),
       |prs AS MATERIALIZED (SELECT d1, d2 FROM (${TextOps.oracle("x13_minhash_lsh")}) px),
       |edges AS MATERIALIZED (SELECT d1, d2 FROM prs UNION SELECT d2 AS d1, d1 AS d2 FROM prs),
       |reach AS (
       |  SELECT doc_id AS d, doc_id AS l FROM documents
       |  UNION
       |  SELECT e.d1 AS d, r.l FROM edges e JOIN reach r ON r.d = e.d2
       |),
       |fullc AS MATERIALIZED (SELECT d AS doc_id, min(l) AS cluster_id FROM reach GROUP BY d),
       |oedges AS MATERIALIZED (SELECT e.d1, e.d2 FROM edges e, t WHERE e.d1 <= t.thr AND e.d2 <= t.thr),
       |oreach AS (
       |  SELECT doc_id AS d, doc_id AS l FROM documents, t WHERE doc_id <= t.thr
       |  UNION
       |  SELECT e.d1 AS d, r.l FROM oedges e JOIN oreach r ON r.d = e.d2
       |),
       |seedc AS MATERIALIZED (SELECT d AS doc_id, min(l) AS seed_id FROM oreach GROUP BY d)
       |SELECT f.doc_id,
       |  COALESCE(s.seed_id, f.doc_id) AS seed_id,
       |  f.cluster_id,
       |  CAST(CASE WHEN COALESCE(s.seed_id, f.doc_id) <> f.cluster_id
       |       THEN 1 ELSE 0 END AS BIGINT) AS changed
       |FROM fullc f LEFT JOIN seedc s USING (doc_id)
       |ORDER BY f.doc_id""".stripMargin

  /** x63's oracle, a val because x66's audit embeds the same
    * label→split derivation (the x24Sql/x35 idiom). */
  private val x63Sql: String =
    s"""WITH labels AS (SELECT * FROM ($x24Sql) lx),
       |b AS (SELECT doc_id, cluster_id,
       |        ${hex16Sql("md5(CAST(cluster_id AS VARCHAR))")} % 10 AS bkt
       |      FROM labels)
       |SELECT doc_id, cluster_id,
       |  CASE WHEN bkt = 0 THEN 'test' WHEN bkt = 1 THEN 'val'
       |       ELSE 'train' END AS split
       |FROM b ORDER BY doc_id""".stripMargin

  /** x68's oracle: BOTH min-label fixpoints (history-restricted and
    * full) as recursive transitive closures (the x24Sql derivation —
    * exact agreement because min-label fixpoints are unique), the sticky
    * split hashed from the phase-1 label, and the same four-way decision
    * rule. */
  /** The shared split rule's SQL CASE over a 0..9 bucket expression. */
  private def splitCase(bkt: String): String =
    s"CASE WHEN $bkt = 0 THEN 'test' WHEN $bkt = 1 THEN 'val' ELSE 'train' END"

  private val x68Sql: String = {
    s"""WITH RECURSIVE
       |t AS MATERIALIZED (SELECT ${fdivSql("9 * max(doc_id)", "10")} AS thr FROM documents),
       |prs AS MATERIALIZED (SELECT d1, d2 FROM (${TextOps.oracle("x13_minhash_lsh")}) px),
       |edges AS MATERIALIZED (SELECT d1, d2 FROM prs UNION SELECT d2 AS d1, d1 AS d2 FROM prs),
       |reach AS (
       |  SELECT doc_id AS d, doc_id AS l FROM documents
       |  UNION
       |  SELECT e.d1 AS d, r.l FROM edges e JOIN reach r ON r.d = e.d2
       |),
       |fullc AS MATERIALIZED (SELECT d AS doc_id, min(l) AS cluster_id FROM reach GROUP BY d),
       |oedges AS MATERIALIZED (SELECT e.d1, e.d2 FROM edges e, t WHERE e.d1 <= t.thr AND e.d2 <= t.thr),
       |oreach AS (
       |  SELECT doc_id AS d, doc_id AS l FROM documents, t WHERE doc_id <= t.thr
       |  UNION
       |  SELECT e.d1 AS d, r.l FROM oedges e JOIN oreach r ON r.d = e.d2
       |),
       |sticky AS MATERIALIZED (
       |  SELECT doc_id, ${splitCase(s"${hex16Sql("md5(CAST(oc AS VARCHAR))")} % 10")} AS split_old
       |  FROM (SELECT d AS doc_id, min(l) AS oc FROM oreach GROUP BY d) z),
       |co AS MATERIALIZED (
       |  SELECT f.cluster_id, count(DISTINCT s.split_old) AS n_splits,
       |         min(s.split_old) AS old_split
       |  FROM fullc f JOIN sticky s USING (doc_id) GROUP BY 1)
       |SELECT f.doc_id, f.cluster_id,
       |  CASE WHEN s.split_old IS NOT NULL THEN s.split_old
       |       WHEN co.n_splits = 1 THEN co.old_split
       |       WHEN co.n_splits >= 2 THEN 'quarantine'
       |       ELSE ${splitCase(s"${hex16Sql("md5(CAST(f.cluster_id AS VARCHAR))")} % 10")} END AS split,
       |  CASE WHEN s.split_old IS NOT NULL THEN 'held'
       |       WHEN co.n_splits = 1 THEN 'inherited'
       |       WHEN co.n_splits >= 2 THEN 'quarantined'
       |       ELSE 'fresh' END AS origin
       |FROM fullc f
       |LEFT JOIN sticky s USING (doc_id)
       |LEFT JOIN co USING (cluster_id)
       |ORDER BY f.doc_id""".stripMargin
  }

  // ---- s18/x69 shared routing core ----

  /** s18's split-bit packing: test=1, val=2, train=4, quarantine=8 —
    * OR-able through the band index, popcount-free to unpack. The
    * quarantine bit never occurs in a phase-1 sticky table (hash splits
    * only) but DOES once a next-generation sticky store folds bridge
    * arrivals in ([[persistStickySplitsIncremental]]) — a quarantined
    * neighbor then quarantines the arrival through
    * [[routeVerdictCols]]'s conflict branch. */
  private[graft] def splitBitCol(s: Column): Column =
    when(s === "test", 1L).when(s === "val", 2L).when(s === "train", 4L)
      .otherwise(8L)

  /** The band indexes' STORED form over any (doc_id, band, h) band
    * frame and per-doc payload: one row per (band, h) BUCKET — under-
    * and over-cap alike — carrying the bucket occupancy `df` and the
    * aggregated payload, NULL for buckets past the df cap (tombstone:
    * never served, but the occupancy must persist or an incremental
    * merge could resurrect a hot bucket a full rebuild would drop — df
    * only grows, so over-cap is absorbing). `df` makes the stored rows
    * MERGEABLE: occupancies add and the payloads (bit_or / label sets)
    * union, which is what lets a re-freeze band only the arrivals
    * ([[mergeRouteIndex]]/[[mergeLabelIndex]]) instead of re-banding
    * history — the r18 verdict's last superlinear freeze line. Serving
    * applies the cap filter at read ([[serveRouteIndex]]/
    * [[serveLabelIndex]]), so consumers see exactly the pre-v2 index. */
  private[graft] def routeIndexOn(bands: DataFrame, splits: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wB = Window.partitionBy(col("band"), col("h"))
    val withDf = bands.withColumn("df", count(lit(1)).over(wB))
    // the ONE df-cap definition (TextOps.x13BandDfCap): retuning x13's
    // cap must retune the router's index with it, or the neighbor set
    // silently diverges from the pair table feeding x68Sticky
    withDf.filter(col("df") <= TextOps.x13BandDfCap)
      .join(splits, "doc_id")
      .groupBy(col("band"), col("h"), col("df"))
      .agg(bit_or(splitBitCol(col("split"))).as("bits"))
      .unionByName(withDf.filter(col("df") > TextOps.x13BandDfCap)
        .select(col("band"), col("h"), col("df")).distinct()
        .withColumn("bits", lit(null).cast(LongType)))
  }

  /** [[routeIndexOn]]'s label twin: the payload is the SET of distinct
    * member labels (sorted for determinism), not just their min — the
    * min alone is not mergeable across freeze generations (two clusters
    * sharing a bucket can flip relative order when one merges with an
    * older cluster), while the set remaps exactly: every member's new
    * label equals the new label of its OLD label's doc
    * (components only merge), so remap(old set) ∪ delta set IS the full
    * rebuild's set. Bounded by the df cap: a served bucket holds ≤ cap
    * members, so ≤ cap labels; over-cap buckets tombstone to NULL
    * before any set materializes. Serving reads `array_min(labs)` —
    * the same min-member-label the pre-v2 index carried. */
  private[graft] def labelIndexOn(bands: DataFrame, labels: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wB = Window.partitionBy(col("band"), col("h"))
    val withDf = bands.withColumn("df", count(lit(1)).over(wB))
    withDf.filter(col("df") <= TextOps.x13BandDfCap)
      .join(labels, "doc_id")
      .groupBy(col("band"), col("h"), col("df"))
      .agg(sort_array(collect_set(col("cluster_id"))).as("labs"))
      .unionByName(withDf.filter(col("df") > TextOps.x13BandDfCap)
        .select(col("band"), col("h"), col("df")).distinct()
        .withColumn("labs",
          lit(null).cast(org.apache.spark.sql.types.ArrayType(LongType))))
  }

  /** The SERVED projection of a stored route index: under-cap buckets
    * only, (band, h, bits) — the shape every consumer (s18 gate,
    * [[routeDecisions]], x69) reads; bit-identical to the pre-v2
    * index. */
  private[graft] def serveRouteIndex(full: DataFrame): DataFrame =
    full.filter(col("df") <= TextOps.x13BandDfCap)
      .select(col("band"), col("h"), col("bits"))

  /** The SERVED projection of a stored label index: under-cap buckets,
    * (band, h, lab = min member label). */
  private[graft] def serveLabelIndex(full: DataFrame): DataFrame =
    full.filter(col("df") <= TextOps.x13BandDfCap)
      .select(col("band"), col("h"), array_min(col("labs")).as("lab"))

  /** The sticky generation the route index is banded over, WITH its
    * freeze boundary: the configured store's frame plus its STAMPED
    * `thr` (one source of truth — until r19 the banding slice and the
    * persisted stamp both re-derived the boundary from the current
    * corpus, so an older configured sticky store produced an index
    * banded over one generation but stamped with another, invisible to
    * x74's boundary-only audit); unconfigured, the in-session stage at
    * the corpus 9/10 boundary. */
  private[graft] def stickyGeneration(spark: SparkSession, dir: String): (DataFrame, Long) =
    Stages.generation(spark, Artifacts.Sticky).getOrElse {
      val thr = Tables.historyThr(documents(spark, dir)) // 1 row — the installment boundary
      (Stages.x68Sticky(spark, dir), thr)
    }

  /** The router's FROZEN index, stored form (band, h, df, bits):
    * history-slice x13 bands (hot buckets tombstoned past the x13 df
    * cap; singles stay — a one-doc bucket is a valid neighbor) joined
    * to the sticky generation's splits, bits OR'd per bucket. Consumers
    * read the served projection through [[Stages.s18Index]] so the
    * banding + fixpoint run once per session across the s18 gate and
    * x69's agreement audit. The banding slice is the STICKY generation's
    * boundary ([[stickyGeneration]]), so a configured store and the
    * banded slice can never disagree. */
  private[graft] def routeIndexUnstaged(spark: SparkSession, dir: String): DataFrame = {
    val (sticky, thr) = stickyGeneration(spark, dir)
    // history slice of the staged corpus banding (r20, §2.4) — banding
    // is doc-local, so the filter of the shared frame is the banding of
    // the filtered docs
    routeIndexOn(Stages.x13BandsAll(spark, dir).filter(col("doc_id") <= thr),
      sticky.select(col("doc_id"), col("split_old").as("split")))
  }

  /** The s21 label router's FROZEN index, stored form (band, h, df,
    * labs): history-slice x13 bands (the s18 rule: one df definition
    * across the lattice) joined to the frozen history labeling
    * ([[Stages.x75Seed]] — the same seed x75's maintenance contracts
    * from), distinct member labels per bucket. Consumers read the
    * served min-label projection through [[Stages.s21Index]]. */
  private[graft] def labelIndexUnstaged(spark: SparkSession, dir: String): DataFrame = {
    val d = documents(spark, dir).select(col("doc_id"))
    val thr = Tables.historyThr(d)
    labelIndexOn(Stages.x13BandsAll(spark, dir).filter(col("doc_id") <= thr),
      Stages.x75Seed(spark, dir))
  }

  /** The s21 assignment rule, batch-side: arrivals banded with the x13
    * pipeline, probed against the staged frozen label index, min
    * neighbor label per doc (own id when no held neighbor) — one row
    * per arrival (doc_id, cluster_id, origin). StreamGateSpec pins the
    * gate's stateless per-row execution equal to this. */
  private[graft] def labelRouteDecisions(spark: SparkSession, dir: String): DataFrame = {
    val d = documents(spark, dir).select(col("doc_id"), col("text"))
    val thr = Tables.historyThr(d)
    val hit = Stages.x13BandsAll(spark, dir).filter(col("doc_id") > thr)
      .join(Stages.s21Index(spark, dir), Seq("band", "h"))
      .groupBy(col("doc_id")).agg(min(col("lab")).as("lab"))
    d.filter(col("doc_id") > thr).select(col("doc_id"))
      .join(hit, Seq("doc_id"), "left")
      .select(col("doc_id") +: labelVerdictCols(col("lab"), col("doc_id")): _*)
  }

  /** The label assignment's verdict columns from the min matched label
    * (shared by the s21 gate and [[labelRouteDecisions]]): the label, or
    * the arrival's own id when no held neighbor matched. */
  private[graft] def labelVerdictCols(lab: Column, docId: Column): Seq[Column] = Seq(
    coalesce(lab, docId).as("cluster_id"),
    when(lab.isNull, "fresh").otherwise("matched").as("origin"))

  /** The router's verdict columns from OR'd bits (shared by the s18
    * gate's post-sink mapping and [[routeDecisions]]): one bit →
    * inherited split, conflict → quarantine, none → the hash rule on
    * the arrival's own id. */
  private[graft] def routeVerdictCols(bits: Column, docId: Column): Seq[Column] = Seq(
    when(bits === 1L, "test").when(bits === 2L, "val").when(bits === 4L, "train")
      .when(bits === 0L, splitOf(docId)).otherwise(lit("quarantine")).as("split"),
    when(bits === 0L, "fresh").when(bits.isin(1L, 2L, 4L), "inherited")
      .otherwise(lit("quarantined")).as("origin"))

  /** The s18 routing rule, batch-side: arrivals banded with the batch
    * x13 pipeline, probed against the staged frozen index, bits OR'd per
    * doc — one row per arrival (doc_id, bits, split, origin).
    * StreamGateSpec pins the gate's stateless per-row execution equal to
    * this; x69 audits it against x68's closure. */
  private[graft] def routeDecisions(spark: SparkSession, dir: String): DataFrame = {
    val d = documents(spark, dir).select(col("doc_id"), col("text"))
    val thr = Tables.historyThr(d)
    val arrBits = Stages.x13BandsAll(spark, dir).filter(col("doc_id") > thr)
      .join(Stages.s18Index(spark, dir), Seq("band", "h"))
      .groupBy(col("doc_id")).agg(bit_or(col("bits")).as("bits"))
    val withBits = d.filter(col("doc_id") > thr).select(col("doc_id"))
      .join(arrBits, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("bits"), lit(0L)).as("bits"))
    withBits.select(
      Seq(col("doc_id"), col("bits")) ++
        routeVerdictCols(col("bits"), col("doc_id")): _*)
  }

  // ---- x69: router-vs-closure agreement audit ----

  /** x69: the serving/batch governance RECONCILIATION — for every
    * arrival, how did the s18 router's per-document decision (frozen
    * band index, direct neighbors only) compare to x68's batch closure
    * (full transitivity through other arrivals)? The matrix of
    * (batch_origin, route_origin) cells with doc counts and
    * split-agreement counts is the page a governance review reads: the
    * diagonal is healthy, route-inherited-vs-batch-quarantined cells
    * measure bridges the router could not see per-document, and any
    * disagreement INSIDE an inherited/inherited cell would mean the
    * index served a split the closure contradicts (x69 measures it
    * rather than assuming it — the x33/x51/x66 posture).
    *
    * Plan shape: x68's assignment (staged labels + sticky) joined to
    * the batch-side routing rule (staged index) on doc_id, then ONE
    * tiny groupBy over ≤ 3×3 origin cells — map-side combinable, output
    * bounded by construction. */
  def x69RouteAgreement(spark: SparkSession, dir: String): DataFrame = {
    val batch = Stages.x68Assign(spark, dir)
      .filter(col("origin") =!= "held")
      .select(col("doc_id"), col("split").as("batch_split"),
        col("origin").as("batch_origin"))
    val routed = routeDecisions(spark, dir)
      .select(col("doc_id"), col("split").as("route_split"),
        col("origin").as("route_origin"))
    batch.join(routed, "doc_id")
      .groupBy(col("batch_origin"), col("route_origin"))
      .agg(count(lit(1)).as("n_docs"),
        sum((col("batch_split") === col("route_split")).cast(LongType))
          .as("n_split_agree"))
      .orderBy("batch_origin", "route_origin")
  }

  /** s18's oracle (lives here with the split lattice SQL): sticky via
    * the history closure, the capped history band index with OR'd split
    * bits, arrival bands re-derived, and the same four-way routing CASE.
    * Band keys are hex-string concatenations where the engine packs two
    * 16-bit ints — equality-preserving, join-key-only (the x13 note). */
  private[graft] def s18OracleSql: String = {
    def sigSql(src: String) =
      (0 until 8).map(s => s"min(substring(gh, ${4 * s + 1}, 4)) AS mh$s")
        .mkString(s"SELECT doc_id, ", ", ", s" FROM $src GROUP BY doc_id")
    def bandsSql(sig: String) =
      (0 until 4).map(b =>
        s"SELECT doc_id, CAST($b AS BIGINT) AS band, mh${2 * b} || mh${2 * b + 1} AS h FROM $sig")
        .mkString(" UNION ALL ")
    s"""WITH RECURSIVE
       |tt AS MATERIALIZED (SELECT ${fdivSql("9 * max(doc_id)", "10")} AS thr FROM documents),
       |prs AS MATERIALIZED (SELECT d1, d2 FROM (${TextOps.oracle("x13_minhash_lsh")}) px, tt
       |                     WHERE d1 <= tt.thr AND d2 <= tt.thr),
       |oedges AS MATERIALIZED (SELECT d1, d2 FROM prs UNION SELECT d2 AS d1, d1 AS d2 FROM prs),
       |oreach AS (
       |  SELECT doc_id AS d, doc_id AS l FROM documents, tt WHERE doc_id <= tt.thr
       |  UNION
       |  SELECT e.d1 AS d, r.l FROM oedges e JOIN oreach r ON r.d = e.d2
       |),
       |sticky AS MATERIALIZED (
       |  SELECT doc_id, ${splitCase(s"${hex16Sql("md5(CAST(oc AS VARCHAR))")} % 10")} AS split_old
       |  FROM (SELECT d AS doc_id, min(l) AS oc FROM oreach GROUP BY d) z),
       |gh AS MATERIALIZED (SELECT doc_id, md5(gram) AS gh
       |                    FROM (${TextOps.shingleRowsSql}) sr, tt WHERE doc_id <= tt.thr),
       |sig AS MATERIALIZED (${sigSql("gh")}),
       |bands AS MATERIALIZED (${bandsSql("sig")}),
       |idx AS MATERIALIZED (
       |  SELECT band, h,
       |    bit_or(CASE s.split_old WHEN 'test' THEN 1 WHEN 'val' THEN 2 ELSE 4 END) AS bits
       |  FROM (SELECT bands.doc_id, bands.band, bands.h FROM bands
       |        JOIN (SELECT band, h FROM bands GROUP BY band, h
       |              HAVING count(*) <= ${TextOps.x13BandDfCap}) k USING (band, h)) kept
       |  JOIN sticky s USING (doc_id) GROUP BY 1, 2),
       |agh AS MATERIALIZED (SELECT doc_id, md5(gram) AS gh
       |                     FROM (${TextOps.shingleRowsSql}) sr, tt WHERE doc_id > tt.thr),
       |asig AS MATERIALIZED (${sigSql("agh")}),
       |abands AS MATERIALIZED (${bandsSql("asig")}),
       |hits AS MATERIALIZED (
       |  SELECT ab.doc_id, CAST(bit_or(i.bits) AS BIGINT) AS bits
       |  FROM abands ab JOIN idx i USING (band, h) GROUP BY ab.doc_id),
       |arr AS (SELECT doc_id FROM documents, tt WHERE doc_id > tt.thr)
       |SELECT a.doc_id, COALESCE(h.bits, 0) AS bits,
       |  CASE WHEN COALESCE(h.bits, 0) = 1 THEN 'test'
       |       WHEN COALESCE(h.bits, 0) = 2 THEN 'val'
       |       WHEN COALESCE(h.bits, 0) = 4 THEN 'train'
       |       WHEN COALESCE(h.bits, 0) = 0
       |         THEN ${splitCase(s"${hex16Sql("md5(CAST(a.doc_id AS VARCHAR))")} % 10")}
       |       ELSE 'quarantine' END AS split,
       |  CASE WHEN COALESCE(h.bits, 0) = 0 THEN 'fresh'
       |       WHEN COALESCE(h.bits, 0) IN (1, 2, 4) THEN 'inherited'
       |       ELSE 'quarantined' END AS origin
       |FROM arr a LEFT JOIN hits h USING (doc_id)
       |ORDER BY a.doc_id""".stripMargin
  }

  /** x76: label serving/batch RECONCILIATION — x69's
    * measured-not-assumed posture applied to the label lifecycle: for
    * every arrival, how did s21's per-document assignment (frozen band
    * index, direct neighbors only, stored names only) compare to x75's
    * batch maintenance label (full transitivity through other
    * arrivals, merges and renames included)? One row per route origin
    * with doc counts, label-agreement counts, and the count of
    * arrivals whose BATCH cluster is arrival-named (cluster_id > thr —
    * the fresh-cluster formations and renames the router structurally
    * cannot see, measured rather than hand-waved). The diagonal story
    * a governance review reads: matched/agree is healthy serving,
    * matched/disagree are bridges that merged under a smaller name
    * after the router decided, fresh/disagree are arrival-only
    * clusters the batch job named later.
    *
    * Plan shape: x75's maintenance (staged seed + arrival contraction)
    * joined to the batch routing twin (staged s21 index) on doc_id,
    * then ONE tiny groupBy over ≤2 origin cells — map-side combinable,
    * output bounded by construction. */
  def x76LabelAgreement(spark: SparkSession, dir: String): DataFrame = {
    val thr = Tables.historyThr(documents(spark, dir))
    val batch = Stages.x75Labels(spark, dir)
      .filter(col("doc_id") > thr)
      .select(col("doc_id"), col("cluster_id").as("batch_label"))
    val routed = labelRouteDecisions(spark, dir)
      .select(col("doc_id"), col("cluster_id").as("route_label"),
        col("origin").as("route_origin"))
    batch.join(routed, "doc_id")
      .groupBy(col("route_origin"))
      .agg(count(lit(1)).as("n_docs"),
        sum((col("batch_label") === col("route_label")).cast(LongType))
          .as("n_agree"),
        sum((col("batch_label") > thr).cast(LongType)).as("n_arrival_named"))
      .orderBy("route_origin")
  }

  /** x76's oracle: BOTH lattices re-derived independently — the full
    * closure (x75's maintenance labels) and the band-neighbor
    * assignment (s21's rule) — joined into the agreement matrix. */
  private[graft] def x76OracleSql: String = {
    def sigSql(src: String) =
      (0 until 8).map(s => s"min(substring(gh, ${4 * s + 1}, 4)) AS mh$s")
        .mkString(s"SELECT doc_id, ", ", ", s" FROM $src GROUP BY doc_id")
    def bandsSql(sig: String) =
      (0 until 4).map(b =>
        s"SELECT doc_id, CAST($b AS BIGINT) AS band, mh${2 * b} || mh${2 * b + 1} AS h FROM $sig")
        .mkString(" UNION ALL ")
    s"""WITH RECURSIVE
       |tt AS MATERIALIZED (SELECT ${fdivSql("9 * max(doc_id)", "10")} AS thr FROM documents),
       |allprs AS MATERIALIZED (SELECT d1, d2 FROM (${TextOps.oracle("x13_minhash_lsh")}) px),
       |edges AS MATERIALIZED (SELECT d1, d2 FROM allprs UNION SELECT d2 AS d1, d1 AS d2 FROM allprs),
       |reach AS (
       |  SELECT doc_id AS d, doc_id AS l FROM documents
       |  UNION
       |  SELECT e.d1 AS d, r.l FROM edges e JOIN reach r ON r.d = e.d2
       |),
       |fullc AS MATERIALIZED (SELECT d AS doc_id, min(l) AS cluster_id FROM reach GROUP BY d),
       |oedges AS MATERIALIZED (SELECT e.d1, e.d2 FROM edges e, tt WHERE e.d1 <= tt.thr AND e.d2 <= tt.thr),
       |oreach AS (
       |  SELECT doc_id AS d, doc_id AS l FROM documents, tt WHERE doc_id <= tt.thr
       |  UNION
       |  SELECT e.d1 AS d, r.l FROM oedges e JOIN oreach r ON r.d = e.d2
       |),
       |seedc AS MATERIALIZED (SELECT d AS doc_id, min(l) AS lab FROM oreach GROUP BY d),
       |gh AS MATERIALIZED (SELECT doc_id, md5(gram) AS gh
       |                    FROM (${TextOps.shingleRowsSql}) sr, tt WHERE doc_id <= tt.thr),
       |sig AS MATERIALIZED (${sigSql("gh")}),
       |bands AS MATERIALIZED (${bandsSql("sig")}),
       |idx AS MATERIALIZED (
       |  SELECT band, h, min(s.lab) AS lab
       |  FROM (SELECT bands.doc_id, bands.band, bands.h FROM bands
       |        JOIN (SELECT band, h FROM bands GROUP BY band, h
       |              HAVING count(*) <= ${TextOps.x13BandDfCap}) k USING (band, h)) kept
       |  JOIN seedc s USING (doc_id) GROUP BY 1, 2),
       |agh AS MATERIALIZED (SELECT doc_id, md5(gram) AS gh
       |                     FROM (${TextOps.shingleRowsSql}) sr, tt WHERE doc_id > tt.thr),
       |asig AS MATERIALIZED (${sigSql("agh")}),
       |abands AS MATERIALIZED (${bandsSql("asig")}),
       |hits AS MATERIALIZED (
       |  SELECT ab.doc_id, CAST(min(i.lab) AS BIGINT) AS lab
       |  FROM abands ab JOIN idx i USING (band, h) GROUP BY ab.doc_id),
       |arr AS (SELECT doc_id FROM documents, tt WHERE doc_id > tt.thr)
       |SELECT
       |  CASE WHEN h.lab IS NULL THEN 'fresh' ELSE 'matched' END AS route_origin,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(CASE WHEN COALESCE(h.lab, a.doc_id) = f.cluster_id
       |       THEN 1 ELSE 0 END) AS BIGINT) AS n_agree,
       |  CAST(sum(CASE WHEN f.cluster_id > (SELECT thr FROM tt)
       |       THEN 1 ELSE 0 END) AS BIGINT) AS n_arrival_named
       |FROM arr a
       |LEFT JOIN hits h USING (doc_id)
       |JOIN fullc f ON f.doc_id = a.doc_id
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** s21's oracle (lives here with the lattice SQL): the history
    * min-label closure, the capped history band index carrying each
    * bucket's min member label, arrival bands re-derived, and the
    * min-matched-label / own-id assignment rule — the s18 oracle with
    * labels in place of split bits. */
  private[graft] def s21OracleSql: String = {
    def sigSql(src: String) =
      (0 until 8).map(s => s"min(substring(gh, ${4 * s + 1}, 4)) AS mh$s")
        .mkString(s"SELECT doc_id, ", ", ", s" FROM $src GROUP BY doc_id")
    def bandsSql(sig: String) =
      (0 until 4).map(b =>
        s"SELECT doc_id, CAST($b AS BIGINT) AS band, mh${2 * b} || mh${2 * b + 1} AS h FROM $sig")
        .mkString(" UNION ALL ")
    s"""WITH RECURSIVE
       |tt AS MATERIALIZED (SELECT ${fdivSql("9 * max(doc_id)", "10")} AS thr FROM documents),
       |prs AS MATERIALIZED (SELECT d1, d2 FROM (${TextOps.oracle("x13_minhash_lsh")}) px, tt
       |                     WHERE d1 <= tt.thr AND d2 <= tt.thr),
       |oedges AS MATERIALIZED (SELECT d1, d2 FROM prs UNION SELECT d2 AS d1, d1 AS d2 FROM prs),
       |oreach AS (
       |  SELECT doc_id AS d, doc_id AS l FROM documents, tt WHERE doc_id <= tt.thr
       |  UNION
       |  SELECT e.d1 AS d, r.l FROM oedges e JOIN oreach r ON r.d = e.d2
       |),
       |seedc AS MATERIALIZED (SELECT d AS doc_id, min(l) AS lab FROM oreach GROUP BY d),
       |gh AS MATERIALIZED (SELECT doc_id, md5(gram) AS gh
       |                    FROM (${TextOps.shingleRowsSql}) sr, tt WHERE doc_id <= tt.thr),
       |sig AS MATERIALIZED (${sigSql("gh")}),
       |bands AS MATERIALIZED (${bandsSql("sig")}),
       |idx AS MATERIALIZED (
       |  SELECT band, h, min(s.lab) AS lab
       |  FROM (SELECT bands.doc_id, bands.band, bands.h FROM bands
       |        JOIN (SELECT band, h FROM bands GROUP BY band, h
       |              HAVING count(*) <= ${TextOps.x13BandDfCap}) k USING (band, h)) kept
       |  JOIN seedc s USING (doc_id) GROUP BY 1, 2),
       |agh AS MATERIALIZED (SELECT doc_id, md5(gram) AS gh
       |                     FROM (${TextOps.shingleRowsSql}) sr, tt WHERE doc_id > tt.thr),
       |asig AS MATERIALIZED (${sigSql("agh")}),
       |abands AS MATERIALIZED (${bandsSql("asig")}),
       |hits AS MATERIALIZED (
       |  SELECT ab.doc_id, CAST(min(i.lab) AS BIGINT) AS lab
       |  FROM abands ab JOIN idx i USING (band, h) GROUP BY ab.doc_id),
       |arr AS (SELECT doc_id FROM documents, tt WHERE doc_id > tt.thr)
       |SELECT a.doc_id,
       |  COALESCE(h.lab, a.doc_id) AS cluster_id,
       |  CASE WHEN h.lab IS NULL THEN 'fresh' ELSE 'matched' END AS origin
       |FROM arr a LEFT JOIN hits h USING (doc_id)
       |ORDER BY a.doc_id""".stripMargin
  }

  /** x78's oracle: an INDEPENDENT full-corpus banding — the bucket
    * counts (total and under-cap) pin BOTH build paths' row counts, and
    * the mismatch/pass columns pin to 0/1, so the incremental-vs-full
    * equality the Spark side measures must actually hold for the hash
    * gate to pass. Splits/labels never enter the oracle: bucket
    * membership (and so every count) is payload-independent — each
    * banded doc has exactly one split and one label row on the Spark
    * side, so the payload joins preserve occupancy. */
  private[graft] def x78OracleSql: String = {
    def sigSql(src: String) =
      (0 until 8).map(s => s"min(substring(gh, ${4 * s + 1}, 4)) AS mh$s")
        .mkString(s"SELECT doc_id, ", ", ", s" FROM $src GROUP BY doc_id")
    def bandsSql(sig: String) =
      (0 until 4).map(b =>
        s"SELECT doc_id, CAST($b AS BIGINT) AS band, mh${2 * b} || mh${2 * b + 1} AS h FROM $sig")
        .mkString(" UNION ALL ")
    s"""WITH gh AS MATERIALIZED (SELECT doc_id, md5(gram) AS gh
       |                         FROM (${TextOps.shingleRowsSql}) sr),
       |sig AS MATERIALIZED (${sigSql("gh")}),
       |bands AS MATERIALIZED (${bandsSql("sig")}),
       |b AS MATERIALIZED (SELECT band, h, count(*) AS df FROM bands GROUP BY 1, 2),
       |c AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n_all,
       |  CAST(sum(CASE WHEN df <= ${TextOps.x13BandDfCap} THEN 1 ELSE 0 END) AS BIGINT) AS n_served
       |  FROM b)
       |SELECT index_name, form, n_full, n_inc,
       |       CAST(0 AS BIGINT) AS n_mismatch, CAST(1 AS BIGINT) AS pass FROM (
       |  SELECT 's18_index' AS index_name, 'served' AS form,
       |         c.n_served AS n_full, c.n_served AS n_inc FROM c
       |  UNION ALL SELECT 's18_index', 'stored', c.n_all, c.n_all FROM c
       |  UNION ALL SELECT 's21_index', 'served', c.n_served, c.n_served FROM c
       |  UNION ALL SELECT 's21_index', 'stored', c.n_all, c.n_all FROM c
       |) ORDER BY index_name, form""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "x63_split_assign" -> x63Sql,
    "x68_split_stable" -> x68Sql,
    "x78_index_refreeze" -> x78OracleSql,
    // x70: exact integer temperature mixing — isqrt weight, floored
    // target, bottom-target-by-h48 draw, kept set counted AND checksummed
    "x70_temp_mixture" ->
      s"""WITH d AS MATERIALIZED (SELECT doc_id, lang,
         |        ${hex48Sql("md5(CAST(doc_id AS VARCHAR))")} AS h48 FROM documents),
         |c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |        CAST(floor(sqrt(count(*))) AS BIGINT) AS w FROM d GROUP BY lang),
         |t AS (SELECT CAST(sum(w) AS BIGINT) AS sw,
         |        ${Tables.fdivSql("CAST(sum(n_docs) AS BIGINT)", "2")} AS k FROM c),
         |g AS (SELECT lang, n_docs, w,
         |        LEAST(n_docs, ${Tables.fdivSql("k * w", "sw")}) AS target FROM c, t),
         |r AS (SELECT doc_id, lang,
         |        row_number() OVER (PARTITION BY lang ORDER BY h48, doc_id) AS rnk FROM d),
         |kp AS (SELECT r.lang, CAST(count(*) AS BIGINT) AS n_kept,
         |         CAST(sum(doc_id) AS BIGINT) AS kept_doc_sum
         |       FROM r JOIN g USING (lang) WHERE rnk <= target GROUP BY r.lang)
         |SELECT g.lang, g.n_docs, g.w, g.target,
         |  COALESCE(kp.n_kept, 0) AS n_kept,
         |  COALESCE(kp.kept_doc_sum, 0) AS kept_doc_sum
         |FROM g LEFT JOIN kp USING (lang) ORDER BY g.lang""".stripMargin,
    // x69: both sides' full lattices re-derived, joined per arrival,
    // rolled up to the ≤3×3 origin matrix
    "x69_route_agreement" ->
      s"""WITH b AS MATERIALIZED (SELECT doc_id, split AS batch_split, origin AS batch_origin
         |                        FROM ($x68Sql) bx WHERE origin <> 'held'),
         |r AS MATERIALIZED (SELECT doc_id, split AS route_split, origin AS route_origin
         |                   FROM ($s18OracleSql) rx)
         |SELECT b.batch_origin, r.route_origin, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN b.batch_split = r.route_split THEN 1 ELSE 0 END) AS BIGINT) AS n_split_agree
         |FROM b JOIN r USING (doc_id)
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "x66_split_audit" ->
      s"""WITH a AS (SELECT * FROM ($x63Sql) ax),
         |q AS (${TextOps.oracle("x9_quality")}),
         |w AS (SELECT a.doc_id, a.cluster_id, a.split, q.n_tok
         |      FROM a JOIN q USING (doc_id)),
         |t AS (SELECT CAST(sum(n_tok) AS BIGINT) AS tot FROM w),
         |p AS (SELECT split, count(*) AS n_docs,
         |        CAST(count(DISTINCT cluster_id) AS BIGINT) AS n_clusters,
         |        CAST(sum(n_tok) AS BIGINT) AS sum_tok
         |      FROM w GROUP BY split),
         |pr AS (SELECT d1, d2 FROM (${TextOps.oracle("x13_minhash_lsh")}) px),
         |x AS (SELECT a1.split AS s1, a2.split AS s2
         |      FROM pr JOIN a a1 ON pr.d1 = a1.doc_id
         |              JOIN a a2 ON pr.d2 = a2.doc_id
         |      WHERE a1.split <> a2.split),
         |c AS (SELECT split, count(*) AS cp FROM
         |        (SELECT s1 AS split FROM x UNION ALL SELECT s2 AS split FROM x) u
         |      GROUP BY split)
         |SELECT p.split, p.n_docs, p.n_clusters,
         |  ${fdivSql("1000 * sum_tok", "tot")} AS tok_share_per_1000,
         |  CAST(coalesce(c.cp, 0) AS BIGINT) AS cross_split_pairs
         |FROM p LEFT JOIN c ON p.split = c.split CROSS JOIN t
         |ORDER BY p.split""".stripMargin,
    // independent derivation: the oracle computes the running sum the
    // naive way (one global window) — agreeing exactly with Spark's
    // two-level bucket prefix sum proves the offset algebra
    "x65_budget_select" ->
      s"""WITH q AS (${TextOps.oracle("x9_quality")}),
         |t AS (SELECT ${fdivSql("CAST(sum(n_tok) AS BIGINT)", "2")} AS budget FROM q),
         |c AS (SELECT doc_id, quality, n_tok,
         |        CAST(sum(n_tok) OVER (ORDER BY quality DESC, doc_id ASC
         |          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tok
         |      FROM q)
         |SELECT doc_id, quality, n_tok, cum_tok
         |FROM c CROSS JOIN t WHERE cum_tok <= budget ORDER BY doc_id""".stripMargin,
    "x42_grouped_topk" ->
      """SELECT lang, source, CAST(n_docs AS BIGINT) AS n_docs,
        |  CAST(rnk AS BIGINT) AS rnk, doc_id, n_chars FROM (
        |  SELECT lang, source, doc_id, n_chars,
        |    count(*) OVER (PARTITION BY lang, source) AS n_docs,
        |    row_number() OVER (PARTITION BY lang, source
        |                       ORDER BY n_chars DESC, doc_id ASC) AS rnk
        |  FROM documents WHERE n_chars IS NOT NULL)
        |WHERE rnk <= 5 ORDER BY lang, source, rnk""".stripMargin,
    "x39_shuffle_order" ->
      """SELECT doc_id,
        |  CAST(row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR) || ':0'), doc_id) - 1 AS BIGINT) AS pos
        |FROM documents ORDER BY doc_id""".stripMargin,
    "x41_dataset_diff" ->
      s"""WITH t AS (SELECT ${Tables.fdivSql("9 * max(doc_id)", "10")} AS thr FROM documents),
         |a AS (SELECT doc_id, md5(text) AS ha FROM documents, t WHERE doc_id <= thr),
         |b AS (SELECT doc_id, md5(CASE WHEN doc_id % 17 = 3 THEN text || ' v2' ELSE text END) AS hb
         |      FROM documents WHERE doc_id % 19 <> 0),
         |j AS (SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
         |             CASE WHEN a.doc_id IS NULL THEN 'added'
         |                  WHEN b.doc_id IS NULL THEN 'removed'
         |                  WHEN ha <> hb THEN 'changed' ELSE 'unchanged' END AS status
         |      FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id)
         |SELECT status, CAST(count(*) AS BIGINT) AS n,
         |       min(doc_id) AS min_doc, max(doc_id) AS max_doc
         |FROM j GROUP BY status ORDER BY status""".stripMargin,
    "x40_bigram_lm" -> {
      val mean = fdivSql("100 * CAST(sum(bits) AS BIGINT)", "count(*)")
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |tr AS (SELECT unnest(w) AS t FROM d WHERE doc_id % 2 = 0),
         |uni AS (SELECT t, count(*) AS cnt_t FROM tr GROUP BY t),
         |tot AS (SELECT count(*) AS n_total FROM tr),
         |bigr AS (SELECT bg.u AS u, bg.t AS t, count(*) AS cnt_ut FROM (
         |    SELECT unnest(list_transform(range(1, len(w)), i -> struct_pack(u := w[i], t := w[i+1]))) AS bg
         |    FROM d WHERE doc_id % 2 = 0) GROUP BY bg.u, bg.t),
         |sb AS (SELECT doc_id, bg.u AS u, bg.t AS t FROM (
         |    SELECT doc_id, unnest(list_transform(range(1, len(w)), i -> struct_pack(u := w[i], t := w[i+1]))) AS bg
         |    FROM d WHERE doc_id % 2 = 1)),
         |ob AS (SELECT doc_id,
         |    CASE WHEN b.cnt_ut IS NOT NULL THEN (length(bin(uu.cnt_t)) - 1) - (length(bin(b.cnt_ut)) - 1)
         |         WHEN ut.cnt_t IS NOT NULL THEN 1 + (length(bin(tot.n_total)) - 1) - (length(bin(ut.cnt_t)) - 1)
         |         ELSE 1 + (length(bin(tot.n_total)) - 1) END AS bits,
         |    CASE WHEN b.cnt_ut IS NULL THEN 1 ELSE 0 END AS bo,
         |    CASE WHEN ut.cnt_t IS NULL THEN 1 ELSE 0 END AS oov
         |  FROM sb LEFT JOIN bigr b ON sb.u = b.u AND sb.t = b.t
         |          LEFT JOIN uni uu ON sb.u = uu.t
         |          LEFT JOIN uni ut ON sb.t = ut.t
         |          CROSS JOIN tot),
         |os AS (SELECT doc_id,
         |    CASE WHEN u2.cnt_t IS NOT NULL THEN (length(bin(tot.n_total)) - 1) - (length(bin(u2.cnt_t)) - 1)
         |         ELSE (length(bin(tot.n_total)) - 1) END AS bits,
         |    0 AS bo,
         |    CASE WHEN u2.cnt_t IS NULL THEN 1 ELSE 0 END AS oov
         |  FROM (SELECT doc_id, w[1] AS t FROM d WHERE doc_id % 2 = 1) f
         |       LEFT JOIN uni u2 ON f.t = u2.t CROSS JOIN tot),
         |allo AS (SELECT * FROM ob UNION ALL SELECT * FROM os),
         |per AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
         |    CAST(sum(bits) AS BIGINT) AS sum_bits,
         |    CAST(sum(bo) AS BIGINT) AS n_backoff,
         |    CAST(sum(oov) AS BIGINT) AS n_oov,
         |    $mean AS mean_bits_x100
         |  FROM allo GROUP BY doc_id),
         |hist AS (SELECT mean_bits_x100 AS m, count(*) AS c FROM per GROUP BY m),
         |cut AS (SELECT min(m) AS cut FROM
         |    (SELECT m, sum(c) OVER (ORDER BY m) AS cum FROM hist),
         |    (SELECT sum(c) AS n_docs FROM hist)
         |  WHERE cum * 2 >= n_docs)
         |SELECT doc_id, n_tok, sum_bits, n_backoff, n_oov, mean_bits_x100,
         |  CAST(CASE WHEN mean_bits_x100 <= cut THEN 1 ELSE 0 END AS BIGINT) AS keep
         |FROM per, cut ORDER BY doc_id""".stripMargin
    },
    "x18_chunking" ->
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |c AS (SELECT doc_id, w, CAST(len(w) AS BIGINT) AS n,
         |             CAST(unnest(range(1, len(w) + 1, $chunkStride)) AS BIGINT) AS s
         |      FROM d)
         |SELECT doc_id,
         |  ${fdivSql("s - 1", chunkStride.toString)} AS chunk_id,
         |  s AS chunk_start,
         |  least(n, s + ${chunkSize - 1}) - s + 1 AS n_tok_chunk,
         |  w[CAST(s AS INT)] AS first_tok,
         |  w[CAST(least(n, s + ${chunkSize - 1}) AS INT)] AS last_tok
         |FROM c ORDER BY doc_id, chunk_id""".stripMargin,
    "x19_tfidf" ->
      s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
         |tf AS (SELECT doc_id, t, count(*) AS tf FROM tok GROUP BY doc_id, t),
         |df AS (SELECT t, count(*) AS df FROM (SELECT DISTINCT doc_id, t FROM tok) GROUP BY t),
         |n AS (SELECT count(*) AS n_docs FROM documents),
         |scored AS (
         |  SELECT doc_id, t,
         |    CAST(tf * ${fdivSql("1000 * n_docs", "df")} AS BIGINT) AS tfidf_x1000
         |  FROM tf JOIN df USING (t), n),
         |ranked AS (SELECT doc_id, t, tfidf_x1000,
         |    row_number() OVER (PARTITION BY doc_id ORDER BY tfidf_x1000 DESC, t ASC) AS rn
         |  FROM scored)
         |SELECT doc_id, CAST(rn AS BIGINT) AS rn, t AS term, tfidf_x1000
         |FROM ranked WHERE rn <= 3 ORDER BY doc_id, rn""".stripMargin,
    "x44_group_sample" ->
      s"""WITH h AS (SELECT lang, source, doc_id,
         |    ${hex48Sql("md5(CAST(doc_id AS VARCHAR))")} AS h48 FROM documents),
         |r AS (SELECT *, count(*) OVER (PARTITION BY lang, source) AS n_docs,
         |        row_number() OVER (PARTITION BY lang, source
         |                           ORDER BY h48 ASC, doc_id ASC) AS rnk
         |      FROM h)
         |SELECT lang, source, CAST(n_docs AS BIGINT) AS n_docs,
         |  CAST(rnk AS BIGINT) AS rnk, doc_id, CAST(h48 AS BIGINT) AS h48
         |FROM r WHERE rnk <= 3 ORDER BY lang, source, rnk""".stripMargin,
    "x20_stratified_sample" ->
      s"""WITH h AS (SELECT lang,
         |    ${hex16Sql("md5(CAST(doc_id AS VARCHAR))")} AS h16
         |  FROM documents)
         |SELECT lang, count(*) AS n_total,
         |  CAST(sum(CASE WHEN h16 < $sampleThreshold THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  ${fdivSql(s"1000 * CAST(sum(CASE WHEN h16 < $sampleThreshold THEN 1 ELSE 0 END) AS BIGINT)", "count(*)")} AS kept_per_1000
         |FROM h GROUP BY lang ORDER BY lang""".stripMargin,
    "x52_pii_scan" -> {
      val email = "contains(t,'@') AND contains(split_part(t,'@',2),'.')"
      val phone = "starts_with(t,'+') AND length(t) >= 8 AND translate(t,'0123456789+-','') = ''"
      val ip = "translate(t,'0123456789.','') = '' AND len(string_split(t,'.')) = 4" +
        " AND len(list_filter(string_split(t,'.'), p -> len(p) BETWEEN 1 AND 3)) = 4"
      s"""WITH d AS (SELECT doc_id, text ||
         |    CASE CAST(doc_id % 3 AS INTEGER)
         |      WHEN 0 THEN ' user' || doc_id || '@mail.example.com'
         |      WHEN 1 THEN ' +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
         |      ELSE ' 10.' || (doc_id % 256) || '.' || (doc_id % 256) || '.7'
         |    END AS synth FROM documents),
         |t AS (SELECT doc_id, string_split(synth, ' ') AS w FROM d)
         |SELECT doc_id,
         |  CAST(len(list_filter(w, t -> $email)) AS BIGINT) AS n_email,
         |  CAST(len(list_filter(w, t -> $phone)) AS BIGINT) AS n_phone,
         |  CAST(len(list_filter(w, t -> $ip)) AS BIGINT) AS n_ip,
         |  md5(array_to_string(list_transform(w,
         |    t -> CASE WHEN ($email) OR ($phone) OR ($ip) THEN '$piiMark' ELSE t END),
         |    ' ')) AS scrubbed_md5
         |FROM t ORDER BY doc_id""".stripMargin
    },
    "x22_redact" -> {
      val dl = redactList.map(t => s"'$t'").mkString("(", ", ", ")")
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
         |SELECT doc_id,
         |  CAST(len(list_filter(w, t -> t IN $dl)) AS BIGINT) AS n_redacted,
         |  md5(array_to_string(
         |    list_transform(w, t -> CASE WHEN t IN $dl THEN '$redactedMark' ELSE t END),
         |    ' ')) AS scrubbed_md5
         |FROM d ORDER BY doc_id""".stripMargin
    },
    "x23_simhash_neardup" -> {
      val sums = (0 until 64).map(j =>
        s"sum(CASE WHEN (${TextOps.nibSql("h", j / 4 + 1)} & ${1L << (j % 4)}) != 0 THEN 1 ELSE -1 END) AS s$j")
        .mkString(",\n    ")
      val fpBits = (0 until 64).map(j =>
        s"(CASE WHEN s$j > 0 THEN CAST(${1L << j} AS BIGINT) ELSE 0 END)").mkString(" + ")
      val bandRows = (0 until x23Bands).map(b =>
        s"SELECT doc_id, sh, $b AS band, (sh >> ${16 * b}) & 65535 AS h FROM fp")
        .mkString("\n      UNION ALL ")
      s"""WITH tok AS (SELECT doc_id, md5(unnest(string_split(text, ' '))) AS h FROM documents),
         |s AS (SELECT doc_id,
         |    $sums
         |  FROM tok GROUP BY doc_id),
         |fp AS (SELECT doc_id, $fpBits AS sh FROM s),
         |k AS ($bandRows),
         |cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
         |                CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming
         |         FROM k a JOIN k b ON a.band = b.band AND a.h = b.h AND a.doc_id < b.doc_id)
         |SELECT d1, d2, hamming FROM cand WHERE hamming <= $x23MaxHamming
         |ORDER BY d1, d2""".stripMargin
    },
    "x24_dedup_clusters" -> x24Sql,
    "x75_inc_labels" -> x75Sql,
    "x76_label_agreement" -> x76OracleSql,
    "x25_boilerplate" ->
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |s AS (SELECT doc_id, unnest(list_transform(range(0, (len(w) - 1) // $bpSegLen + 1),
         |        i -> md5(array_to_string(w[i * $bpSegLen + 1 : i * $bpSegLen + $bpSegLen], ' ')))) AS h
         |      FROM d),
         |dfx AS (SELECT h, count(DISTINCT doc_id) AS df FROM s GROUP BY h)
         |SELECT doc_id, count(*) AS n_segs,
         |  CAST(sum(CASE WHEN df >= $bpDfHot THEN 1 ELSE 0 END) AS BIGINT) AS n_bp,
         |  ${fdivSql(s"1000 * CAST(sum(CASE WHEN df >= $bpDfHot THEN 1 ELSE 0 END) AS BIGINT)", "count(*)")} AS bp_per_1000
         |FROM s JOIN dfx USING (h) GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "x26_winnowing" ->
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |g AS (SELECT doc_id, list_transform(range(1, len(w) - ${winShingle - 2}),
         |        i -> md5(array_to_string(w[i : i + ${winShingle - 1}], ' '))) AS sh
         |      FROM d),
         |sel AS (SELECT doc_id, list_distinct(list_transform(range(1, len(sh) - ${winWindow - 2}),
         |        i -> sh[i - 1 + list_position(sh[i : i + ${winWindow - 1}],
         |                                      list_aggregate(sh[i : i + ${winWindow - 1}], 'min'))])) AS fps
         |      FROM g),
         |e AS (SELECT doc_id, unnest(fps) AS fp FROM sel),
         |kept AS (SELECT e.doc_id, e.fp FROM e
         |         JOIN (SELECT fp FROM e GROUP BY fp HAVING count(*) <= $winDfCap) k USING (fp))
         |SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS n_shared_fp
         |FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 HAVING count(*) >= $winMinShared
         |ORDER BY d1, d2""".stripMargin,
    "x28_surprisal" -> {
      val mean = fdivSql("100 * CAST(sum(s) AS BIGINT)", "count(*)")
      s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
         |vocab AS (SELECT t, count(*) AS cnt FROM tok GROUP BY t),
         |tot AS (SELECT count(*) AS n_total FROM tok),
         |b AS (SELECT doc_id,
         |        (length(bin(n_total)) - 1) - (length(bin(cnt)) - 1) AS s
         |      FROM tok JOIN vocab USING (t) CROSS JOIN tot)
         |SELECT doc_id, count(*) AS n_tok, CAST(sum(s) AS BIGINT) AS sum_bits,
         |  $mean AS mean_bits_x100,
         |  CAST(CASE WHEN $mean <= $x28Cut1 THEN 0
         |            WHEN $mean <= $x28Cut2 THEN 1 ELSE 2 END AS BIGINT) AS band
         |FROM b GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },
    "x29_decontam" ->
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |g AS (SELECT doc_id, CASE WHEN len(w) >= $contamGram
         |        THEN list_distinct(list_transform(range(1, len(w) - ${contamGram - 2}),
         |               i -> md5(array_to_string(w[i : i + ${contamGram - 1}], ' '))))
         |        ELSE [] END AS gs FROM d),
         |bench AS (SELECT DISTINCT unnest(gs) AS h FROM g WHERE doc_id % $contamMod = 0),
         |e AS (SELECT doc_id, unnest(gs) AS h FROM g WHERE doc_id % $contamMod <> 0),
         |hits AS (SELECT e.doc_id, count(b.h) AS n_hit
         |         FROM e LEFT JOIN bench b ON e.h = b.h GROUP BY e.doc_id)
         |SELECT g.doc_id, CAST(len(gs) AS BIGINT) AS n_grams,
         |  CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
         |  CAST(CASE WHEN coalesce(h.n_hit, 0) > 0 THEN 1 ELSE 0 END AS BIGINT) AS is_contaminated
         |FROM g LEFT JOIN hits h ON g.doc_id = h.doc_id
         |WHERE g.doc_id % $contamMod <> 0 ORDER BY g.doc_id""".stripMargin,
    "x30_mixture" ->
      s"""WITH d AS (SELECT doc_id, lang,
         |    ${hex16Sql("md5(CAST(doc_id AS VARCHAR))")} AS h16 FROM documents),
         |c AS (SELECT lang, count(*) AS n_docs FROM d GROUP BY lang),
         |m AS (SELECT min(n_docs) AS min_docs FROM c),
         |r AS (SELECT lang, n_docs, ${fdivSql("65536 * min_docs", "n_docs")} AS rate16
         |      FROM c CROSS JOIN m)
         |SELECT r.lang, r.n_docs, r.rate16,
         |  CAST(sum(CASE WHEN d.h16 < r.rate16 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
         |FROM d JOIN r ON d.lang = r.lang
         |GROUP BY r.lang, r.n_docs, r.rate16 ORDER BY r.lang""".stripMargin,
    "x31_packing" -> x31Sql,
    "x37_shard_manifest" ->
      s"""SELECT writer, shard_id, count(*) AS n_docs,
         |  CAST(sum(n_tok) AS BIGINT) AS n_tok,
         |  min(doc_id) AS first_doc_id
         |FROM ($x31Sql) p
         |GROUP BY writer, shard_id ORDER BY writer, shard_id""".stripMargin,
    "x38_pipeline_e2e" ->
      s"""WITH keep AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY text),
         |d0 AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |g AS (SELECT doc_id, CASE WHEN len(w) >= $contamGram
         |        THEN list_distinct(list_transform(range(1, len(w) - ${contamGram - 2}),
         |               i -> md5(array_to_string(w[i : i + ${contamGram - 1}], ' '))))
         |        ELSE [] END AS gs FROM d0),
         |bench AS (SELECT DISTINCT unnest(gs) AS h FROM g WHERE doc_id % $contamMod = 0),
         |dirty AS (SELECT DISTINCT e.doc_id FROM
         |    (SELECT doc_id, unnest(gs) AS h FROM g WHERE doc_id % $contamMod <> 0) e
         |    JOIN bench b ON e.h = b.h),
         |clean AS (SELECT doc_id FROM g WHERE doc_id % $contamMod <> 0
         |          AND doc_id NOT IN (SELECT doc_id FROM dirty)),
         |good AS (SELECT doc_id FROM (${TextOps.oracle("x9_quality")}) q WHERE quality >= 75),
         |surv AS (SELECT k.doc_id FROM keep k JOIN clean USING (doc_id) JOIN good USING (doc_id)),
         |p AS (SELECT s.doc_id, len(string_split(d.text, ' ')) AS n_tok,
         |        ${hex16Sql("md5(CAST(s.doc_id AS VARCHAR))")} % $packWriters AS writer
         |      FROM surv s JOIN documents d ON s.doc_id = d.doc_id),
         |c AS (SELECT doc_id, writer, n_tok,
         |        sum(n_tok) OVER (PARTITION BY writer ORDER BY doc_id
         |                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |      FROM p),
         |s2 AS (SELECT doc_id, writer, CAST(n_tok AS BIGINT) AS n_tok,
         |        ${fdivSql("CAST(cum - n_tok AS BIGINT)", packBudget.toString)} AS shard_id
         |       FROM c)
         |SELECT writer, shard_id, count(*) AS n_docs,
         |  CAST(sum(n_tok) AS BIGINT) AS n_tok, min(doc_id) AS first_doc_id
         |FROM s2 GROUP BY writer, shard_id ORDER BY writer, shard_id""".stripMargin,
    "x32_repetition" ->
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |g AS (SELECT doc_id,
         |    len(w) AS n_tok,
         |    CASE WHEN len(w) >= 2
         |      THEN list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])
         |      ELSE [] END AS g2,
         |    list_max(list_transform(list_distinct(w),
         |      t -> len(list_filter(w, x -> x = t)))) AS top_cnt
         |  FROM d)
         |SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok,
         |  CAST(CASE WHEN len(g2) = 0 THEN 0
         |    ELSE ${fdivSql("1000 * (len(g2) - len(list_distinct(g2)))", "len(g2)")}
         |    END AS BIGINT) AS dup2_per_1000,
         |  ${fdivSql("1000 * top_cnt", "n_tok")} AS top_tok_per_1000
         |FROM g ORDER BY doc_id""".stripMargin,
    "x33_dedup_eval" ->
      s"""WITH ex AS (SELECT d1, d2 FROM (${TextOps.oracle("x2_dedup_near")}) t1),
         |ls AS (SELECT d1, d2 FROM (${TextOps.oracle("x13_minhash_lsh")}) t2),
         |c AS (SELECT (SELECT count(*) FROM ex) AS e,
         |             (SELECT count(*) FROM ls) AS l,
         |             (SELECT count(*) FROM ex JOIN ls USING (d1, d2)) AS b)
         |SELECT CAST(b AS BIGINT) AS n_both,
         |  CAST(e - b AS BIGINT) AS n_exact_only,
         |  CAST(l - b AS BIGINT) AS n_lsh_only,
         |  ${fdivSql("1000 * b", "greatest(e, 1)")} AS recall_per_1000,
         |  ${fdivSql("1000 * b", "greatest(l, 1)")} AS precision_per_1000
         |FROM c""".stripMargin,
    "x34_source_report" ->
      s"""WITH q AS (${TextOps.oracle("x9_quality")}),
         |d AS (SELECT doc_id, source, lang FROM documents),
         |t AS (SELECT count(*) AS n_total FROM d)
         |SELECT source, count(*) AS n_docs,
         |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
         |  CAST(sum(n_tok) AS BIGINT) AS sum_tok,
         |  ${fdivSql("100 * CAST(sum(quality) AS BIGINT)", "count(*)")} AS mean_quality_x100,
         |  ${fdivSql("1000 * count(*)", "n_total")} AS share_per_1000
         |FROM d JOIN q USING (doc_id) CROSS JOIN t
         |GROUP BY source, n_total ORDER BY source""".stripMargin,
    "x35_canonical_pick" ->
      s"""WITH labels AS (SELECT * FROM ($x24Sql) lx),
         |q AS (${TextOps.oracle("x9_quality")}),
         |r AS (SELECT l.cluster_id, l.doc_id, q.quality,
         |        row_number() OVER (PARTITION BY l.cluster_id
         |                           ORDER BY q.quality DESC, l.doc_id ASC) AS rn,
         |        count(*) OVER (PARTITION BY l.cluster_id) AS n_members
         |      FROM labels l JOIN q ON l.doc_id = q.doc_id)
         |SELECT cluster_id, CAST(n_members AS BIGINT) AS n_members,
         |  doc_id AS keep_id, quality AS keep_quality
         |FROM r WHERE rn = 1 ORDER BY cluster_id""".stripMargin,
    "x36_incremental_dedup" -> {
      val novelty =
        s"(CASE WHEN n_keys = 0 THEN 1000 ELSE ${fdivSql("1000 * (n_keys - coalesce(n_hit, 0))", "n_keys")} END)"
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |g AS (SELECT doc_id, CASE WHEN len(w) >= 3
         |        THEN list_distinct(list_transform(range(1, len(w) - 1),
         |               i -> md5(array_to_string(w[i : i + 2], ' '))))
         |        ELSE [] END AS gs FROM d),
         |t AS (SELECT ${fdivSql("9 * max(doc_id)", "10")} AS thr FROM g),
         |oldk AS (SELECT DISTINCT unnest(gs) AS h FROM g CROSS JOIN t WHERE doc_id <= thr),
         |e AS (SELECT doc_id, unnest(gs) AS h FROM g CROSS JOIN t WHERE doc_id > thr),
         |hits AS (SELECT e.doc_id, count(o.h) AS n_hit
         |         FROM e LEFT JOIN oldk o ON e.h = o.h GROUP BY e.doc_id),
         |base AS (SELECT doc_id, len(gs) AS n_keys FROM g CROSS JOIN t WHERE doc_id > thr)
         |SELECT base.doc_id, CAST(n_keys AS BIGINT) AS n_keys,
         |  CAST(coalesce(n_hit, 0) AS BIGINT) AS n_hit,
         |  CAST($novelty AS BIGINT) AS novelty_per_1000,
         |  CAST(CASE WHEN $novelty >= $x36NoveltyCut THEN 1 ELSE 0 END AS BIGINT) AS is_novel
         |FROM base LEFT JOIN hits ON base.doc_id = hits.doc_id
         |ORDER BY base.doc_id""".stripMargin
    },
    "x21_embed_quant" ->
      s"""WITH e AS (SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |a AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS amax FROM e),
         |q AS (SELECT vec_id, amax,
         |    list_transform(v, x -> CASE WHEN amax = 0 THEN 0
         |      ELSE greatest(-127, least(127, CAST(round(x * 127 / amax) AS BIGINT))) END) AS q
         |  FROM a)
         |SELECT vec_id,
         |  CAST(len(q) AS BIGINT) AS dim,
         |  ${Tables.scaled4Sql("amax")} AS amax_s4,
         |  CAST(list_sum(q) AS BIGINT) AS q_sum,
         |  CAST(list_min(q) AS BIGINT) AS q_min,
         |  CAST(list_max(q) AS BIGINT) AS q_max,
         |  q[1] AS q1
         |FROM q ORDER BY vec_id""".stripMargin)
}
