package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Tables._
import graft.functions.VectorFunctions.dotArr

/** Reference formulations that exist only as test oracles: brute-force
  * and all-pairs twins of the registered joins, lambda twins of the
  * native expressions, and the estimation-mode and byte-stats consumers
  * no key registers. Each reuses its operator's own constants and
  * helpers, so an oracle cannot drift from the geometry it checks. */
object Oracles {

  /** Brute-force twin of [[TextOps.x49SetsimJoin]]: the all-shared-gram
    * join with no prefix filter — the internal losslessness pin
    * (SetsimSpec asserts byte equality on the sf0.01 test corpus and on
    * randomized synthetic corpora). */
  def x49Brute(spark: SparkSession, dir: String): DataFrame =
    x49BruteOn(TextOps.shingleHash64Rows(spark, dir))

  def x49BruteOn(g0: DataFrame): DataFrame = {
    import TextOps.{x49TauDen, x49TauNum}
    val g = g0.select(col("doc_id"), col("h0")).distinct().localCheckpoint(true)
    val sizes = g.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    g.select(col("doc_id").as("d1"), col("h0"))
      .join(g.select(col("doc_id").as("d2"), col("h0")), Seq("h0"))
      .filter(col("d1") < col("d2"))
      .groupBy(col("d1"), col("d2")).agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("doc_id").as("d1"), col("n").as("n1")), Seq("d1"))
      .join(sizes.select(col("doc_id").as("d2"), col("n").as("n2")), Seq("d2"))
      .filter(col("inter") * (x49TauNum + x49TauDen) >= (col("n1") + col("n2")) * x49TauNum)
      .select(col("d1"), col("d2"), col("inter"), col("n1"), col("n2"),
        scaled4(col("inter") / (col("n1") + col("n2") - col("inter"))).as("jac_s4"))
      .orderBy("d1", "d2")
  }

  /** Lambda reference formulation of x11b's rolling hashes (fp_roll, wh)
    * over a `vals` column — GraftExtensionsSpec's native/lambda
    * equivalence pin. */
  def rollingLambda: (Column, Column) = {
    import TextOps.{rollBase, rollMod, rollWindow}
    val step = (acc: Column, v: Column) => (acc * rollBase + v) % rollMod
    val winHashes = transform(
      sequence(lit(1), size(col("vals")) - (rollWindow - 1)),
      i => aggregate(slice(col("vals"), i, lit(rollWindow)), lit(0L), step))
    (aggregate(col("vals"), lit(0L), step),
      when(size(col("vals")) >= rollWindow, winHashes)
        .otherwise(array().cast("array<bigint>")))
  }

  private val emptyStrArr = array().cast("array<string>")

  /** Rolling `winShingle`-token md5 shingles of column `w` (NOT distinct —
    * winnowing selects by position). Lambda reference formulation — the
    * registered x26 runs the native `WinnowFingerprints` expression;
    * GraftExtensionsSpec pins the two equal on random token streams and
    * the real corpus. */
  def winnowShingles: Column = {
    import PipelineOps.winShingle
    when(size(col("w")) >= winShingle, transform(
        sequence(lit(1), size(col("w")) - (winShingle - 1)),
        i => md5(array_join(slice(col("w"), i, lit(winShingle)), " "))))
      .otherwise(emptyStrArr)
  }

  /** Winnowing selection over column `sh`: the leftmost minimum of every
    * `winWindow`-wide window, distinct — split out so the coverage
    * guarantee is property-testable on arbitrary token streams. */
  def winnowSelection: Column = {
    import PipelineOps.winWindow
    val win = (i: Column) => slice(col("sh"), i, lit(winWindow))
    when(size(col("sh")) >= winWindow, array_distinct(transform(
        sequence(lit(1), size(col("sh")) - (winWindow - 1)),
        i => element_at(col("sh"),
          (i - 1 + array_position(win(i), array_min(win(i)))).cast("int")))))
      .otherwise(emptyStrArr)
  }

  /** HOF reference formulation of [[PipelineOps.gramHashes]] — pinned
    * equal to the native expression in GraftExtensionsSpec. */
  def gramHashesLambda(n: Int): Column =
    when(size(col("w")) >= n, array_distinct(transform(
        sequence(lit(1), size(col("w")) - (n - 1)),
        i => md5(array_join(slice(col("w"), i, lit(n)), " ")))))
      .otherwise(array().cast("array<string>"))

  /** All-pairs exact form of x14 — the recall/ground-truth oracle at
    * small N (O(n²) pairs). */
  def x14AllPairs(spark: SparkSession, dir: String): DataFrame = {
    val e = VectorOps.withNorm(embeddings(spark, dir))
    e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("v1"), col("b.vec_id").as("v2"),
        scaled4(dotArr(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm"))).as("cos_s4"))
      .filter(col("cos_s4") >= 5000)
      .orderBy("v1", "v2")
  }

  /** q28c's ESTIMATION-MODE consumer — the form that stays usable past
    * 2^lgK distinct users/week, where the registered gate deliberately
    * fails loudly: per-week sketches at the given lgK, adjacent weeks
    * intersected on the Spark driver through the library's own interval
    * ([[graft.functions.ThetaSketchAgg.intersectBounds]]), whose bounds
    * derive from the intersection result's effective theta and retained
    * count — i.e. they carry the union-size-dependent error the theta
    * intersection analysis prescribes, which a flat rse-of-overlap
    * heuristic gets wrong. Emitted rows: (wk, wk_next, n_both exact,
    * est_mode flag, in_bound flag = exact overlap inside
    * [lower, upper] at `numStdDev`). Not a key: a probabilistic
    * interval can't be pinned to 1 by a deterministic oracle across
    * corpus regenerations — OpsSpec drives it at small lgK against the
    * exact twin with a union-bound miss allowance instead. */
  def q28cOverlapBounds(spark: SparkSession, dir: String,
      lgK: Int, numStdDev: Int = 3): DataFrame = {
    import graft.functions.ThetaSketchAgg
    val u = events(spark, dir).select(
      date_trunc("week", col("ts")).cast("date").as("wkd"), col("user_id"))
    val sketches = Analytics.q28cWeeklySketches(spark, dir, lgK)
    val estRows = sketches.toSeq.flatMap { case (w, sk) =>
      sketches.get(w.plusDays(7)).map { nxt =>
        val (lo, est, hi) = ThetaSketchAgg.intersectBounds(sk, nxt, numStdDev, lgK)
        val estMode = if (!ThetaSketchAgg.isExact(sk) || !ThetaSketchAgg.isExact(nxt)) 1L else 0L
        (w.toString, w.plusDays(7).toString, lo, est, hi, estMode)
      }
    }
    val est = spark.createDataFrame(estRows)
      .toDF("wk", "wk_next", "lo", "approx", "hi", "est_mode")
    val d = u.distinct()
    val exact = d.as("ea").join(d.as("eb"),
        col("eb.user_id") === col("ea.user_id") &&
          col("eb.wkd") === date_add(col("ea.wkd"), 7))
      .groupBy(col("ea.wkd").cast("string").as("wk"))
      .agg(count(lit(1)).as("n_both"))
    est.join(exact, Seq("wk"), "left")
      .select(col("wk"), col("wk_next"),
        coalesce(col("n_both"), lit(0L)).as("n_both"), col("est_mode"),
        (col("lo") <= coalesce(col("n_both"), lit(0L)).cast("double") &&
          coalesce(col("n_both"), lit(0L)).cast("double") <= col("hi"))
          .cast("long").as("in_bound"))
      .orderBy("wk")
  }

  /** The pre-r13 stub pipeline: byte statistics over the synthetic media
    * table — the codec-free decode-batch exemplar; the registered x15
    * key runs the real-decode path. */
  def x15ByteStats(spark: SparkSession, dir: String): DataFrame =
    Multimodal.decodeFeatures(Multimodal.mediaTable(spark, dir))
      .select(col("doc_id"), col("n_bytes"), col("first_byte"), col("byte_sum"), col("width"))
      .orderBy("doc_id")
}
