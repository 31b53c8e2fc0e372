package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.{DistinctBigramCount, DistinctGrams, DotProduct, DtwDistance, FreqItemsMG, GramMd5Hexes, KllMergeAgg, KllSketchAgg, Md5Long, RollingHashFold, RollingHashWindows, SimhashBits, ThetaSketchAgg, TopKByAgg, TopTokenCount, WinnowFingerprints}

/** SparkSessionExtensions hook exposing graft's custom Catalyst
  * expressions to SQL users: build the session with
  * `spark.sql.extensions=graft.GraftExtensions` (as [[Driver.session]]
  * does), then
  *
  *   spark.sql("SELECT dot_arr(a.embedding, b.embedding) ...")
  *
  * For sessions created without the config, [[GraftExtensions.register]]
  * installs the same functions imperatively. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { case (name, info, builder) =>
      e.injectFunction((FunctionIdentifier(name), info, builder))
    }
    // Whole-operator extension (brief tier c): the native as-of join's
    // planner strategy, plus its filter-pushdown rule. The rule joins the
    // operator-optimization batch, so left-only predicates written ABOVE
    // an as-of join keep sinking through it to the parquet scan.
    e.injectPlannerStrategy(_ => graft.plans.AsofJoinStrategy)
    e.injectOptimizerRule(_ => graft.plans.PushFilterThroughAsofJoin)
  }
}

object GraftExtensions {
  private val functions: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    ("dot_arr",
      new ExpressionInfo(classOf[DotProduct].getName, "dot_arr"),
      (args: Seq[Expression]) => {
        if (args.length != 2)
          throw new IllegalArgumentException(
            s"dot_arr requires exactly 2 arguments, got ${args.length}")
        DotProduct(args(0), args(1))
      }),
    ("md5_long64",
      new ExpressionInfo(classOf[Md5Long].getName, "md5_long64"),
      (args: Seq[Expression]) => {
        if (args.length != 2)
          throw new IllegalArgumentException(
            s"md5_long64 requires exactly 2 arguments (string, half), got ${args.length}")
        val half = args(1) match {
          case lit if lit.foldable => lit.eval() match {
            case i: Int => i
            case l: Long => l.toInt
            case other => throw new IllegalArgumentException(
              s"md5_long64 half must be an integer literal, got $other")
          }
          case _ => throw new IllegalArgumentException(
            "md5_long64 half must be a literal (0 or 1)")
        }
        Md5Long(args(0), half)
      }),
    ("top_token_count",
      new ExpressionInfo(classOf[TopTokenCount].getName, "top_token_count"),
      (args: Seq[Expression]) => {
        if (args.length != 1)
          throw new IllegalArgumentException(
            s"top_token_count requires exactly 1 argument, got ${args.length}")
        TopTokenCount(args(0))
      }),
    ("distinct_bigram_count",
      new ExpressionInfo(classOf[DistinctBigramCount].getName, "distinct_bigram_count"),
      (args: Seq[Expression]) => {
        if (args.length != 1)
          throw new IllegalArgumentException(
            s"distinct_bigram_count requires exactly 1 argument, got ${args.length}")
        DistinctBigramCount(args(0))
      }),
    ("winnow_fingerprints",
      new ExpressionInfo(classOf[WinnowFingerprints].getName, "winnow_fingerprints"),
      (args: Seq[Expression]) => {
        requireArity("winnow_fingerprints", args, 3)
        WinnowFingerprints(args(0),
          intLit("winnow_fingerprints", args(1), "shingle"),
          intLit("winnow_fingerprints", args(2), "window"))
      }),
    ("distinct_grams",
      new ExpressionInfo(classOf[DistinctGrams].getName, "distinct_grams"),
      (args: Seq[Expression]) => {
        requireArity("distinct_grams", args, 2)
        DistinctGrams(args(0), intLit("distinct_grams", args(1), "n"))
      }),
    ("gram_md5_hexes",
      new ExpressionInfo(classOf[GramMd5Hexes].getName, "gram_md5_hexes"),
      (args: Seq[Expression]) => {
        requireArity("gram_md5_hexes", args, 2)
        GramMd5Hexes(args(0), intLit("gram_md5_hexes", args(1), "n"))
      }),
    ("rolling_hash_fold",
      new ExpressionInfo(classOf[RollingHashFold].getName, "rolling_hash_fold"),
      (args: Seq[Expression]) => {
        requireArity("rolling_hash_fold", args, 3)
        RollingHashFold(args(0),
          longLit("rolling_hash_fold", args(1), "base"),
          longLit("rolling_hash_fold", args(2), "mod"))
      }),
    ("rolling_hash_windows",
      new ExpressionInfo(classOf[RollingHashWindows].getName, "rolling_hash_windows"),
      (args: Seq[Expression]) => {
        requireArity("rolling_hash_windows", args, 4)
        RollingHashWindows(args(0),
          intLit("rolling_hash_windows", args(1), "window"),
          longLit("rolling_hash_windows", args(2), "base"),
          longLit("rolling_hash_windows", args(3), "mod"))
      }),
    ("freq_items_mg",
      new ExpressionInfo(classOf[FreqItemsMG].getName, "freq_items_mg"),
      (args: Seq[Expression]) => {
        requireArity("freq_items_mg", args, 2)
        FreqItemsMG(args(0), intLit("freq_items_mg", args(1), "k"))
      }),
    ("theta_sketch",
      new ExpressionInfo(classOf[ThetaSketchAgg].getName, "theta_sketch"),
      (args: Seq[Expression]) => {
        requireArity("theta_sketch", args, 2)
        ThetaSketchAgg(args(0), intLit("theta_sketch", args(1), "lgK"))
      }),
    ("kll_sketch",
      new ExpressionInfo(classOf[KllSketchAgg].getName, "kll_sketch"),
      (args: Seq[Expression]) => {
        requireArity("kll_sketch", args, 2)
        KllSketchAgg(args(0), intLit("kll_sketch", args(1), "k"))
      }),
    ("kll_merge",
      new ExpressionInfo(classOf[KllMergeAgg].getName, "kll_merge"),
      (args: Seq[Expression]) => {
        requireArity("kll_merge", args, 2)
        KllMergeAgg(args(0), intLit("kll_merge", args(1), "k"))
      }),
    ("topk_by",
      new ExpressionInfo(classOf[TopKByAgg].getName, "topk_by"),
      (args: Seq[Expression]) => {
        requireArity("topk_by", args, 3)
        TopKByAgg(args(0), args(1), intLit("topk_by", args(2), "k"))
      }),
    ("simhash_bits",
      new ExpressionInfo(classOf[SimhashBits].getName, "simhash_bits"),
      (args: Seq[Expression]) => {
        requireArity("simhash_bits", args, 2)
        SimhashBits(args(0), intLit("simhash_bits", args(1), "nBits"))
      }),
    ("dtw_arr",
      new ExpressionInfo(classOf[DtwDistance].getName, "dtw_arr"),
      (args: Seq[Expression]) => {
        requireArity("dtw_arr", args, 3)
        DtwDistance(args(0), args(1), intLit("dtw_arr", args(2), "band"))
      }))

  private def requireArity(fn: String, args: Seq[Expression], n: Int): Unit =
    if (args.length != n)
      throw new IllegalArgumentException(
        s"$fn requires exactly $n arguments, got ${args.length}")

  private def longLit(fn: String, e: Expression, name: String): Long = e match {
    case lit if lit.foldable => lit.eval() match {
      case i: Int => i.toLong
      case l: Long => l
      case other => throw new IllegalArgumentException(
        s"$fn $name must be an integer literal, got $other")
    }
    case _ => throw new IllegalArgumentException(s"$fn $name must be a literal")
  }

  private def intLit(fn: String, e: Expression, name: String): Int =
    longLit(fn, e, name).toInt

  /** Imperative registration for an existing session. */
  def register(spark: SparkSession): Unit = {
    functions.foreach { case (name, _, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "built-in")
    }
    graft.plans.AsofJoin.install(spark)
  }
}
