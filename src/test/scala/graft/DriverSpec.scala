package graft

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import graft.util.BenchDiag

/** The shared harness of the entry-point mains: the key selector, the timed-line
  * runner, Bench's compact line and BenchScaling's leg table. None of it
  * needs a session. */
class DriverSpec extends SparkTestBase {
  private val keyed = Seq("c1" -> 1, "q4" -> 2, "x2" -> 3, "s8" -> 4)

  test("select keeps declaration order, keeps everything on None, and names unknown keys") {
    assert(Driver.select(keyed, Some(" s8 ,c1,,x2"), "K").map(_._1) == Seq("c1", "x2", "s8"))
    assert(Driver.select(keyed, None, "K") == keyed)
    assert(Driver.select(keyed, Some(""), "K").isEmpty)
    val e = intercept[IllegalArgumentException](
      Driver.select(keyed, Some("q4,zz9,aa1"), "SPARK_GRAFT_X"))
    assert(e.getMessage.contains("unknown SPARK_GRAFT_X keys: aa1,zz9"), e.getMessage)
  }

  test("runner: -1.0 on a NonFatal body, per-name sums across attempts, fatal errors rethrown") {
    val diag = tempDir("graft_diag_").resolve("diag.jsonl")
    val runner = new BenchDiag.Runner(Some(diag.toString), Map("factor" -> "4"))
    def spin(ms: Long): Unit = {
      val end = System.nanoTime() + ms * 1000000L
      var x = 0L
      while (System.nanoTime() < end) x += 1
    }
    val a1 = runner.attempt("a")(spin(30))
    val a2 = runner.attempt("a")(spin(30))
    assert(a1 >= 0.03 && a2 >= 0.03)
    val a = runner.totals("a").get
    assert(math.abs(a.wall - (a1 + a2)) < 1e-9)
    assert(a.cpu > 0 && a.gcMs >= 0 && a.coresBusy > 0)

    assert(runner.attempt("b")(throw new IllegalStateException("guard")) == -1.0)
    val b = runner.totals("b").get
    assert(b.wall == 0.0 && b.coresBusy == -1.0)
    assert(runner.totals("never").isEmpty)

    val fatal =
      try { runner.attempt("c")(throw new StackOverflowError("synthetic")); None }
      catch { case e: StackOverflowError => Some(e) }
    assert(fatal.exists(_.getMessage == "synthetic"))

    val rows = java.nio.file.Files.readAllLines(diag).asScala.map(new ObjectMapper().readTree(_))
    assert(rows.map(_.get("q").asText) == Seq("a", "a", "b"))
    assert(rows.map(_.get("sec").asDouble).last == -1.0)
    assert(rows.forall(_.get("factor").asText == "4"))
  }

  test("compact line: fits the tail budget for 195 lines, keeps every -1.0 key, counts elided") {
    val rnd = new scala.util.Random(7)
    val failed = Set("q4_join_shuffle_but_longer", "stage:x13_bands", "x2_dedup_near")
    val results = (0 until 192).map(i => f"key_with_a_long_name_$i%03d" -> rnd.nextDouble() * 30) ++
      failed.toSeq.map(_ -> -1.0)
    assert(results.size == 195)
    val total = results.map(_._2).filter(_ >= 0).sum
    val line = Bench.compactLine(results, total, "total", "/data/sf0.1", 1,
      Seq("key_with_a_long_name_001"))
    assert(line.length <= Bench.tailBudget, line.length)
    val json = new ObjectMapper().readTree(line)
    val shown = json.get("queries").fieldNames().asScala.toSeq
    assert(failed.subsetOf(shown.toSet))
    assert(json.get("n_queries").asInt == 195)
    assert(json.get("elided").asInt == 195 - shown.size && shown.size < 195)
    // the kept successes are the most expensive ones
    val (keptOk, elidedOk) = results.filter(_._2 >= 0).partition(r => shown.contains(r._1))
    assert(keptOk.map(_._2).min >= elidedOk.map(_._2).max)
    assert(math.abs(json.get("value").asDouble - total) <= 0.0005)
    assert(json.get("stall_suspect").get(0).asText == "key_with_a_long_name_001")

    val small = new ObjectMapper().readTree(
      Bench.compactLine(Seq("a" -> 1.0, "b" -> -1.0), 1.0, "warm_total", "sf", 3, Nil))
    assert(small.get("elided").asInt == 0 && small.get("repeat").asInt == 3)
    assert(!small.has("stall_suspect"))
  }

  test("scaling legs: unique names, every quadratic leg exists, every leg resolves") {
    val names = BenchScaling.legs.map(_.name)
    assert(names.distinct == names)
    assert(BenchScaling.quadraticLegs.subsetOf(names.toSet))
    // a bare name resolves through SparkEntry.queries or Stages.registry
    val counts = mutable.Map.empty[String, Long]
    BenchScaling.legs.foreach(BenchScaling.timedBody(_, counts))
    assert(BenchScaling.legs.exists(l => l.name == "stage:gif_corpus" && l.body.isEmpty))
    val unknown = intercept[IllegalArgumentException](
      BenchScaling.timedBody(BenchScaling.Leg("x999_missing", None), counts))
    assert(unknown.getMessage.contains("x999_missing"))
  }
}
