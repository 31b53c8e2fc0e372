package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.model.Tables

/** x47 Z-order layout: Morton-code algebra, quadtree cell invariants, and
  * the measured file-pruning claim vs a linear time-sorted layout. */
class LayoutSpec extends SparkTestBase {

  /** Reference Morton dilation in plain Scala — the spec's referee. */
  private def spreadRef(v: Long): Long = {
    var x = v & 0xFFFFL
    x = (x | (x << 8)) & 0x00FF00FFL
    x = (x | (x << 4)) & 0x0F0F0F0FL
    x = (x | (x << 2)) & 0x33333333L
    x = (x | (x << 1)) & 0x55555555L
    x
  }
  private def compactRef(v: Long): Long = {
    var x = v & 0x55555555L
    x = (x | (x >> 1)) & 0x33333333L
    x = (x | (x >> 2)) & 0x0F0F0F0FL
    x = (x | (x >> 4)) & 0x00FF00FFL
    x = (x | (x >> 8)) & 0x0000FFFFL
    x
  }

  test("x47: z-value interleave round-trips both dims for random 16-bit pairs") {
    import spark.implicits._
    val rnd = new scala.util.Random(47)
    val pairs = Seq.fill(500)((rnd.nextInt(65536).toLong, rnd.nextInt(65536).toLong))
    val got = pairs.toDF("u", "t")
      .select(Layout.zValue(col("u"), col("t")).as("z")).as[Long].collect()
    pairs.zip(got).foreach { case ((u, t), z) =>
      assert(compactRef(z) === u && compactRef(z >> 1) === t, s"($u,$t) -> $z")
      assert(z === (spreadRef(u) | (spreadRef(t) << 1)))
    }
  }

  test("x47: cells partition the corpus and extents stay inside their cell") {
    val rows = Layout.x47Zorder(spark, sf001).collect()
    val total = Tables.events(spark, sf001).count()
    assert(rows.map(_.getLong(1)).sum === total, "cells must partition all events")
    assert(rows.map(_.getLong(0)).distinct.length === rows.length)
    val cellSpan = 1L << (Layout.x47Bits - Layout.x47CellBits) // 8192
    rows.foreach { r =>
      val cell = r.getLong(0)
      // cell bits interleave as (t2 u2 t1 u1 t0 u0) from the z MSBs
      val uCell = ((cell >> 4) & 1) * 4 + ((cell >> 2) & 1) * 2 + (cell & 1)
      val tCell = ((cell >> 5) & 1) * 4 + ((cell >> 3) & 1) * 2 + ((cell >> 1) & 1)
      assert(r.getLong(2) / cellSpan === uCell && r.getLong(3) / cellSpan === uCell,
        s"cell $cell u extent [${r.getLong(2)},${r.getLong(3)}] outside row $uCell")
      assert(r.getLong(4) / cellSpan === tCell && r.getLong(5) / cellSpan === tCell,
        s"cell $cell t extent outside column $tCell")
    }
    val hits = rows.filter(_.getLong(6) == 1L)
    assert(hits.nonEmpty && hits.length < rows.length / 2,
      s"probe box should prune over half the cells, hit ${hits.length}/${rows.length}")
  }

  test("x47: z-ordered files prune the 2-D box harder than a time-sorted layout") {
    val base = tempDir("graft-zorder").toFile
    val e = Tables.events(spark, sf001)
      .select(col("event_id"), col("user_id"), col("ts"), unix_millis(col("ts")).as("t"))
    val r = e.agg(min("user_id"), max("user_id"), min("t"), max("t")).head()
    val (ulo, uhi) = (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue)
    val (tlo, thi) = (r.getAs[Number](2).longValue, r.getAs[Number](3).longValue)
    val (bu1, bu2) = (ulo, ulo + (uhi - ulo) / 4)
    val (bt1, bt2) = (tlo + (thi - tlo) / 4, tlo + 3 * (thi - tlo) / 4)

    val zPath = new java.io.File(base, "z").getAbsolutePath
    val linPath = new java.io.File(base, "lin").getAbsolutePath
    Layout.zorderWrite(e, "user_id", "t", 16, zPath)
    e.repartitionByRange(16, col("t")).sortWithinPartitions("t")
      .write.parquet(linPath)

    def overlapping(path: String): Long =
      spark.read.parquet(path)
        .groupBy(col("_metadata.file_path"))
        .agg(min("user_id").as("umin"), max("user_id").as("umax"),
          min("t").as("tmin"), max("t").as("tmax"))
        .filter(col("umin") <= bu2 && col("umax") >= bu1 &&
          col("tmin") <= bt2 && col("tmax") >= bt1)
        .count()

    val (zHit, linHit) = (overlapping(zPath), overlapping(linPath))
    assert(zHit < linHit,
      s"z-order should touch fewer files: z=$zHit linear=$linHit of 16")
    assert(zHit <= 8, s"z-order should skip most files for a 12.5% box, hit $zHit/16")

    // the layout never changes answers: box aggregate parity across
    // layouts and against the unwritten frame
    def boxAgg(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
      val row = df.filter(col("user_id").between(bu1, bu2) && col("t").between(bt1, bt2))
        .agg(count(lit(1)), sum("event_id")).head()
      (row.getLong(0), row.getLong(1))
    }
    assert(boxAgg(spark.read.parquet(zPath)) === boxAgg(e))
    assert(boxAgg(spark.read.parquet(linPath)) === boxAgg(e))

    // range predicates reach the parquet scan
    val plan = spark.read.parquet(zPath)
      .filter(col("user_id").between(bu1, bu2) && col("t").between(bt1, bt2))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("GreaterThanOrEqual(user_id"), plan)
  }
}
