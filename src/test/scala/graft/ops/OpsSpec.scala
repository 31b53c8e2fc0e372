package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkTestBase

/** Per-operator sanity specs on sf0.001 (the DuckDB hash-compare at sf0.01
  * is the full correctness gate; these check structural invariants and
  * plan shape fast). */
class OpsSpec extends SparkTestBase {

  test("c1: snapshot has one row per surviving key, no DELETE-analog rows") {
    val df = Changelog.c1Snapshot(spark, sf0001).cache()
    assert(df.count() > 0)
    assert(df.groupBy("user_id").count().filter(col("count") > 1).count() == 0)
    assert(df.filter(col("last_event_type") === "error").count() == 0)
  }

  test("c7: SCD2 intervals chain per key; current rows reconcile with c1") {
    val ev = graft.model.Tables.events(spark, sf0001)
    val scd2 = Changelog.scd2Of(ev).cache()
    // intervals chain: within a key, each row's valid_to is the next
    // row's valid_from (the full event set, deletes included — the
    // interval table partitions the log axis with no gaps or overlaps)
    val chained = scd2
      .withColumn("next_from", org.apache.spark.sql.functions.lead("valid_from_id", 1)
        .over(org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy("valid_from_id")))
      .filter(col("next_from").isNotNull && col("valid_to_id") =!= col("next_from"))
    assert(chained.count() == 0, "gap or overlap in SCD2 interval chain")
    // exactly one open interval per key, and it is the key's max event_id
    val open = scd2.filter(col("is_current") === 1L)
    assert(open.groupBy("user_id").count().filter(col("count") =!= 1).count() == 0)
    // current non-deleted versions == c1 snapshot (key + id + value)
    val current = Changelog.c7Scd2(spark, sf0001)
      .filter(col("is_current") === 1L)
      .select(col("user_id"), col("valid_from_id").as("last_event_id"), col("value").as("last_value"))
    val snap = Changelog.c1Snapshot(spark, sf0001)
      .select("user_id", "last_event_id", "last_value")
    assert(current.exceptAll(snap).count() == 0 && snap.exceptAll(current).count() == 0)
  }

  test("c8: as-of mid-log state equals the snapshot of the truncated log") {
    val ev = graft.model.Tables.events(spark, sf0001)
    val cutoff = ev.agg(org.apache.spark.sql.functions.floor(max("event_id") / 2))
      .collect()(0).getLong(0)
    val expected = Changelog.snapshotOf(ev.filter(col("event_id") <= cutoff))
      .select(col("user_id"), col("last_event_id").as("asof_event_id"), col("last_value").as("asof_value"))
    val got = Changelog.c8AsofTime(spark, sf0001)
      .select("user_id", "asof_event_id", "asof_value")
    assert(got.exceptAll(expected).count() == 0 && expected.exceptAll(got).count() == 0)
    assert(got.count() > 0)
  }

  test("c3: head is the global min event_id") {
    val head = Changelog.c3Head(spark, sf0001).collect()(0).getLong(0)
    val mn = graft.model.Tables.events(spark, sf0001).agg(min("event_id")).collect()(0).getLong(0)
    assert(head == mn)
  }

  test("q6: top-k is sorted descending and bounded") {
    val rows = Relational.q6SortLimit(spark, sf0001).collect()
    assert(rows.length == 10)
    val prices = rows.map(_.getDouble(2))
    assert(prices.zip(prices.tail).forall { case (a, b) => a >= b })
  }

  test("q9b: exact counts match q9 and every HLL verdict is in bound") {
    val exact = Analytics.q9Distinct(spark, sf0001).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val rows = Analytics.q9bApproxDistinct(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val flag = r.getString(0)
      assert((r.getLong(1), r.getLong(2)) == exact(flag), s"exact counts drifted for $flag")
      assert(r.getInt(3) == 1 && r.getInt(4) == 1,
        s"flag=$flag HLL estimate outside 3·rsd bound")
    }
  }

  test("q27: heavy hitters are exact, above threshold, and all sketch-covered") {
    import org.apache.spark.sql.functions._
    val bgs = graft.model.Tables.documents(spark, sf0001)
      .select(split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(w) - 2), i -> concat(w[i], ' ', w[i + 1]))")).as("bg"))
    val exact = bgs.groupBy("bg").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = exact.values.sum
    val expected = exact.filter { case (_, c) => c * 10000L > total * 15L }
    val rows = Analytics.q27FreqItems(spark, sf0001).collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getString(0)).toSet == expected.keySet,
      "emitted set must be exactly the share > 0.15% bigrams")
    rows.foreach { r =>
      assert(r.getLong(1) == expected(r.getString(0)), s"count drifted for ${r.getString(0)}")
      assert(r.getLong(2) == 1L,
        s"${r.getString(0)} above 1.5x the sketch bound but missing from freqItems " +
          "candidates — the Misra-Gries one-sided guarantee is broken")
    }
  }

  test("q27b: deep-threshold hitters exact and fully covered by the MG aggregate") {
    import org.apache.spark.sql.functions._
    val bgs = graft.model.Tables.documents(spark, sf0001)
      .select(split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(w) - 2), i -> concat(w[i], ' ', w[i + 1]))")).as("bg"))
    val exact = bgs.groupBy("bg").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = exact.values.sum
    val expected = exact.filter { case (_, c) => c * 100000L > total * 5L }
    val rows = Analytics.q27bFreqDeep(spark, sf0001).collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getString(0)).toSet == expected.keySet)
    rows.foreach { r =>
      assert(r.getLong(1) == expected(r.getString(0)))
      assert(r.getLong(2) == 1L,
        s"${r.getString(0)} above 2.5x the MG bound but missing from the summary")
    }
    // the deep threshold genuinely reaches below the builtin's floor:
    // the registered 0.005% share is under freqItems' 1e-4 support minimum
    assertThrows[IllegalArgumentException](
      bgs.stat.freqItems(Seq("bg"), 0.00005))
  }

  test("q27c: per-group hitters exact, above each group's threshold, sketch-covered") {
    import org.apache.spark.sql.functions._
    val bgs = graft.model.Tables.documents(spark, sf0001)
      .select(col("lang"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 2)
      .select(col("lang"), explode(expr(
        "transform(sequence(0, size(w) - 2), i -> concat(w[i], ' ', w[i + 1]))")).as("bg"))
    val exact = bgs.groupBy("lang", "bg").count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val totals = exact.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val expected = exact.filter { case ((lang, _), c) => c * 10000L > totals(lang) * 5L }
    val rows = Analytics.q27cFreqGrouped(spark, sf0001).collect()
    assert(rows.nonEmpty)
    assert(rows.map(r => (r.getString(0), r.getString(1))).toSet == expected.keySet)
    assert(rows.map(_.getString(0)).distinct.length > 1, "needs multiple language groups")
    rows.foreach { r =>
      assert(r.getLong(2) == expected((r.getString(0), r.getString(1))))
      assert(r.getLong(3) == 1L,
        s"(${r.getString(0)}, ${r.getString(1)}) above 2.5x the group MG bound but absent")
    }
  }

  test("x1: dedup keeps one row per distinct text") {
    val docs = graft.model.Tables.documents(spark, sf0001)
    val kept = TextOps.x1DedupExact(spark, sf0001)
    assert(kept.count() == docs.select("text").distinct().count())
  }

  test("x3: kNN self-similarity excluded, scores bounded") {
    val rows = VectorOps.x3KnnCosine(spark, sf0001).collect()
    assert(rows.length == 10)
    assert(rows.forall(r => r.getLong(0) != 0L))
    assert(rows.forall(r => math.abs(r.getLong(1)) <= 10000L))
  }

  test("x12b: multi-probe recall@5 dominates single-probe against brute force") {
    def top5(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.getLong(0)).toSet
    val truth = VectorOps.x3KnnCosine(spark, sf001).limit(5)
      .collect().map(_.getLong(0)).toSet
    val single = top5(VectorOps.x12AnnLsh(spark, sf001))
    val multi = top5(VectorOps.x12bAnnMultiprobe(spark, sf001))
    // the probe set includes the query's own bucket, so the multi-probe
    // candidate pool is a superset and its top-5 can only get closer to truth
    assert(multi.intersect(truth).size >= single.intersect(truth).size,
      s"multi-probe recall regressed: truth=$truth single=$single multi=$multi")
  }

  test("x51: per-query recall report — multi-probe dominates, bounds hold") {
    val rows = VectorOps.x51AnnRecall(spark, sf001).collect()
    assert(rows.length == 8, s"one report row per sampled query: ${rows.length}")
    rows.foreach { r =>
      val (qid, nc1, nc5, nt, h1, r1, h5, r5) = (r.getLong(0), r.getLong(1),
        r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))
      assert(nc5 >= nc1, s"q$qid: multi-probe candidates must be a superset count")
      assert(h1 <= nt && h5 <= nt, s"q$qid: hits cannot exceed truth size")
      // the displacement argument in the x51 scaladoc: a truth member can
      // only be pushed out of the multi-probe top-k by another truth member
      assert(h5 >= h1, s"q$qid: multi-probe recall regressed ($h5 < $h1)")
      assert(r1 == 10000 * h1 / nt && r5 == 10000 * h5 / nt,
        s"q$qid: recalls must be exact integer ratios")
    }
    // the gate must exercise real arithmetic: on the driver corpus the
    // probe policies genuinely differ somewhere
    assert(rows.exists(r => r.getLong(6) > r.getLong(4)),
      "multi-probe should beat single-probe for at least one query")
  }

  test("x51b: IVF recall report agrees with the registered x16 index it audits") {
    val rows = VectorOps.x51bIvfRecall(spark, sf001).collect()
    assert(rows.length == 8)
    rows.foreach { r =>
      val (qid, nc, nt, h, rec) = (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))
      assert(h <= nt && nc > 0, s"q$qid: bounds")
      assert(rec == 10000 * h / nt, s"q$qid: recall must be the exact integer ratio")
    }
    // cross-operator consistency for qid 0: the report's hit count must
    // equal |x16's served top-5 ∩ exact truth top-5| — the report audits
    // the SAME index the registered x16 query serves
    val truth5 = VectorOps.x3KnnCosine(spark, sf001).limit(5)
      .collect().map(_.getLong(0)).toSet
    val served5 = VectorOps.x16IvfAnn(spark, sf001).collect().map(_.getLong(0)).toSet
    val hit0 = rows.find(_.getLong(0) == 0L).get.getLong(3)
    assert(hit0 == served5.intersect(truth5).size.toLong,
      s"report hit=$hit0 vs served∩truth=${served5.intersect(truth5)}")
  }

  test("x52: exactly one PII hit per doc, of the kind its overlay planted") {
    val rows = PipelineOps.x52PiiScan(spark, sf0001).collect()
    assert(rows.length == 500)
    rows.foreach { r =>
      val (id, e, p, ip) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      // the corpus tokens are all-letter words: zero false positives, so
      // the single overlay token is the only hit and lands in its class
      assert(e + p + ip == 1, s"doc $id: expected exactly one hit, got ($e,$p,$ip)")
      val expected = (id % 3) match { case 0 => e case 1 => p case _ => ip }
      assert(expected == 1, s"doc $id: hit in wrong class ($e,$p,$ip)")
    }
  }

  test("x53: per-cluster draws are bounded by k and cluster sizes tile the corpus") {
    val df = VectorOps.x53ClusterSample(spark, sf0001).cache()
    val total = graft.model.Tables.embeddings(spark, sf0001).count()
    // (cid, n_vecs) rows: per cluster, exactly min(3, n_vecs) draws,
    // ranks 1..m, distinct vec_ids; cluster sizes sum to the corpus
    val perCluster = df.groupBy("cid", "n_vecs")
      .agg(count(lit(1)).as("m"), max("rnk").as("maxr"),
        countDistinct("vec_id").as("nd")).collect()
    perCluster.foreach { r =>
      val (n, m, maxr, nd) = (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(m == math.min(3L, n) && maxr == m && nd == m)
    }
    assert(perCluster.map(r => r.getLong(1)).sum == total,
      "cluster sizes must tile the embedding corpus")
    assert(df.select("vec_id").distinct().count() == df.count(),
      "a vector may be drawn for only one cluster")
  }

  test("x55: purity rows reconcile with the x53 cluster sizes and the label space") {
    val purity = VectorOps.x55ClusterPurity(spark, sf0001).collect()
    val labels = graft.model.Tables.embeddings(spark, sf0001)
      .select("label").distinct().collect().map(_.getInt(0).toLong).toSet
    purity.foreach { r =>
      val (n, top, ntop, pm) = (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(labels.contains(top), s"majority label $top not in label space")
      assert(ntop >= 1 && ntop <= n && pm == 1000L * ntop / n, s"inconsistent row: $r")
      // a majority of a partition into |labels| classes is ≥ ceil(n/|labels|)
      assert(ntop >= (n + labels.size - 1) / labels.size, s"sub-uniform majority: $r")
    }
    // x53 and x55 read the SAME assignment: identical (cid, n_vecs) sets
    val sizes53 = VectorOps.x53ClusterSample(spark, sf0001)
      .select("cid", "n_vecs").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(purity.map(r => (r.getLong(0), r.getLong(1))).toSet == sizes53,
      "x55 cluster sizes disagree with x53's")
  }

  /** In-JVM PQ replica shared by the x56/x57 specs: scaled-int
    * subvectors, seeded codebooks, one Lloyd round with floor-division
    * means, lowest-cid ties — in plain Scala on the collected corpus.
    * Returns (scaled corpus sorted by id, per-subspace final codebooks,
    * per-subspace id → (d2, code)). */
  private def pqReplica(): (Array[(Long, Array[Long])],
      IndexedSeq[Seq[(Long, Array[Long])]], IndexedSeq[Map[Long, (Long, Long)]]) = {
    val emb = graft.model.Tables.embeddings(spark, sf0001)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(x => math.floor(x.toDouble * 1000000L).toLong).toArray)
      .sortBy(_._1)
    val (m, subDim, k) = (4, 16, 8)
    def sub(v: Array[Long], s: Int) = v.slice(s * subDim, (s + 1) * subDim)
    def nearest(u: Array[Long], cents: Seq[(Long, Array[Long])]) =
      cents.map { case (cid, cu) => (pqL2(u, cu), cid) }.min // (d2, cid) lexicographic
    val books = (0 until m).map { s =>
      val c0 = emb.takeWhile(_._1 < k).map { case (id, v) => id -> sub(v, s) }.toSeq
      val asg1 = emb.map { case (id, v) => id -> nearest(sub(v, s), c0)._2 }
      c0.map { case (cid, seed) =>
        val members = asg1.filter(_._2 == cid).map(_._1).toSet
        if (members.isEmpty) cid -> seed
        else cid -> (0 until subDim).map { p =>
          val xs = emb.filter(e => members(e._1)).map(e => sub(e._2, s)(p))
          Math.floorDiv(xs.sum, xs.length.toLong)
        }.toArray
      }
    }
    val codes = (0 until m).map(s =>
      emb.map { case (id, v) => id -> nearest(sub(v, s), books(s)) }.toMap)
    (emb, books, codes)
  }

  private def pqL2(a: Array[Long], b: Array[Long]): Long =
    a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum

  test("x56: codes and err_sq match an independent in-JVM PQ replica") {
    val (emb, _, expected) = pqReplica()
    val got = VectorOps.x56PqCodes(spark, sf0001).collect()
    assert(got.length == emb.length)
    got.foreach { r =>
      val id = r.getLong(0)
      (0 until 4).foreach(s => assert(r.getLong(1 + s) == expected(s)(id)._2,
        s"vec $id subspace $s code mismatch"))
      assert(r.getLong(5) == (0 until 4).map(s => expected(s)(id)._1).sum,
        s"vec $id err_sq mismatch")
    }
    // the quantizer must be nontrivial: several codes in use per subspace
    (0 until 4).foreach(s =>
      assert(expected(s).values.map(_._2).toSet.size >= 4, s"subspace $s degenerate"))
  }

  test("x57: ADC distances replay bit-exactly and the top-k is complete") {
    val (emb, books, codes) = pqReplica()
    val byId = emb.toMap
    val qv = byId(0L)
    // replica ADC: sum over subspaces of d2(query subvector, the
    // codebook entry the candidate's code points at)
    def adc(id: Long): Long = (0 until 4).map { s =>
      val cu = books(s).find(_._1 == codes(s)(id)._2).get._2
      pqL2(qv.slice(s * 16, (s + 1) * 16), cu)
    }.sum
    val assign = VectorOps.x16Assignment(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rows = VectorOps.x57IvfPqSearch(spark, sf0001).collect()
    assert(rows.length == 10)
    assert(rows.map(_.getLong(0)).distinct.length == 10)
    rows.foreach { r =>
      val (id, listId, adcD2, trueD2) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      assert(id != 0L, "query must not return itself")
      assert(listId == assign(id), s"vec $id routed to the wrong inverted list")
      assert(adcD2 == adc(id), s"vec $id ADC mismatch vs replica LUT")
      assert(trueD2 == pqL2(byId(id), qv), s"vec $id exact re-rank distance wrong")
    }
    val outAdc = rows.map(_.getLong(2))
    assert(outAdc.zip(outAdc.tail).forall { case (a, b) => a <= b }, "not ADC-sorted")
    // completeness: within the inverted lists the output came from, no
    // skipped member may beat the worst returned (adc, vec_id) pair
    val lists = rows.map(_.getLong(1)).toSet
    assert(lists.size <= 2, "more lists than nprobe=2")
    val returned = rows.map(_.getLong(0)).toSet
    val worst = (rows.last.getLong(2), rows.last.getLong(0))
    emb.map(_._1).filter(id => id != 0L && !returned(id) && lists(assign(id)))
      .foreach { id =>
        assert(Ordering[(Long, Long)].compare((adc(id), id), worst) > 0,
          s"vec $id (adc ${adc(id)}) should have made the top-10")
      }
  }

  test("x58: ADC recall replays bit-exactly; IVF-PQ recall agrees with x57") {
    val (emb, books, codes) = pqReplica()
    val byId = emb.toMap
    def adc(qv: Array[Long], id: Long): Long = (0 until 4).map { s =>
      val cu = books(s).find(_._1 == codes(s)(id)._2).get._2
      pqL2(qv.slice(s * 16, (s + 1) * 16), cu)
    }.sum
    val rows = VectorOps.x58PqRecall(spark, sf0001).collect()
    assert(rows.length == 8)
    rows.foreach { r =>
      val (qid, nc, nt) = (r.getLong(0), r.getLong(1), r.getLong(2))
      val (hA, recA, hI, recI) =
        (r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))
      assert(nt == 5 && nc > 0, s"q$qid: bounds")
      assert(hA <= nt && hI <= nt, s"q$qid: hits exceed truth")
      assert(recA == 10000 * hA / nt && recI == 10000 * hI / nt,
        s"q$qid: recalls must be the exact integer ratios")
      // full replica of the quantization-loss column: truth = exact L2
      // top-5, approx = whole-corpus ADC top-5, both (d2, id)-ordered
      val qv = byId(qid)
      val others = emb.map(_._1).filter(_ != qid)
      val truth5 = others.map(id => (pqL2(byId(id), qv), id)).sorted.take(5).map(_._2).toSet
      val adc5 = others.map(id => (adc(qv, id), id)).sorted.take(5).map(_._2).toSet
      assert(hA == truth5.intersect(adc5).size.toLong,
        s"q$qid: hit_adc=$hA vs replica ${truth5.intersect(adc5).size}")
    }
    // cross-operator consistency for qid 0: the IVF-PQ column audits the
    // SAME compressed index x57 serves — its hit count must equal
    // |x57's ADC top-5 ∩ exact-L2 truth top-5|
    val qv0 = byId(0L)
    val truth0 = emb.map(_._1).filter(_ != 0L)
      .map(id => (pqL2(byId(id), qv0), id)).sorted.take(5).map(_._2).toSet
    val served5 = VectorOps.x57IvfPqSearch(spark, sf0001).collect()
      .take(5).map(_.getLong(0)).toSet
    val hit0 = rows.find(_.getLong(0) == 0L).get.getLong(5)
    assert(hit0 == served5.intersect(truth0).size.toLong,
      s"hit_ivfpq(0)=$hit0 vs x57-served∩truth=${served5.intersect(truth0)}")
  }

  /** In-JVM daily-series replica shared by the x59/x60 specs: (sorted
    * users, per-user dense daily cents series, day count). */
  private def seriesReplica(): (Seq[Long], Long => Array[Long], Int) = {
    val ev = graft.model.Tables.events(spark, sf0001)
      .filter(col("value").isNotNull)
      .select(col("user_id"), col("ts").cast("date"), graft.model.Tables.cents(col("value")))
      .collect().map(r => (r.getLong(0), r.getDate(1).toLocalDate, r.getLong(2)))
    val (d0, d1) = (ev.map(_._2).min, ev.map(_._2).max)
    val nDays = java.time.temporal.ChronoUnit.DAYS.between(d0, d1).toInt + 1
    def series(u: Long): Array[Long] = {
      val daily = ev.filter(_._1 == u).groupBy(_._2).map { case (d, rs) => d -> rs.map(_._3).sum }
      (0 until nDays).map(i => daily.getOrElse(d0.plusDays(i.toLong), 0L)).toArray
    }
    (ev.map(_._1).distinct.sorted.toSeq, series, nDays)
  }

  test("x60: banded DTW top-5 replays bit-exactly against an in-JVM DP replica") {
    val (users, series, nDays) = seriesReplica()
    assert(nDays <= 45, "the x60 oracle unrolls 89 diagonals (<= 45 days); regenerate it")
    val band = 5
    val INF = 1L << 60
    def dtw(a: Array[Long], b: Array[Long]): Long = {
      var prev = Array.fill(b.length + 1)(INF); prev(0) = 0L
      var curr = Array.fill(b.length + 1)(INF)
      for (i <- 1 to a.length) {
        java.util.Arrays.fill(curr, INF)
        for (j <- math.max(1, i - band) to math.min(b.length, i + band)) {
          val c = math.abs(a(i - 1) - b(j - 1))
          curr(j) = c + math.min(prev(j), math.min(curr(j - 1), prev(j - 1)))
        }
        val t = prev; prev = curr; curr = t
      }
      prev(b.length)
    }
    val qv = series(users.head)
    val expected = users.tail.map(u => (dtw(series(u), qv), u)).sorted.take(5)
      .map { case (d, u) => (u, d) }
    val got = Windows.x60DtwSearch(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == expected, s"got $got vs replica $expected")
    // DTW under warping can only improve on the rigid alignment
    users.tail.foreach { u =>
      val sv = series(u)
      val rigid = sv.zip(qv).map { case (a, b) => math.abs(a - b) }.sum
      assert(dtw(sv, qv) <= rigid, s"user $u: DTW exceeds the band-0 alignment")
    }
  }

  test("x61: SAX words, candidacy, and verified distances replay in-JVM") {
    val (users, series, nDays) = seriesReplica()
    val bL = Math.floorDiv(nDays + 5, 6).toLong
    def segMeans(sv: Array[Long]): Seq[Long] = (0 until 6).map { j =>
      val sl = sv.slice((j * bL).toInt, ((j + 1) * bL).toInt)
      Math.floorDiv(sl.sum, bL)
    }
    val allMeans = users.flatMap(u => segMeans(series(u)))
    val (lo, hi) = (allMeans.min, allMeans.max)
    def word(sv: Array[Long]): Seq[Long] =
      segMeans(sv).map(m => Math.floorDiv((m - lo) * 4, hi - lo + 1))
    val qw = word(series(users.head))
    val qv = series(users.head)
    val expected = users.tail
      .map(u => (u, word(series(u)).zip(qw).count { case (a, b) => a == b }))
      .filter(_._2 >= 4)
      .map { case (u, ns) =>
        (qv.zip(series(u)).map { case (a, b) => (a - b) * (a - b) }.sum, u, ns.toLong)
      }
      .sorted.take(10)
      .map { case (d2, u, ns) => (u, ns, d2) }
    assert(expected.nonEmpty, "the SAX blocking should admit some candidates")
    // every symbol must land inside the alphabet
    users.foreach(u => word(series(u)).foreach(s => assert(s >= 0 && s < 4)))
    val got = Windows.x61SaxSearch(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == expected, s"got $got vs replica $expected")
  }

  test("x59: matches, bounds, and distances replay bit-exactly against an in-JVM replica") {
    val (users, series, nDays) = seriesReplica()
    val qv = series(users.head)
    val tau = qv.map(x => x * x).sum
    val bL = Math.floorDiv(nDays + 5, 6).toLong
    def lb(sv: Array[Long]): Long = (0 until 6).map { j =>
      val ds = sv.slice((j * bL).toInt, ((j + 1) * bL).toInt).sum -
        qv.slice((j * bL).toInt, ((j + 1) * bL).toInt).sum
      ds * ds
    }.sum
    def d2(sv: Array[Long]): Long = sv.zip(qv).map { case (a, b) => (a - b) * (a - b) }.sum
    val expected = users.tail.map(u => (u, series(u)))
      .map { case (u, sv) => (u, lb(sv), d2(sv)) }
      .filter(_._3 <= tau)
    assert(expected.nonEmpty, "the radius should admit some matches on this corpus")
    // soundness of the bound on EVERY user, matched or not
    users.tail.foreach { u =>
      val sv = series(u)
      assert(lb(sv) <= bL * d2(sv), s"user $u: Cauchy-Schwarz bound violated")
    }
    val got = Windows.x59SeriesSearch(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == expected.toSeq,
      s"got ${got.size} rows vs expected ${expected.size}; first diff: " +
        got.zipAll(expected, null, null).find(t => t._1 != t._2))
  }

  test("packed argmins: exact ties break to the lowest cid, negatives pack safely") {
    import spark.implicits._
    // pqNearest: (d2, cid) lexicographic — a d2 tie must pick the lower cid
    val pq = VectorOps.pqNearest(Seq(
      (1L, 0L, 3L, 5L), (1L, 0L, 1L, 5L), (1L, 0L, 2L, 9L), // tie at d2=5 → cid 1
      (1L, 1L, 7L, 4L), (1L, 1L, 0L, 6L), //  plain argmin → cid 7
      (2L, 0L, 6L, 0L), (2L, 0L, 0L, 0L)) // all-zero tie → cid 0
      .toDF("vec_id", "m", "cid", "d2")).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    assert(pq((1L, 0L)) == (1L, 5L), "d2 tie must break to the lowest cid")
    assert(pq((1L, 1L)) == (7L, 4L))
    assert(pq((2L, 0L)) == (0L, 0L))
    // nearestCent: (sim desc, cid asc) — ties low-cid, and the most
    // negative representable sim (floor(-1.00005·1e4) = -10001) packs
    // without wrapping
    val nc = VectorOps.nearestCent(Seq(
      (1L, 3L, 9000L), (1L, 5L, 9000L), (1L, 0L, 8999L), // sim tie → cid 3
      (2L, 15L, -10001L), (2L, 14L, -10001L), // worst-case negatives → cid 14
      (3L, 0L, -5L), (3L, 1L, 10000L)) // max sim wins
      .toDF("vec_id", "cid", "sim_s4"), 16).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(nc(1L) == 3L, "sim tie must break to the lowest cid")
    assert(nc(2L) == 14L, "the -10001 floor edge must not wrap the packing")
    assert(nc(3L) == 1L)
  }

  test("x54: pair counts are consistent with unigram counts and ranked correctly") {
    val rows = TextOps.x54BpePairs(spark, sf0001).collect()
    assert(rows.length == 20)
    val ns = rows.map(_.getLong(2))
    assert(ns.zip(ns.tail).forall { case (a, b) => a >= b }, "descending n_pair")
    rows.foreach { r =>
      val (np, nl, nr, s) = (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      // each unigram occurrence is the left (right) element of ≤1 pair
      assert(np <= nl && np <= nr, s"pair count exceeds a unigram count: $r")
      assert(s == 1000000L * np / (nl * nr) && s >= 0, s"score mismatch: $r")
    }
  }

  test("x62: merge sequence equals an in-JVM reference BPE trainer") {
    // independent replica: plain Scala greedy BPE over the collected
    // sf0.001 corpus (50 docs — bounded), argmax under the same
    // (n DESC, l, r) total order, left-to-right non-overlapping merge
    val texts = graft.model.Tables.documents(spark, sf0001)
      .select("text").collect().map(_.getString(0))
    var seqs: Array[Vector[String]] = texts.map(_.split(" ", -1).toVector)
    val expect = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    for (round <- 1 to 6) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      seqs.foreach(w => w.indices.dropRight(1).foreach { i =>
        counts((w(i), w(i + 1))) = counts.getOrElse((w(i), w(i + 1)), 0L) + 1
      })
      val ((l, r), n) = counts.minBy { case ((l, r), n) => (-n, l, r) }
      expect += ((round.toLong, l, r, n))
      seqs = seqs.map { w =>
        val out = Vector.newBuilder[String]
        var i = 0
        while (i < w.length) {
          if (i + 1 < w.length && w(i) == l && w(i + 1) == r) {
            out += s"${l}_$r"; i += 2
          } else { out += w(i); i += 1 }
        }
        out.result()
      }
    }
    val got = TextOps.x62BpeTrain(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(got == expect.toSeq, s"merge sequence mismatch:\n got $got\n exp $expect")
    // joiner safety: no corpus token contains the merge joiner
    assert(!texts.exists(_.contains("_")), "corpus tokens must be '_'-free")
  }

  test("x62b: word-type merges equal a reference trainer on the weighted vocab") {
    // independent replica: greedy BPE over the DISTINCT word types of
    // the sf0.001 corpus, each rendered as its character sequence and
    // weighted by corpus frequency — the Sennrich formulation x62b
    // implements at vocabulary cost
    val texts = graft.model.Tables.documents(spark, sf0001)
      .select("text").collect().map(_.getString(0))
    val freq = texts.flatMap(_.split(" ", -1)).filter(_.nonEmpty)
      .groupBy(identity).map { case (w, o) => w -> o.length.toLong }
    var seqs: Map[Vector[String], Long] =
      freq.map { case (w, n) => w.toVector.map(_.toString) -> n }
    val expect = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    for (round <- 1 to 6) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      seqs.foreach { case (w, n) =>
        w.indices.dropRight(1).foreach { i =>
          counts((w(i), w(i + 1))) = counts.getOrElse((w(i), w(i + 1)), 0L) + n
        }
      }
      val ((l, r), n) = counts.minBy { case ((l, r), n) => (-n, l, r) }
      expect += ((round.toLong, l, r, n))
      seqs = seqs.map { case (w, nw) =>
        val out = Vector.newBuilder[String]
        var i = 0
        while (i < w.length) {
          if (i + 1 < w.length && w(i) == l && w(i + 1) == r) {
            out += s"${l}_$r"; i += 2
          } else { out += w(i); i += 1 }
        }
        out.result() -> nw
      }.groupBy(_._1).map { case (w, m) => w -> m.values.sum } // rewrites may collide
    }
    val got = TextOps.x62bBpeWordTrain(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(got == expect.toSeq, s"word-type merge mismatch:\n got $got\n exp $expect")
    // the checkpoint knob changes the plan, never the merges
    val s = spark
    import org.apache.spark.sql.functions.{array_join, col, concat, count, explode, lit, split, trim}
    val types = graft.model.Tables.documents(s, sf0001)
      .select(explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(col("tok")).agg(count(lit(1)).as("freq"))
      .select(concat(lit(" "), array_join(split(col("tok"), ""), "  "), lit(" ")).as("s"),
        col("freq"))
    val ck = TextOps.bpeTrainSeqs(s, types, rounds = 6, checkpointEvery = 1).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(ck == expect.toSeq, s"checkpointEvery=1 must not change the merges: $ck")
  }

  test("x69: agreement matrix reconciles with the per-doc frames it joins") {
    import org.apache.spark.sql.functions._
    val batch = PipelineOps.x68SplitStable(spark, sf0001).collect()
      .filter(_.getString(3) != "held")
      .map(r => r.getLong(0) -> (r.getString(2), r.getString(3))).toMap
    val routed = PipelineOps.routeDecisions(spark, sf0001).collect()
      .map(r => r.getLong(0) -> (r.getString(2), r.getString(3))).toMap
    assert(batch.keySet == routed.keySet, "both sides cover exactly the arrivals")
    // driver-side recomputation of the matrix from the two per-doc maps
    val want = batch.toSeq.map { case (id, (bs, bo)) =>
      val (rs, ro) = routed(id)
      ((bo, ro), if (bs == rs) 1L else 0L)
    }.groupBy(_._1).map { case (k, vs) => k -> (vs.size.toLong, vs.map(_._2).sum) }
    val got = PipelineOps.x69RouteAgreement(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3))).toMap
    assert(got == want, s"matrix mismatch:\n got $got\n exp $want")
    assert(got.values.map(_._1).sum == batch.size.toLong)
    // disagreement inside an inherited/inherited cell would mean the
    // frozen index served a split the closure contradicts on THIS corpus
    got.get(("inherited", "inherited")).foreach { case (n, agree) =>
      assert(n == agree, s"inherited/inherited cell must fully agree here: $n vs $agree")
    }
  }

  test("x70: temperature mixture equals a driver-side reference draw") {
    val docs = graft.model.Tables.documents(spark, sf0001)
      .select("doc_id", "lang").collect().map(r => (r.getLong(0), r.getString(1)))
    def h48(id: Long): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(6).map("%02x".format(_)).mkString, 16)
    }
    val byLang = docs.groupBy(_._2)
    val cnt = byLang.map { case (l, ds) => l -> ds.length.toLong }
    val w = cnt.map { case (l, n) => l -> math.sqrt(n.toDouble).floor.toLong }
    val sw = w.values.sum
    val k = cnt.values.sum / 2
    val target = cnt.map { case (l, n) => l -> math.min(n, k * w(l) / sw) }
    val kept = byLang.map { case (l, ds) =>
      l -> ds.map(_._1).sortBy(id => (h48(id), id)).take(target(l).toInt)
    }
    val got = PipelineOps.x70TempMixture(spark, sf0001).collect()
    assert(got.map(_.getString(0)).toSet == cnt.keySet)
    got.foreach { r =>
      val l = r.getString(0)
      assert((r.getLong(1), r.getLong(2), r.getLong(3)) == ((cnt(l), w(l), target(l))),
        s"$l: ${r.toString}")
      assert((r.getLong(4), r.getLong(5)) == ((kept(l).size.toLong, kept(l).sum)),
        s"$l kept set: ${r.toString}")
    }
  }

  test("x38: e2e manifest accounts for exactly the surviving documents") {
    import org.apache.spark.sql.functions._
    val manifest = PipelineOps.x38PipelineE2e(spark, sf0001)
    val total = manifest.agg(sum("n_docs")).collect()(0).getLong(0)
    // independent survivor count from the registered stage outputs
    val kept = TextOps.x1DedupExact(spark, sf0001)
      .select(col("keep_id").as("doc_id"))
    val clean = PipelineOps.x29Decontam(spark, sf0001)
      .filter(col("is_contaminated") === 0).select("doc_id")
    val good = TextOps.x9Quality(spark, sf0001)
      .filter(col("quality") >= 75).select("doc_id")
    val survivors = kept.join(clean, "doc_id").join(good, "doc_id").count()
    assert(total == survivors && total > 0,
      s"manifest covers $total docs, pipeline survivors = $survivors")
    // packing geometry: no shard exceeds the writer budget by more than
    // one document (a doc can straddle, but shards never skip)
    val perShard = manifest.select("writer", "shard_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
    perShard.foreach { case (_, shards) =>
      val ids = shards.map(_._2).sorted
      assert(ids.zip(ids.tail).forall { case (a, b) => b == a + 1 },
        s"shard ids must be contiguous per writer: ${ids.toSeq}")
    }
  }

  test("x15: real decode path reproduces the generated corpus's closed-form rasters") {
    val docIds = graft.model.Tables.documents(spark, sf0001)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val rows = Multimodal.x15MediaPipeline(spark, sf0001).collect()
    // one decoded row per document — the PNG corpus, the binaryFile
    // ingest, and the filename-keyed doc_id all line up
    assert(rows.map(_.getLong(0)).toSet == docIds)
    rows.foreach { r =>
      val d = r.getLong(0)
      val w = 1 + d % 8
      val h = 1 + d % 6
      var sum = 0L
      for (y <- 0L until h; x <- 0L until w) sum += (7 * d + 3 * x + 11 * y) % 16777216
      assert(r.getLong(1) == w && r.getLong(2) == h, r.toString)
      assert(r.getLong(3) == sum, s"raster checksum mismatch for doc $d: $r")
      assert(r.getLong(4) == 1L, s"doc $d failed to decode")
    }
    // byte-stats stub exemplar still holds its invariants
    val stub = Oracles.x15ByteStats(spark, sf0001).limit(50).collect()
    stub.foreach { r =>
      assert(r.getLong(1) > 0) // n_bytes
      assert(r.getLong(2) >= 0 && r.getLong(2) < 256) // first_byte
      assert(r.getLong(3) >= r.getLong(1)) // byte_sum >= n_bytes (ASCII >= 1/byte)
    }
  }

  test("x15c: real audio decode reproduces the generated corpus's closed-form PCM") {
    val docIds = graft.model.Tables.documents(spark, sf0001)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val rows = Multimodal.x15cAudioPipeline(spark, sf0001).collect()
    // one decoded row per document — the WAV corpus, the binaryFile
    // ingest, and the filename-keyed doc_id all line up
    assert(rows.map(_.getLong(0)).toSet == docIds)
    rows.foreach { r =>
      val d = r.getLong(0)
      val channels = 1 + d % 2
      val frames = 1 + d % 16
      var sum = 0L
      for (j <- 0L until frames * channels * 2) sum += (5 * d + 13 * j) % 256
      assert(r.getLong(1) == 8000 + 1000 * (d % 3), s"rate mismatch: $r")
      assert(r.getLong(2) == channels && r.getLong(3) == frames, r.toString)
      assert(r.getLong(4) == sum, s"PCM checksum mismatch for doc $d: $r")
      assert(r.getLong(5) == 1L, s"doc $d failed to decode")
    }
  }

  test("x72: scrub counts partition the doc; exact duplicates scrub fully except the owner") {
    import org.apache.spark.sql.functions._
    val rows = TextOps.x72SpanScrub(spark, sf0001).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))).toMap
    // partition invariant: kept + scrubbed = tokens, md5 never null
    rows.foreach { case (d, (nt, nk, ns, m)) =>
      assert(nk + ns == nt, s"doc $d: $nk + $ns != $nt")
      assert(m != null && m.length == 32, s"doc $d: bad md5 '$m'")
    }
    // the keep-lowest rule, on a synthetic corpus with EXACT duplicates
    // (the sf corpora have none): the lowest copy keeps every token,
    // every other copy scrubs fully (all its grams are shared with the
    // owner), an overlapping-suffix doc scrubs just the shared span,
    // and an unrelated doc is untouched
    val s = spark
    import s.implicits._
    val tmp = tempDir("graft_x72_").toString
    val dup = "a b c d e f g h"
    Seq(
      (1L, dup, "en", "srcA", dup.length.toLong),
      (5L, dup, "en", "srcB", dup.length.toLong),
      (6L, "x y d e f g h z", "en", "srcA", 15L), // tail shares ONE 5-gram: d e f g h
      (7L, "p q r s t u v w", "en", "srcC", 15L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$tmp/documents.parquet")
    try {
      val syn = TextOps.x72SpanScrub(s, tmp).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
      assert(syn(1L) == ((8L, 8L, 0L)), s"owner scrubbed: ${syn(1L)}")
      assert(syn(5L) == ((8L, 0L, 8L)), s"duplicate kept tokens: ${syn(5L)}")
      // doc 6: gram 'd e f g h' at p=3 is shared with owner 1 → positions
      // 3..7 scrub, 3 tokens survive
      assert(syn(6L) == ((8L, 3L, 5L)), s"overlap doc wrong: ${syn(6L)}")
      assert(syn(7L) == ((8L, 8L, 0L)), s"unrelated doc touched: ${syn(7L)}")
    } finally {
      graft.ops.Stages.clear() // the synthetic dir's gram stage must not outlive it
    }
    // a doc whose grams are all unique keeps everything, and its md5 is
    // the md5 of its own text (the rewrite is the identity there)
    val untouched = graft.model.Tables.documents(spark, sf0001)
      .select(col("doc_id"), md5(col("text").cast("binary")).as("m")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val identity = rows.collect { case (d, (nt, nk, _, m)) if nk == nt => (d, m) }
    assert(identity.nonEmpty)
    identity.foreach { case (d, m) =>
      assert(m == untouched(d), s"doc $d rewrote despite zero scrubbed tokens")
    }
  }

  test("x14: blocked near-dup pairs are a subset of all-pairs with identical scores") {
    // sf0.01: the smallest SF with a ground-truth near-dup pair (sf0.001
    // has none, so the blocked result there is correctly empty).
    val blocked = VectorOps.x14CosineNeardup(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val all = Oracles.x14AllPairs(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(blocked.nonEmpty, "banding should surface at least one near-dup pair")
    blocked.foreach { case (pair, cos) =>
      assert(all.get(pair).contains(cos), s"pair $pair: blocked=$cos all=${all.get(pair)}")
    }
  }

  test("vector scale knobs: non-default k/bits stay sound") {
    // x14 with more bits: still a subset of all-pairs with identical scores
    // (more bits only SHRINKS candidate buckets, never corrupts a verify)
    val all = Oracles.x14AllPairs(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    VectorOps.x14CosineNeardupB(spark, sf001, bits = 7).collect().foreach { r =>
      val pair = (r.getLong(0), r.getLong(1))
      assert(all.get(pair).contains(r.getLong(2)), s"bits=7 fabricated pair $pair")
    }
    // x16 with a different k: still top-5, self excluded, scores in range
    val knn = VectorOps.x16IvfAnnK(spark, sf001, k = 8).collect()
    assert(knn.length == 5 && knn.forall(r => r.getLong(0) != 0L))
    assert(knn.forall(r => math.abs(r.getLong(2)) <= 10000L))
    // x27 with a different k: one verdict per vector, kept in {0,1}
    val sem = VectorOps.x27SemanticDedupK(spark, sf001, k = 8).collect()
    assert(sem.length == graft.model.Tables.table(spark, sf001, "embeddings").count())
    assert(sem.forall(r => r.getLong(2) == 0L || r.getLong(2) == 1L))
  }

  test("x14: candidate generation is equi-join blocked (no nested-loop/cartesian)") {
    val plan = VectorOps.x14CosineNeardup(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"x14 must not plan an all-pairs join:\n$plan")
  }

  test("x2: df cap drops hot shingles before the pair join") {
    import spark.implicits._
    // docs 1 and 2 share 20 rare shingle keys (true near-dups); docs
    // 1..100 all contain one boilerplate key whose df=100 exceeds the
    // cap. Without the cap the hot key alone yields C(100,2)=4950 pairs.
    val hot = (1 to 100).map(d => (d.toLong, 0xFFFFFFFFL))
    val shared = for (d <- 1 to 2; g <- 1 to 20) yield (d.toLong, g.toLong)
    val rows = (hot ++ shared).toDF("doc_id", "k")
    val out = TextOps.x2DedupNearOn(rows).collect()
    assert(out.length == 1, s"expected only the (1,2) pair, got ${out.length}")
    assert(out(0).getLong(0) == 1L && out(0).getLong(1) == 2L)
    // Jaccard over the PRUNED gram set: 20/(20+20-20) = 1.0
    assert(out(0).getLong(5) == 10000L)
  }

  test("x2: public df-cap knob — relaxed cap matches the registered query, tight cap stays bounded") {
    import spark.implicits._
    // driver corpus max df = 25: a cap of 1000 and the default 50 are both
    // inactive, so the knob at a relaxed setting must reproduce the
    // registered pairs exactly
    val reg = TextOps.x2DedupNear(spark, sf001).collect().toSeq
    assert(TextOps.x2DedupNearDf(spark, sf001, 1000).collect().toSeq == reg)
    // tight cap on a hot-shingle corpus: the df=10 boilerplate key is
    // dropped at cap 5, so output is the one true pair, not C(10,2)
    val hot = (1 to 10).map(d => (d.toLong, 0xFFFFFFFFL))
    val shared = for (d <- 1 to 2; g <- 1 to 20) yield (d.toLong, g.toLong)
    val out = TextOps.x2DedupNearOn((hot ++ shared).toDF("doc_id", "k"), dfCap = 5).collect()
    assert(out.length == 1 && out(0).getLong(0) == 1L && out(0).getLong(1) == 2L)
    // cap below any pair is a contract error, not silent emptiness
    intercept[IllegalArgumentException] {
      TextOps.x2DedupNearOn(shared.toDF("doc_id", "k"), dfCap = 1)
    }
  }

  test("x13: band df cap drops degenerate hot buckets before pairing") {
    import spark.implicits._
    // one hot bucket shared by 100 docs (a boilerplate flood whose
    // minhash band signatures all collide) would yield C(100,2)=4950
    // candidate pairs; two healthy buckets carry the real signal. The
    // cap must drop the flood and keep everything else.
    val hot = (1 to 100).map(d => (d.toLong, 0L, 0xABCDL))
    val ok = Seq((1L, 1L, 7L), (2L, 1L, 7L), (5L, 2L, 9L), (6L, 2L, 9L), (7L, 2L, 9L))
    val out = TextOps.x13PairsOnBands((hot ++ ok).toDF("doc_id", "band", "h"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out == Map((1L, 2L) -> 1L, (5L, 6L) -> 1L, (5L, 7L) -> 1L, (6L, 7L) -> 1L),
      s"only healthy-bucket pairs must survive the cap: $out")
  }

  test("x23: occupancy guard fails loudly on a degenerate bucket flood") {
    import spark.implicits._
    // 5000 identical fingerprints put 5000 docs in every band bucket —
    // past the guard. Exactness forbids silently dropping them (unlike
    // x13's lossy candidates), so the query must die with the guard
    // message, not grind through C(5000,2) pairs per band.
    val fp = (1 to 5000).map(d => (d.toLong, 0L)).toDF("doc_id", "sh")
    val ex = intercept[Throwable] { PipelineOps.x23PairsOnFp(fp).collect() }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(ex).exists(_.contains("exceeds the exactness guard")),
      s"expected the x23 guard to fire, got: ${msgs(ex).mkString(" | ")}")
  }

  test("x18: chunk windows tile every document (stride geometry, full coverage)") {
    val docs = graft.model.Tables.documents(spark, sf0001)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val chunks = PipelineOps.x18Chunking(spark, sf0001).collect()
      .groupBy(_.getLong(0))
    assert(chunks.keySet == docs.keySet, "every document must be chunked")
    chunks.foreach { case (doc, rows) =>
      val sorted = rows.sortBy(_.getLong(1))
      val starts = sorted.map(_.getLong(2))
      assert(starts.head == 1L)
      assert(starts.zip(starts.tail).forall { case (a, b) => b - a == 40L },
        s"doc $doc: starts not stride-spaced: ${starts.toSeq}")
      val last = sorted.last
      // last window reaches the final token: start + n_tok_chunk - 1 == n
      assert(last.getLong(2) + last.getLong(3) - 1 == docs(doc),
        s"doc $doc: final chunk must end at the last token")
      assert(sorted.forall(r => r.getLong(3) >= 1 && r.getLong(3) <= 50))
    }
  }

  test("x21: quantized codes stay in int8 range and saturate at the max component") {
    val rows = PipelineOps.x21EmbedQuant(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (qmin, qmax) = (r.getLong(4), r.getLong(5))
      assert(qmin >= -127L && qmax <= 127L)
      // symmetric scaling pins the absolutely-largest component to ±127
      assert(qmax == 127L || qmin == -127L,
        s"vec ${r.getLong(0)}: extremum must quantize to ±127 (got $qmin/$qmax)")
    }
  }

  test("x24: cluster labels are canonical min-reachable ids and respect the pair graph") {
    val labels = PipelineOps.x24DedupClusters(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every cluster id is the smallest member and labels itself
    labels.foreach { case (d, c) =>
      assert(c <= d, s"label must be a min-reachable id: doc $d -> $c")
      assert(labels(c) == c, s"cluster id $c must be its own label")
    }
    // both endpoints of every candidate pair share a cluster
    TextOps.x13MinhashLsh(spark, sf0001).collect().foreach { r =>
      val (d1, d2) = (r.getLong(0), r.getLong(1))
      assert(labels(d1) == labels(d2), s"pair ($d1,$d2) split across clusters")
    }
  }

  test("x67: merge replay matches an in-JVM tokenizer replica; each application drops one token") {
    val texts = graft.model.Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    // independent replica: 6 rounds of count → argmax((n DESC, l, r)) →
    // literal left-to-right non-overlapping replace (Java String.replace
    // has exactly the replace() semantics both engines use)
    var seqs = texts.map { case (d, t) =>
      d -> (" " + t.split(" ", -1).mkString("  ") + " ")
    }.toMap
    for (_ <- 1 to 6) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long].withDefaultValue(0L)
      seqs.values.foreach { s =>
        val w = s.trim.split("  ", -1)
        if (w.length >= 2) w.sliding(2).foreach(p => counts((p(0), p(1))) += 1)
      }
      if (counts.nonEmpty) {
        val ((l, r), _) = counts.toSeq.minBy { case ((l, r), n) => (-n, l, r) }
        seqs = seqs.view.mapValues(_.replace(s" $l  $r ", s" ${l}_$r ")).toMap
      }
    }
    val got = TextOps.x67BpeApply(spark, sf0001).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    texts.foreach { case (d, t) =>
      val nTok = t.split(" ", -1).length.toLong
      val nBpe = seqs(d).trim.split("  ", -1).length.toLong
      assert(got(d) == ((nTok, nBpe, nTok - nBpe)),
        s"doc $d: ${got(d)} vs replica ($nTok, $nBpe, ${nTok - nBpe})")
    }
    // the merge table x67 replays is the same artifact x62 serves
    assert(graft.ops.Stages.x62Merges(spark, sf0001).count() <= 6)
  }

  test("x63: split is a pure function of the cluster and no near-dup pair straddles splits") {
    val rows = PipelineOps.x63SplitAssign(spark, sf0001).collect()
    val split = rows.map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(rows.map(_.getString(2)).toSet.subsetOf(Set("train", "val", "test")))
    // one split per cluster (the leakage-safety mechanism)
    val byCluster = rows.groupBy(_.getLong(1)).view.mapValues(_.map(_.getString(2)).toSet)
    byCluster.foreach { case (c, ss) =>
      assert(ss.size == 1, s"cluster $c spans splits $ss")
    }
    // and the PROOF, not the mechanism: every x13 candidate pair stays
    // within one split
    TextOps.x13MinhashLsh(spark, sf0001).collect().foreach { r =>
      val (d1, d2) = (r.getLong(0), r.getLong(1))
      assert(split(d1) == split(d2), s"near-dup pair ($d1,$d2) leaks across splits")
    }
    // every document is assigned exactly once
    val nDocs = graft.model.Tables.documents(spark, sf0001).count()
    assert(rows.length.toLong == nDocs && split.size.toLong == nDocs)
  }

  test("x66: audit reconciles with x63's assignment and reports zero leakage") {
    val assign = PipelineOps.x63SplitAssign(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val audit = PipelineOps.x66SplitAudit(spark, sf0001).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(audit.keySet == assign.map(_._3).toSet, "audit rows = splits present")
    assign.groupBy(_._3).foreach { case (s, rows) =>
      assert(audit(s)._1 == rows.length.toLong, s"$s: n_docs mismatch")
      assert(audit(s)._2 == rows.map(_._2).distinct.length.toLong, s"$s: n_clusters mismatch")
    }
    // the load-bearing cell: leakage measured from the pair table is zero
    assert(audit.values.forall(_._4 == 0L), s"cross-split pairs must be 0: $audit")
    // floor'd per-1000 shares sum to 1000 - (#splits-1) .. 1000
    val shareSum = audit.values.map(_._3).sum
    assert(shareSum <= 1000 && shareSum >= 1000 - (audit.size - 1),
      s"token shares must partition the corpus: $shareSum")
  }

  test("x64: decile curve reconciles with brute-force first occurrences") {
    val docs = graft.model.Tables.documents(spark, sf0001)
      .select(col("source"), col("doc_id"), col("text")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    // brute force: first doc per (source, term), arithmetic decile
    val bySource = docs.groupBy(_._1)
    val brute = bySource.flatMap { case (src, rows) =>
      val mn = rows.map(_._2).min
      val span = rows.map(_._2).max - mn + 1
      val firstDoc = scala.collection.mutable.Map[String, Long]()
      rows.sortBy(_._2).foreach { case (_, d, t) =>
        t.split(" ", -1).distinct.foreach(w =>
          if (!firstDoc.contains(w)) firstDoc(w) = d)
      }
      firstDoc.values.groupBy(fd => 1L + (fd - mn) * 10L / span)
        .map { case (dec, fds) => (src, dec) -> fds.size.toLong }
    }
    val got = TextOps.x64VocabGrowth(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    assert(got.size == bySource.size * 10, "densified grid: 10 rows per source")
    got.foreach { case ((src, dec), (nt, _)) =>
      assert(nt == brute.getOrElse((src, dec), 0L),
        s"($src, decile $dec): new_terms $nt != brute ${brute.getOrElse((src, dec), 0L)}")
    }
    // cum at decile 10 == the source's full distinct-term count
    bySource.foreach { case (src, rows) =>
      val vocab = rows.flatMap(_._3.split(" ", -1)).distinct.length.toLong
      assert(got((src, 10L))._2 == vocab, s"$src: cum_terms(10) != |vocab| $vocab")
    }
  }

  test("x65: two-level prefix sum equals the naive global greedy selection") {
    val scores = Stages.x9Scores(spark, sf0001)
      .select(col("doc_id"), col("quality"), col("n_tok")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val budget = scores.map(_._3).sum / 2
    // brute force: one sequential pass in greedy (quality desc, doc_id) order
    var cum = 0L
    val expect = scores.sortBy { case (d, q, _) => (-q, d) }.flatMap { case (d, q, t) =>
      cum += t
      if (cum <= budget) Some(d -> (q, t, cum)) else None
    }.toMap
    val got = PipelineOps.x65BudgetSelect(spark, sf0001).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got == expect,
      s"selection mismatch: missing=${expect.keySet -- got.keySet} extra=${got.keySet -- expect.keySet}")
    assert(got.values.forall(_._3 <= budget))
  }

  test("x23: pigeonhole banding is EXACT — blocked pairs equal brute force at radius 3") {
    val fps = PipelineOps.x23Fingerprints(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val brute = (for {
      (d1, s1) <- fps; (d2, s2) <- fps if d1 < d2
      h = java.lang.Long.bitCount(s1 ^ s2) if h <= 3
    } yield (d1, d2, h.toLong)).toSet
    val blocked = PipelineOps.x23SimhashNeardup(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(blocked == brute,
      s"4-slice blocking must lose nothing at Hamming ≤ 3: missing=${brute -- blocked} extra=${blocked -- brute}")
  }

  test("x11b: window-hash geometry matches token counts") {
    val nTok = graft.model.Tables.documents(spark, sf0001)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    TextOps.x11bRollingFp(spark, sf0001).collect().foreach { r =>
      val (doc, nWin, nDistinct) = (r.getLong(0), r.getLong(2), r.getLong(3))
      assert(nWin == math.max(0L, nTok(doc) - 7L),
        s"doc $doc: expected ${nTok(doc)} - 7 windows, got $nWin")
      assert(nDistinct <= nWin && (nWin == 0L || nDistinct > 0L))
    }
  }

  test("x25: segment geometry tiles every document and the bp share is bounded") {
    val nTok = graft.model.Tables.documents(spark, sf0001)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rows = PipelineOps.x25Boilerplate(spark, sf0001).collect()
    assert(rows.map(_.getLong(0)).toSet == nTok.keySet, "every document must be scored")
    rows.foreach { r =>
      val (doc, nSegs, nBp, per1000) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      assert(nSegs == (nTok(doc) - 1) / 3 + 1, s"doc $doc: segment count off for ${nTok(doc)} tokens")
      assert(nBp >= 0 && nBp <= nSegs)
      assert(per1000 == math.floorDiv(1000L * nBp, nSegs))
    }
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("x26: winnowing pairs match a brute-force Scala winnow of the same corpus") {
    val docs = graft.model.Tables.documents(spark, sf0001)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val fpsByDoc = docs.map { case (d, text) =>
      val w = text.split(" ")
      val sh = if (w.length >= 3) w.sliding(3).map(g => md5hex(g.mkString(" "))).toVector
               else Vector.empty[String]
      val sel = if (sh.length >= 4) sh.sliding(4).map(win => win(win.indexOf(win.min))).toVector.distinct
                else Vector.empty[String]
      d -> sel
    }.toMap
    val df = fpsByDoc.values.flatten.groupBy(identity).map { case (fp, occ) => fp -> occ.size }
    val kept = fpsByDoc.map { case (d, fps) => d -> fps.filter(df(_) <= 50).toSet }
    val ids = kept.keys.toSeq.sorted
    val brute = (for {
      i <- ids.indices; j <- (i + 1) until ids.length
      n = (kept(ids(i)) & kept(ids(j))).size if n >= 3
    } yield (ids(i), ids(j), n.toLong)).toSet
    val got = PipelineOps.x26Winnowing(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == brute, s"missing=${brute -- got} extra=${got -- brute}")
  }

  test("x27: keep/drop verdicts match a brute-force within-cluster scan over the learned assignment") {
    val embs = graft.model.Tables.embeddings(spark, sf0001)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .sortBy(_._1)
    def cosS4(a: Array[Double], b: Array[Double]): Long = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      val (na, nb) = (math.sqrt(a.map(x => x * x).sum), math.sqrt(b.map(x => x * x).sum))
      math.round(dot / (na * nb) * 10000)
    }
    // cluster key = x16's learned k-means assignment (its own derivation
    // is oracle-checked by the x16/x27 CORRECTNESS rows; this test pins
    // the within-cluster drop logic against a driver-side brute force)
    val cluster = VectorOps.x16Assignment(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rows = VectorOps.x27SemanticDedup(spark, sf0001).collect()
    assert(rows.length == embs.length)
    rows.foreach { r =>
      val (id, cid, keptFlag) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(cid == cluster(id), s"vec $id: cluster id mismatch")
      val v = embs.find(_._1 == id).get._2
      val hasDupe = embs.exists { case (id2, v2) =>
        id2 < id && cluster(id2) == cid && cosS4(v, v2) >= 3000L
      }
      assert(keptFlag == (if (hasDupe) 0L else 1L),
        s"vec $id: kept=$keptFlag but brute-force hasDupe=$hasDupe")
    }
    assert(rows.exists(_.getLong(2) == 0L) || embs.length < 2,
      "corpus should surface at least one semantic drop (threshold sanity)")
  }

  test("x28: surprisal matches a brute-force unigram LM over the same corpus") {
    val docs = graft.model.Tables.documents(spark, sf0001)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").toSeq)
    val counts = docs.flatMap(_._2).groupBy(identity).map { case (t, o) => t -> o.size.toLong }
    val nTotal = docs.map(_._2.size).sum.toLong
    def bits(c: Long): Long = 63 - java.lang.Long.numberOfLeadingZeros(c)
    PipelineOps.x28Surprisal(spark, sf0001).collect().foreach { r =>
      val (id, nTok, sumBits, mean) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      val w = docs.find(_._1 == id).get._2
      assert(nTok == w.size)
      val expSum = w.map(t => bits(nTotal) - bits(counts(t))).sum
      assert(sumBits == expSum, s"doc $id: sum_bits $sumBits != $expSum")
      assert(mean == math.floorDiv(100L * expSum, nTok))
    }
  }

  test("x40: bigram LM scores match a brute-force stupid-backoff model; keep is the lower-median cut") {
    val docs = graft.model.Tables.documents(spark, sf0001)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").toSeq)
    val ref = docs.filter(_._1 % 2 == 0)
    val uni = ref.flatMap(_._2).groupBy(identity).map { case (t, o) => t -> o.size.toLong }
    val big = ref.flatMap(_._2.sliding(2).filter(_.size == 2).map(p => (p(0), p(1))))
      .groupBy(identity).map { case (p, o) => p -> o.size.toLong }
    val nTotal = ref.map(_._2.size).sum.toLong
    def b(c: Long): Long = 63 - java.lang.Long.numberOfLeadingZeros(c)
    val expected = docs.filter(_._1 % 2 == 1).map { case (id, w) =>
      val first = uni.get(w.head).map(c => b(nTotal) - b(c)).getOrElse(b(nTotal))
      val rest = w.sliding(2).filter(_.size == 2).map { p =>
        big.get((p(0), p(1))) match {
          case Some(cut) => b(uni(p(0))) - b(cut)
          case None => uni.get(p(1)) match {
            case Some(ct) => 1 + b(nTotal) - b(ct)
            case None => 1 + b(nTotal)
          }
        }
      }.sum
      id -> (w.size.toLong, first + rest)
    }.toMap
    val means = expected.values.map { case (n, s) => math.floorDiv(100L * s, n) }.toSeq.sorted
    val cut = means(math.max(0, (means.size + 1) / 2 - 1))
    val rows = PipelineOps.x40BigramLm(spark, sf0001).collect()
    assert(rows.length == expected.size)
    rows.foreach { r =>
      val (id, nTok, sumBits, mean, keep) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(5), r.getLong(6))
      val (en, es) = expected(id)
      assert(nTok == en && sumBits == es, s"doc $id: ($nTok,$sumBits) != ($en,$es)")
      assert(mean == math.floorDiv(100L * es, en))
      assert(keep == (if (mean <= cut) 1L else 0L), s"doc $id: keep vs cut $cut")
    }
    // the relative cut actually splits the corpus (both classes non-empty)
    assert(rows.count(_.getLong(6) == 1L) > 0 && rows.count(_.getLong(6) == 0L) > 0)
  }

  test("x29: contamination verdicts match brute-force 4-gram overlap; bench join is broadcast") {
    val docs = graft.model.Tables.documents(spark, sf0001)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").toSeq)
    def grams(w: Seq[String]): Set[String] =
      if (w.size >= 4) w.sliding(4).map(g => md5hex(g.mkString(" "))).toSet else Set.empty
    val bench = docs.filter(_._1 % 100 == 0).flatMap(g => grams(g._2)).toSet
    val rows = PipelineOps.x29Decontam(spark, sf0001).collect()
    assert(rows.map(_.getLong(0)).toSet == docs.filter(_._1 % 100 != 0).map(_._1).toSet)
    rows.foreach { r =>
      val (id, nGrams, nHit, flag) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      val gs = grams(docs.find(_._1 == id).get._2)
      assert(nGrams == gs.size)
      assert(nHit == (gs & bench).size, s"doc $id: n_hit $nHit != ${(gs & bench).size}")
      assert(flag == (if (nHit > 0) 1L else 0L))
    }
    val plan = PipelineOps.x29Decontam(spark, sf0001).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"bench gram join must broadcast:\n$plan")
  }

  private def h16(docId: Long): Long =
    java.lang.Long.parseLong(md5hex(docId.toString).substring(0, 4), 16)

  test("x30: mixture rates downsample every language to the smallest, deterministically") {
    val docs = graft.model.Tables.documents(spark, sf0001)
      .select("doc_id", "lang").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val counts = docs.groupBy(_._2).map { case (l, d) => l -> d.size.toLong }
    val minC = counts.values.min
    val rows = PipelineOps.x30Mixture(spark, sf0001).collect()
    assert(rows.map(_.getString(0)).toSet == counts.keySet)
    rows.foreach { r =>
      val (lang, nDocs, rate16, nKept) = (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))
      assert(nDocs == counts(lang))
      assert(rate16 == math.floorDiv(65536L * minC, nDocs))
      val expKept = docs.count { case (id, l) => l == lang && h16(id) < rate16 }
      assert(nKept == expKept, s"lang $lang: n_kept $nKept != $expKept")
    }
    // the smallest language keeps everything (rate16 = 65536 > any h16)
    val smallest = rows.find(_.getLong(1) == minC).get
    assert(smallest.getLong(3) == minC)
  }

  test("x31: packing offsets are per-writer prefix sums; shards tile the token stream") {
    val docs = graft.model.Tables.documents(spark, sf0001)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rows = PipelineOps.x31Packing(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.map(_._1).toSet == docs.keySet)
    val byWriter = rows.groupBy(_._2)
    assert(byWriter.keySet.subsetOf((0L until 8L).toSet))
    byWriter.foreach { case (writer, ds) =>
      var cum = 0L
      ds.sortBy(_._1).foreach { case (id, _, nTok, shardId, shardOff) =>
        assert(writer == h16(id) % 8, s"doc $id: wrong writer")
        assert(nTok == docs(id))
        assert(shardId == math.floorDiv(cum, 512L), s"doc $id: shard_id")
        assert(shardOff == math.floorMod(cum, 512L), s"doc $id: shard_off")
        cum += nTok
      }
    }
  }

  test("x39: shuffle order is the exact md5-rank permutation; seeds reshuffle") {
    val got = PipelineOps.x39ShuffleOrder(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // brute-force twin: global sort by the same shared hash
    val want = graft.model.Tables.documents(spark, sf0001)
      .select(col("doc_id"), md5(concat(col("doc_id").cast("string"), lit(":0"))).as("h"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
      .sortBy { case (id, h) => (h, id) }
      .zipWithIndex.map { case ((id, _), i) => id -> i.toLong }.toMap
    assert(got == want, "distributed rank must equal the brute-force global sort rank")
    assert(got.values.toSeq.sorted == (0L until got.size).toSeq, "pos must be a permutation")
    // the epoch feature: a different seed is a genuinely different order
    val seeded = PipelineOps.x39ShuffleOrderSeeded(spark, sf0001, 1L).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(seeded.keySet == got.keySet)
    assert(seeded != got, "seed 1 must not reproduce seed 0's order")
  }

  test("x39: the ranked slice is computed once (both consumers share one checkpointed RDD)") {
    val df = PipelineOps.x39ShuffleOrderSeeded(spark, sf0001, 2L)
    // the ranked slice appears twice in the plan (offset aggregate +
    // final join) — single-pass holds iff both scans are the SAME lazily
    // checkpointed RDD, so the first consumer materializes blocks and
    // the second reads them back instead of re-running the range
    // shuffle + counter
    val rdds = df.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }
    assert(rdds.size == 2, s"expected the ranked slice twice in the plan, got ${rdds.size}")
    assert(rdds(0) eq rdds(1), "consumers must share one RDD or the counter runs twice")
    assert(rdds(0).getStorageLevel != org.apache.spark.storage.StorageLevel.NONE,
      "ranked slice must be persist-marked (lazy localCheckpoint)")
    // and it still computes the right answer through the checkpoint
    assert(df.count() == graft.model.Tables.documents(spark, sf0001).count())
  }

  test("x32: repetition scores match brute-force 2-gram and token counts") {
    val docs = graft.model.Tables.documents(spark, sf0001)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").toSeq)
    PipelineOps.x32Repetition(spark, sf0001).collect().foreach { r =>
      val (id, nTok, dup2, topTok) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      val w = docs.find(_._1 == id).get._2
      assert(nTok == w.size)
      val g2 = w.sliding(2).map(_.mkString(" ")).toSeq
      assert(dup2 == math.floorDiv(1000L * (g2.size - g2.distinct.size), g2.size))
      val topCnt = w.groupBy(identity).values.map(_.size).max.toLong
      assert(topTok == math.floorDiv(1000L * topCnt, nTok))
    }
  }

  test("x33: confusion counts agree with direct pair-set comparison (sf0.01 has signal)") {
    val ex = TextOps.x2DedupNear(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ls = TextOps.x13MinhashLsh(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val r = PipelineOps.x33DedupEval(spark, sf001).collect()(0)
    assert(r.getLong(0) == (ex & ls).size, "n_both")
    assert(r.getLong(1) == (ex -- ls).size, "n_exact_only")
    assert(r.getLong(2) == (ls -- ex).size, "n_lsh_only")
    assert(ex.nonEmpty, "sf0.01 must have exact near-dup pairs for the eval to be meaningful")
    assert(r.getLong(3) == math.floorDiv(1000L * (ex & ls).size, math.max(ex.size, 1)))
    assert(r.getLong(4) == math.floorDiv(1000L * (ex & ls).size, math.max(ls.size, 1)))
  }

  test("x34: source rollup agrees with x9 scores grouped by hand") {
    val src = graft.model.Tables.documents(spark, sf0001)
      .select("doc_id", "source", "lang").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    val q = TextOps.x9Quality(spark, sf0001).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(5))).toMap // n_tok, quality
    val bySrc = src.groupBy(_._2._1)
    PipelineOps.x34SourceReport(spark, sf0001).collect().foreach { r =>
      val s = r.getString(0)
      val ids = bySrc(s).keys.toSeq
      assert(r.getLong(1) == ids.size)
      assert(r.getLong(2) == ids.map(src(_)._2).toSet.size)
      assert(r.getLong(3) == ids.map(q(_)._1).sum)
      assert(r.getLong(4) == math.floorDiv(100L * ids.map(q(_)._2).sum, ids.size))
      assert(r.getLong(5) == math.floorDiv(1000L * ids.size, src.size))
    }
  }

  test("x35: keeper is the max-quality member (ties to min id); members partition the corpus") {
    val labels = PipelineOps.x24DedupClusters(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val quality = TextOps.x9Quality(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(5)).toMap
    val byCluster = labels.groupBy(_._2)
    val rows = PipelineOps.x35CanonicalPick(spark, sf0001).collect()
    assert(rows.map(_.getLong(0)).toSet == byCluster.keySet, "one row per cluster")
    assert(rows.map(_.getLong(1)).sum == labels.length, "members partition the corpus")
    rows.foreach { r =>
      val (cid, n, keepId, keepQ) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      val members = byCluster(cid).map(_._1)
      assert(n == members.size)
      val best = members.map(d => (-quality(d), d)).min._2
      assert(keepId == best, s"cluster $cid: keeper $keepId != $best")
      assert(keepQ == quality(keepId))
    }
  }

  test("x36: novelty vs index matches brute-force shingle membership") {
    val docs = graft.model.Tables.documents(spark, sf0001)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").toSeq)
    def keys(w: Seq[String]): Set[String] =
      if (w.size >= 3) w.sliding(3).map(g => md5hex(g.mkString(" "))).toSet else Set.empty
    val thr = math.floorDiv(9L * docs.map(_._1).max, 10L)
    val index = docs.filter(_._1 <= thr).flatMap(d => keys(d._2)).toSet
    val rows = PipelineOps.x36IncrementalDedup(spark, sf0001).collect()
    assert(rows.map(_.getLong(0)).toSet == docs.map(_._1).filter(_ > thr).toSet)
    rows.foreach { r =>
      val (id, nKeys, nHit, nov, flag) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      val ks = keys(docs.find(_._1 == id).get._2)
      assert(nKeys == ks.size)
      assert(nHit == (ks & index).size, s"doc $id: n_hit $nHit != ${(ks & index).size}")
      // zero-shingle docs are vacuously novel (no evidence of existing)
      assert(nov == (if (nKeys == 0) 1000L else math.floorDiv(1000L * (nKeys - nHit), nKeys)))
      assert(flag == (if (nov >= 500) 1L else 0L))
    }
  }

  test("edge corpus: text/pipeline ops survive 1-5-token documents with no nulls") {
    import spark.implicits._
    val dir = tempDir("graft_edge").toString
    Seq(
      (0L, "one", "en", "src0", 3L),
      (1L, "two words", "en", "src0", 9L),
      (2L, "three token doc", "de", "src1", 15L),
      (3L, "four token doc here", "de", "src1", 19L),
      (4L, "five token doc here now", "es", "src2", 23L),
      (100L, "five token doc here now", "es", "src2", 23L), // dup of 4, in the x36 'new' batch
      (101L, "hi", "en", "src0", 2L)) // gram-less AND in the 'new' batch
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val ops = Seq(
      "x25" -> PipelineOps.x25Boilerplate _,
      "x26" -> PipelineOps.x26Winnowing _,
      "x28" -> PipelineOps.x28Surprisal _,
      "x29" -> PipelineOps.x29Decontam _,
      "x32" -> PipelineOps.x32Repetition _,
      "x36" -> PipelineOps.x36IncrementalDedup _,
      "x43" -> TextOps.x43SubstringDedup _,
      "x44" -> PipelineOps.x44GroupSample _,
      "x45" -> TextOps.x45SourceOverlap _,
      "x49" -> TextOps.x49SetsimJoin _,
      "x62" -> ((s: org.apache.spark.sql.SparkSession, d: String) => TextOps.x62BpeTrain(s, d)),
      "x63" -> PipelineOps.x63SplitAssign _,
      "x68" -> PipelineOps.x68SplitStable _,
      "x69" -> PipelineOps.x69RouteAgreement _,
      "x70" -> PipelineOps.x70TempMixture _,
      "x64" -> TextOps.x64VocabGrowth _,
      "x65" -> PipelineOps.x65BudgetSelect _,
      "x66" -> PipelineOps.x66SplitAudit _,
      "x67" -> TextOps.x67BpeApply _)
    ops.foreach { case (name, fn) =>
      val rows = fn(spark, dir).collect() // must not throw on gram-less docs
      rows.foreach(r => (0 until r.length).foreach(i =>
        assert(!r.isNullAt(i), s"$name: null at column $i of $r")))
    }
    // doc 100 duplicates doc 4's shingles -> novelty 0; doc 101 is
    // gram-less AND new -> must hit the vacuously-novel branch
    val x36 = PipelineOps.x36IncrementalDedup(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(3), r.getLong(4))).toMap
    assert(x36(100L) == (0L, 0L), s"dup doc must score novelty 0: ${x36(100L)}")
    assert(x36(101L) == (1000L, 1L), s"gram-less new doc is vacuously novel: ${x36(101L)}")
    // x43: the 5-token dup pair shares its single 5-gram → both fully
    // covered; every shorter doc is gram-less → zero coverage
    val x43 = TextOps.x43SubstringDedup(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(3), r.getLong(4))).toMap
    Seq(4L, 100L).foreach(id =>
      assert(x43(id) == ((5L, 5L, 1000L)), s"doc $id: ${x43(id)}"))
    Seq(0L, 1L, 2L, 3L, 101L).foreach(id =>
      assert(x43(id)._2 == 0L, s"doc $id must have zero dup coverage: ${x43(id)}"))
    // x32 on a 1-token doc: no 2-grams, dup2 = 0, top share = 1000
    val x32 = PipelineOps.x32Repetition(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
    assert(x32(0L) == (0L, 1000L), s"1-token doc: ${x32(0L)}")
    // x45: the only shared gram is the doc-4/100 dup, but it lives
    // WITHIN src2 — cross-source the matrix must be empty (gram-less
    // and unshared sources contribute no pair rows, not zero rows)
    assert(TextOps.x45SourceOverlap(spark, dir).collect().isEmpty,
      "edge corpus has no CROSS-source shared gram; matrix must be empty")
    // x49: the 5-token dup pair shares all 3 shingles (J = 1); every
    // other doc pair shares ≤1 of 3 grams (J ≤ 1/5) or is gram-less
    val x49 = TextOps.x49SetsimJoin(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(5)).toMap
    assert(x49 == Map((4L, 100L) -> 10000L), s"edge x49: $x49")
    // x50: tiny docs never quarantine (dup doc_ids are absent here and
    // every n_chars is consistent) but all are short -> warn bit 0 on
    // every row, oversize/long bits never
    val x50 = Audit.x50Quarantine(spark, dir).collect()
    assert(x50.length == 7)
    assert(x50.forall(r => r.getLong(1) == 0L && r.getLong(3) == 0L),
      s"edge docs must not quarantine: ${x50.mkString(", ")}")
    assert(x50.forall(_.getLong(4) == 1L),
      s"every edge doc is short: ${x50.mkString(", ")}")
    // x67 on tiny docs: the replay can only merge (n_bpe <= n_tok), and
    // the 1-token/gram-less docs pass through unmerged
    val x67 = TextOps.x67BpeApply(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(x67(0L) == ((1L, 1L)) && x67(101L) == ((1L, 1L)),
      s"1-token docs must pass through unmerged: ${x67(0L)}, ${x67(101L)}")
    x67.values.foreach { case (nTok, nBpe) => assert(nBpe <= nTok && nBpe >= 1L) }
    // the doc-4/100 exact dup pair is an x13 candidate → one cluster →
    // one split; the audit proves zero cross-split pairs
    val x63 = PipelineOps.x63SplitAssign(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(x63(4L) == x63(100L), "the near-dup pair must share a split")
    assert(PipelineOps.x66SplitAudit(spark, dir).collect().forall(_.getLong(4) == 0L))
    // x68 on the edge corpus: thr = ⌊9·101/10⌋ = 90, so docs 100/101 are
    // arrivals — 100 joins held doc 4's singleton cluster (inherited),
    // gram-less 101 forms a new-only cluster (fresh); docs 0-4 are held
    val x68 = PipelineOps.x68SplitStable(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getString(2), r.getString(3))).toMap
    (0L to 4L).foreach(d => assert(x68(d)._2 == "held", s"doc $d: ${x68(d)}"))
    assert(x68(100L) == ((x68(4L)._1, "inherited")), s"dup arrival: ${x68(100L)}")
    assert(x68(101L)._2 == "fresh", s"gram-less arrival: ${x68(101L)}")
    // x69 on the edge corpus: the router agrees with the closure on both
    // arrivals — 100 has exactly doc 4 as band neighbor (inherited, same
    // split), gram-less 101 has no bands (fresh; both rules hash the same
    // id, 101 is its own full-cluster label) — two all-agree diagonal cells
    val x69 = PipelineOps.x69RouteAgreement(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3))).toMap
    assert(x69 == Map(("fresh", "fresh") -> ((1L, 1L)),
      ("inherited", "inherited") -> ((1L, 1L))), s"edge x69: $x69")
    // x70 on the edge corpus: 3 languages (en:3, de:2, es:2), all isqrt
    // weights 1, budget k = ⌊7/2⌋ = 3 ⇒ every target = ⌊3·1/3⌋ = 1 — each
    // language keeps exactly its hash-min doc (a member of the language)
    val x70 = PipelineOps.x70TempMixture(spark, dir).collect()
    val langDocs = Map("en" -> Set(0L, 1L, 101L), "de" -> Set(2L, 3L), "es" -> Set(4L, 100L))
    assert(x70.length == 3, s"edge x70: ${x70.mkString(", ")}")
    x70.foreach { r =>
      assert(r.getLong(2) == 1L && r.getLong(3) == 1L && r.getLong(4) == 1L,
        s"edge x70 row: $r")
      assert(langDocs(r.getString(0)).contains(r.getLong(5)),
        s"kept doc must belong to its language: $r")
    }
    // x64: densified grid = 10 rows per source; decile-10 cum == vocab
    val x64 = TextOps.x64VocabGrowth(spark, dir).collect()
    assert(x64.length == 30, s"3 sources x 10 deciles expected, got ${x64.length}")
    // x44: every cell has < k docs, so each emits its whole membership
    val x44 = PipelineOps.x44GroupSample(spark, dir).collect()
    assert(x44.length == 7 && x44.map(_.getLong(4)).toSet ==
      Set(0L, 1L, 2L, 3L, 4L, 100L, 101L),
      s"cells smaller than k must emit every doc: ${x44.mkString(", ")}")
  }

  test("x37: manifest rows reconcile exactly with the x31 layout") {
    val layout = PipelineOps.x31Packing(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val manifest = PipelineOps.x37ShardManifest(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val expected = layout.groupBy(d => (d._2, d._4)).map { case (k, ds) =>
      k -> (ds.size.toLong, ds.map(_._3).sum, ds.map(_._1).min)
    }
    assert(manifest == expected)
    assert(manifest.values.map(_._1).sum == layout.length, "every doc appears in exactly one manifest row")
  }

  test("plans: s7 enrichment join is broadcast; x18 chunking shuffles only for its sort") {
    val s7 = StreamingBatch.s7StreamEnrich(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(s7.contains("BroadcastHashJoin"), s"dim join must broadcast:\n$s7")
    val x18 = PipelineOps.x18Chunking(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!x18.contains("hashpartitioning"),
      s"chunking is a pure per-row map — only the final sort may exchange:\n$x18")
  }

  test("plans: x31 packing window is partitioned by writer (no global-order single partition)") {
    val plan = PipelineOps.x31Packing(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("hashpartitioning(writer"),
      s"prefix-sum window must shuffle on writer, not collapse to one partition:\n$plan")
    val windowSpan = plan.linesIterator.filter(_.contains("Window")).mkString("\n")
    assert(!windowSpan.contains("SinglePartition"),
      s"window must not run on SinglePartition:\n$plan")
  }

  test("plans: q21 six-table join broadcasts dims, pushes the year filter, all equi-joins") {
    val df = Relational.q21LocalSupplier(spark, sf0001)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"dim chain must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"same-nation predicate must stay a post-join filter, not a non-equi join:\n$plan")
    // the year filter must be IN the scan's PushedFilters, not a post-scan Filter
    val pushed = plan.linesIterator.filter(_.contains("PushedFilters")).mkString("\n")
    assert(pushed.contains("o_orderdate"),
      s"year filter must be pushed to the orders scan:\n$plan")
    assert(df.collect().nonEmpty, "sf0.001 must produce local-supplier revenue rows")
  }

  test("plans: q1 pushes filters and prunes columns at the parquet scan") {
    val plan = Relational.q1ScanFilter(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: ["), s"no pushed filters in:\n$plan")
    assert(plan.contains("l_quantity"), "filter column must reach the scan")
    assert(!plan.contains("l_tax"), "unused columns must be pruned from ReadSchema")
  }

  test("plans: q3 dimension joins are broadcast") {
    val plan = Relational.q3JoinBcast(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join:\n$plan")
  }

  test("plans: q6 top-k is TakeOrderedAndProject (no global sort)") {
    val plan = Relational.q6SortLimit(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"plan:\n$plan")
  }

  test("q28: sketches survive parquet round-trip — stored history + new increment union") {
    // the deployment shape behind the rollup: yesterday's daily sketches
    // live ON DISK as a binary column; today's increment is sketched from
    // raw and unioned with the stored history — never a rescan. The
    // estimate must be identical to sketching the whole corpus directly.
    val e = graft.model.Tables.events(spark, sf0001)
      .select(to_date(col("ts")).as("d"), col("user_id"))
    val cut = e.agg(max(col("d"))).collect()(0).getDate(0)
    val dir = tempDir("graft-sketch-store").toString
    try {
      e.filter(col("d") < lit(cut)).groupBy(col("d"))
        .agg(hll_sketch_agg(col("user_id")).as("sk"))
        .write.mode("overwrite").parquet(dir)
      val stored = spark.read.parquet(dir)
      val increment = e.filter(col("d") === lit(cut)).groupBy(col("d"))
        .agg(hll_sketch_agg(col("user_id")).as("sk"))
      val rolled = stored.unionByName(increment)
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"))))
        .collect()(0).getLong(0)
      val direct = e.agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"))))
        .collect()(0).getLong(0)
      assert(rolled == direct,
        s"stored-history rollup $rolled != direct whole-corpus sketch $direct")
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).getOrElse(Array.empty).foreach(rm); f.delete()
      }
      rm(new java.io.File(dir))
    }
  }

  test("q28c: theta intersection is exact in exact mode, under any grouping") {
    // the overlap operator's footing: while each sketch holds ≤ 2^lgK keys,
    // intersection estimates are exact — check against a brute-force
    // overlap on the real corpus, with sketches built per day and
    // unioned into weeks (exercising the partial-merge path)
    import graft.functions.ThetaSketchAgg
    val u = graft.model.Tables.events(spark, sf0001).select(
      date_trunc("week", col("ts")).cast("date").as("wkd"),
      to_date(col("ts")).as("d"), col("user_id"))
    val weeks = u.groupBy(col("wkd"))
      .agg(ThetaSketchAgg.thetaSketch(col("user_id")).as("sk"))
      .collect().map(r => r.getDate(0).toLocalDate -> r.getAs[Array[Byte]](1)).toMap
    val distinctPairs = u.select(col("wkd"), col("user_id")).distinct().collect()
      .groupBy(_.getDate(0).toLocalDate).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val adjacent = weeks.keys.filter(w => weeks.contains(w.plusDays(7)))
    assert(adjacent.nonEmpty)
    adjacent.foreach { w =>
      val est = ThetaSketchAgg.intersectEstimate(weeks(w), weeks(w.plusDays(7)))
      val exact = (distinctPairs(w) & distinctPairs(w.plusDays(7))).size
      assert(math.rint(est).toLong == exact.toLong,
        s"week $w: theta intersection $est != exact overlap $exact")
    }
  }

  test("q28c estimation mode: small-lgK overlap intervals cover the exact counts (the 100 TB path)") {
    // the operator shape past 2^lgK distinct users/week, where the
    // registered gate fails loudly by design: force estimation mode on
    // the REAL corpus by shrinking lgK to the library minimum (2^4 = 16
    // nominal entries ≪ the ~150 weekly distinct users at sf0.01 —
    // sf0.001's 15/week can't cross the line at any legal lgK), and check
    // the library-derived interval — whose width follows the
    // intersection's effective theta and retained count, i.e. the
    // union-size error analysis — against the exact overlap twin.
    // Statistics of the assert: each interval is 3 standard deviations
    // (per-pair miss ~0.3%), and the corpus is regenerated between
    // rounds, so the leg allows at most ONE miss across the adjacent
    // weeks (P[>=2 misses] ~ (0.003·n)²/2 — negligible) instead of
    // pinning every flag.
    val rows = graft.ops.Oracles.q28cOverlapBounds(spark, sf001, lgK = 4).collect()
    assert(rows.nonEmpty, "no adjacent-week pairs")
    assert(rows.forall(_.getLong(3) == 1L),
      "every weekly sketch must actually be in estimation mode at lgK=4 — " +
        "if this fires the corpus shrank below ~16 users/week and the leg tests nothing")
    val misses = rows.filterNot(_.getLong(4) == 1L)
    assert(misses.length <= 1,
      s"${misses.length} of ${rows.length} overlap intervals missed the exact count: " +
        misses.map(_.toString).mkString(", "))
  }

  test("q28: union of fine-grained HLL sketches ≡ one direct sketch (mergeability)") {
    // the property the rollup pattern rests on: build per-day sketches,
    // union them, and the estimate must equal a sketch built over the
    // whole window in one pass — HLL union is a register-wise max, so
    // the two paths land on the SAME registers, not merely close ones
    val e = graft.model.Tables.events(spark, sf0001)
      .select(to_date(col("ts")).as("d"), col("user_id"))
    val unioned = e.groupBy(col("d")).agg(hll_sketch_agg(col("user_id")).as("sk"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
      .collect()(0).getLong(0)
    val direct = e.agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"))).as("est"))
      .collect()(0).getLong(0)
    assert(unioned == direct, s"rollup estimate $unioned != direct $direct")
    val exact = e.agg(countDistinct(col("user_id"))).collect()(0).getLong(0)
    assert(math.abs(unioned - exact).toDouble <= math.max(3 * 0.0163 * exact, 1.0),
      s"estimate $unioned outside 3·rse of exact $exact")
  }

  test("q29: stored KLL sketches survive parquet + merge within the rank bound") {
    // the quantile-warehouse deployment shape: daily sketches live ON
    // DISK as a binary column; the all-time percentile merges the stored
    // bytes (kll_merge) and must answer within 2ε normalized rank of the
    // exact corpus quantile — byte/estimate EQUALITY is deliberately not
    // asserted (KLL compaction is randomized; rank-with-slack is the
    // only sound contract, same as the q29 gate)
    import graft.functions.KllSketchAgg
    val e = graft.model.Tables.events(spark, sf0001)
      .select(to_date(col("ts")).as("d"), graft.model.Tables.cents(col("value")).as("v"))
      .filter(col("v").isNotNull)
    val dir = tempDir("graft-kll-store").toString
    try {
      e.groupBy(col("d")).agg(KllSketchAgg.kllSketch(col("v")).as("sk"))
        .write.mode("overwrite").parquet(dir)
      val merged = spark.read.parquet(dir)
        .agg(KllSketchAgg.kllMerge(col("sk")).as("sk"))
        .collect()(0).getAs[Array[Byte]](0)
      val vals = e.select(col("v")).collect().map(_.getLong(0)).sorted
      assert(KllSketchAgg.streamLength(merged) == vals.length.toLong,
        "stored-sketch merge lost items")
      val eps = KllSketchAgg.epsilon()
      Seq(0.5, 0.9, 0.99).foreach { p =>
        // tie-aware (the q29 gate's condition): [count(<q), count(≤q)]/n
        // must intersect p ± 2ε
        val q = KllSketchAgg.quantile(merged, p)
        val (rLt, rLe) = (vals.count(_ < q).toDouble / vals.length,
          vals.count(_ <= q).toDouble / vals.length)
        assert(rLt <= p + 2 * eps && rLe >= p - 2 * eps,
          s"p=$p: merged-store quantile $q rank span [$rLt, $rLe] misses p±2eps")
      }
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).getOrElse(Array.empty).foreach(rm); f.delete()
      }
      rm(new java.io.File(dir))
    }
  }

  test("x41: diff statuses partition the union of both snapshot versions") {
    val rows = PipelineOps.x41DatasetDiff(spark, sf0001).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows.keySet == Set("added", "removed", "changed", "unchanged"),
      s"statuses: ${rows.keySet}")
    // the four classes partition |A ∪ B| exactly
    val d = graft.model.Tables.documents(spark, sf0001).select(col("doc_id"))
    val maxId = d.agg(max(col("doc_id"))).collect()(0).getLong(0)
    val thr = 9L * maxId / 10L
    val ids = d.collect().map(_.getLong(0))
    val union = ids.count(i => i <= thr || i % 19 != 0)
    assert(rows.values.sum == union.toLong,
      s"status counts ${rows.values.sum} != |A ∪ B| $union")
    // spot semantics: added = newest 10% minus source losses; removed =
    // old docs the recrawl lost
    assert(rows("added") == ids.count(i => i > thr && i % 19 != 0).toLong)
    assert(rows("removed") == ids.count(i => i <= thr && i % 19 == 0).toLong)
    assert(rows("changed") == ids.count(i => i <= thr && i % 19 != 0 && i % 17 == 3).toLong)
  }

  test("q31: dense per-user daily grid, LOCF carries the last observed total") {
    val rows = Windows.q31Gapfill(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    // dense: per user, the day span has no holes and matches the row count
    rows.groupBy(_._1).foreach { case (u, rs) =>
      val days = rs.map(_._2).sorted
      val lo = java.time.LocalDate.parse(days.head)
      val hi = java.time.LocalDate.parse(days.last)
      assert(java.time.temporal.ChronoUnit.DAYS.between(lo, hi) + 1 == rs.length,
        s"user $u grid has holes")
      // first grid day is observed by construction (span starts at min(d))
      assert(rs.sortBy(_._2).head._4 == 0L, s"user $u span starts on a gap")
    }
    // LOCF: a gap row carries exactly the previous day's filled value
    rows.groupBy(_._1).foreach { case (u, rs) =>
      rs.sortBy(_._2).sliding(2).foreach {
        case Array(prev, cur) if cur._4 == 1L =>
          assert(cur._3 == prev._3, s"user $u ${cur._2}: gap not carried forward")
        case _ =>
      }
    }
    // brute-force parity on the observed cells: filled_c on a non-gap day
    // is that day's exact cents sum
    val daily = graft.model.Tables.events(spark, sf0001)
      .filter(col("value").isNotNull)
      .groupBy(col("user_id"), date_trunc("day", col("ts")).cast("date").cast("string").as("d"))
      .agg(sum(graft.model.Tables.cents(col("value"))).as("c"))
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    rows.filter(_._4 == 0L).foreach { case (u, d, c, _) =>
      assert(daily((u, d)) == c, s"user $u $d observed cell mismatch")
    }
    // plan pin: LOCF via last() IGNORE NULLS is ONE Window node — the
    // two-window fill-group formulation lives only in the oracle
    val plan = Windows.q31Gapfill(spark, sf0001).queryExecution.executedPlan.toString
    assert("(?m)^\\s*(\\S+ )?Window ".r.findAllIn(plan).length == 1,
      s"expected exactly one Window node:\n$plan")
  }

  test("q32: a 3-sigma spike over the prior-week baseline flags, constants never do") {
    import spark.implicits._
    val dir = tempDir("graft_q32").toString
    def day(d: Int) = java.sql.Timestamp.valueOf(f"2024-01-$d%02d 12:00:00")
    val rows = scala.collection.mutable.ArrayBuffer[(Long, Long, java.sql.Timestamp, String, Double)]()
    var id = 0L
    (1 to 11).foreach { d =>
      val nClick = if (d == 11) 100 else 10 // flat baseline, then a 10x spike
      (0 until nClick).foreach { _ => rows += ((id, 1L, day(d), "click", 1.0)); id += 1 }
      (0 until 10).foreach { _ => rows += ((id, 2L, day(d), "view", 1.0)); id += 1 }
    }
    rows.toSeq.toDF("event_id", "user_id", "ts", "event_type", "value")
      .write.parquet(s"$dir/events.parquet")
    val got = Windows.q32Anomaly(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3), r.getLong(5))).toMap
    assert(got(("click", "2024-01-11")) == ((100L, 7L, 1L)), s"spike must flag: $got")
    got.filter { case (k, _) => k != (("click", "2024-01-11")) }.foreach { case (k, v) =>
      assert(v._3 == 0L, s"$k must not flag: $v")
    }
    // the min-baseline guard: day 2 has m = 1 prior observation
    assert(got(("click", "2024-01-02"))._2 == 1L)
  }

  test("q32: flags match an exact BigInt reference over the driver corpus") {
    val got = Windows.q32Anomaly(spark, sf001).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(got.nonEmpty)
    val daily = graft.model.Tables.events(spark, sf001)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).cast("date").cast("string").as("d"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val want = daily.groupBy(_._1).toSeq.flatMap { case (t, ds) =>
      val sorted = ds.sortBy(_._2)
      sorted.zipWithIndex.map { case ((_, d, n), i) =>
        val prior = sorted.slice(math.max(0, i - 7), i).map(_._3)
        val m = BigInt(prior.length)
        val s = BigInt(prior.sum)
        val q = prior.map(x => BigInt(x) * BigInt(x)).sum
        val dev = m * n - s
        val flag = m >= Windows.q32MinBaseline && dev * dev > 9 * (m * q - s * s)
        (t, d) -> ((n, prior.length.toLong, prior.sum, if (flag) 1L else 0L))
      }
    }.toMap
    got.foreach { case (k, v) => assert(want(k) == v, s"$k: got $v want ${want(k)}") }
    assert(got.length == want.size)
  }

  test("q33: OHLC bars follow the (ts, event_id) total order and aggregate exactly") {
    import spark.implicits._
    val dir = tempDir("graft_q33").toString
    val t0 = 1704067200000L // 2024-01-01 00:00 UTC, exactly bar-aligned
    def ts(ms: Long) = new java.sql.Timestamp(ms)
    Seq(
      (5L, 1L, ts(t0 + 100), "click", 3.0),
      (2L, 1L, ts(t0 + 100), "click", 1.0),   // ts tie: event_id 2 < 5 -> open
      (9L, 1L, ts(t0 + 5000), "click", 7.5),  // last -> close (and high)
      (1L, 1L, ts(t0 + 3000), "click", -2.0), // low
      (11L, 1L, ts(t0 + Windows.q33BarMs + 1), "click", 4.0), // next bar
      (12L, 2L, ts(t0 + 50), "view", 5.0))    // other series
      .toDF("event_id", "user_id", "ts", "event_type", "value")
      .write.parquet(s"$dir/events.parquet")
    val got = Windows.q33Resample(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
    assert(got.toSeq == Seq(
      ("click", t0, 100L, 750L, -200L, 750L, 4L, 950L),
      ("click", t0 + Windows.q33BarMs, 400L, 400L, 400L, 400L, 1L, 400L),
      ("view", t0, 500L, 500L, 500L, 500L, 1L, 500L)), got.mkString(", "))
  }

  test("q33: bars match a brute-force reference; windows and agg share one hash exchange") {
    val df = Windows.q33Resample(spark, sf001)
    val got = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
    val base = graft.model.Tables.events(spark, sf001)
      .filter(col("value").isNotNull)
      .select(col("event_type"), unix_millis(col("ts")).as("ms"), col("event_id"),
        graft.model.Tables.cents(col("value")).as("v"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val want = base.groupBy(e => (e._1, e._2 / Windows.q33BarMs)).toSeq
      .map { case ((t, bkt), es) =>
        val sorted = es.sortBy(e => (e._2, e._3))
        (t, bkt * Windows.q33BarMs, sorted.head._4, es.map(_._4).max,
          es.map(_._4).min, sorted.last._4, es.length.toLong, es.map(_._4).sum)
      }.sortBy(x => (x._1, x._2))
    assert(got.toSeq == want, s"first diff: ${got.zip(want).find(t => t._1 != t._2)}")
    assert(want.exists(_._7 > 1), "corpus must have multi-event bars or open/close is vacuous")
    // plan pin: both row_number orderings AND the OHLC aggregate ride ONE
    // (type, bar) hash exchange; the only other shuffle is the output sort
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    val root = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    def countHash(p: SparkPlan): Int = p match {
      case q: QueryStageExec => countHash(q.plan)
      case s: ShuffleExchangeLike =>
        (if (s.outputPartitioning.isInstanceOf[HashPartitioning]) 1 else 0) +
          s.children.map(countHash).sum
      case other => other.children.map(countHash).sum
    }
    assert(countHash(root) == 1, s"expected one hash exchange:\n$root")
  }

  test("x42: grouped top-k equals the window-rank brute force, and partials combine map-side") {
    val got = PipelineOps.x42GroupedTopk(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    val docs = graft.model.Tables.documents(spark, sf0001)
      .select(col("lang"), col("source"), col("doc_id"), col("n_chars")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val want = docs.groupBy(d => (d._1, d._2)).toSeq.flatMap { case ((l, s), ds) =>
      ds.sortBy(d => (-d._4, d._3)).take(5).zipWithIndex.map { case (d, i) =>
        (l, s, ds.length.toLong, i + 1L, d._3, d._4)
      }
    }.sortBy(t => (t._1, t._2, t._4))
    assert(got.toSeq == want, "top-k selection diverged from the window-rank order")
    // the scale claim: the aggregate runs as a partial (map-side combine)
    // object-hash aggregate — never a window sort over whole groups
    val plan = PipelineOps.x42GroupedTopk(spark, sf0001).queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), s"expected ObjectHashAggregate:\n$plan")
    assert(plan.contains("partial_topk_by"), s"expected a partial topk_by pass:\n$plan")
    assert(!plan.contains("Window"), s"no window sort expected:\n$plan")
  }

  test("c9: compaction keeps tombstones, one row per key, reclaims backlog - keys rows") {
    val c9 = Changelog.c9Compact(spark, sf0001).collect()
    val keys = c9.map(_.getLong(0)).toSet
    assert(c9.length == keys.size, "compaction must emit exactly one row per entity")
    // the distinction from the c1 snapshot: keys whose LAST op is the
    // delete-analog survive compaction as tombstones but are absent from
    // the applied snapshot — and they are EXACTLY the difference
    val c1Keys = Changelog.c1Snapshot(spark, sf0001).collect().map(_.getLong(0)).toSet
    val tombstones = c9.filter(_.getString(2) == "error").map(_.getLong(0)).toSet
    assert(tombstones.nonEmpty,
      "corpus has no tombstoned key — the c1/c9 distinction would be untested")
    assert(keys -- c1Keys == tombstones,
      s"snapshot-absent keys ${keys -- c1Keys} != tombstoned keys $tombstones")
    // conservation: reclaimed rows + survivors == the full backlog
    val backlog = graft.model.Tables.events(spark, sf0001).count()
    assert(c9.map(_.getLong(4)).sum + keys.size == backlog)
    // plan pin: one map-side-combinable aggregate, no window/join
    val plan = Changelog.c9Compact(spark, sf0001).queryExecution.executedPlan.toString
    assert(plan.contains("partial_max") && plan.contains("partial_count"),
      s"expected map-side partial max/count:\n$plan")
    assert(!plan.contains("Window"), s"compaction must not plan a window:\n$plan")
  }

  test("x44: per-group sample equals brute-force bottom-k by md5 priority") {
    val k = 3
    val docs = graft.model.Tables.documents(spark, sf0001)
      .select(col("lang"), col("source"), col("doc_id")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    def h48(id: Long): Long =
      java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .take(6).foldLeft(0L)((a, b) => (a << 8) | (b & 0xffL))
    val want = docs.groupBy(t => (t._1, t._2)).toSeq.flatMap { case ((lang, src), ds) =>
      ds.map(d => (d._3, h48(d._3))).sortBy { case (id, h) => (h, id) }.take(k)
        .zipWithIndex.map { case ((id, h), i) =>
          (lang, src, ds.length.toLong, (i + 1).toLong, id, h)
        }
    }.sorted
    val got = PipelineOps.x44GroupSample(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got == want, s"first diff: ${got.zipAll(want, null, null).find(t => t._1 != t._2)}")
    // fixed SIZE per cell regardless of skew (the contrast with x20's
    // fixed-rate filter): every cell with >= k docs contributes exactly k
    val perCell = got.groupBy(t => (t._1, t._2))
    assert(perCell.forall { case (_, rows) => rows.length == math.min(k, rows.head._3) })
    // and the draw composes with the cell count in ONE aggregate pass —
    // no Sort, no Window (the x42 plan claim, inherited)
    val plan = PipelineOps.x44GroupSample(spark, sf0001).queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate") && !plan.contains("Window"),
      s"expected one sort-free aggregate pass:\n$plan")
  }

  test("x45: source-overlap matrix equals brute-force shared-gram counts, no gram self-join") {
    val k = 5
    val docs = graft.model.Tables.documents(spark, sf0001)
      .select(col("source"), col("text")).collect()
      .map(r => r.getString(0) -> r.getString(1).split(" ", -1).toSeq)
    val bySource = docs.groupBy(_._1).view.mapValues(_.flatMap { case (_, w) =>
      (0 to w.length - k).map(i => w.slice(i, i + k).mkString(" "))
    }.toSet).toMap
    val srcs = bySource.keys.toSeq.sorted
    val want = (for {
      a <- srcs; b <- srcs if a < b
      shared = (bySource(a) & bySource(b)).size if shared > 0
    } yield (a, b, shared.toLong, bySource(a).size.toLong, bySource(b).size.toLong,
      1000L * shared / math.min(bySource(a).size, bySource(b).size))).sorted
    val got = TextOps.x45SourceOverlap(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got == want, s"first diff: ${got.zipAll(want, null, null).find(t => t._1 != t._2)}")
    assert(got.nonEmpty, "corpus has no cross-source shared grams — matrix untested")
    // plan pin: the pair generation is the bounded source-set explode,
    // never a gram-keyed self-join (corpus² on hot stop-grams); the only
    // joins are the two broadcast total lookups
    val plan = TextOps.x45SourceOverlap(spark, sf0001).queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"expected broadcast-only joins:\n$plan")
    assert(plan.contains("collect_set"), s"expected the bounded source-set aggregate:\n$plan")
  }

  test("topk_by: k < 1 fails at analysis time, not as a task-time error") {
    graft.model.Tables.documents(spark, sf0001).createOrReplaceTempView("x42_kcheck")
    try {
      Seq(0, -3).foreach { k =>
        val e = intercept[org.apache.spark.sql.AnalysisException] {
          spark.sql(s"SELECT topk_by(n_chars, doc_id, $k) FROM x42_kcheck")
        }
        assert(e.getMessage.contains("k >= 1"), s"k=$k: ${e.getMessage}")
      }
    } finally spark.catalog.dropTempView("x42_kcheck")
  }

  test("x43: duplicated-span coverage equals the brute-force interval union") {
    val k = 5
    val docs = graft.model.Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1).toSeq)
    val gramDocs = scala.collection.mutable.HashMap.empty[String, scala.collection.mutable.Set[Long]]
    docs.foreach { case (id, w) =>
      (0 to w.length - k).foreach { i =>
        gramDocs.getOrElseUpdate(w.slice(i, i + k).mkString(" "), scala.collection.mutable.Set.empty) += id
      }
    }
    val want = docs.map { case (id, w) =>
      val ps = (0 to w.length - k).filter(i => gramDocs(w.slice(i, i + k).mkString(" ")).size >= 2)
      // brute-force union of the [p, p+k) intervals via a position set
      val coveredSet = ps.flatMap(p => p until p + k).toSet
      (id, w.length.toLong, ps.length.toLong, coveredSet.size.toLong,
        1000L * coveredSet.size / w.length)
    }.sortBy(_._1)
    val got = TextOps.x43SubstringDedup(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.toSeq == want.toSeq,
      s"first diff: ${got.zip(want).find(t => t._1 != t._2)}")
    // the corpus genuinely exercises partial spans, not just full-doc dups
    assert(got.exists(r => r._4 > 0 && r._4 < r._2), "no partial duplicated span in corpus")
    // plan pin: shared-gram detection is ONE map-side-combinable
    // min/max aggregate — exactly one exchange over the positional-gram
    // intermediate (countDistinct >= 2 would plan two: a (h, doc_id)
    // dedup pass, then the count), and the partials absorb hot
    // stop-grams in the combiner, never a reducer funnel
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val d = graft.model.Tables.documents(spark, sf0001)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
    val detection = TextOps.x43SharedGrams(TextOps.x43Grams(d, 5))
    detection.collect() // AQE resolves its stages only after execution
    val root = detection.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    def countExchanges(p: SparkPlan): Int = p match {
      case q: QueryStageExec => countExchanges(q.plan)
      case s: ShuffleExchangeLike => 1 + s.children.map(countExchanges).sum
      case other => other.children.map(countExchanges).sum
    }
    assert(countExchanges(root) == 1,
      s"expected exactly one exchange in shared-gram detection:\n$root")
    val detStr = root.toString
    assert(detStr.contains("partial_min") && detStr.contains("partial_max"),
      s"expected map-side partial min/max over gram hashes:\n$detStr")
  }

  test("q29: verdict frame shape — every (week, pct) row pinned in bound") {
    val rows = Analytics.q29KllRollup(spark, sf0001).collect()
    val weeks = rows.map(_.getString(0)).distinct
    assert(weeks.contains("total"), "missing all-time row")
    assert(rows.length == weeks.length * 3, "expected 3 pct rows per week")
    rows.foreach { r =>
      assert(r.getLong(3) == 1L,
        s"(${r.getString(0)}, p${r.getLong(1)}) fell out of the 2*eps rank bound")
    }
    // the per-week n column is the exact row count the oracle recomputes
    val n = graft.model.Tables.events(spark, sf0001)
      .filter(graft.model.Tables.cents(col("value")).isNotNull).count()
    assert(rows.filter(_.getString(0) == "total").forall(_.getLong(2) == n))
  }
}
