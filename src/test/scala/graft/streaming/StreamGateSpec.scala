package graft.streaming

import graft.SparkTestBase
import graft.ops.Stages

/** A local FS whose setTimes does not stick (every call pins the same
  * constant) — the degraded-store shape StreamGate's staging guard exists
  * to catch. Top-level with a no-arg constructor so Hadoop can reflect it
  * from `fs.file.impl`. */
class FrozenTimesFileSystem extends org.apache.hadoop.fs.LocalFileSystem {
  override def setTimes(p: org.apache.hadoop.fs.Path, mtime: Long, atime: Long): Unit =
    super.setTimes(p, 946684800000L, atime) // 2000-01-01, for every file
}

/** The stream-gate harnesses (StreamGate) feed the REAL streaming
  * transforms from the sf tables and dump the sink for the driver's
  * DuckDB compare — these tests pin the same equivalences locally. */
class StreamGateSpec extends SparkTestBase {

  test("s19 gate == batch per-shard prefix-sum admission") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val d = graft.model.Tables.documents(spark, sf0001)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tok"),
        (graft.ops.PipelineOps.h16(col("doc_id")) % 8L).as("shard"))
    val budget = d.agg(graft.model.Tables.fdiv(sum(col("n_tok")), lit(2L)))
      .collect()(0).getLong(0)
    val shardBudget = Math.floorDiv(budget, 8L)
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val batch = d.withColumn("cum_tok", sum(col("n_tok")).over(w))
      .select(col("doc_id"), col("shard"), col("n_tok"), col("cum_tok"),
        when(col("cum_tok") <= shardBudget, 1L).otherwise(0L).as("admitted"))
      .orderBy("doc_id").collect().map(_.toString).toSeq
    val got = StreamGate.s19BudgetAdmitStream(spark, sf0001).collect()
    assert(got.map(_.toString).toSeq == batch,
      "the gate's cross-batch running sums must equal the batch window prefix sum")
    // the budget rule actually bites: both admitted and rejected docs exist
    val admitted = got.count(_.getLong(4) == 1L)
    assert(admitted > 0 && admitted < got.length,
      s"degenerate admission split: $admitted of ${got.length}")
  }

  test("s20 gate == a driver-side BM25 reference over the frozen history index") {
    import org.apache.spark.sql.functions._
    val got = graft.streaming.StreamGate.s20RetrievalStream(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // reference: everything recomputed driver-side from the raw table —
    // independent of every Spark expression the gate uses
    val docs = graft.model.Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1).toSeq).sortBy(_._1)
    val thr = 9L * docs.map(_._1).max / 10L
    val hist = docs.filter(_._1 <= thr)
    val n = hist.size.toLong
    val t = hist.map(_._2.size.toLong).sum
    val qt = hist.filter(_._1 < 5).flatMap { case (q, w) => w.take(3).distinct.map(q -> _) }
    val dfm = qt.map(_._2).distinct
      .map(tm => tm -> hist.count(_._2.contains(tm)).toLong).toMap
    val expect = (for {
      (dId, w) <- docs if dId > thr
      dnorm = 2500L + 7500L * n * w.size / t
      (q, tm) <- qt
      tf = w.count(_ == tm).toLong
    } yield ((dId, q),
        (2L * (n - dfm(tm)) + 1L) *
          (2200000000L * tf / (100000L * tf + 12L * dnorm)) / (2L * dfm(tm) + 1L)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).filter(_._2 > 0L).toMap
    assert(got == expect,
      s"missing=${expect.keySet -- got.keySet} extra=${got.keySet -- expect.keySet}")
  }

  test("s20 serves PERSISTED retrieval stats: round trip, doctored consumption, loud missing path") {
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("graft_s20_").toString
    val path = s"$tmp/stats"
    graft.streaming.StreamGate.persistRetrievalStats(spark, sf0001, path)
    val baseline = graft.streaming.StreamGate.s20RetrievalStream(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // round trip: a fresh session scoring against the stored index
    // emits exactly the derive-path rows
    val fresh = spark.newSession()
    fresh.conf.set("spark.graft.retrievalStatsPath", path)
    try {
      val stored = graft.streaming.StreamGate.s20RetrievalStream(fresh, sf0001).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(stored == baseline, "stored-stats gate diverged from the derive-path gate")
      // doctored consumption: inflate one term's df to the corpus size —
      // its idf odds collapse toward 1, so every (doc, query) score that
      // term contributes to must DROP if the store is really consumed
      val rows = spark.read.parquet(path)
      val victim = rows.orderBy(col("term")).collect()(0)
      val (vq, vt) = (victim.getAs[Long]("q_id"), victim.getAs[String]("term"))
      val doctoredPath = s"$tmp/doctored"
      graft.ops.Artifacts.writeStamped(spark,
        rows.withColumn("df",
          when(col("term") === vt, col("n") - 1L).otherwise(col("df"))),
        doctoredPath, "s20_stats")
      fresh.conf.set("spark.graft.retrievalStatsPath", doctoredPath)
      val doctored = graft.streaming.StreamGate.s20RetrievalStream(fresh, sf0001).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      val affected = baseline.keys.filter(_._2 == vq)
      assert(affected.nonEmpty)
      assert(affected.exists(k => doctored.getOrElse(k, 0L) < baseline(k)),
        s"s20 re-derived instead of consuming the doctored stats for term '$vt'")
      // loud on missing
      fresh.conf.set("spark.graft.retrievalStatsPath", s"$tmp/does_not_exist")
      val e = intercept[IllegalArgumentException] {
        graft.streaming.StreamGate.s20RetrievalStream(fresh, sf0001).collect()
      }
      assert(e.getMessage.contains("_graft_meta"), e.getMessage)
    } finally fresh.conf.unset("spark.graft.retrievalStatsPath")
  }

  test("s18: per-row band signature equals the batch x13 band pipeline") {
    import org.apache.spark.sql.functions._
    val d = graft.model.Tables.documents(spark, sf0001).select(col("doc_id"), col("text"))
    val batch = graft.ops.TextOps.x13Bands(d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // per-row twin: band cols from the doc's own shingle array, exploded
    // to the same (doc_id, band, h) shape (shingle-less docs emit null
    // keys — excluded, as the batch pipeline's size>=3 filter excludes them)
    val perRow = d
      .select(col("doc_id") +: graft.ops.TextOps.rowBandCols(
        graft.ops.TextOps.shinglesOf(split(col("text"), " "))): _*)
      .select(col("doc_id"), explode(array((0 until 4).map(b =>
        struct(lit(b.toLong).as("band"), col(s"b$b").as("h"))): _*)).as("bh"))
      .select(col("doc_id"), col("bh.band"), col("bh.h"))
      .filter(col("h").isNotNull)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(perRow == batch, "the stateless arrival banding must equal the batch signature")
  }

  test("s18 gate == batch band-neighbor routing on the arrivals slice") {
    import org.apache.spark.sql.functions._
    val d = graft.model.Tables.documents(spark, sf0001).select(col("doc_id"), col("text"))
    val thr = d.agg(graft.model.Tables.fdiv(lit(9L) * max(col("doc_id")), lit(10L)))
      .collect()(0).getLong(0)
    // batch twin of the frozen index + the routing rule
    val wB = org.apache.spark.sql.expressions.Window.partitionBy(col("band"), col("h"))
    val sticky = graft.ops.Stages.x68Sticky(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val bit = Map("test" -> 1L, "val" -> 2L, "train" -> 4L)
    val idx = graft.ops.TextOps.x13Bands(d.filter(col("doc_id") <= thr))
      .withColumn("df", count(lit(1)).over(wB)).filter(col("df") <= 50)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2))))
      .groupBy(_._2)
      .map { case (bh, ds) => bh -> ds.map(x => bit(sticky(x._1))).reduce(_ | _) }
    val arrBands = graft.ops.TextOps.x13Bands(d.filter(col("doc_id") > thr))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2))))
      .groupBy(_._1).map { case (id, bs) => id -> bs.map(_._2).toSet }
    val arrivals = d.filter(col("doc_id") > thr).collect().map(_.getLong(0)).sorted
    val got = StreamGate.s18SplitRouteStream(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3)))
    assert(got.map(_._1).toSeq == arrivals.toSeq, "one routed row per arrival, in order")
    got.foreach { case (id, bits, split, origin) =>
      val want = arrBands.getOrElse(id, Set.empty)
        .flatMap(idx.get).foldLeft(0L)(_ | _)
      assert(bits == want, s"doc $id: bits $bits != batch $want")
      val (wantSplit, wantOrigin) = bits match {
        case 0L => (null, "fresh") // fresh split value is the hash rule — checked non-empty below
        case 1L => ("test", "inherited")
        case 2L => ("val", "inherited")
        case 4L => ("train", "inherited")
        case _  => ("quarantine", "quarantined")
      }
      if (wantSplit != null) assert(split == wantSplit, s"doc $id: $split != $wantSplit")
      else assert(Set("train", "val", "test")(split), s"doc $id fresh split: $split")
      assert(origin == wantOrigin, s"doc $id: $origin != $wantOrigin")
      // an inherited arrival's split agrees with EVERY held band-neighbor
      if (wantOrigin == "inherited")
        arrBands(id).flatMap(idx.get).foreach(b => assert(b == bits))
    }
  }

  test("s21 gate == batch label assignment; min matched label or own id") {
    import org.apache.spark.sql.functions._
    val d = graft.model.Tables.documents(spark, sf0001).select(col("doc_id"), col("text"))
    val thr = d.agg(graft.model.Tables.fdiv(lit(9L) * max(col("doc_id")), lit(10L)))
      .collect()(0).getLong(0)
    // the batch twin is the shared rule itself — the gate must equal it
    val want = graft.ops.PipelineOps.labelRouteDecisions(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .sortBy(_._1).toSeq
    val got = StreamGate.s21LabelRouteStream(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(got == want, "the gate must equal the batch band-neighbor assignment")
    val arrivals = d.filter(col("doc_id") > thr).collect().map(_.getLong(0)).sorted
    assert(got.map(_._1) == arrivals.toSeq, "one assigned row per arrival, in order")
    // a matched label names a HISTORY cluster (≤ thr — stored names only,
    // never another arrival: transitivity is x75's business); fresh = own id
    got.foreach { case (id, lab, origin) =>
      if (origin == "matched") assert(lab <= thr, s"doc $id matched non-history label $lab")
      else assert(lab == id, s"fresh doc $id must stand under its own id, got $lab")
    }
    // the gate found at least one real neighbor on this corpus
    assert(got.exists(_._3 == "matched"), "no arrival matched — the leg tests nothing")
  }

  test("s17 gate == batch frozen-merge encode on the arrivals slice") {
    import org.apache.spark.sql.functions._
    val d = graft.model.Tables.documents(spark, sf0001).select(col("doc_id"), col("text"))
    val thr = d.agg(graft.model.Tables.fdiv(lit(9L) * max(col("doc_id")), lit(10L)))
      .collect()(0).getLong(0)
    val merges = graft.ops.Stages.s17Merges(spark, sf0001)
      .orderBy("round").collect().map(r => (r.getString(1), r.getString(2)))
    assert(merges.nonEmpty && merges.length <= 6)
    // batch twin: the same frozen word-type replaces applied to the same
    // char-level-within-words rendering, without the stream
    val base = d.filter(col("doc_id") > thr)
      .select(col("doc_id"), graft.ops.TextOps.charSeqCol(col("text")).as("s"))
      .select(col("doc_id"),
        size(split(trim(col("s")), "  ")).cast("long").as("n_tok"), col("s"))
    val batch = merges.foldLeft(base) { case (df, (l, r)) =>
      df.withColumn("s", replace(col("s"), lit(s" $l  $r "), lit(s" ${l}_$r ")))
    }.select(col("doc_id"), col("n_tok"),
        size(split(trim(col("s")), "  ")).cast("long").as("n_bpe"))
      .select(col("doc_id"), col("n_tok"), col("n_bpe"),
        graft.model.Tables.fdiv(lit(1000L) * col("n_bpe"), col("n_tok")).as("bpe_per_1000"))
      .orderBy("doc_id").collect().map(_.toString).toSeq
    val got = StreamGate.s17BpeDriftStream(spark, sf0001).collect()
    assert(got.map(_.toString).toSeq == batch,
      s"gate rows ${got.length} vs batch ${batch.size}")
    // drift semantics: the replay can only merge, never split
    got.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1) && r.getLong(3) <= 1000L,
        s"doc ${r.getLong(0)}: n_bpe ${r.getLong(2)} > n_tok ${r.getLong(1)}")
    }
  }

  test("s9 gate == batch q16 as-of on the real event log") {
    val got = StreamGate.s9TemporalAsof(spark, sf0001).collect().map(_.toString).toSeq
    val want = graft.ops.Windows.q16Asof(spark, sf0001).collect().map(_.toString).toSeq
    assert(got == want, s"rows ${got.size} vs ${want.size}; " +
      s"first diff: ${got.zipAll(want, "<missing>", "<missing>").find(t => t._1 != t._2)}")
  }

  test("s10 gate == batch q27c grouped hitters, every flag guaranteed-covered") {
    val got = StreamGate.s10FreqStream(spark, sf0001).collect()
    val want = graft.ops.Analytics.q27cFreqGrouped(spark, sf0001).collect()
      .map(_.toString).toSeq
    assert(got.map(_.toString).toSeq == want,
      s"rows ${got.length} vs ${want.size}")
    assert(got.nonEmpty && got.forall(_.getLong(3) == 1L),
      "a group hitter above 2.5x the per-slot MG bound was absent from the streamed summary")
  }

  test("s16 gate: streamed index maintenance is exact parity with the stored IVFADC index") {
    val rows = StreamGate.s16PqStream(spark, sf0001).collect()
    assert(rows.nonEmpty, "no inverted lists")
    // exact parity: every list's streamed occupancy AND code checksum
    // equal the batch index rollup (flags computed against the stored
    // Stages.x57Index inside the gate)
    rows.foreach { r =>
      assert(r.getLong(3) == 1L, s"list ${r.getLong(0)}: occupancy diverged")
      assert(r.getLong(4) == 1L, s"list ${r.getLong(0)}: code words diverged")
    }
    // occupancies tile the corpus: every vector landed in exactly one list
    val total = graft.model.Tables.embeddings(spark, sf0001).count()
    assert(rows.map(_.getLong(1)).sum == total,
      s"list occupancies ${rows.map(_.getLong(1)).sum} do not tile the corpus $total")
  }

  test("s12 gate == batch c7 SCD2 build on the real event log") {
    val got = StreamGate.s12Scd2Stream(spark, sf0001).collect().map(_.toString).toSeq
    val want = graft.ops.Changelog.c7Scd2(spark, sf0001).collect().map(_.toString).toSeq
    assert(got == want, s"rows ${got.size} vs ${want.size}; " +
      s"first diff: ${got.zipAll(want, "<missing>", "<missing>").find(t => t._1 != t._2)}")
  }

  test("s12 restart: open versions survive a checkpointed restart and close correctly") {
    import java.nio.file.Files
    import org.apache.spark.sql.functions._
    val s = spark
    import s.implicits._
    val watch = Files.createTempDirectory("graft-s12drop")
    val ckpt = Files.createTempDirectory("graft-s12ckpt").toString
    val sink = Files.createTempDirectory("graft-s12sink").toString
    val log = graft.model.Tables.events(s, sf0001)
      .select(col("event_id").as("eventId"), unix_millis(col("ts")).as("tsMs"),
        col("user_id").as("userId"), col("event_type").as("op"), col("value"))
    val mid = log.agg(max(col("eventId"))).collect()(0).getLong(0) / 2
    def dropChunk(i: Int, chunk: org.apache.spark.sql.DataFrame): Unit = {
      val tmp = watch.resolve(s"stage$i")
      chunk.coalesce(1).write.parquet(tmp.toString)
      val part = tmp.toFile.listFiles().filter(_.getName.startsWith("part-")).head
      val dst = watch.resolve(s"w$i.parquet")
      Files.move(part.toPath, dst)
      dst.toFile.setLastModified(System.currentTimeMillis() - 3600000L + i * 60000L)
      graft.SparkTestBase.deleteRecursively(tmp.toFile)
    }
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    def runPass(): Unit = {
      val prev = s.conf.getOption(providerKey)
      s.conf.set(providerKey,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try {
        val src = s.readStream.schema(log.schema).option("maxFilesPerTrigger", 1)
          .parquet(watch.toString)
        val q = Streams.scd2Stream(src.as[Scd2Record])
          .writeStream.format("parquet").option("path", sink)
          .option("checkpointLocation", ckpt).outputMode("append").start()
        try q.processAllAvailable() finally q.stop()
      } finally prev match {
        case Some(v) => s.conf.set(providerKey, v)
        case None    => s.conf.unset(providerKey)
      }
    }
    dropChunk(0, log.filter(col("eventId") <= mid))
    runPass()
    assert(s.read.parquet(sink).count() > 0, "first half emitted no versions")
    dropChunk(1, log.filter(col("eventId") > mid))
    runPass()
    // a lost state store would leave first-half versions open forever
    // (their closer arrives in the restarted pass and must find the open
    // version IN STATE to close it); a rewound first half would emit
    // duplicate opens that the max(valid_to) collapse absorbs only if
    // valid_to matches — exact parity with batch c7 checks everything.
    val got = s.read.parquet(sink)
      .groupBy(col("userId").as("user_id"), col("validFromId").as("valid_from_id"))
      .agg(max(col("validToId")).as("valid_to_id"),
        max(col("validFromMs")).as("valid_from_ms"),
        max(col("op")).as("op"), max(col("value")).as("value"))
      .filter(col("op") =!= "error")
      .withColumn("is_current", when(col("valid_to_id") === -1L, 1L).otherwise(0L))
      .select(col("user_id"), col("valid_from_id"), col("valid_to_id"),
        col("valid_from_ms"), col("op"), col("value"), col("is_current"))
      .orderBy("user_id", "valid_from_id")
      .collect().map(_.toString).toSeq
    val want = graft.ops.Changelog.c7Scd2(s, sf0001).collect().map(_.toString).toSeq
    assert(got == want, s"rows ${got.size} vs ${want.size}; " +
      s"first diff: ${got.zipAll(want, "<missing>", "<missing>").find(t => t._1 != t._2)}")
  }

  test("s10 restart: MG state survives a checkpointed restart without rewind") {
    import java.nio.file.Files
    import org.apache.spark.sql.functions._
    val s = spark
    val watch = Files.createTempDirectory("graft-s10drop")
    val ckpt = Files.createTempDirectory("graft-s10ckpt").toString
    val sink = Files.createTempDirectory("graft-s10sink").toString
    val docs = graft.model.Tables.documents(s, sf0001)
      .select(col("doc_id"), col("lang"), col("text"))
    val mid = docs.agg(max(col("doc_id"))).collect()(0).getLong(0) / 2
    def dropChunk(i: Int, chunk: org.apache.spark.sql.DataFrame): Unit = {
      val tmp = watch.resolve(s"stage$i")
      chunk.coalesce(1).write.parquet(tmp.toString)
      val part = tmp.toFile.listFiles().filter(_.getName.startsWith("part-")).head
      val dst = watch.resolve(s"w$i.parquet")
      Files.move(part.toPath, dst)
      dst.toFile.setLastModified(System.currentTimeMillis() - 3600000L + i * 60000L)
      graft.SparkTestBase.deleteRecursively(tmp.toFile)
    }
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    def runPass(): Unit = {
      val prev = s.conf.getOption(providerKey)
      s.conf.set(providerKey,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try {
        val tokens = StreamGate.s10Tokens(
          s.readStream.schema(docs.schema).option("maxFilesPerTrigger", 1)
            .parquet(watch.toString))
        val q = Streams.freqStream(tokens, 5000)
          .writeStream.format("parquet").option("path", sink)
          .option("checkpointLocation", ckpt).outputMode("append").start()
        try q.processAllAvailable() finally q.stop()
      } finally prev match {
        case Some(v) => s.conf.set(providerKey, v)
        case None    => s.conf.unset(providerKey)
      }
    }
    dropChunk(0, docs.filter(col("doc_id") <= mid))
    runPass()
    assert(s.read.parquet(sink).count() > 0, "first half emitted no summaries")
    dropChunk(1, docs.filter(col("doc_id") > mid))
    runPass()
    // a rewound (recounted) first half would inflate summary counts past
    // the exact counts; a lost state would break the membership guarantee.
    // Parity with the batch q27c checks both at once.
    val got = StreamGate.s10Verdict(s, sf0001, s.read.parquet(sink))
      .collect().map(_.toString).toSeq
    val want = graft.ops.Analytics.q27cFreqGrouped(s, sf0001)
      .collect().map(_.toString).toSeq
    assert(got == want, s"rows ${got.size} vs ${want.size}; " +
      s"first diff: ${got.zipAll(want, "<missing>", "<missing>").find(t => t._1 != t._2)}")
  }

  test("s19 restart: budget registers survive a checkpointed restart without double-count") {
    import java.nio.file.Files
    import org.apache.spark.sql.functions._
    val s = spark
    import s.implicits._
    val watch = Files.createTempDirectory("graft-s19drop")
    val ckpt = Files.createTempDirectory("graft-s19ckpt").toString
    val sink = Files.createTempDirectory("graft-s19sink").toString
    val docs = graft.model.Tables.documents(s, sf0001).select(col("doc_id"), col("text"))
    val budget = docs.agg(graft.model.Tables.fdiv(
        sum(size(split(col("text"), " ")).cast("long")), lit(2L)))
      .collect()(0).getLong(0)
    val shardBudget = Math.floorDiv(budget, StreamGate.s19Shards)
    val mid = docs.agg(max(col("doc_id"))).collect()(0).getLong(0) / 2
    def dropChunk(i: Int, chunk: org.apache.spark.sql.DataFrame): Unit = {
      val tmp = watch.resolve(s"stage$i")
      chunk.coalesce(1).write.parquet(tmp.toString)
      val part = tmp.toFile.listFiles().filter(_.getName.startsWith("part-")).head
      val dst = watch.resolve(s"w$i.parquet")
      Files.move(part.toPath, dst)
      dst.toFile.setLastModified(System.currentTimeMillis() - 3600000L + i * 60000L)
      graft.SparkTestBase.deleteRecursively(tmp.toFile)
    }
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    def runPass(): Unit = {
      val prev = s.conf.getOption(providerKey)
      s.conf.set(providerKey,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try {
        val src = s.readStream.schema(docs.schema).option("maxFilesPerTrigger", 1)
          .parquet(watch.toString)
          .select(col("doc_id").as("docId"),
            (graft.ops.PipelineOps.h16(col("doc_id")) % StreamGate.s19Shards).as("shard"),
            size(split(col("text"), " ")).cast("long").as("nTok"))
          .as[BudgetDoc]
        val q = src.groupByKey(_.shard)
          .transformWithState(new BudgetAdmitProcessor(shardBudget),
            org.apache.spark.sql.streaming.TimeMode.None(),
            org.apache.spark.sql.streaming.OutputMode.Append())
          .writeStream.format("parquet").option("path", sink)
          .option("checkpointLocation", ckpt).outputMode("append").start()
        try q.processAllAvailable() finally q.stop()
      } finally prev match {
        case Some(v) => s.conf.set(providerKey, v)
        case None    => s.conf.unset(providerKey)
      }
    }
    dropChunk(0, docs.filter(col("doc_id") <= mid))
    runPass()
    assert(s.read.parquet(sink).count() > 0, "first half emitted no admissions")
    dropChunk(1, docs.filter(col("doc_id") > mid))
    runPass()
    // reference: the whole-corpus per-shard prefix sum in doc_id order —
    // a rewound register would RECOUNT the first half (cum inflated past
    // the reference), a lost register would reset to zero (cum too
    // small); exact equality rules out both at once. This also drives
    // the lastDoc ordering register through a checkpoint reload.
    val ref = docs
      .select(col("doc_id"),
        (graft.ops.PipelineOps.h16(col("doc_id")) % StreamGate.s19Shards).as("shard"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      .groupBy(_._2).flatMap { case (shard, ds) =>
        var cum = 0L
        ds.sortBy(_._1).map { case (d, _, n) =>
          cum += n
          d -> ((shard, n, cum, if (cum <= shardBudget) 1L else 0L))
        }
      }.toMap
    val got = s.read.parquet(sink).collect()
      .map(r => r.getAs[Long]("docId") ->
        ((r.getAs[Long]("shard"), r.getAs[Long]("nTok"),
          r.getAs[Long]("cumTok"), r.getAs[Long]("admitted")))).toMap
    assert(got.size == ref.size, s"row count ${got.size} vs ${ref.size}")
    ref.foreach { case (d, want) =>
      assert(got(d) == want, s"doc $d: got ${got(d)} want $want")
    }
  }

  test("s11 restart: HLL state survives a checkpointed restart (no loss past the bound)") {
    import java.nio.file.Files
    import org.apache.spark.sql.functions._
    val s = spark
    val watch = Files.createTempDirectory("graft-s11drop")
    val ckpt = Files.createTempDirectory("graft-s11ckpt").toString
    val e = graft.model.Tables.events(s, sf0001)
      .select(col("event_id"), col("ts"), col("user_id"))
    val mid = e.agg(max(col("event_id"))).collect()(0).getLong(0) / 2
    def dropChunk(i: Int, chunk: org.apache.spark.sql.DataFrame): Unit = {
      val tmp = watch.resolve(s"stage$i")
      chunk.coalesce(1).write.parquet(tmp.toString)
      val part = tmp.toFile.listFiles().filter(_.getName.startsWith("part-")).head
      val dst = watch.resolve(s"w$i.parquet")
      Files.move(part.toPath, dst)
      dst.toFile.setLastModified(System.currentTimeMillis() - 3600000L + i * 60000L)
      graft.SparkTestBase.deleteRecursively(tmp.toFile)
    }
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    def runPass(name: String): Seq[(String, Long)] = {
      val prev = s.conf.getOption(providerKey)
      s.conf.set(providerKey,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try {
        val src = s.readStream.schema(e.schema).option("maxFilesPerTrigger", 1)
          .parquet(watch.toString)
        val q = StreamGate.s11Aggregate(src)
          .writeStream.format("memory").queryName(name)
          .option("checkpointLocation", ckpt).outputMode("complete").start()
        try q.processAllAvailable() finally q.stop()
        val out = s.table(name).collect()
          .map(r => r.getString(0) -> r.getLong(1)).toSeq.sortBy(_._1)
        s.catalog.dropTempView(name)
        out
      } finally prev match {
        case Some(v) => s.conf.set(providerKey, v)
        case None    => s.conf.unset(providerKey)
      }
    }
    dropChunk(0, e.filter(col("event_id") <= mid))
    assert(runPass("s11r1").nonEmpty, "first half emitted no weekly estimates")
    dropChunk(1, e.filter(col("event_id") > mid))
    val got = runPass("s11r2")
    // recovery evidence: the restarted aggregation must cover ALL weeks
    // with estimates built on the union of both halves' state. A lost
    // state store would drop to second-half-only distincts (far past
    // 3·rsd for the straddled weeks); a replayed first half is absorbed
    // by HLL idempotence (register max), so within-bound totals mean no
    // loss AND no rewind damage.
    val exact = StreamGate.s11Weekly(e)
      .groupBy(col("wk")).agg(countDistinct(col("user_id")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq.sortBy(_._1)
    assert(got.map(_._1) == exact.map(_._1),
      s"week set diverged: ${got.map(_._1)} vs ${exact.map(_._1)}")
    got.zip(exact).foreach { case ((wk, approx), (_, n)) =>
      assert(math.abs(approx.toDouble - n.toDouble) <= 3 * StreamGate.s11Rsd * n,
        s"week $wk: estimate $approx outside 3·rsd of exact $n after restart")
    }
  }

  test("s13 restart: GK quantile state survives a checkpointed restart within rank bounds") {
    import java.nio.file.Files
    import org.apache.spark.sql.functions._
    val s = spark
    val watch = Files.createTempDirectory("graft-s13drop")
    val ckpt = Files.createTempDirectory("graft-s13ckpt").toString
    val e = graft.model.Tables.events(s, sf0001)
      .select(col("event_id"), col("ts"), col("value"))
    val mid = e.agg(max(col("event_id"))).collect()(0).getLong(0) / 2
    def dropChunk(i: Int, chunk: org.apache.spark.sql.DataFrame): Unit = {
      val tmp = watch.resolve(s"stage$i")
      chunk.coalesce(1).write.parquet(tmp.toString)
      val part = tmp.toFile.listFiles().filter(_.getName.startsWith("part-")).head
      val dst = watch.resolve(s"w$i.parquet")
      Files.move(part.toPath, dst)
      dst.toFile.setLastModified(System.currentTimeMillis() - 3600000L + i * 60000L)
      graft.SparkTestBase.deleteRecursively(tmp.toFile)
    }
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    def runPass[T](name: String)(read: org.apache.spark.sql.DataFrame => T): T = {
      val prev = s.conf.getOption(providerKey)
      s.conf.set(providerKey,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try {
        val src = s.readStream.schema(e.schema).option("maxFilesPerTrigger", 1)
          .parquet(watch.toString)
        val q = StreamGate.s13Aggregate(src)
          .writeStream.format("memory").queryName(name)
          .option("checkpointLocation", ckpt).outputMode("complete").start()
        try q.processAllAvailable() finally q.stop()
        val out = read(s.table(name))
        s.catalog.dropTempView(name)
        out
      } finally prev match {
        case Some(v) => s.conf.set(providerKey, v)
        case None    => s.conf.unset(providerKey)
      }
    }
    dropChunk(0, e.filter(col("event_id") <= mid))
    assert(runPass("s13r1")(_.count()) > 0, "first half emitted no weekly quantiles")
    dropChunk(1, e.filter(col("event_id") > mid))
    // recovery evidence: the restarted aggregation's per-(week, pct)
    // thresholds must satisfy the SAME tie-aware rank-span bound the
    // gate checks, now over the union of both halves. A lost state
    // store would quantile the second half only (rank error far past
    // 2/accuracy for the straddled weeks); a rewound first half would
    // double-weight its values, skewing every rank the same way. The
    // verdict is computed against exact ranks over the FULL log.
    val verdict = runPass("s13r2")(streamed =>
      StreamGate.s13Verdict(s, sf0001, streamed).collect())
    assert(verdict.nonEmpty, "restarted run produced no verdict rows")
    verdict.foreach { r =>
      assert(r.getLong(3) == 1L,
        s"(${r.getString(0)}, p${r.getLong(1)}) fell out of the rank bound after restart")
    }
  }

  test("s14 restart: top-k state survives a checkpointed restart (exact parity)") {
    import java.nio.file.Files
    import org.apache.spark.sql.functions._
    val s = spark
    val watch = Files.createTempDirectory("graft-s14drop")
    val ckpt = Files.createTempDirectory("graft-s14ckpt").toString
    val e = graft.model.Tables.events(s, sf0001)
      .select(col("event_id"), col("ts"), col("value"))
    val mid = e.agg(max(col("event_id"))).collect()(0).getLong(0) / 2
    def dropChunk(i: Int, chunk: org.apache.spark.sql.DataFrame): Unit = {
      val tmp = watch.resolve(s"stage$i")
      chunk.coalesce(1).write.parquet(tmp.toString)
      val part = tmp.toFile.listFiles().filter(_.getName.startsWith("part-")).head
      val dst = watch.resolve(s"w$i.parquet")
      Files.move(part.toPath, dst)
      dst.toFile.setLastModified(System.currentTimeMillis() - 3600000L + i * 60000L)
      graft.SparkTestBase.deleteRecursively(tmp.toFile)
    }
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    def runPass(name: String): Seq[(String, Seq[(Long, Long)])] = {
      val prev = s.conf.getOption(providerKey)
      s.conf.set(providerKey,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try {
        val src = s.readStream.schema(e.schema).option("maxFilesPerTrigger", 1)
          .parquet(watch.toString)
        val q = StreamGate.s14Aggregate(src)
          .writeStream.format("memory").queryName(name)
          .option("checkpointLocation", ckpt).outputMode("complete").start()
        try q.processAllAvailable() finally q.stop()
        val out = s.table(name).collect()
          .map(r => r.getString(0) ->
            r.getSeq[org.apache.spark.sql.Row](1).map(x => (x.getLong(0), x.getLong(1))))
          .toSeq.sortBy(_._1)
        s.catalog.dropTempView(name)
        out
      } finally prev match {
        case Some(v) => s.conf.set(providerKey, v)
        case None    => s.conf.unset(providerKey)
      }
    }
    dropChunk(0, e.filter(col("event_id") <= mid))
    assert(runPass("s14r1").nonEmpty, "first half emitted no weekly top-k")
    dropChunk(1, e.filter(col("event_id") > mid))
    val got = runPass("s14r2")
    // recovery evidence: unlike the sketch twins, selection is EXACT —
    // the restarted aggregation's weekly top-5 must equal the batch
    // window-rank over the union of both halves, element for element.
    // A lost state store would surface second-half-only winners; the
    // file source's checkpointed offset tracking (exactly-once) is the
    // no-rewind side.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("wk")).orderBy(col("v").desc, col("event_id").asc)
    val exact = StreamGate.s14Weekly(e)
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
      .collect().groupBy(_.getString(0)).view
      .mapValues(_.sortBy(_.getInt(3)).map(r => (r.getLong(1), r.getLong(2))).toSeq)
      .toSeq.sortBy(_._1)
    assert(got.map(_._1) == exact.map(_._1),
      s"week set diverged: ${got.map(_._1)} vs ${exact.map(_._1)}")
    got.zip(exact).foreach { case ((wk, tk), (_, want)) =>
      assert(tk == want, s"week $wk: top-k after restart $tk != batch $want")
    }
  }

  test("s15 restart: daily count state survives a checkpointed restart (exact parity)") {
    import java.nio.file.Files
    import org.apache.spark.sql.functions._
    val s = spark
    val watch = Files.createTempDirectory("graft-s15drop")
    val ckpt = Files.createTempDirectory("graft-s15ckpt").toString
    val e = graft.model.Tables.events(s, sf0001)
      .select(col("event_id"), col("ts"), col("event_type"))
    val mid = e.agg(max(col("event_id"))).collect()(0).getLong(0) / 2
    def dropChunk(i: Int, chunk: org.apache.spark.sql.DataFrame): Unit = {
      val tmp = watch.resolve(s"stage$i")
      chunk.coalesce(1).write.parquet(tmp.toString)
      val part = tmp.toFile.listFiles().filter(_.getName.startsWith("part-")).head
      val dst = watch.resolve(s"w$i.parquet")
      Files.move(part.toPath, dst)
      dst.toFile.setLastModified(System.currentTimeMillis() - 3600000L + i * 60000L)
      graft.SparkTestBase.deleteRecursively(tmp.toFile)
    }
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    def runPass(name: String): Seq[((String, String), Long)] = {
      val prev = s.conf.getOption(providerKey)
      s.conf.set(providerKey,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try {
        val src = s.readStream.schema(e.schema).option("maxFilesPerTrigger", 1)
          .parquet(watch.toString)
        val q = StreamGate.s15Aggregate(src.select(col("event_type"), col("ts")))
          .writeStream.format("memory").queryName(name)
          .option("checkpointLocation", ckpt).outputMode("complete").start()
        try q.processAllAvailable() finally q.stop()
        val out = s.table(name).collect()
          .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
          .toSeq.sortBy(_._1)
        s.catalog.dropTempView(name)
        out
      } finally prev match {
        case Some(v) => s.conf.set(providerKey, v)
        case None    => s.conf.unset(providerKey)
      }
    }
    dropChunk(0, e.filter(col("event_id") <= mid))
    assert(runPass("s15r1").nonEmpty, "first half emitted no daily counts")
    dropChunk(1, e.filter(col("event_id") > mid))
    val got = runPass("s15r2")
    // recovery evidence: counts sum, so the restarted fold must equal
    // the batch daily rollup over the union of both halves exactly. A
    // lost state store shows second-half-only counts on straddled
    // (type, day) cells; a rewound source would double them.
    val exact = StreamGate.s15Aggregate(e)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toSeq.sortBy(_._1)
    assert(got == exact, s"daily counts diverged after restart:\n$got\nvs\n$exact")
    // and the downstream z-square verdict over the streamed table is the
    // batch operator's own output, cell for cell
    import s.implicits._
    val verdict = graft.ops.Windows.q32AnomalyOn(
      got.map { case ((t, d), n) => (t, d, n) }.toDF("event_type", "day", "n")).collect()
    val want = graft.ops.Windows.q32Anomaly(s, sf0001).collect()
    assert(verdict.map(_.toSeq).toSeq == want.map(_.toSeq).toSeq)
  }

  test("feed staging splits a large feed into bounded range-ordered files (no 1/4-corpus write task)") {
    val s = spark
    // 300k rows ≫ targetRowsPerFile·gateBatches: the round-8 staging
    // would write 75k-row files from single tasks; now each file is a
    // bounded contiguous key-range slice and a micro-batch is
    // filesPerTrigger consecutive files
    val n = 12 * StreamGate.targetRowsPerFile
    val feed = StreamGate.stageFeed(
      s.range(0, n).select(org.apache.spark.sql.functions.col("id")), "id")
    try {
      assert(feed.filesPerTrigger == 3, s"expected 3 files per chunk, got ${feed.filesPerTrigger}")
      val files = new java.io.File(feed.dir.toString).listFiles()
        .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      assert(files.length == 12, s"expected 12 staged files, got ${files.length}")
      // name order must be key order: per-file [min,max] ranges strictly
      // ascending and non-overlapping — that IS the log-replay guarantee
      val ranges = files.map { f =>
        val r = s.read.parquet(f.getAbsolutePath)
          .agg(org.apache.spark.sql.functions.min("id"),
            org.apache.spark.sql.functions.max("id"),
            org.apache.spark.sql.functions.count("id")).collect()(0)
        (r.getLong(0), r.getLong(1), r.getLong(2))
      }
      ranges.sliding(2).foreach { case Array((_, hi, _), (lo, _, _)) => assert(hi < lo,
        s"file ranges overlap or regress: $hi !< $lo in ${ranges.toSeq}") }
      // every write task owned a bounded slice (range partitioner is
      // sampled, so allow 2x the target)
      ranges.foreach { case (_, _, c) => assert(c <= 2 * StreamGate.targetRowsPerFile,
        s"a staged file holds $c rows — write task not bounded") }
      assert(ranges.map(_._3).sum == n)
      // mod-times strictly increase in name order (replay order contract)
      val times = files.map(_.lastModified()).toSeq
      assert(times == times.sorted && times.distinct.size == times.size)
    } finally StreamGate.deleteFeed(s, feed.dir)
  }

  test("feed staging fails loudly on a store that does not honor setTimes") {
    // session-level confs flow into SessionState.newHadoopConf(), which is
    // where stageFeed gets its FileSystem; cache off so the wrapper is
    // actually instantiated instead of the processwide file:// instance
    val s2 = spark.newSession()
    s2.conf.set("fs.file.impl", classOf[FrozenTimesFileSystem].getName)
    s2.conf.set("fs.file.impl.disable.cache", "true")
    val ex = intercept[IllegalArgumentException] {
      StreamGate.stageFeed(
        s2.range(0, 1000).select(org.apache.spark.sql.functions.col("id")), "id")
    }
    assert(ex.getMessage.contains("does not honor setTimes"), ex.getMessage)
  }

  test("shared feeds: cached per session, failed builds not cached, evictSession frees the dirs") {
    // a fresh session isolates the cache keys from the suite's other runs
    val s2 = spark.newSession()
    val f1 = Stages.gateDocsFeed(s2, sf0001)
    assert(java.nio.file.Files.exists(f1.dir), "staged feed dir must exist")
    // cached: same Feed instance (same dir), no second staging build
    assert(Stages.gateDocsFeed(s2, sf0001).dir == f1.dir)
    // the documented session-end hook frees the feed dirs too
    Stages.evictSession(s2)
    assert(!java.nio.file.Files.exists(f1.dir), "evictSession must delete the feed dir")
    // next ask rebuilds into a fresh dir (no poisoned entry)
    val f2 = Stages.gateDocsFeed(s2, sf0001)
    assert(f2.dir != f1.dir && java.nio.file.Files.exists(f2.dir))
    // the global reset frees the feed dirs the same way, and the next ask
    // restages into a new dir
    Stages.clear()
    assert(!java.nio.file.Files.exists(f2.dir), "Stages.clear() must delete the feed dir")
    val f2b = Stages.gateDocsFeed(s2, sf0001)
    try {
      assert(f2b.dir != f2.dir && java.nio.file.Files.exists(f2b.dir))
    } finally Stages.evictSession(s2)
    // a FAILED staging build must not be cached: break setTimes, watch
    // the build throw, fix it, and the same key must rebuild cleanly
    val s3 = spark.newSession()
    s3.conf.set("fs.file.impl", classOf[FrozenTimesFileSystem].getName)
    s3.conf.set("fs.file.impl.disable.cache", "true")
    intercept[IllegalArgumentException] { Stages.gateEventsFeed(s3, sf0001) }
    s3.conf.set("fs.file.impl", classOf[org.apache.hadoop.fs.LocalFileSystem].getName)
    val f3 = Stages.gateEventsFeed(s3, sf0001)
    try assert(java.nio.file.Files.exists(f3.dir),
      "after the store recovers the same key must stage successfully")
    finally Stages.evictSession(s3)
  }

  test("s8 gate: exact counts cover every arrival and all verdict flags hold") {
    val rows = StreamGate.s8NoveltyStream(spark, sf0001).collect()
    assert(rows.nonEmpty)
    // the split streams the newest 10% of documents
    val nDocs = graft.model.Tables.documents(spark, sf0001).count()
    assert(rows.length >= nDocs / 20, s"suspiciously few arrivals: ${rows.length} of $nDocs")
    rows.foreach { r =>
      assert(r.getLong(3) == 1L, s"stream gram count diverged from exact: $r")
      assert(r.getLong(4) == 1L, s"bloom missed a true hit (impossible one-sided error): $r")
      assert(r.getLong(5) == 1L, s"bloom false-positive surplus out of bound: $r")
    }
  }

  test("the gate runner stops its query and drops its sink view, on success and on failure") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    def active() = s.streams.active.map(_.id).toSet
    def gateViews() = s.catalog.listTables().collect()
      .filter(t => t.isTemporary && t.name.contains("_gate_")).map(_.name).toSeq
    val before = active()
    assert(StreamGate.s15AnomalyStream(s, sf0001).collect().nonEmpty)
    // a stream whose every row fails, through the same runner
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
    ms.addData(1L, 2L, 3L)
    val failing = ms.toDS().map { x =>
      if (x > 0L) throw new IllegalStateException("deliberate gate failure")
      x
    }
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      StreamGate.run(s, "failing", failing)
    }
    val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).take(16).toSeq
    assert(causes.exists(c => c.isInstanceOf[IllegalStateException] &&
      c.getMessage == "deliberate gate failure"), s"original failure lost: $e")
    assert((active() -- before).isEmpty, s"the runner left queries active: ${s.streams.active.toSeq}")
    assert(gateViews().isEmpty, s"the runner left sink views: ${gateViews()}")
  }
}
