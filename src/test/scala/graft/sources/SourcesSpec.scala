package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.streaming.{WalPipeline, WalRecord, WalState}

class SourcesSpec extends SparkTestBase {

  test("csv/json round-trip preserves the WAL schema") {
    val s = spark
    import s.implicits._
    val tmp = tempDir("graft-src").toString
    val recs = Seq(
      WalRecord(0, 1, "ADD", "p1"), WalRecord(1, 2, "ADD", "p2"),
      WalRecord(2, 1, "DELETE", null))
    val df = recs.toDF()
    df.write.mode("overwrite").option("header", "true").csv(s"$tmp/csv")
    df.write.mode("overwrite").json(s"$tmp/json")
    val backCsv = spark.read.option("header", "true").schema(Sources.walSchema).csv(s"$tmp/csv")
    val backJson = spark.read.schema(Sources.walSchema).json(s"$tmp/json")
    assert(backCsv.count() == 3 && backJson.count() == 3)
    assert(backCsv.schema.fieldNames.toSeq ==
      Seq("id", "entityId", "operation", "payload", "entityType"))
  }

  test("jsonlDocuments enforces schema and quarantines malformed lines") {
    val dir = tempDir("graft-jsonl")
    Files.writeString(dir.resolve("part0.jsonl"),
      """{"doc_id": 1, "text": "alpha beta", "lang": "en", "source": "web", "label": 0}
        |{"doc_id": 2, "text": "gamma"}
        |{not valid json at all
        |{"doc_id": 4, "text": "delta", "label": 7}
        |""".stripMargin)
    val parsed = Sources.jsonlDocuments(spark, dir.toString)
    val (good, bad) = Sources.splitCorrupt(parsed)
    assert(good.columns.toSeq ==
      Seq("doc_id", "text", "lang", "source", "label"), "schema must be the contract")
    val rows = good.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows == Map(1L -> "alpha beta", 2L -> "gamma", 4L -> "delta"))
    // optional fields absent on the wire come back null, not dropped rows
    assert(good.filter(col("doc_id") === 2 && col("lang").isNull).count() == 1)
    val quarantined = bad.collect().map(_.getString(0))
    assert(quarantined.length == 1 && quarantined(0).startsWith("{not valid"),
      s"malformed line must be quarantined verbatim: ${quarantined.toSeq}")
    parsed.unpersist()
  }

  test("writePackedShards lays out one directory per writer, shard-sorted") {
    // scrambled, multi-partition input: the sink's OWN sort must
    // establish the (shard_id, doc_id) layout, not a lucky upstream order
    val packed = graft.ops.PipelineOps.x31Packing(spark, sf0001)
      .orderBy(col("doc_id").desc).repartition(5)
    val out = tempDir("graft-shards").toString
    TestSinks.writePackedShards(packed, out)
    val writerDirs = new java.io.File(out).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("writer=")).map(_.getName).sorted
    assert(writerDirs.nonEmpty, s"no writer partition dirs under $out")
    val back = spark.read.parquet(out)
    assert(back.count() == packed.count(), "shard write must be lossless")
    // within one writer's single sorted file, shard_id/doc_id order holds
    val w = writerDirs.head.stripPrefix("writer=")
    val one = spark.read.parquet(s"$out/${writerDirs.head}")
      .select(col("shard_id"), col("doc_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(one.sameElements(one.sortBy(identity)),
      s"writer=$w rows must be (shard_id, doc_id)-sorted for min/max pruning")
  }

  test("documentsFileStream drives the S8 novelty screen off dropped files") {
    val dir = tempDir("graft-docstream")
    val index = graft.model.Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("text"))
    // one arrival echoing an indexed doc, one fresh — the screen must
    // separate them exactly like the MemoryStream golden test
    val echoed = index.orderBy("doc_id").limit(1).collect()(0)
    Files.writeString(dir.resolve("arrivals.jsonl"),
      s"""{"doc_id": 900001, "text": ${graft.util.Json.quote(echoed.getString(1))}}
         |{"doc_id": 900002, "text": "wholly novel tokens zq1 zq2 zq3 zq4 zq5 zq6"}
         |""".stripMargin)
    val stream = graft.streaming.Streams.noveltyStream(
      spark, TestSinks.documentsFileStream(spark, dir.toString), index)
    val q = stream.writeStream.format("memory").queryName("docstream_gate")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table("docstream_gate").collect()
        .map(r => r.getLong(0) -> r.getAs[Long]("is_novel")).toMap
      assert(got == Map(900001L -> 0L, 900002L -> 1L), s"got $got")
    } finally {
      q.stop()
      spark.catalog.dropTempView("docstream_gate")
    }
  }

  test("binaryFile ingress: glob prunes at listing, metadata reads skip payload, decode e2e") {
    val s = spark
    val dir = tempDir("graft-media")
    Files.createDirectories(dir.resolve("shard0"))
    Files.write(dir.resolve("shard0/a.png"), Array[Byte](1, 2, 3, 4))
    Files.write(dir.resolve("shard0/b.wav"), Array[Byte](10, 20))
    Files.write(dir.resolve("c.png"), Array[Byte](7))
    Files.write(dir.resolve("notes.txt"), "x".getBytes)
    // glob prunes by NAME at listing time (recursive across shard dirs)
    val pngs = Sources.binaryFiles(s, dir.toString, "*.png")
    assert(pngs.count() == 2)
    val all = Sources.binaryFiles(s, dir.toString)
    assert(all.count() == 4)
    // a metadata-only query must not read payload bytes: the scan's
    // ReadSchema carries path/length only, no content column
    val metaPlan = all.select(col("path"), col("length"))
      .queryExecution.executedPlan.toString
    assert(!metaPlan.contains("content"),
      s"metadata query must prune the payload column:\n$metaPlan")
    // ingest → typed media rows → the same decode batch x15 uses
    val feats = graft.ops.Oracles.decodeFeatures(
        TestSinks.mediaFromFiles(s, dir.toString, "*.png"))
      .collect().sortBy(_.n_bytes)
    assert(feats.length == 2)
    assert(feats.map(_.format).toSet == Set("png"))
    assert(feats.map(f => (f.n_bytes, f.byte_sum)).toSeq == Seq((1L, 7L), (4L, 10L)),
      feats.mkString(", "))
    // doc_id is a stable path hash: re-reading yields identical ids
    val ids1 = TestSinks.mediaFromFiles(s, dir.toString, "*.png")
      .collect().map(_.doc_id).sorted.toSeq
    val ids2 = TestSinks.mediaFromFiles(s, dir.toString, "*.png")
      .collect().map(_.doc_id).sorted.toSeq
    assert(ids1 == ids2 && ids1.distinct.size == 2)
  }

  test("real image decode: generated PNGs yield actual dims + raster checksum; corrupt bytes degrade") {
    val s = spark
    val dir = tempDir("graft-imgs")
    // two real PNGs with known rasters, written by the SAME JDK codec
    // stack the decode uses — plus one corrupt "png" (truncated garbage)
    def writePng(name: String, w: Int, h: Int, rgbOf: (Int, Int) => Int): Long = {
      val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var sum = 0L
      for (y <- 0 until h; x <- 0 until w) {
        val c = rgbOf(x, y) & 0xffffff
        img.setRGB(x, y, c)
        sum += c
      }
      javax.imageio.ImageIO.write(img, "png", dir.resolve(name).toFile)
      sum
    }
    val sumA = writePng("a.png", 3, 2, (x, y) => x * 1000 + y * 70000 + 5)
    val sumB = writePng("b.png", 7, 5, (x, y) => (x * 31 + y * 17) * 2500)
    Files.write(dir.resolve("corrupt.png"), Array[Byte](1, 2, 3, 4))
    val feats = graft.ops.Multimodal.decodeImages(
        TestSinks.mediaFromFiles(s, dir.toString, "*.png"))
      .collect().sortBy(f => (f.img_w, f.img_h))
    assert(feats.length == 3, feats.mkString(", "))
    // corrupt file: decode verdict false, sentinel dims, no task failure
    assert(feats.head == graft.ops.ImageFeatures(feats.head.doc_id, "png", -1L, -1L, 0L, false))
    // real files: exact pixel dims and raster checksums (PNG is lossless,
    // so the decoded raster must reproduce what was written bit-exactly)
    assert(feats(1).img_w == 3L && feats(1).img_h == 2L && feats(1).px_checksum == sumA
      && feats(1).decoded, feats(1).toString)
    assert(feats(2).img_w == 7L && feats(2).img_h == 5L && feats(2).px_checksum == sumB
      && feats(2).decoded, feats(2).toString)
  }

  test("real video decode: multi-frame GIFs yield frame counts + sampled-frame checksums; corrupt bytes degrade") {
    val s = spark
    val dir = tempDir("graft-gifs")
    // a real multi-frame GIF written by the SAME JDK sequence writer the
    // corpus generator uses: 5 frames, 17x18, explicit 256-gray palette
    // (dims >= 16: the JDK GIF writer corrupts tiny rasters — the floor
    // the generator documents)
    val gray = Array.tabulate[Byte](256)(i => i.toByte)
    val icm = new java.awt.image.IndexColorModel(8, 256, gray, gray, gray)
    val (w, h, nf) = (17, 18, 5)
    def px(k: Int, x: Int, y: Int): Int = (9 * k + 4 * x + 6 * y) % 256
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    val ios = javax.imageio.ImageIO.createImageOutputStream(dir.resolve("clip.gif").toFile)
    try {
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      for (k <- 0 until nf) {
        val img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, icm)
        for (y <- 0 until h; x <- 0 until w) img.getRaster.setSample(x, y, 0, px(k, x, y))
        writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
      }
      writer.endWriteSequence()
    } finally { writer.dispose(); ios.close() }
    Files.write(dir.resolve("corrupt.gif"), Array[Byte](71, 73, 70, 56)) // "GIF8" then EOF
    val feats = graft.ops.Multimodal.decodeVideo(
        TestSinks.mediaFromFiles(s, dir.toString, "*.gif"))
      .collect().sortBy(_.n_frames)
    assert(feats.length == 2, feats.mkString(", "))
    // corrupt clip: verdict false, zero counts, no task failure
    assert(feats.head == graft.ops.VideoFeatures(feats.head.doc_id, "gif", 0L, 0L, 0L, false),
      feats.head.toString)
    // the real clip: 5 frames counted, only {0, 2, 4} decoded, and their
    // sampled-pixel checksum reproduces the written values exactly
    val wantCks = (for (k <- Seq(0, 2, 4); y <- 0 until h; x <- 0 until w)
      yield px(k, x, y).toLong).sum
    assert(feats(1).n_frames == nf.toLong && feats(1).n_sampled == 3L
      && feats(1).frame_checksum == wantCks && feats(1).decoded, feats(1).toString)
  }

  test("real audio decode: generated WAVs yield actual rate/channels/frames + PCM checksum") {
    val s = spark
    val dir = tempDir("graft-wavs")
    // real RIFF/WAVE files written by the SAME JDK stack the decode uses
    def writeWav(name: String, rate: Float, channels: Int, frames: Int): Long = {
      val fmt = new javax.sound.sampled.AudioFormat(rate, 16, channels, true, false)
      val pcm = new Array[Byte](frames * fmt.getFrameSize)
      var sum = 0L
      for (i <- pcm.indices) {
        pcm(i) = ((i * 31 + 7) % 251).toByte // deterministic ramp
        sum += (pcm(i) & 0xff)
      }
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, frames.toLong)
      javax.sound.sampled.AudioSystem.write(ais,
        javax.sound.sampled.AudioFileFormat.Type.WAVE, dir.resolve(name).toFile)
      sum
    }
    val sumA = writeWav("a.wav", 8000f, 1, 120)
    val sumB = writeWav("b.wav", 44100f, 2, 300)
    Files.write(dir.resolve("corrupt.wav"), Array[Byte](82, 73, 70, 70)) // "RIFF" then EOF
    val feats = graft.ops.Multimodal.decodeAudio(
        TestSinks.mediaFromFiles(s, dir.toString, "*.wav"))
      .collect().sortBy(_.n_frames)
    assert(feats.length == 3, feats.mkString(", "))
    assert(feats.head == graft.ops.AudioFeatures(
      feats.head.doc_id, "wav", -1L, -1L, -1L, 0L, false), feats.head.toString)
    assert(feats(1).sample_rate == 8000L && feats(1).channels == 1L
      && feats(1).n_frames == 120L && feats(1).pcm_checksum == sumA && feats(1).decoded,
      feats(1).toString)
    assert(feats(2).sample_rate == 44100L && feats(2).channels == 2L
      && feats(2).n_frames == 300L && feats(2).pcm_checksum == sumB && feats(2).decoded,
      feats(2).toString)
  }

  test("orc round-trips the WAL tables with pushdown intact; feeds the WAL stream") {
    val s = spark
    import s.implicits._
    val tmp = tempDir("graft-orc")
    val ev = graft.model.Tables.events(s, sf0001)
    TestSinks.writeOrc(ev, s"$tmp/events_orc")
    val back = s.read.orc(s"$tmp/events_orc")
    assert(back.count() == ev.count())
    assert(back.schema == ev.schema)
    // the columnar contract: filter and projection must reach the ORC scan
    val plan = back.filter(col("user_id") === 7L).select("event_id", "user_id")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(user_id), EqualTo(user_id,7)")
      || plan.contains("PushedFilters: [isnotnull(user_id"),
      s"expected user_id filter pushed to the ORC scan:\n$plan")
    assert(plan.contains("ReadSchema: struct<event_id:bigint,user_id:bigint>"),
      s"expected 2-column pruned ORC read:\n$plan")
    // streaming ingress: the WAL file stream reads ORC drops like parquet
    val walDir = tempDir("graft-orc-wal")
    ev.limit(10)
      .select(col("event_id").as("id"), col("user_id").as("entityId"),
        col("event_type").as("operation"), col("props").as("payload"))
      .write.mode("overwrite").orc(walDir.toString)
    val q = Sources.walFileStream(s, walDir.toString, format = "orc")
      .writeStream.format("memory").queryName("orc_wal_gate").outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(s.table("orc_wal_gate").count() == 10)
    } finally {
      q.stop()
      s.catalog.dropTempView("orc_wal_gate")
    }
  }

  test("walFileStream drives the S9 temporal as-of e2e; restart replays without rewind") {
    val s = spark
    import s.implicits._
    val watch = tempDir("graft-s9drop")
    val ckpt = tempDir("graft-s9ckpt").toString
    val sink = tempDir("graft-s9sink").toString
    // the event log in WAL shape (walSchema), halved by log-sequence range
    val log = graft.model.Tables.events(s, sf0001)
      .select(col("event_id").as("id"), col("user_id").as("entityId"),
        col("event_type").as("operation"), col("props").as("payload"))
    val mid = log.agg(max(col("id"))).collect()(0).getLong(0) / 2
    def dropChunk(i: Int, chunk: org.apache.spark.sql.DataFrame): Unit = {
      val tmp = watch.resolve(s"stage$i")
      chunk.coalesce(1).write.parquet(tmp.toString)
      val part = tmp.toFile.listFiles().filter(_.getName.startsWith("part-")).head
      val dst = watch.resolve(s"w$i.parquet")
      Files.move(part.toPath, dst)
      dst.toFile.setLastModified(System.currentTimeMillis() - 3600000L + i * 60000L)
      graft.SparkTestBase.deleteRecursively(tmp.toFile)
    }
    // each pass is a fresh query over the SAME checkpoint — the second
    // start is a restart, recovering offsets and register state
    // (transformWithState requires the RocksDB provider)
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    def runPass(): Unit = {
      val prev = s.conf.getOption(providerKey)
      s.conf.set(providerKey,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try {
        val probes = Sources.walFileStream(s, watch.toString, maxFilesPerTrigger = 1)
          .map(w => graft.streaming.ProbeEvent(w.id, w.entityId, w.operation))
        val q = graft.streaming.Streams.temporalAsofStream(probes)
          .writeStream.format("parquet").option("path", sink)
          .option("checkpointLocation", ckpt).outputMode("append").start()
        try q.processAllAvailable() finally q.stop()
      } finally prev match {
        case Some(v) => s.conf.set(providerKey, v)
        case None    => s.conf.unset(providerKey)
      }
    }
    dropChunk(0, log.filter(col("id") <= mid))
    runPass()
    val firstPass = s.read.parquet(sink).count()
    assert(firstPass > 0, "first half produced no matches")
    dropChunk(1, log.filter(col("id") > mid))
    runPass()
    val got = s.read.parquet(sink)
      .select(col("eventId").as("event_id"), col("userId").as("user_id"),
        col("priorViewId").as("prior_view_id"))
      .orderBy("event_id").collect().map(_.toString).toSeq
    // parity with batch q16 doubles as the no-rewind check: a replayed
    // first-half match would surface as a duplicate row and break equality
    val want = graft.ops.Windows.q16Asof(s, sf0001).collect().map(_.toString).toSeq
    assert(got == want, s"rows ${got.size} vs ${want.size}; " +
      s"first diff: ${got.zipAll(want, "<missing>", "<missing>").find(t => t._1 != t._2)}")
  }

  test("writePartitioned produces partition-pruned scans") {
    val tmp = tempDir("graft-part").toString
    val ev = graft.model.Tables.events(spark, sf0001)
    Sources.writePartitioned(ev, s"$tmp/events_by_type", Seq("event_type"), Seq("event_id"))
    val back = spark.read.parquet(s"$tmp/events_by_type")
    assert(back.count() == ev.count())
    val plan = back.filter(col("event_type") === "purchase")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(event_type"),
      s"expected partition pruning in:\n$plan")
  }

  test("compact merges small files and preserves data") {
    val s = spark
    val tmp = tempDir("graft-compact").toString
    val ev = graft.model.Tables.events(s, sf0001)
    ev.repartition(20).write.parquet(s"$tmp/ev") // 20 small files
    val before = new java.io.File(s"$tmp/ev").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(before == 20)
    val n = Sources.compact(s, s"$tmp/ev", targetBytes = 512L * 1024 * 1024)
    val after = new java.io.File(s"$tmp/ev").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(n == 1 && after == 1)
    assert(s.read.parquet(s"$tmp/ev").count() == ev.count())
  }

  test("walFileStream normalizes pre-discriminator WAL files to the default entityType") {
    // a WAL written before the entity_type column existed (4 columns) must
    // load under the 5-column schema with the reference's constructor
    // default filled in (WalEntity.java:44-46), not nulls
    val s = spark
    import s.implicits._
    val tmp = tempDir("graft-wal-legacy").toString
    val walDir = s"$tmp/wal"
    Files.createDirectories(java.nio.file.Paths.get(walDir))
    Seq(WalRecord(0, 1, "ADD", "p1"), WalRecord(1, 2, "ADD", "p2"))
      .toDF().drop("entityType") // the legacy 4-column layout
      .write.mode("append").parquet(walDir)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[WalRecord]()
    val q = Sources.walFileStream(s, walDir).writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[WalRecord], _: Long) =>
        b.collect().foreach(seen.add)
      }
      .option("checkpointLocation", s"$tmp/ckpt")
      .start()
    try q.processAllAvailable() finally q.stop()
    import scala.jdk.CollectionConverters._
    val recs = seen.asScala.toSeq.sortBy(_.id)
    assert(recs == Seq(
      WalRecord(0, 1, "ADD", "p1", WalRecord.DefaultEntityType),
      WalRecord(1, 2, "ADD", "p2", WalRecord.DefaultEntityType)), recs)
  }

  test("walFileStream + WalPipeline: lifecycle, metrics, exactly-once effect") {
    val s = spark
    import s.implicits._
    val tmp = tempDir("graft-wal").toString
    val walDir = s"$tmp/wal"
    Files.createDirectories(java.nio.file.Paths.get(walDir))
    // batch 1 lands in the WAL directory before the consumer starts
    Seq(WalRecord(0, 1, "ADD", "name1"), WalRecord(1, 2, "ADD", "name2"))
      .toDF().write.mode("append").parquet(walDir)

    graft.streaming.TestSink.reset()
    val pipeline = new WalPipeline(
      Sources.walFileStream(spark, walDir), new graft.streaming.TestSink,
      s"$tmp/ckpt", pollMillis = 10L, retrySleepMs = 1L)
    pipeline.start()
    try {
      pipeline.processAllAvailable()
      // batch 2 arrives while running — including a replay of id=1
      Seq(WalRecord(1, 2, "ADD", "name2-replay"),
        WalRecord(2, 1, "UPDATE", "updated-name"), WalRecord(3, 3, "ADD", "name3"),
        WalRecord(4, 3, "DELETE", null))
        .toDF().write.mode("append").parquet(walDir)
      pipeline.processAllAvailable()
      import scala.jdk.CollectionConverters._
      assert(graft.streaming.TestSink.target.asScala.toMap ==
        Map(1L -> "updated-name", 2L -> "name2"))
      assert(graft.streaming.TestSink.alreadyDone.get() == 1,
        "replayed record detected as already-done exactly once")
      // progress events are delivered async to the listener bus
      val deadline = System.currentTimeMillis() + 10000
      while (pipeline.metrics.numSynchronized.get() < 6 &&
        System.currentTimeMillis() < deadline) Thread.sleep(50)
      assert(pipeline.metrics.numSynchronized.get() == 6, "2 + 4 records observed")
      assert(pipeline.metrics.state.get() == WalState.NOT_EMPTY ||
        pipeline.metrics.state.get() == WalState.EMPTY)
    } finally pipeline.close()
  }
}
