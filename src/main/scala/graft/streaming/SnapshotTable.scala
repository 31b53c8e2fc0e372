package graft.streaming

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** WAL stream → queryable parquet "current state" table.
  *
  * The reference's sink callback pushes each mutation into an external
  * store (`WalEntityConsumerCallback.java:10-17`); this is the built-in
  * store: a versioned parquet table holding the changelog's materialized
  * snapshot, updated by a foreachBatch MERGE (the R4+R5+R7 dataflow as
  * one operator).
  *
  * Layout: `base/p=<pmod(entityId, nParts)>/v=<n>/` plus a MANIFEST
  * file that is the transaction log — it names the committed version of
  * every partition (and nParts). A micro-batch writes new version dirs
  * for only the partitions its keys hash into, then swaps the manifest
  * in last; readers resolve partitions through the manifest, so a crash
  * between partition writes leaves the previous manifest (and a
  * consistent cross-key view) intact. A version dir only becomes visible
  * once the manifest names it — a poor-man's snapshot-isolated table,
  * the miniature of the Delta/Iceberg commit protocol (their log adds
  * history and concurrent-writer CAS). `nParts = 1` is a single
  * partition rewritten whole every batch.
  *
  * MERGE semantics per batch (mirrors Streams.snapshotStream):
  * take the batch's last op per key (max id), outer-merge with the
  * previous snapshot, keep the newer side per key, drop DELETEs.
  * Replays (batch id ≤ stored id) lose the merge — idempotent, so
  * at-least-once delivery still yields exactly-once table state.
  *
  * Scale notes: each touched partition's merge is one shuffle of
  * (previous ∪ batch-partials) on the key; the batch side is first
  * collapsed per key map-side. Size nParts so a batch touches few
  * partitions; the merge plan does not change with it.
  */
object SnapshotTable {

  private def versionDir(base: Path, v: Long) = new Path(base, s"v=$v")

  private def committedVersions(spark: SparkSession, base: String): Seq[Long] = {
    val p = new Path(base)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("v="))
      .map(_.getPath.getName.stripPrefix("v=").toLong)
      .filter(v => fs.exists(new Path(versionDir(p, v), "_SUCCESS")))
      .sorted
  }

  /** One merge step: previous snapshot ⊎ batch → next snapshot. Exposed
    * for tests; foreachBatch wiring below. */
  def merge(prev: DataFrame, batch: Dataset[WalRecord]): DataFrame = {
    val spark = batch.sparkSession
    import spark.implicits._
    val batchLast = batch
      .groupByKey(_.entityId)
      .reduceGroups((a, b) => if (a.id >= b.id) a else b)
      .map(_._2)
      // snapshot rows are single-type (split a multiplexed WAL with
      // Streams.forEntityType first), so the discriminator is dropped here
      .select(col("id").as("lastId"), col("entityId"), col("operation"), col("payload"))
    prev.select(col("entityId"), col("payload"), col("lastId"))
      .withColumn("operation", lit(null).cast("string"))
      .withColumn("__new", lit(0))
      .unionByName(batchLast.withColumn("__new", lit(1)))
      .groupBy(col("entityId"))
      // ordering key (lastId, 1-__new): on a lastId tie the STORED row wins —
      // a replayed record with id == stored lastId is already applied
      .agg(max_by(struct(col("payload"), col("lastId"), col("operation"), col("__new")),
        struct(col("lastId"), lit(1) - col("__new"))).as("m"))
      .select(col("entityId"), col("m.payload").as("payload"),
        col("m.lastId").as("lastId"), col("m.operation").as("operation"))
      .filter(col("operation").isNull || col("operation") =!= "DELETE")
      .drop("operation")
  }

  /** Write `next` as the successor version of partition dir `base` and
    * prune old versions.
    *
    * `protect` is the version CURRENT READERS RESOLVE — the one the
    * MANIFEST names (which can be OLDER than the highest committed dir: a
    * crash between a partition commit and the manifest swap leaves an
    * orphaned committed-but-unreferenced version). The protected
    * version is never deleted here — pruning it would break in-flight
    * readers and, if this batch crashes before its own swap, leave the
    * manifest permanently pointing at a deleted directory. Everything
    * else (older versions AND orphans, which nothing references) is
    * pruned; the now-superseded `protect` is reclaimed by the NEXT
    * commit, preserving the retain-latest-two property. */
  private def commitVersion(next: DataFrame, base: String,
      prevVersions: Seq[Long], protect: Option[Long]): Long = {
    val spark = next.sparkSession
    val v = (prevVersions ++ protect).maxOption.getOrElse(-1L) + 1
    next.write.mode(SaveMode.Overwrite)
      .parquet(versionDir(new Path(base), v).toString)
    val fs = new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)
    prevVersions.filterNot(protect.contains).foreach(old =>
      fs.delete(versionDir(new Path(base), old), true))
    v
  }

  private def partOf(nParts: Int) = pmod(col("entityId"), lit(nParts.toLong))

  private def manifestPath(base: String) = new Path(base, "MANIFEST")

  /** Manifest = (nParts, partition → committed version). */
  private[streaming] def readManifest(spark: SparkSession, base: String): Option[(Int, Map[Long, Long])] = {
    val p = manifestPath(base)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val text = try scala.io.Source.fromInputStream(in).mkString finally in.close()
      val lines = text.trim.split("\n").toSeq
      val n = lines.head.stripPrefix("nParts=").toInt
      val vs = lines.tail.map { l =>
        val Array(pp, vv) = l.split("=");
        pp.toLong -> vv.toLong
      }.toMap
      Some((n, vs))
    }
  }

  private def writeManifest(spark: SparkSession, base: String, nParts: Int,
      versions: Map[Long, Long]): Unit = {
    val p = manifestPath(base)
    val tmp = new Path(base, s"MANIFEST.tmp")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(tmp, true)
    try out.write((s"nParts=$nParts\n" +
      versions.toSeq.sorted.map { case (pp, vv) => s"$pp=$vv" }.mkString("\n"))
      .getBytes("UTF-8"))
    finally out.close()
    fs.delete(p, false) // HDFS rename won't overwrite; delete-then-rename is
    if (!fs.rename(tmp, p)) // safe because readers fall back to nothing only
      throw new java.io.IOException(s"manifest swap failed for $base") // if BOTH ops die
  }

  /** Latest committed snapshot across partitions, resolved via the
    * manifest (empty before the first commit). Columns: entityId,
    * payload, lastId. */
  def read(spark: SparkSession, base: String): DataFrame =
    readManifest(spark, base) match {
      case Some((_, versions)) if versions.nonEmpty =>
        versions.toSeq.sorted
          .map { case (p, v) => spark.read.parquet(s"$base/p=$p/v=$v") }
          .reduce(_ unionByName _)
      case _ => emptySnapshot(spark)
    }

  private def emptySnapshot(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(Long, String, Long)].toDF("entityId", "payload", "lastId")
  }

  /** foreachBatch function: merge into touched partitions only; the
    * manifest swap at the end is the cross-partition commit point.
    *
    * Partition merges run CONCURRENTLY (each is an independent Spark
    * job; the scheduler interleaves their stages across executor slots),
    * bounded by a fixed pool so thousands of touched partitions don't
    * flood the driver with job submissions. Any partition failure fails
    * the batch BEFORE the manifest swap, so readers keep the previous
    * consistent view and the streaming retry replays the whole batch. */
  def partitionedSink(base: String, nParts: Int): (Dataset[WalRecord], Long) => Unit = {
    require(nParts > 0, s"nParts must be positive, got $nParts")
    (batch, _) =>
      val spark = batch.sparkSession
      val manifest = readManifest(spark, base)
      manifest.foreach { case (n, _) =>
        require(n == nParts,
          s"table at $base was created with nParts=$n, sink configured with $nParts")
      }
      val versions = manifest.map(_._2).getOrElse(Map.empty[Long, Long])
      val cached = batch.cache()
      try {
        val touched = cached.select(partOf(nParts).as("p"))
          .distinct().collect().map(_.getLong(0)).sorted // ≤ nParts rows — bounded driver work
        val pool = java.util.concurrent.Executors.newFixedThreadPool(
          math.max(1, math.min(touched.length, 8)))
        implicit val ec: scala.concurrent.ExecutionContext =
          scala.concurrent.ExecutionContext.fromExecutorService(pool)
        val newVersions =
          try {
            val futures = touched.toSeq.map { p =>
              scala.concurrent.Future {
                import spark.implicits._
                val slice = cached.filter(partOf(nParts) === p).as[WalRecord]
                val protect = versions.get(p) // the manifest-referenced version
                val prev = protect match {
                  case Some(v) => spark.read.parquet(s"$base/p=$p/v=$v")
                  case None => emptySnapshot(spark)
                }
                val prevVs = committedVersions(spark, s"$base/p=$p")
                p -> commitVersion(merge(prev, slice), s"$base/p=$p", prevVs, protect)
              }
            }
            scala.concurrent.Await.result(
              scala.concurrent.Future.sequence(futures),
              scala.concurrent.duration.Duration.Inf).toMap
          } finally pool.shutdown()
        writeManifest(spark, base, nParts, versions ++ newVersions)
      } finally cached.unpersist()
  }

  /** Attach to a WAL stream: records → materialized snapshot table at
    * `base`, hash-partitioned into `nParts` (see [[partitionedSink]]). */
  def materialize(records: Dataset[WalRecord], base: String,
      checkpointDir: String, nParts: Int): org.apache.spark.sql.streaming.StreamingQuery =
    records.writeStream
      .foreachBatch(partitionedSink(base, nParts))
      .option("checkpointLocation", checkpointDir)
      .start()
}
