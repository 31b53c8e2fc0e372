package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.streaming.WalRecord

/** Source/sink surface. The reference reads its WAL from whatever RDBMS
  * Hibernate points at and writes to arbitrary external targets through the
  * sink callback (`/root/reference/src/test/resources/hibernate.cfg.xml:7-12`,
  * `WalEntityConsumerCallback.java:10-17`). The Spark re-expression keeps
  * both ends pluggable:
  *
  *  - batch sources: parquet / csv / json / jdbc (jdbc = the direct
  *    analog of the reference's RDBMS WAL table);
  *  - streaming sources: file-arrival streams over the same formats with
  *    a fixed schema (required by Structured Streaming), plus rate for
  *    testing;
  *  - sinks: partitioned parquet writers, and the streaming foreachBatch
  *    sink in graft.streaming.Streams.
  *
  * Scale notes: every reader exposes options for partition sizing
  * (`maxFilesPerTrigger` on streams); writers default to partitioning by a
  * low-cardinality column, never by high-cardinality keys (small-files
  * problem). No collect anywhere.
  */
object Sources {

  /** The WAL schema, fixed — streaming sources must declare it up front
    * (mirrors `WalEntity.java:27-46`, including the `entity_type`
    * discriminator `WalEntity.java:41-46`). `entityType` is declared
    * nullable so pre-discriminator WAL files (4-column) still load — the
    * reader normalizes absent/null values to
    * [[graft.streaming.WalRecord.DefaultEntityType]], the reference's own
    * constructor default. */
  val walSchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("entityId", LongType, nullable = false),
    StructField("operation", StringType, nullable = false),
    StructField("payload", StringType, nullable = true),
    StructField("entityType", StringType, nullable = true)))

  // ---- batch sources ----

  def parquet(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** ORC — the other columnar format Spark supports natively (no extra
    * jar; the avro CONNECTOR is absent from this build, so avro is
    * deliberately not offered). Same pushdown/pruning contract as
    * parquet: predicates and projections reach the scan
    * (`PushedFilters`/`ReadSchema` — asserted in SourcesSpec), so a
    * warehouse already on ORC plugs in without a rewrite. Also valid as
    * `walFileStream(format = "orc")` for the streaming ingress. */
  def orc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  def csv(spark: SparkSession, path: String, schema: StructType = null,
      header: Boolean = true): DataFrame = {
    val r = spark.read.option("header", header.toString)
    (if (schema != null) r.schema(schema) else r.option("inferSchema", "true")).csv(path)
  }

  def json(spark: SparkSession, path: String, schema: StructType = null): DataFrame = {
    val r = spark.read
    (if (schema != null) r.schema(schema) else r).json(path)
  }

  /** The JSONL document-corpus schema ([[jsonlDocuments]]); `lang`,
    * `source`, `label` are optional in the wire format (absent → null). */
  val documentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = true),
    StructField("text", StringType, nullable = true),
    StructField("lang", StringType, nullable = true),
    StructField("source", StringType, nullable = true),
    StructField("label", LongType, nullable = true)))

  /** JSONL document corpus reader — the de-facto interchange format for
    * training-data pipelines. The schema is ENFORCED, never inferred
    * (inference is one extra full pass over the corpus and a contract
    * that silently drifts with the data), and malformed lines are
    * QUARANTINED into a `_corrupt_record` column rather than failing the
    * job (FAILFAST: one bad line kills a 100 TB ingest) or vanishing
    * (DROPMALFORMED: silent data loss). Split the result with
    * [[splitCorrupt]] and route the bad rows to a quarantine sink. */
  def jsonlDocuments(spark: SparkSession, path: String): DataFrame =
    spark.read
      .schema(documentsSchema.add(StructField("_corrupt_record", StringType, nullable = true)))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(path)

  /** (good rows without the quarantine column, corrupt raw lines).
    * Caches the parse first — Spark refuses filters that reference only
    * the internal corrupt-record column on an uncached frame, and the
    * two halves would otherwise re-read the corpus once each. When done,
    * unpersist the INPUT frame (the one passed in): it owns the cached
    * plan — `unpersist` on the returned halves is a no-op, since they
    * are Filter/Project wrappers whose plans never `sameResult` the
    * cached one. */
  def splitCorrupt(parsed: DataFrame): (DataFrame, DataFrame) = {
    val cached = parsed.cache()
    val good = cached.filter(col("_corrupt_record").isNull).drop("_corrupt_record")
    val bad = cached.filter(col("_corrupt_record").isNotNull).select(col("_corrupt_record"))
    (good, bad)
  }

  /** Native binary-file ingress — the multimodal INGEST leg: a directory
    * of media files as (path, modificationTime, length, content), the
    * payload an opaque binary column with the file metadata typed
    * alongside. `pathGlobFilter` prunes by name at LISTING time (a
    * non-matching file is never opened); `recursiveFileLookup` walks
    * nested shard dirs; `spark.sql.files.maxPartitionBytes` governs how
    * many files land in one task. Column pruning is real here: a
    * metadata-only query (count, size histogram, partition planning)
    * reads no payload bytes at all — asserted in SourcesSpec. Feeds
    * [[graft.ops.Multimodal.mediaFromFiles]]. */
  def binaryFiles(spark: SparkSession, path: String, glob: String = "*"): DataFrame =
    spark.read.format("binaryFile")
      .option("pathGlobFilter", glob)
      .option("recursiveFileLookup", "true")
      .load(path)

  /** JDBC WAL table — the direct analog of the reference's source. Pass
    * predicates/partitioning options for parallel reads (numPartitions +
    * partitionColumn=id bounds the per-task slice of the log). */
  def jdbc(spark: SparkSession, url: String, table: String,
      options: Map[String, String] = Map.empty): DataFrame =
    spark.read.format("jdbc").option("url", url).option("dbtable", table)
      .options(options).load()

  // ---- streaming sources ----

  /** File-arrival WAL stream: new files dropped into `path` are consumed
    * in arrival order, `maxFilesPerTrigger` bounds micro-batch size (the
    * Spark analog of the reference's head-poll loop, `WalConsumer.java:130-154`). */
  def walFileStream(spark: SparkSession, path: String, format: String = "parquet",
      maxFilesPerTrigger: Int = 16): Dataset[WalRecord] = {
    import spark.implicits._
    spark.readStream
      .schema(walSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .format(format)
      .load(path)
      // legacy 4-column WAL files surface entityType as null under the
      // declared schema; normalize to the reference's constructor default
      .withColumn("entityType",
        coalesce(col("entityType"), lit(WalRecord.DefaultEntityType)))
      .as[WalRecord]
  }

  // ---- sinks ----

  /** Partitioned parquet sink. `partitionBy` should be low-cardinality
    * (date, type); sorting within partitions improves scan locality and
    * min/max pruning on the sort key. The sort is PREFIXED with the
    * partition columns: the partitioned-write planner requires the child
    * ordering to start with them and otherwise inserts its own
    * Sort(partitionCols), under which the caller's sort is optimized
    * away (EliminateSorts) — the data would land unsorted while the code
    * read as if it weren't. */
  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String],
      sortCols: Seq[String] = Nil): Unit = {
    val sorted =
      if (sortCols.nonEmpty)
        df.sortWithinPartitions((partitionCols ++ sortCols).map(col): _*)
      else df
    sorted.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(path)
  }

  /** Compact a parquet directory to ~targetBytes files. Streaming sinks
    * and partitioned merges accrete small files; scans then pay per-file
    * open cost and lose row-group locality. Rewrites into
    * ceil(total/target) files via coalesce (no shuffle) and swaps the
    * directory atomically via rename. Returns the new file count. */
  def compact(spark: SparkSession, path: String,
      targetBytes: Long = 128L * 1024 * 1024): Int = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // refuse Hive-partitioned layouts: a flat rewrite would destroy the
    // partition directories (and their pruning); compact per leaf instead
    val partitioned = fs.listStatus(p).exists(s => s.isDirectory && s.getPath.getName.contains("="))
    require(!partitioned,
      s"$path has partition directories — compact each leaf directory instead")
    val old = new org.apache.hadoop.fs.Path(path + "__old")
    require(!fs.exists(old),
      s"$old exists — a previous compact crashed mid-swap; recover it first")
    val totalBytes = fs.getContentSummary(p).getLength
    val nFiles = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    val tmp = new org.apache.hadoop.fs.Path(path + "__compacting")
    spark.read.parquet(path).coalesce(nFiles).write
      .mode("overwrite").parquet(tmp.toString)
    // two renames, checked: a crash between them leaves the data intact at
    // __old (detected and refused by the guard above on the next run)
    if (!fs.rename(p, old))
      throw new java.io.IOException(s"compact: failed to move $p aside")
    if (!fs.rename(tmp, p)) {
      fs.rename(old, p) // roll back
      throw new java.io.IOException(s"compact: failed to install $tmp")
    }
    fs.delete(old, true)
    nFiles
  }
}
