package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.{col, lit, lower, regexp_extract, when, xxhash64}

import graft.ops.MediaRow

/** Source and sink shapes only specs use: the ORC writer, the JSONL
  * document file stream, the media table over real files, and the
  * packed-shard and bucketed-table sinks over the [[Sources]] readers
  * and writers. */
object TestSinks {
  /** Media table from a REAL file directory over
    * [[Sources.binaryFiles]]: doc_id is a stable hash of
    * the file path, format the lowercased extension, dims derived
    * deterministically from the length (no codecs in this container; a
    * real header parse plugs into the same decode batch). The payload
    * column is the file's bytes, untouched. */
  def mediaFromFiles(spark: SparkSession, path: String,
      glob: String = "*"): Dataset[MediaRow] = {
    import spark.implicits._
    val ext = regexp_extract(col("path"), "\\.([^./\\\\]+)$", 1)
    Sources.binaryFiles(spark, path, glob)
      .select(
        xxhash64(col("path")).as("doc_id"),
        col("content").as("payload"),
        lower(when(ext === "", lit("bin")).otherwise(ext)).as("format"),
        (col("length") % 640).cast("int").as("width"),
        (col("length") % 480).cast("int").as("height"))
      .as[MediaRow]
  }

  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)

  /** File-arrival document stream (JSONL by default): new corpus files
    * dropped into `path` flow through the pipeline's stateless screens
    * (graft.streaming.Streams.noveltyStream), whose driver gate uses a
    * replay feed instead. Schema enforced for the same reasons as
    * [[Sources.jsonlDocuments]]; corrupt lines arrive null-columned here
    * (streaming sources cannot carry the quarantine column — route
    * suspect rows by `isnull(text)` in the first select). */
  def documentsFileStream(spark: SparkSession, path: String,
      format: String = "json", maxFilesPerTrigger: Int = 16): DataFrame =
    spark.readStream
      .schema(Sources.documentsSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .format(format)
      .load(path)

  /** Packed-shard sink, aligned with the x31 packing / x37 manifest
    * layout: one directory per writer (low cardinality — the parallelism
    * knob), rows sorted by (shard_id, doc_id) within each writer's files
    * so the manifest's `first_doc_id` seek key doubles as the parquet
    * min/max prune key. One shuffle (co-locate each writer), then a
    * partition-local sort — no global ordering, which a 1000-writer
    * layout neither needs nor could afford. */
  def writePackedShards(packed: DataFrame, path: String): Unit =
    Sources.writePartitioned(packed.repartition(col("writer")), path,
      Seq("writer"), Seq("shard_id", "doc_id"))

  /** Bucketed table sink: pre-shuffles on the bucket key once at write
    * time, so every later equi-join/agg on that key runs shuffle-free.
    * Requires saveAsTable (bucketing lives in the catalog). */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
      nBuckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(nBuckets, bucketCol)
      .sortBy(bucketCol)
      .format("parquet")
      .saveAsTable(table)
}
