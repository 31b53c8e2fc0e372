package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Source and sink shapes only specs use: the ORC writer, the JSONL
  * document file stream, and the packed-shard and bucketed-table sinks
  * over the [[Sources]] readers and writers. */
object TestSinks {
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
