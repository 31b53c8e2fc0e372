package graft.model

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * All loads are plain `spark.read.parquet` scans so Catalyst keeps
  * predicate pushdown and column pruning intact — operators downstream
  * filter/select on these DataFrames and the parquet reader sees the
  * pushed filters (`PushedFilters` in `.explain("formatted")`).
  */
object Tables {
  /** The driver table inventory (TESTDATA.md) minus `events`, which needs
    * the timestamp normalization in [[events]]. Single source of truth for
    * accessors and SQL view registration. */
  val plainNames: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "documents", "embeddings")

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** The WAL/changelog stand-in (SURVEY.md §1.3). Column mapping to the
    * reference's WAL schema (`/root/reference/src/main/java/ir/sahab/walconsumer/WalEntity.java:27-46`):
    * `event_id` ↔ `id` (IDENTITY log sequence number — total order is
    * materialized in the data, never generated engine-side),
    * `user_id` ↔ `entity_id`, `event_type` ↔ `operation`,
    * `props` ↔ `entity_bytes` (JSON payload instead of opaque bytes).
    *
    * The driver has generated `ts` in two physical forms across rounds, and
    * both must land on identical TimestampType (LTZ) values so every
    * downstream operator and oracle comparison is format-independent:
    *   - timestamp[ns]: Spark only exposes INT64(TIMESTAMP(NANOS)) via the
    *     nanosAsLong legacy conf → read as Long, truncate ns → µs (matches
    *     what the DuckDB oracle's ms/µs-level functions observe).
    *   - timestamp[us] naive (isAdjustedToUTC=false): with inferTimestampNTZ
    *     disabled the scan itself yields TimestampType under the session
    *     UTC zone — conversion happens IN the parquet reader, so predicates
    *     on `ts` still push down to the scan (a cast-wrapped column would
    *     block pushdown, which at 100 TB means losing row-group pruning on
    *     the time axis). All graft entry points pin
    *     spark.sql.session.timeZone=UTC, so the naive µs values are read as
    *     the same instants DuckDB sees.
    * The TimestampNTZ cast backstop covers a schema cached before the conf
    * was set (NTZ → LTZ under UTC is value-identity).
    *
    * SESSION-CONF INVARIANT: the two pins below are session-global and
    * stay set for the session's lifetime — they CANNOT be save/restored
    * around this call, because parquet reads are lazy and the conf is
    * consulted again at execution time, after this method returned. The
    * invariant a host application must hold: no graft table relies on NTZ
    * inference (verified — every other table is numeric/string/binary),
    * and any NON-graft read in the same session that needs NTZ inference
    * or INT64(NANOS)-as-timestamp must use its own SparkSession
    * (`spark.newSession()` isolates runtime conf; TablesSpec pins that).
    * The set is read-checked so repeated calls never touch the conf map
    * after the first.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    pinConf(spark, "spark.sql.legacy.parquet.nanosAsLong", "true")
    pinConf(spark, "spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    val df = table(spark, dir, "events")
    df.schema("ts").dataType match {
      case LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }
  }

  /** Set a session conf only when it differs — see the invariant note on
    * [[events]]. */
  private def pinConf(spark: SparkSession, key: String, value: String): Unit =
    if (!spark.conf.getOption(key).contains(value)) spark.conf.set(key, value)

  def lineitem(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "region")
  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")

  /** Money/measure columns are doubles in the source parquet. Summing raw
    * doubles is addition-order dependent, which breaks hash-equality against
    * the DuckDB oracle. Scale each VALUE to integer cents BEFORE the sum so
    * every aggregate is exact integer math — deterministic under any
    * partitioning/combine order (the 100 TB posture: results must not depend
    * on the shuffle schedule).
    */
  def cents(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    round(c * 100).cast("long")

  /** SQL-side twin of [[cents]] for oracle queries. */
  def centsSql(e: String): String = s"CAST(ROUND(($e) * 100) AS BIGINT)"

  /** Scale to 1e-4 precision integer (for similarity scores etc.). */
  def scaled4(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    round(c * 10000).cast("long")
  def scaled4Sql(e: String): String = s"CAST(ROUND(($e) * 10000) AS BIGINT)"

  /** Exact floor division on longs, identical in Spark and DuckDB: `%` is
    * C-style truncated remainder in both engines, and removing the
    * positive remainder first makes the quotient exact under any integer
    * division convention (Spark's `/`+cast truncates, DuckDB's `//`
    * truncates — both land on the same already-exact quotient). */
  def fdiv(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    // `div` is Spark's IntegralDivide — the math stays in 64-bit integers
    // end to end. The `/`+cast form it replaces went through double
    // division, exact only while the numerator stayed below 2^53.
    val adjusted = a - (((a % b) + b) % b)
    call_function("div", adjusted, b).cast(LongType)
  }

  /** The shared 9/10 freeze rule: documents with `doc_id` at or below
    * floor(9·max/10) are the frozen HISTORY slice, the rest arrivals —
    * the one boundary every history/arrival split, freeze persist and
    * store audit uses (the stores' `History` axis). Never memoized: each
    * caller keeps its own 1-row job. */
  def historyThr(maxId: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    fdiv(lit(9L) * maxId, lit(10L))

  def historyThr(maxId: Long): Long = Math.floorDiv(9L * maxId, 10L)

  /** [[historyThr]] of `docs`' doc ids, collected (one 1-row job). */
  def historyThr(docs: DataFrame): Long =
    docs.agg(historyThr(max(col("doc_id")))).collect()(0).getLong(0)

  /** SQL-side twin of [[fdiv]] for oracle queries. */
  def fdivSql(a: String, b: String): String =
    s"CAST((($a) - (((($a) % ($b)) + ($b)) % ($b))) // ($b) AS BIGINT)"
}
