package perfbench

import java.nio.file.{Files, Path}

import org.apache.parquet.conf.PlainParquetConfiguration
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.streaming.WalRecord

/** Seeded input generation. Every table has the shape of the repository's
  * generated data (event types uniform over five, `props` = `{"k": n}`,
  * documents drawn from a 30-word vocabulary with 5% planted near
  * duplicates, 64-dim embeddings with ten labels); only the seed decides
  * the values. */
object Gen {
  final case class Event(id: Long, userId: Long, eventType: String, k: Int)

  val eventTypes: Array[String] = Array("click", "purchase", "error", "signup", "view")

  def events(seed: Long, n: Int, users: Int): Array[Event] = {
    val rnd = new scala.util.Random(seed)
    Array.tabulate(n)(i => Event(i.toLong, rnd.nextInt(users).toLong,
      eventTypes(rnd.nextInt(eventTypes.length)), rnd.nextInt(100)))
  }

  /** A seeded bijection of `0 until n`, spread over a wide id range so
    * entity ids do not coincide with user or event ids. */
  def bijection(seed: Long, n: Int): Array[Long] =
    new scala.util.Random(seed ^ 0x5DEECE66DL).shuffle((0 until n).toVector)
      .map(v => 1000000L + 7L * v).toArray

  /** `error` → DELETE, every other type → UPDATE, payload = props. */
  def walRecord(e: Event, id: Long, entityId: Long): WalRecord =
    WalRecord(id, entityId, if (e.eventType == "error") "DELETE" else "UPDATE",
      s"""{"k": ${e.k}}""")

  private val walSchema = MessageTypeParser.parseMessageType(
    """message wal {
      |  required int64 id;
      |  required int64 entityId;
      |  required binary operation (UTF8);
      |  optional binary payload (UTF8);
      |  optional binary entityType (UTF8);
      |}""".stripMargin)

  /** Shared by every WAL file written: building a fresh configuration per
    * file cost more than writing the file. */
  private val writerConf = new PlainParquetConfiguration()

  /** One WAL file in the layout `Sources.walFileStream` reads, written
    * directly (no Spark job), so rendering never competes with the
    * pipeline under test. */
  def writeWalFile(path: Path, recs: Iterable[WalRecord]): Unit = {
    Files.deleteIfExists(path)
    val w = ExampleParquetWriter.builder(new LocalOutputFile(path)).withConf(writerConf)
      .withType(walSchema).build()
    val f = new SimpleGroupFactory(walSchema)
    try recs.foreach { r =>
      val g = f.newGroup().append("id", r.id).append("entityId", r.entityId)
        .append("operation", r.operation)
      if (r.payload != null) g.append("payload", r.payload)
      w.write(g.append("entityType", r.entityType))
    } finally w.close()
  }

  private val vocab = ("scan column window order sort part agg value line key join merge " +
    "group query a vector hash slow stream filter fast the batch spark table small data " +
    "big customer row").split(" ")
  private val langs = Array("en", "en", "en", "de", "fr", "es", "zh")

  /** The tables the store cycle reads, in the shape of the sf0.01 test data
    * (500 documents, 500 embeddings, 10,000 events over 149 users). */
  def writeStoreTables(spark: SparkSession, seed: Long, dir: String,
      docs: Int, embs: Int, nEvents: Int): Unit = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    // every 20th document near-duplicates the one ten before it, so the
    // duplicate-cluster structure (and the fixpoint work over it) is the
    // same for every seed; only the words change
    val texts = new Array[String](docs)
    for (i <- 0 until docs) {
      texts(i) =
        if (i % 20 == 19) texts(i - 10) + " dup"
        else Seq.fill(15 + rnd.nextInt(75))(vocab(rnd.nextInt(vocab.length))).mkString(" ")
    }
    val docRows = texts.zipWithIndex.map { case (t, i) =>
      (i.toLong, t, langs(rnd.nextInt(langs.length)), s"src${rnd.nextInt(20)}", t.length.toLong)
    }
    write(docRows.toSeq.toDF("doc_id", "text", "lang", "source", "n_chars"), s"$dir/documents.parquet")
    val embRows = (0 until embs).map { i =>
      val v = Array.fill(64)(rnd.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      (i.toLong, v.map(x => (x / norm).toFloat), rnd.nextInt(10))
    }
    write(embRows.toDF("vec_id", "embedding", "label"), s"$dir/embeddings.parquet")
    val users = math.max(nEvents / 67, 1)
    val evRows = events(seed, nEvents, users).map { e =>
      (e.id, 1704067200000000L + e.id * 30000000L + rnd.nextInt(30000000),
        e.userId, e.eventType, math.round(rnd.nextDouble() * 20000) / 100.0, s"""{"k": ${e.k}}""")
    }
    write(evRows.toSeq.toDF("event_id", "ts_us", "user_id", "event_type", "value", "props")
      .select(col("event_id"), timestamp_micros(col("ts_us")).as("ts"), col("user_id"),
        col("event_type"), col("value"), col("props")), s"$dir/events.parquet")
  }

  private def write(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(path)
}
