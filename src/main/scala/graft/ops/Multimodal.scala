package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.model.Tables

/** A media row: opaque binary payload + typed metadata — the multimodal
  * column pattern (image/audio/video as `binary` with a metadata struct). */
case class MediaRow(doc_id: Long, payload: Array[Byte], format: String,
    width: Int, height: Int)

/** REAL image-decode output: actual pixel dimensions and a deterministic
  * pixel checksum from the decoded raster, plus a decode verdict (a
  * payload that is not a decodable image yields decoded = false, never a
  * task failure — one corrupt file must not kill a 100 TB ingest). */
case class ImageFeatures(doc_id: Long, format: String, img_w: Long,
    img_h: Long, px_checksum: Long, decoded: Boolean)

/** REAL audio-decode output (`javax.sound.sampled`, WAV/AIFF/AU in the
  * base JDK): actual sample rate, channel count, frame count, and a
  * deterministic checksum of the decoded PCM bytes; same
  * degrade-to-verdict contract as [[ImageFeatures]]. */
case class AudioFeatures(doc_id: Long, format: String, sample_rate: Long,
    channels: Long, n_frames: Long, pcm_checksum: Long, decoded: Boolean)

/** REAL video-decode output: the clip's frame count, the number of
  * SAMPLED frames actually decoded (first/middle/last — the video verb:
  * never decode them all), and a checksum over the sampled frames'
  * pixels; same degrade-to-verdict contract as [[ImageFeatures]]. */
case class VideoFeatures(doc_id: Long, format: String, n_frames: Long,
    n_sampled: Long, frame_checksum: Long, decoded: Boolean)

/** X15: multimodal column plumbing — the Spark-side machinery a media
  * pipeline needs: a `binary` payload column with typed metadata, a typed
  * `Dataset[MediaRow]`, and per-partition batch "decode"/feature-extract.
  *
  * The decode paths share the mapPartitions batch shape (a byte-stats
  * stub over a synthetic media table lives with the test oracles): REAL
  * image decode ([[Multimodal.decodeImages]]) via the JDK's
  * `javax.imageio` (PNG/GIF/BMP/JPEG readers ship with the JVM — no
  * external codec needed) yielding actual pixel dimensions and a raster
  * checksum, and a REAL audio decode ([[Multimodal.decodeAudio]]) via
  * `javax.sound.sampled` (WAV/AIFF/AU) yielding sample rate / channels /
  * frames / PCM checksum, and a REAL frame-sampled video decode
  * ([[Multimodal.decodeVideo]]) over multi-frame GIF — the one video
  * container the base JDK reads — counting frames and decoding ONLY the
  * sampled ones; compressed video/audio codecs (mp4, mp3) stay out of
  * this container's reach, so those decodes remain where a JNI/ONNX call
  * would plug into the same batch. The plumbing — binary column, Encoder
  * schema, mapPartitions batch shape, partition sizing — is shared by
  * all of them.
  *
  * Scale notes: decode is per-partition (`mapPartitions`), so codec init
  * happens once per task, not per row — the same shape as a Pandas-UDF
  * `mapInPandas` batch in PySpark. Binary payloads stay columnar parquet;
  * metadata predicates (format/width) push down without touching payload
  * bytes.
  */
object Multimodal {
  import Tables._

  /** REAL image decode over any media table: `javax.imageio` readers on
    * the payload bytes, per-partition batches. Returns actual pixel
    * width/height and a deterministic raster checksum (sum of the 24-bit
    * RGB value per pixel, row-major); a payload no reader claims (or a
    * truncated/corrupt file) yields (-1, -1, 0, decoded = false) instead
    * of failing the task. ImageIO's disk cache is disabled ONCE per
    * partition (the per-task init a codec amortizes), so decode never
    * touches executor-local temp files. */
  def decodeImages(media: Dataset[MediaRow]): Dataset[ImageFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      javax.imageio.ImageIO.setUseCache(false) // once per task, not per row
      rows.map { r =>
        val img =
          try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(r.payload))
          catch { case _: Exception => null }
        if (img == null) ImageFeatures(r.doc_id, r.format, -1L, -1L, 0L, decoded = false)
        else {
          var sum = 0L
          var y = 0
          while (y < img.getHeight) {
            var x = 0
            while (x < img.getWidth) { sum += (img.getRGB(x, y) & 0xffffff); x += 1 }
            y += 1
          }
          ImageFeatures(r.doc_id, r.format, img.getWidth.toLong, img.getHeight.toLong,
            sum, decoded = true)
        }
      }
    }
  }

  /** The `javax.sound.sampled` SPI reader set, loaded without
    * AudioSystem's globally synchronized JDK13Services lookup — one
    * ServiceLoader pass per task (see [[decodeAudio]]). Ordering caveat
    * (r20): AudioSystem's JDK13Services additionally honors the
    * `javax.sound.sampled.spi` system-property/properties-file provider
    * ordering, which plain ServiceLoader does not — a deployment that
    * installs a third-party reader ahead of the JDK ones could see a
    * different winning reader. Acceptable here: the corpus is JDK-only
    * WAV/AIFF/AU, where every JDK reader accepts exactly its own format
    * and rejects the others, so probe order cannot change the result.
    * Verified win (r20 isolated 32c REPEAT=3 A/B): 2.96 s vs 3.19 s for
    * the AudioSystem path — the r19 50 s outlier was host stall, not
    * this change. */
  private def audioReaders(): Seq[javax.sound.sampled.spi.AudioFileReader] = {
    val it = java.util.ServiceLoader
      .load(classOf[javax.sound.sampled.spi.AudioFileReader]).iterator()
    val b = Seq.newBuilder[javax.sound.sampled.spi.AudioFileReader]
    while (it.hasNext) b += it.next()
    b.result()
  }

  /** AudioSystem.getAudioInputStream's probe contract over a resolved
    * reader list: first reader that doesn't reject the stream wins;
    * none → UnsupportedAudioFileException (the decoded=false path). */
  private def openAudio(readers: Seq[javax.sound.sampled.spi.AudioFileReader],
      in: java.io.InputStream): javax.sound.sampled.AudioInputStream = {
    readers.foreach { r =>
      try return r.getAudioInputStream(in)
      catch { case _: javax.sound.sampled.UnsupportedAudioFileException => () }
    }
    throw new javax.sound.sampled.UnsupportedAudioFileException(
      "Stream of unsupported format")
  }

  /** REAL audio decode over any media table: `javax.sound.sampled`
    * readers (WAV/AIFF/AU ship with the JDK) on the payload bytes,
    * per-partition batches — the audio twin of [[decodeImages]]. Yields
    * the actual sample rate / channels / frame count plus a checksum of
    * the decoded PCM stream; compressed formats without an in-JVM codec
    * (mp3, aac) and corrupt payloads degrade to decoded = false. */
  def decodeAudio(media: Dataset[MediaRow]): Dataset[AudioFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      // SPI readers resolved ONCE per task (r19 opt): every
      // AudioSystem.getAudioInputStream call funnels through
      // JDK13Services.getProviders — a GLOBALLY SYNCHRONIZED provider
      // lookup, so 32 decode threads serialize on one class lock per
      // row. ServiceLoader yields the same javax.sound.sampled readers
      // (WAVE/AU/AIFF ship with the JDK) without the global lock; the
      // probe loop below is exactly AudioSystem's own contract
      // (first reader that doesn't throw UnsupportedAudioFileException).
      val readers = audioReaders()
      rows.map { r =>
        try {
          val in = openAudio(readers,
            new java.io.BufferedInputStream(new java.io.ByteArrayInputStream(r.payload)))
          try {
            val fmt = in.getFormat
            val frames = in.getFrameLength
            val pcm = in.readAllBytes()
            var sum = 0L
            var i = 0
            while (i < pcm.length) { sum += (pcm(i) & 0xff); i += 1 }
            AudioFeatures(r.doc_id, r.format, fmt.getSampleRate.toLong,
              fmt.getChannels.toLong, frames, sum, decoded = true)
          } finally in.close()
        } catch { case _: Exception =>
          AudioFeatures(r.doc_id, r.format, -1L, -1L, -1L, 0L, decoded = false)
        }
      }
    }
  }

  /** Deterministic generated-PNG corpus for the registered x15 — one REAL
    * PNG file per document, written into `out` by executor tasks (the
    * driver holds only the directory name, never the ids): doc d
    * gets a (1 + d%8) × (1 + d%6) image whose pixel (x, y) is
    * (7d + 3x + 11y) mod 2^24 — closed-form, so the DuckDB oracle can
    * recompute dims and raster checksum arithmetically while the engine
    * side round-trips genuine `javax.imageio` PNG bytes. File names are
    * keyed by doc_id (idempotent overwrite — a retried task rewrites the
    * same bytes, no commit protocol needed). Local-FS scratch here; at
    * 100 TB the same foreachPartition writes through the Hadoop FS API to
    * shared storage and the ingest below reads the same path.
    * [[Stages.pngCorpus]] builds it once per (session, sfDir). */
  private[graft] def writePngCorpus(spark: SparkSession, dir: String, out: String): Unit = {
    import spark.implicits._
    documents(spark, dir).select(col("doc_id")).as[Long]
      .foreachPartition { (ids: Iterator[Long]) =>
        javax.imageio.ImageIO.setUseCache(false) // once per task
        ids.foreach { d =>
          val w = (1 + d % 8).toInt
          val h = (1 + d % 6).toInt
          val img = new java.awt.image.BufferedImage(
            w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              img.setRGB(x, y, ((7 * d + 3 * x + 11 * y) % 16777216).toInt)
              x += 1
            }
            y += 1
          }
          javax.imageio.ImageIO.write(img, "png", new java.io.File(out, s"img_$d.png"))
        }
      }
  }

  /** x15c's generation parameters — closed-form in doc_id so the DuckDB
    * oracle recomputes every field arithmetically: sample rate
    * 8000 + 1000·(d mod 3) Hz, 1 + d mod 2 channels, 1 + d mod 16
    * frames of 16-bit little-endian signed PCM whose RAW byte j is
    * (5d + 13j) mod 256. */
  private def wavRate(d: Long): Float = (8000 + 1000 * (d % 3)).toFloat
  private def wavChannels(d: Long): Int = (1 + d % 2).toInt
  private def wavFrames(d: Long): Int = (1 + d % 16).toInt

  /** The WAVE-capable SPI writer, resolved without AudioSystem's
    * globally synchronized lookup (the [[audioReaders]] rationale on
    * the write side — AudioSystem.write takes the same class lock per
    * call, serializing 32 writer tasks). */
  private def wavWriter(): javax.sound.sampled.spi.AudioFileWriter = {
    val it = java.util.ServiceLoader
      .load(classOf[javax.sound.sampled.spi.AudioFileWriter]).iterator()
    while (it.hasNext) {
      val w = it.next()
      if (w.isFileTypeSupported(javax.sound.sampled.AudioFileFormat.Type.WAVE)) return w
    }
    throw new IllegalStateException("no WAVE AudioFileWriter on this JDK")
  }

  /** Deterministic generated-WAV corpus for the registered x15c — one
    * REAL RIFF/WAVE file per document, written by executor tasks (the
    * [[writePngCorpus]] idiom: driver holds only the directory name; file
    * names keyed by doc_id, idempotent overwrite; local-FS scratch here,
    * the same foreachPartition writes through the Hadoop FS API to shared
    * storage at 100 TB). PCM is uncompressed, so the oracle can recompute
    * the decoded byte stream arithmetically while the engine side
    * round-trips genuine `javax.sound.sampled` WAVE bytes. */
  private[graft] def writeWavCorpus(spark: SparkSession, dir: String, out: String): Unit = {
    import spark.implicits._
    documents(spark, dir).select(col("doc_id")).as[Long]
      .foreachPartition { (ids: Iterator[Long]) =>
        val writer = wavWriter() // once per task, not per row
        ids.foreach { d =>
          val fmt = new javax.sound.sampled.AudioFormat(
            wavRate(d), 16, wavChannels(d), true, false) // 16-bit signed LE PCM
          val pcm = new Array[Byte](wavFrames(d) * fmt.getFrameSize)
          var j = 0
          while (j < pcm.length) { pcm(j) = ((5 * d + 13 * j) % 256).toByte; j += 1 }
          val ais = new javax.sound.sampled.AudioInputStream(
            new java.io.ByteArrayInputStream(pcm), fmt, wavFrames(d).toLong)
          try writer.write(ais,
            javax.sound.sampled.AudioFileFormat.Type.WAVE,
            new java.io.File(out, s"snd_$d.wav"))
          finally ais.close()
        }
      }
  }

  /** x15c: the audio modality END TO END on the REAL decode path —
    * generated-WAV corpus → [[graft.sources.Sources.binaryFiles]] ingest
    * (payload = actual file bytes) → per-partition [[decodeAudio]]
    * (`javax.sound.sampled`), emitting the actual sample rate / channel
    * count / frame count and the decoded-PCM checksum. WAV PCM is
    * lossless and the byte function closed-form, so the oracle checks
    * the codec end to end: a wrong byte anywhere in write → ingest →
    * decode breaks the checksum equality (the x15/x15b idiom applied to
    * the second modality; corrupt payloads degrade to decoded = 0 — the
    * SourcesSpec degradation leg). */
  def x15cAudioPipeline(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media = graft.sources.Sources.binaryFiles(spark, Stages.wavCorpus(spark, dir), "*.wav")
      .select(
        regexp_extract(col("path"), "snd_(\\d+)\\.wav$", 1).cast(LongType).as("doc_id"),
        col("content").as("payload"),
        lit("wav").as("format"),
        lit(0).as("width"), lit(0).as("height"))
      .as[MediaRow]
    decodeAudio(media)
      .select(col("doc_id"), col("sample_rate"), col("channels"), col("n_frames"),
        col("pcm_checksum"), col("decoded").cast(LongType).as("decoded"))
      .orderBy("doc_id")
  }

  /** x15: media pipeline on the REAL decode path — generated-PNG corpus
    * → [[graft.sources.Sources.binaryFiles]] ingest (payload = actual
    * file bytes, listing-time glob prune) → per-partition
    * [[decodeImages]] (`javax.imageio`), emitting actual pixel dims and
    * the decoded-raster checksum. doc_id rides the file NAME (the stable
    * join key back to `documents`), not a path hash. PNG is lossless and
    * the pixel function is closed-form, so the oracle checks the decoder
    * END TO END: a wrong byte anywhere in write → ingest → decode breaks
    * the checksum equality. */
  def x15MediaPipeline(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media = graft.sources.Sources.binaryFiles(spark, Stages.pngCorpus(spark, dir), "*.png")
      .select(
        regexp_extract(col("path"), "img_(\\d+)\\.png$", 1).cast(LongType).as("doc_id"),
        col("content").as("payload"),
        lit("png").as("format"),
        lit(0).as("width"), lit(0).as("height"))
      .as[MediaRow]
    decodeImages(media)
      .select(col("doc_id"), col("img_w"), col("img_h"), col("px_checksum"),
        col("decoded").cast(LongType).as("decoded"))
      .orderBy("doc_id")
  }

  /** x15b transform geometry: the fixed target raster every image
    * resizes to, and the top-left crop bound. */
  private val rsW = 4
  private val rsH = 3
  private val cropMax = 2

  /** x15b: REAL media transforms — the resize/crop verbs of an image
    * pipeline, run on actual pixels (the r14 verdict's last stub,
    * promoted): the generated-PNG corpus ingests as file bytes (the x15
    * path), decodes via `javax.imageio`, and each raster is (a) resized
    * to a fixed [[rsW]]×[[rsH]] target by nearest-neighbor — a REAL
    * `BufferedImage` built pixel-by-pixel from source coords
    * ⌊X·w/Wt⌋, ⌊Y·h/Ht⌋ (the standard NN mapping, chosen over
    * `AffineTransformOp` because its inverse-map rounding is
    * implementation-defined while this one is closed-form — the oracle
    * recomputes every output pixel arithmetically), and (b) cropped to
    * the top-left min(w,2)×min(h,2) region via `getSubimage`. Checksums
    * are taken from the TRANSFORMED rasters' own getRGB, so a wrong
    * pixel anywhere in write → ingest → decode → transform breaks the
    * equality. Corrupt payloads degrade to decoded = 0, never a task
    * failure. Compressed-video/audio transforms stay where a JNI/ONNX
    * call would plug into the same per-partition batch. */
  def x15bMediaTransform(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media = graft.sources.Sources.binaryFiles(spark, Stages.pngCorpus(spark, dir), "*.png")
      .select(
        regexp_extract(col("path"), "img_(\\d+)\\.png$", 1).cast(LongType).as("doc_id"),
        col("content").as("payload"),
        lit("png").as("format"),
        lit(0).as("width"), lit(0).as("height"))
      .as[MediaRow]
    media.mapPartitions { rows =>
      javax.imageio.ImageIO.setUseCache(false) // once per task
      rows.map { r =>
        val img =
          try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(r.payload))
          catch { case _: Exception => null }
        if (img == null) (r.doc_id, -1L, -1L, 0L, 0L, 0L)
        else {
          val w = img.getWidth
          val h = img.getHeight
          val out = new java.awt.image.BufferedImage(
            rsW, rsH, java.awt.image.BufferedImage.TYPE_INT_RGB)
          var y = 0
          while (y < rsH) {
            var x = 0
            while (x < rsW) { out.setRGB(x, y, img.getRGB(x * w / rsW, y * h / rsH)); x += 1 }
            y += 1
          }
          var rs = 0L
          y = 0
          while (y < rsH) {
            var x = 0
            while (x < rsW) { rs += (out.getRGB(x, y) & 0xffffff); x += 1 }
            y += 1
          }
          val crop = img.getSubimage(0, 0, math.min(w, cropMax), math.min(h, cropMax))
          var cs = 0L
          y = 0
          while (y < crop.getHeight) {
            var x = 0
            while (x < crop.getWidth) { cs += (crop.getRGB(x, y) & 0xffffff); x += 1 }
            y += 1
          }
          (r.doc_id, w.toLong, h.toLong, rs, cs, 1L)
        }
      }
    }.toDF("doc_id", "src_w", "src_h", "rs_checksum", "crop_checksum", "decoded")
      .orderBy("doc_id")
  }

  /** x15d's generation parameters — closed-form in doc_id: 1 + d mod 7
    * frames of (16 + d mod 5) × (16 + d mod 4) pixels; frame k's pixel
    * (x, y) carries gray value (3d + 5k + 7x + 11y) mod 256. The ≥16
    * floor is load-bearing: the JDK GIF writer corrupts rasters smaller
    * than ~16×16 (bottom rows decode as palette entry 0 — measured on
    * this JDK at 2×2 through 5×4, clean from 16×16 up), so tiny frames
    * would fail the checksum equality for a writer bug, not a pipeline
    * one. */
  private def gifFrames(d: Long): Int = (1 + d % 7).toInt
  private def gifW(d: Long): Int = (16 + d % 5).toInt
  private def gifH(d: Long): Int = (16 + d % 4).toInt

  /** Deterministic generated multi-frame-GIF corpus for the registered
    * x15d — one REAL animated GIF per document (the [[writePngCorpus]] idiom:
    * executor-task writes, doc_id-keyed idempotent file names, local-FS
    * scratch standing in for shared storage). Frames are TYPE_BYTE_INDEXED
    * over an explicit 256-gray palette (r=g=b=index): GIF's indexed
    * color table stores those sRGB entries VERBATIM, so the decoded
    * `getRGB` round-trips the generated value exactly — and stays exact
    * even if a writer permutes palette indices, because the checksum
    * reads colors, not indices. (TYPE_BYTE_GRAY would NOT round-trip:
    * its linear-gray color space gamma-converts under getRGB.) */
  private[graft] def writeGifCorpus(spark: SparkSession, dir: String, out: String): Unit = {
    import spark.implicits._
    documents(spark, dir).select(col("doc_id")).as[Long]
      .foreachPartition { (ids: Iterator[Long]) =>
        javax.imageio.ImageIO.setUseCache(false) // once per task
        val gray = Array.tabulate[Byte](256)(i => i.toByte)
        val icm = new java.awt.image.IndexColorModel(8, 256, gray, gray, gray)
        ids.foreach { d =>
          val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
          val ios = javax.imageio.ImageIO.createImageOutputStream(
            new java.io.File(out, s"vid_$d.gif"))
          try {
            writer.setOutput(ios)
            writer.prepareWriteSequence(null)
            var k = 0
            while (k < gifFrames(d)) {
              val img = new java.awt.image.BufferedImage(
                gifW(d), gifH(d), java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, icm)
              val raster = img.getRaster
              var y = 0
              while (y < gifH(d)) {
                var x = 0
                while (x < gifW(d)) {
                  raster.setSample(x, y, 0, ((3 * d + 5 * k + 7 * x + 11 * y) % 256).toInt)
                  x += 1
                }
                y += 1
              }
              writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
              k += 1
            }
            writer.endWriteSequence()
          } finally {
            writer.dispose()
            ios.close()
          }
        }
      }
  }

  /** The x15d frame-sampling rule: first, middle, last — distinct, so a
    * 1-frame clip samples once and a 2-frame clip twice. Shared with the
    * oracle's `list_distinct([0, n//2, n-1])`. */
  private def sampledFrames(n: Int): Seq[Int] = Seq(0, n / 2, n - 1).distinct

  /** REAL frame-sampled video decode over any media table: the
    * `javax.imageio` GIF sequence reader on the payload bytes,
    * per-partition batches — the video twin of [[decodeImages]]. Counts
    * the clip's frames (`getNumImages`), decodes ONLY the sampled
    * first/middle/last frames, and checksums their pixels (low byte of
    * each getRGB — the gray/palette value); corrupt or frameless
    * payloads degrade to decoded = false, never a task failure. */
  def decodeVideo(media: Dataset[MediaRow]): Dataset[VideoFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      javax.imageio.ImageIO.setUseCache(false) // once per task
      rows.map { r =>
        try {
          val reader = javax.imageio.ImageIO.getImageReadersByFormatName("gif").next()
          val iis = javax.imageio.ImageIO.createImageInputStream(
            new java.io.ByteArrayInputStream(r.payload))
          try {
            reader.setInput(iis)
            val n = reader.getNumImages(true)
            require(n > 0)
            val sampled = sampledFrames(n)
            var cks = 0L
            sampled.foreach { k =>
              val img = reader.read(k)
              var y = 0
              while (y < img.getHeight) {
                var x = 0
                while (x < img.getWidth) { cks += (img.getRGB(x, y) & 0xff); x += 1 }
                y += 1
              }
            }
            VideoFeatures(r.doc_id, r.format, n.toLong, sampled.size.toLong, cks,
              decoded = true)
          } finally {
            reader.dispose()
            iis.close()
          }
        } catch { case _: Exception =>
          VideoFeatures(r.doc_id, r.format, 0L, 0L, 0L, decoded = false)
        }
      }
    }
  }

  /** x15d: the VIDEO modality end to end with FRAME SAMPLING — the
    * multimodal verb x15/x15b/x15c don't cover (decode, transform, and
    * audio are theirs; a video pipeline's first op is "sample k frames
    * per clip, never decode them all"). Generated multi-frame GIF corpus
    * ([[writeGifCorpus]]) → `binaryFile` ingest → per-partition
    * `javax.imageio` GIF sequence reader: count the clip's frames
    * (`getNumImages`), decode ONLY the sampled first/middle/last frames,
    * and checksum their pixels — the decode cost is |sampled|, not
    * |frames|, which is the operator's whole point at 100 TB of video.
    * GIF frame content is lossless-indexed and the pixel function
    * closed-form, so the oracle recomputes frame counts, the sample-set
    * size, and the sampled-pixel checksum arithmetically — a wrong byte
    * anywhere in write → ingest → seek → decode breaks the equality.
    * Corrupt payloads degrade to decoded = 0 (the x15 rule). */
  def x15dVideoPipeline(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media = graft.sources.Sources.binaryFiles(spark, Stages.gifCorpus(spark, dir), "*.gif")
      .select(
        regexp_extract(col("path"), "vid_(\\d+)\\.gif$", 1).cast(LongType).as("doc_id"),
        col("content").as("payload"),
        lit("gif").as("format"),
        lit(0).as("width"), lit(0).as("height"))
      .as[MediaRow]
    decodeVideo(media)
      .select(col("doc_id"), col("n_frames"), col("n_sampled"),
        col("frame_checksum"), col("decoded").cast(LongType).as("decoded"))
      .orderBy("doc_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x15_media_pipeline" -> x15MediaPipeline,
    "x15b_media_transform" -> x15bMediaTransform,
    "x15c_audio" -> x15cAudioPipeline,
    "x15d_video" -> x15dVideoPipeline)

  /** Oracles: all three recompute the generated corpora's closed-form
    * content functions — the PNG pair from ([[writePngCorpus]]) dims-from-
    * doc_id + checksums as double sums over (7d + 3x + 11y) mod 2^24
    * (x15b maps output coords through the nearest-neighbor rule
    * ⌊X·w/Wt⌋ first, and crops with LEAST), the audio row from
    * ([[writeWavCorpus]]) rate/channels/frames arithmetic + the PCM byte sum
    * over (5d + 13j) mod 256 — so DuckDB checks the real
    * write→ingest→decode(→transform) round trips without ever decoding
    * an image or a waveform itself. */
  val oracle: Map[String, String] = Map(
    "x15d_video" ->
      """WITH p AS (SELECT doc_id,
        |    1 + doc_id % 7 AS n, 16 + doc_id % 5 AS w, 16 + doc_id % 4 AS h
        |  FROM documents),
        |k AS (SELECT doc_id, n, w, h,
        |        unnest(list_distinct([0, n // 2, n - 1])) AS fk
        |      FROM p),
        |c AS (SELECT doc_id,
        |        CAST(sum((3 * doc_id + 5 * fk + 7 * x.i + 11 * y.j) % 256) AS BIGINT) AS cks,
        |        CAST(count(DISTINCT fk) AS BIGINT) AS n_sampled
        |      FROM k,
        |        unnest(generate_series(0, w - 1)) AS x(i),
        |        unnest(generate_series(0, h - 1)) AS y(j)
        |      GROUP BY doc_id)
        |SELECT p.doc_id,
        |  CAST(p.n AS BIGINT) AS n_frames,
        |  c.n_sampled,
        |  c.cks AS frame_checksum,
        |  CAST(1 AS BIGINT) AS decoded
        |FROM p JOIN c USING (doc_id) ORDER BY p.doc_id""".stripMargin,
    "x15c_audio" ->
      """SELECT doc_id,
        |  CAST(8000 + 1000 * (doc_id % 3) AS BIGINT) AS sample_rate,
        |  CAST(1 + doc_id % 2 AS BIGINT) AS channels,
        |  CAST(1 + doc_id % 16 AS BIGINT) AS n_frames,
        |  CAST(list_sum(list_transform(
        |    range(0, (1 + doc_id % 16) * (1 + doc_id % 2) * 2),
        |    j -> (5 * doc_id + 13 * j) % 256)) AS BIGINT) AS pcm_checksum,
        |  CAST(1 AS BIGINT) AS decoded
        |FROM documents ORDER BY doc_id""".stripMargin,
    "x15b_media_transform" ->
      s"""SELECT doc_id,
        |  CAST(1 + doc_id % 8 AS BIGINT) AS src_w,
        |  CAST(1 + doc_id % 6 AS BIGINT) AS src_h,
        |  CAST(list_sum(flatten(list_transform(range(0, $rsH), y ->
        |    list_transform(range(0, $rsW), x ->
        |      (7 * doc_id + 3 * ((x * (1 + doc_id % 8)) // $rsW)
        |                  + 11 * ((y * (1 + doc_id % 6)) // $rsH)) % 16777216)))) AS BIGINT) AS rs_checksum,
        |  CAST(list_sum(flatten(list_transform(range(0, LEAST(1 + doc_id % 6, $cropMax)), y ->
        |    list_transform(range(0, LEAST(1 + doc_id % 8, $cropMax)), x ->
        |      (7 * doc_id + 3 * x + 11 * y) % 16777216)))) AS BIGINT) AS crop_checksum,
        |  CAST(1 AS BIGINT) AS decoded
        |FROM documents ORDER BY doc_id""".stripMargin,
    "x15_media_pipeline" ->
      """SELECT doc_id,
        |  CAST(1 + doc_id % 8 AS BIGINT) AS img_w,
        |  CAST(1 + doc_id % 6 AS BIGINT) AS img_h,
        |  CAST(list_sum(flatten(list_transform(range(0, 1 + doc_id % 6), y ->
        |    list_transform(range(0, 1 + doc_id % 8), x ->
        |      (7 * doc_id + 3 * x + 11 * y) % 16777216)))) AS BIGINT) AS px_checksum,
        |  CAST(1 AS BIGINT) AS decoded
        |FROM documents ORDER BY doc_id""".stripMargin)
}
