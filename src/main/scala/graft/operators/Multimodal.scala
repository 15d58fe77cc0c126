package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.frontier.ImageSynth
import java.awt.image.BufferedImage

/** Multimodal column operators: image/audio/video as opaque `binary`
  * columns with typed metadata, processed in partition-batched passes.
  *
  * Images decode for real via `javax.imageio` (present in the JDK).
  * Audio/video decodes are STUBBED behind deterministic fakes (the
  * codec libraries are not in this container) — the Spark-side plumbing
  * (schema, batching, partitioning) is real and tested; swap the stub
  * for an FFI decode on a real cluster. Image near-dups pair by phash
  * through the shared Hamming join, `Dedup.hammingPairs`. */
object Multimodal {

  final case class ImageFeatures(
      image_id: String,
      w: Int,
      h: Int,
      mean_r: Double,
      mean_g: Double,
      mean_b: Double,
      phash: Long,
      decode_ok: Boolean
  )

  /** Decode + feature-extract each image binary. mapPartitions keeps
    * decoder setup per-task, not per-row. */
  def imageFeatures(images: DataFrame): Dataset[ImageFeatures] = {
    val spark = images.sparkSession
    import spark.implicits._
    images.select(col("image_id"), col("bytes")).as[(String, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          try {
            val img = ImageSynth.decode(bytes)
            val w = img.getWidth; val h = img.getHeight
            // ONE bulk getRGB: the per-pixel call re-runs the color
            // model conversion per invocation (two full passes here —
            // mean + phash); same ints, same row-major accumulation
            // order, ~10× less per-pixel overhead
            val px = img.getRGB(0, 0, w, h, null, 0, w)
            var r = 0.0; var g = 0.0; var b = 0.0
            var i = 0
            while (i < px.length) {
              val p = px(i)
              r += (p >> 16) & 255; g += (p >> 8) & 255; b += p & 255
              i += 1
            }
            val n = (w * h).toDouble
            ImageFeatures(id, w, h, r / n, g / n, b / n,
              ImageSynth.phash64FromPixels(px, w, h), decode_ok = true)
          } catch {
            case _: Exception => ImageFeatures(id, -1, -1, 0, 0, 0, 0L, decode_ok = false)
          }
        }
      }
  }

  /** Resize every image to (tw, th), re-encoding as PNG. */
  def resizeImages(images: DataFrame, tw: Int, th: Int): DataFrame = {
    val spark = images.sparkSession
    import spark.implicits._
    images.select(col("image_id"), col("bytes")).as[(String, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          val src = ImageSynth.decode(bytes)
          val dst = new BufferedImage(tw, th, BufferedImage.TYPE_INT_RGB)
          val g = dst.createGraphics()
          g.drawImage(src.getScaledInstance(tw, th, java.awt.Image.SCALE_AREA_AVERAGING), 0, 0, null)
          g.dispose()
          (id, ImageSynth.encodePng(dst), tw, th)
        }
      }.toDF("image_id", "bytes", "w", "h")
  }

  /** Near-duplicate images: decoded images whose phash values lie
    * within Hamming distance `maxDist`, paired by `Dedup.hammingPairs`
    * over (image_id, phash). Returns (id_a, id_b, hamming) with
    * id_a < id_b; over-cap buckets report dropped images via the
    * accumulator + log. */
  def imageNearDups(images: DataFrame, maxDist: Int = 6, maxBucket: Int = 1000,
                    truncAcc: Option[org.apache.spark.util.LongAccumulator] = None): DataFrame =
    Dedup.hammingPairs(
      imageFeatures(images).toDF().filter(col("decode_ok")).select("image_id", "phash"),
      "image_id", "phash", maxDist, maxBucket, truncAcc)

  // ----------------------------------------------------------------
  // Audio / video. REAL decode for the JDK-decodable formats:
  //   - WAV/PCM16 audio via javax.sound.sampled
  //   - MJPEG video (concatenated baseline JPEGs) via JPEG structure
  //     + ImageIO per frame
  // Compressed codecs (mp3/aac/h264/vp9 …) have no decoder in this
  // container; those fall back to a clearly-labeled deterministic STUB
  // so the pipeline shape (schema, batching, fan-out) stays testable.
  // ----------------------------------------------------------------

  final case class FrameSample(media_id: String, frame_idx: Int,
                               w: Int, h: Int, frame_bytes: Array[Byte])

  /** Frame boundaries of an MJPEG stream. Correct for baseline JPEG:
    * inside entropy-coded data every FF is stuffed (FF00) or a restart
    * marker (FFD0-D7), so a bare FFD9 is always end-of-image. */
  def mjpegFrameRanges(bytes: Array[Byte]): Seq[(Int, Int)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    var i = 0
    var start = -1
    while (i + 1 < bytes.length) {
      if ((bytes(i) & 0xff) == 0xff) {
        val m = bytes(i + 1) & 0xff
        if (m == 0xd8 && start < 0) { start = i; i += 2 }
        else if (m == 0xd9 && start >= 0) { out += ((start, i + 2)); start = -1; i += 2 }
        else i += 1
      } else i += 1
    }
    out.toSeq
  }

  /** Video frame sampling: every `everyNth` frame, up to `maxFrames`.
    * MJPEG streams decode for REAL (frame split + ImageIO dims); other
    * containers fall back to `decodeFrameStub` (w/h = -1 marks it). */
  def sampleFrames(media: DataFrame, idCol: String, bytesCol: String,
                   everyNth: Int = 2, maxFrames: Int = 8): Dataset[FrameSample] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col(idCol).cast("string"), col(bytesCol)).as[(String, Array[Byte])]
      .flatMap { case (id, bytes) =>
        val isMjpeg = bytes.length > 3 &&
          (bytes(0) & 0xff) == 0xff && (bytes(1) & 0xff) == 0xd8
        if (isMjpeg) {
          val ranges = mjpegFrameRanges(bytes)
          ranges.indices.filter(_ % everyNth == 0).take(maxFrames).map { f =>
            val (s, e) = ranges(f)
            val jpg = java.util.Arrays.copyOfRange(bytes, s, e)
            val img = ImageSynth.decode(jpg)
            FrameSample(id, f, img.getWidth, img.getHeight, jpg)
          }
        } else {
          // STUB fallback for codec-bearing containers (no decoder here)
          val nFrames = math.min(maxFrames, math.max(1, bytes.length / math.max(1, everyNth * 64)))
          (0 until nFrames).map(f => FrameSample(id, f * everyNth, -1, -1,
            decodeFrameStub(bytes, f * everyNth)))
        }
      }
  }

  /** STUB decode — deterministic fake: a 64-byte slice at a frame-
    * dependent offset (wrap-around). NOT a real video decode; used only
    * for non-MJPEG containers in this environment. */
  private def decodeFrameStub(bytes: Array[Byte], frameIdx: Int): Array[Byte] = {
    if (bytes.isEmpty) return Array.emptyByteArray
    val out = new Array[Byte](64)
    var i = 0
    while (i < 64) { out(i) = bytes(java.lang.Math.floorMod(frameIdx * 64 + i, bytes.length)); i += 1 }
    out
  }

  /** Decode a WAV (RIFF/PCM) binary to 16-bit samples via the JDK's
    * javax.sound.sampled. Returns None for non-WAV/unsupported input. */
  def decodeWavPcm16(bytes: Array[Byte]): Option[Array[Short]] = {
    try {
      val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(bytes))
      val fmt = in.getFormat
      if (fmt.getSampleSizeInBits != 16) return None
      val raw = in.readAllBytes()
      val bb = java.nio.ByteBuffer.wrap(raw).order(
        if (fmt.isBigEndian) java.nio.ByteOrder.BIG_ENDIAN else java.nio.ByteOrder.LITTLE_ENDIAN)
      val out = new Array[Short](raw.length / 2)
      var i = 0
      while (i < out.length) { out(i) = bb.getShort(); i += 1 }
      Some(out)
    } catch { case _: Exception => None }
  }

  /** Windowed audio loudness (RMS). WAV/PCM decodes for REAL: RMS over
    * `windowSamples` 16-bit samples. Non-WAV binaries fall back to the
    * byte-energy STUB (marked by `decoded=false`). */
  def audioWindows(media: DataFrame, idCol: String, bytesCol: String,
                   windowSamples: Int = 1024): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col(idCol).cast("string"), col(bytesCol)).as[(String, Array[Byte])]
      .flatMap { case (id, bytes) =>
        decodeWavPcm16(bytes) match {
          case Some(samples) =>
            samples.grouped(windowSamples).zipWithIndex.map { case (wdw, i) =>
              var e = 0.0
              wdw.foreach(s => e += s.toDouble * s)
              (id, i, math.sqrt(e / math.max(1, wdw.length)), true)
            }
          case None => // STUB byte-energy fallback
            bytes.grouped(windowSamples).zipWithIndex.map { case (wdw, i) =>
              var e = 0.0
              wdw.foreach(b => e += (b & 0xff) * (b & 0xff))
              (id, i, math.sqrt(e / math.max(1, wdw.length)), false)
            }
        }
      }.toDF("media_id", "window_idx", "rms_energy", "decoded")
  }
}
