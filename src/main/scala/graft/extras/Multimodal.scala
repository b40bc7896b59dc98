package graft.extras

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column handling (SURVEY §7.1.7): media payloads travel as
  * opaque `binary` columns + a typed metadata struct; decode / feature-
  * extract / resize / frame-sample run as per-partition batch functions
  * (the Scala analogue of `mapInPandas`: one iterator per partition,
  * batched work, Arrow-friendly shapes).
  *
  * Codecs: three REAL pure-JVM decoders live in this file — PNG/JPEG/
  * GIF/BMP via ImageIO ([[JvmImageCodec]]), WAV PCM ([[JvmWavCodec]])
  * and MJPEG ([[JvmMjpegCodec]]). Every other format (MP4/H.264
  * included) routes to [[StubMediaCodec]]'s deterministic byte-histogram
  * features until a deployment registers a codec for it.
  */
object Multimodal {

  /** Schema convention for a media column. */
  val mediaType: StructType = StructType(Seq(
    StructField("bytes", BinaryType),
    StructField("mime", StringType),
    StructField("meta", StructType(Seq(
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("duration_ms", LongType))))))

  val featureSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("mime", StringType),
    StructField("byte_len", IntegerType),
    StructField("histogram", ArrayType(LongType)),
    StructField("feature_norm", DoubleType)))

  /** Attach a deterministic fake media column derived from text bytes
    * (stands in for real image/audio payloads in the fixtures). */
  def withFakeMedia(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val bytes = encode(col(textCol), "UTF-8")
    val mime = element_at(
      array(lit("image/png"), lit("audio/wav"), lit("video/mp4")),
      (col(idCol) % 3 + 1).cast(IntegerType))
    docs.withColumn("media", struct(
      bytes.as("bytes"), mime.as("mime"),
      struct(
        (col(idCol) % 640 + 1).cast(IntegerType).as("width"),
        (col(idCol) % 480 + 1).cast(IntegerType).as("height"),
        (col(idCol) * 40L).as("duration_ms")).as("meta")))
  }

  /** Per-partition batched feature extraction over the media column —
    * the mapInPandas-shaped seam: iterator in, iterator out, no
    * per-row closure dispatch overhead beyond the partition loop.
    * Decoding goes through the [[MediaCodec]] registry; the codecs are
    * resolved ON THE DRIVER and captured by the closure, so registered
    * codecs reach executors with the task (a registry referenced from
    * inside the closure would silently fall back to defaults there). */
  def extractFeatures(spark: SparkSession, df: DataFrame, idCol: String): DataFrame = {
    val enc = RowEncoder.encoderFor(featureSchema)
    val codecs = MediaCodecs.current
    val input = df.select(col(idCol).cast(LongType).as("doc_id"),
      col("media.bytes").as("bytes"), col("media.mime").as("mime"))
    input.mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        val bytes = r.getAs[Array[Byte]](1)
        val mime = r.getString(2)
        val hist = MediaCodecs.forMime(codecs, mime).features(bytes, mime)
        val norm = math.sqrt(hist.map(h => h.toDouble * h).sum)
        Row(id, mime, bytes.length, hist.toSeq, norm)
      }
    }(enc)
  }

  /** STUB frame sampler: deterministic byte-range slices standing in for
    * decoded video frames (n evenly spaced windows). Kept as a pure
    * codegen expression (zero-copy byte slicing); codec-backed frame
    * decoding is [[decodeFrames]]. */
  def sampleFrames(df: DataFrame, idCol: String, n: Int): DataFrame = {
    val len = octet_length(col("media.bytes"))
    val step = greatest(floor(len / n).cast(IntegerType), lit(1)) // integer stride
    df.select(col(idCol), posexplode(
        transform(sequence(lit(0), lit(n - 1)), i =>
          substring(col("media.bytes"), (i * step + 1).cast(IntegerType), lit(16))))
        .as(Seq("frame_no", "frame_bytes")))
      .withColumn("frame_len", octet_length(col("frame_bytes")))
  }

  /** Decode gate (images): synthesize a REAL grayscale PNG per id
    * ([[MediaSynth.png]]), route it through the registered image codec
    * ([[JvmImageCodec]] by default — javax.imageio inflates and parses
    * the actual container), and emit the decoded facts. An oracle can
    * recompute width/height/luminance-sum arithmetically from the same
    * id, so a pass proves genuine decoding end to end. */
  /** Windowed audio energy: decode the synthesized RIFF/PCM payload and
    * emit per-window sum-of-squares over `nWin` contiguous equal sample
    * windows (window k covers samples [k*n/nWin, (k+1)*n/nWin)) — the
    * short-time-energy feature audio curation uses for silence/clip
    * detection. Exact long arithmetic end to end; map-only. */
  def wavWindowEnergy(df: DataFrame, idCol: String, nWin: Int): DataFrame = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("win", IntegerType),
      StructField("n_samples", LongType), StructField("energy", LongType)))
    val enc = RowEncoder.encoderFor(schema)
    df.select(col(idCol).cast(LongType).as("doc_id")).mapPartitions { it =>
      it.flatMap { r =>
        val id = r.getLong(0)
        val bytes = MediaSynth.wav(id)
        JvmWavCodec.parse(bytes) match {
          case None => Iterator.empty
          case Some((_, _, _, off, len)) =>
            val n = len / 2
            (0 until nWin).iterator.map { k =>
              val from = k.toLong * n / nWin
              val until = (k + 1).toLong * n / nWin
              var e = 0L
              var i = from
              while (i < until) {
                val o = off + (i * 2).toInt
                val s = ((bytes(o) & 0xff) | (bytes(o + 1) << 8)).toShort.toLong
                e += s * s
                i += 1
              }
              Row(id, k, until - from, e)
            }
        }
      }
    }(enc)
  }

  /** Video-codec gate op: synthesize a per-id MJPEG clip, route it
    * through the registered video codec (a REAL JVM implementation —
    * [[JvmMjpegCodec]]'s segment walk + per-frame ImageIO decode), and
    * emit structure facts an arithmetic oracle can recompute: frame
    * count, first-frame dimensions, and the total decoded luminance-
    * plane bytes across all sampled frames (= n*w*h only when every
    * frame really decoded). Map-only; the clip bytes never shuffle. */
  def mjpegFrameFeatures(df: DataFrame, idCol: String): DataFrame = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("n_frames", LongType),
      StructField("width", LongType), StructField("height", LongType),
      StructField("plane_bytes", LongType)))
    val enc = RowEncoder.encoderFor(schema)
    val codecs = MediaCodecs.current
    df.select(col(idCol).cast(LongType).as("doc_id")).mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        val bytes = MediaSynth.mjpeg(id)
        val codec = MediaCodecs.forMime(codecs, "video/mjpeg")
        val f = codec.features(bytes, "video/mjpeg")
        val frames = codec.sampleFrames(bytes, "video/mjpeg", f(0).toInt)
        Row(id, f(0), f(1), f(2), frames.map(_.length.toLong).sum)
      }
    }(enc)
  }

  /** Shared decode mapper for the PNG gates: synthesize the per-id PNG,
    * route it through the registered image codec, and project the
    * feature array ([w, h, lumSum] ++ 16-bin histogram) into `schema`.
    * ONE definition so the synthesis + codec-routing path can't drift
    * between projections. Map-only; bytes never shuffle. */
  private def pngFeatureMap(df: DataFrame, idCol: String, schema: StructType)(
      project: (Long, Array[Long]) => Row): DataFrame = {
    val enc = RowEncoder.encoderFor(schema)
    val codecs = MediaCodecs.current
    df.select(col(idCol).cast(LongType).as("doc_id")).mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        val f = MediaCodecs.forMime(codecs, "image/png")
          .features(MediaSynth.png(id), "image/png")
        project(id, f)
      }
    }(enc)
  }

  /** Decoded 16-bin luminance histogram per synthesized PNG — the
    * feature vector for [[graft.queries.MultimodalQueries]]'s retrieval
    * pipeline gate. */
  def pngHist(df: DataFrame, idCol: String): DataFrame =
    pngFeatureMap(df, idCol, StructType(Seq(
      StructField("doc_id", LongType),
      StructField("hist",
        org.apache.spark.sql.types.ArrayType(LongType, containsNull = false))))) {
      (id, f) => Row(id, f.drop(3).toSeq)
    }

  def pngDecodeFeatures(df: DataFrame, idCol: String): DataFrame =
    pngFeatureMap(df, idCol, StructType(Seq(
      StructField("doc_id", LongType), StructField("width", LongType),
      StructField("height", LongType), StructField("lum_sum", LongType)))) {
      (id, f) => Row(id, f(0), f(1), f(2))
    }

  /** Resize gate (images): decode the synthesized PNG through
    * javax.imageio, nearest-neighbor resample the luminance plane to a
    * fixed (outW x outH) thumbnail — the standard preprocessing step
    * before vision-encoder feature extraction — and emit the resampled
    * sum. Source index mapping is the canonical NN floor map
    * sx = x2*w/outW, sy = y2*h/outH, so an oracle recomputes the
    * resized pixels arithmetically from the same id. Per-partition
    * batch work, no shuffle. */
  def imageResizeFeatures(df: DataFrame, idCol: String,
      outW: Int, outH: Int): DataFrame = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("width", LongType),
      StructField("height", LongType), StructField("out_w", LongType),
      StructField("out_h", LongType), StructField("resized_sum", LongType)))
    val enc = RowEncoder.encoderFor(schema)
    df.select(col(idCol).cast(LongType).as("doc_id")).mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(MediaSynth.png(id)))
        val w = img.getWidth
        val h = img.getHeight
        val lum = JvmImageCodec.luminance(img)
        var sum = 0L
        var y2 = 0
        while (y2 < outH) {
          val sy = y2 * h / outH
          var x2 = 0
          while (x2 < outW) {
            sum += lum(sy * w + x2 * w / outW)
            x2 += 1
          }
          y2 += 1
        }
        Row(id, w.toLong, h.toLong, outW.toLong, outH.toLong, sum)
      }
    }(enc)
  }

  /** Decode gate (audio): synthesize a REAL RIFF/PCM WAV per id
    * ([[MediaSynth.wav]]), decode it through [[JvmWavCodec]], emit the
    * parsed header fields and the decoded-sample sum. */
  def wavDecodeFeatures(df: DataFrame, idCol: String): DataFrame = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("channels", LongType),
      StructField("sample_rate", LongType), StructField("bits", LongType),
      StructField("data_bytes", LongType), StructField("duration_ms", LongType),
      StructField("sample_sum", LongType)))
    val enc = RowEncoder.encoderFor(schema)
    val codecs = MediaCodecs.current
    df.select(col(idCol).cast(LongType).as("doc_id")).mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        val f = MediaCodecs.forMime(codecs, "audio/wav")
          .features(MediaSynth.wav(id), "audio/wav")
        Row(id, f(0), f(1), f(2), f(3), f(4), f(5))
      }
    }(enc)
  }

  /** Codec-routed frame decoding: real deployments register a video
    * codec and get decoded frames; the default stub emits the same
    * deterministic byte windows as [[sampleFrames]]. */
  def decodeFrames(spark: SparkSession, df: DataFrame, idCol: String, n: Int): DataFrame = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("frame_no", IntegerType),
      StructField("frame_bytes", BinaryType)))
    val enc = RowEncoder.encoderFor(schema)
    val codecs = MediaCodecs.current
    df.select(col(idCol).cast(LongType).as("doc_id"),
        col("media.bytes").as("bytes"), col("media.mime").as("mime"))
      .mapPartitions { it =>
        it.flatMap { r =>
          val frames = MediaCodecs.forMime(codecs, r.getString(2))
            .sampleFrames(r.getAs[Array[Byte]](1), r.getString(2), n)
          frames.iterator.zipWithIndex.map { case (f, i) => Row(r.getLong(0), i, f) }
        }
      }(enc)
  }
}

/** The pluggable codec seam for media payloads (the multimodal analogue
  * of the reference's FileIO pluggability — aws/SwiftLakeS3FileIO.java
  * swaps storage the same way a deployment swaps codecs here). A
  * deployment registers a real implementation (JavaCV/ffmpeg for
  * MP4/H.264, TwelveMonkeys ImageIO, ...) and every codec-routed
  * operator picks it up by mime, executors included (codecs are
  * Serializable and ship with the task closure).
  */
trait MediaCodec extends Serializable {
  /** Mime types this codec handles, e.g. accepts("image/png"). */
  def accepts(mime: String): Boolean
  /** Decode payload -> fixed-length feature vector. */
  def features(bytes: Array[Byte], mime: String): Array[Long]
  /** Decode + sample n frames (video frames / audio windows). */
  def sampleFrames(bytes: Array[Byte], mime: String, n: Int): Seq[Array[Byte]]
}

/** STUB codec: no decoding, the fallback for every format no registered
  * codec accepts — a 16-bin byte histogram as the "feature vector" and evenly-spaced
  * 16-byte windows as "frames", both deterministic so the Spark-side
  * plumbing is fully testable. */
object StubMediaCodec extends MediaCodec {
  override def accepts(mime: String): Boolean = true // catch-all fallback
  override def features(bytes: Array[Byte], mime: String): Array[Long] = {
    val hist = new Array[Long](16)
    var i = 0
    while (i < bytes.length) { hist((bytes(i) & 0xff) / 16) += 1; i += 1 }
    hist
  }
  override def sampleFrames(bytes: Array[Byte], mime: String, n: Int): Seq[Array[Byte]] = {
    val step = math.max(bytes.length / n, 1)
    (0 until n).map { i =>
      val from = math.min(i * step, bytes.length)
      java.util.Arrays.copyOfRange(bytes, from, math.min(from + 16, bytes.length))
    }
  }
}

/** REAL pure-JVM image codec: javax.imageio (PNG/JPEG/GIF/BMP ship with
  * the JDK — no native libraries needed). Features are decoded-pixel
  * facts: [width, height, luminanceSum] ++ a 16-bin luminance histogram.
  * Frames are horizontal strips of the decoded luminance plane. A
  * payload ImageIO cannot decode (e.g. the text-byte fixtures) falls
  * back to the stub's byte histogram, so undecodable rows degrade, not
  * fail, at corpus scale. */
object JvmImageCodec extends MediaCodec {
  override def accepts(mime: String): Boolean =
    mime == "image/png" || mime == "image/jpeg" || mime == "image/gif" || mime == "image/bmp"

  private def decode(bytes: Array[Byte]): Option[java.awt.image.BufferedImage] =
    try Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes)))
    catch { case scala.util.control.NonFatal(_) => None }

  /** Luminance (0..255) per pixel: the raster sample ONLY for 8-bit
    * non-indexed grayscale (a palette image's single band is a palette
    * INDEX, and 16-bit gray samples reach 65535 — both must go through
    * getRGB, which normalizes every color model to sRGB); integer
    * BT.601 luma otherwise. */
  private[extras] def luminance(img: java.awt.image.BufferedImage): Array[Int] = {
    val (w, h) = (img.getWidth, img.getHeight)
    val out = new Array[Int](w * h)
    val plainGray8 = img.getRaster.getNumBands == 1 &&
      img.getColorModel.getPixelSize == 8 &&
      !img.getColorModel.isInstanceOf[java.awt.image.IndexColorModel]
    if (plainGray8) {
      img.getRaster.getSamples(0, 0, w, h, 0, out)
    } else {
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val rgb = img.getRGB(x, y)
          val r = (rgb >> 16) & 0xff; val g = (rgb >> 8) & 0xff; val b = rgb & 0xff
          out(y * w + x) = (r * 299 + g * 587 + b * 114) / 1000
          x += 1
        }
        y += 1
      }
    }
    out
  }

  override def features(bytes: Array[Byte], mime: String): Array[Long] =
    decode(bytes) match {
      case None => StubMediaCodec.features(bytes, mime)
      case Some(img) =>
        try {
          val lum = luminance(img)
          val hist = new Array[Long](16)
          var sum = 0L
          lum.foreach { v => sum += v; hist(math.min(math.max(v, 0), 255) / 16) += 1 }
          Array(img.getWidth.toLong, img.getHeight.toLong, sum) ++ hist
        } catch { // an exotic color model must degrade, not fail the task
          case scala.util.control.NonFatal(_) => StubMediaCodec.features(bytes, mime)
        }
    }

  override def sampleFrames(bytes: Array[Byte], mime: String, n: Int): Seq[Array[Byte]] =
    decode(bytes) match {
      case None => StubMediaCodec.sampleFrames(bytes, mime, n)
      case Some(img) =>
        try {
          val lum = luminance(img)
          val rows = img.getHeight
          val step = math.max(rows / n, 1)
          (0 until n).map { i =>
            val from = math.min(i * step, rows) * img.getWidth
            val until = math.min(from + img.getWidth, lum.length)
            java.util.Arrays.copyOfRange(lum, from, until).map(_.toByte)
          }
        } catch {
          case scala.util.control.NonFatal(_) => StubMediaCodec.sampleFrames(bytes, mime, n)
        }
    }
}

/** REAL WAV (RIFF/PCM) codec: chunk-walking header parse + 16-bit PCM
  * sample decode, in ~40 lines of plain JVM byte arithmetic. Features:
  * [channels, sampleRate, bitsPerSample, dataBytes, durationMs,
  * sampleSum] ++ a 16-bin amplitude histogram of the decoded samples.
  * Frames are evenly spaced PCM windows. Unparseable payloads fall back
  * to the stub. */
object JvmWavCodec extends MediaCodec {
  override def accepts(mime: String): Boolean =
    mime == "audio/wav" || mime == "audio/x-wav" || mime == "audio/wave"

  private def u16(b: Array[Byte], o: Int): Int =
    (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
  private def u32(b: Array[Byte], o: Int): Long =
    (b(o) & 0xffL) | ((b(o + 1) & 0xffL) << 8) | ((b(o + 2) & 0xffL) << 16) | ((b(o + 3) & 0xffL) << 24)
  private def tag(b: Array[Byte], o: Int): String =
    new String(b, o, 4, java.nio.charset.StandardCharsets.US_ASCII)

  /** (channels, sampleRate, bitsPerSample, dataOffset, dataLen).
    * Chunk walk in Long arithmetic with monotonic-progress guards: a
    * corrupt length field (e.g. 0xFFFFFFF8) must yield None — never a
    * spin or an out-of-bounds — because this codec is the DEFAULT for
    * audio/wav and one bad file must degrade, not hang an executor. */
  private[extras] def parse(b: Array[Byte]): Option[(Int, Int, Int, Int, Int)] =
    try {
      if (b.length < 44 || tag(b, 0) != "RIFF" || tag(b, 8) != "WAVE") return None
      var channels = -1; var rate = -1; var bits = -1
      var dataOff = -1; var dataLen = -1
      var o = 12L
      while (o + 8 <= b.length) {
        val id = tag(b, o.toInt); val len = u32(b, o.toInt + 4) // unsigned
        if (id == "fmt " && o + 8 + 16 <= b.length) {
          channels = u16(b, o.toInt + 10); rate = u32(b, o.toInt + 12).toInt
          bits = u16(b, o.toInt + 22)
        } else if (id == "data") {
          dataOff = o.toInt + 8
          dataLen = math.min(len, (b.length - dataOff).toLong).toInt
        }
        o += 8 + len + (len & 1) // chunks are word-aligned; always advances
      }
      if (channels <= 0 || rate <= 0 || bits <= 0 || dataOff < 0 || dataLen < 0) None
      else Some((channels, rate, bits, dataOff, dataLen))
    } catch { case scala.util.control.NonFatal(_) => None }

  override def features(bytes: Array[Byte], mime: String): Array[Long] =
    parse(bytes) match {
      case None => StubMediaCodec.features(bytes, mime)
      case Some((ch, rate, bits, off, len)) =>
        val byteRate = rate.toLong * ch * (bits / 8)
        val durationMs = if (byteRate > 0) len * 1000L / byteRate else 0L
        val hist = new Array[Long](16)
        var sum = 0L
        if (bits == 16) {
          var i = off
          while (i + 1 < off + len) {
            val s = ((bytes(i) & 0xff) | (bytes(i + 1) << 8)).toShort.toInt
            sum += s; hist((s + 32768) / 4096) += 1
            i += 2
          }
        }
        Array(ch.toLong, rate.toLong, bits.toLong, len.toLong, durationMs, sum) ++ hist
    }

  override def sampleFrames(bytes: Array[Byte], mime: String, n: Int): Seq[Array[Byte]] =
    parse(bytes) match {
      case None => StubMediaCodec.sampleFrames(bytes, mime, n)
      case Some((_, _, _, off, len)) =>
        val step = math.max(len / n, 1)
        (0 until n).map { i =>
          val from = off + math.min(i * step, len)
          java.util.Arrays.copyOfRange(bytes, from, math.min(from + 16, off + len))
        }
    }
}

/** REAL pure-JVM MJPEG codec — the second live registration behind the
  * video seam, proving the frame interface with an actual container
  * walk. MJPEG "video" is a stream of concatenated JPEG frames; frame
  * boundaries come from a proper JPEG segment parse (marker segments
  * with big-endian lengths, entropy-coded scans skipped with
  * stuffed-byte/RST awareness up to each frame's EOI — a naive FFD9
  * split would cut frames at entropy bytes that happen to look like
  * EOI), and each sampled frame decodes through [[JvmImageCodec]]'s
  * ImageIO path. General containers (MP4/H.264) need native codecs the
  * JDK lacks and route to [[StubMediaCodec]] unless registered; MJPEG
  * is the one real video format that is pure JVM. */
object JvmMjpegCodec extends MediaCodec {
  override def accepts(mime: String): Boolean =
    mime == "video/x-motion-jpeg" || mime == "video/mjpeg"

  /** Byte ranges [start, end) of each complete JPEG frame. A corrupt
    * tail (truncated frame, non-marker garbage) ends the walk with the
    * frames parsed so far — degrade, never spin or throw. */
  private[graft] def frameRanges(b: Array[Byte]): Seq[(Int, Int)] = {
    val out = Seq.newBuilder[(Int, Int)]
    @inline def u8(o: Int): Int = b(o) & 0xff
    var i = 0
    while (i + 1 < b.length) {
      if (u8(i) == 0xff && u8(i + 1) == 0xd8) { // SOI
        val start = i
        var o = i + 2
        var end = -1
        var ok = true
        while (ok && end < 0 && o + 1 < b.length) {
          if (u8(o) != 0xff) ok = false
          else u8(o + 1) match {
            case 0xd9 => end = o + 2 // EOI
            case 0xd8 => ok = false // nested SOI: corrupt
            case 0xff => o += 1 // optional fill byte before a marker (spec §B.1.1.2)
            case m if m == 0x01 || (m >= 0xd0 && m <= 0xd7) => o += 2 // standalone
            case 0xda => // SOS: length-skip the header, then entropy scan
              if (o + 3 >= b.length) ok = false
              else {
                val len = (u8(o + 2) << 8) | u8(o + 3)
                if (len < 2) ok = false
                else {
                  o += 2 + len
                  var scanning = true
                  while (scanning && o + 1 < b.length) {
                    val isMarker = u8(o) == 0xff && u8(o + 1) != 0x00 &&
                      !(u8(o + 1) >= 0xd0 && u8(o + 1) <= 0xd7)
                    if (isMarker) scanning = false
                    else o += (if (u8(o) == 0xff) 2 else 1)
                  }
                  if (scanning) ok = false // ran off the end mid-scan
                }
              }
            case _ => // marker segment with big-endian length
              if (o + 3 >= b.length) ok = false
              else {
                val len = (u8(o + 2) << 8) | u8(o + 3)
                if (len < 2) ok = false else o += 2 + len
              }
          }
        }
        if (end > 0) { out += ((start, end)); i = end } else i += 1
      } else i += 1
    }
    out.result()
  }

  private def decodeFrame(b: Array[Byte], r: (Int, Int)): Option[java.awt.image.BufferedImage] =
    try Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(
      java.util.Arrays.copyOfRange(b, r._1, r._2))))
    catch { case scala.util.control.NonFatal(_) => None }

  /** [frameCount] ++ the first frame's image features (width, height,
    * luminance sum, 16-bin histogram). */
  override def features(bytes: Array[Byte], mime: String): Array[Long] = {
    val ranges = frameRanges(bytes)
    if (ranges.isEmpty) return StubMediaCodec.features(bytes, mime)
    val first = java.util.Arrays.copyOfRange(bytes, ranges.head._1, ranges.head._2)
    Array(ranges.length.toLong) ++ JvmImageCodec.features(first, "image/jpeg")
  }

  /** n evenly spaced frames, each as its decoded luminance plane.
    * Index by round(i*len/n), not a truncated stride — an integer step
    * of floor(len/n) never reaches the clip's tail (19 frames at n=10
    * would sample only frames 0-9). */
  override def sampleFrames(bytes: Array[Byte], mime: String, n: Int): Seq[Array[Byte]] = {
    val ranges = frameRanges(bytes)
    if (ranges.isEmpty) return StubMediaCodec.sampleFrames(bytes, mime, n)
    (0 until n).map { i =>
      val r = ranges(math.min((i.toLong * ranges.length / n).toInt, ranges.length - 1))
      decodeFrame(bytes, r) match {
        case Some(img) => JvmImageCodec.luminance(img).map(_.toByte)
        case None => java.util.Arrays.copyOfRange(bytes, r._1, math.min(r._1 + 16, r._2))
      }
    }
  }
}

/** Codec registry. Default stack: the JVM image, WAV and MJPEG codecs,
  * then [[StubMediaCodec]] as the catch-all for every other mime
  * (`video/mp4`, `video/avc`, `video/h264`, ...). */
object MediaCodecs {
  private val defaults: Seq[MediaCodec] =
    Seq(JvmImageCodec, JvmWavCodec, JvmMjpegCodec, StubMediaCodec)
  @volatile private var registry: Seq[MediaCodec] = defaults

  /** Register a codec with priority over previously registered ones
    * (the stub stays last as the catch-all). */
  def register(codec: MediaCodec): Unit = synchronized { registry = codec +: registry }

  /** Driver-side snapshot for closure capture. */
  def current: Seq[MediaCodec] = registry

  def forMime(codecs: Seq[MediaCodec], mime: String): MediaCodec =
    codecs.find(_.accepts(mime)).getOrElse(StubMediaCodec)

  /** Test hook: drop registered codecs, keep the default stack. */
  def reset(): Unit = synchronized { registry = defaults }
}

/** Deterministic media-byte synthesis for the decode gates: REAL file
  * formats (a zlib-deflated grayscale PNG, a RIFF/PCM WAV) assembled
  * from pure arithmetic on an id, so a SQL oracle can compute the
  * expected decoded fields while the engine proves it actually decodes
  * the container (ImageIO inflates the IDAT; the WAV path walks RIFF
  * chunks and reassembles PCM samples). */
object MediaSynth {
  /** Grayscale 8-bit PNG: width 1+id%8, height 1+id%6,
    * pixel(x,y) = (id + 3x + 5y) % 256. */
  def png(id: Long): Array[Byte] = {
    val w = (1 + id % 8).toInt; val h = (1 + id % 6).toInt
    val out = new java.io.ByteArrayOutputStream()
    out.write(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
    def chunk(typ: String, data: Array[Byte]): Unit = {
      val len = java.nio.ByteBuffer.allocate(4).putInt(data.length).array()
      out.write(len)
      val body = typ.getBytes("US-ASCII") ++ data
      out.write(body)
      val crc = new java.util.zip.CRC32(); crc.update(body)
      out.write(java.nio.ByteBuffer.allocate(4).putInt(crc.getValue.toInt).array())
    }
    val ihdr = java.nio.ByteBuffer.allocate(13)
      .putInt(w).putInt(h).put(8.toByte).put(0.toByte) // bit depth 8, grayscale
      .put(0.toByte).put(0.toByte).put(0.toByte).array()
    chunk("IHDR", ihdr)
    val raw = new Array[Byte](h * (1 + w)) // filter byte 0 + samples, per scanline
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        raw(y * (1 + w) + 1 + x) = ((id + 3 * x + 5 * y) % 256).toByte
        x += 1
      }
      y += 1
    }
    val deflater = new java.util.zip.Deflater()
    deflater.setInput(raw); deflater.finish()
    val buf = new Array[Byte](raw.length + 64)
    val n = deflater.deflate(buf); deflater.end()
    chunk("IDAT", java.util.Arrays.copyOf(buf, n))
    chunk("IEND", Array.empty[Byte])
    out.toByteArray
  }

  /** Mono 16-bit PCM WAV: sampleRate 8000+(id%3)*4000,
    * 100+id%50 samples, sample(i) = ((id*31 + i*7) % 65536) - 32768. */
  def wav(id: Long): Array[Byte] = {
    val rate = (8000 + (id % 3) * 4000).toInt
    val n = (100 + id % 50).toInt
    val dataLen = n * 2
    val b = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen).put("WAVE".getBytes("US-ASCII"))
    b.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1) // PCM, mono
      .putInt(rate).putInt(rate * 2).putShort(2).putShort(16)
    b.put("data".getBytes("US-ASCII")).putInt(dataLen)
    var i = 0
    while (i < n) {
      b.putShort((((id * 31 + i * 7) % 65536) - 32768).toShort)
      i += 1
    }
    b.array()
  }

  /** MJPEG "clip": (1 + id%4) JPEG frames, each (4 + id%5) x (3 + id%4)
    * 8-bit gray gradient, concatenated back to back. The frames come out
    * of ImageIO's own JPEG ENCODER, so the payload is genuine entropy-
    * coded JPEG — frame count and dimensions are only recoverable by a
    * real segment walk + decode (pixel sums are NOT oracled: JPEG is
    * lossy). */
  def mjpeg(id: Long): Array[Byte] = {
    val n = (1 + id % 4).toInt
    val w = (4 + id % 5).toInt
    val h = (3 + id % 4).toInt
    val out = new java.io.ByteArrayOutputStream()
    var f = 0
    while (f < n) {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          img.getRaster.setSample(x, y, 0, ((id + 40 * f + 3 * x + 5 * y) % 256).toInt)
          x += 1
        }
        y += 1
      }
      javax.imageio.ImageIO.write(img, "jpg", out)
      f += 1
    }
    out.toByteArray
  }
}
