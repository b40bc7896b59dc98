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
  * Codecs: four REAL pure-JVM decoders live in this file — PNG/JPEG/
  * GIF/BMP via ImageIO (see `decodeImage`), WAV PCM (see `decodeWav`),
  * MJPEG, and MP4/H.264 — both I_PCM frames (Exp-Golomb NAL parsing)
  * and, since round 12, CAVLC-entropy-coded I_16x16/DC slices
  * (coeff_token + level + total_zeros decode, inverse Hadamard, DC
  * dequant, intra DC prediction — [[H264.decodeI16DcLuma]], scope
  * stated there). AC residuals / other intra modes / CABAC degrade to
  * the documented stub seam; deterministic byte-histogram features
  * back the formats with no in-container decoder.
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
  /** Shared decode mapper for the VIDEO gates (mirror of the PNG gates'
    * shared mapper): synthesize the per-id clip, route it through the
    * registered codec for `mime`, decode features + every sampled
    * frame, and build the gate row from (id, features, total decoded
    * plane bytes). ONE definition so the synthesis + codec-routing +
    * frame-sampling plumbing can't drift between container formats. */
  private def videoFrameFeatures(
      df: DataFrame, idCol: String, mime: String, schema: StructType,
      synth: Long => Array[Byte])(
      row: (Long, Array[Long], Long) => Row): DataFrame = {
    val enc = RowEncoder.encoderFor(schema)
    val codecs = MediaCodecs.current
    df.select(col(idCol).cast(LongType).as("doc_id")).mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        val bytes = synth(id)
        val codec = MediaCodecs.forMime(codecs, mime)
        val f = codec.features(bytes, mime)
        val frames = codec.sampleFrames(bytes, mime, f(0).toInt)
        row(id, f, frames.map(_.length.toLong).sum)
      }
    }(enc)
  }

  def mjpegFrameFeatures(df: DataFrame, idCol: String): DataFrame =
    videoFrameFeatures(df, idCol, "video/mjpeg", StructType(Seq(
        StructField("doc_id", LongType), StructField("n_frames", LongType),
        StructField("width", LongType), StructField("height", LongType),
        StructField("plane_bytes", LongType))),
      MediaSynth.mjpeg) { (id, f, planeBytes) =>
      Row(id, f(0), f(1), f(2), planeBytes)
    }

  /** MP4/H.264 gate op: synthesize a per-id MP4 ([[MediaSynth.mp4]] —
    * real ISO-BMFF + baseline I_PCM H.264), route it through the
    * registered video codec ([[JvmMp4Codec]]'s box walk + Exp-Golomb
    * parse + raw-MB pixel recovery), and emit facts the arithmetic
    * oracle recomputes EXACTLY — including the first frame's decoded
    * luminance sum (f(3)), which the lossless I_PCM path makes possible
    * where the lossy MJPEG gate could only pin geometry. Map-only. */
  def mp4FrameFeatures(df: DataFrame, idCol: String): DataFrame =
    videoFrameFeatures(df, idCol, "video/mp4", StructType(Seq(
        StructField("doc_id", LongType), StructField("n_frames", LongType),
        StructField("width", LongType), StructField("height", LongType),
        StructField("lum_sum", LongType), StructField("plane_bytes", LongType))),
      MediaSynth.mp4) { (id, f, planeBytes) =>
      Row(id, f(0), f(1), f(2), f(3), planeBytes)
    }

  /** CAVLC variant of [[mp4FrameFeatures]]: per-id MP4s whose IDR
    * frames are entropy-coded I_16x16/DC macroblocks
    * ([[MediaSynth.mp4Cavlc]]), decoded by the real CAVLC + inverse
    * Hadamard + dequant + intra-prediction chain
    * ([[H264.decodeI16DcLuma]]); the luma sum is a closed-form
    * function of the coded DC level, so the oracle needs no reference
    * decoder. */
  def mp4CavlcFrameFeatures(df: DataFrame, idCol: String): DataFrame =
    videoFrameFeatures(df, idCol, "video/mp4", StructType(Seq(
        StructField("doc_id", LongType), StructField("n_frames", LongType),
        StructField("width", LongType), StructField("height", LongType),
        StructField("lum_sum", LongType), StructField("plane_bytes", LongType))),
      MediaSynth.mp4Cavlc) { (id, f, planeBytes) =>
      Row(id, f(0), f(1), f(2), f(3), planeBytes)
    }

  /** AC variant of [[mp4CavlcFrameFeatures]] ([[MediaSynth.mp4CavlcAc]]
    * fixtures): the decode path additionally exercises the general
    * residual reader (run_before, tc=2 total_zeros, nC bookkeeping)
    * and the full per-4x4 inverse core transform + AC dequant; the
    * luma sum stays closed-form (see the encoder's scaladoc). */
  def mp4CavlcAcFrameFeatures(df: DataFrame, idCol: String): DataFrame =
    videoFrameFeatures(df, idCol, "video/mp4", StructType(Seq(
        StructField("doc_id", LongType), StructField("n_frames", LongType),
        StructField("width", LongType), StructField("height", LongType),
        StructField("lum_sum", LongType), StructField("plane_bytes", LongType))),
      MediaSynth.mp4CavlcAc) { (id, f, planeBytes) =>
      Row(id, f(0), f(1), f(2), f(3), planeBytes)
    }

  /** Inter (P_Skip) variant (round 15 stretch): fixtures whose first
    * frame is a lossless I_PCM IDR and every later frame a non-IDR P
    * slice of skipped macroblocks ([[MediaSynth.mp4PSkip]]). The decode
    * walks ALL samples with reference propagation — P slice header
    * parse, mb_skip_run, the 8.4.1.1 P_Skip zero-vector derivation,
    * integer-pel motion compensation — so `lum_sum` here is the TOTAL
    * across frames (n_frames * frame-0 sum, closed form). Map-only. */
  def mp4PSkipFrameFeatures(df: DataFrame, idCol: String): DataFrame =
    mp4TotalFeatures(df, idCol, MediaSynth.mp4PSkip)

  /** Coded-motion variant (round 16 stretch): [[MediaSynth.mp4PMv]]
    * fixtures whose P frames carry real P_L0_16x16 macroblocks —
    * Exp-Golomb mvd_l0 pairs through the 8.4.1.3 median predictor and
    * quarter-pel 6-tap motion compensation — so `lum_sum` is the
    * closed-form ramp total derived in the synthesizer's scaladoc.
    * Map-only. */
  def mp4PMvFrameFeatures(df: DataFrame, idCol: String): DataFrame =
    mp4TotalFeatures(df, idCol, MediaSynth.mp4PMv)

  /** Intra-refresh variant (round 16): [[MediaSynth.mp4PIntra]]
    * fixtures whose P frames mix an INTRA I_16x16/DC refresh MB (CAVLC
    * DC level, Hadamard, dequant, DC prediction) with P_Skip runs —
    * `lum_sum` is the closed form in the synthesizer's scaladoc.
    * Map-only. */
  def mp4PIntraFrameFeatures(df: DataFrame, idCol: String): DataFrame =
    mp4TotalFeatures(df, idCol, MediaSynth.mp4PIntra)

  /** Coded-inter-residual variant (round 17): [[MediaSynth.mp4PRes]]
    * fixtures whose P frames carry P_L0_16x16 MBs with CodedBlockPattern
    * luma 15 — CAVLC LumaLevel4x4 residuals (16-coeff blocks) decoded,
    * dequantized and added onto the motion-compensated prediction.
    * `lum_sum` is the closed form in the synthesizer's scaladoc.
    * Map-only. */
  def mp4PResFrameFeatures(df: DataFrame, idCol: String): DataFrame =
    mp4TotalFeatures(df, idCol, MediaSynth.mp4PRes)

  /** Multi-reference variant (round 17): [[MediaSynth.mp4PMRef]]
    * fixtures whose P slices override the active-reference count and
    * pick per-MB te(v) reference indices from a sliding 2-frame DPB.
    * `lum_sum` is the closed form in the synthesizer's scaladoc.
    * Map-only. */
  def mp4PMRefFrameFeatures(df: DataFrame, idCol: String): DataFrame =
    mp4TotalFeatures(df, idCol, MediaSynth.mp4PMRef)

  /** Partitioned-macroblock variant (round 17): [[MediaSynth.mp4PPart]]
    * fixtures whose P slices code P_L0_L0_16x8 / 8x16 macroblocks with
    * per-partition references. `lum_sum` is the closed form in the
    * synthesizer's scaladoc. Map-only. */
  def mp4PPartFrameFeatures(df: DataFrame, idCol: String): DataFrame =
    mp4TotalFeatures(df, idCol, MediaSynth.mp4PPart)

  /** Non-reference-frame variant (round 18): [[MediaSynth.mp4PNonRef]]
    * fixtures whose refresh frame carries nal_ref_idc = 0 — output but
    * excluded from the DPB, so later P_Skip frames copy the IDR, not
    * the refresh. `lum_sum` is the closed form in the synthesizer's
    * scaladoc. Map-only. */
  def mp4PNonRefFrameFeatures(df: DataFrame, idCol: String): DataFrame =
    mp4TotalFeatures(df, idCol, MediaSynth.mp4PNonRef)

  /** Shared all-frame decode mapper for the inter-prediction gates:
    * synthesize the per-id MP4, decode EVERY sample with reference
    * propagation, and emit whole-stream totals. */
  private def mp4TotalFeatures(df: DataFrame, idCol: String,
      synth: Long => Array[Byte]): DataFrame = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("n_frames", LongType),
      StructField("width", LongType), StructField("height", LongType),
      StructField("lum_sum", LongType), StructField("plane_bytes", LongType)))
    val enc = RowEncoder.encoderFor(schema)
    df.select(col(idCol).cast(LongType).as("doc_id")).mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        JvmMp4Codec.decodeAllLuma(synth(id)) match {
          case Some((sps, frames)) =>
            var sum = 0L
            frames.foreach { f =>
              var i = 0
              while (i < f.length) { sum += f(i) & 0xff; i += 1 }
            }
            Row(id, frames.length.toLong, sps.widthMbs * 16L, sps.heightMbs * 16L,
              sum, frames.map(_.length.toLong).sum)
          case None => Row(id, -1L, -1L, -1L, -1L, -1L)
        }
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
  * swaps storage the same way a deployment swaps codecs here). This
  * container ships no image/audio/video libraries, so the DEFAULT codec
  * is the clearly-marked deterministic stub; a deployment registers a
  * real implementation (JavaCV/ffmpeg, TwelveMonkeys ImageIO, ...) and
  * every codec-routed operator picks it up by mime prefix, executors
  * included (codecs are Serializable and ship with the task closure).
  */
trait MediaCodec extends Serializable {
  /** Mime types this codec handles, e.g. accepts("image/png"). */
  def accepts(mime: String): Boolean
  /** Decode payload -> fixed-length feature vector. */
  def features(bytes: Array[Byte], mime: String): Array[Long]
  /** Decode + sample n frames (video frames / audio windows). */
  def sampleFrames(bytes: Array[Byte], mime: String, n: Int): Seq[Array[Byte]]
}

/** STUB codec: no decoding (none is possible in this container) — a
  * 16-bin byte histogram as the "feature vector" and evenly-spaced
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
  * JDK lacks — that remains the documented JavaCV seam; MJPEG is the
  * one real video format that is pure JVM. */
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

object MediaCodecs {
  /** Default stack: real JVM codecs first, stub as the catch-all. */
  private val defaults: Seq[MediaCodec] =
    Seq(JvmImageCodec, JvmWavCodec, JvmMjpegCodec, JvmMp4Codec, StubMediaCodec)
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

  /** MP4/H.264 clip: a REAL ISO-BMFF container (ftyp + mdat + moov with
    * mvhd/trak/mdia/minf/stbl boxes, avc1 sample entry, avcC parameter
    * sets, stts/stsc/stsz/stco sample tables) holding (1 + id%3)
    * baseline-profile IDR frames built ENTIRELY of I_PCM macroblocks:
    * raw-sample MBs are legal H.264 (spec 7.3.5 mb_type I_PCM), so a
    * pure-JVM decoder can recover the exact pixels after genuinely
    * parsing SPS/PPS/slice-header Exp-Golomb fields and
    * emulation-prevention bytes. Frame f's luma is
    * (id + 40f + 3x + 5y) % 256 (chroma constant 128) at
    * 16*(1 + id%2) x 16 — LOSSLESS, so unlike the MJPEG fixture the
    * oracle can pin the decoded pixel SUM, not just the geometry. */
  def mp4(id: Long): Array[Byte] = {
    val wMb = (1 + id % 2).toInt
    val hMb = 1
    val w = wMb * 16
    val h = hMb * 16
    val nFrames = (1 + id % 3).toInt

    def nalIdr(f: Int): Array[Byte] = {
      val bw = new graft.extras.H264.BitWriter
      bw.u(0x65, 8) // nal: ref_idc=3, type=5 (IDR slice)
      bw.ue(0) // first_mb_in_slice
      bw.ue(7) // slice_type: I (all slices in pic)
      bw.ue(0) // pps id
      bw.u(0, 4) // frame_num (log2_max_frame_num = 4)
      bw.ue(0) // idr_pic_id
      bw.u(0, 1); bw.u(0, 1) // no_output_of_prior_pics, long_term_reference
      bw.se(0) // slice_qp_delta
      var mb = 0
      while (mb < wMb * hMb) {
        bw.ue(25) // mb_type I_PCM
        bw.byteAlignZero() // pcm_alignment_zero_bit
        val mbX = (mb % wMb) * 16
        val mbY = (mb / wMb) * 16
        val luma = new Array[Byte](256)
        var yy = 0
        while (yy < 16) {
          var xx = 0
          while (xx < 16) {
            luma(yy * 16 + xx) =
              ((id + 40L * f + 3 * (mbX + xx) + 5 * (mbY + yy)) % 256).toByte
            xx += 1
          }
          yy += 1
        }
        bw.bytes(luma)
        val chroma = new Array[Byte](128)
        java.util.Arrays.fill(chroma, 128.toByte)
        bw.bytes(chroma)
        mb += 1
      }
      bw.rbspTrailing()
      graft.extras.H264.addEmulationPrevention(bw.result())
    }

    mp4Container(wMb, hMb, (0 until nFrames).map(nalIdr))
  }

  /** CAVLC sibling of [[mp4]] (round 12): the same ISO-BMFF container
    * holding IDR frames whose macroblocks are ENTROPY-CODED — I_16x16,
    * DC prediction, cbp 0, so each MB carries exactly one CAVLC
    * Intra16x16DCLevel residual block. MB 0 codes a single DC level
    * L = (1 + (id + f) % 8) * (id % 3 == 0 ? -1 : 1): |L| = 1 takes the
    * trailing-ones sign path, |L| > 1 the level_prefix path, negative
    * ids the sign mappings. Every other MB codes TotalCoeff = 0. At
    * QP 51 (pic_init_qp 26 + slice_qp_delta 25) the 8.5.10 dequant
    * chain gives each MB-0 pixel residual r = (56*L + 32) >> 6, and
    * because every later MB reproduces its flat neighbors through DC
    * prediction with zero residual, the WHOLE frame reconstructs to the
    * flat value 128 + r — so the decoded luma sum is the closed form
    * W*H*(128+r), oracle-checkable without any reference decoder. This
    * writer shares NO table/code with [[H264.readResidualCavlc]]
    * beyond the bit primitives, so a table error on either side fails
    * the gate instead of cancelling out. */
  def mp4Cavlc(id: Long): Array[Byte] = {
    val wMb = (1 + id % 2).toInt
    val hMb = (1 + (id / 2) % 2).toInt
    val nFrames = (1 + id % 3).toInt

    def nalIdr(f: Int): Array[Byte] = {
      val bw = new graft.extras.H264.BitWriter
      bw.u(0x65, 8) // nal: ref_idc=3, type=5 (IDR slice)
      bw.ue(0) // first_mb_in_slice
      bw.ue(7) // slice_type: I (all slices in pic)
      bw.ue(0) // pps id
      bw.u(0, 4) // frame_num (log2_max_frame_num = 4)
      bw.ue(0) // idr_pic_id
      bw.u(0, 1); bw.u(0, 1) // no_output_of_prior_pics, long_term_reference
      bw.se(25) // slice_qp_delta: QP = 26 + 25 = 51
      val lvl = (1 + (id + f) % 8).toInt * (if (id % 3 == 0) -1 else 1)
      var mb = 0
      while (mb < wMb * hMb) {
        bw.ue(3) // mb_type: I_16x16, predMode DC(2), cbp luma 0 chroma 0
        bw.ue(0) // intra_chroma_pred_mode: DC
        bw.se(0) // mb_qp_delta
        // Intra16x16DCLevel, CAVLC, nC = 0 (no coded AC anywhere)
        if (mb == 0) {
          if (math.abs(lvl) == 1) {
            bw.u(1, 2) // coeff_token "01": TotalCoeff=1, TrailingOnes=1
            bw.u(if (lvl < 0) 1 else 0, 1) // trailing-one sign
          } else {
            bw.u(0x5, 6) // coeff_token "000101": TotalCoeff=1, T1=0
            // level, suffixLength 0: encoder-side levelCode, minus the
            // +2 the decoder re-adds for the first non-T1 level
            val lc = (if (lvl > 0) 2 * lvl - 2 else -2 * lvl - 1) - 2
            bw.u(0, lc); bw.u(1, 1) // level_prefix = lc, no suffix
          }
          bw.u(1, 1) // total_zeros = 0 ("1" in the TotalCoeff=1 column)
        } else {
          bw.u(1, 1) // coeff_token "1": TotalCoeff=0
        }
        mb += 1
      }
      bw.rbspTrailing()
      graft.extras.H264.addEmulationPrevention(bw.result())
    }
    mp4Container(wMb, hMb, (0 until nFrames).map(nalIdr))
  }

  /** AC sibling of [[mp4Cavlc]] (round 14): every macroblock codes
    * mb_type 15 — I_16x16, DC prediction, CodedBlockPattern luma 15 —
    * so each MB carries the Intra16x16DCLevel block AND sixteen
    * Intra16x16ACLevel blocks. The DC payload is identical to
    * [[mp4Cavlc]] (MB 0 codes L(id, f), the rest zero). AC payloads sit
    * ONLY in the raster-LAST macroblock (so DC flat-propagation to
    * every other MB is untouched), in luma4x4 blocks 10, 12 and 15 —
    * mutually non-adjacent in the 4x4 grid, hence nC = 0 for every
    * coded block and for all that follow:
    *
    *   blk10: TotalCoeff 1, T1 0, level +5 at AC pos 4  -> d(0,2)=1120
    *   blk12: TotalCoeff 1, T1 1, level -1 at AC pos 2  -> d(2,0)=-224
    *   blk15: TotalCoeff 2, T1 1, -1 at AC pos 4, +2 at AC pos 2
    *          (total_zeros 3 in the tc=2 column, run_before 1 at
    *          zerosLeft 3)                -> d(0,2)=-224, d(2,0)=448
    *
    * At QP 51 the dequantized cells of the three inverse transforms
    * form fixed multisets ({+-1120 x8}, {+-224 x8}, {+-224 x4,
    * +-672 x4} around the block's DC term D), so the frame-0 luma sum
    * stays a closed form:
    *   W*H*(128 + floor((56L+32)/64))
    *     + 8 f(1120) + 8 f(-1120) + 12 f(224) + 12 f(-224)
    *     + 4 f(672) + 4 f(-672) - 48 f(0)
    * with f(x) = floor((D + x + 32)/64) and D = 56L when the frame is
    * a single MB (the last MB IS MB 0) else 0. No pixel clips (max
    * |residual| 25 around a [121,135] base). Shares only bit
    * primitives with the decoder — tables and placement are written
    * independently on each side. */
  def mp4CavlcAc(id: Long): Array[Byte] = {
    val wMb = (1 + id % 2).toInt
    val hMb = (1 + (id / 2) % 2).toInt
    val nFrames = (1 + id % 3).toInt

    def nalIdr(f: Int): Array[Byte] = {
      val bw = new graft.extras.H264.BitWriter
      bw.u(0x65, 8)
      bw.ue(0); bw.ue(7); bw.ue(0)
      bw.u(0, 4); bw.ue(0)
      bw.u(0, 1); bw.u(0, 1)
      bw.se(25) // QP 51
      val lvl = (1 + (id + f) % 8).toInt * (if (id % 3 == 0) -1 else 1)
      val nMbs = wMb * hMb
      var mb = 0
      while (mb < nMbs) {
        bw.ue(15) // mb_type: I_16x16, predMode DC(2), cbp luma 15 chroma 0
        bw.ue(0) // intra_chroma_pred_mode: DC
        bw.se(0) // mb_qp_delta
        // Intra16x16DCLevel (nC = 0): same payload as mp4Cavlc
        if (mb == 0) {
          if (math.abs(lvl) == 1) {
            bw.u(1, 2) // coeff_token "01": TotalCoeff=1, TrailingOnes=1
            bw.u(if (lvl < 0) 1 else 0, 1)
          } else {
            bw.u(0x5, 6) // coeff_token "000101": TotalCoeff=1, T1=0
            val lc = (if (lvl > 0) 2 * lvl - 2 else -2 * lvl - 1) - 2
            bw.u(0, lc); bw.u(1, 1)
          }
          bw.u(1, 1) // total_zeros = 0
        } else {
          bw.u(1, 1) // TotalCoeff = 0
        }
        // Intra16x16ACLevel x16 (block-scan order), all nC = 0
        var bi = 0
        while (bi < 16) {
          if (mb == nMbs - 1 && bi == 10) {
            bw.u(0x5, 6) // coeff_token "000101": tc=1, t1=0
            bw.u(0, 6); bw.u(1, 1) // level +5: prefix 6 (levelCode 8-2)
            bw.u(2, 4) // total_zeros 4 (tc=1 column): "0010"
          } else if (mb == nMbs - 1 && bi == 12) {
            bw.u(1, 2) // coeff_token "01": tc=1, t1=1
            bw.u(1, 1) // trailing-one sign: negative
            bw.u(2, 3) // total_zeros 2 (tc=1 column): "010"
          } else if (mb == nMbs - 1 && bi == 15) {
            bw.u(0x4, 6) // coeff_token "000100": tc=2, t1=1
            bw.u(1, 1) // T1 sign: -1 (highest-frequency coefficient)
            bw.u(1, 1) // level +2: levelCode 2 - 2 re-add -> prefix 0
            bw.u(0x4, 3) // total_zeros 3 (tc=2 column): "100"
            bw.u(2, 2) // run_before 1 at zerosLeft 3: "10"
          } else {
            bw.u(1, 1) // TotalCoeff = 0
          }
          bi += 1
        }
        mb += 1
      }
      bw.rbspTrailing()
      graft.extras.H264.addEmulationPrevention(bw.result())
    }
    mp4Container(wMb, hMb, (0 until nFrames).map(nalIdr))
  }

  /** Inter sibling of [[mp4]] (round 15 stretch): frame 0 is the same
    * lossless I_PCM IDR (luma (id + 3x + 5y) % 256), and every later
    * frame is a non-IDR P slice made ENTIRELY of skipped macroblocks —
    * one mb_skip_run covering the frame. Under the spec 8.4.1.1 P_Skip
    * derivation every skipped MB of such a frame predicts (0,0) from
    * reference 0, so each P frame reconstructs frame 0 EXACTLY and the
    * total decoded luma sum is the closed form n_frames * sum(frame 0).
    * The writer emits the full non-IDR P slice header (ref-list
    * override / modification / marking flags) so the decoder parses a
    * real inter header, not a truncated one; it shares only the bit
    * primitives with [[H264.decodePSkipLuma]]. */
  def mp4PSkip(id: Long): Array[Byte] = {
    val wMb = (1 + id % 2).toInt
    val hMb = (1 + (id / 2) % 2).toInt
    val nFrames = (2 + id % 3).toInt

    def nalIdr: Array[Byte] = {
      val bw = new graft.extras.H264.BitWriter
      bw.u(0x65, 8) // nal: ref_idc=3, type=5 (IDR slice)
      bw.ue(0) // first_mb_in_slice
      bw.ue(7) // slice_type: I (all slices in pic)
      bw.ue(0) // pps id
      bw.u(0, 4) // frame_num
      bw.ue(0) // idr_pic_id
      bw.u(0, 1); bw.u(0, 1) // no_output_of_prior_pics, long_term_reference
      bw.se(0) // slice_qp_delta
      var mb = 0
      while (mb < wMb * hMb) {
        bw.ue(25) // mb_type I_PCM
        bw.byteAlignZero() // pcm_alignment_zero_bit
        val mbX = (mb % wMb) * 16
        val mbY = (mb / wMb) * 16
        val luma = new Array[Byte](256)
        var yy = 0
        while (yy < 16) {
          var xx = 0
          while (xx < 16) {
            luma(yy * 16 + xx) =
              ((id + 3 * (mbX + xx) + 5 * (mbY + yy)) % 256).toByte
            xx += 1
          }
          yy += 1
        }
        bw.bytes(luma)
        val chroma = new Array[Byte](128)
        java.util.Arrays.fill(chroma, 128.toByte)
        bw.bytes(chroma)
        mb += 1
      }
      bw.rbspTrailing()
      graft.extras.H264.addEmulationPrevention(bw.result())
    }

    def nalP(f: Int): Array[Byte] = {
      val bw = new graft.extras.H264.BitWriter
      bw.u(0x41, 8) // nal: ref_idc=2, type=1 (non-IDR slice)
      bw.ue(0) // first_mb_in_slice
      bw.ue(5) // slice_type: P (all slices in pic)
      bw.ue(0) // pps id
      bw.u(f % 16, 4) // frame_num
      bw.u(0, 1) // num_ref_idx_active_override_flag
      bw.u(0, 1) // ref_pic_list_modification_flag_l0
      bw.u(0, 1) // adaptive_ref_pic_marking_mode_flag
      bw.se(0) // slice_qp_delta
      bw.ue(wMb.toLong * hMb) // mb_skip_run: every MB skipped
      bw.rbspTrailing()
      graft.extras.H264.addEmulationPrevention(bw.result())
    }
    mp4Container(wMb, hMb, nalIdr +: (1 until nFrames).map(nalP),
      maxRefFrames = 1)
  }

  /** Coded-motion sibling of [[mp4PSkip]] (round 16 stretch): frame 0
    * is a lossless I_PCM IDR whose luma is a VERTICAL ramp with
    * constant rows (base + 4*y, base = 20 + id%50), and every later
    * frame is a non-IDR P slice of coded P_L0_16x16 macroblocks with
    * real Exp-Golomb mvd_l0 pairs and zero residual. The motion
    * schedule makes the total decoded luma sum a closed form while
    * still pinning the decoder's hard parts:
    *
    *  - ODD P frames carry per-MB HORIZONTAL motion with assorted
    *    quarter/half-pel fractions (mvd_y = 0 everywhere; MB 0 is a
    *    genuine P_Skip run of 1). Rows are constant, so a CORRECT
    *    quarter-pel interpolator reproduces the frame exactly — but
    *    only if the 6-tap (1,-5,20,20,-5,1) DC gain and the (+16)>>5
    *    rounding are right, so the closed form pins the filter
    *    arithmetic at every fraction the schedule sweeps.
    *  - EVEN P frames shift the whole frame DOWN by k = 1 + id%5
    *    integer pels using a single non-zero mvd on MB 0 only; every
    *    other MB's vector must be reproduced by the 8.4.1.3 predictor
    *    (the exactly-one-refIdx rule on 1-MB-wide frames, the
    *    B/C/D-unavailable -> A rule on the top row, the median with
    *    the D substitution elsewhere). A wrong predictor misaligns the
    *    ramp in that MB and changes the sum. With edge-replicated
    *    sampling the shifted ramp stays closed-form: cumulative shift
    *    K gives sum_y (base + 4*min(y+K, h-1)) per column, and
    *    consecutive downward shifts compose as K1+K2.
    *
    * Frame sums: S(K) = w*(base*h + 4*(h(h-1)/2 - K(K-1)/2 + K(h-1))),
    * frames = [S(0), S(0), S(k), S(k), S(2k)] truncated to nFrames =
    * 3 + id%3 — the multimodal_h264_pmv gate's oracle. */
  def mp4PMv(id: Long): Array[Byte] = {
    val wMb = (1 + id % 2).toInt
    val hMb = (1 + (id / 2) % 2).toInt
    val nFrames = (3 + id % 3).toInt
    val base = (20 + id % 50).toInt
    val k = (1 + id % 5).toInt
    val nMbs = wMb * hMb

    def nalIdr: Array[Byte] = {
      val bw = new graft.extras.H264.BitWriter
      bw.u(0x65, 8) // nal: ref_idc=3, type=5 (IDR slice)
      bw.ue(0) // first_mb_in_slice
      bw.ue(7) // slice_type: I (all slices in pic)
      bw.ue(0) // pps id
      bw.u(0, 4) // frame_num
      bw.ue(0) // idr_pic_id
      bw.u(0, 1); bw.u(0, 1) // no_output_of_prior_pics, long_term_reference
      bw.se(0) // slice_qp_delta
      var mb = 0
      while (mb < nMbs) {
        bw.ue(25) // mb_type I_PCM
        bw.byteAlignZero() // pcm_alignment_zero_bit
        val mbY = (mb / wMb) * 16
        val luma = new Array[Byte](256)
        var yy = 0
        while (yy < 16) {
          java.util.Arrays.fill(luma, yy * 16, yy * 16 + 16,
            (base + 4 * (mbY + yy)).toByte) // constant rows: ramp in y
          yy += 1
        }
        bw.bytes(luma)
        val chroma = new Array[Byte](128)
        java.util.Arrays.fill(chroma, 128.toByte)
        bw.bytes(chroma)
        mb += 1
      }
      bw.rbspTrailing()
      graft.extras.H264.addEmulationPrevention(bw.result())
    }

    def nalP(f: Int): Array[Byte] = {
      val bw = new graft.extras.H264.BitWriter
      bw.u(0x41, 8) // nal: ref_idc=2, type=1 (non-IDR slice)
      bw.ue(0) // first_mb_in_slice
      bw.ue(5) // slice_type: P (all slices in pic)
      bw.ue(0) // pps id
      bw.u(f % 16, 4) // frame_num
      bw.u(0, 1) // num_ref_idx_active_override_flag
      bw.u(0, 1) // ref_pic_list_modification_flag_l0
      bw.u(0, 1) // adaptive_ref_pic_marking_mode_flag
      bw.se(0) // slice_qp_delta
      if (f % 2 == 1) {
        // class A: horizontal fractional motion over constant rows.
        // MB 0 rides a real P_Skip run; the rest are coded 16x16 MBs
        // with varied mvd_x (both signs, all quarter fractions) and
        // mvd_y = 0, so every derived vector keeps mv_y = 0. Each
        // slice_data iteration is ONE mb_skip_run + ONE
        // macroblock_layer, so MB 1's layer follows the run directly.
        bw.ue(1) // mb_skip_run = 1 (MB 0)
        var mb = 1
        while (mb < nMbs) {
          if (mb > 1) bw.ue(0) // next iteration's mb_skip_run = 0
          bw.ue(0) // mb_type P_L0_16x16
          bw.se(((id + 7 * f + 13 * mb) % 25) - 12) // mvd_x
          bw.se(0) // mvd_y
          bw.ue(0) // coded_block_pattern (inter): 0 -> no residual
          mb += 1
        }
      } else {
        // class B: uniform integer shift down by k pels. Only MB 0
        // carries the vector; MBs 1.. must recover it via 8.4.1.3.
        var mb = 0
        while (mb < nMbs) {
          bw.ue(0) // mb_skip_run = 0
          bw.ue(0) // mb_type P_L0_16x16
          bw.se(0) // mvd_x
          bw.se(if (mb == 0) 4L * k else 0L) // mvd_y
          bw.ue(0) // coded_block_pattern: 0
          mb += 1
        }
      }
      bw.rbspTrailing()
      graft.extras.H264.addEmulationPrevention(bw.result())
    }
    mp4Container(wMb, hMb, nalIdr +: (1 until nFrames).map(nalP),
      maxRefFrames = 1)
  }

  /** Intra-refresh sibling of [[mp4PMv]] (round 16): frame 0 is a
    * CONSTANT I_PCM IDR (luma v = 30 + id%180), and every later frame
    * is a P slice whose macroblock 0 is an INTRA I_16x16/DC/cbp-0
    * refresh MB carrying one CAVLC-coded DC level L_f (the shape every
    * real encoder emits to stop error propagation) while the remaining
    * macroblocks ride one P_Skip run. Under 8.4.1.1 every skipped MB
    * derives mv (0,0): the first skipped MB after the intra MB has no
    * top neighbor on the top row (or a zero-vector ref-0 neighbor
    * below), and an INTRA left neighbor is neither "unavailable" nor
    * "ref-0 with zero mv" — the closed form only needs the vector to
    * be zero, which the derivation gives on every path here.
    *
    * MB 0 has no left/top neighbors, so its DC prediction is the
    * constant 128 regardless of the reference, and at QP 51 (slice_qp
    * delta 25, same as [[mp4Cavlc]]) its reconstruction is flat
    *   m_f = 128 + floor((56*L_f + 32)/64),
    * L_f = (1 + (id + f) % 8) * (id%3==0 ? -1 : 1). Skipped MBs copy
    * the previous frame in place, so positions outside MB 0 stay v in
    * every frame and the total decoded luma sum is the closed form
    *   w*h*v + sum_f [256*m_f + (w*h - 256)*v]
    * — the multimodal_h264_pintra gate's oracle. The DC bit payload is
    * written with the same independent encoder patterns as
    * [[mp4Cavlc]] (no shared tables with the decoder). */
  def mp4PIntra(id: Long): Array[Byte] = {
    val wMb = (1 + id % 2).toInt
    val hMb = (1 + (id / 2) % 2).toInt
    val nFrames = (2 + id % 3).toInt
    val v = (30 + id % 180).toInt
    val nMbs = wMb * hMb

    def nalIdr: Array[Byte] = {
      val bw = new graft.extras.H264.BitWriter
      bw.u(0x65, 8) // nal: ref_idc=3, type=5 (IDR slice)
      bw.ue(0) // first_mb_in_slice
      bw.ue(7) // slice_type: I (all slices in pic)
      bw.ue(0) // pps id
      bw.u(0, 4) // frame_num
      bw.ue(0) // idr_pic_id
      bw.u(0, 1); bw.u(0, 1) // no_output_of_prior_pics, long_term_reference
      bw.se(0) // slice_qp_delta
      var mb = 0
      while (mb < nMbs) {
        bw.ue(25) // mb_type I_PCM
        bw.byteAlignZero() // pcm_alignment_zero_bit
        val luma = new Array[Byte](256)
        java.util.Arrays.fill(luma, v.toByte)
        bw.bytes(luma)
        val chroma = new Array[Byte](128)
        java.util.Arrays.fill(chroma, 128.toByte)
        bw.bytes(chroma)
        mb += 1
      }
      bw.rbspTrailing()
      graft.extras.H264.addEmulationPrevention(bw.result())
    }

    def nalP(f: Int): Array[Byte] = {
      val bw = new graft.extras.H264.BitWriter
      bw.u(0x41, 8) // nal: ref_idc=2, type=1 (non-IDR slice)
      bw.ue(0) // first_mb_in_slice
      bw.ue(5) // slice_type: P (all slices in pic)
      bw.ue(0) // pps id
      bw.u(f % 16, 4) // frame_num
      bw.u(0, 1) // num_ref_idx_active_override_flag
      bw.u(0, 1) // ref_pic_list_modification_flag_l0
      bw.u(0, 1) // adaptive_ref_pic_marking_mode_flag
      bw.se(25) // slice_qp_delta: QP = 26 + 25 = 51 (the 56L form)
      // slice_data iteration 1: mb_skip_run 0, then the intra MB 0
      bw.ue(0)
      bw.ue(8) // mb_type: 5 + 3 = I_16x16, DC pred, cbp luma 0 chroma 0
      bw.ue(0) // intra_chroma_pred_mode: DC
      bw.se(0) // mb_qp_delta
      val lvl = (1 + (id + f) % 8).toInt * (if (id % 3 == 0) -1 else 1)
      // Intra16x16DCLevel (CAVLC, nC = 0) — same encoder-side bit
      // patterns as mp4Cavlc, shared with the decoder only through
      // the bit primitives
      if (math.abs(lvl) == 1) {
        bw.u(1, 2) // coeff_token "01": TotalCoeff=1, TrailingOnes=1
        bw.u(if (lvl < 0) 1 else 0, 1) // trailing-one sign
      } else {
        bw.u(0x5, 6) // coeff_token "000101": TotalCoeff=1, T1=0
        val lc = (if (lvl > 0) 2 * lvl - 2 else -2 * lvl - 1) - 2
        bw.u(0, lc); bw.u(1, 1) // level_prefix = lc, no suffix
      }
      bw.u(1, 1) // total_zeros = 0 ("1" in the TotalCoeff=1 column)
      // slice_data iteration 2: one skip run covers the rest
      if (nMbs > 1) bw.ue(nMbs - 1L)
      bw.rbspTrailing()
      graft.extras.H264.addEmulationPrevention(bw.result())
    }
    mp4Container(wMb, hMb, nalIdr +: (1 until nFrames).map(nalP),
      maxRefFrames = 1)
  }

  /** Coded-inter-residual sibling of [[mp4PMv]] (round 17): frame 0 is
    * a CONSTANT I_PCM IDR (luma v = 60 + id%120); every later frame is
    * a P slice whose raster-LAST macroblock is a coded P_L0_16x16 with
    * CodedBlockPattern luma 15 / chroma 0 (inter me(v) codeNum 11,
    * Table 9-4), mb_qp_delta to QP 51, zero motion, and CAVLC
    * LumaLevel4x4 residuals in luma4x4 blocks 10, 12 and 15; every
    * other MB rides one P_Skip run. Coefficients (16-coeff inter
    * blocks — zigzag position 0 is a REGULAR coefficient here, the key
    * shape difference from the Intra_16x16 15-AC blocks):
    *
    *   blk10: tc=1 T1=0, level +L (L = 2 + id%5) at zigzag pos 0 ->
    *          d(0,0) = 224*L; its all-same-sign inverse transform makes
    *          the block's pixel-residual sum S1 value-sensitive:
    *          S1(2..6) = 112,176,224,288,336
    *   blk12: tc=1 T1=1, -1 at zigzag pos 2 -> d(1,0) = -288, S2 = 4
    *   blk15: tc=2 T1=1 (-1 at pos 4, +2 at pos 2 via total_zeros 3 +
    *          run_before 1) -> S3 = 0
    *
    * Motion is zero everywhere (P_Skip derives (0,0); the coded MB's
    * mvd is 0 against a zero median), so each P frame copies its
    * reference and adds the SAME residual constants: pixels accumulate
    * v + f*r with no clipping (max |r| = 21, v in [60,179], nf <= 4),
    * giving the closed form
    *   lum_sum = nf*w*h*v + (S1(L) + 4) * nf*(nf-1)/2
    * — the multimodal_h264_pres gate's oracle. A wrong inter cbp
    * mapping, missing mb_qp_delta, an intra-AC-shaped 15-coefficient
    * read, bad nC bookkeeping or dequant/IDCT drift all move the sum.
    * Shares only bit primitives with the decoder. */
  def mp4PRes(id: Long): Array[Byte] = {
    val wMb = (1 + id % 2).toInt
    val hMb = (1 + (id / 2) % 2).toInt
    val nFrames = (2 + id % 3).toInt
    val v = (60 + id % 120).toInt
    val lvl = (2 + id % 5).toInt
    val nMbs = wMb * hMb

    def nalIdr: Array[Byte] = {
      val bw = new graft.extras.H264.BitWriter
      bw.u(0x65, 8) // nal: ref_idc=3, type=5 (IDR slice)
      bw.ue(0); bw.ue(7); bw.ue(0) // first_mb, slice_type I, pps id
      bw.u(0, 4); bw.ue(0) // frame_num, idr_pic_id
      bw.u(0, 1); bw.u(0, 1) // dec_ref_pic_marking (IDR)
      bw.se(0) // slice_qp_delta
      var mb = 0
      while (mb < nMbs) {
        bw.ue(25) // mb_type I_PCM
        bw.byteAlignZero()
        val luma = new Array[Byte](256)
        java.util.Arrays.fill(luma, v.toByte)
        bw.bytes(luma)
        val chroma = new Array[Byte](128)
        java.util.Arrays.fill(chroma, 128.toByte)
        bw.bytes(chroma)
        mb += 1
      }
      bw.rbspTrailing()
      graft.extras.H264.addEmulationPrevention(bw.result())
    }

    def nalP(f: Int): Array[Byte] = {
      val bw = new graft.extras.H264.BitWriter
      bw.u(0x41, 8) // nal: ref_idc=2, type=1 (non-IDR slice)
      bw.ue(0) // first_mb_in_slice
      bw.ue(5) // slice_type: P (all slices in pic)
      bw.ue(0) // pps id
      bw.u(f % 16, 4) // frame_num
      bw.u(0, 1) // num_ref_idx_active_override_flag
      bw.u(0, 1) // ref_pic_list_modification_flag_l0
      bw.u(0, 1) // adaptive_ref_pic_marking_mode_flag
      bw.se(0) // slice_qp_delta: QP 26 at slice level
      bw.ue(nMbs - 1L) // mb_skip_run covers every MB but the last
      bw.ue(0) // mb_type P_L0_16x16
      bw.se(0); bw.se(0) // mvd_x, mvd_y: copy from reference
      bw.ue(11) // coded_block_pattern me(v): inter codeNum 11 -> cbp 15
      bw.se(25) // mb_qp_delta: 26 + 25 = 51 (the dequant constants above)
      var bi = 0
      while (bi < 16) {
        if (bi == 10) {
          bw.u(0x5, 6) // coeff_token "000101": tc=1, T1=0 (nC<2)
          bw.u(0, 2 * lvl - 4); bw.u(1, 1) // level +lvl (levelCode 2L-2, re-add 2)
          bw.u(1, 1) // total_zeros 0 -> coefficient at zigzag pos 0
        } else if (bi == 12) {
          bw.u(1, 2) // coeff_token "01": tc=1, T1=1
          bw.u(1, 1) // trailing-one sign: -1
          bw.u(2, 3) // total_zeros 2 -> pos 2
        } else if (bi == 15) {
          bw.u(0x4, 6) // coeff_token "000100": tc=2, T1=1
          bw.u(1, 1) // T1 sign: -1 (highest-frequency coefficient)
          bw.u(1, 1) // level +2 (levelCode 2 - 2 re-add -> prefix 0)
          bw.u(0x4, 3) // total_zeros 3 (tc=2 column): "100"
          bw.u(2, 2) // run_before 1 at zerosLeft 3: "10"
        } else {
          bw.u(1, 1) // TotalCoeff = 0 (every remaining nC stays < 2)
        }
        bi += 1
      }
      bw.rbspTrailing()
      graft.extras.H264.addEmulationPrevention(bw.result())
    }
    mp4Container(wMb, hMb, nalIdr +: (1 until nFrames).map(nalP),
      maxRefFrames = 1)
  }

  /** Multi-reference sibling (round 17): pins te(v) ref_idx parsing,
    * the sliding decoded-picture buffer, and per-reference motion
    * compensation. Frames:
    *
    *   0: I_PCM IDR, constant vA = 50 + id%100
    *   1: P slice, ALL macroblocks intra-refresh I_16x16/DC at QP 51 —
    *      MB 0 carries one CAVLC DC level Lb (the 56L closed form),
    *      later MBs level 0 and DC-predict from reconstructed
    *      neighbors, so the whole frame lands on the constant
    *      vB = 128 + ((56*Lb + 32) >> 6)
    *   2: P slice with num_ref_idx_active override to 2: every MB is
    *      P_L0_16x16 / zero mvd / cbp 0 with an EXPLICIT te(v)
    *      ref_idx — even MBs take ref 0 (frame 1 = vB), odd MBs ref 1
    *      (frame 0 = vA); a decoder that drops the te(v) bit misparses
    *      everything after, one that ignores refIdx sums wrong
    *   3 (when nf = 4): override to 2 again, ALL MBs ref 1 — by now
    *      the DPB slid to [frame2, frame1], so ref 1 is frame 1 (vB):
    *      wrong DPB order or a missing slide changes the sum
    *
    * lum_sum = w*h*(vA + vB) + 256*(ceil(n/2)*vB + floor(n/2)*vA)
    *           + (nf == 4 ? w*h*vB : 0),  n = macroblock count
    * — the multimodal_h264_mref gate's oracle. */
  def mp4PMRef(id: Long): Array[Byte] = {
    val wMb = (1 + id % 2).toInt
    val hMb = (1 + (id / 2) % 2).toInt
    val nFrames = (3 + id % 2).toInt
    val vA = (50 + id % 100).toInt
    val lb = (1 + id % 8).toInt * (if (id % 3 == 0) -1 else 1)
    val nMbs = wMb * hMb

    def nalIdr: Array[Byte] = {
      val bw = new graft.extras.H264.BitWriter
      bw.u(0x65, 8)
      bw.ue(0); bw.ue(7); bw.ue(0)
      bw.u(0, 4); bw.ue(0)
      bw.u(0, 1); bw.u(0, 1)
      bw.se(0)
      var mb = 0
      while (mb < nMbs) {
        bw.ue(25) // mb_type I_PCM
        bw.byteAlignZero()
        val luma = new Array[Byte](256)
        java.util.Arrays.fill(luma, vA.toByte)
        bw.bytes(luma)
        val chroma = new Array[Byte](128)
        java.util.Arrays.fill(chroma, 128.toByte)
        bw.bytes(chroma)
        mb += 1
      }
      bw.rbspTrailing()
      graft.extras.H264.addEmulationPrevention(bw.result())
    }

    def pHeader(bw: graft.extras.H264.BitWriter, f: Int, twoRefs: Boolean): Unit = {
      bw.u(0x41, 8) // nal: ref_idc=2, type=1 (non-IDR slice)
      bw.ue(0); bw.ue(5); bw.ue(0) // first_mb, P slice, pps id
      bw.u(f % 16, 4) // frame_num
      if (twoRefs) { bw.u(1, 1); bw.ue(1) } // override -> l0 count 2
      else bw.u(0, 1)
      bw.u(0, 1) // ref_pic_list_modification_flag_l0
      bw.u(0, 1) // adaptive_ref_pic_marking_mode_flag
    }

    // frame 1: all-intra refresh to the constant vB (QP 51 DC form)
    def nalIntra(f: Int): Array[Byte] = {
      val bw = new graft.extras.H264.BitWriter
      pHeader(bw, f, twoRefs = false)
      bw.se(25) // slice_qp_delta: QP 51
      var mb = 0
      while (mb < nMbs) {
        bw.ue(0) // mb_skip_run
        bw.ue(8) // mb_type 5+3: I_16x16, DC pred, cbp 0
        bw.ue(0) // intra_chroma_pred_mode
        bw.se(0) // mb_qp_delta
        if (mb == 0) {
          if (math.abs(lb) == 1) {
            bw.u(1, 2) // coeff_token "01": tc=1, T1=1
            bw.u(if (lb < 0) 1 else 0, 1)
          } else {
            bw.u(0x5, 6) // coeff_token "000101": tc=1, T1=0
            val lc = (if (lb > 0) 2 * lb - 2 else -2 * lb - 1) - 2
            bw.u(0, lc); bw.u(1, 1)
          }
          bw.u(1, 1) // total_zeros = 0
        } else bw.u(1, 1) // TotalCoeff = 0: DC-predict from neighbors
        mb += 1
      }
      bw.rbspTrailing()
      graft.extras.H264.addEmulationPrevention(bw.result())
    }

    // frames 2+: explicit per-MB te(v) ref_idx against a 2-entry list
    def nalMRef(f: Int, refIdxOf: Int => Int): Array[Byte] = {
      val bw = new graft.extras.H264.BitWriter
      pHeader(bw, f, twoRefs = true)
      bw.se(0) // slice_qp_delta
      var mb = 0
      while (mb < nMbs) {
        bw.ue(0) // mb_skip_run
        bw.ue(0) // mb_type P_L0_16x16
        bw.u(1 - refIdxOf(mb), 1) // ref_idx_l0 te(v), cMax 1: value = !bit
        bw.se(0); bw.se(0) // mvd
        bw.ue(0) // coded_block_pattern: 0
        mb += 1
      }
      bw.rbspTrailing()
      graft.extras.H264.addEmulationPrevention(bw.result())
    }

    val nals = Seq(nalIdr, nalIntra(1), nalMRef(2, mb => mb % 2)) ++
      (if (nFrames == 4) Seq(nalMRef(3, _ => 1)) else Seq.empty)
    mp4Container(wMb, hMb, nals, maxRefFrames = 2)
  }

  /** Non-reference-frame sibling (round 18, from the round-17 review):
    * frame 1 refreshes the picture to constant vB but carries
    * nal_ref_idc = 0 — a DISPOSABLE frame that is output yet must NOT
    * enter the decoded-picture buffer (14496-10 §7.4.1), so the later
    * all-skip P frames copy frame 0's constant vA, not vB. A decoder
    * that pushes every decoded frame into the DPB (the pre-round-18
    * behavior) reconstructs vB in frames 2+ and moves the sum. Frames:
    *
    *   0: I_PCM IDR, constant vA                      (ref_idc 3)
    *   1: all-intra refresh to constant vB            (ref_idc 0)
    *   2: all-P_Skip -> RefPicList0[0] = frame 0 = vA (ref_idc 2)
    *   3 (nf = 4): all-P_Skip -> frame 2 = vA         (ref_idc 2)
    *
    * lum_sum = w*h*(vA + vB + vA (+ vA when nf = 4)) — the
    * multimodal_h264_nonref gate's closed-form oracle. */
  def mp4PNonRef(id: Long): Array[Byte] = {
    val wMb = (1 + id % 2).toInt
    val hMb = (1 + (id / 2) % 2).toInt
    val nFrames = (3 + id % 2).toInt
    val vA = (50 + id % 100).toInt
    val lb = (1 + id % 8).toInt * (if (id % 3 == 0) -1 else 1)
    val nMbs = wMb * hMb

    def nalIdr: Array[Byte] = {
      val bw = new graft.extras.H264.BitWriter
      bw.u(0x65, 8)
      bw.ue(0); bw.ue(7); bw.ue(0)
      bw.u(0, 4); bw.ue(0)
      bw.u(0, 1); bw.u(0, 1)
      bw.se(0)
      var mb = 0
      while (mb < nMbs) {
        bw.ue(25); bw.byteAlignZero()
        val luma = new Array[Byte](256)
        java.util.Arrays.fill(luma, vA.toByte)
        bw.bytes(luma)
        val chroma = new Array[Byte](128)
        java.util.Arrays.fill(chroma, 128.toByte)
        bw.bytes(chroma)
        mb += 1
      }
      bw.rbspTrailing()
      graft.extras.H264.addEmulationPrevention(bw.result())
    }

    def pHeader(bw: graft.extras.H264.BitWriter, f: Int, refIdc: Int): Unit = {
      bw.u((refIdc << 5) | 1, 8) // nal: forbidden_zero=0, ref_idc, type=1
      bw.ue(0); bw.ue(5); bw.ue(0) // first_mb, P slice, pps id
      bw.u(f % 16, 4) // frame_num (ignored under poc type 2, no reorder)
      bw.u(0, 1) // num_ref_idx_active_override_flag
      bw.u(0, 1) // ref_pic_list_modification_flag_l0
      if (refIdc != 0) bw.u(0, 1) // adaptive_ref_pic_marking (ref only)
    }

    // frame 1: all-intra refresh to constant vB, marked NON-REFERENCE
    def nalIntraNonRef(f: Int): Array[Byte] = {
      val bw = new graft.extras.H264.BitWriter
      pHeader(bw, f, refIdc = 0)
      bw.se(25) // slice_qp_delta: QP 51
      var mb = 0
      while (mb < nMbs) {
        bw.ue(0) // mb_skip_run
        bw.ue(8) // mb_type 5+3: I_16x16, DC pred, cbp 0
        bw.ue(0) // intra_chroma_pred_mode
        bw.se(0) // mb_qp_delta
        if (mb == 0) {
          if (math.abs(lb) == 1) {
            bw.u(1, 2) // coeff_token "01": tc=1, T1=1
            bw.u(if (lb < 0) 1 else 0, 1)
          } else {
            bw.u(0x5, 6) // coeff_token "000101": tc=1, T1=0
            val lc = (if (lb > 0) 2 * lb - 2 else -2 * lb - 1) - 2
            bw.u(0, lc); bw.u(1, 1)
          }
          bw.u(1, 1) // total_zeros = 0
        } else bw.u(1, 1) // TotalCoeff = 0: DC-predict from neighbors
        mb += 1
      }
      bw.rbspTrailing()
      graft.extras.H264.addEmulationPrevention(bw.result())
    }

    def nalSkip(f: Int): Array[Byte] = {
      val bw = new graft.extras.H264.BitWriter
      pHeader(bw, f, refIdc = 2)
      bw.se(0) // slice_qp_delta
      bw.ue(nMbs.toLong) // mb_skip_run: every MB skipped
      bw.rbspTrailing()
      graft.extras.H264.addEmulationPrevention(bw.result())
    }

    val nals = Seq(nalIdr, nalIntraNonRef(1), nalSkip(1)) ++
      (if (nFrames == 4) Seq(nalSkip(2)) else Seq.empty)
    mp4Container(wMb, hMb, nals, maxRefFrames = 1)
  }

  /** Partitioned-macroblock sibling (round 17): pins P_L0_L0_16x8 /
    * P_L0_L0_8x16 parsing (7.3.5.1 order: every partition's te(v)
    * ref_idx BEFORE the mvd pairs) and per-PARTITION reference
    * selection + compensation. Frames (vA/vB as in [[mp4PMRef]]):
    *
    *   0: I_PCM IDR, constant vA
    *   1: all-intra refresh to constant vB
    *   2: 16x8 MBs over a 2-entry list — upper partition ref 0
    *      (frame 1 = vB), lower ref 1 (frame 0 = vA): horizontal
    *      half-MB stripes; a decoder that compensates whole MBs or
    *      swaps the partition order sums wrong
    *   3 (nf = 4): 8x16 MBs after the DPB slid to [frame2, frame1] —
    *      LEFT partition ref 0 (= the STRIPED frame 2, vB over vA),
    *      right partition ref 1 (= frame 1, vB)
    *
    * All mvds are zero (every predictor input is zero), so the sums
    * are exact constants:
    *   lum_sum = w*h*(vA + vB) + (w*h/2)*(vA + vB)
    *             + (nf = 4 ? (3*w*h/4)*vB + (w*h/4)*vA : 0)
    * — the multimodal_h264_ppart gate's oracle. The directional
    * 8.4.1.3 predictor rules are pinned separately by
    * H264PPartSpec's hand-derived nonzero-motion slices. */
  def mp4PPart(id: Long): Array[Byte] = {
    val wMb = (1 + id % 2).toInt
    val hMb = (1 + (id / 2) % 2).toInt
    val nFrames = (3 + id % 2).toInt
    val vA = (50 + id % 100).toInt
    val lb = (1 + id % 8).toInt * (if (id % 3 == 0) -1 else 1)
    val nMbs = wMb * hMb

    def nalIdr: Array[Byte] = {
      val bw = new graft.extras.H264.BitWriter
      bw.u(0x65, 8)
      bw.ue(0); bw.ue(7); bw.ue(0)
      bw.u(0, 4); bw.ue(0)
      bw.u(0, 1); bw.u(0, 1)
      bw.se(0)
      var mb = 0
      while (mb < nMbs) {
        bw.ue(25); bw.byteAlignZero()
        val luma = new Array[Byte](256)
        java.util.Arrays.fill(luma, vA.toByte)
        bw.bytes(luma)
        val chroma = new Array[Byte](128)
        java.util.Arrays.fill(chroma, 128.toByte)
        bw.bytes(chroma)
        mb += 1
      }
      bw.rbspTrailing()
      graft.extras.H264.addEmulationPrevention(bw.result())
    }

    def pHeader(bw: graft.extras.H264.BitWriter, f: Int, twoRefs: Boolean): Unit = {
      bw.u(0x41, 8)
      bw.ue(0); bw.ue(5); bw.ue(0)
      bw.u(f % 16, 4)
      if (twoRefs) { bw.u(1, 1); bw.ue(1) } else bw.u(0, 1)
      bw.u(0, 1); bw.u(0, 1)
    }

    def nalIntra(f: Int): Array[Byte] = {
      val bw = new graft.extras.H264.BitWriter
      pHeader(bw, f, twoRefs = false)
      bw.se(25) // QP 51
      var mb = 0
      while (mb < nMbs) {
        bw.ue(0); bw.ue(8); bw.ue(0); bw.se(0)
        if (mb == 0) {
          if (math.abs(lb) == 1) {
            bw.u(1, 2); bw.u(if (lb < 0) 1 else 0, 1)
          } else {
            bw.u(0x5, 6)
            val lc = (if (lb > 0) 2 * lb - 2 else -2 * lb - 1) - 2
            bw.u(0, lc); bw.u(1, 1)
          }
          bw.u(1, 1)
        } else bw.u(1, 1)
        mb += 1
      }
      bw.rbspTrailing()
      graft.extras.H264.addEmulationPrevention(bw.result())
    }

    // mbType 1 = P_L0_L0_16x8, 2 = P_L0_L0_8x16; partition 0 takes
    // ref 0, partition 1 ref 1 — te(v) bits for both come first
    def nalPart(f: Int, mbType: Int): Array[Byte] = {
      val bw = new graft.extras.H264.BitWriter
      pHeader(bw, f, twoRefs = true)
      bw.se(0)
      var mb = 0
      while (mb < nMbs) {
        bw.ue(0) // mb_skip_run
        bw.ue(mbType.toLong)
        bw.u(1, 1) // ref_idx_l0[0] te(v): bit 1 -> 0
        bw.u(0, 1) // ref_idx_l0[1] te(v): bit 0 -> 1
        bw.se(0); bw.se(0) // mvd_l0[0]
        bw.se(0); bw.se(0) // mvd_l0[1]
        bw.ue(0) // coded_block_pattern
        mb += 1
      }
      bw.rbspTrailing()
      graft.extras.H264.addEmulationPrevention(bw.result())
    }

    val nals = Seq(nalIdr, nalIntra(1), nalPart(2, 1)) ++
      (if (nFrames == 4) Seq(nalPart(3, 2)) else Seq.empty)
    mp4Container(wMb, hMb, nals, maxRefFrames = 2)
  }

  private def mp4SpsNal(wMb: Int, hMb: Int, maxRefFrames: Int = 0): Array[Byte] = {
    val bw = new graft.extras.H264.BitWriter
    bw.u(0x67, 8) // nal: ref_idc=3, type=7 (SPS)
    bw.u(66, 8); bw.u(0, 8); bw.u(10, 8) // baseline, no constraints, level 1.0
    bw.ue(0) // sps id
    bw.ue(0) // log2_max_frame_num_minus4 -> 4 bits
    bw.ue(2) // pic_order_cnt_type = 2 (no POC fields downstream)
    bw.ue(maxRefFrames) // max_num_ref_frames (1 for the P_Skip fixtures)
    bw.u(0, 1) // gaps_in_frame_num_value_allowed_flag
    bw.ue(wMb - 1); bw.ue(hMb - 1)
    bw.u(1, 1) // frame_mbs_only_flag
    bw.u(0, 1) // direct_8x8_inference_flag
    bw.u(0, 1) // frame_cropping_flag
    bw.u(0, 1) // vui_parameters_present_flag
    bw.rbspTrailing()
    graft.extras.H264.addEmulationPrevention(bw.result())
  }

  private def mp4PpsNal(): Array[Byte] = {
    val bw = new graft.extras.H264.BitWriter
    bw.u(0x68, 8) // nal: type=8 (PPS)
    bw.ue(0); bw.ue(0) // pps id, sps id
    bw.u(0, 1) // entropy_coding_mode_flag = CAVLC
    bw.u(0, 1) // bottom_field_pic_order_in_frame_present_flag
    bw.ue(0) // num_slice_groups_minus1
    bw.ue(0); bw.ue(0) // num_ref_idx_l0/l1_default_active_minus1
    bw.u(0, 1); bw.u(0, 2) // weighted_pred_flag, weighted_bipred_idc
    bw.se(0); bw.se(0); bw.se(0) // init_qp, init_qs, chroma_qp_offset
    bw.u(0, 1); bw.u(0, 1); bw.u(0, 1) // deblock_ctrl, constrained_intra, redundant_cnt
    bw.rbspTrailing()
    graft.extras.H264.addEmulationPrevention(bw.result())
  }

  /** Shared ISO-BMFF wrapping for the MP4 fixtures: ftyp + mdat (4-byte
    * length-prefixed IDR NALs) + moov with avcC carrying the SPS/PPS. */
  private def mp4Container(wMb: Int, hMb: Int, nals: Seq[Array[Byte]],
      maxRefFrames: Int = 0): Array[Byte] = {
    val w = wMb * 16
    val h = hMb * 16
    val nFrames = nals.length
    def box(typ: String, payload: Array[Byte]*): Array[Byte] = {
      val len = 8 + payload.map(_.length).sum
      val bb = java.nio.ByteBuffer.allocate(len)
      bb.putInt(len).put(typ.getBytes("US-ASCII"))
      payload.foreach(bb.put)
      bb.array()
    }
    def be32(v: Long): Array[Byte] =
      java.nio.ByteBuffer.allocate(4).putInt(v.toInt).array()
    def be16(v: Int): Array[Byte] =
      java.nio.ByteBuffer.allocate(2).putShort(v.toShort).array()

    val samples = nals.map { nal =>
      be32(nal.length) ++ nal // 4-byte NAL length prefix (avcC lengthSize 4)
    }
    val ftyp = box("ftyp", "isom".getBytes("US-ASCII"), be32(512),
      "isomavc1".getBytes("US-ASCII"))
    val mdatPayloadOffset = ftyp.length + 8L
    val mdat = box("mdat", samples.flatten.toArray)

    val sps = mp4SpsNal(wMb, hMb, maxRefFrames); val pps = mp4PpsNal()
    val avcC = box("avcC",
      Array[Byte](1, 66, 0, 10, (0xfc | 3).toByte, (0xe0 | 1).toByte),
      be16(sps.length), sps, Array[Byte](1), be16(pps.length), pps)
    val avc1 = box("avc1",
      new Array[Byte](6), be16(1), // reserved + data_reference_index
      new Array[Byte](16), be16(w), be16(h),
      be32(0x00480000L), be32(0x00480000L), be32(0), be16(1),
      new Array[Byte](32), be16(24), be16(0xffff), avcC)
    val stsd = box("stsd", be32(0), be32(1), avc1)
    val stts = box("stts", be32(0), be32(1), be32(nFrames), be32(1))
    val stsc = box("stsc", be32(0), be32(1), be32(1), be32(nFrames), be32(1))
    val stsz = box("stsz", be32(0), be32(0), be32(nFrames),
      samples.flatMap(s => be32(s.length)).toArray)
    val stco = box("stco", be32(0), be32(1), be32(mdatPayloadOffset))
    val stbl = box("stbl", stsd, stts, stsc, stsz, stco)
    val vmhd = box("vmhd", be32(1), new Array[Byte](8))
    val dref = box("dref", be32(0), be32(1),
      box("url ", be32(1))) // self-contained
    val dinf = box("dinf", dref)
    val minf = box("minf", vmhd, dinf, stbl)
    val mdhd = box("mdhd", be32(0), be32(0), be32(0), be32(1000),
      be32(nFrames * 40L), be16(0x55c4), be16(0))
    val hdlr = box("hdlr", be32(0), be32(0), "vide".getBytes("US-ASCII"),
      new Array[Byte](12), "graft\u0000".getBytes("US-ASCII"))
    val mdia = box("mdia", mdhd, hdlr, minf)
    val tkhd = box("tkhd", be32(7), be32(0), be32(0), be32(1), be32(0),
      be32(nFrames * 40L), new Array[Byte](8), be16(0), be16(0), be16(0), be16(0),
      be32(0x00010000L), be32(0), be32(0), be32(0), be32(0x00010000L), be32(0),
      be32(0), be32(0), be32(0x40000000L), be32(w << 16), be32(h << 16))
    val trak = box("trak", tkhd, mdia)
    val mvhd = box("mvhd", be32(0), be32(0), be32(0), be32(1000),
      be32(nFrames * 40L), be32(0x00010000L), be16(0x0100), be16(0),
      new Array[Byte](8),
      be32(0x00010000L), be32(0), be32(0), be32(0), be32(0x00010000L), be32(0),
      be32(0), be32(0), be32(0x40000000L),
      new Array[Byte](24), be32(2))
    val moov = box("moov", mvhd, trak)
    ftyp ++ mdat ++ moov
  }
}

/** Minimal H.264 (ISO/IEC 14496-10) bitstream helpers shared by the
  * MP4 synthesizer and [[JvmMp4Codec]]: Exp-Golomb bit IO and
  * emulation-prevention (00 00 03) insertion/removal. Only what a
  * baseline-profile I_PCM-only stream needs — but the fields are parsed
  * for real (the synthesizer writes genuine SPS/PPS/slice headers and
  * the parser recovers geometry and pixels from the bits, not from side
  * channels).
  */
private[extras] object H264 {
  /** RBSP -> EBSP: insert an emulation-prevention 0x03 after any 00 00
    * when the next byte is <= 0x03 (spec 7.4.1.1). */
  def addEmulationPrevention(rbsp: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(rbsp.length + 16)
    var zeros = 0
    var i = 0
    while (i < rbsp.length) {
      val b = rbsp(i) & 0xff
      if (zeros >= 2 && b <= 3) { out.write(3); zeros = 0 }
      out.write(b)
      zeros = if (b == 0) zeros + 1 else 0
      i += 1
    }
    out.toByteArray
  }

  /** EBSP -> RBSP: drop each 0x03 that follows 00 00. */
  def removeEmulationPrevention(ebsp: Array[Byte], from: Int, until: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(until - from)
    var zeros = 0
    var i = from
    while (i < until) {
      val b = ebsp(i) & 0xff
      if (b == 3 && zeros >= 2) zeros = 0 // emulation byte: skip
      else {
        out.write(b)
        zeros = if (b == 0) zeros + 1 else 0
      }
      i += 1
    }
    out.toByteArray
  }

  /** MSB-first bit writer with unsigned/signed Exp-Golomb. */
  final class BitWriter {
    private val out = new java.io.ByteArrayOutputStream()
    private var cur = 0
    private var nbits = 0
    def u(v: Long, bits: Int): Unit = {
      var i = bits - 1
      while (i >= 0) {
        cur = (cur << 1) | ((v >>> i) & 1L).toInt
        nbits += 1
        if (nbits == 8) { out.write(cur); cur = 0; nbits = 0 }
        i -= 1
      }
    }
    def ue(v: Long): Unit = {
      val x = v + 1
      val len = 63 - java.lang.Long.numberOfLeadingZeros(x)
      u(0, len.toInt)
      u(x, len.toInt + 1)
    }
    def se(v: Long): Unit = ue(if (v <= 0) -2 * v else 2 * v - 1)
    def byteAlignZero(): Unit = while (nbits != 0) u(0, 1)
    /** RBSP trailing bits: stop bit + zero padding to a byte boundary. */
    def rbspTrailing(): Unit = { u(1, 1); byteAlignZero() }
    def bytes(bs: Array[Byte]): Unit = {
      require(nbits == 0, "byte write must be aligned")
      out.write(bs, 0, bs.length)
    }
    def result(): Array[Byte] = { require(nbits == 0); out.toByteArray }
  }

  /** MSB-first bit reader with unsigned/signed Exp-Golomb over RBSP. */
  final class BitReader(b: Array[Byte]) {
    private var pos = 0 // bit position
    def u(bits: Int): Long = {
      var v = 0L
      var i = 0
      while (i < bits) {
        val byteI = pos >>> 3
        if (byteI >= b.length) throw new java.io.EOFException("bitstream")
        v = (v << 1) | ((b(byteI) >> (7 - (pos & 7))) & 1)
        pos += 1
        i += 1
      }
      v
    }
    def ue(): Long = {
      var zeros = 0
      while (u(1) == 0) {
        zeros += 1
        if (zeros > 62) throw new java.io.IOException("bad exp-golomb")
      }
      (1L << zeros) - 1 + (if (zeros == 0) 0 else u(zeros))
    }
    def se(): Long = {
      val k = ue()
      if (k % 2 == 0) -(k / 2) else (k + 1) / 2
    }
    def byteAlign(): Unit = while ((pos & 7) != 0) pos += 1
    def readBytes(n: Int): Array[Byte] = {
      byteAlign()
      val start = pos >>> 3
      if (start + n > b.length) throw new java.io.EOFException("bitstream")
      pos += n * 8
      java.util.Arrays.copyOfRange(b, start, start + n)
    }
  }

  final case class Sps(widthMbs: Int, heightMbs: Int, log2MaxFrameNum: Int,
      maxNumRefFrames: Int = 1)

  /** Parse a PPS far enough to recover pic_init_qp_minus26 (needed by
    * the CAVLC slice decoder; everything before it is fixed-position
    * Exp-Golomb/flag fields — spec 7.3.2.2). */
  def parsePpsInitQp(rbsp: Array[Byte]): Int = {
    val r = new BitReader(rbsp)
    r.u(8) // nal header
    r.ue(); r.ue() // pps id, sps id
    r.u(1) // entropy_coding_mode_flag
    r.u(1) // bottom_field_pic_order_in_frame_present_flag
    val nSliceGroups = r.ue().toInt + 1
    if (nSliceGroups > 1) throw new java.io.IOException("FMO unsupported")
    r.ue(); r.ue() // num_ref_idx_l0/l1_default_active_minus1
    r.u(1); r.u(2) // weighted_pred_flag, weighted_bipred_idc
    26 + r.se().toInt // pic_init_qp_minus26
  }

  /** Parse the SPS fields up to frame geometry (baseline subset: no
    * chroma_format_idc branch — profile 66 never writes one). */
  def parseSps(rbsp: Array[Byte]): Sps = {
    val r = new BitReader(rbsp)
    r.u(8) // nal header (forbidden_zero + ref_idc + type)
    r.u(8) // profile_idc
    r.u(8) // constraint flags + reserved
    r.u(8) // level_idc
    r.ue() // seq_parameter_set_id
    val log2MaxFrameNum = r.ue().toInt + 4
    val pocType = r.ue().toInt
    if (pocType == 0) r.ue()
    else if (pocType == 1) {
      r.u(1); r.se(); r.se()
      val n = r.ue().toInt
      var i = 0
      while (i < n) { r.se(); i += 1 }
    }
    val maxRef = r.ue().toInt // max_num_ref_frames
    r.u(1) // gaps_in_frame_num_value_allowed_flag
    val wmb = r.ue().toInt + 1
    val hmb = r.ue().toInt + 1
    Sps(wmb, hmb, log2MaxFrameNum, math.max(1, maxRef))
  }

  /** Decode the luma plane of an I_PCM-only IDR slice NAL (CAVLC
    * baseline, 4:2:0 8-bit): parse the slice header bit-exactly, then
    * copy each macroblock's raw luma samples into the plane. Returns
    * null if the stream is not the constrained profile this decoder
    * handles (caller degrades). */
  def decodeIPcmLuma(rbsp: Array[Byte], sps: Sps): Array[Byte] = {
    try {
      val r = new BitReader(rbsp)
      val nalUnitType = (r.u(8) & 0x1f).toInt
      if (nalUnitType != 5) return null // only IDR slices here
      r.ue() // first_mb_in_slice
      val sliceType = r.ue()
      if (sliceType % 5 != 2) return null // I slice only
      r.ue() // pic_parameter_set_id
      r.u(sps.log2MaxFrameNum) // frame_num
      r.ue() // idr_pic_id (IDR)
      // pic_order_cnt_type == 2 in this profile: no POC fields
      // dec_ref_pic_marking (IDR): two flags
      r.u(1); r.u(1)
      r.se() // slice_qp_delta
      val w = sps.widthMbs * 16
      val h = sps.heightMbs * 16
      val luma = new Array[Byte](w * h)
      val nMbs = sps.widthMbs * sps.heightMbs
      var mb = 0
      while (mb < nMbs) {
        val mbType = r.ue()
        if (mbType != 25) return null // I_PCM only
        val mbX = (mb % sps.widthMbs) * 16
        val mbY = (mb / sps.widthMbs) * 16
        val pcmLuma = r.readBytes(256) // readBytes aligns first (pcm_alignment_zero_bit)
        var yy = 0
        while (yy < 16) {
          System.arraycopy(pcmLuma, yy * 16, luma, (mbY + yy) * w + mbX, 16)
          yy += 1
        }
        r.readBytes(128) // Cb + Cr (4:2:0)
        mb += 1
      }
      luma
    } catch { case scala.util.control.NonFatal(_) => null }
  }

  // ------------------------------------------------------------------
  // P-slice inter decode (rounds 15-16) — the INTER coding path:
  // non-IDR P slices made of P_Skip runs and coded P_L0_16x16
  // macroblocks. The decoder genuinely parses the P slice header
  // (ref-list override / modification / marking flags included),
  // interleaves mb_skip_run with macroblock_layer, reads each coded
  // MB's Exp-Golomb mvd_l0 pair, derives motion vectors through the
  // FULL spec 8.4.1.3 luma MV predictor (component-wise median with
  // the top-right->top-left C substitution, the exactly-one-matching-
  // refIdx shortcut and the B/C/D-unavailable -> A rule) and the
  // 8.4.1.1 P_Skip derivation on top of it, then motion-compensates at
  // QUARTER-pel per 8.4.2.2.1: 6-tap (1,-5,20,20,-5,1) half-pel
  // filtering horizontally/vertically, the centre position from
  // unrounded intermediates with the (+512)>>10 rounding, and
  // quarter positions by averaging — all with edge-replicated
  // out-of-bounds sampling. SCOPE, stated plainly: partitioned inter
  // MB types (16x8/8x16/8x8), non-zero residuals (coded_block_pattern
  // beyond 0), more than one active reference and CABAC return null —
  // the documented seam, exactly like the CAVLC decoders' entropy
  // seam. The multimodal_h264_pskip gate pins the all-skip profile
  // (each P frame reconstructs the IDR exactly) and the
  // multimodal_h264_pmv gate pins the coded-MV profile against a
  // closed-form ramp oracle (see MediaSynth.mp4PMv); H264PMvSpec pins
  // the interpolation arithmetic against an independent full-plane
  // upsampler built straight from the spec equations.
  // ------------------------------------------------------------------

  @inline private def clip255(v: Int): Int =
    if (v < 0) 0 else if (v > 255) 255 else v

  /** Quarter-pel luma sample at full-pel base (x, y) with fractional
    * offsets (fx, fy) in quarter units, per spec 8.4.2.2.1. Out-of-
    * bounds full-pel reads clamp to the plane edge (the spec's
    * ClipH/ClipV on reference sampling). */
  private[extras] def interpLumaQPel(ref: Array[Byte], w: Int, h: Int,
      x: Int, y: Int, fx: Int, fy: Int): Int = {
    @inline def p(i: Int, j: Int): Int = {
      val ci = if (i < 0) 0 else if (i > w - 1) w - 1 else i
      val cj = if (j < 0) 0 else if (j > h - 1) h - 1 else j
      ref(cj * w + ci) & 0xff
    }
    if (fx == 0 && fy == 0) return p(x, y)
    // unrounded 6-tap sums (the "1" intermediates of the spec)
    def hRaw(i: Int, j: Int): Int =
      p(i - 2, j) - 5 * p(i - 1, j) + 20 * p(i, j) +
        20 * p(i + 1, j) - 5 * p(i + 2, j) + p(i + 3, j)
    def vRaw(i: Int, j: Int): Int =
      p(i, j - 2) - 5 * p(i, j - 1) + 20 * p(i, j) +
        20 * p(i, j + 1) - 5 * p(i, j + 2) + p(i, j + 3)
    // rounded half-pel samples b (horizontal), h (vertical), the next-
    // column vertical half m, the next-row horizontal half s, and the
    // centre j from unrounded vertical intermediates
    def bS: Int = clip255((hRaw(x, y) + 16) >> 5)
    def hS: Int = clip255((vRaw(x, y) + 16) >> 5)
    def mS: Int = clip255((vRaw(x + 1, y) + 16) >> 5)
    def sS: Int = clip255((hRaw(x, y + 1) + 16) >> 5)
    def jS: Int = {
      val t = vRaw(x - 2, y) - 5 * vRaw(x - 1, y) + 20 * vRaw(x, y) +
        20 * vRaw(x + 1, y) - 5 * vRaw(x + 2, y) + vRaw(x + 3, y)
      clip255((t + 512) >> 10)
    }
    ((fy << 2) | fx) match { // Table 8-12 sample positions
      case 0x1 => (p(x, y) + bS + 1) >> 1 // a
      case 0x2 => bS // b
      case 0x3 => (p(x + 1, y) + bS + 1) >> 1 // c
      case 0x4 => (p(x, y) + hS + 1) >> 1 // d
      case 0x5 => (bS + hS + 1) >> 1 // e
      case 0x6 => (bS + jS + 1) >> 1 // f
      case 0x7 => (bS + mS + 1) >> 1 // g
      case 0x8 => hS // h
      case 0x9 => (hS + jS + 1) >> 1 // i
      case 0xa => jS // j
      case 0xb => (jS + mS + 1) >> 1 // k
      case 0xc => (p(x, y + 1) + hS + 1) >> 1 // n
      case 0xd => (hS + sS + 1) >> 1 // p
      case 0xe => (jS + sS + 1) >> 1 // q
      case _ => (mS + sS + 1) >> 1 // r
    }
  }

  /** Spec 8.4.1.3 luma MV prediction for a whole-MB 16x16 P_L0
    * partition over a raster-decoded slice. Every decoded INTER MB in
    * this profile references picture 0 of list 0, so a neighbor's
    * refIdx is 0 exactly when it exists AND is inter; an INTRA
    * neighbor (round 16: intra-refresh MBs in P slices) is positionally
    * available but carries refIdx -1 and mv (0,0), exactly as the spec
    * assigns. C is the top-right macroblock, substituted by D
    * (top-left) when outside the picture. */
  /** "Not yet decoded" sentinel for the block-granular refIdx grid
    * (distinct from -1 = decoded intra). */
  private[extras] val BlkNA = Int.MinValue

  /** Partition-shape selector for [[mvPredBlock]]'s 8.4.1.3 directional
    * rules: 0 = none (16x16 / 8x8), 1 = 16x8 upper, 2 = 16x8 lower,
    * 3 = 8x16 left, 4 = 8x16 right. */
  private[extras] def mvPredBlock(bmvx: Array[Int], bmvy: Array[Int],
      bref: Array[Int], w4: Int, h4: Int,
      x0: Int, y0: Int, w4p: Int, curRef: Int, rule: Int): (Int, Int) = {
    // 4x4-block neighbors of the partition (6.4.11 shape): A left of
    // the top-left block, B above it, C above-right of the top-right
    // block with D = above-left substitution when C is unavailable.
    // Availability = in bounds AND already decoded (BlkNA sentinel) —
    // raster decode order makes this exact, including partition 1
    // seeing partition 0 of the same macroblock.
    @inline def avail(bx: Int, by: Int): Boolean =
      bx >= 0 && by >= 0 && bx < w4 && by < h4 && bref(by * w4 + bx) != BlkNA
    @inline def refIdxOf(bx: Int, by: Int): Int = bref(by * w4 + bx)
    @inline def mvOf(bx: Int, by: Int): (Int, Int) = {
      val i = by * w4 + bx
      if (bref(i) >= 0) (bmvx(i), bmvy(i)) else (0, 0) // intra -> (0,0)
    }
    val aAvail = avail(x0 - 1, y0)
    val bAvail = avail(x0, y0 - 1)
    val (cx, cy, cAvail) =
      if (avail(x0 + w4p, y0 - 1)) (x0 + w4p, y0 - 1, true)
      else if (avail(x0 - 1, y0 - 1)) (x0 - 1, y0 - 1, true) // D substitution
      else (-1, -1, false)
    // 8.4.1.3 directional rules for the two-partition shapes, tried
    // BEFORE the general process (each conditioned on that neighbor
    // carrying the partition's own reference)
    rule match {
      case 1 if bAvail && refIdxOf(x0, y0 - 1) == curRef => return mvOf(x0, y0 - 1)
      case 2 if aAvail && refIdxOf(x0 - 1, y0) == curRef => return mvOf(x0 - 1, y0)
      case 3 if aAvail && refIdxOf(x0 - 1, y0) == curRef => return mvOf(x0 - 1, y0)
      case 4 if cAvail && refIdxOf(cx, cy) == curRef => return mvOf(cx, cy)
      case _ => ()
    }
    // 8.4.1.3.1: B, C and D unavailable, A available -> mvA
    // (positional availability — an intra A yields (0,0) via mvOf)
    if (!bAvail && !cAvail && aAvail) return mvOf(x0 - 1, y0)
    val aSame = aAvail && refIdxOf(x0 - 1, y0) == curRef
    val bSame = bAvail && refIdxOf(x0, y0 - 1) == curRef
    val cSame = cAvail && refIdxOf(cx, cy) == curRef
    val nSame = (if (aSame) 1 else 0) + (if (bSame) 1 else 0) +
      (if (cSame) 1 else 0)
    if (nSame == 1) { // exactly one neighbor has refIdxN == refIdx
      if (aSame) mvOf(x0 - 1, y0)
      else if (bSame) mvOf(x0, y0 - 1)
      else mvOf(cx, cy)
    } else {
      val (ax, ay) = if (aAvail) mvOf(x0 - 1, y0) else (0, 0)
      val (bx2, by2) = if (bAvail) mvOf(x0, y0 - 1) else (0, 0)
      val (cx2, cy2) = if (cAvail) mvOf(cx, cy) else (0, 0)
      @inline def med(p: Int, q: Int, r: Int): Int =
        math.max(math.min(p, q), math.min(math.max(p, q), r))
      (med(ax, bx2, cx2), med(ay, by2, cy2))
    }
  }

  /** Macroblock-granular 8.4.1.3 shim for a 16x16 partition (spec
    * cross-check entry point): expands the per-MB arrays to the block
    * grid and delegates to [[mvPredBlock]] — one real implementation. */
  private[extras] def mvPred16x16(mvx: Array[Int], mvy: Array[Int],
      refIdx: Array[Int], wMbs: Int, mbX: Int, mbY: Int, curRef: Int): (Int, Int) = {
    val hMbs = refIdx.length / wMbs
    val w4 = wMbs * 4
    val h4 = hMbs * 4
    val bmvx = new Array[Int](w4 * h4)
    val bmvy = new Array[Int](w4 * h4)
    val bref = new Array[Int](w4 * h4)
    var m = 0
    while (m < refIdx.length) {
      val gx0 = (m % wMbs) * 4; val gy0 = (m / wMbs) * 4
      var by = 0
      while (by < 4) {
        var bx = 0
        while (bx < 4) {
          val i = (gy0 + by) * w4 + gx0 + bx
          bmvx(i) = mvx(m); bmvy(i) = mvy(m); bref(i) = refIdx(m)
          bx += 1
        }
        by += 1
      }
      m += 1
    }
    mvPredBlock(bmvx, bmvy, bref, w4, h4, mbX * 4, mbY * 4, 4, curRef, rule = 0)
  }

  /** Decode the luma plane of a non-IDR P slice NAL (P_Skip runs,
    * coded P_L0_16x16 macroblocks — zero-residual or cbp-15 — and
    * intra-refresh I_16x16/DC/cbp-0 macroblocks) against `ref` (the
    * previously decoded frame). Null outside the subset. */
  def decodePLuma(rbsp: Array[Byte], sps: Sps, ref: Array[Byte],
      picInitQp: Int = 26): Array[Byte] =
    decodePLuma(rbsp, sps, if (ref == null) Vector.empty else Vector(ref), picInitQp)

  /** Multi-reference variant (round 17): `refs` is RefPicList0 in
    * decode order, most recent first — the list pic_order_cnt_type 2
    * with no reordering yields. */
  def decodePLuma(rbsp: Array[Byte], sps: Sps, refs: IndexedSeq[Array[Byte]],
      picInitQp: Int): Array[Byte] =
    decodePLumaWithMvs(rbsp, sps, refs, picInitQp) match {
      case null => null
      case (luma, _, _) => luma
    }

  private[extras] def decodePLumaWithMvs(rbsp: Array[Byte], sps: Sps,
      ref: Array[Byte], picInitQp: Int): (Array[Byte], Array[Int], Array[Int]) =
    decodePLumaWithMvs(rbsp, sps,
      if (ref == null) Vector.empty else Vector(ref), picInitQp)

  private[extras] def decodePLumaWithMvs(rbsp: Array[Byte], sps: Sps,
      ref: Array[Byte]): (Array[Byte], Array[Int], Array[Int]) =
    decodePLumaWithMvs(rbsp, sps, ref, 26)

  /** [[decodePLuma]] plus the derived per-MB quarter-pel motion
    * vectors (each MB's FIRST partition — exposed for the specs'
    * independent-median cross-checks; all gates use single-partition
    * MBs). */
  private[extras] def decodePLumaWithMvs(rbsp: Array[Byte], sps: Sps,
      refs: IndexedSeq[Array[Byte]],
      picInitQp: Int = 26): (Array[Byte], Array[Int], Array[Int]) =
    decodePLumaBlockMvs(rbsp, sps, refs, picInitQp) match {
      case null => null
      case (luma, bmvx, bmvy) =>
        val wMbs = sps.widthMbs
        val w4 = wMbs * 4
        val nMbs = wMbs * sps.heightMbs
        val mvx = new Array[Int](nMbs)
        val mvy = new Array[Int](nMbs)
        var m = 0
        while (m < nMbs) {
          val i = ((m / wMbs) * 4) * w4 + (m % wMbs) * 4
          mvx(m) = bmvx(i); mvy(m) = bmvy(i)
          m += 1
        }
        (luma, mvx, mvy)
    }

  /** Core decode, returning the 4x4-BLOCK-granular motion grid (the
    * spec's resolution; partition vectors visible individually). */
  private[extras] def decodePLumaBlockMvs(rbsp: Array[Byte], sps: Sps,
      refs: IndexedSeq[Array[Byte]],
      picInitQp: Int = 26): (Array[Byte], Array[Int], Array[Int]) = {
    try {
      if (refs == null || refs.isEmpty || refs.exists(_ == null)) return null
      val r = new BitReader(rbsp)
      val nalHeader = r.u(8)
      val nalRefIdc = ((nalHeader >> 5) & 3).toInt
      if ((nalHeader & 0x1f).toInt != 1) return null // non-IDR slice only
      if (r.ue() != 0) return null // first_mb_in_slice
      if (r.ue() % 5 != 0) return null // P slice only
      r.ue() // pic_parameter_set_id
      r.u(sps.log2MaxFrameNum) // frame_num
      // pic_order_cnt_type == 2 in this profile: no POC fields
      val numRefL0 = // num_ref_idx_active_override_flag -> l0 count
        if (r.u(1) == 1) r.ue().toInt + 1 else 1 // PPS default 0 -> 1
      if (numRefL0 > refs.length) return null // list exceeds the DPB we hold
      if (r.u(1) == 1) return null // ref_pic_list_modification_flag_l0
      // weighted_pred_flag is 0 in this profile's PPS: no pred_weight_table
      if (nalRefIdc != 0 && r.u(1) == 1) return null // adaptive marking
      var qp = picInitQp + r.se().toInt // slice_qp_delta
      if (qp < 0 || qp > 51) return null
      val wMbs = sps.widthMbs
      val w = wMbs * 16
      val h = sps.heightMbs * 16
      if (refs.exists(_.length != w * h)) return null
      val nMbs = wMbs * sps.heightMbs
      val luma = new Array[Byte](w * h)
      // motion state at 4x4-BLOCK granularity (the spec's resolution —
      // round 17: partitioned macroblocks make sub-MB vectors real):
      // quarter-pel vectors + per-block reference index, BlkNA until a
      // block is decoded, -1 for intra
      val w4 = wMbs * 4
      val h4 = sps.heightMbs * 4
      val bmvx = new Array[Int](w4 * h4)
      val bmvy = new Array[Int](w4 * h4)
      val bref = Array.fill(w4 * h4)(BlkNA)
      def fillPart(x0: Int, y0: Int, w4p: Int, h4p: Int,
          mx: Int, my: Int, ri: Int): Unit = {
        var by = y0
        while (by < y0 + h4p) {
          var bx = x0
          while (bx < x0 + w4p) {
            val i = by * w4 + bx
            bmvx(i) = mx; bmvy(i) = my; bref(i) = ri
            bx += 1
          }
          by += 1
        }
      }
      // per-4x4-block AC TotalCoeff grid for 9.2.1 nC prediction
      val nnz = new Array[Int](w4 * h4)
      val blkX = Array(0, 1, 0, 1, 2, 3, 2, 3, 0, 1, 0, 1, 2, 3, 2, 3)
      val blkY = Array(0, 0, 1, 1, 0, 0, 1, 1, 2, 2, 3, 3, 2, 2, 3, 3)
      def ncOf(mb: Int, bi: Int): Int = {
        val gx = (mb % wMbs) * 4 + blkX(bi)
        val gy = (mb / wMbs) * 4 + blkY(bi)
        val hasA = gx > 0
        val hasB = gy > 0
        if (hasA && hasB) (nnz(gy * w4 + gx - 1) + nnz((gy - 1) * w4 + gx) + 1) >> 1
        else if (hasA) nnz(gy * w4 + gx - 1)
        else if (hasB) nnz((gy - 1) * w4 + gx)
        else 0
      }
      // motion-compensate a pixel region from one reference plane
      def compensateRegion(px0: Int, py0: Int, wp: Int, hp: Int,
          mx: Int, my: Int, ri: Int): Unit = {
        val refPlane = refs(ri)
        val dx = mx >> 2; val fx = mx & 3
        val dy = my >> 2; val fy = my & 3
        var yy = 0
        while (yy < hp) {
          var xx = 0
          while (xx < wp) {
            luma((py0 + yy) * w + px0 + xx) =
              interpLumaQPel(refPlane, w, h, px0 + xx + dx, py0 + yy + dy, fx, fy).toByte
            xx += 1
          }
          yy += 1
        }
      }
      // te(v) ref_idx: absent for a 1-entry list, one inverted bit for
      // a 2-entry list, ue(v) past that (spec 9.1.1); -1 on overflow
      def readRefIdx(): Int = {
        val v =
          if (numRefL0 == 1) 0
          else if (numRefL0 == 2) 1 - r.u(1).toInt
          else r.ue().toInt
        if (v < 0 || v >= numRefL0) -1 else v
      }
      // derive + record + compensate ONE inter partition (block coords)
      def interPart(x0: Int, y0: Int, w4p: Int, h4p: Int,
          mvdX: Int, mvdY: Int, ri: Int, rule: Int): Unit = {
        val (px, py) = mvPredBlock(bmvx, bmvy, bref, w4, h4, x0, y0, w4p,
          curRef = ri, rule = rule)
        val mx = px + mvdX
        val my = py + mvdY
        fillPart(x0, y0, w4p, h4p, mx, my, ri)
        compensateRegion(x0 * 4, y0 * 4, w4p * 4, h4p * 4, mx, my, ri)
      }
      var mb = 0
      while (mb < nMbs) {
        val run = r.ue().toInt
        if (run < 0 || mb + run > nMbs) return null
        var k = 0
        while (k < run) { // P_Skip macroblocks
          val x0 = (mb % wMbs) * 4
          val y0 = (mb / wMbs) * 4
          // 8.4.1.1: zero vector when the left or top block neighbor is
          // unavailable or is ref-0 with a zero vector, else 8.4.1.3
          @inline def zeroRef0(bx: Int, by: Int): Boolean = {
            val i = by * w4 + bx
            bref(i) == 0 && bmvx(i) == 0 && bmvy(i) == 0
          }
          val aAv = x0 > 0 && bref(y0 * w4 + x0 - 1) != BlkNA
          val bAv = y0 > 0 && bref((y0 - 1) * w4 + x0) != BlkNA
          val (sx, sy) =
            if (!aAv || !bAv || zeroRef0(x0 - 1, y0) || zeroRef0(x0, y0 - 1)) (0, 0)
            else mvPredBlock(bmvx, bmvy, bref, w4, h4, x0, y0, 4, curRef = 0, rule = 0)
          fillPart(x0, y0, 4, 4, sx, sy, 0) // P_Skip references picture 0
          compensateRegion(x0 * 4, y0 * 4, 16, 16, sx, sy, 0)
          mb += 1
          k += 1
        }
        if (mb < nMbs) { // macroblock_layer: one coded MB
          val mbType = r.ue().toInt
          val x0 = (mb % wMbs) * 4
          val y0 = (mb / wMbs) * 4
          if (mbType <= 2) { // P_L0_16x16 / P_L0_L0_16x8 / P_L0_L0_8x16
            // 7.3.5.1 mb_pred order: ref_idx for EVERY partition first,
            // then the mvd pairs
            val nParts = if (mbType == 0) 1 else 2
            val ri0 = readRefIdx()
            val ri1 = if (nParts == 2) readRefIdx() else 0
            if (ri0 < 0 || ri1 < 0) return null
            val mvd0x = r.se().toInt; val mvd0y = r.se().toInt
            val (mvd1x, mvd1y) =
              if (nParts == 2) (r.se().toInt, r.se().toInt) else (0, 0)
            mbType match {
              case 0 =>
                interPart(x0, y0, 4, 4, mvd0x, mvd0y, ri0, rule = 0)
              case 1 => // 16x8: upper then lower (directional rules)
                interPart(x0, y0, 4, 2, mvd0x, mvd0y, ri0, rule = 1)
                interPart(x0, y0 + 2, 4, 2, mvd1x, mvd1y, ri1, rule = 2)
              case 2 => // 8x16: left then right
                interPart(x0, y0, 2, 4, mvd0x, mvd0y, ri0, rule = 3)
                interPart(x0 + 2, y0, 2, 4, mvd1x, mvd1y, ri1, rule = 4)
            }
            // coded_block_pattern me(v), Table 9-4 inter column: the
            // two code points this profile decodes are codeNum 0 ->
            // cbp 0 (no residual) and codeNum 11 -> cbp 15 (all four
            // luma 8x8s coded, chroma 0). Other cbp values (partial
            // luma, chroma residuals) stay behind the seam.
            r.ue().toInt match {
              case 0 => ()
              case 11 => // round 17: coded inter residuals
                qp += r.se().toInt // mb_qp_delta (cbp > 0)
                if (qp < 0 || qp > 51) return null
                // prediction is already written; residual adds on top
                val mbX = (mb % wMbs) * 16
                val mbY = (mb / wMbs) * 16
                var bi = 0
                while (bi < 16) {
                  // LumaLevel4x4: 16-coeff blocks (zigzag position 0 is
                  // a regular coefficient — unlike the Intra_16x16 AC
                  // blocks, there is no separate DC plane)
                  val (coeffs, tc) = readResidualCavlc(r, 16, ncOf(mb, bi))
                  nnz(((mb / wMbs) * 4 + blkY(bi)) * w4 +
                    (mb % wMbs) * 4 + blkX(bi)) = tc
                  if (tc > 0) {
                    val d = Array.ofDim[Int](4, 4)
                    var kk = 0
                    while (kk < 16) {
                      if (coeffs(kk) != 0) {
                        val (zi, zj) = ZigZag4x4(kk)
                        d(zi)(zj) = dequantAc(coeffs(kk), qp, zi, zj)
                      }
                      kk += 1
                    }
                    val hh = inverse4x4(d)
                    var yy = 0
                    while (yy < 4) {
                      var xx = 0
                      while (xx < 4) {
                        val o = (mbY + blkY(bi) * 4 + yy) * w +
                          mbX + blkX(bi) * 4 + xx
                        val px0 = (luma(o) & 0xff) + ((hh(yy)(xx) + 32) >> 6)
                        luma(o) = math.max(0, math.min(255, px0)).toByte
                        xx += 1
                      }
                      yy += 1
                    }
                  }
                  bi += 1
                }
              case _ => return null // partial-cbp / chroma residual: seam
            }
          } else if (mbType == 8) {
            // intra refresh: mb_type 5+3 = I_16x16, DC prediction,
            // CodedBlockPattern 0 — the DC-only CAVLC profile the
            // I-slice decoder ships, decoded against RECONSTRUCTED
            // neighbor pixels (which here may be inter MBs). Other
            // intra types in P slices stay behind the seam.
            if (r.ue() > 3) return null // intra_chroma_pred_mode
            qp += r.se().toInt // mb_qp_delta
            if (qp < 0 || qp > 51) return null
            // Intra16x16DCLevel nC predicted from luma block 0's
            // neighbors (9.2.1) — live since coded inter MBs record AC
            // counts; in the all-uncoded fixtures this stays 0
            val dcZig = readResidualCavlc(r, 16, ncOf(mb, 0))._1
            val dcY = i16DcDequant(dcZig, qp)
            val mbX = (mb % wMbs) * 16
            val mbY = (mb / wMbs) * 16
            val pred = i16DcPred(luma, w, mbX, mbY)
            var yy = 0
            while (yy < 16) {
              var xx = 0
              while (xx < 16) {
                val res = (dcY(yy / 4)(xx / 4) + 32) >> 6
                val px = math.max(0, math.min(255, pred + res))
                luma((mbY + yy) * w + mbX + xx) = px.toByte
                xx += 1
              }
              yy += 1
            }
            fillPart(x0, y0, 4, 4, 0, 0, -1) // intra: refIdx -1, mv (0,0)
          } else return null // sub-8x8 partitions / other intra: seam
          mb += 1
        }
      }
      (luma, bmvx, bmvy)
    } catch { case scala.util.control.NonFatal(_) => null }
  }

  /** Inverse 4x4 Hadamard + 8.5.10 DC dequantization of an I_16x16
    * luma DC block (zigzag input) — shared by the I-slice decoder and
    * the P-slice intra-refresh path. */
  private def i16DcDequant(dcZig: Array[Int], qp: Int): Array[Array[Int]] = {
    val c = Array.ofDim[Int](4, 4)
    var k = 0
    while (k < 16) { val (zi, zj) = ZigZag4x4(k); c(zi)(zj) = dcZig(k); k += 1 }
    val hM = Array(
      Array(1, 1, 1, 1), Array(1, 1, -1, -1), Array(1, -1, -1, 1), Array(1, -1, 1, -1))
    val f = Array.ofDim[Int](4, 4)
    var bi = 0
    while (bi < 4) {
      var bj = 0
      while (bj < 4) {
        var s = 0
        var p = 0
        while (p < 4) {
          var q = 0
          while (q < 4) { s += hM(p)(bi) * c(p)(q) * hM(q)(bj); q += 1 }
          p += 1
        }
        f(bi)(bj) = s
        bj += 1
      }
      bi += 1
    }
    val v = DcLevelScale(qp % 6)
    val dcY = Array.ofDim[Int](4, 4)
    bi = 0
    while (bi < 4) {
      var bj = 0
      while (bj < 4) {
        dcY(bi)(bj) =
          if (qp >= 36) (f(bi)(bj) * v) << (qp / 6 - 6)
          else (f(bi)(bj) * v + (1 << (5 - qp / 6))) >> (6 - qp / 6)
        bj += 1
      }
      bi += 1
    }
    dcY
  }

  /** Intra_16x16 DC prediction (8.3.3.3) from reconstructed neighbor
    * edges in `luma`. */
  private def i16DcPred(luma: Array[Byte], w: Int, mbX: Int, mbY: Int): Int = {
    val hasTop = mbY > 0
    val hasLeft = mbX > 0
    var sumT = 0
    var sumL = 0
    var t = 0
    while (t < 16) {
      if (hasTop) sumT += luma((mbY - 1) * w + mbX + t) & 0xff
      if (hasLeft) sumL += luma((mbY + t) * w + mbX - 1) & 0xff
      t += 1
    }
    if (hasTop && hasLeft) (sumT + sumL + 16) >> 5
    else if (hasTop) (sumT + 8) >> 4
    else if (hasLeft) (sumL + 8) >> 4
    else 128
  }

  // ------------------------------------------------------------------
  // CAVLC I_16x16 DC-only decode (round 12) — one real step past I_PCM:
  // entropy-coded DC levels (coeff_token, level_prefix/suffix,
  // total_zeros), inverse 4x4 Hadamard, 8.5.10 DC dequantization and
  // Intra_16x16 DC prediction. SCOPE, stated plainly: the coeff_token
  // reader implements the nC<2 column for TotalCoeff<=1 only and the
  // total_zeros reader the TotalCoeff=1 column — the exact code points
  // a DC-only macroblock can emit — and run_before is never reached at
  // TotalCoeff<=1. Level decoding (including the prefix>=15 escape
  // paths) is general per spec 9.2.2.1. AC residuals, other intra
  // modes, and the remaining VLC tables stay behind the documented
  // entropy seam. No conformance streams are available offline; the
  // multimodal_h264_cavlc gate pins this decoder against an
  // arithmetic pixel oracle computed independently from the
  // transform/prediction equations.
  // ------------------------------------------------------------------

  private val ZigZag4x4: Array[(Int, Int)] = Array(
    (0, 0), (0, 1), (1, 0), (2, 0), (1, 1), (0, 2), (0, 3), (1, 2),
    (2, 1), (3, 0), (3, 1), (2, 2), (1, 3), (2, 3), (3, 2), (3, 3))

  /** LevelScale4x4(m, 0, 0) for m = qP % 6 (spec table 8-15 position
    * (0,0) of the scaling matrix V). */
  private val DcLevelScale: Array[Int] = Array(10, 11, 13, 14, 16, 18)

  /** Full LevelScale4x4 rows (spec 8.5.9 normAdjust4x4): per m = qP%6,
    * (a, b, c) for positions (even,even) / (odd,odd) / mixed. */
  private val AcLevelScale: Array[Array[Int]] = Array(
    Array(10, 16, 13), Array(11, 18, 14), Array(13, 20, 16),
    Array(14, 23, 18), Array(16, 25, 20), Array(18, 29, 23))

  /** AC coefficient dequantization (spec 8.5.12.1) for luma 4x4. */
  private def dequantAc(c: Int, qp: Int, i: Int, j: Int): Int = {
    val cls = if (i % 2 == 0 && j % 2 == 0) 0 else if (i % 2 == 1 && j % 2 == 1) 1 else 2
    val ls = AcLevelScale(qp % 6)(cls)
    if (qp >= 24) (c * ls) << (qp / 6 - 4)
    else (c * ls + (1 << (3 - qp / 6))) >> (4 - qp / 6)
  }

  /** 4x4 inverse core transform (spec 8.5.12.2): the two-stage integer
    * butterfly with >>1 half terms; output still carries the 2^6 gain
    * (caller applies (x + 32) >> 6). */
  private def inverse4x4(d: Array[Array[Int]]): Array[Array[Int]] = {
    val f = Array.ofDim[Int](4, 4)
    var i = 0
    while (i < 4) { // rows
      val e0 = d(i)(0) + d(i)(2)
      val e1 = d(i)(0) - d(i)(2)
      val e2 = (d(i)(1) >> 1) - d(i)(3)
      val e3 = d(i)(1) + (d(i)(3) >> 1)
      f(i)(0) = e0 + e3; f(i)(1) = e1 + e2; f(i)(2) = e1 - e2; f(i)(3) = e0 - e3
      i += 1
    }
    val hOut = Array.ofDim[Int](4, 4)
    var j = 0
    while (j < 4) { // columns
      val e0 = f(0)(j) + f(2)(j)
      val e1 = f(0)(j) - f(2)(j)
      val e2 = (f(1)(j) >> 1) - f(3)(j)
      val e3 = f(1)(j) + (f(3)(j) >> 1)
      hOut(0)(j) = e0 + e3; hOut(1)(j) = e1 + e2; hOut(2)(j) = e1 - e2; hOut(3)(j) = e0 - e3
      j += 1
    }
    hOut
  }

  // ------------------------------------------------------------------
  // General residual_block_cavlc (round 14, AC extension) — grows the
  // DC-only reader to the TRANSCRIBED SUBSET of the CAVLC tables that
  // the AC gate's streams (and any stream of the same shape) can emit:
  //   coeff_token  Table 9-5: nC<2 rows through TotalCoeff 3 plus the
  //                nC>=8 fixed-length column (algorithmic);
  //   total_zeros  Table 9-7: TotalCoeff 1 (structural scheme, as the
  //                DC reader) and the full TotalCoeff 2 column;
  //   run_before   Table 9-10: zerosLeft 1-5 and the >6 column
  //                (zerosLeft 6 stays behind the seam).
  // Level decoding (9.2.2.1, incl. escapes) is general and shared in
  // structure with the DC reader. Everything outside the subset throws
  // and the caller degrades to null — the same honest-seam contract
  // the DC decoder ships with.
  // ------------------------------------------------------------------

  /** @return (zigzag-scan coefficient array of maxNumCoeff, TotalCoeff) */
  private[extras] def readResidualCavlc(
      r: BitReader, maxNumCoeff: Int, nC: Int): (Array[Int], Int) = {
    val (tc, t1) =
      if (nC >= 0 && nC < 2) {
        if (r.u(1) == 1) (0, 0)
        else if (r.u(1) == 1) (1, 1)
        else if (r.u(1) == 1) (2, 2)
        else r.u(2) match {
          case 3 => (3, 3) // "00011"
          case 2 => if (r.u(1) == 1) (1, 0) else (2, 1) // "000101"/"000100"
          case _ => throw new java.io.IOException("coeff_token beyond the nC<2 subset")
        }
      } else if (nC >= 8) {
        // 6-bit fixed-length column: (TotalCoeff, T1) = (b>>2, b&3),
        // with (0,0) coded as binary 000011
        val b = r.u(6).toInt
        if (b == 3) (0, 0)
        else {
          val v = (b >> 2, b & 3)
          if (v._1 < 1 || v._1 > maxNumCoeff + 1 || v._2 > math.min(3, v._1))
            throw new java.io.IOException("bad fixed-length coeff_token")
          v
        }
      } else throw new java.io.IOException("coeff_token columns 2<=nC<8 not transcribed")
    val out = new Array[Int](maxNumCoeff)
    if (tc == 0) return (out, 0)
    if (tc > maxNumCoeff) throw new java.io.IOException("TotalCoeff > maxNumCoeff")
    // levels (spec 9.2.2.1) — same general path as the DC reader
    val level = new Array[Int](tc)
    var suffixLength = if (tc > 10 && t1 < 3) 1 else 0
    var i = 0
    while (i < tc) {
      if (i < t1) level(i) = if (r.u(1) == 1) -1 else 1
      else {
        var prefix = 0
        while (r.u(1) == 0) {
          prefix += 1
          if (prefix > 47) throw new java.io.IOException("bad level_prefix")
        }
        var levelCode = math.min(15, prefix) << suffixLength
        val suffixSize =
          if (prefix >= 15) prefix - 3
          else if (prefix == 14 && suffixLength == 0) 4
          else suffixLength
        if (suffixSize > 0) levelCode += r.u(suffixSize).toInt
        if (prefix >= 15 && suffixLength == 0) levelCode += 15
        if (prefix >= 16) levelCode += (1 << (prefix - 3)) - 4096
        if (i == t1 && t1 < 3) levelCode += 2
        level(i) = if (levelCode % 2 == 0) (levelCode + 2) >> 1 else -((levelCode + 1) >> 1)
        if (suffixLength == 0) suffixLength = 1
        if (math.abs(level(i)) > (3 << (suffixLength - 1)) && suffixLength < 6)
          suffixLength += 1
      }
      i += 1
    }
    // total_zeros (Table 9-7)
    var zerosLeft =
      if (tc == maxNumCoeff) 0
      else tc match {
        case 1 => // structural column: "1"=0, 0^z 1 b -> 2z-1+(1-b), tail
          var z = 0
          while (r.u(1) == 0) {
            z += 1
            if (z > 8) throw new java.io.IOException("bad total_zeros")
          }
          if (z == 0) 0
          else if (z == 8) 15
          else 2 * z - 1 + (1 - r.u(1).toInt)
        case 2 =>
          // full TotalCoeff=2 column: 111=0 110=1 101=2 100=3 011=4
          // 0101=5 0100=6 0011=7 0010=8 00011=9 00010=10 000011=11
          // 000010=12 000001=13 000000=14
          val b3 = r.u(3).toInt
          if (b3 >= 3) 7 - b3
          else if (b3 == 2) 5 + (1 - r.u(1).toInt) // 0101/0100
          else if (b3 == 1) 7 + (1 - r.u(1).toInt) // 0011/0010
          else { // 000..., then: 11=9 10=10 011=11 010=12 001=13 000=14
            val n2 = r.u(2).toInt
            if (n2 == 3) 9
            else if (n2 == 2) 10
            else if (n2 == 1) 12 - r.u(1).toInt // 011=11 010=12
            else 14 - r.u(1).toInt // 001=13 000=14
          }
        case _ => throw new java.io.IOException(
          s"total_zeros column TotalCoeff=$tc not transcribed")
      }
    if (zerosLeft < 0 || tc + zerosLeft > maxNumCoeff)
      throw new java.io.IOException("bad total_zeros")
    // placement with run_before (Table 9-10), highest frequency first
    var idx = tc + zerosLeft - 1
    i = 0
    while (i < tc) {
      out(idx) = level(i)
      if (i < tc - 1) {
        val rb =
          if (zerosLeft == 0) 0
          else math.min(zerosLeft, 7) match {
            case 1 => 1 - r.u(1).toInt
            case 2 => if (r.u(1) == 1) 0 else (2 - r.u(1).toInt)
            case 3 => 3 - r.u(2).toInt
            case 4 =>
              val b = r.u(2).toInt
              if (b >= 1) 3 - b else (4 - r.u(1).toInt) // 001=3 000=4
            case 5 =>
              val b = r.u(2).toInt
              if (b >= 2) 3 - b // 11=0 10=1
              else if (b == 1) 3 - r.u(1).toInt // 011=2 010=3
              else 5 - r.u(1).toInt // 001=4 000=5
            case 6 => throw new java.io.IOException(
              "run_before zerosLeft=6 column not transcribed")
            case _ => // zerosLeft > 6
              val b = r.u(3).toInt
              if (b >= 1) 7 - b
              else { // 000, then unary: 0001=7 00001=8 ...
                var k = 0
                while (r.u(1) == 0) {
                  k += 1
                  if (k > 8) throw new java.io.IOException("bad run_before")
                }
                7 + k
              }
          }
        if (rb > zerosLeft) throw new java.io.IOException("run_before > zerosLeft")
        zerosLeft -= rb
        idx -= 1 + rb
      }
      i += 1
    }
    (out, tc)
  }

  /** Decode the luma plane of a CAVLC IDR slice whose macroblocks are
    * all I_16x16 / DC-prediction / cbp 0 (DC residual only). Returns
    * null outside that profile (caller degrades). */
  def decodeI16DcLuma(rbsp: Array[Byte], sps: Sps, picInitQp: Int): Array[Byte] = {
    try {
      val r = new BitReader(rbsp)
      val nalUnitType = (r.u(8) & 0x1f).toInt
      if (nalUnitType != 5) return null
      r.ue() // first_mb_in_slice
      val sliceType = r.ue()
      if (sliceType % 5 != 2) return null
      r.ue() // pic_parameter_set_id
      r.u(sps.log2MaxFrameNum) // frame_num
      r.ue() // idr_pic_id
      r.u(1); r.u(1) // dec_ref_pic_marking (IDR)
      var qp = picInitQp + r.se().toInt // slice_qp_delta
      val w = sps.widthMbs * 16
      val h = sps.heightMbs * 16
      val luma = new Array[Byte](w * h)
      val nMbs = sps.widthMbs * sps.heightMbs
      // per-4x4-block AC TotalCoeff in plane coordinates, for the nC
      // neighbor prediction (9.2.1): left/top averaged when both
      // available, copied when one is, 0 when neither
      val w4 = sps.widthMbs * 4
      val h4 = sps.heightMbs * 4
      val nnz = new Array[Int](w4 * h4)
      // luma4x4BlkIdx -> (x, y) in 4x4 units within the MB (6.4.3 scan)
      val blkX = Array(0, 1, 0, 1, 2, 3, 2, 3, 0, 1, 0, 1, 2, 3, 2, 3)
      val blkY = Array(0, 0, 1, 1, 0, 0, 1, 1, 2, 2, 3, 3, 2, 2, 3, 3)
      val idxAt = Array.ofDim[Int](16) // (y*4+x) -> blkIdx
      var bi0 = 0
      while (bi0 < 16) { idxAt(blkY(bi0) * 4 + blkX(bi0)) = bi0; bi0 += 1 }
      var mb = 0
      while (mb < nMbs) {
        val mbType = r.ue().toInt
        // mb_type 1..24 = Intra_16x16 (Table 7-11): mbType-1 encodes
        // predMode (%4), cbpChroma (/4 %3) and cbpLuma (>=12 -> 15).
        // This profile: DC prediction (2), chroma cbp 0, luma cbp 0
        // (DC-only residual) or 15 (round-14 AC extension)
        if (mbType < 1 || mbType > 24) return null
        val rem = (mbType - 1) % 12
        val cbpLuma15 = mbType - 1 >= 12
        if (rem % 4 != 2 || rem / 4 != 0) return null
        if (r.ue() > 3) return null // intra_chroma_pred_mode
        qp += r.se().toInt // mb_qp_delta (always present for I_16x16)
        if (qp < 0 || qp > 51) return null
        val gx0 = (mb % sps.widthMbs) * 4
        val gy0 = (mb / sps.widthMbs) * 4
        def ncOf(bi: Int): Int = {
          val gx = gx0 + blkX(bi)
          val gy = gy0 + blkY(bi)
          val hasA = gx > 0
          val hasB = gy > 0
          if (hasA && hasB) (nnz(gy * w4 + gx - 1) + nnz((gy - 1) * w4 + gx) + 1) >> 1
          else if (hasA) nnz(gy * w4 + gx - 1)
          else if (hasB) nnz((gy - 1) * w4 + gx)
          else 0
        }
        // Intra16x16DCLevel: nC predicted from luma4x4 block 0's
        // neighbors (their recorded AC TotalCoeff)
        val dcZig = readResidualCavlc(r, 16, ncOf(0))._1
        // Intra16x16ACLevel x16 when cbpLuma == 15, in block-scan order
        val ac: Array[Array[Int]] =
          if (!cbpLuma15) null
          else {
            val out = new Array[Array[Int]](16)
            var bi = 0
            while (bi < 16) {
              val (coeffs, tc) = readResidualCavlc(r, 15, ncOf(bi))
              out(bi) = coeffs
              nnz((gy0 + blkY(bi)) * w4 + gx0 + blkX(bi)) = tc
              bi += 1
            }
            out
          }
        // zigzag -> 4x4, inverse Hadamard, 8.5.10 DC dequantization
        // (shared with the P-slice intra-refresh path)
        val dcY = i16DcDequant(dcZig, qp)
        // Intra_16x16 DC prediction (8.3.3.3) from reconstructed
        // neighbor edges, then residual add: with zero AC the inverse
        // core transform of a DC-only 4x4 block is flat (dc + 32) >> 6
        val mbX = (mb % sps.widthMbs) * 16
        val mbY = (mb / sps.widthMbs) * 16
        // Intra_16x16 DC prediction (8.3.3.3), shared helper
        val pred = i16DcPred(luma, w, mbX, mbY)
        if (ac == null) {
          // cbpLuma 0: the inverse core transform of a DC-only block is
          // flat (dc + 32) >> 6 — keep the closed-form fill
          var yy = 0
          while (yy < 16) {
            var xx = 0
            while (xx < 16) {
              val res = (dcY(yy / 4)(xx / 4) + 32) >> 6
              val px = math.max(0, math.min(255, pred + res))
              luma((mbY + yy) * w + mbX + xx) = px.toByte
              xx += 1
            }
            yy += 1
          }
        } else {
          // cbpLuma 15: per 4x4 block, the core transform input is the
          // Hadamard-decoded DC at (0,0) plus the dequantized AC
          // coefficients (zigzag positions 1..15), one rounding
          var by = 0
          while (by < 4) {
            var bx = 0
            while (bx < 4) {
              val d = Array.ofDim[Int](4, 4)
              d(0)(0) = dcY(by)(bx)
              val coeffs = ac(idxAt(by * 4 + bx))
              var kk = 0
              while (kk < 15) {
                if (coeffs(kk) != 0) {
                  val (zi, zj) = ZigZag4x4(kk + 1)
                  d(zi)(zj) = dequantAc(coeffs(kk), qp, zi, zj)
                }
                kk += 1
              }
              val hh = inverse4x4(d)
              var yy = 0
              while (yy < 4) {
                var xx = 0
                while (xx < 4) {
                  val res = (hh(yy)(xx) + 32) >> 6
                  val px = math.max(0, math.min(255, pred + res))
                  luma((mbY + by * 4 + yy) * w + mbX + bx * 4 + xx) = px.toByte
                  xx += 1
                }
                yy += 1
              }
              bx += 1
            }
            by += 1
          }
        }
        mb += 1
      }
      luma
    } catch { case scala.util.control.NonFatal(_) => null }
  }
}

/** REAL pure-JVM MP4/H.264 codec for the constrained profile a JVM can
  * decode without native libraries: ISO-BMFF box walk (moov -> trak ->
  * mdia -> minf -> stbl; stsd/avcC, stsz, stco) to locate parameter
  * sets and samples, genuine Exp-Golomb SPS/PPS/slice-header parsing,
  * and pixel recovery from baseline I_PCM macroblocks (raw-sample MBs —
  * the one H.264 coding mode that needs no CAVLC residual decoder;
  * every step still parses real bitstream fields with emulation-
  * prevention removal). Entropy-coded streams fall through to the stub
  * (the documented JavaCV seam) — this codec makes the MP4 CONTAINER
  * and H.264 SYNTAX path real, exactly like [[JvmMjpegCodec]] did for
  * MJPEG, and because I_PCM is lossless the decoded pixel sums are
  * oracle-checkable (JPEG's were not). */
object JvmMp4Codec extends MediaCodec {
  override def accepts(mime: String): Boolean =
    mime == "video/mp4" || mime == "video/avc" || mime == "video/h264"

  private final case class Mp4Track(
      sps: H264.Sps, initQp: Int, nalLenSize: Int,
      samples: Seq[(Long, Int)]) // (offset, size)

  private def be32(b: Array[Byte], o: Int): Long =
    ((b(o) & 0xffL) << 24) | ((b(o + 1) & 0xffL) << 16) |
      ((b(o + 2) & 0xffL) << 8) | (b(o + 3) & 0xffL)

  /** Walk children of a container box range, invoking f(type, start,
    * end) per box. Corrupt sizes end the walk (degrade, never throw). */
  private def boxes(b: Array[Byte], from: Long, until: Long)(
      f: (String, Long, Long) => Unit): Unit = {
    var o = from
    while (o + 8 <= until) {
      var size = be32(b, o.toInt)
      val typ = new String(b, o.toInt + 4, 4, "US-ASCII")
      var hdr = 8L
      if (size == 1 && o + 16 <= until) { // 64-bit size
        size = (be32(b, o.toInt + 8) << 32) | be32(b, o.toInt + 12)
        hdr = 16L
      }
      if (size < hdr || o + size > until) return
      f(typ, o + hdr, o + size)
      o += size
    }
  }

  private def parse(b: Array[Byte]): Option[Mp4Track] = {
    var out: Option[Mp4Track] = None
    try {
      boxes(b, 0, b.length) { (t0, s0, e0) =>
        if (t0 == "moov") boxes(b, s0, e0) { (t1, s1, e1) =>
          if (t1 == "trak" && out.isEmpty) {
            var sps: H264.Sps = null
            var initQp = 26
            var nalLen = 4
            var sizes: Seq[Int] = Nil
            var chunkOff = -1L
            boxes(b, s1, e1) { (t2, s2, e2) =>
              if (t2 == "mdia") boxes(b, s2, e2) { (t3, s3, e3) =>
                if (t3 == "minf") boxes(b, s3, e3) { (t4, s4, e4) =>
                  if (t4 == "stbl") boxes(b, s4, e4) { (t5, s5, e5) =>
                    t5 match {
                      case "stsd" =>
                        // full box header (4) + entry count (4), then
                        // sample entries; we want avc1 -> avcC
                        boxes(b, s5 + 8, e5) { (t6, s6, e6) =>
                          if (t6 == "avc1")
                            // avc1 sample entry: 78 bytes of fixed
                            // fields (6+2 SampleEntry + 70
                            // VisualSampleEntry) after the box header,
                            // then child boxes
                            boxes(b, s6 + 78, e6) { (t7, s7, e7) =>
                              if (t7 == "avcC" && e7 - s7 >= 7) {
                                val o = s7.toInt
                                nalLen = (b(o + 4) & 0x03) + 1
                                val nSps = b(o + 5) & 0x1f
                                if (nSps >= 1) {
                                  val spsLen = ((b(o + 6) & 0xff) << 8) | (b(o + 7) & 0xff)
                                  val rbsp = H264.removeEmulationPrevention(
                                    b, o + 8, o + 8 + spsLen)
                                  sps = H264.parseSps(rbsp)
                                  // PPS entries follow the SPS list; the
                                  // CAVLC slice decoder needs pic_init_qp
                                  val po = o + 8 + spsLen
                                  if (po + 3 <= e7 && (b(po) & 0xff) >= 1) {
                                    val ppsLen = ((b(po + 1) & 0xff) << 8) | (b(po + 2) & 0xff)
                                    if (po + 3 + ppsLen <= e7)
                                      try initQp = H264.parsePpsInitQp(
                                        H264.removeEmulationPrevention(b, po + 3, po + 3 + ppsLen))
                                      catch { case scala.util.control.NonFatal(_) => }
                                  }
                                }
                              }
                            }
                        }
                      case "stsz" =>
                        val o = s5.toInt
                        val fixed = be32(b, o + 4)
                        val n = be32(b, o + 8).toInt
                        sizes =
                          if (fixed != 0) Seq.fill(n)(fixed.toInt)
                          else (0 until n).map(i => be32(b, o + 12 + 4 * i).toInt)
                      case "stco" =>
                        val o = s5.toInt
                        if (be32(b, o + 4) >= 1) chunkOff = be32(b, o + 8)
                      case _ =>
                    }
                  }
                }
              }
            }
            if (sps != null && sizes.nonEmpty && chunkOff >= 0) {
              // single-chunk layout (what the synthesizer writes):
              // samples are contiguous from the chunk offset
              val offs = sizes.scanLeft(chunkOff)(_ + _)
              out = Some(Mp4Track(sps, initQp, nalLen, offs.zip(sizes)))
            }
          }
        }
      }
    } catch { case scala.util.control.NonFatal(_) => }
    out
  }

  /** Luma plane of sample `i`, or null when not decodable. */
  private def decodeSample(b: Array[Byte], t: Mp4Track, i: Int): Array[Byte] = {
    val (off, size) = t.samples(i)
    if (off < 0 || size < 0 || off + size > b.length) return null
    var o = off
    val end = off + size
    while (o + t.nalLenSize <= end) {
      var len = 0L
      var j = 0
      while (j < t.nalLenSize) { len = (len << 8) | (b((o + j).toInt) & 0xffL); j += 1 }
      val nalStart = o + t.nalLenSize
      if (len <= 0 || nalStart + len > end) return null
      if ((b(nalStart.toInt) & 0x1f) == 5) {
        val rbsp = H264.removeEmulationPrevention(
          b, nalStart.toInt, (nalStart + len).toInt)
        // try raw-sample macroblocks first, then the CAVLC I_16x16
        // DC-only profile; both return null outside their subset
        val pcm = H264.decodeIPcmLuma(rbsp, t.sps)
        return if (pcm != null) pcm
          else H264.decodeI16DcLuma(rbsp, t.sps, t.initQp)
      }
      o = nalStart + len
    }
    null
  }

  /** All frames' luma planes with REFERENCE propagation: IDR samples
    * decode through the intra paths, non-IDR samples through the
    * P-slice inter path (P_Skip runs + coded P_L0_16x16 MBs) against
    * the previously decoded frame. None when any sample falls outside
    * the decodable subset (rounds 15-16). */
  private[extras] def decodeAllLuma(b: Array[Byte]): Option[(H264.Sps, Seq[Array[Byte]])] =
    parse(b).flatMap { t =>
      // sliding decoded-picture buffer, most recent first (RefPicList0
      // under pic_order_cnt_type 2 with no reordering); IDR resets it
      var refs: Vector[Array[Byte]] = Vector.empty
      val frames = Vector.newBuilder[Array[Byte]]
      var i = 0
      while (i < t.samples.length) {
        val (off, size) = t.samples(i)
        // sample table values come from the (possibly corrupt)
        // container — never trust them against the real buffer
        if (off < 0 || size < 0 || off + size > b.length) return None
        var o = off
        val end = off + size
        var luma: Array[Byte] = null
        var isRef = true // nal_ref_idc of the NAL that produced `luma`
        while (luma == null && o + t.nalLenSize <= end) {
          var len = 0L
          var j = 0
          while (j < t.nalLenSize) { len = (len << 8) | (b((o + j).toInt) & 0xffL); j += 1 }
          val nalStart = o + t.nalLenSize
          if (len <= 0 || nalStart + len > end) return None
          val nalType = b(nalStart.toInt) & 0x1f
          if (nalType == 5 || nalType == 1) {
            val rbsp = H264.removeEmulationPrevention(
              b, nalStart.toInt, (nalStart + len).toInt)
            if (nalType == 5) {
              val pcm = H264.decodeIPcmLuma(rbsp, t.sps)
              luma = if (pcm != null) pcm else H264.decodeI16DcLuma(rbsp, t.sps, t.initQp)
              if (luma != null) refs = Vector.empty // IDR resets the DPB
            } else luma = H264.decodePLuma(rbsp, t.sps, refs, t.initQp)
            // nal_ref_idc == 0 marks a non-reference picture: it is
            // OUTPUT but must NOT enter the DPB, or every later frame's
            // RefPicList0 shifts and decodes silently wrong (14496-10
            // §7.4.1; flagged by round-17 review — all fixtures use
            // ref_idc=2, so this is the spec path, not a behavior change)
            if (luma != null) isRef = ((b(nalStart.toInt) >> 5) & 0x3) != 0
          }
          o = nalStart + len
        }
        if (luma == null) return None
        frames += luma
        if (isRef)
          refs = (luma +: refs).take(math.max(1, t.sps.maxNumRefFrames))
        i += 1
      }
      Some((t.sps, frames.result()))
    }

  /** [frameCount, width, height, lumaSum] ++ 16-bin luma histogram of
    * the first frame (lossless I_PCM: the sum is an arithmetic fact). */
  override def features(bytes: Array[Byte], mime: String): Array[Long] = {
    parse(bytes) match {
      case Some(t) =>
        val luma = decodeSample(bytes, t, 0)
        if (luma == null) return StubMediaCodec.features(bytes, mime)
        val hist = new Array[Long](16)
        var sum = 0L
        var i = 0
        while (i < luma.length) {
          val v = luma(i) & 0xff
          sum += v
          hist(v / 16) += 1
          i += 1
        }
        Array(t.samples.length.toLong, t.sps.widthMbs * 16L,
          t.sps.heightMbs * 16L, sum) ++ hist
      case None => StubMediaCodec.features(bytes, mime)
    }
  }

  /** n evenly spaced frames as decoded luma planes (same rounding as
    * [[JvmMjpegCodec.sampleFrames]]). */
  override def sampleFrames(bytes: Array[Byte], mime: String, n: Int): Seq[Array[Byte]] = {
    parse(bytes) match {
      case Some(t) =>
        val m = t.samples.length
        (0 until n).map { i =>
          val idx = math.min((i.toLong * m / n).toInt, m - 1)
          val luma = decodeSample(bytes, t, idx)
          if (luma != null) luma
          else {
            val (off, size) = t.samples(idx)
            java.util.Arrays.copyOfRange(bytes, off.toInt,
              math.min(off + 16, off + size).toInt)
          }
        }
      case None => StubMediaCodec.sampleFrames(bytes, mime, n)
    }
  }
}
