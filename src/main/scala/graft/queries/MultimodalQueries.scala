package graft.queries

import graft.{Q, Tables}
import graft.extras.Multimodal
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Multimodal-column queries (SURVEY §7.1.7): binary payload + metadata
  * struct convention, per-partition batched feature extraction (decode
  * step stubbed — no codecs in this container; plumbing is real).
  */
object MultimodalQueries {

  val all: Seq[Q] = Seq(
    // ------------------------------------------------------------------
    Q("multimodal_features",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val media = Multimodal.withFakeMedia(docs, "doc_id", "text")
        Multimodal.extractFeatures(s, media, "doc_id")
          .select(col("doc_id"), col("mime"), col("byte_len"))
          .orderBy("doc_id")
      },
      oracle = Some("""
        SELECT doc_id,
          CASE CAST(doc_id % 3 AS INTEGER)
            WHEN 0 THEN 'image/png' WHEN 1 THEN 'audio/wav' ELSE 'video/mp4'
          END AS mime,
          CAST(octet_length(encode(text)) AS INTEGER) AS byte_len
        FROM documents ORDER BY doc_id"""),
      doc = "binary media column + batched (mapInPandas-shaped) feature extraction; decode stubbed"),

    // ------------------------------------------------------------------
    Q("multimodal_frame_sample",
      (s, d) => {
        val docs = Tables.documents(s, d).filter(col("doc_id") < 50)
        val media = Multimodal.withFakeMedia(docs, "doc_id", "text")
        Multimodal.sampleFrames(media, "doc_id", n = 4)
          .select(col("doc_id"), col("frame_no"), col("frame_len"))
          .orderBy("doc_id", "frame_no")
      },
      oracle = Some("""
        WITH d AS (SELECT doc_id, octet_length(encode(text)) AS blen
                   FROM documents WHERE doc_id < 50)
        SELECT doc_id, CAST(i AS INTEGER) AS frame_no,
          CAST(least(16, greatest(0, blen - i * greatest(blen // 4, 1))) AS INTEGER) AS frame_len
        FROM d, range(0, 4) t(i)
        ORDER BY doc_id, frame_no"""),
      doc = "deterministic frame sampling over binary payloads (video stub)"),

    // ------------------------------------------------------------------
    // REAL decode gates: the query assembles genuine file formats from
    // id arithmetic (MediaSynth), the codec stack decodes the actual
    // containers (javax.imageio inflate+parse; RIFF chunk walk + PCM
    // reassembly), and DuckDB recomputes the expected decoded facts
    // arithmetically — a hash match proves true decoding, not plumbing.
    Q("multimodal_png_decode",
      (s, d) => {
        Multimodal.pngDecodeFeatures(
            Tables.documents(s, d).filter(col("doc_id") < 200), "doc_id")
          .orderBy("doc_id")
      },
      oracle = Some("""
        SELECT doc_id,
          1 + doc_id % 8 AS width,
          1 + doc_id % 6 AS height,
          CAST(list_sum(flatten(list_transform(range(0, 1 + doc_id % 6), y ->
            list_transform(range(0, 1 + doc_id % 8), x ->
              (doc_id + 3*x + 5*y) % 256)))) AS BIGINT) AS lum_sum
        FROM documents WHERE doc_id < 200 ORDER BY doc_id"""),
      doc = "real PNG decode: synthesized zlib PNG -> javax.imageio -> pixel facts vs arithmetic oracle"),

    // ------------------------------------------------------------------
    Q("multimodal_wav_decode",
      (s, d) => {
        Multimodal.wavDecodeFeatures(
            Tables.documents(s, d).filter(col("doc_id") < 200), "doc_id")
          .orderBy("doc_id")
      },
      oracle = Some("""
        SELECT doc_id,
          CAST(1 AS BIGINT) AS channels,
          8000 + (doc_id % 3) * 4000 AS sample_rate,
          CAST(16 AS BIGINT) AS bits,
          (100 + doc_id % 50) * 2 AS data_bytes,
          ((100 + doc_id % 50) * 2 * 1000) // ((8000 + (doc_id % 3) * 4000) * 2) AS duration_ms,
          CAST(list_sum(list_transform(range(0, 100 + doc_id % 50), i ->
            ((doc_id * 31 + i * 7) % 65536) - 32768)) AS BIGINT) AS sample_sum
        FROM documents WHERE doc_id < 200 ORDER BY doc_id"""),
      doc = "real WAV decode: synthesized RIFF/PCM -> chunk-walk parse + sample sum vs arithmetic oracle"),

    // ------------------------------------------------------------------
    Q("multimodal_mjpeg_frames",
      (s, d) => {
        // the VIDEO seam with a real codec behind it: per-id MJPEG clips
        // (genuine ImageIO-encoded JPEG frames, concatenated) routed
        // through JvmMjpegCodec's segment walk + per-frame decode. Frame
        // count, dimensions and sampled-plane bytes are arithmetic facts
        // the oracle recomputes; pixel sums are not oracled (JPEG is
        // lossy). Frame-boundary detection must survive entropy-coded
        // scan bytes that LOOK like EOI — a naive FFD9 split fails this
        // gate.
        Multimodal.mjpegFrameFeatures(
            Tables.documents(s, d).filter(col("doc_id") < 200), "doc_id")
          .orderBy("doc_id")
      },
      oracle = Some("""
        SELECT doc_id,
          1 + doc_id % 4 AS n_frames,
          4 + doc_id % 5 AS width,
          3 + doc_id % 4 AS height,
          (1 + doc_id % 4) * (4 + doc_id % 5) * (3 + doc_id % 4) AS plane_bytes
        FROM documents WHERE doc_id < 200 ORDER BY doc_id"""),
      doc = "real MJPEG video decode: segment walk + per-frame ImageIO vs arithmetic oracle"),

    // ------------------------------------------------------------------
    Q("multimodal_hist_similarity",
      (s, d) => {
        // the full multimodal RETRIEVAL pipeline in one gate: decode
        // (real ImageIO on synthesized PNGs) -> feature extraction
        // (16-bin luminance histogram) -> similarity search (top-3 by
        // histogram dot product). Dot products are exact long sums over
        // integer bins, so the ranking is bit-deterministic and the
        // oracle recomputes every histogram arithmetically from the id
        // — pipeline correctness, not just per-stage. The corpus side
        // fans out via a constant-key broadcast hash join (the
        // brute-force yardstick shape; SRP/IVF are the scale path).
        val h = Multimodal.pngHist(
          Tables.documents(s, d).filter(col("doc_id") < 40), "doc_id")
        val a = h.select(col("doc_id").as("id_a"), col("hist").as("hist_a"))
          .withColumn("g", Present.constKey(col("id_a") + 1))
        val b = h.select(col("doc_id").as("id_b"), col("hist").as("hist_b"))
          .withColumn("g", Present.constKey(col("id_b") + 1))
        val w = Window.partitionBy("id_a").orderBy(desc("dot"), asc("id_b"))
        a.join(broadcast(b), "g")
          .filter(col("id_a") =!= col("id_b"))
          .select(col("id_a"), col("id_b"),
            aggregate(zip_with(col("hist_a"), col("hist_b"), (x, y) => x * y),
              lit(0L), (acc, x) => acc + x).as("dot"))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 3)
          .orderBy("id_a", "rank")
      },
      oracle = Some("""
        WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 40),
        px AS (
          SELECT doc_id,
            flatten(list_transform(range(0, 1 + doc_id % 6), y ->
              list_transform(range(0, 1 + doc_id % 8), x ->
                (doc_id + 3*x + 5*y) % 256))) AS ps
          FROM ids),
        hist AS (
          SELECT doc_id,
            list_transform(range(0, 16), k ->
              len(list_filter(ps, p -> p // 16 = k))) AS h
          FROM px),
        pairs AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
            CAST(list_sum(list_transform(range(1, 17),
              k -> a.h[k] * b.h[k])) AS BIGINT) AS dot
          FROM hist a JOIN hist b ON a.doc_id <> b.doc_id),
        ranked AS (
          SELECT id_a, id_b, dot,
            row_number() OVER (PARTITION BY id_a ORDER BY dot DESC, id_b)
              AS rank
          FROM pairs)
        SELECT id_a, id_b, dot, CAST(rank AS INTEGER) AS rank
        FROM ranked WHERE rank <= 3 ORDER BY id_a, rank"""),
      doc = "multimodal retrieval pipeline: real decode -> histogram feature -> exact top-3 similarity, oracle end to end"),

    // ------------------------------------------------------------------
    Q("multimodal_wav_energy",
      (s, d) => {
        // short-time energy windows over decoded PCM — the
        // silence/clipping detector audio curation runs before a
        // training corpus: 4 contiguous equal sample windows per clip,
        // sum-of-squares per window in exact long arithmetic, every
        // value recomputed by the oracle from the same id arithmetic
        // that synthesized the RIFF payload.
        Multimodal.wavWindowEnergy(
            Tables.documents(s, d).filter(col("doc_id") < 200), "doc_id", nWin = 4)
          .orderBy("doc_id", "win")
      },
      oracle = Some("""
        WITH base AS (
          SELECT doc_id, 100 + doc_id % 50 AS n FROM documents WHERE doc_id < 200),
        win AS (
          SELECT doc_id, n, unnest(range(0, 4)) AS win FROM base),
        bounds AS (
          SELECT doc_id, n, CAST(win AS INTEGER) AS win,
            (win * n) // 4 AS lo, ((win + 1) * n) // 4 AS hi
          FROM win)
        SELECT doc_id, win, hi - lo AS n_samples,
          CAST(list_sum(list_transform(range(lo, hi), i ->
            (((doc_id * 31 + i * 7) % 65536) - 32768) *
            (((doc_id * 31 + i * 7) % 65536) - 32768))) AS BIGINT) AS energy
        FROM bounds ORDER BY doc_id, win"""),
      doc = "windowed audio energy over decoded PCM: exact per-window sum-of-squares vs arithmetic oracle"),

    // ------------------------------------------------------------------
    Q("multimodal_image_resize",
      (s, d) => {
        // resize = decode + nearest-neighbor resample to a fixed
        // thumbnail (vision-encoder preprocessing); the oracle
        // recomputes every resampled pixel arithmetically from the
        // synthesized image's value function (doc_id + 3x + 5y) % 256
        // with the canonical floor map sx = x2*w/outW.
        Multimodal.imageResizeFeatures(
            Tables.documents(s, d).filter(col("doc_id") < 200), "doc_id",
            outW = 4, outH = 3)
          .orderBy("doc_id")
      },
      oracle = Some("""
        SELECT doc_id,
          1 + doc_id % 8 AS width,
          1 + doc_id % 6 AS height,
          CAST(4 AS BIGINT) AS out_w,
          CAST(3 AS BIGINT) AS out_h,
          CAST(list_sum(flatten(list_transform(range(0, 3), y2 ->
            list_transform(range(0, 4), x2 ->
              (doc_id
                + 3 * ((x2 * (1 + doc_id % 8)) // 4)
                + 5 * ((y2 * (1 + doc_id % 6)) // 3)) % 256)))) AS BIGINT) AS resized_sum
        FROM documents WHERE doc_id < 200 ORDER BY doc_id"""),
      doc = "real image resize: decode + nearest-neighbor thumbnail resample vs arithmetic oracle")
  )
}
