package graft.catalog

import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions._
import graft.operators._
import Fixtures._

/** m-gates: media features — binary, image, audio and media-plan
  * extraction. */
object MediaGates {

  val gates: Seq[Gate] = Seq(
    // ---- multimodal resize + frame-sample plan (oracle-checked) ----
    // fake media dims derive from the content hash (same generator as
    // m1); the resize and frame-sample arithmetic is the real
    // metadata plan a codec stage would execute
    Gate("m3_media_plan", (s, dir) => {
      import graft.functions.TextFunctions.hash32
      Tables.documents(s, dir).select(
          col("doc_id"),
          (lit(1) + hash32(col("text")) % 1024).cast("int").as("w"),
          (lit(1) + hash32(col("text"), 1) % 1024).cast("int").as("h"),
          (lit(1) + hash32(col("text"), 2) % 240).cast("int").as("frames"))
        .select(col("doc_id"), col("w"), col("h"), col("frames"),
          Multimodal.resizeDims(col("w"), col("h"), 256).as("r"),
          Multimodal.sampleFrameIndices(col("frames"), 8).as("idx"))
        .select(col("doc_id"), col("w"), col("h"), col("frames"),
          col("r.new_w").as("new_w"), col("r.new_h").as("new_h"),
          // final-column convention: array outputs serialize to a CSV
          // string — the driver's comparer sorts rows in pandas, and
          // ndarray cells are unhashable/unsortable there (r2 gate)
          array_join(col("idx"), ",").as("idx"))
    },
      Sql(s"""WITH m AS (SELECT doc_id,
         |    CAST(1 + ${hash32Sql(0, "text")} % 1024 AS INT) AS w,
         |    CAST(1 + ${hash32Sql(1, "text")} % 1024 AS INT) AS h,
         |    CAST(1 + ${hash32Sql(2, "text")} % 240 AS INT) AS frames
         |  FROM documents),
         |r AS (SELECT *, greatest(w, h) AS longest FROM m)
         |SELECT doc_id, w, h, frames,
         |  CASE WHEN longest <= 256 THEN w
         |       ELSE greatest(CAST(floor(w * 256.0 / longest) AS INT), 1) END AS new_w,
         |  CASE WHEN longest <= 256 THEN h
         |       ELSE greatest(CAST(floor(h * 256.0 / longest) AS INT), 1) END AS new_h,
         |  array_to_string(list_sort(list_distinct(list_transform(range(8),
         |    i -> CAST(floor(i * frames / 8.0) AS INT)))), ',') AS idx
         |FROM r""".stripMargin)),

    // ---- binary-column feature extraction (multimodal plumbing) ----
    // the "decode" is a deterministic stand-in (no image/audio libs in
    // this container) but the binary column, byte-level features, and
    // fingerprint are real — see operators.Multimodal for batch shape
    Gate("m2_binary_features", (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("bin"))
        .select(col("doc_id"),
          length(col("bin")).cast("int").as("byte_len"),
          graft.functions.ColUtil.bindOnce(hex(col("bin"))) { h =>
            struct(
              substring(h, 1, 16).as("head_hex"),
              call_function("right", h, lit(16)).as("tail_hex"),
              md5(h).as("hex_md5"))
          }.as("f"))
        .select(col("doc_id"), col("byte_len"),
          col("f.head_hex").as("head_hex"),
          col("f.tail_hex").as("tail_hex"),
          col("f.hex_md5").as("hex_md5"),
          (col("byte_len") % 3 + 1).cast("int").as("fake_channels")),
      Sql("""WITH b AS (SELECT doc_id, encode(text) AS bin FROM documents),
        |h AS (SELECT doc_id, CAST(octet_length(bin) AS INT) AS byte_len,
        |             hex(bin) AS hx FROM b)
        |SELECT doc_id, byte_len,
        |       substr(hx, 1, 16) AS head_hex,
        |       right(hx, 16) AS tail_hex,
        |       md5(hx) AS hex_md5,
        |       CAST(byte_len % 3 + 1 AS INT) AS fake_channels
        |FROM h""".stripMargin)),

    // ---- multimodal (binary column plumbing; see operators.Multimodal) ----
    Gate("m1_media_features", (s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"),
        length(encode(col("text"), "UTF-8")).cast("int").as("byte_len"),
        md5(col("text")).as("content_md5"),
        (lit(1) + hash32(col("text")) % 1024).cast("int").as("fake_width"),
        (lit(1) + hash32(col("text"), 1) % 30).cast("int").as("fake_frames")),
      Sql(s"""SELECT doc_id,
         |  CAST(octet_length(encode(text)) AS INT) AS byte_len,
         |  md5(text) AS content_md5,
         |  CAST(1 + ${hash32Sql(0, "text")} % 1024 AS INT) AS fake_width,
         |  CAST(1 + ${hash32Sql(1, "text")} % 30 AS INT) AS fake_frames
         |FROM documents""".stripMargin)),

    // ---- REAL codec through the Decoder boundary, oracle-gated ----
    // m1-m3 gate the binary *plumbing* with a stub codec; m4 gates an
    // actual byte-stream parser: each doc gets a RIFF/WAVE PCM blob
    // synthesized from doc_id alone (Multimodal.synthWavPcm), decoded
    // by WavPcmDecoder (chunk walk + little-endian sample decode —
    // it sees only the bytes), and the oracle recomputes every output
    // in closed form from doc_id. A header-offset or sample-sign bug
    // anywhere in the codec breaks the hash. All features are exact
    // (power-of-two denominators, even frame counts), so the float
    // compare is bit-for-bit, no tolerance. Scale shape: synth+decode
    // run in one mapPartitions pass — the archetypal CPU-bound
    // embarrassingly-parallel decode stage; nothing shuffles.
    Gate("m4_wav_features", (s, dir) => {
      import s.implicits._
      Tables.documents(s, dir).select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val bytes = Multimodal.synthWavPcm(id)
          val (sr, ch, nf, feat) =
            Multimodal.WavPcmDecoder.decode("audio", bytes)
          (id, bytes.length, sr, ch, nf, feat(0).toDouble,
            feat(1).toDouble, feat(2).toDouble, feat(3).toDouble,
            feat(5).toDouble)
        })
        .toDF("doc_id", "byte_len", "sr", "channels", "n_frames",
          "rms", "peak", "zcr", "dc", "q2_rms")
        .select(col("doc_id"), col("byte_len").cast("int").as("byte_len"),
          col("sr").cast("int").as("sr"),
          col("channels").cast("int").as("channels"),
          col("n_frames").cast("int").as("n_frames"),
          col("rms"), col("peak"), col("zcr"), col("dc"), col("q2_rms"))
    },
      // m4: closed-form inverse of Multimodal.synthWavPcm — every value
      // the REAL WavPcmDecoder must recover from the byte stream, derived
      // from doc_id by pure integer arithmetic plus one float-exact
      // division (amp/32768: power-of-two denominator, amp < 2^15, so
      // DOUBLE-divide → REAL-round is bit-identical to the decoder's
      // float math; zcr is exactly 1, dc exactly 0 by construction).
      Sql("""WITH p AS (
        |  SELECT doc_id,
        |         1 + doc_id % 2 AS ch,
        |         64 + 2 * (doc_id % 96) AS nf,
        |         256 + (doc_id % 1024) * 16 AS amp
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(44 + nf * 2 * ch AS INT) AS byte_len,
        |  CAST(8000 + (doc_id % 8) * 1000 AS INT) AS sr,
        |  CAST(ch AS INT) AS channels,
        |  CAST(nf AS INT) AS n_frames,
        |  CAST(CAST(CAST(amp AS DOUBLE) / 32768 AS REAL) AS DOUBLE) AS rms,
        |  CAST(CAST(CAST(amp AS DOUBLE) / 32768 AS REAL) AS DOUBLE) AS peak,
        |  CAST(1.0 AS DOUBLE) AS zcr,
        |  CAST(0.0 AS DOUBLE) AS dc,
        |  CAST(CAST(CAST(amp AS DOUBLE) / 32768 AS REAL) AS DOUBLE) AS q2_rms
        |FROM p""".stripMargin)),

    // ---- second real codec: variable-offset BMP (m5) ----
    // m4's WAV prelude is fixed-44-byte; BMP's pixel data sits at a
    // VARIABLE offset (DIB header 40/108/124 + junk gap, bfOffBits
    // honored, 4-byte row stride padding, bottom-up vs top-down
    // rows) — the codec-boundary generality the r10 verdict asked
    // for. Every blob is synthesized from doc_id alone
    // (Multimodal.synthBmp) and decoded by BmpDecoder, which sees
    // only the bytes; the oracle recomputes width/height/byte_len
    // and every feature in closed form (range() folds over the
    // per-row color recurrence), so any header-offset, stride, or
    // orientation bug breaks the hash. Same mapPartitions shape as
    // m4: embarrassingly parallel, nothing shuffles.
    Gate("m5_bmp_features", (s, dir) => {
      import s.implicits._
      Tables.documents(s, dir).select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val bytes = Multimodal.synthBmp(id)
          val (w, h, _, feat) =
            Multimodal.BmpDecoder.decode("image", bytes)
          (id, bytes.length, w, h, feat(0).toDouble, feat(1).toDouble,
            feat(2).toDouble, feat(3).toDouble, feat(4).toDouble,
            feat(5).toDouble, feat(6).toDouble, feat(7).toDouble)
        })
        .toDF("doc_id", "byte_len", "width", "height", "mean_r", "mean_g",
          "mean_b", "luma", "top_luma", "bot_luma", "max_c", "min_c")
        .select(col("doc_id"), col("byte_len").cast("int").as("byte_len"),
          col("width").cast("int").as("width"),
          col("height").cast("int").as("height"),
          col("mean_r"), col("mean_g"), col("mean_b"), col("luma"),
          col("top_luma"), col("bot_luma"), col("max_c"), col("min_c"))
    },
      // m5: closed-form BMP features. Per-row constant colors make every
      // channel sum a range() fold over the row recurrence; per-pixel
      // and per-row means are the same rational number (w cancels), and
      // IEEE division rounds by VALUE, so the oracle's S/(255·h) equals
      // the decoder's (w·S)/(255·w·h) bit-for-bit; each feature then
      // takes the decoder's double→float→double rounding path via
      // CAST(... AS REAL).
      Sql("""WITH p AS (
        |  SELECT doc_id,
        |         3 + doc_id % 5 AS w,
        |         4 + doc_id % 11 AS h,
        |         CASE doc_id % 3 WHEN 0 THEN 40 WHEN 1 THEN 108
        |           ELSE 124 END AS dib,
        |         (doc_id % 4) * 4 AS gap,
        |         doc_id % 256 AS dr,
        |         (doc_id + 85) % 256 AS dg,
        |         (doc_id + 170) % 256 AS db
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, w, h, dib, gap, dr, dg, db,
        |    list_sum(list_transform(range(h), y -> (dr + 7*y) % 256)) AS sr,
        |    list_sum(list_transform(range(h), y -> (dg + 5*y) % 256)) AS sg,
        |    list_sum(list_transform(range(h), y -> (db + 3*y) % 256)) AS sb,
        |    list_max(list_transform(range(h), y ->
        |      greatest((dr + 7*y) % 256, (dg + 5*y) % 256,
        |               (db + 3*y) % 256))) AS mx,
        |    list_min(list_transform(range(h), y ->
        |      least((dr + 7*y) % 256, (dg + 5*y) % 256,
        |            (db + 3*y) % 256))) AS mn
        |  FROM p)
        |SELECT doc_id,
        |  CAST(14 + dib + gap + ((24*w + 31) // 32) * 4 * h AS INT) AS byte_len,
        |  CAST(w AS INT) AS width,
        |  CAST(h AS INT) AS height,
        |  CAST(CAST(CAST(sr AS DOUBLE) / (255.0 * h) AS REAL) AS DOUBLE) AS mean_r,
        |  CAST(CAST(CAST(sg AS DOUBLE) / (255.0 * h) AS REAL) AS DOUBLE) AS mean_g,
        |  CAST(CAST(CAST(sb AS DOUBLE) / (255.0 * h) AS REAL) AS DOUBLE) AS mean_b,
        |  CAST(CAST(CAST(sr + sg + sb AS DOUBLE) / (765.0 * h) AS REAL) AS DOUBLE) AS luma,
        |  CAST(CAST(CAST(dr + dg + db AS DOUBLE) / 765.0 AS REAL) AS DOUBLE) AS top_luma,
        |  CAST(CAST(CAST((dr + 7*(h-1)) % 256 + (dg + 5*(h-1)) % 256
        |      + (db + 3*(h-1)) % 256 AS DOUBLE) / 765.0 AS REAL) AS DOUBLE) AS bot_luma,
        |  CAST(CAST(CAST(mx AS DOUBLE) / 255.0 AS REAL) AS DOUBLE) AS max_c,
        |  CAST(CAST(CAST(mn AS DOUBLE) / 255.0 AS REAL) AS DOUBLE) AS min_c
        |FROM s""".stripMargin))
  )
}
