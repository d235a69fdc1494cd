package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables._
import graft.ops.HammingBands

/** Multimodal-column plumbing: media payloads travel as opaque `binary`
  * columns with typed metadata derived alongside. The decode step itself
  * is a stub (see graft.ops.Multimodal — no image/audio libs in this
  * environment); everything Spark-side — binary schema, per-row metadata
  * extraction, deterministic derived dimensions — is real and verified.
  */
object MultimodalQueries {

  def qMultimodalMeta(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .withColumn("payload", encode(col("text"), "UTF-8")) // the opaque binary column
      .select(
        col("doc_id"),
        octet_length(col("payload")).as("n_bytes"),
        md5(col("text")).as("content_hash"),
        // deterministic stand-ins for decoded media dimensions (integer
        // arithmetic only; both engines agree on div/mod over ints)
        expr("64 + octet_length(payload) % 512").as("fake_width"),
        expr("64 + (octet_length(payload) * 7) % 512").as("fake_height"),
        expr("1 + (octet_length(payload) div 10000)").as("fake_frames"))
      .orderBy(col("doc_id"))

  val qMultimodalMetaOracle: String =
    """SELECT doc_id,
      |       octet_length(encode(text)) AS n_bytes,
      |       md5(text) AS content_hash,
      |       64 + octet_length(encode(text)) % 512 AS fake_width,
      |       64 + (octet_length(encode(text)) * 7) % 512 AS fake_height,
      |       1 + (octet_length(encode(text)) // 10000) AS fake_frames
      |FROM documents ORDER BY 1""".stripMargin

  // --- frame sampling + ViT patch-grid accounting ---
  // The pre-processing plan for video/image training data: uniformly
  // sample at most 8 frames per clip (stride = ceil(frames/8) — the
  // fan-out is CAPPED per row, the property that keeps the explode
  // linear at 100 TB no matter how long the longest video is), and for
  // each sampled frame compute the 16x16 ViT patch grid from the
  // decoded dimensions. Decode is the deterministic stub (same derived
  // dims as q_multimodal_meta); the sampling/patching arithmetic — the
  // part that IS Spark's job — is integer-exact in both engines.
  def qFrameSample(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .withColumn("payload", encode(col("text"), "UTF-8"))
      .select(
        col("doc_id"),
        expr("64 + octet_length(payload) % 512").as("w"),
        expr("64 + (octet_length(payload) * 7) % 512").as("h"),
        expr("1 + (octet_length(payload) div 40)").as("frames"))
      .withColumn("stride", expr("(frames + 7) div 8"))
      .select(col("doc_id"), col("w"), col("h"), col("frames"),
        explode(expr("sequence(0, frames - 1, stride)")).as("frame_idx"))
      .select(
        col("doc_id"), col("frame_idx"),
        expr("(w + 15) div 16").as("patches_x"),
        expr("(h + 15) div 16").as("patches_y"),
        expr("((w + 15) div 16) * ((h + 15) div 16)").as("n_patches"))
      .orderBy(col("doc_id"), col("frame_idx"))

  val qFrameSampleOracle: String =
    """WITH m AS (
      |  SELECT doc_id,
      |         64 + octet_length(encode(text)) % 512 AS w,
      |         64 + (octet_length(encode(text)) * 7) % 512 AS h,
      |         1 + (octet_length(encode(text)) // 40) AS frames
      |  FROM documents),
      |s AS (
      |  SELECT doc_id, w, h,
      |         unnest(generate_series(0, frames - 1, (frames + 7) // 8)) AS frame_idx
      |  FROM m)
      |SELECT doc_id, frame_idx,
      |       (w + 15) // 16 AS patches_x,
      |       (h + 15) // 16 AS patches_y,
      |       ((w + 15) // 16) * ((h + 15) // 16) AS n_patches
      |FROM s ORDER BY doc_id, frame_idx""".stripMargin

  // --- perceptual-hash near-duplicate detection (aHash over payload) ---
  // The media-dedup path: a 64-bit average-hash signature per document —
  // split the payload's sample stream into 64 equal segments, bit s = 1
  // iff segment s's mean sample exceeds the global mean — then the
  // Hamming ≤ 3 pairs on the [[graft.ops.HammingBands]] kernel with
  // 4×16-bit bands, Manku et al. 2007's canonical k=3 configuration for
  // 64-bit fingerprints. Wider thresholds need either coarser bands (an
  // 8×8-bit variant was measured: 256-value buckets lose the bucket
  // selectivity, ~2× slower at sf0.1 and O(N²/256) at scale — reverted)
  // or Manku's multi-table permutation scheme.
  // With a real codec the sample
  // stream is decoded luma; here it is the payload's character codes
  // (the same stand-in discipline as the stub decoder — the plan,
  // banding, and Hamming verify are the real thing). Means compare in
  // half-up integer micro-units, so no double ever crosses a bit
  // decision. Docs under 64 samples are skipped (no full segment grid).
  // In-query fixture (the corpus has no duplicate payloads): every 25th
  // doc re-enters under an offset id with an IDENTICAL payload (Hamming
  // 0 by construction — the planted true positives the gate must find),
  // and every 40th with one leading sample overwritten (a same-length
  // near-variant; whether borderline bits flip is computed identically
  // by both engines).
  private[graft] val AHashBands = HammingBands(bands = 4, bits = 16, maxDistance = 3)

  def qPhashNeardup(spark: SparkSession, dir: String): DataFrame = {
    val base = documents(spark, dir)
      .filter(length(col("text")) >= 64)
      .select(col("doc_id"), col("text"))
    val twins = base.filter(col("doc_id") % 25 === 0)
      .select((col("doc_id") + 10000000L).as("doc_id"), col("text"))
    val near = base.filter(col("doc_id") % 40 === 0)
      .select((col("doc_id") + 20000000L).as("doc_id"),
        expr("concat('Z', substring(text, 2, length(text)))").as("text"))
    val d = base.unionByName(twins).unionByName(near)
    // the whole signature derives per-doc in the native AHashBandsExpr
    // (one codepoint walk; AHashExprSpec pins it to the declarative
    // explode + two-aggregation chain it replaced, which shuffled a
    // ~50M-row per-character frame twice at sf0.1); its four 16-bit
    // bands pack back into the 64-bit aHash
    val sigs = d
      .select(col("doc_id"),
        graft.functions.AHashBandsExpr.bands(col("text")).as("b"))
      .select(col("doc_id"), expr(
        "b[0] | shiftleft(b[1], 16) | shiftleft(b[2], 32) | shiftleft(b[3], 48)").as("sig"))
      .transform(graft.CacheScope.persist)
    AHashBands.pairs(sigs)
      .select(col("doc_a"), col("doc_b"), col("hamming").cast("long").as("hamming"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val qPhashNeardupOracle: String =
    """WITH base AS (
      |  SELECT doc_id, text FROM documents WHERE length(text) >= 64),
      |d AS (
      |  SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n FROM (
      |    SELECT doc_id, text FROM base
      |    UNION ALL
      |    SELECT doc_id + 10000000, text FROM base WHERE doc_id % 25 = 0
      |    UNION ALL
      |    SELECT doc_id + 20000000, 'Z' || substr(text, 2, length(text))
      |    FROM base WHERE doc_id % 40 = 0)),
      |px AS (
      |  SELECT doc_id, n, text, unnest(generate_series(1, CAST(n AS INT))) AS pos
      |  FROM d),
      |codes AS (
      |  SELECT doc_id, CAST((CAST(pos AS BIGINT) - 1) * 64 // n AS INT) AS seg,
      |         CAST(ord(substr(text, pos, 1)) AS BIGINT) AS code
      |  FROM px),
      |segmean AS (
      |  SELECT doc_id, seg,
      |         CAST((2 * 1000000 * sum(code) + count(*)) // (2 * count(*)) AS BIGINT) AS m6
      |  FROM codes GROUP BY 1, 2),
      |docmean AS (
      |  SELECT doc_id,
      |         CAST((2 * 1000000 * sum(code) + count(*)) // (2 * count(*)) AS BIGINT) AS g6
      |  FROM codes GROUP BY 1),
      |bands AS (
      |  SELECT s.doc_id, CAST(s.seg // 16 AS INT) AS band,
      |         CAST(sum(CASE WHEN s.m6 > m.g6 THEN 2 ** (s.seg % 16) ELSE 0 END) AS BIGINT) AS bv
      |  FROM segmean s JOIN docmean m USING (doc_id) GROUP BY 1, 2),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM bands a JOIN bands b
      |    ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id),
      |ham AS (
      |  SELECT c.doc_a, c.doc_b,
      |         CAST(sum(bit_count(xor(ba.bv, bb.bv))) AS BIGINT) AS hamming
      |  FROM cand c
      |  JOIN bands ba ON ba.doc_id = c.doc_a
      |  JOIN bands bb ON bb.doc_id = c.doc_b AND bb.band = ba.band
      |  GROUP BY 1, 2)
      |SELECT doc_a, doc_b, hamming FROM ham
      |WHERE hamming <= 3 ORDER BY doc_a, doc_b""".stripMargin

  // --- audio framing / spectrogram-shape accounting ---
  // The audio leg of the modality surface, parallel to q_frame_sample's
  // video leg: derive a fake-but-deterministic sample rate and PCM
  // length from the payload (the stub-decode discipline — a real codec
  // slots into the same columns), then compute the REAL
  // feature-extraction arithmetic every ASR/audio pipeline runs: 25 ms
  // windows with a 10 ms hop, frame count 1 + max(0, (samples - win)
  // div hop), and the 80-mel spectrogram cell budget. Pure integer
  // arithmetic, zero shuffles before the output sort.
  def qAudioFrames(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .withColumn("payload", encode(col("text"), "UTF-8"))
      .select(col("doc_id"),
        expr("8000 + (octet_length(payload) % 3) * 4000").as("sample_rate"),
        expr("octet_length(payload) * 4").as("n_samples"))
      .withColumn("duration_ms",
        expr("1000 * CAST(n_samples AS BIGINT) div sample_rate"))
      .withColumn("win", expr("sample_rate * 25 div 1000"))
      .withColumn("hop", expr("sample_rate * 10 div 1000"))
      .withColumn("n_frames",
        expr("1 + greatest(0, (n_samples - win) div hop)"))
      .select(col("doc_id"), col("sample_rate"), col("n_samples"),
        col("duration_ms"), col("n_frames"),
        (col("n_frames") * 80).as("spec_cells"))
      .orderBy(col("doc_id"))

  val qAudioFramesOracle: String =
    """WITH m AS (
      |  SELECT doc_id,
      |         8000 + (octet_length(encode(text)) % 3) * 4000 AS sample_rate,
      |         octet_length(encode(text)) * 4 AS n_samples
      |  FROM documents),
      |f AS (
      |  SELECT doc_id, sample_rate, n_samples,
      |         1000 * CAST(n_samples AS BIGINT) // sample_rate AS duration_ms,
      |         sample_rate * 25 // 1000 AS win,
      |         sample_rate * 10 // 1000 AS hop
      |  FROM m)
      |SELECT doc_id, sample_rate, n_samples, duration_ms,
      |       CAST(1 + greatest(0, (n_samples - win) // hop) AS BIGINT) AS n_frames,
      |       CAST((1 + greatest(0, (n_samples - win) // hop)) * 80 AS BIGINT) AS spec_cells
      |FROM f ORDER BY doc_id""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_audio_frames" -> (qAudioFrames _),
    "q_phash_neardup" -> (qPhashNeardup _),
    "q_multimodal_meta" -> (qMultimodalMeta _),
    "q_frame_sample" -> (qFrameSample _))

  def oracles: Map[String, String] = Map(
    "q_audio_frames" -> qAudioFramesOracle,
    "q_phash_neardup" -> qPhashNeardupOracle,
    "q_multimodal_meta" -> qMultimodalMetaOracle,
    "q_frame_sample" -> qFrameSampleOracle)
}
