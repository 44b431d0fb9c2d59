package graft.multimodal

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Q, QueryModule}

/** Registered queries for the multimodal path. The r05 verdict's gap:
  * imageHashes/imageDupPairs and the resize pipeline ran only inside
  * MultimodalSpec, so nothing TIMED them — a decode-path regression
  * (e.g. the per-row ImageIO tmpfile-cache class of bug, fixed in r4)
  * would have been invisible to the bench gate. Registering the
  * pipeline as a query puts it in Bench's per-round numbers and under
  * the SPARK_GRAFT_BENCH_BASELINE 2× gate like every other operator.
  */
object MultimodalQueries extends QueryModule {

  /** Per-group VERDICT rows for a planted-pair dedup query, one per
    * group `key` in [0, n): `found` says the group's planted pair
    * (`plantedId1`, `plantedId2` of the key column) surfaced among the
    * (id1, id2) `pairs` — recall — and n_false_pairs counts the pairs
    * `isFalse` flags, attributed to both endpoints' groups by `groupOf`
    * — precision. */
  private def plantedVerdict(
      s: SparkSession, pairs: DataFrame, n: Long, key: String, found: String)(
      plantedId1: Column => Column, plantedId2: Column => Column,
      isFalse: Column, groupOf: Column => Column): DataFrame = {
    val hits = pairs.select(col("id1"), col("id2")).localCheckpoint(true)
    val planted = s.range(n).select(
      col("id").as(key), plantedId1(col("id")).as("id1"), plantedId2(col("id")).as("id2"))
    val recall = planted
      .join(hits.withColumn("hit", lit(true)), Seq("id1", "id2"), "left")
      .select(col(key), coalesce(col("hit"), lit(false)).as(found))
    val falseCnt = hits
      .filter(isFalse)
      .select(explode(array(groupOf(col("id1")), groupOf(col("id2")))).as(key))
      .groupBy(col(key)).agg(count(lit(1)).as("cnt"))
    recall.join(falseCnt, Seq(key), "left")
      .select(col(key), col(found), coalesce(col("cnt"), lit(0L)).as("n_false_pairs"))
      .orderBy(col(key))
  }

  /** End-to-end image dedup pipeline, timed: synthesize a deterministic
    * 300-PNG corpus distributed (no driver loop), normalize via the
    * REAL decode→bilinear-resize(32)→PNG-re-encode path, then aHash +
    * 8×8-bit banded near-dup pairs (planted: ids 2k/2k+1 share a
    * pattern).
    *
    * ORACLE-VERIFIED since r13 (the q_video_meta move lifted from
    * metadata to PAIRS): DuckDB cannot decode PNGs, but the corpus is
    * a pure function of the row id with one planted near-dup pair per
    * pattern, so the decode-dependent pair list folds into per-pattern
    * VERDICT rows the oracle regenerates from `range()` arithmetic —
    * pair_found (the planted pair surfaced: recall) and n_false_pairs
    * (pairs joining different patterns: precision, attributed to both
    * endpoints). The hash compare then proves the real
    * decode→resize→re-encode→aHash→band path finds exactly the planted
    * structure — a recall loss, a false positive, or a nondeterministic
    * decode all flip a row. Exact per-pair Hamming values stay
    * spec-pinned in MultimodalSpec. The sf dir argument is deliberately
    * unused so the timed work is identical at every SF.
    */
  val imageHash = Q(
    "q_image_hash",
    (s, _) => {
      val media = Multimodal.syntheticPngCorpus(s, 300)
      val resized = Multimodal.resizeImages(media, 32).toDF()
        .select(col("media_id"), lit("image").as("kind"), col("payload"))
      plantedVerdict(s, Multimodal.imageDupPairs(resized, maxDist = 5),
        150, "pattern", "pair_found")(
        _ * 2, _ * 2 + 1,
        floor(col("id1") / 2) =!= floor(col("id2") / 2),
        id => floor(id / 2).cast("long"))
    },
    Some("""
      SELECT id AS pattern, true AS pair_found,
             CAST(0 AS BIGINT) AS n_false_pairs
      FROM range(150) t(id) ORDER BY pattern"""))

  /** End-to-end audio metadata pipeline, timed: synthesize a
    * deterministic 400-WAV corpus distributed, decode REAL headers via
    * `javax.sound.sampled` ([[Multimodal.audioMeta]]), and aggregate
    * per sample rate. Frame counts and durations are integer-exact
    * functions of the generator, so rows are stable run-over-run —
    * the audio twin of [[imageHash]], closing the same "decode path
    * never timed" gap for the second modality.
    *
    * ORACLE-VERIFIED since r12: DuckDB cannot parse WAV, but it does
    * not need to — the corpus is a pure function of the row id, so the
    * oracle regenerates the EXPECTED metadata from the same arithmetic
    * over `range(400)` (rate by id%4, frames = rate/10·(1+id%5),
    * floor-division duration). What the hash compare then proves is
    * the real encode→decode ROUND TRIP: javax.sound must read back
    * exactly the parameters the generator wrote, for every row.
    */
  val audioMetaQ = Q(
    "q_audio_meta",
    (s, _) => {
      val media = Multimodal.syntheticWavCorpus(s, 400)
      Multimodal.audioMeta(media).toDF()
        .groupBy(col("sample_rate"))
        .agg(
          count(lit(1)).as("n_clips"),
          sum(col("n_frames")).as("total_frames"),
          sum(col("duration_ms")).as("total_ms"),
          max(col("channels")).as("max_channels"))
        .orderBy(col("sample_rate"))
    },
    Some("""
      WITH g AS (
        SELECT id,
               CASE id % 4 WHEN 0 THEN 8000 WHEN 1 THEN 16000
                           WHEN 2 THEN 22050 ELSE 44100 END AS sample_rate,
               (CASE id % 4 WHEN 0 THEN 8000 WHEN 1 THEN 16000
                            WHEN 2 THEN 22050 ELSE 44100 END // 10)
                 * (1 + id % 5) AS n_frames
        FROM range(400) t(id))
      SELECT sample_rate,
             count(*) AS n_clips,
             CAST(sum(n_frames) AS BIGINT) AS total_frames,
             CAST(sum(n_frames * 1000 // sample_rate) AS BIGINT) AS total_ms,
             1 AS max_channels
      FROM g GROUP BY sample_rate ORDER BY sample_rate""")
  )

  /** End-to-end VIDEO pipeline, timed: synthesize a deterministic
    * MIXED-container 150-clip corpus distributed (75 animated GIFs +
    * 75 MJPEG streams — the two formats the JDK genuinely decodes),
    * decode every 2nd frame for real ([[Multimodal.videoFrames]]
    * dispatches per payload on the container magic), aHash each
    * sampled frame, and aggregate per video (container frame count,
    * dims, frames actually decoded, distinct frame signatures).
    * Completes the modality trio; FakeCodec's domain is now only the
    * H.264-class sample data the JDK ships no decoder for.
    *
    * ORACLE-VERIFIED since r12 (same move as q_audio_meta): the
    * corpus is a pure function of the clip id, so the oracle
    * regenerates the expected per-clip container facts — frame count
    * 2+((id%1000)/2 mod 4)·2, 64×64 dims, ceil(n/2) sampled frames —
    * from `range()` arithmetic, and the hash compare proves every
    * clip's REAL decode (GIF reader + MJPEG marker scan) read back
    * exactly what the generators wrote. The one decode-dependent
    * column (distinct aHash count) folds into a pinned sanity bound
    * (1 ≤ sigs ≤ sampled) — its exact per-format values stay
    * spec-pinned in MultimodalSpec.
    */
  val videoMetaQ = Q(
    "q_video_meta",
    (s, _) => {
      val media = Multimodal.syntheticGifCorpus(s, 75)
        .unionByName(Multimodal.syntheticMjpegCorpus(s, 75, idOffset = 1000L))
      Multimodal.videoFrames(media, everyK = 2).toDF()
        .groupBy(col("media_id"), col("n_frames"), col("width"), col("height"))
        .agg(
          count(lit(1)).as("frames_sampled"),
          countDistinct(col("ahash")).as("n_frame_sigs"))
        .select(
          col("media_id"), col("n_frames"), col("width"), col("height"),
          col("frames_sampled"),
          (col("n_frame_sigs") >= 1 &&
            col("n_frame_sigs") <= col("frames_sampled")).as("sigs_ok"))
        .orderBy(col("media_id"))
    },
    Some("""
      WITH ids AS (
        SELECT id FROM range(75) t(id)
        UNION ALL SELECT id + 1000 FROM range(75) t(id)),
      g AS (
        SELECT id AS media_id,
               2 + ((id % 1000) // 2 % 4) * 2 AS n_frames
        FROM ids)
      SELECT media_id, n_frames, 64 AS width, 64 AS height,
             CAST((n_frames + 1) // 2 AS BIGINT) AS frames_sampled,
             true AS sigs_ok
      FROM g ORDER BY media_id""")
  )

  /** Cross-format VIDEO dedup, timed: the same 60 synthetic clips
    * encoded as animated GIF and as MP4 with a Motion-JPEG track
    * (ids k and 2000+k — the MP4 leg replaced the MJPEG leg in r12,
    * exercising the pure-JVM ISO-BMFF demuxer in the production query
    * at the exact shape/cost of the old two-container corpus; MJPEG
    * stays timed in q_video_meta and spec-pinned in MultimodalSpec),
    * deduplicated at the frame-signature level
    * ([[Multimodal.videoDupPairs]]) — the banding finds each
    * cross-container twin even though palette quantization and DCT
    * loss decode to different rasters. This is the query a training-
    * data pipeline runs when the same footage arrives re-encoded.
    * ORACLE-VERIFIED since r13 (DuckDB parses neither container, but
    * the planted structure is row-id arithmetic): per-clip VERDICT
    * rows — twin_found pins that clip k's cross-container twin
    * 2000+k surfaced (recall through BOTH decoders), n_false_pairs
    * pins that no pair joins different seeds (seed = (id%2000)/2;
    * ids 2k/2k+1 share footage within a format, so same-seed
    * intra-format pairs are legitimate near-dups and deliberately
    * unpinned). MultimodalSpec keeps the exact pair-level pins for
    * all three container pairings.
    */
  val videoDupQ = Q(
    "q_video_dup",
    (s, _) => {
      val media = Multimodal.syntheticGifCorpus(s, 60)
        .unionByName(Multimodal.syntheticMp4Corpus(s, 60, idOffset = 2000L))
      plantedVerdict(s, Multimodal.videoDupPairs(media, maxDist = 5, everyK = 2),
        60, "clip", "twin_found")(
        identity, _ + 2000,
        floor((col("id1") % 2000) / 2) =!= floor((col("id2") % 2000) / 2),
        _ % 2000)
    },
    Some("""
      SELECT id AS clip, true AS twin_found,
             CAST(0 AS BIGINT) AS n_false_pairs
      FROM range(60) t(id) ORDER BY clip"""))

  /** Cross-sample-rate AUDIO dedup, timed — completes the dedup
    * column of the modality matrix (image aHash ✓, video frame-sig ✓,
    * audio was meta-only): 60 synthetic melodies rendered twice (8 kHz
    * full-gain and 16 kHz at ×0.8 gain, ids k and 1000+k), decoded
    * through the real `javax.sound.sampled` path, signed with the
    * 16-window energy envelope ([[Multimodal.audioEnvelopes]] — gain-
    * normalized and time-relative, so re-encoding cannot hide the
    * twin), and paired via 8-bit banding + nibble-L1 refine
    * ([[Multimodal.audioDupPairs]]).
    *
    * ORACLE-VERIFIED since r13 (DuckDB decodes no WAV, but the twin
    * structure is row-id arithmetic — every melody's only legitimate
    * partner is id+1000): per-melody VERDICT rows pin full planted
    * recall (twin_found) and zero false pairs, so the hash compare
    * proves the envelope signature is exactly gain/rate-invariant
    * across the real decode for all 60 melodies. Exact L1 values stay
    * spec-pinned in MultimodalSpec.
    */
  val audioDupQ = Q(
    "q_audio_dup",
    (s, _) => {
      val media = Multimodal.syntheticWavDupCorpus(s, 60)
        .unionByName(Multimodal.syntheticWavDupCorpus(s, 60, idOffset = 1000L))
      plantedVerdict(s, Multimodal.audioDupPairs(media, maxL1 = 8),
        60, "melody", "twin_found")(
        identity, _ + 1000,
        col("id2") - col("id1") =!= 1000,
        _ % 1000)
    },
    Some("""
      SELECT id AS melody, true AS twin_found,
             CAST(0 AS BIGINT) AS n_false_pairs
      FROM range(60) t(id) ORDER BY melody"""))

  override def all: Seq[Q] =
    Seq(imageHash, audioMetaQ, videoMetaQ, videoDupQ, audioDupQ)
}
