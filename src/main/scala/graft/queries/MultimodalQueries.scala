package graft.queries

import org.apache.spark.sql.functions._

import graft.ops.Multimodal
import graft.ops.Similarity
import graft.tables.Tables

/** Multimodal pack — binary payload columns with REAL codec paths
  * (ImageIO PNG/JPEG, AudioSystem PCM, AVI demux+DIB) alongside the
  * deterministic stub plumbing of mm01–mm04. */
object MultimodalQueries {

  val queries: Seq[Q] = Seq(
    Q(
      "mm01_binary_features",
      (s, dir) => {
        val media = Multimodal.packAsMedia(Tables(s, dir).documents, "doc_id", "text")
        Multimodal.extractFeatures(media)
          .toDF()
          .select(
            col("media_id"), col("kind"), col("n_bytes"),
            fround(Similarity.norm(col("feature")), 6).as("feature_norm"))
          .orderBy("media_id")
      },
      // The stub decoder is deterministic byte math, so even it is
      // oracle-checkable: the corpus is ASCII, so UTF-8 payload bytes
      // == codepoints and DuckDB reproduces the 8-bin histogram
      // features (same left-to-right summation order) exactly.
      Some("""WITH codes AS (SELECT doc_id,
             |    list_transform(range(1, length(text) + 1), i -> ascii(substr(text, i, 1))) AS cs,
             |    CAST(octet_length(encode(text)) AS INT) AS n_bytes,
             |    greatest(length(text), 1) AS n
             |  FROM documents),
             |f AS (SELECT doc_id, n_bytes,
             |    list_transform(range(8), j ->
             |      coalesce(list_sum(list_transform(list_filter(cs, c -> c % 8 = j),
             |        c -> c / 255.0)), 0.0) / n) AS feats
             |  FROM codes)
             |SELECT doc_id AS media_id,
             |  CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS kind,
             |  n_bytes,
             |  floor(sqrt(list_sum(list_transform(feats, x -> x * x))) * 1000000.0 + 0.5)
             |    / 1000000.0 AS feature_norm
             |FROM f ORDER BY media_id""".stripMargin)),

    Q(
      "mm03_arrow_features",
      (s, dir) => {
        // the Arrow-batched decode path (columnar batches, off-heap
        // vectors) — same stub decoder, same features as mm01, so the
        // oracle reproduces it identically on the ASCII corpus
        val media = Multimodal.packAsMedia(
          Tables(s, dir).documents.filter(col("doc_id") < 300), "doc_id", "text")
        Multimodal.extractFeaturesArrow(media)
          .toDF()
          .select(
            col("media_id"), col("kind"), col("n_bytes"),
            fround(Similarity.norm(col("feature")), 6).as("feature_norm"))
          .orderBy("media_id")
      },
      Some("""WITH codes AS (SELECT doc_id,
             |    list_transform(range(1, length(text) + 1), i -> ascii(substr(text, i, 1))) AS cs,
             |    CAST(octet_length(encode(text)) AS INT) AS n_bytes,
             |    greatest(length(text), 1) AS n
             |  FROM documents WHERE doc_id < 300),
             |f AS (SELECT doc_id, n_bytes,
             |    list_transform(range(8), j ->
             |      coalesce(list_sum(list_transform(list_filter(cs, c -> c % 8 = j),
             |        c -> c / 255.0)), 0.0) / n) AS feats
             |  FROM codes)
             |SELECT doc_id AS media_id,
             |  CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS kind,
             |  n_bytes,
             |  floor(sqrt(list_sum(list_transform(feats, x -> x * x))) * 1000000.0 + 0.5)
             |    / 1000000.0 AS feature_norm
             |FROM f ORDER BY media_id""".stripMargin)),

    Q(
      "mm04_resize",
      (s, dir) => {
        // metadata-driven resize (decode → scale → re-encode stage):
        // per-row stride k = integer area ratio from the width/height
        // METADATA columns; the stubbed byte subsample is deterministic,
        // so DuckDB replays sizes and intensities exactly on ASCII
        val media = Multimodal.packAsMedia(
          Tables(s, dir).documents.filter(col("doc_id") < 300), "doc_id", "text")
        Multimodal.resize(media)
          .toDF()
          .select(col("media_id"), col("kind"), col("width"), col("height"),
            col("n_bytes_out"), fround(col("mean_intensity"), 6).as("mean_intensity"))
          .orderBy("media_id")
      },
      Some("""WITH m AS (SELECT doc_id AS media_id,
             |    CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS kind,
             |    CAST(doc_id % 4 * 160 + 320 AS INT) AS width,
             |    CAST(doc_id % 3 * 120 + 240 AS INT) AS height,
             |    text
             |  FROM documents WHERE doc_id < 300),
             |k AS (SELECT media_id, kind, width, height, text,
             |    greatest(1, CAST(width AS BIGINT) * height // (160 * 120)) AS stride
             |  FROM m),
             |kept AS (SELECT media_id, kind, width, height,
             |    list_transform(range(1, length(text) + 1, CAST(stride AS BIGINT)),
             |      i -> ascii(substr(text, CAST(i AS INT), 1)) / 255.0) AS vals
             |  FROM k)
             |SELECT media_id, kind, width, height,
             |  CAST(len(vals) AS INT) AS n_bytes_out,
             |  floor(list_sum(vals) / len(vals) * 1e6 + 0.5) / 1e6 AS mean_intensity
             |FROM kept ORDER BY media_id""".stripMargin)),

    Q(
      "mm05_image_decode",
      (s, dir) => {
        // REAL codec round trip: deterministic RGB pixels → genuine PNG
        // bytes (ImageIO encode) → ImageIO.read decode → exact integer
        // per-channel pixel sums. PNG is lossless, so the oracle
        // recomputes every pixel from the same integer formula without
        // ever touching a codec.
        val ids = Tables(s, dir).documents
          .filter(col("doc_id") < 300).select(col("doc_id"))
        val pngs = Multimodal.synthesizePngs(ids, "doc_id")
        Multimodal.decodeImages(pngs).toDF().orderBy("media_id")
      },
      Some("""WITH imgs AS (SELECT doc_id AS media_id,
             |    CAST(8 + (doc_id % 3) * 4 AS INT) AS width,
             |    CAST(8 + (doc_id % 2) * 4 AS INT) AS height
             |  FROM documents WHERE doc_id < 300)
             |SELECT media_id, width, height,
             |  CAST(list_sum(flatten(list_transform(range(height), y ->
             |    list_transform(range(width), x ->
             |      (media_id * 31 + x * 7 + y * 13) % 256)))) AS BIGINT) AS sum_r,
             |  CAST(list_sum(flatten(list_transform(range(height), y ->
             |    list_transform(range(width), x ->
             |      (media_id * 17 + x * 11 + y * 3) % 256)))) AS BIGINT) AS sum_g,
             |  CAST(list_sum(flatten(list_transform(range(height), y ->
             |    list_transform(range(width), x ->
             |      (media_id * 7 + x * 5 + y * 19) % 256)))) AS BIGINT) AS sum_b
             |FROM imgs ORDER BY media_id""".stripMargin)),

    Q(
      "mm06_audio_decode",
      (s, dir) => {
        // REAL audio codec round trip (mm05's image pattern): a
        // deterministic 16-bit sample stream → genuine RIFF/WAVE bytes
        // (AudioSystem encode) → AudioSystem decode → recovered format
        // + exact integer sample sums. PCM is lossless, so the oracle
        // recomputes every sample from the integer formula codec-free.
        val ids = Tables(s, dir).documents
          .filter(col("doc_id") < 300).select(col("doc_id"))
        val wavs = Multimodal.synthesizeWavs(ids, "doc_id")
        Multimodal.decodeWavs(wavs).toDF().orderBy("media_id")
      },
      Some("""WITH clips AS (SELECT doc_id AS media_id,
             |    CAST(8000 + (doc_id % 3) * 4000 AS INT) AS sample_rate,
             |    400 + (doc_id % 5) * 100 AS n
             |  FROM documents WHERE doc_id < 300),
             |samples AS (SELECT media_id, sample_rate, n,
             |    (media_id * 31 + i * 17) % 2001 - 1000 AS s
             |  FROM (SELECT media_id, sample_rate, n, unnest(range(n)) AS i FROM clips))
             |SELECT media_id, sample_rate, CAST(n AS BIGINT) AS n_samples,
             |  CAST(sum(s) AS BIGINT) AS sum_s,
             |  CAST(sum(abs(s)) AS BIGINT) AS sum_abs,
             |  CAST(max(abs(s)) AS INT) AS max_abs
             |FROM samples GROUP BY media_id, sample_rate, n
             |ORDER BY media_id""".stripMargin)),

    Q(
      "mm07_video_decode",
      (s, dir) => {
        // REAL video round trip (mm05/mm06's pattern): deterministic
        // per-frame RGB pixels → genuine RIFF/AVI containers with
        // uncompressed BI_RGB DIB frames → RIFF demux + per-frame
        // decode → exact per-channel pixel sums over all frames.
        // BI_RGB is lossless and codec-free, so the oracle recomputes
        // every pixel of every frame from the same integer formulas.
        // Widths 7/11/15 force real DIB stride padding — a decoder
        // that ignores the stride fails the hash.
        val ids = Tables(s, dir).documents
          .filter(col("doc_id") < 300).select(col("doc_id"))
        val avis = Multimodal.synthesizeAvis(ids, "doc_id")
        Multimodal.decodeAvis(avis).toDF().orderBy("media_id")
      },
      Some("""WITH vids AS (SELECT doc_id AS media_id,
             |    CAST(7 + (doc_id % 3) * 4 AS INT) AS width,
             |    CAST(6 + (doc_id % 2) * 4 AS INT) AS height,
             |    CAST(2 + (doc_id % 3) AS INT) AS n_frames
             |  FROM documents WHERE doc_id < 300),
             |pf AS (SELECT media_id, width, height, n_frames,
             |    unnest(range(n_frames)) AS f FROM vids)
             |SELECT media_id, width, height, n_frames,
             |  CAST(sum(list_sum(flatten(list_transform(range(height), y ->
             |    list_transform(range(width), x ->
             |      (media_id * 31 + f * 23 + x * 7 + y * 13) % 256))))) AS BIGINT) AS sum_r,
             |  CAST(sum(list_sum(flatten(list_transform(range(height), y ->
             |    list_transform(range(width), x ->
             |      (media_id * 17 + f * 29 + x * 11 + y * 3) % 256))))) AS BIGINT) AS sum_g,
             |  CAST(sum(list_sum(flatten(list_transform(range(height), y ->
             |    list_transform(range(width), x ->
             |      (media_id * 7 + f * 37 + x * 5 + y * 19) % 256))))) AS BIGINT) AS sum_b
             |FROM pf GROUP BY media_id, width, height, n_frames
             |ORDER BY media_id""".stripMargin)),

    Q(
      "mm02_frame_sample",
      (s, dir) => {
        // 64-byte frames, every 2nd kept, batched stub decode; the
        // ASCII corpus lets DuckDB recompute per-frame byte means.
        val media = Multimodal.packAsMedia(
          Tables(s, dir).documents.filter(col("doc_id") < 200), "doc_id", "text")
        Multimodal.sampleFrames(media)
          .toDF()
          .select(col("media_id"), col("frame_idx"), col("n_bytes"),
            fround(col("mean_intensity"), 6).as("mean_intensity"))
          .orderBy("media_id", "frame_idx")
      },
      Some("""WITH fidx AS (
             |  SELECT doc_id AS media_id, text,
             |    CAST(unnest(range(0, CAST(ceil(length(text) / 64.0) AS BIGINT), 2)) AS INT) AS frame_idx
             |  FROM documents WHERE doc_id < 200),
             |frames AS (
             |  SELECT media_id, frame_idx,
             |    substr(text, frame_idx * 64 + 1, 64) AS frame
             |  FROM fidx)
             |SELECT media_id, frame_idx, CAST(length(frame) AS INT) AS n_bytes,
             |  floor(list_sum(list_transform(range(1, length(frame) + 1),
             |      i -> ascii(substr(frame, i, 1)) / 255.0)) / length(frame) * 1e6 + 0.5)
             |    / 1e6 AS mean_intensity
             |FROM frames ORDER BY media_id, frame_idx""".stripMargin)),

    Q(
      "mm08_image_resize",
      (s, dir) => {
        // REAL decode + resize: genuine PNGs decode through ImageIO and
        // downsample 2× with an integer-floor box filter — every output
        // pixel is the floor-mean of its 2×2 block, so the WHOLE resize
        // is integer arithmetic and the oracle replays it pixel by
        // pixel (mm04 exercised metadata-driven strides over fake
        // bytes; this is the same stage over real decoded pixels).
        val ids = Tables(s, dir).documents
          .filter(col("doc_id") < 300).select(col("doc_id"))
        val pngs = Multimodal.synthesizePngs(ids, "doc_id")
        Multimodal.downsampleImages(pngs, factor = 2).toDF()
          .orderBy("media_id")
      },
      Some {
        // Σ over output blocks of floor((p00+p01+p10+p11)/4) for each
        // channel's pixel formula (mm05's coefficient triples)
        def ch(a: Int, bx: Int, by: Int): String = {
          def p(dx: Int, dy: Int) =
            s"(media_id * $a + (2 * X + $dx) * $bx + (2 * Y + $dy) * $by) % 256"
          s"""CAST(list_sum(flatten(list_transform(range(height // 2), Y ->
             |    list_transform(range(width // 2), X ->
             |      (${p(0, 0)} + ${p(1, 0)} + ${p(0, 1)} + ${p(1, 1)}) // 4)))) AS BIGINT)"""
            .stripMargin
        }
        s"""WITH imgs AS (SELECT doc_id AS media_id,
           |    CAST(8 + (doc_id % 3) * 4 AS INT) AS width,
           |    CAST(8 + (doc_id % 2) * 4 AS INT) AS height
           |  FROM documents WHERE doc_id < 300)
           |SELECT media_id,
           |  CAST(width // 2 AS INT) AS width, CAST(height // 2 AS INT) AS height,
           |  ${ch(31, 7, 13)} AS sum_r,
           |  ${ch(17, 11, 3)} AS sum_g,
           |  ${ch(7, 5, 19)} AS sum_b
           |FROM imgs ORDER BY media_id""".stripMargin
      }),

    Q(
      "mm09_scene_cuts",
      (s, dir) => {
        // Temporal video analysis over the REAL decode path: demux +
        // per-frame DIB decode at frame grain (decodeAviFrames), then
        // scene-cut detection — a cut is a frame whose total pixel
        // mass jumps more than T from its predecessor. The lag window
        // partitions by media_id (2–4 frames per video, bounded state)
        // and all arithmetic is exact integers, so the oracle replays
        // every frame sum and the same lag. T = 2500 sits at the
        // median of the synthetic corpus's inter-frame deltas.
        val ids = Tables(s, dir).documents
          .filter(col("doc_id") < 300).select(col("doc_id"))
        val avis = Multimodal.synthesizeAvis(ids, "doc_id")
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("media_id").orderBy("frame")
        Multimodal.decodeAviFrames(avis).toDF()
          .select(col("media_id"), col("frame"),
            (col("sum_r") + col("sum_g") + col("sum_b")).as("s"))
          .withColumn("delta", abs(col("s") - lag(col("s"), 1).over(w)))
          .filter(col("delta") > 2500)
          .select(col("media_id"), col("frame"), col("delta"))
          .orderBy("media_id", "frame")
      },
      Some("""WITH vids AS (SELECT doc_id AS media_id,
             |    CAST(7 + (doc_id % 3) * 4 AS INT) AS width,
             |    CAST(6 + (doc_id % 2) * 4 AS INT) AS height,
             |    CAST(2 + (doc_id % 3) AS INT) AS n_frames
             |  FROM documents WHERE doc_id < 300),
             |pf AS (SELECT media_id, width, height, n_frames,
             |    unnest(range(n_frames)) AS f FROM vids),
             |fs AS (SELECT media_id, CAST(f AS INT) AS frame,
             |    CAST(list_sum(flatten(list_transform(range(height), y ->
             |      list_transform(range(width), x ->
             |          (media_id * 31 + f * 23 + x * 7 + y * 13) % 256
             |        + (media_id * 17 + f * 29 + x * 11 + y * 3) % 256
             |        + (media_id * 7 + f * 37 + x * 5 + y * 19) % 256))))
             |      AS BIGINT) AS s
             |  FROM pf),
             |d AS (SELECT media_id, frame,
             |    abs(s - lag(s) OVER (PARTITION BY media_id ORDER BY frame)) AS delta
             |  FROM fs)
             |SELECT media_id, frame, delta FROM d
             |WHERE delta > 2500 ORDER BY media_id, frame""".stripMargin)),

    Q(
      "mm10_audio_energy",
      (s, dir) => {
        // Temporal audio analysis over the REAL decode path: the
        // AudioSystem/PCM16 decoder at fixed-window grain — one exact
        // integer sum-of-squares row per 200-sample window (trailing
        // partial window keeps its true count), RMS quantized at 4dp.
        // The energy envelope primitive under silence detection and
        // loudness normalization; PCM is lossless so the oracle
        // replays every sample, square, and window boundary.
        val ids = Tables(s, dir).documents
          .filter(col("doc_id") < 300).select(col("doc_id"))
        val wavs = Multimodal.synthesizeWavs(ids, "doc_id")
        Multimodal.decodeWavWindows(wavs, windowSamples = 200).toDF()
          .select(col("media_id"), col("win"), col("n_samples"), col("sum_sq"),
            fround(sqrt(col("sum_sq").cast("double") / col("n_samples")), 4).as("rms"))
          .orderBy("media_id", "win")
      },
      Some("""WITH clips AS (SELECT doc_id AS media_id,
             |    CAST(400 + (doc_id % 5) * 100 AS INT) AS n
             |  FROM documents WHERE doc_id < 300),
             |sm AS (SELECT media_id, unnest(range(n)) AS i FROM clips),
             |v AS (SELECT media_id, CAST(i // 200 AS INT) AS win,
             |    ((media_id * 31 + i * 17) % 2001) - 1000 AS val
             |  FROM sm)
             |SELECT media_id, win, CAST(count(*) AS INT) AS n_samples,
             |  CAST(sum(val * val) AS BIGINT) AS sum_sq,
             |  floor(sqrt(sum(val * val) * 1.0 / count(*)) * 10000.0 + 0.5)
             |    / 10000.0 AS rms
             |FROM v GROUP BY 1, 2 ORDER BY media_id, win""".stripMargin)),

    Q(
      "mm12_audio_resample",
      (s, dir) => {
        // Decimation RESAMPLING over the real decode path (the
        // 48k→16k ASR-ingest normalization): every k-th PCM16 sample
        // where k = src_rate / 4000 — a DATA-DRIVEN stride, since the
        // synthetic corpus mixes 8/12/16 kHz clips, so one pass
        // exercises k = 2, 3 and 4. Pure integer selection, no filter
        // math — the decimated stream's exact sums replay codec-free
        // (the oracle keeps sample i iff i % k = 0 in the generator
        // formula). n_out = ceil(n/k) per clip; a decoder that
        // miscounts the stride or drops the trailing partial stride
        // fails the hash.
        val ids = Tables(s, dir).documents
          .filter(col("doc_id") < 300).select(col("doc_id"))
        val wavs = Multimodal.synthesizeWavs(ids, "doc_id")
        Multimodal.decimateWavs(wavs, targetRate = 4000).toDF()
          .orderBy("media_id")
      },
      Some("""WITH clips AS (SELECT doc_id AS media_id,
             |    CAST(8000 + (doc_id % 3) * 4000 AS INT) AS sample_rate,
             |    400 + (doc_id % 5) * 100 AS n
             |  FROM documents WHERE doc_id < 300),
             |kept AS (SELECT media_id, sample_rate,
             |    (media_id * 31 + i * 17) % 2001 - 1000 AS s
             |  FROM (SELECT media_id, sample_rate, n,
             |          CAST(sample_rate // 4000 AS BIGINT) AS k,
             |          unnest(range(n)) AS i
             |        FROM clips)
             |  WHERE i % k = 0)
             |SELECT media_id, sample_rate AS src_rate,
             |  CAST(4000 AS INT) AS dst_rate,
             |  CAST(count(*) AS BIGINT) AS n_out,
             |  CAST(sum(s) AS BIGINT) AS sum_s,
             |  CAST(sum(abs(s)) AS BIGINT) AS sum_abs,
             |  CAST(max(abs(s)) AS INT) AS max_abs
             |FROM kept GROUP BY media_id, sample_rate
             |ORDER BY media_id""".stripMargin)),

    Q(
      "mm11_phash_dedup",
      (s, dir) => {
        // IMAGE near-dup detection over the REAL decode path — the
        // multimodal leg of the dedup family (d03 shingles text, a02
        // buckets vectors; this fingerprints PIXELS): the perceptual
        // average-hash (4×4 block-mean bits of the decoded gray image)
        // buckets content, tolerating the brightness shifts and
        // re-encodes that break d01's byte fingerprint. The corpus
        // plants copies of every 5th image under fresh ids with a +1
        // saturating red shift — 27 of 30 survive the hash unchanged
        // (the 3 misses sit on block-mean boundaries: perceptual
        // recall, not identity). Candidates = equal-hash pairs via
        // one hash-keyed self-join — LSH-bucket shape, shuffling
        // (hash, id) only; a viral bucket caps by d03's star rule at
        // scale. Both engines replay every bit, so even near-miss
        // collisions among the gradient corpus agree exactly.
        import graft.ops.Multimodal
        val base = Tables(s, dir).documents.filter(col("doc_id") < 150)
          .select(col("doc_id").as("media_id"), col("doc_id").as("seed"),
            lit(0).as("jit"))
        val copies = Tables(s, dir).documents
          .filter(col("doc_id") < 150 && col("doc_id") % 5 === 0)
          .select((col("doc_id") + 10000).as("media_id"),
            col("doc_id").as("seed"), lit(1).as("jit"))
        val imgs = Multimodal.synthesizePngsSeeded(
          base.unionByName(copies), "media_id", "seed", "jit")
        val hashes = Multimodal.imageAHash(imgs).toDF()
        hashes.as("a").join(hashes.as("b"),
            col("a.ahash") === col("b.ahash") &&
              col("a.media_id") < col("b.media_id"))
          .select(col("a.media_id").as("id_a"), col("b.media_id").as("id_b"),
            col("a.ahash").as("ahash"))
          .orderBy("id_a", "id_b")
      },
      // replay: gray = (r+g+b)//3 from the pixel formulas (+ saturating
      // red jitter), 16 block means, mean-of-means threshold, bit per
      // block — PNG is lossless so the engine's decoded bits must equal
      // this arithmetic exactly
      Some("""WITH imgs AS (
             |  SELECT doc_id AS media_id, doc_id AS seed, 0 AS j
             |  FROM documents WHERE doc_id < 150
             |  UNION ALL
             |  SELECT doc_id + 10000, doc_id, 1
             |  FROM documents WHERE doc_id < 150 AND doc_id % 5 = 0),
             |hs AS (SELECT media_id, seed, j,
             |    CAST(8 + (seed % 3) * 4 AS BIGINT) AS w,
             |    CAST(8 + (seed % 2) * 4 AS BIGINT) AS h
             |  FROM imgs),
             |ms AS (SELECT media_id,
             |    list_transform(range(16), bi ->
             |      list_sum(flatten(list_transform(range(h // 4), dy ->
             |        list_transform(range(w // 4), dx ->
             |          (least(255, (seed * 31 + ((bi % 4) * (w // 4) + dx) * 7
             |                       + ((bi // 4) * (h // 4) + dy) * 13) % 256 + j)
             |           + (seed * 17 + ((bi % 4) * (w // 4) + dx) * 11
             |              + ((bi // 4) * (h // 4) + dy) * 3) % 256
             |           + (seed * 7 + ((bi % 4) * (w // 4) + dx) * 5
             |              + ((bi // 4) * (h // 4) + dy) * 19) % 256) // 3))))
             |      // ((w // 4) * (h // 4))) AS m
             |  FROM hs),
             |ah AS (SELECT media_id,
             |    CAST(list_sum(list_transform(range(16), i ->
             |      CASE WHEN m[CAST(i AS INT) + 1] >= list_sum(m) // 16
             |           THEN CAST(pow(2, i) AS BIGINT) ELSE 0 END)) AS BIGINT) AS ahash
             |  FROM ms)
             |SELECT a.media_id AS id_a, b.media_id AS id_b, a.ahash
             |FROM ah a JOIN ah b
             |  ON a.ahash = b.ahash AND a.media_id < b.media_id
             |ORDER BY id_a, id_b""".stripMargin)),

    Q(
      "st15_stream_image_dedup",
      (s, dir) => {
        // STREAMING image dedup at ingest — mm11's perceptual hash as
        // a first-seen stream (`MediaStream.firstSeenImages`): blobs
        // decode + average-hash row-locally (stateless; the blob never
        // enters the state store), and `dropDuplicatesWithinWatermark`
        // keyed on the hash keeps one row per DISTINCT content. The
        // corpus is mm11's: 150 base images plus 30 brightness-shifted
        // copies under ids+10000, fed id-ordered (ts = epoch +
        // media_id seconds, so arrival = event time) in two
        // micro-batches split at the median id — every copy arrives in
        // batch 2 while most bases arrive in batch 1, so the copies
        // drop ONLY if per-hash state survived the batch boundary.
        // Survivors = first arrival per hash = min media_id per hash,
        // which the oracle replays from mm11's arithmetic. collect()
        // is the MemoryStream feeding harness; production uses
        // readStream on the crawl frontier.
        import graft.ops.Multimodal
        import graft.streaming.MediaStream
        implicit val sqlCtx = s.sqlContext
        implicit val arrEnc = org.apache.spark.sql.Encoders.product[MediaStream.MediaArrival]
        val base = Tables(s, dir).documents.filter(col("doc_id") < 150)
          .select(col("doc_id").as("media_id"), col("doc_id").as("seed"),
            lit(0).as("jit"))
        val copies = Tables(s, dir).documents
          .filter(col("doc_id") < 150 && col("doc_id") % 5 === 0)
          .select((col("doc_id") + 10000).as("media_id"),
            col("doc_id").as("seed"), lit(1).as("jit"))
        val rows = Multimodal.synthesizePngsSeeded(
            base.unionByName(copies), "media_id", "seed", "jit")
          .collect().sortBy(_.media_id)
          .map(r => MediaStream.MediaArrival(r.media_id,
            new java.sql.Timestamp(1700000000000L + r.media_id * 1000L), r.img))
        val stream = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[MediaStream.MediaArrival]
        val chunk = math.max(1, (rows.length + 1) / 2)
        StreamReplay(s,
            MediaStream.firstSeenImages(stream.toDS(), watermark = "24 hours"),
            "st15_survivors")(
          rows.grouped(chunk).map(b => () => stream.addData(b.toSeq)))
          .orderBy("media_id")
      },
      // mm11's ahash replay; first-seen on an id-ordered feed = the
      // minimum media_id per hash value
      Some("""WITH imgs AS (
             |  SELECT doc_id AS media_id, doc_id AS seed, 0 AS j
             |  FROM documents WHERE doc_id < 150
             |  UNION ALL
             |  SELECT doc_id + 10000, doc_id, 1
             |  FROM documents WHERE doc_id < 150 AND doc_id % 5 = 0),
             |hs AS (SELECT media_id, seed, j,
             |    CAST(8 + (seed % 3) * 4 AS BIGINT) AS w,
             |    CAST(8 + (seed % 2) * 4 AS BIGINT) AS h
             |  FROM imgs),
             |ms AS (SELECT media_id,
             |    list_transform(range(16), bi ->
             |      list_sum(flatten(list_transform(range(h // 4), dy ->
             |        list_transform(range(w // 4), dx ->
             |          (least(255, (seed * 31 + ((bi % 4) * (w // 4) + dx) * 7
             |                       + ((bi // 4) * (h // 4) + dy) * 13) % 256 + j)
             |           + (seed * 17 + ((bi % 4) * (w // 4) + dx) * 11
             |              + ((bi // 4) * (h // 4) + dy) * 3) % 256
             |           + (seed * 7 + ((bi % 4) * (w // 4) + dx) * 5
             |              + ((bi // 4) * (h // 4) + dy) * 19) % 256) // 3))))
             |      // ((w // 4) * (h // 4))) AS m
             |  FROM hs),
             |ah AS (SELECT media_id,
             |    CAST(list_sum(list_transform(range(16), i ->
             |      CASE WHEN m[CAST(i AS INT) + 1] >= list_sum(m) // 16
             |           THEN CAST(pow(2, i) AS BIGINT) ELSE 0 END)) AS BIGINT) AS ahash
             |  FROM ms)
             |SELECT media_id, ahash FROM (
             |  SELECT media_id, ahash,
             |    row_number() OVER (PARTITION BY ahash ORDER BY media_id) AS rn
             |  FROM ah)
             |WHERE rn = 1 ORDER BY media_id""".stripMargin)),

    Q(
      "mm13_video_neardup",
      (s, dir) => {
        // VIDEO near-dup detection over the REAL decode path — mm11's
        // perceptual recipe lifted to video grain (the re-upload
        // problem: same content, fresh container bytes): each decoded
        // frame fingerprints to its 4×4-block average-hash
        // (decodeAviFrames' ahash), a video's signature is its
        // DISTINCT frame-hash SET, and near-dups are pairs whose
        // signatures overlap at ≥ 50% containment of the smaller side
        // (d10's containment semantics on perceptual keys). The
        // corpus plants re-uploads of every 5th video under fresh ids
        // with a +1 saturating red shift — byte-identity breaks, the
        // perceptual signature survives. Scale shape: the join keys
        // on (frame hash) — the LSH-bucket shape, shuffling
        // (hash, id) pairs only, never frames; signature sets are
        // |frames|-bounded; a viral hash caps by d03's star rule.
        // Integer end to end, so both engines replay every bit
        // including the true-collision pairs among the gradient
        // corpus.
        import graft.ops.Multimodal
        val base = Tables(s, dir).documents.filter(col("doc_id") < 150)
          .select(col("doc_id").as("media_id"), col("doc_id").as("seed"),
            lit(0).as("jit"))
        val copies = Tables(s, dir).documents
          .filter(col("doc_id") < 150 && col("doc_id") % 5 === 0)
          .select((col("doc_id") + 10000).as("media_id"),
            col("doc_id").as("seed"), lit(1).as("jit"))
        val avis = Multimodal.synthesizeAvisSeeded(
          base.unionByName(copies), "media_id", "seed", "jit")
        val fh = Multimodal.decodeAviFrames(avis).toDF()
          .select(col("media_id"), col("ahash")).distinct()
        val sz = fh.groupBy("media_id").agg(count(lit(1)).as("n"))
        val shared = fh.as("a").join(fh.as("b"),
            col("a.ahash") === col("b.ahash") &&
              col("a.media_id") < col("b.media_id"))
          .select(col("a.media_id").as("id_a"), col("b.media_id").as("id_b"))
          .groupBy("id_a", "id_b").agg(count(lit(1)).as("shared"))
        shared
          .join(sz.select(col("media_id").as("id_a"), col("n").as("na")), "id_a")
          .join(sz.select(col("media_id").as("id_b"), col("n").as("nb")), "id_b")
          .select(col("id_a"), col("id_b"), col("shared"),
            expr("shared * CAST(1000000 AS BIGINT) div least(na, nb)")
              .as("containment_ppm"))
          .filter(col("containment_ppm") >= 500000)
          .orderBy("id_a", "id_b")
      },
      // replay: per-frame gray block means from the frameRgb formulas
      // (+ saturating red jitter on copies), the imageAHash bit rule,
      // then the distinct-signature containment join
      Some(s"""WITH $videoHashCtes,
             |sz AS (SELECT media_id, count(*) AS n FROM fh GROUP BY media_id),
             |sh AS (SELECT a.media_id AS id_a, b.media_id AS id_b,
             |       count(*) AS shared
             |  FROM fh a JOIN fh b
             |    ON a.ahash = b.ahash AND a.media_id < b.media_id
             |  GROUP BY 1, 2)
             |SELECT sh.id_a, sh.id_b, CAST(sh.shared AS BIGINT) AS shared,
             |  CAST(sh.shared * 1000000 // least(na.n, nb.n) AS BIGINT)
             |    AS containment_ppm
             |FROM sh JOIN sz na ON na.media_id = sh.id_a
             |        JOIN sz nb ON nb.media_id = sh.id_b
             |WHERE sh.shared * 1000000 // least(na.n, nb.n) >= 500000
             |ORDER BY id_a, id_b""".stripMargin)),

    Q(
      "mm14_audio_neardup",
      (s, dir) => {
        // AUDIO near-dup detection over the REAL decode path —
        // completing the perceptual-dedup modality matrix (image mm11,
        // video mm13, audio here): Multimodal.audioNearDup runs the
        // Haitsma-Kalker energy-delta-sign fingerprint (one bit per
        // 25-sample window: does the next window carry more energy?)
        // over AudioSystem-decoded PCM16, then a banded Hamming-LSH
        // candidate join (lossless for budget < bands by pigeonhole)
        // and a bit_count(xor) verify. The corpus plants re-encoded
        // copies of every 5th clip under fresh ids with a saturating
        // ±1 sample perturbation — byte identity breaks, the energy
        // CONTOUR survives. Bases stay within one phase period of the
        // synthetic generator (doc_id < 60) so the planted pairs are
        // the only contour twins; the fingerprint itself would
        // (correctly) also match the generator's amplitude-offset
        // twins at id+65. Integer end to end — the oracle regenerates
        // every sample from the (seed, i) formula, refolds window
        // energies, delta bits, and the Hamming verify bit-for-bit;
        // it replays the VERIFY tier directly (the band tier is
        // provably lossless, spec'd against brute force).
        import graft.ops.Multimodal
        val base = Tables(s, dir).documents.filter(col("doc_id") < 60)
          .select(col("doc_id").as("media_id"), col("doc_id").as("seed"),
            lit(0).as("jit"))
        val copies = Tables(s, dir).documents
          .filter(col("doc_id") < 60 && col("doc_id") % 5 === 0)
          .select((col("doc_id") + 10000).as("media_id"),
            col("doc_id").as("seed"), lit(1).as("jit"))
        val wavs = Multimodal.synthesizeWavsSeeded(
          base.unionByName(copies), "media_id", "seed", "jit")
        Multimodal.audioNearDup(wavs, windowSamples = 25,
            bands = 4, hamDenom = 10)
          .orderBy("id_a", "id_b")
      },
      Some("""WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 60),
             |u AS (SELECT doc_id AS media_id, doc_id AS seed, 0 AS jit FROM ids
             |      UNION ALL
             |      SELECT doc_id + 10000, doc_id, 1 FROM ids WHERE doc_id % 5 = 0),
             |idx AS (SELECT media_id, seed, jit,
             |    unnest(range(CAST(400 + (seed % 5) * 100 AS BIGINT))) AS i FROM u),
             |samp AS (SELECT media_id, i,
             |    CASE WHEN jit = 0 THEN v
             |         ELSE greatest(-1000, least(1000, v + ((seed + i) % 3 - 1)))
             |    END AS v
             |  FROM (SELECT media_id, seed, jit, i,
             |          ((seed*31 + i*17) % 2001) - 1000 AS v FROM idx)),
             |winE AS (SELECT media_id, i // 25 AS win, sum(v*v) AS e
             |  FROM samp GROUP BY 1, 2),
             |delta AS (SELECT media_id, win,
             |    CASE WHEN lead(e) OVER (PARTITION BY media_id ORDER BY win) > e
             |         THEN 1 ELSE 0 END AS bit,
             |    lead(e) OVER (PARTITION BY media_id ORDER BY win) AS nxt
             |  FROM winE),
             |fp AS (SELECT media_id, CAST(count(*) AS INT) AS len,
             |    sum(CAST(bit AS BIGINT) << CAST(win AS INT)) AS bits
             |  FROM delta WHERE nxt IS NOT NULL GROUP BY 1),
             |pairs AS (SELECT a.media_id AS id_a, b.media_id AS id_b,
             |    a.len AS len, bit_count(xor(a.bits, b.bits)) AS ham
             |  FROM fp a JOIN fp b ON a.len = b.len AND a.media_id < b.media_id)
             |SELECT id_a, id_b, CAST(len + 1 AS INT) AS n_win,
             |  CAST(ham AS BIGINT) AS hamming
             |FROM pairs WHERE ham <= len // 10
             |ORDER BY id_a, id_b""".stripMargin)),

    Q(
      "st22_stream_video_dedup",
      (s, dir) => {
        // STREAMING first-seen VIDEO dedup — st15's perceptual gate at
        // video grain (MediaStream.firstSeenVideos): each arriving AVI
        // demuxes + fingerprints ROW-LOCALLY to its signature (sorted
        // distinct frame aHashes — the batch mm13 rule, bit-matching),
        // and dropDuplicatesWithinWatermark keyed on the signature
        // keeps one row per distinct CONTENT — a re-uploaded video
        // with fresh container bytes drops at ingest. mm13's corpus,
        // fed id-ordered in two micro-batches split at the BASE/COPY
        // id boundary (media_id < 150 in batch 1, the 10000+ copies in
        // batch 2): every one of the 30 planted re-uploads arrives in
        // batch 2 while its source arrived in batch 1, so copies drop
        // ONLY if per-signature state survived the batch boundary (a
        // median split would land 12 of the 30 copies in the same
        // batch as their sources, exercising within-batch dedup
        // instead). Survivors = min media_id per signature, which the
        // oracle replays from the generator formulas. collect() is
        // the MemoryStream feeding harness.
        import graft.ops.Multimodal
        import graft.streaming.MediaStream
        implicit val sqlCtx = s.sqlContext
        implicit val arrEnc =
          org.apache.spark.sql.Encoders.product[MediaStream.MediaArrival]
        val base = Tables(s, dir).documents.filter(col("doc_id") < 150)
          .select(col("doc_id").as("media_id"), col("doc_id").as("seed"),
            lit(0).as("jit"))
        val copies = Tables(s, dir).documents
          .filter(col("doc_id") < 150 && col("doc_id") % 5 === 0)
          .select((col("doc_id") + 10000).as("media_id"),
            col("doc_id").as("seed"), lit(1).as("jit"))
        val rows = Multimodal.synthesizeAvisSeeded(
            base.unionByName(copies), "media_id", "seed", "jit")
          .collect().sortBy(_.media_id)
          .map(r => MediaStream.MediaArrival(r.media_id,
            new java.sql.Timestamp(1700000000000L + r.media_id * 1000L), r.avi))
        val stream = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[MediaStream.MediaArrival]
        val (bases, copyRows) = rows.partition(_.media_id < 150)
        StreamReplay(s,
            MediaStream.firstSeenVideos(stream.toDS(), watermark = "24 hours"),
            "st22_survivors")(
          Seq(bases, copyRows).filter(_.nonEmpty)
            .map(b => () => stream.addData(b.toSeq)))
          .orderBy("media_id")
      },
      // mm13's per-frame hash replay; signature = sorted distinct frame
      // hashes joined '-'; first-seen on an id-ordered feed = minimum
      // media_id per signature
      Some(s"""WITH $videoHashCtes,
             |sig AS (SELECT media_id,
             |    string_agg(ahash, '-' ORDER BY ahash) AS sig
             |  FROM fh GROUP BY media_id)
             |SELECT media_id, sig FROM (
             |  SELECT media_id, sig,
             |    row_number() OVER (PARTITION BY sig ORDER BY media_id) AS rn
             |  FROM sig)
             |WHERE rn = 1 ORDER BY media_id""".stripMargin)),

    Q(
      "mm15_av_sync_audit",
      (s, dir) => {
        // A/V SYNC audit — the badly-muxed-file detector a video
        // curation pass runs before trusting any clip: the video's
        // strongest scene transition (mm09's exact inter-frame delta,
        // argmax with lowest-frame ties) and the audio's loudest
        // window (mm10's exact sum-of-squares, lowest-win ties) each
        // normalize to a CLIP-POSITION in ppm, and the audit flags
        // clips whose peaks disagree by more than half the clip —
        // streams that plainly don't belong together. Both legs are
        // the REAL decode paths (AVI DIB frames, PCM16 windows);
        // positions are exact integer floor-divisions, so the whole
        // audit replays in SQL. One bounded window per modality +
        // a media-keyed join of two clips-sized frames.
        val ids = Tables(s, dir).documents
          .filter(col("doc_id") < 300).select(col("doc_id"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("media_id").orderBy("frame")
        val vPeak = Multimodal.decodeAviFrames(
            Multimodal.synthesizeAvis(ids, "doc_id")).toDF()
          .select(col("media_id"), col("frame"),
            (col("sum_r") + col("sum_g") + col("sum_b")).as("s"))
          .withColumn("delta", col("s") - lag(col("s"), 1).over(w))
          .filter(col("delta").isNotNull)
          .withColumn("rn", row_number().over(
            org.apache.spark.sql.expressions.Window.partitionBy("media_id")
              .orderBy(abs(col("delta")).desc, col("frame"))))
          .withColumn("nf", max("frame").over(
            org.apache.spark.sql.expressions.Window.partitionBy("media_id")))
          .filter(col("rn") === 1)
          .select(col("media_id"),
            expr("frame * 1000000 div nf").as("v_ppm"))
        val aPeak = Multimodal.decodeWavWindows(
            Multimodal.synthesizeWavs(ids, "doc_id"), windowSamples = 200).toDF()
          .withColumn("rn", row_number().over(
            org.apache.spark.sql.expressions.Window.partitionBy("media_id")
              .orderBy(col("sum_sq").desc, col("win"))))
          .withColumn("nw", max("win").over(
            org.apache.spark.sql.expressions.Window.partitionBy("media_id")))
          .filter(col("rn") === 1)
          .select(col("media_id"),
            expr("win * 1000000 div nw").as("a_ppm"))
        vPeak.join(aPeak, "media_id")
          .select(col("media_id"), col("v_ppm"), col("a_ppm"),
            abs(col("v_ppm") - col("a_ppm")).as("skew_ppm"))
          .withColumn("flagged",
            (col("skew_ppm") > 500000L).cast("int"))
          .orderBy("media_id")
      },
      Some("""WITH vids AS (SELECT doc_id AS media_id,
             |    CAST(7 + (doc_id % 3) * 4 AS INT) AS width,
             |    CAST(6 + (doc_id % 2) * 4 AS INT) AS height,
             |    CAST(2 + (doc_id % 3) AS INT) AS n_frames
             |  FROM documents WHERE doc_id < 300),
             |pf AS (SELECT media_id, width, height, n_frames,
             |    unnest(range(n_frames)) AS f FROM vids),
             |fs AS (SELECT media_id, CAST(f AS INT) AS frame,
             |    CAST(list_sum(flatten(list_transform(range(height), y ->
             |      list_transform(range(width), x ->
             |          (media_id * 31 + f * 23 + x * 7 + y * 13) % 256
             |        + (media_id * 17 + f * 29 + x * 11 + y * 3) % 256
             |        + (media_id * 7 + f * 37 + x * 5 + y * 19) % 256))))
             |      AS BIGINT) AS s
             |  FROM pf),
             |vd AS (SELECT media_id, frame,
             |    s - lag(s) OVER (PARTITION BY media_id ORDER BY frame) AS delta
             |  FROM fs),
             |vp AS (SELECT media_id,
             |    CAST(frame * 1000000 // nf AS BIGINT) AS v_ppm
             |  FROM (SELECT media_id, frame,
             |          row_number() OVER (PARTITION BY media_id
             |            ORDER BY abs(delta) DESC, frame) AS rn,
             |          max(frame) OVER (PARTITION BY media_id) AS nf
             |        FROM vd WHERE delta IS NOT NULL)
             |  WHERE rn = 1),
             |clips AS (SELECT doc_id AS media_id,
             |    CAST(400 + (doc_id % 5) * 100 AS INT) AS n
             |  FROM documents WHERE doc_id < 300),
             |sm AS (SELECT media_id, unnest(range(n)) AS i FROM clips),
             |av AS (SELECT media_id, CAST(i // 200 AS INT) AS win,
             |    ((media_id * 31 + i * 17) % 2001) - 1000 AS val
             |  FROM sm),
             |aw AS (SELECT media_id, win, sum(val * val) AS sum_sq
             |  FROM av GROUP BY 1, 2),
             |ap AS (SELECT media_id,
             |    CAST(win * 1000000 // nw AS BIGINT) AS a_ppm
             |  FROM (SELECT media_id, win,
             |          row_number() OVER (PARTITION BY media_id
             |            ORDER BY sum_sq DESC, win) AS rn,
             |          max(win) OVER (PARTITION BY media_id) AS nw
             |        FROM aw)
             |  WHERE rn = 1)
             |SELECT vp.media_id, v_ppm, a_ppm,
             |  abs(v_ppm - a_ppm) AS skew_ppm,
             |  CAST(abs(v_ppm - a_ppm) > 500000 AS INT) AS flagged
             |FROM vp JOIN ap USING (media_id)
             |ORDER BY media_id""".stripMargin))
  )

  /** mm13/st22's shared replay prefix: the planted-copy video corpus,
    * per-frame gray block means from the generator formulas, the
    * imageAHash bit rule, ending at fh(media_id, ahash) = each video's
    * DISTINCT frame-hash set. */
  private def videoHashCtes: String =
    """vids AS (
      |  SELECT doc_id AS media_id, doc_id AS seed, 0 AS j
      |  FROM documents WHERE doc_id < 150
      |  UNION ALL
      |  SELECT doc_id + 10000, doc_id, 1
      |  FROM documents WHERE doc_id < 150 AND doc_id % 5 = 0),
      |hs AS (SELECT media_id, seed, j,
      |    CAST(7 + (seed % 3) * 4 AS BIGINT) AS w,
      |    CAST(6 + (seed % 2) * 4 AS BIGINT) AS h,
      |    CAST(2 + (seed % 3) AS BIGINT) AS nf
      |  FROM vids),
      |pf AS (SELECT media_id, seed, j, w, h,
      |       unnest(range(nf)) AS f FROM hs),
      |ms AS (SELECT media_id, f,
      |    list_transform(range(16), bi ->
      |      list_sum(flatten(list_transform(range(h // 4), dy ->
      |        list_transform(range(w // 4), dx ->
      |          (least(255, (seed * 31 + f * 23 + ((bi % 4) * (w // 4) + dx) * 7
      |                       + ((bi // 4) * (h // 4) + dy) * 13) % 256 + j)
      |           + (seed * 17 + f * 29 + ((bi % 4) * (w // 4) + dx) * 11
      |              + ((bi // 4) * (h // 4) + dy) * 3) % 256
      |           + (seed * 7 + f * 37 + ((bi % 4) * (w // 4) + dx) * 5
      |              + ((bi // 4) * (h // 4) + dy) * 19) % 256) // 3))))
      |      // ((w // 4) * (h // 4))) AS m
      |  FROM pf),
      |fh AS (SELECT DISTINCT media_id,
      |    CAST(list_sum(list_transform(range(16), i ->
      |      CASE WHEN m[CAST(i AS INT) + 1] >= list_sum(m) // 16
      |           THEN CAST(pow(2, i) AS BIGINT) ELSE 0 END)) AS BIGINT) AS ahash
      |  FROM ms)""".stripMargin
}
