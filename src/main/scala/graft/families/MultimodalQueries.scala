package graft
package families

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import Shared._

/** The mm_ queries: image, audio and other media-derived features.
  * Each entry holds a query's DuckDB oracle SQL and its builder.
  */
object MultimodalQueries {

  val entries: Seq[(String, Query)] = Seq(
    // ---- extended: multimodal plumbing ----

    "mm_meta" -> Query(
      """SELECT doc_id AS media_id, CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes, 'bin' AS format, sha256(text) AS sha FROM documents""")((s, dir) => {
      val media = ext.Multimodal.mediaFromDocuments(T(s, dir, "documents"))
      media.select(col("media_id"),
        length(col("content")).cast("long").as("n_bytes"),
        ext.Multimodal.sniffFormat(col("content")).as("format"),
        sha2(col("content"), 256).as("sha"))
    }),
    // mm_decode: every value is an integer function of doc_id (the planted
    // media's encoder parameters) — a decoder that doesn't actually decode
    // the real png/bmp/wav payloads cannot reproduce n_samples/content_sum
    "mm_decode" -> Query(
      """SELECT doc_id AS media_id,
           CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'wav' ELSE 'bmp' END AS format,
           CAST(CASE WHEN doc_id % 3 = 1 THEN 0 ELSE 8 + doc_id % 17 END AS INTEGER) AS width,
           CAST(CASE WHEN doc_id % 3 = 1 THEN 0 ELSE 8 + doc_id % 13 END AS INTEGER) AS height,
           CAST(CASE WHEN doc_id % 3 = 1 THEN 8000 + (doc_id % 5) * 2000 ELSE 0 END AS INTEGER) AS sample_rate,
           CAST(CASE WHEN doc_id % 3 = 1 THEN 64 + doc_id % 64 ELSE (8 + doc_id % 17) * (8 + doc_id % 13) END AS BIGINT) AS n_samples,
           CAST(CASE WHEN doc_id % 3 = 1 THEN (64 + doc_id % 64) * (doc_id % 2000 - 1000) ELSE (8 + doc_id % 17) * (8 + doc_id % 13) * ((doc_id % 256) + (doc_id * 7 % 256) + (doc_id * 13 % 256)) END AS BIGINT) AS content_sum,
           CAST(CASE WHEN doc_id % 3 = 1 THEN 0 ELSE 8 + doc_id % 17 END AS INTEGER) AS hdr_width,
           CAST(CASE WHEN doc_id % 3 = 1 THEN 0 ELSE 8 + doc_id % 13 END AS INTEGER) AS hdr_height,
           CAST(CASE WHEN doc_id % 3 = 1 THEN 8000 + (doc_id % 5) * 2000 ELSE 0 END AS INTEGER) AS hdr_rate
         FROM documents""")((s, dir) => {
      // REAL decode round-trip: plant genuine encoder output (ImageIO
      // png/bmp, AudioSystem wav) whose dims/rates/contents are integer
      // functions of doc_id, decode it with the JDK codecs, and ALSO parse
      // the container headers — the oracle recomputes every value from
      // doc_id alone, so a fake/stub decoder cannot hash-match.
      implicit val sp: SparkSession = s
      val media = ext.Multimodal.syntheticMedia(T(s, dir, "documents"))
      val dec = ext.Multimodal.decode(media).toDF()
      val hdr = ext.Multimodal.extractMeta(media).toDF()
        .select(col("media_id"), col("width").as("hdr_width"),
          col("height").as("hdr_height"), col("sample_rate").as("hdr_rate"))
      dec.join(hdr, Seq("media_id"))
    }),
    // mm_frames: documents text is pure ASCII in this corpus (verified:
    // octet_length == length for every row), so DuckDB's char-based
    // substring sees the same bytes Spark's binary substring does and
    // md5 hashes agree
    "mm_frames" -> Query(
      """WITH idx AS (SELECT unnest(range(8)) AS i)
         SELECT doc_id AS media_id, CAST(i AS INTEGER) AS frame_idx,
                CAST(length(substring(text, CAST(i * 64 + 1 AS BIGINT), 64)) AS INTEGER) AS frame_n_bytes,
                md5(substring(text, CAST(i * 64 + 1 AS BIGINT), 64)) AS frame_hash
         FROM documents, idx
         WHERE i < least(CAST(ceil(length(text) / 64.0) AS BIGINT), 8)""")((s, dir) => {
      ext.Multimodal.frameSample(
        ext.Multimodal.mediaFromDocuments(T(s, dir, "documents")), 64, 8)
    }),
    // mm_neardup: replay the planted gradient-image dHash (md5_64 of the
    // ten-doc cluster id, one member bit flipped) and brute-force the
    // Hamming<=1 pair set — Spark must reach it through decode + banding
    "mm_neardup" -> Query(
      """WITH u AS (SELECT doc_id, CAST('0x' || substr(md5(CAST(doc_id // 10 AS VARCHAR)), 1, 8) AS BIGINT)::HUGEINT * 4294967296::HUGEINT + CAST('0x' || substr(md5(CAST(doc_id // 10 AS VARCHAR)), 9, 8) AS BIGINT)::HUGEINT AS uh, CAST(doc_id % 10 AS INTEGER) AS m FROM documents), hh AS (SELECT doc_id, CASE WHEN m > 0 THEN xor(h0, 1::BIGINT << (m - 1)) ELSE h0 END AS h FROM (SELECT doc_id, m, CAST(CASE WHEN uh >= 9223372036854775808::HUGEINT THEN uh - 18446744073709551616::HUGEINT ELSE uh END AS BIGINT) AS h0 FROM u)) SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(bit_count(xor(a.h, b.h)) AS BIGINT) AS hamming FROM hh a JOIN hh b ON a.doc_id < b.doc_id WHERE bit_count(xor(a.h, b.h)) <= 1""")((s, dir) => {
      // image near-dup via dHash Hamming banding on planted GRADIENT
      // images whose dHash is a closed-form md5 function of doc_id
      // (cluster head ⊕ one member bit): the DuckDB oracle brute-forces
      // the full pair set from doc_id alone, hash-gating banding recall,
      // the bucket cap, the REAL PNG decode, and the dHash math at once
      implicit val sp: SparkSession = s
      val media = ext.Multimodal.gradientMedia(T(s, dir, "documents"))
      val hashes = ext.Multimodal.perceptualHash(media).toDF()
      ext.Multimodal.nearDupImagePairs(hashes, maxHamming = 1)
    }),
    // mm_curate: replay the planted dHash pair set (see mm_neardup), close
    // it transitively, keep component roots; dims are the 9×8 grid
    "mm_curate" -> Query(
      """WITH RECURSIVE u AS (SELECT doc_id, CAST('0x' || substr(md5(CAST(doc_id // 10 AS VARCHAR)), 1, 8) AS BIGINT)::HUGEINT * 4294967296::HUGEINT + CAST('0x' || substr(md5(CAST(doc_id // 10 AS VARCHAR)), 9, 8) AS BIGINT)::HUGEINT AS uh, CAST(doc_id % 10 AS INTEGER) AS m FROM documents),
         |hh AS (SELECT doc_id, CASE WHEN m > 0 THEN xor(h0, 1::BIGINT << (m - 1)) ELSE h0 END AS h FROM (SELECT doc_id, m, CAST(CASE WHEN uh >= 9223372036854775808::HUGEINT THEN uh - 18446744073709551616::HUGEINT ELSE uh END AS BIGINT) AS h0 FROM u)),
         |mp AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM hh a JOIN hh b ON a.doc_id < b.doc_id WHERE bit_count(xor(a.h, b.h)) <= 1),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM mp UNION SELECT id_b, id_a FROM mp),
         |lab AS (SELECT doc_id AS id, doc_id AS lbl FROM documents UNION SELECT e.dst AS id, lab.lbl FROM lab JOIN edges e ON lab.id = e.src WHERE lab.lbl < e.dst),
         |comp AS (SELECT id, min(lbl) AS root FROM lab GROUP BY 1)
         |SELECT id AS doc_id, CAST(9 AS INTEGER) AS width, CAST(8 AS INTEGER) AS height FROM comp WHERE root = id""".stripMargin)((s, dir) => {
      // composed MULTIMODAL curation — the image twin of ta_curate: decode
      // (real PNG) → perceptual dHash → banded Hamming pairs → transitive
      // components → keep one representative per near-dup cluster, with
      // decoded dims attached; ONE lazy plan over the planted gradient
      // corpus, every stage reaching the oracle's closed forms
      implicit val sp: SparkSession = s
      val docs = T(s, dir, "documents")
      val media = ext.Multimodal.gradientMedia(docs)
      val hashes = ext.Multimodal.perceptualHash(media).toDF()
      val pairs = ext.Multimodal.nearDupImagePairs(hashes, maxHamming = 1)
        .select(col("id_a"), col("id_b"))
      val kept = ext.Graph.clusterDedup(docs.select("doc_id"), "doc_id", pairs)
      val dims = ext.Multimodal.decode(media).toDF()
        .select(col("media_id").as("doc_id"), col("width"), col("height"))
      kept.join(dims, Seq("doc_id")).select("doc_id", "width", "height")
    }),

    "mm_resize" -> Query(
      """SELECT doc_id AS media_id, 'png' AS format, CAST(8 AS INTEGER) AS width, CAST(6 AS INTEGER) AS height, CAST(48 * ((doc_id % 256) + (doc_id * 7 % 256) + (doc_id * 13 % 256)) AS BIGINT) AS content_sum FROM documents WHERE doc_id % 3 <> 1""")((s, dir) => {
      // REAL resize round-trip: planted constant-color images resized with
      // the nearest-neighbor resampler, re-decoded — dims and pixel sums
      // must equal the integer formulas (constant color survives exactly)
      implicit val sp: SparkSession = s
      val media = ext.Multimodal.syntheticMedia(T(s, dir, "documents"))
        .filter(col("media_id") % 3 =!= 1)
      val resized = ext.Multimodal.resize(media, 8, 6).toDF()
        .select(col("media_id"), col("media_type"),
          lit("resized").as("source"), col("content"))
      ext.Multimodal.decode(resized).toDF()
        .select("media_id", "format", "width", "height", "content_sum")
    }),

    "mm_resample" -> Query(
      """SELECT doc_id AS media_id, 'wav' AS format, CAST(8000 AS INTEGER) AS sample_rate, CAST((64 + doc_id % 64) * 8000 // (8000 + (doc_id % 5) * 2000) AS BIGINT) AS n_samples, CAST(((64 + doc_id % 64) * 8000 // (8000 + (doc_id % 5) * 2000)) * (doc_id % 2000 - 1000) AS BIGINT) AS content_sum FROM documents WHERE doc_id % 3 = 1""")((s, dir) => {
      // REAL audio resample round-trip: planted constant-signal WAVs
      // resampled to 8 kHz by linear interpolation, re-decoded — frame
      // count and sample sum must equal the integer closed forms
      // (a constant signal survives any interpolation exactly)
      implicit val sp: SparkSession = s
      val media = ext.Multimodal.syntheticMedia(T(s, dir, "documents"))
        .filter(col("media_id") % 3 === 1)
      val resampled = ext.Multimodal.resampleAudio(media, 8000).toDF()
        .select(col("media_id"), col("media_type"),
          lit("resampled").as("source"), col("content"))
      ext.Multimodal.decode(resampled).toDF()
        .select("media_id", "format", "sample_rate", "n_samples", "content_sum")
    }),
    // mm_phash: full 8×8 DCT spectrum recomputed from doc_id alone with
    // the identical fixed-point cosine integers (interpolated below)
    "mm_phash" -> Query(mmPhashOracle)((s, dir) => {
      // DCT perceptual hash (pHash) with a REAL decode: planted 32×32
      // sawtooth PNGs (luma a closed form of doc_id), JDK ImageIO decode,
      // separable integer DCT over the shared fixed-point cosine basis,
      // bits against the lower AC median. The oracle recomputes the FULL
      // 8×8 spectrum from doc_id alone with the SAME 256 cosine integers
      // (interpolated literals), so a fake decoder, a float DCT, or a
      // wrong median rank all hash-mismatch. Per-partition decode; one
      // pass; no shuffle at all until the (tiny) result.
      implicit val sp: SparkSession = s
      val media = ext.Multimodal.phashMedia(T(s, dir, "documents"))
      ext.Multimodal.dctPhash(media).toDF()
    }),
    // mm_histogram: every bin count recomputed from doc_id's planted
    // closed-form pixel grid (zeros included via the bin grid)
    // mm_patches: the closed-form pixel grid grouped by the 8×8 patch
    // coordinates; every stat recomputed from doc_id alone.
    "mm_patches" -> Query(
      """WITH px AS (SELECT d.doc_id, x.range AS x, y.range AS y, ((1 + d.doc_id % 7) * x.range + (1 + d.doc_id % 5) * y.range + d.doc_id % 256) % 256 AS luma FROM documents d, range(32) x, range(32) y) SELECT doc_id AS media_id, CAST(x // 8 AS BIGINT) AS px, CAST(y // 8 AS BIGINT) AS py, CAST(count(*) AS BIGINT) AS n_px, CAST(sum(luma) AS BIGINT) AS sum_luma, CAST(min(luma) AS BIGINT) AS min_luma, CAST(max(luma) AS BIGINT) AS max_luma FROM px GROUP BY 1, 2, 3""")((s, dir) => {
      // ViT-style patchify with a REAL decode: the planted 32×32 PNGs
      // split into a 4×4 grid of 8×8 patches with per-patch luma stats
      // (sum/min/max) — the deterministic front half of a vision-
      // transformer ingest. Per-partition codec work, no shuffle; the
      // oracle recomputes every patch from doc_id's closed-form pixel
      // grid, so a fake decode mismatches.
      implicit val sp: SparkSession = s
      ext.Multimodal.patchGrid(
        ext.Multimodal.phashMedia(T(s, dir, "documents"))).toDF()
    }),

    "mm_histogram" -> Query(
      """WITH px AS (SELECT d.doc_id, ((1 + d.doc_id % 7) * x.range + (1 + d.doc_id % 5) * y.range + d.doc_id % 256) % 256 AS luma FROM documents d, range(32) x, range(32) y), c AS (SELECT doc_id, luma // 16 AS bin, CAST(count(*) AS BIGINT) AS n_px FROM px GROUP BY 1, 2), grid AS (SELECT doc_id, b.range AS bin FROM documents, range(16) b) SELECT grid.doc_id AS media_id, CAST(grid.bin AS BIGINT) AS bin, coalesce(c.n_px, CAST(0 AS BIGINT)) AS n_px FROM grid LEFT JOIN c ON c.doc_id = grid.doc_id AND c.bin = grid.bin""")((s, dir) => {
      // per-image luma histogram with a REAL decode (the planted 32×32
      // PNGs behind mm_phash): 16 bins, all bins emitted (zeros
      // included). Per-partition codec work, no shuffle at all; the
      // oracle recomputes every bin count from doc_id's closed-form
      // pixel grid, so a fake decode mismatches.
      implicit val sp: SparkSession = s
      ext.Multimodal.lumaHistogram(
        ext.Multimodal.phashMedia(T(s, dir, "documents"))).toDF()
    }),
    // mm_blockiness: both diff sums replayed from the planted grid
    "mm_blockiness" -> Query(
      """WITH px AS (SELECT d.doc_id, x.range AS x, y.range AS y, ((1 + d.doc_id % 7) * x.range + (1 + d.doc_id % 5) * y.range + d.doc_id % 256) % 256 AS luma FROM documents d, range(32) x, range(32) y), dfs AS (SELECT a.doc_id, a.x % 8 = 7 AS bdry, abs(b.luma - a.luma) AS dv FROM px a JOIN px b ON b.doc_id = a.doc_id AND b.y = a.y AND b.x = a.x + 1 WHERE a.x < 31), g AS (SELECT doc_id, CAST(sum(CASE WHEN bdry THEN dv ELSE 0 END) AS BIGINT) AS bsum, CAST(sum(CASE WHEN NOT bdry THEN dv ELSE 0 END) AS BIGINT) AS isum FROM dfs GROUP BY 1) SELECT doc_id AS media_id, bsum, isum, CAST(CASE WHEN isum = 0 THEN 0 ELSE (bsum * 28 * 1000000) // (isum * 3) END AS BIGINT) AS blockiness_micro FROM g""")((s, dir) => {
      // JPEG-artifact proxy with a REAL decode: mean |Δluma| across
      // horizontal 8-px block boundaries vs interior columns — a ratio
      // near 1 means no blocking. Exact integer diff sums per image
      // (per-partition codec work, no shuffle); the oracle replays both
      // sums from the planted closed-form grid.
      implicit val sp: SparkSession = s
      ext.Multimodal.blockiness(
        ext.Multimodal.phashMedia(T(s, dir, "documents"))).toDF()
    }),
    // mm_entropy: the closed-form grid histogram + the same per-bin
    // micro-rounded −p·ln p terms
    "mm_entropy" -> Query(
      """WITH px AS (SELECT d.doc_id, ((1 + d.doc_id % 7) * x.range + (1 + d.doc_id % 5) * y.range + d.doc_id % 256) % 256 AS luma FROM documents d, range(32) x, range(32) y), c AS (SELECT doc_id, luma // 16 AS bin, CAST(count(*) AS BIGINT) AS n_px FROM px GROUP BY 1, 2), t AS (SELECT doc_id, CAST(round(-(CAST(n_px AS DOUBLE) / 1024.0) * ln(CAST(n_px AS DOUBLE) / 1024.0) * 1000000) AS BIGINT) AS term FROM c WHERE n_px > 0) SELECT doc_id AS media_id, CAST(count(*) AS BIGINT) AS n_occupied, CAST(sum(term) AS BIGINT) AS entropy_micronats FROM t GROUP BY 1""")((s, dir) => {
      // Shannon entropy of each decoded image's 16-bin luma histogram in
      // micro-nats: per-bin terms −p·ln p are micro-rounded BEFORE the
      // sum (order-free; ln is the only transcendental). Flat images
      // score 0; the planted sawtooths land near ln 16. Decode is
      // per-partition; the agg is 16 rows per image.
      implicit val sp: SparkSession = s
      ext.Multimodal.lumaHistogram(
          ext.Multimodal.phashMedia(T(s, dir, "documents"))).toDF()
        .filter(col("n_px") > 0L)
        .withColumn("term", expr(
          """CAST(round(-(CAST(n_px AS DOUBLE) / 1024.0)
             | * ln(CAST(n_px AS DOUBLE) / 1024.0) * 1000000) AS BIGINT)""".stripMargin))
        .groupBy("media_id")
        .agg(count(lit(1)).as("n_occupied"), sum("term").as("entropy_micronats"))
    }),
    // mm_sharpness: Laplacian sums replayed from the planted grid
    "mm_sharpness" -> Query(
      """WITH px AS (SELECT d.doc_id, x.range AS x, y.range AS y, ((1 + d.doc_id % 7) * x.range + (1 + d.doc_id % 5) * y.range + d.doc_id % 256) % 256 AS luma FROM documents d, range(32) x, range(32) y), lap AS (SELECT c.doc_id, 4 * c.luma - lft.luma - rgt.luma - up.luma - dn.luma AS v FROM px c JOIN px lft ON lft.doc_id = c.doc_id AND lft.y = c.y AND lft.x = c.x - 1 JOIN px rgt ON rgt.doc_id = c.doc_id AND rgt.y = c.y AND rgt.x = c.x + 1 JOIN px up ON up.doc_id = c.doc_id AND up.x = c.x AND up.y = c.y - 1 JOIN px dn ON dn.doc_id = c.doc_id AND dn.x = c.x AND dn.y = c.y + 1 WHERE c.x BETWEEN 1 AND 30 AND c.y BETWEEN 1 AND 30) SELECT doc_id AS media_id, CAST(count(*) AS BIGINT) AS n_px, CAST((count(*) * sum(v * v) - sum(v) * sum(v)) // (count(*) * count(*)) AS BIGINT) AS lap_var FROM lap GROUP BY 1""")((s, dir) => {
      // blur detection with a REAL decode: the variance of the 4-
      // neighbor Laplacian over interior pixels — the classic OpenCV
      // sharpness score, in exact integers ((nΣx²−(Σx)²) div n²).
      // Per-partition codec work; the oracle replays both sums from the
      // closed-form grid.
      implicit val sp: SparkSession = s
      ext.Multimodal.sharpness(
        ext.Multimodal.phashMedia(T(s, dir, "documents"))).toDF()
    }),
    // mm_ssim: paired pixel sums replayed from the closed-form grids of
    // consecutive doc ids; the SSIM formula text matches the engine's
    "mm_ssim" -> Query(
      """WITH px AS (SELECT d.doc_id, x.range AS x, y.range AS y, ((1 + d.doc_id % 7) * x.range + (1 + d.doc_id % 5) * y.range + d.doc_id % 256) % 256 AS luma FROM documents d, range(32) x, range(32) y), p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.luma AS xa, b.luma AS xb FROM px a JOIN px b ON b.doc_id = a.doc_id + 1 AND b.x = a.x AND b.y = a.y), g AS (SELECT a_id, b_id, CAST(sum(xa) AS BIGINT) AS sx, CAST(sum(xb) AS BIGINT) AS sy, CAST(sum(xa * xa) AS BIGINT) AS sxx, CAST(sum(xb * xb) AS BIGINT) AS syy, CAST(sum(xa * xb) AS BIGINT) AS sxy FROM p GROUP BY 1, 2) SELECT a_id, b_id, CAST(round(((2.0 * (CAST(sx AS DOUBLE) / 1024) * (CAST(sy AS DOUBLE) / 1024) + 6.5025) * (2.0 * (CAST(sxy AS DOUBLE) / 1024 - (CAST(sx AS DOUBLE) / 1024) * (CAST(sy AS DOUBLE) / 1024)) + 58.5225)) / (((CAST(sx AS DOUBLE) / 1024) * (CAST(sx AS DOUBLE) / 1024) + (CAST(sy AS DOUBLE) / 1024) * (CAST(sy AS DOUBLE) / 1024) + 6.5025) * ((CAST(sxx AS DOUBLE) / 1024 - (CAST(sx AS DOUBLE) / 1024) * (CAST(sx AS DOUBLE) / 1024)) + (CAST(syy AS DOUBLE) / 1024 - (CAST(sy AS DOUBLE) / 1024) * (CAST(sy AS DOUBLE) / 1024)) + 58.5225)) * 1000000) AS BIGINT) AS ssim_micro FROM g""")((s, dir) => {
      // SSIM between consecutive decoded images (global window): exact
      // integer pixel sums through the zip of the two REAL-decoded luma
      // vectors, the standard C1/C2 stabilizers as literals, one double
      // formula micro-rounded. The pairwise perceptual-similarity
      // companion to mm_phash's per-image fingerprint.
      implicit val sp: SparkSession = s
      val v = ext.Multimodal.lumaVector(
        ext.Multimodal.phashMedia(T(s, dir, "documents"))).toDF()
        .localCheckpoint(true) // both sides of the consecutive join
      val pairs = v.select((col("media_id") + 1).as("media_id"),
          col("media_id").as("a_id"), col("luma").as("la"))
        .join(v.select(col("media_id"), col("media_id").as("b_id"),
          col("luma").as("lb")), Seq("media_id"))
      pairs.select(col("a_id"), col("b_id"),
          expr("aggregate(la, 0L, (acc, x) -> acc + x)").as("sx"),
          expr("aggregate(lb, 0L, (acc, x) -> acc + x)").as("sy"),
          expr("aggregate(la, 0L, (acc, x) -> acc + x * x)").as("sxx"),
          expr("aggregate(lb, 0L, (acc, x) -> acc + x * x)").as("syy"),
          expr("aggregate(zip_with(la, lb, (x, y) -> x * y), 0L, (acc, x) -> acc + x)")
            .as("sxy"))
        .select(col("a_id"), col("b_id"),
          expr("""CAST(round(
                 |  ((2.0 * (CAST(sx AS DOUBLE) / 1024) * (CAST(sy AS DOUBLE) / 1024) + 6.5025)
                 |   * (2.0 * (CAST(sxy AS DOUBLE) / 1024 - (CAST(sx AS DOUBLE) / 1024) * (CAST(sy AS DOUBLE) / 1024)) + 58.5225))
                 |  / (((CAST(sx AS DOUBLE) / 1024) * (CAST(sx AS DOUBLE) / 1024) + (CAST(sy AS DOUBLE) / 1024) * (CAST(sy AS DOUBLE) / 1024) + 6.5025)
                 |     * ((CAST(sxx AS DOUBLE) / 1024 - (CAST(sx AS DOUBLE) / 1024) * (CAST(sx AS DOUBLE) / 1024))
                 |        + (CAST(syy AS DOUBLE) / 1024 - (CAST(sy AS DOUBLE) / 1024) * (CAST(sy AS DOUBLE) / 1024)) + 58.5225))
                 |  * 1000000) AS BIGINT)""".stripMargin).as("ssim_micro"))
    }),
    // mm_loudness: closed form from the planted bits — Σv² is
    // popcount(low byte)·400·6000², one double sqrt rounded once.
    "mm_loudness" -> Query(
      """WITH h AS (SELECT doc_id, CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 15, 2) AS BIGINT) AS lb FROM documents), s AS (SELECT doc_id, CAST(bit_count(lb) AS BIGINT) AS k FROM h) SELECT doc_id AS media_id, CAST(3200 AS BIGINT) AS n_frames, CAST(k * 400 * 36000000 AS BIGINT) AS sum_sq, CAST(round(sqrt(CAST(k * 400 * 36000000 AS DOUBLE) / 3200) * 1000) AS BIGINT) AS rms_milli FROM s""")((s, dir) => {
      // RMS loudness per clip from REAL WAV round-trips — the audio
      // curation dial next to mm_vad's speech ratio (clips too quiet or
      // too hot get filtered before transcription). Same planted
      // square-wave corpus, same JDK encode → AudioSystem parse →
      // window pipeline; RMS = sqrt(Σv²/n) as ONE double sqrt rounded
      // once to milli-units, so the oracle's closed form (popcount of
      // the planted bits) matches bit-for-bit.
      implicit val sp: SparkSession = s
      val media = ext.Multimodal.vadMedia(T(s, dir, "documents"))
      ext.Multimodal.audioWindows(media, 400).toDF()
        .groupBy("media_id")
        .agg(sum("n_frames").as("n_frames"), sum("sum_sq").as("sum_sq"))
        .select(col("media_id"), col("n_frames"), col("sum_sq"),
          round(sqrt(col("sum_sq").cast("double") / col("n_frames")) * 1000)
            .cast("long").as("rms_milli"))
    }),
    // mm_zcr: closed form from the planted bits — an active window's
    // ±6000 alternation crosses on all 399 adjacent pairs, silence never
    "mm_zcr" -> Query(
      """WITH h AS (SELECT doc_id, CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 15, 2) AS BIGINT) AS lb FROM documents), s AS (SELECT doc_id, CAST(bit_count(lb) AS BIGINT) AS k FROM h) SELECT doc_id AS media_id, CAST(8 AS BIGINT) AS n_windows, k AS n_active, CAST(k * 399 AS BIGINT) AS zc_total FROM s""")((s, dir) => {
      // zero-crossing rate per clip — the third audio-curation dial next
      // to mm_vad (energy) and mm_loudness (RMS): high ZCR separates
      // tonal/voiced content from noise and silence. Same REAL WAV
      // round-trip; a crossing is a strict sign flip between adjacent
      // samples WITHIN a window (zeros never cross, so silence scores
      // 0). The planted ±6000 alternating square wave crosses on every
      // adjacent pair: an active 400-frame window contributes exactly
      // 399, which is the oracle's closed form over the planted bits.
      implicit val sp: SparkSession = s
      val media = ext.Multimodal.vadMedia(T(s, dir, "documents"))
      ext.Multimodal.audioWindows(media, 400).toDF()
        .groupBy("media_id")
        .agg(count(lit(1)).as("n_windows"),
          sum(when(col("n_zc") > 0, 1L).otherwise(0L)).as("n_active"),
          sum(col("n_zc")).as("zc_total"))
    }),
    // mm_goertzel: closed form — each active window is a pure Nyquist
    // tone with alternating sum 400·6000
    "mm_goertzel" -> Query(
      """WITH h AS (SELECT doc_id, CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 15, 2) AS BIGINT) AS lb FROM documents), s AS (SELECT doc_id, CAST(bit_count(lb) AS BIGINT) AS k FROM h) SELECT doc_id AS media_id, CAST(8 AS BIGINT) AS n_windows, k AS n_tonal, CAST(k * 2400000 AS BIGINT) AS nyquist_mag_total FROM s""")((s, dir) => {
      // single-bin DFT tone detector (Goertzel 1958) at the Nyquist bin
      // — the frequency-domain sibling of mm_zcr: the planted square
      // wave IS a pure fs/2 tone, so an active window's alternating sum
      // Σ(−1)^k·v is exactly 400·6000 and silence is 0; a real pipeline
      // flips the bin coefficient to hunt hums/tones before ASR. All
      // integer; closed-form oracle from the planted bits.
      implicit val sp: SparkSession = s
      val media = ext.Multimodal.vadMedia(T(s, dir, "documents"))
      ext.Multimodal.audioWindows(media, 400).toDF()
        .groupBy("media_id")
        .agg(count(lit(1)).as("n_windows"),
          sum(when(abs(col("alt_sum")) > 0, 1L).otherwise(0L)).as("n_tonal"),
          sum(abs(col("alt_sum"))).as("nyquist_mag_total"))
    }),
    // mm_vad: every value recomputed from doc_id alone — bit b of the
    // md5_64 low byte IS window b's speech flag (see Multimodal.vadBits),
    // segments via the same lag-over-window-index rule.
    "mm_vad" -> Query(
      """WITH h AS (SELECT doc_id, CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 15, 2) AS BIGINT) AS lb FROM documents), b AS (SELECT doc_id, CAST(t.range AS BIGINT) AS win_idx, ((lb >> CAST(t.range AS INTEGER)) & 1) = 1 AS speech FROM h, range(8) t), l AS (SELECT doc_id, win_idx, speech, lag(speech) OVER (PARTITION BY doc_id ORDER BY win_idx) AS prev FROM b) SELECT doc_id AS media_id, CAST(count(*) AS BIGINT) AS n_windows, CAST(sum(CASE WHEN speech THEN 1 ELSE 0 END) AS BIGINT) AS n_speech, CAST(sum(CASE WHEN speech AND (prev IS NULL OR NOT prev) THEN 1 ELSE 0 END) AS BIGINT) AS n_segments, CAST(sum(CASE WHEN speech THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT) AS speech_ratio_micro FROM l GROUP BY 1""")((s, dir) => {
      // energy-threshold voice activity detection over REAL WAV round-
      // trips: vadMedia plants a speech/silence block pattern (bit b of
      // md5_64(doc_id) ⇒ 50 ms block b is a ±6000 square wave, else
      // silence), the JDK WAV writer encodes it, audioWindows re-parses
      // the container to PCM and frames 400-sample energy windows; a
      // window is speech iff mean |sample| clears 3000, segments are
      // speech runs via one lag over the per-clip window index (domain
      // bounded: 8 windows/clip). The oracle recomputes every value
      // from doc_id alone — the encode → parse → window → segment
      // pipeline is hash-gated end to end.
      implicit val sp: SparkSession = s
      val media = ext.Multimodal.vadMedia(T(s, dir, "documents"))
      val w = ext.Multimodal.audioWindows(media, 400).toDF()
      val lw = org.apache.spark.sql.expressions.Window
        .partitionBy("media_id").orderBy("win_idx")
      w.withColumn("speech", col("sum_abs") > col("n_frames") * 3000L)
        .withColumn("prev", lag(col("speech"), 1).over(lw))
        .groupBy("media_id")
        .agg(count(lit(1)).as("n_windows"),
          sum(when(col("speech"), 1L).otherwise(0L)).as("n_speech"),
          sum(when(col("speech") && (col("prev").isNull || !col("prev")), 1L)
            .otherwise(0L)).as("n_segments"))
        .select(col("media_id"), col("n_windows"), col("n_speech"),
          col("n_segments"),
          expr("(n_speech * 1000000) div n_windows").as("speech_ratio_micro"))
    })
  )

  /** The mm_phash replay: pixel grid from the planted closed form, the
    * SAME 8×32 cosine table as ext.Multimodal.dctCos (interpolated as
    * literals, so there is exactly one basis), per-(u,v) integer sums,
    * lower-median AC threshold, and the 64-bit assembly through HUGEINT
    * with an explicit two's-complement wrap.
    */
  private def mmPhashOracle: String = {
    val cos = ext.Multimodal.dctCos.map(_.mkString("[", ",", "]"))
      .mkString("[", ",", "]")
    val pow2 = (0 to 63).map(k => s"${BigInt(1) << k}::HUGEINT")
      .mkString("[", ",", "]")
    s"""WITH px AS (SELECT d.doc_id, x.range AS x, y.range AS y,
       |    ((1 + d.doc_id % 7) * x.range + (1 + d.doc_id % 5) * y.range + d.doc_id % 256) % 256 AS luma
       |  FROM documents d, range(32) x, range(32) y),
       |co AS (SELECT u.range AS u, x.range AS x,
       |    ($cos)[CAST(u.range AS INTEGER) + 1][CAST(x.range AS INTEGER) + 1] AS c
       |  FROM range(8) u, range(32) x),
       |f AS (SELECT p.doc_id, cu.u AS u, cv.u AS v,
       |    CAST(sum(cu.c * cv.c * p.luma) AS BIGINT) AS coeff
       |  FROM px p JOIN co cu ON cu.x = p.x JOIN co cv ON cv.x = p.y
       |  GROUP BY 1, 2, 3),
       |med AS (SELECT doc_id, coeff AS med FROM
       |  (SELECT doc_id, coeff, row_number() OVER (PARTITION BY doc_id ORDER BY coeff, u * 8 + v) AS rn
       |   FROM f WHERE NOT (u = 0 AND v = 0)) WHERE rn = 32),
       |bits AS (SELECT f.doc_id, CAST(f.u * 8 + f.v AS INTEGER) AS k,
       |    CASE WHEN f.coeff > med.med THEN 1 ELSE 0 END AS b
       |  FROM f JOIN med USING (doc_id)),
       |hu AS (SELECT doc_id, sum(CASE WHEN b = 1 THEN ($pow2)[k + 1] ELSE 0::HUGEINT END) AS h
       |  FROM bits GROUP BY 1),
       |dc AS (SELECT doc_id, coeff AS dc_coeff FROM f WHERE u = 0 AND v = 0)
       |SELECT hu.doc_id AS media_id,
       |  CAST(CASE WHEN hu.h >= 9223372036854775808::HUGEINT
       |            THEN hu.h - 18446744073709551616::HUGEINT ELSE hu.h END AS BIGINT) AS phash64,
       |  dc.dc_coeff, med.med AS median_ac
       |FROM hu JOIN dc USING (doc_id) JOIN med USING (doc_id)""".stripMargin
  }
}
