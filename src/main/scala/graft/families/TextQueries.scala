package graft
package families

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import Shared._

/** The ta_ queries: text analytics and training-data curation.
  * Each entry holds a query's DuckDB oracle SQL and its builder.
  */
object TextQueries {

  val entries: Seq[(String, Query)] = Seq(
    // ---- extended: text analysis ----

    "ta_tokens" -> Query(
      """SELECT doc_id, CAST(len(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS BIGINT) AS n_tokens, CAST(len(regexp_extract_all(text, '[A-Za-z0-9_]+|[^A-Za-z0-9_\s]')) AS BIGINT) AS n_bpeish, CAST(length(text) AS BIGINT) AS n_chars FROM documents""")((s, dir) => {
      val d = T(s, dir, "documents")
      d.select(col("doc_id"),
        ext.TextAnalysis.tokenCount(col("text")).as("n_tokens"),
        ext.TextAnalysis.bpeishTokenCount(col("text")).as("n_bpeish"),
        length(col("text")).cast("long").as("n_chars"))
    }),

    "ta_quality" -> Query(
      """SELECT doc_id, CAST(floor(CASE WHEN length(text) > 0 THEN (length(text) - length(regexp_replace(text, '[!-/:-@\[-`{-~]', '', 'g'))) / CAST(length(text) AS DOUBLE) ELSE 0 END * 10000) AS BIGINT) AS punct_bp, CAST(floor(CASE WHEN len(toks) > 0 THEN CAST(len(list_filter(toks, t -> list_contains(['the','a','an','and','or','of','to','in','is','it','that','for','on','with','as','was','at','by','be','this'], t))) AS DOUBLE) / len(toks) ELSE 0 END * 10000) AS BIGINT) AS stop_bp, CAST(floor(CASE WHEN len(toks) > 0 THEN CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE) / len(toks) ELSE 0 END * 100) AS BIGINT) AS mtl_c FROM (SELECT doc_id, text, list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks FROM documents)""")((s, dir) => {
      // ratios in integer basis points: identical fp computation on both
      // engines, then an exact integer floor — no rounding-mode divergence
      val d = T(s, dir, "documents")
      d.select(col("doc_id"),
        floor(ext.TextAnalysis.punctuationRatio(col("text")) * 10000).cast("long").as("punct_bp"),
        floor(ext.TextAnalysis.stopwordRatio(col("text"), "en") * 10000).cast("long").as("stop_bp"),
        floor(ext.TextAnalysis.meanTokenLength(col("text")) * 100).cast("long").as("mtl_c"))
    }),

    "ta_curriculum" -> Query(
      s"""WITH qs AS ($qualityScoreOracleSql),
         |b AS (SELECT doc_id, CASE WHEN quality_bp >= 8000 THEN 0 WHEN quality_bp >= 6000 THEN 1 WHEN quality_bp >= 4000 THEN 2 ELSE 3 END AS band FROM qs),
         |rk AS (SELECT doc_id, band, row_number() OVER (PARTITION BY band ORDER BY md5('cur:' || CAST(doc_id AS VARCHAR)), doc_id) AS band_rank FROM b),
         |off AS (SELECT band, coalesce(sum(bn) OVER (ORDER BY band ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS o FROM (SELECT band, count(*) AS bn FROM b GROUP BY 1))
         |SELECT doc_id, CAST(rk.band AS BIGINT) AS band, CAST(band_rank AS BIGINT) AS band_rank, CAST(o + band_rank AS BIGINT) AS curriculum_pos
         |FROM rk JOIN off ON rk.band = off.band""".stripMargin)((s, dir) => {
      // curriculum ordering (easy→hard training schedules): docs banded
      // by FIXED quality-bp thresholds (no global quantile sort), ordered
      // within bands by deterministic hash, and given a global curriculum
      // position via cross-band offsets (4 scalars, broadcast) — the
      // ordering pass that feeds sequence packing. Windows sort within
      // band partitions only; at scale band ≈ shard and the position is
      // offset + band_rank with no global sort.
      import org.apache.spark.sql.expressions.Window
      val d = T(s, dir, "documents")
        .select(col("doc_id"),
          floor(ext.TextAnalysis.rawQualityScore(col("text")) * 10000).cast("long").as("qbp"))
        .withColumn("band",
          when(col("qbp") >= 8000, 0L).when(col("qbp") >= 6000, 1L)
            .when(col("qbp") >= 4000, 2L).otherwise(3L))
      val ranked = d.withColumn("band_rank",
        row_number().over(Window.partitionBy("band")
          .orderBy(md5(concat(lit("cur:"), col("doc_id").cast("string"))), col("doc_id"))).cast("long"))
      val offsets = d.groupBy("band").agg(count(lit(1)).as("bn"))
        .withColumn("offset", coalesce(sum(col("bn")).over(
          Window.orderBy("band").rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select(col("band"), col("offset"))
      ranked.join(broadcast(offsets), Seq("band"))
        .select(col("doc_id"), col("band"), col("band_rank"),
          (col("offset") + col("band_rank")).as("curriculum_pos"))
    }),

    "ta_quality_score" -> Query(qualityScoreOracleSql)((s, dir) => {
      // integer basis points of the raw composite (identical IEEE double
      // expression on both engines, then exact integer floor) — the rounded
      // user-facing qualityScore differs only in presentation
      val d = T(s, dir, "documents")
      d.select(col("doc_id"), col("lang"),
        floor(ext.TextAnalysis.rawQualityScore(col("text")) * 10000).cast("long").as("quality_bp"))
    }),

    "ta_langid" -> Query(langidOracleSql)((s, dir) => {
      val d = T(s, dir, "documents")
      d.select(col("doc_id"), col("lang").as("lang_truth"),
        ext.TextAnalysis.langId(col("text")).as("lang_guess"))
    }),

    "ta_fingerprint" -> Query(
      """SELECT doc_id, md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g'))) AS fp FROM documents""")((s, dir) => {
      val d = T(s, dir, "documents")
      d.select(col("doc_id"), ext.TextAnalysis.fingerprint(col("text")).as("fp"))
    }),

    "ta_winnow" -> Query(winnowOracleSql)((s, dir) => {
      // rolling-hash (winnowing) fingerprint near-copy pairs
      ext.Dedup.winnowPairs(T(s, dir, "documents"), "doc_id", "text")
    }),

    // ---- extended: sampling / splitting / packing ----

    "ta_split" -> Query(
      """SELECT doc_id, CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < 'cccccccd' THEN 'train' WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < 'e6666666' THEN 'val' ELSE 'test' END AS split FROM documents""")((s, dir) => {
      // deterministic hash-based train/val/test assignment (80/10/10)
      ext.Sampling.hashSplit(T(s, dir, "documents"), col("doc_id"))
        .select("doc_id", "split")
    }),

    "ta_group_split" -> Query(groupSplitOracleSql)((s, dir) => {
      // leakage-PROOF splitting (vs ta_leakage's after-the-fact audit):
      // the split unit is the near-duplicate CLUSTER, not the document —
      // hash the cluster representative (min-id component label from the
      // minhash pair graph), so every near-dup family lands in ONE split
      // by construction. Composes minhashPairs + componentsFor +
      // hashSplit; ids-only shuffles throughout.
      val docs = T(s, dir, "documents")
      val comp = ext.Graph.componentsFor(docs.select(col("doc_id")), "doc_id",
        ext.Dedup.minhashPairs(docs, "doc_id", "text"), "id_a", "id_b")
      ext.Sampling.hashSplit(
          comp.select(col("doc_id"), col("component").as("cluster_rep")),
          col("cluster_rep"))
        .select("doc_id", "cluster_rep", "split")
    }),
    // ta_leakage: minhash pair replay × the md5-threshold split replay
    "ta_leakage" -> Query(
      s"""WITH ${minhashSigCtes(3, 64)}, ${minhashPairSql(64, 16, 0.5)},
         |sp AS (SELECT doc_id, CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < 'cccccccd' THEN 'train' WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < 'e6666666' THEN 'val' ELSE 'test' END AS split FROM documents)
         |SELECT a.split AS split_a, b.split AS split_b, CAST(count(*) AS BIGINT) AS n_leaky_pairs
         |FROM mh_pairs p JOIN sp a ON p.id_a = a.doc_id JOIN sp b ON p.id_b = b.doc_id
         |WHERE a.split <> b.split GROUP BY 1, 2""".stripMargin)((s, dir) => {
      // split-leakage audit: NEAR-dup pairs that straddle the
      // train/val/test boundary — the contamination exact 8-gram
      // decontam can't see (paraphrases of a test doc inside train).
      // Composes the minhash pair graph with the split assignment; ids
      // only ride the join.
      val d = T(s, dir, "documents")
      val split = ext.Sampling.hashSplit(d, col("doc_id")).select("doc_id", "split")
      ext.Dedup.minhashPairs(d, "doc_id", "text")
        .join(split.select(col("doc_id").as("id_a"), col("split").as("split_a")), Seq("id_a"))
        .join(split.select(col("doc_id").as("id_b"), col("split").as("split_b")), Seq("id_b"))
        .filter(col("split_a") =!= col("split_b"))
        .groupBy("split_a", "split_b")
        .agg(count(lit(1)).as("n_leaky_pairs"))
    }),

    "ta_sample" -> Query(
      """SELECT doc_id, lang FROM documents WHERE substr(md5(lang || ':' || CAST(doc_id AS VARCHAR)), 1, 8) < '33333333'""")((s, dir) => {
      // per-language 20% deterministic sample — no RNG, no shuffle
      ext.Sampling.stratifiedSample(T(s, dir, "documents"),
        col("lang"), col("doc_id"), 0.2)
        .select("doc_id", "lang")
    }),

    "ta_apportion" -> Query(
      """WITH g AS (SELECT source, count(*) AS n FROM documents GROUP BY 1),
         |t AS (SELECT source, n, (SELECT sum(n) FROM g) AS tot FROM g),
         |r AS (SELECT source, n, (1000 * n) // tot AS base, (1000 * n) % tot AS rem, row_number() OVER (ORDER BY (1000 * n) % tot DESC, source) AS rk FROM t),
         |l AS (SELECT 1000 - (SELECT sum(base) FROM r) AS leftover)
         |SELECT source, CAST(n AS BIGINT) AS n, CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT) AS quota FROM r, l""".stripMargin)((s, dir) => {
      // largest-remainder (Hamilton) apportionment: split a 1000-doc
      // budget across sources so quotas sum to the budget EXACTLY — all
      // integer math, windows over the #sources frame only
      ext.Sampling.apportion(T(s, dir, "documents"), "source", 1000L)
    }),

    "ta_quota_sample" -> Query(
      """WITH g AS (SELECT source, count(*) AS n FROM documents GROUP BY 1),
         |t AS (SELECT source, n, (SELECT sum(n) FROM g) AS tot FROM g),
         |r AS (SELECT source, n, (1000 * n) // tot AS base, (1000 * n) % tot AS rem, row_number() OVER (ORDER BY (1000 * n) % tot DESC, source) AS rk FROM t),
         |l AS (SELECT 1000 - (SELECT sum(base) FROM r) AS leftover),
         |q AS (SELECT source, base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS quota FROM r, l),
         |p AS (SELECT doc_id, source, row_number() OVER (PARTITION BY source ORDER BY md5('qs:' || CAST(doc_id AS VARCHAR)), doc_id) AS pk FROM documents)
         |SELECT doc_id, p.source, CAST(pk AS BIGINT) AS pick_rank FROM p JOIN q ON p.source = q.source WHERE pk <= quota""".stripMargin)((s, dir) => {
      // EXACT budget sampling: Hamilton quotas per source (Σ == 1000
      // exactly) filled by hash-deterministic per-source rank — the
      // composition of ta_apportion and md5-ordered selection. The
      // per-source sort is the price of exact quotas (the md5-threshold
      // ta_sample is the constant-time approximate alternative).
      val d = T(s, dir, "documents")
      val quotas = ext.Sampling.apportion(d, "source", 1000L)
        .select(col("source"), col("quota"))
      ext.Ranks.groupedRank(
          d.select(col("doc_id"), col("source"),
            md5(concat(lit("qs:"), col("doc_id").cast("string"))).as("__h__")),
          "source", Seq(col("__h__").asc, col("doc_id").asc), "rk")
        .join(quotas, Seq("source"))
        .filter(col("rk") <= col("quota"))
        .select(col("doc_id"), col("source"), col("rk").as("pick_rank"))
    }),

    "ta_mix" -> Query(
      // fraction 1.0 keeps ALL rows (not `< 'ffffffff'`, which drops keys
      // hashing to exactly ffffffff) — mirrors Sampling.keepFraction
      """SELECT doc_id, source FROM documents WHERE CASE source WHEN 'src0' THEN substr(md5(source || ':' || CAST(doc_id AS VARCHAR)), 1, 8) < '80000000' WHEN 'src1' THEN TRUE ELSE substr(md5(source || ':' || CAST(doc_id AS VARCHAR)), 1, 8) < '1999999a' END""")((s, dir) => {
      // weighted source mixing: per-stratum keep-fractions (up/down-
      // sampling rare/common sources deterministically, no RNG)
      ext.Sampling.stratifiedSample(T(s, dir, "documents"),
        col("source"), col("doc_id"),
        Map("src0" -> 0.5, "src1" -> 1.0), default = 0.1)
        .select("doc_id", "source")
    }),

    "ta_pack" -> Query(
      """WITH t AS (SELECT doc_id, lang, CAST(len(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS BIGINT) AS n_tokens FROM documents), c AS (SELECT doc_id, lang, n_tokens, COALESCE(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum FROM t) SELECT doc_id, lang, n_tokens, CAST(cum // 4096 AS BIGINT) AS bin, CAST(cum % 4096 AS BIGINT) AS bin_offset, CAST((cum + greatest(n_tokens, 1) - 1) // 4096 - cum // 4096 + 1 AS BIGINT) AS n_bins FROM c""")((s, dir) => {
      // chunked-concatenation sequence packing into 4096-token windows,
      // sharded by language (the cumsum window parallelizes across shards)
      val d = T(s, dir, "documents")
        .withColumn("n_tokens", ext.TextAnalysis.tokenCount(col("text")))
      ext.Sampling.packSequences(d, col("lang"), col("doc_id"),
        col("n_tokens"), 4096)
        .select("doc_id", "lang", "n_tokens", "bin", "bin_offset", "n_bins")
    }),

    "ta_vocab" -> Query(
      """SELECT token, count(*) AS n FROM (SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS token FROM documents) GROUP BY token ORDER BY n DESC, token LIMIT 20""")((s, dir) => {
      // vocabulary heavy hitters: top-20 corpus tokens (map-side combined
      // hash agg + TakeOrdered — no full sort)
      ext.TextAnalysis.topTokens(T(s, dir, "documents"), col("text"), 20)
    }),

    "ta_c4_dedup" -> Query(
      """WITH toks AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS t FROM documents), segs AS (SELECT doc_id, i AS seg_idx, array_to_string(t[(i*10+1):(i*10+10)], ' ') AS seg FROM (SELECT doc_id, t, unnest(range(CAST(ceil(len(t)/10.0) AS BIGINT))) AS i FROM toks)), ranked AS (SELECT doc_id, seg_idx, seg, row_number() OVER (PARTITION BY seg ORDER BY doc_id, seg_idx) AS rn FROM segs), kept AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_seg_kept, string_agg(seg, ' ' ORDER BY seg_idx) AS text_clean FROM ranked WHERE rn = 1 GROUP BY doc_id), tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_seg FROM segs GROUP BY doc_id) SELECT t.doc_id, t.n_seg, coalesce(k.n_seg_kept, 0) AS n_seg_kept, coalesce(k.text_clean, '') AS text_clean FROM tot t LEFT JOIN kept k USING (doc_id)""")((s, dir) => {
      // C4-style cross-document span dedup: duplicated 10-token spans keep
      // only the globally-first occurrence; docs reassembled from survivors
      ext.CorpusClean.c4Dedup(T(s, dir, "documents"), "doc_id", "text", 10)
    }),

    "ta_repetition" -> Query(
      """WITH toks AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS t FROM documents), segs AS (SELECT doc_id, list_transform(range(CAST(ceil(len(t)/10.0) AS BIGINT)), i -> array_to_string(t[(i*10+1):(i*10+10)], ' ')) AS sl, CASE WHEN len(t) >= 2 THEN list_transform(range(len(t)-1), i -> array_to_string(t[(i+1):(i+2)], ' ')) ELSE [] END AS g2 FROM toks), gr AS (SELECT doc_id, unnest(g2) AS g FROM segs), top AS (SELECT doc_id, CAST(max(n) AS BIGINT) AS top_gram2_n FROM (SELECT doc_id, g, count(*) AS n FROM gr GROUP BY doc_id, g) GROUP BY doc_id) SELECT s.doc_id, CAST(len(sl) AS BIGINT) AS n_seg, CAST(len(list_distinct(sl)) AS BIGINT) AS n_seg_distinct, CAST(len(g2) AS BIGINT) AS n_gram2, coalesce(top.top_gram2_n, 0) AS top_gram2_n FROM segs s LEFT JOIN top USING (doc_id)""")((s, dir) => {
      // Gopher-style repetition signals as exact integer pairs: duplicate
      // spans within doc + most-repeated-bigram mass
      ext.CorpusClean.repetitionStats(T(s, dir, "documents"), "doc_id", "text", 10)
    }),

    "ta_redact" -> Query(
      """WITH planted AS (SELECT doc_id, text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com or +' || lpad(CAST(doc_id % 900 + 100 AS VARCHAR), 3, '0') || '-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' at 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.1 now' AS t FROM documents) SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'), '\+?[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g'), '([0-9]{1,3}\.){3}[0-9]{1,3}', '<IP>', 'g') AS clean, CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email, CAST(len(regexp_extract_all(t, '\+?[0-9]{3}-[0-9]{3}-[0-9]{4}')) AS BIGINT) AS n_phone, CAST(len(regexp_extract_all(t, '([0-9]{1,3}\.){3}[0-9]{1,3}')) AS BIGINT) AS n_ip FROM planted""")((s, dir) => {
      // PII redaction round-trip: plant email/phone/IP derived from doc_id,
      // redact with fixed-order RE2-compatible regexes, count matches
      val planted = concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"), lit("@example.com or +"),
        lpad((col("doc_id") % 900 + 100).cast("string"), 3, "0"), lit("-555-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"), lit(" at 10."),
        (col("doc_id") % 256).cast("string"), lit(".0.1 now"))
      val (ne, np, ni) = ext.CorpusClean.piiCounts(planted)
      T(s, dir, "documents")
        .select(col("doc_id"), ext.CorpusClean.redactPii(planted).as("clean"),
          ne.as("n_email"), np.as("n_phone"), ni.as("n_ip"))
    }),

    "ta_pmi" -> Query(
      """WITH toks AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS t FROM documents), bg AS (SELECT t[i+1] AS w1, t[i+2] AS w2 FROM (SELECT t, unnest(range(len(t)-1)) AS i FROM toks WHERE len(t) >= 2)), c12 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM bg GROUP BY 1, 2), c1 AS (SELECT w1, CAST(count(*) AS BIGINT) AS c1 FROM bg GROUP BY 1), c2 AS (SELECT w2, CAST(count(*) AS BIGINT) AS c2 FROM bg GROUP BY 1), n AS (SELECT CAST(count(*) AS BIGINT) AS nb FROM bg) SELECT w1, w2, c12, CAST(round(ln(CAST(c12 * nb AS DOUBLE) / CAST(c1 * c2 AS DOUBLE)) * 1000000) AS BIGINT) AS pmi_micro FROM c12 JOIN c1 USING (w1) JOIN c2 USING (w2) CROSS JOIN n WHERE c12 >= 5 AND c12 * nb > c1 * c2 ORDER BY pmi_micro DESC, w1, w2 LIMIT 50""")((s, dir) => {
      // collocation extraction: top-50 bigrams by PMI (min count 5) —
      // positive-PMI filter is an exact integer predicate, score is
      // micro-nat fixed point, ties broken lexically ⇒ exact top-k
      ext.LangModel.collocations(T(s, dir, "documents"), "doc_id", "text",
        minCount = 5, topK = 50)
    }),

    "ta_markup" -> Query(
      """WITH h AS (SELECT doc_id, '<html><head><style>p { color: red; }</style></head><body><h1>Doc ' || CAST(doc_id AS VARCHAR) || '</h1>' || chr(10) || '<p class="body">' || text || ' &amp; more &lt;soon&gt;</p>' || chr(10) || '<script>var x = 1 && 2;</script></body></html>' AS html FROM documents), s AS (SELECT doc_id, regexp_replace(regexp_replace(html, '(?s)<(script|style)[^>]*>.*?</(script|style)>', ' ', 'g'), '<[^>]+>', ' ', 'g') AS t FROM h), d AS (SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(t, '&lt;', '<', 'g'), '&gt;', '>', 'g'), '&quot;', '"', 'g'), '&#39;', CHR(39), 'g'), '&nbsp;', ' ', 'g'), '&amp;', '&', 'g') AS t FROM s) SELECT doc_id, trim(regexp_replace(t, '\s+', ' ', 'g')) AS clean_text FROM d""")((s, dir) => {
      // html → text extraction (the WET step): wrap each doc in markup
      // with a style block, entities and a script block, then strip with
      // the RE2-compatible chain — oracle replays the identical patterns
      val html = concat(
        lit("<html><head><style>p { color: red; }</style></head><body><h1>Doc "),
        col("doc_id").cast("string"),
        lit("</h1>\n<p class=\"body\">"), col("text"),
        lit(" &amp; more &lt;soon&gt;</p>\n<script>var x = 1 && 2;</script></body></html>"))
      T(s, dir, "documents")
        .select(col("doc_id"), ext.CorpusClean.stripMarkup(html).as("clean_text"))
    }),

    "ta_decontam" -> Query(
      """WITH toks AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS t FROM documents), grams AS (SELECT doc_id, unnest(CASE WHEN len(t) >= 8 THEN list_transform(range(len(t)-7), i -> array_to_string(t[(i+1):(i+8)], ' ')) ELSE [] END) AS g FROM toks), bench AS (SELECT DISTINCT g FROM grams WHERE doc_id IN (SELECT doc_id FROM documents WHERE substr(md5(CAST(doc_id AS VARCHAR)),1,8) < '0ccccccd')), hits AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits FROM grams WHERE g IN (SELECT g FROM bench) GROUP BY doc_id) SELECT d.doc_id, coalesce(h.n_hits, 0) AS n_hits, coalesce(h.n_hits, 0) > 0 AS contaminated FROM documents d LEFT JOIN hits h USING (doc_id)""")((s, dir) => {
      // benchmark decontamination: docs sharing any word 8-gram with the
      // deterministic 5% hash-sample "benchmark"; bench grams broadcast,
      // corpus text never shuffles
      val docs = T(s, dir, "documents")
      val bench = ext.Sampling.hashSample(docs, col("doc_id"), 0.05)
      ext.CorpusClean.decontaminate(docs, bench, "doc_id", "text", 8)
    }),

    "ta_chunks" -> Query(
      """WITH toks AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS t FROM documents), c AS (SELECT doc_id, t, unnest(range((len(t) + 39) // 40)) AS i FROM toks WHERE len(t) > 0) SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx, CAST(len(t[(i*40+1):(i*40+50)]) AS BIGINT) AS n_chunk_tokens, array_to_string(t[(i*40+1):(i*40+50)], ' ') AS chunk_text FROM c""")((s, dir) => {
      // RAG-style overlapping chunking: 50-token windows, stride 40 —
      // pure array expressions, zero shuffles
      ext.TextAnalysis.chunk(T(s, dir, "documents"), "doc_id", "text",
        window = 50, stride = 40)
        .withColumnRenamed("id", "doc_id")
    }),

    "ta_perplexity" -> Query(
      """WITH toks AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS t FROM documents), train AS (SELECT doc_id, t FROM toks WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '80000000'), tbg AS (SELECT t[i+1] AS w1, t[i+2] AS w2 FROM (SELECT t, unnest(range(len(t)-1)) AS i FROM train WHERE len(t) >= 2)), c12 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM tbg GROUP BY 1, 2), c1 AS (SELECT w1, CAST(count(*) AS BIGINT) AS c1 FROM tbg GROUP BY 1), v AS (SELECT greatest(CAST(count(DISTINCT x) AS DOUBLE), 1) AS vsz FROM (SELECT unnest(t) AS x FROM train)), dbg AS (SELECT doc_id, t[i+1] AS w1, t[i+2] AS w2 FROM (SELECT doc_id, t, unnest(range(len(t)-1)) AS i FROM toks WHERE len(t) >= 2)), terms AS (SELECT doc_id, CAST(round(-ln((coalesce(c12.c12, 0) + 0.5) / (coalesce(c1.c1, 0) + 0.5 * v.vsz)) * 1000000) AS BIGINT) AS m FROM dbg LEFT JOIN c12 USING (w1, w2) LEFT JOIN c1 USING (w1) CROSS JOIN v), agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams, CAST(sum(m) AS BIGINT) AS nll_micro FROM terms GROUP BY 1) SELECT d.doc_id, coalesce(a.n_bigrams, 0) AS n_bigrams, coalesce(a.nll_micro, 0) AS nll_micro FROM documents d LEFT JOIN agg a USING (doc_id)""")((s, dir) => {
      // CCNet-style LM quality filter: add-k bigram model trained on a
      // deterministic hash-half of the corpus, every doc scored by total
      // NLL; terms fixed-pointed to micro-nats so the sum is order-free
      ext.LangModel.bigramNll(T(s, dir, "documents"), "doc_id", "text")
    }),

    "ta_sample_n" -> Query(
      """SELECT doc_id, lang FROM (SELECT doc_id, lang, row_number() OVER (PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn FROM documents) WHERE rn <= 5""")((s, dir) => {
      // deterministic quota sampling: exactly 5 docs per language by md5
      // order — the reproducible "n examples per stratum" picker
      ext.Sampling.sampleNPerStratum(T(s, dir, "documents"),
        col("lang"), col("doc_id"), 5)
        .select("doc_id", "lang")
    }),
    // ta_overlap: grams compare as the same 60-bit md5 slice in both
    // engines ('0x'||hex replays Spark's conv)
    "ta_overlap" -> Query(
      """WITH toks AS (SELECT source, list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS t FROM documents), gs AS (SELECT source, unnest(CASE WHEN len(t) >= 8 THEN list_transform(range(len(t)-7), i -> array_to_string(t[(i+1):(i+8)], ' ')) ELSE [] END) AS gm FROM toks), g AS (SELECT DISTINCT source, CAST('0x' || substr(md5(gm), 1, 15) AS BIGINT) AS g FROM gs) SELECT a.source AS src_a, b.source AS src_b, CAST(count(*) AS BIGINT) AS shared_grams FROM g a JOIN g b ON a.g = b.g AND a.source < b.source GROUP BY 1, 2""")((s, dir) => {
      // cross-source contamination matrix: pairwise shared-8-gram counts
      // between sources — the "how much did crawl A leak into crawl B"
      // report. No gram self-join: one groupBy(gram) collects each
      // gram's sorted source set (≤|sources|) and emits its ordered
      // pairs inline — pair fan-out bounded by |sources|² per gram, not
      // by join machinery (round 4 shipped a string self-join here).
      // Grams ride as 60-bit md5 fingerprints so the distinct + groupBy
      // shuffle 8-byte longs instead of ~50-byte strings (the oracle
      // replays the identical slice; distinct grams collide only at
      // ~2⁻⁶⁰ — the xxhash64-band-key tradeoff, applied to shuffle IO)
      // fanOut: 8-gram explode + md5-per-gram is the query's CPU (r12
      // ProbeJobs: 5.6 s single-task stage); no-op at natural parallelism
      val g = ext.Par.fanOut(T(s, dir, "documents"))
        .select(col("source"), explode(ext.Dedup.wordNgrams(col("text"), 8)).as("gs"))
        .select(col("source"),
          expr("CAST(conv(substring(md5(gs), 1, 15), 16, 10) AS BIGINT)").as("g"))
        .distinct()
      g.groupBy("g").agg(array_sort(collect_set(col("source"))).as("ss"))
        .filter(size(col("ss")) >= 2)
        .select(explode(expr(
          "flatten(transform(ss, (x, i) -> transform(slice(ss, i + 2, size(ss)), y -> struct(x AS src_a, y AS src_b))))")).as("p"))
        .groupBy(col("p.src_a").as("src_a"), col("p.src_b").as("src_b"))
        .agg(count(lit(1)).as("shared_grams"))
    }),

    "ta_source_stats" -> Query(
      """WITH base AS (SELECT source, text, list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks FROM documents), comp AS (SELECT source, CAST(len(toks) AS BIGINT) AS n_tokens, CAST(len(toks) AS DOUBLE) AS ntok, CASE WHEN length(text) > 0 THEN (length(text) - length(regexp_replace(text, '[!-/:-@\[-`{-~]', '', 'g'))) / CAST(length(text) AS DOUBLE) ELSE 0 END AS pr, CASE WHEN len(toks) > 0 THEN CAST(len(list_filter(toks, t -> list_contains(['the','a','an','and','or','of','to','in','is','it','that','for','on','with','as','was','at','by','be','this'], t))) AS DOUBLE) / len(toks) ELSE 0 END AS sr, CASE WHEN len(toks) > 0 THEN CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE) / len(toks) ELSE 0 END AS mtl FROM base), scored AS (SELECT source, n_tokens, CAST(floor((CAST(CASE WHEN ntok >= 50 AND ntok <= 10000 THEN 1.0 WHEN ntok >= 10 THEN 0.5 ELSE 0.1 END AS DOUBLE) * 0.3 + (1.0 - least(pr * 4, 1.0)) * 0.2 + least(sr * 3, 1.0) * 0.3 + CAST(CASE WHEN mtl >= 3 AND mtl <= 10 THEN 1.0 ELSE 0.3 END AS DOUBLE) * 0.2) * 10000) AS BIGINT) AS quality_bp FROM comp) SELECT source, CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS total_tokens, CAST(sum(quality_bp) AS BIGINT) AS quality_bp_sum, CAST(min(quality_bp) AS BIGINT) AS quality_bp_min, CAST(max(quality_bp) AS BIGINT) AS quality_bp_max FROM scored GROUP BY 1""")((s, dir) => {
      // per-source corpus report card: doc count, token volume, integer
      // quality sums (exact — a float mean could not hash-match)
      val d = T(s, dir, "documents")
        .withColumn("quality_bp",
          floor(ext.TextAnalysis.rawQualityScore(col("text")) * 10000).cast("long"))
        .withColumn("n_tokens", ext.TextAnalysis.tokenCount(col("text")))
      d.groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        sum(col("quality_bp")).as("quality_bp_sum"),
        min(col("quality_bp")).as("quality_bp_min"),
        max(col("quality_bp")).as("quality_bp_max"))
    }),
    // ta_bleu: identical clipped-count joins; the two ln-per-source
    // roundings are the only doubles, same op order
    "ta_bleu" -> Query(
      """WITH pr AS (SELECT h.doc_id AS pid, h.source,
             list_filter(string_split_regex(lower(h.text), '\s+'), x -> x <> '') AS t,
             list_filter(string_split_regex(lower(r.text), '\s+'), x -> x <> '') AS rt
           FROM documents h JOIN documents r ON r.doc_id = h.doc_id + 1 WHERE h.doc_id % 2 = 0),
         base AS (SELECT pid, source, CAST(len(t) AS BIGINT) AS c, CAST(len(rt) AS BIGINT) AS r FROM pr),
         h1c AS (SELECT pid, g, count(*) AS ch FROM (SELECT pid, unnest(t) AS g FROM pr) GROUP BY 1, 2),
         r1c AS (SELECT pid, g, count(*) AS cr FROM (SELECT pid, unnest(rt) AS g FROM pr) GROUP BY 1, 2),
         p1 AS (SELECT pid, CAST(sum(least(h.ch, r.cr)) AS BIGINT) AS p1_num FROM h1c h JOIN r1c r USING (pid, g) GROUP BY 1),
         d1 AS (SELECT pid, CAST(sum(ch) AS BIGINT) AS p1_den FROM h1c GROUP BY 1),
         h2c AS (SELECT pid, g, count(*) AS ch FROM (SELECT pid, unnest(CASE WHEN len(t) >= 2 THEN list_transform(range(len(t) - 1), i -> array_to_string(t[(CAST(i AS INTEGER)+1):(CAST(i AS INTEGER)+2)], ' ')) ELSE [] END) AS g FROM pr) GROUP BY 1, 2),
         r2c AS (SELECT pid, g, count(*) AS cr FROM (SELECT pid, unnest(CASE WHEN len(rt) >= 2 THEN list_transform(range(len(rt) - 1), i -> array_to_string(rt[(CAST(i AS INTEGER)+1):(CAST(i AS INTEGER)+2)], ' ')) ELSE [] END) AS g FROM pr) GROUP BY 1, 2),
         p2 AS (SELECT pid, CAST(sum(least(h.ch, r.cr)) AS BIGINT) AS p2_num FROM h2c h JOIN r2c r USING (pid, g) GROUP BY 1),
         d2 AS (SELECT pid, CAST(sum(ch) AS BIGINT) AS p2_den FROM h2c GROUP BY 1),
         agg AS (SELECT b.source, CAST(count(*) AS BIGINT) AS n_pairs,
             CAST(sum(b.c) AS BIGINT) AS c_total, CAST(sum(b.r) AS BIGINT) AS r_total,
             CAST(sum(coalesce(p1.p1_num, 0)) AS BIGINT) AS p1_num,
             CAST(sum(coalesce(d1.p1_den, 0)) AS BIGINT) AS p1_den,
             CAST(sum(coalesce(p2.p2_num, 0)) AS BIGINT) AS p2_num,
             CAST(sum(coalesce(d2.p2_den, 0)) AS BIGINT) AS p2_den
           FROM base b LEFT JOIN p1 USING (pid) LEFT JOIN d1 USING (pid)
             LEFT JOIN p2 USING (pid) LEFT JOIN d2 USING (pid) GROUP BY 1),
         f AS (SELECT *, CASE WHEN c_total >= r_total THEN CAST(0 AS BIGINT)
             ELSE -CAST(((r_total - c_total) * 1000000) // c_total AS BIGINT) END AS bp_micro FROM agg)
         SELECT source, n_pairs, c_total, r_total, p1_num, p1_den, p2_num, p2_den, bp_micro,
           CASE WHEN p1_num = 0 OR p2_num = 0 OR p1_den = 0 OR p2_den = 0 THEN NULL
             ELSE bp_micro - ((-(CAST(round(ln(CAST(p1_num AS DOUBLE) / p1_den) * 1000000) AS BIGINT)
                 + CAST(round(ln(CAST(p2_num AS DOUBLE) / p2_den) * 1000000) AS BIGINT))) // 2) END AS log_bleu_micro
         FROM f""")((s, dir) => {
      // corpus BLEU-2 (Papineni et al. 2002) between adjacent document
      // pairs (even doc = hypothesis, its successor = reference) rolled
      // up per source — the generation-eval metric next to ta_rouge's
      // recall overlap. Clipped n-gram counts are exact integers
      // (Σ min(count_hyp, count_ref) via one grouped join per order, no
      // pairwise token loops); the brevity penalty is an integer
      // rational; the only doubles are one ln per precision order per
      // SOURCE (5 rows), each rounded once to micro-nats — the
      // ta_entropy discipline. Pairing is an equi-join on doc_id + 1,
      // not a window: no per-source sort at any scale.
      // fanOut: the gram explodes over BOTH texts (×3 consumers of `pr`)
      // are the CPU and ran in the single scan partition (r12 ProbeJobs:
      // three overlapping ~2.5 s single-task stages)
      val d = ext.Par.fanOut(T(s, dir, "documents"))
      val pr = d.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id").as("pid"), col("source"), col("text").as("htext"))
        .join(d.select((col("doc_id") - 1).as("pid"), col("text").as("rtext")),
          "pid")
      val base = pr.select(col("pid"), col("source"),
        ext.TextAnalysis.tokenCount(col("htext")).as("c"),
        ext.TextAnalysis.tokenCount(col("rtext")).as("r"))
      def grams(n: Int, c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        if (n == 1) ext.Dedup.tokens(c) else ext.Dedup.wordNgrams(c, n)
      def clipped(n: Int): DataFrame = {
        val hg = pr.select(col("pid"), explode(grams(n, col("htext"))).as("g"))
          .groupBy("pid", "g").agg(count(lit(1)).as("ch"))
        val rg = pr.select(col("pid"), explode(grams(n, col("rtext"))).as("g"))
          .groupBy("pid", "g").agg(count(lit(1)).as("cr"))
        hg.groupBy("pid").agg(sum(col("ch")).as(s"p${n}_den"))
          .join(hg.join(rg, Seq("pid", "g"))
            .groupBy("pid").agg(sum(least(col("ch"), col("cr"))).as(s"p${n}_num")),
            Seq("pid"), "left")
          .na.fill(0L, Seq(s"p${n}_num"))
      }
      base.join(clipped(1), Seq("pid"), "left").join(clipped(2), Seq("pid"), "left")
        .na.fill(0L, Seq("p1_num", "p1_den", "p2_num", "p2_den"))
        .groupBy("source").agg(count(lit(1)).as("n_pairs"),
          sum("c").as("c_total"), sum("r").as("r_total"),
          sum("p1_num").as("p1_num"), sum("p1_den").as("p1_den"),
          sum("p2_num").as("p2_num"), sum("p2_den").as("p2_den"))
        .withColumn("bp_micro", expr("""CASE WHEN c_total >= r_total
             THEN CAST(0 AS BIGINT)
             ELSE -CAST(((r_total - c_total) * 1000000) div c_total AS BIGINT) END"""))
        .withColumn("log_bleu_micro", expr(
          """CASE WHEN p1_num = 0 OR p2_num = 0 OR p1_den = 0 OR p2_den = 0 THEN NULL
             ELSE bp_micro - ((-(CAST(round(ln(CAST(p1_num AS DOUBLE) / p1_den) * 1000000) AS BIGINT)
                 + CAST(round(ln(CAST(p2_num AS DOUBLE) / p2_den) * 1000000) AS BIGINT))) div 2) END"""))
    }),
    // ta_kappa: the qualityScoreOracleSql rater vs the 50-token length
    // rater; same exact-integer contingency, HUGEINT marginal products,
    // |numerator|-with-sign division so negative kappa agrees
    "ta_kappa" -> Query(
      """WITH base AS (SELECT doc_id, text, list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks FROM documents),
         comp AS (SELECT doc_id, len(toks) AS n_toks, CAST(len(toks) AS DOUBLE) AS ntok, CASE WHEN length(text) > 0 THEN (length(text) - length(regexp_replace(text, '[!-/:-@\[-`{-~]', '', 'g'))) / CAST(length(text) AS DOUBLE) ELSE 0 END AS pr, CASE WHEN len(toks) > 0 THEN CAST(len(list_filter(toks, t -> list_contains(['the','a','an','and','or','of','to','in','is','it','that','for','on','with','as','was','at','by','be','this'], t))) AS DOUBLE) / len(toks) ELSE 0 END AS sr, CASE WHEN len(toks) > 0 THEN CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE) / len(toks) ELSE 0 END AS mtl FROM base),
         lab AS (SELECT CASE WHEN floor((CAST(CASE WHEN ntok >= 50 AND ntok <= 10000 THEN 1.0 WHEN ntok >= 10 THEN 0.5 ELSE 0.1 END AS DOUBLE) * 0.3 + (1.0 - least(pr * 4, 1.0)) * 0.2 + least(sr * 3, 1.0) * 0.3 + CAST(CASE WHEN mtl >= 3 AND mtl <= 10 THEN 1.0 ELSE 0.3 END AS DOUBLE) * 0.2) * 10000) >= 5000 THEN 1 ELSE 0 END AS a, CASE WHEN n_toks >= 50 THEN 1 ELSE 0 END AS b FROM comp),
         c AS (SELECT count(*) AS n, sum(CASE WHEN a = 1 AND b = 1 THEN 1 ELSE 0 END) AS n11, sum(CASE WHEN a = 1 AND b = 0 THEN 1 ELSE 0 END) AS n10, sum(CASE WHEN a = 0 AND b = 1 THEN 1 ELSE 0 END) AS n01, sum(CASE WHEN a = 0 AND b = 0 THEN 1 ELSE 0 END) AS n00 FROM lab),
         k AS (SELECT n, n11, n10, n01, n00, (n11 + n10)::HUGEINT * (n11 + n01) + (n01 + n00)::HUGEINT * (n10 + n00) AS pm FROM c)
         SELECT CAST(n AS BIGINT) AS n_docs, CAST(n11 AS BIGINT) AS n11, CAST(n10 AS BIGINT) AS n10, CAST(n01 AS BIGINT) AS n01, CAST(n00 AS BIGINT) AS n00,
           CAST((n11 + n00) * 1000000 // n AS BIGINT) AS po_micro,
           CAST((pm * 1000000) // (n::HUGEINT * n) AS BIGINT) AS pe_micro,
           CAST(CASE WHEN n::HUGEINT * (n11 + n00) - pm >= 0
                THEN ((n::HUGEINT * (n11 + n00) - pm) * 1000000) // greatest(n::HUGEINT * n - pm, 1)
                ELSE -((-(n::HUGEINT * (n11 + n00) - pm)) * 1000000) // greatest(n::HUGEINT * n - pm, 1) END AS BIGINT) AS kappa_micro
         FROM k""")((s, dir) => {
      // inter-annotator agreement (Cohen's kappa, 1960) between two
      // independent curation raters — the reliability check an RLHF /
      // labeling pipeline runs before trusting its labels. Rater A =
      // composite quality gate (ta_curate's quality_bp >= 5000), rater
      // B = length gate (>= 50 tokens). The 2×2 contingency is exact
      // integers; po, pe and kappa ride micro fixed point with the
      // N²-scale products in DECIMAL(38,0) (HUGEINT oracle) so a
      // trillion-doc corpus cannot wrap. kappa can be NEGATIVE (worse
      // than chance), so the division runs on |numerator| with an
      // explicit sign — Spark's `div` and DuckDB's `//` agree on
      // nonnegative operands only.
      val d = T(s, dir, "documents")
        .select(
          (floor(ext.TextAnalysis.rawQualityScore(col("text")) * 10000) >= 5000)
            .cast("int").as("a"),
          (ext.TextAnalysis.tokenCount(col("text")) >= 50).cast("int").as("b"))
      d.agg(
          count(lit(1)).as("n"),
          sum(when(col("a") === 1 && col("b") === 1, 1L).otherwise(0L)).as("n11"),
          sum(when(col("a") === 1 && col("b") === 0, 1L).otherwise(0L)).as("n10"),
          sum(when(col("a") === 0 && col("b") === 1, 1L).otherwise(0L)).as("n01"),
          sum(when(col("a") === 0 && col("b") === 0, 1L).otherwise(0L)).as("n00"))
        // chance-agreement mass pm = Σ marginal products; kappa =
        // (N·agree − pm) / (N² − pm), all DECIMAL(38,0)
        .withColumn("pm", expr("""CAST(n11 + n10 AS DECIMAL(38,0)) * (n11 + n01)
                 + CAST(n01 + n00 AS DECIMAL(38,0)) * (n10 + n00)"""))
        .withColumn("kn", expr("CAST(n AS DECIMAL(38,0)) * (n11 + n00) - pm"))
        // kd = N² − pm is 0 iff both raters are constant (pm = N²); the
        // greatest(…, 1) guard makes that degenerate corpus read kappa = 0
        // on BOTH engines (Spark non-ANSI would yield NULL, DuckDB // would
        // raise — they diverge without it); kn = 0 there too, so the guard
        // never changes a non-degenerate result
        .withColumn("kd", expr("greatest(CAST(n AS DECIMAL(38,0)) * n - pm, 1)"))
        .select(col("n").as("n_docs"), col("n11"), col("n10"), col("n01"), col("n00"),
          expr("CAST((n11 + n00) * 1000000 div n AS BIGINT)").as("po_micro"),
          expr("CAST((pm * 1000000) div (CAST(n AS DECIMAL(38,0)) * n) AS BIGINT)")
            .as("pe_micro"),
          expr("""CAST(CASE WHEN kn >= 0 THEN (kn * 1000000) div kd
                 ELSE -((-kn * 1000000) div kd) END AS BIGINT)""").as("kappa_micro"))
    }),

    "ta_curate" -> Query(
      """WITH base AS (SELECT doc_id, lang, text, list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks FROM documents), comp AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS ntok, CASE WHEN length(text) > 0 THEN (length(text) - length(regexp_replace(text, '[!-/:-@\[-`{-~]', '', 'g'))) / CAST(length(text) AS DOUBLE) ELSE 0 END AS pr, CASE WHEN len(toks) > 0 THEN CAST(len(list_filter(toks, t -> list_contains(['the','a','an','and','or','of','to','in','is','it','that','for','on','with','as','was','at','by','be','this'], t))) AS DOUBLE) / len(toks) ELSE 0 END AS sr, CASE WHEN len(toks) > 0 THEN CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE) / len(toks) ELSE 0 END AS mtl FROM base), q AS (SELECT doc_id FROM comp WHERE CAST(floor((CAST(CASE WHEN ntok >= 50 AND ntok <= 10000 THEN 1.0 WHEN ntok >= 10 THEN 0.5 ELSE 0.1 END AS DOUBLE) * 0.3 + (1.0 - least(pr * 4, 1.0)) * 0.2 + least(sr * 3, 1.0) * 0.3 + CAST(CASE WHEN mtl >= 3 AND mtl <= 10 THEN 1.0 ELSE 0.3 END AS DOUBLE) * 0.2) * 10000) AS BIGINT) >= 5000), scores AS (SELECT doc_id, 'en' AS lang_guess, CASE WHEN len(toks) > 0 THEN CAST(len(list_filter(toks, t -> list_contains(['the','a','an','and','or','of','to','in','is','it','that','for','on','with','as','was','at','by','be','this'], t))) AS DOUBLE) / len(toks) ELSE 0 END AS score FROM base UNION ALL SELECT doc_id, 'fr', CASE WHEN len(toks) > 0 THEN CAST(len(list_filter(toks, t -> list_contains(['le','la','les','de','des','un','une','et','ou','dans','est','que','pour','sur','avec','au','du','il','elle','ce'], t))) AS DOUBLE) / len(toks) ELSE 0 END FROM base UNION ALL SELECT doc_id, 'de', CASE WHEN len(toks) > 0 THEN CAST(len(list_filter(toks, t -> list_contains(['der','die','das','und','oder','von','zu','in','ist','es','dass','für','auf','mit','als','war','bei','sein','ein','eine'], t))) AS DOUBLE) / len(toks) ELSE 0 END FROM base UNION ALL SELECT doc_id, 'es', CASE WHEN len(toks) > 0 THEN CAST(len(list_filter(toks, t -> list_contains(['el','la','los','las','de','un','una','y','o','en','es','que','para','sobre','con','al','del','se','por','este'], t))) AS DOUBLE) / len(toks) ELSE 0 END FROM base UNION ALL SELECT doc_id, 'it', CASE WHEN len(toks) > 0 THEN CAST(len(list_filter(toks, t -> list_contains(['il','la','le','di','dei','un','una','e','o','in','è','che','per','su','con','al','del','si','da','questo'], t))) AS DOUBLE) / len(toks) ELSE 0 END FROM base), en AS (SELECT doc_id FROM (SELECT doc_id, lang_guess, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang_guess DESC) AS rn FROM scores) WHERE rn = 1 AND lang_guess = 'en'), gated AS (SELECT b.doc_id, b.lang, b.text, b.toks FROM base b JOIN q USING (doc_id) JOIN en USING (doc_id)), keep AS (SELECT min(doc_id) AS doc_id FROM gated GROUP BY md5(text)), dd AS (SELECT g.* FROM gated g JOIN keep USING (doc_id)), grams AS (SELECT doc_id, unnest(CASE WHEN len(toks) >= 8 THEN list_transform(range(len(toks)-7), i -> array_to_string(toks[(i+1):(i+8)], ' ')) ELSE [] END) AS g FROM dd), benchg AS (SELECT DISTINCT g FROM (SELECT doc_id, unnest(CASE WHEN len(toks) >= 8 THEN list_transform(range(len(toks)-7), i -> array_to_string(toks[(i+1):(i+8)], ' ')) ELSE [] END) AS g FROM base WHERE substr(md5(CAST(doc_id AS VARCHAR)),1,8) < '0ccccccd')), contam AS (SELECT DISTINCT doc_id FROM grams WHERE g IN (SELECT g FROM benchg)), train AS (SELECT dd.doc_id, dd.lang, CAST(len(dd.toks) AS BIGINT) AS n_tokens FROM dd WHERE dd.doc_id NOT IN (SELECT doc_id FROM contam) AND substr(md5(CAST(dd.doc_id AS VARCHAR)), 1, 8) < 'cccccccd'), c AS (SELECT doc_id, lang, n_tokens, COALESCE(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum FROM train) SELECT doc_id, lang, n_tokens, CAST(cum // 2048 AS BIGINT) AS bin, CAST(cum % 2048 AS BIGINT) AS bin_offset FROM c""")((s, dir) => {
      // the WHOLE curation pipeline as ONE lazy plan — quality gate →
      // language gate → exact dedup → benchmark decontamination → train
      // split → sequence packing — every stage individually oracled
      // elsewhere, composed here and hash-matched END TO END (the "could
      // a user run their curation on this" proof)
      val d = T(s, dir, "documents")
      val gated = d
        .withColumn("quality_bp",
          floor(ext.TextAnalysis.rawQualityScore(col("text")) * 10000).cast("long"))
        .filter(col("quality_bp") >= 5000)
        .filter(ext.TextAnalysis.langId(col("text")) === "en")
      val deduped = ext.Dedup.exactDedup(gated, Seq(md5(col("text"))), col("doc_id"))
      val bench = d.filter(substring(md5(col("doc_id").cast("string")), 1, 8) < "0ccccccd")
      val clean = deduped.join(
        ext.CorpusClean.decontaminate(deduped, bench, "doc_id", "text", 8)
          .filter(!col("contaminated")).select("doc_id"), "doc_id")
      val train = ext.Sampling.hashSplit(clean, col("doc_id"))
        .filter(col("split") === "train")
      val withTok = train.withColumn("n_tokens", ext.TextAnalysis.tokenCount(col("text")))
      ext.Sampling.packSequences(withTok, col("lang"), col("doc_id"),
        col("n_tokens"), 2048)
        .select("doc_id", "lang", "n_tokens", "bin", "bin_offset")
    }),

    "ta_wordpiece" -> Query(
      """WITH RECURSIVE toks AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS t FROM documents), allw AS (SELECT unnest(t) AS w FROM toks), top AS (SELECT w FROM (SELECT w, count(*) AS c FROM allw GROUP BY w) QUALIFY row_number() OVER (ORDER BY c DESC, w) <= 200), vocab AS (SELECT DISTINCT piece FROM (SELECT w AS piece FROM top UNION ALL SELECT unnest(['a','b','c','d','e','f','g','h','i','j','k','l','m','n','o','p','q','r','s','t','u','v','w','x','y','z','0','1','2','3','4','5','6','7','8','9']))), words AS (SELECT DISTINCT w FROM allw), m AS (SELECT w, 1 AS pos, 0 AS n_tok, FALSE AS unk FROM words UNION ALL SELECT w, pos + best_len, n_tok + 1, best_len IS NULL FROM (SELECT m.w, m.pos, m.n_tok, (SELECT max(len(piece)) FROM vocab WHERE piece = substr(m.w, m.pos, len(piece))) AS best_len FROM m WHERE NOT m.unk AND m.pos <= len(m.w))), ws AS (SELECT w, max(CASE WHEN unk THEN -1 ELSE n_tok END) AS n_pieces FROM m WHERE unk OR pos > len(w) GROUP BY w), dw AS (SELECT doc_id, unnest(t) AS w FROM toks), agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words, CAST(sum(CASE WHEN n_pieces < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_unk_words, CAST(sum(CASE WHEN n_pieces > 0 THEN n_pieces ELSE 0 END) AS BIGINT) AS n_pieces FROM dw JOIN ws USING (w) GROUP BY 1) SELECT d.doc_id, coalesce(a.n_words, 0) AS n_words, coalesce(a.n_unk_words, 0) AS n_unk_words, coalesce(a.n_pieces, 0) AS n_pieces FROM documents d LEFT JOIN agg a USING (doc_id)""")((s, dir) => {
      // REAL subword tokenization: greedy longest-match against the
      // corpus top-200 + [a-z0-9] vocabulary, applied to distinct words
      // (dictionary encoding); oracle replays the exact greedy walk as a
      // DuckDB recursive CTE
      ext.TextAnalysis.wordpieceStats(T(s, dir, "documents"), "doc_id", "text", 200)
    }),

    "ta_bpe" -> Query(bpeOracleSql)((s, dir) => {
      // BPE merge TRAINING (Sennrich 2016): learn the top-8 merge rules
      // from dictionary-encoded pair statistics; every intermediate
      // symbol state is bit-identical across engines (sentinel-delimited
      // replace), so the oracle replays all 8 unrolled steps exactly
      ext.Bpe.trainMerges(T(s, dir, "documents"), "text", 8)
    }),
    // ta_entropy: char extraction replayed positionally (text[i:i] is
    // character-indexed like Spark's split-by-empty on BMP text); the
    // micro-nat term rounding agrees because ln() on both engines is
    // within 1 ulp and no integer count lands near a .5e-6 boundary
    // (EntropySpec proves the margin for every count up to 200k)
    "ta_entropy" -> Query(
      """WITH ch AS (SELECT doc_id, unnest(list_transform(range(length(text)), i -> text[CAST(i AS INTEGER)+1 : CAST(i AS INTEGER)+1])) AS ch FROM documents),
         |g AS (SELECT doc_id, ch, count(*) AS c FROM ch WHERE ch NOT IN (' ', chr(9), chr(10), chr(13)) GROUP BY 1, 2),
         |a AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_chars, CAST(sum(c * CAST(round(ln(CAST(c AS DOUBLE)) * 1e6) AS BIGINT)) AS BIGINT) AS clnc_micro FROM g GROUP BY 1)
         |SELECT d.doc_id, coalesce(a.n_chars, 0) AS n_chars, coalesce(a.clnc_micro, 0) AS clnc_micro FROM documents d LEFT JOIN a ON d.doc_id = a.doc_id""".stripMargin)((s, dir) => {
      // character-entropy quality signal (gibberish/boilerplate detector):
      // per-doc char histogram → the integer pieces of Shannon entropy
      // H = ln N − (Σ c·ln c)/N, fixed-pointed per TERM (c · round(ln c
      // ·10⁶) as long — micro-nat trick from ta_perplexity) so the sums
      // are order-free and engine-exact; whitespace excluded
      val d = T(s, dir, "documents")
      val chars = d.select(col("doc_id"),
        explode(filter(split(col("text"), ""),
          x => !(x === "" || x === " " || x === "\t" || x === "\n" || x === "\r"))).as("ch"))
      val agg = chars.groupBy("doc_id", "ch").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(sum(col("c")).as("n_chars"),
          sum(col("c") * round(log(col("c").cast("double")) * 1e6).cast("long")).as("clnc_micro"))
      d.select("doc_id").join(agg, Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("n_chars"), lit(0L)).as("n_chars"),
          coalesce(col("clnc_micro"), lit(0L)).as("clnc_micro"))
    }),

    "ta_bpe_apply" -> Query(bpeApplyOracleSql)((s, dir) => {
      // the APPLY side of the tokenizer lifecycle: train 8 merges, then
      // tokenize the whole corpus with them — per-doc word/subword counts
      // (the compression the tokenizer actually buys); merges fold once
      // per DISTINCT word (dictionary encoding), not once per token
      val d = T(s, dir, "documents")
      val merges = ext.Bpe.learn(d, "text", 8).map { case (l, r, _) => (l, r) }
      ext.Bpe.tokenize(d, "doc_id", "text", merges)
    }),

    "ta_feathash" -> Query(
      """WITH toks AS (SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS tok FROM documents) SELECT doc_id, CAST('0x' || substr(md5(tok), 1, 8) AS BIGINT) % 256 AS dim, CAST(count(*) AS BIGINT) AS cnt FROM toks GROUP BY 1, 2""")((s, dir) => {
      // the hashing trick (Weinberger et al. 2009): tokens → fixed 256-dim
      // sparse counts via md5-derived indices — no vocabulary state at
      // all, the property that makes it the streaming/100 TB featurizer;
      // md5 keeps the index computable in both engines
      val toks = T(s, dir, "documents")
        .select(col("doc_id"), explode(ext.Dedup.tokens(col("text"))).as("tok"))
      toks
        .withColumn("dim",
          pmod(conv(substring(md5(col("tok")), 1, 8), 16, 10).cast("long"), lit(256L)))
        .groupBy("doc_id", "dim").agg(count(lit(1)).as("cnt"))
    }),

    "ta_shuffle" -> Query(
      """WITH d AS (SELECT doc_id, md5('epoch0:' || CAST(doc_id AS VARCHAR)) AS h FROM documents), s AS (SELECT doc_id, h, CAST('0x' || substr(h, 1, 4) AS BIGINT) % 32 AS shard FROM d) SELECT doc_id, shard, CAST(row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) AS BIGINT) AS pos FROM s""")((s, dir) => {
      // deterministic training-order shuffle: docs land in 32 shards by
      // seeded hash, position within shard by hash order — a reproducible
      // epoch permutation with NO global sort (shard-local ranks only,
      // the shape that survives 100 TB: shards are the parallel unit)
      import org.apache.spark.sql.expressions.Window
      val d = T(s, dir, "documents")
        .select(col("doc_id"),
          md5(concat(lit("epoch0:"), col("doc_id").cast("string"))).as("h"))
        .withColumn("shard",
          conv(substring(col("h"), 1, 4), 16, 10).cast("long") % 32)
      val w = Window.partitionBy("shard").orderBy(col("h").asc, col("doc_id").asc)
      d.select(col("doc_id"), col("shard"),
        row_number().over(w).cast("long").as("pos"))
    }),

    "ta_temperature" -> Query(
      """WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY 1), w AS (SELECT source, CAST(round(sqrt(CAST(n AS DOUBLE)) * 1000000) AS BIGINT) AS w_micro FROM c), t AS (SELECT CAST(sum(w_micro) AS BIGINT) AS tw FROM w), q AS (SELECT source, (250 * w_micro) // tw AS quota FROM w, t), r AS (SELECT doc_id, source, row_number() OVER (PARTITION BY source ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn FROM documents) SELECT r.doc_id, r.source FROM r JOIN q USING (source) WHERE rn <= quota""")((s, dir) => {
      // temperature-weighted source mixing (α = 0.5): per-source quotas
      // ∝ √n in integer micro fixed point (IEEE sqrt is correctly
      // rounded, so both engines derive identical quotas), then a
      // deterministic hash-ordered selection fills each quota exactly.
      // The per-source selection rank is ext.Ranks.groupedRank (range-
      // partitioned ranks + offset scalars), so a giant source never
      // single-partition-sorts — the scale note round 4 left as a TODO.
      val d = T(s, dir, "documents")
      val weights = d.groupBy("source").agg(count(lit(1)).as("n"))
        .withColumn("w_micro",
          round(sqrt(col("n").cast("double")) * 1e6).cast("long"))
      val tot = weights.agg(sum(col("w_micro")).as("tw"))
      val quota = weights.crossJoin(tot)
        .select(col("source"), expr("(250 * w_micro) div tw").as("quota"))
      val ranked = ext.Ranks.groupedRank(
        d.select(col("doc_id"), col("source"),
          md5(col("doc_id").cast("string")).as("__h__")),
        "source", Seq(col("__h__").asc, col("doc_id").asc), "rn")
      ranked.join(quota, "source").filter(col("rn") <= col("quota"))
        .select(col("doc_id"), col("source"))
    }),

    "ta_stem" -> Query(
      """WITH toks AS (SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS tok FROM documents), st AS (SELECT CASE WHEN ends_with(tok, 'ies') AND length(tok) > 4 THEN substr(tok, 1, length(tok) - 3) || 'y' WHEN ends_with(tok, 'ing') AND length(tok) > 5 THEN substr(tok, 1, length(tok) - 3) WHEN ends_with(tok, 'ed') AND length(tok) > 4 THEN substr(tok, 1, length(tok) - 2) WHEN ends_with(tok, 'ly') AND length(tok) > 4 THEN substr(tok, 1, length(tok) - 2) WHEN ends_with(tok, 'es') AND length(tok) > 4 THEN substr(tok, 1, length(tok) - 2) WHEN ends_with(tok, 's') AND NOT ends_with(tok, 'ss') AND length(tok) > 3 THEN substr(tok, 1, length(tok) - 1) ELSE tok END AS stem FROM toks) SELECT stem, CAST(count(*) AS BIGINT) AS n_tokens FROM st GROUP BY 1 ORDER BY n_tokens DESC, stem ASC LIMIT 50""")((s, dir) => {
      // suffix-stripping stemmer-lite as an explicit CASE chain (no
      // regex dialect risk — exact cross-engine parity): top-50 stems by
      // corpus frequency, ties broken lexicographically
      val tok = explode(ext.TextAnalysis.tokens(col("text"))).as("tok")
      val t = T(s, dir, "documents").select(tok).filter(length(col("tok")) > 0)
      val stem = when(col("tok").endsWith("ies") && length(col("tok")) > 4,
          concat(expr("substring(tok, 1, length(tok) - 3)"), lit("y")))
        .when(col("tok").endsWith("ing") && length(col("tok")) > 5,
          expr("substring(tok, 1, length(tok) - 3)"))
        .when(col("tok").endsWith("ed") && length(col("tok")) > 4,
          expr("substring(tok, 1, length(tok) - 2)"))
        .when(col("tok").endsWith("ly") && length(col("tok")) > 4,
          expr("substring(tok, 1, length(tok) - 2)"))
        .when(col("tok").endsWith("es") && length(col("tok")) > 4,
          expr("substring(tok, 1, length(tok) - 2)"))
        .when(col("tok").endsWith("s") && !col("tok").endsWith("ss")
            && length(col("tok")) > 3,
          expr("substring(tok, 1, length(tok) - 1)"))
        .otherwise(col("tok"))
      t.select(stem.as("stem"))
        .groupBy("stem").agg(count(lit(1)).as("n_tokens"))
        .orderBy(col("n_tokens").desc, col("stem").asc)
        .limit(50)
    }),

    "ta_wsample" -> Query(
      """WITH d AS (SELECT doc_id, CAST(len(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS BIGINT) AS n_tokens FROM documents), keyed AS (SELECT doc_id, n_tokens, CAST(round(-ln((CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) AS DOUBLE) + 0.5) / 4294967296.0) * 1000000) AS BIGINT) AS nl_micro FROM d WHERE n_tokens > 0) SELECT doc_id, n_tokens, nl_micro FROM keyed ORDER BY CAST(nl_micro AS DOUBLE) / n_tokens ASC, doc_id ASC LIMIT 50""")((s, dir) => {
      // weighted sampling without replacement (Efraimidis–Spirakis
      // exponential keys), weights = token counts: micro-nat fixed-point
      // keys + one IEEE division make the top-50 cut engine-exact
      val d = T(s, dir, "documents")
        .withColumn("n_tokens", size(ext.Dedup.tokens(col("text"))).cast("long"))
      ext.Sampling.weightedSampleK(d, "doc_id", col("n_tokens"), 50)
        .select("doc_id", "n_tokens", "nl_micro")
    }),
    // ta_nbc: identical -ln micro-nat fixed point as ta_perplexity (same
    // boundary-margin argument, NbcSpec); priors/likelihoods are exact
    // integer counts so both engines feed ln the same doubles
    "ta_nbc" -> Query(nbcOracleSql)((s, dir) =>
      // Naive Bayes source classifier in integer micro-nats — the corpus
      // quality/domain-classifier pass (ext.LangModel.naiveBayes)
      ext.LangModel.naiveBayes(T(s, dir, "documents"), "doc_id", "text", "source")),
    // ta_dsir: md5 buckets replay as '0x'||hex; the log-ratio is ONE ln
    // of the same double ratio on both engines (micro-nat margin as in
    // ta_nbc/ta_perplexity); tf·lr sums are exact integers
    "ta_dsir" -> Query(
      """WITH toks AS (SELECT doc_id, source, list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS t FROM documents), gr AS (SELECT doc_id, source = 'src1' AS is_t, unnest(t || CASE WHEN len(t) >= 2 THEN list_transform(range(len(t) - 1), i -> array_to_string(t[(i+1):(i+2)], ' ')) ELSE [] END) AS g FROM toks), gb AS (SELECT doc_id, is_t, CAST('0x' || substr(md5(g), 1, 8) AS BIGINT) % 4096 AS b FROM gr), c AS (SELECT b, CAST(count(*) AS BIGINT) AS cr, CAST(count(*) FILTER (WHERE is_t) AS BIGINT) AS ct FROM gb GROUP BY 1), tot AS (SELECT CAST(sum(cr) AS BIGINT) AS tr, CAST(sum(ct) AS BIGINT) AS tt FROM c), lr AS (SELECT b, CAST(round(ln(((CAST(ct AS DOUBLE) + 1.0) / (CAST(tt AS DOUBLE) + 4096.0)) / ((CAST(cr AS DOUBLE) + 1.0) / (CAST(tr AS DOUBLE) + 4096.0))) * 1000000) AS BIGINT) AS lr FROM c, tot), dg AS (SELECT doc_id, b, CAST(count(*) AS BIGINT) AS tf FROM gb GROUP BY 1, 2), w AS (SELECT doc_id, CAST(sum(tf * lr) AS BIGINT) AS weight_micro FROM dg JOIN lr USING (b) GROUP BY 1) SELECT CAST(rn AS BIGINT) AS rank, doc_id, weight_micro FROM (SELECT doc_id, weight_micro, row_number() OVER (ORDER BY weight_micro DESC, doc_id ASC) AS rn FROM w) WHERE rn <= 100""")((s, dir) =>
      // DSIR data selection: hashed-n-gram importance log-ratios between
      // the target domain (source = src1) and the raw corpus, top-100 by
      // integer micro-nat weight (ext.Sampling.dsirSelect)
      ext.Sampling.dsirSelect(T(s, dir, "documents"), "doc_id", "text",
        col("source") === "src1", buckets = 4096, k = 100)),

    "ta_nbc_eval" -> Query(
      s"""SELECT cls_truth, pred_cls, CAST(count(*) AS BIGINT) AS n FROM ($nbcOracleSql) WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) >= '80000000' GROUP BY 1, 2""")((s, dir) => {
      // the classifier eval loop: confusion matrix of the NBC source
      // classifier on the HELD-OUT hash-half (the docs the model never
      // saw) — the accuracy gate a production quality-classifier
      // pipeline runs before trusting a model to filter a corpus
      val scored = ext.LangModel.naiveBayes(
        T(s, dir, "documents"), "doc_id", "text", "source")
      scored
        .filter(substring(md5(col("doc_id").cast("string")), 1, 8) >= lit("80000000"))
        .groupBy("cls_truth", "pred_cls")
        .agg(count(lit(1)).as("n"))
    }),
    // ta_bootstrap: multiplicities are integer threshold compares on
    // the same md5; replicate means are divisions of exact longs
    "ta_bootstrap" -> Query(bootstrapOracleSql)((s, dir) => {
      // deterministic Poisson bootstrap (Chamandy et al., "Estimating
      // uncertainty for massive data streams", Google TR 2012 — the
      // distributed bootstrap): row i's multiplicity in replicate j is
      // the Poisson(1) inverse CDF applied to the 32-bit md5 fraction
      // of (j, id) — NO RNG, so replicas are reproducible under any
      // partitioning and replayable in the oracle. 40 replicates of the
      // per-priority mean price; 95% CI from nearest-rank replicate
      // order statistics (exact small-array ops, no window). Replicate
      // means are one IEEE division of exact longs; the ×B fan-out is
      // map-side (no pre-shuffle), and the CI frames are B rows/group.
      val B = 40
      // fanOut: the ×B fan-out + per-replicate md5 below is map-side CPU
      // that would otherwise run entirely in the single scan partition of
      // a sub-split orders file (r12 ProbeJobs: 7.3 s in ONE task, the
      // whole query serial); no-op at natural parallelism
      val r = ext.Par.fanOut(T(s, dir, "orders").select(
        col("o_orderpriority").as("pri"),
        round(col("o_totalprice") * 100).cast("long").as("x"),
        col("o_orderkey").as("id")))
      val js = s.range(B).select(col("id").as("j"))
      val u = r.crossJoin(broadcast(js))
        .withColumn("u32", conv(substring(md5(
          concat(col("j").cast("string"), lit(":"), col("id").cast("string"))),
          1, 8), 16, 10).cast("long"))
      val m = u.withColumn("m", bootPoissonCdf(col("u32")))
      val rm = m.groupBy("pri", "j")
        .agg(sum(col("m") * col("x")).as("sx"), sum(col("m")).as("sm"))
        .filter(col("sm") > 0)
        .select(col("pri"), (col("sx").cast("double") / col("sm").cast("double")).as("mean"))
      val ci = rm.groupBy("pri").agg(sort_array(collect_list(col("mean"))).as("ms"))
        .select(col("pri"), element_at(col("ms"), 1).as("boot_lo"),
          element_at(col("ms"), B - 1).as("boot_hi"))
      val point = r.groupBy("pri").agg(count(lit(1)).as("n"),
        (sum(col("x")).cast("double") / count(lit(1)).cast("double")).as("point_mean"))
      point.join(ci, Seq("pri"))
        .select(col("pri").as("o_orderpriority"), col("n"), col("point_mean"),
          col("boot_lo"), col("boot_hi"))
    }),
    // ta_zipf: identical tokenization + top-200 order as ta_vocab, the
    // same round(ln(int)·1e6) micro-nats, HUGEINT Gram sums, sign-split
    // truncating division
    "ta_zipf" -> Query(
      """WITH cnt AS (SELECT token, CAST(count(*) AS BIGINT) AS n FROM (SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS token FROM documents) GROUP BY token ORDER BY n DESC, token LIMIT 200),
         rk AS (SELECT n, CAST(row_number() OVER (ORDER BY n DESC, token) AS BIGINT) AS r FROM cnt),
         pt AS (SELECT CAST(round(ln(CAST(r AS DOUBLE)) * 1e6) AS BIGINT) AS x,
                       CAST(round(ln(CAST(n AS DOUBLE)) * 1e6) AS BIGINT) AS y FROM rk),
         g AS (SELECT CAST(count(*) AS BIGINT) AS n_pts,
                 sum(x::HUGEINT) AS sx, sum(y::HUGEINT) AS sy,
                 sum(x::HUGEINT * x) AS sxx, sum(x::HUGEINT * y) AS sxy FROM pt)
         SELECT n_pts, CAST(sx AS VARCHAR) AS sx, CAST(sy AS VARCHAR) AS sy,
           CAST(sxx AS VARCHAR) AS sxx, CAST(sxy AS VARCHAR) AS sxy,
           CASE WHEN n_pts * sxx - sx * sx = 0 THEN CAST(NULL AS BIGINT)
           ELSE CAST(CASE WHEN n_pts * sxy - sx * sy < 0 THEN -1
                     WHEN n_pts * sxy - sx * sy > 0 THEN 1 ELSE 0 END AS BIGINT)
             * CAST((abs(n_pts * sxy - sx * sy) * 1000000) // (n_pts * sxx - sx * sx) AS BIGINT) END
             AS slope_micro
         FROM g""")((s, dir) => {
      // Zipf's-law fit over the corpus vocabulary: OLS slope of ln(freq)
      // on ln(rank) for the top-200 tokens (freq desc, token asc — a
      // k-bounded TakeOrdered after the map-side-combined token count,
      // no full sort). Both ln's are micro-nat fixed point on EXACT
      // integer inputs (ta_entropy's doctrine — the rounding margin of
      // ln(integer)·10⁶ is proven there), the Gram sums are exact
      // decimals, and the slope is a sign-split nonnegative integral
      // division. The only window is a row_number over the 200 retained
      // rows (srch_hybrid's bounded-pool argument).
      import org.apache.spark.sql.expressions.Window
      val top = ext.TextAnalysis.topTokens(T(s, dir, "documents"), col("text"), 200)
        .withColumn("r",
          row_number().over(Window.orderBy(col("n").desc, col("token").asc)).cast("long"))
        .withColumn("x", round(log(col("r").cast("double")) * 1e6).cast("long"))
        .withColumn("y", round(log(col("n").cast("double")) * 1e6).cast("long"))
      top.agg(count(lit(1)).as("n_pts"),
          sum(col("x").cast("decimal(18,0)")).cast("decimal(38,0)").as("sx"),
          sum(col("y").cast("decimal(18,0)")).cast("decimal(38,0)").as("sy"),
          sum(col("x").cast("decimal(18,0)") * col("x").cast("decimal(18,0)"))
            .cast("decimal(38,0)").as("sxx"),
          sum(col("x").cast("decimal(18,0)") * col("y").cast("decimal(18,0)"))
            .cast("decimal(38,0)").as("sxy"))
        .select(col("n_pts"),
          col("sx").cast("string").as("sx"), col("sy").cast("string").as("sy"),
          col("sxx").cast("string").as("sxx"), col("sxy").cast("string").as("sxy"),
          expr("""CASE WHEN n_pts * sxx - sx * sx = 0 THEN CAST(NULL AS BIGINT)
                  ELSE CAST(CASE WHEN n_pts * sxy - sx * sy < 0 THEN -1
                            WHEN n_pts * sxy - sx * sy > 0 THEN 1 ELSE 0 END AS BIGINT)
                  * CAST((abs(n_pts * sxy - sx * sy) * 1000000)
                         div (n_pts * sxx - sx * sx) AS BIGINT) END""").as("slope_micro"))
    }),
    // ta_novelty: identical tokenization and 3-gram windows (1-based
    // list indexing vs Spark's 0-based element_at offsets)
    "ta_novelty" -> Query(
      """WITH toks AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS t FROM documents),
         g0 AS (SELECT doc_id, unnest(list_transform(range(len(t) - 2), i -> t[CAST(i AS INTEGER) + 1] || ' ' || t[CAST(i AS INTEGER) + 2] || ' ' || t[CAST(i AS INTEGER) + 3])) AS gram FROM toks WHERE len(t) >= 3),
         grams AS (SELECT DISTINCT doc_id, gram FROM g0),
         fst AS (SELECT gram, min(doc_id) AS first_doc FROM grams GROUP BY 1)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
           CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
           CAST((sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)::HUGEINT * 1000000) // count(*) AS BIGINT) AS novelty_micro
         FROM grams JOIN fst USING (gram) GROUP BY 1""")((s, dir) => {
      // per-document n-gram novelty against the EARLIER corpus (doc_id
      // order): the share of a doc's distinct token 3-grams whose first
      // corpus appearance is the doc itself — the streaming-ingest
      // freshness signal (near-1 docs are new material, near-0 docs are
      // recombinations). One distinct (gram, doc) aggregate → min-doc
      // per gram → per-doc ratio; grams join back as strings here for
      // oracle byte-parity (a 100 TB run would fingerprint them to
      // 64-bit ids first — dd_spans does exactly that). The gram frame
      // is the shared wordGramSet kernel.
      val grams = wordGramSet(T(s, dir, "documents"), 3)
      val first = grams.groupBy("gram").agg(min(col("doc_id")).as("first_doc"))
      grams.join(first, Seq("gram"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
        .withColumn("novelty_micro",
          expr("CAST((CAST(n_novel AS DECIMAL(18,0)) * 1000000) div n_grams AS BIGINT)"))
    }),
    // ta_langid_eval: the shared classification replay grouped to the
    // confusion matrix with integral row shares
    "ta_langid_eval" -> Query(
      s"""WITH scored AS ($langidOracleSql),
         |conf AS (SELECT lang_truth, lang_guess, CAST(count(*) AS BIGINT) AS n FROM scored GROUP BY 1, 2),
         |tot AS (SELECT lang_truth, CAST(sum(n) AS BIGINT) AS n_truth FROM conf GROUP BY 1)
         |SELECT conf.lang_truth, lang_guess, n, n_truth,
         |  CAST((n::HUGEINT * 1000000) // n_truth AS BIGINT) AS share_micro
         |FROM conf JOIN tot ON conf.lang_truth = tot.lang_truth""".stripMargin)((s, dir) => {
      // language-ID confusion matrix — the eval loop for the n-gram
      // heuristic (mirrors ta_nbc_eval for the Bayes classifier): truth
      // × guess counts plus per-cell share of the truth row, all exact
      // integers over one classification pass.
      val scored = T(s, dir, "documents")
        .select(col("lang").as("lang_truth"),
          ext.TextAnalysis.langId(col("text")).as("lang_guess"))
      val conf = scored.groupBy("lang_truth", "lang_guess").agg(count(lit(1)).as("n"))
      val tot = conf.groupBy("lang_truth").agg(sum("n").as("n_truth"))
      conf.join(broadcast(tot), Seq("lang_truth"))
        .withColumn("share_micro",
          expr("CAST((n * 1000000) div n_truth AS BIGINT)"))
    }),
    // ta_readability: identical regexp counts (RE2-safe character
    // classes) and integral rate divisions
    "ta_readability" -> Query(
      """WITH c AS (SELECT doc_id,
           CAST(len(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS BIGINT) AS n_words,
           greatest(CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT), 1) AS n_sentences,
           greatest(CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT), 1) AS n_syllables
         FROM documents)
         SELECT doc_id, n_words, n_sentences, n_syllables,
           CAST((n_words * 1000000) // n_sentences AS BIGINT) AS words_per_sentence_micro,
           CAST((n_syllables * 1000000) // n_words AS BIGINT) AS syllables_per_word_micro
         FROM c WHERE n_words > 0""")((s, dir) => {
      // readability scoring (Flesch-style, integer form): words,
      // sentences (terminal punctuation runs), and syllables (vowel
      // groups — the standard heuristic) are exact regexp counts, and
      // the score is presented as the micro-scaled pair of rates the
      // Flesch formula combines (words/sentence, syllables/word) —
      // integral divisions, no float blend. Pure codegen'd expressions,
      // one pass, the cheap quality feature every corpus filter stacks.
      val d = T(s, dir, "documents")
      d.select(col("doc_id"),
          size(filter(split(lower(col("text")), "\\s+"), x => x =!= "")).cast("long").as("n_words"),
          greatest(regexp_count(col("text"), lit("[.!?]+")).cast("long"), lit(1L)).as("n_sentences"),
          greatest(regexp_count(lower(col("text")), lit("[aeiouy]+")).cast("long"), lit(1L)).as("n_syllables"))
        .filter(col("n_words") > 0)
        .select(col("doc_id"), col("n_words"), col("n_sentences"), col("n_syllables"),
          expr("CAST((n_words * 1000000) div n_sentences AS BIGINT)").as("words_per_sentence_micro"),
          expr("CAST((n_syllables * 1000000) div n_words AS BIGINT)").as("syllables_per_word_micro"))
    }),
    // ta_rake: identical delimiter-marking regexes (global flag), degree/
    // freq word scores, phrase-sum scores, deterministic top-15
    "ta_rake" -> Query(
      """WITH ph0 AS (SELECT unnest(string_split(
           regexp_replace(regexp_replace(lower(text), '[^a-z ]+', '|', 'g'),
             '\b(the|of|and|a|to|in|is|on|for|with|as|by|at|an|be|are|was|it|that|this|from|or)\b', '|', 'g'),
           '|')) AS rawp FROM documents),
         ph AS (SELECT regexp_replace(trim(rawp), ' +', ' ', 'g') AS phrase FROM ph0),
         occ AS (SELECT phrase FROM ph WHERE phrase <> '' AND len(string_split(phrase, ' ')) <= 4),
         w AS (SELECT CAST(len(string_split(phrase, ' ')) AS BIGINT) AS plen,
                      unnest(string_split(phrase, ' ')) AS word FROM occ),
         ws AS (SELECT word, CAST(count(*) AS BIGINT) AS freq,
                       CAST(sum(plen) AS BIGINT) AS degree FROM w GROUP BY 1),
         pd AS (SELECT DISTINCT phrase FROM occ),
         pw AS (SELECT phrase, unnest(string_split(phrase, ' ')) AS word FROM pd),
         psc AS (SELECT pw.phrase, CAST(sum((ws.degree * 1000000) // ws.freq) AS BIGINT) AS score_micro
                 FROM pw JOIN ws USING (word) GROUP BY 1),
         oc AS (SELECT phrase, CAST(count(*) AS BIGINT) AS n_occurrences FROM occ GROUP BY 1)
         SELECT psc.phrase, CAST(len(string_split(psc.phrase, ' ')) AS BIGINT) AS n_words,
           oc.n_occurrences, psc.score_micro
         FROM psc JOIN oc USING (phrase)
         ORDER BY score_micro DESC, phrase LIMIT 15""")((s, dir) => {
      // RAKE keyword extraction (Rose et al. 2010): candidate phrases are
      // maximal runs between stopwords/punctuation; word score =
      // degree/freq over phrase co-membership; phrase score = Σ member
      // word scores — all integer counts and micro-divisions, global
      // top-15 via TakeOrdered (never a full sort). The whole pipeline is
      // codegen'd string/array expressions: two regexp passes (delimiter
      // marking), one split, two explodes, three hash aggregates.
      val stop = "the|of|and|a|to|in|is|on|for|with|as|by|at|an|be|are|was|it|that|this|from|or"
      val occ = T(s, dir, "documents").select(explode(expr(
        s"""filter(transform(split(regexp_replace(regexp_replace(lower(text),
           |  '[^a-z ]+', '|'), '\\\\b($stop)\\\\b', '|'), '[|]'),
           |  x -> regexp_replace(trim(x), ' +', ' ')), x -> x != '')""".stripMargin))
        .as("phrase"))
        .filter(size(split(col("phrase"), " ")) <= 4)
      val words = occ.select(col("phrase"),
          size(split(col("phrase"), " ")).cast("long").as("plen"))
        .select(col("plen"), explode(split(col("phrase"), " ")).as("word"))
      val ws = words.groupBy("word").agg(
        count(lit(1)).as("freq"), sum("plen").as("degree"))
      val phraseWords = occ.select("phrase").distinct()
        .select(col("phrase"), explode(split(col("phrase"), " ")).as("word"))
      val psc = phraseWords.join(ws, Seq("word"))
        .groupBy("phrase")
        .agg(sum(expr("(degree * 1000000) div freq")).as("score_micro"))
      val nOcc = occ.groupBy("phrase").agg(count(lit(1)).as("n_occurrences"))
      psc.join(nOcc, Seq("phrase"))
        .select(col("phrase"), size(split(col("phrase"), " ")).cast("long").as("n_words"),
          col("n_occurrences"), col("score_micro"))
        .orderBy(col("score_micro").desc, col("phrase").asc)
        .limit(15)
    }),
    // ta_burrows: same token agg, TakeOrdered top-30, dense grid with
    // real zeros, exact-integer z numerator micro-rounded before the
    // pair mean; zero-variance words excluded by the identical integer
    // test.
    "ta_burrows" -> Query(
      """WITH tok AS (SELECT source, unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS w FROM documents), topw AS (SELECT w FROM (SELECT w, count(*) AS cw FROM tok GROUP BY 1 ORDER BY cw DESC, w LIMIT 30)), tot AS (SELECT source, CAST(count(*) AS BIGINT) AS tot FROM tok GROUP BY 1), cnt AS (SELECT source, w, CAST(count(*) AS BIGINT) AS c FROM tok JOIN topw USING (w) GROUP BY 1, 2), grid AS (SELECT t.source, p.w, CAST((CAST(coalesce(c.c, 0) AS HUGEINT) * 1000000) // t.tot AS BIGINT) AS f FROM tot t CROSS JOIN topw p LEFT JOIN cnt c ON c.source = t.source AND c.w = p.w), stats AS (SELECT w, CAST(count(*) AS HUGEINT) AS n, sum(CAST(f AS HUGEINT)) AS s1, sum(CAST(f AS HUGEINT) * f) AS s2 FROM grid GROUP BY 1), z AS (SELECT g.source, g.w, CAST(round(CAST(s.n * g.f - s.s1 AS DOUBLE) / sqrt(CAST(s.n * s.s2 - s.s1 * s.s1 AS DOUBLE)) * 1000000) AS BIGINT) AS z FROM grid g JOIN stats s USING (w) WHERE s.n * s.s2 > s.s1 * s.s1) SELECT a.source AS source_a, b.source AS source_b, CAST(count(*) AS BIGINT) AS n_words, CAST(sum(abs(a.z - b.z)) // count(*) AS BIGINT) AS delta_micro FROM z a JOIN z b ON a.w = b.w AND a.source < b.source GROUP BY 1, 2""")((s, dir) => {
      // Burrows' Delta stylometry (Burrows 2002): pairwise source
      // distance = mean |z_a − z_b| over the top-30 corpus words, where
      // z is the per-word cross-source z-score of relative frequency.
      // Everything after the one full-corpus token agg is bounded:
      // top-30 via TakeOrdered, a 30×#sources dense grid (missing
      // combos are REAL zeros — a left join + fill, not dropped rows),
      // and a per-word pair expansion of #sources² rows. Frequencies
      // are micro ints; z = (n·f − Σf)/√(n·Σf² − (Σf)²) keeps the
      // numerator exact-integer and is micro-rounded per (word, source)
      // BEFORE the pair mean (the q_lift discipline), so the distance
      // matrix is engine-exact. Zero-variance words are excluded by the
      // same integer test in both engines.
      val tok = T(s, dir, "documents")
        .select(col("source"), explode(expr(
          "filter(split(lower(text), '\\\\s+'), x -> x != '')")).as("w"))
        .localCheckpoint(true) // top-30 scan + per-source counts share it
      val topw = tok.groupBy("w").agg(count(lit(1)).as("cw"))
        .orderBy(col("cw").desc, col("w")).limit(30).select("w")
      val tot = tok.groupBy("source").agg(count(lit(1)).as("tot"))
      val cnt = tok.join(topw, "w").groupBy("source", "w").agg(count(lit(1)).as("c"))
      // micro products and the exact-integer z pieces run in DECIMAL(38,0)
      // (HUGEINT in the oracle) like the sibling ops — a LongType product
      // wraps silently where DuckDB BIGINT raises, so engine and oracle
      // would part ways instead of both staying exact
      val grid = tot.crossJoin(broadcast(topw))
        .join(cnt, Seq("source", "w"), "left").na.fill(0L, Seq("c"))
        .select(col("source"), col("w"),
          expr("CAST(CAST(c AS DECIMAL(38,0)) * 1000000 div tot AS BIGINT)").as("f"))
      val stats = grid.groupBy("w").agg(count(lit(1)).as("n"),
        sum(col("f").cast("decimal(38,0)")).as("s1"),
        sum(expr("CAST(f AS DECIMAL(38,0)) * f")).as("s2"))
      val z = grid.join(stats, "w")
        .filter(expr("n * s2 > s1 * s1")) // zero-variance words carry no signal
        .select(col("source"), col("w"),
          expr("""CAST(round((CAST(n AS DECIMAL(38,0)) * f - s1)
                 / sqrt(CAST(CAST(n AS DECIMAL(38,0)) * s2 - s1 * s1 AS DOUBLE))
                 * 1000000) AS BIGINT)""").as("z"))
        .localCheckpoint(true) // both sides of the pair join
      z.as("a").join(z.as("b"),
          col("a.w") === col("b.w") && col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
        .agg(count(lit(1)).as("n_words"),
          expr("CAST(sum(abs(a.z - b.z)) div count(1) AS BIGINT)").as("delta_micro"))
    }),

    "ta_hapax" -> Query(
      """WITH tok AS (SELECT source, unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS w FROM documents), c AS (SELECT source, w, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY 1, 2) SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens, CAST(count(*) AS BIGINT) AS n_vocab, CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax, CAST((count(*) * 1000000) // sum(c) AS BIGINT) AS ttr_micro, CAST((sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1000000) // count(*) AS BIGINT) AS hapax_micro FROM c GROUP BY 1""")((s, dir) => {
      // lexical-richness profile per source: token count, vocabulary,
      // hapax legomena (frequency-1 words), type–token ratio and hapax
      // share in micro units. Two cascaded hash aggs over (source, token)
      // — the same shape however many sources or tokens there are.
      val tok = T(s, dir, "documents")
        .select(col("source"), explode(expr(
          "filter(split(lower(text), '\\\\s+'), x -> x != '')")).as("w"))
      tok.groupBy("source", "w").agg(count(lit(1)).as("c"))
        .groupBy("source")
        .agg(sum("c").as("n_tokens"), count(lit(1)).as("n_vocab"),
          sum(when(col("c") === 1L, 1L).otherwise(0L)).as("n_hapax"))
        .select(col("source"), col("n_tokens"), col("n_vocab"), col("n_hapax"),
          expr("(n_vocab * 1000000) div n_tokens").as("ttr_micro"),
          expr("(n_hapax * 1000000) div n_vocab").as("hapax_micro"))
    }),
    // ta_yule: same (source, word) counts; K scaled to milli
    // (10⁴·K → ×10⁷ over N²) through HUGEINT
    "ta_yule" -> Query(
      """WITH tok AS (SELECT source, unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS w FROM documents), c AS (SELECT source, w, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY 1, 2) SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens, CAST(count(*) AS BIGINT) AS n_vocab, CAST(sum(c::HUGEINT * c) AS BIGINT) AS sum_c2, CAST(((sum(c::HUGEINT * c) - sum(c)) * 10000000) // (sum(c)::HUGEINT * sum(c)) AS BIGINT) AS yule_k_milli FROM c GROUP BY 1""")((s, dir) => {
      // Yule's characteristic K (Yule 1944) per source — the length-
      // robust lexical-diversity constant TTR lacks (TTR shrinks as a
      // corpus grows; K doesn't): K = 10⁴·(Σc² − N)/N² over word
      // frequencies c. Same two cascaded hash aggs as ta_hapax; Σc²
      // rides DECIMAL(38,0) (HUGEINT oracle) so web-scale frequencies
      // cannot wrap; Σc² ≥ N always, so the division is sign-free.
      val tok = T(s, dir, "documents")
        .select(col("source"), explode(ext.Dedup.tokens(col("text"))).as("w"))
      tok.groupBy("source", "w").agg(count(lit(1)).as("c"))
        .groupBy("source")
        .agg(sum("c").as("n_tokens"), count(lit(1)).as("n_vocab"),
          sum(expr("CAST(c AS DECIMAL(38,0)) * c")).as("s2"))
        .select(col("source"), col("n_tokens"), col("n_vocab"),
          expr("CAST(s2 AS BIGINT)").as("sum_c2"),
          expr("""CAST(((s2 - n_tokens) * 10000000)
                 div (CAST(n_tokens AS DECIMAL(38,0)) * n_tokens) AS BIGINT)""")
            .as("yule_k_milli"))
    }),

    "ta_boilerplate" -> Query(
      """WITH docs AS (SELECT doc_id, 'home | products | about | contact' || chr(10) || text || chr(10) || 'subscribe to our newsletter' || chr(10) || 'doc ' || CAST(doc_id AS VARCHAR) || ' extras' || chr(10) || '© 2024 example corp' AS page FROM documents), lines AS (SELECT doc_id, CAST(i AS BIGINT) AS pos, l[i+1] AS line FROM (SELECT doc_id, l, unnest(range(len(l))) AS i FROM (SELECT doc_id, string_split(page, chr(10)) AS l FROM docs))), nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM docs), b AS (SELECT line FROM (SELECT line, CAST(count(DISTINCT doc_id) AS BIGINT) AS ndd FROM lines GROUP BY 1), nd WHERE ndd * 4 >= n_docs) SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines, CAST(sum(CASE WHEN line IN (SELECT line FROM b) THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler, coalesce(string_agg(CASE WHEN line NOT IN (SELECT line FROM b) THEN line END, chr(10) ORDER BY pos), '') AS clean_text FROM lines GROUP BY 1""")((s, dir) => {
      // cross-document boilerplate line removal (the jusText/trafilatura
      // step): planted nav/footer lines shared by every page are detected
      // as lines present in ≥25 % of docs, then stripped; body and
      // doc-unique lines survive. Line→doc-count is one exact keyed agg;
      // the boiler SET is tiny by construction (≤ 4/threshold lines per
      // corpus line budget) and broadcast back; docs reassemble with an
      // order-preserving sorted collect per doc.
      val docs = T(s, dir, "documents").select(col("doc_id"),
        concat(lit("home | products | about | contact\n"), col("text"),
          lit("\nsubscribe to our newsletter\ndoc "), col("doc_id"),
          lit(" extras\n© 2024 example corp")).as("page"))
      val lines = docs.select(col("doc_id"),
          posexplode(split(col("page"), "\n")).as(Seq("pos", "line")))
        .localCheckpoint(true) // feeds the boiler agg AND the rebuild
      val nDocs = docs.agg(count(lit(1)).as("n_docs"))
      val boiler = lines.groupBy("line")
        .agg(countDistinct(col("doc_id")).as("nd"))
        .crossJoin(broadcast(nDocs))
        .filter(col("nd") * 4 >= col("n_docs"))
        .select(col("line"), lit(true).as("is_boiler"))
      lines.join(broadcast(boiler), Seq("line"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_lines"),
          sum(when(col("is_boiler"), 1L).otherwise(0L)).as("n_boiler"),
          expr("""array_join(transform(array_sort(collect_list(
            CASE WHEN is_boiler IS NULL THEN struct(pos, line) END)),
            x -> x.line), '\n')""").as("clean_text"))
    }),

    "ta_code_detect" -> Query(
      """WITH t AS (SELECT doc_id, CASE WHEN doc_id % 5 = 0 THEN text || ' function add(a, b) { return a + b; } var x = []; import os;' ELSE text END AS t FROM documents), s AS (SELECT doc_id, CAST(length(regexp_replace(t, '[^{};()=<>\[\]]', '', 'g')) AS BIGINT) AS n_sym, CAST(len(regexp_extract_all(t, '(function|return|var|import|def)', 1)) AS BIGINT) AS n_kw, CAST(length(t) AS BIGINT) AS n_len FROM t) SELECT doc_id, n_sym, n_kw, ((n_sym + 3 * n_kw) * 1000000) // n_len AS score_micro, n_sym > 0 AND ((n_sym + 3 * n_kw) * 1000000) // n_len >= 1000 AS is_code FROM s""")((s, dir) => {
      // code-vs-prose routing (an LLM-corpus must separate them): symbol
      // density ({};()=[]) and keyword hits score each doc in micro
      // units; planted code snippets on every 5th doc must flag, pure
      // prose scores 0. Scalar expressions only — no shuffle before the
      // (tiny) result projection.
      val planted = expr("""CASE WHEN doc_id % 5 = 0
        THEN concat(text, ' function add(a, b) { return a + b; } var x = []; import os;')
        ELSE text END""")
      T(s, dir, "documents").select(col("doc_id"), planted.as("t"))
        .select(col("doc_id"),
          length(regexp_replace(col("t"), "[^{};()=<>\\[\\]]", "")).cast("long").as("n_sym"),
          expr("CAST(size(regexp_extract_all(t, '(function|return|var|import|def)', 1)) AS BIGINT)")
            .as("n_kw"),
          length(col("t")).cast("long").as("n_len"))
        .select(col("doc_id"), col("n_sym"), col("n_kw"),
          expr("((n_sym + 3 * n_kw) * 1000000) div n_len").as("score_micro"))
        .withColumn("is_code", col("n_sym") > 0L && col("score_micro") >= 1000L)
    }),
    // ta_span_corrupt: the seeded md5 residue, sentinel ranks, and both
    // reassembled strings replayed with ordered string_agg
    "ta_span_corrupt" -> Query(
      """WITH toks AS (SELECT doc_id, CAST(i AS BIGINT) AS pos, l[i+1] AS w, CAST(i // 3 AS BIGINT) AS grp FROM (SELECT doc_id, l, unnest(range(len(l))) AS i FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents))), g AS (SELECT DISTINCT doc_id, grp FROM toks), sel AS (SELECT doc_id, grp FROM g WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(grp AS VARCHAR)), 1, 4) AS BIGINT) % 5 = 0), sids AS (SELECT doc_id, grp, CAST(row_number() OVER (PARTITION BY doc_id ORDER BY grp) AS BIGINT) - 1 AS sid FROM sel), tk AS (SELECT t.doc_id, t.pos, t.w, t.grp, s.sid FROM toks t LEFT JOIN sids s ON s.doc_id = t.doc_id AND s.grp = t.grp), mp AS (SELECT doc_id, pos, w FROM tk WHERE sid IS NULL UNION ALL SELECT doc_id, min(pos), '<extra_id_' || CAST(sid AS VARCHAR) || '>' FROM tk WHERE sid IS NOT NULL GROUP BY doc_id, grp, sid), m AS (SELECT doc_id, string_agg(w, ' ' ORDER BY pos) AS masked_text FROM mp GROUP BY 1), sp AS (SELECT doc_id, grp, sid, string_agg(w, ' ' ORDER BY pos) AS span FROM tk WHERE sid IS NOT NULL GROUP BY 1, 2, 3), tg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans, string_agg('<extra_id_' || CAST(sid AS VARCHAR) || '> ' || span, ' ' ORDER BY grp) AS targets FROM sp GROUP BY 1) SELECT m.doc_id, coalesce(tg.n_spans, 0) AS n_spans, m.masked_text, coalesce(tg.targets, '') AS targets FROM m LEFT JOIN tg USING (doc_id)""")((s, dir) => {
      // T5-style span corruption (the denoising-objective data prep):
      // tokens fold into 3-token groups; a seeded md5 residue selects
      // every 5th group on average; selected groups collapse to
      // <extra_id_k> sentinels (k = per-doc rank of the selected group)
      // in the masked text, and the targets string pairs each sentinel
      // with the span it swallowed. All windows partition on doc_id
      // (high cardinality); the hash replays bit-for-bit in the oracle.
      import org.apache.spark.sql.expressions.Window
      val toks = T(s, dir, "documents")
        .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
        .withColumn("grp", expr("pos div 3"))
      val grps = toks.select("doc_id", "grp").distinct()
        .withColumn("sel",
          conv(substring(md5(concat(col("doc_id"), lit(":"), col("grp"))), 1, 4),
            16, 10).cast("long") % 5 === 0L)
      val wSel = Window.partitionBy("doc_id").orderBy("grp")
      val sids = grps.filter(col("sel"))
        .withColumn("sid", row_number().over(wSel).cast("long") - 1L)
      val tk = toks.join(sids.select("doc_id", "grp", "sid"), Seq("doc_id", "grp"), "left")
        .localCheckpoint(true) // masked + targets read one frame
      val maskedPieces = tk.filter(col("sid").isNull)
          .select(col("doc_id"), col("pos"), col("w"))
        .union(tk.filter(col("sid").isNotNull).groupBy("doc_id", "grp", "sid")
          .agg(min("pos").as("pos"))
          .select(col("doc_id"), col("pos"),
            concat(lit("<extra_id_"), col("sid"), lit(">")).as("w")))
      val masked = maskedPieces.groupBy("doc_id")
        .agg(expr("array_join(transform(array_sort(collect_list(struct(pos, w))), x -> x.w), ' ')")
          .as("masked_text"))
      val targets = tk.filter(col("sid").isNotNull)
        .groupBy("doc_id", "grp", "sid")
        .agg(expr("array_join(transform(array_sort(collect_list(struct(pos, w))), x -> x.w), ' ')")
          .as("span"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_spans"),
          expr("""array_join(transform(array_sort(collect_list(struct(grp,
                 concat('<extra_id_', sid, '> ', span) AS piece))), x -> x.piece), ' ')""")
            .as("targets"))
      masked.join(targets, Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("n_spans"), lit(0L)).as("n_spans"),
          col("masked_text"), coalesce(col("targets"), lit("")).as("targets"))
    }),

    "ta_tfidf" -> Query(
      """WITH tok AS (SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS term FROM documents), tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2), df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1), nd AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs FROM tf), sc AS (SELECT doc_id, term, tf, CAST(round(ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)) * 1000000) AS BIGINT) AS idf_micro FROM tf JOIN df USING (term), nd), r AS (SELECT doc_id, term, tf, idf_micro, tf * idf_micro AS score_micro, CAST(row_number() OVER (PARTITION BY doc_id ORDER BY tf * idf_micro DESC, term) AS BIGINT) AS rank FROM sc) SELECT doc_id, rank, term, tf, idf_micro, score_micro FROM r WHERE rank <= 5""")((s, dir) => {
      // TF-IDF top-5 terms per document — the classic vectorizer next
      // to srch_bm25's retrieval scorer: term frequencies and document
      // frequencies are two hash aggs, idf is the micro-rounded IEEE ln
      // (the q_lift precedent), and the per-doc top-5 window partitions
      // on doc_id (high cardinality). df reaches the doc join pruned to
      // the distinct (doc, term) pairs — never the token stream twice.
      import org.apache.spark.sql.expressions.Window
      val tok = T(s, dir, "documents")
        .select(col("doc_id"), explode(expr(
          "filter(split(lower(text), '\\\\s+'), x -> x != '')")).as("term"))
      val tf = tok.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        .localCheckpoint(true) // df agg + scoring read one frame
      val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val nDocs = tf.select("doc_id").distinct().agg(count(lit(1)).as("n_docs"))
      val w = Window.partitionBy("doc_id")
        .orderBy(col("score_micro").desc, col("term").asc)
      tf.join(df, "term").crossJoin(broadcast(nDocs))
        .withColumn("idf_micro", expr(
          "CAST(round(ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)) * 1000000) AS BIGINT)"))
        .withColumn("score_micro", col("tf") * col("idf_micro"))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 5)
        .select(col("doc_id"), col("rank"), col("term"), col("tf"),
          col("idf_micro"), col("score_micro"))
    }),

    "ta_keyness" -> Query(
      """WITH tok AS (SELECT source, unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS term FROM documents), st AS (SELECT source, term, CAST(count(*) AS BIGINT) AS tf_s FROM tok GROUP BY 1, 2), stot AS (SELECT source, CAST(sum(tf_s) AS BIGINT) AS t_s FROM st GROUP BY 1), gl AS (SELECT term, CAST(sum(tf_s) AS BIGINT) AS tf_g FROM st GROUP BY 1), gt AS (SELECT CAST(sum(tf_s) AS BIGINT) AS t_g FROM st), rated AS (SELECT st.source, st.term, st.tf_s, (st.tf_s * t_g * 1000000) // (tf_g * t_s) AS ratio_micro FROM st JOIN stot USING (source) JOIN gl USING (term), gt WHERE st.tf_s >= 5 AND 4 * st.tf_s * t_g > 5 * tf_g * t_s), r AS (SELECT source, term, tf_s, ratio_micro, CAST(row_number() OVER (PARTITION BY source ORDER BY ratio_micro DESC, term) AS BIGINT) AS rank FROM rated) SELECT source, rank, term, tf_s, CAST(ratio_micro AS BIGINT) AS ratio_micro FROM r WHERE rank <= 3""")((s, dir) => {
      // distinctive-term detection (keyness): a term is a key term of a
      // source when its in-source share exceeds 1.25× its corpus-wide
      // share — the exact integral predicate 4·tf_s·T_g > 5·tf_g·T_s —
      // reported
      // as the top-3 ratio-ranked terms per source (min in-source count
      // 5). Two cascaded hash aggs + a per-source window whose partition
      // extent is that source's vocabulary.
      import org.apache.spark.sql.expressions.Window
      val tok = T(s, dir, "documents")
        .select(col("source"), explode(expr(
          "filter(split(lower(text), '\\\\s+'), x -> x != '')")).as("term"))
      val st = tok.groupBy("source", "term").agg(count(lit(1)).as("tf_s"))
        .localCheckpoint(true) // per-source totals + global totals + probe
      val srcTot = st.groupBy("source").agg(sum("tf_s").as("t_s"))
      val gl = st.groupBy("term").agg(sum("tf_s").as("tf_g"))
      val gTot = st.agg(sum("tf_s").as("t_g"))
      val rated = st.join(srcTot, "source").join(gl, "term")
        .crossJoin(broadcast(gTot))
        .filter(col("tf_s") >= 5L)
        .withColumn("ratio_micro",
          expr("(tf_s * t_g * 1000000) div (tf_g * t_s)"))
        .filter(expr("4 * tf_s * t_g > 5 * tf_g * t_s"))
      val w = Window.partitionBy("source")
        .orderBy(col("ratio_micro").desc, col("term").asc)
      rated.withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 3)
        .select(col("source"), col("rank"), col("term"), col("tf_s"),
          col("ratio_micro"))
    }),

    "ta_kfold" -> Query(
      """WITH d AS (SELECT doc_id, source, md5('fold0:' || CAST(doc_id AS VARCHAR)) AS h FROM documents), r AS (SELECT doc_id, source, CAST(row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS BIGINT) AS rn FROM d) SELECT doc_id, source, (rn - 1) % 5 AS fold FROM r""")((s, dir) => {
      // exact stratified k-fold assignment: docs rank within their
      // source by seeded md5 order (range-partitioned rank — source is
      // a LOW-cardinality stratum key, so a plain partitioned window
      // would serialize each stratum), fold = (rank−1) mod 5 — every
      // stratum splits into folds whose sizes differ by at most one,
      // reproducibly. The cross-validation face of ta_group_split.
      val d = T(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          md5(concat(lit("fold0:"), col("doc_id").cast("string"))).as("h"))
      val ranked = ext.Ranks.groupedRank(d, "source",
        Seq(col("h").asc, col("doc_id").asc), "rn")
      ranked.select(col("doc_id"), col("source"),
        expr("(rn - 1) % 5").as("fold"))
    }),
    // ta_cdc_chunk: the rolling hash, boundary cuts, and chunk substrings
    // replayed list-for-list with the same base-31 power literals
    "ta_cdc_chunk" -> Query(
      """WITH c AS (SELECT doc_id, text, list_transform(range(1, length(text) + 1), i -> CAST(ascii(substr(text, i, 1)) AS BIGINT)) AS codes FROM documents), b AS (SELECT doc_id, text, codes, list_filter(range(8, greatest(8, len(codes)) + 1), i -> i <= len(codes) AND (codes[i] + codes[i-1] * 31 + codes[i-2] * 961 + codes[i-3] * 29791 + codes[i-4] * 923521 + codes[i-5] * 28629151 + codes[i-6] * 887503681 + codes[i-7] * 27512614111) % 64 = 0) AS bpos FROM c), bd AS (SELECT doc_id, text, list_sort(list_distinct(list_concat(list_concat([CAST(0 AS BIGINT)], list_transform(bpos, x -> CAST(x AS BIGINT))), [CAST(length(text) AS BIGINT)]))) AS bounds FROM b), ch AS (SELECT doc_id, unnest(list_transform(range(1, len(bounds)), j -> substr(text, CAST(bounds[j] AS INTEGER) + 1, CAST(bounds[j+1] - bounds[j] AS INTEGER)))) AS chunk FROM bd), g AS (SELECT chunk, CAST(count(*) AS BIGINT) AS occ, CAST(max(length(chunk)) AS BIGINT) AS len FROM ch GROUP BY 1), t AS (SELECT CAST(sum(occ) AS BIGINT) AS n_chunks_total, CAST(count(*) AS BIGINT) AS n_chunks_distinct, CAST(sum(occ * len) AS BIGINT) AS bytes_total, CAST(sum(len) AS BIGINT) AS bytes_distinct FROM g) SELECT n_chunks_total, n_chunks_distinct, bytes_total, bytes_distinct, CAST((bytes_distinct * 1000000) // bytes_total AS BIGINT) AS stored_share_micro FROM t""")((s, dir) => {
      // content-defined chunking (the restic/borg/LBFS dedup primitive):
      // an 8-char polynomial rolling hash (base 31, integer, no mod
      // bias) cuts a chunk boundary wherever H % 64 == 0, so chunk
      // edges survive insertions that shift byte offsets — then chunks
      // dedup corpus-wide by md5. All boundary math is ONE scalar
      // array expression per doc (codegen, no shuffle until the chunk
      // agg); the oracle replays hash, cuts, and chunks list-for-list.
      // Production note: per-position substring is O(len) for non-ASCII
      // — a native Expression would stream the codepoints once.
      cdcChunks(T(s, dir, "documents"))
        .select(col("chunk"), length(col("chunk")).cast("long").as("len"))
        .groupBy("chunk").agg(count(lit(1)).as("occ"), max("len").as("len"))
        .agg(sum("occ").as("n_chunks_total"), count(lit(1)).as("n_chunks_distinct"),
          sum(expr("occ * len")).as("bytes_total"), sum("len").as("bytes_distinct"))
        .select(col("n_chunks_total"), col("n_chunks_distinct"),
          col("bytes_total"), col("bytes_distinct"),
          expr("(bytes_distinct * 1000000) div bytes_total").as("stored_share_micro"))
    }),

    "ta_neyman" -> Query(
      """WITH g AS (SELECT source, CAST(count(*) AS HUGEINT) AS nh, CAST(sum(CAST(n_chars AS HUGEINT)) AS HUGEINT) AS sh, CAST(sum(CAST(n_chars AS HUGEINT) * n_chars) AS HUGEINT) AS ssh FROM documents GROUP BY 1), w AS (SELECT source, CAST(nh AS BIGINT) AS n_docs, CAST(round(CAST(nh AS DOUBLE) * sqrt(CAST(nh * ssh - sh * sh AS DOUBLE) / (CAST(nh AS DOUBLE) * CAST(nh - 1 AS DOUBLE))) * 1000000) AS BIGINT) AS w_micro FROM g), t AS (SELECT CAST(sum(w_micro) AS BIGINT) AS wt FROM w) SELECT source, n_docs, w_micro, CAST((1000 * w_micro) // wt AS BIGINT) AS alloc, CAST((1000 * w_micro) % wt AS BIGINT) AS remainder FROM w, t""")((s, dir) => {
      // Neyman optimal stratified allocation: a 1000-doc sampling
      // budget split ∝ N_h·σ_h of per-source doc lengths — per-stratum
      // σ via the correctly-rounded sqrt of the exact integer variance,
      // weights micro-rounded PER STRATUM (order-free), allocation by
      // integral floor with the remainder reported (ta_apportion holds
      // the largest-remainder machinery when seats must total exactly).
      val g = T(s, dir, "documents")
        .groupBy("source")
        .agg(count(lit(1)).cast("decimal(38,0)").as("nh"),
          sum(col("n_chars").cast("decimal(38,0)")).as("sh"),
          sum(expr("CAST(n_chars AS DECIMAL(38,0)) * n_chars")).as("ssh"))
        .localCheckpoint(true) // weights + total read one frame
      val w = g.select(col("source"), col("nh").cast("long").as("n_docs"),
        expr("""CAST(round(CAST(nh AS DOUBLE)
               * sqrt(CAST(nh * ssh - sh * sh AS DOUBLE)
                      / (CAST(nh AS DOUBLE) * CAST(nh - 1 AS DOUBLE)))
               * 1000000) AS BIGINT)""").as("w_micro"))
        .localCheckpoint(true)
      val tot = w.agg(sum("w_micro").as("wt"))
      w.crossJoin(broadcast(tot))
        .select(col("source"), col("n_docs"), col("w_micro"),
          expr("(1000 * w_micro) div wt").as("alloc"),
          expr("(1000 * w_micro) % wt").as("remainder"))
    }),

    "ta_blocklist" -> Query(
      s"""WITH t AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS toks FROM documents), s AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens, CAST(${blocklistTerms.map { case (t, w) => s"$w * len(list_filter(toks, x -> x = '$t'))" }.mkString(" + ")} AS BIGINT) AS score FROM t) SELECT doc_id, n_tokens, score, CAST(CASE WHEN n_tokens > 0 THEN (score * 1000000) // n_tokens ELSE 0 END AS BIGINT) AS tox_micro, (CASE WHEN n_tokens > 0 THEN (score * 1000000) // n_tokens ELSE 0 END) > 40000 AS flagged FROM s""")((s, dir) => {
      // wordlist content filter (the C4/Gopher "bad words" gate, with
      // per-term weights): weighted whole-token hits per document,
      // scored against token count in integer micro units. A pure
      // projection — no shuffle at all; the list is a literal, so the
      // 100 TB form is the same plan with a bigger CASE.
      val occ = blocklistTerms.map { case (t, w) =>
        size(expr(s"filter(split(lower(text), '\\\\s+'), x -> x = '$t')"))
          .cast("long") * w
      }.reduce(_ + _)
      T(s, dir, "documents")
        .select(col("doc_id"),
          size(expr("filter(split(lower(text), '\\\\s+'), x -> x != '')"))
            .cast("long").as("n_tokens"),
          occ.as("score"))
        .withColumn("tox_micro", expr(
          "CASE WHEN n_tokens > 0 THEN (score * 1000000) div n_tokens ELSE 0 END"))
        .withColumn("flagged", col("tox_micro") > 40000L)
    }),
    // ta_token_dropout: DuckDB's lambda index is 1-based — shifted to
    // match Spark's 0-based transform index
    "ta_token_dropout" -> Query(
      """WITH t AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks FROM documents), k AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens, list_filter(list_transform(toks, (x, i) -> CASE WHEN substr(md5('do:' || CAST(doc_id AS VARCHAR) || ':' || CAST(i - 1 AS VARCHAR)), 1, 1) = '0' THEN NULL ELSE x END), x -> x IS NOT NULL) AS kept FROM t) SELECT doc_id, n_tokens, CAST(len(kept) AS BIGINT) AS n_kept, coalesce(list_aggregate(kept, 'string_agg', ' '), '') AS aug_text FROM k""")((s, dir) => {
      // deterministic token-dropout augmentation (EDA-style): token i of
      // doc d drops when md5('do:<d>:<i>') starts with hex '0' — an
      // exact 1/16 Bernoulli that is reproducible across runs AND
      // engines (the property augmentation caches need). Pure array
      // expressions, no shuffle; emits the augmented text + audit
      // counts. Spark's transform index is 0-based; the oracle shifts
      // DuckDB's 1-based lambda index to match.
      T(s, dir, "documents")
        .select(col("doc_id"),
          expr("filter(split(lower(text), '\\\\s+'), x -> x != '')").as("toks"))
        .select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"),
          expr("""filter(transform(toks, (x, i) ->
                 |  CASE WHEN substr(md5(concat('do:', CAST(doc_id AS STRING), ':', CAST(i AS STRING))), 1, 1) = '0'
                 |       THEN NULL ELSE x END), x -> x IS NOT NULL)""".stripMargin)
            .as("kept"))
        .select(col("doc_id"), col("n_tokens"),
          size(col("kept")).cast("long").as("n_kept"),
          expr("array_join(kept, ' ')").as("aug_text"))
    }),
    // ta_rouge: 1-based DuckDB lambda index pairs token j with toks[j+1],
    // matching Spark's 0-based (x, i) -> element_at(toks, i + 2)
    "ta_rouge" -> Query(
      """WITH t0 AS (SELECT doc_id, lang, list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks FROM documents), d AS (SELECT doc_id, lang, list_distinct(toks) AS u1, list_distinct(list_transform(list_slice(toks, 1, greatest(len(toks) - 1, 0)), (x, i) -> concat(x, ' ', toks[i + 1]))) AS u2 FROM t0), p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.u1 AS a1, a.u2 AS a2, b.u1 AS b1, b.u2 AS b2 FROM d a JOIN d b ON b.doc_id = a.doc_id + 1 AND a.lang = b.lang), o AS (SELECT a_id, b_id, CAST(len(list_filter(a1, x -> list_contains(b1, x))) AS BIGINT) AS o1, CAST(len(a1) AS BIGINT) AS na1, CAST(len(b1) AS BIGINT) AS nb1, CAST(len(list_filter(a2, x -> list_contains(b2, x))) AS BIGINT) AS o2, CAST(len(a2) AS BIGINT) AS na2, CAST(len(b2) AS BIGINT) AS nb2 FROM p) SELECT a_id, b_id, CAST(CASE WHEN na1 = 0 THEN 0 ELSE (o1 * 1000000) // na1 END AS BIGINT) AS r1_p_micro, CAST(CASE WHEN nb1 = 0 THEN 0 ELSE (o1 * 1000000) // nb1 END AS BIGINT) AS r1_r_micro, CAST(CASE WHEN na1 + nb1 = 0 THEN 0 ELSE (2 * o1 * 1000000) // (na1 + nb1) END AS BIGINT) AS r1_f_micro, CAST(CASE WHEN na2 + nb2 = 0 THEN 0 ELSE (2 * o2 * 1000000) // (na2 + nb2) END AS BIGINT) AS r2_f_micro FROM o""")((s, dir) => {
      // set-ROUGE-1/2 between candidate near-dup pairs (consecutive
      // same-language docs — the dd_components edge set, so the pair
      // list is deterministic and bounded by the corpus, never
      // quadratic): distinct-gram precision/recall/F in integer micro.
      // The summarization-eval metric applied to dedup verification —
      // LSH says "maybe dup", ROUGE quantifies how much actually
      // overlaps.
      val d = T(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          expr("filter(split(lower(text), '\\\\s+'), x -> x != '')").as("toks"))
        .select(col("doc_id"), col("lang"),
          expr("array_distinct(toks)").as("u1"),
          expr("""array_distinct(transform(slice(toks, 1, greatest(size(toks) - 1, 0)),
                 |  (x, i) -> concat(x, ' ', element_at(toks, i + 2))))""".stripMargin)
            .as("u2"))
        .localCheckpoint(true) // both sides of the consecutive-id join
      val pairs = d.select((col("doc_id") + 1).as("doc_id"), col("doc_id").as("a_id"),
          col("lang").as("lang_a"), col("u1").as("a1"), col("u2").as("a2"))
        .join(d.select(col("doc_id"), col("doc_id").as("b_id"), col("lang").as("lang_b"),
          col("u1").as("b1"), col("u2").as("b2")), Seq("doc_id"))
        .filter(col("lang_a") === col("lang_b"))
      pairs.select(col("a_id"), col("b_id"),
          expr("size(filter(a1, x -> array_contains(b1, x)))").cast("long").as("o1"),
          size(col("a1")).cast("long").as("na1"), size(col("b1")).cast("long").as("nb1"),
          expr("size(filter(a2, x -> array_contains(b2, x)))").cast("long").as("o2"),
          size(col("a2")).cast("long").as("na2"), size(col("b2")).cast("long").as("nb2"))
        .select(col("a_id"), col("b_id"),
          expr("CASE WHEN na1 = 0 THEN 0 ELSE (o1 * 1000000) div na1 END").as("r1_p_micro"),
          expr("CASE WHEN nb1 = 0 THEN 0 ELSE (o1 * 1000000) div nb1 END").as("r1_r_micro"),
          expr("CASE WHEN na1 + nb1 = 0 THEN 0 ELSE (2 * o1 * 1000000) div (na1 + nb1) END")
            .as("r1_f_micro"),
          expr("CASE WHEN na2 + nb2 = 0 THEN 0 ELSE (2 * o2 * 1000000) div (na2 + nb2) END")
            .as("r2_f_micro"))
    }),

    "ta_fertility" -> Query(
      """WITH c AS (SELECT lang, CAST(len(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS BIGINT) AS nw, CAST(len(regexp_extract_all(text, '[A-Za-z0-9_]+|[^A-Za-z0-9_\s]')) AS BIGINT) AS nb, CAST(length(text) AS BIGINT) AS nc FROM documents), g AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(nc) AS BIGINT) AS chars, CAST(sum(nb) AS BIGINT) AS bpeish, CAST(sum(nw) AS BIGINT) AS words FROM c GROUP BY 1) SELECT lang, n_docs, chars, bpeish, (chars * 1000000) // bpeish AS chars_per_tok_micro, (bpeish * 1000000) // words AS fertility_micro FROM g""")((s, dir) => {
      // tokenizer fertility per language: chars per BPE-ish token and
      // BPE-ish tokens per whitespace word — the standard tokenizer-
      // efficiency read (high fertility → wasted context budget). One
      // hash agg over ta_tokens' counting expressions.
      T(s, dir, "documents")
        .select(col("lang"),
          ext.TextAnalysis.tokenCount(col("text")).as("nw"),
          ext.TextAnalysis.bpeishTokenCount(col("text")).as("nb"),
          length(col("text")).cast("long").as("nc"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("nc").as("chars"),
          sum("nb").as("bpeish"), sum("nw").as("words"))
        .select(col("lang"), col("n_docs"), col("chars"), col("bpeish"),
          expr("(chars * 1000000) div bpeish").as("chars_per_tok_micro"),
          expr("(bpeish * 1000000) div words").as("fertility_micro"))
    }),

    "ta_negsample" -> Query(
      """WITH tok AS (SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS token FROM documents), tf AS (SELECT token, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY 1), w AS (SELECT token, tf, CAST(round(exp(0.75 * ln(CAST(tf AS DOUBLE))) * 1000000) AS BIGINT) AS w75_micro FROM tf), t AS (SELECT CAST(sum(w75_micro) AS BIGINT) AS wt FROM w) SELECT token, tf, w75_micro, (w75_micro * 1000000) // wt AS p_micro FROM w, t""")((s, dir) => {
      // word2vec-style negative-sampling table: the unigram distribution
      // raised to 3/4 (Mikolov's smoothing — rare words get MORE noise
      // mass), per-token weights micro-rounded before the share divide
      // so the table is order-free. Two cascaded aggs over the vocab;
      // at scale the vocab frame is ≪ the corpus.
      val tf = T(s, dir, "documents")
        .select(explode(expr("filter(split(lower(text), '\\\\s+'), x -> x != '')"))
          .as("token"))
        .groupBy("token").agg(count(lit(1)).as("tf"))
        .withColumn("w75_micro", expr(
          "CAST(round(exp(0.75 * ln(CAST(tf AS DOUBLE))) * 1000000) AS BIGINT)"))
        .localCheckpoint(true) // total + shares
      val tot = tf.agg(sum("w75_micro").as("wt"))
      tf.crossJoin(broadcast(tot))
        .select(col("token"), col("tf"), col("w75_micro"),
          expr("(w75_micro * 1000000) div wt").as("p_micro"))
    }),

    "ta_truncation" -> Query(
      """WITH d AS (SELECT source, CAST(len(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS BIGINT) AS nt FROM documents) SELECT source, CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(nt) AS BIGINT) AS tokens, CAST(sum(greatest(nt - 64, 0)) AS BIGINT) AS beyond, CAST(sum(CASE WHEN nt > 64 THEN 1 ELSE 0 END) AS BIGINT) AS n_truncated, (CAST(sum(greatest(nt - 64, 0)) AS BIGINT) * 1000000) // CAST(sum(nt) AS BIGINT) AS loss_micro FROM d GROUP BY 1""")((s, dir) => {
      // context-budget truncation loss: per source, the share of
      // whitespace tokens falling beyond a 64-token context window —
      // what a fixed context limit actually throws away, the number
      // that justifies (or kills) a chunking stage. Pure projection +
      // one agg.
      T(s, dir, "documents")
        .select(col("source"),
          expr("size(filter(split(lower(text), '\\\\s+'), x -> x != ''))")
            .cast("long").as("nt"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("nt").as("tokens"),
          sum(expr("greatest(nt - 64, 0)")).as("beyond"),
          sum(when(col("nt") > 64L, 1L).otherwise(0L)).as("n_truncated"))
        .withColumn("loss_micro", expr("(beyond * 1000000) div tokens"))
    }),

    "ta_oov" -> Query(
      """WITH tok AS (SELECT source, unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS token FROM documents), vocab AS (SELECT token FROM (SELECT token, count(*) AS tf FROM tok GROUP BY 1) ORDER BY tf DESC, token LIMIT 20) SELECT source, CAST(count(*) AS BIGINT) AS tokens, CAST(sum(CASE WHEN vocab.token IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS oov, (CAST(sum(CASE WHEN vocab.token IS NULL THEN 1 ELSE 0 END) AS BIGINT) * 1000000) // CAST(count(*) AS BIGINT) AS oov_micro FROM tok LEFT JOIN vocab ON tok.token = vocab.token GROUP BY 1""")((s, dir) => {
      // out-of-vocabulary rate against the corpus top-20 vocabulary:
      // vocab via ONE bounded TakeOrdered (ties broken by token), OOV
      // share per source through a broadcast membership probe — the
      // closed-vocab coverage read that sizes <unk> damage. Two keyed
      // aggs + a 20-row broadcast.
      val tok = T(s, dir, "documents")
        .select(col("source"),
          explode(expr("filter(split(lower(text), '\\\\s+'), x -> x != '')"))
            .as("token"))
        .localCheckpoint(true) // vocab + probe
      val vocab = tok.groupBy("token").agg(count(lit(1)).as("tf"))
        .orderBy(col("tf").desc, col("token")).limit(20)
        .select(col("token"), lit(1L).as("in_vocab"))
      tok.join(broadcast(vocab), Seq("token"), "left")
        .groupBy("source")
        .agg(count(lit(1)).as("tokens"),
          sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("oov"))
        .withColumn("oov_micro", expr("(oov * 1000000) div tokens"))
    }),
    // ta_good_turing: same trigram rule, counts-of-counts, HUGEINT
    // products mirroring the Spark DECIMAL(38,0) route.
    "ta_good_turing" -> Query(
      """WITH toks AS (SELECT list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS t FROM documents), tri AS (SELECT array_to_string(t[(CAST(i AS INTEGER)+1):(CAST(i AS INTEGER)+3)], ' ') AS g FROM (SELECT t, unnest(range(len(t) - 2)) AS i FROM toks WHERE len(t) >= 3)), cnt AS (SELECT g, CAST(count(*) AS BIGINT) AS c FROM tri GROUP BY 1), ff AS (SELECT c AS r, CAST(count(*) AS BIGINT) AS n_r FROM cnt GROUP BY 1), tot AS (SELECT CAST(sum(CAST(r AS HUGEINT) * n_r) AS HUGEINT) AS n_tokens FROM ff), rr AS (SELECT f.r, f.n_r, coalesce(nx.n_r, 0) AS n_next FROM ff f LEFT JOIN ff nx ON nx.r = f.r + 1 WHERE f.r <= 10) SELECT CAST(0 AS BIGINT) AS r, f.n_r, CAST(0 AS BIGINT) AS r_star_micro, CAST(CAST(f.n_r AS HUGEINT) * 1000000 // t.n_tokens AS BIGINT) AS mass_micro FROM ff f, tot t WHERE f.r = 1 UNION ALL SELECT CAST(r AS BIGINT), n_r, CAST(CAST(r + 1 AS HUGEINT) * n_next * 1000000 // n_r AS BIGINT), CAST(CAST(r AS HUGEINT) * n_r * 1000000 // t.n_tokens AS BIGINT) FROM rr, tot t""")((s, dir) => {
      // Good–Turing frequency-of-frequencies (Gale–Sampson 1995) over
      // word trigrams: the N_r table for r ≤ 10, the smoothed count
      // r* = (r+1)·N_{r+1}/N_r, the observed probability mass r·N_r/N
      // per bucket, and the unseen-mass estimate P₀ = N₁/N as the r = 0
      // row — the "how much tail haven't we crawled yet" dial of corpus
      // curation. Trigram space carries the long tail (the whitespace
      // unigram vocabulary is ~31 words); two hash aggregations (gram
      // counts → counts-of-counts) and everything after the second is a
      // ≤#distinct-counts-row frame. Products run in DECIMAL(38,0)
      // (HUGEINT in the oracle) so billion-type corpora can't wrap.
      // fanOut: trigram explode is the query's CPU (r12 ProbeJobs: 5.4 s
      // single-task stage); no-op at natural parallelism
      val cnt = ext.Par.fanOut(T(s, dir, "documents"))
        .select(explode(ext.Dedup.wordNgrams(col("text"), 3)).as("g"))
        .groupBy("g").agg(count(lit(1)).as("c"))
        .groupBy("c").agg(count(lit(1)).as("n_r"))
        .localCheckpoint(true) // tiny; feeds N, the r rows AND the r+1 lookup
      val tot = cnt.agg(sum(expr("CAST(c AS DECIMAL(38,0)) * n_r")).as("n_tokens"))
      val nxt = cnt.select((col("c") - 1).as("rj"), col("n_r").as("n_next"))
      val rows = cnt.filter(col("c") <= 10)
        .join(broadcast(nxt), col("c") === col("rj"), "left")
        .crossJoin(broadcast(tot))
        .select(col("c").cast("long").as("r"), col("n_r"),
          expr("CAST(CAST(c + 1 AS DECIMAL(38,0)) * coalesce(n_next, 0) * 1000000 div n_r AS BIGINT)")
            .as("r_star_micro"),
          expr("CAST(CAST(c AS DECIMAL(38,0)) * n_r * 1000000 div n_tokens AS BIGINT)")
            .as("mass_micro"))
      val unseen = cnt.filter(col("c") === 1).crossJoin(broadcast(tot))
        .select(lit(0L).as("r"), col("n_r"), lit(0L).as("r_star_micro"),
          expr("CAST(CAST(n_r AS DECIMAL(38,0)) * 1000000 div n_tokens AS BIGINT)")
            .as("mass_micro"))
      unseen.unionAll(rows)
    }),
    // ta_dunning: ta_pmi's bigram CTEs; each G² term multiplies counts
    // in HUGEINT before the double cast and the four terms sum in the
    // engine's fixed textual order.
    "ta_dunning" -> Query(
      """WITH toks AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS t FROM documents), bg AS (SELECT t[i+1] AS w1, t[i+2] AS w2 FROM (SELECT t, unnest(range(len(t)-1)) AS i FROM toks WHERE len(t) >= 2)), c12 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM bg GROUP BY 1, 2), c1 AS (SELECT w1, CAST(count(*) AS BIGINT) AS c1 FROM bg GROUP BY 1), c2 AS (SELECT w2, CAST(count(*) AS BIGINT) AS c2 FROM bg GROUP BY 1), n AS (SELECT CAST(count(*) AS BIGINT) AS nb FROM bg), f AS (SELECT w1, w2, c12, c1, c2, nb, c1 - c12 AS k12, c2 - c12 AS k21, nb - c1 - c2 + c12 AS k22 FROM c12 JOIN c1 USING (w1) JOIN c2 USING (w2), n WHERE c12 >= 5) SELECT w1, w2, c12, CAST(round((CASE WHEN c12 > 0 THEN CAST(c12 AS DOUBLE) * ln(CAST(CAST(c12 AS HUGEINT) * nb AS DOUBLE) / CAST(CAST(c1 AS HUGEINT) * c2 AS DOUBLE)) ELSE 0.0 END + CASE WHEN k12 > 0 THEN CAST(k12 AS DOUBLE) * ln(CAST(CAST(k12 AS HUGEINT) * nb AS DOUBLE) / CAST(CAST(c1 AS HUGEINT) * (nb - c2) AS DOUBLE)) ELSE 0.0 END + CASE WHEN k21 > 0 THEN CAST(k21 AS DOUBLE) * ln(CAST(CAST(k21 AS HUGEINT) * nb AS DOUBLE) / CAST(CAST(nb - c1 AS HUGEINT) * c2 AS DOUBLE)) ELSE 0.0 END + CASE WHEN k22 > 0 THEN CAST(k22 AS DOUBLE) * ln(CAST(CAST(k22 AS HUGEINT) * nb AS DOUBLE) / CAST(CAST(nb - c1 AS HUGEINT) * (nb - c2) AS DOUBLE)) ELSE 0.0 END) * 2.0 * 1000000) AS BIGINT) AS g2_micro FROM f ORDER BY g2_micro DESC, w1, w2 LIMIT 25""")((s, dir) => {
      // collocations by Dunning's log-likelihood ratio (Dunning 1993):
      // G² over each bigram's 2×2 table — the low-count-robust
      // complement to ta_pmi (PMI over-rewards rare pairs; G² weighs
      // evidence). Same bigram-stream aggregates as ta_pmi; decimal
      // products before the double cast so k·N can't wrap at web scale.
      ext.LangModel.dunningCollocations(T(s, dir, "documents"),
        "doc_id", "text", minCount = 5, topK = 25)
    }),
    // ta_kneser_ney: the same bigram CTEs plus continuation counts over
    // the distinct-pair set; the probability replays the identical
    // three-double-op order before the single micro-round.
    "ta_kneser_ney" -> Query(
      """WITH toks AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS t FROM documents), bg AS (SELECT t[i+1] AS w1, t[i+2] AS w2 FROM (SELECT t, unnest(range(len(t)-1)) AS i FROM toks WHERE len(t) >= 2)), c12 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM bg GROUP BY 1, 2), c1 AS (SELECT w1, CAST(count(*) AS BIGINT) AS c1 FROM bg GROUP BY 1), dis AS (SELECT DISTINCT w1, w2 FROM bg), fol AS (SELECT w1, CAST(count(*) AS BIGINT) AS n_follow FROM dis GROUP BY 1), prc AS (SELECT w2, CAST(count(*) AS BIGINT) AS n_prec FROM dis GROUP BY 1), ty AS (SELECT CAST(count(*) AS BIGINT) AS n_types FROM dis) SELECT w1, w2, c12, c1, n_follow, n_prec, n_types, CAST(round(((CAST(c12 AS DOUBLE) - 0.75) / CAST(c1 AS DOUBLE) + (0.75 * CAST(n_follow AS DOUBLE) / CAST(c1 AS DOUBLE)) * (CAST(n_prec AS DOUBLE) / CAST(n_types AS DOUBLE))) * 1000000) AS BIGINT) AS pkn_micro FROM c12 JOIN c1 USING (w1) JOIN fol USING (w1) JOIN prc USING (w2), ty ORDER BY c12 DESC, w1, w2 LIMIT 25""")((s, dir) => {
      // interpolated Kneser–Ney bigram probabilities (Kneser–Ney 1995;
      // Chen–Goodman 1999) for the top-25 bigrams: continuation counts
      // (how many distinct contexts a word follows) replace raw
      // frequency in the backoff — the smoothing behind production
      // n-gram LMs and the right novelty statistic for a dedup'd
      // corpus. Five integer aggregates + one micro-rounded formula.
      ext.LangModel.kneserNeyBigrams(T(s, dir, "documents"),
        "doc_id", "text", topK = 25)
    })
  )

  /** Weighted blocklist for ta_blocklist — shared with its oracle. */
  private val blocklistTerms: Seq[(String, Long)] =
    Seq("slow" -> 3L, "crash" -> 5L, "fail" -> 4L, "big" -> 1L, "filter" -> 2L)

  /** Poisson(1) inverse-CDF thresholds on the 32-bit hash fraction,
    * floor(cdf·2³²) for k = 0..8 — the deterministic Poisson bootstrap's
    * multiplicity table, shared verbatim between engine and oracle.
    */
  private val bootThresholds: Seq[Long] = Seq(1580030168L, 3160060337L,
    3950075421L, 4213413783L, 4279248373L, 4292415291L, 4294609777L,
    4294923276L, 4294962463L)

  private def bootPoissonCdf(u32: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    bootThresholds.zipWithIndex.foldRight(
      lit(9L): org.apache.spark.sql.Column) { case ((t, k), acc) =>
      when(u32 < t, lit(k.toLong)).otherwise(acc)
    }

  /** DuckDB replay of the winnowing fingerprint pipeline (k=8, w=16,
    * minShared=5, maxDocFreq=20 — Dedup.winnowPairs defaults). The JVM
    * rolling Rabin-Karp hash wraps mod 2^64, so each k-gram hash equals
    * the direct polynomial Σ byte_j·257^(7-j) mod 2^64 — computed in
    * HUGEINT and re-signed to BIGINT (the window min compares SIGNED
    * longs, matching Hashing.winnowLocal). The fixture text is pure
    * ASCII, so ascii(char) == utf8 byte.
    */
  private lazy val winnowOracleSql: String = {
    val expr = (0 until 8).map(j =>
      s"CAST(ascii(substr(text, CAST(i AS INTEGER) + ${j + 1}, 1)) AS HUGEINT) * ${BigInt(257).pow(7 - j)}"
    ).mkString("((", " + ", ") % 18446744073709551616::HUGEINT)")
    s"""WITH b AS (SELECT doc_id, text, strlen(text) AS nb FROM documents WHERE strlen(text) >= 8),
       |hs AS (SELECT doc_id, list_transform(range(nb - 7), i ->
       |  CAST(CASE WHEN $expr >= 9223372036854775808::HUGEINT
       |       THEN $expr - 18446744073709551616::HUGEINT
       |       ELSE $expr END AS BIGINT)) AS h FROM b),
       |mw AS (SELECT doc_id, CASE WHEN len(h) <= 16 THEN [list_min(h)]
       |  ELSE list_transform(range(len(h) - 15), i -> list_min(h[(CAST(i AS INTEGER)+1):(CAST(i AS INTEGER)+16)])) END AS mins FROM hs),
       |fps AS (SELECT DISTINCT doc_id, unnest(mins) AS fp FROM mw),
       |rare AS (SELECT fp FROM fps GROUP BY fp HAVING count(*) <= 20),
       |kept AS (SELECT doc_id, fp FROM fps JOIN rare USING (fp))
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS n_shared
       |FROM kept a JOIN kept b USING (fp) WHERE a.doc_id < b.doc_id
       |GROUP BY 1, 2 HAVING count(*) >= 5""".stripMargin
  }

  /** ta_langid / ta_langid_eval shared classification replay. */
  private lazy val langidOracleSql: String =
    """WITH base AS (SELECT doc_id, lang AS lang_truth, list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks FROM documents), scores AS (SELECT doc_id, lang_truth, 'en' AS lang_guess, CASE WHEN len(toks) > 0 THEN CAST(len(list_filter(toks, t -> list_contains(['the','a','an','and','or','of','to','in','is','it','that','for','on','with','as','was','at','by','be','this'], t))) AS DOUBLE) / len(toks) ELSE 0 END AS score FROM base UNION ALL SELECT doc_id, lang_truth, 'fr', CASE WHEN len(toks) > 0 THEN CAST(len(list_filter(toks, t -> list_contains(['le','la','les','de','des','un','une','et','ou','dans','est','que','pour','sur','avec','au','du','il','elle','ce'], t))) AS DOUBLE) / len(toks) ELSE 0 END FROM base UNION ALL SELECT doc_id, lang_truth, 'de', CASE WHEN len(toks) > 0 THEN CAST(len(list_filter(toks, t -> list_contains(['der','die','das','und','oder','von','zu','in','ist','es','dass','für','auf','mit','als','war','bei','sein','ein','eine'], t))) AS DOUBLE) / len(toks) ELSE 0 END FROM base UNION ALL SELECT doc_id, lang_truth, 'es', CASE WHEN len(toks) > 0 THEN CAST(len(list_filter(toks, t -> list_contains(['el','la','los','las','de','un','una','y','o','en','es','que','para','sobre','con','al','del','se','por','este'], t))) AS DOUBLE) / len(toks) ELSE 0 END FROM base UNION ALL SELECT doc_id, lang_truth, 'it', CASE WHEN len(toks) > 0 THEN CAST(len(list_filter(toks, t -> list_contains(['il','la','le','di','dei','un','una','e','o','in','è','che','per','su','con','al','del','si','da','questo'], t))) AS DOUBLE) / len(toks) ELSE 0 END FROM base) SELECT doc_id, lang_truth, lang_guess FROM (SELECT doc_id, lang_truth, lang_guess, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang_guess DESC) AS rn FROM scores) WHERE rn = 1"""

  /** ta_group_split: the minhash component replay labels each doc with
    * its min-id cluster root; the split thresholds are ta_split's,
    * applied to the ROOT's hash.
    */
  private lazy val groupSplitOracleSql: String =
    s"""WITH RECURSIVE $minhashCompCtes
       |SELECT c.id AS doc_id, c.root AS cluster_rep,
       |  CASE WHEN substr(md5(CAST(c.root AS VARCHAR)), 1, 8) < 'cccccccd' THEN 'train'
       |       WHEN substr(md5(CAST(c.root AS VARCHAR)), 1, 8) < 'e6666666' THEN 'val'
       |       ELSE 'test' END AS split
       |FROM comp c""".stripMargin

  /** ta_bpe: replay Bpe.trainMerges(text, 8) — 8 unrolled merge steps,
    * each = count adjacent symbol pairs over the symbol-list states, pick
    * argmax on (cnt desc, l, r), then apply the merge with a recursive
    * position walk (classic greedy left-to-right non-overlapping — the
    * same scan the engine's aggregate-fold implements).
    */
  /** WITH-body replaying Bpe.learn's 8 unrolled merge steps: pair stats
    * (pr/m per step) and recursive classic-greedy walks (wk) producing
    * the post-merge dictionary state `s8(w, freq, sy)`.
    */
  private lazy val bpeCtes: String = {
    def step(t: Int): String =
      s"""pr$t AS MATERIALIZED (SELECT freq, unnest(list_transform(range(len(sy) - 1), i -> {'l': sy[CAST(i AS INTEGER)+1], 'r': sy[CAST(i AS INTEGER)+2]})) AS p FROM s$t WHERE len(sy) >= 2),
         |m$t AS MATERIALIZED (SELECT p.l AS l, p.r AS r, CAST(sum(freq) AS BIGINT) AS cnt FROM pr$t GROUP BY 1, 2 ORDER BY cnt DESC, l, r LIMIT 1),
         |wk$t AS (SELECT w, freq, sy, 0 AS i, CAST([] AS VARCHAR[]) AS acc FROM s$t
         |  UNION ALL
         |  SELECT w, freq, sy,
         |    CASE WHEN i < len(sy) - 1 AND sy[i+1] = m.l AND sy[i+2] = m.r THEN i + 2 ELSE i + 1 END,
         |    CASE WHEN i < len(sy) - 1 AND sy[i+1] = m.l AND sy[i+2] = m.r THEN list_append(acc, m.l || m.r) ELSE list_append(acc, sy[i+1]) END
         |  FROM wk$t LEFT JOIN m$t m ON true WHERE i < len(sy)),
         |s${t + 1} AS MATERIALIZED (SELECT w, freq, acc AS sy FROM wk$t WHERE i >= len(sy))""".stripMargin
    val steps = (0 until 8).map(step).mkString(",\n")
    s"""w AS MATERIALIZED (SELECT w, count(*) AS freq FROM (SELECT unnest(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS w FROM documents) GROUP BY 1),
       |s0 AS MATERIALIZED (SELECT w, freq, list_transform(range(length(w)), i -> w[CAST(i AS INTEGER)+1 : CAST(i AS INTEGER)+1]) AS sy FROM w),
       |$steps""".stripMargin
  }

  private lazy val bpeOracleSql: String = {
    val out = (0 until 8).map(t =>
      s"SELECT ${t + 1} AS merge_rank, l AS lhs, r AS rhs, cnt AS pair_count FROM m$t").mkString(" UNION ALL ")
    s"""WITH RECURSIVE $bpeCtes
       |SELECT CAST(merge_rank AS INTEGER) AS merge_rank, lhs, rhs, pair_count FROM ($out)""".stripMargin
  }

  /** ta_bpe_apply: the trained dictionary state s8 IS the merge list
    * applied in order, so per-doc subword counts are a word join plus a
    * re-aggregation of word frequencies.
    */
  private lazy val bpeApplyOracleSql: String =
    s"""WITH RECURSIVE $bpeCtes,
       |wc AS (SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS w FROM documents),
       |j AS (SELECT wc.doc_id, len(s8.sy) AS ns FROM wc JOIN s8 ON wc.w = s8.w)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words, CAST(sum(ns) AS BIGINT) AS n_subwords FROM j GROUP BY 1""".stripMargin

  /** ta_bootstrap replay: identical multiplicity table, identical exact
    * sums, nearest-rank CI from the sorted replicate-mean list.
    */
  private lazy val bootstrapOracleSql: String = {
    val cases = bootThresholds.zipWithIndex
      .map { case (t, k) => s"WHEN u32 < $t THEN $k" }.mkString(" ")
    s"""WITH jj AS (SELECT unnest(range(40)) AS j), r AS (SELECT o_orderpriority AS pri, CAST(round(o_totalprice * 100) AS BIGINT) AS x, o_orderkey AS id FROM orders), u AS (SELECT pri, x, j, CAST('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || CAST(id AS VARCHAR)), 1, 8) AS BIGINT) AS u32 FROM r, jj), m AS (SELECT pri, j, x, CASE $cases ELSE 9 END AS m FROM u), rm AS (SELECT pri, j, CAST(sum(m * x) AS BIGINT) AS sx, CAST(sum(m) AS BIGINT) AS sm FROM m GROUP BY 1, 2), means AS (SELECT pri, CAST(sx AS DOUBLE) / CAST(sm AS DOUBLE) AS mean FROM rm WHERE sm > 0), ci AS (SELECT pri, (list_sort(list(mean)))[1] AS boot_lo, (list_sort(list(mean)))[39] AS boot_hi FROM means GROUP BY 1), pt AS (SELECT pri, CAST(count(*) AS BIGINT) AS n, CAST(CAST(sum(x) AS BIGINT) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS point_mean FROM r GROUP BY 1) SELECT pt.pri AS o_orderpriority, n, point_mean, boot_lo, boot_hi FROM pt JOIN ci ON pt.pri = ci.pri"""
  }
}
