package graft
package families

import org.apache.spark.sql.functions._
import Shared._

/** The sim_ queries: vector similarity and ANN indexes (LSH, IVF, PQ, graph).
  * Each entry holds a query's DuckDB oracle SQL and its builder.
  */
object SimilarityQueries {

  val entries: Seq[(String, Query)] = Seq(
    // ---- extended: similarity search ----

    "sim_topk" -> Query(
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         scored AS (
           SELECT q.vec_id AS query_id, d.vec_id AS neighbor_id,
                  list_dot_product(d.v, q.v) / (sqrt(list_dot_product(d.v, d.v)) * sqrt(list_dot_product(q.v, q.v))) AS score
           FROM e d, e q WHERE q.vec_id < 8 AND d.vec_id <> q.vec_id)
         SELECT query_id, CAST(rn AS INTEGER) AS rank, neighbor_id, score
         FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rn FROM scored)
         WHERE rn <= 10""")((s, dir) => {
      val emb = T(s, dir, "embeddings")
      ext.Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 8), "vec_id", "embedding", 10)
    }),
    // sim_topk: the scorer is fixed-order double accumulation over
    // float→double casts — DuckDB's list_dot_product on double-cast lists
    // is bit-identical (verified on this corpus), so exact scores and
    // ranks hash-match; ties (none in practice) break by neighbor_id in
    // both engines
    // sim_lid: the same brute top-10 replay, then per-term micro-nat
    // rounding of ln(d_i/d_k) and the integer MLE readout
    "sim_lid" -> Query(
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         scored AS (SELECT q.vec_id AS query_id, d.vec_id AS neighbor_id,
             list_dot_product(d.v, q.v) / (sqrt(list_dot_product(d.v, d.v)) * sqrt(list_dot_product(q.v, q.v))) AS score
           FROM e d, e q WHERE q.vec_id < 8 AND d.vec_id <> q.vec_id),
         top AS (SELECT query_id, score, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
           FROM scored QUALIFY rank <= 10),
         dk AS (SELECT query_id, 1.0 - score AS dk FROM top WHERE rank = 10),
         term AS (SELECT t.query_id,
             CASE WHEN t.score < 1.0 AND d.dk > 0 THEN CAST(round(ln((1.0 - t.score) / d.dk) * 1000000) AS BIGINT) ELSE NULL END AS lnr
           FROM top t JOIN dk d USING (query_id))
         SELECT query_id, CAST(count(lnr) AS BIGINT) AS k, CAST(sum(lnr) AS BIGINT) AS s_micro,
           CASE WHEN sum(lnr) < 0 THEN CAST((count(lnr) * 1000000000) // (-sum(lnr)) AS BIGINT) ELSE NULL END AS lid_milli
         FROM term GROUP BY 1""")((s, dir) => {
      // local intrinsic dimensionality (MLE of Amsaleg et al., KDD
      // 2015) at each standard query point: LID ≈ −k / Σ ln(d_i/d_k)
      // over the k nearest cosine distances — the embedding-geometry
      // audit (high LID ⇒ the neighborhood is noise-dimensional and
      // ANN recall will suffer there). Rides the exact brute-force
      // top-10 (bounded-heap shuffle); distances 1 − cos reuse the
      // bit-identical dot products, each ln rounded once to micro
      // (ta_entropy discipline), duplicate-distance guards NULL out
      // degenerate neighborhoods in both engines.
      val emb = T(s, dir, "embeddings")
      val knn = ext.Similarity.bruteForceTopK(emb,
        emb.filter(col("vec_id") < 8), "vec_id", "embedding", 10)
      val dk = knn.filter(col("rank") === 10)
        .select(col("query_id"), (lit(1.0) - col("score")).as("dk"))
      knn.join(broadcast(dk), "query_id")
        .select(col("query_id"),
          when(col("score") < 1.0 && col("dk") > 0.0,
            round(log((lit(1.0) - col("score")) / col("dk")) * 1e6).cast("long"))
            .as("lnr_micro"))
        .groupBy("query_id")
        .agg(count(col("lnr_micro")).as("k"), sum("lnr_micro").as("s_micro"))
        .select(col("query_id"), col("k"), col("s_micro"),
          expr("""CASE WHEN s_micro < 0
                 THEN CAST((k * 1000000000) div (-s_micro) AS BIGINT)
                 ELSE NULL END""").as("lid_milli"))
    }),
    // sim_mips: same replay as sim_topk minus the norm division
    "sim_mips" -> Query(
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         scored AS (
           SELECT q.vec_id AS query_id, d.vec_id AS neighbor_id,
                  list_dot_product(d.v, q.v) AS score
           FROM e d, e q WHERE q.vec_id < 8 AND d.vec_id <> q.vec_id)
         SELECT query_id, CAST(rn AS INTEGER) AS rank, neighbor_id, score
         FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rn FROM scored)
         WHERE rn <= 10""")((s, dir) => {
      // maximum-inner-product top-k (dot-product retrieval scoring —
      // magnitude-aware, distinct from sim_topk's cosine); brute
      // baseline with the same broadcast + bounded-heap shuffle shape
      val emb = T(s, dir, "embeddings")
      ext.Similarity.mipsTopK(emb, emb.filter(col("vec_id") < 8), "vec_id", "embedding", 10)
    }),

    "sim_topk_ivf" -> Query(ivfTopKOracleSql)((s, dir) => {
      // trained-centroid IVF: k-means cells + nProbe probing (FAISS
      // IVF-Flat shape as DataFrame ops); fixed-point Lloyd training +
      // fixed-order float scoring → full DuckDB hash-match (unrolled
      // iterations); IvfSpec additionally proves nProbe=k == brute force
      val emb = T(s, dir, "embeddings")
      val cents = ext.IvfIndex.train(emb, "vec_id", "embedding", k = 8, iters = 2)
      val index = ext.IvfIndex.assign(emb, "vec_id", "embedding", cents)
      ext.IvfIndex.topK(index, emb.filter(col("vec_id") < 8), "vec_id", "embedding",
        cents, k = 10, nProbe = 3)
    }),

    "sim_ivf_recall" -> Query(ivfRecallOracleSql)((s, dir) => {
      // recall@10 of the IVF tier vs exact brute force — the same
      // accept/reject eval row sim_recall (LSH) and sim_graph_recall
      // (graph) carry, completing the per-tier recall ladder: this is
      // the number that justifies nProbe=3 before an index ships.
      val emb = T(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 8)
      val bf = ext.Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", 10)
        .select(col("query_id"), col("neighbor_id"))
      val cents = ext.IvfIndex.train(emb, "vec_id", "embedding", k = 8, iters = 2)
      val index = ext.IvfIndex.assign(emb, "vec_id", "embedding", cents)
      val ann = ext.IvfIndex.topK(index, q, "vec_id", "embedding",
          cents, k = 10, nProbe = 3)
        .select(col("query_id").as("aq"), col("neighbor_id").as("an"))
      val hits = bf.join(ann,
          col("query_id") === col("aq") && col("neighbor_id") === col("an"),
          "left_semi")
        .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
      q.select(col("vec_id").as("query_id"))
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          (coalesce(col("n_hits"), lit(0L)).cast("double") / lit(10.0)).as("recall_at_10"))
    }),
    // identical parameters to sim_topk_ivf — the oracle hash-checks that
    // the write → re-open → pruned-probe loop loses nothing vs in-memory
    "sim_ivf_persisted" -> Query(ivfTopKOracleSql)((s, dir) => {
      // the persisted-index serving path a 100 TB corpus actually runs:
      // train + assign ONCE, write the inverted lists Hive-partitioned by
      // cell (+ centroids alongside), then RE-OPEN from disk and probe —
      // the probe's static `cell IN (…)` predicate prunes unprobed cell
      // directories at planning time (AnnIndexSpec proves the pruning on
      // the scan), so query cost is O(probed lists), not O(index). Same
      // train/probe parameters as sim_topk_ivf ⇒ byte-identical results,
      // so the existing full-replay oracle hash-checks the whole
      // write → open → probe loop.
      val emb = T(s, dir, "embeddings")
      val cents = ext.IvfIndex.train(emb, "vec_id", "embedding", k = 8, iters = 2)
      val path = annIndexPath(dir, "ivf_full")
      ext.AnnIndex.write(
        ext.IvfIndex.assign(emb, "vec_id", "embedding", cents), cents, path)
      ext.AnnIndex.probeTopK(s, path, emb.filter(col("vec_id") < 8),
        "vec_id", "embedding", k = 10, nProbe = 3)
    }),

    "sim_ivf_incremental" -> Query(ivfIncrementalOracleSql)((s, dir) => {
      // incremental ingest against a persisted index: train on the BASE
      // cohort only (even vec_ids), persist its lists, then APPEND the
      // delta cohort (odd vec_ids) assigned under the FROZEN centroids —
      // no retrain, no rewrite of existing lists, O(delta) ingest (the
      // FAISS add-after-train contract). The probe then reads the merged
      // index from disk; the oracle replays k-means-on-evens +
      // assign-everything exactly.
      val emb = T(s, dir, "embeddings")
      val base = emb.filter(col("vec_id") % 2 === 0)
      val delta = emb.filter(col("vec_id") % 2 === 1)
      val cents = ext.IvfIndex.train(base, "vec_id", "embedding", k = 8, iters = 2)
      val path = annIndexPath(dir, "ivf_incr")
      ext.AnnIndex.write(
        ext.IvfIndex.assign(base, "vec_id", "embedding", cents), cents, path)
      ext.AnnIndex.append(delta, "vec_id", "embedding", path)
      ext.AnnIndex.probeTopK(s, path, emb.filter(col("vec_id") < 8),
        "vec_id", "embedding", k = 10, nProbe = 3)
    }),
    // append-then-retrain converges to the one-shot full-corpus build
    // (deterministic init + integer-grid Lloyd over the stored set), so
    // the retrained index's probe shares the full-replay oracle verbatim
    "sim_ivf_retrain" -> Query(ivfTopKOracleSql)((s, dir) => {
      // index MAINTENANCE retrain — the acted-on half of the drift story
      // sim_ivf_stats detects: build on the even-vec_id cohort, append the
      // odd cohort under the FROZEN quantizer (sim_ivf_incremental's
      // state: lists assigned by stale centroids), then RETRAIN on the
      // index's own stored vectors and rewrite both tiers as one new
      // generation (single atomic root-pointer commit — probes never pair
      // new lists with old centroids). Training is deterministic (md5
      // init over stored ids + integer-grid Lloyd), so append-then-retrain
      // CONVERGES bit-for-bit to the one-shot build on the full corpus —
      // the probe shares sim_ivf_persisted's full-replay oracle verbatim
      // (the convergence law, like dd_lsh_incremental ≡ dd_lsh_persisted).
      val emb = T(s, dir, "embeddings")
      val base = emb.filter(col("vec_id") % 2 === 0)
      val delta = emb.filter(col("vec_id") % 2 === 1)
      val cents0 = ext.IvfIndex.train(base, "vec_id", "embedding", k = 8, iters = 2)
      val path = annIndexPath(dir, "ivf_retrain")
      ext.AnnIndex.write(
        ext.IvfIndex.assign(base, "vec_id", "embedding", cents0), cents0, path)
      ext.AnnIndex.append(delta, "vec_id", "embedding", path)
      ext.AnnIndex.retrain(s, path, k = 8, iters = 2)
      ext.AnnIndex.probeTopK(s, path, emb.filter(col("vec_id") < 8),
        "vec_id", "embedding", k = 10, nProbe = 3)
    }),

    "sim_ivf_forget" -> Query(ivfForgetOracleSql)((s, dir) => {
      // the erasure path against a persisted index: tombstone a cohort
      // (vec_id % 7 == 0) — O(deleted) manifest commit, no rewrite — and
      // probe. Deleted vectors stop being NEIGHBORS immediately (open()'s
      // broadcast anti-join feeds every consumer); the raw table still
      // supplies the query set, exactly like a user whose data was erased
      // can still issue queries. The oracle replays the full IVF build
      // with the tombstoned cohort excluded from the index side only; the
      // next retrain/compaction physically drops the rows (AnnIndexSpec
      // proves purge + clear).
      val emb = T(s, dir, "embeddings")
      val cents = ext.IvfIndex.train(emb, "vec_id", "embedding", k = 8, iters = 2)
      val path = annIndexPath(dir, "ivf_forget")
      ext.AnnIndex.write(
        ext.IvfIndex.assign(emb, "vec_id", "embedding", cents), cents, path)
      ext.AnnIndex.delete(path, emb.filter(col("vec_id") % 7 === 0).select("vec_id"))
      ext.AnnIndex.probeTopK(s, path, emb.filter(col("vec_id") < 8),
        "vec_id", "embedding", k = 10, nProbe = 3)
    }),

    "sim_topk_lsh" -> Query(lshTopKOracleSql)((s, dir) => {
      val emb = T(s, dir, "embeddings")
      ext.Similarity.lshTopK(emb, emb.filter(col("vec_id") < 8), "vec_id", "embedding", 10)
    }),
    // sim_recall: nests the exact brute-force and the full LSH replay,
    // intersects neighbor sets per anchor
    "sim_recall" -> Query(simRecallOracleSql)((s, dir) => {
      // ANN index eval loop: recall@10 of multi-probe LSH vs the exact
      // brute force per anchor — the accept/reject gate before trusting
      // an approximate index (the ta_nbc_eval of the ANN family).
      // recall is one IEEE division of an exact count by 10.
      val emb = T(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 8)
      val bf = ext.Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", 10)
        .select(col("query_id"), col("neighbor_id"))
      val lsh = ext.Similarity.lshTopK(emb, q, "vec_id", "embedding", 10)
        .select(col("query_id").as("lq"), col("neighbor_id").as("ln"))
      val hits = bf.join(lsh,
          col("query_id") === col("lq") && col("neighbor_id") === col("ln"),
          "left_semi")
        .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
      q.select(col("vec_id").as("query_id"))
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          (coalesce(col("n_hits"), lit(0L)).cast("double") / lit(10.0)).as("recall_at_10"))
    }),

    "sim_topk_graph" -> Query(graphTopKOracleSql)((s, dir) => {
      // graph-ANN (NSW/HNSW family): LSH-cobucketed candidate pairs →
      // bounded-out-degree best-neighbor graph (degree=8) → batched
      // greedy beam search (4 md5-seeded entries, ef=16, 3 fixed rounds)
      // — the tier that completes the ANN ladder brute→LSH→IVF→PQ→graph.
      // Fully deterministic (hash planes, exact cosine, (score, id)
      // tie-breaks), so index build AND search replay bit-for-bit in the
      // DuckDB oracle with the rounds unrolled; per-round work is the
      // broadcast-small beam against the src-partitioned adjacency — the
      // corpus vectors are read only for beam candidates, never scanned.
      val emb = T(s, dir, "embeddings")
      val g = ext.GraphAnn.buildGraph(emb, "vec_id", "embedding", degree = 8)
      ext.GraphAnn.topK(emb, g, emb.filter(col("vec_id") < 8),
        "vec_id", "embedding", k = 10, ef = 16, rounds = 3, nSeeds = 4)
    }),
    // persisted-graph search must equal the in-memory build exactly
    "sim_graph_persisted" -> Query(graphTopKOracleSql)((s, dir) => {
      // persisted NSW graph index: build the bounded-degree neighbor
      // graph ONCE, write it src-range-partitioned + src-sorted (every
      // file a disjoint src range → row-group pruning serves the beam's
      // adjacency lookups), re-open from disk and beam-search with
      // sim_topk_graph's exact parameters — byte-identical results, so
      // the existing unrolled-rounds oracle hash-checks the second index
      // family's write → open → search loop too (IVF's proof shape).
      val emb = T(s, dir, "embeddings")
      val path = annIndexPath(dir, "nsw")
      ext.AnnIndex.writeGraph(
        ext.GraphAnn.buildGraph(emb, "vec_id", "embedding", degree = 8), path)
      ext.GraphAnn.topK(emb, ext.AnnIndex.openGraph(s, path),
        emb.filter(col("vec_id") < 8),
        "vec_id", "embedding", k = 10, ef = 16, rounds = 3, nSeeds = 4)
    }),

    "sim_graph_forget" -> Query(graphForgetOracleSql)((s, dir) => {
      // the erasure path against the persisted NSW graph index: tombstone
      // a cohort AFTER the build — O(deleted) manifest commit, no graph
      // rewrite — then probe through AnnIndex.probeGraphTopK, which
      // resolves BOTH the adjacency (either endpoint deleted → edge gone)
      // and the corpus (seed pool, candidate vectors) through the
      // tombstone set. Deleted nodes stop being traversed, seeded, or
      // returned immediately; r9's openGraph bypassed tombstones and
      // kept serving them. Oracle = the unrolled beam replay with the
      // same liveness predicate on edges and seeds.
      val emb = T(s, dir, "embeddings")
      val path = annIndexPath(dir, "nsw_forget")
      ext.AnnIndex.writeGraph(
        ext.GraphAnn.buildGraph(emb, "vec_id", "embedding", degree = 8), path)
      ext.AnnIndex.delete(path,
        emb.filter(col("vec_id") % 9 === 0 && col("vec_id") >= 8).select("vec_id"))
      ext.AnnIndex.probeGraphTopK(s, path, emb, emb.filter(col("vec_id") < 8),
        "vec_id", "embedding", k = 10, ef = 16, rounds = 3, nSeeds = 4)
    }),

    "sim_graph_recall" -> Query(graphRecallOracleSql)((s, dir) => {
      // recall@10 of the graph-ANN tier vs exact brute force — the same
      // accept/reject eval gate sim_recall runs for LSH, closing the
      // loop on the beam-search approximation (ef/rounds/degree are the
      // recall dials; this row is how you'd tune them).
      val emb = T(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 8)
      val bf = ext.Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", 10)
        .select(col("query_id"), col("neighbor_id"))
      val g = ext.GraphAnn.buildGraph(emb, "vec_id", "embedding", degree = 8)
      val ann = ext.GraphAnn.topK(emb, g, q, "vec_id", "embedding",
          k = 10, ef = 16, rounds = 3, nSeeds = 4)
        .select(col("query_id").as("gq"), col("neighbor_id").as("gn"))
      val hits = bf.join(ann,
          col("query_id") === col("gq") && col("neighbor_id") === col("gn"),
          "left_semi")
        .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
      q.select(col("vec_id").as("query_id"))
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          (coalesce(col("n_hits"), lit(0L)).cast("double") / lit(10.0)).as("recall_at_10"))
    }),

    "sim_topk_ivfpq" -> Query(ivfPqTopKOracleSql)((s, dir) => {
      // the composed FAISS IVFPQ tier: coarse cells bound the rows
      // scanned (nProbe), PQ codes bound the bytes per row, exact refine
      // bounds full-width reads; fully DuckDB hash-matched (both trained
      // quantizers replayed); PqSpec adds all-cells+lossless == brute force
      val emb = T(s, dir, "embeddings")
      val cents = ext.IvfIndex.train(emb, "vec_id", "embedding", k = 8, iters = 2)
      val books = ext.Pq.trainCodebooks(emb, "vec_id", "embedding", m = 4, k = 64, iters = 2)
      ext.Pq.ivfPqTopK(emb, emb.filter(col("vec_id") < 8), "vec_id", "embedding",
        cents, books, k = 10, nProbe = 3, shortlist = 50)
    }),

    "sim_normalize" -> Query(
      """WITH x AS (SELECT CAST(i AS INTEGER) AS dim, CAST(embedding[CAST(i AS INTEGER)+1] AS DOUBLE) AS x FROM embeddings, unnest(range(64)) t(i)),
         |f AS (SELECT dim, CAST(floor(x * 1048576) AS BIGINT) AS fp FROM x)
         |SELECT dim, CAST(count(*) AS BIGINT) AS n, CAST(sum(fp) AS BIGINT) AS sum_fp, CAST(sum(fp * fp) AS BIGINT) AS sumsq_fp FROM f GROUP BY 1""".stripMargin)((s, dir) => {
      // per-dimension standardization stats for embedding preprocessing
      // (the mean/var inputs to z-scoring before PCA/k-means): counts and
      // fixed-point component sums/square-sums on the 2^-20 grid — pure
      // integer aggregation, order-free, engine-exact. Overflow bound:
      // squares ≤ 2^40, safe to 2^23 rows/dim at unit scale (coarsen the
      // grid for larger corpora).
      val fp = floor(col("x") * graft.ext.IvfIndex.Grid)
      T(s, dir, "embeddings")
        .select(posexplode(col("embedding").cast("array<double>")).as(Seq("dim", "x")))
        .groupBy("dim")
        .agg(count(lit(1)).as("n"), sum(fp).as("sum_fp"), sum(fp * fp).as("sumsq_fp"))
    }),
    // sim_mahalanobis: sim_normalize's per-dim stats re-joined to every
    // (vec, dim) cell; the per-dim z² term is rounded once to micro so
    // the 64-term sum is an order-free integer; HUGEINT mirrors the
    // engine's DECIMAL(38,0) products, the zero-variance guard matches.
    "sim_mahalanobis" -> Query(
      """WITH x AS (SELECT vec_id, CAST(i AS INTEGER) AS dim, CAST(floor(CAST(embedding[CAST(i AS INTEGER)+1] AS DOUBLE) * 1048576) AS BIGINT) AS fp FROM embeddings, unnest(range(64)) t(i)), st AS (SELECT dim, CAST(count(*) AS HUGEINT) AS n, CAST(sum(fp) AS HUGEINT) AS s, sum(CAST(fp AS HUGEINT) * fp) AS ss FROM x GROUP BY 1), t AS (SELECT vec_id, CASE WHEN n * ss - s * s = 0 THEN CAST(0 AS BIGINT) ELSE CAST(round(CAST(n * fp - s AS DOUBLE) * CAST(n * fp - s AS DOUBLE) / CAST(n * ss - s * s AS DOUBLE) * 1000000) AS BIGINT) END AS t FROM x JOIN st USING (dim)) SELECT vec_id, CAST(sum(t) AS BIGINT) AS score_micro, CAST(sum(t) AS BIGINT) > 128000000 AS is_outlier FROM t GROUP BY 1""")((s, dir) => {
      // diagonal-covariance Mahalanobis outlier score per embedding —
      // the OOD/garbage filter a training pipeline runs before
      // clustering or ANN indexing: per-dimension (n, Σ, Σ²) on the
      // 2⁻²⁰ grid (sim_normalize's stats, broadcast back as a 64-row
      // join — no driver collect), per-dimension z² term
      // (n·x−S)²/(n·SS−S²) micro-rounded ONCE so the 64-term per-vector
      // sum is an order-free integer; zero-variance dims contribute 0
      // by the mirrored guard. Score ≈ χ²(d); flagged above 2·d. The
      // integer products run in DECIMAL(38,0) (HUGEINT in the oracle)
      // so billion-row stats can't wrap int64.
      val x = T(s, dir, "embeddings")
        .select(col("vec_id"),
          posexplode(col("embedding").cast("array<double>")).as(Seq("dim", "x")))
        .select(col("vec_id"), col("dim"),
          floor(col("x") * graft.ext.IvfIndex.Grid).cast("long").as("fp"))
        .localCheckpoint(true) // feeds the stats AND the probe
      val stats = x.groupBy("dim")
        .agg(count(lit(1)).cast("decimal(38,0)").as("n"),
          sum(col("fp").cast("decimal(38,0)")).as("s"),
          sum(expr("CAST(fp AS DECIMAL(38,0)) * fp")).as("ss"))
      x.join(broadcast(stats), "dim")
        .select(col("vec_id"),
          expr("""CASE WHEN n * ss - s * s = 0 THEN CAST(0 AS BIGINT)
                 ELSE CAST(round(CAST(n * fp - s AS DOUBLE)
                   * CAST(n * fp - s AS DOUBLE)
                   / CAST(n * ss - s * s AS DOUBLE) * 1000000) AS BIGINT)
                 END""").as("t"))
        .groupBy("vec_id")
        .agg(sum("t").as("score_micro"))
        .select(col("vec_id"), col("score_micro"),
          (col("score_micro") > lit(128L * 1000000L)).as("is_outlier"))
    }),

    "sim_ivf_stats" -> Query(ivfStatsOracleSql)((s, dir) => {
      // IVF index health report: per-cell occupancy and summed
      // quantization error (d² to own centroid, micro-rounded per ROW so
      // the sum is order-free; d² itself is bit-identical across engines
      // — products and fixed-order folds only, no transcendentals)
      val emb = T(s, dir, "embeddings")
      val cents = ext.IvfIndex.train(emb, "vec_id", "embedding", k = 8, iters = 2)
      val assigned = ext.IvfIndex.assign(emb, "vec_id", "embedding", cents)
      val vv = graft.functions.VectorExprs.dot(col("v"), col("v"))
      def d2(c: Array[Double]): org.apache.spark.sql.Column = {
        val c2 = { var s0 = 0.0; var i = 0; while (i < c.length) { s0 += c(i) * c(i); i += 1 }; s0 }
        (vv - lit(2.0) * graft.functions.VectorExprs.dot(col("v"), lit(c))) + lit(c2)
      }
      val qerr = cents.tail.foldLeft(
        when(col("cell") === cents.head._1, d2(cents.head._2))) { case (acc, (cid, c)) =>
        acc.when(col("cell") === cid, d2(c))
      }
      assigned
        .withColumn("q", round(qerr * 1e6).cast("long"))
        .groupBy("cell")
        .agg(count(lit(1)).as("n_vecs"), sum(col("q")).as("qerr_micro"))
    }),

    "sim_silhouette" -> Query(silhouetteOracleSql)((s, dir) => {
      // simplified silhouette (centroid-based, Hruschka et al.): the
      // clustering-QA row for the IVF quantizer — per point, a = distance
      // to OWN centroid, b = distance to the nearest OTHER centroid,
      // s = (b−a)/max(a,b); averaged per cell. Unlike the classic
      // silhouette's O(n²) pairwise form, the centroid variant is one
      // broadcast-k CASE ladder per row — linear, the only formulation
      // that survives 100 TB. d² uses sim_ivf_stats' exact op order
      // ((v·v − 2⟨v,c⟩) + ‖c‖², left folds both engines), sqrt is
      // IEEE-exact, s is micro-rounded per ROW so per-cell sums are
      // order-free integers (DECIMAL against the 2⁵³ bound at scale).
      val emb = T(s, dir, "embeddings")
      val cents = ext.IvfIndex.train(emb, "vec_id", "embedding", k = 8, iters = 2)
      val assigned = ext.IvfIndex.assign(emb, "vec_id", "embedding", cents)
      val vv = graft.functions.VectorExprs.dot(col("v"), col("v"))
      def d2(c: Array[Double]): org.apache.spark.sql.Column = {
        val c2 = { var s0 = 0.0; var i = 0; while (i < c.length) { s0 += c(i) * c(i); i += 1 }; s0 }
        (vv - lit(2.0) * graft.functions.VectorExprs.dot(col("v"), lit(c))) + lit(c2)
      }
      val dCols = cents.map { case (cid, c) => cid -> d2(c) }
      val ownB = dCols.map { case (cid, dc) => (cid, dc) }
      val own = ownB.tail.foldLeft(when(col("cell") === ownB.head._1, ownB.head._2)) {
        case (acc, (cid, dc)) => acc.when(col("cell") === cid, dc)
      }
      val othB = cents.map { case (cid, _) =>
        cid -> least(dCols.collect { case (o, dc) if o != cid => dc }: _*)
      }
      val other = othB.tail.foldLeft(when(col("cell") === othB.head._1, othB.head._2)) {
        case (acc, (cid, lc)) => acc.when(col("cell") === cid, lc)
      }
      assigned
        .withColumn("a", sqrt(own))
        .withColumn("b", sqrt(other))
        .withColumn("sil",
          when(greatest(col("a"), col("b")) === 0.0, lit(0L))
            .otherwise(round((col("b") - col("a"))
              / greatest(col("a"), col("b")) * 1e6).cast("long")))
        .groupBy("cell")
        .agg(count(lit(1)).as("n_vecs"),
          sum(col("sil").cast("decimal(38,0)")).as("ss"))
        .select(col("cell"), col("n_vecs"),
          col("ss").cast("long").as("sil_sum_micro"),
          expr("CAST(round(CAST(ss AS DOUBLE) / CAST(n_vecs AS DOUBLE)) AS BIGINT)")
            .as("mean_sil_micro"))
    }),

    "sim_coreset" -> Query(coresetOracleSql)((s, dir) => {
      // greedy k-center coreset (Gonzalez 1985 / Sener-Savarese): 8
      // maximally spread embeddings — diversity selection for training
      // budgets, the complement of SemDeDup; deterministic (min-id seed,
      // exact-comparison nearest-center, (d desc, id) argmax) → fully
      // DuckDB hash-matched with the 7 selection rounds unrolled
      ext.Coreset.kCenter(T(s, dir, "embeddings"), "vec_id", "embedding", 8)
        .select(col("sel_rank"), col("id").as("vec_id"), col("dist"))
    }),

    "sim_topk_pq" -> Query(pqTopKOracleSql)((s, dir) => {
      // product quantization (Jégou et al. 2011): 24-bit codes (64×
      // compression) + ADC table-lookup scoring + exact refine of a
      // 50-candidate shortlist — the memory-bound 100 TB tier; codebook
      // training and fixed-order ADC scoring are fully DuckDB
      // hash-matched; PqSpec adds lossless-codebooks == brute force
      val emb = T(s, dir, "embeddings")
      val books = ext.Pq.trainCodebooks(emb, "vec_id", "embedding", m = 4, k = 64, iters = 2)
      val enc = ext.Pq.encode(emb, "vec_id", "embedding", books)
      ext.Pq.refinedTopK(enc, emb, emb.filter(col("vec_id") < 8),
        "vec_id", "embedding", books, k = 10, shortlist = 50)
    }),

    "sim_pq_recall" -> Query(pqRecallOracleSql)((s, dir) => {
      // recall@10 of the PQ tier (ADC shortlist-50 + exact refine) vs
      // brute force — with sim_recall / sim_ivf_recall /
      // sim_graph_recall this makes every approximate ANN tier carry
      // its own accept/reject number; the shortlist width is the recall
      // dial this row tunes.
      val emb = T(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 8)
      val bf = ext.Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", 10)
        .select(col("query_id"), col("neighbor_id"))
      val books = ext.Pq.trainCodebooks(emb, "vec_id", "embedding", m = 4, k = 64, iters = 2)
      val enc = ext.Pq.encode(emb, "vec_id", "embedding", books)
      val ann = ext.Pq.refinedTopK(enc, emb, q,
          "vec_id", "embedding", books, k = 10, shortlist = 50)
        .select(col("query_id").as("aq"), col("neighbor_id").as("an"))
      val hits = bf.join(ann,
          col("query_id") === col("aq") && col("neighbor_id") === col("an"),
          "left_semi")
        .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
      q.select(col("vec_id").as("query_id"))
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          (coalesce(col("n_hits"), lit(0L)).cast("double") / lit(10.0)).as("recall_at_10"))
    }),

    "sim_pca" -> Query(
      """WITH q AS (SELECT vec_id, list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS qv FROM embeddings), e AS (SELECT vec_id, i, qv[i + 1] AS v FROM q, (SELECT unnest(range(64)) AS i)), cross_s AS (SELECT a.i AS i, b.i AS j, CAST(sum(a.v * b.v) AS BIGINT) AS s FROM e a JOIN e b ON a.vec_id = b.vec_id AND a.i <= b.i GROUP BY 1, 2), lin AS (SELECT i, CAST(-1 AS BIGINT) AS j, CAST(sum(v) AS BIGINT) AS s FROM e GROUP BY 1), cnt AS (SELECT CAST(-1 AS BIGINT) AS i, CAST(-1 AS BIGINT) AS j, CAST(count(*) AS BIGINT) AS s FROM q) SELECT CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j, s FROM cross_s UNION ALL SELECT CAST(i AS BIGINT), j, s FROM lin UNION ALL SELECT i, j, s FROM cnt""")((s, dir) => {
      // distributed PCA, the exact half: one-pass integer gram/mean
      // aggregation (GramAgg — milli-quantized, order-free long sums,
      // hash-matches DuckDB); the d×d eigenproblem runs driver-side
      // (Pca.topEigen, spec-tested) — data-sized work never leaves the
      // mergeable aggregate
      ext.Pca.gramMicro(T(s, dir, "embeddings"), "embedding", 64)
    }),

    "sim_quant" -> Query(
      """SELECT vec_id, amax, CASE WHEN amax = 0 THEN '' ELSE array_to_string(list_transform(dv, x -> CAST(CAST(floor(x / amax * 127 + 0.5) AS BIGINT) AS VARCHAR)), ',') END AS q8 FROM (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dv, list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS amax FROM embeddings)""")((s, dir) => {
      // symmetric int8 quantization of embeddings: amax (order-free max of
      // |x|) + floor(x/amax*127 + 0.5) — fixed-order IEEE, engine-exact
      val v = col("embedding")
      val amax = array_max(transform(v, x => abs(x.cast("double"))))
      T(s, dir, "embeddings")
        .withColumn("amax", amax)
        .select(col("vec_id"), col("amax"),
          array_join(
            when(col("amax") === 0, array().cast("array<string>"))
              .otherwise(transform(v, x =>
                floor(x.cast("double") / col("amax") * 127 + 0.5).cast("string"))),
            ",").as("q8"))
    }),

    "sim_centroids" -> Query(
      """SELECT CAST(label AS BIGINT) AS label, CAST(i AS BIGINT) AS dim, CAST(count(*) AS BIGINT) AS n, CAST(sum(CAST(round(CAST(embedding[CAST(i AS INTEGER) + 1] AS DOUBLE) * 1000000) AS BIGINT)) AS BIGINT) AS sum_micro FROM embeddings, unnest(range(len(embedding))) t(i) GROUP BY 1, 2""")((s, dir) => {
      // per-label embedding centroids in integer fixed point: component
      // sums of round(x·1e6) are order-free BIGINTs, so the 64-dim
      // centroid table is engine-exact (float→double widening is exact;
      // a float centroid sum would be accumulation-order-dependent)
      T(s, dir, "embeddings")
        .select(col("label").cast("long").as("label"),
          posexplode(col("embedding")).as(Seq("dim", "x")))
        .groupBy(col("label"), col("dim").cast("long").as("dim"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("x").cast("double") * 1e6).cast("long")).as("sum_micro"))
    }),
    // sim_hardneg: same fixed-order dot-product parity as sim_topk; the
    // label inequality is an exact predicate on both engines
    "sim_hardneg" -> Query(
      """WITH e AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         scored AS (
           SELECT q.vec_id AS query_id, d.vec_id AS neighbor_id,
                  list_dot_product(d.v, q.v) / (sqrt(list_dot_product(d.v, d.v)) * sqrt(list_dot_product(q.v, q.v))) AS score
           FROM e d, e q WHERE q.vec_id % 10 = 0 AND d.label <> q.label)
         SELECT query_id, CAST(rn AS INTEGER) AS rank, neighbor_id, score
         FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rn FROM scored)
         WHERE rn <= 10""")((s, dir) => {
      // contrastive hard-negative mining: per anchor, the 10 most
      // cosine-similar vectors with a DIFFERENT label (ext.Similarity
      // .hardNegatives — broadcast anchors, bounded-heap top-k)
      val emb = T(s, dir, "embeddings")
      ext.Similarity.hardNegatives(emb, emb.filter(col("vec_id") % 10 === 0),
        "vec_id", "embedding", "label", 10)
    }),

    "sim_knn" -> Query(knnOracleSql)((s, dir) => {
      // k-NN classification probe over the embedding space: anchors
      // (vec_id < 8) classified by majority label of their 10 nearest
      // pool neighbors (vec_id ≥ 8, cosine) — the standard cheap
      // embedding-quality eval. Reuses the bounded-heap brute-force
      // top-k (TopKAgg: the shuffle ships ≤ k rows per partition per
      // anchor, never the full scored cross product); the vote is a
      // ≤ 10-row-per-anchor aggregate decided by one struct-min with
      // (votes desc, label asc) tie-break.
      val emb = T(s, dir, "embeddings")
      val top = ext.Similarity.bruteForceTopK(emb.filter(col("vec_id") >= 8),
        emb.filter(col("vec_id") < 8), "vec_id", "embedding", 10)
      val votes = top
        .join(emb.select(col("vec_id").as("neighbor_id"), col("label").as("nl")),
          Seq("neighbor_id"))
        .groupBy(col("query_id"), col("nl")).agg(count(lit(1)).as("votes"))
      val pred = votes.groupBy("query_id")
        .agg(min(struct((-col("votes")).as("nv"), col("nl").as("lbl"))).as("b"))
        .select(col("query_id"), col("b.lbl").as("pred_label"), (-col("b.nv")).as("n_votes"))
      pred.join(emb.select(col("vec_id").as("query_id"), col("label").as("truth_label")),
          Seq("query_id"))
        .select("query_id", "truth_label", "pred_label", "n_votes")
    }),
    // sim_medoid: same double dot products rounded to micro ints,
    // order-free HUGEINT sums, (score desc, cand) argmax replay
    "sim_medoid" -> Query(
      """WITH e AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         p AS (SELECT a.label, a.vec_id AS cand, CAST(round(list_dot_product(a.v, b.v) * 1e6) AS BIGINT) AS dot_micro
               FROM e a JOIN e b ON a.label = b.label AND a.vec_id <> b.vec_id),
         sc AS (SELECT label, cand, CAST(sum(dot_micro) AS BIGINT) AS score_micro, CAST(count(*) AS BIGINT) AS n_mates FROM p GROUP BY 1, 2)
         SELECT label, cand AS medoid_id, score_micro, n_mates FROM sc
         QUALIFY row_number() OVER (PARTITION BY label ORDER BY score_micro DESC, cand) = 1""")((s, dir) => {
      // per-cluster exemplar selection (1-medoid): for each label, the
      // vector maximizing the summed dot product to its cluster-mates —
      // the representative-document pick after clustering. Per-pair
      // scores are rounded to micro INTEGERS so the per-candidate sum
      // is order-free (bit-exact under any partitioning); the argmax is
      // a per-label struct-min. Pairing is label-blocked (quadratic per
      // LABEL, never corpus-wide) — at larger clusters the coreset/cap
      // machinery bounds it the usual way.
      val emb = T(s, dir, "embeddings")
        .select(col("vec_id"), col("label"), col("embedding"))
      val pairs = emb.as("a")
        .join(emb.as("b"), col("a.label") === col("b.label") && col("a.vec_id") =!= col("b.vec_id"))
        .select(col("a.label").as("label"), col("a.vec_id").as("cand"),
          round(ext.Vectors.dot(col("a.embedding"), col("b.embedding")) * 1e6)
            .cast("long").as("dot_micro"))
      val scored = pairs.groupBy("label", "cand")
        .agg(sum("dot_micro").as("score_micro"), count(lit(1)).as("n_mates"))
      scored.groupBy("label")
        .agg(min(struct((-col("score_micro")).as("ns"), col("cand").as("id"),
          col("score_micro").as("sc"), col("n_mates").as("nm"))).as("b"))
        .select(col("label"), col("b.id").as("medoid_id"),
          col("b.sc").as("score_micro"), col("b.nm").as("n_mates"))
    }),
    // sim_reciprocal: the sim_topk float replay restricted to the anchor
    // set, then the same symmetrized self-join
    "sim_reciprocal" -> Query(
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings WHERE vec_id < 64), scored AS (SELECT q.vec_id AS query_id, d.vec_id AS neighbor_id, list_dot_product(d.v, q.v) / (sqrt(list_dot_product(d.v, d.v)) * sqrt(list_dot_product(q.v, q.v))) AS score FROM e d, e q WHERE d.vec_id <> q.vec_id), top AS (SELECT query_id, neighbor_id, CAST(rn AS BIGINT) AS rank FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rn FROM scored) WHERE rn <= 5) SELECT ab.query_id AS a_id, ab.neighbor_id AS b_id, ab.rank AS rank_ab, ba.rank AS rank_ba FROM top ab JOIN top ba ON ab.query_id = ba.neighbor_id AND ab.neighbor_id = ba.query_id WHERE ab.query_id < ab.neighbor_id""")((s, dir) => {
      // mutual-kNN pairs (the contract for high-precision near-dup
      // merging): vectors that appear in EACH OTHER's cosine top-5.
      // Both directions come from ONE bounded-heap brute top-k over the
      // anchor set (TopKAgg — ≤k rows per partition per query shuffle),
      // then a self-join on the symmetrized pair key. At corpus scale
      // the same contract runs over the IVF/LSH shortlists
      // (sim_topk_ivf) — identical downstream shape.
      val emb = T(s, dir, "embeddings").filter(col("vec_id") < 64)
      val top = ext.Similarity.bruteForceTopK(emb, emb, "vec_id", "embedding", 5)
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"))
        .localCheckpoint(true) // probed from both directions
      top.as("ab").join(top.as("ba"),
          col("ab.query_id") === col("ba.neighbor_id") &&
            col("ab.neighbor_id") === col("ba.query_id"))
        .filter(col("ab.query_id") < col("ab.neighbor_id"))
        .select(col("ab.query_id").as("a_id"), col("ab.neighbor_id").as("b_id"),
          col("ab.rank").as("rank_ab"), col("ba.rank").as("rank_ba"))
    }),

    "sim_radius" -> Query(
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings), q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 8), sc AS (SELECT q.query_id, e.vec_id AS neighbor_id, CAST(round(list_dot_product(e.v, q.qv) / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv))) * 1000000) AS BIGINT) AS score_micro FROM e, q WHERE e.vec_id <> q.query_id) SELECT query_id, neighbor_id, score_micro FROM sc WHERE score_micro >= 250000""")((s, dir) => {
      // radius (ε-ball) similarity search: every corpus vector with
      // cosine ≥ 0.25 of the 8 probes — the range-query companion to
      // sim_topk's k-NN. Probes broadcast, ONE codegen pass over the
      // corpus (native fused dot/norm expressions), score rounded once
      // to micro so the threshold compares integers. The 100 TB path
      // swaps the broadcast for IVF cell routing with the same scorer.
      graft.functions.VectorExprs.register(s)
      val emb = T(s, dir, "embeddings")
      val q = broadcast(emb.filter(col("vec_id") < 8L)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
          ext.Vectors.norm(col("embedding")).as("qn")))
      emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("v"),
          ext.Vectors.norm(col("embedding")).as("nn"))
        .crossJoin(q)
        .filter(col("neighbor_id") =!= col("query_id"))
        .withColumn("score_micro",
          round(ext.Vectors.dot(col("v"), col("qv")) / (col("nn") * col("qn"))
            * 1000000).cast("long"))
        .filter(col("score_micro") >= 250000L)
        .select(col("query_id"), col("neighbor_id"), col("score_micro"))
    }),

    "sim_rproj" -> Query(rprojOracleSql)((s, dir) => {
      // Johnson-Lindenstrauss random projection 64→8 with a FIXED ±1
      // sign matrix (md5-derived at build time, embedded as literals in
      // both engines): per vector, the projected squared norm /8 vs the
      // original — the distortion audit that justifies projecting
      // BEFORE the expensive ANN stages. Pure per-row codegen
      // arithmetic in one fixed textual order; no shuffle at all.
      graft.functions.VectorExprs.register(s)
      val nn = ext.Vectors.dot(col("embedding"), col("embedding"))
      val base = T(s, dir, "embeddings")
        .select(col("vec_id") +: nn.as("nn") +:
          (0 until 8).map(j =>
            expr(rprojExprSql(j, "element_at(embedding, %d)")).as(s"p$j")): _*)
      base
        .withColumn("pn8", expr(
          (0 until 8).map(j => s"p$j * p$j").mkString("(", " + ", ") / 8.0")))
        .select(col("vec_id"),
          expr("CAST(round(nn * 1000000) AS BIGINT)").as("nn_micro"),
          expr("CAST(round(pn8 * 1000000) AS BIGINT)").as("pn8_micro"),
          expr("CASE WHEN nn = 0.0 THEN CAST(0 AS BIGINT) ELSE CAST(round(pn8 / nn * 1000000) AS BIGINT) END")
            .as("ratio_micro"))
    }),
    // sim_matryoshka: the sim_recall brute-force replay twice — full
    // 64-dim arm vs the v[1:16] prefix arm — identical tie-breaks.
    "sim_matryoshka" -> Query(
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings), bf AS (SELECT query_id, neighbor_id FROM (SELECT q.vec_id AS query_id, d.vec_id AS neighbor_id, row_number() OVER (PARTITION BY q.vec_id ORDER BY list_dot_product(d.v, q.v) / (sqrt(list_dot_product(d.v, d.v)) * sqrt(list_dot_product(q.v, q.v))) DESC, d.vec_id) AS rn FROM e d, e q WHERE q.vec_id < 8 AND d.vec_id <> q.vec_id) WHERE rn <= 10), ec AS (SELECT vec_id, v[1:16] AS v FROM e), mr AS (SELECT query_id, neighbor_id FROM (SELECT q.vec_id AS query_id, d.vec_id AS neighbor_id, row_number() OVER (PARTITION BY q.vec_id ORDER BY list_dot_product(d.v, q.v) / (sqrt(list_dot_product(d.v, d.v)) * sqrt(list_dot_product(q.v, q.v))) DESC, d.vec_id) AS rn FROM ec d, ec q WHERE q.vec_id < 8 AND d.vec_id <> q.vec_id) WHERE rn <= 10), h AS (SELECT bf.query_id, CAST(count(*) AS BIGINT) AS n_hits FROM bf JOIN mr ON bf.query_id = mr.query_id AND bf.neighbor_id = mr.neighbor_id GROUP BY 1), qq AS (SELECT DISTINCT vec_id AS query_id FROM embeddings WHERE vec_id < 8) SELECT qq.query_id, CAST(coalesce(n_hits, 0) AS BIGINT) AS n_hits, CAST(coalesce(n_hits, 0) AS DOUBLE) / 10.0 AS recall_at_10 FROM qq LEFT JOIN h ON qq.query_id = h.query_id""")((s, dir) => {
      // Matryoshka-representation eval (Kusupati et al. 2022): recall@10
      // of brute-force search over the FIRST 16 of 64 dims vs the
      // full-dim exact top-10 — the accept/reject number for
      // prefix-truncated embeddings (¼ the bytes and FLOPs per probe)
      // before re-indexing at the reduced dimension. Same probe cohort
      // and bounded-heap shuffle shape as sim_recall; the truncated arm
      // slices the SAME parquet column in-plan — no second table.
      val emb = T(s, dir, "embeddings")
      val bf = ext.Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 8),
          "vec_id", "embedding", 10)
        .select(col("query_id"), col("neighbor_id"))
      val cut = emb.select(col("vec_id"),
        slice(col("embedding"), 1, 16).as("embedding"))
      val mr = ext.Similarity.bruteForceTopK(cut, cut.filter(col("vec_id") < 8),
          "vec_id", "embedding", 10)
        .select(col("query_id").as("mq"), col("neighbor_id").as("mn"))
      val hits = bf.join(mr,
          col("query_id") === col("mq") && col("neighbor_id") === col("mn"),
          "left_semi")
        .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
      emb.filter(col("vec_id") < 8).select(col("vec_id").as("query_id"))
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          (coalesce(col("n_hits"), lit(0L)).cast("double") / lit(10.0)).as("recall_at_10"))
    }),
    // sim_nprobe_sweep: the IVF replay with probe rank kept (rn <= 4),
    // swept per nprobe against the brute-force pool.
    "sim_nprobe_sweep" -> Query(nprobeSweepOracleSql)((s, dir) => {
      // nProbe accuracy ladder for the IVF tier — dd_threshold_sweep's
      // one-pass-curve idea applied to ANN: ONE candidate
      // materialization with each candidate tagged by its cell's probe
      // rank, then recall@10 vs brute force for EVERY nProbe in 1..4 —
      // the whole cost/accuracy curve for the price of the widest
      // point plus a ≤4× bounded tag fan-out. This is the dial a
      // 100 TB index operator actually turns; the sweep is the
      // evidence for sim_topk_ivf's nProbe = 3.
      import graft.functions.{TopKAgg, VectorExprs}
      VectorExprs.register(s)
      val emb = T(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 8)
      val cents = ext.IvfIndex.train(emb, "vec_id", "embedding", k = 8, iters = 2)
      val index = ext.IvfIndex.assign(emb, "vec_id", "embedding", cents)
      val bf = ext.Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", 10)
        .select(col("query_id"), col("neighbor_id"))
      val probed = q
        .select(col("vec_id").as("query_id"), col("embedding").cast("array<double>").as("qv"))
        .select(col("query_id"), col("qv"),
          posexplode(VectorExprs.nearestCells(col("qv"), cents, 4)))
        .select(col("query_id"), col("qv"),
          (col("pos") + 1).cast("long").as("cell_rank"), col("col").as("cell"))
      val qb = broadcast(probed.withColumn("qn", VectorExprs.norm(col("qv"))))
      val cand = index.join(qb, Seq("cell"))
        .filter(col("id") =!= col("query_id"))
        .withColumn("score", VectorExprs.dot(col("v"), col("qv")) /
          (VectorExprs.norm(col("v")) * col("qn")))
        .select(col("query_id"), col("cell_rank"),
          col("id").as("neighbor_id"), col("score"))
      val swept = cand.select(col("query_id"),
        explode(sequence(col("cell_rank"), lit(4L))).as("nprobe"),
        col("neighbor_id"), col("score"))
      val top = swept.groupBy("query_id", "nprobe")
        .agg(TopKAgg.topK(10, col("score"), col("neighbor_id").cast("double"),
          struct(col("neighbor_id"))).as("t"))
        .select(col("query_id"), col("nprobe"), explode(col("t")).as("x"))
        .select(col("query_id"), col("nprobe"), col("x.neighbor_id").as("an"))
      val hits = bf.join(top,
          bf("query_id") === top("query_id") && bf("neighbor_id") === top("an"))
        .groupBy(top("query_id").as("query_id"), col("nprobe"))
        .agg(count(lit(1)).as("n_hits"))
      q.select(col("vec_id").as("query_id"))
        .crossJoin(s.range(1, 5).select(col("id").as("nprobe")))
        .join(hits, Seq("query_id", "nprobe"), "left")
        .select(col("query_id"), col("nprobe"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          (coalesce(col("n_hits"), lit(0L)).cast("double") / 10.0).as("recall_at_10"))
    })
  )

  /** ±1 JL sign matrix (8×64), fixed at build time from md5("rp:j:i") —
    * the SAME literals serve the engine expression and the oracle.
    */
  private lazy val rprojSigns: Array[Array[Int]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(8, 64) { (j, i) =>
      val h = md.digest(s"rp:$j:$i".getBytes("UTF-8"))
      md.reset()
      if (((h(0) >> 4) & 0xf) < 8) 1 else -1
    }
  }

  /** The projection sum for output dim `j` as a fixed-order textual
    * chain; `elemFmt` renders element access (1-based index).
    */
  private def rprojExprSql(j: Int, elemFmt: String): String =
    (0 until 64).map { i =>
      val sg = if (rprojSigns(j)(i) == 1) "1.0" else "-1.0"
      s"($sg * CAST(${elemFmt.format(i + 1)} AS DOUBLE))"
    }.mkString(" + ")

  /** sim_rproj: the same sign literals, the same left-assoc chains. */
  private lazy val rprojOracleSql: String = {
    val ps = (0 until 8).map(j => s"${rprojExprSql(j, "v[%d]")} AS p$j").mkString(", ")
    val pn8 = (0 until 8).map(j => s"p$j * p$j").mkString("(", " + ", ") / 8.0")
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings), b AS (SELECT vec_id, list_dot_product(v, v) AS nn, $ps FROM e), p AS (SELECT vec_id, nn, $pn8 AS pn8 FROM b) SELECT vec_id, CAST(round(nn * 1000000) AS BIGINT) AS nn_micro, CAST(round(pn8 * 1000000) AS BIGINT) AS pn8_micro, CASE WHEN nn = 0.0 THEN CAST(0 AS BIGINT) ELSE CAST(round(pn8 / nn * 1000000) AS BIGINT) END AS ratio_micro FROM p"""
  }

  /** sim_topk_lsh: replay the multi-probe hyperplane index (nbits=6,
    * tables=8, 1-bit-flip probes) with fixed-order IEEE plane dots, then
    * the same exact-cosine re-rank the sim_topk oracle already verifies
    * bit-identical on this corpus. Approximate ANN, exact replay.
    */
  private lazy val lshTopKOracleSql: String = {
    val nbits = 6; val tables = 8
    val idx = "CAST(i AS INTEGER)+1"
    val dotVP = s"list_reduce(list_transform(range(len(v)), i -> v[$idx] * c[$idx]), (a, b) -> a + b)"
    s"""WITH planes(pid, c) AS MATERIALIZED (SELECT * FROM (VALUES ${planeRowsSql(nbits, tables, 64)}) t(pid, c)),
       |e AS MATERIALIZED (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |dots AS MATERIALIZED (SELECT vec_id, pid, $dotVP AS s FROM e, planes),
       |sigs AS MATERIALIZED (SELECT vec_id, pid // $nbits AS tbl, CAST(sum(CASE WHEN s > 0 THEN CAST(power(2, ${nbits - 1} - (pid % $nbits)) AS BIGINT) ELSE 0 END) AS BIGINT) AS sig FROM dots GROUP BY 1, 2),
       |dbuck AS MATERIALIZED (SELECT vec_id, sig * $tables + tbl AS bucket FROM sigs),
       |qbuck AS MATERIALIZED (SELECT vec_id, (CASE WHEN f = 0 THEN sig ELSE xor(sig, CAST(power(2, CAST(f AS INTEGER) - 1) AS BIGINT)) END) * $tables + tbl AS bucket FROM sigs, unnest(range(${nbits + 1})) t(f) WHERE vec_id < 8),
       |cand AS MATERIALIZED (SELECT DISTINCT q.vec_id AS query_id, d.vec_id AS neighbor_id FROM qbuck q JOIN dbuck d ON q.bucket = d.bucket AND d.vec_id <> q.vec_id),
       |scored AS (SELECT query_id, neighbor_id, list_dot_product(d.v, q.v) / (sqrt(list_dot_product(d.v, d.v)) * sqrt(list_dot_product(q.v, q.v))) AS score FROM cand JOIN e d ON cand.neighbor_id = d.vec_id JOIN e q ON cand.query_id = q.vec_id)
       |SELECT query_id, CAST(rn AS INTEGER) AS rank, neighbor_id, score
       |FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rn FROM scored)
       |WHERE rn <= 10""".stripMargin
  }

  /** sim_topk_graph: full bit-for-bit replay of GraphAnn — the same
    * nbits=6 × tables=8 hyperplane signatures as the LSH oracle feed a
    * symmetric co-bucket pair set; per-src top-8 by (cosine desc, dst)
    * is the adjacency; then beam0 (4 md5-ordered seeds) and 3 unrolled
    * expansion rounds of cand = beam ∪ neighbors(beam), top-ef=16 each;
    * final top-10 with rank. All scores are the engine's exact fold
    * (list_dot_product over double-cast lists, proven by sim_topk/lsh).
    */
  /** Unrolled graph-ANN beam-search replay, parameterized by a node
    * LIVENESS predicate (`live(col)` → SQL boolean) so the forget row can
    * share it: the graph BUILD replays over the full corpus (the index
    * was built before the deletion), then tombstoned nodes drop from the
    * surviving edges (either endpoint) and from the seed pool — exactly
    * what AnnIndex.probeGraphTopK's two tombstone filters do. Candidates
    * only ever come from live seeds and live adjacency, so no other
    * stage needs the predicate.
    */
  private def graphTopKOracleSqlLive(live: String => String): String = {
    val nbits = 6; val tables = 8; val degree = 8; val ef = 16
    val rounds = 3; val nSeeds = 4
    val idx = "CAST(i AS INTEGER)+1"
    val dotVP = s"list_reduce(list_transform(range(len(v)), i -> v[$idx] * c[$idx]), (a, b) -> a + b)"
    val rescore = "list_dot_product(nv.v, q.qv) / (nv.nn * q.qn)"
    val roundsSql = (1 to rounds).map { t =>
      s"""cand$t AS MATERIALIZED (SELECT DISTINCT query_id, node FROM (SELECT query_id, node FROM beam${t - 1} UNION ALL SELECT b.query_id, a.dst AS node FROM beam${t - 1} b JOIN adj a ON b.node = a.src) WHERE node <> query_id),
         |beam$t AS MATERIALIZED (SELECT query_id, node, score FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, node) AS rn FROM (SELECT c.query_id, c.node, $rescore AS score FROM cand$t c JOIN nv ON c.node = nv.node JOIN qs q ON c.query_id = q.query_id)) WHERE rn <= $ef)""".stripMargin
    }.mkString(",\n")
    s"""WITH planes(pid, c) AS MATERIALIZED (SELECT * FROM (VALUES ${planeRowsSql(nbits, tables, 64)}) t(pid, c)),
       |e AS MATERIALIZED (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |dots AS MATERIALIZED (SELECT vec_id, pid, $dotVP AS s FROM e, planes),
       |sigs AS MATERIALIZED (SELECT vec_id, pid // $nbits AS tbl, CAST(sum(CASE WHEN s > 0 THEN CAST(power(2, ${nbits - 1} - (pid % $nbits)) AS BIGINT) ELSE 0 END) AS BIGINT) AS sig FROM dots GROUP BY 1, 2),
       |dbuck AS MATERIALIZED (SELECT vec_id, sig * $tables + tbl AS bucket FROM sigs),
       |gpair AS MATERIALIZED (SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst FROM dbuck a JOIN dbuck b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
       |nv AS MATERIALIZED (SELECT vec_id AS node, v, sqrt(list_dot_product(v, v)) AS nn FROM e),
       |gsc AS MATERIALIZED (SELECT src, dst, list_dot_product(ss.v, ds.v) / (ss.nn * ds.nn) AS score FROM gpair JOIN nv ss ON gpair.src = ss.node JOIN nv ds ON gpair.dst = ds.node),
       |adj AS MATERIALIZED (SELECT src, dst FROM (SELECT *, row_number() OVER (PARTITION BY src ORDER BY score DESC, dst) AS rn FROM gsc) WHERE rn <= $degree AND ${live("src")} AND ${live("dst")}),
       |seeds AS MATERIALIZED (SELECT vec_id AS node FROM e WHERE ${live("vec_id")} ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT $nSeeds),
       |qs AS MATERIALIZED (SELECT vec_id AS query_id, v AS qv, sqrt(list_dot_product(v, v)) AS qn FROM e WHERE vec_id < 8),
       |beam0 AS MATERIALIZED (SELECT query_id, node, score FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, node) AS rn FROM (SELECT q.query_id, s.node, $rescore AS score FROM qs q CROSS JOIN seeds s JOIN nv ON s.node = nv.node WHERE s.node <> q.query_id)) WHERE rn <= $ef),
       |$roundsSql
       |SELECT query_id, CAST(rn AS INTEGER) AS rank, node AS neighbor_id, score
       |FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, node) AS rn FROM beam$rounds)
       |WHERE rn <= 10""".stripMargin
  }

  private lazy val graphTopKOracleSql: String =
    graphTopKOracleSqlLive(_ => "TRUE")

  /** sim_graph_forget: the graph replay with `vec_id % 9 = 0 AND
    * vec_id >= 8` tombstoned after the build (queries stay < 8, so the
    * query set is untouched; the deleted cohort overlaps the full-corpus
    * seed pool, exercising the seed path too).
    */
  private lazy val graphForgetOracleSql: String =
    graphTopKOracleSqlLive(c => s"NOT ($c % 9 = 0 AND $c >= 8)")

  private lazy val graphRecallOracleSql: String =
    s"""WITH bf AS (SELECT query_id, neighbor_id FROM (WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings), scored AS (SELECT q.vec_id AS query_id, d.vec_id AS neighbor_id, list_dot_product(d.v, q.v) / (sqrt(list_dot_product(d.v, d.v)) * sqrt(list_dot_product(q.v, q.v))) AS score FROM e d, e q WHERE q.vec_id < 8 AND d.vec_id <> q.vec_id) SELECT query_id, neighbor_id FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rn FROM scored) WHERE rn <= 10)),
       |ann AS (SELECT query_id, neighbor_id FROM ($graphTopKOracleSql)),
       |h AS (SELECT bf.query_id, CAST(count(*) AS BIGINT) AS n_hits FROM bf JOIN ann ON bf.query_id = ann.query_id AND bf.neighbor_id = ann.neighbor_id GROUP BY 1),
       |qq AS (SELECT DISTINCT vec_id AS query_id FROM embeddings WHERE vec_id < 8)
       |SELECT qq.query_id, CAST(coalesce(n_hits, 0) AS BIGINT) AS n_hits, CAST(coalesce(n_hits, 0) AS DOUBLE) / 10.0 AS recall_at_10 FROM qq LEFT JOIN h ON qq.query_id = h.query_id""".stripMargin

  /** sim_ivf_recall: brute-force top-10 ∩ the full IVF replay, per
    * query — the graphRecall oracle shape applied to the IVF tier.
    */
  private lazy val ivfRecallOracleSql: String =
    s"""WITH bf AS (SELECT query_id, neighbor_id FROM (WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings), scored AS (SELECT q.vec_id AS query_id, d.vec_id AS neighbor_id, list_dot_product(d.v, q.v) / (sqrt(list_dot_product(d.v, d.v)) * sqrt(list_dot_product(q.v, q.v))) AS score FROM e d, e q WHERE q.vec_id < 8 AND d.vec_id <> q.vec_id) SELECT query_id, neighbor_id FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rn FROM scored) WHERE rn <= 10)),
       |ann AS (SELECT query_id, neighbor_id FROM ($ivfTopKOracleSql)),
       |h AS (SELECT bf.query_id, CAST(count(*) AS BIGINT) AS n_hits FROM bf JOIN ann ON bf.query_id = ann.query_id AND bf.neighbor_id = ann.neighbor_id GROUP BY 1),
       |qq AS (SELECT DISTINCT vec_id AS query_id FROM embeddings WHERE vec_id < 8)
       |SELECT qq.query_id, CAST(coalesce(n_hits, 0) AS BIGINT) AS n_hits, CAST(coalesce(n_hits, 0) AS DOUBLE) / 10.0 AS recall_at_10 FROM qq LEFT JOIN h ON qq.query_id = h.query_id""".stripMargin

  /** sim_pq_recall: brute-force top-10 ∩ the full PQ replay. */
  private lazy val pqRecallOracleSql: String =
    s"""WITH bf AS (SELECT query_id, neighbor_id FROM (WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings), scored AS (SELECT q.vec_id AS query_id, d.vec_id AS neighbor_id, list_dot_product(d.v, q.v) / (sqrt(list_dot_product(d.v, d.v)) * sqrt(list_dot_product(q.v, q.v))) AS score FROM e d, e q WHERE q.vec_id < 8 AND d.vec_id <> q.vec_id) SELECT query_id, neighbor_id FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rn FROM scored) WHERE rn <= 10)),
       |ann AS (SELECT query_id, neighbor_id FROM ($pqTopKOracleSql)),
       |h AS (SELECT bf.query_id, CAST(count(*) AS BIGINT) AS n_hits FROM bf JOIN ann ON bf.query_id = ann.query_id AND bf.neighbor_id = ann.neighbor_id GROUP BY 1),
       |qq AS (SELECT DISTINCT vec_id AS query_id FROM embeddings WHERE vec_id < 8)
       |SELECT qq.query_id, CAST(coalesce(n_hits, 0) AS BIGINT) AS n_hits, CAST(coalesce(n_hits, 0) AS DOUBLE) / 10.0 AS recall_at_10 FROM qq LEFT JOIN h ON qq.query_id = h.query_id""".stripMargin

  /** sim_topk_ivf: trained-centroid IVF (k=8 cells, 2 Lloyd iterations,
    * nProbe=3) — hard-assign the corpus under the final centroids, probe
    * each query's 3 nearest cells, exact-cosine re-rank top-10.
    */
  private def ivfTopKOracleSqlWith(idxWhere: String): String = {
    val cos = "list_dot_product(i.v, p.qv) / (sqrt(list_dot_product(i.v, i.v)) * sqrt(list_dot_product(p.qv, p.qv)))"
    s"""WITH ${kmeansCtes(8, 2, 64)},
       |idx AS MATERIALIZED (SELECT vec_id, v, cell FROM (SELECT e.vec_id, e.v, c.cell, row_number() OVER (PARTITION BY e.vec_id ORDER BY ${cellScore("e.v", "c.v")}, c.cell) AS rn FROM e CROSS JOIN cen2 c) WHERE rn = 1$idxWhere),
       |prob AS MATERIALIZED (SELECT vec_id AS query_id, v AS qv, cell FROM (SELECT e.vec_id, e.v, c.cell, row_number() OVER (PARTITION BY e.vec_id ORDER BY ${cellScore("e.v", "c.v")}, c.cell) AS rn FROM e CROSS JOIN cen2 c WHERE e.vec_id < 8) WHERE rn <= 3),
       |scored AS (SELECT p.query_id, i.vec_id AS neighbor_id, $cos AS score FROM prob p JOIN idx i ON p.cell = i.cell AND i.vec_id <> p.query_id)
       |SELECT query_id, CAST(rn AS INTEGER) AS rank, neighbor_id, score
       |FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rn FROM scored)
       |WHERE rn <= 10""".stripMargin
  }

  private lazy val ivfTopKOracleSql: String = ivfTopKOracleSqlWith("")

  /** sim_ivf_forget: the IVF full-replay oracle with the tombstoned
    * cohort excluded from the INDEX side only — deleted vectors stop
    * being neighbors; the query set (which reads the raw table, not the
    * index) is untouched.
    */
  private lazy val ivfForgetOracleSql: String =
    ivfTopKOracleSqlWith(" AND vec_id % 7 <> 0")

  /** sim_nprobe_sweep: ivfTopKOracleSql generalized — probe ranks kept
    * to 4, candidates replicated per nprobe >= their rank, per-(query,
    * nprobe) top-10 intersected with the brute-force pool.
    */
  private lazy val nprobeSweepOracleSql: String = {
    val cos = "list_dot_product(i.v, p.qv) / (sqrt(list_dot_product(i.v, i.v)) * sqrt(list_dot_product(p.qv, p.qv)))"
    s"""WITH ${kmeansCtes(8, 2, 64)},
       |idx AS MATERIALIZED (SELECT vec_id, v, cell FROM (SELECT e.vec_id, e.v, c.cell, row_number() OVER (PARTITION BY e.vec_id ORDER BY ${cellScore("e.v", "c.v")}, c.cell) AS rn FROM e CROSS JOIN cen2 c) WHERE rn = 1),
       |prob AS MATERIALIZED (SELECT vec_id AS query_id, v AS qv, cell, CAST(rn AS BIGINT) AS cell_rank FROM (SELECT e.vec_id, e.v, c.cell, row_number() OVER (PARTITION BY e.vec_id ORDER BY ${cellScore("e.v", "c.v")}, c.cell) AS rn FROM e CROSS JOIN cen2 c WHERE e.vec_id < 8) WHERE rn <= 4),
       |scored AS MATERIALIZED (SELECT p.query_id, p.cell_rank, i.vec_id AS neighbor_id, $cos AS score FROM prob p JOIN idx i ON p.cell = i.cell AND i.vec_id <> p.query_id),
       |np AS (SELECT CAST(range + 1 AS BIGINT) AS nprobe FROM range(4)),
       |sw AS (SELECT s.query_id, np.nprobe, s.neighbor_id, s.score FROM scored s JOIN np ON s.cell_rank <= np.nprobe),
       |topn AS (SELECT query_id, nprobe, neighbor_id FROM (SELECT *, row_number() OVER (PARTITION BY query_id, nprobe ORDER BY score DESC, neighbor_id) AS rn FROM sw) WHERE rn <= 10),
       |bf AS (SELECT query_id, neighbor_id FROM (SELECT q.vec_id AS query_id, d.vec_id AS neighbor_id, row_number() OVER (PARTITION BY q.vec_id ORDER BY list_dot_product(d.v, q.v) / (sqrt(list_dot_product(d.v, d.v)) * sqrt(list_dot_product(q.v, q.v))) DESC, d.vec_id) AS rn FROM e d, e q WHERE q.vec_id < 8 AND d.vec_id <> q.vec_id) WHERE rn <= 10),
       |h AS (SELECT bf.query_id, t.nprobe, CAST(count(*) AS BIGINT) AS n_hits FROM bf JOIN topn t ON bf.query_id = t.query_id AND bf.neighbor_id = t.neighbor_id GROUP BY 1, 2),
       |qq AS (SELECT DISTINCT vec_id AS query_id FROM embeddings WHERE vec_id < 8),
       |g AS (SELECT query_id, nprobe FROM qq, np)
       |SELECT g.query_id, g.nprobe, CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits, CAST(coalesce(h.n_hits, 0) AS DOUBLE) / 10.0 AS recall_at_10
       |FROM g LEFT JOIN h ON g.query_id = h.query_id AND g.nprobe = h.nprobe""".stripMargin
  }

  /** ‖c‖² exactly as the engine's lookup tables compute it (left fold). */
  private def c2Of(c: String): String =
    s"list_reduce(list_transform($c, x -> x*x), (a, b) -> a + b)"

  /** CTEs replaying Pq.trainCodebooks(m=4, k=64, iters) into
    * `bk$iters(m, code, c)` — md5-seeded sliced codebooks, per-subspace
    * argmin assignment, fixed-point Lloyd updates (empty codes keep their
    * centroid). Assumes `e(vec_id, v)` is already defined.
    */
  private def pqCtes(iters: Int): String = {
    val grid = graft.ext.IvfIndex.Grid
    val init =
      s"""seed AS MATERIALIZED (SELECT CAST(row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) - 1 AS INTEGER) AS code, v FROM e QUALIFY row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) <= 64),
         |ms AS MATERIALIZED (SELECT CAST(m AS INTEGER) AS m FROM unnest(range(4)) t(m)),
         |bk0 AS MATERIALIZED (SELECT ms.m, s.code, s.v[ms.m*16+1 : ms.m*16+16] AS c FROM seed s CROSS JOIN ms),
         |sv AS MATERIALIZED (SELECT e.vec_id, ms.m, e.v[ms.m*16+1 : ms.m*16+16] AS sv FROM e CROSS JOIN ms)""".stripMargin
    val steps = (0 until iters).map { t =>
      s"""pasg$t AS MATERIALIZED (SELECT vec_id, m, sv, code FROM (SELECT s.vec_id, s.m, s.sv, b.code, row_number() OVER (PARTITION BY s.vec_id, s.m ORDER BY ${cellScore("s.sv", "b.c")}, b.code) AS rn FROM sv s JOIN bk$t b ON s.m = b.m) WHERE rn = 1),
         |pupd$t AS MATERIALIZED (SELECT m, code, j, CAST(sum(CAST(floor(sv[CAST(j AS INTEGER)+1] * $grid) AS BIGINT)) AS BIGINT) AS sj, count(*) AS n FROM pasg$t, unnest(range(16)) t(j) GROUP BY 1, 2, 3),
         |bk${t + 1} AS MATERIALIZED (SELECT p.m, p.code, COALESCE(u.nc, p.c) AS c FROM bk$t p LEFT JOIN (SELECT m, code, list(CAST(sj AS DOUBLE) / CAST(n * $grid AS DOUBLE) ORDER BY j) AS nc FROM pupd$t GROUP BY 1, 2) u ON p.m = u.m AND p.code = u.code)""".stripMargin
    }
    (init +: steps).mkString(",\n")
  }

  /** Encoding CTEs under codebook table `book`: `enc(vec_id, k0..k3,
    * rnorm)` — per-subspace argmin codes and the exact reconstruction
    * norm sqrt(((c2₀+c2₁)+c2₂)+c2₃) in the engine's fold order.
    */
  private def pqEncCtes(book: String): String =
    s"""fasg AS MATERIALIZED (SELECT vec_id, m, code FROM (SELECT s.vec_id, s.m, b.code, row_number() OVER (PARTITION BY s.vec_id, s.m ORDER BY ${cellScore("s.sv", "b.c")}, b.code) AS rn FROM sv s JOIN $book b ON s.m = b.m) WHERE rn = 1),
       |encw AS MATERIALIZED (SELECT vec_id, max(CASE WHEN m = 0 THEN code END) AS k0, max(CASE WHEN m = 1 THEN code END) AS k1, max(CASE WHEN m = 2 THEN code END) AS k2, max(CASE WHEN m = 3 THEN code END) AS k3 FROM fasg GROUP BY vec_id),
       |enc AS MATERIALIZED (SELECT n.vec_id, n.k0, n.k1, n.k2, n.k3, sqrt(((${c2Of("b0.c")} + ${c2Of("b1.c")}) + ${c2Of("b2.c")}) + ${c2Of("b3.c")}) AS rnorm FROM encw n JOIN $book b0 ON b0.m = 0 AND b0.code = n.k0 JOIN $book b1 ON b1.m = 1 AND b1.code = n.k1 JOIN $book b2 ON b2.m = 2 AND b2.code = n.k2 JOIN $book b3 ON b3.m = 3 AND b3.code = n.k3)""".stripMargin

  /** ADC score: Σ_m ⟨q_m, c_{m,code_m}⟩ in the engine's left-fold order,
    * over qn·rnorm — requires aliases q (query), n (enc row), b0..b3
    * (codebook rows of n's codes).
    */
  private val adcScore: String =
    "(((list_dot_product(q.qv[1:16], b0.c) + list_dot_product(q.qv[17:32], b1.c)) + list_dot_product(q.qv[33:48], b2.c)) + list_dot_product(q.qv[49:64], b3.c)) / (q.qn * n.rnorm)"

  private val pqBookJoins: String =
    "JOIN bk2 b0 ON b0.m = 0 AND b0.code = n.k0 JOIN bk2 b1 ON b1.m = 1 AND b1.code = n.k1 JOIN bk2 b2 ON b2.m = 2 AND b2.code = n.k2 JOIN bk2 b3 ON b3.m = 3 AND b3.code = n.k3"

  private val refineTailSql: String = {
    val cos = "list_dot_product(nb.v, q.qv) / (sqrt(list_dot_product(nb.v, nb.v)) * sqrt(list_dot_product(q.qv, q.qv)))"
    s"""ref AS (SELECT s.query_id, s.neighbor_id, $cos AS score FROM shortl s JOIN e nb ON s.neighbor_id = nb.vec_id JOIN q ON s.query_id = q.query_id)
       |SELECT query_id, CAST(rn AS INTEGER) AS rank, neighbor_id, score
       |FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rn FROM ref)
       |WHERE rn <= 10""".stripMargin
  }

  /** sim_topk_pq: PQ codes (m=4, 64 codes, 2 Lloyd iterations) + ADC
    * table scoring + top-50 shortlist + exact-cosine refine to top-10.
    */
  private lazy val pqTopKOracleSql: String =
    s"""WITH e AS MATERIALIZED (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |${pqCtes(2)},
       |${pqEncCtes("bk2")},
       |q AS MATERIALIZED (SELECT vec_id AS query_id, v AS qv, sqrt(list_dot_product(v, v)) AS qn FROM e WHERE vec_id < 8),
       |adc AS MATERIALIZED (SELECT q.query_id, n.vec_id AS neighbor_id, $adcScore AS score FROM q CROSS JOIN enc n $pqBookJoins WHERE n.vec_id <> q.query_id),
       |shortl AS MATERIALIZED (SELECT query_id, neighbor_id FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rn FROM adc) WHERE rn <= 50),
       |$refineTailSql""".stripMargin

  /** sim_topk_ivfpq: coarse trained cells (k=8, nProbe=3 by driver-side
    * SQUARED-L2 distance — a different fold than NearestCellsExpr, so it
    * is replayed as Σ(q−c)², not ‖c‖²−2⟨q,c⟩) bound the rows scanned; PQ
    * codes bound bytes; exact refine of the 50-candidate shortlist.
    */
  private lazy val ivfPqTopKOracleSql: String = {
    val i1 = "CAST(i AS INTEGER)+1"
    val l2 = s"list_reduce(list_transform(range(64), i -> (q.qv[$i1] - c.v[$i1]) * (q.qv[$i1] - c.v[$i1])), (a, b) -> a + b)"
    s"""WITH ${kmeansCtes(8, 2, 64)},
       |${pqCtes(2)},
       |${pqEncCtes("bk2")},
       |idx AS MATERIALIZED (SELECT vec_id, cell FROM (SELECT e.vec_id, c.cell, row_number() OVER (PARTITION BY e.vec_id ORDER BY ${cellScore("e.v", "c.v")}, c.cell) AS rn FROM e CROSS JOIN cen2 c) WHERE rn = 1),
       |q AS MATERIALIZED (SELECT vec_id AS query_id, v AS qv, sqrt(list_dot_product(v, v)) AS qn FROM e WHERE vec_id < 8),
       |prb AS MATERIALIZED (SELECT query_id, cell FROM (SELECT q.query_id, c.cell, row_number() OVER (PARTITION BY q.query_id ORDER BY $l2, c.cell) AS rn FROM q CROSS JOIN cen2 c) WHERE rn <= 3),
       |adc AS MATERIALIZED (SELECT q.query_id, n.vec_id AS neighbor_id, $adcScore AS score FROM q JOIN prb ON q.query_id = prb.query_id JOIN idx ON idx.cell = prb.cell JOIN enc n ON n.vec_id = idx.vec_id $pqBookJoins WHERE n.vec_id <> q.query_id),
       |shortl AS MATERIALIZED (SELECT query_id, neighbor_id FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rn FROM adc) WHERE rn <= 50),
       |$refineTailSql""".stripMargin
  }

  /** sim_coreset: replay Coreset.kCenter(embeddings, 8) — min-id seed,
    * then 7 unrolled rounds each picking the point with max (d desc, id)
    * where d = exact MIN over selected centers of (‖v‖²−2⟨v,c⟩)+‖c‖².
    */
  private lazy val coresetOracleSql: String = {
    val steps = (2 to 8).map { r =>
      s"""c$r AS MATERIALIZED (SELECT t.vec_id, t.v, min((t.vv - 2 * list_dot_product(t.v, c.v)) + list_dot_product(c.v, c.v)) AS d FROM t, sel${r - 1} c WHERE t.vec_id NOT IN (SELECT vec_id FROM sel${r - 1}) GROUP BY t.vec_id, t.v ORDER BY d DESC, t.vec_id LIMIT 1),
         |sel$r AS (SELECT vec_id, v FROM sel${r - 1} UNION ALL SELECT vec_id, v FROM c$r)""".stripMargin
    }.mkString(",\n")
    val out = (2 to 8).map(r => s"SELECT $r AS sel_rank, vec_id, d AS dist FROM c$r").mkString(" UNION ALL ")
    s"""WITH t AS MATERIALIZED (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v, list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)), list_transform(embedding, x -> CAST(x AS DOUBLE))) AS vv FROM embeddings),
       |c1 AS MATERIALIZED (SELECT vec_id, v, CAST(0.0 AS DOUBLE) AS d FROM t ORDER BY vec_id LIMIT 1),
       |sel1 AS (SELECT vec_id, v FROM c1),
       |$steps
       |SELECT CAST(sel_rank AS INTEGER) AS sel_rank, vec_id, dist FROM (SELECT 1 AS sel_rank, vec_id, d AS dist FROM c1 UNION ALL $out)""".stripMargin
  }

  /** sim_ivf_stats: per-cell occupancy + micro-rounded quantization error
    * under the same replayed training (d² = (‖v‖²−2⟨v,c⟩)+‖c‖² per row,
    * bit-identical — so rounding agrees regardless of boundary margins).
    */
  private lazy val ivfStatsOracleSql: String =
    s"""WITH ${kmeansCtes(8, 2, 64)},
       |idx AS MATERIALIZED (SELECT vec_id, v, cell FROM (SELECT e.vec_id, e.v, c.cell, row_number() OVER (PARTITION BY e.vec_id ORDER BY ${cellScore("e.v", "c.v")}, c.cell) AS rn FROM e CROSS JOIN cen2 c) WHERE rn = 1),
       |st AS (SELECT i.cell, CAST(round(((list_dot_product(i.v, i.v) - 2 * list_dot_product(i.v, c.v)) + list_dot_product(c.v, c.v)) * 1e6) AS BIGINT) AS q FROM idx i JOIN cen2 c ON i.cell = c.cell)
       |SELECT cell, CAST(count(*) AS BIGINT) AS n_vecs, CAST(sum(q) AS BIGINT) AS qerr_micro FROM st GROUP BY 1""".stripMargin

  /** sim_silhouette: same trained cen2 + hard assignment as
    * sim_ivf_stats; a/b from the identical d² op order, per-row micro
    * rounding, per-cell exact sums (HUGEINT mirrors the DECIMAL).
    */
  private lazy val silhouetteOracleSql: String =
    s"""WITH ${kmeansCtes(8, 2, 64)},
       |idx AS MATERIALIZED (SELECT vec_id, v, cell FROM (SELECT e.vec_id, e.v, c.cell, row_number() OVER (PARTITION BY e.vec_id ORDER BY ${cellScore("e.v", "c.v")}, c.cell) AS rn FROM e CROSS JOIN cen2 c) WHERE rn = 1),
       |dd AS (SELECT i.vec_id, i.cell AS own_cell, c.cell AS cand_cell, (list_dot_product(i.v, i.v) - 2 * list_dot_product(i.v, c.v)) + list_dot_product(c.v, c.v) AS d2 FROM idx i CROSS JOIN cen2 c),
       |ab AS (SELECT vec_id, own_cell AS cell, sqrt(max(CASE WHEN cand_cell = own_cell THEN d2 END)) AS a, sqrt(min(CASE WHEN cand_cell <> own_cell THEN d2 END)) AS b FROM dd GROUP BY 1, 2),
       |sl AS (SELECT cell, CASE WHEN greatest(a, b) = 0 THEN CAST(0 AS BIGINT) ELSE CAST(round((b - a) / greatest(a, b) * 1e6) AS BIGINT) END AS sil FROM ab),
       |g AS (SELECT cell, CAST(count(*) AS BIGINT) AS n_vecs, CAST(sum(sil) AS HUGEINT) AS ss FROM sl GROUP BY 1)
       |SELECT cell, n_vecs, CAST(ss AS BIGINT) AS sil_sum_micro, CAST(round(CAST(ss AS DOUBLE) / CAST(n_vecs AS DOUBLE)) AS BIGINT) AS mean_sil_micro FROM g""".stripMargin

  /** sim_recall replay: exact brute-force top-10 ∩ the full LSH replay
    * per anchor, counted and divided by 10.
    */
  private lazy val simRecallOracleSql: String =
    s"""WITH bf AS (SELECT query_id, neighbor_id FROM (WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings), scored AS (SELECT q.vec_id AS query_id, d.vec_id AS neighbor_id, list_dot_product(d.v, q.v) / (sqrt(list_dot_product(d.v, d.v)) * sqrt(list_dot_product(q.v, q.v))) AS score FROM e d, e q WHERE q.vec_id < 8 AND d.vec_id <> q.vec_id) SELECT query_id, neighbor_id FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rn FROM scored) WHERE rn <= 10)),
       |lsh AS (SELECT query_id, neighbor_id FROM ($lshTopKOracleSql)),
       |h AS (SELECT bf.query_id, CAST(count(*) AS BIGINT) AS n_hits FROM bf JOIN lsh ON bf.query_id = lsh.query_id AND bf.neighbor_id = lsh.neighbor_id GROUP BY 1),
       |qq AS (SELECT DISTINCT vec_id AS query_id FROM embeddings WHERE vec_id < 8)
       |SELECT qq.query_id, CAST(coalesce(n_hits, 0) AS BIGINT) AS n_hits, CAST(coalesce(n_hits, 0) AS DOUBLE) / 10.0 AS recall_at_10 FROM qq LEFT JOIN h ON qq.query_id = h.query_id""".stripMargin

  /** sim_knn: the sim_topk cosine replay restricted to the disjoint
    * anchor/pool split, then the (votes desc, label asc) majority vote.
    */
  private lazy val knnOracleSql: String =
    """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
      |scored AS (SELECT q.vec_id AS query_id, d.vec_id AS neighbor_id,
      |    list_dot_product(d.v, q.v) / (sqrt(list_dot_product(d.v, d.v)) * sqrt(list_dot_product(q.v, q.v))) AS score
      |  FROM e d, e q WHERE q.vec_id < 8 AND d.vec_id >= 8),
      |top AS (SELECT query_id, neighbor_id FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rn FROM scored) WHERE rn <= 10),
      |votes AS (SELECT query_id, l.label AS nl, CAST(count(*) AS BIGINT) AS votes
      |  FROM top JOIN embeddings l ON top.neighbor_id = l.vec_id GROUP BY 1, 2),
      |pred AS (SELECT query_id, nl, votes FROM votes QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY votes DESC, nl ASC) = 1)
      |SELECT p.query_id, t.label AS truth_label, p.nl AS pred_label, p.votes AS n_votes
      |FROM pred p JOIN embeddings t ON p.query_id = t.vec_id""".stripMargin
}
