package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Graph-based ANN (the NSW/HNSW family, Malkov & Yashunin 2018) as
  * deterministic DataFrame ops — the tier that completes the ladder
  * brute → LSH → IVF → PQ → graph. Two phases:
  *
  *  1. '''buildGraph''': a bounded-out-degree neighbor graph. Candidate
  *     pairs come from the SAME hyperplane-LSH co-bucketing as
  *     Similarity.lshTopK (never all-pairs: the candidate shuffle carries
  *     (bucket, id) pairs only), are scored with exact cosine ONCE per
  *     directed pair, and each node keeps its `degree` best neighbors via
  *     the bounded-heap partial aggregate — so graph size is exactly
  *     n × degree rows and construction is the LSH join plus one keyed
  *     top-k, both scale-linear.
  *  2. '''topK''': batched greedy beam search. The beam starts from a
  *     deterministic seed set (the `nSeeds` smallest md5(id) — the
  *     engine-wide reproducible-sample idiom) and runs a FIXED number of
  *     expansion rounds: candidates = beam ∪ neighbors(beam), scored
  *     against the query, top-`ef` kept. A fixed round count replaces
  *     HNSW's per-query convergence loop because batch search over a
  *     query SET wants uniform, replayable work per round; each round is
  *     one join of the (broadcast-small, |queries|·ef-row) beam against
  *     the src-partitioned adjacency plus one bounded-heap top-ef — at
  *     100 TB the vectors are read only for beam candidates
  *     (|queries| · (ef + ef·degree) rows per round), never scanned.
  *
  * Everything is deterministic — hash-derived hyperplanes, exact cosine,
  * (score desc, id asc) tie-breaks — so the whole index + search is
  * replayed bit-for-bit by the DuckDB oracle (unrolled rounds), like the
  * IVF/PQ tiers. Monotonicity: beam ⊆ candidates each round, so beam
  * quality never regresses; recall is dialed by ef / rounds / degree.
  */
object GraphAnn {

  /** Bounded-degree neighbor graph: (src, dst, edge_score) with exactly
    * the `degree` highest-cosine LSH-cobucketed neighbors per src
    * (ties by dst asc). Directed pairs are generated symmetrically, so
    * an edge survives wherever EITHER endpoint ranks the other — the
    * NSW "add reverse links" step folded into candidate generation.
    */
  def buildGraph(data: DataFrame, idCol: String, vecCol: String,
                 degree: Int = 8, nbits: Int = 6, tables: Int = 8): DataFrame = {
    graft.functions.VectorExprs.register(data.sparkSession)
    val src = Par.fanOut(data)
    val buckets = Vectors.hyperplaneBuckets(col(vecCol), nbits, tables)
    val b = src.select(col(idCol).as("id"), explode(buckets).as("bucket"))
    // ids-only candidate generation (vectors never ride the LSH shuffle)
    val cand = b.as("a").join(b.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.id") =!= col("b.id"))
      .select(col("a.id").as("src"), col("b.id").as("dst")).distinct()
    val vecs = src.select(col(idCol).as("id"), col(vecCol).as("__v__"),
      Vectors.norm(col(vecCol)).as("__n__"))
    cand
      .join(vecs.select(col("id").as("src"), col("__v__").as("__sv__"),
        col("__n__").as("__sn__")), "src")
      .join(vecs.select(col("id").as("dst"), col("__v__").as("__dv__"),
        col("__n__").as("__dn__")), "dst")
      .withColumn("score",
        Vectors.dot(col("__sv__"), col("__dv__")) / (col("__sn__") * col("__dn__")))
      .groupBy("src")
      .agg(graft.functions.TopKAgg.topK(degree, col("score"),
        col("dst").cast("double"), struct(col("dst"), col("score"))).as("__top__"))
      .select(col("src"), explode(col("__top__")).as("e"))
      .select(col("src"), col("e.dst").as("dst"), col("e.score").as("edge_score"))
  }

  /** Beam search over `graph` (as built by buildGraph): top-`k` cosine
    * neighbors per query row after `rounds` expansion rounds of width
    * `ef`. Output (query_id, rank, neighbor_id, score).
    */
  def topK(data: DataFrame, graph: DataFrame, queries: DataFrame,
           idCol: String, vecCol: String, k: Int, ef: Int = 16,
           rounds: Int = 3, nSeeds: Int = 4): DataFrame = {
    graft.functions.VectorExprs.register(data.sparkSession)
    val vecs = data.select(col(idCol).as("node"), col(vecCol).as("__v__"),
      Vectors.norm(col(vecCol)).as("__n__"))
    val qv = broadcast(queries.select(col(idCol).as("query_id"),
      col(vecCol).as("__qv__"), Vectors.norm(col(vecCol)).as("__qn__")))
    // deterministic entry points: TakeOrdered, never a driver collect
    val seeds = broadcast(data.orderBy(md5(col(idCol).cast("string"))).limit(nSeeds)
      .select(col(idCol).as("node")))
    val adj = graph.select(col("src").as("node"), col("dst"))
    def scoreAndKeep(cand: DataFrame, width: Int): DataFrame =
      cand.join(vecs, Seq("node")).join(qv, Seq("query_id"))
        .withColumn("score",
          Vectors.dot(col("__v__"), col("__qv__")) / (col("__n__") * col("__qn__")))
        .groupBy("query_id")
        .agg(graft.functions.TopKAgg.topK(width, col("score"),
          col("node").cast("double"), struct(col("node"), col("score"))).as("__top__"))
        .select(col("query_id"), explode(col("__top__")).as("e"))
        .select(col("query_id"), col("e.node").as("node"), col("e.score").as("score"))
    val lp = new Ckpt.Loop // beam frames are |queries|·ef rows — adaptive
    var beam = lp.local(scoreAndKeep(
      queries.select(col(idCol).as("query_id")).crossJoin(seeds)
        .filter(col("node") =!= col("query_id")), ef)) // truncates round lineage
    for (_ <- 0 until rounds) {
      val expanded = beam.join(adj, Seq("node"))
        .select(col("query_id"), col("dst").as("node"))
      val cand = beam.select("query_id", "node").unionByName(expanded)
        .filter(col("node") =!= col("query_id")).distinct()
      val prev = beam
      beam = lp.local(scoreAndKeep(cand, ef)) // eager ⇒ prev consumed
      Ckpt.free(prev) // beam state is O(1) frames across rounds, not O(rounds)
    }
    beam.groupBy("query_id")
      .agg(graft.functions.TopKAgg.topK(k, col("score"),
        col("node").cast("double"),
        struct(col("node").as("neighbor_id"), col("score"))).as("__top__"))
      .select(col("query_id"), posexplode(col("__top__")))
      .select(col("query_id"), (col("pos") + 1).as("rank"),
        col("col.neighbor_id").as("neighbor_id"), col("col.score").as("score"))
  }
}
