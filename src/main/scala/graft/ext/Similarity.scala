package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Vector column primitives over Array[Float] embeddings, backed by the
  * native expressions in graft.functions.VectorExprs (one fused JVM loop
  * per row; the zip_with/aggregate HOF formulation interprets per element
  * — ~100× slower on LSH fan-outs). Accumulation is Double regardless of
  * storage type. Callers register via VectorExprs.register (the ext entry
  * points do it automatically).
  */
object Vectors {

  def dot(a: Column, b: Column): Column = graft.functions.VectorExprs.dot(a, b)

  def norm(a: Column): Column = graft.functions.VectorExprs.norm(a)

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** All `tables` LSH bucket ids (OR-construction) as an array<long>. */
  def hyperplaneBuckets(vec: Column, nbits: Int, tables: Int): Column =
    graft.functions.VectorExprs.hyperplaneBuckets(vec, nbits, tables)
}

/** Approximate-nearest-neighbor search over an embedding column.
  *
  *  - bruteForceTopK: the exact baseline — broadcast the (small) query set,
  *    score every (row, query) pair in one codegen'd projection, take top-k
  *    per query with the bounded-heap partial aggregate (TopKAgg). Scales
  *    linearly in |data|×|queries| with NO shuffle of the data table
  *    (queries are broadcast; the only shuffle is ≤k rows per partition
  *    per query, keyed by query_id).
  *  - lshTopK: the scale path — hyperplane-LSH bucket join (IVF-style
  *    candidate pruning), exact re-rank within candidates. Recall is
  *    tunable via nbits (fewer bits → bigger buckets → higher recall).
  */
object Similarity {

  /** Exact top-k neighbors for each query row. `queries` should be small
    * (it is broadcast); typically a filtered slice of the same table.
    */
  def bruteForceTopK(data: DataFrame, queries: DataFrame,
                     idCol: String, vecCol: String, k: Int): DataFrame = {
    graft.functions.VectorExprs.register(data.sparkSession)
    // norms precomputed ONCE per row/query, not once per (row, query) pair
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv__"),
      Vectors.norm(col(vecCol)).as("__qn__")))
    val scored = Par.fanOut(data)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("__v__"),
        Vectors.norm(col(vecCol)).as("__n__"))
      .crossJoin(q)
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("score", Vectors.dot(col("__v__"), col("__qv__")) / (col("__n__") * col("__qn__")))
    topKPerQuery(scored, k)
  }

  /** Per-query top-k via the native bounded-heap partial aggregate
    * (graft.functions.TopKAgg): the map side keeps ≤k rows per (partition,
    * query), so the shuffle ships O(partitions × queries × k) rows — a
    * rank window would shuffle EVERY scored pair (|data| × |queries| rows
    * for the brute-force scorer) just to discard all but k.
    */
  private[ext] def topKPerQuery(scored: DataFrame, k: Int): DataFrame =
    scored.groupBy("query_id")
      .agg(graft.functions.TopKAgg.topK(k, col("score"),
        col("neighbor_id").cast("double"),
        struct(col("neighbor_id"), col("score"))).as("__top__"))
      .select(col("query_id"), posexplode(col("__top__")))
      .select(col("query_id"), (col("pos") + 1).as("rank"),
        col("col.neighbor_id").as("neighbor_id"), col("col.score").as("score"))

  /** Maximum-inner-product search — the scoring of dot-product retrieval
    * / recommender models, where magnitude matters and cosine is wrong.
    * Same broadcast-queries + bounded-heap shape as bruteForceTopK with
    * score = ⟨v, q⟩; this is the exactness baseline, and the classic
    * norm-augmentation reduction (append sqrt(M² − ‖v‖²) to each data
    * vector, 0 to each query — Shrivastava & Li 2014) turns MIPS into
    * cosine so the LSH/IVF tiers serve it unchanged at scale.
    */
  def mipsTopK(data: DataFrame, queries: DataFrame,
               idCol: String, vecCol: String, k: Int): DataFrame = {
    graft.functions.VectorExprs.register(data.sparkSession)
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv__")))
    val scored = Par.fanOut(data)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("__v__"))
      .crossJoin(q)
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("score", Vectors.dot(col("__v__"), col("__qv__")))
    topKPerQuery(scored, k)
  }

  /** Contrastive hard-negative mining: for each anchor, the top-k most
    * similar vectors carrying a DIFFERENT label — the pairs that teach an
    * embedding model the most (highest-loss negatives), mined the way
    * contrastive training data is actually built. Same broadcast-anchors
    * + bounded-heap shape as bruteForceTopK (the label inequality rides
    * the broadcast probe, so it costs nothing extra); at scale the
    * anchor set shards and the scan parallelism is the data's.
    */
  def hardNegatives(data: DataFrame, queries: DataFrame, idCol: String,
                    vecCol: String, labelCol: String, k: Int): DataFrame = {
    graft.functions.VectorExprs.register(data.sparkSession)
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      col(labelCol).as("__ql__"), col(vecCol).as("__qv__"),
      Vectors.norm(col(vecCol)).as("__qn__")))
    val scored = Par.fanOut(data)
      .select(col(idCol).as("neighbor_id"), col(labelCol).as("__nl__"),
        col(vecCol).as("__v__"), Vectors.norm(col(vecCol)).as("__n__"))
      .crossJoin(q)
      .filter(col("__nl__") =!= col("__ql__"))
      .withColumn("score",
        Vectors.dot(col("__v__"), col("__qv__")) / (col("__n__") * col("__qn__")))
    topKPerQuery(scored, k)
  }

  /** Approximate top-k, IVF-flavored: `tables` independent LSH tables of
    * `nbits` hyperplane bits each (OR-construction) — candidates are rows
    * sharing ANY table bucket with the query, deduplicated, then re-ranked
    * exactly. Recall knobs: more tables OR fewer bits per table → more
    * candidates; `probe=true` additionally probes every 1-bit-flip bucket
    * of the query signature (multi-probe LSH, Lv et al. VLDB 2007) — the
    * recall of ~nbits extra tables at ZERO extra index size, with the probe
    * fan-out confined to the broadcast-small query side. Candidate
    * generation ships only (bucket, id); vectors rejoin at re-rank.
    */
  def lshTopK(data: DataFrame, queries: DataFrame,
              idCol: String, vecCol: String, k: Int, nbits: Int = 6,
              tables: Int = 8, probe: Boolean = true): DataFrame = {
    graft.functions.VectorExprs.register(data.sparkSession)
    val buckets = Vectors.hyperplaneBuckets(col(vecCol), nbits, tables)
    val src = Par.fanOut(data)
    val vecs = src.select(col(idCol).as("neighbor_id"), col(vecCol).as("__v__"),
      Vectors.norm(col(vecCol)).as("__n__"))
    val d = src.select(col(idCol).as("neighbor_id"), explode(buckets).as("bucket"))
    val qExact = queries.select(col(idCol).as("query_id"), explode(buckets).as("bucket"))
    val q = broadcast(if (!probe) qExact else {
      // bucket = sig*tables + t (see HyperplaneSigsExpr) → recover (sig, t),
      // emit the exact bucket plus each 1-bit-flip of sig re-encoded
      val t = pmod(col("bucket"), lit(tables))
      val sig = ((col("bucket") - t) / lit(tables)).cast("long")
      val flips = (0 until nbits).map(j => sig.bitwiseXOR(lit(1L << j)) * tables + t)
      qExact.select(col("query_id"),
        explode(array(col("bucket") +: flips: _*)).as("bucket"))
    })
    val qv = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv__"),
      Vectors.norm(col(vecCol)).as("__qn__")))
    val scored = d.join(q, Seq("bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select("query_id", "neighbor_id").distinct()
      .join(vecs, Seq("neighbor_id"))
      .join(qv, Seq("query_id"))
      .withColumn("score", Vectors.dot(col("__v__"), col("__qv__")) / (col("__n__") * col("__qn__")))
    topKPerQuery(scored, k)
  }
}
