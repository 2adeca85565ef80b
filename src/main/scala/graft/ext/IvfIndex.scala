package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** IVF (inverted-file) ANN index with TRAINED centroids — the scale path
  * beyond data-independent hyperplane LSH: k-means cells adapt to the
  * actual embedding distribution, so cell occupancy is balanced where
  * hyperplane buckets collapse (clustered corpora) and probing `nProbe`
  * nearest cells gives a tunable recall/cost dial, the FAISS IVF-Flat
  * shape re-expressed as DataFrame ops.
  *
  * Everything is broadcast-and-scan: centroids (k × dim doubles, a few MB
  * for k≤4096) broadcast to executors; assignment is one codegen'd map
  * pass over the corpus; a Lloyd update is one partial-aggregated groupBy
  * of k rows. No iteration ever shuffles the vectors themselves — the
  * only full-width shuffle in the pipeline is the final per-cell
  * candidate re-rank, bounded by nProbe cells per query.
  *
  * Determinism: init picks the k vectors with the smallest md5(id) (a
  * deterministic uniform sample), and Lloyd updates accumulate on an
  * integer fixed-point grid — training is bit-identical under any
  * partitioning, so the index is reproducible and oracle-replayable.
  */
object IvfIndex {

  /** Lloyd-update fixed-point grid (2^20): centroid means are computed as
    * integer sums of floor(component·Grid), making training deterministic
    * under any partitioning (shared with Pq.trainCodebooks).
    */
  private[graft] val Grid = 1048576L

  /** argmin over centroids of squared L2 distance. `centroids` is a
    * Seq of (cellId, vector) baked into the plan as literals (broadcast
    * with the closure — the FAISS "coarse quantizer lives everywhere"
    * shape).
    */
  private def nearestCell(vec: Column, centroids: Seq[(Int, Array[Double])]): Column =
    // ||v - c||² = ||v||² - 2<v,c> + ||c||²; ||v||² is constant across
    // cells, so argmin needs only <v,c> and ||c||² — one native expression
    // holding the whole centroid matrix as a reference object (a
    // literal-per-cell least(struct...) tree forces Janino to recompile
    // k×dim literals on every call — seconds per Lloyd iteration)
    element_at(graft.functions.VectorExprs.nearestCells(vec, centroids, 1), 1)

  /** Train k-means centroids with `iters` Lloyd iterations over a
    * deterministic hash-sampled init. Returns (cellId, centroid) pairs on
    * the driver (k × dim doubles — the coarse quantizer is SUPPOSED to be
    * driver/executor-resident; the corpus never is).
    *
    * Scale hygiene (FAISS-style practice): the coarse quantizer trains on
    * a deterministic hash SAMPLE of the corpus (`trainFraction` < 1 — cell
    * quality needs thousands of points per centroid, not the full 100 TB),
    * and the training set is persisted once so init + every Lloyd
    * iteration reads ONE cached scan instead of re-reading the source.
    */
  def train(data: DataFrame, idCol: String, vecCol: String,
            k: Int, iters: Int = 3, trainFraction: Double = 1.0): Seq[(Int, Array[Double])] = {
    require(k > 0 && iters >= 0, "k and iters must be positive")
    val sampled =
      if (trainFraction < 1.0) Sampling.hashSample(data, col(idCol), trainFraction)
      else data
    val src = Par.fanOut(sampled)
      .select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // deterministic init: the k rows with smallest md5(id)
      var centroids: Seq[(Int, Array[Double])] = src
        .orderBy(md5(col("id").cast("string")))
        .limit(k)
        .collect()
        .zipWithIndex
        .map { case (r, i) => i -> r.getSeq[Double](1).toArray }

      for (_ <- 0 until iters) {
        val assigned = src.withColumn("cell", nearestCell(col("v"), centroids))
        // mean per cell on a 2^-20 fixed-point grid: floor(v·2^20) BIGINT
        // sums are accumulation-ORDER-FREE (double sums drift in the last
        // ulp with partition count), so the trained quantizer is
        // bit-identical on 32 local threads and 1000 executors — and
        // exactly replayable by an external oracle. Overflow bound:
        // |component| ≤ 2^10 → |floor| ≤ 2^30; safe to 2^33 rows/cell.
        val dim = centroids.head._2.length
        val sums = (0 until dim).map(i =>
          sum(floor(element_at(col("v"), i + 1) * Grid)).as(s"s$i"))
        val aggCols = count(lit(1)).as("n") +: sums
        val updated = assigned.groupBy("cell")
          .agg(aggCols.head, aggCols.tail: _*)
          .collect()
          .map { r =>
            val n = r.getLong(1)
            r.getInt(0) -> Array.tabulate(dim)(i =>
              r.getLong(i + 2).toDouble / (n * Grid).toDouble)
          }.toSeq
        // empty cells keep their previous centroid
        val byId = updated.toMap
        centroids = centroids.map { case (id, c) => id -> byId.getOrElse(id, c) }
      }
      centroids
    } finally src.unpersist(blocking = false)
  }

  /** Assign every row to its nearest cell: the persisted "index" is just
    * (cell, id, vec) — at scale, write it partitioned/bucketed by cell so
    * a probe reads only its cells.
    */
  def assign(data: DataFrame, idCol: String, vecCol: String,
             centroids: Seq[(Int, Array[Double])]): DataFrame = {
    graft.functions.VectorExprs.register(data.sparkSession)
    Par.fanOut(data)
      .select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
      .withColumn("cell", nearestCell(col("v"), centroids))
  }

  /** Top-k cosine neighbors probing the `nProbe` nearest cells per query.
    * Queries are broadcast; candidates = rows of probed cells only; exact
    * re-rank via the bounded-heap aggregate.
    */
  def topK(index: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
           centroids: Seq[(Int, Array[Double])], k: Int, nProbe: Int = 2): DataFrame = {
    val spark = index.sparkSession
    graft.functions.VectorExprs.register(spark)
    // per-query probed cells: the nProbe nearest centroids per query
    val probed = queries
      .select(col(idCol).as("query_id"), col(vecCol).cast("array<double>").as("__qv__"))
      .select(col("query_id"), col("__qv__"),
        explode(graft.functions.VectorExprs.nearestCells(
          col("__qv__"), centroids, nProbe)).as("cell"))
    val q = broadcast(probed.withColumn("__qn__", Vectors.norm(col("__qv__"))))
    val scored = index.join(q, Seq("cell"))
      .filter(col("id") =!= col("query_id"))
      .withColumn("score",
        Vectors.dot(col("v"), col("__qv__")) / (Vectors.norm(col("v")) * col("__qn__")))
      .select(col("query_id"), col("id").as("neighbor_id"), col("score"))
    Similarity.topKPerQuery(scored, k)
  }
}
