package graft

import graft.ext.{Dedup, Graph}
import org.apache.spark.sql.functions._

/** Degenerate-corpus behavior of the LSH bucket caps: a pathological bucket
  * (hundreds of identical docs / constant embeddings) must neither blow up
  * toward all-pairs NOR lose the duplicate cluster. The spanning-star cap
  * keeps candidate counts linear in bucket size while preserving
  * connectivity, and the drop statistics surface via observed metrics.
  */
class BucketCapSpec extends SparkSpec {
  import spark.implicits._

  private val boiler =
    "the quick brown fox jumps over the lazy dog and keeps jumping forever"

  private def corpus(nDup: Int, nUnique: Int) =
    ((0L until nDup.toLong).map(i => (i, boiler)) ++
      (nDup.toLong until (nDup + nUnique).toLong).map(i =>
        (i, s"entirely distinct document number $i talking about topic$i and subject$i")))
      .toDF("doc_id", "text")

  test("minhash: 500 identical docs → bounded star candidates, cluster intact") {
    val docs = corpus(500, 20)

    @volatile var metrics = Map.empty[String, org.apache.spark.sql.Row]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             d: Long): Unit =
        metrics ++= qe.observedMetrics.filter(_._1.startsWith("graft_minhash"))
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val pairs = Dedup.minhashPairs(docs, "doc_id", "text", maxBucket = 50)
        .persist()
      val n = pairs.count()
      // all-pairs would be 500·499/2 ≈ 125k; the star cap keeps ~499
      assert(n < 5000, s"star cap must bound candidates, got $n")
      assert(n >= 499, s"every identical doc must appear in a candidate pair, got $n")
      // the whole duplicate set collapses to ONE kept representative
      val kept = Graph.clusterDedup(docs, "doc_id", pairs.select("id_a", "id_b"))
      assert(kept.filter(col("doc_id") < 500).count() == 1)
      assert(kept.count() == 1 + 20)
      pairs.unpersist()
      // the drop counter fired (star_entries > 0), asynchronously delivered
      val deadline = System.currentTimeMillis() + 10000
      while (metrics.isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(100)
      assert(metrics.nonEmpty, "bucket-cap observed metrics must fire")
      assert(metrics.values.exists(_.getAs[Long]("star_entries") > 0),
        s"star_entries must be positive: $metrics")

      // an empty corpus reports zeros, not nulls (sum/max over no rows).
      // AQE prunes an all-empty plan before the metric can fire, so run
      // this one with it off, as a streaming micro-batch does.
      metrics = Map.empty
      val aqe = spark.conf.get("spark.sql.adaptive.enabled")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try assert(Dedup.minhashPairs(corpus(0, 0), "doc_id", "text", maxBucket = 50).count() == 0)
      finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
      val emptyDeadline = System.currentTimeMillis() + 10000
      while (metrics.isEmpty && System.currentTimeMillis() < emptyDeadline) Thread.sleep(100)
      assert(metrics.nonEmpty, "bucket-cap observed metrics must fire on an empty corpus")
      metrics.values.foreach { r =>
        assert(r.get(r.fieldIndex("star_entries")) == 0L && r.get(r.fieldIndex("max_bucket")) == 0L,
          s"empty-corpus bucket-cap metrics must be 0, not null: $metrics")
      }
    } finally spark.listenerManager.unregister(listener)
  }

  test("simhash: identical docs band-join is capped and still complete") {
    val docs = corpus(300, 10)
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text",
      maxHamming = 3, maxBucket = 50).persist()
    val n = pairs.count()
    assert(n < 3000, s"capped simhash must not go quadratic, got $n")
    // identical docs have hamming 0 and must stay one connected cluster
    assert(pairs.filter(col("hamming") === 0).count() >= 299)
    val kept = Graph.clusterDedup(docs, "doc_id", pairs.select("id_a", "id_b"))
    assert(kept.filter(col("doc_id") < 300).count() == 1)
    pairs.unpersist()
  }

  test("embedding near-dup: constant-vector pile is capped and still clusters") {
    val dim = 8
    val constant = Array.fill(dim)(0.5f)
    val rows = (0L until 400L).map(i => (i, constant)) ++
      (400L until 410L).map(i => (i, Array.tabulate(dim)(d =>
        if (d == i % dim) 1.0f else -1.0f)))
    val emb = rows.toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingDupPairs(emb, "vec_id", "embedding",
      threshold = 0.9, maxBucket = 50).persist()
    val n = pairs.count()
    assert(n < 4000, s"capped embed join must not go quadratic, got $n")
    assert(pairs.filter(col("cosine") > 0.999).count() >= 399)
    val kept = Graph.clusterDedup(emb, "vec_id", pairs.select("id_a", "id_b"))
    assert(kept.filter(col("vec_id") < 400).count() == 1)
    pairs.unpersist()
  }
}
