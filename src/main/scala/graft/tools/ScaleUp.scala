package graft.tools

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** One-off scale-probe data generator: derives an sfN directory from the
  * driver's largest fixture (sf0.1) by replicating each table `factor`
  * times with remapped keys — PERFORMANCE data only, never a correctness
  * oracle source (the driver's own parquet stays the only correctness
  * input; this exists because the round brief asks "would the plan
  * survive 10-100×?" and a measured growth curve beats plan-reading —
  * SCALE.md §8b records the results).
  *
  * Scaling semantics are deliberately LINEAR, matching how real corpora
  * grow:
  *   - every key column is remapped `k → k·factor + r` consistently
  *     across tables, so join fan-outs, per-key group sizes, and graph
  *     degree distributions are preserved exactly (10× keys, same
  *     neighborhood shapes);
  *   - document text gets a per-replica token suffix (replica 0 keeps
  *     the original), making replica token spaces DISJOINT: within a
  *     replica the near-dup structure of the source corpus is intact,
  *     across replicas Jaccard is 0 — so the near-dup RATE stays
  *     constant and similarity-join output grows 10×, not 100× (a
  *     replicated-verbatim corpus would be 10× DENSER than any real
  *     one and quadratically explode every dedup measurement);
  *   - embeddings get a deterministic per-replica jitter (±5e-4,
  *     hash-derived) so ANN candidate structure is preserved without
  *     creating exact-tie degeneracies between replicas.
  *
  * Usage: runMain graft.tools.ScaleUp <srcDir> <dstDir> [factor=10]
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val dst = args.lift(1).getOrElse("/tmp/graft-sf1")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = graft.Session.builder("graft-scaleup").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // replica axis: explode a literal 0..factor-1 array — one scan of the
    // source per table, factor× rows out, no driver-side loops
    def replicate(t: String)(remap: (DataFrame, org.apache.spark.sql.Column) => DataFrame): Unit = {
      val base = spark.read.parquet(s"$src/$t.parquet")
      val out = remap(
        base.withColumn("__r__", explode(lit((0 until factor).toArray))),
        col("__r__").cast("long"))
        .drop("__r__")
      out.write.mode(SaveMode.Overwrite).parquet(s"$dst/$t.parquet")
      println(s"[scaleup] $t: ${base.count()} -> ${spark.read.parquet(s"$dst/$t.parquet").count()}")
    }
    def remapKey(c: String, r: org.apache.spark.sql.Column)(df: DataFrame): DataFrame =
      df.withColumn(c, col(c) * factor + r)

    replicate("lineitem") { (df, r) =>
      Seq("l_orderkey", "l_partkey", "l_suppkey").foldLeft(df)((d, k) => remapKey(k, r)(d))
    }
    replicate("orders") { (df, r) =>
      Seq("o_orderkey", "o_custkey").foldLeft(df)((d, k) => remapKey(k, r)(d))
    }
    replicate("events") { (df, r) =>
      Seq("event_id", "user_id").foldLeft(df)((d, k) => remapKey(k, r)(d))
    }
    replicate("documents") { (df, r) =>
      remapKey("doc_id", r)(df)
        .withColumn("text",
          when(col("__r__") === 0, col("text")).otherwise(
            array_join(transform(split(col("text"), "\\s+"),
              t => concat(t, lit("_x"), col("__r__"))), " ")))
        .withColumn("n_chars", length(col("text")))
    }
    replicate("embeddings") { (df, r) =>
      remapKey("vec_id", r)(df)
        .withColumn("embedding",
          when(col("__r__") === 0, col("embedding")).otherwise(
            // deterministic ±5e-4 jitter per (vec, dim, replica)
            transform(col("embedding"), (x, i) =>
              x + ((pmod(hash(col("vec_id"), i, col("__r__")), lit(1001)) - 500)
                .cast("float") * lit(1e-6f)))))
    }
    println(s"[scaleup] done -> $dst (factor $factor)")
    spark.stop()
  }
}
