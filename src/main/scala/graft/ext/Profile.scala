package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.collection.immutable.ArraySeq

/** Dataset profiling for pipeline QA: per-column stats in ONE pass over the
  * data (a single aggregate row, unpivoted to one row per column) — at
  * 100 TB a profile must never be #columns scans.
  */
object Profile {

  /** Numeric-column profile: count, nulls, distinct, min/max/sum.
    * `exactDistinct=false` (the at-scale default) uses HyperLogLog
    * (approx_count_distinct); exact mode is for oracle-checked QA runs.
    */
  def numeric(df: DataFrame, cols: Seq[String],
              exactDistinct: Boolean = false): DataFrame = {
    val aggs = cols.flatMap { c =>
      Seq(
        count(col(c)).as(s"${c}__n"),
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}__nulls"),
        (if (exactDistinct) countDistinct(col(c)) else approx_count_distinct(col(c)))
          .as(s"${c}__distinct"),
        min(col(c)).cast(DoubleType).as(s"${c}__min"),
        max(col(c)).cast(DoubleType).as(s"${c}__max"))
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    // unpivot the single wide row into one row per column
    val rows = cols.map { c =>
      struct(lit(c).as("column"),
        col(s"${c}__n").as("n"),
        col(s"${c}__nulls").as("n_null"),
        col(s"${c}__distinct").as("n_distinct"),
        col(s"${c}__min").as("min_v"),
        col(s"${c}__max").as("max_v"))
    }
    one.select(explode(array(rows: _*)).as("p")).select("p.*")
  }

  /** Equi-width histogram over a numeric column: `nBins` buckets spanning
    * [min, max], the last bucket right-closed. TWO passes total (one tiny
    * min/max aggregate broadcast back, one bucketing aggregate) — never a
    * sort, never per-bin scans. Bucket arithmetic is plain IEEE division/
    * floor in a fixed textual order, so an external engine reproduces the
    * assignment bit-exactly.
    */
  def histogram(df: DataFrame, c: String, nBins: Int): DataFrame = {
    require(nBins > 0, "histogram: nBins must be positive")
    val mm = df.agg(min(col(c)).cast(DoubleType).as("mn"),
      max(col(c)).cast(DoubleType).as("mx"))
    val bucket = least(
      floor((col(c).cast(DoubleType) - col("mn")) / ((col("mx") - col("mn")) / nBins)),
      lit(nBins - 1L)).cast(LongType)
    df.select(col(c)).where(col(c).isNotNull)
      .crossJoin(broadcast(mm))
      .groupBy(bucket.as("bucket"))
      .agg(count(lit(1)).as("n"))
  }
}

/** Skew mitigation for hot aggregation keys: two-phase salted aggregation.
  * AQE handles skewed JOINS at runtime; skewed GROUP-BYs still hash every
  * row of a hot key to one reducer — salting splits each key into
  * `salts` sub-keys (phase 1, map-side + salted shuffle) and merges the
  * partials (phase 2, tiny shuffle of #keys × salts rows). Results are
  * identical to the unsalted aggregate for the decomposable aggregates
  * offered here.
  */
object Skew {

  /** Salted sum/count per key. The salt is derived from a hash of the
    * whole row (deterministic, spreads identical hot-key rows across
    * `salts` partitions).
    */
  def saltedSumCount(df: DataFrame, keys: Seq[String], valueCol: String,
                     salts: Int = 16): DataFrame = {
    val salt = pmod(xxhash64(struct(ArraySeq.unsafeWrapArray(df.columns.map(col)): _*)),
      lit(salts)).as("__salt__")
    df.select((keys.map(col) :+ col(valueCol) :+ salt): _*)
      .groupBy((keys.map(col) :+ col("__salt__")): _*)
      .agg(sum(col(valueCol)).as("__psum__"), count(lit(1)).as("__pn__"))
      .groupBy(keys.map(col): _*)
      .agg(sum(col("__psum__")).as(s"sum_$valueCol"), sum(col("__pn__")).as("n"))
  }

  /** Salted equi-join for a skewed LEFT side: left rows get a
    * deterministic row-hash salt in [0, salts); the (small-ish) right side
    * is replicated `salts` times so every (key, salt) matches exactly one
    * right copy. A hot key's rows therefore spread over `salts` reducers
    * instead of one straggler. Semantics equal `left.join(right, keys,
    * joinType)` for inner/left joins (each left row still matches each
    * right row exactly once).
    *
    * This is the manual fallback for engines/paths where AQE skew
    * splitting doesn't apply (e.g. a shuffle feeding an aggregate, or
    * non-sort-merge plans); prefer AQE when it fires. Right-side cost is
    * |right| × salts shuffle rows — keep salts modest (8-32).
    */
  def saltedJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
                 joinType: String = "inner", salts: Int = 16): DataFrame = {
    require(joinType == "inner" || joinType == "left",
      s"saltedJoin supports inner/left, got $joinType")
    val salt = pmod(xxhash64(struct(ArraySeq.unsafeWrapArray(left.columns.map(col)): _*)), lit(salts))
    val saltedLeft = left.withColumn("__salt__", salt)
    val replicatedRight = right.withColumn("__salt__",
      explode(sequence(lit(0L), lit(salts - 1L))))
    saltedLeft.join(replicatedRight, keys :+ "__salt__", joinType)
      .drop("__salt__")
  }
}
