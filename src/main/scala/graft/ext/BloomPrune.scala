package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

/** Semi-join reduction via a broadcast Bloom filter — the classic
  * distributed-join optimization (Bloom, CACM 1970; "bloomjoin",
  * Mackert/Lohman VLDB 1986) for the case Spark's own runtime filtering
  * doesn't cover: a dimension that is too big to broadcast as a hash
  * relation but whose KEY SET fits a few hundred MB of bits.
  *
  * At 100 TB the win is shuffle bytes: a shuffle join ships every fact
  * row to its key's reducer; pruning first with a Bloom probe (two hash
  * ops inside the scan's codegen span — `functions.BloomMightContainExpr`)
  * drops the rows the join would discard BEFORE they are serialized,
  * so the exchange carries only (selectivity + fpp) of the fact table.
  * 100M dim keys at 1% fpp is ~110 MB of filter — broadcastable where
  * the dim's rows are not.
  *
  * Correctness is exact, not approximate: Bloom filters have no false
  * negatives, and false positives are dropped by the real join that
  * follows — so `prunedJoin` ≡ `join`, bit for bit (the driver oracle
  * checks exactly that).
  */
object BloomPrune {

  /** Build a Bloom filter of the dim's key set (distributed partial
    * aggregate; only the filter bits come to the driver).
    */
  def buildFilter(dim: DataFrame, keyCol: String,
                  expectedItems: Long, fpp: Double = 0.01): BloomFilter =
    dim.stat.bloomFilter(keyCol, expectedItems, fpp)

  /** Prune `fact` to rows whose key might be in the filter. */
  def prune(fact: DataFrame, keyCol: String, bf: BloomFilter): DataFrame =
    fact.filter(graft.functions.BloomExpr.mightContain(col(keyCol), bf))

  /** Bloom-pruned inner equi-join: scan-side probe, then the real join.
    * Result is exactly `fact.join(dim, factKey === dimKey)`.
    */
  def prunedJoin(fact: DataFrame, dim: DataFrame,
                 factKey: String, dimKey: String,
                 expectedItems: Long, fpp: Double = 0.01): DataFrame = {
    val bf = buildFilter(dim, dimKey, expectedItems, fpp)
    prune(fact, factKey, bf).join(dim, col(factKey) === col(dimKey), "inner")
  }
}
