package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Snapshot comparison: the QA primitive for incremental pipelines —
  * "what changed between yesterday's table and today's?". One full-outer
  * join on the key (the minimal possible shuffle for set comparison; both
  * sides pruned to key + compared columns before the join, so wide tables
  * never ship unread columns). Null-safe equality (`<=>`) makes NULL→value
  * transitions count as changes.
  *
  * At scale: if both snapshots are bucketed on the key
  * ([[graft.sources.Layout.writeBucketed]]), the diff plans with zero
  * shuffle exchanges.
  */
object Diff {

  /** Rows whose key exists in only one side or whose compared columns
    * differ: (keys..., status ∈ added|removed|changed). Unchanged rows are
    * dropped before the join output leaves the stage.
    */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame,
                   keys: Seq[String], compareCols: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "keys must be non-empty")
    val o = oldDf.select((keys ++ compareCols).map(c => col(c).as(s"__o_$c")): _*)
    val n = newDf.select((keys ++ compareCols).map(c => col(c).as(s"__n_$c")): _*)
    val joinCond = keys.map(k => col(s"__o_$k") === col(s"__n_$k")).reduce(_ && _)
    val inOld = col(s"__o_${keys.head}").isNotNull
    val inNew = col(s"__n_${keys.head}").isNotNull
    val changed = compareCols
      .map(c => !(col(s"__o_$c") <=> col(s"__n_$c")))
      .foldLeft(lit(false))(_ || _)
    val status = when(!inNew, "removed").when(!inOld, "added")
      .when(changed, "changed")
    val keyCols = keys.map(k =>
      coalesce(col(s"__o_$k"), col(s"__n_$k")).as(k))
    o.join(n, joinCond, "full_outer")
      .withColumn("status", status)
      .where(col("status").isNotNull)
      .select(keyCols :+ col("status"): _*)
  }
}
