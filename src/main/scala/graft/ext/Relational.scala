package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import scala.collection.immutable.ArraySeq

/** Extended relational operators Spark lacks natively, built so the plan
  * shape survives 100 TB:
  *
  *  - asofJoin: most-recent-match join via the union-and-carry-forward
  *    trick — ONE shuffle on the key, no range explosion, no per-row probe.
  *  - rangeJoin: interval containment via bucketing — turns the theta join
  *    (cartesian in naive Spark) into an equi-join on bucket ids.
  *  - sessionIds: gap-based batch sessionization — two window passes over
  *    one (key, time) shuffle; the batch face of Streams.sessionize.
  */
object Relational {

  /** As-of join: for every left row, attach the payload of the LATEST
    * right row with `right.time <= left.time` for the same key (the
    * time-series "most recent snapshot" join; DuckDB/Polars/kdb call this
    * ASOF). Left rows with no prior right row get nulls.
    *
    * Implementation: tag and union both sides, then one window pass per
    * key ordered by (time, tag) carrying the last RIGHT ROW forward as a
    * single struct. The struct is non-null exactly for right rows — so a
    * right row whose payload VALUE is null still matches (its fields
    * project to null), instead of being skipped in favor of an older
    * non-null value. This is true ASOF semantics (DuckDB parity); a naive
    * per-column last(payload, ignoreNulls) diverges on null payloads.
    * Right rows sort BEFORE left rows at equal timestamps, so the match
    * is inclusive (<=), matching DuckDB's `ON l.t >= r.t`.
    * Cost: ONE shuffle on the key — no interval explosion, no broadcast
    * requirement, skew handled by AQE like any other window. Right rows
    * should be unique per (key, time); with duplicates the last in
    * (time, tag) order wins.
    */
  def asofJoin(left: DataFrame, right: DataFrame, key: String, time: String,
               payload: Seq[String]): DataFrame = {
    val clash = payload.toSet.intersect(left.columns.toSet)
    require(clash.isEmpty, s"asofJoin: payload columns collide with left: $clash")
    val l = left.withColumn("__tag__", lit(1))
    val r = right.select(col(key), col(time),
      struct(payload.map(col): _*).as("__pay__")).withColumn("__tag__", lit(0))
    val unioned = l.unionByName(r, allowMissingColumns = true) // left rows: __pay__ null
    val w = Window.partitionBy(col(key)).orderBy(col(time).asc, col("__tag__").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = unioned.withColumn("__pay__", last(col("__pay__"), ignoreNulls = true).over(w))
    carried.filter(col("__tag__") === 1)
      .select(ArraySeq.unsafeWrapArray(
        left.columns.map(col) ++ payload.map(p => col("__pay__").getField(p).as(p))): _*)
  }

  /** Interval-containment join: every left row where
    * `lo <= left(valueCol) <= hi` for a right interval row. The naive
    * theta join is a cartesian in Spark; bucketing by `floor(v / width)`
    * makes it an equi-join — the left side maps to ONE bucket per row, the
    * right side explodes to its covered buckets (choose `width` near the
    * typical interval length so that stays small). Each qualifying pair
    * collides in exactly one bucket (the left value's), so no dedup pass
    * is needed. Exact bounds re-checked after the bucket join.
    */
  def rangeJoin(left: DataFrame, valueCol: String,
                right: DataFrame, loCol: String, hiCol: String,
                width: Double): DataFrame = {
    require(width > 0, "rangeJoin: width must be positive")
    val lb = left.withColumn("__bucket__", floor(col(valueCol) / width))
    val rb = right.withColumn("__bucket__",
      explode(sequence(floor(col(loCol) / width), floor(col(hiCol) / width))))
    lb.join(rb, Seq("__bucket__"))
      .filter(col(valueCol) >= col(loCol) && col(valueCol) <= col(hiCol))
      .drop("__bucket__")
  }

  /** Gap-based session ids per key: a new session starts when the gap
    * since the previous event exceeds `gapSeconds`. Returns the input plus
    * a 1-based `session_id` per key. Two window functions over the SAME
    * (key, time) sort — one shuffle total; at 100 TB this is the standard
    * way to sessionize without stateful streaming.
    */
  def sessionIds(df: DataFrame, key: String, time: String,
                 gapSeconds: Long): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(col(time).asc)
    val gapUs = unix_micros(col(time)) - lag(unix_micros(col(time)), 1).over(w)
    val isNew = when(gapUs.isNull || gapUs > gapSeconds * 1000000L, 1).otherwise(0)
    df.withColumn("session_id",
      sum(isNew).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** Conversion funnel: per key, how many `toEvent` rows occur within
    * `withinSeconds` after the latest preceding `fromEvent` (inclusive of
    * equal timestamps). One (key, time) shuffle, one RANGE window — the
    * frame is ordered by the NUMERIC event time, so tied timestamps are
    * peers in the frame (deterministic across engines; a ROWS frame would
    * make tie order observable) and max() over the frame is
    * accumulation-order-free. The classic "view → purchase within an
    * hour" attribution shape without a self-join.
    */
  def funnel(df: DataFrame, key: String, time: String,
             fromEvent: String, toEvent: String, eventCol: String,
             withinSeconds: Long): DataFrame = {
    val tUs = unix_micros(col(time))
    val w = Window.partitionBy(col(key)).orderBy(tUs)
      .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    val lastFrom = max(when(col(eventCol) === fromEvent, tUs)).over(w)
    val converted = col(eventCol) === toEvent &&
      lastFrom.isNotNull && (tUs - lastFrom) <= withinSeconds * 1000000L
    df.withColumn("__conv__", converted)
      .groupBy(col(key))
      .agg(sum(when(col(eventCol) === toEvent, 1L).otherwise(0L)).as("n_target"),
        sum(when(col("__conv__"), 1L).otherwise(0L)).as("n_converted"))
  }

  /** Type-2 slowly-changing-dimension history from a change log: one row
    * per (key, attribute-state run) with half-open validity
    * [valid_from, valid_to) — `valid_to` is the NEXT change's timestamp,
    * null while current. Consecutive rows with unchanged attributes
    * collapse into one version (true SCD2 compression); attribute
    * comparison is null-safe.
    *
    * ONE shuffle on the key: both window passes (change detection over
    * the raw log, lead/version over the surviving change rows) sort by
    * the same (time, tieBreak) order under the same partitioning, so
    * Catalyst reuses the exchange. `tieBreak` makes the order total when
    * one key can log two changes at the same timestamp — pass a unique
    * column (an event id) whenever the time column can tie.
    */
  def scd2(df: DataFrame, key: String, time: String, attrs: Seq[String],
           tieBreak: Seq[String] = Nil): DataFrame = {
    require(attrs.nonEmpty, "scd2: attrs must be non-empty")
    val ord = (col(time) +: tieBreak.map(col)).map(_.asc)
    val w = Window.partitionBy(col(key)).orderBy(ord: _*)
    val state = struct(attrs.map(col): _*)
    val changed = lag(state, 1).over(w).isNull || !(state <=> lag(state, 1).over(w))
    val changes = df
      .withColumn("__chg__", changed)
      .filter(col("__chg__"))
      .select((col(key) +: attrs.map(col) :+ col(time).as("valid_from") :+
        tieBreak.map(col).headOption.getOrElse(lit(0)).as("__tb__")): _*)
    val w2 = Window.partitionBy(col(key)).orderBy(col("valid_from").asc, col("__tb__").asc)
    changes
      .withColumn("valid_to", lead(col("valid_from"), 1).over(w2))
      .withColumn("is_current", col("valid_to").isNull)
      .withColumn("version", row_number().over(w2).cast("long"))
      .drop("__tb__")
  }

  /** Session summary: one row per (key, session) with bounds and volume. */
  def sessionize(df: DataFrame, key: String, time: String, gapSeconds: Long,
                 valueCol: Option[String] = None): DataFrame = {
    val withIds = sessionIds(df, key, time, gapSeconds)
    val base = Seq(count(lit(1)).as("n_events"),
      min(col(time)).as("session_start"), max(col(time)).as("session_end"))
    val aggs = valueCol.map(v =>
      base :+ sum(round(col(v) * 10000).cast("long")).as("value_c")).getOrElse(base)
    withIds.groupBy(col(key), col("session_id")).agg(aggs.head, aggs.tail: _*)
  }
}
