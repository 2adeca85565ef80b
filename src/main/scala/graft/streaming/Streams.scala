package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming over the events table shape. The reference is
  * batch-only (SURVEY §2.4) — this is a deliberate extension: the same
  * transforms run identically over `read` (batch backfill) and
  * `readStream` (live), which is the Spark-native way to keep one codebase
  * for both.
  */
object Streams {

  case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                   event_type: String, value: Double, props: String)

  case class UserSession(user_id: Long, session_start: java.sql.Timestamp,
                         session_end: java.sql.Timestamp, n_events: Long,
                         total_value: Double)

  case class AsofEvent(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                       event_type: String, value_c: Long)

  case class AsofOut(user_id: Long, view_id: Long, view_ts: java.sql.Timestamp,
                     src_id: Option[Long], src_value_c: Option[Long])

  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  def readEventStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(eventSchema).parquet(dir)

  /** Tumbling-window aggregation with a watermark: counts + value sums per
    * (hour, event_type). Append-mode compatible; state is bounded by the
    * watermark. Works on batch frames too (window() is the same function).
    */
  def windowedAgg(events: DataFrame,
                  watermark: String = "10 minutes",
                  windowLen: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value")).as("total_value"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("event_type"), col("n_events"), col("total_value"))

  /** Streaming exact dedup: drop duplicate keys arriving within the
    * watermark window — the streaming face of Dedup.exactDedup; state is
    * bounded by the watermark (the only way unbounded-stream dedup can
    * work at scale).
    */
  def dedupWithinWatermark(events: DataFrame, keys: Seq[String],
                           watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)

  /** Stream-stream interval join: match each left event to right events of
    * the same key arriving within [0, maxDelay] AFTER it. Both sides carry
    * watermarks, so join state is bounded — Spark can discard a buffered
    * left row once the right watermark passes leftTime + maxDelay (the
    * only way an unbounded stream-stream join survives at scale). The
    * same expression joins two batch frames identically.
    *
    * Column contract: `left`/`right` must already be projected to disjoint
    * names, with the key columns `leftKey`/`rightKey` and event-time
    * columns `leftTime`/`rightTime` (watermarks applied by this method).
    */
  def intervalJoin(left: DataFrame, right: DataFrame,
                   leftKey: String, rightKey: String,
                   leftTime: String, rightTime: String,
                   maxDelay: String, watermark: String = "1 hour"): DataFrame =
    left.withWatermark(leftTime, watermark)
      .join(right.withWatermark(rightTime, watermark),
        col(leftKey) === col(rightKey) &&
          col(rightTime) >= col(leftTime) &&
          col(rightTime) <= col(leftTime) + expr(s"INTERVAL $maxDelay"),
        "inner")

  /** Event-time session windows via the native `session_window` function —
    * the declarative face of [[sessionize]]: the session-window state store
    * merges overlapping [ts, ts+gap) windows, the watermark bounds state
    * and finalizes sessions in append mode. Identical semantics on batch
    * frames (same function, no state store).
    *
    * Gap boundary (pinned by StreamingSpec): an event EXACTLY `gap` after
    * the previous one still MERGES — a new session needs the silence to
    * strictly exceed the gap, the same rule as the batch
    * [[graft.ext.Relational.sessionIds]] (`gap > threshold`).
    * `session_end` is the window end = last event + gap (not the last
    * event time).
    */
  def sessionWindowAgg(events: DataFrame, gap: String = "30 minutes",
                       watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"),
        sum(round(col("value") * 10000).cast("long")).as("value_c"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"), col("value_c"))

  /** Custom stateful op: gap-based sessionization per user via
    * flatMapGroupsWithState (the mapGroupsWithState family — the engine's
    * escape hatch for state machines Spark's windows can't express).
    * Emits a session when `gapMinutes` of silence passes (event-time via
    * timeout on processing in this simple form).
    */
  def sessionize(events: Dataset[Event], gapMinutes: Int)
                (implicit spark: SparkSession): Dataset[UserSession] = {
    import spark.implicits._
    val gapMs = gapMinutes * 60 * 1000L

    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[List[Event], UserSession](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, it: Iterator[Event], state: GroupState[List[Event]]) =>
          // batch mode: all of a user's events arrive in one invocation —
          // sort by time and split on gaps; streaming mode accumulates in
          // state between micro-batches.
          val all = (state.getOption.getOrElse(Nil) ++ it.toList).sortBy(_.ts.getTime)
          if (all.isEmpty) Iterator.empty
          else {
            val sessions = scala.collection.mutable.ListBuffer.empty[List[Event]]
            var current = scala.collection.mutable.ListBuffer(all.head)
            all.tail.foreach { e =>
              if (e.ts.getTime - current.last.ts.getTime > gapMs) {
                sessions += current.toList
                current = scala.collection.mutable.ListBuffer(e)
              } else current += e
            }
            sessions += current.toList
            state.update(Nil)
            sessions.iterator.map { es =>
              UserSession(userId, es.head.ts, es.last.ts, es.length.toLong,
                es.map(_.value).sum)
            }
          }
      }
  }

  /** Streaming AS-OF enrichment via flatMapGroupsWithState: each view
    * is joined to the most recent purchase STRICTLY BEFORE it in the
    * per-user (ts, event_id) order — the streaming form of
    * Relational.asofJoin, with the carried dimension living in the
    * state store instead of a sorted shuffle. State per key is ONE
    * carry row (the latest purchase), so the store is O(#users)
    * regardless of event volume — the bounded-state discipline every
    * stream op here follows.
    *
    * Ordering contract (same as sessionize): within a micro-batch any
    * arrival order is fine (the group's slice is sorted in the state
    * function); across micro-batches the carry assumes per-key
    * event-time-monotone arrival, which AvailableNow over a static
    * source satisfies. A late purchase would need a watermark-buffered
    * variant; the point here is the carry state machine itself.
    */
  def asofEnrich(events: Dataset[AsofEvent])
                (implicit spark: SparkSession): Dataset[AsofOut] = {
    import spark.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[AsofEvent, AsofOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, it: Iterator[AsofEvent], state: GroupState[AsofEvent]) =>
          val sorted = it.toList.sortBy(e => (e.ts.getTime, e.event_id))
          var carry = state.getOption
          val out = scala.collection.mutable.ListBuffer.empty[AsofOut]
          sorted.foreach { e =>
            if (e.event_type == "view")
              out += AsofOut(userId, e.event_id, e.ts,
                carry.map(_.event_id), carry.map(_.value_c))
            else if (e.event_type == "purchase")
              carry = Some(e)
          }
          carry.foreach(state.update)
          out.iterator
      }
  }

  /** One observation for the streaming HMM forward filter. */
  case class HmmEvent(event_id: Long, ts: java.sql.Timestamp,
                      user_id: Long, obs: Long)

  /** Per-user posterior snapshot after a micro-batch. */
  case class HmmSnapshot(user_id: Long, n_events: Long,
                         p_engaged_micro: Long, is_engaged: Boolean)

  /** Streaming 2-state HMM forward filter via flatMapGroupsWithState:
    * ev_hmm's integer fold with the BIGINT-encoded probability pair
    * living in the state store — state per key is ONE (enc, count)
    * pair, so the store is O(#users) at any event volume (the
    * bounded-state discipline every stream op here follows). Each
    * micro-batch sorts its per-user slice by (ts, event_id), folds it
    * through graft.families.Shared.hmmStepInt — the SAME recurrence the batch
    * query and the DuckDB oracle run — and emits one updated snapshot;
    * the last snapshot per user therefore equals the batch fold
    * exactly. Ordering contract across batches is asofEnrich's:
    * per-key event-time-monotone arrival.
    */
  def hmmForward(events: Dataset[HmmEvent])
                (implicit spark: SparkSession): Dataset[HmmSnapshot] = {
    import spark.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, Long), HmmSnapshot](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, it: Iterator[HmmEvent], state: GroupState[(Long, Long)]) =>
          val sorted = it.toList.sortBy(e => (e.ts.getTime, e.event_id))
          var (enc, n) = state.getOption.getOrElse((graft.families.Shared.hmmInit, 0L))
          sorted.foreach { e => enc = graft.families.Shared.hmmStepInt(enc, e.obs); n += 1 }
          if (sorted.isEmpty) Iterator.empty
          else {
            state.update((enc, n))
            Iterator.single(HmmSnapshot(userId, n, enc % 10000000L,
              enc % 10000000L >= 500000L))
          }
      }
  }

  /** Streaming keyed upsert into a parquet "table" via foreachBatch —
    * the maintenance pattern behind every streaming silver table
    * (Delta MERGE re-expressed on plain parquet): per micro-batch,
    * merge the batch against the current table snapshot keeping the
    * HIGHEST `seqCol` per key (monotone upsert), then a checked
    * swap-by-rename.
    *
    * Exactly-once story: foreachBatch can replay a batch after a crash
    * (at-least-once delivery), but the merge is IDEMPOTENT and
    * MONOTONE — replaying any batch, in any order, can never regress a
    * key to an older sequence (max-by-seq is commutative/associative/
    * idempotent), which upgrades the sink to effective exactly-once even
    * under out-of-order redelivery. Ties on (key, seq) break by a
    * replay-stable full-row hash. StreamingUpsertSpec replays a batch to
    * prove it; the stream_recovery driver query crash-restarts a real
    * checkpointed stream over it.
    *
    * Scale shape: one shuffle per batch on the key for the merge join;
    * the snapshot re-read is the plain-parquet cost (a table format with
    * file-level pruning turns it into a targeted rewrite — the pattern,
    * not the format, is what's shown here).
    */
  def upsertSink(tableDir: String, keyCols: Seq[String], seqCol: String)
                (batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val dir = new java.io.File(tableDir)
    recoverSwap(tableDir)
    // tie-break beyond seqCol: two rows sharing (key, seq) in one batch
    // must pick the SAME winner on a post-crash replay, or idempotence
    // breaks — a content hash of the full row is replay-stable
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*)
      .orderBy(col(seqCol).desc,
        xxhash64(batch.columns.map(col).toIndexedSeq: _*).desc)
    val latestInBatch = batch
      .withColumn("__rn__", row_number().over(w))
      .filter(col("__rn__") === 1).drop("__rn__")
    val merged =
      if (!dir.exists()) latestInBatch
      else {
        // monotone merge: current ∪ batch, keep the max-seq row per key —
        // an out-of-order (or replayed) batch can never regress the table
        spark.read.parquet(tableDir)
          .unionByName(latestInBatch)
          .withColumn("__rn__", row_number().over(w))
          .filter(col("__rn__") === 1).drop("__rn__")
      }
    val tmp = tableDir + s".tmp-$batchId"
    merged.write.mode("overwrite").parquet(tmp)
    // swap: parquet dirs are immutable once written; rename is the commit.
    // The swap is two renames, not one atomic step — each result is
    // CHECKED (a silent false would leave the table missing/stale while
    // the sink reports success), and recoverSwap() above rolls a
    // half-completed swap forward/back on the next batch after a crash.
    val old = new java.io.File(tableDir + s".old-$batchId")
    if (dir.exists() && !dir.renameTo(old))
      throw new java.io.IOException(s"upsertSink: rename $dir -> $old failed")
    if (!new java.io.File(tmp).renameTo(dir))
      throw new java.io.IOException(s"upsertSink: rename $tmp -> $dir failed")
    if (old.exists()) rmTree(old)
  }

  private def rmTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rmTree)); f.delete()
  }

  /** Crash recovery for the two-rename swap: if the process died between
    * `table -> table.old-N` and `table.tmp-N -> table`, the table dir is
    * missing. Roll FORWARD when the fully-written tmp for the same batch
    * exists (the merge result was durable), otherwise roll BACK to the
    * old snapshot. Stale tmp/old dirs from completed swaps are dropped —
    * foreachBatch will redeliver their batch anyway (idempotent merge).
    */
  private def recoverSwap(tableDir: String): Unit = {
    val table = new java.io.File(tableDir)
    val parent = Option(table.getParentFile).getOrElse(new java.io.File("."))
    val name = table.getName
    val leftovers = Option(parent.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith(name + ".tmp-") || f.getName.startsWith(name + ".old-"))
    if (!table.exists()) {
      // a stray non-numeric suffix (editor droppings, partial copies) must
      // not wedge every subsequent batch with NumberFormatException —
      // ignore it; only parseable batch ids participate in recovery
      val byBatch = leftovers
        .filter(f => scala.util.Try(f.getName.split("-").last.toLong).isSuccess)
        .groupBy(_.getName.split("-").last)
      // prefer the highest batch id that left a complete artifact behind
      byBatch.toSeq.sortBy(-_._1.toLong).headOption.foreach { case (_, fs) =>
        val tmp = fs.find(_.getName.contains(".tmp-"))
        val old = fs.find(_.getName.contains(".old-"))
        val src = tmp.orElse(old).get
        if (!src.renameTo(table))
          throw new java.io.IOException(s"upsertSink recovery: rename $src -> $table failed")
      }
    }
    // anything still lying around belongs to a completed (or rolled) swap
    Option(parent.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith(name + ".tmp-") || f.getName.startsWith(name + ".old-"))
      .foreach(rmTree)
  }
}
