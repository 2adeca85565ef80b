package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Storage hygiene for iterative `localCheckpoint(true)` loops.
  *
  * Every eager local checkpoint persists its rows in the block manager
  * (MEMORY_AND_DISK) and NOTHING frees them until the RDD is
  * garbage-collected and the ContextCleaner runs — so a peeling loop that
  * checkpoints a new edge frame per round holds rounds×|edges| of
  * superseded blocks. At fixed heap that is exactly the measured
  * superlinear bend on deep fixpoints (k-core at 30× data grew ×6.0 for
  * ×3 input while its non-iterative neighbors stayed near-linear): the
  * dead rounds crowd out the live one and everything spills.
  *
  * `Dataset.unpersist` CANNOT fix this — it only uncaches CacheManager
  * entries, and checkpoint blocks never enter the CacheManager. The
  * checkpointed frame's analyzed plan is a single [[LogicalRDD]] leaf
  * whose `rdd` IS the persisted RDD, so [[free]] unpersists that
  * directly (non-blocking — the loop should not stall on block removal).
  *
  * Contract: call [[free]] on a frame ONLY after every consumer of it
  * has materialized — i.e. after the next round's eager checkpoint (or a
  * terminal action) returned. The standard loop shape is:
  * {{{
  *   var cur = seed.localCheckpoint(true)
  *   while (...) {
  *     val next = step(cur).localCheckpoint(true) // eager: fully built
  *     Ckpt.free(cur)                             // cur now superseded
  *     cur = next
  *   }
  *   cur // the ONE live frame the caller consumes
  * }}}
  * which bounds resident checkpoint state to O(1) frames instead of
  * O(rounds).
  */
object Ckpt {

  /** Storage level for iterative-loop checkpoints:
    * MEMORY_AND_DISK_SER, not the deserialized default. Serialized blocks
    * are several × smaller (binary rows vs boxed object graphs) and their
    * unroll accounting is byte-accurate, so an oversized partition SPILLS
    * instead of OOMing the executor — measured at 30× data, where the
    * deserialized default died unrolling a fan-out burst as values
    * (OutOfMemoryError in BufferedRowIterator.append during
    * putIteratorAsValues) once the freed store left room to unroll into.
    * The price is a cheap per-consumer deserialize of ids-only rows.
    */
  val SER: org.apache.spark.storage.StorageLevel =
    org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER

  /** Eager serialized local checkpoint — the loop-state variant every
    * iterative operator here uses (pair with [[free]] on supersession).
    * Deliberately NOT `localCheckpoint(true, SER)`: the eager two-arg
    * path materializes measurably slower than the classic
    * checkpoint-then-count shape (+25% on a 12 M-edge k-core at sf1), so
    * this marks the checkpoint lazily with the serialized level and
    * forces it with the same `count()` the one-arg eager path uses.
    */
  def local(df: DataFrame): DataFrame = {
    val ck = df.localCheckpoint(false, SER)
    ck.count()
    ck
  }

  /** `df.localCkpt()` — chainable form of [[local]]. */
  implicit class CkptOps(private val df: DataFrame) extends AnyVal {
    def localCkpt(): DataFrame = Ckpt.local(df)
  }

  /** Row ceiling under which [[Loop]] checkpoints DESERIALIZED
    * (MEMORY_AND_DISK): loop frames here are ids-only rows of a few
    * boxed longs (~100 B each resident), so 32 M rows is ~3 GiB — safe
    * against the 16 GiB bench heap even if the next round's frame bursts
    * a couple ×, while the measured serialized-level tax on mid-scale
    * iterative graph ops is 20–60 % (g_kcore 40.1 s deserialized vs
    * 64.1 s serialized at sf1, same-day A/B — SCALE.md §10d). The bound
    * is calibrated against both measured endpoints: the sf1 k-core frame
    * is ~24 M rows (12 M edges symmetrized) and must fall BELOW it to
    * recover the deserialized speed, while the 30×-scale ~72 M-row
    * frames whose value-unroll reproducibly OOMed the r8 heap must stay
    * ABOVE it (2.2× margin). Above the ceiling the loop pays the
    * serialized tax for byte-accurate unroll accounting that SPILLS
    * instead of OOMing.
    */
  val DeserMaxRows: Long = 32000000L

  /** Size-adaptive checkpoint handle for ONE recurring loop frame: the
    * materializing count() every eager checkpoint already pays is fed
    * back as the level chooser for the NEXT round — deserialized while
    * the frame stays under [[DeserMaxRows]], serialized above (or before
    * any size is known). Use one Loop per recurring frame variable — mixing
    * frames of different sizes through one handle would let a big
    * frame's count mis-level a small one.
    *
    * GROWTH GUARD (r10 verdict): the one-round lag means the level for
    * round N+1 is chosen from round N's count, and a frame that EXPLODES
    * through the ceiling in one round (a BFS frontier on a power-law
    * graph) would otherwise unroll deserialized — the exact OOM mode the
    * serialized default exists to prevent. The guard scales the observed
    * size by the loop's own worst inter-round growth ratio before
    * comparing against the ceiling, so once a frontier has EVER doubled,
    * a just-under-ceiling frame is no longer trusted to stay under it.
    * Shrinking and constant-size loops (k-core peel, PageRank ranks)
    * never observe growth > 1, so their measured deserialized speed is
    * untouched (the sf1 k-core 48.0 s A/B of r10 holds). Residual risk,
    * documented rather than papered over: the FIRST burst of a
    * never-before-grown loop is still chosen from stale size — a fixed
    * conservative multiplier would close that at the cost of re-paying
    * the 20–60 % serialized tax on every mid-scale shrinking loop, the
    * exact regression r10's calibration removed; DeserMaxRows itself
    * keeps a measured 2.2× margin below the known-OOM endpoint for the
    * small first-burst overshoots.
    */
  final class Loop(deserMaxRows: Long = DeserMaxRows) {
    private var lastRows: Long = -1L
    private var maxGrowth: Double = 1.0
    private var level: org.apache.spark.storage.StorageLevel = SER
    def local(df: DataFrame): DataFrame = {
      val lvl =
        if (lastRows < 0 || lastRows * math.max(1.0, maxGrowth) > deserMaxRows) SER
        else org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      level = lvl
      val ck = df.localCheckpoint(false, lvl)
      val n = ck.count()
      if (lastRows > 0L && n > lastRows)
        maxGrowth = math.max(maxGrowth, n.toDouble / lastRows)
      lastRows = n
      ck
    }
    /** Rows of the frame this handle last checkpointed (-1 before any). */
    def rows: Long = lastRows
    /** Level the last [[local]] call used (spec hook). */
    private[graft] def lastLevel: org.apache.spark.storage.StorageLevel = level
    /** Worst observed inter-round growth ratio (spec hook). */
    private[graft] def growth: Double = maxGrowth
  }

  // Unpersisting a locally-checkpointed RDD logs a WARN per call ("its
  // lineage has been truncated and cannot be recomputed after
  // unpersisting") — correct in general, but freeing a SUPERSEDED round is
  // exactly the case where recomputation is never wanted, and a deep loop
  // would emit hundreds of them. Deny just that MESSAGE with a regex
  // filter on the logger config — NOT a level override, which would
  // swallow every other WARN that class emits for any co-resident Spark
  // workload (r9 ADVICE). Best-effort — a host app with a different
  // logging stack is untouched.
  private[graft] val quietUnpersistWarnInstalled: Boolean =
    try {
      import org.apache.logging.log4j.LogManager
      import org.apache.logging.log4j.core.{Filter, LoggerContext}
      import org.apache.logging.log4j.core.filter.RegexFilter
      val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
      val cfg = ctx.getConfiguration
      val name = "org.apache.spark.rdd.MapPartitionsRDD"
      val filter = RegexFilter.createFilter(
        ".*lineage has been truncated and cannot be recomputed.*",
        null, java.lang.Boolean.FALSE, Filter.Result.DENY, Filter.Result.NEUTRAL)
      // attach to the config node that HANDLES this logger (usually the
      // root) rather than creating a per-class node: a created node would
      // pin a level and stop inheriting later level changes
      // (sc.setLogLevel). The filter is keyed on the message text — which
      // only RDD.unpersist emits — so the broader attachment point denies
      // nothing else.
      cfg.getLoggerConfig(name).addFilter(filter)
      ctx.updateLoggers()
      true
    } catch { case _: Throwable => false }

  /** Unpersist the block-manager storage behind an eagerly
    * localCheckpointed frame. No-op (and safe) on frames that are not
    * checkpoint results — only a top-level [[LogicalRDD]] leaf is freed,
    * never storage reachable through a composite plan, so a mistaken
    * call on a derived frame cannot yank blocks out from under it.
    */
  def free(df: DataFrame): Unit = df.queryExecution.analyzed match {
    case lr: LogicalRDD => lr.rdd.unpersist(blocking = false)
    case _              => ()
  }

  /** [[free]] over a previous-frame slot that may not be filled yet —
    * the common `var prev: DataFrame = null` loop bookkeeping.
    */
  def freeIfSet(df: DataFrame): Unit = if (df != null) free(df)
}
