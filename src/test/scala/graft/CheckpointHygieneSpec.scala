package graft

import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.ext.{Ckpt, Graph, GraphAnn}

/** Storage hygiene of the iterative checkpoint loops: superseded
  * `localCheckpoint` frames must be FREED (their blocks unpersisted), not
  * abandoned to the block manager — the measured failure mode was k-core
  * at 30× data bending ×6.0 for ×3 input because every peeling round's
  * dead edge frame stayed resident until spill (bench/SCALEPROBE_r08).
  *
  * The assertions snapshot the persisted-RDD id set before each operator
  * (localCheckpoint persists its RDD, so every leaked frame is visible in
  * `sc.getPersistentRDDs`) and count only RDDs CREATED BY the operator
  * that are still resident after it returns — immune to the shared
  * session's ContextCleaner collecting other suites' leftovers mid-test.
  * A deep loop must leave only the O(1) frames its RESULT legitimately
  * references — never one per round.
  */
class CheckpointHygieneSpec extends SparkSpec {

  import sqlImplicits._

  private def residentIds(): Set[Int] =
    spark.sparkContext.getPersistentRDDs
      .collect { case (id, r) if r.getStorageLevel != StorageLevel.NONE => id }
      .toSet

  /** Persisted RDDs created while `body` ran and still resident after. */
  private def leakedBy[A](body: => A): (A, Int) = {
    val before = residentIds()
    val out = body
    (out, (residentIds() -- before).size)
  }

  test("Ckpt.free actually unpersists a localCheckpoint's blocks") {
    val before = residentIds()
    val df = Seq((1L, 2L), (3L, 4L)).toDF("a", "b").localCheckpoint(true)
    assert(df.count() == 2)
    assert((residentIds() -- before).size == 1,
      "an eager localCheckpoint must register exactly one persisted RDD")
    Ckpt.free(df)
    assert((residentIds() -- before).isEmpty,
      "Ckpt.free must deregister the checkpoint's persisted RDD")
  }

  test("Ckpt.free is a safe no-op on non-checkpointed frames") {
    val base = Seq((1L, 2L)).toDF("a", "b").localCheckpoint(true)
    val derived = base.select(col("a") + 1) // composite plan, not a LogicalRDD leaf
    Ckpt.free(derived)
    assert(base.count() == 1, "freeing a derived frame must not touch its parent")
    Ckpt.free(base)
  }

  /** A long path graph peels in many k-core rounds (endpoints drop one
    * layer per round) — the worst case for per-round leakage.
    */
  test("kCore: deep peeling leaves O(1) resident frames, not O(rounds)") {
    val path = (0L until 40L).map(i => (i, i + 1)).toDF("src", "dst")
    val (out, leaked) = leakedBy(Graph.kCore(path, k = 2, maxRounds = 100).collect())
    assert(out.isEmpty, "a path has no 2-core")
    // ~20 peeling rounds ran; only the final (empty) fixpoint frame may remain
    assert(leaked <= 1, s"kCore leaked $leaked checkpoints after a deep peel")
  }

  test("components: star loop frees superseded rounds") {
    val chain = (0L until 200L).map(i => (i, i + 1)).toDF("src", "dst")
    val (nComp, leaked) = leakedBy(
      Graph.components(chain, maxIter = 25)
        .select(countDistinct(col("component"))).head().getLong(0))
    assert(nComp == 1L)
    // result was consumed; at most the fixpoint frame may still be live
    assert(leaked <= 1, s"components leaked $leaked checkpoints")
  }

  test("pageRankInt / bfsHops / labelPropagation / hitsInt: bounded residue") {
    val edges = (0L until 60L).map(i => (i, (i * 7 + 1) % 60)).toDF("src", "dst")
    for ((name, run) <- Seq[(String, () => Long)](
      "pageRankInt" -> (() => Graph.pageRankInt(edges, iters = 6).count()),
      "bfsHops" -> (() => Graph.bfsHops(edges, Seq(0L).toDF("id"), maxHops = 6).count()),
      "labelPropagation" -> (() => Graph.labelPropagation(edges, iters = 6).count()),
      "hitsInt" -> (() => Graph.hitsInt(edges, iters = 4).count())
    )) {
      val (n, leaked) = leakedBy(run())
      assert(n > 0)
      // inputs (e/nodes/deg/seed frames) + at most one live round frame —
      // a fixed constant independent of the iteration count
      assert(leaked <= 4,
        s"$name leaked $leaked checkpoints after 6 rounds (bound is iteration-free)")
    }
  }

  test("Loop adapts the storage level to the measured frame size") {
    val lp = new Ckpt.Loop
    val before = residentIds()
    val small = Seq((1L, 2L), (3L, 4L)).toDF("a", "b")
    // first call: no size known yet -> the safe serialized level
    val c1 = lp.local(small)
    val id1 = (residentIds() -- before).head
    assert(spark.sparkContext.getPersistentRDDs(id1).getStorageLevel ==
      Ckpt.SER, "round 1 (unknown size) must checkpoint serialized")
    assert(lp.rows == 2)
    // second call: 2 rows << DeserMaxRows -> deserialized
    val c2 = lp.local(c1.select(col("a") + 1 as "a", col("b")))
    Ckpt.free(c1)
    val id2 = (residentIds() -- before).head
    assert(spark.sparkContext.getPersistentRDDs(id2).getStorageLevel ==
      StorageLevel.MEMORY_AND_DISK,
      "a frame measured under the ceiling must checkpoint deserialized")
    Ckpt.free(c2)
  }

  test("Loop growth guard: an expanding frontier re-levels BEFORE it bursts the ceiling") {
    // a doubling frontier with a 1000-row ceiling: the r10 chooser trusted
    // the PREVIOUS round's count alone, so the round that crossed from
    // just-under-ceiling to far-above unrolled deserialized — the exact
    // OOM mode the serialized default exists to prevent. The guard scales
    // by the worst observed growth, so the burst round checkpoints
    // serialized even though its PREDECESSOR was still under the ceiling.
    val lp = new Ckpt.Loop(deserMaxRows = 1000L)
    def frame(n: Int) = spark.range(n.toLong).toDF("id")
    var cur = lp.local(frame(100)) // round 1: unknown size -> SER
    assert(lp.lastLevel == Ckpt.SER)
    for (n <- Seq(200, 400, 800)) { // doubling, still under guard*ceiling
      val next = lp.local(frame(n)); Ckpt.free(cur); cur = next
    }
    assert(lp.lastLevel == StorageLevel.MEMORY_AND_DISK,
      "under ceiling/growth the loop must keep the fast deserialized level")
    assert(lp.growth >= 2.0, "the doubling must be observed")
    // burst round: previous count 800 <= 1000, but 800 * growth 2 > 1000
    val burst = lp.local(frame(1600)); Ckpt.free(cur); cur = burst
    assert(lp.lastLevel == Ckpt.SER,
      "a frame whose history says it can burst past the ceiling must checkpoint SERIALIZED")
    Ckpt.free(cur)
    // a shrinking loop (k-core shape) never observes growth > 1, so the
    // r10 measured deserialized win is untouched
    val shrink = new Ckpt.Loop(deserMaxRows = 1000L)
    var s = shrink.local(frame(900)) // round 1: SER (unknown)
    for (n <- Seq(800, 700, 600)) {
      val next = shrink.local(frame(n)); Ckpt.free(s); s = next
      assert(shrink.lastLevel == StorageLevel.MEMORY_AND_DISK,
        s"a shrinking $n-row frame under the ceiling must stay deserialized")
    }
    Ckpt.free(s)
  }

  test("the unpersist-warn silencer is a message filter, not a level override") {
    assert(Ckpt.quietUnpersistWarnInstalled, "filter install must succeed on log4j2")
    // r9 pinned a dedicated ERROR-level LoggerConfig on MapPartitionsRDD,
    // swallowing every WARN the class emits for any co-resident workload
    // AND detaching it from later level changes. The fix attaches a
    // message-keyed DENY filter to the inherited config node instead —
    // so no per-class config node may exist, and the handling node must
    // carry a filter.
    val ctx = org.apache.logging.log4j.LogManager.getContext(false)
      .asInstanceOf[org.apache.logging.log4j.core.LoggerContext]
    val lc = ctx.getConfiguration
      .getLoggerConfig("org.apache.spark.rdd.MapPartitionsRDD")
    assert(lc.getName != "org.apache.spark.rdd.MapPartitionsRDD",
      "no per-class level override may exist — levels must stay inherited")
    assert(lc.getFilter != null,
      "the handling config node must carry the lineage-message DENY filter")
  }

  test("Bpe.learn: merge loop frees every superseded dictionary state") {
    val docs = Seq(
      (1L, "aa ab aab aab banana bandana"),
      (2L, "banana banana bandana aa aa ab")).toDF("id", "text")
    val (merges, leaked) = leakedBy(graft.ext.Bpe.learn(docs, "text", nMerges = 12))
    assert(merges.nonEmpty)
    assert(leaked == 0,
      s"Bpe.learn leaked $leaked dictionary checkpoints " +
        "(result is a driver Seq — nothing may stay resident)")
  }

  test("graphAnn beam search: bounded residue across rounds") {
    val rnd = new scala.util.Random(7)
    val data = (0L until 80L).map(i =>
      (i, Array.fill(8)(rnd.nextDouble()))).toDF("id", "emb")
    val graph = (0L until 80L).flatMap(i =>
      Seq((i, (i + 1) % 80), (i, (i + 13) % 80))).toDF("src", "dst")
    val queries = (0L until 5L).map(i =>
      (i, Array.fill(8)(rnd.nextDouble()))).toDF("id", "emb")
    val (n, leaked) = leakedBy(
      GraphAnn.topK(data, graph, queries, "id", "emb",
        k = 3, ef = 6, rounds = 4, nSeeds = 4).count())
    assert(n > 0)
    assert(leaked <= 2, s"beamSearch leaked $leaked beam checkpoints")
  }
}
