package graft

import org.apache.spark.sql.functions._
import graft.sources.{SnapCache, Snapshots}

/** The round-11 snapshot-layer contract: the manifest is an incremental
  * COMMIT LOG (deltas + periodic checkpoint rollups), commits write bytes
  * proportional to their delta, fingerprint checks read zero manifest
  * bodies, compaction discovers its output by staging (never a tree
  * walk), vacuum is log-driven, and the writer lock heartbeats its lease
  * and steals atomically. Every assertion here counts real I/O through
  * the [[Snapshots.manifestIoProbe]] / [[Snapshots.listProbe]] hooks —
  * mechanism proofs, not vibes.
  */
class ManifestLogSpec extends SparkSpec {

  import sqlImplicits._

  private def tmp(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft-mlog-$name")
    d.toFile.deleteOnExit()
    s"$d/data"
  }

  /** Run `body` with an I/O recorder installed; returns (result, events)
    * where events are (op, root, amount).
    */
  private def recordIo[A](body: => A): (A, List[(String, String, Long)]) = {
    val events = new java.util.concurrent.ConcurrentLinkedQueue[(String, String, Long)]()
    Snapshots.manifestIoProbe = (op, root, n) => events.add((op, root, n))
    val r = try body finally Snapshots.manifestIoProbe = null
    (r, events.toArray(Array.empty[(String, String, Long)]).toList)
  }

  private def manifestNames(root: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(s"$root/_snapshots")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).map(_.getPath.getName).filter(_.startsWith("v")).sorted.toSeq
  }

  test("a backfill's append commits write O(delta) bytes, not O(index)") {
    val root = tmp("odelta-bytes")
    Seq(1L).toDF("id").coalesce(1).write.parquet(root)
    Snapshots.bootstrap(spark, root)
    val perAppend = (1 to 40).map { i =>
      val (_, ev) = recordIo {
        Snapshots.appendCommit(spark, root) { staging =>
          Seq(100L + i).toDF("id").coalesce(1).write.parquet(staging)
        }
      }
      val bytes = ev.filter(_._1 == "manifest-write").map(_._3).sum
      val rollup = manifestNames(root).last.contains("-c")
      (bytes, rollup)
    }
    val deltas = perAppend.filterNot(_._2).map(_._1)
    val rollups = perAppend.filter(_._2).map(_._1)
    assert(rollups.nonEmpty, "a 40-append backfill must roll the log up")
    assert(deltas.size > 30, s"most commits must be deltas, got ${deltas.size}")
    // every identical single-file append writes the same few delta bytes —
    // the v1 format wrote the FULL list (≈ linear growth across a backfill)
    assert(deltas.max <= deltas.min * 2,
      s"delta commit bytes must not grow with index size: min ${deltas.min}, max ${deltas.max}")
    assert(deltas.max < rollups.max / 4,
      s"a delta (${deltas.max} B) must be far smaller than a checkpoint rollup (${rollups.max} B)")
    // and the log still resolves the exact tree truth
    assert(Snapshots.currentFiles(spark, root).get == Snapshots.listParquet(spark, root))
    assert(Snapshots.read(spark, root).get.count() == 41)
  }

  test("fingerprint checks and cache-hit opens read zero manifest bodies") {
    val root = tmp("fp")
    Seq((1L, 0), (2L, 1)).toDF("id", "cell").write.partitionBy("cell").parquet(root)
    Snapshots.bootstrap(spark, root)
    Snapshots.read(spark, root).get.count() // warm the SnapCache entry
    val (fp, ev) = recordIo {
      val f = Snapshots.fingerprint(spark, root)
      assert(Snapshots.read(spark, root).get.count() == 2) // cache hit
      f
    }
    assert(fp.nonEmpty)
    assert(!ev.exists(_._1 == "manifest-read"),
      s"fingerprint + cached open must read no manifest bodies, got: $ev")
    // any commit mints a fresh tag — even one that leaves the same version
    // count via an Overwrite-style reset
    Snapshots.appendCommit(spark, root) { staging =>
      Seq((3L, 0)).toDF("id", "cell").write.partitionBy("cell").parquet(staging)
    }
    assert(Snapshots.fingerprint(spark, root) != fp)
    assert(Snapshots.read(spark, root).get.count() == 3,
      "a changed fingerprint must invalidate the cached frame")
  }

  test("a warm open costs ONE manifest listing per root — never a double fingerprint") {
    // every listing is a billable LIST round trip on an object store;
    // fingerprinting and resolving through separate listings would double
    // every open's round trips, and the r11 first cut did exactly that
    // (read() fingerprinted, then SnapCache re-fingerprinted)
    val root = tmp("warm-lists")
    Seq((1L, 0), (2L, 1)).toDF("id", "cell").write.partitionBy("cell").parquet(root)
    Snapshots.bootstrap(spark, root)
    Snapshots.read(spark, root).get.count() // warm the entry
    val (_, ev) = recordIo { assert(Snapshots.read(spark, root).get.count() == 2) }
    assert(ev.count(_._1 == "manifest-list") == 1,
      s"a warm Snapshots.read must pay exactly one LIST, got: $ev")
    assert(!ev.exists(_._1 == "manifest-read"))
    // the composite ANN open (root pointer + two tiers + tombstones):
    // one listing per MANIFESTED root, zero body reads, warm
    val ann = tmp("warm-lists-ann")
    val vecs = (0L until 40L).map(i =>
      (i, Array(i.toDouble % 5 + 1, (i % 3).toDouble + 1))).toDF("id", "v")
    val cents = ext.IvfIndex.train(vecs, "id", "v", k = 3)
    ext.AnnIndex.write(ext.IvfIndex.assign(vecs, "id", "v", cents), cents, ann)
    ext.AnnIndex.open(spark, ann) // warm
    val (_, evAnn) = recordIo { ext.AnnIndex.open(spark, ann) }
    val lists = evAnn.count(_._1 == "manifest-list")
    assert(lists <= 4, s"a warm AnnIndex.open must pay at most one LIST per root, got $lists: $evAnn")
    assert(!evAnn.exists(_._1 == "manifest-read"),
      s"a warm open must read zero manifest bodies, got: $evAnn")
  }

  test("legacy v1 manifests (untagged full lists) still resolve and fingerprint") {
    val root = tmp("legacy")
    Seq(1L, 2L, 3L).toDF("id").coalesce(1).write.parquet(root)
    val files = Snapshots.listParquet(spark, root)
    val p = new org.apache.hadoop.fs.Path(s"$root/_snapshots/v000000001.txt")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(p.getParent)
    val out = fs.create(p, false)
    out.write(files.mkString("", "\n", "\n").getBytes("UTF-8")); out.close()
    assert(Snapshots.currentFiles(spark, root).contains(files))
    assert(Snapshots.read(spark, root).get.count() == 3)
    val fp = Snapshots.fingerprint(spark, root)
    assert(fp.exists(_._1 == 1L))
    // a v2 delta applies cleanly on top of the legacy checkpoint
    Snapshots.appendCommit(spark, root) { staging =>
      Seq(4L).toDF("id").coalesce(1).write.parquet(staging)
    }
    assert(Snapshots.read(spark, root).get.count() == 4)
    assert(Snapshots.fingerprint(spark, root) != fp)
  }

  test("compaction stages its rewrite and vacuums from the log — zero tree walks") {
    val root = tmp("compact-staged")
    Seq(1L, 2L).toDF("id").coalesce(1).write.parquet(root)
    Snapshots.bootstrap(spark, root)
    for (i <- 3 to 6)
      Snapshots.appendCommit(spark, root) { staging =>
        Seq(i.toLong).toDF("id").coalesce(1).write.parquet(staging)
      }
    val walked = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    Snapshots.listProbe = r => walked.add(r)
    val (was, now) = try {
      Snapshots.compactCommit(spark, root, _ => true, targetBytes = 1L << 30)
    } finally Snapshots.listProbe = null
    assert(was == 5L && now == 1L, s"compaction must collapse 5 files to 1, got $was -> $now")
    val walks = walked.toArray(Array.empty[String])
    assert(walks.forall(_.contains("_staging-")),
      s"compaction must list only its own staging tree, walked: ${walks.mkString(", ")}")
    assert(Snapshots.read(spark, root).get.count() == 6)
    // the follow-up vacuumLight (grace=1) kept the pre-compaction version;
    // one more compaction cycle retires it and deletes the replaced files
    Snapshots.vacuumLight(spark, root, grace = 0)
    assert(Snapshots.listParquet(spark, root).size == 1,
      "log-driven vacuum must delete the files the dropped versions referenced")
    assert(Snapshots.read(spark, root).get.count() == 6)
  }

  test("vacuum never drops a manifest a kept version's delta chain needs") {
    val root = tmp("chain-keep")
    Seq(1L).toDF("id").coalesce(1).write.parquet(root)
    Snapshots.bootstrap(spark, root) // v1 checkpoint
    for (i <- 2 to 5)
      Snapshots.appendCommit(spark, root) { staging => // v2..v5 deltas
        Seq(i.toLong).toDF("id").coalesce(1).write.parquet(staging)
      }
    Snapshots.vacuumLight(spark, root, grace = 1)
    // v4 and v5 are kept; both resolve only through the v1 checkpoint, so
    // v1..v3 must all survive (v1 is the base, v2..v3 are chain links)
    assert(manifestNames(root).size == 5,
      s"no manifest may be dropped while a kept delta chain needs it, have: ${manifestNames(root)}")
    assert(Snapshots.read(spark, root).get.count() == 5)
    // once a rollup checkpoint lands, older manifests become droppable
    java.lang.System.setProperty("graft.snapshot.ckpt.every", "2")
    try Snapshots.appendCommit(spark, root) { staging => // forces a rollup
      Seq(6L).toDF("id").coalesce(1).write.parquet(staging)
    } finally java.lang.System.clearProperty("graft.snapshot.ckpt.every")
    assert(manifestNames(root).last.contains("-c"), "forced rollup must be a checkpoint")
    Snapshots.vacuumLight(spark, root, grace = 0)
    assert(manifestNames(root).size == 1,
      s"after a rollup, vacuum must drop the superseded chain, have: ${manifestNames(root)}")
    assert(Snapshots.read(spark, root).get.count() == 6)
  }

  test("a reader racing a rollup+vacuum that drops its listed chain re-resolves, not dies") {
    // lock-free probes race vacuum's manifest retention: list the log,
    // then — before the chain body reads finish — a concurrent writer
    // rolls the log up and vacuum drops the listed chain. The injected
    // version of that race fires at the reader's FIRST chain read (the
    // one point between its listing and its remaining reads), which the
    // manifestIoProbe hook makes deterministic.
    val root = tmp("reader-vs-vacuum")
    Seq(1L, 2L).toDF("id").coalesce(1).write.parquet(root)
    Snapshots.bootstrap(spark, root) // v1 checkpoint
    for (i <- 3 to 5)
      Snapshots.appendCommit(spark, root) { st => // v2..v4 deltas
        Seq(i.toLong).toDF("id").coalesce(1).write.parquet(st)
      }
    val files = Snapshots.currentFiles(spark, root).get
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val snapP = new org.apache.hadoop.fs.Path(s"$root/_snapshots")
    val olds = fs.listStatus(snapP).map(_.getPath)
      .filter(_.getName.startsWith("v")).toSeq
    assert(olds.size == 4)
    val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
    Snapshots.manifestIoProbe = (op, _, _) =>
      if (op == "manifest-read" && fired.compareAndSet(false, true)) {
        // the interposed writer: one rolled-up v5 checkpoint, old chain gone
        val out = fs.create(
          new org.apache.hadoop.fs.Path(snapP, "v000000005-cfeedf00d.txt"), false)
        out.write(files.mkString("", "\n", "\n").getBytes("UTF-8")); out.close()
        olds.foreach(p => fs.delete(p, false))
      }
    val got = try Snapshots.currentFiles(spark, root)
      finally Snapshots.manifestIoProbe = null
    assert(fired.get(), "the race injection must have fired")
    assert(got.contains(files),
      "a reader whose listed chain was vacuumed away must re-resolve the fresh log")
    assert(Snapshots.read(spark, root).get.count() == 5)
  }

  test("every I/O prefix of an append or compaction is a safe crash point") {
    // the crash-safety argument ("a crash before the manifest commit
    // leaves only unreferenced files") asserted per-design in r9/r10 is
    // here swept MECHANICALLY: re-run the mutation once per I/O event,
    // killing it at that event, and require after every kill that (a)
    // readers still resolve the exact pre-mutation rows, (b) vacuum
    // reclaims the debris, and (c) a clean retry then lands the mutation
    val failAt = new java.util.concurrent.atomic.AtomicInteger(Int.MaxValue)
    final class InjectedCrash extends RuntimeException("injected crash")
    def inject(): Unit = Snapshots.manifestIoProbe = (_, _, _) =>
      if (failAt.decrementAndGet() < 0) throw new InjectedCrash
    def countEvents(body: => Unit): Int = recordIo(body)._2.size

    def freshRoot(tag: String): String = {
      val r = tmp(s"crash-sweep-$tag")
      Seq((1L, 0), (2L, 1)).toDF("id", "cell").write.partitionBy("cell").parquet(r)
      Snapshots.bootstrap(spark, r)
      r
    }
    def append(root: String): Unit =
      Snapshots.appendCommit(spark, root) { staging =>
        Seq((3L, 0), (4L, 2)).toDF("id", "cell")
          .write.partitionBy("cell").parquet(staging)
      }
    val countRoot = freshRoot("count") // outside the counter
    val nAppend = countEvents(append(countRoot))
    assert(nAppend >= 2, s"expected multiple I/O events, got $nAppend")
    for (k <- 0 until nAppend) {
      val root = freshRoot(s"a-$k")
      failAt.set(k); inject()
      val crashed =
        try { append(root); false } catch { case _: InjectedCrash => true }
      finally Snapshots.manifestIoProbe = null
      assert(crashed, s"event $k must be reachable")
      assert(Snapshots.read(spark, root).get.select("id")
        .collect().map(_.getLong(0)).toSet == Set(1L, 2L),
        s"a crash at I/O event $k of append must leave the old state readable")
      Snapshots.vacuum(spark, root, grace = 0)
      append(root) // clean retry after the crash + vacuum
      assert(Snapshots.read(spark, root).get.count() == 4,
        s"retry after a crash at event $k must land the append")
    }
    // compaction: same sweep
    def compact(root: String): Unit = {
      Snapshots.compactCommit(spark, root, _ => true, targetBytes = 1L << 30)
      ()
    }
    val cRoot = freshRoot("count-compact"); append(cRoot)
    val nCompact = countEvents(compact(cRoot))
    for (k <- 0 until nCompact) {
      val root = freshRoot(s"c-$k"); append(root)
      failAt.set(k); inject()
      try compact(root) catch { case _: InjectedCrash => () }
      finally Snapshots.manifestIoProbe = null
      val rows = Snapshots.read(spark, root).get.count()
      assert(rows == 4,
        s"a crash at I/O event $k of compaction must never lose rows, saw $rows")
      Snapshots.vacuum(spark, root, grace = 0)
      compact(root)
      assert(Snapshots.read(spark, root).get.count() == 4)
    }
  }

  test("no mutation path walks an index tree: append, compact, retrain, forget") {
    // the r10 board had ONE remaining full-tree walk on a mutation path
    // (compactCommit's before/after diff); with compaction staged, the
    // listProbe assertion can finally hold GLOBALLY across the whole index
    // lifecycle — the only recursive listings are of freshly-written
    // staging/generation trees and the O(deleted) tombstone sidecars
    val docs = (0L until 120L)
      .map(i => (i, s"alpha bravo charlie delta echo ${i % 12} tail ${i % 5}"))
      .toDF("doc_id", "text")
    val ledger = tmp("lifecycle-lsh")
    ext.LshIndex.write(docs.filter(col("doc_id") < 80), "doc_id", "text", ledger, files = 2)
    val ann = tmp("lifecycle-ann")
    val vecs = (0L until 60L).map(i =>
      (i, Array(i.toDouble % 7, (i % 3).toDouble))).toDF("id", "v")
    val cents = ext.IvfIndex.train(vecs, "id", "v", k = 4)
    ext.AnnIndex.write(ext.IvfIndex.assign(vecs, "id", "v", cents), cents, ann)

    val walked = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    Snapshots.listProbe = r => walked.add(r)
    try {
      ext.LshIndex.append(docs.filter(col("doc_id") >= 80), "doc_id", "text", ledger)
      ext.LshIndex.delete(ledger, Seq(5L).toDF("id"))
      ext.LshIndex.compact(spark, ledger)
      assert(ext.LshIndex.probePairs(spark, ledger,
        docs.filter(col("doc_id") >= 100), "doc_id", "text", 0.2).count() > 0)
      ext.AnnIndex.append(
        (60L until 70L).map(i => (i, Array(i.toDouble % 7, (i % 3).toDouble)))
          .toDF("id", "v"), "id", "v", ann)
      ext.AnnIndex.delete(ann, Seq(3L).toDF("id"))
      ext.AnnIndex.compactCell(spark, ann, cell = 0)
      ext.AnnIndex.retrain(spark, ann, k = 4)
    } finally Snapshots.listProbe = null
    val offending = walked.toArray(Array.empty[String]).filterNot(r =>
      r.contains("_staging-") || r.contains("/tombstones") || r.contains("index@g"))
    assert(offending.isEmpty,
      s"no append/compact/retrain/forget may walk an index tree, walked: ${offending.mkString(", ")}")
  }

  test("the writer lock heartbeats its lease: a live long holder is never stolen from") {
    val root = tmp("heartbeat")
    Seq(1L).toDF("id").coalesce(1).write.parquet(root)
    Snapshots.bootstrap(spark, root)
    java.lang.System.setProperty("graft.snapshot.lock.ttl.ms", "400")
    try {
      val holderDone = new java.util.concurrent.CountDownLatch(1)
      val concurrent = new java.util.concurrent.atomic.AtomicInteger(0)
      val overlap = new java.util.concurrent.atomic.AtomicInteger(0)
      def guarded[A](body: => A): A = {
        if (concurrent.incrementAndGet() > 1) overlap.incrementAndGet()
        try body finally concurrent.decrementAndGet()
      }
      val holder = new Thread(() =>
        Snapshots.withWriterLock(spark, root)(guarded {
          Thread.sleep(2000) // 5× the TTL — only the heartbeat keeps the lease
          holderDone.countDown()
        }))
      holder.start()
      Thread.sleep(200)
      // the contender spins through the whole window: with a dead lease it
      // would steal within ~TTL; with the heartbeat it must wait out the
      // full 2 s hold (its own 10 s acquisition deadline gives it room)
      val contender = new Thread(() =>
        Snapshots.withWriterLock(spark, root)(guarded(())))
      contender.start()
      holder.join(15000); contender.join(15000)
      assert(holderDone.getCount == 0, "holder must finish its long job")
      assert(overlap.get() == 0,
        "a heartbeating holder must never be stolen from, even far past the TTL")
      // a genuinely dead holder's lease IS stolen promptly (no heartbeat)
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sessionState.newHadoopConf())
      val lockP = new org.apache.hadoop.fs.Path(s"$root/_snapshots/.writer-lock")
      fs.create(lockP, false).close()
      Thread.sleep(600) // let the fake crashed lease go stale (TTL 400ms)
      val t0 = System.currentTimeMillis()
      Snapshots.withWriterLock(spark, root)(())
      assert(System.currentTimeMillis() - t0 < 5000,
        "a stale crashed lease must be stolen promptly")
    } finally java.lang.System.clearProperty("graft.snapshot.lock.ttl.ms")
  }

  test("streaming-ingest appends queue behind a long compaction and drain in order") {
    // a micro-batch ingest racing scheduled maintenance is the NORMAL
    // concurrent shape at scale: with the lock wait raised past the
    // maintenance duration, appends queue and drain — none fail, none
    // interleave, nothing is lost (the 10 s default stays the loud
    // accident-prevention stance for same-kind maintenance collisions)
    val root = tmp("ingest-vs-compact")
    Seq(1L, 2L).toDF("id").coalesce(1).write.parquet(root)
    Snapshots.bootstrap(spark, root)
    for (i <- 3 to 5)
      Snapshots.appendCommit(spark, root) { st =>
        Seq(i.toLong).toDF("id").coalesce(1).write.parquet(st)
      }
    java.lang.System.setProperty("graft.snapshot.lock.wait.ms", "60000")
    try {
      val compacting = new java.util.concurrent.CountDownLatch(1)
      val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val compactor = new Thread(() =>
        try Snapshots.compactCommit(spark, root, _ => true, targetBytes = 1L << 30,
          transform = df => { compacting.countDown(); Thread.sleep(1500); df })
        catch { case t: Throwable => errors.add(t) })
      compactor.start()
      assert(compacting.await(30, java.util.concurrent.TimeUnit.SECONDS))
      val ingesters = (6 to 8).map(i => new Thread(() =>
        try Snapshots.appendCommit(spark, root) { st =>
          Seq(i.toLong).toDF("id").coalesce(1).write.parquet(st)
        } catch { case t: Throwable => errors.add(t) }))
      ingesters.foreach(_.start())
      compactor.join(60000); ingesters.foreach(_.join(60000))
      assert(errors.isEmpty,
        s"queued ingest appends must never fail behind maintenance: ${errors.peek()}")
      assert(Snapshots.read(spark, root).get.select("id")
        .collect().map(_.getLong(0)).toSet == (1L to 8L).toSet,
        "every queued append and the compaction must land")
    } finally java.lang.System.clearProperty("graft.snapshot.lock.wait.ms")
  }

  test("stale-lock stealing is atomic: N racing stealers never overlap") {
    // the first shipped fix (bare rename-to-grave) FAILED this test under
    // full-suite timing with 4 overlaps: a waiter whose staleness verdict
    // predated the winner's fresh lock renamed THAT away. The steal mutex
    // + in-mutex re-verdict closes it; two rounds of a 12-thread race keep
    // the regression pressure on.
    val root = tmp("steal-race")
    Seq(1L).toDF("id").coalesce(1).write.parquet(root)
    Snapshots.bootstrap(spark, root)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val lockP = new org.apache.hadoop.fs.Path(s"$root/_snapshots/.writer-lock")
    for (round <- 1 to 2) {
      fs.create(lockP, false).close()
      fs.setTimes(lockP, System.currentTimeMillis() - 31L * 60 * 1000, -1)
      val concurrent = new java.util.concurrent.atomic.AtomicInteger(0)
      val overlap = new java.util.concurrent.atomic.AtomicInteger(0)
      val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val threads = (1 to 12).map(_ => new Thread(() =>
        try Snapshots.withWriterLock(spark, root) {
          if (concurrent.incrementAndGet() > 1) overlap.incrementAndGet()
          Thread.sleep(30)
          concurrent.decrementAndGet()
        } catch { case t: Throwable => errors.add(t) }))
      threads.foreach(_.start()); threads.foreach(_.join(30000))
      assert(errors.isEmpty,
        s"round $round: racing stealers must serialize, not fail: ${errors.peek()}")
      assert(overlap.get() == 0,
        s"round $round: two stealers of one stale lock must never both hold it")
    }
  }
}
