package graft

import org.apache.spark.sql.functions._
import graft.ext.LshIndex
import graft.sources.Snapshots

/** The snapshot/manifest layer that makes index maintenance
  * object-store-safe: readers resolve one atomic manifest file instead of
  * listing directories, so compaction has NO window where a concurrent
  * probe can fail or see a partial file set (the round-8 two-rename swap
  * had exactly that window, and used local-only java.io renames). All
  * filesystem access goes through the Hadoop FileSystem API.
  */
class SnapshotsSpec extends SparkSpec {

  import sqlImplicits._

  private def tmp(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft-snap-$name")
    d.toFile.deleteOnExit()
    s"$d/data"
  }

  test("bootstrap + read resolve the manifest; partition columns survive") {
    val root = tmp("basic")
    Seq((1L, 0), (2L, 0), (3L, 1)).toDF("id", "cell")
      .write.partitionBy("cell").parquet(root)
    val files = Snapshots.bootstrap(spark, root)
    assert(files.nonEmpty && files.forall(_.startsWith("cell=")))
    assert(Snapshots.currentVersion(spark, root).contains(1L))
    val df = Snapshots.read(spark, root).get
    assert(df.columns.toSet == Set("id", "cell"), "basePath must keep the hive column")
    assert(df.count() == 3)
    // partition pruning still works through the explicit file list
    val pruned = df.filter(col("cell") === 0)
    assert(pruned.count() == 2)
    val (sel, tot) = graft.sources.Layout.prunedPartitions(pruned)
    assert(sel < tot, s"cell filter must prune partitions, got $sel of $tot")
  }

  test("appendCommit adds files to the live set; commit bumps the version") {
    val root = tmp("append")
    Seq(1L, 2L).toDF("id").write.parquet(root)
    Snapshots.bootstrap(spark, root)
    val n0 = Snapshots.currentFiles(spark, root).get.size
    Snapshots.appendCommit(spark, root) { staging =>
      Seq(3L, 4L).toDF("id").write.parquet(staging)
    }
    assert(Snapshots.currentVersion(spark, root).contains(2L))
    assert(Snapshots.currentFiles(spark, root).get.size > n0)
    assert(Snapshots.read(spark, root).get.count() == 4)
  }

  test("appendCommit never lists the index tree — O(delta), not O(index)") {
    val root = tmp("odelta")
    Seq(1L, 2L).toDF("id").write.parquet(root)
    Snapshots.bootstrap(spark, root)
    val listed = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    Snapshots.listProbe = p => listed.add(p)
    try Snapshots.appendCommit(spark, root) { staging =>
      Seq(3L, 4L).toDF("id").write.parquet(staging)
    } finally Snapshots.listProbe = null
    val walks = listed.toArray(Array.empty[String])
    assert(walks.forall(_.contains("_staging-")),
      s"append must only list its own staging dir, walked: ${walks.mkString(", ")}")
    assert(Snapshots.read(spark, root).get.count() == 4)
  }

  test("appendCommit lands hive-partitioned files in their flat cell dirs") {
    val root = tmp("hive-append")
    Seq((1L, 0), (2L, 1)).toDF("id", "cell")
      .write.partitionBy("cell").parquet(root)
    Snapshots.bootstrap(spark, root)
    Snapshots.appendCommit(spark, root) { staging =>
      Seq((3L, 0), (4L, 2)).toDF("id", "cell")
        .write.partitionBy("cell").parquet(staging)
    }
    val files = Snapshots.currentFiles(spark, root).get
    assert(files.forall(_.matches("""cell=\d+/[^/]+""")),
      s"appended files must move into the flat hive layout, got: $files")
    val df = Snapshots.read(spark, root).get
    assert(df.count() == 4)
    val pruned = df.filter(col("cell") === 0)
    assert(pruned.count() == 2)
    val (sel, tot) = graft.sources.Layout.prunedPartitions(pruned)
    assert(sel < tot, s"cell filter must prune partitions after append, got $sel of $tot")
  }

  test("a crashed append's staging tree is invisible and vacuumed") {
    val root = tmp("crash-staging")
    Seq(1L, 2L).toDF("id").write.parquet(root)
    Snapshots.bootstrap(spark, root)
    // simulate an append that wrote its staging files, then died pre-move
    val stray = s"$root/_staging-dead"
    Seq(99L).toDF("id").write.parquet(stray)
    assert(Snapshots.read(spark, root).get.count() == 2,
      "staged-but-uncommitted files must be invisible to readers")
    assert(!Snapshots.listParquet(spark, root).exists(_.contains("_staging")),
      "hidden staging trees must not appear in directory listings")
    Snapshots.vacuum(spark, root, grace = 0)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(!fs.exists(new org.apache.hadoop.fs.Path(stray)),
      "vacuum must clear crashed staging trees")
    assert(Snapshots.read(spark, root).get.count() == 2)
  }

  test("the writer lock serializes maintenance, is re-entrant, steals stale locks") {
    val root = tmp("lock")
    Seq(1L, 2L).toDF("id").write.parquet(root)
    Snapshots.bootstrap(spark, root)
    // serialization: a second appendCommit waits for the first to finish
    val firstHolds = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    val order = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val t1 = new Thread(() =>
      Snapshots.appendCommit(spark, root) { staging =>
        firstHolds.countDown()
        release.await(30, java.util.concurrent.TimeUnit.SECONDS)
        order.add("first")
        Seq(3L).toDF("id").write.parquet(staging)
      })
    t1.start()
    assert(firstHolds.await(30, java.util.concurrent.TimeUnit.SECONDS))
    val t2 = new Thread(() =>
      Snapshots.appendCommit(spark, root) { staging =>
        order.add("second")
        Seq(4L).toDF("id").write.parquet(staging)
      })
    t2.start()
    Thread.sleep(300) // give t2 time to (wrongly) enter if the lock leaked
    release.countDown()
    t1.join(30000); t2.join(30000)
    assert(order.toArray.toList == List("first", "second"),
      s"concurrent maintenance must serialize on the writer lock, got $order")
    assert(Snapshots.read(spark, root).get.count() == 4)
    // re-entrancy: compactCommit vacuums inside its own lock without deadlock
    Snapshots.compactCommit(spark, root, _ => true, targetBytes = 1L << 30)
    assert(Snapshots.read(spark, root).get.count() == 4)
    // stale-lock takeover: a lock left by a crashed holder is stolen once
    // older than the TTL (mtime back-dated past it)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val lockP = new org.apache.hadoop.fs.Path(s"$root/_snapshots/.writer-lock")
    fs.create(lockP, false).close()
    fs.setTimes(lockP, System.currentTimeMillis() - 31L * 60 * 1000, -1)
    Snapshots.appendCommit(spark, root) { staging =>
      Seq(5L).toDF("id").write.parquet(staging)
    }
    assert(Snapshots.read(spark, root).get.count() == 5,
      "a stale crashed lock must be stolen, not block maintenance forever")
    // a FRESH foreign lock blocks loudly instead of racing
    fs.create(lockP, false).close()
    val ex = intercept[IllegalArgumentException] {
      Snapshots.appendCommit(spark, root)(_ => ())
    }
    assert(ex.getMessage.contains("writer lock busy"))
    fs.delete(lockP, false)
  }

  test("orphan files from a crashed maintenance job are invisible, then vacuumed") {
    val root = tmp("crash")
    Seq(1L, 2L, 3L).toDF("id").write.parquet(root)
    Snapshots.bootstrap(spark, root)
    // simulate a compaction that wrote files + a temp manifest, then died
    Seq(99L, 98L).toDF("id")
      .write.mode(org.apache.spark.sql.SaveMode.Append).parquet(root)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val tmpManifest = new org.apache.hadoop.fs.Path(s"$root/_snapshots/.tmp-crashed")
    val out = fs.create(tmpManifest, false); out.write("junk\n".getBytes); out.close()
    // readers resolve the committed manifest — the orphan rows don't exist
    assert(Snapshots.read(spark, root).get.count() == 3,
      "uncommitted files must be invisible to readers")
    val removed = Snapshots.vacuum(spark, root, grace = 0)
    assert(removed >= 1, "vacuum must delete the unreferenced orphan files")
    assert(!fs.exists(tmpManifest), "vacuum must clear crashed temp manifests")
    assert(Snapshots.read(spark, root).get.count() == 3)
  }

  test("vacuum grace keeps the previous version's files readable") {
    val root = tmp("grace")
    Seq(1L, 2L, 3L, 4L).toDF("id").repartition(4).write.parquet(root)
    Snapshots.bootstrap(spark, root)
    val v1Files = Snapshots.filesAt(spark, root, 1L).map(f => s"$root/$f")
    Snapshots.compactCommit(spark, root, _ => true, targetBytes = 1L << 30)
    assert(Snapshots.currentVersion(spark, root).contains(2L))
    // grace=1 (the compactCommit default): v1's files are still on disk
    assert(spark.read.parquet(v1Files: _*).count() == 4,
      "an in-flight reader of the previous version must still succeed")
  }

  test("probes during compaction never fail and see old-or-new, never partial") {
    val root = tmp("concurrent")
    val docs = (0L until 300L)
      .map(i => (i, s"alpha bravo charlie delta echo ${i % 30} tail ${i % 7}"))
      .toDF("doc_id", "text")
    LshIndex.write(docs.filter(col("doc_id") < 200), "doc_id", "text", root, files = 2)
    for (r <- 0 until 3) // accumulate append files worth compacting
      LshIndex.append(docs.filter(col("doc_id") >= 200 + r * 30 &&
        col("doc_id") < 230 + r * 30), "doc_id", "text", root)
    val incoming = docs.filter(col("doc_id") >= 290)
    def probe(): Set[(Long, Long)] =
      LshIndex.probePairs(spark, root, incoming, "doc_id", "text", 0.2)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = probe()
    assert(expected.nonEmpty, "fixture must produce cross-cohort near-dup pairs")

    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val mismatches = new java.util.concurrent.atomic.AtomicInteger(0)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val probers = (1 to 2).map(_ => new Thread(() => {
      while (!stop.get()) {
        try { if (probe() != expected) mismatches.incrementAndGet() }
        catch { case t: Throwable => errors.add(t) }
      }
    }))
    probers.foreach(_.start())
    try {
      val (was, now) = LshIndex.compact(spark, root)
      assert(was > now, s"compaction must shrink: $was -> $now")
      probe() // at least one full probe strictly after the swap
    } finally {
      stop.set(true); probers.foreach(_.join(60000))
    }
    assert(errors.isEmpty,
      s"probes during compaction must never fail: ${Option(errors.peek()).map(_.toString)}")
    assert(mismatches.get() == 0,
      "probes during compaction must see the old or new file set, never a mixture")
    assert(probe() == expected, "post-compaction probe must be identical")
  }
}
