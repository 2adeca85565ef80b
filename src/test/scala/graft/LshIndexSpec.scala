package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.FileSourceScanExec
import graft.ext.{Dedup, LshIndex}

/** The persisted MinHash-LSH ledger contract: the disk probe finds exactly
  * the cross-cohort banded pair set the in-memory machinery finds, append
  * under frozen params converges to the one-shot build, the probe pushes
  * its bucket keys into the ledger scan, and the boilerplate-bucket cap
  * drops (never explodes on) a pathological bucket.
  */
class LshIndexSpec extends SparkSpec {

  private lazy val docs = SparkEntry.T(spark, sf0001, "documents")
  private lazy val ledgerCohort = docs.filter(col("doc_id") < 250)
  private lazy val incoming = docs.filter(col("doc_id") >= 250)
  private def tmpIndex(name: String): String =
    s"${sys.props("java.io.tmpdir")}/graft-lsh-spec/$name"

  private def pairsOf(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
    df.select("id_old", "id_new", "est_jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  /** Reference result: the in-memory self-join over the WHOLE corpus,
    * restricted to pairs crossing the cohort boundary (doc_id ordering
    * aligns with the split, so id_a < 250 <= id_b selects exactly
    * ledger × incoming).
    */
  private lazy val expected: Set[(Long, Long, Double)] =
    Dedup.minhashPairs(docs, "doc_id", "text", n = 3, k = 64, bands = 16,
      threshold = 0.5)
      .filter(col("id_a") < 250 && col("id_b") >= 250)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  test("write -> probe equals the in-memory cross-cohort pair set exactly") {
    val path = tmpIndex("roundtrip")
    LshIndex.write(ledgerCohort, "doc_id", "text", path)
    val probed = LshIndex.probePairs(spark, path, incoming, "doc_id", "text", 0.5)
    assert(pairsOf(probed) == expected)
    assert(expected.nonEmpty, "fixture must contain cross-cohort near-dups")
  }

  test("delete tombstones immediately; compact purges physically and clears them") {
    val sqlImplicits = spark.implicits
    import sqlImplicits._
    val path = tmpIndex("forget")
    LshIndex.write(ledgerCohort, "doc_id", "text", path)
    val deadIds = expected.map(_._1).take(2).toSeq
    assert(deadIds.nonEmpty)
    LshIndex.delete(path, deadIds.toDF("doc_id"))
    val afterDelete = pairsOf(LshIndex.probePairs(spark, path, incoming,
      "doc_id", "text", 0.5))
    assert(afterDelete == expected.filterNot(p => deadIds.contains(p._1)),
      "tombstoned ids must stop matching immediately, others untouched")
    // physical purge: compact drops the rows from bands AND sigs, then
    // clears the tombstone set; the probe result must not move
    def liveRows(sub: String) =
      graft.sources.Snapshots.read(spark, s"$path/$sub").get
        .filter(col("id").isin(deadIds.map(java.lang.Long.valueOf): _*)).count()
    assert(liveRows("bands") > 0 && liveRows("sigs") > 0,
      "before compact the rows are only tombstoned, not gone")
    LshIndex.compact(spark, path)
    assert(liveRows("bands") == 0 && liveRows("sigs") == 0,
      "compact must physically drop tombstoned postings and signatures")
    assert(graft.sources.Tombstones.read(spark, path).isEmpty,
      "compact must clear the applied tombstones")
    assert(pairsOf(LshIndex.probePairs(spark, path, incoming,
      "doc_id", "text", 0.5)) == afterDelete,
      "purge must be invisible to probe results")
  }

  test("a rebuild with different params is never probed with the cached old ones") {
    // r10 ADVICE: write() used to bootstrap the new bands manifest BEFORE
    // overwriting the params file, so a probe racing the rebuild could
    // cache the OLD (n, k, bands) under the NEW fingerprint — and the
    // poisoned entry then served wrong signatures for the session's
    // lifetime. The commit order is now params-first; this pins the
    // visible consequence: probe → rebuild with new params → probe uses
    // the NEW params (bit-identical to a fresh session's probe).
    val path = tmpIndex("reparam")
    LshIndex.write(ledgerCohort, "doc_id", "text", path, n = 3, k = 64, bands = 16)
    assert(pairsOf(LshIndex.probePairs(spark, path, incoming,
      "doc_id", "text", 0.5)) == expected) // warms the params cache
    LshIndex.write(ledgerCohort, "doc_id", "text", path, n = 2, k = 32, bands = 8)
    val reProbed = pairsOf(LshIndex.probePairs(spark, path, incoming,
      "doc_id", "text", 0.5))
    val fresh = Dedup.minhashPairs(docs, "doc_id", "text", n = 2, k = 32,
      bands = 8, threshold = 0.5)
      .filter(col("id_a") < 250 && col("id_b") >= 250)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(reProbed == fresh,
      "post-rebuild probes must run under the rebuilt params, not cached ones")
  }

  test("append under frozen params converges to the one-shot build") {
    val path = tmpIndex("incremental")
    LshIndex.write(docs.filter(col("doc_id") < 150), "doc_id", "text", path)
    LshIndex.append(docs.filter(col("doc_id") >= 150 && col("doc_id") < 250),
      "doc_id", "text", path)
    val probed = LshIndex.probePairs(spark, path, incoming, "doc_id", "text", 0.5)
    assert(pairsOf(probed) == expected)
  }

  test("probe pushes its bucket keys into the ledger scan") {
    val path = tmpIndex("pushdown")
    LshIndex.write(ledgerCohort, "doc_id", "text", path)
    // pushLimit above this fixture's distinct-key count: the literal-push
    // path (the semi-join path above it is covered by the next test)
    val probed = LshIndex.probePairs(spark, path, incoming, "doc_id", "text", 0.5,
      pushLimit = 1000000)
    def fileScans(p: org.apache.spark.sql.execution.SparkPlan): Seq[FileSourceScanExec] =
      p.collect {
        case f: FileSourceScanExec => Seq(f)
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          fileScans(a.executedPlan)
      }.flatten
    val scans = fileScans(probed.queryExecution.executedPlan)
      .filter(_.relation.location.rootPaths.exists(_.toString.contains("pushdown/bands")))
    assert(scans.nonEmpty, "expected a file scan over the persisted ledger")
    assert(scans.exists(_.metadata.getOrElse("PushedFilters", "").contains("In(bkey")),
      "the probe's bkey IN (…) predicate must reach the parquet scan")
    // the sigs sidecar gets the same treatment: candidate ids pushed as a
    // static id IN (…) — sidecar I/O is O(matched candidates), not O(ledger)
    val sigScans = fileScans(probed.queryExecution.executedPlan)
      .filter(_.relation.location.rootPaths.exists(_.toString.contains("pushdown/sigs")))
    assert(sigScans.nonEmpty, "expected a file scan over the sigs sidecar")
    assert(sigScans.exists(_.metadata.getOrElse("PushedFilters", "").contains("In(id")),
      "the candidate id IN (…) predicate must reach the sigs scan")
  }

  test("oversized ledger buckets are dropped by the cap, not exploded") {
    import spark.implicits._
    // 5 identical ledger docs + 1 identical incoming doc: every band
    // bucket they share holds 5 ledger postings
    val text = "alpha beta gamma delta epsilon zeta"
    val ledger = (0L until 5L).map(i => (i, text)).toDF("doc_id", "text")
    val inc = Seq((100L, text)).toDF("doc_id", "text")
    val path = tmpIndex("cap")
    LshIndex.write(ledger, "doc_id", "text", path)
    val capped = LshIndex.probePairs(spark, path, inc, "doc_id", "text", 0.5,
      maxPostings = 4)
    assert(capped.count() == 0, "buckets over the cap must be dropped")
    val uncapped = LshIndex.probePairs(spark, path, inc, "doc_id", "text", 0.5)
    assert(pairsOf(uncapped).map(p => (p._1, p._2)) ==
      (0L until 5L).map(i => (i, 100L)).toSet)
  }

  test("ledger compaction collapses append-batch files and changes nothing") {
    val path = tmpIndex("compaction")
    LshIndex.write(docs.filter(col("doc_id") < 100), "doc_id", "text", path,
      files = 2)
    // three ingest batches — each append adds its own files
    for (r <- 0 until 3)
      LshIndex.append(
        docs.filter(col("doc_id") >= 100 + r * 50 && col("doc_id") < 150 + r * 50),
        "doc_id", "text", path)
    val before = pairsOf(LshIndex.probePairs(spark, path, incoming,
      "doc_id", "text", 0.5))
    assert(before == expected)
    // LIVE file count = the snapshot manifest, not a directory listing —
    // the retired generation stays on disk for one version of grace so
    // in-flight readers finish (graft.sources.Snapshots contract)
    def live() = graft.sources.Snapshots
      .currentFiles(spark, s"$path/bands").get.size
    val nBefore = live()
    assert(nBefore > 2, s"appends must have accumulated files, found $nBefore")
    val (was, now) = LshIndex.compact(spark, path)
    assert(was == nBefore && now < was, s"compaction must shrink: $was -> $now")
    assert(live() == now)
    val after = pairsOf(LshIndex.probePairs(spark, path, incoming,
      "doc_id", "text", 0.5))
    assert(after == before, "compaction must be invisible to probes")
    // zero-grace vacuum reconciles the directory with the live manifest
    graft.sources.Snapshots.vacuum(spark, s"$path/bands", grace = 0)
    val onDisk = graft.sources.Snapshots.listParquet(spark, s"$path/bands")
    assert(onDisk.size == now,
      s"post-vacuum directory must hold exactly the live files, found $onDisk")
  }

  test("probe beyond pushLimit prunes with a broadcast semi-join, same result") {
    val path = tmpIndex("fallback")
    LshIndex.write(ledgerCohort, "doc_id", "text", path)
    val probed = LshIndex.probePairs(spark, path, incoming, "doc_id", "text", 0.5,
      pushLimit = 1)
    assert(pairsOf(probed) == expected)
    // the pruning must still happen — as a semi-join on the probed keys,
    // not a 36k-literal expression tree (measured ~1.7 s of planning per
    // materialization at sf0.1) and not an unpruned full-ledger join
    val plan = probed.queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi"),
      s"above pushLimit the ledger scan must be pruned by a semi-join, got:\n$plan")
  }
}
