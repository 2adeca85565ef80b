package graft.ext

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted MinHash-LSH near-duplicate LEDGER: the dedup analog of the
  * persisted ANN index ([[AnnIndex]]). A 100 TB corpus does not re-run
  * all-pairs near-dup over its whole history per ingest — it keeps the
  * historical corpus's banded signatures ON DISK and checks each incoming
  * batch against that ledger (the daily-ingest shape of the
  * RefinedWeb/FineWeb-style MinHash dedup pipelines). Build ONCE, append
  * each batch O(delta), probe each batch O(delta · matched postings).
  *
  * On-disk layout (`path/`):
  *   - `bands/…parquet` — (id, band, bkey) banded signature postings,
  *     range-partitioned and sorted by `bkey`: every file carries a
  *     near-disjoint bkey range with tight parquet min/max stats, so a
  *     probe that pushes a `bkey IN (…)` predicate skips the row groups
  *     (and whole files) holding no probed bucket — the same
  *     "read only what you probe" discipline as the IVF cell directories,
  *     expressed through stats pruning because bkey is high-cardinality
  *     (bkey is xxhash64 seeded BY BAND, so one column both spreads the
  *     range partitioner and identifies the bucket; the `band` column
  *     rides along only to guard astronomically-unlikely cross-band hash
  *     collisions in the join).
  *   - `sigs/…parquet` — (id, sig) full k-long signatures, read only to
  *     estimate Jaccard on the matched candidate ids (never shuffled
  *     through the band join).
  *   - `params/…parquet` — one row (n, k, bands). Probes and appends
  *     re-derive their expressions from the STORED params, so a ledger
  *     can never be probed with a different shingle/permutation setup
  *     than it was built with (the frozen-params contract that makes
  *     append-then-probe converge to the one-shot batch build —
  *     LshIndexSpec proves the equivalence).
  *
  * Reference scope: the reference engine has no dedup surface at all
  * (SURVEY §2); this extends the LLM-pipeline brief's MinHash dedup to
  * the persisted/incremental form a real ingest pipeline needs.
  */
object LshIndex {

  private val obsCounter = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Banded postings (id, band, bkey) for `docs` under (n, k, bands) —
    * the single expression path shared by build, append and probe, so
    * all three see byte-identical bucket keys. Docs with fewer than n
    * tokens have no shingles (MaxValue sentinel signature) and are
    * dropped, exactly as in [[Dedup.minhashPairs]].
    */
  /** Minhash signatures (id, sig) for `docs`. Docs with fewer than n
    * tokens have no shingles (MaxValue sentinel signature) and are
    * dropped, exactly as in [[Dedup.minhashPairs]]. Callers MATERIALIZE
    * this once (eager checkpoint) and derive the band postings from the
    * stored sig arrays: the fused tokenize→shingle→minhash expression is
    * the whole text-processing cost, and the r9 shape re-evaluated it up
    * to three times per probe (key collect, band join, estimation join).
    * An earlier round measured a plain persist() here LOSING (the cached
    * relation's stats disturbed the small-side broadcast choices); the
    * checkpoint+explicit-broadcast shape keeps the join sides pinned by
    * the operator's own contract instead.
    */
  private def sigsOf(docs: DataFrame, idCol: String, textCol: String,
                     n: Int, k: Int): DataFrame = {
    graft.functions.Hashing.register(docs.sparkSession)
    // NO sentinel filter here: predicate pushdown would substitute the
    // alias and evaluate the whole textMinhash expression BELOW fanOut's
    // exchange, serializing the signature pass into the single-task scan
    // stage (r12 ProbeJobs). Callers checkpoint this frame; the filter is
    // applied ABOVE that barrier via [[dropSentinels]].
    Par.fanOut(docs).select(col(idCol).as("id"),
      graft.functions.Hashing.textMinhash(col(textCol), n, k).as("sig"))
  }

  /** Drop sub-shingle-length docs (MaxValue sentinel signature). Apply
    * AFTER the caller's checkpoint of [[sigsOf]] — the checkpoint is the
    * pushdown barrier that keeps the minhash evaluation parallel.
    */
  private def dropSentinels(sigs: DataFrame): DataFrame =
    sigs.filter(element_at(col("sig"), 1) =!= Long.MaxValue)

  /** Banded postings (id, band, bkey) derived from stored signatures —
    * the single expression path shared by build, append and probe, so
    * all three see byte-identical bucket keys.
    */
  private def bandsOf(sigs: DataFrame, k: Int, bands: Int): DataFrame = {
    require(k % bands == 0, "LshIndex: bands must divide k")
    val r = k / bands
    sigs.select(col("id"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => xxhash64(concat_ws(",", slice(col("sig"), b * r + 1, lit(r))), b))))
      .select(col("id"), col("pos").as("band"), col("col").as("bkey"))
  }

  /** Build the ledger from the historical corpus and persist it at
    * `path`. `files` bounds the band-posting file count (range
    * partitioner on bkey — scale it with corpus size; each file then
    * covers a disjoint bkey range).
    */
  def write(docs: DataFrame, idCol: String, textCol: String, path: String,
            n: Int = 3, k: Int = 64, bands: Int = 16, files: Int = 8): Unit = {
    val spark = docs.sparkSession
    // one minhash evaluation feeds both writes (freed after — both
    // consumers are actions)
    val sigsCkpt = Ckpt.local(sigsOf(docs, idCol, textCol, n, k))
    val sigs = dropSentinels(sigsCkpt)
    val b = bandsOf(sigs, k, bands)
    b.repartitionByRange(files, col("bkey")).sortWithinPartitions("bkey")
      .write.mode(SaveMode.Overwrite).parquet(s"$path/bands")
    // sigs get the same range-sort discipline on id: the probe pushes its
    // matched-candidate id set into this scan, and disjoint per-file id
    // ranges make that predicate prune files/row groups — sidecar reads
    // are O(matched candidates), not O(ledger)
    sigs.repartitionByRange(files, col("id")).sortWithinPartitions("id")
      .write.mode(SaveMode.Overwrite).parquet(s"$path/sigs")
    // params land BEFORE the bands manifest bootstrap: [[readParams]]
    // caches params under the bands fingerprint, so the new fingerprint
    // must never become visible while the OLD params file is still on
    // disk — the reverse order let a probe racing a rebuild poison the
    // cache with stale (n, k, bands) under the new fingerprint for the
    // session's lifetime (r10 ADVICE)
    import spark.implicits._
    Seq((n, k, bands)).toDF("n", "k", "bands")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$path/params")
    // snapshot manifests are the probe-visible commit point from here on
    // (Overwrite wiped any prior manifest along with the prior files)
    graft.sources.Snapshots.bootstrap(spark, s"$path/bands")
    graft.sources.Snapshots.bootstrap(spark, s"$path/sigs")
    // a fresh build is a new corpus: stale tombstones must not erase it
    graft.sources.Tombstones.clear(spark, path)
    Ckpt.free(sigsCkpt)
  }

  private def readParams(spark: SparkSession, path: String): (Int, Int, Int) = {
    // params are frozen at write() time and only change through a write()
    // that also rebuilds the bands manifest, so the bands fingerprint is
    // a sound (slightly over-eager: appends re-read one tiny row) cache
    // key for this one-row collect — it has no manifest of its own.
    // write() commits params BEFORE the bands manifest, so a new
    // fingerprint always sees new params; the manifest-less window DURING
    // a rebuild bypasses the cache entirely (two rebuilds would otherwise
    // alias under the same empty fingerprint).
    def load(): (Int, Int, Int) = {
      val r = spark.read.parquet(s"$path/params").collect()(0)
      (r.getInt(0), r.getInt(1), r.getInt(2))
    }
    // one listing serves both the rebuild-window check and the cache key
    val fp = graft.sources.SnapCache.fingerprint(spark, s"$path/bands")
    if (fp.isEmpty) load()
    else graft.sources.SnapCache.cachedFingerprinted(spark,
      s"lsh-params:$path", Seq(fp))(load())
  }

  /** Incremental ingest: band `delta` under the ledger's FROZEN params
    * and append its postings and signatures. Each append stages its files
    * and commits exactly what it wrote ([[graft.sources.Snapshots
    * .appendCommit]]) — existing postings are never rewritten or LISTED,
    * so ingest cost is O(delta), not O(ledger). Appended files are
    * bkey-sorted within partitions, keeping their row-group stats tight
    * for later probes.
    *
    * Commit order is sigs FIRST, bands second: the two tiers commit
    * separately, and a concurrent probe landing between them must see a
    * CONSISTENT view — with new sigs but old bands it sees exactly the
    * pre-append ledger (extra signatures match no candidate pair), while
    * the reverse order would surface band candidates whose signatures
    * don't exist yet and silently drop those pairs from the inner join.
    */
  def append(delta: DataFrame, idCol: String, textCol: String,
             path: String, files: Int = 8): Unit = {
    val spark = delta.sparkSession
    val (n, k, bands) = readParams(spark, path)
    val sigsCkpt = Ckpt.local(sigsOf(delta, idCol, textCol, n, k))
    val sigs = dropSentinels(sigsCkpt)
    val b = bandsOf(sigs, k, bands)
    // same range discipline as write(), per batch: `files` sorted files
    // with DISJOINT key ranges — not one overlapping-range file per
    // shuffle task (32 per batch, each spanning the whole key space:
    // useless stats, and the file count itself became the probe's
    // listing cost)
    graft.sources.Snapshots.appendCommit(spark, s"$path/sigs") { staging =>
      sigs.repartitionByRange(files, col("id")).sortWithinPartitions("id")
        .write.parquet(staging)
    }
    graft.sources.Snapshots.appendCommit(spark, s"$path/bands") { staging =>
      b.repartitionByRange(files, col("bkey")).sortWithinPartitions("bkey")
        .write.parquet(staging)
    }
    Ckpt.free(sigsCkpt)
  }

  /** Maintenance: compact the ledger's postings. Incremental [[append]]
    * batches accumulate a file per batch; at ingest-heavy scale a probe
    * then pays a task + footer read per tiny file, and the per-file bkey
    * ranges overlap (each batch spans the whole key space), eroding the
    * stats pruning. This rewrites the live band postings to a bounded
    * file count RE-SORTED by bkey — restoring disjoint per-file ranges —
    * and commits the swap through the snapshot manifest
    * ([[graft.sources.Snapshots]]): new files are written FIRST (probes
    * cannot see them), then one atomic manifest commit makes them live,
    * so a concurrent probe resolves either the old or the new file set —
    * never a partial one, never a missing directory. Works on any Hadoop
    * filesystem (HDFS/S3A/local); single maintenance writer by contract.
    * Contents are row-identical — LshIndexSpec asserts probe equality.
    */
  def compact(spark: SparkSession, path: String,
              targetBytes: Long = 128L << 20): (Long, Long) = {
    // compaction doubles as the tombstone PURGE: the rewrite drops
    // deleted ids from bands AND sigs, then clears the tombstone set
    // (a separate, later commit — safe because the probe-side anti-join
    // is idempotent; see Tombstones)
    val purge = (df: org.apache.spark.sql.DataFrame) =>
      graft.sources.Tombstones.filter(spark, path, df, "id")
    val counts = graft.sources.Snapshots.compactCommit(spark, s"$path/bands",
      _ => true, targetBytes, sortCols = Seq("bkey"), transform = purge)
    graft.sources.Snapshots.compactCommit(spark, s"$path/sigs",
      _ => true, targetBytes, sortCols = Seq("id"), transform = purge)
    graft.sources.Tombstones.clear(spark, path)
    counts
  }

  /** The forget path: tombstone `ids` so they stop matching probes
    * IMMEDIATELY (anti-joined in [[probePairs]]); the next [[compact]]
    * physically removes their postings and signatures. O(deleted) now,
    * rewrite deferred to scheduled maintenance — a GDPR erasure against
    * a 100 TB ledger must not be a synchronous rewrite.
    */
  def delete(spark: SparkSession, path: String, ids: DataFrame): Unit =
    graft.sources.Tombstones.add(ids, path)

  /** The live band postings (manifest-resolved); empty-ledger-safe only
    * through [[probePairs]] — this accessor is for stats/monitoring reads
    * over a non-empty ledger.
    */
  def openBands(spark: SparkSession, path: String): DataFrame =
    graft.sources.Snapshots.read(spark, s"$path/bands")
      .getOrElse(sys.error(s"LshIndex: no live band postings at $path/bands"))

  /** Probe: all (id_old, id_new, est_jaccard) near-dup pairs between the
    * LEDGER (old) and the `incoming` batch (new) with signature-estimated
    * Jaccard ≥ `threshold`. The incoming batch is the bounded small side
    * by contract (a daily ingest, not a second corpus):
    *  - its distinct bucket keys (≤ |delta|·bands longs) are collected
    *    and pushed as a static `bkey IN (…)` scan predicate when they
    *    number ≤ `pushLimit`, pruning unmatched ledger row groups at
    *    planning time; the candidate ids of the pruned bands scan are
    *    then pushed the same way into the id-range-sorted `sigs/`
    *    sidecar, so BOTH the postings and the signature reads are
    *    O(matched postings/candidates), not O(ledger); above `pushLimit`
    *    either push falls back to the plain join/scan (the predicate
    *    would cost more to ship than it saves);
    *  - `maxPostings` guards the web-scale failure mode of a boilerplate
    *    band bucket (thousands of ledger docs sharing one bkey): buckets
    *    with more ledger postings are dropped from the CANDIDATE stage
    *    with the drop count logged via observed metrics — the
    *    [[Dedup.bucketPairs]] cap discipline, sized to never trigger at
    *    oracle scale (a true near-dup pair collides in ~every band, so a
    *    capped bucket costs recall only if ALL its bands are boilerplate).
    */
  def probePairs(spark: SparkSession, path: String, incoming: DataFrame,
                 idCol: String, textCol: String, threshold: Double,
                 pushLimit: Int = 2048, maxPostings: Int = 2000): DataFrame = {
    Dedup.ensureMetricsLogger(spark)
    val (n, k, bands) = readParams(spark, path)
    // a ledger whose every doc was sub-shingle-length has a ZERO-FILE live
    // snapshot (parquet writes no files for zero rows) — a probe against
    // it degrades to zero pairs, not a schema-inference crash (the
    // srch_mmr empty-pool lesson applied to the disk path)
    val bandsOpt = graft.sources.Snapshots.read(spark, s"$path/bands")
    val sigsOpt = graft.sources.Snapshots.read(spark, s"$path/sigs")
    if (bandsOpt.isEmpty || sigsOpt.isEmpty)
      return dropSentinels(sigsOf(incoming, idCol, textCol, n, k))
        .select(col("id").as("id_old"), col("id").as("id_new"),
          lit(0.0).as("est_jaccard")).filter(lit(false))
    // ONE minhash evaluation for the whole probe: the signatures are
    // checkpointed (O(batch) rows — the bounded small side by contract)
    // and the key collect, band join and estimation join all derive from
    // the stored arrays. The r9 shape re-ran the fused minhash expression
    // at each of those three consumers. LIFETIME: the returned lazy plan
    // still references this checkpoint (twice — band probe + broadcast
    // sigs), so it CANNOT be Ckpt.free'd in-method; its O(batch) blocks
    // are reclaimed by GC + ContextCleaner once the caller drops the
    // result. Deliberate exception to the eager-free discipline: an
    // eager in-method materialization would hide the scan plan from
    // callers (pushdown audits) and re-shape every consumer's pipeline
    // for a bounded, self-expiring frame.
    val probeSigs = dropSentinels(
      Ckpt.local(sigsOf(incoming, idCol, textCol, n, k)))
    val probe = bandsOf(probeSigs, k, bands)
    val keys = probe.select("bkey").distinct().limit(pushLimit + 1)
      .collect().map(_.getLong(0))
    // tombstoned ids stop matching immediately (broadcast anti-join over
    // the pruned postings; physically purged by the next compact)
    val ledgerAll = graft.sources.Tombstones.filter(spark, path,
      bandsOpt.get, "id")
    // ≤ pushLimit probed buckets: push the literal `bkey IN (…)` into the
    // scan — planning-time row-group pruning, worth a bounded literal
    // list. Above it a literal list is the WRONG tool (the r9 default
    // pushed 36k literals at sf0.1: ~1.7 s of planning/filter-conversion
    // per materialization, measured) — prune with a broadcast semi-join
    // on the distinct probed keys instead: same row set, ids-only build
    // side bounded by |batch|·bands, no giant expression tree.
    val ledger0 =
      if (keys.length <= pushLimit)
        ledgerAll.filter(col("bkey").isin(keys.map(java.lang.Long.valueOf): _*))
      else ledgerAll.join(broadcast(probe.select("bkey").distinct()),
        Seq("bkey"), "left_semi")
    // boilerplate-bucket cap, ledger side (see scaladoc)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("band", "bkey")
    val ledger = ledger0.withColumn("__bsize__", count(lit(1)).over(w))
      .observe(s"graft_lsh_probe_cap_${obsCounter.incrementAndGet()}",
        coalesce(sum(when(col("__bsize__") > maxPostings, 1L).otherwise(0L)), lit(0L))
          .as("dropped_postings"),
        coalesce(max(col("__bsize__")), lit(0L)).as("max_bucket"))
      .filter(col("__bsize__") <= maxPostings)
      .select(col("id").as("id_old"), col("band"), col("bkey"))
    // explicit broadcast: the probe batch is the bounded small side by
    // the operator's contract, and the checkpointed frame's stats no
    // longer advertise that to the planner
    val pairs = ledger
      .join(broadcast(probe.select(col("id").as("id_new"), col("band"), col("bkey"))),
        Seq("band", "bkey"))
      .select(col("id_old"), col("id_new")).distinct()
    // push the candidate id set into the sigs sidecar the same way the
    // bucket keys were pushed into bands: every ledger id that can appear
    // in `pairs` sits in a probed bucket, so the distinct ids of the
    // PRUNED bands scan (ids-only, tiny) bound the sigs rows the
    // estimation join needs. With the id-range-sorted sigs layout the
    // static `id IN (…)` prunes files/row groups — sidecar I/O is
    // O(matched candidates), not O(ledger). Above the cap (a probe
    // matching half the ledger) fall back to the full sigs scan.
    val candIds = ledger0.select("id").distinct().limit(pushLimit + 1)
      .collect().map(_.getLong(0))
    val oldSigsAll = sigsOpt.get
    val oldSigs = (if (candIds.length <= pushLimit)
        oldSigsAll.filter(col("id").isin(candIds.map(java.lang.Long.valueOf): _*))
      else oldSigsAll)
      .select(col("id").as("id_old"), col("sig").as("sig_a"))
    val newSigs = broadcast(
      probeSigs.select(col("id").as("id_new"), col("sig").as("sig_b")))
    pairs.join(oldSigs, Seq("id_old")).join(newSigs, Seq("id_new"))
      .select(col("id_old"), col("id_new"),
        Dedup.sigJaccard(col("sig_a"), col("sig_b")).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
  }
}
