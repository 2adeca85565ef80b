package graft.ext

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.immutable.ArraySeq

/** Persisted IVF-ANN index: the missing piece between "train an index in
  * one job" ([[IvfIndex]]) and how a 100 TB corpus actually serves ANN —
  * the index is built ONCE, written to storage laid out for probing, and
  * every later query (or ingest batch) re-opens it without retraining.
  *
  * On-disk layout (`path/`):
  *   - `cells/cell=N/…parquet` — the inverted lists, Hive-partitioned by
  *     cell id. Partitioning by cell is the whole point: a probe touches
  *     `nProbe` cells per query, and the `cell IN (…)` filter prunes the
  *     untouched cell DIRECTORIES at planning time, so a query against a
  *     100 TB index reads only its probed lists (verify with
  *     [[graft.sources.Layout.prunedPartitions]] — AnnIndexSpec does).
  *   - `centroids/…parquet` — the coarse quantizer (k × dim doubles),
  *     tiny; re-opened onto the driver and broadcast exactly like a
  *     freshly trained one.
  *
  * Incremental ingest ([[append]]) assigns NEW vectors under the FROZEN
  * persisted centroids and appends only their cells' directories — no
  * retrain, no rewrite of existing lists (the FAISS `add`-after-`train`
  * contract; cell balance degrades as the distribution drifts, which is
  * when a maintenance job retrains — see SCALE.md).
  *
  * Reference scope: the reference engine has no ANN surface at all
  * (SURVEY §2); this extends the LLM-pipeline brief's "IVF … as the
  * scale path" to the persisted/incremental form a real corpus needs.
  */
object AnnIndex {

  /** Write `(id, v, cell)` rows (the shape [[IvfIndex.assign]] emits) and
    * their centroids as a persisted index rooted at `path`.
    */
  def write(assigned: DataFrame, centroids: Seq[(Int, Array[Double])],
            path: String): Unit = {
    val spark = assigned.sparkSession
    // cluster by cell BEFORE the partitioned write: without it every
    // write task emits a file into every cell directory (tasks × cells
    // tiny files — measured ~60 per cell at bench scale, and the
    // fragmented listing itself became the dominant open() cost), with
    // it each cell's rows land in one task = ONE file per cell per
    // write. At real scale a >targetBytes cell is what compactCell is
    // for; a salted multi-file split can be added there, not here.
    assigned.select(col("id"), col("v"), col("cell").cast("int").as("cell"))
      .repartition(col("cell"))
      .write.mode(SaveMode.Overwrite).partitionBy("cell")
      .parquet(s"$path/cells")
    // snapshot manifests = the probe-visible commit point for both tiers
    graft.sources.Snapshots.bootstrap(spark, s"$path/cells")
    import spark.implicits._
    centroids.toDF("cell", "v")
      .coalesce(1) // k × dim doubles — a few MB even at k = 4096
      .write.mode(SaveMode.Overwrite).parquet(s"$path/centroids")
    graft.sources.Snapshots.bootstrap(spark, s"$path/centroids")
    // rebuilding over a previously-RETRAINED path: flip the root pointer
    // back to the root tier, else liveRoot would keep serving the stale
    // generation this write just superseded
    if (graft.sources.Snapshots.currentVersion(spark, path).nonEmpty) {
      graft.sources.Snapshots.commit(spark, path, Seq("."))
      vacuumGenerations(spark, path)
    }
    // a fresh build is a new corpus: stale tombstones must not erase it
    graft.sources.Tombstones.clear(spark, path)
  }

  /** Re-open a persisted index: (inverted lists, centroids). The lists
    * DataFrame is a plain partitioned scan — filters on `cell` prune
    * directories at planning time.
    */
  def open(spark: SparkSession, path: String): (DataFrame, Seq[(Int, Array[Double])]) = {
    val (root, fpRoot) = liveRootFp(spark, path) // one resolve → a consistent tier pair
    // the whole open — tombstone-filtered lists frame + the driver-side
    // centroid collect (a Spark job) — is memoized per session against
    // the fingerprints of everything it derives from: the root pointer
    // (generation swaps), both tiers, and the tombstone set. Re-probing
    // an unchanged index costs ONE manifest-directory listing per root
    // (≤4 LIST round trips, zero manifest-body bytes, zero jobs —
    // ManifestLogSpec counts them); the root-pointer listing is shared
    // with liveRoot's own resolution instead of being paid twice.
    graft.sources.SnapCache.cachedFingerprinted(spark, s"ann-open:$path",
      Seq(fpRoot,
        graft.sources.SnapCache.fingerprint(spark, s"$root/cells"),
        graft.sources.SnapCache.fingerprint(spark, s"$root/centroids"),
        graft.sources.SnapCache.fingerprint(spark, s"$path/tombstones"))) {
      // tombstoned ids are anti-joined out HERE, so every consumer (probe,
      // stats, retrain) forgets them uniformly and immediately; the next
      // retrain physically drops them. Delete-free indexes skip the join.
      val cells = graft.sources.Tombstones.filter(spark, path,
        graft.sources.Snapshots.read(spark, s"$root/cells")
          .getOrElse(sys.error(s"AnnIndex: no live inverted lists at $root/cells")),
        "id")
        .select(col("id"), col("v"), col("cell").cast("int").as("cell"))
      val cents = graft.sources.Snapshots.read(spark, s"$root/centroids")
        .getOrElse(sys.error(s"AnnIndex: no live centroids at $root/centroids"))
        .select(col("cell").cast("int"), col("v"))
        .collect() // k rows — the coarse quantizer is driver-resident by design
        .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray)
        .sortBy(_._1).toSeq
      (cells, cents)
    }
  }

  /** Incremental ingest: assign `delta` under the index's FROZEN
    * centroids and append to its cell directories. The write lands in
    * [[graft.sources.Snapshots.appendCommit]]'s staging dir and is moved
    * into the touched `cell=N/` dirs — existing lists are never rewritten
    * or even LISTED, so ingest cost is O(delta), not O(index).
    */
  def append(delta: DataFrame, idCol: String, vecCol: String, path: String): Unit = {
    val spark = delta.sparkSession
    val root = liveRoot(spark, path)
    val (_, cents) = open(spark, path)
    graft.sources.Snapshots.appendCommit(spark, s"$root/cells") { staging =>
      IvfIndex.assign(delta, idCol, vecCol, cents)
        .select(col("id"), col("v"), col("cell").cast("int").as("cell"))
        .repartition(col("cell")) // one file per touched cell per batch
        .write.partitionBy("cell").parquet(staging)
    }
  }

  /** Persist a bounded-degree neighbor graph (the [[GraphAnn]] index) as
    * src-range-partitioned, src-sorted parquet: every file then carries a
    * DISJOINT src range with tight min/max stats, so the beam search's
    * per-round adjacency lookups prune to the files holding the beam's
    * nodes — the same "read only what you probe" layout discipline as the
    * IVF cell directories, expressed through row-group pruning instead of
    * partition directories (a graph has no natural low-cardinality
    * partition key).
    */
  def writeGraph(graph: DataFrame, path: String, files: Int = 8): Unit = {
    val spark = graph.sparkSession
    graph.repartitionByRange(files, col("src"))
      .sortWithinPartitions("src", "dst")
      .write.mode(SaveMode.Overwrite).parquet(s"$path/edges")
    // same commit discipline as the cell/centroid tiers: the manifest is
    // the probe-visible state, and a fresh build clears stale tombstones
    graft.sources.Snapshots.bootstrap(spark, s"$path/edges")
    graft.sources.Tombstones.clear(spark, path)
  }

  /** Live adjacency of a persisted graph index: manifest-resolved and
    * tombstone-filtered on BOTH endpoints, exactly like [[open]] filters
    * the inverted lists — a forgotten node must stop being traversed
    * (src) and stop being reachable/returned (dst) IMMEDIATELY, not at
    * the next rebuild. (r9 shipped this read bypassing both layers, so a
    * forget against the NSW index silently kept serving deleted nodes.)
    */
  def openGraph(spark: SparkSession, path: String): DataFrame = {
    val edges = graft.sources.Snapshots.read(spark, s"$path/edges")
      .getOrElse(sys.error(s"AnnIndex: no live edges at $path/edges"))
    graft.sources.Tombstones.filter(spark, path,
      graft.sources.Tombstones.filter(spark, path, edges, "src"), "dst")
  }

  /** Serving-path beam search against a persisted graph index: the live
    * edge set AND the corpus both resolve through the index's tombstone
    * set, so a deleted node can't enter as a seed, a candidate, or a
    * result. Edge filtering alone would leave the md5-ordered seed
    * selection (which draws from the corpus, not the graph) able to
    * surface a forgotten node.
    */
  def probeGraphTopK(spark: SparkSession, path: String, corpus: DataFrame,
                     queries: DataFrame, idCol: String, vecCol: String,
                     k: Int, ef: Int = 16, rounds: Int = 3,
                     nSeeds: Int = 4): DataFrame = {
    val live = graft.sources.Tombstones.filter(spark, path, corpus, idCol)
    GraphAnn.topK(live, openGraph(spark, path), queries,
      idCol, vecCol, k, ef, rounds, nSeeds)
  }

  /** Maintenance: compact ONE cell's inverted list — O(cell), not
    * O(index). Incremental [[append]] batches accumulate a file per batch
    * per touched cell; at ingest-heavy scale a probe then pays a task +
    * footer read + open per tiny file. This rewrites the cell's live
    * files to a bounded count and commits the swap through the snapshot
    * manifest ([[graft.sources.Snapshots]]): new files land first
    * (invisible to probes), then one atomic manifest commit makes them
    * live — concurrent probes resolve either the old or the new file set,
    * never a partial one, on any Hadoop filesystem (HDFS/S3A/local).
    * Single maintenance writer by contract. Contents are bit-identical —
    * AnnIndexSpec asserts probe equality.
    */
  def compactCell(spark: SparkSession, path: String, cell: Int,
                  targetBytes: Long = 128L << 20): (Long, Long) =
    graft.sources.Snapshots.compactCommit(spark,
      s"${liveRoot(spark, path)}/cells",
      rel => rel.startsWith(s"cell=$cell/"),
      targetBytes,
      partitionBy = Seq("cell"),
      // physically purge this cell's tombstoned rows on the way through;
      // the tombstone SET stays (other cells still hold rows) — only the
      // whole-index retrain rewrite clears it
      transform = df => graft.sources.Tombstones.filter(spark, path, df, "id"))

  /** The forget path: tombstone `ids` so every consumer (probe, stats,
    * retrain input) forgets them IMMEDIATELY via [[open]]'s anti-join;
    * the next [[retrain]] (or per-cell compaction) physically drops the
    * rows. O(deleted) now — never a synchronous index rewrite.
    */
  def delete(path: String, ids: DataFrame): Unit =
    graft.sources.Tombstones.add(ids, path)

  /** Live root of a (possibly retrained) index: a RETRAIN rewrites both
    * tiers (cells + centroids) as one new `index@gN/` generation tree and
    * commits a one-line root manifest naming it — a single atomic swap,
    * so a probe can never pair new lists with old centroids (two
    * sequential per-tier commits would have exactly that window). An
    * index that has never been retrained has no root manifest and lives
    * at `path` itself (`.`), which is also how pre-generation layouts
    * keep working.
    */
  private[graft] def liveRoot(spark: SparkSession, path: String): String =
    liveRootFp(spark, path)._1

  /** [[liveRoot]] plus the root-pointer fingerprint its resolution
    * already paid for — memoized per committed pointer state, so a warm
    * [[open]] resolves the generation with the SAME single listing that
    * fingerprints it (a never-retrained root has no manifest → None →
    * uncached recompute, which is just the cheap no-manifest probe).
    */
  private def liveRootFp(spark: SparkSession,
                         path: String): (String, Option[(Long, String)]) = {
    val fp = graft.sources.SnapCache.fingerprint(spark, path)
    val root = graft.sources.SnapCache.cachedFingerprinted(
      spark, s"ann-root:$path", Seq(fp)) {
      graft.sources.Snapshots.currentFiles(spark, path) match {
        case Some(Seq(gen)) if gen != "." => s"$path/$gen"
        case _                            => path
      }
    }
    (root, fp)
  }

  /** Cell-occupancy imbalance of a persisted index: max cell size over
    * MEAN cell size (mean over the trained k, so emptied cells count).
    * 1.0 = perfectly balanced; a drifted ingest (appends assigned under
    * frozen centroids landing far from every centroid) pushes it toward
    * k. This is the number a maintenance scheduler watches — one
    * ids-only mergeable aggregate over the lists, no vectors read.
    */
  def imbalance(spark: SparkSession, path: String): Double = {
    val (cells, cents) = open(spark, path)
    val occ = cells.groupBy("cell").agg(count(lit(1)).as("n"))
      .agg(max(col("n")).as("mx"), sum(col("n")).as("tot")).head()
    if (occ.isNullAt(1) || occ.getLong(1) == 0L) 1.0
    else occ.getLong(0).toDouble / (occ.getLong(1).toDouble / cents.size)
  }

  /** Maintenance: RETRAIN the coarse quantizer on the index's own stored
    * vectors and rewrite the inverted lists under the new centroids —
    * the acted-on half of the drift story ([[imbalance]] is the detector;
    * FAISS re-`train` after distribution drift). Deterministic by
    * construction: [[IvfIndex.train]] inits from the k smallest md5(id)
    * over the STORED ids and folds Lloyd updates on the integer grid, so
    * retraining an index whose stored set equals corpus C yields
    * BIT-IDENTICAL centroids (and therefore bit-identical probes) to a
    * one-shot build on C — append-then-retrain ≡ build-on-union, the
    * convergence law the sim_ivf_retrain oracle hash-checks, and retrain
    * of an undrifted index is a byte-level no-op (AnnIndexSpec proves
    * both).
    *
    * The swap is WHOLE-INDEX atomic: the new generation tree
    * (`index@gN/cells` + `index@gN/centroids`) is fully written first,
    * then one root-manifest commit flips [[liveRoot]] — concurrent probes
    * resolve a consistent (cells, centroids) pair, old or new, never
    * mixed. The retired generation keeps one version of grace before
    * [[vacuumGenerations]] removes it.
    */
  def retrain(spark: SparkSession, path: String, k: Int,
              iters: Int = 2): Seq[(Int, Array[Double])] = {
    val (cells, _) = open(spark, path)
    val cents = IvfIndex.train(cells, "id", "v", k, iters)
    val snaps = graft.sources.Snapshots
    // first retrain of a root-layout index: record the root itself as the
    // retiring generation so it gets the same vacuum grace as any other
    if (snaps.currentVersion(spark, path).isEmpty) snaps.commit(spark, path, Seq("."))
    val gen = s"index@g${snaps.currentVersion(spark, path).get + 1}"
    write(IvfIndex.assign(cells, "id", "v", cents), cents, s"$path/$gen")
    snaps.commit(spark, path, Seq(gen)) // the atomic whole-index swap
    // `cells` came through open()'s tombstone anti-join, so the new
    // generation physically excludes deleted rows — clear the set (later,
    // separate commit: the anti-join is idempotent, a crash between the
    // two leaves behavior unchanged)
    graft.sources.Tombstones.clear(spark, path)
    vacuumGenerations(spark, path)
    cents
  }

  /** Delete retired generation trees not referenced by the live or the
    * immediately-previous root manifest (same one-version grace as file
    * vacuum). The legacy root tier (`cells/`+`centroids/` at `path`,
    * recorded as generation ".") is removed the same way once retired
    * past grace.
    */
  def vacuumGenerations(spark: SparkSession, path: String): Unit = {
    val snaps = graft.sources.Snapshots
    val versions = snaps.currentVersion(spark, path).toSeq
      .flatMap(v => (1L to v).reverse.take(2))
    if (versions.isEmpty) return
    val kept = versions.flatMap(v => snaps.filesAt(spark, path, v)).toSet
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    fs.listStatus(p).foreach { st =>
      val n = st.getPath.getName
      if (st.isDirectory && n.startsWith("index@g") && !kept(n))
        fs.delete(st.getPath, true)
    }
    if (!kept(".")) {
      fs.delete(new org.apache.hadoop.fs.Path(p, "cells"), true)
      fs.delete(new org.apache.hadoop.fs.Path(p, "centroids"), true)
    }
  }

  /** [[retrain]] gated on the [[imbalance]] detector: returns the new
    * centroids when occupancy skew exceeded `maxRatio` (the scheduled
    * maintenance shape), None when the index is healthy and untouched.
    */
  def retrainIfDrifted(spark: SparkSession, path: String, k: Int,
                       iters: Int = 2,
                       maxRatio: Double = 3.0): Option[Seq[(Int, Array[Double])]] =
    if (imbalance(spark, path) > maxRatio) Some(retrain(spark, path, k, iters))
    else None

  /** Top-k cosine probe against a persisted index, reading ONLY the
    * probed cells: the per-query probe cells are computed driver-side
    * (|queries| × nProbe ints — the probe batch is the bounded small
    * side by contract, same bound as the broadcast inside
    * [[IvfIndex.topK]]), and their union becomes a static `cell IN (…)`
    * predicate that prunes unprobed partition directories at planning
    * time. Results are identical to [[IvfIndex.topK]] over the full
    * index — the filter only removes rows the cell-equijoin would drop.
    */
  def probeTopK(spark: SparkSession, path: String, queries: DataFrame,
                idCol: String, vecCol: String, k: Int, nProbe: Int = 2): DataFrame = {
    val (cells, cents) = open(spark, path)
    graft.functions.VectorExprs.register(spark)
    val probedCells = queries
      .select(explode(graft.functions.VectorExprs.nearestCells(
        col(vecCol).cast("array<double>"), cents, nProbe)).as("cell"))
      .distinct().collect().map(_.getInt(0)).sorted
    val pruned = cells.filter(col("cell").isin(ArraySeq.unsafeWrapArray(probedCells.map(Integer.valueOf)): _*))
    IvfIndex.topK(pruned, queries, idCol, vecCol, cents, k, nProbe)
  }
}
