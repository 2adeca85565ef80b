package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.FileSourceScanExec
import graft.ext.{AnnIndex, IvfIndex}

/** The persisted/incremental ANN index contract: write → open loses
  * nothing, incremental append equals batch build under the same frozen
  * quantizer, and the probe's cell filter prunes partition DIRECTORIES
  * at planning time (the property that makes the on-disk layout pay at
  * 100 TB — a probe reads its cells, not the index).
  */
class AnnIndexSpec extends SparkSpec {

  private lazy val emb = SparkEntry.T(spark, sf0001, "embeddings")
  private lazy val queries = emb.filter(col("vec_id") < 8)
  private def tmpIndex(name: String): String =
    s"${sys.props("java.io.tmpdir")}/graft-ann-spec/$name"

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Set[(Long, Int, Long)] =
    df.select("query_id", "rank", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet

  test("write -> open -> probe equals the in-memory IVF result exactly") {
    val cents = IvfIndex.train(emb, "vec_id", "embedding", k = 8, iters = 2)
    val index = IvfIndex.assign(emb, "vec_id", "embedding", cents)
    val inMem = IvfIndex.topK(index, queries, "vec_id", "embedding", cents,
      k = 10, nProbe = 3)

    val path = tmpIndex("roundtrip")
    AnnIndex.write(index, cents, path)
    val (reopened, loaded) = AnnIndex.open(spark, path)
    assert(loaded.map(_._1) == cents.map(_._1))
    assert(loaded.map(_._2.toSeq) == cents.map(_._2.toSeq),
      "centroids must survive the parquet roundtrip bit-exactly")
    assert(reopened.count() == emb.count())

    val probed = AnnIndex.probeTopK(spark, path, queries,
      "vec_id", "embedding", k = 10, nProbe = 3)
    assert(rowsOf(probed) == rowsOf(inMem))
  }

  test("probe scan prunes unprobed cell directories at planning time") {
    val cents = IvfIndex.train(emb, "vec_id", "embedding", k = 8, iters = 2)
    val path = tmpIndex("pruning")
    AnnIndex.write(IvfIndex.assign(emb, "vec_id", "embedding", cents), cents, path)

    // one query probing 2 of 8 cells: the index scan must plan over <= 2
    // partition directories, not all 8
    val one = emb.filter(col("vec_id") === 0)
    val probed = AnnIndex.probeTopK(spark, path, one,
      "vec_id", "embedding", k = 5, nProbe = 2)
    // AQE wraps the join in AdaptiveSparkPlanExec — recurse into it to
    // reach the index scan (pruning happens at initial planning, before
    // any runtime re-plan)
    def fileScans(p: org.apache.spark.sql.execution.SparkPlan): Seq[FileSourceScanExec] =
      p.collect {
        case f: FileSourceScanExec => Seq(f)
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          fileScans(a.executedPlan)
      }.flatten
    val scans = fileScans(probed.queryExecution.executedPlan)
      .filter(_.relation.location.rootPaths.exists(_.toString.contains("pruning")))
    assert(scans.nonEmpty, "expected a file scan over the persisted index")
    val selected = scans.map(_.selectedPartitions.partitionCount).min
    val total = new java.io.File(s"$path/cells").listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("cell="))
    assert(total == 8, s"expected 8 cell directories, found $total")
    assert(selected <= 2,
      s"nProbe=2 single-query probe must read <= 2 of $total cell dirs, read $selected")
  }

  test("incremental append under frozen centroids equals the batch build") {
    val base = emb.filter(col("vec_id") % 2 === 0)
    val delta = emb.filter(col("vec_id") % 2 === 1)
    val cents = IvfIndex.train(base, "vec_id", "embedding", k = 8, iters = 2)

    val incr = tmpIndex("incremental")
    AnnIndex.write(IvfIndex.assign(base, "vec_id", "embedding", cents), cents, incr)
    AnnIndex.append(delta, "vec_id", "embedding", incr)

    val batch = tmpIndex("batch")
    AnnIndex.write(IvfIndex.assign(emb, "vec_id", "embedding", cents), cents, batch)

    val a = AnnIndex.probeTopK(spark, incr, queries, "vec_id", "embedding", 10, 3)
    val b = AnnIndex.probeTopK(spark, batch, queries, "vec_id", "embedding", 10, 3)
    assert(rowsOf(a) == rowsOf(b))

    // append must not have rewritten base lists: every base row is still
    // present exactly once alongside the delta rows
    val (cells, _) = AnnIndex.open(spark, incr)
    assert(cells.count() == emb.count())
    assert(cells.select("id").distinct().count() == emb.count())
  }

  test("persisted NSW graph: write -> open -> beam search equals in-memory") {
    val g = graft.ext.GraphAnn.buildGraph(emb, "vec_id", "embedding", degree = 4)
    val inMem = graft.ext.GraphAnn.topK(emb, g, queries,
      "vec_id", "embedding", k = 5, ef = 8, rounds = 2, nSeeds = 2)
    val path = tmpIndex("nsw")
    AnnIndex.writeGraph(g, path, files = 4)
    val reopened = AnnIndex.openGraph(spark, path)
    // the src-sorted range layout must hold edge-for-edge
    assert(reopened.count() == g.count())
    val again = graft.ext.GraphAnn.topK(emb, reopened, queries,
      "vec_id", "embedding", k = 5, ef = 8, rounds = 2, nSeeds = 2)
    assert(rowsOf(again) == rowsOf(inMem))
  }

  test("graph forget: tombstoned nodes vanish from edges, seeds and results") {
    val g = graft.ext.GraphAnn.buildGraph(emb, "vec_id", "embedding", degree = 4)
    val path = tmpIndex("nsw-forget")
    AnnIndex.writeGraph(g, path, files = 4)
    val dead = emb.filter(col("vec_id") % 5 === 3).select("vec_id")
    val deadIds = dead.collect().map(_.getLong(0)).toSet
    assert(deadIds.nonEmpty)
    AnnIndex.delete(path, dead)
    // adjacency: neither endpoint may be a deleted node
    val edges = AnnIndex.openGraph(spark, path).collect()
    assert(edges.forall(r => !deadIds(r.getLong(0)) && !deadIds(r.getLong(1))),
      "openGraph must filter tombstoned nodes on BOTH endpoints")
    assert(edges.length < g.count(), "the deleted cohort had edges to drop")
    // serving path: results never contain deleted nodes, and equal the
    // in-memory search over the live corpus + live edges
    val got = AnnIndex.probeGraphTopK(spark, path, emb, queries,
      "vec_id", "embedding", k = 5, ef = 8, rounds = 2, nSeeds = 2)
    assert(got.collect().forall(r => !deadIds(r.getLong(2))),
      "probe results must never surface a forgotten node")
    val liveEmb = emb.filter(!(col("vec_id") % 5 === 3))
    val liveEdges = g.filter(!(col("src") % 5 === 3) && !(col("dst") % 5 === 3))
    val expect = graft.ext.GraphAnn.topK(liveEmb, liveEdges, queries,
      "vec_id", "embedding", k = 5, ef = 8, rounds = 2, nSeeds = 2)
    assert(rowsOf(got) == rowsOf(expect))
    // a fresh rebuild clears the tombstones: full results come back
    AnnIndex.writeGraph(g, path, files = 4)
    assert(AnnIndex.openGraph(spark, path).count() == g.count())
  }

  test("open() is memoized per committed state and invalidated by any commit") {
    val base = emb.filter(col("vec_id") % 2 === 0)
    val cents = IvfIndex.train(base, "vec_id", "embedding", k = 4, iters = 1)
    val path = tmpIndex("cache")
    AnnIndex.write(IvfIndex.assign(base, "vec_id", "embedding", cents), cents, path)
    val (c1, k1) = AnnIndex.open(spark, path)
    val (c2, k2) = AnnIndex.open(spark, path)
    assert((c1 eq c2) && (k1 eq k2),
      "re-opening an unchanged index must return the memoized instances")
    // an append commit invalidates: the new open sees the delta
    AnnIndex.append(emb.filter(col("vec_id") % 2 === 1), "vec_id", "embedding", path)
    val (c3, _) = AnnIndex.open(spark, path)
    assert(!(c3 eq c1) && c3.count() == emb.count())
    // a tombstone commit invalidates: the new open drops the ids
    AnnIndex.delete(path, emb.filter(col("vec_id") % 7 === 0).select("vec_id"))
    val (c4, _) = AnnIndex.open(spark, path)
    assert(!(c4 eq c3) && c4.count() ==
      emb.filter(!(col("vec_id") % 7 === 0)).count())
    // a full Overwrite REBUILD at the same path resets the version counter
    // to 1 again — the fingerprint must still change (manifest bodies
    // differ) so the cache can never serve the pre-rebuild file set
    AnnIndex.write(IvfIndex.assign(base, "vec_id", "embedding", cents), cents, path)
    val (c5, _) = AnnIndex.open(spark, path)
    assert(!(c5 eq c4) && c5.count() == base.count())
  }

  test("cell compaction collapses append-batch files and changes nothing") {
    val base = emb.filter(col("vec_id") % 4 === 0)
    val cents = IvfIndex.train(base, "vec_id", "embedding", k = 4, iters = 1)
    val path = tmpIndex("compaction")
    AnnIndex.write(IvfIndex.assign(base, "vec_id", "embedding", cents), cents, path)
    // three ingest batches — each append adds its own files per cell
    for (r <- 1 to 3)
      AnnIndex.append(emb.filter(col("vec_id") % 4 === r), "vec_id", "embedding", path)

    val before = rowsOf(AnnIndex.probeTopK(spark, path, queries,
      "vec_id", "embedding", 10, 2))
    // LIVE per-cell file count = the snapshot manifest, not a directory
    // listing (the retired files get one version of vacuum grace)
    def live(cell: Int) = graft.sources.Snapshots
      .currentFiles(spark, s"$path/cells").get
      .count(_.startsWith(s"cell=$cell/"))
    val cell = (0 until 4).maxBy(live)
    val nBefore = live(cell)
    assert(nBefore >= 4, s"expected >=4 append-batch files in cell=$cell, found $nBefore")

    val (was, now) = AnnIndex.compactCell(spark, path, cell)
    assert(was == nBefore && now < was,
      s"compaction must shrink the file count: $was -> $now")
    assert(live(cell) == now)
    val after = rowsOf(AnnIndex.probeTopK(spark, path, queries,
      "vec_id", "embedding", 10, 2))
    assert(after == before, "compaction must be invisible to probes")
    // other cells' live sets are untouched — compaction is O(cell)
    graft.sources.Snapshots.vacuum(spark, s"$path/cells", grace = 0)
    assert(graft.sources.Snapshots.listParquet(spark, s"$path/cells")
      .count(_.startsWith(s"cell=$cell/")) == now,
      "post-vacuum cell directory must hold exactly the live files")
  }

  /** Drift fixture: train on a tight cluster, append a far-away cohort —
    * every appended vector lands in ONE stale cell, so occupancy skews
    * hard. Retrain must restore balance and converge to the one-shot
    * build on the union; the gated variant must fire on the drifted index
    * and leave a healthy one untouched.
    */
  test("drift: imbalance detector fires, retrain restores balance and equals rebuild") {
    val sqlImplicits = spark.implicits
    import sqlImplicits._
    def vec(c: Double, i: Long): Array[Double] =
      Array(c + 0.001 * i, c - 0.001 * i, c, 1.0)
    val base = (0L until 40L).map(i => (i, vec(0.0, i))).toDF("vec_id", "embedding")
    val drift = (100L until 140L).map(i => (i, vec(50.0, i))).toDF("vec_id", "embedding")
    val path = tmpIndex("drift")
    val cents0 = IvfIndex.train(base, "vec_id", "embedding", k = 4, iters = 2)
    AnnIndex.write(IvfIndex.assign(base, "vec_id", "embedding", cents0), cents0, path)
    AnnIndex.append(drift, "vec_id", "embedding", path)
    val skewed = AnnIndex.imbalance(spark, path)
    assert(skewed > 2.0, s"drifted appends must skew occupancy, got $skewed")

    val retrained = AnnIndex.retrainIfDrifted(spark, path, k = 4, iters = 2, maxRatio = 2.0)
    assert(retrained.nonEmpty, "the detector must trigger the retrain")
    val healed = AnnIndex.imbalance(spark, path)
    assert(healed < skewed, s"retrain must reduce imbalance: $skewed -> $healed")
    // the gated maintenance pass is now a no-op on the healthy index
    assert(AnnIndex.retrainIfDrifted(spark, path, k = 4, iters = 2,
      maxRatio = math.max(2.0, healed + 0.01)).isEmpty)

    // convergence: retrained index == one-shot build on the union corpus
    val union = base.unionByName(drift)
    val pathFresh = tmpIndex("drift-fresh")
    val centsU = IvfIndex.train(union, "vec_id", "embedding", k = 4, iters = 2)
    AnnIndex.write(IvfIndex.assign(union, "vec_id", "embedding", centsU), centsU, pathFresh)
    val q = union.filter(col("vec_id").isin(0L, 5L, 100L, 105L))
    assert(rowsOf(AnnIndex.probeTopK(spark, path, q, "vec_id", "embedding", 5, 2)) ==
      rowsOf(AnnIndex.probeTopK(spark, pathFresh, q, "vec_id", "embedding", 5, 2)),
      "append-then-retrain must converge to the one-shot build")
    assert(retrained.get.map(_._2.toSeq) == centsU.map(_._2.toSeq),
      "retrained centroids must be bit-identical to the one-shot training")
  }

  test("delete tombstones immediately; retrain purges physically and clears them") {
    val sqlImplicits = spark.implicits
    import sqlImplicits._
    val cents = IvfIndex.train(emb, "vec_id", "embedding", k = 8, iters = 2)
    val path = tmpIndex("forget")
    AnnIndex.write(IvfIndex.assign(emb, "vec_id", "embedding", cents), cents, path)
    val before = rowsOf(AnnIndex.probeTopK(spark, path, queries,
      "vec_id", "embedding", 10, 3))
    val dead = before.map(_._3).take(3).toSeq // delete known neighbors
    AnnIndex.delete(path, dead.toDF("vec_id"))
    val after = rowsOf(AnnIndex.probeTopK(spark, path, queries,
      "vec_id", "embedding", 10, 3))
    assert(after.forall(r => !dead.contains(r._3)),
      "tombstoned ids must stop being neighbors immediately")
    assert(after != before)
    // physical purge: retrain rewrites the index without the dead rows
    // and clears the tombstone set; probes keep the post-delete answer
    AnnIndex.retrain(spark, path, k = 8, iters = 2)
    assert(graft.sources.Tombstones.read(spark, path).isEmpty,
      "retrain must clear the applied tombstones")
    val root = AnnIndex.liveRoot(spark, path)
    assert(graft.sources.Snapshots.read(spark, s"$root/cells").get
      .filter(col("id").isin(dead.map(java.lang.Long.valueOf): _*)).count() == 0,
      "the retrained generation must physically exclude deleted rows")
    // per-cell compaction purges without clearing the set
    val path2 = tmpIndex("forget-cell")
    AnnIndex.write(IvfIndex.assign(emb, "vec_id", "embedding", cents), cents, path2)
    AnnIndex.delete(path2, dead.toDF("vec_id"))
    val cell = graft.sources.Snapshots.read(spark, s"$path2/cells").get
      .filter(col("id") === dead.head).select("cell").head().getInt(0)
    AnnIndex.compactCell(spark, path2, cell)
    assert(graft.sources.Snapshots.read(spark, s"$path2/cells").get
      .filter(col("id") === dead.head &&
        col("cell") === cell).count() == 0,
      "cell compaction must purge that cell's tombstoned rows")
    assert(graft.sources.Tombstones.read(spark, path2).nonEmpty,
      "per-cell compaction must NOT clear the index-wide tombstone set")
  }

  test("retrain of an undrifted index is a bit-level no-op on probes and centroids") {
    val cents = IvfIndex.train(emb, "vec_id", "embedding", k = 8, iters = 2)
    val path = tmpIndex("retrain-noop")
    AnnIndex.write(IvfIndex.assign(emb, "vec_id", "embedding", cents), cents, path)
    val before = rowsOf(AnnIndex.probeTopK(spark, path, queries,
      "vec_id", "embedding", 10, 3))
    val cents2 = AnnIndex.retrain(spark, path, k = 8, iters = 2)
    assert(cents2.map(_._2.toSeq) == cents.map(_._2.toSeq),
      "deterministic training over the same stored set must reproduce the quantizer")
    val after = rowsOf(AnnIndex.probeTopK(spark, path, queries,
      "vec_id", "embedding", 10, 3))
    assert(after == before, "retrain of an undrifted index must not change probes")
    // a rebuild ON the retrained path flips the root pointer back
    AnnIndex.write(IvfIndex.assign(emb, "vec_id", "embedding", cents), cents, path)
    assert(rowsOf(AnnIndex.probeTopK(spark, path, queries,
      "vec_id", "embedding", 10, 3)) == before,
      "a fresh write over a retrained path must serve the new root tier")
  }

  test("retrain swaps generations atomically: old root stays readable until vacuumed past grace") {
    val cents = IvfIndex.train(emb, "vec_id", "embedding", k = 8, iters = 2)
    val path = tmpIndex("retrain-gen")
    // start from a virgin path: generation numbers are monotone across a
    // path's whole history, so a re-run over yesterday's scratch would
    // land at g5, not g2
    val fs0 = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs0.delete(new org.apache.hadoop.fs.Path(path), true)
    AnnIndex.write(IvfIndex.assign(emb, "vec_id", "embedding", cents), cents, path)
    AnnIndex.retrain(spark, path, k = 8, iters = 2)
    // one retrain: root manifest points at index@g2, retired root tier kept
    assert(AnnIndex.liveRoot(spark, path).endsWith("index@g2"))
    assert(spark.read.parquet(s"$path/cells").count() == emb.count(),
      "the retired generation must keep one version of grace")
    AnnIndex.retrain(spark, path, k = 8, iters = 2)
    assert(AnnIndex.liveRoot(spark, path).endsWith("index@g3"))
    // grace window moved: the original root tier is now vacuumed
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path/cells")),
      "a twice-retired generation must be vacuumed")
    assert(rowsOf(AnnIndex.probeTopK(spark, path, queries,
      "vec_id", "embedding", 10, 3)).nonEmpty)
  }
}
