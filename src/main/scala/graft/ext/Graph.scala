package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.ext.Ckpt.CkptOps

/** Distributed graph utilities for the dedup family.
  *
  * The near-dup operators ([[Dedup.minhashPairs]], [[Dedup.simhashPairs]],
  * [[Dedup.ngramJaccardPairs]], [[Dedup.embeddingDupPairs]]) emit PAIR
  * edges, but duplicate similarity is transitive in practice: a~b and b~c
  * usually means {a,b,c} is one duplicate cluster even when (a,c) never
  * band-matched. Turning pairs into clusters is connected components —
  * the missing step between "candidate pairs" and "keep one per cluster"
  * in any production-scale dedup (the reference has no equivalent; this is
  * part of the training-data-pipeline superset).
  *
  * Algorithm: alternating large-star / small-star (Kiveris, Lattanzi,
  * Mirrokni, Rastogi, Vassilvitskii — "Connected Components in MapReduce
  * and Beyond", SoCC 2014). Converges in O(log² n) rounds; every round is
  * one partial-aggregated `groupBy(u).min(v)` plus one equi-join — no
  * `collect_list` adjacency arrays, so a 10⁸-degree hub node never
  * materializes a neighbor list on any executor (the failure mode of the
  * naive label-propagation-with-collect approach at 100 TB). Shuffle per
  * round is O(|E|) ids-only rows.
  *
  * Lineage is truncated every round with an eager `localCheckpoint`
  * (iterative DataFrame plans otherwise grow exponentially and stall the
  * optimizer), and every SUPERSEDED round's checkpoint is freed via
  * [[Ckpt.free]] the moment the next round materializes — resident
  * checkpoint state is O(1) frames, not O(rounds) (see Ckpt's scaladoc
  * for why Dataset.unpersist cannot do this). On a real cluster prefer
  * `spark.sparkContext.setCheckpointDir(...)` + `.checkpoint(true)` —
  * same call shape, HDFS-durable instead of executor-local.
  */
object Graph {

  /** Edge-count threshold for the adaptive driver union-find fast path in
    * [[components]] (~128 MB of id pairs): below it the distributed star
    * loop's fixed per-round action latency dwarfs the actual work.
    */
  val MaxDriverEdges: Long = 1L << 23

  /** Star edges `(id, component)` for every NON-ROOT vertex that appears in
    * `edges`, where `component` is the minimum vertex id reachable from
    * `id`. Roots (the minima) and isolated vertices are not emitted — use
    * [[components]] / [[componentsFor]] for the closed surface.
    */
  private def starEdges(edges: DataFrame, src: String, dst: String,
                        maxIter: Int,
                        maxDriverEdges: Long = Graph.MaxDriverEdges): DataFrame = {
    val undirected = edges
      .select(col(src).cast(LongType).as("u"), col(dst).cast(LongType).as("v"))
      .where(col("u").isNotNull && col("v").isNotNull && col("u") =!= col("v"))
      .select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
      .distinct()

    // order-independent set signature for the convergence check: xor of
    // per-edge hashes never overflows (ANSI sum would throw) and two
    // distinct edge sets collide with probability ~2⁻⁶⁴
    def signature(e: DataFrame): (Long, Long) = {
      val r = e.agg(count(lit(1)).as("n"),
        coalesce(expr("bit_xor(xxhash64(u, v))"), lit(0L)).as("x")).head()
      (r.getLong(0), r.getLong(1))
    }

    // large-star: every neighbor v > u links to m = min(Γ(u) ∪ {u}).
    // Strictly-larger orientation keeps the step monotone (paper lemma 1).
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy("u").agg(min(col("v")).as("mv"))
        .select(col("u"), least(col("u"), col("mv")).as("m"))
      sym.join(mins, "u")
        .where(col("v") > col("u") && col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .distinct()
    }

    // small-star: u and all its smaller neighbors link to their minimum.
    def smallStar(e: DataFrame): DataFrame = {
      val o = e.select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      val mins = o.groupBy("u").agg(min(col("v")).as("m"))
      val fromNeighbors = o.join(mins, "u")
        .select(col("v").as("nu"), col("m").as("nv"))
      val fromSelf = mins.select(col("u").as("nu"), col("m").as("nv"))
      fromNeighbors.union(fromSelf)
        .where(col("nu") =!= col("nv"))
        .select(col("nu").as("u"), col("nv").as("v"))
        .distinct()
    }

    val lp = new Ckpt.Loop // size-adaptive level for the recurring frame
    var e = lp.local(undirected)
    var sig = signature(e)

    // Adaptive small-graph path: the star loop costs a fixed ~2 driver
    // actions (checkpoint + signature) per round regardless of |E| — for
    // a few thousand edges that overhead IS the runtime (seconds of job
    // latency for microseconds of work). Below the threshold (~128 MB of
    // ids at the default) the edge set provably fits on the driver:
    // union-find locally and return the identical fixed point. The
    // distributed loop remains the ONLY path above the threshold — the
    // decision reads the count the convergence check needs anyway.
    if (sig._1 <= maxDriverEdges) {
      val spark = edges.sparkSession
      import spark.implicits._
      val parent = collection.mutable.LongMap.empty[Long]
      def find(x0: Long): Long = {
        var x = x0
        while (parent.getOrElse(x, x) != x) x = parent.getOrElse(x, x)
        var y = x0 // path compression
        while (parent.getOrElse(y, y) != y) { val n = parent(y); parent(y) = x; y = n }
        x
      }
      e.collect().foreach { r =>
        val (ru, rv) = (find(r.getLong(0)), find(r.getLong(1)))
        if (ru != rv) { // min root wins — components label by minimum id
          if (ru < rv) parent(rv) = ru else parent(ru) = rv
        }
      }
      val out = parent.keys.toSeq.sorted.map(v => (v, find(v))).filter(p => p._1 != p._2)
      Ckpt.free(e) // collected to the driver — the blocks are dead weight now
      return out.toDF("u", "v")
    }

    var iter = 0
    var converged = e.isEmpty
    while (!converged && iter < maxIter) {
      val prev = e
      e = lp.local(smallStar(largeStar(e))) // eager: prev fully consumed
      Ckpt.free(prev) // bound resident state to the live round, not O(rounds)
      val next = signature(e)
      converged = next == sig
      sig = next
      iter += 1
    }
    if (!converged && !e.isEmpty)
      System.err.println(
        s"[graft] connectedComponents: not converged after $maxIter rounds")
    e // at the fixed point: (u > v) edges are exactly (vertex -> component min)
  }

  /** `(id, component)` for every vertex incident to at least one edge;
    * `component` is the minimum id in the vertex's connected component
    * (roots map to themselves).
    */
  def components(edges: DataFrame, src: String = "src", dst: String = "dst",
                 maxIter: Int = 25): DataFrame = {
    val stars = starEdges(edges, src, dst, maxIter)
    val nonRoots = stars.select(col("u").as("id"), col("v").as("component"))
    val roots = stars.select(col("v").as("id")).distinct()
      .select(col("id"), col("id").as("component"))
    nonRoots.union(roots)
  }

  /** `(id, component)` for EVERY vertex in `vertices` — vertices with no
    * edge become singleton components of themselves. This is the closed
    * form a dedup pipeline wants: every document gets a cluster id.
    */
  def componentsFor(vertices: DataFrame, idCol: String,
                    edges: DataFrame, src: String = "src", dst: String = "dst",
                    maxIter: Int = 25): DataFrame = {
    val labeled = components(edges, src, dst, maxIter)
      .withColumnRenamed("id", idCol)
    vertices.select(col(idCol).cast(LongType).as(idCol))
      .join(labeled, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("component"), col(idCol)).as("component"))
  }

  /** Cluster-aware near-dup removal: pair edges → connected components →
    * keep the minimum-id document of each cluster. Subsumes the edge-wise
    * [[Dedup.minhashDedup]] (which can over-keep when similarity chains
    * a~b~c without an (a,c) edge).
    */
  def clusterDedup(df: DataFrame, idCol: String, pairs: DataFrame,
                   idA: String = "id_a", idB: String = "id_b"): DataFrame = {
    val comp = componentsFor(df.select(col(idCol)), idCol, pairs, idA, idB)
    df.join(comp, Seq(idCol))
      .where(col(idCol) === col("component"))
      .drop("component")
  }

  /** PageRank in INTEGER micro-units — deterministic across engines by
    * construction: per-node contribution is `rank div out_degree`
    * (integral truncation), the damping step is
    * `150000 + (850 · Σcontribs) div 1000`, and every sum is an integer
    * sum (order-free), so a fixed iteration count produces bit-identical
    * ranks anywhere — which is what lets the driver hash-compare against
    * a DuckDB oracle with the iterations unrolled in SQL. (Float PageRank
    * can never hash-match: its sums are accumulation-order-dependent.)
    *
    * Scale shape: per iteration ONE join of edges to (rank div degree) on
    * src and ONE partial-aggregated groupBy(dst) — the standard Pregel
    * message flow as DataFrame ops; ranks/degrees are id→long pairs, the
    * edge list is ids only. Nodes without incoming edges settle at the
    * base 150000. Dangling nodes (no OUT-edges) simply leak their mass —
    * callers wanting classic PageRank semantics should symmetrize or add
    * sink edges first.
    */
  def pageRankInt(edges: DataFrame, src: String = "src", dst: String = "dst",
                  iters: Int = 3): DataFrame = {
    // lineage hygiene (same rule as the components loop): without the
    // per-iteration checkpoint, iteration k's lazy plan re-runs
    // iterations 1..k-1 AND the edge derivation — quadratic recompute
    val e = edges.select(col(src).cast(LongType).as("src"),
      col(dst).cast(LongType).as("dst")).distinct().localCkpt()
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct()
      .localCkpt()
    val deg = e.groupBy(col("src").as("id")).agg(count(lit(1)).as("d"))
      .localCkpt()
    var ranks = nodes.withColumn("r", lit(1000000L))
    var prevCkpt: DataFrame = null
    val lp = new Ckpt.Loop // size-adaptive level for the recurring rank frame
    for (i <- 0 until iters) {
      val outbound = ranks.join(deg, "id")
        .select(col("id").as("src"), expr("r div d").as("c"))
      val inbox = e.join(outbound, "src")
        .groupBy(col("dst").as("id")).agg(sum(col("c")).as("sc"))
      ranks = nodes.join(inbox, Seq("id"), "left")
        .select(col("id"),
          (lit(150000L) + expr("(850 * coalesce(sc, 0)) div 1000")).as("r"))
      if (i < iters - 1) {
        ranks = lp.local(ranks)
        Ckpt.freeIfSet(prevCkpt) // superseded once the new round materialized
        prevCkpt = ranks
      }
    }
    ranks.select(col("id"), col("r").as("rank_micro"))
  }

  /** Personalized PageRank (Jeh–Widom 2003) in the same integer
    * fixed-point discipline as [[pageRankInt]]: the teleport term lands
    * ONLY on the seed set, so rank mass concentrates in the seeds'
    * neighborhoods — the "expand outward from my known-good examples"
    * primitive behind seed-based corpus expansion and recommendation.
    *
    * Per iteration: r(v) ← 150000·seed(v) + 0.85·Σ_{u→v} r(u)/d(u),
    * starting from r₀ = 10⁶·seed(v); all arithmetic is integral (div),
    * so a fixed iteration count is bit-identical across engines and the
    * oracle can unroll it. Scale shape is pageRankInt's exactly: one
    * ids-only join + one partial-aggregated groupBy per iteration, the
    * seed indicator joined once up front; lineage truncated per round.
    * Non-seed nodes unreachable from any seed settle at exactly 0.
    */
  def personalizedPageRankInt(edges: DataFrame, seeds: DataFrame,
                              src: String = "src", dst: String = "dst",
                              idCol: String = "id", iters: Int = 3): DataFrame = {
    val e = edges.select(col(src).cast(LongType).as("src"),
      col(dst).cast(LongType).as("dst")).distinct().localCkpt()
    val sd = seeds.select(col(idCol).cast(LongType).as("id")).distinct()
      .withColumn("seed", lit(1L))
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct()
      .join(sd, Seq("id"), "left")
      .select(col("id"), coalesce(col("seed"), lit(0L)).as("seed"))
      .localCkpt()
    val deg = e.groupBy(col("src").as("id")).agg(count(lit(1)).as("d"))
      .localCkpt()
    var ranks = nodes.select(col("id"), (col("seed") * 1000000L).as("r"))
    var prevCkpt: DataFrame = null
    val lp = new Ckpt.Loop
    for (i <- 0 until iters) {
      val outbound = ranks.join(deg, "id")
        .select(col("id").as("src"), expr("r div d").as("c"))
      val inbox = e.join(outbound, "src")
        .groupBy(col("dst").as("id")).agg(sum(col("c")).as("sc"))
      ranks = nodes.join(inbox, Seq("id"), "left")
        .select(col("id"),
          (col("seed") * 150000L + expr("(850 * coalesce(sc, 0)) div 1000")).as("r"))
      if (i < iters - 1) {
        ranks = lp.local(ranks)
        Ckpt.freeIfSet(prevCkpt)
        prevCkpt = ranks
      }
    }
    ranks.select(col("id"), col("r").as("ppr_micro"))
  }

  /** HITS hubs & authorities in INTEGER micro-units (Kleinberg 1999),
    * completing the link-analysis family next to [[pageRankInt]]. Per
    * iteration: authority(v) = Σ hub(u) over in-edges u→v, then hub(u) =
    * Σ authority(v) over out-edges — each renormalized to the 0..10⁶
    * range by the round's MAX (L∞ instead of the classic L2: max is an
    * order-free integer aggregate, so a fixed iteration count is
    * bit-identical across engines and the DuckDB oracle can unroll it;
    * an L2 norm would need a float sqrt whose summation order leaks in).
    *
    * Scale shape: per half-iteration ONE ids-only join of the edge list
    * to the current score map and ONE partial-aggregated groupBy — the
    * Pregel message flow, same as pageRankInt. The Σscore·10⁶ product
    * runs in DECIMAL(38,0) (HUGEINT in the oracle) so billion-edge
    * in-degrees cannot wrap int64. Nodes with no in-edges get
    * authority 0; no out-edges → hub 0. Lineage is truncated per
    * iteration like every iterative op here.
    */
  def hitsInt(edges: DataFrame, src: String = "src", dst: String = "dst",
              iters: Int = 2): DataFrame = {
    val e = edges.select(col(src).cast(LongType).as("src"),
      col(dst).cast(LongType).as("dst")).distinct().localCkpt()
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct()
      .localCkpt()
    def renorm(raw: DataFrame, out: String): DataFrame = {
      val mx = raw.agg(max("raw").as("mx"))
      nodes.join(raw, Seq("id"), "left").crossJoin(broadcast(mx))
        .select(col("id"),
          expr("CAST(CAST(coalesce(raw, 0) AS DECIMAL(38,0)) * 1000000 div mx AS BIGINT)")
            .as(out))
    }
    var hub = nodes.withColumn("h", lit(1000000L))
    var auth = nodes.withColumn("a", lit(0L))
    var prevAuth: DataFrame = null
    var prevHub: DataFrame = null
    val lpAuth = new Ckpt.Loop // one adaptive handle per recurring frame
    val lpHub = new Ckpt.Loop
    for (i <- 0 until iters) {
      // the raw score sums run in DECIMAL(38,0) too (not just the renorm
      // product): scores reach 1e6, so a LongType sum would wrap silently
      // at ~9.2e12 in-degree while the oracle's HUGEINT sum keeps going
      val araw = e.join(hub.select(col("id").as("src"), col("h")), "src")
        .groupBy(col("dst").as("id")).agg(sum(col("h").cast("decimal(38,0)")).as("raw"))
      auth = lpAuth.local(renorm(araw, "a"))
      Ckpt.freeIfSet(prevAuth) // last round's auth: fully consumed by hub+this auth
      prevAuth = auth
      val hraw = e.join(auth.select(col("id").as("dst"), col("a")), "dst")
        .groupBy(col("src").as("id")).agg(sum(col("a").cast("decimal(38,0)")).as("raw"))
      hub = renorm(hraw, "h")
      if (i < iters - 1) {
        hub = lpHub.local(hub)
        Ckpt.freeIfSet(prevHub)
        prevHub = hub
      }
    }
    hub.join(auth, "id")
      .select(col("id"), col("h").as("hub_micro"), col("a").as("auth_micro"))
  }

  /** Bounded-hop BFS: minimum hop distance from any source vertex,
    * up to `maxHops` (Pregel frontier expansion as DataFrame ops —
    * the "who is within N hops of a flagged account" query).
    *
    * Per hop: ONE ids-only join of the previous frontier to the edge
    * list + a min-aggregate; lineage truncated per hop like the other
    * iterative graph ops. A fixed hop bound is also what makes the
    * result expressible as an unrolled SQL oracle — all-integer output,
    * engine-exact.
    */
  def bfsHops(edges: DataFrame, sources: DataFrame, srcCol: String = "src",
              dstCol: String = "dst", idCol: String = "id",
              maxHops: Int = 3): DataFrame = {
    require(maxHops >= 0, "maxHops must be non-negative")
    val e = edges.select(col(srcCol).cast(LongType).as("src"),
      col(dstCol).cast(LongType).as("dst")).distinct().localCkpt()
    val dist0 = sources.select(col(idCol).cast(LongType).as("id"))
      .distinct().withColumn("dist", lit(0L))
    bfsLoop(e, dist0, Seq.empty, maxHops)
  }

  /** Shared frontier-expansion loop for [[bfsHops]]/[[bfsHopsKeyed]]:
    * `keyCols` ride the frontier untouched (empty = merged multi-source,
    * Seq("seed") = per-source distances).
    */
  private def bfsLoop(e: DataFrame, dist0: DataFrame, keyCols: Seq[String],
                      maxHops: Int): DataFrame = {
    var dist = dist0
    var prevCkpt: DataFrame = null
    val lp = new Ckpt.Loop
    for (k <- 1 to maxHops) {
      val frontier = dist.filter(col("dist") === (k - 1))
      val next = e.join(
          frontier.select((keyCols.map(col) :+ col("id").as("src")): _*), "src")
        .select((keyCols.map(col) :+ col("dst").as("id")): _*).distinct()
        .withColumn("dist", lit(k.toLong))
      dist = lp.local(dist.union(next)
        .groupBy((keyCols :+ "id").map(col): _*).agg(min(col("dist")).as("dist")))
      Ckpt.freeIfSet(prevCkpt) // hop k-1's frame: folded into the new union
      prevCkpt = dist
    }
    dist
  }

  /** Per-seed bounded-hop BFS: like [[bfsHops]] but distances are kept
    * PER SOURCE — the frontier carries (seed, id) pairs, so one run
    * yields every seed's distance map (multi-source centrality in
    * |seeds|× the ids-only traffic, not |seeds|× the jobs). Returns
    * (seed, id, dist).
    */
  def bfsHopsKeyed(edges: DataFrame, sources: DataFrame,
                   srcCol: String = "src", dstCol: String = "dst",
                   idCol: String = "id", maxHops: Int = 3): DataFrame = {
    require(maxHops >= 0, "maxHops must be non-negative")
    val e = edges.select(col(srcCol).cast(LongType).as("src"),
      col(dstCol).cast(LongType).as("dst")).distinct().localCkpt()
    val dist0 = sources.select(col(idCol).cast(LongType).as("seed"))
      .distinct().select(col("seed"), col("seed").as("id"), lit(0L).as("dist"))
    bfsLoop(e, dist0, Seq("seed"), maxHops)
  }

  /** Harmonic centrality over a bounded horizon (Boldi & Vigna 2014's
    * truncated variant): per seed, Σ 1/d over reached nodes within
    * `maxHops` — in EXACT integer micro-units (10⁶ div d — hop distances
    * are integers, so there is no float anywhere).
    */
  def harmonicCentrality(edges: DataFrame, sources: DataFrame,
                         maxHops: Int = 3): DataFrame =
    bfsHopsKeyed(edges, sources, maxHops = maxHops)
      .filter(col("dist") > 0)
      .groupBy("seed")
      .agg(count(lit(1)).as("n_reached"),
        sum(expr("1000000 div dist")).as("harmonic_micro"))

  /** Distinct co-occurrence edges (src < dst) from (group, item) rows,
    * EXCLUDING groups wider than `maxGroupSize` items: the pair build is
    * quadratic in group width, so a single pathological giant group (a
    * mega-order, a boilerplate cluster) would otherwise own the whole
    * stage — the same reasoning as the LSH bucket star cap. The cap is
    * part of the operator's definition (not a best-effort heuristic), so
    * bounded-replay oracles can apply the identical cap and stay exact.
    */
  def coOccurrencePairs(rows: DataFrame, group: String, item: String,
                        maxGroupSize: Int): DataFrame = {
    require(maxGroupSize >= 2, "coOccurrencePairs: cap must be >= 2")
    val gi = rows.select(col(group).as("o"), col(item).as("p")).distinct()
    val keep = gi.groupBy("o").agg(count(lit(1)).as("np"))
      .filter(col("np") <= maxGroupSize).select("o")
    val capped = gi.join(keep, Seq("o"), "left_semi")
    capped.as("x").join(capped.as("y"),
        col("x.o") === col("y.o") && col("x.p") < col("y.p"))
      .select(col("x.p").as("src"), col("y.p").as("dst")).distinct()
  }

  /** k-core membership (Seidman 1983): iteratively peel vertices whose
    * degree among the remaining vertices is < k, until fixpoint. Returns
    * surviving vertices with their in-core degree — the standard graph
    * filter for boilerplate/spam neighborhoods in web-corpus curation.
    *
    * Input edges may be directed; they are symmetrized and de-duplicated
    * first, so `core_deg` is a true undirected degree. Per round: one
    * mergeable degree aggregate + two ids-only semi-joins, lineage
    * truncated per round. Rounds are bounded by the peeling depth (the
    * degeneracy ordering's layer count — small in practice), and peeling
    * is MONOTONE: once the fixpoint is reached further rounds are no-ops,
    * which is what lets a bounded unrolled SQL replay oracle the result
    * exactly.
    */
  def kCore(edges: DataFrame, src: String = "src", dst: String = "dst",
            k: Int = 3, maxRounds: Int = 100,
            assertFixpointWithin: Option[Int] = None): DataFrame = {
    require(k >= 1, "kCore: k must be >= 1")
    val d0 = edges.select(col(src).cast(LongType).as("src"),
      col(dst).cast(LongType).as("dst")).filter(col("src") =!= col("dst"))
    val lp = new Ckpt.Loop // adaptive level; its count doubles as `n`
    var e = lp.local(d0.union(d0.select(col("dst").as("src"), col("src").as("dst")))
      .distinct())
    var n = lp.rows
    var round = 0
    var done = n == 0
    while (!done && round < maxRounds) {
      val keep = e.groupBy("src").agg(count(lit(1)).as("d"))
        .filter(col("d") >= k).select(col("src").as("kid"))
      val e2 = lp.local(e
        .join(keep, col("src") === col("kid"), "left_semi")
        .join(keep, col("dst") === col("kid"), "left_semi"))
      Ckpt.free(e) // peeled round fully superseded — a deep peel must not
      val n2 = lp.rows //  hold rounds×|edges| of dead blocks (30× probe
      done = n2 == n || n2 == 0 //  showed exactly that bend)
      e = e2; n = n2; round += 1
    }
    // A bounded-unroll SQL replay is exact only if the fixpoint landed
    // within the unroll depth — fail fast (with the observed depth)
    // rather than let a larger fixture silently diverge from its oracle.
    assertFixpointWithin.foreach { lim =>
      require(done && round <= lim,
        s"kCore: fixpoint not reached within $lim rounds (ran $round, " +
          s"converged=$done) — a $lim-round unrolled oracle would be stale; " +
          "raise the unroll depth to match")
    }
    e.groupBy(col("src").as("id")).agg(count(lit(1)).as("core_deg"))
  }

  /** Synchronous label propagation (Raghavan, Albert, Kumara 2007) with a
    * deterministic tie-break: labels start as vertex ids; each round every
    * vertex adopts the most frequent label among its neighbors' PREVIOUS
    * labels (ties → smallest label). A fixed iteration count keeps the
    * result deterministic AND expressible as an unrolled SQL oracle —
    * async/random-order LPA is neither. Per round: one ids-only join, one
    * (vertex, label) count aggregate, one argmax window over the count
    * frame (partitioned by vertex — parallel, bounded by the distinct
    * neighbor-label count per vertex, never the corpus).
    */
  def labelPropagation(edges: DataFrame, src: String = "src",
                       dst: String = "dst", iters: Int = 3): DataFrame = {
    require(iters >= 0, "labelPropagation: iters must be >= 0")
    val d0 = edges.select(col(src).cast(LongType).as("src"),
      col(dst).cast(LongType).as("dst")).filter(col("src") =!= col("dst"))
    val e = d0.union(d0.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().localCkpt()
    val nodes = e.select(col("src").as("id")).distinct().localCkpt()
    var lbl = nodes.withColumn("lbl", col("id"))
    var prevCkpt: DataFrame = null
    val lp = new Ckpt.Loop
    for (i <- 0 until iters) {
      val freq = e.join(lbl.select(col("id").as("dst"), col("lbl")), "dst")
        .groupBy(col("src").as("id"), col("lbl")).agg(count(lit(1)).as("c"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("id").orderBy(col("c").desc, col("lbl").asc)
      val pick = freq.withColumn("__rn__", row_number().over(w))
        .filter(col("__rn__") === 1).select(col("id"), col("lbl").as("nl"))
      lbl = lbl.join(pick, Seq("id"), "left")
        .select(col("id"), coalesce(col("nl"), col("lbl")).as("lbl"))
      if (i < iters - 1) {
        lbl = lp.local(lbl)
        Ckpt.freeIfSet(prevCkpt)
        prevCkpt = lbl
      }
    }
    lbl
  }

  /** Per-vertex triangle counts via degree-ordered edge orientation —
    * the "compact-forward" / node-iterator++ scheme (Latapy, TCS 2008;
    * Suri & Vassilvitskii's MapReduce variant, WWW 2011).
    *
    * Every undirected edge is oriented from the (degree, id)-smaller
    * endpoint to the larger; each triangle then has exactly ONE vertex
    * with two out-edges, so wedges (two out-neighbors of one vertex)
    * joined against the closing edge count each triangle once, no
    * division by 3/6 needed. Orienting by DEGREE is the scale move: the
    * wedge fan-out per vertex is its OUT-degree, which degree-ordering
    * bounds by O(√|E|) even when raw degrees are power-law skewed — a
    * celebrity node with 10⁶ followers produces wedges only from its
    * (few) higher-degree peers, not from its fan base.
    *
    * Output (id, deg, tri_cnt) is all-integer ⇒ engine-exact, so the
    * driver hash-compares against an id-ordered 3-way-join DuckDB oracle
    * (orientation changes the join shape, not the triangle set).
    */
  def triangleCounts(edges: DataFrame, src: String = "src", dst: String = "dst"): DataFrame = {
    // e is consumed THREE times (degrees, orientation, closing-edge join)
    // and oriented twice (both wedge sides) — without truncation each
    // consumer would re-run the caller's whole edge derivation (for a
    // co-purchase graph that's the pair-generation self-join, the most
    // expensive step of the query); with the explode fix below this
    // took the sf0.1 query from 43 s to ~9 s
    val e = edges
      .select(least(col(src), col(dst)).cast(LongType).as("u"),
        greatest(col(src), col(dst)).cast(LongType).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .localCkpt()
    val deg = e.select(col("u").as("id")).union(e.select(col("v").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
      .localCkpt()
    // fanOut AFTER the checkpoint (the guard reads the materialized
    // partition count, which AQE byte-coalescing has usually shrunk to a
    // handful for an ids-only edge list): the wedge stream below fans out
    // ~30× from `oriented`'s rows map-side, so its partition count IS the
    // parallelism of the query's dominant stage (r12 ProbeJobs: 26 s of
    // task time through 10 partitions)
    val oriented = Par.fanOut(e
      .join(deg.select(col("id").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("id").as("v"), col("deg").as("dv")), "v")
      .select(when(col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v")),
          struct(col("u").as("a"), col("v").as("b")))
        .otherwise(struct(col("v").as("a"), col("u").as("b"))).as("o"))
      .select(col("o.a").as("a"), col("o.b").as("b"))
      .localCkpt())
    // wedges: out-neighbor pairs of each apex; b < c keeps exactly one
    // ordering per pair and matches the (u < v)-normalized closing edge.
    // On a dense graph wedges dwarf edges (41M wedges from 1.2M edges on
    // the sf0.1 co-purchase graph) — they must NEVER hit an exchange. The
    // self-join shuffles only `oriented` (edge-sized); the closing-edge
    // check is a broadcast hash probe when the edge list fits (≤~5M
    // edges ≈ 80 MB), so the wedge stream stays pipelined map-side.
    // Above the cap it degrades to a partitioned join — the 100 TB-safe
    // fallback.
    val fitsBroadcast = e.count() <= 5000000L
    val wedgeRight = {
      val r = oriented.select(col("a"), col("b").as("c"))
      if (fitsBroadcast) broadcast(r) else r
    }
    val wedges = oriented
      .join(wedgeRight, "a")
      .filter(col("b") < col("c"))
    val closing = e.select(col("u").as("b"), col("v").as("c"))
    val closingSide = if (fitsBroadcast) broadcast(closing) else closing
    val tris = wedges.join(closingSide, Seq("b", "c"))
    // explode, don't union: a 3-branch union re-executes the whole
    // triangle pipeline once per branch (3× the wedge work); explode
    // emits all three memberships in the same single pass
    val perVertex = tris
      .select(explode(array(col("a"), col("b"), col("c"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("tri_cnt"))
    deg.join(perVertex, Seq("id"), "left")
      .select(col("id"), col("deg"), coalesce(col("tri_cnt"), lit(0L)).as("tri_cnt"))
  }
}
