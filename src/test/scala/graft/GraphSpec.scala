package graft

import org.apache.spark.sql.functions._
import graft.ext.Graph

class GraphSpec extends SparkSpec {

  import sqlImplicits._

  private def cc(edges: Seq[(Long, Long)]): Map[Long, Long] =
    Graph.components(edges.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("connected components: chain, star, cycle, self-loop, duplicate edges") {
    // chain 1-2-3-4 (multi-hop transitivity), star 10<-{11,12,13},
    // cycle 20-21-22-20, self loop 30-30 (dropped => absent), dup edges
    val labels = cc(Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 3L),
      (11L, 10L), (12L, 10L), (13L, 10L),
      (20L, 21L), (21L, 22L), (22L, 20L),
      (30L, 30L)))
    assert(labels == Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("connected components: agrees with union-find on random graphs") {
    val rnd = new scala.util.Random(42)
    for (trial <- 0 until 3) {
      val n = 120 + trial * 40
      val edges = Seq.fill(n) {
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)
      }.filter { case (a, b) => a != b }

      // reference union-find
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = edges.flatMap(e => Seq(e._1, e._2)).distinct
        .map(v => v -> find(v.toInt).toLong).toMap

      assert(cc(edges) == expected, s"trial $trial")
    }
  }

  test("componentsFor closes over vertex set: singletons label themselves") {
    val vertices = (1L to 8L).toDF("doc_id")
    val edges = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("src", "dst")
    val labels = Graph.componentsFor(vertices, "doc_id", edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L,
      5L -> 5L, 6L -> 5L, 7L -> 7L, 8L -> 8L))
  }

  test("clusterDedup keeps exactly one representative per transitive cluster") {
    val docs = (1L to 8L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    // 1~2, 2~3 chains into {1,2,3} even though (1,3) never paired
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val kept = Graph.clusterDedup(docs, "doc_id", pairs)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 4L, 5L, 7L, 8L))
  }

  test("clusterDedup on planted near-dup clusters via minhash pairs") {
    implicit val s = spark
    val docs = SparkEntry.T(spark, "/root/testdata/sf0.001", "documents")
    val pairs = ext.Dedup.minhashPairs(docs, "doc_id", "text")
    val kept = Graph.clusterDedup(docs, "doc_id", pairs)
    val n = docs.count()
    val k = kept.count()
    // removes at least the edge-wise losers, never more than the pair count
    val losers = pairs.select("id_b").distinct().count()
    assert(k <= n - losers + pairs.count()) // sanity envelope
    assert(k < n && k > n / 2)
    // every dropped doc is reachable from its cluster representative
    val comp = Graph.componentsFor(docs.select("doc_id"), "doc_id",
      pairs, "id_a", "id_b")
    val reps = comp.groupBy("component").agg(min("doc_id").as("rep"))
    assert(reps.where(col("component") =!= col("rep")).count() == 0)
  }

  test("pageRankInt: hand-computed path graph, exact integer ranks") {
    import spark.implicits._
    // symmetrized path 1—2—3: after one iteration
    //   r(1) = r(3) = 150000 + 850·(10⁶ div 2) div 1000 = 575000
    //   r(2) = 150000 + 850·(10⁶ + 10⁶) div 1000       = 1850000
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L)).toDF("src", "dst")
    val r1 = Graph.pageRankInt(edges, iters = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r1 === Map(1L -> 575000L, 2L -> 1850000L, 3L -> 575000L))
    // deterministic across re-runs (integer arithmetic, no fp drift)
    val r3a = Graph.pageRankInt(edges, iters = 3).collect().map(_.toSeq).toSet
    val r3b = Graph.pageRankInt(edges, iters = 3).collect().map(_.toSeq).toSet
    assert(r3a === r3b)
  }

  test("hitsInt matches an independent BigInt replay on a planted directed graph") {
    import spark.implicits._
    // hubs 1,2,3 endorse authorities 10,11 (3 also 12); a detached edge
    // 20→21 checks the no-in-edge / no-out-edge zero conventions
    val edges = Seq((1L, 10L), (1L, 11L), (2L, 10L), (2L, 11L),
      (3L, 10L), (3L, 11L), (3L, 12L), (20L, 21L))
    val got = Graph.hitsInt(edges.toDF("src", "dst"), iters = 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap

    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    var hub = nodes.map(_ -> BigInt(1000000)).toMap
    var auth = Map.empty[Long, BigInt]
    for (_ <- 0 until 2) {
      val araw = edges.groupBy(_._2).map { case (v, es) => v -> es.map(e => hub(e._1)).sum }
      val amx = araw.values.max
      auth = nodes.map(v => v -> araw.getOrElse(v, BigInt(0)) * 1000000 / amx).toMap
      val hraw = edges.groupBy(_._1).map { case (u, es) => u -> es.map(e => auth(e._2)).sum }
      val hmx = hraw.values.max
      hub = nodes.map(v => v -> hraw.getOrElse(v, BigInt(0)) * 1000000 / hmx).toMap
    }
    val expected = nodes.map(v => v -> (hub(v).toLong, auth(v).toLong)).toMap
    assert(got == expected)
    // the widest hub and the most-endorsed authorities sit at the cap
    assert(got(3L)._1 == 1000000L && got(10L)._2 == 1000000L && got(11L)._2 == 1000000L)
    // authorities never act as hubs here; hubs never as authorities
    assert(got(10L)._1 == 0L && got(1L)._2 == 0L)
  }

  test("triangle counts: hand graph, direction/duplicate invariance, skew apex") {
    // two triangles sharing edge 2-3, plus a pendant vertex 4
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (2L, 5L), (3L, 5L))
    def counts(e: Seq[(Long, Long)]): Map[Long, (Long, Long)] =
      Graph.triangleCounts(e.toDF("src", "dst"))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val expected = Map(
      1L -> (2L, 1L), 2L -> (3L, 2L), 3L -> (4L, 2L), 4L -> (1L, 0L), 5L -> (2L, 1L))
    assert(counts(edges) == expected)
    // reversing directions and duplicating edges must not change anything
    val noisy = edges.map { case (a, b) => (b, a) } ++ edges ++ edges
    assert(counts(noisy) == expected)
  }

  test("bfsHops: chain distances, unreachable absent, min over multiple paths") {
    // chain 1-2-3-4-5, shortcut 1-4, island 99-100
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (1L, 4L), (99L, 100L))
      .toDF("src", "dst")
    val got = Graph.bfsHops(edges, Seq(1L).toDF("id"), maxHops = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // NOTE: edges are used as given (directed); 1→2→3→4, 1→4→5
    assert(got == Map(1L -> 0L, 2L -> 1L, 4L -> 1L, 3L -> 2L, 5L -> 2L))
    // maxHops truncates: from 5 nothing is reachable (no out-edges)
    val from5 = Graph.bfsHops(edges, Seq(5L).toDF("id"), maxHops = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(from5 == Map(5L -> 0L))
  }

  test("kCore: agrees with brute-force peeling on random graphs") {
    def brute(eSet: Set[(Long, Long)], k: Int): Map[Long, Long] = {
      var adj = eSet.flatMap { case (a, b) => Seq(a -> b, b -> a) }
        .groupBy(_._1).map { case (v, es) => v -> es.map(_._2) }
      var changed = true
      while (changed) {
        val drop = adj.collect { case (v, ns) if ns.size < k => v }.toSet
        changed = drop.nonEmpty
        adj = adj.collect { case (v, ns) if !drop(v) =>
          v -> ns.filterNot(drop) }.filter(_._2.nonEmpty)
        adj = adj.filter(_._2.nonEmpty)
      }
      adj.map { case (v, ns) => v -> ns.size.toLong }
    }
    val rnd = new scala.util.Random(11)
    for (trial <- 0 until 3) {
      val n = 25 + trial * 10
      val edges = Seq.fill(n * 3)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      val eSet = edges.map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
      for (k <- Seq(2, 3, 4)) {
        val got = Graph.kCore(edges.toDF("src", "dst"), k = k)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == brute(eSet, k), s"trial $trial k=$k")
      }
    }
  }

  test("coOccurrencePairs: a planted giant group is excluded by the width cap") {
    // groups: 100 → items {1,2,3} (width 3, under cap); 200 → items
    // 10..29 (width 20, OVER a cap of 10 — the pathological hot order)
    val rows = (Seq((100L, 1L), (100L, 2L), (100L, 3L)) ++
      (10L until 30L).map(p => (200L, p))).toDF("g", "i")
    val capped = Graph.coOccurrencePairs(rows, "g", "i", maxGroupSize = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // only the small group's C(3,2)=3 ordered pairs survive; none of the
    // giant group's C(20,2)=190 pairs are built
    assert(capped == Set((1L, 2L), (1L, 3L), (2L, 3L)))
    // with the cap above every width the result is the full pair set
    val uncapped = Graph.coOccurrencePairs(rows, "g", "i", maxGroupSize = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped.size == 3 + 190)
    assert(uncapped.filter(p => p._1 < 10L) == Set((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("kCore: assertFixpointWithin fails fast when the unroll is too shallow") {
    // a 4-clique peels to fixpoint immediately at k=2 (nothing drops) —
    // within 2 rounds; but a path graph at k=2 peels one endpoint layer
    // per round, so a 1-round budget must throw with a clear message
    val clique = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
      .toDF("src", "dst")
    // converges well within budget: no throw
    Graph.kCore(clique, k = 2, assertFixpointWithin = Some(5)).collect()
    val path = (1L until 8L).map(i => (i, i + 1)).toDF("src", "dst")
    val ex = intercept[IllegalArgumentException] {
      Graph.kCore(path, k = 2, maxRounds = 1, assertFixpointWithin = Some(1))
        .collect()
    }
    assert(ex.getMessage.contains("fixpoint not reached"))
  }

  test("labelPropagation: two cliques joined by a bridge keep separate labels") {
    // cliques {1,2,3} and {10,11,12}, bridge 3-10; 3 sync rounds with
    // min-label tie-break: each clique converges to its min id
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (10L, 11L), (10L, 12L),
      (11L, 12L), (3L, 10L)).toDF("src", "dst")
    val got = Graph.labelPropagation(edges, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.keySet == Set(1L, 2L, 3L, 10L, 11L, 12L))
    // community structure: 1 and 2 share a label; 11 and 12 share a label
    assert(got(1L) == got(2L))
    assert(got(11L) == got(12L))
    assert(got(1L) != got(11L), "the two cliques must not merge")
  }

  test("labelPropagation: 0 iterations returns identity labels") {
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val got = Graph.labelPropagation(edges, iters = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 2L, 3L -> 3L))
  }

  test("triangle counts: agrees with brute-force enumeration on random graphs") {
    val rnd = new scala.util.Random(7)
    for (trial <- 0 until 3) {
      val n = 30 + trial * 10
      val edges = Seq.fill(n * 4)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      val eSet = edges.map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
      val verts = eSet.flatMap { case (a, b) => Seq(a, b) }.toSeq.sorted
      val brute = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
      for {
        i <- verts.indices; j <- (i + 1) until verts.size
        if eSet.contains((verts(i), verts(j)))
        k <- (j + 1) until verts.size
        if eSet.contains((verts(j), verts(k))) && eSet.contains((verts(i), verts(k)))
      } { brute(verts(i)) += 1; brute(verts(j)) += 1; brute(verts(k)) += 1 }
      val got = Graph.triangleCounts(edges.toDF("src", "dst"))
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      val want = verts.map(v => v -> brute(v)).toMap
      assert(got == want, s"trial $trial mismatch")
    }
  }
}
