package graft
package families

import org.apache.spark.sql.functions._
import Shared._

/** The g_ queries: graph analytics over the part co-purchase graph.
  * Each entry holds a query's DuckDB oracle SQL and its builder.
  */
object GraphQueries {

  val entries: Seq[(String, Query)] = Seq(
    "g_kcore" -> Query(kcoreOracleSql)((s, dir) => {
      // k-core (k=80) of the part co-purchase graph: iterative peel to
      // fixpoint (6 rounds at sf0.01); the oracle is a 10-round unrolled
      // replay — peeling is monotone, so rounds past the fixpoint are
      // identity and the bounded unroll is exact (kCore fail-fasts if
      // the fixpoint ever needs more rounds than the unroll covers).
      // The per-order pair fan-out is quadratic in parts-per-order, so
      // orders above a fixed width cap are EXCLUDED before the self-
      // join (the LSH bucket star-cap pattern) — the cap is part of the
      // operator's definition and the oracle applies the identical
      // QUALIFY, so the hash stays exact at any fixture; at sf0.01 the
      // widest order has 7 parts and nothing is dropped.
      val e = ext.Graph.coOccurrencePairs(
        T(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey")),
        "l_orderkey", "l_partkey", maxGroupSize = kcoreOrderCap)
      ext.Graph.kCore(e, k = 80, assertFixpointWithin = Some(10))
        .withColumnRenamed("id", "part_id")
    }),

    "g_labelprop" -> Query(labelpropOracleSql)((s, dir) => {
      // synchronous label propagation (3 rounds, min-label tie-break)
      // over the symmetrized customer↔supplier trade graph — community
      // labels are all-integer and the fixed round count makes the
      // unrolled SQL oracle exact
      val o = T(s, dir, "orders").select("o_orderkey", "o_custkey")
      val li = T(s, dir, "lineitem").select("l_orderkey", "l_suppkey")
      val pairs = li.join(o, col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("src"),
          (col("l_suppkey") + 10000000L).as("dst")).distinct()
      ext.Graph.labelPropagation(pairs, iters = 3)
    }),
    // g_hits: 2 max-normalized HITS iterations unrolled — every sum/max
    // is an order-free integer aggregate, so the replay is bit-exact;
    // the ·1e6 renorm products run in HUGEINT like the engine's DECIMAL.
    "g_hits" -> Query(
      """WITH e AS (SELECT DISTINCT o_custkey AS src, l_suppkey + 10000000 AS dst FROM lineitem JOIN orders ON l_orderkey = o_orderkey), nodes AS (SELECT DISTINCT src AS id FROM e UNION SELECT DISTINCT dst FROM e), h0 AS (SELECT id, CAST(1000000 AS BIGINT) AS h FROM nodes), ar1 AS (SELECT e.dst AS id, sum(h0.h) AS raw FROM e JOIN h0 ON e.src = h0.id GROUP BY 1), am1 AS (SELECT max(raw) AS mx FROM ar1), a1 AS (SELECT n.id, CAST(CAST(coalesce(ar1.raw, 0) AS HUGEINT) * 1000000 // am1.mx AS BIGINT) AS a FROM nodes n LEFT JOIN ar1 USING (id) CROSS JOIN am1), hr1 AS (SELECT e.src AS id, sum(a1.a) AS raw FROM e JOIN a1 ON e.dst = a1.id GROUP BY 1), hm1 AS (SELECT max(raw) AS mx FROM hr1), h1 AS (SELECT n.id, CAST(CAST(coalesce(hr1.raw, 0) AS HUGEINT) * 1000000 // hm1.mx AS BIGINT) AS h FROM nodes n LEFT JOIN hr1 USING (id) CROSS JOIN hm1), ar2 AS (SELECT e.dst AS id, sum(h1.h) AS raw FROM e JOIN h1 ON e.src = h1.id GROUP BY 1), am2 AS (SELECT max(raw) AS mx FROM ar2), a2 AS (SELECT n.id, CAST(CAST(coalesce(ar2.raw, 0) AS HUGEINT) * 1000000 // am2.mx AS BIGINT) AS a FROM nodes n LEFT JOIN ar2 USING (id) CROSS JOIN am2), hr2 AS (SELECT e.src AS id, sum(a2.a) AS raw FROM e JOIN a2 ON e.dst = a2.id GROUP BY 1), hm2 AS (SELECT max(raw) AS mx FROM hr2), h2 AS (SELECT n.id, CAST(CAST(coalesce(hr2.raw, 0) AS HUGEINT) * 1000000 // hm2.mx AS BIGINT) AS h FROM nodes n LEFT JOIN hr2 USING (id) CROSS JOIN hm2) SELECT h2.id, h2.h AS hub_micro, a2.a AS auth_micro FROM h2 JOIN a2 USING (id)""")((s, dir) => {
      // HITS hubs & authorities (Kleinberg) over the DIRECTED customer→
      // supplier trade graph — customers "endorse" the suppliers they
      // buy from, so hub = breadth of a customer's supplier base and
      // authority = how much well-connected demand a supplier attracts.
      // 2 max-normalized integer fixed-point iterations
      // (ext.Graph.hitsInt); the unrolled-SQL oracle replays them
      // exactly. Completes the link-analysis family next to q_pagerank.
      val o = T(s, dir, "orders").select("o_orderkey", "o_custkey")
      val li = T(s, dir, "lineitem").select("l_orderkey", "l_suppkey")
      val e = li.join(o, col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("src"),
          (col("l_suppkey") + 10000000L).as("dst"))
        .distinct()
      ext.Graph.hitsInt(e, iters = 2)
    }),

    "g_harmonic" -> Query(
      """WITH pairs AS (SELECT DISTINCT o_custkey AS c, l_suppkey + 10000000 AS p FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         |ed AS (SELECT c AS src, p AS dst FROM pairs UNION SELECT p, c FROM pairs),
         |d0 AS (SELECT c_custkey AS seed, c_custkey AS id, 0 AS dist FROM customer WHERE c_custkey < 5),
         |n1 AS (SELECT DISTINCT d0.seed, ed.dst AS id, 1 AS dist FROM d0 JOIN ed ON d0.id = ed.src),
         |d1 AS (SELECT seed, id, min(dist) AS dist FROM (SELECT * FROM d0 UNION ALL SELECT * FROM n1) GROUP BY 1, 2),
         |n2 AS (SELECT DISTINCT d1.seed, ed.dst AS id, 2 AS dist FROM d1 JOIN ed ON d1.id = ed.src WHERE d1.dist = 1),
         |d2 AS (SELECT seed, id, min(dist) AS dist FROM (SELECT * FROM d1 UNION ALL SELECT * FROM n2) GROUP BY 1, 2),
         |n3 AS (SELECT DISTINCT d2.seed, ed.dst AS id, 3 AS dist FROM d2 JOIN ed ON d2.id = ed.src WHERE d2.dist = 2),
         |d3 AS (SELECT seed, id, min(dist) AS dist FROM (SELECT * FROM d2 UNION ALL SELECT * FROM n3) GROUP BY 1, 2)
         |SELECT seed, CAST(count(*) AS BIGINT) AS n_reached, CAST(sum(1000000 // dist) AS BIGINT) AS harmonic_micro FROM d3 WHERE dist > 0 GROUP BY 1""".stripMargin)((s, dir) => {
      // truncated harmonic centrality (Boldi-Vigna) for flagged customers
      // over the trade graph: ONE keyed BFS (frontier carries (seed, id)
      // pairs) instead of a job per seed; scores are exact integer
      // micro-units (10⁶ div hops) — no float anywhere
      val o = T(s, dir, "orders").select("o_orderkey", "o_custkey")
      val li = T(s, dir, "lineitem").select("l_orderkey", "l_suppkey")
      val pairs = li.join(o, col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("c"), (col("l_suppkey") + 10000000L).as("p"))
        .distinct()
      val edges = pairs.select(col("c").as("src"), col("p").as("dst"))
        .union(pairs.select(col("p").as("src"), col("c").as("dst")))
      val seeds = T(s, dir, "customer").filter(col("c_custkey") < 5)
        .select(col("c_custkey").as("id"))
      ext.Graph.harmonicCentrality(edges, seeds, maxHops = 3)
    }),

    "g_linkpred" -> Query(linkpredOracleSql)((s, dir) => {
      // link prediction (Liben-Nowell–Kleinberg 2003): common-neighbor
      // and Jaccard scores for ANCHOR vertices of the part co-purchase
      // graph — the "recommend links for these nodes" shape, which is
      // what bounds the wedge expansion: only anchor adjacency rows
      // (deg(a) each) fan through shared middles, so the candidate set
      // is Σ_b∈N(a) deg(b), not the full quadratic wedge set. Middles
      // wider than linkpredHubCap are dropped by definition (hubs carry
      // no signal — the LSH star-cap argument; never binds at the
      // fixtures, the oracle applies the identical cap). Scores are
      // exact integers; Jaccard is micro-scaled nonnegative integral
      // division.
      val edges = ext.Graph.coOccurrencePairs(
        T(s, dir, "lineitem"), "l_orderkey", "l_partkey", kcoreOrderCap)
        .localCheckpoint(true)
      val sym = edges.select(col("src").as("a"), col("dst").as("b"))
        .union(edges.select(col("dst").as("a"), col("src").as("b")))
      val deg = sym.groupBy("a").agg(count(lit(1)).as("d"))
      val mids = deg.filter(col("d") <= linkpredHubCap)
        .select(col("a").as("b"), col("d").as("db"))
      val anchors = sym.filter(col("a") % 199 === 0)
        .join(mids, Seq("b"), "left_semi")
      val wedges = anchors.as("x")
        .join(sym.as("y"), col("x.b") === col("y.b") && col("y.a") =!= col("x.a"))
        .groupBy(col("x.a").as("u"), col("y.a").as("v"))
        .agg(count(lit(1)).as("cn"))
        .filter(col("cn") >= 2)
      val nonAdj = wedges
        .join(edges.select(col("src").as("u"), col("dst").as("v")), Seq("u", "v"), "left_anti")
        .join(edges.select(col("dst").as("u"), col("src").as("v")), Seq("u", "v"), "left_anti")
      nonAdj
        .join(deg.select(col("a").as("u"), col("d").as("du")), Seq("u"))
        .join(deg.select(col("a").as("v"), col("d").as("dv")), Seq("v"))
        .select(col("u"), col("v"), col("cn"), col("du"), col("dv"),
          expr("CAST((CAST(cn AS DECIMAL(18,0)) * 1000000) div (du + dv - cn) AS BIGINT)")
            .as("jaccard_micro"))
    }),

    "g_assortativity" -> Query(
      """WITH e AS (SELECT DISTINCT o_custkey AS c, l_suppkey AS sp FROM lineitem JOIN orders ON l_orderkey = o_orderkey), dc AS (SELECT c, CAST(count(*) AS HUGEINT) AS dc FROM e GROUP BY 1), ds AS (SELECT sp, CAST(count(*) AS HUGEINT) AS ds FROM e GROUP BY 1), j AS (SELECT dc.dc AS x, ds.ds AS y FROM e JOIN dc USING (c) JOIN ds USING (sp)), g AS (SELECT CAST(count(*) AS HUGEINT) AS n, sum(x) AS sx, sum(y) AS sy, sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy FROM j) SELECT CAST(n AS BIGINT) AS n_edges, CAST(round(CAST(n * sxy - sx * sy AS DOUBLE) / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) * sqrt(CAST(n * syy - sy * sy AS DOUBLE))) * 1000000) AS BIGINT) AS r_micro FROM g""")((s, dir) => {
      // degree assortativity of the customer–supplier trade graph: the
      // Pearson correlation between endpoint degrees over the distinct
      // edge set, in DECIMAL(38) Gram sums. The final r uses only
      // correctly-rounded IEEE ops (÷, ×, sqrt — never libm ln/pow), so
      // the micro rounding is engine-exact. Two hash aggs + two joins.
      val e = T(s, dir, "lineitem")
        .join(T(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("c"), col("l_suppkey").as("sp"))
        .distinct()
        .localCheckpoint(true) // degree agg + edge probe read one frame
      val degC = e.groupBy("c").agg(count(lit(1)).as("dc"))
      val degS = e.groupBy("sp").agg(count(lit(1)).as("ds"))
      e.join(degC, "c").join(degS, "sp")
        .select(col("dc").cast("decimal(38,0)").as("x"),
          col("ds").cast("decimal(38,0)").as("y"))
        .agg(count(lit(1)).cast("decimal(38,0)").as("n"),
          sum("x").as("sx"), sum("y").as("sy"), sum(expr("x * x")).as("sxx"),
          sum(expr("y * y")).as("syy"), sum(expr("x * y")).as("sxy"))
        .select(col("n").cast("long").as("n_edges"),
          expr("""CAST(round(CAST(n * sxy - sx * sy AS DOUBLE)
                 / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                    * sqrt(CAST(n * syy - sy * sy AS DOUBLE))) * 1000000)
                 AS BIGINT)""").as("r_micro"))
    }),

    "g_modularity" -> Query(modularityOracleSql)((s, dir) => {
      // partition quality of the g_labelprop communities: Newman
      // modularity Q = Σ_c [m_c/m − (d_c/2m)²] over the same undirected
      // customer↔supplier trade graph, in exact integer micro units
      // (DECIMAL(38,0) for d_c², HUGEINT oracle). Edges and labels are
      // each one keyed shuffle; the community panel is the only small
      // frame.
      val o = T(s, dir, "orders").select("o_orderkey", "o_custkey")
      val li = T(s, dir, "lineitem").select("l_orderkey", "l_suppkey")
      val pairs = li.join(o, col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("src"), (col("l_suppkey") + 10000000L).as("dst"))
        .distinct().localCheckpoint(true) // m + internal + degrees
      val lbl = ext.Graph.labelPropagation(pairs, iters = 3).localCheckpoint(true)
      val m = pairs.agg(count(lit(1)).as("m"))
      val internal = pairs
        .join(lbl.select(col("id").as("src"), col("lbl").as("ls")), "src")
        .join(lbl.select(col("id").as("dst"), col("lbl").as("ld")), "dst")
        .filter(col("ls") === col("ld"))
        .groupBy(col("ls").as("lbl")).agg(count(lit(1)).as("mc"))
      val dc = pairs.select(col("src").as("id"))
        .unionAll(pairs.select(col("dst").as("id")))
        .groupBy("id").agg(count(lit(1)).as("d"))
        .join(lbl, "id")
        .groupBy("lbl").agg(sum("d").as("dcv"))
      val terms = dc.join(internal, Seq("lbl"), "left").na.fill(0L, Seq("mc"))
        .crossJoin(broadcast(m))
        .select(col("m"), expr(
          """(mc * 1000000) div m
            | - CAST(CAST(dcv AS DECIMAL(38,0)) * dcv * 1000000 AS DECIMAL(38,0))
            |   div (CAST(4 AS DECIMAL(38,0)) * m * m)""".stripMargin).as("term"))
      terms.agg(max("m").as("m"), count(lit(1)).as("n_communities"),
        sum("term").as("q_micro"))
    }),
    // g_ppr: q_pagerank's unrolled replay with the teleport term gated
    // on the seed indicator in r0 and every round.
    "g_ppr" -> Query(
      """WITH pairs AS (SELECT DISTINCT o_custkey AS c, l_suppkey + 10000000 AS s FROM lineitem JOIN orders ON l_orderkey = o_orderkey), e AS (SELECT c AS src, s AS dst FROM pairs UNION SELECT s, c FROM pairs), nodes AS (SELECT DISTINCT src AS id FROM e UNION SELECT DISTINCT dst FROM e), ns AS (SELECT id, CASE WHEN id < 10000000 AND id % 100 = 0 THEN 1 ELSE 0 END AS seed FROM nodes), deg AS (SELECT src AS id, count(*) AS d FROM e GROUP BY 1), r0 AS (SELECT id, CAST(seed * 1000000 AS BIGINT) AS r FROM ns), i1 AS (SELECT e.dst AS id, sum(r0.r // deg.d) AS sc FROM e JOIN r0 ON e.src = r0.id JOIN deg ON deg.id = e.src GROUP BY 1), r1 AS (SELECT n.id, CAST(n.seed * 150000 + (850 * coalesce(i1.sc, 0)) // 1000 AS BIGINT) AS r FROM ns n LEFT JOIN i1 USING (id)), i2 AS (SELECT e.dst AS id, sum(r1.r // deg.d) AS sc FROM e JOIN r1 ON e.src = r1.id JOIN deg ON deg.id = e.src GROUP BY 1), r2 AS (SELECT n.id, CAST(n.seed * 150000 + (850 * coalesce(i2.sc, 0)) // 1000 AS BIGINT) AS r FROM ns n LEFT JOIN i2 USING (id)), i3 AS (SELECT e.dst AS id, sum(r2.r // deg.d) AS sc FROM e JOIN r2 ON e.src = r2.id JOIN deg ON deg.id = e.src GROUP BY 1), r3 AS (SELECT n.id, CAST(n.seed * 150000 + (850 * coalesce(i3.sc, 0)) // 1000 AS BIGINT) AS r FROM ns n LEFT JOIN i3 USING (id)) SELECT id, r AS ppr_micro FROM r3""")((s, dir) => {
      // personalized PageRank (Jeh–Widom 2003) on q_pagerank's
      // symmetrized customer↔supplier trade graph: teleport mass
      // returns ONLY to the seed cohort (customers with key % 100 = 0),
      // so rank concentrates in the seeds' neighborhoods — the "expand
      // outward from known-good examples" primitive behind seed-based
      // corpus expansion and audience lookalikes. 3 unrolled integer
      // iterations, Pregel shape identical to q_pagerank; the oracle
      // replays them with the seed indicator in every round.
      val o = T(s, dir, "orders").select("o_orderkey", "o_custkey")
      val li = T(s, dir, "lineitem").select("l_orderkey", "l_suppkey")
      val pairs = li.join(o, col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("c"), (col("l_suppkey") + 10000000L).as("s"))
        .distinct()
      val edges = pairs.select(col("c").as("src"), col("s").as("dst"))
        .union(pairs.select(col("s").as("src"), col("c").as("dst")))
      val seeds = T(s, dir, "customer")
        .filter(col("c_custkey") % 100 === 0).select(col("c_custkey").as("id"))
      ext.Graph.personalizedPageRankInt(edges, seeds, iters = 3)
    })
  )

  /** g_linkpred's shared-middle degree cap: wedge expansion fans each
    * anchor adjacency row through its middle vertex's adjacency, so a
    * hub middle makes the candidate set explode while carrying no link
    * signal (everything co-occurs with a hub). Middles above the cap
    * are excluded by definition — shared with the oracle; observed
    * degrees at the fixtures are ~300, so it never binds there.
    */
  private val linkpredHubCap = 1024

  /** 10-round unrolled k-core peel (k=80) over the part co-purchase
    * graph. MATERIALIZED hints keep DuckDB from re-inlining the chain
    * (each round references its predecessor three times). Peeling reaches
    * its fixpoint in 6 rounds at sf0.01; rounds 7-10 are provably
    * identity (monotone peel), so the unroll equals the true k-core.
    */
  private lazy val kcoreOracleSql: String = {
    val parts = scala.collection.mutable.ArrayBuffer(
      "lp0 AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem)",
      s"lp AS MATERIALIZED (SELECT o, p FROM lp0 QUALIFY count(*) OVER (PARTITION BY o) <= $kcoreOrderCap)",
      "e0 AS MATERIALIZED (SELECT DISTINCT x.p AS src, y.p AS dst FROM lp x JOIN lp y ON x.o = y.o AND x.p <> y.p)")
    for (r <- 1 to 10) {
      parts += s"k$r AS MATERIALIZED (SELECT src FROM e${r - 1} GROUP BY src HAVING count(*) >= 80)"
      parts += s"e$r AS MATERIALIZED (SELECT e.src, e.dst FROM e${r - 1} e JOIN k$r a ON e.src = a.src JOIN k$r b ON e.dst = b.src)"
    }
    "WITH " + parts.mkString(", ") +
      " SELECT src AS part_id, CAST(count(*) AS BIGINT) AS core_deg FROM e10 GROUP BY 1"
  }

  /** 3-round unrolled synchronous label propagation over the symmetrized
    * trade graph, min-label tie-break — mirrors Graph.labelPropagation.
    */
  /** The label-propagation replay CTE chain (base/e/l0..l3) — shared by
    * g_labelprop and g_modularity.
    */
  private lazy val labelpropCtes: String = {
    val parts = scala.collection.mutable.ArrayBuffer(
      "base AS MATERIALIZED (SELECT DISTINCT o_custkey AS c, l_suppkey + 10000000 AS s FROM lineitem JOIN orders ON l_orderkey = o_orderkey)",
      "e AS MATERIALIZED (SELECT c AS src, s AS dst FROM base UNION SELECT s, c FROM base)",
      "l0 AS MATERIALIZED (SELECT DISTINCT src AS id, src AS lbl FROM e)")
    for (r <- 1 to 3) {
      parts += s"f$r AS MATERIALIZED (SELECT e.src AS id, l.lbl, count(*) AS c FROM e JOIN l${r - 1} l ON e.dst = l.id GROUP BY 1, 2)"
      parts += s"p$r AS MATERIALIZED (SELECT id, lbl FROM f$r QUALIFY row_number() OVER (PARTITION BY id ORDER BY c DESC, lbl ASC) = 1)"
      parts += s"l$r AS MATERIALIZED (SELECT n.id, coalesce(p.lbl, n.lbl) AS lbl FROM l${r - 1} n LEFT JOIN p$r p USING (id))"
    }
    parts.mkString(", ")
  }

  private lazy val labelpropOracleSql: String =
    "WITH " + labelpropCtes + " SELECT id, CAST(lbl AS BIGINT) AS lbl FROM l3"

  /** g_modularity: the labelprop replay plus exact-integer Newman
    * modularity terms per community (HUGEINT for d_c²·10⁶).
    */
  private lazy val modularityOracleSql: String =
    "WITH " + labelpropCtes + """, deg AS (SELECT src AS id, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY 1), mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM base), intr AS (SELECT a.lbl, CAST(count(*) AS BIGINT) AS mc FROM base JOIN l3 a ON a.id = base.c JOIN l3 b ON b.id = base.s WHERE a.lbl = b.lbl GROUP BY 1), dc AS (SELECT l3.lbl, CAST(sum(deg.d) AS BIGINT) AS dcv FROM deg JOIN l3 USING (id) GROUP BY 1), terms AS (SELECT m, (coalesce(mc, 0) * 1000000) // m - (CAST(dcv AS HUGEINT) * dcv * 1000000) // (4::HUGEINT * m * m) AS term FROM dc LEFT JOIN intr USING (lbl) CROSS JOIN mm) SELECT CAST(max(m) AS BIGINT) AS m, CAST(count(*) AS BIGINT) AS n_communities, CAST(sum(term) AS BIGINT) AS q_micro FROM terms"""

  /** g_linkpred: identical capped co-purchase edges, the same anchor +
    * hub-cap wedge expansion, NOT-EXISTS adjacency exclusion, HUGEINT
    * truncating Jaccard.
    */
  private lazy val linkpredOracleSql: String =
    s"""WITH lp0 AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
       |lp AS MATERIALIZED (SELECT o, p FROM lp0 QUALIFY count(*) OVER (PARTITION BY o) <= $kcoreOrderCap),
       |e AS MATERIALIZED (SELECT DISTINCT x.p AS src, y.p AS dst FROM lp x JOIN lp y ON x.o = y.o AND x.p < y.p),
       |sym AS MATERIALIZED (SELECT src AS a, dst AS b FROM e UNION ALL SELECT dst, src FROM e),
       |deg AS MATERIALIZED (SELECT a, CAST(count(*) AS BIGINT) AS d FROM sym GROUP BY 1),
       |mids AS (SELECT a AS b FROM deg WHERE d <= $linkpredHubCap),
       |anc AS (SELECT sym.a, sym.b FROM sym JOIN mids USING (b) WHERE sym.a % 199 = 0),
       |w AS (SELECT x.a AS u, y.a AS v, CAST(count(*) AS BIGINT) AS cn
       |      FROM anc x JOIN sym y ON x.b = y.b AND y.a <> x.a GROUP BY 1, 2 HAVING count(*) >= 2),
       |na AS (SELECT w.* FROM w WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.src = w.u AND e.dst = w.v)
       |                           AND NOT EXISTS (SELECT 1 FROM e WHERE e.src = w.v AND e.dst = w.u))
       |SELECT u, v, cn, du.d AS du, dv.d AS dv,
       |  CAST((cn::HUGEINT * 1000000) // (du.d + dv.d - cn) AS BIGINT) AS jaccard_micro
       |FROM na JOIN deg du ON na.u = du.a JOIN deg dv ON na.v = dv.a""".stripMargin
}
