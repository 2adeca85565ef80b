package graft

import org.apache.spark.sql.functions._
import java.io.{ByteArrayOutputStream, PrintStream}

/** Regression tests for the four documented fan-out caps: each test PLANTS
  * a hot key ABOVE its cap in a synthetic table dir, runs the real
  * SparkEntry query against it, and asserts (a) the hot key's quadratic
  * contribution is absent, (b) the surviving result equals an independent
  * in-spec computation with the cap applied (the oracle applies the same
  * cap by definition, so value-equality here is the oracle-parity check
  * ScalaTest can make without DuckDB), and (c) where the query logs its
  * observed drop count, the log line fired.
  *
  * Caps under test (in src/main/scala/graft/families/):
  *   assocBasketCap = 32   — ev_assoc giant-basket guard (EventQueries)
  *   spanPostingCap = 50   — dd_spans boilerplate-gram guard (DedupQueries)
  *   linkpredHubCap = 1024 — g_linkpred hub-middle guard (GraphQueries)
  *   kcoreOrderCap  = 64   — g_kcore / coOccurrencePairs width guard (Shared)
  */
class CapRegressionSpec extends SparkSpec {
  import spark.implicits._

  /** Run `body` with JVM System.err teed into a buffer; returns (result,
    * captured stderr). The drop logs are System.err.println sites, so
    * Console.withErr would miss them.
    */
  private def captureErr[A](body: => A): (A, String) = {
    val old = System.err
    val buf = new ByteArrayOutputStream()
    System.setErr(new PrintStream(buf, true, "UTF-8"))
    try { val r = body; (r, buf.toString("UTF-8")) }
    finally System.setErr(old)
  }

  test("ev_assoc: a planted 40-brand basket is dropped by assocBasketCap and logged") {
    val dir = "/tmp/graft-capreg-assoc"
    // 60 normal orders each buying brands BA+BB (so the BA-BB pair clears
    // the n_both >= 50 support floor); one giant order 999 spanning 40
    // distinct brands — width 40 > cap 32. If the cap ever regresses the
    // giant basket joins the count (n_both becomes 61, n_orders 61).
    val part = ((1L, "BA") +: (2L, "BB") +: (10L until 50L).map(p => (p, f"G${p - 10}%02d")))
      .toDF("p_partkey", "p_brand")
    val lineitem = ((1L to 60L).flatMap(o => Seq((o, 1L), (o, 2L))) ++
      (10L until 50L).map(p => (999L, p))).toDF("l_orderkey", "l_partkey")
    plant(dir, "part" -> part, "lineitem" -> lineitem)
    val (rows, err) = captureErr {
      SparkEntry.queries("ev_assoc")(spark, dir)
        .select("antecedent", "consequent", "n_both", "n_ante", "n_cons", "n_orders")
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5))).toSet
    }
    assert(rows == Set(("BA", "BB", 60L, 60L, 60L, 60L), ("BB", "BA", 60L, 60L, 60L, 60L)))
    assert(err.contains("[ev_assoc] dropped 1 baskets wider than 32"), s"missing drop log in: $err")
  }

  test("dd_spans: a 60-doc boilerplate span is dropped by spanPostingCap and logged") {
    val dir = "/tmp/graft-capreg-spans"
    // docs 1 and 2 share a genuine 10-word span (3 overlapping 8-grams,
    // postings=2 each — kept); 60 docs carry the SAME 10 boilerplate
    // words, so each of its 3 grams has 60 postings > cap 50 and is
    // dropped. If the cap regresses, C(60,2)=1770 boilerplate pairs with
    // n_grams=3 flood the output.
    val span = (0 until 10).map(i => s"sp$i").mkString(" ")
    val boiler = (0 until 10).map(i => s"bp$i").mkString(" ")
    val docs = Seq((1L, s"u1a u1b $span u1c"), (2L, s"$span u2a")) ++
      (0 until 60).map(i => (1000L + i, boiler))
    plant(dir, "documents" -> docs.toDF("doc_id", "text"))
    val (rows, err) = captureErr {
      SparkEntry.queries("dd_spans")(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5))).toSet
    }
    // one maximal run: doc1 span starts at word 2, doc2 at word 0,
    // 3 grams → 3+7 = 10 span tokens
    assert(rows == Set((1L, 2L, 2L, 0L, 3L, 10L)))
    assert(err.contains("[dd_spans] dropped 3 grams with > 50 postings"), s"missing drop log in: $err")
  }

  test("g_linkpred: a planted >1024-degree hub middle is excluded by linkpredHubCap") {
    val dir = "/tmp/graft-capreg-linkpred"
    // anchor u=0 (the only id ≡ 0 mod 199) reaches v=7 through two
    // small middles m1=3, m2=5 (cn=2 — the one legitimate prediction),
    // and also touches hubs H1=11, H2=13, each co-purchased with the
    // same 1071 w-parts (degree 1072 > cap 1024) across 17 orders of
    // width 64. With the cap, the hubs are dropped from the middle set
    // and the output is exactly {(u,v)}; a regression would emit 1071
    // (u, w, cn=2) wedge rows through the two hubs.
    val ws = Iterator.from(1000).map(_.toLong).filter(_ % 199 != 0).take(1071).toSeq
    val chunks = ws.grouped(63).toSeq // 17 chunks of 63
    val pairsOrders: Seq[(Long, Long)] =
      Seq((1L, 0L), (1L, 11L), (2L, 0L), (2L, 13L), (3L, 0L), (3L, 3L),
        (4L, 0L), (4L, 5L), (5L, 7L), (5L, 3L), (6L, 7L), (6L, 5L))
    val hubOrders: Seq[(Long, Long)] = chunks.zipWithIndex.flatMap { case (c, i) =>
      (100L + i, 11L) +: c.map(w => (100L + i, w))
    } ++ chunks.zipWithIndex.flatMap { case (c, i) =>
      (200L + i, 13L) +: c.map(w => (200L + i, w))
    }
    plant(dir, "lineitem" -> (pairsOrders ++ hubOrders).toDF("l_orderkey", "l_partkey"))
    val rows = SparkEntry.queries("g_linkpred")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSet
    // du=4 (m1,m2,H1,H2 — degree counts keep hubs; only MIDDLE routing
    // drops them), dv=2, jaccard = 2e6 div (4+2-2) = 500000
    assert(rows == Set((0L, 7L, 2L, 4L, 2L, 500000L)))
  }

  test("g_kcore: a planted 90-part order is excluded by kcoreOrderCap") {
    val dir = "/tmp/graft-capreg-kcore"
    // the ONLY dense structure is a 90-part giant order (width 90 > cap
    // 64): capped, it contributes no edges and the k=80 core is empty;
    // regressed, it forms a 90-clique whose every vertex has degree
    // 89 ≥ 80 and 90 rows appear. Two normal width-3 orders ride along
    // (they peel away at k=80 regardless).
    val lineitem = ((100L until 190L).map(p => (999L, p)) ++
      Seq((1L, 1L), (1L, 2L), (1L, 3L), (2L, 2L), (2L, 3L), (2L, 4L)))
      .toDF("l_orderkey", "l_partkey")
    plant(dir, "lineitem" -> lineitem)
    assert(SparkEntry.queries("g_kcore")(spark, dir).count() == 0L)
  }
}
