package graft
package families

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Shared._

/** The rec_ queries: recommendation.
  * Each entry holds a query's DuckDB oracle SQL and its builder.
  */
object RecQueries {

  val entries: Seq[(String, Query)] = Seq(
    "rec_itemitem" -> Query(recItemItemOracleSql)((s, dir) => {
      // item-item collaborative filtering (the co-purchase recommender):
      // top-3 neighbors per part ranked by cosine² — (cooc²·1e6) div
      // (n_i·n_j) — which preserves the cosine ORDER for positive counts
      // while staying all-integer (no sqrt). Same giant-basket width cap
      // as g_kcore bounds the per-order pair fan-out; min support 2
      // prunes the noise tail BEFORE the per-item ranking, which is a
      // window partitioned by the HIGH-cardinality item key (already
      // parallel — Ranks would be wrong here).
      recItemItemRecs(s, dir)
    }),
    // rec_itemitem: same width cap, support floor, cosine² integer
    // score, QUALIFY top-3 per item
    // rec_mrr: rec_itemitem's similarity replay retrained on train
    // baskets only (rn > 1 per customer), candidate fan-out through each
    // profile item's top-3 neighbors, seen-filter, top-10, first-hit
    // reciprocal rank; all ties (score desc, id asc), nonnegative // ≡ div.
    "rec_mrr" -> Query(
      s"""WITH seqo AS (SELECT o_orderkey, o_custkey, row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn, count(*) OVER (PARTITION BY o_custkey) AS no FROM orders),
         el AS (SELECT o_orderkey, o_custkey, rn FROM seqo WHERE no >= 2),
         items AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
         train AS (SELECT o_orderkey AS o, o_custkey AS c FROM el WHERE rn > 1),
         test AS (SELECT o_orderkey AS o, o_custkey AS c FROM el WHERE rn = 1),
         ti AS (SELECT DISTINCT c, p FROM train JOIN items USING (o)),
         te AS (SELECT DISTINCT c, p FROM test JOIN items USING (o)),
         tb AS (SELECT i.o, i.p FROM items i WHERE i.o IN (SELECT o FROM train)),
         capped AS (SELECT o, p FROM tb QUALIFY count(*) OVER (PARTITION BY o) <= $kcoreOrderCap),
         freq AS (SELECT p, CAST(count(*) AS BIGINT) AS n FROM capped GROUP BY 1),
         pr AS (SELECT a.p AS i, b.p AS j, CAST(count(*) AS BIGINT) AS cooc FROM capped a JOIN capped b ON a.o = b.o AND a.p < b.p GROUP BY 1, 2 HAVING count(*) >= 2),
         dirp AS (SELECT i, j, cooc FROM pr UNION ALL SELECT j, i, cooc FROM pr),
         sc AS (SELECT d.i, d.j, CAST((d.cooc * d.cooc * 1000000) // (fi.n * fj.n) AS BIGINT) AS score_micro FROM dirp d JOIN freq fi ON d.i = fi.p JOIN freq fj ON d.j = fj.p),
         s3 AS (SELECT i, j, score_micro FROM (SELECT *, row_number() OVER (PARTITION BY i ORDER BY score_micro DESC, j) AS rk FROM sc) WHERE rk <= 3),
         cand AS (SELECT ti.c, s3.j, CAST(sum(score_micro) AS BIGINT) AS scsum FROM ti JOIN s3 ON ti.p = s3.i GROUP BY 1, 2),
         fresh AS (SELECT cand.c, cand.j, scsum FROM cand LEFT JOIN ti tx ON cand.c = tx.c AND cand.j = tx.p WHERE tx.p IS NULL),
         t10 AS (SELECT c, j, rk FROM (SELECT *, row_number() OVER (PARTITION BY c ORDER BY scsum DESC, j) AS rk FROM fresh) WHERE rk <= 10),
         h AS (SELECT t10.c, CAST(count(*) AS BIGINT) AS n_hits, CAST(min(rk) AS BIGINT) AS best_rank FROM t10 JOIN te ON t10.c = te.c AND t10.j = te.p GROUP BY 1),
         ntst AS (SELECT c, CAST(count(*) AS BIGINT) AS n_test FROM te GROUP BY 1)
         SELECT ntst.c AS customer_id, n_test, CAST(coalesce(n_hits, 0) AS BIGINT) AS n_hits, best_rank, CAST(CASE WHEN best_rank IS NULL THEN 0 ELSE 1000000 // best_rank END AS BIGINT) AS rr_micro FROM ntst LEFT JOIN h ON ntst.c = h.c""")((s, dir) => {
      // leave-last-out evaluation of the item-item recommender — the
      // accept/reject gate rec_itemitem needs (the ta_nbc_eval pattern
      // applied to recommendations): each customer's LAST order is held
      // out, similarities retrain on the remaining baskets only (no
      // leakage), candidates are each profile item's top-3 neighbors
      // (the standard bounded candidate-generation fan-out: ≤3·|profile|
      // rows per user, never the catalog), scored by the exact integer
      // sum of neighbor scores, top-10 per user. Output per eval user:
      // held-out size, hits@10, first-hit rank, reciprocal rank —
      // mean(rr_micro) IS the MRR. All windows partition on
      // high-cardinality keys (customer / item); ranking ties break
      // (score desc, id asc) so both engines agree bit-for-bit.
      import org.apache.spark.sql.expressions.Window
      val o = T(s, dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
      val wo = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
      val seqo = o.withColumn("rn", row_number().over(wo))
        .withColumn("no", count(lit(1)).over(Window.partitionBy("o_custkey")))
        .filter(col("no") >= 2)
        .localCheckpoint(true) // feeds the train AND test splits
      val items = T(s, dir, "lineitem")
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
        .localCheckpoint(true) // read by the train-basket, profile and test joins
      val train = seqo.filter(col("rn") > 1)
        .select(col("o_orderkey").as("o"), col("o_custkey").as("c"))
      val test = seqo.filter(col("rn") === 1)
        .select(col("o_orderkey").as("o"), col("o_custkey").as("c"))
      val ti = train.join(items, "o").select("c", "p").distinct()
        .localCheckpoint(true) // profile: candidate fan-out + seen-filter
      val te = test.join(items, "o").select("c", "p").distinct()
      // retrain rec_itemitem's similarities on the train baskets only
      val tb = items.join(train.select("o").distinct(), Seq("o"), "left_semi")
      val widths = tb.groupBy("o").agg(count(lit(1)).as("w"))
      val capped = tb.join(
        widths.filter(col("w") <= kcoreOrderCap).select("o"), Seq("o"), "left_semi")
        .localCheckpoint(true) // item frequencies + both sides of the pair join
      val freq = capped.groupBy("p").agg(count(lit(1)).as("n"))
      val pairs = capped.as("a")
        .join(capped.as("b"), col("a.o") === col("b.o") && col("a.p") < col("b.p"))
        .groupBy(col("a.p").as("i"), col("b.p").as("j")).agg(count(lit(1)).as("cooc"))
        .filter(col("cooc") >= 2)
      val directed = pairs.select(col("i"), col("j"), col("cooc"))
        .union(pairs.select(col("j").as("i"), col("i").as("j"), col("cooc")))
      val scored = directed
        .join(freq.select(col("p").as("i"), col("n").as("ni")), Seq("i"))
        .join(freq.select(col("p").as("j"), col("n").as("nj")), Seq("j"))
        .withColumn("score_micro",
          expr("CAST((cooc * cooc * 1000000) div (ni * nj) AS BIGINT)"))
      // both rankings ride the native bounded-heap aggregate (TopKAgg):
      // the window row_number spelling shuffles and sorts every scored
      // row; the k-heap ships ≤k rows per (partition, key). Ordering
      // matches the old windows exactly — (score desc, j asc), j unique
      // within each key, so no ties exist for the heap to break
      // differently.
      val sims3 = scored.groupBy(col("i"))
        .agg(graft.functions.TopKAgg.topK(3, col("score_micro").cast("double"),
          col("j").cast("double"), struct(col("j"), col("score_micro"))).as("top"))
        .select(col("i"), explode(col("top")).as("e"))
        .select(col("i"), col("e.j").as("j"), col("e.score_micro").as("score_micro"))
        .localCheckpoint(true) // truncates the retrain lineage under the fan-out
      val cand = ti.join(sims3, col("p") === col("i"))
        .groupBy(col("c"), col("j")).agg(sum("score_micro").as("scsum"))
      val fresh = cand.join(ti.select(col("c"), col("p").as("j")),
        Seq("c", "j"), "left_anti")
      val top10 = fresh.groupBy(col("c"))
        .agg(graft.functions.TopKAgg.topK(10, col("scsum").cast("double"),
          col("j").cast("double"), struct(col("j"), col("scsum"))).as("top"))
        .select(col("c"), posexplode(col("top")))
        .select(col("c"), col("col.j").as("j"), (col("pos") + 1).as("rk"))
      val hits = top10.join(te.select(col("c"), col("p").as("j")), Seq("c", "j"))
        .groupBy("c").agg(count(lit(1)).as("n_hits"), min("rk").as("best_rank"))
      te.groupBy("c").agg(count(lit(1)).as("n_test"))
        .join(hits, Seq("c"), "left")
        .select(col("c").as("customer_id"), col("n_test"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          col("best_rank").cast("long").as("best_rank"),
          expr("""CAST(CASE WHEN best_rank IS NULL THEN 0
                 ELSE 1000000 div CAST(best_rank AS BIGINT) END AS BIGINT)""")
            .as("rr_micro"))
    }),

    "rec_bt" -> Query(recBtOracleSql)((s, dir) => {
      // Bradley–Terry preference ranking (the RLHF preference-data
      // fit; Hunter 2004's MM algorithm): 5 "teams" from deterministic
      // lineitem keys, a win per row by quantity parity, 20 MM rounds
      // π_i ← w_i / Σ_j n_ij/(π_i+π_j) with sum-to-5·10⁶ renorm. The
      // distributed work is ONE pair-count aggregation (≤10 grouped
      // rows); the iteration folds on the driver in exact BigInt micro
      // arithmetic — every //, + and × replayed in the identical
      // ascending-team order by the oracle's recursive CTE (HUGEINT),
      // so the fixed point matches bit-for-bit. At 10¹² matches the
      // counts are the only thing that grows; the model stays 5 rows.
      import s.implicits._
      val m = T(s, dir, "lineitem").select(
          (col("l_suppkey") % 5).as("ta"), (col("l_partkey") % 5).as("tb"),
          (col("l_quantity").cast("long") % 2 === 0).as("a_wins"))
        .filter(col("ta") =!= col("tb"))
        .select(least(col("ta"), col("tb")).as("i"),
          greatest(col("ta"), col("tb")).as("j"),
          when(col("ta") < col("tb"), col("a_wins")).otherwise(!col("a_wins")).as("i_wins"))
        .groupBy("i", "j").agg(count(lit(1)).as("n"),
          sum(when(col("i_wins"), 1L).otherwise(0L)).as("w_i"))
        .collect().map(r => (r.getAs[Long]("i"), r.getAs[Long]("j"),
          r.getAs[Long]("n"), r.getAs[Long]("w_i")))
      val k = 5
      val n = Array.ofDim[Long](k, k)
      val w = Array.fill(k)(BigInt(0))
      m.foreach { case (i, j, nij, wi) =>
        n(i.toInt)(j.toInt) = nij; n(j.toInt)(i.toInt) = nij
        w(i.toInt) += wi; w(j.toInt) += (nij - wi)
      }
      val one2 = BigInt(1000000) * 1000000
      var pi = Array.fill(k)(BigInt(1000000))
      var it = 0
      while (it < 20) {
        val next = Array.tabulate(k) { i =>
          var d = BigInt(0)
          var j = 0
          while (j < k) {
            // max(…, 1): the sum-to-5e6 integer renorm can floor a tiny
            // score to 0, and a played pair with BOTH endpoints at 0
            // would otherwise divide by zero (the oracle CTE guards the
            // same denominator with greatest(…, 1))
            if (j != i && n(i)(j) > 0)
              d += (BigInt(n(i)(j)) * one2) / (pi(i) + pi(j)).max(BigInt(1))
            j += 1
          }
          if (d == 0) pi(i) else (w(i) * one2) / d
        }
        val s5 = next.foldLeft(BigInt(0))(_ + _)
        pi = next.map(x => (x * 5000000) / s5)
        it += 1
      }
      (0 until k).map { i =>
        (i.toLong, n(i).sum, w(i).toLong, pi(i).toLong)
      }.toDF("team", "n_matches", "n_wins", "pi_micro")
    }),
    // rec_diversity: the full rec_itemitem replay audited — coverage vs
    // the distinct-part catalog, HHI over exposures in HUGEINT.
    "rec_diversity" -> Query(
      s"""WITH r AS ($recItemItemOracleSql), cat AS (SELECT CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_catalog FROM lineitem), ex AS (SELECT rec_part_id, CAST(count(*) AS HUGEINT) AS c FROM r GROUP BY 1), t AS (SELECT CAST(count(DISTINCT part_id) AS BIGINT) AS n_lists, CAST(count(*) AS BIGINT) AS n_recs, CAST(count(DISTINCT rec_part_id) AS BIGINT) AS n_rec_items FROM r), sq AS (SELECT sum(c * c) AS ssq FROM ex) SELECT n_lists, n_recs, n_rec_items, CAST(CAST(n_rec_items AS HUGEINT) * 1000000 // n_catalog AS BIGINT) AS coverage_micro, CAST(ssq * 1000000 // (CAST(n_recs AS HUGEINT) * n_recs) AS BIGINT) AS hhi_micro FROM sq, t, cat""")((s, dir) => {
      // recommendation-quality panel over rec_itemitem's top-3 lists:
      // catalog coverage (how much of the purchasable catalog ever
      // appears as a recommendation) and exposure concentration (HHI
      // over the recommended-item distribution — the "popularity echo
      // chamber" dial), plus list counts. The audit every production
      // recommender ships next to its accuracy eval (rec_mrr). HHI's
      // Σc² runs in DECIMAL(38,0) (HUGEINT oracle) so billion-exposure
      // counts can't wrap.
      val recs = recItemItemRecs(s, dir).localCheckpoint(true) // 3 consumers
      val catalog = T(s, dir, "lineitem").agg(
        countDistinct(col("l_partkey")).as("n_catalog"))
      val ex = recs.groupBy("rec_part_id").agg(count(lit(1)).as("c"))
      val tot = recs.agg(countDistinct(col("part_id")).as("n_lists"),
        count(lit(1)).as("n_recs"), countDistinct(col("rec_part_id")).as("n_rec_items"))
      ex.agg(sum(expr("CAST(c AS DECIMAL(38,0)) * c")).as("ssq"))
        .crossJoin(tot).crossJoin(catalog)
        .select(col("n_lists"), col("n_recs"), col("n_rec_items"),
          expr("CAST(CAST(n_rec_items AS DECIMAL(38,0)) * 1000000 div n_catalog AS BIGINT)")
            .as("coverage_micro"),
          expr("CAST(ssq * 1000000 div (CAST(n_recs AS DECIMAL(38,0)) * n_recs) AS BIGINT)")
            .as("hhi_micro"))
    })
  )

  /** The rec_itemitem top-3 lists — shared by rec_itemitem (which
    * returns them directly) and rec_diversity (which audits them).
    */
  private def recItemItemRecs(s: SparkSession, dir: String): DataFrame = {
    val items = T(s, dir, "lineitem")
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
    val widths = items.groupBy("o").agg(count(lit(1)).as("w"))
    val capped = items.join(
      widths.filter(col("w") <= kcoreOrderCap).select("o"), Seq("o"), "left_semi")
    val freq = capped.groupBy("p").agg(count(lit(1)).as("n"))
    val pairs = capped.as("a")
      .join(capped.as("b"), col("a.o") === col("b.o") && col("a.p") < col("b.p"))
      .groupBy(col("a.p").as("i"), col("b.p").as("j")).agg(count(lit(1)).as("cooc"))
      .filter(col("cooc") >= 2)
    val directed = pairs.select(col("i"), col("j"), col("cooc"))
      .union(pairs.select(col("j").as("i"), col("i").as("j"), col("cooc")))
    val scored = directed
      .join(freq.select(col("p").as("i"), col("n").as("ni")), Seq("i"))
      .join(freq.select(col("p").as("j"), col("n").as("nj")), Seq("j"))
      .withColumn("score_micro",
        expr("CAST((cooc * cooc * 1000000) div (ni * nj) AS BIGINT)"))
    // top-3 per item via the native bounded-heap aggregate: the window
    // row_number formulation shuffles and sorts EVERY directed pair; the
    // k-heap ships ≤3 rows per (partition, item). Ordering identical to
    // the old window: score_micro desc, j asc (j unique per i, so ties
    // are impossible and the two spellings agree row-for-row).
    scored.groupBy(col("i"))
      .agg(graft.functions.TopKAgg.topK(3, col("score_micro").cast("double"),
        col("j").cast("double"),
        struct(col("j"), col("cooc"), col("score_micro"))).as("top"))
      .select(col("i").as("part_id"), posexplode(col("top")))
      .select(col("part_id"), (col("pos") + 1).cast("long").as("rnk"),
        col("col.j").as("rec_part_id"), col("col.cooc").as("cooc"),
        col("col.score_micro").as("score_micro"))
  }

  /** The rec_itemitem replay — also the recommendation source inside
    * rec_diversity's oracle (same discipline as bm25OracleSql reuse).
    */
  private lazy val recItemItemOracleSql: String =
    s"""WITH items AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
       capped AS (SELECT o, p FROM items
         QUALIFY count(*) OVER (PARTITION BY o) <= $kcoreOrderCap),
       freq AS (SELECT p, CAST(count(*) AS BIGINT) AS n FROM capped GROUP BY 1),
       pairs AS (SELECT a.p AS i, b.p AS j, CAST(count(*) AS BIGINT) AS cooc
         FROM capped a JOIN capped b ON a.o = b.o AND a.p < b.p
         GROUP BY 1, 2 HAVING count(*) >= 2),
       directed AS (SELECT i, j, cooc FROM pairs UNION ALL SELECT j, i, cooc FROM pairs),
       scored AS (SELECT d.i, d.j, d.cooc,
           CAST((d.cooc * d.cooc * 1000000) // (fi.n * fj.n) AS BIGINT) AS score_micro
         FROM directed d JOIN freq fi ON d.i = fi.p JOIN freq fj ON d.j = fj.p)
       SELECT i AS part_id,
         CAST(row_number() OVER (PARTITION BY i ORDER BY score_micro DESC, j) AS BIGINT) AS rnk,
         j AS rec_part_id, cooc, score_micro
       FROM scored
       QUALIFY row_number() OVER (PARTITION BY i ORDER BY score_micro DESC, j) <= 3"""

  /** rec_bt replay: pair counts → 5×5 list-of-lists matrix + win vector
    * (HUGEINT), then the driver fold's 20 MM rounds as a recursive CTE —
    * every //, + and × in the identical ascending-team order (integer
    * ops, so associativity is exact and the fixed point matches
    * bit-for-bit).
    */
  private lazy val recBtOracleSql: String = {
    val dnmInner =
      "list_reduce(list_prepend(CAST(0 AS HUGEINT), " +
        "list_transform(range(5), j -> CASE WHEN i = j THEN CAST(0 AS HUGEINT) " +
        "ELSE (m[CAST(i AS INTEGER) + 1][CAST(j AS INTEGER) + 1] * 1000000000000) // " +
        "greatest(v[CAST(i AS INTEGER) + 1] + v[CAST(j AS INTEGER) + 1], CAST(1 AS HUGEINT)) END)), " +
        "(a, b) -> a + b)"
    val newPi =
      "list_transform(range(5), i -> CASE WHEN dnm[CAST(i AS INTEGER) + 1] = 0 " +
        "THEN v[CAST(i AS INTEGER) + 1] " +
        "ELSE (w[CAST(i AS INTEGER) + 1] * 1000000000000) // dnm[CAST(i AS INTEGER) + 1] END)"
    s"""WITH RECURSIVE mt AS (SELECT least(l_suppkey % 5, l_partkey % 5) AS i, greatest(l_suppkey % 5, l_partkey % 5) AS j, CASE WHEN l_suppkey % 5 < l_partkey % 5 THEN CAST(l_quantity AS BIGINT) % 2 = 0 ELSE NOT (CAST(l_quantity AS BIGINT) % 2 = 0) END AS i_wins FROM lineitem WHERE l_suppkey % 5 <> l_partkey % 5),
       |pc AS (SELECT i, j, CAST(count(*) AS BIGINT) AS n, CAST(sum(CASE WHEN i_wins THEN 1 ELSE 0 END) AS BIGINT) AS w_i FROM mt GROUP BY 1, 2),
       |cells AS (SELECT a.range AS i, b.range AS j FROM range(5) a, range(5) b),
       |nm0 AS (SELECT c.i, c.j, coalesce(p1.n, p2.n, 0) AS n FROM cells c LEFT JOIN pc p1 ON p1.i = c.i AND p1.j = c.j LEFT JOIN pc p2 ON p2.i = c.j AND p2.j = c.i),
       |nmr AS (SELECT i, list(CAST(n AS HUGEINT) ORDER BY j) AS nrow FROM nm0 GROUP BY 1),
       |nm AS (SELECT list(nrow ORDER BY i) AS m FROM nmr),
       |wv0 AS (SELECT t.range AS i, CAST(coalesce((SELECT sum(w_i) FROM pc WHERE pc.i = t.range), 0) + coalesce((SELECT sum(n - w_i) FROM pc WHERE pc.j = t.range), 0) AS HUGEINT) AS w FROM range(5) t),
       |wv AS (SELECT list(w ORDER BY i) AS w FROM wv0),
       |iter(k, v) AS (
       |  SELECT 0, list_transform(range(5), x -> CAST(1000000 AS HUGEINT))
       |  UNION ALL
       |  SELECT k + 1, list_transform(nx, x -> (x * 5000000) // list_reduce(nx, (a, b) -> a + b))
       |  FROM (SELECT k, w, $newPi AS nx
       |        FROM (SELECT k, v, w, list_transform(range(5), i -> $dnmInner) AS dnm FROM iter, nm, wv WHERE k < 20)))
       |SELECT CAST(t.range AS BIGINT) AS team,
       |       CAST(list_reduce(m[CAST(t.range AS INTEGER) + 1], (a, b) -> a + b) AS BIGINT) AS n_matches,
       |       CAST(w[CAST(t.range AS INTEGER) + 1] AS BIGINT) AS n_wins,
       |       CAST(v[CAST(t.range AS INTEGER) + 1] AS BIGINT) AS pi_micro
       |FROM (SELECT v FROM iter WHERE k = 20), nm, wv, range(5) t""".stripMargin
  }
}
