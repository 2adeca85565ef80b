package graft
package families

import org.apache.spark.sql.functions._
import Shared._

/** The er_ queries: entity resolution.
  * Each entry holds a query's DuckDB oracle SQL and its builder.
  */
object EntityQueries {

  val entries: Seq[(String, Query)] = Seq(
    // er_entities: independent recursive-CTE transitive closure over the
    // quadratic levenshtein pair set — a different algorithm from the
    // engine's large-star/small-star components
    "er_entities" -> Query(
      """WITH pairs AS (SELECT a.c_custkey AS s, b.c_custkey AS d FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey AND levenshtein(a.c_name, b.c_name) <= 1), edges AS (SELECT s, d FROM pairs UNION SELECT d AS s, s AS d FROM pairs), reach AS (WITH RECURSIVE rr(id, rid) AS (SELECT c_custkey, c_custkey FROM customer UNION SELECT rr.id, e.d FROM rr JOIN edges e ON rr.rid = e.s) SELECT id, min(rid) AS ent FROM rr GROUP BY 1) SELECT CAST(r.id AS BIGINT) AS c_custkey, CAST(r.ent AS BIGINT) AS entity_id, CAST(cnt.n AS BIGINT) AS entity_size FROM reach r JOIN (SELECT ent, count(*) AS n FROM reach GROUP BY 1) cnt ON r.ent = cnt.ent""")((s, dir) => {
      // entity resolution end-to-end: SymSpell-blocked edit-distance-1
      // name linkage (ext.FuzzyJoin — provably equal to the cross join)
      // → distributed connected components over the match pairs →
      // canonical entity id (min member key) + entity size. The dedup
      // pass identity data actually needs: near-identical records chain
      // transitively into one entity. Oracle: independent recursive-CTE
      // transitive closure over the same quadratic pair set.
      val cust = T(s, dir, "customer")
      val pairs = ext.FuzzyJoin.editDistanceSelfJoin(
        cust, "c_custkey", "c_name", maxDist = 1)
      val comp = ext.Graph.componentsFor(cust.select("c_custkey"), "c_custkey",
        pairs.select(col("id_a").as("src"), col("id_b").as("dst")))
      val sizes = comp.groupBy("component").agg(count(lit(1)).as("entity_size"))
      comp.join(sizes, Seq("component"))
        .select(col("c_custkey"), col("component").as("entity_id"),
          col("entity_size"))
    }),

    "er_golden" -> Query(
      """WITH pairs AS (SELECT a.c_custkey AS s, b.c_custkey AS d FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey AND a.c_nationkey = b.c_nationkey AND levenshtein(a.c_name, b.c_name) <= 1),
         edges AS (SELECT s, d FROM pairs UNION SELECT d AS s, s AS d FROM pairs),
         reach AS (WITH RECURSIVE rr(id, rid) AS (SELECT c_custkey, c_custkey FROM customer UNION SELECT rr.id, e.d FROM rr JOIN edges e ON rr.rid = e.s) SELECT id, min(rid) AS ent FROM rr GROUP BY 1)
         SELECT CAST(r.ent AS BIGINT) AS entity_id, CAST(count(*) AS BIGINT) AS n_members,
           CAST(min(c.c_custkey) AS BIGINT) AS rep_custkey,
           arg_min(c.c_name, c.c_custkey) AS rep_name,
           CAST(max(CAST(round(c.c_acctbal * 100) AS BIGINT)) AS BIGINT) AS max_acctbal_c,
           CAST(count(DISTINCT c.c_mktsegment) AS BIGINT) AS n_segments
         FROM reach r JOIN customer c ON r.id = c.c_custkey GROUP BY 1""")((s, dir) => {
      // survivorship / golden-record construction — the step AFTER the
      // transitive match: one canonical row per entity with
      // deterministic survivorship rules (representative = min member
      // key, name from the representative, newest balance = max cents,
      // membership stats). Matching is NATION-BLOCKED (links only
      // within a nation — the standard ER blocking key, and what keeps
      // TPC-H's sequential names from chaining the whole table into one
      // entity); survivorship is one struct-min/max aggregate per
      // entity — shards by entity id.
      val cust = T(s, dir, "customer")
      val pairs = ext.FuzzyJoin.editDistanceSelfJoin(
        cust, "c_custkey", "c_name", maxDist = 1, blockCol = Some("c_nationkey"))
      val comp = ext.Graph.componentsFor(cust.select("c_custkey"), "c_custkey",
        pairs.select(col("id_a").as("src"), col("id_b").as("dst")))
      comp.join(cust, Seq("c_custkey"))
        .groupBy(col("component").as("entity_id"))
        .agg(count(lit(1)).as("n_members"),
          min(struct(col("c_custkey"), col("c_name"))).as("rep"),
          max(round(col("c_acctbal") * 100).cast("long")).as("max_acctbal_c"),
          countDistinct(col("c_mktsegment")).as("n_segments"))
        .select(col("entity_id"), col("n_members"),
          col("rep.c_custkey").as("rep_custkey"), col("rep.c_name").as("rep_name"),
          col("max_acctbal_c"), col("n_segments"))
    }),
    // er_jw: DuckDB's own jaro_winkler_similarity IS the oracle — the
    // native expression reproduces its double arithmetic bit-for-bit,
    // so the floor-micro sum matches over every blocked pair
    "er_jw" -> Query(
      """SELECT a.c_nationkey AS nation_id, CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(CASE WHEN jaro_winkler_similarity(a.c_name, b.c_name) > 0.97 THEN 1 ELSE 0 END) AS BIGINT) AS n_close,
           CAST(sum(CAST(floor(jaro_winkler_similarity(a.c_name, b.c_name) * 1000000) AS BIGINT)) AS BIGINT) AS jw_micro_sum
         FROM customer a JOIN customer b
           ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
         GROUP BY 1""")((s, dir) => {
      // Jaro-Winkler candidate scoring over the nation-blocked pair set —
      // the classic record-linkage similarity (Winkler 1990) the er_*
      // ladder was missing next to its edit-distance tier. Native
      // Catalyst expression (functions/StringSim.scala) whose integer
      // (m, t, len, prefix) pieces go through the exact double-arithmetic
      // order DuckDB's jaro_winkler_similarity uses, so floor-micro
      // values hash-match across all ~44k blocked pairs. Per nation:
      // pair count, near-matches (jw > 0.97), and the micro-sum (a
      // value-parity check over every pair). Blocked quadratic — bounded
      // by block size², the standard ER cost envelope, never all-pairs.
      val c = T(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"))
      c.as("a").join(c.as("b"),
          col("a.c_nationkey") === col("b.c_nationkey") &&
            col("a.c_custkey") < col("b.c_custkey"))
        .select(col("a.c_nationkey").as("nation_id"),
          graft.functions.StringSim.jaroWinkler(
            col("a.c_name"), col("b.c_name")).as("jw"))
        .groupBy("nation_id")
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("jw") > 0.97, 1L).otherwise(0L)).as("n_close"),
          sum(floor(col("jw") * 1e6)).as("jw_micro_sum"))
    }),
    // er_golden: the er_entities recursive closure + arg_min survivorship
    // er_eval: the exact unblocked pair set with a same-nation flag;
    // guard mirrors the Spark CASE for an empty pair set.
    "er_eval" -> Query(
      """WITH t AS (SELECT a.c_nationkey = b.c_nationkey AS sn FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey AND levenshtein(a.c_name, b.c_name) <= 1) SELECT CAST(count(*) AS BIGINT) AS n_true, CAST(sum(CASE WHEN sn THEN 1 ELSE 0 END) AS BIGINT) AS n_blocked, CAST(sum(CASE WHEN NOT sn THEN 1 ELSE 0 END) AS BIGINT) AS n_lost, CASE WHEN count(*) = 0 THEN CAST(1000000 AS BIGINT) ELSE CAST((sum(CASE WHEN sn THEN 1 ELSE 0 END) * 1000000) // count(*) AS BIGINT) END AS recall_micro FROM t""")((s, dir) => {
      // ER blocking-loss audit — the eval row for er_entities' nation
      // blocking: candidates that pass exact levenshtein verify are all
      // true pairs (precision ≡ 1 by construction), so the number that
      // matters is BLOCKING RECALL — the share of the exact unblocked
      // d≤1 pair set (q_fuzzy_join's, proven equal to the cross-join
      // oracle) whose members share a nation. One row; what you read
      // before accepting blocked ER for a corpus.
      val cust = T(s, dir, "customer")
      val pairs = ext.FuzzyJoin.editDistanceSelfJoin(
        cust, "c_custkey", "c_name", maxDist = 1)
      val nat = cust.select(col("c_custkey"), col("c_nationkey"))
      pairs
        .join(nat.select(col("c_custkey").as("id_a"), col("c_nationkey").as("na")), "id_a")
        .join(nat.select(col("c_custkey").as("id_b"), col("c_nationkey").as("nb")), "id_b")
        .agg(count(lit(1)).as("n_true"),
          sum(when(col("na") === col("nb"), 1L).otherwise(0L)).as("n_blocked"),
          sum(when(col("na") =!= col("nb"), 1L).otherwise(0L)).as("n_lost"))
        .select(col("n_true"), col("n_blocked"), col("n_lost"),
          expr("""CASE WHEN n_true = 0 THEN CAST(1000000 AS BIGINT)
                 ELSE CAST((n_blocked * 1000000) div n_true AS BIGINT) END""")
            .as("recall_micro"))
    }),
    // er_bcubed: both transitive closures (er_entities' unblocked gold,
    // er_golden's nation-blocked pred) composed, then the three cell
    // aggregates with HUGEINT c² products mirroring the engine DECIMAL.
    "er_bcubed" -> Query(
      """WITH up AS (SELECT a.c_custkey AS s, b.c_custkey AS d FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey AND levenshtein(a.c_name, b.c_name) <= 1), ue AS (SELECT s, d FROM up UNION SELECT d, s FROM up), gold AS (WITH RECURSIVE rr(id, rid) AS (SELECT c_custkey, c_custkey FROM customer UNION SELECT rr.id, e.d FROM rr JOIN ue e ON rr.rid = e.s) SELECT id, min(rid) AS g FROM rr GROUP BY 1), bp AS (SELECT a.c_custkey AS s, b.c_custkey AS d FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey AND a.c_nationkey = b.c_nationkey AND levenshtein(a.c_name, b.c_name) <= 1), be AS (SELECT s, d FROM bp UNION SELECT d, s FROM bp), pred AS (WITH RECURSIVE rr(id, rid) AS (SELECT c_custkey, c_custkey FROM customer UNION SELECT rr.id, e.d FROM rr JOIN be e ON rr.rid = e.s) SELECT id, min(rid) AS p FROM rr GROUP BY 1), m AS (SELECT pred.id, pred.p, gold.g FROM pred JOIN gold ON pred.id = gold.id), cells AS (SELECT p, g, CAST(count(*) AS HUGEINT) AS c FROM m GROUP BY 1, 2), ps AS (SELECT p, CAST(count(*) AS HUGEINT) AS np FROM m GROUP BY 1), gs AS (SELECT g, CAST(count(*) AS HUGEINT) AS ng FROM m GROUP BY 1), nn AS (SELECT CAST(count(*) AS HUGEINT) AS n, CAST(count(DISTINCT p) AS BIGINT) AS n_pred, CAST(count(DISTINCT g) AS BIGINT) AS n_gold FROM m), t AS (SELECT sum(c * c * 1000000 // np) AS sp, sum(c * c * 1000000 // ng) AS sr FROM cells JOIN ps USING (p) JOIN gs USING (g)) SELECT CAST(n AS BIGINT) AS n_records, n_pred AS n_pred_clusters, n_gold AS n_gold_clusters, CAST(sp // n AS BIGINT) AS bcubed_precision_micro, CAST(sr // n AS BIGINT) AS bcubed_recall_micro, CAST((2 * (sp // n) * (sr // n)) // greatest((sp // n) + (sr // n), CAST(1 AS HUGEINT)) AS BIGINT) AS f1_micro FROM t, nn""")((s, dir) => {
      // B-cubed cluster-quality eval (Bagga–Baldwin 1998; Amigó et al.
      // 2009) of the nation-BLOCKED entity resolution against the
      // unblocked gold clustering — the standard ER clustering metric,
      // completing the eval ladder next to er_eval's blocking recall:
      // per-record precision |pred∩gold|/|pred| and recall
      // |pred∩gold|/|gold|, averaged. The per-record sums collapse to
      // three keyed aggregates over the (pred, gold) cell counts; c²
      // products run DECIMAL(38,0) (HUGEINT oracle); F1 derives from
      // the already-floored micro P and R so both engines agree.
      val cust = T(s, dir, "customer")
      val gold = ext.Graph.componentsFor(cust.select("c_custkey"), "c_custkey",
          ext.FuzzyJoin.editDistanceSelfJoin(cust, "c_custkey", "c_name", maxDist = 1)
            .select(col("id_a").as("src"), col("id_b").as("dst")))
        .select(col("c_custkey"), col("component").as("g"))
      val pred = ext.Graph.componentsFor(cust.select("c_custkey"), "c_custkey",
          ext.FuzzyJoin.editDistanceSelfJoin(cust, "c_custkey", "c_name",
            maxDist = 1, blockCol = Some("c_nationkey"))
            .select(col("id_a").as("src"), col("id_b").as("dst")))
        .select(col("c_custkey"), col("component").as("p"))
      val m = pred.join(gold, "c_custkey").localCheckpoint(true) // 4 consumers
      val cells = m.groupBy("p", "g").agg(count(lit(1)).as("c"))
      val ps = m.groupBy("p").agg(count(lit(1)).as("np"))
      val gs = m.groupBy("g").agg(count(lit(1)).as("ng"))
      val n = m.agg(count(lit(1)).as("n"), countDistinct("p").as("n_pred"),
        countDistinct("g").as("n_gold"))
      cells.join(ps, "p").join(gs, "g")
        .select(expr("CAST(c AS DECIMAL(38,0)) * c * 1000000 div np").as("tp"),
          expr("CAST(c AS DECIMAL(38,0)) * c * 1000000 div ng").as("tr"))
        .agg(sum("tp").as("sp"), sum("tr").as("sr"))
        .crossJoin(broadcast(n))
        .select(col("n").as("n_records"), col("n_pred").as("n_pred_clusters"),
          col("n_gold").as("n_gold_clusters"),
          expr("CAST(sp div n AS BIGINT)").as("bcubed_precision_micro"),
          expr("CAST(sr div n AS BIGINT)").as("bcubed_recall_micro"),
          expr("""CAST((2 * (sp div n) * (sr div n))
                 div greatest((sp div n) + (sr div n), 1) AS BIGINT)""")
            .as("f1_micro"))
    })
  )
}
