package graft
package families

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import Shared._

/** The q_ queries on data quality, profiling, change capture and privacy.
  * Each entry holds a query's DuckDB oracle SQL and its builder.
  */
object DataQualityQueries {

  val entries: Seq[(String, Query)] = Seq(
    // ---- extended: profiling + skew-safe aggregation ----

    "q_profile" -> Query(
      Seq("l_quantity", "l_extendedprice", "l_discount").map(c =>
        s"""SELECT '$c' AS "column", count($c) AS n, CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null, count(DISTINCT $c) AS n_distinct, CAST(min($c) AS DOUBLE) AS min_v, CAST(max($c) AS DOUBLE) AS max_v FROM lineitem""")
        .mkString(" UNION ALL "))((s, dir) => {
      ext.Profile.numeric(T(s, dir, "lineitem"),
        Seq("l_quantity", "l_extendedprice", "l_discount"), exactDistinct = true)
    }),

    "q_refint" -> Query(
      """SELECT 'orders.custkey' AS fk_edge, (SELECT count(*) FROM orders WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)) AS n_orphans
         |UNION ALL SELECT 'lineitem.orderkey', (SELECT count(*) FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders))
         |UNION ALL SELECT 'customer.nationkey', (SELECT count(*) FROM customer WHERE c_nationkey NOT IN (SELECT n_nationkey FROM nation))
         |UNION ALL SELECT 'supplier.nationkey', (SELECT count(*) FROM supplier WHERE s_nationkey NOT IN (SELECT n_nationkey FROM nation))""".stripMargin)((s, dir) => {
      // referential-integrity audit across the relational schema: orphan
      // counts per FK edge (orders→customer, lineitem→orders,
      // customer→nation, supplier→nation) via broadcast-able anti-joins —
      // the data-quality gate a warehouse runs after every load
      def orphans(child: DataFrame, key: String, parent: DataFrame,
                  pkey: String, edge: String): DataFrame =
        child.select(col(key).as("k"))
          .join(parent.select(col(pkey).as("k")).distinct(), Seq("k"), "left_anti")
          .agg(count(lit(1)).as("n_orphans"))
          .select(lit(edge).as("fk_edge"), col("n_orphans"))
      orphans(T(s, dir, "orders"), "o_custkey", T(s, dir, "customer"), "c_custkey", "orders.custkey")
        .unionAll(orphans(T(s, dir, "lineitem"), "l_orderkey", T(s, dir, "orders"), "o_orderkey", "lineitem.orderkey"))
        .unionAll(orphans(T(s, dir, "customer"), "c_nationkey", T(s, dir, "nation"), "n_nationkey", "customer.nationkey"))
        .unionAll(orphans(T(s, dir, "supplier"), "s_nationkey", T(s, dir, "nation"), "n_nationkey", "supplier.nationkey"))
    }),

    "q_kanon" -> Query(
      "SELECT c_mktsegment, c_nationkey, count(*) AS class_size, count(*) >= 5 AS anonymous FROM customer GROUP BY 1, 2")((s, dir) => {
      // k-anonymity audit (Sweeney 2002): group customers by the
      // quasi-identifier tuple (segment, nation), flag equivalence
      // classes smaller than k=5 — the rows a release would need to
      // suppress or generalize. One hash aggregation; the governance
      // pass a 100 TB PII review runs before any export.
      T(s, dir, "customer")
        .groupBy(col("c_mktsegment"), col("c_nationkey"))
        .agg(count(lit(1)).as("class_size"))
        .withColumn("anonymous", col("class_size") >= 5)
    }),

    "q_dq" -> Query(
      """SELECT 'pk_unique_lineitem' AS "check", CAST(count(*) - count(DISTINCT (l_orderkey, l_linenumber)) AS BIGINT) AS n_violations, count(*) AS n_total, count(*) = count(DISTINCT (l_orderkey, l_linenumber)) AS pass FROM lineitem UNION ALL SELECT 'fk_lineitem_orders', CAST((SELECT count(*) FROM lineitem WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey)) AS BIGINT), (SELECT count(*) FROM lineitem), (SELECT count(*) FROM lineitem WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey)) = 0 UNION ALL SELECT 'notnull_shipdate', CAST(sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT), count(*), sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) = 0 FROM lineitem UNION ALL SELECT 'range_quantity_1_50', CAST(sum(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END) AS BIGINT), count(*), sum(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END) = 0 FROM lineitem UNION ALL SELECT 'positive_totalprice', CAST(sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT), count(*), sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) = 0 FROM orders""")((s, dir) => {
      // data-quality expectation suite: each check is one aggregate row
      // (violations, total, pass) — uniqueness, referential integrity,
      // null rate, range — the production gate before any pipeline run
      val li = T(s, dir, "lineitem")
      val o = T(s, dir, "orders")
      def row(name: String, violations: DataFrame): DataFrame =
        violations.select(lit(name).as("check"),
          col("v").cast("long").as("n_violations"), col("t").cast("long").as("n_total"),
          (col("v") === 0).as("pass"))
      val pk = row("pk_unique_lineitem", li.agg(
        (count(lit(1)) - countDistinct(col("l_orderkey"), col("l_linenumber"))).as("v"),
        count(lit(1)).as("t")))
      val fk = row("fk_lineitem_orders", li.join(o,
          col("l_orderkey") === col("o_orderkey"), "left_anti")
        .agg(count(lit(1)).as("v"), lit(0L).as("t"))
        .crossJoin(li.agg(count(lit(1)).as("t2"))).select(col("v"), col("t2").as("t")))
      val nn = row("notnull_shipdate", li.agg(
        sum(when(col("l_shipdate").isNull, 1L).otherwise(0L)).as("v"), count(lit(1)).as("t")))
      val rng = row("range_quantity_1_50", li.agg(
        sum(when(col("l_quantity") < 1 || col("l_quantity") > 50, 1L).otherwise(0L)).as("v"),
        count(lit(1)).as("t")))
      val pos = row("positive_totalprice", o.agg(
        sum(when(col("o_totalprice") <= 0, 1L).otherwise(0L)).as("v"), count(lit(1)).as("t")))
      pk.unionByName(fk).unionByName(nn).unionByName(rng).unionByName(pos)
    }),

    "q_cdc" -> Query(
      """WITH log AS (SELECT o_orderkey AS k, o_totalprice AS p, 0 AS seq, 'B' AS op FROM orders UNION ALL SELECT o_orderkey, o_totalprice * 1.1, 1, 'U' FROM orders WHERE o_orderkey % 5 = 0 UNION ALL SELECT o_orderkey + 30000000, o_totalprice, 1, 'I' FROM orders WHERE o_orderkey % 11 = 0 UNION ALL SELECT o_orderkey, 0.0, 2, 'D' FROM orders WHERE o_orderkey % 7 = 0), r AS (SELECT k, p, op, row_number() OVER (PARTITION BY k ORDER BY seq DESC) AS rn FROM log) SELECT k AS o_orderkey, CAST(round(p * 100) AS BIGINT) AS price_c, op AS last_op FROM r WHERE rn = 1 AND op <> 'D'""")((s, dir) => {
      // CDC apply (Delta-MERGE semantics without a table format): base
      // snapshot + deterministic changelog (upserts ×1.1 on %5 keys at
      // seq 1, deletes on %7 keys at seq 2, inserts at seq 1) → latest
      // sequence number per key wins, deletes drop the key. ONE shuffle
      // (the per-key window); price exposed in exact cents.
      val o = T(s, dir, "orders").select("o_orderkey", "o_totalprice")
      val base = o.select(col("o_orderkey").as("k"),
        col("o_totalprice").as("p"), lit(0L).as("seq"), lit("B").as("op"))
      val upserts = o.where(col("o_orderkey") % 5 === 0)
        .select(col("o_orderkey").as("k"), (col("o_totalprice") * 1.1).as("p"),
          lit(1L).as("seq"), lit("U").as("op"))
      val inserts = o.where(col("o_orderkey") % 11 === 0)
        .select((col("o_orderkey") + 30000000L).as("k"), col("o_totalprice").as("p"),
          lit(1L).as("seq"), lit("I").as("op"))
      val deletes = o.where(col("o_orderkey") % 7 === 0)
        .select(col("o_orderkey").as("k"), lit(0.0).as("p"),
          lit(2L).as("seq"), lit("D").as("op"))
      val log = base.unionByName(upserts).unionByName(inserts).unionByName(deletes)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("k")).orderBy(col("seq").desc)
      log.withColumn("__rn__", row_number().over(w))
        .where(col("__rn__") === 1 && col("op") =!= "D")
        .select(col("k").as("o_orderkey"),
          round(col("p") * 100).cast("long").as("price_c"), col("op").as("last_op"))
    }),

    "q_diff" -> Query(
      """WITH neu AS (SELECT o_orderkey, CASE WHEN o_orderkey % 11 = 0 THEN o_totalprice * 2 ELSE o_totalprice END AS o_totalprice FROM orders WHERE o_orderkey % 7 <> 0 UNION ALL SELECT o_orderkey + 10000000, o_totalprice FROM orders WHERE o_orderkey % 13 = 0) SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey, CASE WHEN n.o_orderkey IS NULL THEN 'removed' WHEN o.o_orderkey IS NULL THEN 'added' ELSE 'changed' END AS status FROM orders o FULL OUTER JOIN neu n ON o.o_orderkey = n.o_orderkey WHERE n.o_orderkey IS NULL OR o.o_orderkey IS NULL OR o.o_totalprice <> n.o_totalprice""")((s, dir) => {
      // snapshot diff (added/removed/changed) — the "new" snapshot is
      // derived deterministically so the oracle can rebuild it: every
      // 7th key deleted, every 11th repriced (×2, fp-exact), every 13th
      // re-keyed into a fresh id (an add)
      val o = T(s, dir, "orders").select("o_orderkey", "o_totalprice")
      val base = o.where(col("o_orderkey") % 7 =!= 0)
        .select(col("o_orderkey"),
          when(col("o_orderkey") % 11 === 0, col("o_totalprice") * 2)
            .otherwise(col("o_totalprice")).as("o_totalprice"))
      val added = o.where(col("o_orderkey") % 13 === 0)
        .select((col("o_orderkey") + 10000000L).as("o_orderkey"),
          col("o_totalprice"))
      ext.Diff.snapshotDiff(o, base.unionByName(added),
        Seq("o_orderkey"), Seq("o_totalprice"))
    }),

    "q_approx" -> Query(
      "SELECT l_returnflag, count(DISTINCT l_partkey) AS exact_nd, TRUE AS hll_ok, TRUE AS pctl_ok FROM lineitem GROUP BY l_returnflag")((s, dir) => {
      // sketch aggregates, the 100 TB substitutes for exact distinct/
      // percentile (one pass, bounded memory, mergeable across executors).
      // Approx values can't hash-match another engine, so the CONTRACT is
      // oracled instead: emit |approx-exact|/exact <= bound as booleans —
      // DuckDB asserts literal TRUE, and any sketch drifting out of its
      // error envelope fails the driver gate.
      // fanOut: the exact-median sort and quantile sketches are compute-
      // bound; a bytes-sized single scan partition would serialize them.
      // The distinct count aggregates SEPARATELY from the sketches: mixing
      // count(DISTINCT) with other aggregates makes Catalyst's distinct
      // rewrite run every sketch at (key, distinct-col) granularity —
      // one QuantileSummaries/HLL buffer PER (flag, partkey) instead of
      // per flag (measured 26 s vs 1 s at sf0.1). Both branches are 6-row
      // outputs; the join is free.
      val li = ext.Par.fanOut(T(s, dir, "lineitem"))
      val exact = li.groupBy("l_returnflag")
        .agg(count_distinct(col("l_partkey")).as("exact_nd"))
      val sketches = li.groupBy("l_returnflag").agg(
        approx_count_distinct(col("l_partkey"), 0.01).as("__hll__"),
        median(col("l_extendedprice")).as("__med__"),
        percentile_approx(col("l_extendedprice"), lit(0.5), lit(10000)).as("__pa__"))
      exact.join(sketches, Seq("l_returnflag"))
        .select(col("l_returnflag"), col("exact_nd"),
          (abs(col("__hll__") - col("exact_nd")) / col("exact_nd") <= 0.05).as("hll_ok"),
          (abs(col("__pa__") - col("__med__")) / col("__med__") <= 0.01).as("pctl_ok"))
    }),

    "q_mv_delta" -> Query(
      """SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders, CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS spend_c FROM orders GROUP BY 1""")((s, dir) => {
      // incremental aggregate maintenance (materialized-view delta merge):
      // a base aggregate (orders before the cutover) merged with the
      // delta's partial aggregate via full-outer coalesce — count and sum
      // are ALGEBRAIC, so base + delta equals the full rescan EXACTLY,
      // which is precisely what the oracle asserts (it aggregates the
      // whole table). At 100 TB this is the difference between touching
      // one day and touching five years.
      val o = T(s, dir, "orders")
      def aggOf(df: DataFrame) = df.groupBy("o_custkey").agg(
        count(lit(1)).as("n_orders"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("spend_c"))
      val base = aggOf(o.filter(col("o_orderdate") < lit("2000-01-01")))
      val delta = aggOf(o.filter(col("o_orderdate") >= lit("2000-01-01")))
      base.as("b").join(delta.as("d"), Seq("o_custkey"), "full_outer")
        .select(col("o_custkey"),
          (coalesce(col("b.n_orders"), lit(0L)) + coalesce(col("d.n_orders"), lit(0L))).as("n_orders"),
          (coalesce(col("b.spend_c"), lit(0L)) + coalesce(col("d.spend_c"), lit(0L))).as("spend_c"))
    }),
    // mask: both engines MD5 the identical "mask:<key>" UTF-8 string, so
    // the 16-hex-char surrogate tokens agree byte-for-byte and the
    // masked FK join is replayed exactly
    "q_mask" -> Query(
      """WITH cust AS (SELECT substr(md5('mask:' || CAST(c_custkey AS VARCHAR)), 1, 16) AS cust_token, c_mktsegment FROM customer), ord AS (SELECT substr(md5('mask:' || CAST(o_custkey AS VARCHAR)), 1, 16) AS cust_token, CAST(round(o_totalprice * 100) AS BIGINT) AS price_c FROM orders) SELECT cust_token, c_mktsegment, CAST(count(*) AS BIGINT) AS n_orders, CAST(sum(price_c) AS BIGINT) AS spend_c FROM cust JOIN ord USING (cust_token) GROUP BY 1, 2""")((s, dir) => {
      // PII masking with REFERENTIAL CONSISTENCY: keys are replaced by a
      // salted-hash surrogate token on BOTH sides of the FK, so the
      // masked tables still join — the property pseudonymized exports
      // must keep. Stateless expression (no lookup table to secure or
      // shuffle); the aggregate proves the join survives masking.
      def token(c: org.apache.spark.sql.Column) =
        substring(md5(concat(lit("mask:"), c.cast("string"))), 1, 16)
      val cust = T(s, dir, "customer")
        .select(token(col("c_custkey")).as("cust_token"), col("c_mktsegment"))
      val ord = T(s, dir, "orders")
        .select(token(col("o_custkey")).as("cust_token"),
          round(col("o_totalprice") * 100).cast("long").as("price_c"))
      cust.join(ord, Seq("cust_token"))
        .groupBy("cust_token", "c_mktsegment")
        .agg(count(lit(1)).as("n_orders"), sum(col("price_c")).as("spend_c"))
    }),

    "q_forget" -> Query(
      """WITH subj AS (SELECT c_custkey FROM customer WHERE c_custkey % 97 = 0), co AS (SELECT CAST(count(*) AS BIGINT) AS total, CAST(count(*) FILTER (WHERE c_custkey % 97 = 0) AS BIGINT) AS del FROM customer), oo AS (SELECT CAST(count(*) AS BIGINT) AS total, CAST(count(*) FILTER (WHERE o_custkey IN (SELECT c_custkey FROM subj)) AS BIGINT) AS del FROM orders), delord AS (SELECT o_orderkey FROM orders WHERE o_custkey IN (SELECT c_custkey FROM subj)), ll AS (SELECT CAST(count(*) AS BIGINT) AS total, CAST(count(*) FILTER (WHERE l_orderkey IN (SELECT o_orderkey FROM delord)) AS BIGINT) AS del FROM lineitem) SELECT 'customer' AS tbl, del AS rows_to_delete, total - del AS rows_retained FROM co UNION ALL SELECT 'orders', del, total - del FROM oo UNION ALL SELECT 'lineitem', del, total - del FROM ll""")((s, dir) => {
      // deletion-propagation audit (right-to-be-forgotten): a subject
      // cohort cascades through the FK graph customer→orders→lineitem.
      // Single pass per big table: customer gets one conditional
      // aggregate; the deleted order keys are materialized ONCE
      // (ids-only localCheckpoint, cohort-sized) and lineitem's
      // delete/retain counts come from one broadcast-probe scan with
      // count + count(when) — round 4 ran six independent count jobs
      // and recomputed the order cohort inside the lineitem probe.
      val custAgg = T(s, dir, "customer").agg(
        count(lit(1)).as("n"),
        count(when(col("c_custkey") % 97 === 0, lit(1))).as("d")).head()
      val subj = T(s, dir, "customer").filter(col("c_custkey") % 97 === 0)
        .select(col("c_custkey"))
      val delKeys = T(s, dir, "orders").join(broadcast(subj),
          col("o_custkey") === col("c_custkey"), "left_semi")
        .select(col("o_orderkey").as("k")).localCheckpoint(true)
      val ordN = T(s, dir, "orders").count()
      val ordD = delKeys.count()
      val liAgg = T(s, dir, "lineitem").join(broadcast(delKeys),
          col("l_orderkey") === col("k"), "left")
        .agg(count(lit(1)).as("n"), count(col("k")).as("d")).head()
      import s.implicits._
      val (cn, cd) = (custAgg.getLong(0), custAgg.getLong(1))
      val (ln2, ld) = (liAgg.getLong(0), liAgg.getLong(1))
      Seq(("customer", cd, cn - cd), ("orders", ordD, ordN - ordD),
          ("lineitem", ld, ln2 - ld))
        .toDF("tbl", "rows_to_delete", "rows_retained")
    }),
    // checksum: identical '|'-joined canonical render → same md5 → same
    // 60-bit slice ('0x'||hex cast replays Spark's conv(…,16,10)); XOR
    // is order-free so the fold agrees under any partitioning
    "q_checksum" -> Query(
      """WITH ord AS (SELECT concat_ws('|', o_orderkey, o_custkey, o_orderstatus, CAST(round(o_totalprice * 100) AS BIGINT), CAST(CAST(o_orderdate AS DATE) AS VARCHAR)) AS r FROM orders), cust AS (SELECT concat_ws('|', c_custkey, c_name, c_nationkey, CAST(round(c_acctbal * 100) AS BIGINT), c_mktsegment) AS r FROM customer), li AS (SELECT concat_ws('|', l_orderkey, l_linenumber, l_partkey, CAST(l_quantity AS BIGINT), CAST(round(l_extendedprice * 100) AS BIGINT)) AS r FROM lineitem) SELECT 'orders' AS tbl, CAST(count(*) AS BIGINT) AS n_rows, CAST(bit_xor(CAST(('0x' || substr(md5(r), 1, 15)) AS BIGINT)) AS BIGINT) AS checksum FROM ord UNION ALL SELECT 'customer', CAST(count(*) AS BIGINT), CAST(bit_xor(CAST(('0x' || substr(md5(r), 1, 15)) AS BIGINT)) AS BIGINT) FROM cust UNION ALL SELECT 'lineitem', CAST(count(*) AS BIGINT), CAST(bit_xor(CAST(('0x' || substr(md5(r), 1, 15)) AS BIGINT)) AS BIGINT) FROM li""")((s, dir) => {
      // order-free table fingerprints (anti-entropy / replication audit):
      // per-row canonical rendering → 60-bit md5 slice → bit_xor fold.
      // XOR is commutative+associative, so the checksum is partitioning-
      // invariant and two replicas compare by exchanging ONE row per
      // table. Doubles ride as exact cents; dates as ISO strings.
      val ord = T(s, dir, "orders").select(concat_ws("|",
        col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        round(col("o_totalprice") * 100).cast("long"),
        col("o_orderdate").cast("date").cast("string")).as("r"))
      val cust = T(s, dir, "customer").select(concat_ws("|",
        col("c_custkey"), col("c_name"), col("c_nationkey"),
        round(col("c_acctbal") * 100).cast("long"), col("c_mktsegment")).as("r"))
      val li = T(s, dir, "lineitem").select(concat_ws("|",
        col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_quantity").cast("long"),
        round(col("l_extendedprice") * 100).cast("long")).as("r"))
      def sums(name: String, df: DataFrame) =
        df.agg(count(lit(1)).as("n_rows"),
          expr("bit_xor(CAST(conv(substring(md5(r), 1, 15), 16, 10) AS BIGINT))").as("checksum"))
          .select(lit(name).as("tbl"), col("n_rows"), col("checksum"))
      sums("orders", ord).unionByName(sums("customer", cust)).unionByName(sums("lineitem", li))
    }),
    // q_mv_retract: the oracle is the INDEPENDENT full rescan of the CDC
    // final state — base + retraction deltas must equal it algebraically
    "q_mv_retract" -> Query(
      """WITH log AS (SELECT o_orderkey AS k, o_custkey AS c, o_totalprice AS p, 0 AS seq, 'B' AS op FROM orders UNION ALL SELECT o_orderkey, o_custkey, o_totalprice * 1.1, 1, 'U' FROM orders WHERE o_orderkey % 5 = 0 UNION ALL SELECT o_orderkey + 30000000, o_custkey, o_totalprice, 1, 'I' FROM orders WHERE o_orderkey % 11 = 0 UNION ALL SELECT o_orderkey, o_custkey, 0.0, 2, 'D' FROM orders WHERE o_orderkey % 7 = 0), r AS (SELECT k, c, p, op, row_number() OVER (PARTITION BY k ORDER BY seq DESC) AS rn FROM log), fin AS (SELECT k, c, CAST(round(p * 100) AS BIGINT) AS price_c FROM r WHERE rn = 1 AND op <> 'D') SELECT c AS o_custkey, CAST(count(*) AS BIGINT) AS n_orders, CAST(sum(price_c) AS BIGINT) AS spend_c FROM fin GROUP BY 1""")((s, dir) => {
      // materialized-view maintenance with RETRACTION: the per-customer
      // (n_orders, spend_c) view is maintained through q_cdc's changelog
      // (updates ×1.1 on %5 keys, deletes on %7 keys, inserts on %11
      // keys) WITHOUT rescanning the final state — deletes retract the
      // key's pre-delete contribution (updated price if the key was
      // also updated, else base), updates retract old and apply new,
      // inserts apply new. count/sum are groups under addition, so
      // base + Σ deltas EQUALS the independent rescan of the CDC final
      // state, which is exactly what the oracle computes. At 100 TB the
      // deltas touch changed keys only; the rescan touches five years.
      val o = T(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
        round(col("o_totalprice") * 100).cast("long").as("base_c"),
        round(col("o_totalprice") * lit(1.1) * 100).cast("long").as("upd_c"))
      def aggOf(df: DataFrame, n: org.apache.spark.sql.Column,
                s2: org.apache.spark.sql.Column) =
        df.groupBy("o_custkey").agg(sum(n).as("dn"), sum(s2).as("ds"))
      val base = aggOf(o, lit(1L), col("base_c"))
      // update delta on %5 keys (minus old, plus new); delete retracts
      // the key's CURRENT price (updated if %5 too); insert adds a new
      // row under a shifted key but the SAME customer
      val upd = aggOf(o.filter(col("o_orderkey") % 5 === 0),
        lit(0L), col("upd_c") - col("base_c"))
      val del = aggOf(o.filter(col("o_orderkey") % 7 === 0),
        lit(-1L), -when(col("o_orderkey") % 5 === 0, col("upd_c"))
          .otherwise(col("base_c")))
      val ins = aggOf(o.filter(col("o_orderkey") % 11 === 0),
        lit(1L), col("base_c"))
      val deltas = upd.unionByName(del).unionByName(ins)
        .groupBy("o_custkey").agg(sum(col("dn")).as("dn"), sum(col("ds")).as("ds"))
      base.as("b").join(deltas.as("d"), Seq("o_custkey"), "full_outer")
        .select(col("o_custkey"),
          (coalesce(col("b.dn"), lit(0L)) + coalesce(col("d.dn"), lit(0L))).as("n_orders"),
          (coalesce(col("b.ds"), lit(0L)) + coalesce(col("d.ds"), lit(0L))).as("spend_c"))
        .filter(col("n_orders") > 0)
    }),
    // q_tcloseness: identical fixed-width banding, dense 10-band grid
    // via range(), cross-multiplied integer EMD prefix terms
    "q_tcloseness" -> Query(
      """WITH bands AS (SELECT c_mktsegment AS seg, c_nationkey AS nation,
                  least(greatest((CAST(round(c_acctbal * 100) AS BIGINT) + 100000) // 120000, 0), 9) AS b
                FROM customer),
         byclass AS (SELECT seg, nation, b, CAST(count(*) AS BIGINT) AS cnt FROM bands GROUP BY 1, 2, 3),
         classes AS (SELECT DISTINCT seg, nation FROM bands),
         grid AS (SELECT seg, nation, CAST(gb.b AS BIGINT) AS b FROM classes, (SELECT unnest(range(10)) AS b) gb),
         cumc AS (SELECT grid.seg, grid.nation, grid.b,
                    CAST(sum(coalesce(cnt, 0)) OVER (PARTITION BY grid.seg, grid.nation ORDER BY grid.b) AS BIGINT) AS cumc
                  FROM grid LEFT JOIN byclass ON grid.seg = byclass.seg AND grid.nation = byclass.nation AND grid.b = byclass.b),
         gcnt AS (SELECT b, CAST(count(*) AS BIGINT) AS gcnt FROM bands GROUP BY 1),
         cumg AS (SELECT CAST(gg.b AS BIGINT) AS b,
                    CAST(sum(coalesce(gcnt, 0)) OVER (ORDER BY gg.b) AS BIGINT) AS cumg
                  FROM (SELECT unnest(range(10)) AS b) gg LEFT JOIN gcnt ON gg.b = gcnt.b),
         nc AS (SELECT seg, nation, CAST(count(*) AS BIGINT) AS n_c FROM bands GROUP BY 1, 2),
         tt AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM bands),
         emd AS (SELECT cumc.seg, cumc.nation, n_c,
                   CAST(sum(abs(cumc::HUGEINT * n_total - cumg::HUGEINT * n_c)) AS BIGINT) AS emd_num,
                   CAST((sum(abs(cumc::HUGEINT * n_total - cumg::HUGEINT * n_c)) * 1000000)
                        // (n_c::HUGEINT * n_total * 9) AS BIGINT) AS emd_micro
                 FROM cumc JOIN cumg ON cumc.b = cumg.b
                   JOIN nc ON cumc.seg = nc.seg AND cumc.nation = nc.nation
                   CROSS JOIN tt
                 WHERE cumc.b < 9
                 GROUP BY 1, 2, 3, n_total)
         SELECT seg, nation, n_c, emd_num, emd_micro, emd_micro <= 200000 AS tclose FROM emd""")((s, dir) => {
      // t-closeness audit (Li–Li–Venkatasubramanian, ICDE 2007) —
      // completes the k-anonymity / l-diversity governance trio: per
      // quasi-identifier class (segment, nation), the Earth Mover's
      // Distance between the class distribution of an ORDERED sensitive
      // attribute (10 fixed-width account-balance bands) and the global
      // distribution. For ordered values with unit ground distance,
      // EMD = Σ_prefix |cumc/n_c − cumg/N| / (m−1); cross-multiplying
      // turns every term into the exact integer |cumc·N − cumg·n_c|.
      // One bounded (class × 10-band) grid; windows only over ≤ 10-row
      // frames; the global cums ride a 10-row broadcast.
      import org.apache.spark.sql.expressions.Window
      val m = 10
      val bands = T(s, dir, "customer").select(
        col("c_mktsegment").as("seg"), col("c_nationkey").as("nation"),
        expr(s"least(greatest((CAST(round(c_acctbal * 100) AS BIGINT) + 100000) div 120000, 0), ${m - 1})")
          .as("b"))
      val byClass = bands.groupBy("seg", "nation", "b").agg(count(lit(1)).as("cnt"))
      val classes = byClass.select("seg", "nation").distinct()
      val wc = Window.partitionBy("seg", "nation").orderBy("b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cumC = classes
        .withColumn("b", explode(sequence(lit(0L), lit(m - 1L))))
        .join(byClass, Seq("seg", "nation", "b"), "left")
        .na.fill(0L, Seq("cnt"))
        .withColumn("cumc", sum("cnt").over(wc))
      val cumG = s.range(m).select(col("id").as("b"))
        .join(bands.groupBy("b").agg(count(lit(1)).as("gcnt")), Seq("b"), "left")
        .na.fill(0L, Seq("gcnt"))
        .withColumn("cumg", sum("gcnt").over(
          Window.orderBy("b").rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select("b", "cumg")
      val nC = bands.groupBy("seg", "nation").agg(count(lit(1)).as("n_c"))
      val tot = bands.agg(count(lit(1)).as("n_total"))
      cumC.filter(col("b") < m - 1) // prefixes 0..m-2
        .join(broadcast(cumG), Seq("b"))
        .join(broadcast(nC), Seq("seg", "nation"))
        .crossJoin(broadcast(tot))
        .groupBy(col("seg"), col("nation"), col("n_c"), col("n_total"))
        .agg(sum(abs(col("cumc").cast("decimal(18,0)") * col("n_total")
          - col("cumg").cast("decimal(18,0)") * col("n_c")))
          .cast("decimal(38,0)").as("emd_num"))
        .select(col("seg"), col("nation"), col("n_c"),
          col("emd_num").cast("long").as("emd_num"),
          expr(s"""CAST((CAST(emd_num AS DECIMAL(38,0)) * 1000000)
                   div (CAST(n_c AS DECIMAL(18,0)) * n_total * ${m - 1}) AS BIGINT)""")
            .as("emd_micro"))
        .withColumn("tclose", col("emd_micro") <= 200000L)
    }),

    "q_dp" -> Query(dpOracleSql)((s, dir) => {
      // ε-differentially-private count release via the geometric
      // mechanism (Ghosh–Roughgarden–Sundararajan, STOC 2009 — the
      // discrete Laplace, utility-optimal for counts): noise is the
      // EXACT inverse CDF of the two-sided geometric(α=½) (ε = ln 2)
      // applied to the 32-bit md5 fraction of the group key —
      // derandomized exactly like ta_bootstrap's Poisson multiplicities
      // (threshold literals computed once in exact BigInt), so the
      // release is reproducible under any partitioning and replayable
      // in the oracle. True counts ride along at fixture scale; a real
      // release would drop them (and the ±8 tail cap adds at most
      // 2^-8-mass truncation, stated here as part of the mechanism).
      val cnt = T(s, dir, "orders")
        .groupBy(col("o_orderpriority").as("pri")).agg(count(lit(1)).as("n"))
      cnt.withColumn("u32", conv(substring(md5(concat(lit("dp:"), col("pri"))), 1, 8),
          16, 10).cast("long"))
        .withColumn("noise", dpGeomNoise(col("u32")))
        .select(col("pri"), col("n"), col("noise"), (col("n") + col("noise")).as("dp_n"))
    }),

    "q_drift" -> Query(driftOracleSql)((s, dir) => {
      // snapshot drift report — the data-quality gate a daily ingest
      // runs before publishing: per-column profile metrics of the base
      // orders snapshot vs the post-CDC state (q_mv_retract's
      // deterministic update/insert/delete log), joined metric-by-
      // metric. ONE full-width aggregate per snapshot computes every
      // metric (count, nulls, distincts over the two bounded enums,
      // scaled-integer sum and extrema of the price), then a stack()
      // unpivot to (metric, value) rows — so drift over any column set
      // costs two scans total, never a scan per metric.
      def cdcState(base: DataFrame): DataFrame = {
        val upd = base.filter(col("o_orderkey") % 5 === 0)
          .withColumn("o_totalprice", col("o_totalprice") * 1.1)
          .withColumn("__seq__", lit(1)).withColumn("__op__", lit("U"))
        val ins = base.filter(col("o_orderkey") % 11 === 0)
          .withColumn("o_orderkey", col("o_orderkey") + 30000000L)
          .withColumn("__seq__", lit(1)).withColumn("__op__", lit("I"))
        val del = base.filter(col("o_orderkey") % 7 === 0)
          .withColumn("o_totalprice", lit(0.0))
          .withColumn("__seq__", lit(2)).withColumn("__op__", lit("D"))
        val log = base.withColumn("__seq__", lit(0)).withColumn("__op__", lit("B"))
          .unionByName(upd).unionByName(ins).unionByName(del)
        import org.apache.spark.sql.expressions.Window
        log.withColumn("__rn__", row_number().over(
            Window.partitionBy("o_orderkey").orderBy(col("__seq__").desc)))
          .filter(col("__rn__") === 1 && col("__op__") =!= "D")
          .drop("__rn__", "__seq__", "__op__")
      }
      def profile(df: DataFrame): DataFrame =
        df.agg(
          count(lit(1)).as("n_rows"),
          sum(when(col("o_orderstatus").isNull, 1L).otherwise(0L)).as("null_status"),
          countDistinct(col("o_orderstatus")).as("nd_status"),
          countDistinct(col("o_orderpriority")).as("nd_priority"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("sum_price_c"),
          min(round(col("o_totalprice") * 100).cast("long")).as("min_price_c"),
          max(round(col("o_totalprice") * 100).cast("long")).as("max_price_c"))
        .select(expr(
          """stack(7, 'n_rows', n_rows, 'null_status', null_status,
             |'nd_status', nd_status, 'nd_priority', nd_priority,
             |'sum_price_c', sum_price_c, 'min_price_c', min_price_c,
             |'max_price_c', max_price_c) AS (metric, value)""".stripMargin))
      val base = T(s, dir, "orders")
      profile(base).select(col("metric"), col("value").as("value_base"))
        .join(profile(cdcState(base))
          .select(col("metric"), col("value").as("value_new")), Seq("metric"))
        .select(col("metric"), col("value_base"), col("value_new"),
          (col("value_new") - col("value_base")).as("delta"))
    }),
    // q_benford: the same nine micro-log10 literals, HUGEINT squared
    // deviation, integral division
    "q_benford" -> Query(
      """WITH d AS (SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR), 1, 1) AS INTEGER) AS digit FROM orders),
         obs AS (SELECT digit, CAST(count(*) AS BIGINT) AS observed FROM d GROUP BY 1),
         t AS (SELECT CAST(sum(observed) AS BIGINT) AS n_total FROM obs),
         c AS (SELECT digit, observed,
                 n_total * ([301030,176091,124939,96910,79181,66947,57992,51153,45757])[digit] AS expected_micro
               FROM obs, t)
         SELECT CAST(digit AS BIGINT) AS digit, observed, CAST(expected_micro AS BIGINT) AS expected_micro,
           CAST(((observed * 1000000 - expected_micro)::HUGEINT * (observed * 1000000 - expected_micro))
                // expected_micro AS BIGINT) AS chi2_cell_micro
         FROM c""")((s, dir) => {
      // Benford first-digit audit of order totals (the fraud/data-entry
      // anomaly screen): observed first-digit counts of the cents
      // integer vs the Benford expectation, per-digit χ² contributions
      // in micro units. Expected probabilities log10(1+1/d) ride as
      // HARDCODED micro-integer literals (the same nine literals in the
      // oracle — no float log at query time), and the (O·1e6 − E_micro)²
      // numerator is exact DECIMAL(38,0). One groupBy over a 9-row
      // domain: trivially map-side combined at any scale.
      val obs = T(s, dir, "orders")
        .select(substring(round(col("o_totalprice") * 100).cast("long").cast("string"), 1, 1)
          .cast("int").as("digit"))
        .groupBy("digit").agg(count(lit(1)).as("observed"))
      val tot = obs.agg(sum("observed").as("n_total"))
      obs.crossJoin(broadcast(tot))
        .withColumn("p_micro", expr(
          "element_at(array(301030L,176091L,124939L,96910L,79181L,66947L,57992L,51153L,45757L), digit)"))
        .withColumn("expected_micro", col("n_total") * col("p_micro"))
        .withColumn("d_micro", col("observed") * lit(1000000L) - col("expected_micro"))
        .select(col("digit").cast("long").as("digit"), col("observed"), col("expected_micro"),
          expr("CAST((CAST(d_micro AS DECIMAL(38,0)) * d_micro) div expected_micro AS BIGINT)")
            .as("chi2_cell_micro"))
    }),

    "q_freshness" -> Query(
      """WITH o AS (SELECT 'orders' AS feed, CAST(count(*) AS BIGINT) AS n_rows, max(o_orderdate) AS max_ts FROM orders), l AS (SELECT 'lineitem' AS feed, CAST(count(*) AS BIGINT) AS n_rows, max(l_shipdate) AS max_ts FROM lineitem), u AS (SELECT * FROM o UNION ALL SELECT * FROM l), f AS (SELECT feed, n_rows, max_ts, CAST(floor(epoch(TIMESTAMP '1998-12-31 00:00:00')) AS BIGINT) - CAST(floor(epoch(max_ts)) AS BIGINT) AS lag_s, CAST(CASE WHEN feed = 'orders' THEN 17280000 ELSE 17280000 END AS BIGINT) AS sla_s FROM u) SELECT feed, n_rows, max_ts, lag_s, sla_s, lag_s > sla_s AS breached FROM f""")((s, dir) => {
      // data-freshness audit against a fixed as-of instant: per feed,
      // newest event time, staleness, and a breach flag against the
      // feed's SLA — the landing-zone monitor an orchestrator polls.
      // One column-pruned max per table; the as-of is a LITERAL so the
      // audit is replayable (a wall clock would never hash-match).
      val asof = "1998-12-31 00:00:00"
      def feed(name: String, df: DataFrame, tsCol: org.apache.spark.sql.Column,
               slaHours: Long) =
        df.agg(count(lit(1)).as("n_rows"), max(tsCol).as("max_ts"))
          .select(lit(name).as("feed"), col("n_rows"), col("max_ts"),
            (unix_timestamp(lit(asof).cast("timestamp"))
              - unix_timestamp(col("max_ts"))).as("lag_s"),
            lit(slaHours * 3600L).as("sla_s"))
          .withColumn("breached", col("lag_s") > col("sla_s"))
      feed("orders", T(s, dir, "orders"), col("o_orderdate"), 24L * 200)
        .unionByName(feed("lineitem", T(s, dir, "lineitem"), col("l_shipdate"), 24L * 200))
    }),

    "q_checksum_parts" -> Query(
      """WITH r AS (SELECT CAST(year(o_orderdate) AS BIGINT) AS part_year, concat_ws('|', o_orderkey, o_custkey, o_orderstatus, CAST(round(o_totalprice * 100) AS BIGINT), CAST(CAST(o_orderdate AS DATE) AS VARCHAR)) AS r FROM orders) SELECT part_year, CAST(count(*) AS BIGINT) AS n_rows, CAST(bit_xor(CAST(('0x' || substr(md5(r), 1, 15)) AS BIGINT)) AS BIGINT) AS checksum FROM r GROUP BY 1""")((s, dir) => {
      // partition-level reconciliation checksums: q_checksum's 60-bit
      // xor fold keyed by order year, so two replicas locate a divergent
      // PARTITION by exchanging one row per year instead of rescanning
      // the table — the incremental face of the anti-entropy audit.
      T(s, dir, "orders")
        .select(year(col("o_orderdate")).cast("long").as("part_year"),
          concat_ws("|", col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
            round(col("o_totalprice") * 100).cast("long"),
            col("o_orderdate").cast("date").cast("string")).as("r"))
        .groupBy("part_year")
        .agg(count(lit(1)).as("n_rows"),
          expr("bit_xor(CAST(conv(substring(md5(r), 1, 15), 16, 10) AS BIGINT))")
            .as("checksum"))
    }),

    "q_fd_check" -> Query(
      """WITH f1 AS (SELECT c_custkey AS l, CAST(count(DISTINCT c_name) AS BIGINT) AS n_rhs FROM customer GROUP BY 1), f2 AS (SELECT o_custkey AS l, CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS n_rhs FROM orders GROUP BY 1), f3 AS (SELECT l_orderkey AS l, CAST(count(DISTINCT l_returnflag) AS BIGINT) AS n_rhs FROM lineitem GROUP BY 1), f4 AS (SELECT l_partkey AS l, CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_rhs FROM lineitem GROUP BY 1) SELECT 'c_custkey->c_name' AS fd, CAST(count(*) AS BIGINT) AS n_groups, CAST(sum(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating, CAST(max(n_rhs) AS BIGINT) AS max_rhs FROM f1 UNION ALL SELECT 'o_custkey->o_orderstatus', CAST(count(*) AS BIGINT), CAST(sum(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) AS BIGINT), CAST(max(n_rhs) AS BIGINT) FROM f2 UNION ALL SELECT 'l_orderkey->l_returnflag', CAST(count(*) AS BIGINT), CAST(sum(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) AS BIGINT), CAST(max(n_rhs) AS BIGINT) FROM f3 UNION ALL SELECT 'l_partkey->l_suppkey', CAST(count(*) AS BIGINT), CAST(sum(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) AS BIGINT), CAST(max(n_rhs) AS BIGINT) FROM f4""")((s, dir) => {
      // functional-dependency audit (profiling for schema discovery /
      // DQ rules): for each candidate A→B, the count of A-groups whose
      // B is not single-valued. Written as the two-level (A,B) agg →
      // A agg so the distinct is map-side combinable — NEVER
      // countDistinct inside one wide row at 100 TB.
      def fd(df: DataFrame, name: String, lhs: String, rhs: String) =
        df.groupBy(col(lhs)).agg(count_distinct(col(rhs)).as("n_rhs"))
          .agg(count(lit(1)).as("n_groups"),
            sum(when(col("n_rhs") > 1L, 1L).otherwise(0L)).as("n_violating"),
            max("n_rhs").as("max_rhs"))
          .select(lit(name).as("fd"), col("n_groups"), col("n_violating"),
            col("max_rhs"))
      fd(T(s, dir, "customer"), "c_custkey->c_name", "c_custkey", "c_name")
        .unionByName(fd(T(s, dir, "orders"), "o_custkey->o_orderstatus",
          "o_custkey", "o_orderstatus"))
        .unionByName(fd(T(s, dir, "lineitem"), "l_orderkey->l_returnflag",
          "l_orderkey", "l_returnflag"))
        .unionByName(fd(T(s, dir, "lineitem"), "l_partkey->l_suppkey",
          "l_partkey", "l_suppkey"))
    }),

    "q_inclusion" -> Query(
      """WITH c1 AS (SELECT 'l_orderkey<=o_orderkey' AS candidate, CAST(count(*) AS BIGINT) AS n_distinct, CAST(sum(CASE WHEN NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = x.v) THEN 1 ELSE 0 END) AS BIGINT) AS n_missing FROM (SELECT DISTINCT l_orderkey AS v FROM lineitem) x), c2 AS (SELECT 'o_orderkey<=l_orderkey', CAST(count(*) AS BIGINT), CAST(sum(CASE WHEN NOT EXISTS (SELECT 1 FROM lineitem li WHERE li.l_orderkey = x.v) THEN 1 ELSE 0 END) AS BIGINT) FROM (SELECT DISTINCT o_orderkey AS v FROM orders) x), c3 AS (SELECT 'o_custkey<=c_custkey', CAST(count(*) AS BIGINT), CAST(sum(CASE WHEN NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = x.v) THEN 1 ELSE 0 END) AS BIGINT) FROM (SELECT DISTINCT o_custkey AS v FROM orders) x), c4 AS (SELECT 'p_partkey<=l_partkey', CAST(count(*) AS BIGINT), CAST(sum(CASE WHEN NOT EXISTS (SELECT 1 FROM lineitem li WHERE li.l_partkey = x.v) THEN 1 ELSE 0 END) AS BIGINT) FROM (SELECT DISTINCT p_partkey AS v FROM part) x), u AS (SELECT * FROM c1 UNION ALL SELECT * FROM c2 UNION ALL SELECT * FROM c3 UNION ALL SELECT * FROM c4) SELECT candidate, n_distinct, n_missing, n_missing = 0 AS holds FROM u""")((s, dir) => {
      // inclusion-dependency audit (foreign-key discovery): for each
      // candidate A ⊆ B, distinct A values minus B via distinct +
      // anti-join — the orphan count q_refint tracks, generalized to a
      // candidate panel with negative cases. Each check is one keyed
      // shuffle pair; nothing is collected.
      def incl(name: String, a: DataFrame, ac: String, b: DataFrame, bc: String) = {
        val da = a.select(col(ac).as("v")).distinct().localCheckpoint(true)
        val miss = da.join(b.select(col(bc).as("v")).distinct(), Seq("v"), "left_anti")
        da.agg(count(lit(1)).as("n_distinct"))
          .crossJoin(broadcast(miss.agg(count(lit(1)).as("n_missing"))))
          .select(lit(name).as("candidate"), col("n_distinct"), col("n_missing"),
            (col("n_missing") === 0L).as("holds"))
      }
      val li = T(s, dir, "lineitem"); val o = T(s, dir, "orders")
      incl("l_orderkey<=o_orderkey", li, "l_orderkey", o, "o_orderkey")
        .unionByName(incl("o_orderkey<=l_orderkey", o, "o_orderkey", li, "l_orderkey"))
        .unionByName(incl("o_custkey<=c_custkey", o, "o_custkey",
          T(s, dir, "customer"), "c_custkey"))
        .unionByName(incl("p_partkey<=l_partkey", T(s, dir, "part"), "p_partkey",
          li, "l_partkey"))
    }),

    "q_effective_n" -> Query(
      """WITH g AS (SELECT source, CAST(count(*) AS BIGINT) AS n, CAST(sum(CAST(n_chars AS HUGEINT)) AS HUGEINT) AS sw, CAST(sum(CAST(n_chars AS HUGEINT) * n_chars) AS HUGEINT) AS sww FROM documents GROUP BY 1) SELECT source, n, CAST((sw * sw * 1000000) // sww AS BIGINT) AS eff_n_micro, CAST((n * sww * 1000000) // (sw * sw) AS BIGINT) AS deff_micro FROM g""")((s, dir) => {
      // Kish effective sample size for length-weighted sampling: per
      // source, eff_n = (Σw)²/Σw² and the design effect n·Σw²/(Σw)² —
      // how much weighting (w = n_chars, the ta_wsample weights) costs
      // in variance. Exact DECIMAL(38,0) sums (HUGEINT oracle), one
      // hash agg.
      T(s, dir, "documents")
        .select(col("source"), col("n_chars").cast("long").as("w"))
        .groupBy("source")
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST(w AS DECIMAL(38,0))")).as("sw"),
          sum(expr("CAST(w AS DECIMAL(38,0)) * w")).as("sww"))
        .select(col("source"), col("n"),
          expr("CAST((sw * sw * 1000000) div sww AS BIGINT)").as("eff_n_micro"),
          expr("CAST((n * sww * 1000000) div (sw * sw) AS BIGINT)").as("deff_micro"))
    }),
    // q_capture_recapture: the same window-flag pass; Chapman estimate
    // and variance with HUGEINT products, identical double chain.
    "q_capture_recapture" -> Query(
      """WITH f AS (SELECT user_id, CAST(max(CASE WHEN ts < TIMESTAMP '2024-01-15 00:00:00' THEN 1 ELSE 0 END) AS BIGINT) AS w1, CAST(max(CASE WHEN ts >= TIMESTAMP '2024-01-15 00:00:00' THEN 1 ELSE 0 END) AS BIGINT) AS w2 FROM events GROUP BY 1), g AS (SELECT CAST(sum(w1) AS BIGINT) AS n1, CAST(sum(w2) AS BIGINT) AS n2, CAST(sum(w1 * w2) AS BIGINT) AS m FROM f), h AS (SELECT n1, n2, m, CAST((CAST(n1 + 1 AS HUGEINT) * (n2 + 1) * 1000000) // (m + 1) AS BIGINT) - 1000000 AS nhat_micro, CAST(round(sqrt(CAST(CAST(n1 + 1 AS HUGEINT) * (n2 + 1) * (n1 - m) * (n2 - m) AS DOUBLE) / (CAST(m + 1 AS DOUBLE) * CAST(m + 1 AS DOUBLE) * CAST(m + 2 AS DOUBLE))) * 1000000) AS BIGINT) AS se_micro FROM g) SELECT n1, n2, m, nhat_micro, se_micro, nhat_micro - CAST(round(1.96 * se_micro) AS BIGINT) AS lo_micro, nhat_micro + CAST(round(1.96 * se_micro) AS BIGINT) AS hi_micro FROM h""")((s, dir) => {
      // Lincoln–Petersen population estimate, Chapman-corrected: how
      // many users EXIST given two observation windows (first / second
      // half of the month) — the "how much are we not seeing"
      // data-quality number. N̂ = (n1+1)(n2+1)/(m+1) − 1 with the exact
      // product in micro-integer division; Chapman's variance for the
      // Wald CI is the one mirrored double chain. One distinct-user
      // pass builds both window flags.
      val f = events(s, dir).groupBy("user_id").agg(
        max(when(col("ts") < lit("2024-01-15 00:00:00").cast("timestamp"), 1L)
          .otherwise(0L)).as("w1"),
        max(when(col("ts") >= lit("2024-01-15 00:00:00").cast("timestamp"), 1L)
          .otherwise(0L)).as("w2"))
      f.agg(sum("w1").as("n1"), sum("w2").as("n2"),
          sum(expr("w1 * w2")).as("m"))
        .select(col("n1"), col("n2"), col("m"),
          expr("""CAST((CAST(n1 + 1 AS DECIMAL(38,0)) * (n2 + 1) * 1000000)
                 div (m + 1) AS BIGINT) - 1000000""").as("nhat_micro"),
          expr("""CAST(round(sqrt(CAST(CAST(n1 + 1 AS DECIMAL(38,0)) * (n2 + 1)
                 * (n1 - m) * (n2 - m) AS DOUBLE)
                 / (CAST(m + 1 AS DOUBLE) * CAST(m + 1 AS DOUBLE)
                    * CAST(m + 2 AS DOUBLE))) * 1000000) AS BIGINT)""").as("se_micro"))
        .select(col("n1"), col("n2"), col("m"), col("nhat_micro"), col("se_micro"),
          (col("nhat_micro") - expr("CAST(round(1.96 * se_micro) AS BIGINT)")).as("lo_micro"),
          (col("nhat_micro") + expr("CAST(round(1.96 * se_micro) AS BIGINT)")).as("hi_micro"))
    }),

    "q_key_discovery" -> Query(
      """WITH k1 AS (SELECT CAST(count(*) AS BIGINT) AS nd, CAST(sum(c) AS BIGINT) AS nr, CAST(max(c) AS BIGINT) AS md FROM (SELECT count(*) AS c FROM orders GROUP BY o_orderkey)), k2 AS (SELECT CAST(count(*) AS BIGINT) AS nd, CAST(sum(c) AS BIGINT) AS nr, CAST(max(c) AS BIGINT) AS md FROM (SELECT count(*) AS c FROM orders GROUP BY o_custkey)), k3 AS (SELECT CAST(count(*) AS BIGINT) AS nd, CAST(sum(c) AS BIGINT) AS nr, CAST(max(c) AS BIGINT) AS md FROM (SELECT count(*) AS c FROM orders GROUP BY o_custkey, o_orderdate)), k4 AS (SELECT CAST(count(*) AS BIGINT) AS nd, CAST(sum(c) AS BIGINT) AS nr, CAST(max(c) AS BIGINT) AS md FROM (SELECT count(*) AS c FROM lineitem GROUP BY l_orderkey)), k5 AS (SELECT CAST(count(*) AS BIGINT) AS nd, CAST(sum(c) AS BIGINT) AS nr, CAST(max(c) AS BIGINT) AS md FROM (SELECT count(*) AS c FROM lineitem GROUP BY l_orderkey, l_linenumber)) SELECT 'orders(o_orderkey)' AS candidate, nr AS n_rows, nd AS n_distinct, md AS max_dup, nr = nd AS is_key FROM k1 UNION ALL SELECT 'orders(o_custkey)', nr, nd, md, nr = nd FROM k2 UNION ALL SELECT 'orders(o_custkey,o_orderdate)', nr, nd, md, nr = nd FROM k3 UNION ALL SELECT 'lineitem(l_orderkey)', nr, nd, md, nr = nd FROM k4 UNION ALL SELECT 'lineitem(l_orderkey,l_linenumber)', nr, nd, md, nr = nd FROM k5""")((s, dir) => {
      // candidate-key discovery (the uniqueness half of q_fd_check):
      // for each column set, distinct combinations vs rows — written as
      // the two-level combo agg so the distinct is map-side combinable.
      def kd(df: DataFrame, name: String, cols: Seq[String]) = {
        val d = df.groupBy(cols.map(col): _*).agg(count(lit(1)).as("c"))
          .agg(count(lit(1)).as("n_distinct"), sum("c").as("n_rows"),
            max("c").as("max_dup"))
        d.select(lit(name).as("candidate"), col("n_rows"), col("n_distinct"),
          col("max_dup"), (col("n_rows") === col("n_distinct")).as("is_key"))
      }
      val o = T(s, dir, "orders"); val li = T(s, dir, "lineitem")
      kd(o, "orders(o_orderkey)", Seq("o_orderkey"))
        .unionByName(kd(o, "orders(o_custkey)", Seq("o_custkey")))
        .unionByName(kd(o, "orders(o_custkey,o_orderdate)",
          Seq("o_custkey", "o_orderdate")))
        .unionByName(kd(li, "lineitem(l_orderkey)", Seq("l_orderkey")))
        .unionByName(kd(li, "lineitem(l_orderkey,l_linenumber)",
          Seq("l_orderkey", "l_linenumber")))
    }),

    "q_monotonicity" -> Query(
      """WITH bins AS (SELECT CAST(l_quantity AS BIGINT) AS qty, CAST(count(*) AS BIGINT) AS n, CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS pos FROM lineitem GROUP BY 1), r AS (SELECT qty, (pos * 1000000) // n AS rate_micro FROM bins), l AS (SELECT rate_micro, lag(rate_micro, 1) OVER (ORDER BY qty) AS prev FROM r) SELECT CAST(count(*) AS BIGINT) AS n_bins, CAST(sum(CASE WHEN prev IS NOT NULL AND rate_micro < prev THEN 1 ELSE 0 END) AS BIGINT) AS n_violations, CAST(max(CASE WHEN prev IS NOT NULL AND rate_micro < prev THEN prev - rate_micro ELSE 0 END) AS BIGINT) AS worst_drop_micro FROM l""")((s, dir) => {
      // calibration monotonicity audit: is the empirical return rate
      // non-decreasing in quantity? Adjacent-bin violations over the
      // bounded quantity panel (whitelisted lag), reporting the count
      // and the worst inversion — the cheap isotonic check before
      // anyone fits PAVA.
      import org.apache.spark.sql.expressions.Window
      val bins = T(s, dir, "lineitem")
        .groupBy(expr("CAST(l_quantity AS BIGINT)").as("qty"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("pos"))
        .withColumn("rate_micro", expr("(pos * 1000000) div n"))
      bins
        .withColumn("prev", lag(col("rate_micro"), 1).over(Window.orderBy("qty")))
        .agg(count(lit(1)).as("n_bins"),
          sum(when(col("prev").isNotNull && col("rate_micro") < col("prev"), 1L)
            .otherwise(0L)).as("n_violations"),
          max(when(col("prev").isNotNull && col("rate_micro") < col("prev"),
            col("prev") - col("rate_micro")).otherwise(0L)).as("worst_drop_micro"))
    })
  )

  /** Two-sided geometric(α=½) noise order and exact inverse-CDF
    * thresholds on the 32-bit hash fraction (BigInt-exact rationals with
    * denominator 3·2⁸) — q_dp's derandomized discrete Laplace, shared
    * verbatim between engine and oracle. The exact draw condition is
    * u32/2³² < cdf, i.e. u32 < ⌈cdf·2³²⌉ — CEILING, not floor: at the
    * 11 non-divisible boundaries a floored literal would push the
    * boundary u32 into the next noise bucket, off by one vs the exact
    * fraction replay in Round5cSpec. Checked in order 0, +1, −1, …,
    * +8, −8; the untaken tail (mass 2/768) caps at +9.
    */
  private val dpNoiseSeq: Seq[Long] = 0L +: (1 to 8).flatMap(k => Seq(k.toLong, -k.toLong))
  private val dpThresholds: Seq[Long] = {
    val den = BigInt(3) * BigInt(256) // 3·2^8
    var num = BigInt(0)
    dpNoiseSeq.map { n =>
      val p = if (n == 0L) BigInt(256) else BigInt(1) << (8 - math.abs(n).toInt)
      num += p
      ((BigInt(2).pow(32) * num + den - 1) / den).toLong // ⌈·⌉
    }
  }

  private def dpGeomNoise(u32: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    dpThresholds.zip(dpNoiseSeq).foldRight(lit(9L): org.apache.spark.sql.Column) {
      case ((t, n), acc) => when(u32 < t, lit(n)).otherwise(acc)
    }

  /** q_dp: identical md5 fraction + the identical literal threshold chain
    * (exact BigInt CDF of the two-sided geometric, computed once).
    */
  private lazy val dpOracleSql: String = {
    val cases = dpThresholds.zip(dpNoiseSeq)
      .map { case (t, n) => s"WHEN u32 < $t THEN $n" }.mkString(" ")
    s"""WITH c AS (SELECT o_orderpriority AS pri, CAST(count(*) AS BIGINT) AS n FROM orders GROUP BY 1),
       |u AS (SELECT pri, n, CAST('0x' || substr(md5('dp:' || pri), 1, 8) AS BIGINT) AS u32 FROM c)
       |SELECT pri, n, CAST(CASE $cases ELSE 9 END AS BIGINT) AS noise,
       |  n + CAST(CASE $cases ELSE 9 END AS BIGINT) AS dp_n FROM u""".stripMargin
  }

  /** q_drift: the q_mv_retract CDC log carried through with all profiled
    * columns, then the identical 7-metric profile of each snapshot.
    */
  private lazy val driftOracleSql: String = {
    def prof(src: String): String =
      s"""SELECT 'n_rows' AS metric, CAST(count(*) AS BIGINT) AS value FROM $src
         | UNION ALL SELECT 'null_status', CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM $src
         | UNION ALL SELECT 'nd_status', CAST(count(DISTINCT o_orderstatus) AS BIGINT) FROM $src
         | UNION ALL SELECT 'nd_priority', CAST(count(DISTINCT o_orderpriority) AS BIGINT) FROM $src
         | UNION ALL SELECT 'sum_price_c', CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) FROM $src
         | UNION ALL SELECT 'min_price_c', CAST(min(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) FROM $src
         | UNION ALL SELECT 'max_price_c', CAST(max(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) FROM $src""".stripMargin
    s"""WITH log AS (
       |  SELECT o_orderkey, o_orderstatus, o_orderpriority, o_totalprice, 0 AS seq, 'B' AS op FROM orders
       |  UNION ALL SELECT o_orderkey, o_orderstatus, o_orderpriority, o_totalprice * 1.1, 1, 'U' FROM orders WHERE o_orderkey % 5 = 0
       |  UNION ALL SELECT o_orderkey + 30000000, o_orderstatus, o_orderpriority, o_totalprice, 1, 'I' FROM orders WHERE o_orderkey % 11 = 0
       |  UNION ALL SELECT o_orderkey, o_orderstatus, o_orderpriority, 0.0, 2, 'D' FROM orders WHERE o_orderkey % 7 = 0),
       |fin AS (SELECT o_orderkey, o_orderstatus, o_orderpriority, o_totalprice FROM
       |  (SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY seq DESC) AS rn FROM log)
       |  WHERE rn = 1 AND op <> 'D'),
       |pb AS (${prof("orders")}),
       |pn AS (${prof("fin")})
       |SELECT pb.metric, pb.value AS value_base, pn.value AS value_new,
       |  pn.value - pb.value AS delta
       |FROM pb JOIN pn ON pb.metric = pn.metric""".stripMargin
  }
}
