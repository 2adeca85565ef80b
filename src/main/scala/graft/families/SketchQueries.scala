package graft
package families

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import Shared._

/** The sk_ queries: mergeable sketches (HLL, CMS, theta/KMV).
  * Each entry holds a query's DuckDB oracle SQL and its builder.
  */
object SketchQueries {

  val entries: Seq[(String, Query)] = Seq(
    "sk_hll" -> Query(hllOracleSql)((s, dir) => {
      // mergeable HyperLogLog registers (functions.SketchAgg): ONE pass,
      // 1 KiB buffer per group, map-side combine — the 100 TB substitute
      // for count(DISTINCT) when groups × keys don't fit a shuffle. The
      // registers are deterministic FNV-1a maxima (order-free), and the
      // estimate is a fixed-order dyadic fold (2^-rho terms), so the
      // DOUBLE result is bit-identical to the DuckDB replay. hll_est is
      // the RAW estimator (valid here: nd >= 2.5m); below that regime the
      // emitted zero-register count is the linear-counting sufficient
      // statistic for the caller (m*ln(m/V) uses ln, which is not
      // bit-stable across engines — SketchSpec covers both regimes).
      // Exact distinct aggregates SEPARATELY (see q_approx: mixing
      // distinct with other aggs expands the sketch to per-(flag,key)
      // granularity).
      val li = T(s, dir, "lineitem")
      val p = hllP
      val m = 1 << p
      val amm = hllAlphaM2(m)
      val regs = li.groupBy("l_returnflag").agg(
        graft.functions.SketchAgg.hllRegisters(col("l_orderkey").cast("string"), p).as("regs"))
      val exact = li.groupBy("l_returnflag")
        .agg(count_distinct(col("l_orderkey")).as("exact_nd"))
      regs.join(exact, Seq("l_returnflag"))
        .select(col("l_returnflag"),
          size(filter(col("regs"), x => x === 0)).cast("long").as("zeros"),
          (lit(amm) / aggregate(col("regs"), lit(0.0),
            (acc, x) => acc + pow(lit(2.0), -x.cast("double")))).as("hll_est"),
          col("exact_nd"))
    }),

    "sk_cms" -> Query(cmsOracleSql)((s, dir) => {
      // Count-Min heavy hitters: ONE pass builds a 4×1024-counter matrix
      // (32 KiB, elementwise-sum merge); the probe side broadcasts the
      // single sketch row and reads min-of-4 counters per candidate — at
      // 100 TB the sketch replaces a second full scan when candidate keys
      // are known (boilerplate/stop-token detection). est >= true_cnt by
      // construction (one-sided error); collisions of 2000 parts into
      // 1024 buckets make the overestimate REAL, and the oracle replays
      // the exact collided counters.
      val li = T(s, dir, "lineitem")
      val keys = li.select(col("l_partkey").cast("string").as("g"))
      val sk = keys.agg(
        graft.functions.SketchAgg.cmsCounters(col("g"), cmsDepth, cmsLogW).as("cms"))
      val heavy = keys.groupBy("g").agg(count(lit(1)).as("true_cnt"))
        .filter(col("true_cnt") >= 45)
      heavy.join(broadcast(sk))
        .select(col("g").cast("long").as("l_partkey"), col("true_cnt"),
          graft.functions.SketchAgg.cmsEstimate(
            col("cms"), col("g"), cmsDepth, cmsLogW).as("cms_est"))
    }),

    "sk_hll_union" -> Query(hllUnionOracleSql)((s, dir) => {
      // sketch ALGEBRA: |A ∪ B| from two groups' registers via elementwise
      // max — no rescan, no exact distinct-union shuffle. This is why
      // sketches beat exact counts at 100 TB: per-segment sketches roll up
      // to any union of segments as kilobyte-sized merges. Both sides are
      // in the raw-estimator regime (nd >= 2.5m; see sk_hll).
      val li = T(s, dir, "lineitem")
      val regs = li.groupBy("l_linestatus").agg(
        graft.functions.SketchAgg.hllRegisters(
          col("l_orderkey").cast("string"), hllP).as("regs"))
      val wide = regs.agg(
        first(when(col("l_linestatus") === "O", col("regs")), ignoreNulls = true).as("ro"),
        first(when(col("l_linestatus") === "F", col("regs")), ignoreNulls = true).as("rf"))
      val exact = li.agg(count_distinct(col("l_orderkey")).as("exact_union"))
      wide.crossJoin(exact).select(
        hllEstCol(col("ro")).as("hll_o"),
        hllEstCol(col("rf")).as("hll_f"),
        hllEstCol(zip_with(col("ro"), col("rf"), (a, b) => greatest(a, b))).as("hll_union"),
        col("exact_union"))
    }),

    "sk_hll_intersect" -> Query(hllIntersectOracleSql)((s, dir) => {
      // sketch set algebra, part 2: |A ∩ B| by inclusion-exclusion over
      // the raw estimates — est(A) + est(B) − est(A ∪ B), with the union
      // estimate from the elementwise register max (sk_hll_union). Same
      // 100 TB story: per-segment kilobyte sketches answer any overlap
      // question without rescanning; the exact column is the test-time
      // truth (one aggregate over the conditional flags).
      val li = T(s, dir, "lineitem")
      val regs = li.groupBy("l_linestatus").agg(
        graft.functions.SketchAgg.hllRegisters(
          col("l_orderkey").cast("string"), hllP).as("regs"))
      val wide = regs.agg(
        first(when(col("l_linestatus") === "O", col("regs")), ignoreNulls = true).as("ro"),
        first(when(col("l_linestatus") === "F", col("regs")), ignoreNulls = true).as("rf"))
      val exact = li.groupBy("l_orderkey").agg(
          max(when(col("l_linestatus") === "O", lit(1)).otherwise(lit(0))).as("has_o"),
          max(when(col("l_linestatus") === "F", lit(1)).otherwise(lit(0))).as("has_f"))
        .filter(col("has_o") === 1 && col("has_f") === 1)
        .agg(count(lit(1)).as("exact_intersect"))
      val ru = zip_with(col("ro"), col("rf"), (a, b) => greatest(a, b))
      wide.crossJoin(exact).select(
        hllEstCol(col("ro")).as("hll_o"),
        hllEstCol(col("rf")).as("hll_f"),
        hllEstCol(ru).as("hll_union"),
        (hllEstCol(col("ro")) + hllEstCol(col("rf")) - hllEstCol(ru)).as("hll_intersect"),
        col("exact_intersect"))
    }),

    "sk_theta" -> Query(thetaOracleSql)((s, dir) => {
      // KMV / theta sketch (Beyer et al., SIGMOD 2007): bottom-k of the
      // fnv1a64∘fmix64 key hashes, the mergeable distinct sketch whose
      // SET ALGEBRA covers what HLL registers cannot — intersection AND
      // difference estimates from one union sketch. A = order-placing
      // customers, B = positive-balance customers. Convention shared
      // with the oracle: if a sketch is not full, θ = 2⁶⁴ and every
      // hash is retained; if full, θ = the k-th smallest and retained
      // means strictly below θ. est(X) = |retained ∩ X| · 2⁶⁴ div θ —
      // all DECIMAL(38,0) integer arithmetic. 100 TB shape: the hash
      // set is distinct-reduced map-side, the bottom-k is a k-bounded
      // TakeOrdered, and every later join touches ≤ k rows. Exact
      // counts ride along as the ground truth (affordable here; at
      // 100 TB you would publish only the sketch estimates).
      val k = 256
      val two64 = "CAST('18446744073709551616' AS DECIMAL(38,0))"
      def hashes(keys: DataFrame): DataFrame = keys.distinct()
        .select(graft.functions.Hashing.fnvFmix64(col("g").cast("string")).as("h"))
        .distinct()
        .withColumn("u", expr(
          s"CAST(h AS DECIMAL(38,0)) + CASE WHEN h < 0 THEN $two64 ELSE CAST(0 AS DECIMAL(38,0)) END"))
      val hA = hashes(T(s, dir, "orders").select(col("o_custkey").as("g")))
        .localCheckpoint(true)
      val hB = hashes(T(s, dir, "customer").filter(col("c_acctbal") > 0)
        .select(col("c_custkey").as("g"))).localCheckpoint(true)
      def theta(n: Long): org.apache.spark.sql.Column =
        if (n < k) expr(two64) else expr("max(u)")
      def sketch(hs: DataFrame): DataFrame = hs.orderBy(col("u")).limit(k)
      val skA = sketch(hA).localCheckpoint(true)
      val skB = sketch(hB).localCheckpoint(true)
      val skU = sketch(hA.union(hB).distinct()).localCheckpoint(true)
      val nA = skA.count(); val nB = skB.count(); val nU = skU.count()
      val thA = skA.agg(theta(nA).as("th"))
      val thB = skB.agg(theta(nB).as("th"))
      val thU = skU.agg(theta(nU).as("th"))
      val flagged = skU
        .join(hA.select(col("h"), lit(1L).as("in_a")), Seq("h"), "left")
        .join(hB.select(col("h"), lit(1L).as("in_b")), Seq("h"), "left")
        .na.fill(0L, Seq("in_a", "in_b"))
      // per-set estimates from each set's own sketch
      def setEst(sk: DataFrame, th: DataFrame): DataFrame =
        sk.crossJoin(broadcast(th)).filter(col("u") < col("th"))
          .agg(count(lit(1)).as("c"), first(col("th")).as("th"))
          .select(expr(s"CAST((CAST(c AS DECIMAL(38,0)) * $two64) div th AS BIGINT)").as("e"))
      val eA = setEst(skA, thA).withColumnRenamed("e", "est_a")
      val eB = setEst(skB, thB).withColumnRenamed("e", "est_b")
      val eSets = flagged.crossJoin(broadcast(thU)).filter(col("u") < col("th"))
        .agg(count(lit(1)).as("cu"),
          sum(when(col("in_a") === 1L && col("in_b") === 1L, 1L).otherwise(0L)).as("ci"),
          sum(when(col("in_a") === 1L && col("in_b") === 0L, 1L).otherwise(0L)).as("cd"),
          first(col("th")).as("th"))
        .select(
          expr(s"CAST((CAST(cu AS DECIMAL(38,0)) * $two64) div th AS BIGINT)").as("est_union"),
          expr(s"CAST((CAST(ci AS DECIMAL(38,0)) * $two64) div th AS BIGINT)").as("est_inter"),
          expr(s"CAST((CAST(cd AS DECIMAL(38,0)) * $two64) div th AS BIGINT)").as("est_diff_ab"))
      val exact = hA.select(col("h"), lit(1L).as("a"))
        .join(hB.select(col("h"), lit(1L).as("b")), Seq("h"), "full")
        .na.fill(0L, Seq("a", "b"))
        .agg(count(lit(1)).as("exact_union"),
          sum(when(col("a") === 1L && col("b") === 1L, 1L).otherwise(0L)).as("exact_inter"),
          sum(when(col("a") === 1L && col("b") === 0L, 1L).otherwise(0L)).as("exact_diff_ab"))
      eA.crossJoin(eB).crossJoin(eSets).crossJoin(exact)
        .select(lit(k.toLong).as("k"), lit(nA).as("n_sk_a"), lit(nB).as("n_sk_b"),
          col("est_a"), col("est_b"), col("est_union"), col("est_inter"),
          col("est_diff_ab"), col("exact_union"), col("exact_inter"), col("exact_diff_ab"))
    }),

    "sk_theta_grouped" -> Query(kmvGroupedOracleSql)((s, dir) => {
      // per-group KMV distinct estimates via the MERGEABLE bottom-k
      // aggregate (functions.KmvAgg) — the aggregation-shaped theta
      // sketch: one map-side-combined pass, ≤ k·8 bytes of shuffle per
      // group, estimates from plain array expressions downstream. Same
      // domain as sk_hll (distinct orderkeys per returnflag) so the two
      // sketches' accuracy is directly comparable; exact counts ride
      // along as fixture ground truth.
      val sk = T(s, dir, "lineitem").groupBy("l_returnflag")
        .agg(graft.functions.SketchAgg.kmvBottomK(
          col("l_orderkey").cast("string"), 256).as("arr"))
        .select(col("l_returnflag"), size(col("arr")).cast("long").as("n_sk"),
          expr(kmvEstSql("arr", 256)).as("kmv_est"))
      val exact = T(s, dir, "lineitem").groupBy("l_returnflag")
        .agg(countDistinct(col("l_orderkey")).as("exact_nd"))
      sk.join(exact, Seq("l_returnflag"))
    }),
    // sk_incremental: per-(source, half) fmix bottom-256 via QUALIFY,
    // list-level union + sort + slice, equality against the full sketch
    "sk_incremental" -> Query(
      s"""WITH ${fmixChainCtes(
           """SELECT source || chr(1) || CASE WHEN doc_id < 250 THEN 'a' ELSE 'b' END AS flag,
             |              CAST(doc_id AS VARCHAR) AS g FROM documents""".stripMargin)},
         |sk AS MATERIALIZED (SELECT flag, h FROM fm QUALIFY row_number() OVER (PARTITION BY flag ORDER BY h) <= 256),
         |sks AS (SELECT string_split(flag, chr(1))[1] AS source, string_split(flag, chr(1))[2] AS half, list(h ORDER BY h) AS arr FROM sk GROUP BY 1, 2),
         |merged AS (SELECT source,
         |    list_sort(list_distinct(flatten(list(arr))))[1:256] AS m
         |  FROM sks GROUP BY 1),
         |fullk AS (SELECT string_split(flag, chr(1))[1] AS source, h FROM fm),
         |fsk AS (SELECT source, list(h ORDER BY h) AS uf FROM
         |  (SELECT source, h FROM (SELECT DISTINCT source, h FROM fullk)
         |   QUALIFY row_number() OVER (PARTITION BY source ORDER BY h) <= 256) GROUP BY 1)
         |SELECT merged.source, CAST(len(m) AS BIGINT) AS n_merged,
         |  CAST((CASE WHEN len(m) < 256 THEN len(m) ELSE len(m) - 1 END::HUGEINT * $U64)
         |       // (CASE WHEN len(m) < 256 THEN $U64 ELSE m[-1] END) AS BIGINT) AS kmv_est_merged,
         |  m = uf AS equal_full
         |FROM merged JOIN fsk ON merged.source = fsk.source""".stripMargin)((s, dir) => {
      // incremental distinct-ledger update: yesterday's per-source KMV
      // sketch merged with today's batch sketch WITHOUT rescanning
      // history — set-union + bottom-k at the ARRAY level (pure codegen
      // expressions, no re-aggregation), and the merge is proven
      // in-row equal to the full-corpus sketch (`equal_full`): the
      // mergeability that makes the daily 100 TB ingest update O(today)
      // instead of O(history). Sketches ride as unsigned DECIMAL(38,0)
      // arrays so array_sort gives unsigned hash order.
      val k = 256
      val two64 = "CAST('18446744073709551616' AS DECIMAL(38,0))"
      val docs = T(s, dir, "documents")
      def sk(part: DataFrame): DataFrame = part.groupBy("source")
        .agg(graft.functions.SketchAgg.kmvBottomK(col("doc_id").cast("string"), k).as("arr"))
      def toU(c: String) = expr(
        s"""transform($c, h -> CAST(h AS DECIMAL(38,0))
           | + CASE WHEN h < 0 THEN $two64 ELSE CAST(0 AS DECIMAL(38,0)) END)""".stripMargin)
      val empty = s"CAST(array() AS ARRAY<DECIMAL(38,0)>)"
      val yday = sk(docs.filter(col("doc_id") < 250)).select(col("source"), toU("arr").as("ua"))
      val today = sk(docs.filter(col("doc_id") >= 250)).select(col("source"), toU("arr").as("ub"))
      val full = sk(docs).select(col("source"), toU("arr").as("uf"))
      yday.join(today, Seq("source"), "full")
        .withColumn("m", expr(
          s"slice(array_sort(array_union(coalesce(ua, $empty), coalesce(ub, $empty))), 1, $k)"))
        .join(full, Seq("source"))
        .select(col("source"), size(col("m")).cast("long").as("n_merged"),
          expr(s"""CAST((CAST(CASE WHEN size(m) < $k THEN size(m) ELSE size(m) - 1 END AS DECIMAL(38,0))
                   | * $two64) div (CASE WHEN size(m) < $k THEN $two64 ELSE element_at(m, -1) END) AS BIGINT)""".stripMargin)
            .as("kmv_est_merged"),
          (col("m") === col("uf")).as("equal_full"))
    }),

    "sk_bloom_planner" -> Query(
      """WITH n AS (SELECT source, CAST(count(*) AS HUGEINT) AS n FROM documents GROUP BY 1), t(fpp_bp, lnp) AS (VALUES (100, 4605170185988), (10, 6907755278982)), m AS (SELECT source, n, fpp_bp, CAST(lnp AS HUGEINT) AS lnp, (n * lnp + 480453013917) // 480453013918 AS m_bits FROM n, t) SELECT source, CAST(n AS BIGINT) AS n_items, CAST(fpp_bp AS BIGINT) AS fpp_bp, CAST(m_bits AS BIGINT) AS m_bits, CAST((m_bits * 693147180560 + n * 500000000000) // (n * 1000000000000) AS BIGINT) AS k_hashes, CAST((m_bits * 1000000) // n AS BIGINT) AS bits_per_item_micro FROM m""")((s, dir) => {
      // Bloom-filter sizing planner: for each source's distinct-doc count
      // and each target fpp, the optimal bit count m = ceil(n·ln(1/p)/ln²2)
      // and hash count k = round(m/n·ln2) — the table a 100 TB ingest
      // reads before building join-pruning filters (q_bloom_join). The
      // ln constants are pico-scaled INTEGER literals shared with the
      // oracle; DECIMAL(38) keeps n·1e12 exact at any corpus size.
      val n = T(s, dir, "documents").groupBy("source")
        .agg(count(lit(1)).cast("decimal(38,0)").as("n"))
      val targets = s.createDataFrame(Seq((100L, 4605170185988L), (10L, 6907755278982L)))
        .toDF("fpp_bp", "ln_inv_p_pico") // ln(1/0.01), ln(1/0.001) ·1e12
      n.crossJoin(broadcast(targets))
        .select(col("source"), col("n").cast("long").as("n_items"), col("fpp_bp"),
          expr("CAST((n * ln_inv_p_pico + 480453013917) div 480453013918 AS BIGINT)")
            .as("m_bits"), // ceil-div of positives as (a+b−1) div b; ln²2·1e12
          col("n"), col("ln_inv_p_pico"))
        .select(col("source"), col("n_items"), col("fpp_bp"), col("m_bits"),
          expr("""CAST((CAST(m_bits AS DECIMAL(38,0)) * 693147180560
                 + n * 500000000000) div (n * 1000000000000) AS BIGINT)""")
            .as("k_hashes"),
          expr("CAST((CAST(m_bits AS DECIMAL(38,0)) * 1000000) div n AS BIGINT)")
            .as("bits_per_item_micro"))
    }),

    "sk_quantile" -> Query(
      """WITH sample AS (SELECT l_returnflag AS g, CAST(round(l_extendedprice * 100) AS BIGINT) AS v, l_orderkey, l_linenumber FROM lineitem WHERE substr(md5('qs:' || CAST(l_orderkey AS VARCHAR) || ':' || CAST(l_linenumber AS VARCHAR)), 1, 1) = '0'), r AS (SELECT g, v, CAST(row_number() OVER (PARTITION BY g ORDER BY v, l_orderkey, l_linenumber) AS BIGINT) AS rn, CAST(count(*) OVER (PARTITION BY g) AS BIGINT) AS ns FROM sample), k(k) AS (VALUES (1), (2), (3)) SELECT g AS l_returnflag, CAST(k AS BIGINT) AS quartile, ns AS n_sample, v AS est_c FROM r JOIN k ON rn = (ns * k + 3) // 4""")((s, dir) => {
      // mergeable quantile sketch by uniform hash sampling: keep rows
      // whose md5 nibble is 0 (an exact 1/16 Bernoulli that is
      // order-free and union-mergeable — the sample of a union IS the
      // union of samples), then nearest-rank quartiles of the sample
      // per group. The 100 TB substitute for exact global quantiles:
      // the full sort touches 1/16 of the data, and the sample itself
      // shrinks with a smaller threshold. Per-group windows only.
      import org.apache.spark.sql.expressions.Window
      val sample = T(s, dir, "lineitem")
        .select(col("l_returnflag").as("g"),
          expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("v"),
          col("l_orderkey"), col("l_linenumber"))
        .filter(expr(
          "substr(md5(concat('qs:', CAST(l_orderkey AS STRING), ':', CAST(l_linenumber AS STRING))), 1, 1) = '0'"))
      val w = Window.partitionBy("g").orderBy(col("v"), col("l_orderkey"), col("l_linenumber"))
      val ranked = sample
        .withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("ns", count(lit(1)).over(Window.partitionBy("g")))
      val ks = s.createDataFrame(Seq(Tuple1(1L), Tuple1(2L), Tuple1(3L))).toDF("k")
      ranked.join(broadcast(ks), col("rn") === expr("(ns * k + 3) div 4"))
        .select(col("g").as("l_returnflag"), col("k").as("quartile"),
          col("ns").as("n_sample"), col("v").as("est_c"))
    }),
    // sk_mg: the two exact facts recomputed in SQL; the two booleans are
    // MG theorems the ENGINE verifies against exact counts (they can
    // only be false if the aggregate is buggy) — sk_hll envelope style
    "sk_mg" -> Query(
      """WITH f AS (SELECT ascii(l_returnflag) AS key, count(*) AS f FROM lineitem GROUP BY 1),
         t AS (SELECT CAST(sum(f) AS BIGINT) AS n_total FROM f)
         SELECT n_total, CAST(2 AS BIGINT) AS k,
           CAST((SELECT count(*) FROM f WHERE f * 3 > t.n_total) AS BIGINT) AS n_guaranteed,
           TRUE AS guaranteed_present, TRUE AS bounds_ok
         FROM t""")((s, dir) => {
      // Misra-Gries heavy hitters (k = 2 counters over the return-flag
      // domain) — the deterministic-guarantee frequency summary that
      // completes the sketch family (HLL, CMS, theta, KMV, quantile,
      // Bloom, bitmap): f − n/(k+1) ≤ est ≤ f and every key with
      // f > n/(k+1) survives ANY merge order. Raw estimates are
      // merge-order-dependent, so the row exposes only the theorem-level
      // facts — the guaranteed-hitter count (exact SQL), an engine-
      // verified presence bit and an engine-verified bound bit — the
      // sk_hll error-envelope discipline. Buffer is ≤k pairs: a 100 TB
      // scan ships bytes per partition.
      val k = 2
      val li = T(s, dir, "lineitem")
        .select(expr("ascii(l_returnflag)").cast("long").as("key"))
      val exact = li.groupBy("key").agg(count(lit(1)).as("f"))
      val tot = exact.agg(sum("f").as("n_total"))
      val cand = li.agg(graft.functions.SketchAgg.misraGries(col("key"), k).as("mg"))
        .select(explode(col("mg")).as("c"))
        .select(col("c.key").as("key"), col("c.est").as("est"))
      exact.crossJoin(broadcast(tot)).join(broadcast(cand), Seq("key"), "left")
        .agg(max("n_total").as("n_total"),
          sum(when(col("f") * (k + 1) > col("n_total"), 1L).otherwise(0L))
            .as("n_guaranteed"),
          min(when(col("f") * (k + 1) > col("n_total"),
            col("est").isNotNull.cast("int")).otherwise(1)).as("gp"),
          min(when(col("est").isNotNull,
            (col("est") <= col("f") &&
              (col("f") - col("est")) * (k + 1) <= col("n_total")).cast("int"))
            .otherwise(1)).as("bok"))
        .select(col("n_total"), lit(k.toLong).as("k"), col("n_guaranteed"),
          (col("gp") === 1).as("guaranteed_present"),
          (col("bok") === 1).as("bounds_ok"))
    }),

    "sk_bloom_fpr" -> Query(
      """WITH keys AS (SELECT DISTINCT o_orderkey AS x FROM orders), pos AS (SELECT CAST(('0x' || substr(md5('b1:' || CAST(x AS VARCHAR)), 1, 15)) AS BIGINT) % 2097152 AS p FROM keys UNION ALL SELECT CAST(('0x' || substr(md5('b2:' || CAST(x AS VARCHAR)), 1, 15)) AS BIGINT) % 2097152 FROM keys), words AS (SELECT p // 32 AS word, CAST(bit_or(1::BIGINT << CAST(p % 32 AS INTEGER)) AS BIGINT) AS bits FROM pos GROUP BY 1), probes AS (SELECT x + 100000000 AS pr FROM keys), ph AS (SELECT pr, CAST(('0x' || substr(md5('b1:' || CAST(pr AS VARCHAR)), 1, 15)) AS BIGINT) % 2097152 AS h1, CAST(('0x' || substr(md5('b2:' || CAST(pr AS VARCHAR)), 1, 15)) AS BIGINT) % 2097152 AS h2 FROM probes), looked AS (SELECT pr, coalesce(w1.bits & (1::BIGINT << CAST(h1 % 32 AS INTEGER)), 0) <> 0 AND coalesce(w2.bits & (1::BIGINT << CAST(h2 % 32 AS INTEGER)), 0) <> 0 AS hit FROM ph LEFT JOIN words w1 ON w1.word = h1 // 32 LEFT JOIN words w2 ON w2.word = h2 // 32), agg AS (SELECT CAST(count(*) AS BIGINT) AS n_probes, CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos FROM looked), nk AS (SELECT CAST(count(*) AS BIGINT) AS n_keys FROM keys) SELECT n_keys, CAST(2097152 AS BIGINT) AS m_bits, n_probes, n_false_pos, (n_false_pos * 1000000) // n_probes AS fpr_micro FROM agg, nk""")((s, dir) => {
      // measured Bloom false-positive rate (the empirical check behind
      // sk_bloom_planner's math): k=2 md5-derived positions in a 2²¹-bit
      // filter built from distinct order keys (word/bit_or packing, the
      // q_bitmap shape), probed with keys shifted +10⁸ (guaranteed
      // absent). Build and probe are each one keyed shuffle; the filter
      // is ~64K words.
      def h(tag: String, c: String) =
        s"CAST(conv(substr(md5(concat('$tag:', CAST($c AS STRING))), 1, 15), 16, 10) AS BIGINT) % 2097152"
      val keys = T(s, dir, "orders").select(col("o_orderkey").as("x"))
        .distinct().localCheckpoint(true) // build + probe sides
      val words = keys
        .select(explode(array(expr(h("b1", "x")), expr(h("b2", "x")))).as("pos"))
        .select(expr("pos div 32").as("word"),
          expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT))").as("bit"))
        .groupBy("word").agg(expr("bit_or(bit)").as("bits"))
        .localCheckpoint(true) // probed twice
      val probes = keys.select((col("x") + 100000000L).as("p"))
        .withColumn("h1", expr(h("b1", "p")))
        .withColumn("h2", expr(h("b2", "p")))
      val looked = probes
        .join(words.select(col("word").as("w1"), col("bits").as("bb1")),
          expr("h1 div 32") === col("w1"), "left")
        .join(words.select(col("word").as("w2"), col("bits").as("bb2")),
          expr("h2 div 32") === col("w2"), "left")
        .withColumn("hit", expr(
          """coalesce(bb1 & shiftleft(CAST(1 AS BIGINT), CAST(h1 % 32 AS INT)), 0) != 0
            | AND coalesce(bb2 & shiftleft(CAST(1 AS BIGINT), CAST(h2 % 32 AS INT)), 0) != 0"""
            .stripMargin))
      looked.agg(count(lit(1)).as("n_probes"),
          sum(when(col("hit"), 1L).otherwise(0L)).as("n_false_pos"))
        .crossJoin(broadcast(keys.agg(count(lit(1)).as("n_keys"))))
        .select(col("n_keys"), lit(2097152L).as("m_bits"), col("n_probes"),
          col("n_false_pos"),
          expr("(n_false_pos * 1000000) div n_probes").as("fpr_micro"))
    })
  )

  /** Raw HLL estimate from a register array Column: α·m² divided by the
    * fixed-order dyadic fold Σ 2^-rho (bit-identical to the oracle's
    * list_reduce — same IEEE additions in the same order).
    */
  private def hllEstCol(regs: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    lit(hllAlphaM2(1 << hllP)) / aggregate(regs, lit(0.0),
      (acc, x) => acc + pow(lit(2.0), -x.cast("double")))

  /** sk_hll_union: |A ∪ B| from the elementwise register max. */
  private lazy val hllUnionOracleSql: String = {
    val m = 1 << hllP
    s"""WITH ${hllVecCtes("SELECT l_linestatus AS flag, CAST(l_orderkey AS VARCHAR) AS g FROM lineitem")},
       |o AS (SELECT regs AS ro FROM vec WHERE flag = 'O'),
       |f AS (SELECT regs AS rf FROM vec WHERE flag = 'F'),
       |u AS (SELECT ro, rf, list_transform(range($m), i -> greatest(ro[CAST(i AS INTEGER) + 1], rf[CAST(i AS INTEGER) + 1])) AS ru FROM o, f),
       |ex AS (SELECT count(DISTINCT l_orderkey) AS exact_union FROM lineitem)
       |SELECT ${hllEstSql("ro")} AS hll_o, ${hllEstSql("rf")} AS hll_f, ${hllEstSql("ru")} AS hll_union, exact_union FROM u, ex""".stripMargin
  }

  /** sk_hll_intersect: inclusion-exclusion over the same three raw
    * estimates as sk_hll_union, in the identical left-associated order.
    */
  private lazy val hllIntersectOracleSql: String = {
    val m = 1 << hllP
    s"""WITH ${hllVecCtes("SELECT l_linestatus AS flag, CAST(l_orderkey AS VARCHAR) AS g FROM lineitem")},
       |o AS (SELECT regs AS ro FROM vec WHERE flag = 'O'),
       |f AS (SELECT regs AS rf FROM vec WHERE flag = 'F'),
       |u AS (SELECT ro, rf, list_transform(range($m), i -> greatest(ro[CAST(i AS INTEGER) + 1], rf[CAST(i AS INTEGER) + 1])) AS ru FROM o, f),
       |ex AS (SELECT CAST(count(*) AS BIGINT) AS exact_intersect FROM (SELECT l_orderkey FROM lineitem WHERE l_linestatus = 'O' INTERSECT SELECT l_orderkey FROM lineitem WHERE l_linestatus = 'F'))
       |SELECT ${hllEstSql("ro")} AS hll_o, ${hllEstSql("rf")} AS hll_f, ${hllEstSql("ru")} AS hll_union, ${hllEstSql("ro")} + ${hllEstSql("rf")} - ${hllEstSql("ru")} AS hll_intersect, exact_intersect FROM u, ex""".stripMargin
  }

  /** sk_theta: the full KMV replay — fnv1a64∘fmix64 in HUGEINT (the
    * hllVecCtes finalizer chain), unsigned bottom-256 per set and for
    * the union, the shared θ convention (2⁶⁴ when not full, else the
    * k-th smallest; retained = strictly below θ), and HUGEINT
    * truncating division for every estimate.
    */
  private lazy val thetaOracleSql: String = {
    s"""WITH ${fmixChainCtes(
        """SELECT 'A' AS flag, CAST(o_custkey AS VARCHAR) AS g FROM orders
          |              UNION ALL SELECT 'B', CAST(c_custkey AS VARCHAR) FROM customer WHERE c_acctbal > 0""".stripMargin)},
       |ha AS MATERIALIZED (SELECT h FROM fm WHERE flag = 'A'),
       |hb AS MATERIALIZED (SELECT h FROM fm WHERE flag = 'B'),
       |ska AS MATERIALIZED (SELECT h FROM ha ORDER BY h LIMIT 256),
       |skb AS MATERIALIZED (SELECT h FROM hb ORDER BY h LIMIT 256),
       |sku AS MATERIALIZED (SELECT h FROM (SELECT h FROM ha UNION SELECT h FROM hb) ORDER BY h LIMIT 256),
       |tha AS (SELECT CASE WHEN count(*) < 256 THEN $U64 ELSE max(h) END AS th, count(*) AS n_sk FROM ska),
       |thb AS (SELECT CASE WHEN count(*) < 256 THEN $U64 ELSE max(h) END AS th, count(*) AS n_sk FROM skb),
       |thu AS (SELECT CASE WHEN count(*) < 256 THEN $U64 ELSE max(h) END AS th FROM sku),
       |ea AS (SELECT CAST((count(*)::HUGEINT * $U64) // th AS BIGINT) AS est_a FROM ska, tha WHERE h < th GROUP BY th),
       |eb AS (SELECT CAST((count(*)::HUGEINT * $U64) // th AS BIGINT) AS est_b FROM skb, thb WHERE h < th GROUP BY th),
       |fl AS (SELECT sku.h, (a.h IS NOT NULL) AS in_a, (b.h IS NOT NULL) AS in_b
       |       FROM sku LEFT JOIN ha a ON sku.h = a.h LEFT JOIN hb b ON sku.h = b.h),
       |eu AS (SELECT CAST((count(*)::HUGEINT * $U64) // th AS BIGINT) AS est_union,
       |              CAST((count(*) FILTER (WHERE in_a AND in_b)::HUGEINT * $U64) // th AS BIGINT) AS est_inter,
       |              CAST((count(*) FILTER (WHERE in_a AND NOT in_b)::HUGEINT * $U64) // th AS BIGINT) AS est_diff_ab
       |       FROM fl, thu WHERE h < th GROUP BY th),
       |ex AS (SELECT CAST(count(*) AS BIGINT) AS exact_union,
       |              CAST(count(*) FILTER (WHERE a.h IS NOT NULL AND b.h IS NOT NULL) AS BIGINT) AS exact_inter,
       |              CAST(count(*) FILTER (WHERE a.h IS NOT NULL AND b.h IS NULL) AS BIGINT) AS exact_diff_ab
       |       FROM ha a FULL JOIN hb b ON a.h = b.h)
       |SELECT CAST(256 AS BIGINT) AS k, CAST(tha.n_sk AS BIGINT) AS n_sk_a, CAST(thb.n_sk AS BIGINT) AS n_sk_b,
       |       est_a, est_b, est_union, est_inter, est_diff_ab,
       |       exact_union, exact_inter, exact_diff_ab
       |FROM ea, eb, eu, ex, tha, thb""".stripMargin
  }
}
