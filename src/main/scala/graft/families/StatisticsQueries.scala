package graft
package families

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import Shared._

/** The q_ queries on statistics: estimators, distributions and hypothesis tests.
  * Each entry holds a query's DuckDB oracle SQL and its builder.
  */
object StatisticsQueries {

  val entries: Seq[(String, Query)] = Seq(
    "q_mad" -> Query(
      """WITH v AS (SELECT l_orderkey, l_linenumber, l_returnflag, CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c FROM lineitem), h1 AS (SELECT l_returnflag, price_c, CAST(count(*) AS BIGINT) AS c FROM v GROUP BY 1, 2), c1 AS (SELECT *, sum(c) OVER (PARTITION BY l_returnflag ORDER BY price_c ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum, sum(c) OVER (PARTITION BY l_returnflag) AS n FROM h1), med AS (SELECT l_returnflag, min(CASE WHEN cum >= greatest(1, CAST(ceil(CAST(0.5 AS DOUBLE) * n) AS BIGINT)) THEN price_c END) AS med FROM c1 GROUP BY 1), d AS (SELECT v.*, med.med, abs(price_c - med) AS dev FROM v JOIN med USING (l_returnflag)), h2 AS (SELECT l_returnflag, dev, CAST(count(*) AS BIGINT) AS c FROM d GROUP BY 1, 2), c2 AS (SELECT *, sum(c) OVER (PARTITION BY l_returnflag ORDER BY dev ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum, sum(c) OVER (PARTITION BY l_returnflag) AS n FROM h2), mad AS (SELECT l_returnflag, min(CASE WHEN cum >= greatest(1, CAST(ceil(CAST(0.5 AS DOUBLE) * n) AS BIGINT)) THEN dev END) AS mad FROM c2 GROUP BY 1) SELECT d.l_orderkey, d.l_linenumber, d.l_returnflag, d.price_c, d.med, mad.mad, d.dev > 3 * mad.mad AS is_outlier FROM d JOIN mad USING (l_returnflag)""")((s, dir) => {
      // median/MAD robust outliers per return flag — both statistics are
      // nearest-rank order statistics, the flag a pure integer compare
      val li = T(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          round(col("l_extendedprice") * 100).cast("long").as("price_c"))
      ext.Robust.madOutliers(li, "l_returnflag", "price_c", kMad = 3,
        keep = Seq("l_orderkey", "l_linenumber", "l_returnflag", "price_c"))
    }),

    "q_winsor" -> Query(
      """WITH v AS (SELECT l_orderkey, l_linenumber, l_returnflag, CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c FROM lineitem), r AS (SELECT *, row_number() OVER (PARTITION BY l_returnflag ORDER BY price_c, l_orderkey, l_linenumber) AS rn, count(*) OVER (PARTITION BY l_returnflag) AS n FROM v), b AS (SELECT l_returnflag, min(CASE WHEN rn = greatest(1, CAST(ceil(CAST(0.05 AS DOUBLE) * n) AS BIGINT)) THEN price_c END) AS lo, min(CASE WHEN rn = greatest(1, CAST(ceil(CAST(0.95 AS DOUBLE) * n) AS BIGINT)) THEN price_c END) AS hi FROM r GROUP BY 1) SELECT r.l_orderkey, r.l_linenumber, r.l_returnflag, r.price_c, b.lo, b.hi, least(greatest(r.price_c, b.lo), b.hi) AS price_c_w, (r.price_c < b.lo OR r.price_c > b.hi) AS is_outlier FROM r JOIN b USING (l_returnflag)""")((s, dir) => {
      // per-group winsorization on NEAREST-RANK order statistics (a value
      // that exists in the data — engine-exact, unlike interpolated
      // quantiles whose float blend can't hash-match across engines)
      val li = T(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          round(col("l_extendedprice") * 100).cast("long").as("price_c"))
      ext.Robust.winsorize(li, "l_returnflag", "price_c", 0.05, 0.95,
        keep = Seq("l_orderkey", "l_linenumber", "l_returnflag", "price_c"))
    }),

    "q_moments" -> Query(
      """SELECT l_returnflag, count(*) AS n, CAST(CAST(sum(x) AS DECIMAL(38,0)) AS VARCHAR) AS sx, CAST(CAST(sum(y) AS DECIMAL(38,0)) AS VARCHAR) AS sy, CAST(CAST(sum(x * x) AS DECIMAL(38,0)) AS VARCHAR) AS sxx, CAST(CAST(sum(y * y) AS DECIMAL(38,0)) AS VARCHAR) AS syy, CAST(CAST(sum(x * y) AS DECIMAL(38,0)) AS VARCHAR) AS sxy FROM (SELECT l_returnflag, CAST(round(l_extendedprice * 100) AS DECIMAL(18,0)) AS x, CAST(round(l_discount * 100) AS DECIMAL(18,0)) AS y FROM lineitem) GROUP BY l_returnflag""")((s, dir) => {
      // distributed correlation/covariance the ENGINE-EXACT way: emit the
      // integer-scaled moment sums (cents) as DECIMAL(38) — exact in both
      // engines, order-free — and let consumers derive corr/covar;
      // a float corr() aggregate is accumulation-order-dependent and can
      // never hash-match across engines
      val li = T(s, dir, "lineitem")
      val x = round(col("l_extendedprice") * 100).cast("decimal(18,0)")
      val y = round(col("l_discount") * 100).cast("decimal(18,0)")
      // sums stay DECIMAL(38,0) internally (overflow-safe), but render as
      // STRING: the driver's hash canonicalization of wide decimals differs
      // from DuckDB's, so both engines present the digits as text (r3 fix)
      li.groupBy("l_returnflag").agg(
        count(lit(1)).as("n"),
        sum(x).cast("decimal(38,0)").cast("string").as("sx"),
        sum(y).cast("decimal(38,0)").cast("string").as("sy"),
        sum(x * x).cast("decimal(38,0)").cast("string").as("sxx"),
        sum(y * y).cast("decimal(38,0)").cast("string").as("syy"),
        sum(x * y).cast("decimal(38,0)").cast("string").as("sxy"))
    }),

    "q_wmedian" -> Query(
      """WITH h AS (SELECT l_returnflag, CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w FROM lineitem GROUP BY 1, 2), c AS (SELECT *, sum(w) OVER (PARTITION BY l_returnflag ORDER BY price_c ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum, sum(w) OVER (PARTITION BY l_returnflag) AS total FROM h) SELECT l_returnflag, CAST(min(price_c) AS BIGINT) AS wmedian_c, CAST(max(total) AS BIGINT) AS total_wt FROM c WHERE cum * 2 >= total GROUP BY 1""")((s, dir) => {
      // weighted median (lower) per group from a value HISTOGRAM — no
      // per-group sort of the data; the histogram cumsum itself is now
      // ext.Ranks.groupedRunningSum (range-partitioned running sums +
      // carry scalars), so even a high-cardinality value domain never
      // single-partition-sorts; quantity-weighted, all-integer, exact
      val li = T(s, dir, "lineitem").select(col("l_returnflag"),
        round(col("l_extendedprice") * 100).cast("long").as("price_c"),
        col("l_quantity").cast("long").as("wt"))
      val h = li.groupBy("l_returnflag", "price_c").agg(sum(col("wt")).as("w"))
      val totals = h.groupBy("l_returnflag").agg(sum(col("w")).as("total"))
      ext.Ranks.groupedRunningSum(h, "l_returnflag",
          Seq(col("price_c").asc), "w", "cum")
        .join(broadcast(totals), Seq("l_returnflag"))
        .filter(col("cum") * 2 >= col("total"))
        .groupBy("l_returnflag")
        .agg(min(col("price_c")).as("wmedian_c"), max(col("total")).as("total_wt"))
    }),
    // q_chisq: exact integer contingency table; every division is a
    // truncating // of nonnegative HUGEINT products — same values as
    // Spark's decimal div
    "q_chisq" -> Query(
      """WITH j AS (SELECT c_mktsegment AS seg, o_orderstatus AS status FROM orders JOIN customer ON o_custkey = c_custkey),
         obs AS (SELECT seg, status, CAST(count(*) AS BIGINT) AS observed FROM j GROUP BY 1, 2),
         rt AS (SELECT seg, CAST(sum(observed) AS BIGINT) AS n_seg FROM obs GROUP BY 1),
         ct AS (SELECT status, CAST(sum(observed) AS BIGINT) AS n_status FROM obs GROUP BY 1),
         tt AS (SELECT CAST(sum(observed) AS BIGINT) AS n_total FROM obs)
         SELECT obs.seg, obs.status, observed, n_seg, n_status, n_total,
           CAST((n_seg::HUGEINT * n_status * 1000000) // n_total AS BIGINT) AS expected_micro,
           CAST(((observed::HUGEINT * n_total - n_seg::HUGEINT * n_status)
                 * (observed::HUGEINT * n_total - n_seg::HUGEINT * n_status) * 1000000)
                // (n_seg::HUGEINT * n_status * n_total) AS BIGINT) AS term_micro
         FROM obs JOIN rt ON obs.seg = rt.seg JOIN ct ON obs.status = ct.status CROSS JOIN tt""")((s, dir) => {
      // chi-squared independence test over the market-segment × order-
      // status contingency table. Observed cells, margins, and the grand
      // total are exact integer counts from ONE joined hash aggregate
      // over a bounded 5×3 cell domain; expected counts and per-cell χ²
      // terms are micro-scaled integers via integral division of
      // NONNEGATIVE products ((O·N − R·C)² is a square; truncation
      // toward zero matches in both engines). Envelope: the cross-
      // product difference is held in DECIMAL(18,0) and its square
      // ×10⁶ in DECIMAL(38,0), exact through ~10⁸–10⁹ rows; past that
      // downscale the unit (ANSI overflow throws loudly, never
      // corrupts).
      val joined = T(s, dir, "orders")
        .join(T(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment").as("seg"), col("o_orderstatus").as("status"))
      val obs = joined.groupBy("seg", "status").agg(count(lit(1)).as("observed"))
      val rowT = obs.groupBy("seg").agg(sum("observed").as("n_seg"))
      val colT = obs.groupBy("status").agg(sum("observed").as("n_status"))
      val tot = obs.agg(sum("observed").as("n_total"))
      obs.join(broadcast(rowT), Seq("seg"))
        .join(broadcast(colT), Seq("status"))
        .crossJoin(broadcast(tot))
        .select(col("seg"), col("status"), col("observed"),
          col("n_seg"), col("n_status"), col("n_total"),
          expr("CAST((CAST(n_seg AS DECIMAL(18,0)) * n_status * 1000000) div n_total AS BIGINT)")
            .as("expected_micro"),
          expr("""CAST((
                    CAST(CAST(observed AS DECIMAL(18,0)) * n_total
                         - CAST(n_seg AS DECIMAL(18,0)) * n_status AS DECIMAL(18,0))
                    * CAST(CAST(observed AS DECIMAL(18,0)) * n_total
                           - CAST(n_seg AS DECIMAL(18,0)) * n_status AS DECIMAL(18,0))
                    * 1000000)
                  div (CAST(n_seg AS DECIMAL(18,0)) * n_status * n_total) AS BIGINT)""")
            .as("term_micro"))
    }),
    // q_ks: row_number replays the exact rank; same truncating micro math
    "q_ks" -> Query(
      """WITH base AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS x, o_orderkey AS id FROM orders),
         mm AS (SELECT min(x) AS mn, max(x) AS mx FROM base),
         rk AS (SELECT x, CAST(row_number() OVER (ORDER BY x, id) AS BIGINT) AS rn, CAST(count(*) OVER () AS BIGINT) AS n FROM base),
         f AS (SELECT rn, n, CASE WHEN mx = mn THEN 0 ELSE CAST(((x - mn) * 1000000) // (mx - mn) AS BIGINT) END AS f_micro FROM rk, mm),
         d AS (SELECT n, CAST(rn * 1000000 // n AS BIGINT) - f_micro AS dp, f_micro - CAST((rn - 1) * 1000000 // n AS BIGINT) AS dm FROM f)
         SELECT n, CAST(max(dp) AS BIGINT) AS d_plus_micro, CAST(max(dm) AS BIGINT) AS d_minus_micro,
           CAST(greatest(max(dp), max(dm)) AS BIGINT) AS d_micro
         FROM d GROUP BY n""")((s, dir) => {
      // Kolmogorov–Smirnov goodness-of-fit of order prices against the
      // uniform law on [min, max] — the distribution-drift test to pair
      // with q_chisq's independence test. ECDF ranks come from the
      // range-partitioned exact rank (ext.Ranks — no single-partition
      // sort); the model CDF and both one-sided statistics are micro-
      // scaled integral divisions of nonnegative cents. Output is the
      // 1-row (n, D+, D−, D) summary.
      val base = T(s, dir, "orders").select(
        round(col("o_totalprice") * 100).cast("long").as("x"),
        col("o_orderkey").as("id"))
        .localCheckpoint(true) // consumed by the min/max agg AND the rank
      val mm = base.agg(min("x").as("mn"), max("x").as("mx"))
      val ranked = ext.Ranks.groupedRank(
        base.withColumn("__grp__", lit(0)), "__grp__",
        Seq(col("x"), col("id")), "rn")
      ranked.crossJoin(broadcast(mm))
        .select(col("rn"), col("rn_n").as("n"),
          expr("""CASE WHEN mx = mn THEN CAST(0 AS BIGINT)
                  ELSE CAST(((x - mn) * 1000000) div (mx - mn) AS BIGINT) END""").as("f_micro"))
        .select(col("n"),
          (expr("CAST(rn * 1000000 div n AS BIGINT)") - col("f_micro")).as("dp"),
          (col("f_micro") - expr("CAST((rn - 1) * 1000000 div n AS BIGINT)")).as("dm"))
        .groupBy("n")
        .agg(max("dp").as("d_plus_micro"), max("dm").as("d_minus_micro"))
        .withColumn("d_micro", greatest(col("d_plus_micro"), col("d_minus_micro")))
    }),
    // q_corr: one HUGEINT moment CTE, the same shared-tree Pearson per pair
    "q_corr" -> Query(corrOracleSql)((s, dir) => {
      // one-pass correlation MATRIX over the lineitem numerics
      // (quantity, price-cents, discount-bp, tax-bp): ALL moment sums
      // (4 sums, 4 sum-of-squares, 6 cross-products) ride ONE
      // map-side-combined aggregate over exact integers; each pairwise
      // Pearson r is then a single shared-tree double (IEEE sqrt) —
      // the feature-screening pass that decides what a model even
      // sees, at one scan regardless of the pair count.
      val base = T(s, dir, "lineitem").select(
        col("l_quantity").cast("long").as("v0"),
        round(col("l_extendedprice") * 100).cast("long").as("v1"),
        round(col("l_discount") * 10000).cast("long").as("v2"),
        round(col("l_tax") * 10000).cast("long").as("v3"))
      val names = Seq("quantity", "price_c", "discount_bp", "tax_bp")
      val aggs =
        (0 to 3).map(i => sum(col(s"v$i").cast("decimal(18,0)")).cast("decimal(38,0)").as(s"s$i")) ++
        (0 to 3).map(i => sum(col(s"v$i").cast("decimal(18,0)") * col(s"v$i").cast("decimal(18,0)"))
          .cast("decimal(38,0)").as(s"q$i")) ++
        (for { i <- 0 to 3; j <- i + 1 to 3 } yield
          sum(col(s"v$i").cast("decimal(18,0)") * col(s"v$j").cast("decimal(18,0)"))
            .cast("decimal(38,0)").as(s"p${i}_$j"))
      val g = base.agg(count(lit(1)).as("n"), aggs: _*).localCheckpoint(true)
      // constant column ⇒ zero variance ⇒ r undefined: emit NULL rather
      // than an engine-dependent NaN/Inf (the replay contract covers
      // finite doubles only)
      val pairs = for { i <- 0 to 3; j <- i + 1 to 3 } yield
        g.select(lit(names(i)).as("var_a"), lit(names(j)).as("var_b"), col("n"),
          expr(s"""CASE WHEN CAST(n AS DECIMAL(38,0)) * q$i - s$i * s$i = 0
                        OR CAST(n AS DECIMAL(38,0)) * q$j - s$j * s$j = 0
                   THEN CAST(NULL AS DOUBLE)
                   ELSE CAST(CAST(n AS DECIMAL(38,0)) * p${i}_$j - s$i * s$j AS DOUBLE)
                   / (sqrt(CAST(CAST(n AS DECIMAL(38,0)) * q$i - s$i * s$i AS DOUBLE))
                      * sqrt(CAST(CAST(n AS DECIMAL(38,0)) * q$j - s$j * s$j AS DOUBLE))) END""").as("r"))
      pairs.reduce(_ unionByName _)
    }),
    // q_mi: same micro-nat ln(integer) replay, order-free integer sum
    "q_mi" -> Query(
      """WITH j AS (SELECT c_mktsegment AS seg, o_orderstatus AS status FROM orders JOIN customer ON o_custkey = c_custkey),
         obs AS (SELECT seg, status, CAST(count(*) AS BIGINT) AS observed FROM j GROUP BY 1, 2),
         rt AS (SELECT seg, CAST(sum(observed) AS BIGINT) AS n_seg FROM obs GROUP BY 1),
         ct AS (SELECT status, CAST(sum(observed) AS BIGINT) AS n_status FROM obs GROUP BY 1),
         tt AS (SELECT CAST(sum(observed) AS BIGINT) AS n_total FROM obs),
         cells AS (SELECT observed, n_total,
             observed * (CAST(round(ln(CAST(observed AS DOUBLE) * n_total) * 1e6) AS BIGINT)
                         - CAST(round(ln(CAST(n_seg AS DOUBLE) * n_status) * 1e6) AS BIGINT)) AS cell_micro_n
           FROM obs JOIN rt ON obs.seg = rt.seg JOIN ct ON obs.status = ct.status CROSS JOIN tt)
         SELECT n_total AS n, CAST(count(*) AS BIGINT) AS n_cells,
           CAST(CASE WHEN sum(cell_micro_n) < 0 THEN -1 WHEN sum(cell_micro_n) > 0 THEN 1 ELSE 0 END AS BIGINT)
           * CAST(abs(sum(cell_micro_n)::HUGEINT) // n_total AS BIGINT) AS mi_micro
         FROM cells GROUP BY n_total""")((s, dir) => {
      // mutual information of the segment × status table in micro-nats —
      // the dependence measure to pair with q_chisq: MI = Σ O/N ·
      // (ln(O·N) − ln(R·C)). Both logs take EXACT INTEGER arguments
      // (ta_pmi's micro-nat doctrine — the rounding margin of
      // ln(integer)·10⁶ holds), so each cell contributes the exact
      // integer O·(ln_micro(O·N) − ln_micro(R·C)) and the total is one
      // order-free sum presented div N. Same bounded contingency
      // pipeline as q_chisq.
      val joined = T(s, dir, "orders")
        .join(T(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment").as("seg"), col("o_orderstatus").as("status"))
      val obs = joined.groupBy("seg", "status").agg(count(lit(1)).as("observed"))
      val rowT = obs.groupBy("seg").agg(sum("observed").as("n_seg"))
      val colT = obs.groupBy("status").agg(sum("observed").as("n_status"))
      val tot = obs.agg(sum("observed").as("n_total"))
      val cells = obs.join(broadcast(rowT), Seq("seg"))
        .join(broadcast(colT), Seq("status"))
        .crossJoin(broadcast(tot))
        .select(col("seg"), col("status"), col("observed"), col("n_total"),
          (col("observed") * (
            round(log(col("observed").cast("double") * col("n_total").cast("double")) * 1e6).cast("long")
            - round(log(col("n_seg").cast("double") * col("n_status").cast("double")) * 1e6).cast("long")
          )).as("cell_micro_n"))
      cells.groupBy("n_total")
        .agg(count(lit(1)).as("n_cells"), sum("cell_micro_n").as("sum_cell"))
        .select(col("n_total").as("n"), col("n_cells"),
          expr("""CAST(CASE WHEN sum_cell < 0 THEN -1 WHEN sum_cell > 0 THEN 1 ELSE 0 END AS BIGINT)
                  * CAST(abs(CAST(sum_cell AS DECIMAL(38,0))) div n_total AS BIGINT)""")
            .as("mi_micro"))
    }),
    // q_abc: same exact cumulative thresholds over the descending
    // revenue order
    "q_abc" -> Query(
      """WITH rev AS (SELECT l_partkey, CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS rev_c FROM lineitem GROUP BY 1),
         tot AS (SELECT CAST(sum(rev_c) AS BIGINT) AS total_c FROM rev),
         cum AS (SELECT l_partkey, rev_c, sum(rev_c) OVER (ORDER BY rev_c DESC, l_partkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_c FROM rev),
         cls AS (SELECT CASE WHEN cum_c * 100 <= total_c * 80 THEN 'A'
                             WHEN cum_c * 100 <= total_c * 95 THEN 'B'
                             ELSE 'C' END AS abc_class, rev_c, total_c FROM cum, tot)
         SELECT abc_class, CAST(count(*) AS BIGINT) AS n_parts,
           CAST(sum(rev_c) AS BIGINT) AS revenue_c,
           CAST((sum(rev_c)::HUGEINT * 1000000) // max(total_c) AS BIGINT) AS share_micro
         FROM cls GROUP BY 1""")((s, dir) => {
      // ABC / Pareto revenue classification (the 80/15/5 inventory
      // doctrine): parts ranked by revenue descending, classed by exact
      // integer cumulative-share thresholds (cum·100 ≤ total·80 → A,
      // ≤ 95 → B, else C). The cumulative sum is ext.Ranks'
      // range-partitioned running sum — never a single-partition sort —
      // and the output is the 3-row class summary.
      val rev = T(s, dir, "lineitem")
        .groupBy(col("l_partkey"))
        .agg(sum(round(col("l_extendedprice") * 100).cast("long")).as("rev_c"))
      val cum = ext.Ranks.groupedRunningSum(
        rev.withColumn("__grp__", lit(0)), "__grp__",
        Seq(col("rev_c").desc, col("l_partkey").asc), "rev_c", "cum_c")
      val tot = rev.agg(sum("rev_c").as("total_c"))
      cum.crossJoin(broadcast(tot))
        .withColumn("abc_class",
          when(col("cum_c") * 100 <= col("total_c") * 80, "A")
            .when(col("cum_c") * 100 <= col("total_c") * 95, "B")
            .otherwise("C"))
        .groupBy("abc_class")
        .agg(count(lit(1)).as("n_parts"), sum("rev_c").as("revenue_c"),
          max("total_c").as("total_c"))
        .select(col("abc_class"), col("n_parts"), col("revenue_c"),
          expr("CAST((CAST(revenue_c AS DECIMAL(38,0)) * 1000000) div total_c AS BIGINT)")
            .as("share_micro"))
    }),
    // q_cohend / q_rolling_corr: the double expressions are mirrored
    // term for term — only correctly-rounded IEEE ops touch the floats
    "q_cohend" -> Query(
      """WITH v AS (SELECT l_returnflag = 'R' AS r, CAST(round(l_extendedprice * 100) AS HUGEINT) AS v FROM lineitem), g AS (SELECT CAST(sum(CASE WHEN r THEN 1 ELSE 0 END) AS HUGEINT) AS n1, sum(CASE WHEN r THEN v END) AS s1, sum(CASE WHEN r THEN v * v END) AS ss1, CAST(sum(CASE WHEN NOT r THEN 1 ELSE 0 END) AS HUGEINT) AS n2, sum(CASE WHEN NOT r THEN v END) AS s2, sum(CASE WHEN NOT r THEN v * v END) AS ss2 FROM v) SELECT CAST(n1 AS BIGINT) AS n_returned, CAST(n2 AS BIGINT) AS n_kept, CAST(round((CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE)) / sqrt(((CAST(n1 * ss1 - s1 * s1 AS DOUBLE) / CAST(n1 AS DOUBLE)) + (CAST(n2 * ss2 - s2 * s2 AS DOUBLE) / CAST(n2 AS DOUBLE))) / CAST(n1 + n2 - 2 AS DOUBLE)) * 1000000) AS BIGINT) AS cohen_d_micro FROM g""")((s, dir) => {
      // Cohen's d effect size between returned and kept line items: one
      // conditional-aggregation pass collapses both groups' exact
      // integer (n, Σ, Σ²) into a single row; the pooled-sd formula
      // then uses only correctly-rounded IEEE ops (+ − × ÷ sqrt) over
      // those integers, so the micro rounding is engine-exact. No
      // second scan, no join, no window.
      T(s, dir, "lineitem")
        .select((col("l_returnflag") === "R").as("r"),
          round(col("l_extendedprice") * 100).cast("decimal(38,0)").as("v"))
        .agg(
          sum(when(col("r"), 1L).otherwise(0L)).cast("decimal(38,0)").as("n1"),
          sum(when(col("r"), col("v"))).as("s1"),
          sum(when(col("r"), expr("v * v"))).as("ss1"),
          sum(when(!col("r"), 1L).otherwise(0L)).cast("decimal(38,0)").as("n2"),
          sum(when(!col("r"), col("v"))).as("s2"),
          sum(when(!col("r"), expr("v * v"))).as("ss2"))
        .select(col("n1").cast("long").as("n_returned"),
          col("n2").cast("long").as("n_kept"),
          expr("""CAST(round((CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
                 - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))
                 / sqrt(((CAST(n1 * ss1 - s1 * s1 AS DOUBLE) / CAST(n1 AS DOUBLE))
                       + (CAST(n2 * ss2 - s2 * s2 AS DOUBLE) / CAST(n2 AS DOUBLE)))
                      / CAST(n1 + n2 - 2 AS DOUBLE))
                 * 1000000) AS BIGINT)""").as("cohen_d_micro"))
    }),

    "q_qq" -> Query(
      """WITH v AS (SELECT l_returnflag AS g, CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c, l_orderkey, l_linenumber FROM lineitem WHERE l_returnflag IN ('R', 'N')), r AS (SELECT g, price_c, CAST(row_number() OVER (PARTITION BY g ORDER BY price_c, l_orderkey, l_linenumber) AS BIGINT) AS rn, CAST(count(*) OVER (PARTITION BY g) AS BIGINT) AS n FROM v), d AS (SELECT g, price_c, k FROM r, (SELECT unnest(range(1, 10)) AS k) WHERE rn = (k * n + 9) // 10) SELECT CAST(k AS BIGINT) AS decile, max(CASE WHEN g = 'R' THEN price_c END) AS r_price_c, max(CASE WHEN g = 'N' THEN price_c END) AS n_price_c FROM d GROUP BY 1""")((s, dir) => {
      // Q–Q decile table comparing returned vs kept price distributions:
      // exact per-group deciles from the range-partitioned global rank
      // (ext.Ranks — no single-partition sort), the decile row picked by
      // the integral predicate rn = ⌈k·n/10⌉, then a 9-row pivot. The
      // distribution-compare companion to q_ks's uniform-law test.
      val base = T(s, dir, "lineitem")
        .filter(col("l_returnflag").isin("R", "N"))
        .select(col("l_returnflag").as("g"),
          round(col("l_extendedprice") * 100).cast("long").as("price_c"),
          col("l_orderkey"), col("l_linenumber"))
      val ranked = ext.Ranks.groupedRank(base, "g",
        Seq(col("price_c"), col("l_orderkey"), col("l_linenumber")), "rn")
      ranked
        .withColumn("decile", explode(expr(
          "filter(sequence(1, 9), k -> rn = (k * rn_n + 9) div 10)")))
        .groupBy(col("decile").cast("long").as("decile"))
        .agg(max(when(col("g") === "R", col("price_c"))).as("r_price_c"),
          max(when(col("g") === "N", col("price_c"))).as("n_price_c"))
    }),

    "q_lorenz" -> Query(
      """WITH rev AS (SELECT o_custkey AS c, CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_c FROM orders GROUP BY 1), r AS (SELECT c, rev_c, CAST(row_number() OVER (ORDER BY rev_c ASC, c ASC) AS BIGINT) AS rn, CAST(count(*) OVER () AS BIGINT) AS n FROM rev), dec AS (SELECT ((rn - 1) * 10) // n + 1 AS decile, CAST(count(*) AS BIGINT) AS n_customers, CAST(sum(rev_c) AS BIGINT) AS rev_c FROM r GROUP BY 1), t AS (SELECT CAST(sum(rev_c) AS BIGINT) AS total_c FROM dec) SELECT CAST(decile AS BIGINT) AS decile, n_customers, rev_c, CAST((rev_c * 1000000) // total_c AS BIGINT) AS share_micro, CAST(sum((rev_c * 1000000) // total_c) OVER (ORDER BY decile ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_share_micro FROM dec, t""")((s, dir) => {
      // Lorenz concentration curve: customers ranked by revenue
      // ascending into exact deciles via the range-partitioned global
      // rank (never a single-partition sort), then the 10-row share /
      // cumulative-share table — the curve q_gini's coefficient
      // summarizes, and q_abc's 80/15/5 classes read off.
      val rev = T(s, dir, "orders")
        .groupBy(col("o_custkey").as("c"))
        .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("rev_c"))
      val ranked = ext.Ranks.groupedRank(
        rev.withColumn("__grp__", lit(0)), "__grp__",
        Seq(col("rev_c").asc, col("c").asc), "rn")
      val dec = ranked
        .withColumn("decile", expr("((rn - 1) * 10) div rn_n + 1"))
        .groupBy("decile")
        .agg(count(lit(1)).as("n_customers"), sum("rev_c").as("rev_c"))
      val tot = dec.agg(sum("rev_c").as("total_c"))
      dec.crossJoin(broadcast(tot))
        .withColumn("share_micro", expr("(rev_c * 1000000) div total_c"))
        .withColumn("cum_share_micro",
          expr("sum((rev_c * 1000000) div total_c) OVER " +
            "(ORDER BY decile ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"))
        .select(col("decile"), col("n_customers"), col("rev_c"),
          col("share_micro"), col("cum_share_micro"))
    }),

    "q_percentile_cont" -> Query(
      """WITH v AS (SELECT l_returnflag AS g, CAST(round(l_extendedprice * 100) AS BIGINT) AS v, l_orderkey, l_linenumber FROM lineitem), r AS (SELECT g, v, CAST(row_number() OVER (PARTITION BY g ORDER BY v, l_orderkey, l_linenumber) AS BIGINT) AS rn, CAST(count(*) OVER (PARTITION BY g) AS BIGINT) AS n FROM v), k(k) AS (VALUES (1), (2), (3)), p AS (SELECT g, CAST(k AS BIGINT) AS k, v, rn, ((n - 1) * k) // 4 + 1 AS lo, ((n - 1) * k) % 4 AS rem FROM r, k WHERE rn = ((n - 1) * k) // 4 + 1 OR rn = ((n - 1) * k) // 4 + 2) SELECT g AS l_returnflag, k AS quartile, CAST((max(CASE WHEN rn = lo THEN v END) * (4 - max(rem)) * 1000000 + coalesce(max(CASE WHEN rn = lo + 1 THEN v END), 0) * max(rem) * 1000000) // 4 AS BIGINT) AS pct_micro FROM p GROUP BY 1, 2""")((s, dir) => {
      // exact interpolated quartiles (ANSI percentile_cont semantics)
      // per group, all-integer: position (n−1)·k/4 splits into a rank
      // and a /4 remainder, the two straddling rows are picked by an
      // integral predicate off the range-partitioned exact rank, and
      // the interpolation (v_lo·(4−rem) + v_hi·rem)·1e6 div 4 never
      // touches a float. The exact companion to q_approx's sketch.
      val base = T(s, dir, "lineitem")
        .select(col("l_returnflag").as("g"),
          round(col("l_extendedprice") * 100).cast("long").as("v"),
          col("l_orderkey"), col("l_linenumber"))
      val ranked = ext.Ranks.groupedRank(base, "g",
        Seq(col("v"), col("l_orderkey"), col("l_linenumber")), "rn")
      val ks = s.createDataFrame(Seq(Tuple1(1L), Tuple1(2L), Tuple1(3L))).toDF("k")
      ranked.crossJoin(broadcast(ks))
        .withColumn("lo", expr("((rn_n - 1) * k) div 4 + 1"))
        .withColumn("rem", expr("((rn_n - 1) * k) % 4"))
        .filter(col("rn") === col("lo") || col("rn") === col("lo") + 1L)
        .groupBy(col("g").as("l_returnflag"), col("k").as("quartile"))
        .agg(max(when(col("rn") === col("lo"), col("v"))).as("v_lo"),
          max(when(col("rn") === col("lo") + 1L, col("v"))).as("v_hi"),
          max("rem").as("rem"))
        .select(col("l_returnflag"), col("quartile"),
          expr("(v_lo * (4 - rem) * 1000000 + coalesce(v_hi, 0) * rem * 1000000) div 4")
            .as("pct_micro"))
    }),

    "q_cramers_v" -> Query(
      """WITH cells AS (SELECT l_returnflag AS rf, l_linestatus AS ls, CAST(count(*) AS BIGINT) AS o FROM lineitem GROUP BY 1, 2), rt AS (SELECT rf, CAST(sum(o) AS BIGINT) AS r FROM cells GROUP BY 1), ct AS (SELECT ls, CAST(sum(o) AS BIGINT) AS c FROM cells GROUP BY 1), nt AS (SELECT CAST(sum(o) AS BIGINT) AS n, CAST(count(DISTINCT rf) AS BIGINT) AS nr, CAST(count(DISTINCT ls) AS BIGINT) AS nc FROM cells), grid AS (SELECT rt.rf, ct.ls, rt.r, ct.c, coalesce(cells.o, 0) AS o FROM rt CROSS JOIN ct LEFT JOIN cells ON cells.rf = rt.rf AND cells.ls = ct.ls), terms AS (SELECT n, least(nr - 1, nc - 1) AS m, ((CAST(o AS HUGEINT) * n - CAST(r AS HUGEINT) * c) * (CAST(o AS HUGEINT) * n - CAST(r AS HUGEINT) * c) * 1000000) // (CAST(n AS HUGEINT) * r * c) AS term FROM grid, nt) SELECT CAST(max(n) AS BIGINT) AS n, CAST(sum(term) AS BIGINT) AS chi2_micro, CAST(round(sqrt(CAST(sum(term) AS DOUBLE) / 1000000 / CAST(max(n) * max(m) AS DOUBLE)) * 1000000) AS BIGINT) AS v_micro FROM terms""")((s, dir) => {
      // Cramér's V association between return flag and line status: the
      // contingency χ² as an exact sum of integral micro terms
      // Σ (o·n − r·c)²·1e6 div (n·r·c), then the only float step is the
      // final correctly-rounded sqrt. Bounded 3×2 cell domain — one hash
      // agg plus broadcast marginals.
      val cells = T(s, dir, "lineitem")
        .groupBy(col("l_returnflag").as("rf"), col("l_linestatus").as("ls"))
        .agg(count(lit(1)).as("o"))
        .localCheckpoint(true) // marginals + terms read one frame
      val rT = cells.groupBy("rf").agg(sum("o").as("r"))
      val cT = cells.groupBy("ls").agg(sum("o").as("c"))
      val nT = cells.agg(sum("o").as("n"),
        countDistinct("rf").as("nr"), countDistinct("ls").as("nc"))
      // FULL r×c grid — zero cells carry χ² mass (o=0 term = r·c/n)
      rT.crossJoin(cT).join(cells, Seq("rf", "ls"), "left")
        .withColumn("o", coalesce(col("o"), lit(0L)))
        .crossJoin(broadcast(nT))
        .select(col("n"), col("nr"), col("nc"),
          expr("""((CAST(o AS DECIMAL(38,0)) * n - CAST(r AS DECIMAL(38,0)) * c)
                 * (CAST(o AS DECIMAL(38,0)) * n - CAST(r AS DECIMAL(38,0)) * c)
                 * 1000000) div (CAST(n AS DECIMAL(38,0)) * r * c)""").as("term_micro"))
        .groupBy()
        .agg(max("n").as("n"), sum("term_micro").as("chi2_micro"),
          max(expr("least(nr - 1, nc - 1)")).as("m"))
        .select(col("n"), col("chi2_micro"),
          expr("""CAST(round(sqrt(CAST(chi2_micro AS DOUBLE) / 1000000
                 / CAST(n * m AS DOUBLE)) * 1000000) AS BIGINT)""").as("v_micro"))
    }),

    "q_theil" -> Query(
      """WITH rev AS (SELECT o_custkey AS c, CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS x FROM orders GROUP BY 1), t AS (SELECT CAST(sum(x) AS BIGINT) AS xt, CAST(count(*) AS BIGINT) AS n FROM rev), s AS (SELECT n, CAST(round(CAST(x AS DOUBLE) * n / xt * ln(CAST(x AS DOUBLE) * n / xt) * 1000000) AS BIGINT) AS term FROM rev, t) SELECT CAST(max(n) AS BIGINT) AS n_customers, CAST(sum(term) // max(n) AS BIGINT) AS theil_micro FROM s""")((s, dir) => {
      // Theil T inequality index over per-customer revenue: each
      // customer's (x/μ)·ln(x/μ) term is micro-rounded PER ROW (the
      // q_lift discipline — float work confined to one correctly-
      // rounded expression per row, then order-free integer summation),
      // so the aggregate is deterministic under any partitioning.
      // Completes the inequality family with q_gini and q_lorenz.
      val rev = T(s, dir, "orders")
        .groupBy(col("o_custkey").as("c"))
        .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("x"))
        .localCheckpoint(true) // totals + per-row terms read one frame
      val tot = rev.agg(sum("x").as("xt"), count(lit(1)).as("n"))
      rev.crossJoin(broadcast(tot))
        .select(col("n"),
          expr("""CAST(round(CAST(x AS DOUBLE) * n / xt
                 * ln(CAST(x AS DOUBLE) * n / xt) * 1000000) AS BIGINT)""")
            .as("term_micro"))
        .groupBy()
        .agg(max("n").as("n_customers"),
          expr("CAST(sum(term_micro) div max(n) AS BIGINT)").as("theil_micro"))
    }),

    "q_trimmed" -> Query(
      """WITH v AS (SELECT l_returnflag AS g, CAST(round(l_extendedprice * 100) AS BIGINT) AS v, l_orderkey, l_linenumber FROM lineitem), r AS (SELECT g, v, CAST(row_number() OVER (PARTITION BY g ORDER BY v, l_orderkey, l_linenumber) AS BIGINT) AS rn, CAST(count(*) OVER (PARTITION BY g) AS BIGINT) AS n FROM v), a AS (SELECT g, n, (n * 5) // 100 AS k, rn, v FROM r), gagg AS (SELECT g AS l_returnflag, max(n) AS n, max(k) AS k, sum(CASE WHEN rn > k AND rn <= n - k THEN v END) AS inner_sum, max(CASE WHEN rn = k + 1 THEN v END) AS v_lo, max(CASE WHEN rn = n - k THEN v END) AS v_hi FROM a GROUP BY 1) SELECT l_returnflag, CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k, CAST((inner_sum * 1000000) // (n - 2 * k) AS BIGINT) AS trimmed_micro, CAST(((inner_sum + k * v_lo + k * v_hi) * 1000000) // n AS BIGINT) AS winsor_micro FROM gagg""")((s, dir) => {
      // 5 % trimmed and winsorized means per return flag, all-integer:
      // k = ⌊0.05·n⌋ rows drop (trim) or clamp (winsorize) at each end,
      // boundary values picked by rank equality off the range-
      // partitioned exact rank, and the winsorized sum reassembled as
      // inner + k·lo + k·hi without a second pass.
      val base = T(s, dir, "lineitem")
        .select(col("l_returnflag").as("g"),
          round(col("l_extendedprice") * 100).cast("long").as("v"),
          col("l_orderkey"), col("l_linenumber"))
      val ranked = ext.Ranks.groupedRank(base, "g",
        Seq(col("v"), col("l_orderkey"), col("l_linenumber")), "rn")
      ranked.withColumn("k", expr("(rn_n * 5) div 100"))
        .groupBy(col("g").as("l_returnflag"))
        .agg(max("rn_n").as("n"), max("k").as("k"),
          sum(when(col("rn") > col("k") && col("rn") <= col("rn_n") - col("k"),
            col("v"))).as("inner_sum"),
          max(when(col("rn") === col("k") + 1L, col("v"))).as("v_lo"),
          max(when(col("rn") === col("rn_n") - col("k"), col("v"))).as("v_hi"))
        .select(col("l_returnflag"), col("n"), col("k"),
          expr("(inner_sum * 1000000) div (n - 2 * k)").as("trimmed_micro"),
          expr("((inner_sum + k * v_lo + k * v_hi) * 1000000) div n").as("winsor_micro"))
    }),

    "q_ttest" -> Query(
      """WITH v AS (SELECT l_returnflag = 'R' AS r, CAST(round(l_extendedprice * 100) AS HUGEINT) AS v FROM lineitem), g AS (SELECT CAST(sum(CASE WHEN r THEN 1 ELSE 0 END) AS HUGEINT) AS n1, sum(CASE WHEN r THEN v END) AS s1, sum(CASE WHEN r THEN v * v END) AS ss1, CAST(sum(CASE WHEN NOT r THEN 1 ELSE 0 END) AS HUGEINT) AS n2, sum(CASE WHEN NOT r THEN v END) AS s2, sum(CASE WHEN NOT r THEN v * v END) AS ss2 FROM v), i AS (SELECT n1, n2, CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS dm, CAST(n1 * ss1 - s1 * s1 AS DOUBLE) / (CAST(n1 AS DOUBLE) * CAST(n1 AS DOUBLE) * CAST(n1 - 1 AS DOUBLE)) AS a1, CAST(n2 * ss2 - s2 * s2 AS DOUBLE) / (CAST(n2 AS DOUBLE) * CAST(n2 AS DOUBLE) * CAST(n2 - 1 AS DOUBLE)) AS a2 FROM g) SELECT CAST(n1 AS BIGINT) AS n_returned, CAST(n2 AS BIGINT) AS n_kept, CAST(round(dm / sqrt(a1 + a2) * 1000000) AS BIGINT) AS t_micro, CAST(round((a1 + a2) * (a1 + a2) / (a1 * a1 / CAST(n1 - 1 AS DOUBLE) + a2 * a2 / CAST(n2 - 1 AS DOUBLE)) * 1000000) AS BIGINT) AS df_micro FROM i""")((s, dir) => {
      // Welch's two-sample t between returned and kept prices: one
      // conditional Gram pass (the q_cohend shape), then t and the
      // Welch–Satterthwaite df from mirrored IEEE expressions over the
      // exact integer sums — variances enter as their rational
      // numerator/denominator pairs, never a float accumulation.
      T(s, dir, "lineitem")
        .select((col("l_returnflag") === "R").as("r"),
          round(col("l_extendedprice") * 100).cast("decimal(38,0)").as("v"))
        .agg(
          sum(when(col("r"), 1L).otherwise(0L)).cast("decimal(38,0)").as("n1"),
          sum(when(col("r"), col("v"))).as("s1"),
          sum(when(col("r"), expr("v * v"))).as("ss1"),
          sum(when(!col("r"), 1L).otherwise(0L)).cast("decimal(38,0)").as("n2"),
          sum(when(!col("r"), col("v"))).as("s2"),
          sum(when(!col("r"), expr("v * v"))).as("ss2"))
        .select(col("n1"), col("n2"),
          expr("""CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
                 - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE)""").as("dm"),
          expr("""CAST(n1 * ss1 - s1 * s1 AS DOUBLE)
                 / (CAST(n1 AS DOUBLE) * CAST(n1 AS DOUBLE) * CAST(n1 - 1 AS DOUBLE))""")
            .as("a1"), // v1/n1 — the Welch per-arm variance share
          expr("""CAST(n2 * ss2 - s2 * s2 AS DOUBLE)
                 / (CAST(n2 AS DOUBLE) * CAST(n2 AS DOUBLE) * CAST(n2 - 1 AS DOUBLE))""")
            .as("a2"))
        .select(col("n1").cast("long").as("n_returned"),
          col("n2").cast("long").as("n_kept"),
          expr("CAST(round(dm / sqrt(a1 + a2) * 1000000) AS BIGINT)").as("t_micro"),
          expr("""CAST(round((a1 + a2) * (a1 + a2)
                 / (a1 * a1 / CAST(n1 - 1 AS DOUBLE)
                    + a2 * a2 / CAST(n2 - 1 AS DOUBLE)) * 1000000) AS BIGINT)""")
            .as("df_micro"))
    }),

    "q_spearman" -> Query(
      """WITH base AS (SELECT CAST(l_quantity AS BIGINT) AS xv, CAST(round(l_extendedprice * 100) AS BIGINT) AS yv FROM lineitem), hx AS (SELECT xv, CAST(count(*) AS BIGINT) AS c FROM base GROUP BY 1), dx AS (SELECT xv, 2 * sum(c) OVER (ORDER BY xv ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c + 1 AS d_xv FROM hx), hy AS (SELECT yv, CAST(count(*) AS BIGINT) AS c FROM base GROUP BY 1), dy AS (SELECT yv, 2 * sum(c) OVER (ORDER BY yv ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c + 1 AS d_yv FROM hy), j AS (SELECT CAST(d_xv AS HUGEINT) AS x, CAST(d_yv AS HUGEINT) AS y FROM base JOIN dx USING (xv) JOIN dy USING (yv)), g AS (SELECT CAST(count(*) AS HUGEINT) AS n, sum(x) AS sx, sum(y) AS sy, sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy FROM j) SELECT CAST(n AS BIGINT) AS n, CAST(round(CAST(n * sxy - sx * sy AS DOUBLE) / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) * sqrt(CAST(n * syy - sy * sy AS DOUBLE))) * 1000000) AS BIGINT) AS rho_micro FROM g""")((s, dir) => {
      // Spearman rank correlation between quantity and price with
      // exact tie handling: average ranks enter as the INTEGER doubled
      // rank 2·cum − c + 1 (midrank ×2 — Pearson is scale-invariant),
      // built from per-value histograms + running counts over each
      // value domain (the q_mad shape), then one DECIMAL Gram pass and
      // the correctly-rounded final sqrt.
      import org.apache.spark.sql.expressions.Window
      val base = T(s, dir, "lineitem")
        .select(col("l_quantity").cast("long").as("xv"),
          round(col("l_extendedprice") * 100).cast("long").as("yv"))
        .localCheckpoint(true) // feeds both histograms AND the probe
      def dblRanks(col0: String): DataFrame = {
        val h = base.groupBy(col0).agg(count(lit(1)).as("c"))
        val wc = Window.orderBy(col0)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        h.withColumn("cum", sum("c").over(wc))
          .select(col(col0), expr("2 * cum - c + 1").as(s"d_$col0"))
      }
      base.join(dblRanks("xv"), "xv").join(dblRanks("yv"), "yv")
        .select(col("d_xv").cast("decimal(38,0)").as("x"),
          col("d_yv").cast("decimal(38,0)").as("y"))
        .agg(count(lit(1)).cast("decimal(38,0)").as("n"),
          sum("x").as("sx"), sum("y").as("sy"), sum(expr("x * x")).as("sxx"),
          sum(expr("y * y")).as("syy"), sum(expr("x * y")).as("sxy"))
        .select(col("n").cast("long").as("n"),
          expr("""CAST(round(CAST(n * sxy - sx * sy AS DOUBLE)
                 / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                    * sqrt(CAST(n * syy - sy * sy AS DOUBLE))) * 1000000)
                 AS BIGINT)""").as("rho_micro"))
    }),

    "q_anova" -> Query(
      """WITH v AS (SELECT l_returnflag AS grp, CAST(round(l_extendedprice * 100) AS HUGEINT) AS v FROM lineitem), g AS (SELECT grp, CAST(count(*) AS HUGEINT) AS ng, sum(v) AS sg, sum(v * v) AS ssg FROM v GROUP BY 1), t AS (SELECT CAST(sum(ng) AS HUGEINT) AS n, CAST(sum(sg) AS HUGEINT) AS st, CAST(count(*) AS HUGEINT) AS k FROM g), terms AS (SELECT n, k, CAST(round(CAST(ng AS DOUBLE) * (CAST(sg AS DOUBLE) / CAST(ng AS DOUBLE) - CAST(st AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sg AS DOUBLE) / CAST(ng AS DOUBLE) - CAST(st AS DOUBLE) / CAST(n AS DOUBLE))) AS BIGINT) AS ssb, CAST(round(CAST(ssg AS DOUBLE) - CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE) / CAST(ng AS DOUBLE)) AS BIGINT) AS ssw FROM g, t), agg AS (SELECT CAST(max(n) AS BIGINT) AS n, CAST(max(k) AS BIGINT) AS k, CAST(sum(ssb) AS BIGINT) AS ssb_c2, CAST(sum(ssw) AS BIGINT) AS ssw_c2 FROM terms) SELECT n, k, ssb_c2, ssw_c2, CAST(round(CAST(ssb_c2 AS DOUBLE) / CAST(k - 1 AS DOUBLE) / (CAST(ssw_c2 AS DOUBLE) / CAST(n - k AS DOUBLE)) * 1000000) AS BIGINT) AS f_micro FROM agg""")((s, dir) => {
      // one-way ANOVA F across the three return flags: per-group Gram
      // sums (one hash agg), then between/within sums of squares as
      // PER-GROUP micro-rounded integers (the q_lift discipline — the
      // only float work is one correctly-rounded expression per group,
      // summed order-free), and F from the integer SS totals. The
      // k-group extension of q_ttest.
      val g = T(s, dir, "lineitem")
        .select(col("l_returnflag").as("grp"),
          round(col("l_extendedprice") * 100).cast("decimal(38,0)").as("v"))
        .groupBy("grp")
        .agg(count(lit(1)).cast("decimal(38,0)").as("ng"),
          sum("v").as("sg"), sum(expr("v * v")).as("ssg"))
        .localCheckpoint(true) // totals + per-group terms read one frame
      val tot = g.agg(sum("ng").as("n"), sum("sg").as("st"),
        count(lit(1)).cast("decimal(38,0)").as("k"))
      g.crossJoin(broadcast(tot))
        .select(col("n"), col("k"),
          expr("""CAST(round(CAST(ng AS DOUBLE)
                 * (CAST(sg AS DOUBLE) / CAST(ng AS DOUBLE)
                    - CAST(st AS DOUBLE) / CAST(n AS DOUBLE))
                 * (CAST(sg AS DOUBLE) / CAST(ng AS DOUBLE)
                    - CAST(st AS DOUBLE) / CAST(n AS DOUBLE))) AS BIGINT)""")
            .as("ssb_c2"), // whole-c² granularity: ×1e6 would overflow
          expr("""CAST(round(CAST(ssg AS DOUBLE)
                 - CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE) / CAST(ng AS DOUBLE))
                 AS BIGINT)""").as("ssw_c2"))
        .groupBy()
        .agg(max(col("n").cast("long")).as("n"), max(col("k").cast("long")).as("k"),
          sum("ssb_c2").as("ssb_c2"), sum("ssw_c2").as("ssw_c2"))
        .select(col("n"), col("k"), col("ssb_c2"), col("ssw_c2"),
          expr("""CAST(round(CAST(ssb_c2 AS DOUBLE) / CAST(k - 1 AS DOUBLE)
                 / (CAST(ssw_c2 AS DOUBLE) / CAST(n - k AS DOUBLE))
                 * 1000000) AS BIGINT)""").as("f_micro"))
    }),
    // q_kruskal: global doubled midranks (q_spearman's CTE shape), each
    // group's R²/n term rounded once so the group Σ is order-free; the
    // only doubles are casts of exact integers, op order mirrored.
    "q_kruskal" -> Query(
      """WITH base AS (SELECT l_returnflag AS grp, CAST(round(l_extendedprice * 100) AS BIGINT) AS v FROM lineitem), h AS (SELECT v, CAST(count(*) AS BIGINT) AS c FROM base GROUP BY 1), d AS (SELECT v, 2 * sum(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c + 1 AS dr FROM h), g AS (SELECT grp, CAST(count(*) AS HUGEINT) AS ng, CAST(sum(dr) AS HUGEINT) AS sd FROM base JOIN d USING (v) GROUP BY 1), t AS (SELECT ng, CAST(round(CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE) / 4 / CAST(ng AS DOUBLE)) AS BIGINT) AS term FROM g), ties AS (SELECT sum(CAST(c AS HUGEINT) * c * c - c) AS t3t FROM h), s AS (SELECT CAST(sum(ng) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS k, CAST(sum(term) AS BIGINT) AS sum_term FROM t) SELECT n, k, sum_term, CAST(t3t AS BIGINT) AS tie_sum, CAST(round((12.0 * CAST(sum_term AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n + 1 AS DOUBLE)) - 3.0 * CAST(n + 1 AS DOUBLE)) * 1000000) AS BIGINT) AS h_micro, CAST(round((12.0 * CAST(sum_term AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n + 1 AS DOUBLE)) - 3.0 * CAST(n + 1 AS DOUBLE)) / (1.0 - CAST(t3t AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE) - CAST(n AS DOUBLE))) * 1000000) AS BIGINT) AS h_adj_micro FROM s CROSS JOIN ties""")((s, dir) => {
      // Kruskal–Wallis H (nonparametric one-way ANOVA) of price across
      // the three return flags: global doubled midranks 2·cum−c+1 from
      // ONE value histogram (the q_spearman machinery — ties handled
      // exactly as average ranks ×2), per-group doubled-rank sums as
      // DECIMAL integers, each group's R²/n term micro-rounded ONCE so
      // the Σ over groups is order-free (the q_anova discipline), plus
      // the exact Σ(t³−t) tie correction. The rank-based sibling of
      // q_anova for when normality can't be assumed.
      import org.apache.spark.sql.expressions.Window
      val base = T(s, dir, "lineitem")
        .select(col("l_returnflag").as("grp"),
          round(col("l_extendedprice") * 100).cast("long").as("v"))
        .localCheckpoint(true) // feeds the histogram AND the probe
      val h = base.groupBy("v").agg(count(lit(1)).as("c"))
        .localCheckpoint(true) // feeds ranks AND tie correction
      val wc = Window.orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val d = h.withColumn("cum", sum("c").over(wc))
        .select(col("v"), expr("2 * cum - c + 1").as("dr"))
      val g = base.join(d, "v")
        .groupBy("grp")
        .agg(count(lit(1)).cast("decimal(38,0)").as("ng"),
          sum(col("dr").cast("decimal(38,0)")).as("sd"))
        .select(col("ng"),
          expr("""CAST(round(CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE) / 4
                 / CAST(ng AS DOUBLE)) AS BIGINT)""").as("term"))
      val ties = h.agg(
        sum(expr("CAST(c AS DECIMAL(38,0)) * c * c - c")).as("t3t"))
      g.agg(sum(col("ng")).cast("long").as("n"), count(lit(1)).as("k"),
          sum("term").as("sum_term"))
        .crossJoin(broadcast(ties))
        .select(col("n"), col("k"), col("sum_term"),
          col("t3t").cast("long").as("tie_sum"),
          expr("""CAST(round((12.0 * CAST(sum_term AS DOUBLE)
                 / (CAST(n AS DOUBLE) * CAST(n + 1 AS DOUBLE))
                 - 3.0 * CAST(n + 1 AS DOUBLE)) * 1000000) AS BIGINT)""")
            .as("h_micro"),
          expr("""CAST(round((12.0 * CAST(sum_term AS DOUBLE)
                 / (CAST(n AS DOUBLE) * CAST(n + 1 AS DOUBLE))
                 - 3.0 * CAST(n + 1 AS DOUBLE))
                 / (1.0 - CAST(t3t AS DOUBLE)
                    / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                       - CAST(n AS DOUBLE)))
                 * 1000000) AS BIGINT)""").as("h_adj_micro"))
    }),
    // q_levene: q_mad's nearest-rank group medians feeding q_anova's F
    // replay on the absolute deviations — both CTE shapes already proven.
    "q_levene" -> Query(
      """WITH vv AS (SELECT l_returnflag AS grp, CAST(round(l_extendedprice * 100) AS BIGINT) AS v FROM lineitem), h1 AS (SELECT grp, v, CAST(count(*) AS BIGINT) AS c FROM vv GROUP BY 1, 2), c1 AS (SELECT *, sum(c) OVER (PARTITION BY grp ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum, sum(c) OVER (PARTITION BY grp) AS n FROM h1), med AS (SELECT grp, min(CASE WHEN cum >= greatest(1, CAST(ceil(CAST(0.5 AS DOUBLE) * n) AS BIGINT)) THEN v END) AS med FROM c1 GROUP BY 1), dv AS (SELECT vv.grp, CAST(abs(vv.v - med.med) AS HUGEINT) AS d FROM vv JOIN med USING (grp)), g AS (SELECT grp, CAST(count(*) AS HUGEINT) AS ng, sum(d) AS sg, sum(d * d) AS ssg FROM dv GROUP BY 1), t AS (SELECT CAST(sum(ng) AS HUGEINT) AS n, CAST(sum(sg) AS HUGEINT) AS st, CAST(count(*) AS HUGEINT) AS k FROM g), terms AS (SELECT n, k, CAST(round(CAST(ng AS DOUBLE) * (CAST(sg AS DOUBLE) / CAST(ng AS DOUBLE) - CAST(st AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sg AS DOUBLE) / CAST(ng AS DOUBLE) - CAST(st AS DOUBLE) / CAST(n AS DOUBLE))) AS BIGINT) AS ssb, CAST(round(CAST(ssg AS DOUBLE) - CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE) / CAST(ng AS DOUBLE)) AS BIGINT) AS ssw FROM g, t), agg AS (SELECT CAST(max(n) AS BIGINT) AS n, CAST(max(k) AS BIGINT) AS k, CAST(sum(ssb) AS BIGINT) AS ssb_c2, CAST(sum(ssw) AS BIGINT) AS ssw_c2 FROM terms) SELECT n, k, ssb_c2, ssw_c2, CAST(round(CAST(ssb_c2 AS DOUBLE) / CAST(k - 1 AS DOUBLE) / (CAST(ssw_c2 AS DOUBLE) / CAST(n - k AS DOUBLE)) * 1000000) AS BIGINT) AS f_micro FROM agg""")((s, dir) => {
      // Brown–Forsythe variance-equality test (median-centered Levene):
      // per-group nearest-rank medians from value histograms (the q_mad
      // machinery — windows run over per-group DISTINCT VALUES, a
      // bounded domain), absolute deviations, then the q_anova F
      // machinery on the deviations. "Are price spreads equal across
      // return flags?" — the homoscedasticity gate read before trusting
      // any pooled-variance test (q_ttest/q_anova). Per-group SS terms
      // are rounded once and summed order-free, same as q_anova.
      import org.apache.spark.sql.expressions.Window
      val v = T(s, dir, "lineitem")
        .select(col("l_returnflag").as("grp"),
          round(col("l_extendedprice") * 100).cast("long").as("v"))
        .localCheckpoint(true) // feeds the histogram AND the deviations
      val h1 = v.groupBy("grp", "v").agg(count(lit(1)).as("c"))
      val wg = Window.partitionBy("grp").orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = h1.withColumn("cum", sum("c").over(wg))
        .withColumn("n", sum("c").over(Window.partitionBy("grp")))
      val med = cum.groupBy("grp").agg(
        min(when(expr("cum >= greatest(1, CAST(ceil(CAST(0.5 AS DOUBLE) * n) AS BIGINT))"),
          col("v"))).as("med"))
      val g = v.join(med, "grp")
        .select(col("grp"), abs(col("v") - col("med")).cast("decimal(38,0)").as("d"))
        .groupBy("grp")
        .agg(count(lit(1)).cast("decimal(38,0)").as("ng"),
          sum("d").as("sg"), sum(expr("d * d")).as("ssg"))
        .localCheckpoint(true) // totals + per-group terms read one frame
      val tot = g.agg(sum("ng").as("n"), sum("sg").as("st"),
        count(lit(1)).cast("decimal(38,0)").as("k"))
      g.crossJoin(broadcast(tot))
        .select(col("n"), col("k"),
          expr("""CAST(round(CAST(ng AS DOUBLE)
                 * (CAST(sg AS DOUBLE) / CAST(ng AS DOUBLE)
                    - CAST(st AS DOUBLE) / CAST(n AS DOUBLE))
                 * (CAST(sg AS DOUBLE) / CAST(ng AS DOUBLE)
                    - CAST(st AS DOUBLE) / CAST(n AS DOUBLE))) AS BIGINT)""")
            .as("ssb_c2"),
          expr("""CAST(round(CAST(ssg AS DOUBLE)
                 - CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE) / CAST(ng AS DOUBLE))
                 AS BIGINT)""").as("ssw_c2"))
        .groupBy()
        .agg(max(col("n").cast("long")).as("n"), max(col("k").cast("long")).as("k"),
          sum("ssb_c2").as("ssb_c2"), sum("ssw_c2").as("ssw_c2"))
        .select(col("n"), col("k"), col("ssb_c2"), col("ssw_c2"),
          expr("""CAST(round(CAST(ssb_c2 AS DOUBLE) / CAST(k - 1 AS DOUBLE)
                 / (CAST(ssw_c2 AS DOUBLE) / CAST(n - k AS DOUBLE))
                 * 1000000) AS BIGINT)""").as("f_micro"))
    }),
    // q_friedman: per-day doubled midranks from day-partitioned value
    // histograms; rank-sum squares stay exact HUGEINT integers (mirroring
    // the engine's DECIMAL), so only the final statistic touches doubles.
    "q_friedman" -> Query(
      """WITH cells AS (SELECT l_shipdate AS d, l_returnflag AS grp, CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS v FROM lineitem GROUP BY 1, 2), complete AS (SELECT d FROM cells GROUP BY 1 HAVING count(*) = 3), cc AS (SELECT cells.d, cells.grp, cells.v FROM cells JOIN complete USING (d)), h AS (SELECT d, v, CAST(count(*) AS BIGINT) AS c FROM cc GROUP BY 1, 2), dr AS (SELECT d, v, 2 * sum(c) OVER (PARTITION BY d ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c + 1 AS dr, CAST(c AS HUGEINT) * c * c - c AS t3t FROM h), g AS (SELECT grp, CAST(sum(dr) AS HUGEINT) AS rj2 FROM cc JOIN dr USING (d, v) GROUP BY 1), gs AS (SELECT CAST(sum(rj2 * rj2) AS BIGINT) AS sum_rj2sq, CAST(count(*) AS BIGINT) AS k FROM g), ties AS (SELECT CAST(sum(t3t) AS BIGINT) AS tsum FROM dr), nb AS (SELECT CAST(count(*) AS BIGINT) AS n FROM complete) SELECT n, k, sum_rj2sq, tsum AS tie_sum, CAST(round((12.0 * (CAST(sum_rj2sq AS DOUBLE) / 4.0) / (CAST(n AS DOUBLE) * CAST(k AS DOUBLE) * CAST(k + 1 AS DOUBLE)) - 3.0 * CAST(n AS DOUBLE) * CAST(k + 1 AS DOUBLE)) * 1000000) AS BIGINT) AS chi2_micro, CAST(round((12.0 * (CAST(sum_rj2sq AS DOUBLE) / 4.0) / (CAST(n AS DOUBLE) * CAST(k AS DOUBLE) * CAST(k + 1 AS DOUBLE)) - 3.0 * CAST(n AS DOUBLE) * CAST(k + 1 AS DOUBLE)) / (1.0 - CAST(tsum AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(k AS DOUBLE) * (CAST(k AS DOUBLE) * CAST(k AS DOUBLE) - 1.0))) * 1000000) AS BIGINT) AS chi2_adj_micro FROM gs CROSS JOIN ties CROSS JOIN nb""")((s, dir) => {
      // Friedman rank test (nonparametric repeated-measures ANOVA): does
      // any return flag consistently out-earn the others DAY AFTER DAY?
      // Blocks = ship days with all k flags present (complete blocks
      // only, the test's requirement), treatment value = the day x flag
      // revenue cell. Doubled midranks WITHIN each day come from a
      // per-day value histogram (window partitioned by day — a k-row
      // frame, never global); rank sums and their squares stay exact
      // DECIMAL integers (day-domain bound: Rj2² < 2⁵³ even at 100x the
      // day range), so the only double math is the final statistic.
      // Tie-corrected variant divides by 1 − Σ(t³−t)/(n·k·(k²−1)),
      // mirroring q_kruskal's discipline.
      import org.apache.spark.sql.expressions.Window
      val cells = T(s, dir, "lineitem")
        .groupBy(col("l_shipdate").as("d"), col("l_returnflag").as("grp"))
        .agg(sum(expr("CAST(round(l_extendedprice * 100) AS BIGINT)")).as("v"))
      val complete = cells.groupBy("d").agg(count(lit(1)).as("kk"))
        .filter(col("kk") === 3).select("d")
      val cc = cells.join(complete, "d").localCheckpoint(true) // hist + probe
      val h = cc.groupBy("d", "v").agg(count(lit(1)).as("c"))
      val wd = Window.partitionBy("d").orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val dr = h.withColumn("cum", sum("c").over(wd))
        .select(col("d"), col("v"), expr("2 * cum - c + 1").as("dr"),
          expr("CAST(c AS DECIMAL(38,0)) * c * c - c").as("t3t"))
      val g = cc.join(dr.select("d", "v", "dr"), Seq("d", "v"))
        .groupBy("grp")
        .agg(sum(col("dr").cast("decimal(38,0)")).as("rj2"))
        .select(expr("rj2 * rj2").as("rj2sq"))
      val ties = dr.agg(sum("t3t").as("tsum"))
      val nb = complete.agg(count(lit(1)).cast("long").as("n"))
      g.agg(sum("rj2sq").as("sum_rj2sq"), count(lit(1)).as("k"))
        .crossJoin(broadcast(nb)).crossJoin(broadcast(ties))
        .select(col("n"), col("k"),
          col("sum_rj2sq").cast("long").as("sum_rj2sq"),
          col("tsum").cast("long").as("tie_sum"),
          expr("""CAST(round((12.0 * (CAST(sum_rj2sq AS DOUBLE) / 4.0)
                 / (CAST(n AS DOUBLE) * CAST(k AS DOUBLE) * CAST(k + 1 AS DOUBLE))
                 - 3.0 * CAST(n AS DOUBLE) * CAST(k + 1 AS DOUBLE))
                 * 1000000) AS BIGINT)""").as("chi2_micro"),
          expr("""CAST(round((12.0 * (CAST(sum_rj2sq AS DOUBLE) / 4.0)
                 / (CAST(n AS DOUBLE) * CAST(k AS DOUBLE) * CAST(k + 1 AS DOUBLE))
                 - 3.0 * CAST(n AS DOUBLE) * CAST(k + 1 AS DOUBLE))
                 / (1.0 - CAST(tsum AS DOUBLE)
                    / (CAST(n AS DOUBLE) * CAST(k AS DOUBLE)
                       * (CAST(k AS DOUBLE) * CAST(k AS DOUBLE) - 1.0)))
                 * 1000000) AS BIGINT)""").as("chi2_adj_micro"))
    }),

    "q_partial_corr" -> Query(
      """WITH v AS (SELECT CAST(l_quantity AS HUGEINT) AS x, CAST(round(l_extendedprice * 100) AS HUGEINT) AS y, CAST(round(l_discount * 100) AS HUGEINT) AS z FROM lineitem), g AS (SELECT CAST(count(*) AS HUGEINT) AS n, sum(x) AS sx, sum(y) AS sy, sum(z) AS sz, sum(x * x) AS sxx, sum(y * y) AS syy, sum(z * z) AS szz, sum(x * y) AS sxy, sum(x * z) AS sxz, sum(y * z) AS syz FROM v), r AS (SELECT CAST(n AS BIGINT) AS n, CAST(n * sxy - sx * sy AS DOUBLE) / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) * sqrt(CAST(n * syy - sy * sy AS DOUBLE))) AS rxy, CAST(n * sxz - sx * sz AS DOUBLE) / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) * sqrt(CAST(n * szz - sz * sz AS DOUBLE))) AS rxz, CAST(n * syz - sy * sz AS DOUBLE) / (sqrt(CAST(n * syy - sy * sy AS DOUBLE)) * sqrt(CAST(n * szz - sz * sz AS DOUBLE))) AS ryz FROM g) SELECT n, CAST(round(rxy * 1000000) AS BIGINT) AS rxy_micro, CAST(round((rxy - rxz * ryz) / sqrt((1.0 - rxz * rxz) * (1.0 - ryz * ryz)) * 1000000) AS BIGINT) AS rxy_given_z_micro FROM r""")((s, dir) => {
      // partial correlation of quantity and price controlling for
      // discount: ONE Gram pass yields all three pairwise correlations
      // (mirrored IEEE over exact DECIMAL sums), then
      // r_xy·z = (r_xy − r_xz·r_yz)/√((1−r_xz²)(1−r_yz²)). The
      // multivariate companion to q_corr's matrix.
      T(s, dir, "lineitem")
        .select(col("l_quantity").cast("decimal(38,0)").as("x"),
          round(col("l_extendedprice") * 100).cast("decimal(38,0)").as("y"),
          round(col("l_discount") * 100).cast("decimal(38,0)").as("z"))
        .agg(count(lit(1)).cast("decimal(38,0)").as("n"),
          sum("x").as("sx"), sum("y").as("sy"), sum("z").as("sz"),
          sum(expr("x * x")).as("sxx"), sum(expr("y * y")).as("syy"),
          sum(expr("z * z")).as("szz"), sum(expr("x * y")).as("sxy"),
          sum(expr("x * z")).as("sxz"), sum(expr("y * z")).as("syz"))
        .select(col("n").cast("long").as("n"),
          expr("""CAST(n * sxy - sx * sy AS DOUBLE)
                 / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                    * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))""").as("rxy"),
          expr("""CAST(n * sxz - sx * sz AS DOUBLE)
                 / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                    * sqrt(CAST(n * szz - sz * sz AS DOUBLE)))""").as("rxz"),
          expr("""CAST(n * syz - sy * sz AS DOUBLE)
                 / (sqrt(CAST(n * syy - sy * sy AS DOUBLE))
                    * sqrt(CAST(n * szz - sz * sz AS DOUBLE)))""").as("ryz"))
        .select(col("n"),
          expr("CAST(round(rxy * 1000000) AS BIGINT)").as("rxy_micro"),
          expr("""CAST(round((rxy - rxz * ryz)
                 / sqrt((1.0 - rxz * rxz) * (1.0 - ryz * ryz))
                 * 1000000) AS BIGINT)""").as("rxy_given_z_micro"))
    }),

    "q_tukey" -> Query(
      """WITH v AS (SELECT l_returnflag AS g, CAST(round(l_extendedprice * 100) AS BIGINT) AS v, l_orderkey, l_linenumber FROM lineitem), r AS (SELECT g, v, CAST(row_number() OVER (PARTITION BY g ORDER BY v, l_orderkey, l_linenumber) AS BIGINT) AS rn, CAST(count(*) OVER (PARTITION BY g) AS BIGINT) AS n FROM v), k(k) AS (VALUES (1), (3)), p AS (SELECT g, CAST(k AS BIGINT) AS k, v, rn, ((n - 1) * k) // 4 + 1 AS lo, ((n - 1) * k) % 4 AS rem FROM r, k WHERE rn = ((n - 1) * k) // 4 + 1 OR rn = ((n - 1) * k) // 4 + 2), q AS (SELECT g, k, (max(CASE WHEN rn = lo THEN v END) * (4 - max(rem)) * 1000000 + coalesce(max(CASE WHEN rn = lo + 1 THEN v END), 0) * max(rem) * 1000000) // 4 AS q_micro FROM p GROUP BY 1, 2), f AS (SELECT g, max(CASE WHEN k = 1 THEN q_micro END) AS q1, max(CASE WHEN k = 3 THEN q_micro END) AS q3 FROM q GROUP BY 1), fe AS (SELECT g, q1 - (3 * (q3 - q1)) // 2 AS lo_micro, q3 + (3 * (q3 - q1)) // 2 AS hi_micro FROM f) SELECT v.g AS l_returnflag, CAST(count(*) AS BIGINT) AS n, CAST(max(lo_micro) AS BIGINT) AS lo_micro, CAST(max(hi_micro) AS BIGINT) AS hi_micro, CAST(sum(CASE WHEN v.v * 1000000 < lo_micro THEN 1 ELSE 0 END) AS BIGINT) AS n_below, CAST(sum(CASE WHEN v.v * 1000000 > hi_micro THEN 1 ELSE 0 END) AS BIGINT) AS n_above FROM v JOIN fe USING (g) GROUP BY 1""")((s, dir) => {
      // Tukey IQR fences per return flag: the exact interpolated
      // quartiles (q_percentile_cont's machinery) become per-group
      // fence scalars lo = q1 − 1.5·IQR, hi = q3 + 1.5·IQR in micro
      // units (1.5 as the integral 3/2), broadcast back over the rows —
      // the EDA outlier flag whose cutoffs a box plot draws. Output is
      // the per-group audit summary, not the row stream.
      val base = T(s, dir, "lineitem")
        .select(col("l_returnflag").as("g"),
          round(col("l_extendedprice") * 100).cast("long").as("v"),
          col("l_orderkey"), col("l_linenumber"))
        .localCheckpoint(true) // ranks + final flag scan share it
      val ranked = ext.Ranks.groupedRank(base, "g",
        Seq(col("v"), col("l_orderkey"), col("l_linenumber")), "rn")
      val ks = s.createDataFrame(Seq(Tuple1(1L), Tuple1(3L))).toDF("k")
      val quart = ranked.crossJoin(broadcast(ks))
        .withColumn("lo", expr("((rn_n - 1) * k) div 4 + 1"))
        .withColumn("rem", expr("((rn_n - 1) * k) % 4"))
        .filter(col("rn") === col("lo") || col("rn") === col("lo") + 1L)
        .groupBy("g", "k")
        .agg(max(when(col("rn") === col("lo"), col("v"))).as("v_lo"),
          max(when(col("rn") === col("lo") + 1L, col("v"))).as("v_hi"),
          max("rem").as("rem"))
        .select(col("g"), col("k"),
          expr("(v_lo * (4 - rem) * 1000000 + coalesce(v_hi, 0) * rem * 1000000) div 4")
            .as("q_micro"))
      val fences = quart.groupBy("g")
        .agg(max(when(col("k") === 1L, col("q_micro"))).as("q1"),
          max(when(col("k") === 3L, col("q_micro"))).as("q3"))
        .select(col("g"), col("q1"), col("q3"),
          expr("q1 - (3 * (q3 - q1)) div 2").as("lo_micro"),
          expr("q3 + (3 * (q3 - q1)) div 2").as("hi_micro"))
      base.join(broadcast(fences), "g")
        .groupBy(col("g").as("l_returnflag"))
        .agg(count(lit(1)).as("n"), max("lo_micro").as("lo_micro"),
          max("hi_micro").as("hi_micro"),
          sum(when(col("v") * 1000000L < col("lo_micro"), 1L).otherwise(0L))
            .as("n_below"),
          sum(when(col("v") * 1000000L > col("hi_micro"), 1L).otherwise(0L))
            .as("n_above"))
    }),

    "q_wilson" -> Query(
      """WITH g AS (SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS n, CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS np FROM events GROUP BY 1) SELECT d, n, np, CAST((np * 1000000) // n AS BIGINT) AS rate_micro, CAST(round((CAST(np AS DOUBLE) / n + 1.9208 / n - 1.96 * sqrt((CAST(np AS DOUBLE) / n * (1.0 - CAST(np AS DOUBLE) / n) + 0.9604 / n) / n)) / (1.0 + 3.8416 / n) * 1000000) AS BIGINT) AS lo_micro, CAST(round((CAST(np AS DOUBLE) / n + 1.9208 / n + 1.96 * sqrt((CAST(np AS DOUBLE) / n * (1.0 - CAST(np AS DOUBLE) / n) + 0.9604 / n) / n)) / (1.0 + 3.8416 / n) * 1000000) AS BIGINT) AS hi_micro FROM g""")((s, dir) => {
      // Wilson 95% score interval for the daily purchase rate: the
      // proportion CI that stays inside [0,1] at small n — closed-form
      // center ± half-width with z=1.96 as the exact literals 1.9208 /
      // 0.9604 / 3.8416, each bound rounded ONCE to micro (sqrt is
      // IEEE-exact, so both engines agree bit-for-bit). ONE date-keyed
      // hash agg; no window anywhere.
      events(s, dir)
        .groupBy(to_date(col("ts")).as("d"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("np"))
        .withColumn("rate_micro", expr("(np * 1000000) div n"))
        .withColumn("lo_micro", expr(
          """CAST(round((CAST(np AS DOUBLE) / n + 1.9208 / n
             | - 1.96 * sqrt((CAST(np AS DOUBLE) / n * (1.0 - CAST(np AS DOUBLE) / n) + 0.9604 / n) / n))
             | / (1.0 + 3.8416 / n) * 1000000) AS BIGINT)""".stripMargin))
        .withColumn("hi_micro", expr(
          """CAST(round((CAST(np AS DOUBLE) / n + 1.9208 / n
             | + 1.96 * sqrt((CAST(np AS DOUBLE) / n * (1.0 - CAST(np AS DOUBLE) / n) + 0.9604 / n) / n))
             | / (1.0 + 3.8416 / n) * 1000000) AS BIGINT)""".stripMargin))
    }),
    // q_fdr: the A&S 7.1.26 erf polynomial replayed literal-for-literal;
    // BH step-up compares only integer micro values, so the one
    // transcendental (exp) is rounded once before any ordering matters
    "q_fdr" -> Query(
      """WITH g AS (SELECT p_brand, CAST(count(*) AS BIGINT) AS n, CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS x FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY 1), tot AS (SELECT CAST(sum(n) AS BIGINT) AS nt, CAST(sum(x) AS BIGINT) AS xt FROM g), z AS (SELECT p_brand, n, x, (CAST(x AS DOUBLE) / n - CAST(xt AS DOUBLE) / nt) / sqrt(CAST(xt AS DOUBLE) / nt * (1.0 - CAST(xt AS DOUBLE) / nt) / n) AS z FROM g, tot), e AS (SELECT p_brand, n, x, z, abs(z) * 0.7071067811865476 AS ax FROM z), e2 AS (SELECT p_brand, n, x, z, ax, 1.0 / (1.0 + 0.3275911 * ax) AS t FROM e), p AS (SELECT p_brand, n, x, CAST(round(z * 1000000) AS BIGINT) AS z_micro, CAST(round(t * (0.254829592 + t * (-0.284496736 + t * (1.421413741 + t * (-1.453152027 + t * 1.061405429)))) * exp(-ax * ax) * 1000000) AS BIGINT) AS p_micro FROM e2), r AS (SELECT p_brand, n, x, z_micro, p_micro, CAST(row_number() OVER (ORDER BY p_micro, p_brand) AS BIGINT) AS rk, CAST(count(*) OVER () AS BIGINT) AS m FROM p), b AS (SELECT p_brand, n, x, z_micro, p_micro, rk, least(1000000, min((p_micro * m) // rk) OVER (ORDER BY p_micro, p_brand ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)) AS bh_micro FROM r) SELECT p_brand, n, x, z_micro, p_micro, rk, CAST(bh_micro AS BIGINT) AS bh_micro, bh_micro <= 50000 AS rejected FROM b""")((s, dir) => {
      // Benjamini-Hochberg FDR over per-brand return-rate z-tests: the
      // normal tail comes from the Abramowitz-Stegun 7.1.26 erf
      // polynomial (pure literal arithmetic — no erf built-in in either
      // engine), p-values round ONCE to micro, and the BH step-up
      // (rank, m·p/i suffix-min, cap at 1) runs entirely in integer
      // micro units over the ≤25-row brand frame (bounded domain —
      // PlanAuditSpec whitelisted). The lineitem⋈part join is the only
      // data-scale shuffle; everything after is a 25-row panel.
      import org.apache.spark.sql.expressions.Window
      val g = T(s, dir, "lineitem")
        .join(T(s, dir, "part"), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("x"))
        .localCheckpoint(true) // pooled rate + per-brand tests share it
      val pool = g.agg(sum("n").as("nt"), sum("x").as("xt"))
      val z = g.crossJoin(broadcast(pool))
        .withColumn("z", expr(
          """(CAST(x AS DOUBLE) / n - CAST(xt AS DOUBLE) / nt)
             | / sqrt(CAST(xt AS DOUBLE) / nt * (1.0 - CAST(xt AS DOUBLE) / nt) / n)""".stripMargin))
        .withColumn("ax", expr("abs(z) * 0.7071067811865476"))
        .withColumn("t", expr("1.0 / (1.0 + 0.3275911 * ax)"))
        .withColumn("p_micro", expr(
          """CAST(round(t * (0.254829592 + t * (-0.284496736 + t * (1.421413741
             | + t * (-1.453152027 + t * 1.061405429)))) * exp(-ax * ax) * 1000000) AS BIGINT)"""
            .stripMargin))
        .withColumn("z_micro", expr("CAST(round(z * 1000000) AS BIGINT)"))
      val wOrd = Window.orderBy(col("p_micro"), col("p_brand"))
      val wSuf = wOrd.rowsBetween(Window.currentRow, Window.unboundedFollowing)
      z.withColumn("rk", row_number().over(wOrd).cast("long"))
        .withColumn("m", count(lit(1)).over(Window.partitionBy())) // 25-row frame
        .withColumn("bh_micro",
          least(lit(1000000L), min(expr("(p_micro * m) div rk")).over(wSuf)))
        .select(col("p_brand"), col("n"), col("x"), col("z_micro"),
          col("p_micro"), col("rk"), col("bh_micro"),
          (col("bh_micro") <= 50000L).as("rejected"))
    }),
    // q_cochran_q: the same matched-flag pass; column-total squares
    // through HUGEINT, the identical final double.
    "q_cochran_q" -> Query(
      """WITH f AS (SELECT user_id, CAST(max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS v, CAST(max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS c, CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS p FROM events GROUP BY 1), g AS (SELECT CAST(count(*) AS BIGINT) AS n_users, CAST(sum(v) AS BIGINT) AS cv, CAST(sum(c) AS BIGINT) AS cc, CAST(sum(p) AS BIGINT) AS cp, CAST(sum(v + c + p) AS BIGINT) AS sr, CAST(sum((v + c + p) * (v + c + p)) AS BIGINT) AS sr2 FROM f), h AS (SELECT n_users, cv AS c_view, cc AS c_click, cp AS c_purchase, 3 * (CAST(cv AS HUGEINT) * cv + CAST(cc AS HUGEINT) * cc + CAST(cp AS HUGEINT) * cp) - CAST(cv + cc + cp AS HUGEINT) * (cv + cc + cp) AS num, 3 * sr - sr2 AS den FROM g), q AS (SELECT n_users, c_view, c_click, c_purchase, CASE WHEN den = 0 THEN CAST(NULL AS BIGINT) ELSE CAST(round(2.0 * CAST(num AS DOUBLE) / CAST(den AS DOUBLE) * 1000000) AS BIGINT) END AS q_micro FROM h) SELECT n_users, c_view, c_click, c_purchase, q_micro, q_micro > 5991465 AS significant FROM q""")((s, dir) => {
      // Cochran's Q: did the three engagement behaviors (view / click /
      // purchase, matched within user) occur at the same rate — the
      // k-treatment generalization of q_mcnemar (k=2 reduces to it).
      // Q = (k−1)·[k·ΣC_j² − (ΣC_j)²] / [k·ΣR_i − ΣR_i²]: both sides
      // exact integers from ONE conditional-agg pass (squares through
      // DECIMAL so billion-user column totals never wrap), one mirrored
      // double at the end; χ²₍₂₎ 5% critical value as a literal micro.
      val f = events(s, dir).groupBy("user_id").agg(
        max(when(col("event_type") === "view", 1L).otherwise(0L)).as("v"),
        max(when(col("event_type") === "click", 1L).otherwise(0L)).as("c"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("p"))
      f.agg(count(lit(1)).as("n_users"),
          sum("v").as("cv"), sum("c").as("cc"), sum("p").as("cp"),
          sum(expr("v + c + p")).as("sr"),
          sum(expr("(v + c + p) * (v + c + p)")).as("sr2"))
        .select(col("n_users"), col("cv").as("c_view"), col("cc").as("c_click"),
          col("cp").as("c_purchase"),
          expr("""3 * (CAST(cv AS DECIMAL(38,0)) * cv + CAST(cc AS DECIMAL(38,0)) * cc
                 + CAST(cp AS DECIMAL(38,0)) * cp)
                 - CAST(cv + cc + cp AS DECIMAL(38,0)) * (cv + cc + cp)""").as("num"),
          (lit(3L) * col("sr") - col("sr2")).as("den"))
        .select(col("n_users"), col("c_view"), col("c_click"), col("c_purchase"),
          expr("""CASE WHEN den = 0 THEN CAST(NULL AS BIGINT)
                  ELSE CAST(round(2.0 * CAST(num AS DOUBLE) / CAST(den AS DOUBLE)
                    * 1000000) AS BIGINT) END""").as("q_micro"))
        .withColumn("significant", col("q_micro") > 5991465L)
    }),

    "q_mcnemar" -> Query(
      """WITH f AS (SELECT l_partkey, CAST(max(CASE WHEN year(l_shipdate) = 1997 AND l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS r97, CAST(max(CASE WHEN year(l_shipdate) = 1998 AND l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS r98, max(CASE WHEN year(l_shipdate) = 1997 THEN 1 ELSE 0 END) AS in97, max(CASE WHEN year(l_shipdate) = 1998 THEN 1 ELSE 0 END) AS in98 FROM lineitem WHERE year(l_shipdate) IN (1997, 1998) GROUP BY 1), p AS (SELECT * FROM f WHERE in97 = 1 AND in98 = 1), g AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs, CAST(sum(CASE WHEN r97 = 1 AND r98 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b, CAST(sum(CASE WHEN r97 = 0 AND r98 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c FROM p) SELECT n_pairs, b, c, CAST(CASE WHEN b + c = 0 THEN 0 ELSE ((b - c) * (b - c) * 1000000) // (b + c) END AS BIGINT) AS chi2_micro, (CASE WHEN b + c = 0 THEN 0 ELSE ((b - c) * (b - c) * 1000000) // (b + c) END) > 3841459 AS significant FROM g""")((s, dir) => {
      // McNemar's paired test: did per-part return behavior CHANGE
      // between 1997 and 1998? Only the discordant pairs b (returned in
      // '97 only) and c ('98 only) matter: χ² = (b−c)²/(b+c), exact
      // integers, the 5% critical value as the same literal micro as
      // stream_srm. One conditional-agg pass builds both year flags.
      val flags = T(s, dir, "lineitem")
        .filter(expr("year(l_shipdate) IN (1997, 1998)"))
        .groupBy("l_partkey")
        .agg(max(when(expr("year(l_shipdate) = 1997 AND l_returnflag = 'R'"), 1L)
            .otherwise(0L)).as("r97"),
          max(when(expr("year(l_shipdate) = 1998 AND l_returnflag = 'R'"), 1L)
            .otherwise(0L)).as("r98"),
          max(when(expr("year(l_shipdate) = 1997"), 1L).otherwise(0L)).as("in97"),
          max(when(expr("year(l_shipdate) = 1998"), 1L).otherwise(0L)).as("in98"))
        .filter(col("in97") === 1L && col("in98") === 1L)
      flags.agg(count(lit(1)).as("n_pairs"),
          sum(when(col("r97") === 1L && col("r98") === 0L, 1L).otherwise(0L)).as("b"),
          sum(when(col("r97") === 0L && col("r98") === 1L, 1L).otherwise(0L)).as("c"))
        .select(col("n_pairs"), col("b"), col("c"),
          expr("CASE WHEN b + c = 0 THEN 0 ELSE ((b - c) * (b - c) * 1000000) div (b + c) END")
            .as("chi2_micro"))
        .withColumn("significant", col("chi2_micro") > 3841459L)
    }),

    "q_price_index" -> Query(
      """WITH py AS (SELECT l_partkey, CAST(sum(CASE WHEN year(l_shipdate) = 1997 THEN CAST(round(l_extendedprice * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS rev0, CAST(sum(CASE WHEN year(l_shipdate) = 1997 THEN CAST(l_quantity AS BIGINT) ELSE 0 END) AS BIGINT) AS q0, CAST(sum(CASE WHEN year(l_shipdate) = 1998 THEN CAST(round(l_extendedprice * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS rev1, CAST(sum(CASE WHEN year(l_shipdate) = 1998 THEN CAST(l_quantity AS BIGINT) ELSE 0 END) AS BIGINT) AS q1 FROM lineitem WHERE year(l_shipdate) IN (1997, 1998) GROUP BY 1 HAVING q0 > 0 AND q1 > 0), g AS (SELECT CAST(count(*) AS BIGINT) AS n_parts, CAST(sum((rev1 * q0) // q1) AS BIGINT) AS l_num, CAST(sum(rev0) AS BIGINT) AS l_den, CAST(sum(rev1) AS BIGINT) AS p_num, CAST(sum((rev0 * q1) // q0) AS BIGINT) AS p_den, CAST(sum(CAST(rev1 AS HUGEINT)) AS HUGEINT) AS r1, CAST(sum(CAST(q1 AS HUGEINT)) AS HUGEINT) AS tq1, CAST(sum(CAST(rev0 AS HUGEINT)) AS HUGEINT) AS r0, CAST(sum(CAST(q0 AS HUGEINT)) AS HUGEINT) AS tq0 FROM py) SELECT n_parts, (l_num * 1000000) // l_den AS laspeyres_micro, (p_num * 1000000) // p_den AS paasche_micro, CAST((r1 * tq0 * 1000000) // (tq1 * r0) AS BIGINT) AS unit_value_micro FROM g""")((s, dir) => {
      // Laspeyres / Paasche / unit-value price indices 1997→1998 over
      // matched parts: per-part unit values are cents-rational, rounded
      // by ONE integral divide per part (order-free), the index is one
      // more divide over exact sums — the BI price-deflator read.
      // DECIMAL(38,0) for the cross products.
      val py = T(s, dir, "lineitem")
        .filter(expr("year(l_shipdate) IN (1997, 1998)"))
        .groupBy("l_partkey")
        .agg(sum(when(expr("year(l_shipdate) = 1997"),
            expr("CAST(round(l_extendedprice * 100) AS BIGINT)")).otherwise(0L)).as("rev0"),
          sum(when(expr("year(l_shipdate) = 1997"),
            expr("CAST(l_quantity AS BIGINT)")).otherwise(0L)).as("q0"),
          sum(when(expr("year(l_shipdate) = 1998"),
            expr("CAST(round(l_extendedprice * 100) AS BIGINT)")).otherwise(0L)).as("rev1"),
          sum(when(expr("year(l_shipdate) = 1998"),
            expr("CAST(l_quantity AS BIGINT)")).otherwise(0L)).as("q1"))
        .filter(col("q0") > 0L && col("q1") > 0L)
      py.agg(count(lit(1)).as("n_parts"),
          sum(expr("(rev1 * q0) div q1")).as("l_num"), sum("rev0").as("l_den"),
          sum("rev1").as("p_num"), sum(expr("(rev0 * q1) div q0")).as("p_den"),
          sum(expr("CAST(rev1 AS DECIMAL(38,0))")).as("r1"),
          sum(expr("CAST(q1 AS DECIMAL(38,0))")).as("tq1"),
          sum(expr("CAST(rev0 AS DECIMAL(38,0))")).as("r0"),
          sum(expr("CAST(q0 AS DECIMAL(38,0))")).as("tq0"))
        .select(col("n_parts"),
          expr("(l_num * 1000000) div l_den").as("laspeyres_micro"),
          expr("(p_num * 1000000) div p_den").as("paasche_micro"),
          expr("CAST((r1 * tq0 * 1000000) div (tq1 * r0) AS BIGINT)")
            .as("unit_value_micro"))
    }),

    "q_paired_ttest" -> Query(
      """WITH f AS (SELECT l_partkey, CAST(sum(CASE WHEN year(l_shipdate) = 1998 THEN CAST(round(l_extendedprice * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS rev1, CAST(sum(CASE WHEN year(l_shipdate) = 1997 THEN CAST(round(l_extendedprice * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS rev0, max(CASE WHEN year(l_shipdate) = 1997 THEN 1 ELSE 0 END) AS in97, max(CASE WHEN year(l_shipdate) = 1998 THEN 1 ELSE 0 END) AS in98 FROM lineitem WHERE year(l_shipdate) IN (1997, 1998) GROUP BY 1), d AS (SELECT CAST(rev1 - rev0 AS HUGEINT) AS d FROM f WHERE in97 = 1 AND in98 = 1), g AS (SELECT CAST(count(*) AS HUGEINT) AS n, sum(d) AS sd, sum(d * d) AS sdd FROM d) SELECT CAST(n AS BIGINT) AS n, CAST(sd AS BIGINT) AS sum_d_c, CAST(round(CAST(sd AS DOUBLE) / sqrt(CAST(n * sdd - sd * sd AS DOUBLE) / CAST(n - 1 AS DOUBLE)) * 1000000) AS BIGINT) AS t_micro FROM g""")((s, dir) => {
      // paired t on the q_mcnemar panel's continuous outcome: per-part
      // revenue difference 1998−1997 over matched parts, t = Σd /
      // √(n(nΣd² − (Σd)²)/(n−1)) computed from exact DECIMAL(38,0)
      // sums, rounded ONCE to micro. The pairing removes between-part
      // variance — the right test when the same unit is observed twice.
      val d = T(s, dir, "lineitem")
        .filter(expr("year(l_shipdate) IN (1997, 1998)"))
        .groupBy("l_partkey")
        .agg(sum(when(expr("year(l_shipdate) = 1998"),
            expr("CAST(round(l_extendedprice * 100) AS BIGINT)")).otherwise(0L)).as("rev1"),
          sum(when(expr("year(l_shipdate) = 1997"),
            expr("CAST(round(l_extendedprice * 100) AS BIGINT)")).otherwise(0L)).as("rev0"),
          max(when(expr("year(l_shipdate) = 1997"), 1L).otherwise(0L)).as("in97"),
          max(when(expr("year(l_shipdate) = 1998"), 1L).otherwise(0L)).as("in98"))
        .filter(col("in97") === 1L && col("in98") === 1L)
        .select(expr("CAST(rev1 - rev0 AS DECIMAL(38,0))").as("d"))
      d.agg(count(lit(1)).as("n"), sum("d").as("sd"),
          sum(expr("d * d")).as("sdd"))
        .select(col("n"), expr("CAST(sd AS BIGINT)").as("sum_d_c"),
          expr("""CAST(round(CAST(sd AS DOUBLE)
                 | / sqrt(CAST(n * sdd - sd * sd AS DOUBLE) / CAST(n - 1 AS DOUBLE))
                 | * 1000000) AS BIGINT)""".stripMargin).as("t_micro"))
    }),

    "q_xyz" -> Query(
      """WITH monthly AS (SELECT l_partkey, date_trunc('month', l_shipdate) AS m, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q FROM lineitem GROUP BY 1, 2), agg AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS n, CAST(sum(q) AS BIGINT) AS sq, CAST(sum(q * q) AS BIGINT) AS sqq FROM monthly GROUP BY 1), cv AS (SELECT CAST(round(sqrt(CAST(n * sqq - sq * sq AS DOUBLE) / (CAST(n AS DOUBLE) * (n - 1))) / (CAST(sq AS DOUBLE) / n) * 1000000) AS BIGINT) AS cv_micro FROM agg WHERE n >= 2), c AS (SELECT CASE WHEN cv_micro < 500000 THEN 'X' WHEN cv_micro < 1000000 THEN 'Y' ELSE 'Z' END AS xyz_class, cv_micro FROM cv) SELECT xyz_class, CAST(count(*) AS BIGINT) AS n_parts, CAST(sum(cv_micro) // count(*) AS BIGINT) AS avg_cv_micro FROM c GROUP BY 1""")((s, dir) => {
      // XYZ demand-variability classes (the q_abc companion): per part,
      // the coefficient of variation of monthly demand — X (steady,
      // cv < 0.5), Y (< 1.0), Z (erratic) by literal micro thresholds.
      // Two cascaded hash aggs + one class panel; parts with a single
      // observed month are excluded (cv undefined, documented).
      val monthly = T(s, dir, "lineitem")
        .groupBy(col("l_partkey"), expr("date_trunc('month', l_shipdate)").as("m"))
        .agg(sum(expr("CAST(l_quantity AS BIGINT)")).as("q"))
      val cv = monthly.groupBy("l_partkey")
        .agg(count(lit(1)).as("n"), sum("q").as("sq"), sum(expr("q * q")).as("sqq"))
        .filter(col("n") >= 2L)
        .select(expr("""CAST(round(sqrt(CAST(n * sqq - sq * sq AS DOUBLE)
                       | / (CAST(n AS DOUBLE) * (n - 1)))
                       | / (CAST(sq AS DOUBLE) / n) * 1000000) AS BIGINT)""".stripMargin)
          .as("cv_micro"))
      cv.select(when(col("cv_micro") < 500000L, "X")
          .when(col("cv_micro") < 1000000L, "Y").otherwise("Z").as("xyz_class"),
          col("cv_micro"))
        .groupBy("xyz_class")
        .agg(count(lit(1)).as("n_parts"),
          expr("sum(cv_micro) div count(1)").as("avg_cv_micro"))
    }),

    "q_kendall" -> Query(
      """WITH daily AS (SELECT l_shipdate AS d, CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS x, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS y FROM lineitem GROUP BY 1), cd AS (SELECT CAST(sum(CAST(sign(b.x - a.x) * sign(b.y - a.y) AS BIGINT)) AS BIGINT) AS s FROM daily a JOIN daily b ON a.d < b.d), tx AS (SELECT CAST(sum(t * (t - 1) // 2) AS BIGINT) AS n1 FROM (SELECT CAST(count(*) AS BIGINT) AS t FROM daily GROUP BY x)), ty AS (SELECT CAST(sum(t * (t - 1) // 2) AS BIGINT) AS n2 FROM (SELECT CAST(count(*) AS BIGINT) AS t FROM daily GROUP BY y)), nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM daily) SELECT n, s, n1, n2, CAST(round(CAST(s AS DOUBLE) / sqrt((CAST(n * (n - 1) // 2 - n1 AS DOUBLE)) * (CAST(n * (n - 1) // 2 - n2 AS DOUBLE))) * 1000000) AS BIGINT) AS tau_micro FROM cd, tx, ty, nn""")((s, dir) => {
      // Kendall τ-b between the daily revenue and daily quantity series:
      // concordant−discordant over the bounded day panel (broadcast
      // side, like q_mannkendall — never a data-scale pattern), tie
      // corrections per axis in exact integers, ONE double sqrt at the
      // end. The rank-correlation that tolerates ties better than
      // Spearman.
      val daily = T(s, dir, "lineitem")
        .groupBy(col("l_shipdate").as("d"))
        .agg(sum(expr("CAST(round(l_extendedprice * 100) AS BIGINT)")).as("x"),
          sum(expr("CAST(l_quantity AS BIGINT)")).as("y"))
        .localCheckpoint(true) // pair join + tie panels + n
      val cd = daily.select(col("d").as("d1"), col("x").as("x1"), col("y").as("y1"))
        .join(broadcast(daily.select(col("d").as("d2"), col("x").as("x2"),
          col("y").as("y2"))), col("d1") < col("d2"))
        .agg(sum(expr("CAST(sign(x2 - x1) * sign(y2 - y1) AS BIGINT)")).as("s"))
      val tx = daily.groupBy("x").agg(count(lit(1)).as("t"))
        .agg(sum(expr("t * (t - 1) div 2")).as("n1"))
      val ty = daily.groupBy("y").agg(count(lit(1)).as("t"))
        .agg(sum(expr("t * (t - 1) div 2")).as("n2"))
      val n = daily.agg(count(lit(1)).as("n"))
      cd.crossJoin(broadcast(tx)).crossJoin(broadcast(ty)).crossJoin(broadcast(n))
        .select(col("n"), col("s"), col("n1"), col("n2"),
          expr("""CAST(round(CAST(s AS DOUBLE)
                 | / sqrt((CAST(n * (n - 1) div 2 - n1 AS DOUBLE))
                 |        * (CAST(n * (n - 1) div 2 - n2 AS DOUBLE)))
                 | * 1000000) AS BIGINT)""".stripMargin).as("tau_micro"))
    }),

    "q_cpk" -> Query(
      """WITH g AS (SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sq, CAST(sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS BIGINT) AS sqq FROM lineitem GROUP BY 1) SELECT l_returnflag, n, CAST(round((45.0 - 5.0) / (6.0 * sqrt(CAST(n * sqq - sq * sq AS DOUBLE) / (CAST(n AS DOUBLE) * (n - 1)))) * 1000000) AS BIGINT) AS cp_micro, CAST(round(least(45.0 - CAST(sq AS DOUBLE) / n, CAST(sq AS DOUBLE) / n - 5.0) / (3.0 * sqrt(CAST(n * sqq - sq * sq AS DOUBLE) / (CAST(n AS DOUBLE) * (n - 1)))) * 1000000) AS BIGINT) AS cpk_micro FROM g""")((s, dir) => {
      // process capability Cp / Cpk per return flag against literal
      // quantity spec limits [5, 45] — the SPC read that complements
      // q_cusum's drift alarm: exact integer sums, sample σ, ONE double
      // formula micro-rounded. Cpk < 1 means the process breaches spec.
      T(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST(l_quantity AS BIGINT)")).as("sq"),
          sum(expr("CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)")).as("sqq"))
        .select(col("l_returnflag"), col("n"),
          expr("""CAST(round((45.0 - 5.0)
                 | / (6.0 * sqrt(CAST(n * sqq - sq * sq AS DOUBLE)
                 |               / (CAST(n AS DOUBLE) * (n - 1)))) * 1000000) AS BIGINT)"""
            .stripMargin).as("cp_micro"),
          expr("""CAST(round(least(45.0 - CAST(sq AS DOUBLE) / n,
                 |                 CAST(sq AS DOUBLE) / n - 5.0)
                 | / (3.0 * sqrt(CAST(n * sqq - sq * sq AS DOUBLE)
                 |               / (CAST(n AS DOUBLE) * (n - 1)))) * 1000000) AS BIGINT)"""
            .stripMargin).as("cpk_micro"))
    }),

    "q_emd" -> Query(
      """WITH bins AS (SELECT least(CAST(round(l_extendedprice * 100) AS BIGINT) // 1000000, 9) AS bin, CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS r, CAST(sum(CASE WHEN l_returnflag <> 'R' THEN 1 ELSE 0 END) AS BIGINT) AS k FROM lineitem GROUP BY 1), t AS (SELECT CAST(sum(r) AS BIGINT) AS tr, CAST(sum(k) AS BIGINT) AS tk FROM bins), c AS (SELECT bin, (r * 1000000) // tr AS sr, (k * 1000000) // tk AS sk FROM bins, t), cc AS (SELECT bin, sum(sr - sk) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_diff FROM c) SELECT CAST(count(*) AS BIGINT) AS n_bins, CAST(sum(abs(cum_diff)) AS BIGINT) AS emd_micro FROM cc""")((s, dir) => {
      // 1-D earth mover's distance between the returned and kept price
      // histograms: EMD₁ = Σ_bins |ΔCDF| over the bounded 10-bin domain
      // (per-bin micro shares first, cumulative over the bin panel —
      // whitelisted), the drift metric that, unlike PSI/KS, weights HOW
      // FAR mass moved.
      import org.apache.spark.sql.expressions.Window
      val bins = T(s, dir, "lineitem")
        .groupBy(expr("least(CAST(round(l_extendedprice * 100) AS BIGINT) div 1000000, 9)")
          .as("bin"))
        .agg(sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("r"),
          sum(when(col("l_returnflag") =!= "R", 1L).otherwise(0L)).as("k"))
        .localCheckpoint(true) // totals + panel
      val tot = bins.agg(sum("r").as("tr"), sum("k").as("tk"))
      val w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding,
        Window.currentRow)
      bins.crossJoin(broadcast(tot))
        .withColumn("sr", expr("(r * 1000000) div tr"))
        .withColumn("sk", expr("(k * 1000000) div tk"))
        .withColumn("cum_diff", sum(col("sr") - col("sk")).over(w))
        .agg(count(lit(1)).as("n_bins"),
          sum(abs(col("cum_diff"))).as("emd_micro"))
    }),

    "q_hhi" -> Query(
      """WITH rev AS (SELECT s_nationkey, s_suppkey, CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS rev FROM lineitem JOIN supplier ON l_suppkey = s_suppkey GROUP BY 1, 2), nat AS (SELECT s_nationkey, CAST(sum(rev) AS BIGINT) AS nrev FROM rev GROUP BY 1), sh AS (SELECT rev.s_nationkey, (rev.rev * 1000000) // nrev AS share_micro FROM rev JOIN nat USING (s_nationkey)), g AS (SELECT s_nationkey AS nationkey, CAST(count(*) AS BIGINT) AS n_suppliers, CAST(sum((share_micro * share_micro) // 1000000) AS BIGINT) AS hhi_micro, CAST(max(share_micro) AS BIGINT) AS top_share_micro FROM sh GROUP BY 1) SELECT nationkey, n_suppliers, hhi_micro, top_share_micro, hhi_micro > 250000 AS concentrated FROM g""")((s, dir) => {
      // Herfindahl-Hirschman supplier concentration per nation: shares
      // micro-rounded per supplier (order-free), HHI = Σ share² — the
      // antitrust metric next to q_gini/q_lorenz. Two cascaded keyed
      // aggs; > 250000 micro (0.25) is the usual "concentrated" bar.
      val rev = T(s, dir, "lineitem")
        .join(T(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_nationkey"), col("s_suppkey"))
        .agg(sum(expr("CAST(round(l_extendedprice * 100) AS BIGINT)")).as("rev"))
        .localCheckpoint(true) // nation totals + shares
      val nat = rev.groupBy("s_nationkey").agg(sum("rev").as("nrev"))
      rev.join(nat, "s_nationkey")
        .withColumn("share_micro", expr("(rev * 1000000) div nrev"))
        .groupBy(col("s_nationkey").as("nationkey"))
        .agg(count(lit(1)).as("n_suppliers"),
          sum(expr("(share_micro * share_micro) div 1000000")).as("hhi_micro"),
          max("share_micro").as("top_share_micro"))
        .withColumn("concentrated", col("hhi_micro") > 250000L)
    }),

    "q_relative_risk" -> Query(
      """WITH g AS (SELECT CAST(sum(CASE WHEN l_discount >= 0.05 AND l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS a, CAST(sum(CASE WHEN l_discount >= 0.05 AND l_returnflag <> 'R' THEN 1 ELSE 0 END) AS BIGINT) AS b, CAST(sum(CASE WHEN l_discount < 0.05 AND l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS c, CAST(sum(CASE WHEN l_discount < 0.05 AND l_returnflag <> 'R' THEN 1 ELSE 0 END) AS BIGINT) AS d FROM lineitem) SELECT a, b, c, d, CASE WHEN a > 0 AND b > 0 AND c > 0 AND d > 0 THEN CAST(round(CAST(a AS DOUBLE) / (a + b) / (CAST(c AS DOUBLE) / (c + d)) * 1000000) AS BIGINT) END AS rr_micro, CASE WHEN a > 0 AND b > 0 AND c > 0 AND d > 0 THEN CAST(round(CAST(a AS DOUBLE) * d / (CAST(b AS DOUBLE) * c) * 1000000) AS BIGINT) END AS or_micro, CASE WHEN a > 0 AND b > 0 AND c > 0 AND d > 0 THEN CAST(round(exp(ln(CAST(a AS DOUBLE) * d / (CAST(b AS DOUBLE) * c)) - 1.96 * sqrt(1.0/a + 1.0/b + 1.0/c + 1.0/d)) * 1000000) AS BIGINT) END AS or_lo_micro, CASE WHEN a > 0 AND b > 0 AND c > 0 AND d > 0 THEN CAST(round(exp(ln(CAST(a AS DOUBLE) * d / (CAST(b AS DOUBLE) * c)) + 1.96 * sqrt(1.0/a + 1.0/b + 1.0/c + 1.0/d)) * 1000000) AS BIGINT) END AS or_hi_micro FROM g""")((s, dir) => {
      // relative risk + odds ratio with log-normal 95% CIs for the
      // deep-discount → return 2×2: exact integer cells, the CI bounds
      // exp(ln OR ± 1.96·√(1/a+1/b+1/c+1/d)) micro-rounded once — the
      // epidemiology effect-size read next to q_chisq's significance.
      val g = T(s, dir, "lineitem")
        .agg(sum(when(expr("l_discount >= 0.05 AND l_returnflag = 'R'"), 1L)
            .otherwise(0L)).as("a"),
          sum(when(expr("l_discount >= 0.05 AND l_returnflag != 'R'"), 1L)
            .otherwise(0L)).as("b"),
          sum(when(expr("l_discount < 0.05 AND l_returnflag = 'R'"), 1L)
            .otherwise(0L)).as("c"),
          sum(when(expr("l_discount < 0.05 AND l_returnflag != 'R'"), 1L)
            .otherwise(0L)).as("d"))
      // zero-cell guard: any empty 2×2 cell makes RR/OR (and the log-CI)
      // undefined — both engines emit NULL for the four derived columns
      // instead of diverging (Spark NaN/NULL vs DuckDB inf/error)
      val ok = "a > 0 AND b > 0 AND c > 0 AND d > 0"
      g.select(col("a"), col("b"), col("c"), col("d"),
        expr(s"""CASE WHEN $ok THEN CAST(round(CAST(a AS DOUBLE) / (a + b)
               | / (CAST(c AS DOUBLE) / (c + d)) * 1000000) AS BIGINT) END""".stripMargin)
          .as("rr_micro"),
        expr(s"""CASE WHEN $ok THEN CAST(round(CAST(a AS DOUBLE) * d / (CAST(b AS DOUBLE) * c)
               | * 1000000) AS BIGINT) END""".stripMargin).as("or_micro"),
        expr(s"""CASE WHEN $ok THEN
               | CAST(round(exp(ln(CAST(a AS DOUBLE) * d / (CAST(b AS DOUBLE) * c))
               | - 1.96 * sqrt(1.0/a + 1.0/b + 1.0/c + 1.0/d)) * 1000000) AS BIGINT) END"""
          .stripMargin).as("or_lo_micro"),
        expr(s"""CASE WHEN $ok THEN
               | CAST(round(exp(ln(CAST(a AS DOUBLE) * d / (CAST(b AS DOUBLE) * c))
               | + 1.96 * sqrt(1.0/a + 1.0/b + 1.0/c + 1.0/d)) * 1000000) AS BIGINT) END"""
          .stripMargin).as("or_hi_micro"))
    }),

    "q_evt" -> Query(
      """WITH daily AS (SELECT l_shipdate AS d, CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS x FROM lineitem GROUP BY 1), mx AS (SELECT date_trunc('month', d) AS m, CAST(max(x) AS HUGEINT) AS mx FROM daily GROUP BY 1), g AS (SELECT CAST(count(*) AS BIGINT) AS n_blocks, sum(mx) AS sm, sum(mx * mx) AS smm FROM mx), f AS (SELECT n_blocks, sqrt(CAST(n_blocks * smm - sm * sm AS DOUBLE) / (CAST(n_blocks AS DOUBLE) * (n_blocks - 1))) * 0.7796968012336761 AS beta, CAST(sm AS DOUBLE) / n_blocks AS mean FROM g) SELECT n_blocks, CAST(round(mean - 0.5772156649015329 * beta) AS BIGINT) AS mu_c, CAST(round(beta) AS BIGINT) AS beta_c, CAST(round((mean - 0.5772156649015329 * beta) - beta * (-2.441716398881459)) AS BIGINT) AS rl12_c FROM f""")((s, dir) => {
      // extreme-value (Gumbel) fit on monthly block maxima of daily
      // revenue via method of moments: β = s√6/π, μ = m̄ − γβ (Euler γ
      // as a literal), and the 12-block return level μ − β·ln(−ln(1 −
      // 1/12)) — the tail-risk read behind capacity planning. Exact
      // integer block maxima; ONE double formula, micro-rounded.
      val maxima = T(s, dir, "lineitem")
        .groupBy(col("l_shipdate").as("d"))
        .agg(sum(expr("CAST(round(l_extendedprice * 100) AS BIGINT)")).as("x"))
        .groupBy(expr("date_trunc('month', d)").as("m"))
        .agg(max("x").as("mx"))
      maxima.agg(count(lit(1)).as("n_blocks"),
          sum(expr("CAST(mx AS DECIMAL(38,0))")).as("sm"),
          sum(expr("CAST(mx AS DECIMAL(38,0)) * mx")).as("smm"))
        .withColumn("beta", expr(
          """sqrt(CAST(n_blocks * smm - sm * sm AS DOUBLE)
             | / (CAST(n_blocks AS DOUBLE) * (n_blocks - 1)))
             | * 0.7796968012336761""".stripMargin)) // √6/π
        .withColumn("mu", expr(
          "CAST(sm AS DOUBLE) / n_blocks - 0.5772156649015329 * beta"))
        .select(col("n_blocks"),
          expr("CAST(round(mu) AS BIGINT)").as("mu_c"),
          expr("CAST(round(beta) AS BIGINT)").as("beta_c"),
          // −2.4417163988 = ln(−ln(11/12)) as a literal: Spark parses
          // 1.0/12.0 as DECIMAL(·,6) division (0.083333), not double
          expr("CAST(round(mu - beta * (-2.441716398881459)) AS BIGINT)")
            .as("rl12_c"))
    }),

    "q_mix_shift" -> Query(
      """WITH b AS (SELECT p_brand, CAST(sum(CASE WHEN year(l_shipdate) = 1997 THEN 1 ELSE 0 END) AS BIGINT) AS n0, CAST(sum(CASE WHEN year(l_shipdate) = 1997 AND l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS x0, CAST(sum(CASE WHEN year(l_shipdate) = 1998 THEN 1 ELSE 0 END) AS BIGINT) AS n1, CAST(sum(CASE WHEN year(l_shipdate) = 1998 AND l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS x1 FROM lineitem JOIN part ON l_partkey = p_partkey WHERE year(l_shipdate) IN (1997, 1998) GROUP BY 1), t AS (SELECT CAST(sum(n0) AS BIGINT) AS t0, CAST(sum(n1) AS BIGINT) AS t1 FROM b), sh AS (SELECT p_brand, (n0 * 1000000) // t0 AS w0_micro, (n1 * 1000000) // t1 AS w1_micro, CASE WHEN n0 = 0 THEN 0 ELSE (x0 * 1000000) // n0 END AS r0_micro, CASE WHEN n1 = 0 THEN 0 ELSE (x1 * 1000000) // n1 END AS r1_micro FROM b, t) SELECT p_brand, w0_micro, w1_micro, r0_micro, r1_micro, CAST(((w1_micro - w0_micro) * r0_micro) // 1000000 AS BIGINT) AS mix_term_micro, CAST((w1_micro * (r1_micro - r0_micro)) // 1000000 AS BIGINT) AS rate_term_micro FROM sh""")((s, dir) => {
      // mix/rate decomposition (Oaxaca-style) of the 1997→1998 return-
      // rate change by brand: Δ = Σ(w₁−w₀)·r₀ (mix effect: volume moved
      // toward different brands) + Σw₁·(r₁−r₀) (rate effect: brands
      // themselves changed). Shares and rates micro-rounded per brand
      // (order-free), per-term products ÷10⁶ — the "why did the metric
      // move" decomposition every KPI review wants.
      val b = T(s, dir, "lineitem")
        .filter(expr("year(l_shipdate) IN (1997, 1998)"))
        .join(T(s, dir, "part"), col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand")
        .agg(sum(when(expr("year(l_shipdate) = 1997"), 1L).otherwise(0L)).as("n0"),
          sum(when(expr("year(l_shipdate) = 1997 AND l_returnflag = 'R'"), 1L)
            .otherwise(0L)).as("x0"),
          sum(when(expr("year(l_shipdate) = 1998"), 1L).otherwise(0L)).as("n1"),
          sum(when(expr("year(l_shipdate) = 1998 AND l_returnflag = 'R'"), 1L)
            .otherwise(0L)).as("x1"))
        .localCheckpoint(true) // totals + panel
      val tot = b.agg(sum("n0").as("t0"), sum("n1").as("t1"))
      b.crossJoin(broadcast(tot))
        .select(col("p_brand"),
          expr("(n0 * 1000000) div t0").as("w0_micro"),
          expr("(n1 * 1000000) div t1").as("w1_micro"),
          expr("CASE WHEN n0 = 0 THEN 0 ELSE (x0 * 1000000) div n0 END").as("r0_micro"),
          expr("CASE WHEN n1 = 0 THEN 0 ELSE (x1 * 1000000) div n1 END").as("r1_micro"))
        .select(col("p_brand"), col("w0_micro"), col("w1_micro"),
          col("r0_micro"), col("r1_micro"),
          expr("((w1_micro - w0_micro) * r0_micro) div 1000000").as("mix_term_micro"),
          expr("(w1_micro * (r1_micro - r0_micro)) div 1000000").as("rate_term_micro"))
    })
  )

  /** q_corr: the one-pass moment CTE (HUGEINT sums of the same exact
    * integers) and the identical per-pair Pearson double tree.
    */
  private lazy val corrOracleSql: String = {
    val names = Seq("quantity", "price_c", "discount_bp", "tax_bp")
    val moments =
      (0 to 3).map(i => s"sum(v$i::HUGEINT) AS s$i") ++
      (0 to 3).map(i => s"sum(v$i::HUGEINT * v$i) AS q$i") ++
      (for { i <- 0 to 3; j <- i + 1 to 3 } yield s"sum(v$i::HUGEINT * v$j) AS p${i}_$j")
    val sel = (for { i <- 0 to 3; j <- i + 1 to 3 } yield
      s"""SELECT '${names(i)}' AS var_a, '${names(j)}' AS var_b, n,
         |  CASE WHEN n::HUGEINT * q$i - s$i * s$i = 0 OR n::HUGEINT * q$j - s$j * s$j = 0
         |  THEN CAST(NULL AS DOUBLE)
         |  ELSE CAST(n::HUGEINT * p${i}_$j - s$i * s$j AS DOUBLE)
         |  / (sqrt(CAST(n::HUGEINT * q$i - s$i * s$i AS DOUBLE))
         |     * sqrt(CAST(n::HUGEINT * q$j - s$j * s$j AS DOUBLE))) END AS r
         |FROM g""".stripMargin).mkString("\nUNION ALL\n")
    s"""WITH b AS (SELECT CAST(l_quantity AS BIGINT) AS v0,
       |    CAST(round(l_extendedprice * 100) AS BIGINT) AS v1,
       |    CAST(round(l_discount * 10000) AS BIGINT) AS v2,
       |    CAST(round(l_tax * 10000) AS BIGINT) AS v3 FROM lineitem),
       |g AS (SELECT CAST(count(*) AS BIGINT) AS n, ${moments.mkString(", ")} FROM b)
       |$sel""".stripMargin
  }
}
