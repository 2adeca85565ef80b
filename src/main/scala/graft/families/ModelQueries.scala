package graft
package families

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import Shared._

/** The q_ queries on regression, classifiers and model evaluation.
  * Each entry holds a query's DuckDB oracle SQL and its builder.
  */
object ModelQueries {

  val entries: Seq[(String, Query)] = Seq(
    "q_lift" -> Query(
      """WITH lp AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem), n AS (SELECT CAST(count(DISTINCT o) AS BIGINT) AS n_orders FROM lp), pairs AS (SELECT a.p AS p_a, b.p AS p_b, CAST(count(*) AS BIGINT) AS c_ab FROM lp a JOIN lp b ON a.o = b.o AND a.p < b.p GROUP BY 1, 2), sup AS (SELECT p AS pk, CAST(count(*) AS BIGINT) AS c FROM lp GROUP BY 1) SELECT pr.p_a, pr.p_b, pr.c_ab, CAST(round(ln(CAST(pr.c_ab * n.n_orders AS DOUBLE) / CAST(sa.c * sb.c AS DOUBLE)) * 1000000) AS BIGINT) AS lift_micro FROM pairs pr JOIN sup sa ON sa.pk = pr.p_a JOIN sup sb ON sb.pk = pr.p_b CROSS JOIN n WHERE pr.c_ab >= 3 AND pr.c_ab * n.n_orders > sa.c * sb.c ORDER BY lift_micro DESC, p_a, p_b LIMIT 50""")((s, dir) => {
      // market-basket association: top part pairs by lift (support ratio),
      // mirror of the PMI trick — integer lift>1 filter, micro-nat score
      val lp = T(s, dir, "lineitem")
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
      val n = lp.select(countDistinct(col("o")).as("n_orders"))
      val pairs = lp.as("a").join(lp.as("b"),
          col("a.o") === col("b.o") && col("a.p") < col("b.p"))
        .groupBy(col("a.p").as("p_a"), col("b.p").as("p_b"))
        .agg(count(lit(1)).as("c_ab"))
      val sup = lp.groupBy(col("p").as("pk")).agg(count(lit(1)).as("c"))
      pairs.filter(col("c_ab") >= 3)
        .join(sup.select(col("pk").as("p_a"), col("c").as("c_a")), "p_a")
        .join(sup.select(col("pk").as("p_b"), col("c").as("c_b")), "p_b")
        .crossJoin(broadcast(n))
        .filter(col("c_ab").cast("decimal(38,0)") * col("n_orders") >
          col("c_a").cast("decimal(38,0)") * col("c_b")) // lift > 1, exact
        .select(col("p_a"), col("p_b"), col("c_ab"),
          round(log((col("c_ab") * col("n_orders")).cast("double") /
            (col("c_a") * col("c_b")).cast("double")) * 1e6).cast("long").as("lift_micro"))
        .orderBy(col("lift_micro").desc, col("p_a"), col("p_b"))
        .limit(50)
    }),
    // q_influence: identical integer rationals through HUGEINT; top-5
    // via the same (|e_micro| desc, okey·8+line) ordering
    "q_influence" -> Query(
      """WITH st AS (SELECT l_returnflag AS flag, count(*)::HUGEINT AS n,
             sum(CAST(l_quantity AS BIGINT))::HUGEINT AS sx,
             sum(CAST(round(l_extendedprice * 100) AS BIGINT))::HUGEINT AS sy,
             sum(CAST(l_quantity AS BIGINT)::HUGEINT * CAST(l_quantity AS BIGINT)) AS sxx,
             sum(CAST(l_quantity AS BIGINT)::HUGEINT * CAST(round(l_extendedprice * 100) AS BIGINT)) AS sxy
           FROM lineitem GROUP BY 1),
         r AS (SELECT l.l_returnflag AS flag, l.l_orderkey, CAST(l.l_linenumber AS BIGINT) AS l_linenumber,
             CAST(l.l_quantity AS BIGINT) AS x, CAST(round(l.l_extendedprice * 100) AS BIGINT) AS y_c,
             s.n, s.sx, s.sy, s.sxx, s.sxy, greatest(s.n * s.sxx - s.sx * s.sx, 1::HUGEINT) AS d
           FROM lineitem l JOIN st s ON l.l_returnflag = s.flag),
         e AS (SELECT *, y_c::HUGEINT * d - (sy * sxx - sx * sxy) - (n * sxy - sx * sy) * x AS e_num,
             d + (n * x - sx) * (n * x - sx) AS h_num FROM r),
         m AS (SELECT flag, l_orderkey, l_linenumber, x, y_c,
             CAST(CASE WHEN e_num >= 0 THEN (e_num * 1000000) // d
                  ELSE -((-e_num * 1000000) // d) END AS BIGINT) AS e_micro,
             CAST((h_num * 1000000) // (n * d) AS BIGINT) AS h_micro FROM e),
         k AS (SELECT *, row_number() OVER (PARTITION BY flag
             ORDER BY abs(e_micro) DESC, l_orderkey * 8 + l_linenumber) AS rank FROM m)
         SELECT flag, CAST(rank AS BIGINT) AS rank, l_orderkey, l_linenumber, x, y_c, e_micro, h_micro
         FROM k WHERE rank <= 5""")((s, dir) => {
      // OLS influence diagnostics (leverage + residual — the pieces of
      // Cook's distance) for the per-flag regression price ~ quantity:
      // the outlier/label-noise audit a training pipeline runs before
      // trusting a fitted relation. EXACT integer route: with the group
      // Gram sums (n, Σx, Σy, Σx², Σxy) the residual numerator
      // e·D = y·D − (Sy·Sxx − Sx·Sxy) − (n·Sxy − Sx·Sy)·x and leverage
      // h = (D + (n·x − Sx)²)/(n·D) are integer rationals over
      // D = n·Sxx − Sx² — all DECIMAL(38,0) (HUGEINT oracle), micro-
      // fixed-pointed with the |numerator|-with-sign division. Top-5
      // per group by |e_micro| ride the bounded-heap TopKAgg (≤5 rows
      // per key cross the wire, never the table).
      // fanOut: the per-row DECIMAL(38,0) residual/leverage arithmetic
      // below runs on BigDecimal (no int128 fast path) — CPU-dense work
      // that ran inside the near-single-task scan stage (r12 ProbeJobs:
      // 3.6 s of task time through 3 tasks)
      val li = ext.Par.fanOut(T(s, dir, "lineitem").select(col("l_returnflag").as("flag"),
        col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
        col("l_quantity").cast("long").as("x"),
        round(col("l_extendedprice") * 100).cast("long").as("y_c")))
      val st = li.groupBy("flag").agg(
        count(lit(1)).as("n"), sum("x").as("sx"), sum("y_c").as("sy"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sxx"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * y_c")).as("sxy"))
      li.join(broadcast(st), "flag")
        // greatest(D, 1): a constant-x group would zero D; keep the
        // division total (both engines share the guard)
        .withColumn("d", expr(
          "greatest(CAST(n AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx, CAST(1 AS DECIMAL(38,0)))"))
        .withColumn("e_num", expr("""CAST(y_c AS DECIMAL(38,0)) * d
             - (CAST(sy AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sxy)
             - (CAST(n AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sy) * x"""))
        .withColumn("h_num", expr("""d + (CAST(n AS DECIMAL(38,0)) * x - sx)
             * (CAST(n AS DECIMAL(38,0)) * x - sx)"""))
        .withColumn("e_micro", expr("""CAST(CASE WHEN e_num >= 0
             THEN (e_num * 1000000) div d
             ELSE -((-e_num * 1000000) div d) END AS BIGINT)"""))
        .withColumn("h_micro", expr(
          "CAST((h_num * 1000000) div (CAST(n AS DECIMAL(38,0)) * d) AS BIGINT)"))
        .groupBy("flag")
        .agg(graft.functions.TopKAgg.topK(5,
          abs(col("e_micro")).cast("double"),
          (col("l_orderkey") * 8 + col("l_linenumber")).cast("double"),
          struct(col("l_orderkey"), col("l_linenumber"), col("x"), col("y_c"),
            col("e_micro"), col("h_micro"))).as("top"))
        .select(col("flag"), posexplode(col("top")))
        .select(col("flag"), (col("pos") + 1).cast("long").as("rank"),
          col("col.l_orderkey").as("l_orderkey"),
          col("col.l_linenumber").as("l_linenumber"),
          col("col.x").as("x"), col("col.y_c").as("y_c"),
          col("col.e_micro").as("e_micro"), col("col.h_micro").as("h_micro"))
    }),

    "q_ols" -> Query(olsOracleSql)((s, dir) => {
      // one-pass distributed least squares: the SAME integer Gram
      // aggregate that powers PCA (functions.GramAgg — d(d+1)/2+d+1 longs
      // per partition, elementwise-sum merge) accumulates X^TX | X^Ty |
      // y^Ty for [1, qty, disc_pct, price_dollars]; the driver solves the
      // 3×3 normal equations by Cramer's rule — d² work, independent of
      // n. Integer quantization makes the Gram ENGINE-EXACT; the double
      // Cramer arithmetic is written in the identical operation order in
      // the oracle, so the coefficients are bit-identical. Overflow
      // margin: Σ price² ≈ 1.2e10·n — safe through n ≈ 7e8 rows per the
      // BIGINT budget; beyond that, pre-aggregate per shard or widen the
      // buffer to DECIMAL.
      val li = T(s, dir, "lineitem")
      val vec = array(lit(1L), col("l_quantity").cast("long"),
        round(col("l_discount") * 100).cast("long"),
        round(col("l_extendedprice")).cast("long"))
      val g = li.agg(graft.functions.GramAgg.gram(vec, 4).as("g"))
        .head().getSeq[Long](0)
      // upper-tri row-major for d=4: (0,0)..(0,3),(1,1)..(1,3),(2,2),(2,3),(3,3)
      val a00 = g(0).toDouble; val a01 = g(1).toDouble; val a02 = g(2).toDouble
      val b0 = g(3).toDouble
      val a11 = g(4).toDouble; val a12 = g(5).toDouble; val b1 = g(6).toDouble
      val a22 = g(7).toDouble; val b2 = g(8).toDouble
      val n = g(14)
      val det = a00 * (a11 * a22 - a12 * a12) - a01 * (a01 * a22 - a12 * a02) +
        a02 * (a01 * a12 - a11 * a02)
      val beta0 = (b0 * (a11 * a22 - a12 * a12) - a01 * (b1 * a22 - a12 * b2) +
        a02 * (b1 * a12 - a11 * b2)) / det
      val beta1 = (a00 * (b1 * a22 - a12 * b2) - b0 * (a01 * a22 - a12 * a02) +
        a02 * (a01 * b2 - b1 * a02)) / det
      val beta2 = (a00 * (a11 * b2 - a12 * b1) - a01 * (a01 * b2 - b1 * a02) +
        b0 * (a01 * a12 - a11 * a02)) / det
      import s.implicits._
      Seq((beta0, beta1, beta2, n)).toDF("beta0", "beta1", "beta2", "n")
    }),

    "q_ridge" -> Query(ridgeOracleSql)((s, dir) => {
      // ridge regression (L2-regularized least squares) from the SAME
      // one-pass integer Gram aggregate as q_ols: λ is added to the
      // non-intercept diagonal of the normal equations on the driver —
      // zero extra distributed work, d² driver arithmetic. λ = 10⁶
      // (exactly representable) shrinks β₁/β₂ visibly vs q_ols. The
      // oracle repeats the identical double expression tree, so the
      // coefficients are bit-identical.
      val li = T(s, dir, "lineitem")
      val vec = array(lit(1L), col("l_quantity").cast("long"),
        round(col("l_discount") * 100).cast("long"),
        round(col("l_extendedprice")).cast("long"))
      val g = li.agg(graft.functions.GramAgg.gram(vec, 4).as("g"))
        .head().getSeq[Long](0)
      val lam = 1e6
      val a00 = g(0).toDouble; val a01 = g(1).toDouble; val a02 = g(2).toDouble
      val b0 = g(3).toDouble
      val a11 = g(4).toDouble + lam; val a12 = g(5).toDouble; val b1 = g(6).toDouble
      val a22 = g(7).toDouble + lam; val b2 = g(8).toDouble
      val n = g(14)
      val det = a00 * (a11 * a22 - a12 * a12) - a01 * (a01 * a22 - a12 * a02) +
        a02 * (a01 * a12 - a11 * a02)
      val beta0 = (b0 * (a11 * a22 - a12 * a12) - a01 * (b1 * a22 - a12 * b2) +
        a02 * (b1 * a12 - a11 * b2)) / det
      val beta1 = (a00 * (b1 * a22 - a12 * b2) - b0 * (a01 * a22 - a12 * a02) +
        a02 * (a01 * b2 - b1 * a02)) / det
      val beta2 = (a00 * (a11 * b2 - a12 * b1) - a01 * (a01 * b2 - b1 * a02) +
        b0 * (a01 * a12 - a11 * a02)) / det
      import s.implicits._
      Seq((beta0, beta1, beta2, n)).toDF("beta0", "beta1", "beta2", "n")
    }),

    "q_logreg" -> Query(logregOracleSql)((s, dir) => {
      // distributed logistic regression: 8 unrolled full-batch gradient
      // steps predicting order status 'F' from (order year, price).
      // The sigmoid is the rational "fast sigmoid" 0.5 + z/(2(1+|z|)) —
      // only +,×,÷,|·| — so every per-row double is an identical IEEE
      // operation tree in both engines (no libm exp to diverge by an
      // ulp), and each step's gradient is accumulated as EXACT micro-
      // scaled integers (order-free sum). Per step: ONE mergeable
      // aggregate over the data; the 3-weight update runs on the driver
      // (work bounded by model size, the ev_markov/k-means pattern).
      val base = T(s, dir, "orders").select(
          when(col("o_orderstatus") === "F", lit(1.0d)).otherwise(lit(0.0d)).as("y"),
          (year(col("o_orderdate").cast("date")) - lit(1995)).cast("double").as("x1"),
          (round(col("o_totalprice") * 100).cast("long").cast("double") / lit(1.0e7)).as("x2"))
        .localCheckpoint(true)
      val n = base.count()
      val nD = n.toDouble
      var w = Array(0.0, 0.0, 0.0)
      def z = lit(w(0)) + lit(w(1)) * col("x1") + lit(w(2)) * col("x2")
      def sig = lit(0.5) + z / (lit(2.0) * (lit(1.0) + abs(z)))
      var step = 0
      while (step < 8) {
        val err = sig - col("y")
        val r = base.agg(
          sum(round(err * lit(1.0e6)).cast("long")).as("g0"),
          sum(round(err * col("x1") * lit(1.0e6)).cast("long")).as("g1"),
          sum(round(err * col("x2") * lit(1.0e6)).cast("long")).as("g2")).collect()(0)
        w = Array(
          w(0) - 0.5 * ((r.getLong(0).toDouble / 1.0e6) / nD),
          w(1) - 0.5 * ((r.getLong(1).toDouble / 1.0e6) / nD),
          w(2) - 0.5 * ((r.getLong(2).toDouble / 1.0e6) / nD))
        step += 1
      }
      base.agg(count(lit(1)).as("n"),
          sum(when((sig >= lit(0.5)) === (col("y") === lit(1.0)), lit(1L))
            .otherwise(lit(0L))).as("n_correct"))
        .select(lit(w(0)).as("w0"), lit(w(1)).as("w1"), lit(w(2)).as("w2"),
          col("n"), col("n_correct"))
    }),
    // q_stump: the same histogram → cumulative Gini scan in SQL; the
    // best flag replays the (g, feature, threshold) struct-min as a
    // row_number over the ≤ ~27 candidates
    "q_stump" -> Query(
      """WITH base AS (SELECT CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y,
                  CAST(year(CAST(o_orderdate AS DATE)) AS BIGINT) AS bin_year,
                  least(CAST(round(o_totalprice * 100) AS BIGINT) // 3000000, 19) AS bin_price
                FROM orders),
         f AS (SELECT 'year' AS feature, bin_year AS bin, y FROM base
               UNION ALL SELECT 'price', bin_price, y FROM base),
         hist AS (SELECT feature, bin, CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS pos FROM f GROUP BY 1, 2),
         cum AS (SELECT feature, bin,
                   CAST(sum(n) OVER (PARTITION BY feature ORDER BY bin) AS BIGINT) AS n_left,
                   CAST(sum(pos) OVER (PARTITION BY feature ORDER BY bin) AS BIGINT) AS pos_left
                 FROM hist),
         tot AS (SELECT feature, CAST(sum(n) AS BIGINT) AS n_tot, CAST(sum(pos) AS BIGINT) AS pos_tot FROM hist GROUP BY 1),
         cand AS (SELECT cum.feature, bin AS threshold, n_left, pos_left,
                    n_tot - n_left AS n_right, pos_tot - pos_left AS pos_right
                  FROM cum JOIN tot ON cum.feature = tot.feature WHERE n_left < n_tot),
         sc AS (SELECT *,
                  CAST((2::HUGEINT * pos_left * (n_left - pos_left) * 1000000) // n_left AS BIGINT)
                  + CAST((2::HUGEINT * pos_right * (n_right - pos_right) * 1000000) // n_right AS BIGINT)
                  AS g_micro FROM cand)
         SELECT feature, threshold, n_left, pos_left, n_right, pos_right, g_micro,
           row_number() OVER (ORDER BY g_micro, feature, threshold) = 1 AS is_best
         FROM sc""")((s, dir) => {
      // histogram decision stump — the split-search kernel of
      // distributed tree ensembles (XGBoost/LightGBM hist mode):
      // binned features → ONE bounded (feature × bin) count aggregate
      // → exact integer Gini scan over cumulative bins. y =
      // (o_orderstatus = 'F'); features: order year and a 20-bin
      // fixed-width price binning. Weighted Gini × N reduces to
      // 2·posL·negL/nL + 2·posR·negR/nR — presented micro-scaled via
      // nonnegative integral division; the argmin tie-break
      // (g, feature, threshold) is one broadcast 1-row struct-min.
      // After the scan everything operates on ≤ ~27 histogram cells;
      // the windows partition by feature over ≤ 20-row frames.
      // Candidate generation is the shared stumpCandidates kernel.
      val base = T(s, dir, "orders").select(
        when(col("o_orderstatus") === "F", lit(1L)).otherwise(lit(0L)).as("y"),
        year(col("o_orderdate").cast("date")).cast("long").as("bin_year"),
        expr("least(CAST(round(o_totalprice * 100) AS BIGINT) div 3000000, 19)")
          .as("bin_price"))
      val cand = stumpCandidates(base)
      val best = cand.agg(min(struct(col("g_micro"), col("feature"), col("threshold"))).as("b"))
      cand.crossJoin(broadcast(best))
        .withColumn("is_best", col("g_micro") === col("b.g_micro") &&
          col("feature") === col("b.feature") && col("threshold") === col("b.threshold"))
        .drop("b")
    }),

    "q_declist" -> Query(declistOracleSql)((s, dir) => {
      // two-stage decision list: the q_stump histogram split-search,
      // then a SECOND stump trained only on the first stage's
      // misclassified rows — the residual-refit kernel of boosting.
      // Each stage is one bounded histogram aggregate; the learned
      // 1-row model crosses stages via a driver collect (work bounded
      // by model size — the k-means/ev_markov pattern). Per-side
      // predictions are integer majorities; every accuracy count is
      // exact and derived from the same histogram.
      val base = T(s, dir, "orders").select(
        when(col("o_orderstatus") === "F", lit(1L)).otherwise(lit(0L)).as("y"),
        year(col("o_orderdate").cast("date")).cast("long").as("bin_year"),
        expr("least(CAST(round(o_totalprice * 100) AS BIGINT) div 3000000, 19)")
          .as("bin_price")).localCheckpoint(true)
      def bestStump(df: DataFrame): Option[org.apache.spark.sql.Row] =
        stumpCandidates(df)
          .orderBy(col("g_micro"), col("feature"), col("threshold")).limit(1)
          .collect().headOption
      def stageRow(r: org.apache.spark.sql.Row, stage: Int): DataFrame = {
        val (nl, pl) = (r.getAs[Long]("n_left"), r.getAs[Long]("pos_left"))
        val (nr, pr) = (r.getAs[Long]("n_right"), r.getAs[Long]("pos_right"))
        val predL = if (2 * pl > nl) 1L else 0L
        val predR = if (2 * pr > nr) 1L else 0L
        val correct = (if (predL == 1L) pl else nl - pl) + (if (predR == 1L) pr else nr - pr)
        s.range(1).select(lit(stage.toLong).as("stage"),
          lit(r.getAs[String]("feature")).as("feature"),
          lit(r.getAs[Long]("threshold")).as("threshold"),
          lit(predL).as("pred_left"), lit(predR).as("pred_right"),
          lit(nl + nr).as("n_train"), lit(correct).as("n_correct"))
      }
      val s1 = bestStump(base).get
      val feat1 = col(if (s1.getAs[String]("feature") == "year") "bin_year" else "bin_price")
      val predL1 = if (2 * s1.getAs[Long]("pos_left") > s1.getAs[Long]("n_left")) 1L else 0L
      val predR1 = if (2 * s1.getAs[Long]("pos_right") > s1.getAs[Long]("n_right")) 1L else 0L
      val pred1 = when(feat1 <= s1.getAs[Long]("threshold"), lit(predL1)).otherwise(lit(predR1))
      val errors = base.filter(col("y") =!= pred1)
      val out1 = stageRow(s1, 1)
      bestStump(errors) match {
        case Some(s2) => out1.unionByName(stageRow(s2, 2))
        case None => out1
      }
    }),
    // q_gini: same exact ranks and HUGEINT Lorenz sums
    "q_gini" -> Query(
      """WITH spend AS (SELECT o_custkey, CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS x FROM orders GROUP BY 1),
         rk AS (SELECT x, CAST(row_number() OVER (ORDER BY x, o_custkey) AS BIGINT) AS rn FROM spend),
         g AS (SELECT CAST(count(*) AS BIGINT) AS n, sum(x::HUGEINT) AS sx, sum(rn::HUGEINT * x) AS srx FROM rk)
         SELECT n, CAST(sx AS BIGINT) AS sum_spend_c,
           CASE WHEN sx = 0 THEN CAST(NULL AS BIGINT)
           ELSE CAST(((2::HUGEINT * srx - (n::HUGEINT + 1) * sx) * 1000000) // (n::HUGEINT * sx) AS BIGINT) END AS gini_micro
         FROM g""")((s, dir) => {
      // Gini coefficient of customer spend concentration (Lorenz-curve
      // inequality): G = (2·Σ rn·x − (n+1)·Σx) / (n·Σx) over per-
      // customer spend ranked ascending — exact decimal sums over exact
      // ranks (ext.Ranks again), one nonnegative micro-scaled integral
      // division. The whale-detection statistic for spend, tokens, or
      // storage per tenant.
      val spend = T(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("x"))
      val ranked = ext.Ranks.groupedRank(
        spend.withColumn("__grp__", lit(0)), "__grp__",
        Seq(col("x"), col("o_custkey")), "rn")
      ranked.agg(count(lit(1)).as("n"),
          sum(col("x").cast("decimal(18,0)")).cast("decimal(38,0)").as("sx"),
          sum(col("rn").cast("decimal(18,0)") * col("x").cast("decimal(18,0)"))
            .cast("decimal(38,0)").as("srx"))
        .select(col("n"), col("sx").cast("long").as("sum_spend_c"),
          expr("""CASE WHEN sx = 0 THEN CAST(NULL AS BIGINT)
                  ELSE CAST(((2 * srx - (CAST(n AS DECIMAL(18,0)) + 1) * sx) * 1000000)
                  div (CAST(n AS DECIMAL(18,0)) * sx) AS BIGINT) END""").as("gini_micro"))
    }),

    "q_auc" -> Query(
      """WITH pu AS (SELECT user_id, CAST(ts AS DATE) AS day,
           CAST(sum(CASE WHEN event_type IN ('view','click') THEN 1 ELSE 0 END) AS BIGINT) AS score,
           CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS label
         FROM events GROUP BY 1, 2),
         bs AS (SELECT score, CAST(sum(label) AS BIGINT) AS pos, CAST(sum(1 - label) AS BIGINT) AS neg FROM pu GROUP BY 1),
         c AS (SELECT pos, neg, coalesce(sum(neg) OVER (ORDER BY score ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS neg_below FROM bs),
         a AS (SELECT CAST(sum(pos) AS BIGINT) AS p, CAST(sum(neg) AS BIGINT) AS n,
                      CAST(sum(neg_below * pos * 2 + pos * neg) AS BIGINT) AS u2 FROM c)
         SELECT p AS n_pos, n AS n_neg, u2 AS u_doubled,
           CASE WHEN p = 0 OR n = 0 THEN CAST(NULL AS BIGINT)
           ELSE CAST((u2 * 1000000) // (2 * p * n) AS BIGINT) END AS auc_micro
         FROM a""")((s, dir) => {
      // ROC AUC as the tie-aware Mann–Whitney rank-sum — the distributed
      // classifier-eval primitive (does same-day engagement rank
      // purchase propensity? units are user-days, so both classes exist
      // at every fixture): AUC·2PN = Σ_scores (2·negBelow·pos + pos·neg),
      // computed from per-score COUNTS, never a global row sort — the
      // score domain (events per user-day) is a BOUNDED integer, so the one
      // cumulative window runs over the ≤O(max_score) distinct-score
      // table, not the user frame (the q_chisq bounded-contingency
      // doctrine). Doubling the numerator keeps tie credit (pos·neg/2)
      // integral; auc_micro is one integral division with the identical
      // tree in the oracle.
      val perUnit = events(s, dir)
        .groupBy(col("user_id"), to_date(col("ts")).as("day")).agg(
          sum(when(col("event_type").isin("view", "click"), 1L).otherwise(0L)).as("score"),
          max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("label"))
      val byScore = perUnit.groupBy("score").agg(
        sum(col("label")).as("pos"),
        sum(lit(1L) - col("label")).as("neg"))
      val w = org.apache.spark.sql.expressions.Window.orderBy("score")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      val cum = byScore.withColumn("neg_below", coalesce(sum("neg").over(w), lit(0L)))
      cum.agg(sum(col("pos")).as("p"), sum(col("neg")).as("n"),
          sum(col("neg_below") * col("pos") * 2 + col("pos") * col("neg")).as("u2"))
        .select(col("p").as("n_pos"), col("n").as("n_neg"), col("u2").as("u_doubled"),
          expr("""CASE WHEN p = 0 OR n = 0 THEN CAST(NULL AS BIGINT)
                  ELSE CAST((u2 * 1000000) div (2 * p * n) AS BIGINT) END""").as("auc_micro"))
    }),
    // q_auc: identical per-score counts, exclusive cumulative, doubled
    // Mann–Whitney numerator, one integral division
    // q_auc_delong: the same score histogram with both prefix sums;
    // structural-component sums of squares through HUGEINT, then the
    // identical double chain (aucd → s10/s01 → se → CI).
    "q_auc_delong" -> Query(
      """WITH pu AS (SELECT user_id, CAST(ts AS DATE) AS day, CAST(sum(CASE WHEN event_type IN ('view','click') THEN 1 ELSE 0 END) AS BIGINT) AS score, CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS label FROM events GROUP BY 1, 2), bs AS (SELECT score, CAST(sum(label) AS BIGINT) AS pos, CAST(sum(1 - label) AS BIGINT) AS neg FROM pu GROUP BY 1), c AS (SELECT score, pos, neg, CAST(coalesce(sum(neg) OVER (ORDER BY score ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS neg_below, CAST(coalesce(sum(pos) OVER (ORDER BY score ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS pos_below, CAST(sum(pos) OVER () AS BIGINT) AS tp FROM bs), g AS (SELECT CAST(sum(pos) AS BIGINT) AS n1, CAST(sum(neg) AS BIGINT) AS n0, CAST(sum(pos * (2 * neg_below + neg)) AS BIGINT) AS u2, sum(CAST(pos AS HUGEINT) * (2 * neg_below + neg) * (2 * neg_below + neg)) AS q1, sum(CAST(neg AS HUGEINT) * (2 * (tp - pos_below - pos) + pos) * (2 * (tp - pos_below - pos) + pos)) AS q0 FROM c), a AS (SELECT *, CAST(u2 AS DOUBLE) / (2.0 * CAST(n1 AS DOUBLE) * CAST(n0 AS DOUBLE)) AS aucd FROM g), v AS (SELECT *, (CAST(q1 AS DOUBLE) / (4.0 * CAST(n0 AS DOUBLE) * CAST(n0 AS DOUBLE)) - CAST(n1 AS DOUBLE) * aucd * aucd) / (CAST(n1 AS DOUBLE) - 1.0) AS s10, (CAST(q0 AS DOUBLE) / (4.0 * CAST(n1 AS DOUBLE) * CAST(n1 AS DOUBLE)) - CAST(n0 AS DOUBLE) * aucd * aucd) / (CAST(n0 AS DOUBLE) - 1.0) AS s01 FROM a), e AS (SELECT *, sqrt(s10 / CAST(n1 AS DOUBLE) + s01 / CAST(n0 AS DOUBLE)) AS se FROM v) SELECT n1 AS n_pos, n0 AS n_neg, CASE WHEN n1 = 0 OR n0 = 0 THEN CAST(NULL AS BIGINT) ELSE CAST((u2 * 1000000) // (2 * n1 * n0) AS BIGINT) END AS auc_micro, CASE WHEN n1 < 2 OR n0 < 2 THEN CAST(NULL AS BIGINT) ELSE CAST(round(se * 1000000) AS BIGINT) END AS se_micro, CASE WHEN n1 < 2 OR n0 < 2 THEN CAST(NULL AS BIGINT) ELSE CAST(round((aucd - 1.96 * se) * 1000000) AS BIGINT) END AS lo_micro, CASE WHEN n1 < 2 OR n0 < 2 THEN CAST(NULL AS BIGINT) ELSE CAST(round((aucd + 1.96 * se) * 1000000) AS BIGINT) END AS hi_micro FROM e""")((s, dir) => {
      // DeLong variance + Wald CI for q_auc's Mann–Whitney AUC: the
      // structural components V10 (per positive) and V01 (per negative)
      // depend ONLY on the unit's score, so on the bounded score domain
      // both collapse onto the per-score histogram — V10d(s) =
      // 2·negBelow + negAt in half-units, V01d(t) = 2·posAbove + posAt —
      // and the component variances are exact-integer weighted sums of
      // squares over the ≤O(max_score) score table (DECIMAL/HUGEINT so
      // the squares never wrap). No per-unit pass beyond q_auc's own
      // aggregation; float work is one mirrored expression chain at the
      // end. The CI every AUC point estimate should ship with.
      import org.apache.spark.sql.expressions.Window
      val perUnit = events(s, dir)
        .groupBy(col("user_id"), to_date(col("ts")).as("day")).agg(
          sum(when(col("event_type").isin("view", "click"), 1L).otherwise(0L)).as("score"),
          max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("label"))
      val byScore = perUnit.groupBy("score").agg(
        sum(col("label")).as("pos"), sum(lit(1L) - col("label")).as("neg"))
      val w = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, -1)
      val cum = byScore
        .withColumn("neg_below", coalesce(sum("neg").over(w), lit(0L)))
        .withColumn("pos_below", coalesce(sum("pos").over(w), lit(0L)))
        .withColumn("tp", sum("pos").over(Window.partitionBy()))
      val g = cum.agg(
        sum("pos").as("n1"), sum("neg").as("n0"),
        sum(expr("pos * (2 * neg_below + neg)")).as("u2"),
        sum(expr("CAST(pos AS DECIMAL(38,0)) * (2 * neg_below + neg) * (2 * neg_below + neg)")).as("q1"),
        sum(expr("CAST(neg AS DECIMAL(38,0)) * (2 * (tp - pos_below - pos) + pos) * (2 * (tp - pos_below - pos) + pos)")).as("q0"))
      g.withColumn("aucd",
          expr("CAST(u2 AS DOUBLE) / (2.0 * CAST(n1 AS DOUBLE) * CAST(n0 AS DOUBLE))"))
        .withColumn("s10",
          expr("""(CAST(q1 AS DOUBLE) / (4.0 * CAST(n0 AS DOUBLE) * CAST(n0 AS DOUBLE))
                 - CAST(n1 AS DOUBLE) * aucd * aucd) / (CAST(n1 AS DOUBLE) - 1.0)"""))
        .withColumn("s01",
          expr("""(CAST(q0 AS DOUBLE) / (4.0 * CAST(n1 AS DOUBLE) * CAST(n1 AS DOUBLE))
                 - CAST(n0 AS DOUBLE) * aucd * aucd) / (CAST(n0 AS DOUBLE) - 1.0)"""))
        .withColumn("se", expr("sqrt(s10 / CAST(n1 AS DOUBLE) + s01 / CAST(n0 AS DOUBLE))"))
        .select(col("n1").as("n_pos"), col("n0").as("n_neg"),
          expr("""CASE WHEN n1 = 0 OR n0 = 0 THEN CAST(NULL AS BIGINT)
                  ELSE CAST((u2 * 1000000) div (2 * n1 * n0) AS BIGINT) END""").as("auc_micro"),
          expr("""CASE WHEN n1 < 2 OR n0 < 2 THEN CAST(NULL AS BIGINT)
                  ELSE CAST(round(se * 1000000) AS BIGINT) END""").as("se_micro"),
          expr("""CASE WHEN n1 < 2 OR n0 < 2 THEN CAST(NULL AS BIGINT)
                  ELSE CAST(round((aucd - 1.96 * se) * 1000000) AS BIGINT) END""").as("lo_micro"),
          expr("""CASE WHEN n1 < 2 OR n0 < 2 THEN CAST(NULL AS BIGINT)
                  ELSE CAST(round((aucd + 1.96 * se) * 1000000) AS BIGINT) END""").as("hi_micro"))
    }),

    "q_grouped_ols" -> Query(
      """WITH li AS (SELECT p_brand, CAST(l_quantity AS HUGEINT) AS x, CAST(round(l_extendedprice * 100) AS HUGEINT) AS y FROM lineitem JOIN part ON l_partkey = p_partkey), g AS (SELECT p_brand, CAST(count(*) AS HUGEINT) AS n, sum(x) AS sx, sum(y) AS sy, sum(x * x) AS sxx, sum(x * y) AS sxy FROM li GROUP BY 1) SELECT p_brand, CAST(n AS BIGINT) AS n, CAST(sx AS BIGINT) AS sx, CAST(sy AS BIGINT) AS sy, CAST(((n * sxy - sx * sy) * 1000000) // (n * sxx - sx * sx) AS BIGINT) AS slope_micro, CAST((sy * 1000000 - ((n * sxy - sx * sy) * 1000000) // (n * sxx - sx * sx) * sx) // n AS BIGINT) AS icept_micro FROM g""")((s, dir) => {
      // per-group least squares — the billions-of-groups regression: one
      // hash aggregation of DECIMAL(38) Gram sums per brand, slope and
      // intercept as exact integral divisions (micro units). No window,
      // no driver solve, no per-group iteration: the massively-grouped
      // sibling of q_ols (whose single global model collects d² sums).
      val li = T(s, dir, "lineitem").join(
        T(s, dir, "part").select(col("p_partkey"), col("p_brand")),
        col("l_partkey") === col("p_partkey"))
        .select(col("p_brand"),
          col("l_quantity").cast("decimal(38,0)").as("x"),
          round(col("l_extendedprice") * 100).cast("decimal(38,0)").as("y"))
      li.groupBy("p_brand")
        .agg(count(lit(1)).cast("decimal(38,0)").as("n"),
          sum("x").as("sx"), sum("y").as("sy"),
          sum(expr("x * x")).as("sxx"), sum(expr("x * y")).as("sxy"))
        .select(col("p_brand"), col("n").cast("long").as("n"),
          col("sx").cast("long").as("sx"), col("sy").cast("long").as("sy"),
          expr("CAST(((n * sxy - sx * sy) * 1000000) div (n * sxx - sx * sx) AS BIGINT)")
            .as("slope_micro"),
          expr("""CAST((sy * 1000000 - ((n * sxy - sx * sy) * 1000000)
                 div (n * sxx - sx * sx) * sx) div n AS BIGINT)""").as("icept_micro"))
    }),

    "q_pr_curve" -> Query(
      """WITH ps AS (SELECT CAST(l_quantity AS BIGINT) AS threshold, CAST(count(*) AS BIGINT) AS n, CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS p FROM lineitem GROUP BY 1), c AS (SELECT threshold, sum(p) OVER w AS tp, sum(n) OVER w - sum(p) OVER w AS fp, sum(p) OVER () AS p_tot FROM ps WINDOW w AS (ORDER BY threshold DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) SELECT threshold, CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp, CAST((tp * 1000000) // (tp + fp) AS BIGINT) AS precision_micro, CAST((tp * 1000000) // p_tot AS BIGINT) AS recall_micro FROM c""")((s, dir) => {
      // precision–recall curve: quantity as the score ranking, returnflag
      // 'R' as the positive class. Raw rows collapse to ≤50 per-score
      // counts FIRST (map-side combined hash agg); the cumulative TP/FP
      // window then runs over the bounded score domain only — the curve
      // is never a sort of the raw frame.
      import org.apache.spark.sql.expressions.Window
      val perScore = T(s, dir, "lineitem")
        .select(col("l_quantity").cast("long").as("threshold"),
          when(col("l_returnflag") === "R", 1L).otherwise(0L).as("pos"))
        .groupBy("threshold")
        .agg(count(lit(1)).as("n"), sum("pos").as("p"))
      val w = Window.orderBy(col("threshold").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      perScore
        .select(col("threshold"),
          sum("p").over(w).as("tp"),
          (sum("n").over(w) - sum("p").over(w)).as("fp"),
          sum("p").over(Window.partitionBy()).as("p_tot"))
        .select(col("threshold"), col("tp"), col("fp"),
          expr("(tp * 1000000) div (tp + fp)").as("precision_micro"),
          expr("(tp * 1000000) div p_tot").as("recall_micro"))
    }),

    "q_power" -> Query(
      """WITH x AS (SELECT CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS HUGEINT) AS xs FROM orders GROUP BY o_custkey), g AS (SELECT CAST(count(*) AS HUGEINT) AS n, sum(xs) AS s, sum(xs * xs) AS ss FROM x), d(delta_c) AS (VALUES (100), (500), (1000)) SELECT CAST(delta_c AS BIGINT) AS delta_c, CAST(n AS BIGINT) AS n_customers, CAST((2 * 7848886 * (n * ss - s * s) + (1000000 * CAST(delta_c AS HUGEINT) * delta_c * n * (n - 1)) - 1) // (1000000 * CAST(delta_c AS HUGEINT) * delta_c * n * (n - 1)) AS BIGINT) AS n_required FROM g, d""")((s, dir) => {
      // A/B sample-size planner: per-arm n for 80 % power at α = 5 %
      // (two-sided) against minimum detectable effects of 1/5/10 dollars
      // on per-customer spend. (z_{0.975}+z_{0.8})² is the literal
      // 7 848 886 micro shared with the oracle; the variance enters as
      // its exact integer numerator/denominator so the whole plan is one
      // Gram aggregate and a 3-row literal cross join — the planning
      // table read before launching an experiment (ev_did / ev_cuped).
      val x = T(s, dir, "orders")
        .groupBy("o_custkey")
        .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("x_c"))
        .select(col("x_c").cast("decimal(38,0)").as("x"))
        .agg(count(lit(1)).cast("decimal(38,0)").as("n"),
          sum("x").as("s"), sum(expr("x * x")).as("ss"))
      val deltas = s.createDataFrame(Seq(Tuple1(100L), Tuple1(500L), Tuple1(1000L)))
        .toDF("delta_c")
      x.crossJoin(broadcast(deltas))
        .select(col("delta_c"), col("n").cast("long").as("n_customers"),
          expr("""CAST((2 * 7848886 * (n * ss - s * s)
                 + (1000000 * delta_c * delta_c * n * (n - 1)) - 1)
                 div (1000000 * delta_c * delta_c * n * (n - 1)) AS BIGINT)""")
            .as("n_required"))
    }),

    "q_calibration" -> Query(
      """WITH b AS (SELECT CAST(l_quantity AS BIGINT) AS qty, CAST(count(*) AS BIGINT) AS n, CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS n_pos FROM lineitem GROUP BY 1) SELECT qty, n, n_pos, qty * 20000 AS pred_micro, CAST((n_pos * 1000000) // n AS BIGINT) AS obs_micro, CAST(qty * 20000 - (n_pos * 1000000) // n AS BIGINT) AS gap_micro FROM b""")((s, dir) => {
      // calibration / reliability table: quantity as a score whose
      // implied probability is qty/50, compared to the observed 'R'
      // share per score bucket — predicted and observed both exact
      // integral micro, the gap signed. One hash agg to the ≤50-value
      // domain; the companion to q_auc (discrimination) and q_pr_curve.
      T(s, dir, "lineitem")
        .select(col("l_quantity").cast("long").as("qty"),
          when(col("l_returnflag") === "R", 1L).otherwise(0L).as("pos"))
        .groupBy("qty")
        .agg(count(lit(1)).as("n"), sum("pos").as("n_pos"))
        .select(col("qty"), col("n"), col("n_pos"),
          (col("qty") * 20000L).as("pred_micro"),
          expr("(n_pos * 1000000) div n").as("obs_micro"),
          (col("qty") * 20000L - expr("(n_pos * 1000000) div n")).as("gap_micro"))
    }),
    // q_isotonic: the same minimax replay — prefix sums over the qty
    // domain, interval means micro-rounded BEFORE min/max (HUGEINT
    // product mirrors the decimal(38,0) side), j<=i<=k expansion.
    "q_isotonic" -> Query(
      """WITH cal AS (SELECT CAST(l_quantity AS BIGINT) AS qty, CAST(count(*) AS BIGINT) AS n, CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS n_pos FROM lineitem GROUP BY 1), pref AS (SELECT qty, n, n_pos, sum(n) OVER (ORDER BY qty ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cn, sum(n_pos) OVER (ORDER BY qty ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cp FROM cal), ivl AS (SELECT j.qty AS jq, k.qty AS kq, CAST((CAST(k.cp - j.cp + j.n_pos AS HUGEINT) * 1000000) // (k.cn - j.cn + j.n) AS BIGINT) AS avg_micro FROM pref j JOIN pref k ON j.qty <= k.qty), mn AS (SELECT i.qty AS qty, a.jq, min(a.avg_micro) AS m FROM cal i JOIN ivl a ON a.jq <= i.qty AND a.kq >= i.qty GROUP BY 1, 2), iso AS (SELECT qty, CAST(max(m) AS BIGINT) AS iso_micro FROM mn GROUP BY 1) SELECT c.qty, c.n, c.n_pos, CAST((c.n_pos * 1000000) // c.n AS BIGINT) AS obs_micro, iso.iso_micro FROM cal c JOIN iso USING (qty)""")((s, dir) => {
      // isotonic (PAVA) calibration of the q_calibration reliability
      // table, via the exact minimax closed form: on the bounded score
      // domain (≤50 qty values) the pooled-adjacent-violators fit at
      // score i equals max_{j≤i} min_{k≥i} mean(obs over [j..k]) — so
      // three bounded self-joins over a ≤50-row frame replace the
      // sequential pooling loop, with NO driver fold and nothing that
      // grows with table size (the only full-data pass is the first
      // hash agg). Interval means are micro-rounded integer divisions
      // BEFORE the minimax (the definitional rounding, mirrored in the
      // oracle), keeping every comparison engine-exact. The calibrator
      // q_calibration diagnoses and q_monotonicity audits.
      import org.apache.spark.sql.expressions.Window
      val cal = T(s, dir, "lineitem")
        .select(col("l_quantity").cast("long").as("qty"),
          when(col("l_returnflag") === "R", 1L).otherwise(0L).as("pos"))
        .groupBy("qty")
        .agg(count(lit(1)).as("n"), sum("pos").as("n_pos"))
      val w = Window.orderBy("qty")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val pref = cal
        .withColumn("cn", sum("n").over(w))
        .withColumn("cp", sum("n_pos").over(w))
        .localCheckpoint(true) // ≤50 rows, read by both join sides
      val ivl = pref.as("j").join(pref.as("k"), col("j.qty") <= col("k.qty"))
        .select(col("j.qty").as("jq"), col("k.qty").as("kq"),
          (col("k.cp") - col("j.cp") + col("j.n_pos")).cast("decimal(38,0)").as("sp"),
          (col("k.cn") - col("j.cn") + col("j.n")).as("sn"))
        .select(col("jq"), col("kq"),
          expr("CAST(sp * 1000000 div sn AS BIGINT)").as("avg_micro"))
      val iso = cal.select(col("qty")).as("i")
        .join(ivl.as("a"), col("a.jq") <= col("i.qty") && col("a.kq") >= col("i.qty"))
        .groupBy(col("i.qty").as("qty"), col("a.jq").as("jq"))
        .agg(min("avg_micro").as("mn"))
        .groupBy("qty").agg(max("mn").as("iso_micro"))
      cal.join(iso, "qty")
        .select(col("qty"), col("n"), col("n_pos"),
          expr("(n_pos * 1000000) div n").as("obs_micro"), col("iso_micro"))
    }),

    "q_iv" -> Query(
      """WITH bins AS (SELECT least(CAST(l_quantity AS BIGINT) // 10, 9) AS bin, CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS pos, CAST(sum(CASE WHEN l_returnflag <> 'R' THEN 1 ELSE 0 END) AS BIGINT) AS neg FROM lineitem GROUP BY 1), t AS (SELECT CAST(sum(pos) AS BIGINT) AS tp, CAST(sum(neg) AS BIGINT) AS tn FROM bins) SELECT bin, pos, neg, CAST(round(ln((CAST(pos + 1 AS DOUBLE) * (tn + 10)) / (CAST(neg + 1 AS DOUBLE) * (tp + 10))) * 1000000) AS BIGINT) AS woe_micro, CAST(round((CAST(pos + 1 AS DOUBLE) / (tp + 10) - CAST(neg + 1 AS DOUBLE) / (tn + 10)) * ln((CAST(pos + 1 AS DOUBLE) * (tn + 10)) / (CAST(neg + 1 AS DOUBLE) * (tp + 10))) * 1000000) AS BIGINT) AS iv_micro FROM bins, t""")((s, dir) => {
      // information value / weight of evidence of the quantity feature
      // against the returned flag — the credit-scoring feature screen.
      // Laplace +1 smoothing (K = 10 literal bins) keeps every log
      // argument positive and rational; ln is the only transcendental,
      // rounded once per bin; the per-bin IV contribution sums
      // order-free downstream.
      val bins = T(s, dir, "lineitem")
        .groupBy(expr("least(CAST(l_quantity AS BIGINT) div 10, 9)").as("bin"))
        .agg(sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("pos"),
          sum(when(col("l_returnflag") =!= "R", 1L).otherwise(0L)).as("neg"))
        .localCheckpoint(true) // totals + per-bin read one frame
      val tot = bins.agg(sum("pos").as("tp"), sum("neg").as("tn"))
      bins.crossJoin(broadcast(tot))
        .select(col("bin"), col("pos"), col("neg"),
          expr("""CAST(round(ln((CAST(pos + 1 AS DOUBLE) * (tn + 10))
                 | / (CAST(neg + 1 AS DOUBLE) * (tp + 10))) * 1000000) AS BIGINT)"""
            .stripMargin).as("woe_micro"),
          expr("""CAST(round((CAST(pos + 1 AS DOUBLE) / (tp + 10)
                 | - CAST(neg + 1 AS DOUBLE) / (tn + 10))
                 | * ln((CAST(pos + 1 AS DOUBLE) * (tn + 10))
                 |      / (CAST(neg + 1 AS DOUBLE) * (tp + 10))) * 1000000) AS BIGINT)"""
            .stripMargin).as("iv_micro"))
    }),

    "q_logloss" -> Query(
      """WITH cells AS (SELECT CAST(l_quantity AS BIGINT) AS qty, l_returnflag = 'R' AS y, CAST(count(*) AS BIGINT) AS n FROM lineitem GROUP BY 1, 2), t AS (SELECT n, CAST(round(CASE WHEN y THEN -ln(greatest(least(CAST(qty AS DOUBLE) * 0.02, 0.99), 0.01)) ELSE -ln(1.0 - greatest(least(CAST(qty AS DOUBLE) * 0.02, 0.99), 0.01)) END * 1000000) AS BIGINT) AS term_micro FROM cells) SELECT CAST(sum(n) AS BIGINT) AS n_rows, CAST(sum(n * term_micro) AS BIGINT) // CAST(sum(n) AS BIGINT) AS logloss_micro FROM t""")((s, dir) => {
      // log-loss of q_calibration's linear risk rule (p = qty·2%,
      // clamped to [0.01, 0.99]): terms grouped by the BOUNDED
      // (quantity, outcome) panel first — ≤100 cells — so each −ln term
      // is computed once, micro-rounded once, and weighted by exact
      // counts. The proper-scoring-rule companion to q_auc /
      // q_calibration.
      val cells = T(s, dir, "lineitem")
        .groupBy(expr("CAST(l_quantity AS BIGINT)").as("qty"),
          (col("l_returnflag") === "R").as("y"))
        .agg(count(lit(1)).as("n"))
        .withColumn("p", expr(
          "greatest(least(CAST(qty AS DOUBLE) * 0.02, 0.99), 0.01)"))
        .withColumn("term_micro", expr(
          """CAST(round(CASE WHEN y THEN -ln(p) ELSE -ln(1.0 - p) END * 1000000)
             | AS BIGINT)""".stripMargin))
      cells.agg(sum("n").as("n_rows"),
          sum(expr("n * term_micro")).as("ll_sum"))
        .select(col("n_rows"),
          expr("ll_sum div n_rows").as("logloss_micro"))
    }),

    "q_residuals" -> Query(
      """WITH cells AS (SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS o FROM lineitem GROUP BY 1, 2), rt AS (SELECT l_returnflag, CAST(sum(o) AS BIGINT) AS r FROM cells GROUP BY 1), ct AS (SELECT l_linestatus, CAST(sum(o) AS BIGINT) AS c FROM cells GROUP BY 1), nt AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells), j AS (SELECT cells.l_returnflag, cells.l_linestatus, o, r, c, n FROM cells JOIN rt USING (l_returnflag) JOIN ct USING (l_linestatus) CROSS JOIN nt) SELECT l_returnflag, l_linestatus, o, CAST((CAST(r AS HUGEINT) * c * 1000000) // n AS BIGINT) AS e_micro, CAST(round((CAST(o AS DOUBLE) - CAST(r AS DOUBLE) * c / n) / sqrt(CAST(r AS DOUBLE) * c / n * (1.0 - CAST(r AS DOUBLE) / n) * (1.0 - CAST(c AS DOUBLE) / n)) * 1000000) AS BIGINT) AS resid_micro, abs(CAST(round((CAST(o AS DOUBLE) - CAST(r AS DOUBLE) * c / n) / sqrt(CAST(r AS DOUBLE) * c / n * (1.0 - CAST(r AS DOUBLE) / n) * (1.0 - CAST(c AS DOUBLE) / n)) * 1000000) AS BIGINT)) > 2000000 AS driving FROM j""")((s, dir) => {
      // standardized Pearson residuals of the returnflag × linestatus
      // table — the cell-level diagnostic behind q_chisq's single
      // statistic: r = (o − e)/√(e(1−rp)(1−cp)), exact integer margins,
      // ONE double formula per cell micro-rounded. |r| > 2 marks the
      // driving cells.
      val cells = T(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("o"))
        .localCheckpoint(true) // margins + cells
      val rt = cells.groupBy("l_returnflag").agg(sum("o").as("r"))
      val ct = cells.groupBy("l_linestatus").agg(sum("o").as("c"))
      val nt = cells.agg(sum("o").as("n"))
      cells.join(rt, "l_returnflag").join(ct, "l_linestatus")
        .crossJoin(broadcast(nt))
        .select(col("l_returnflag"), col("l_linestatus"), col("o"),
          // r·c·10⁶ in DECIMAL(38,0): margins in the billions at 100 TB
          // would wrap the int64 product (e_micro ≤ n·10⁶ still fits BIGINT)
          expr("CAST((CAST(r AS DECIMAL(38,0)) * c * 1000000) div n AS BIGINT)")
            .as("e_micro"),
          expr("""CAST(round((CAST(o AS DOUBLE) - CAST(r AS DOUBLE) * c / n)
                 | / sqrt(CAST(r AS DOUBLE) * c / n
                 |        * (1.0 - CAST(r AS DOUBLE) / n)
                 |        * (1.0 - CAST(c AS DOUBLE) / n)) * 1000000) AS BIGINT)"""
            .stripMargin).as("resid_micro"))
        .withColumn("driving", abs(col("resid_micro")) > 2000000L)
    }),

    "q_eb_shrink" -> Query(
      """WITH b AS (SELECT p_brand, CAST(count(*) AS BIGINT) AS n, CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS x FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY 1), r AS (SELECT p_brand, n, x, (x * 1000000) // n AS rate_micro FROM b), mom AS (SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(rate_micro) AS BIGINT) AS sr, CAST(sum(rate_micro * rate_micro) AS BIGINT) AS srr FROM r), pr AS (SELECT CAST(sr AS DOUBLE) / k / 1000000 AS m, CAST(k * srr - sr * sr AS DOUBLE) / (CAST(k AS DOUBLE) * (k - 1)) / 1e12 AS v FROM mom), ab AS (SELECT CASE WHEN v <= 0.0 THEN 1000.0 ELSE m * (m * (1.0 - m) / v - 1.0) END AS alpha, CASE WHEN v <= 0.0 THEN 1000.0 ELSE (1.0 - m) * (m * (1.0 - m) / v - 1.0) END AS beta FROM pr) SELECT p_brand, n, x, rate_micro, CAST(round((CAST(x AS DOUBLE) + alpha) / (CAST(n AS DOUBLE) + alpha + beta) * 1000000) AS BIGINT) AS shrunk_micro FROM r, ab""")((s, dir) => {
      // empirical-Bayes rate shrinkage: per-brand return rates pulled
      // toward the pooled rate with a method-of-moments Beta prior
      // (α+β from the between-brand variance) — the James-Stein move
      // that stops small brands from topping every ranking. Exact
      // integer sufficient stats; the prior solves in ONE double pass
      // broadcast back over the brand panel.
      val b = T(s, dir, "lineitem")
        .join(T(s, dir, "part"), col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n"),
          sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("x"))
        .withColumn("rate_micro", expr("(x * 1000000) div n"))
        .localCheckpoint(true) // moments + panel
      val mom = b.agg(count(lit(1)).as("k"), sum("rate_micro").as("sr"),
          sum(expr("rate_micro * rate_micro")).as("srr"))
        .select(expr("CAST(sr AS DOUBLE) / k / 1000000").as("m"),
          expr("""CAST(k * srr - sr * sr AS DOUBLE)
                 | / (CAST(k AS DOUBLE) * (k - 1)) / 1e12""".stripMargin).as("v"))
        .select(col("m"), col("v"),
          expr("CASE WHEN v <= 0.0 THEN 1000.0 ELSE m * (m * (1.0 - m) / v - 1.0) END")
            .as("alpha"),
          expr("CASE WHEN v <= 0.0 THEN 1000.0 ELSE (1.0 - m) * (m * (1.0 - m) / v - 1.0) END")
            .as("beta"))
      b.crossJoin(broadcast(mom))
        .select(col("p_brand"), col("n"), col("x"), col("rate_micro"),
          expr("""CAST(round((CAST(x AS DOUBLE) + alpha) / (CAST(n AS DOUBLE) + alpha + beta)
                 | * 1000000) AS BIGINT)""".stripMargin).as("shrunk_micro"))
    }),

    "q_ece" -> Query(
      """WITH c AS (SELECT least(CAST(l_quantity AS BIGINT) * 20000, 1000000) AS p, CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y FROM lineitem), b AS (SELECT least(p // 100000, 9) AS bin, CAST(count(*) AS BIGINT) AS n, CAST(sum(p) AS BIGINT) AS sp, CAST(sum(y) AS BIGINT) AS sy FROM c GROUP BY 1), t AS (SELECT CAST(sum(n) AS BIGINT) AS nt FROM b) SELECT bin, n, sp // n AS conf_micro, (sy * 1000000) // n AS acc_micro, (n * abs((sy * 1000000) // n - sp // n)) // nt AS ece_term_micro FROM b, t""")((s, dir) => {
      // expected calibration error of the q_calibration risk rule:
      // 10 equal-width confidence bins, per-bin |accuracy − confidence|
      // weighted by bin mass — INTEGER micro end-to-end (confidence is
      // an exact integral mean, accuracy an integral rate). The
      // one-number calibration read next to q_calibration's table.
      val b = T(s, dir, "lineitem")
        .select(expr("least(CAST(l_quantity AS BIGINT) * 20000, 1000000)").as("p"),
          when(col("l_returnflag") === "R", 1L).otherwise(0L).as("y"))
        .groupBy(expr("least(p div 100000, 9)").as("bin"))
        .agg(count(lit(1)).as("n"), sum("p").as("sp"), sum("y").as("sy"))
        .localCheckpoint(true) // total + terms
      val t = b.agg(sum("n").as("nt"))
      b.crossJoin(broadcast(t))
        .select(col("bin"), col("n"),
          expr("sp div n").as("conf_micro"),
          expr("(sy * 1000000) div n").as("acc_micro"),
          expr("(n * abs((sy * 1000000) div n - sp div n)) div nt")
            .as("ece_term_micro"))
    }),

    "q_brier" -> Query(
      """WITH c AS (SELECT least(CAST(l_quantity AS BIGINT) * 20000, 1000000) AS p, CASE WHEN l_returnflag = 'R' THEN 1000000 ELSE 0 END AS y FROM lineitem), g AS (SELECT CAST(count(*) AS BIGINT) AS n_rows, CAST(sum(((p - y) * (p - y)) // 1000000) AS BIGINT) AS sq FROM c) SELECT n_rows, sq // n_rows AS brier_micro FROM g""")((s, dir) => {
      // Brier score of the same rule: mean squared gap between the
      // micro probability and the 0/10⁶ outcome — pure integer
      // arithmetic, no transcendental at all (the quadratic proper
      // scoring rule; q_logloss is the logarithmic one).
      T(s, dir, "lineitem")
        .select(expr("least(CAST(l_quantity AS BIGINT) * 20000, 1000000)").as("p"),
          when(col("l_returnflag") === "R", 1000000L).otherwise(0L).as("y"))
        .agg(count(lit(1)).as("n_rows"),
          sum(expr("((p - y) * (p - y)) div 1000000")).as("sq"))
        .select(col("n_rows"), expr("sq div n_rows").as("brier_micro"))
    }),
    // q_conformal: same disjoint fit(0,1)/calibrate(2)/test(3) split,
    // 7-row mean table, bounded-score histogram; 10·cum >= 9·(n+1) is
    // the integer ceil condition.
    "q_conformal" -> Query(
      """WITH li AS (SELECT l_orderkey % 4 AS part, l_linenumber, CAST(l_quantity AS BIGINT) AS q FROM lineitem), pred AS (SELECT l_linenumber, CAST(sum(q) // count(*) AS BIGINT) AS yhat FROM li WHERE part < 2 GROUP BY 1), h AS (SELECT li.part = 3 AS is_test, abs(li.q - p.yhat) AS s, CAST(count(*) AS BIGINT) AS n FROM li JOIN pred p USING (l_linenumber) WHERE li.part >= 2 GROUP BY 1, 2), ncal AS (SELECT CAST(sum(n) AS BIGINT) AS n_cal FROM h WHERE NOT is_test), cum AS (SELECT s, sum(n) OVER (ORDER BY s) AS cume FROM h WHERE NOT is_test), qh AS (SELECT CAST(min(s) AS BIGINT) AS qhat FROM cum, ncal WHERE 10 * cume >= 9 * (n_cal + 1)), tst AS (SELECT CAST(sum(n) AS BIGINT) AS n_test, CAST(sum(CASE WHEN s <= qhat THEN n ELSE 0 END) AS BIGINT) AS n_cov FROM h, qh WHERE is_test) SELECT n_cal, n_test, qhat, CAST(2 * qhat + 1 AS BIGINT) AS width, CAST(CAST(n_cov AS HUGEINT) * 1000000 // n_test AS BIGINT) AS cov_micro FROM ncal, tst, qh""")((s, dir) => {
      // Split-conformal prediction interval (Vovk; Lei et al. 2018): a
      // deterministic three-way orderkey split — quarters 0,1 FIT the
      // 7-row per-linenumber mean table, quarter 2 CALIBRATES (the fit
      // and calibration sets must be disjoint or the finite-sample
      // coverage guarantee does not hold), quarter 3 is the held-out
      // test set. Nonconformity is |q − ŷ|, q̂ = the ⌈0.9(n+1)⌉-th
      // order statistic of the calibration scores, then the coverage
      // of ŷ ± q̂ on the test quarter. The
      // score domain is BOUNDED (|quantity − mean| ≤ 49) so the order
      // statistic is an exact histogram quantile: one wide shuffle
      // produces the ≤100-row (split, score) histogram and every later
      // step — cumulative counts, q̂, coverage — runs on that frame.
      // 10·cum ≥ 9·(n+1) is the integer form of cum ≥ ⌈0.9(n+1)⌉.
      import org.apache.spark.sql.expressions.Window
      val li = T(s, dir, "lineitem").select(
        (col("l_orderkey") % 4).as("part"),
        col("l_linenumber"),
        col("l_quantity").cast("long").as("q"))
      val pred = li.filter(col("part") < 2).groupBy("l_linenumber")
        .agg(expr("sum(q) div count(1)").as("yhat"))
      val h = li.filter(col("part") >= 2).join(broadcast(pred), Seq("l_linenumber"))
        .select((col("part") === 3).as("is_test"), abs(col("q") - col("yhat")).as("s"))
        .groupBy("is_test", "s").agg(count(lit(1)).as("n"))
        .localCheckpoint(true) // ≤100 rows; feeds q̂ AND the coverage pass
      val cal = h.filter(!col("is_test"))
      val nCal = cal.agg(sum("n").as("n_cal"))
      val qhat = cal
        .withColumn("cume", sum("n").over(Window.orderBy("s"))) // bounded score domain
        .crossJoin(broadcast(nCal))
        .filter(col("cume") * 10 >= (col("n_cal") + 1) * 9)
        .agg(min("s").as("qhat"))
      h.filter(col("is_test"))
        .crossJoin(broadcast(qhat)).crossJoin(broadcast(nCal))
        .agg(first("n_cal").as("n_cal"),
          sum("n").as("n_test"),
          sum(when(col("s") <= col("qhat"), col("n")).otherwise(0L)).as("n_cov"),
          first("qhat").as("qhat"))
        .select(col("n_cal"), col("n_test"), col("qhat"),
          (col("qhat") * 2 + 1).as("width"),
          expr("CAST(CAST(n_cov AS DECIMAL(38,0)) * 1000000 div n_test AS BIGINT)")
            .as("cov_micro"))
    })
  )

  /** Histogram Gini split candidates over a (y, bin_year, bin_price)
    * frame — the shared kernel of q_stump / q_declist: one bounded
    * (feature × bin) count aggregate, cumulative windows over ≤ 20-row
    * per-feature frames, and the exact integer weighted-Gini score
    * (2·posL·negL/nL + 2·posR·negR/nR, micro-scaled nonnegative
    * integral division).
    */
  private def stumpCandidates(base: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hist = base.select(explode(array(
        struct(lit("year").as("feature"), col("bin_year").as("bin"), col("y")),
        struct(lit("price").as("feature"), col("bin_price").as("bin"), col("y")))).as("e"))
      .select(col("e.feature"), col("e.bin"), col("e.y"))
      .groupBy("feature", "bin")
      .agg(count(lit(1)).as("n"), sum("y").as("pos"))
    val w = Window.partitionBy("feature").orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = hist.groupBy("feature").agg(sum("n").as("n_tot"), sum("pos").as("pos_tot"))
    hist
      .withColumn("n_left", sum("n").over(w))
      .withColumn("pos_left", sum("pos").over(w))
      .join(broadcast(tot), Seq("feature"))
      .filter(col("n_left") < col("n_tot")) // a split must leave a right side
      .select(col("feature"), col("bin").as("threshold"),
        col("n_left"), col("pos_left"),
        (col("n_tot") - col("n_left")).as("n_right"),
        (col("pos_tot") - col("pos_left")).as("pos_right"))
      .withColumn("g_micro",
        expr("""CAST((2 * CAST(pos_left AS DECIMAL(18,0)) * (n_left - pos_left) * 1000000)
                    div n_left AS BIGINT)
                + CAST((2 * CAST(pos_right AS DECIMAL(18,0)) * (n_right - pos_right) * 1000000)
                    div n_right AS BIGINT)"""))
  }

  /** q_ridge: q_ols's Gram replay with λ=10⁶ added to the non-intercept
    * diagonal in the same (double + double) order as the driver.
    */
  private lazy val ridgeOracleSql: String =
    """WITH q AS (SELECT CAST(1 AS BIGINT) AS c0, CAST(l_quantity AS BIGINT) AS c1, CAST(round(l_discount * 100) AS BIGINT) AS c2, CAST(round(l_extendedprice) AS BIGINT) AS c3 FROM lineitem),
      |g AS (SELECT CAST(sum(c0*c0) AS BIGINT) AS g0, CAST(sum(c0*c1) AS BIGINT) AS g1, CAST(sum(c0*c2) AS BIGINT) AS g2, CAST(sum(c0*c3) AS BIGINT) AS g3, CAST(sum(c1*c1) AS BIGINT) AS g4, CAST(sum(c1*c2) AS BIGINT) AS g5, CAST(sum(c1*c3) AS BIGINT) AS g6, CAST(sum(c2*c2) AS BIGINT) AS g7, CAST(sum(c2*c3) AS BIGINT) AS g8, count(*) AS n FROM q),
      |d AS (SELECT CAST(g0 AS DOUBLE) AS a00, CAST(g1 AS DOUBLE) AS a01, CAST(g2 AS DOUBLE) AS a02, CAST(g3 AS DOUBLE) AS b0, CAST(g4 AS DOUBLE) + 1000000.0 AS a11, CAST(g5 AS DOUBLE) AS a12, CAST(g6 AS DOUBLE) AS b1, CAST(g7 AS DOUBLE) + 1000000.0 AS a22, CAST(g8 AS DOUBLE) AS b2, n FROM g),
      |s AS (SELECT *, a00 * (a11 * a22 - a12 * a12) - a01 * (a01 * a22 - a12 * a02) + a02 * (a01 * a12 - a11 * a02) AS det FROM d)
      |SELECT
      |  (b0 * (a11 * a22 - a12 * a12) - a01 * (b1 * a22 - a12 * b2) + a02 * (b1 * a12 - a11 * b2)) / det AS beta0,
      |  (a00 * (b1 * a22 - a12 * b2) - b0 * (a01 * a22 - a12 * a02) + a02 * (a01 * b2 - b1 * a02)) / det AS beta1,
      |  (a00 * (a11 * b2 - a12 * b1) - a01 * (a01 * b2 - b1 * a02) + b0 * (a01 * a12 - a11 * a02)) / det AS beta2,
      |  n FROM s""".stripMargin

  /** q_logreg replay: 8 unrolled gradient steps. The rational fast
    * sigmoid keeps every per-row double an identical IEEE operation
    * tree, and each step's gradient is an exact micro-scaled integer
    * sum (order-free), so the weight trajectory — and therefore the
    * final weights and accuracy count — is bit-identical to the
    * driver loop's.
    */
  private lazy val logregOracleSql: String = {
    def errExpr(w: String) =
      s"((0.5 + ($w.w0 + $w.w1 * b.x1 + $w.w2 * b.x2) / " +
        s"(2.0 * (1.0 + abs($w.w0 + $w.w1 * b.x1 + $w.w2 * b.x2)))) - b.y)"
    val steps = (1 to 8).map { k =>
      val p = s"w${k - 1}"
      val e = errExpr(p)
      s"""g$k AS (SELECT sum(CAST(round($e * 1000000.0) AS BIGINT)) AS g0,
         |  sum(CAST(round($e * b.x1 * 1000000.0) AS BIGINT)) AS g1,
         |  sum(CAST(round($e * b.x2 * 1000000.0) AS BIGINT)) AS g2
         |  FROM base b CROSS JOIN $p),
         |w$k AS (SELECT
         |  $p.w0 - 0.5 * ((CAST(g$k.g0 AS DOUBLE) / 1000000.0) / nr.nd) AS w0,
         |  $p.w1 - 0.5 * ((CAST(g$k.g1 AS DOUBLE) / 1000000.0) / nr.nd) AS w1,
         |  $p.w2 - 0.5 * ((CAST(g$k.g2 AS DOUBLE) / 1000000.0) / nr.nd) AS w2
         |  FROM $p, g$k, nr)""".stripMargin
    }.mkString(",\n")
    val sigF = "(0.5 + (w8.w0 + w8.w1 * b.x1 + w8.w2 * b.x2) / " +
      "(2.0 * (1.0 + abs(w8.w0 + w8.w1 * b.x1 + w8.w2 * b.x2))))"
    s"""WITH base AS (SELECT
       |    CASE WHEN o_orderstatus = 'F' THEN 1.0 ELSE 0.0 END AS y,
       |    CAST(year(CAST(o_orderdate AS DATE)) - 1995 AS DOUBLE) AS x1,
       |    CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS DOUBLE) / 10000000.0 AS x2
       |  FROM orders),
       |nr AS (SELECT CAST(count(*) AS DOUBLE) AS nd FROM base),
       |w0 AS (SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2),
       |$steps,
       |fin AS (SELECT $sigF AS sig, b.y FROM base b CROSS JOIN w8)
       |SELECT w8.w0 AS w0, w8.w1 AS w1, w8.w2 AS w2,
       |  (SELECT count(*) FROM base) AS n,
       |  CAST((SELECT sum(CASE WHEN (sig >= 0.5) = (y = 1.0) THEN 1 ELSE 0 END)
       |        FROM fin) AS BIGINT) AS n_correct
       |FROM w8""".stripMargin
  }

  /** q_declist: the q_stump candidate scan replayed twice — stage 2 over
    * the rows stage 1's best stump misclassifies (scalar-joined model).
    */
  private lazy val declistOracleSql: String = {
    def stump(src: String, p: String): String =
      s"""${p}f AS (SELECT 'year' AS feature, bin_year AS bin, y FROM $src
         |       UNION ALL SELECT 'price', bin_price, y FROM $src),
         |${p}hist AS (SELECT feature, bin, CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS pos FROM ${p}f GROUP BY 1, 2),
         |${p}cum AS (SELECT feature, bin, CAST(sum(n) OVER (PARTITION BY feature ORDER BY bin) AS BIGINT) AS n_left, CAST(sum(pos) OVER (PARTITION BY feature ORDER BY bin) AS BIGINT) AS pos_left FROM ${p}hist),
         |${p}tot AS (SELECT feature, CAST(sum(n) AS BIGINT) AS n_tot, CAST(sum(pos) AS BIGINT) AS pos_tot FROM ${p}hist GROUP BY 1),
         |${p}cand AS (SELECT c.feature, bin AS threshold, n_left, pos_left, n_tot - n_left AS n_right, pos_tot - pos_left AS pos_right
         |  FROM ${p}cum c JOIN ${p}tot t ON c.feature = t.feature WHERE n_left < n_tot),
         |${p}sc AS (SELECT *,
         |  CAST((2::HUGEINT * pos_left * (n_left - pos_left) * 1000000) // n_left AS BIGINT)
         |  + CAST((2::HUGEINT * pos_right * (n_right - pos_right) * 1000000) // n_right AS BIGINT) AS g_micro FROM ${p}cand),
         |${p}best AS (SELECT * FROM ${p}sc QUALIFY row_number() OVER (ORDER BY g_micro, feature, threshold) = 1),
         |${p}row AS (SELECT feature, threshold,
         |  CAST(CASE WHEN 2 * pos_left > n_left THEN 1 ELSE 0 END AS BIGINT) AS pred_left,
         |  CAST(CASE WHEN 2 * pos_right > n_right THEN 1 ELSE 0 END AS BIGINT) AS pred_right,
         |  n_left + n_right AS n_train,
         |  (CASE WHEN 2 * pos_left > n_left THEN pos_left ELSE n_left - pos_left END)
         |  + (CASE WHEN 2 * pos_right > n_right THEN pos_right ELSE n_right - pos_right END) AS n_correct
         |  FROM ${p}best)""".stripMargin
    s"""WITH base AS (SELECT CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y,
       |    CAST(year(CAST(o_orderdate AS DATE)) AS BIGINT) AS bin_year,
       |    least(CAST(round(o_totalprice * 100) AS BIGINT) // 3000000, 19) AS bin_price FROM orders),
       |${stump("base", "s1")},
       |err AS (SELECT b.* FROM base b, s1row r
       |  WHERE b.y <> CASE WHEN (CASE WHEN r.feature = 'year' THEN b.bin_year ELSE b.bin_price END) <= r.threshold
       |               THEN r.pred_left ELSE r.pred_right END),
       |${stump("err", "s2")}
       |SELECT CAST(1 AS BIGINT) AS stage, feature, threshold, pred_left, pred_right, n_train, n_correct FROM s1row
       |UNION ALL
       |SELECT CAST(2 AS BIGINT), feature, threshold, pred_left, pred_right, n_train, n_correct FROM s2row""".stripMargin
  }

  /** q_ols: identical integer Gram sums, then the IDENTICAL double Cramer
    * expression tree (each *, -, + in the same order as the driver code).
    */
  private lazy val olsOracleSql: String =
    """WITH q AS (SELECT CAST(1 AS BIGINT) AS c0, CAST(l_quantity AS BIGINT) AS c1, CAST(round(l_discount * 100) AS BIGINT) AS c2, CAST(round(l_extendedprice) AS BIGINT) AS c3 FROM lineitem),
      |g AS (SELECT CAST(sum(c0*c0) AS BIGINT) AS g0, CAST(sum(c0*c1) AS BIGINT) AS g1, CAST(sum(c0*c2) AS BIGINT) AS g2, CAST(sum(c0*c3) AS BIGINT) AS g3, CAST(sum(c1*c1) AS BIGINT) AS g4, CAST(sum(c1*c2) AS BIGINT) AS g5, CAST(sum(c1*c3) AS BIGINT) AS g6, CAST(sum(c2*c2) AS BIGINT) AS g7, CAST(sum(c2*c3) AS BIGINT) AS g8, count(*) AS n FROM q),
      |d AS (SELECT CAST(g0 AS DOUBLE) AS a00, CAST(g1 AS DOUBLE) AS a01, CAST(g2 AS DOUBLE) AS a02, CAST(g3 AS DOUBLE) AS b0, CAST(g4 AS DOUBLE) AS a11, CAST(g5 AS DOUBLE) AS a12, CAST(g6 AS DOUBLE) AS b1, CAST(g7 AS DOUBLE) AS a22, CAST(g8 AS DOUBLE) AS b2, n FROM g),
      |s AS (SELECT *, a00 * (a11 * a22 - a12 * a12) - a01 * (a01 * a22 - a12 * a02) + a02 * (a01 * a12 - a11 * a02) AS det FROM d)
      |SELECT
      |  (b0 * (a11 * a22 - a12 * a12) - a01 * (b1 * a22 - a12 * b2) + a02 * (b1 * a12 - a11 * b2)) / det AS beta0,
      |  (a00 * (b1 * a22 - a12 * b2) - b0 * (a01 * a22 - a12 * a02) + a02 * (a01 * b2 - b1 * a02)) / det AS beta1,
      |  (a00 * (a11 * b2 - a12 * b1) - a01 * (a01 * b2 - b1 * a02) + b0 * (a01 * a12 - a11 * a02)) / det AS beta2,
      |  n FROM s""".stripMargin
}
