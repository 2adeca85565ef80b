package graft
package families

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import Shared._

/** The q_ queries on time series: smoothing, forecasting, trend and change tests.
  * Each entry holds a query's DuckDB oracle SQL and its builder.
  */
object TimeSeriesQueries {

  val entries: Seq[(String, Query)] = Seq(
    "q_moving" -> Query(
      """SELECT l_suppkey, l_orderkey, l_linenumber, l_shipdate, l_quantity, sum(l_quantity) OVER w AS mov_qty, count(*) OVER w AS mov_n FROM lineitem WINDOW w AS (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)""")((s, dir) => {
      // moving aggregates over a ROWS frame: 5-row trailing sum and count
      // per supplier in ship order — one (key, time) shuffle, integral
      // quantities so the frame sum is fp-exact
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("l_suppkey"))
        .orderBy(col("l_shipdate").asc, col("l_orderkey").asc, col("l_linenumber").asc)
        .rowsBetween(-4, org.apache.spark.sql.expressions.Window.currentRow)
      T(s, dir, "lineitem")
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
          col("l_shipdate"), col("l_quantity"))
        .withColumn("mov_qty", sum(col("l_quantity")).over(w))
        .withColumn("mov_n", count(lit(1)).over(w))
    }),
    // q_yoy: DuckDB // truncates toward zero exactly like Spark's div
    // (verified: -7 // 2 = -3), so negative growth agrees
    "q_yoy" -> Query(
      """WITH monthly AS (SELECT CAST(year(CAST(o_orderdate AS DATE)) AS BIGINT) AS y, CAST(month(CAST(o_orderdate AS DATE)) AS BIGINT) AS m, CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_c FROM orders GROUP BY 1, 2) SELECT a.y, a.m, a.rev_c, b.rev_c AS prev_rev_c, ((a.rev_c - b.rev_c) * 10000) // b.rev_c AS yoy_bp FROM monthly a JOIN monthly b ON a.y = b.y + 1 AND a.m = b.m""")((s, dir) => {
      // year-over-year growth per month: monthly revenue in exact cents,
      // joined to the same month one year earlier (an equi-join on the
      // month key — no window, no sort; the monthly frame is calendar-
      // bounded). Growth in basis points as an exact integer floor.
      val monthly = T(s, dir, "orders")
        .groupBy(year(col("o_orderdate").cast("date")).as("y"),
          month(col("o_orderdate").cast("date")).as("m"))
        .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("rev_c"))
      val prev = monthly.select((col("y") + 1).as("y"), col("m"),
        col("rev_c").as("prev_rev_c"))
      monthly.join(prev, Seq("y", "m"))
        .select(col("y").cast("long").as("y"), col("m").cast("long").as("m"),
          col("rev_c"), col("prev_rev_c"),
          expr("((rev_c - prev_rev_c) * 10000) div prev_rev_c").as("yoy_bp"))
    }),
    // q_holt: recursive CTE replays the identical IEEE op order (all
    // halvings at α=β=1/2) over the same exact daily integers — level
    // and trend doubles are bit-identical
    "q_holt" -> Query(
      """WITH RECURSIVE daily AS (SELECT CAST(o_orderdate AS DATE) AS d, CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_c FROM orders GROUP BY 1), idx AS (SELECT d, rev_c, CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS i FROM daily), init AS (SELECT (SELECT CAST(rev_c AS DOUBLE) FROM idx WHERE i = 1) AS x1, (SELECT CAST(rev_c AS DOUBLE) FROM idx WHERE i = 2) AS x2), h(i, s, b) AS (SELECT CAST(1 AS BIGINT), x1, x2 - x1 FROM init UNION ALL SELECT h.i + 1, 0.5 * CAST(idx.rev_c AS DOUBLE) + 0.5 * (h.s + h.b), 0.5 * ((0.5 * CAST(idx.rev_c AS DOUBLE) + 0.5 * (h.s + h.b)) - h.s) + 0.5 * h.b FROM h JOIN idx ON idx.i = h.i + 1) SELECT idx.d, idx.rev_c, h.s AS level, h.b AS trend FROM h JOIN idx ON idx.i = h.i""")((s, dir) => {
      // Holt linear double-exponential smoothing (α=β=1/2) over the
      // daily revenue series — level + trend per day. The recurrence is
      // inherently sequential, so the distributed part is the daily
      // aggregate (the data-volume work); the fold itself runs on the
      // driver over the CALENDAR-bounded series (≤ #days scalars — the
      // q_ols Cramer-solve argument: driver work bounded by model size,
      // never data size). α=β=1/2 keeps every op an exact IEEE halving
      // and the oracle replays the identical op order in a recursive
      // CTE, so level/trend doubles are bit-identical.
      import s.implicits._
      // the series crosses the driver as EPOCH-DAY INTS, never
      // java.sql.Date: the Date round trip needed sun.util.calendar
      // opened (--add-opens), so the query silently depended on the
      // harness JVM flags (round-11 verdict item). datediff/date_add vs
      // the epoch are exact integer day arithmetic — same dates out.
      val daily = T(s, dir, "orders")
        .groupBy(col("o_orderdate").cast("date").as("d"))
        .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("rev_c"))
        .select(datediff(col("d"), to_date(lit("1970-01-01"))).as("ed"), col("rev_c"))
        .orderBy(col("ed").asc_nulls_last)
        .collect().map(r => (epochDay(r), r.getLong(1)))
      require(daily.length >= 2, "q_holt: need at least 2 days")
      val out = Array.newBuilder[(Option[Int], Long, Double, Double)]
      var sPrev = daily(0)._2.toDouble
      var bPrev = daily(1)._2.toDouble - daily(0)._2.toDouble
      out += ((daily(0)._1, daily(0)._2, sPrev, bPrev))
      var i = 1
      while (i < daily.length) {
        val x = daily(i)._2.toDouble
        val sCur = 0.5 * x + 0.5 * (sPrev + bPrev)
        val bCur = 0.5 * (sCur - sPrev) + 0.5 * bPrev
        out += ((daily(i)._1, daily(i)._2, sCur, bCur))
        sPrev = sCur; bPrev = bCur
        i += 1
      }
      out.result().toSeq.toDF("ed", "rev_c", "level", "trend")
        .select(date_add(to_date(lit("1970-01-01")), col("ed")).as("d"),
          col("rev_c"), col("level"), col("trend"))
    }),

    "q_holt_winters" -> Query(holtWintersOracleSql)((s, dir) => {
      // additive Holt-Winters (α=β=γ=1/2, weekly period 7) over the
      // daily revenue series — level + trend + seasonal per day. Same
      // contract as q_holt: the distributed work is the daily
      // aggregate; the sequential smoothing folds on the driver over
      // the calendar-bounded series, and the oracle's recursive CTE
      // carries the 7 seasonal states and replays the identical IEEE
      // op order (all halvings + one exact /7.0 in the init), so every
      // double is bit-identical.
      import s.implicits._
      // epoch-day ints across the driver boundary, not java.sql.Date —
      // same --add-opens-independence fix as q_holt
      val daily = T(s, dir, "orders")
        .groupBy(col("o_orderdate").cast("date").as("d"))
        .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("rev_c"))
        .select(datediff(col("d"), to_date(lit("1970-01-01"))).as("ed"), col("rev_c"))
        .orderBy(col("ed").asc_nulls_last)
        .collect().map(r => (epochDay(r), r.getLong(1)))
      require(daily.length >= 15, "q_holt_winters: need at least 15 days")
      val m1 = daily.take(7).map(_._2).sum.toDouble / 7.0
      val m2 = daily.slice(7, 14).map(_._2).sum.toDouble / 7.0
      var sPrev = m1
      var bPrev = (m2 - m1) / 7.0
      val c = Array.tabulate(7)(k => daily(k)._2.toDouble - m1)
      val out = Array.newBuilder[(Option[Int], Long, Double, Double, Double)]
      var i = 0
      while (i < daily.length) {
        val slot = i % 7
        val x = daily(i)._2.toDouble
        val cp = c(slot)
        val sNew = 0.5 * (x - cp) + 0.5 * (sPrev + bPrev)
        val bNew = 0.5 * (sNew - sPrev) + 0.5 * bPrev
        val cNew = 0.5 * (x - sNew) + 0.5 * cp
        c(slot) = cNew
        out += ((daily(i)._1, daily(i)._2, sNew, bNew, cNew))
        sPrev = sNew; bPrev = bNew
        i += 1
      }
      out.result().toSeq.toDF("ed", "rev_c", "level", "trend", "seasonal")
        .select(date_add(to_date(lit("1970-01-01")), col("ed")).as("d"),
          col("rev_c"), col("level"), col("trend"), col("seasonal"))
    }),

    "q_cusum" -> Query(
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS d, CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_c FROM orders GROUP BY 1), tot AS (SELECT CAST(sum(rev_c) AS BIGINT) AS tr, CAST(count(*) AS BIGINT) AS nd FROM daily), base AS (SELECT d, rev_c, tr // nd AS mu_c, (tr // nd) // 20 AS k_c FROM daily, tot), pp AS (SELECT *, CAST(sum(rev_c - mu_c - k_c) OVER w AS BIGINT) AS p, CAST(sum(mu_c - k_c - rev_c) OVER w AS BIGINT) AS pn FROM base WINDOW w AS (ORDER BY d ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) SELECT d, rev_c, CAST(p - least(0, min(p) OVER w) AS BIGINT) AS s_up, CAST(pn - least(0, min(pn) OVER w) AS BIGINT) AS s_dn, (p - least(0, min(p) OVER w)) > mu_c AS alarm_up, (pn - least(0, min(pn) OVER w)) > mu_c AS alarm_dn FROM pp WINDOW w AS (ORDER BY d ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""")((s, dir) => {
      // CUSUM changepoint statistics over the daily revenue series in
      // exact integer cents. The textbook recursion S_t = max(0,
      // S_{t-1} + dev_t) is replaced by the prefix identity S_t = P_t −
      // min(0, min_{j≤t} P_j) (P = cumulative deviation), so the whole
      // statistic is two cumulative windows — no sequential recursion.
      // The windows order the DAILY aggregate, a frame bounded by the
      // calendar (grows with time span, not data volume), the same
      // bounded-small-frame argument as ta_curriculum's band offsets.
      import org.apache.spark.sql.expressions.Window
      val daily = T(s, dir, "orders")
        .groupBy(col("o_orderdate").cast("date").as("d"))
        .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("rev_c"))
      val tot = daily.agg(sum(col("rev_c")).as("tr"), count(lit(1)).as("nd"))
      val base = daily.crossJoin(broadcast(tot))
        .withColumn("mu_c", expr("tr div nd"))
        .withColumn("k_c", expr("(tr div nd) div 20"))
      val w = Window.orderBy(col("d").asc)
        .rowsBetween(Window.unboundedPreceding, 0)
      base
        .withColumn("p", sum(col("rev_c") - col("mu_c") - col("k_c")).over(w))
        .withColumn("pn", sum(col("mu_c") - col("k_c") - col("rev_c")).over(w))
        .select(col("d"), col("rev_c"),
          (col("p") - least(lit(0L), min(col("p")).over(w))).as("s_up"),
          (col("pn") - least(lit(0L), min(col("pn")).over(w))).as("s_dn"),
          ((col("p") - least(lit(0L), min(col("p")).over(w))) > col("mu_c")).as("alarm_up"),
          ((col("pn") - least(lit(0L), min(col("pn")).over(w))) > col("mu_c")).as("alarm_dn"))
    }),
    // q_theilsen: identical integral-division slopes (truncation toward
    // zero verified identical in both engines), lower median by exact rank
    "q_theilsen" -> Query(
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS d,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_c
           FROM orders GROUP BY 1),
         pairs AS (SELECT a.d AS da, date_diff('day', a.d, b.d) AS off,
             (1000000 * (b.rev_c - a.rev_c)) // date_diff('day', a.d, b.d) AS slope_micro
           FROM daily a JOIN daily b ON b.d > a.d AND b.d <= a.d + INTERVAL 365 DAY),
         n AS (SELECT count(*) AS n_pairs FROM pairs)
         SELECT slope_micro AS median_slope_micro, n_pairs
         FROM (SELECT slope_micro, row_number() OVER (ORDER BY slope_micro, da, off) AS rn
               FROM pairs), n
         WHERE rn = (n_pairs + 1) // 2""")((s, dir) => {
      // Theil–Sen robust trend of the daily revenue series: the median
      // of pairwise slopes, restricted to pairs ≤ 365 days apart so the
      // pair count grows LINEARLY in the calendar (unwindowed Theil–Sen
      // is quadratic in days). The date-range pairing is an explode of
      // bounded integer offsets + an EQUI-join (never an inequality
      // join's nested loop); slopes are exact micro-cents/day via
      // integral division (truncation toward zero — verified identical
      // in both engines, negatives included); the median is picked by
      // EXACT distributed rank (Ranks.groupedRank — range-partitioned
      // ranks + offset scalars, no single-partition sort). Slope
      // numerators are 10⁶·Δcents — bigint-safe through ~10¹² daily
      // cents; beyond that, downscale the unit (ANSI overflow throws
      // loudly rather than corrupting).
      val daily = T(s, dir, "orders")
        .groupBy(col("o_orderdate").cast("date").as("d"))
        .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("rev_c"))
        .localCheckpoint(true)
      val pairs = daily
        .withColumn("off", explode(sequence(lit(1), lit(365))))
        .withColumn("d2", date_add(col("d"), col("off")))
        .as("a")
        .join(daily.as("b"), col("b.d") === col("a.d2"))
        .select(col("a.d").as("da"), col("a.off").as("off"),
          expr("(1000000 * (b.rev_c - a.rev_c)) div a.off").as("slope_micro"))
      val ranked = ext.Ranks.groupedRank(
        pairs.withColumn("__grp__", lit(0)), "__grp__",
        Seq(col("slope_micro"), col("da"), col("off")), "rn")
      ranked.filter(expr("rn = (rn_n + 1) div 2"))
        .select(col("slope_micro").as("median_slope_micro"),
          col("rn_n").as("n_pairs"))
    }),
    // q_acf: exact decimal/HUGEINT sufficient statistics; r_micro via
    // sign-split integral division (nonnegative operands truncate the
    // same way in both engines)
    "q_acf" -> Query(
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS d,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_c
           FROM orders GROUP BY 1),
         tot AS (SELECT CAST(sum(rev_c) AS BIGINT) AS tr, count(*) AS nd FROM daily),
         mu AS (SELECT tr // nd AS mu_c, nd FROM tot),
         dev AS (SELECT d, rev_c - mu_c AS dv, row_number() OVER (ORDER BY d) AS i
           FROM daily, mu),
         den AS (SELECT sum(CAST(dv AS HUGEINT) * dv) AS den FROM dev),
         lags AS (SELECT CAST(unnest(range(1, 8)) AS INTEGER) AS lag_k),
         pairs AS (SELECT l.lag_k, a.dv AS da, b.dv AS db
           FROM lags l CROSS JOIN dev a JOIN dev b ON b.i = a.i + l.lag_k),
         num AS (SELECT lag_k, sum(CAST(da AS HUGEINT) * db) AS num,
           count(*) AS n_pairs FROM pairs GROUP BY 1)
         SELECT lag_k, mu.nd AS n_days, n_pairs, mu.mu_c,
           CAST(num AS VARCHAR) AS num, CAST(den.den AS VARCHAR) AS den,
           CAST(CASE WHEN num < 0 THEN -1 WHEN num > 0 THEN 1 ELSE 0 END AS BIGINT) *
             CAST((abs(num) * 1000000) // den.den AS BIGINT) AS r_micro
         FROM num, den, mu""")((s, dir) => {
      // autocorrelation of the daily revenue series at lags 1..7, the
      // ENGINE-EXACT way (q_moments' doctrine): deviations are taken
      // against the integer-truncated mean, the per-lag numerator and
      // the denominator are EXACT decimal sums (order-free), and the
      // correlation is presented as a micro-scaled integer via
      // sign-split integral division (truncation toward zero matches
      // in both engines on nonnegative operands). The only window is a
      // row_number over the DAILY aggregate — a calendar-bounded frame
      // (q_cusum's argument), everything else is keyed shuffles.
      import org.apache.spark.sql.expressions.Window
      val daily = T(s, dir, "orders")
        .groupBy(col("o_orderdate").cast("date").as("d"))
        .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("rev_c"))
      val tot = daily.agg(sum(col("rev_c")).as("tr"), count(lit(1)).as("nd"))
      val mu = tot.select(expr("tr div nd").as("mu_c"), col("nd"))
      val dev = daily.crossJoin(broadcast(mu))
        .select(col("d"), (col("rev_c") - col("mu_c")).as("dv"),
          col("mu_c"), col("nd"))
        .withColumn("i", row_number().over(Window.orderBy(col("d"))))
        .localCheckpoint(true)
      val den = dev.agg(
        sum(col("dv").cast("decimal(18,0)") * col("dv").cast("decimal(18,0)"))
          .cast("decimal(38,0)").as("den"))
      val pairs = (1 to 7).map { k =>
        dev.as("a").join(dev.as("b"), col("b.i") === col("a.i") + k)
          .select(lit(k).as("lag_k"), col("a.dv").as("da"), col("b.dv").as("db"))
      }.reduce(_ union _)
      val num = pairs.groupBy("lag_k").agg(
        sum(col("da").cast("decimal(18,0)") * col("db").cast("decimal(18,0)"))
          .cast("decimal(38,0)").as("num"),
        count(lit(1)).as("n_pairs"))
      num.crossJoin(broadcast(den)).crossJoin(broadcast(mu))
        .select(col("lag_k"), col("nd").as("n_days"), col("n_pairs"), col("mu_c"),
          col("num").cast("string").as("num"), col("den").cast("string").as("den"),
          expr("CAST(CASE WHEN num < 0 THEN -1 WHEN num > 0 THEN 1 ELSE 0 END AS BIGINT)" +
            " * (CAST(abs(num) * 1000000 AS DECIMAL(38,0)) div den)").as("r_micro"))
    }),
    // q_xcorr: exact HUGEINT moment sums per lag; the final Pearson r is
    // one double tree over them (IEEE sqrt is correctly rounded)
    "q_xcorr" -> Query(
      """WITH daily AS (SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS x, CAST(sum(CAST(round(value * 10000) AS BIGINT)) AS BIGINT) AS y FROM events GROUP BY 1),
         pairs AS (SELECT CAST(t.k AS INTEGER) AS lag_k, a.x, b.y
                   FROM daily a, (SELECT unnest(range(-3, 4)) AS k) t, daily b
                   WHERE a.d + CAST(t.k AS INTEGER) = b.d),
         g AS (SELECT lag_k, CAST(count(*) AS BIGINT) AS n_pairs,
                 sum(x::HUGEINT) AS sx, sum(y::HUGEINT) AS sy,
                 sum(x::HUGEINT * y) AS sxy, sum(x::HUGEINT * x) AS sxx, sum(y::HUGEINT * y) AS syy
               FROM pairs GROUP BY 1)
         SELECT lag_k, n_pairs, CAST(sx AS VARCHAR) AS sx, CAST(sy AS VARCHAR) AS sy, CAST(sxy AS VARCHAR) AS sxy,
           CAST(n_pairs::HUGEINT * sxy - sx * sy AS DOUBLE)
           / (sqrt(CAST(n_pairs::HUGEINT * sxx - sx * sx AS DOUBLE))
              * sqrt(CAST(n_pairs::HUGEINT * syy - sy * sy AS DOUBLE))) AS r
         FROM g""")((s, dir) => {
      // lead-lag cross-correlation between daily event VOLUME and daily
      // event VALUE at lags −3..+3 — the "does activity lead value?"
      // probe. Per lag: exact integer moment sums (n, Σx, Σy, Σxy, Σx²,
      // Σy²) over the date-aligned pairs via q_theilsen's bounded-offset
      // EQUI-join; Pearson r is ONE double expression over those exact
      // integers — identical tree in the oracle, and IEEE sqrt is
      // correctly rounded, so the doubles are bit-identical (the
      // sim_topk argument). No windows; keyed shuffles only.
      val daily = events(s, dir)
        .groupBy(col("ts").cast("date").as("d"))
        .agg(count(lit(1)).as("x"),
          sum(round(col("value") * 10000).cast("long")).as("y"))
        .localCheckpoint(true)
      val pairs = daily.select(col("d"), col("x"))
        .withColumn("lag_k", explode(sequence(lit(-3), lit(3))))
        .select(col("lag_k"), col("x"), date_add(col("d"), col("lag_k")).as("d2"))
        .join(daily.select(col("d"), col("y")), col("d2") === col("d"))
      pairs.groupBy("lag_k").agg(
          count(lit(1)).as("n_pairs"),
          sum(col("x").cast("decimal(18,0)")).cast("decimal(38,0)").as("sx"),
          sum(col("y").cast("decimal(18,0)")).cast("decimal(38,0)").as("sy"),
          sum(col("x").cast("decimal(18,0)") * col("y").cast("decimal(18,0)"))
            .cast("decimal(38,0)").as("sxy"),
          sum(col("x").cast("decimal(18,0)") * col("x").cast("decimal(18,0)"))
            .cast("decimal(38,0)").as("sxx"),
          sum(col("y").cast("decimal(18,0)") * col("y").cast("decimal(18,0)"))
            .cast("decimal(38,0)").as("syy"))
        .select(col("lag_k"), col("n_pairs"),
          col("sx").cast("string").as("sx"), col("sy").cast("string").as("sy"),
          col("sxy").cast("string").as("sxy"),
          expr("""CAST(CAST(n_pairs AS DECIMAL(38,0)) * sxy - sx * sy AS DOUBLE)
                  / (sqrt(CAST(CAST(n_pairs AS DECIMAL(38,0)) * sxx - sx * sx AS DOUBLE))
                     * sqrt(CAST(CAST(n_pairs AS DECIMAL(38,0)) * syy - sy * sy AS DOUBLE)))""")
            .as("r"))
    }),

    "q_rolling_corr" -> Query(
      """WITH daily AS (SELECT CAST(l_shipdate AS DATE) AS d, CAST(sum(CAST(l_quantity AS HUGEINT)) AS HUGEINT) AS x, CAST(sum(CAST(round(l_extendedprice * 100) AS HUGEINT)) AS HUGEINT) AS y FROM lineitem GROUP BY 1), dk AS (SELECT d, x, y, CAST(datediff('day', DATE '1970-01-01', d) AS BIGINT) AS dk FROM daily), w AS (SELECT d, CAST(count(*) OVER win AS HUGEINT) AS n, sum(x) OVER win AS sx, sum(y) OVER win AS sy, sum(x * x) OVER win AS sxx, sum(y * y) OVER win AS syy, sum(x * y) OVER win AS sxy FROM dk WINDOW win AS (ORDER BY dk RANGE BETWEEN 29 PRECEDING AND CURRENT ROW)) SELECT d, CAST(n AS BIGINT) AS n_days, CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0 THEN CAST(round(CAST(n * sxy - sx * sy AS DOUBLE) / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) * sqrt(CAST(n * syy - sy * sy AS DOUBLE))) * 1000000) AS BIGINT) END AS corr_micro FROM w""")((s, dir) => {
      // 30-day rolling correlation between daily revenue and daily
      // quantity: raw rows collapse to the bounded DAY domain first
      // (one hash agg), then a RANGE window over epoch-day indices
      // accumulates exact DECIMAL Gram sums — the window runs over
      // ~2.5k aggregated rows, never the raw frame. Zero-variance
      // windows yield NULL via the exact integer guard.
      import org.apache.spark.sql.expressions.Window
      val daily = T(s, dir, "lineitem")
        .groupBy(to_date(col("l_shipdate")).as("d"))
        .agg(sum(col("l_quantity").cast("decimal(38,0)")).as("x"),
          sum(round(col("l_extendedprice") * 100).cast("decimal(38,0)")).as("y"))
        .withColumn("dk", datediff(col("d"), lit("1970-01-01").cast("date")).cast("long"))
      val w = Window.orderBy("dk").rangeBetween(-29, 0)
      daily
        .withColumn("n", count(lit(1)).over(w).cast("decimal(38,0)"))
        .withColumn("sx", sum("x").over(w)).withColumn("sy", sum("y").over(w))
        .withColumn("sxx", sum(expr("x * x")).over(w))
        .withColumn("syy", sum(expr("y * y")).over(w))
        .withColumn("sxy", sum(expr("x * y")).over(w))
        .select(col("d"), col("n").cast("long").as("n_days"),
          expr("""CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
                 THEN CAST(round(CAST(n * sxy - sx * sy AS DOUBLE)
                      / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                         * sqrt(CAST(n * syy - sy * sy AS DOUBLE))) * 1000000) AS BIGINT)
                 END""").as("corr_micro"))
    }),

    "q_bollinger" -> Query(
      """WITH daily AS (SELECT CAST(l_shipdate AS DATE) AS d, CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS HUGEINT) AS x FROM lineitem GROUP BY 1), dk AS (SELECT d, x, CAST(datediff('day', DATE '1970-01-01', d) AS BIGINT) AS dk FROM daily), w AS (SELECT d, x, CAST(count(*) OVER win AS HUGEINT) AS n, sum(x) OVER win AS s, sum(x * x) OVER win AS ss FROM dk WINDOW win AS (ORDER BY dk RANGE BETWEEN 19 PRECEDING AND CURRENT ROW)) SELECT d, CAST(x AS BIGINT) AS rev_c, CAST(n AS BIGINT) AS n_days, CAST((s * 1000000) // n AS BIGINT) AS mean_micro, CASE WHEN n > 1 THEN (n * x - s) * (n * x - s) * (n - 1) > 4 * n * (n * ss - s * s) AND n * x > s ELSE false END AS break_upper, CASE WHEN n > 1 THEN (n * x - s) * (n * x - s) * (n - 1) > 4 * n * (n * ss - s * s) AND n * x < s ELSE false END AS break_lower FROM w""")((s, dir) => {
      // Bollinger bands with an exact breakout test: daily revenue vs
      // the trailing 20-day mean ± 2σ, where the band predicate is the
      // division-free integer comparison (n·x − s)²·(n−1) > 4·n·(n·ss − s²)
      // — no float σ ever materializes. Day-domain agg first; RANGE
      // window over the bounded day grid only (the q_rolling_corr shape).
      import org.apache.spark.sql.expressions.Window
      val daily = T(s, dir, "lineitem")
        .groupBy(to_date(col("l_shipdate")).as("d"))
        .agg(sum(round(col("l_extendedprice") * 100).cast("decimal(38,0)")).as("x"))
        .withColumn("dk", datediff(col("d"), lit("1970-01-01").cast("date")).cast("long"))
      val w = Window.orderBy("dk").rangeBetween(-19, 0)
      daily
        .withColumn("n", count(lit(1)).over(w).cast("decimal(38,0)"))
        .withColumn("s", sum("x").over(w))
        .withColumn("ss", sum(expr("x * x")).over(w))
        .select(col("d"), col("x").cast("long").as("rev_c"),
          col("n").cast("long").as("n_days"),
          expr("CAST((s * 1000000) div n AS BIGINT)").as("mean_micro"),
          expr("""CASE WHEN n > 1 THEN
                 (n * x - s) * (n * x - s) * (n - 1) > 4 * n * (n * ss - s * s)
                 AND n * x > s ELSE false END""").as("break_upper"),
          expr("""CASE WHEN n > 1 THEN
                 (n * x - s) * (n * x - s) * (n - 1) > 4 * n * (n * ss - s * s)
                 AND n * x < s ELSE false END""").as("break_lower"))
    }),

    "q_stl" -> Query(
      """WITH daily AS (SELECT CAST(l_shipdate AS DATE) AS d, CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS HUGEINT) AS x FROM lineitem GROUP BY 1), dk AS (SELECT d, x, CAST(datediff('day', DATE '1970-01-01', d) AS BIGINT) AS dk, CAST(dayofweek(d) AS BIGINT) AS dow FROM daily), tr AS (SELECT d, x, dow, CAST(count(*) OVER win AS HUGEINT) AS n7, sum(x) OVER win AS s7 FROM dk WINDOW win AS (ORDER BY dk RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING)), de AS (SELECT d, x, dow, (s7 * 1000000) // n7 AS trend_micro, x * 1000000 - (s7 * 1000000) // n7 AS d_micro FROM tr), se AS (SELECT dow, sum(d_micro) // count(*) AS seasonal_micro FROM de GROUP BY 1) SELECT de.d, CAST(de.x AS BIGINT) AS rev_c, CAST(trend_micro AS BIGINT) AS trend_micro, CAST(seasonal_micro AS BIGINT) AS seasonal_micro, CAST(d_micro - seasonal_micro AS BIGINT) AS resid_micro FROM de JOIN se USING (dow)""")((s, dir) => {
      // STL-lite seasonal decomposition of daily revenue: trend is the
      // centered 7-day RANGE mean over the bounded day domain, seasonal
      // is the per-weekday mean of the detrended series (7-row broadcast
      // join back), residual closes the identity x·1e6 = trend +
      // seasonal + resid exactly — every term an integral micro value,
      // truncating division shared by both engines.
      import org.apache.spark.sql.expressions.Window
      val daily = T(s, dir, "lineitem")
        .groupBy(to_date(col("l_shipdate")).as("d"))
        .agg(sum(round(col("l_extendedprice") * 100).cast("decimal(38,0)")).as("x"))
        .withColumn("dk", datediff(col("d"), lit("1970-01-01").cast("date")).cast("long"))
        .withColumn("dow", (dayofweek(col("d")) - 1).cast("long"))
      val w = Window.orderBy("dk").rangeBetween(-3, 3)
      val detr = daily
        .withColumn("n7", count(lit(1)).over(w).cast("decimal(38,0)"))
        .withColumn("s7", sum("x").over(w))
        .withColumn("trend_micro", expr("(s7 * 1000000) div n7"))
        .withColumn("d_micro", expr("x * 1000000 - trend_micro"))
        .localCheckpoint(true) // seasonal agg + final join read one frame
      val seas = detr.groupBy("dow")
        .agg(expr("sum(d_micro) div count(1)").as("seasonal_micro"))
      detr.join(broadcast(seas), "dow")
        .select(col("d"), col("x").cast("long").as("rev_c"),
          col("trend_micro").cast("long").as("trend_micro"),
          col("seasonal_micro").cast("long").as("seasonal_micro"),
          expr("CAST(d_micro - seasonal_micro AS BIGINT)").as("resid_micro"))
    }),

    "q_cohort_ltv" -> Query(
      """WITH o AS (SELECT o_custkey, year(o_orderdate) AS yr, CAST(round(o_totalprice * 100) AS BIGINT) AS price_c FROM orders), f AS (SELECT o_custkey, min(yr) AS yr0 FROM o GROUP BY 1), d(dy, decay_micro) AS (VALUES (0, 1000000), (1, 900000), (2, 810000), (3, 729000), (4, 656100), (5, 590490), (6, 531441), (7, 478296), (8, 430467), (9, 387420), (10, 348678)) SELECT CAST(f.yr0 AS BIGINT) AS cohort_year, CAST(count(DISTINCT o.o_custkey) AS BIGINT) AS n_customers, CAST(sum((price_c * decay_micro) // 1000000) AS BIGINT) AS ltv_c, CAST((sum((price_c * decay_micro) // 1000000) * 1000000) // count(DISTINCT o.o_custkey) AS BIGINT) AS avg_ltv_micro FROM o JOIN f USING (o_custkey) JOIN d ON d.dy = o.yr - f.yr0 GROUP BY 1""")((s, dir) => {
      // cohort-level lifetime value: ev_ltv's per-order decayed credits
      // (same literal decay table) rolled up by first-order-year cohort —
      // the acquisition-quality readout. Two hash aggs + one broadcast
      // join; no per-customer intermediate survives the plan.
      val o = T(s, dir, "orders").select(col("o_custkey"),
        year(col("o_orderdate")).as("yr"),
        round(col("o_totalprice") * 100).cast("long").as("price_c"))
      val firstYr = o.groupBy("o_custkey").agg(min("yr").as("yr0"))
      val decay = s.createDataFrame(ltvDecayMicro).toDF("dy", "decay_micro")
      o.join(firstYr, "o_custkey")
        .withColumn("dy", (col("yr") - col("yr0")).cast("long"))
        .join(broadcast(decay), "dy")
        .groupBy(col("yr0").cast("long").as("cohort_year"))
        .agg(countDistinct(col("o_custkey")).as("n_customers"),
          sum(expr("(price_c * decay_micro) div 1000000")).as("ltv_c"))
        .withColumn("avg_ltv_micro", expr("(ltv_c * 1000000) div n_customers"))
    }),
    // q_ewma: the same 20-term truncated kernel as literal VALUES
    "q_ewma" -> Query(
      """WITH daily AS (SELECT CAST(l_shipdate AS DATE) AS d, CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS HUGEINT) AS x FROM lineitem GROUP BY 1), dk AS (SELECT d, x, CAST(datediff('day', DATE '1970-01-01', d) AS BIGINT) AS dk FROM daily), w(j, w) AS (VALUES (0, 200000), (1, 160000), (2, 128000), (3, 102400), (4, 81920), (5, 65536), (6, 52428), (7, 41943), (8, 33554), (9, 26843), (10, 21474), (11, 17179), (12, 13743), (13, 10995), (14, 8796), (15, 7036), (16, 5629), (17, 4503), (18, 3602), (19, 2882)), conv AS (SELECT a.d, CAST(w.w AS HUGEINT) * b.x AS wx, CAST(w.w AS HUGEINT) AS wt FROM dk a CROSS JOIN w JOIN dk b ON b.dk = a.dk - w.j) SELECT d, CAST(count(*) AS BIGINT) AS n_terms, CAST((sum(wx) * 1000000) // sum(wt) AS BIGINT) AS ewma_micro FROM conv GROUP BY 1""")((s, dir) => {
      // EWMA (α = 0.2) WITHOUT the sequential recurrence: the 20-term
      // truncated kernel w_j = ⌊0.2·0.8^j·1e6⌋ is a literal table
      // (shared with the oracle), so the moving average becomes a
      // bounded-kernel convolution — day domain × 20 equi-join on the
      // lag offset, one keyed agg, edge-normalized by the weights
      // actually present. The ev_ltv decay-table pattern applied to
      // smoothing: no window recurrence, no cross-partition state.
      val daily = T(s, dir, "lineitem")
        .groupBy(to_date(col("l_shipdate")).as("d"))
        .agg(sum(round(col("l_extendedprice") * 100).cast("decimal(38,0)")).as("x"))
        .withColumn("dk", datediff(col("d"), lit("1970-01-01").cast("date")).cast("long"))
        .localCheckpoint(true) // anchor side AND lag side read one frame
      val w = s.createDataFrame(ewmaKernelMicro).toDF("j", "w")
      val lags = daily.select(col("dk").as("ldk"), col("x").as("lx"))
      daily.crossJoin(broadcast(w))
        .join(lags, col("ldk") === col("dk") - col("j"))
        .groupBy("d")
        .agg(sum(expr("w * lx")).as("swx"), sum("w").as("sw"),
          count(lit(1)).as("n_terms"))
        .select(col("d"), col("n_terms"),
          expr("(swx * 1000000) div sw").as("ewma_micro"))
    }),

    "q_movers" -> Query(
      """WITH g AS (SELECT l_partkey, CAST(sum(CASE WHEN year(l_shipdate) = 1997 THEN CAST(round(l_extendedprice * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS rev97_c, CAST(sum(CASE WHEN year(l_shipdate) = 1998 THEN CAST(round(l_extendedprice * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS rev98_c FROM lineitem WHERE year(l_shipdate) IN (1997, 1998) GROUP BY 1) SELECT l_partkey, rev97_c, rev98_c, rev98_c - rev97_c AS delta_c FROM g ORDER BY abs(rev98_c - rev97_c) DESC, l_partkey LIMIT 20""")((s, dir) => {
      // top-20 revenue movers between 1997 and 1998: one conditional-
      // aggregation pass per part, absolute-delta ranking via
      // TakeOrderedAndProject (never a full sort). The YoY drill-down
      // companion to q_yoy's aggregate view.
      T(s, dir, "lineitem")
        .filter(year(col("l_shipdate")).isin(1997, 1998))
        .groupBy(col("l_partkey"))
        .agg(sum(when(year(col("l_shipdate")) === 1997,
            round(col("l_extendedprice") * 100).cast("long")).otherwise(0L)).as("rev97_c"),
          sum(when(year(col("l_shipdate")) === 1998,
            round(col("l_extendedprice") * 100).cast("long")).otherwise(0L)).as("rev98_c"))
        .withColumn("delta_c", col("rev98_c") - col("rev97_c"))
        .orderBy(abs(col("delta_c")).desc, col("l_partkey").asc)
        .limit(20)
    }),

    "q_runs_test" -> Query(
      """WITH daily AS (SELECT CAST(l_shipdate AS DATE) AS d, CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS x FROM lineitem GROUP BY 1), h AS (SELECT x, CAST(count(*) AS BIGINT) AS c FROM daily GROUP BY 1), cw AS (SELECT x, sum(c) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum, sum(c) OVER () AS n FROM h), med AS (SELECT min(CASE WHEN cum * 2 >= n THEN x END) AS med FROM cw), sg AS (SELECT d, x > med AS up FROM daily, med WHERE x <> med), ch AS (SELECT up, CASE WHEN lag(up, 1) OVER (ORDER BY d) IS NULL OR lag(up, 1) OVER (ORDER BY d) <> up THEN 1 ELSE 0 END AS chg FROM sg), g AS (SELECT CAST(sum(CASE WHEN up THEN 1 ELSE 0 END) AS BIGINT) AS n1, CAST(sum(CASE WHEN NOT up THEN 1 ELSE 0 END) AS BIGINT) AS n2, CAST(sum(chg) AS BIGINT) AS r FROM ch) SELECT n1, n2, r AS runs, CAST(round((CAST(r AS DOUBLE) - (1.0 + 2.0 * n1 * n2 / (n1 + n2))) / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - (n1 + n2)) / (CAST(n1 + n2 AS DOUBLE) * (n1 + n2) * (n1 + n2 - 1))) * 1000000) AS BIGINT) AS z_micro FROM g""")((s, dir) => {
      // Wald–Wolfowitz runs test on the daily-revenue sign sequence:
      // above/below the exact histogram median (ties at the median
      // dropped, per the test's definition), runs counted by one lag
      // window over the bounded day domain, then the z statistic from
      // exact integer (n1, n2, R) through mirrored IEEE ops. The
      // randomness audit that pairs with q_acf's autocorrelation view.
      import org.apache.spark.sql.expressions.Window
      val daily = T(s, dir, "lineitem")
        .groupBy(to_date(col("l_shipdate")).as("d"))
        .agg(sum(round(col("l_extendedprice") * 100).cast("long")).as("x"))
        .localCheckpoint(true) // median histogram + sign sequence
      val h = daily.groupBy("x").agg(count(lit(1)).as("c"))
      val wch = Window.orderBy("x")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val med = h.withColumn("cum", sum("c").over(wch))
        .withColumn("n", sum("c").over(Window.partitionBy()))
        .agg(min(when(col("cum") * 2 >= col("n"), col("x"))).as("med"))
      val signs = daily.crossJoin(broadcast(med))
        .filter(col("x") =!= col("med"))
        .select(col("d"), (col("x") > col("med")).as("up"))
      val wd = Window.orderBy("d")
      val runs = signs
        .withColumn("chg", when(lag(col("up"), 1).over(wd).isNull ||
          lag(col("up"), 1).over(wd) =!= col("up"), 1L).otherwise(0L))
        .agg(sum(when(col("up"), 1L).otherwise(0L)).as("n1"),
          sum(when(!col("up"), 1L).otherwise(0L)).as("n2"),
          sum("chg").as("r"))
      runs.select(col("n1"), col("n2"), col("r").as("runs"),
        expr("""CAST(round((CAST(r AS DOUBLE)
               - (1.0 + 2.0 * n1 * n2 / (n1 + n2)))
               / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - (n1 + n2))
                      / (CAST(n1 + n2 AS DOUBLE) * (n1 + n2) * (n1 + n2 - 1)))
               * 1000000) AS BIGINT)""").as("z_micro"))
    }),

    "q_changepoint" -> Query(
      """WITH daily AS (SELECT l_shipdate AS d, CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS x FROM lineitem GROUP BY 1), c AS (SELECT d, CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS i, sum(x) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s1, CAST(count(*) OVER () AS BIGINT) AS n, sum(x) OVER () AS st FROM daily), g AS (SELECT d, i, n, CAST(s1 AS HUGEINT) * (n - i) - CAST(st - s1 AS HUGEINT) * i AS diff FROM c WHERE i < n) SELECT d AS split_after, i AS n_left, n - i AS n_right, CAST((diff * diff) // (CAST(i * (n - i) * n AS HUGEINT) * 10000) AS BIGINT) AS gain FROM g ORDER BY gain DESC, split_after LIMIT 3""")((s, dir) => {
      // change-point detection (binary segmentation, one split): the
      // split of the daily-revenue series maximizing the between-
      // segment sum-of-squares gain (s₁(n−i) − s₂·i)² / (i(n−i)n) —
      // exact integers end-to-end (DECIMAL(38,0) for the squared term,
      // HUGEINT in the oracle), argmax by TakeOrdered(3). Windows run
      // on the bounded day domain only (whitelisted).
      import org.apache.spark.sql.expressions.Window
      val daily = T(s, dir, "lineitem")
        .groupBy(col("l_shipdate").as("d"))
        .agg(sum(expr("CAST(round(l_extendedprice * 100) AS BIGINT)")).as("x"))
      val w = Window.orderBy("d")
      val cum = daily
        .withColumn("i", row_number().over(w).cast("long"))
        .withColumn("s1", sum("x").over(w.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)))
        .withColumn("n", count(lit(1)).over(Window.partitionBy()))
        .withColumn("st", sum("x").over(Window.partitionBy()))
      cum.filter(col("i") < col("n"))
        .withColumn("diff", expr(
          "CAST(s1 AS DECIMAL(38,0)) * (n - i) - CAST(st - s1 AS DECIMAL(38,0)) * i"))
        // gain in whole dollars² (÷10⁴ folded into the denominator so the
        // single integral divide stays within BIGINT)
        .withColumn("gain", expr(
          "CAST((diff * diff) div (CAST(i * (n - i) * n AS DECIMAL(38,0)) * 10000) AS BIGINT)"))
        .select(col("d").as("split_after"), col("i").as("n_left"),
          (col("n") - col("i")).as("n_right"), col("gain"))
        .orderBy(col("gain").desc, col("split_after"))
        .limit(3)
    }),
    // q_croston: the q_ewma kernel literals replayed over the occurrence
    // index, for both the size and the inter-arrival series
    "q_croston" -> Query(
      s"""WITH occ AS (SELECT CAST(l_shipdate AS DATE) AS d, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS z FROM lineitem WHERE l_partkey % 211 = 0 GROUP BY 1), ix AS (SELECT d, z, CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS k, coalesce(CAST(datediff('day', lag(d, 1) OVER (ORDER BY d), d) AS BIGINT), 1) AS gap FROM occ), w(j, w) AS (VALUES ${ewmaKernelMicro.map { case (j, v) => s"($j, $v)" }.mkString(", ")}), conv AS (SELECT a.d, a.k, a.z, a.gap, CAST(w.w AS BIGINT) * b.z AS wz, CAST(w.w AS BIGINT) * b.gap AS wg, CAST(w.w AS BIGINT) AS wt FROM ix a CROSS JOIN w JOIN ix b ON b.k = a.k - w.j) SELECT d, k, z, gap, CAST((sum(wz) * 1000000) // sum(wt) AS BIGINT) AS z_hat_micro, CAST((sum(wg) * 1000000) // sum(wt) AS BIGINT) AS p_hat_micro, CAST((((sum(wz) * 1000000) // sum(wt)) * 1000000) // ((sum(wg) * 1000000) // sum(wt)) AS BIGINT) AS croston_micro FROM conv GROUP BY 1, 2, 3, 4""")((s, dir) => {
      // Croston's intermittent-demand forecast: sparse daily demand (a
      // 1-in-211 part slice) → nonzero occurrences indexed k; demand
      // size AND inter-arrival gap smoothed with the SAME 20-term
      // truncated EWMA kernel as q_ewma (convolution join on the
      // occurrence index — no sequential recurrence), forecast ẑ/p̂ per
      // occurrence in micro units. Occurrence indexing runs on the
      // bounded day domain (whitelisted).
      import org.apache.spark.sql.expressions.Window
      val wd = Window.orderBy("d")
      val occ = T(s, dir, "lineitem")
        .filter(col("l_partkey") % 211 === 0)
        .groupBy(to_date(col("l_shipdate")).as("d"))
        .agg(sum(col("l_quantity").cast("long")).as("z"))
        .withColumn("k", row_number().over(wd).cast("long"))
        .withColumn("gap", coalesce(
          datediff(col("d"), lag(col("d"), 1).over(wd)).cast("long"), lit(1L)))
        .localCheckpoint(true) // anchor + lag sides of the convolution
      val w = s.createDataFrame(ewmaKernelMicro).toDF("j", "w")
      val lagd = occ.select(col("k").as("lk"), col("z").as("lz"), col("gap").as("lgap"))
      occ.crossJoin(broadcast(w))
        .join(lagd, col("lk") === col("k") - col("j"))
        .groupBy("d", "k", "z", "gap")
        .agg(sum(expr("w * lz")).as("swz"), sum(expr("w * lgap")).as("swg"),
          sum("w").as("sw"))
        .select(col("d"), col("k"), col("z"), col("gap"),
          expr("(swz * 1000000) div sw").as("z_hat_micro"),
          expr("(swg * 1000000) div sw").as("p_hat_micro"),
          expr("(((swz * 1000000) div sw) * 1000000) div ((swg * 1000000) div sw)")
            .as("croston_micro"))
    }),

    "q_mannkendall" -> Query(
      """WITH daily AS (SELECT l_shipdate AS d, CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS x FROM lineitem GROUP BY 1), p AS (SELECT CAST(sum(CASE WHEN b.x > a.x THEN 1 WHEN b.x < a.x THEN -1 ELSE 0 END) AS BIGINT) AS s FROM daily a JOIN daily b ON a.d < b.d), ti AS (SELECT CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term FROM (SELECT CAST(count(*) AS BIGINT) AS t FROM daily GROUP BY x)), nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM daily) SELECT n, s, (n * (n - 1) * (2 * n + 5) - tie_term) // 18 AS var_s, CAST(round((CAST(s AS DOUBLE) - CAST(sign(s) AS DOUBLE)) / sqrt(CAST((n * (n - 1) * (2 * n + 5) - tie_term) // 18 AS DOUBLE)) * 1000000) AS BIGINT) AS z_micro FROM p, ti, nn""")((s, dir) => {
      // Mann-Kendall trend test on daily revenue: S = Σ_{i<j}
      // sign(x_j − x_i) over the bounded day panel (one side broadcast,
      // so the quadratic stays a BroadcastNestedLoop over ≤n_days²
      // pairs — never a data-scale pattern), tie-corrected variance in
      // exact integers, continuity-corrected z rounded once to micro.
      val daily = T(s, dir, "lineitem")
        .groupBy(col("l_shipdate").as("d"))
        .agg(sum(expr("CAST(round(l_extendedprice * 100) AS BIGINT)")).as("x"))
        .localCheckpoint(true) // pair join (twice), ties, and n share it
      val pairs = daily.select(col("d").as("d1"), col("x").as("x1"))
        .join(broadcast(daily.select(col("d").as("d2"), col("x").as("x2"))),
          col("d1") < col("d2"))
        .agg(sum(signum(col("x2") - col("x1")).cast("long")).as("s"))
      val ties = daily.groupBy("x").agg(count(lit(1)).as("t"))
        .agg(sum(expr("t * (t - 1) * (2 * t + 5)")).as("tie_term"),
          count(lit(1)).as("n_values"))
      val n = daily.agg(count(lit(1)).as("n"))
      pairs.crossJoin(broadcast(ties)).crossJoin(broadcast(n))
        .select(col("n"), col("s"),
          expr("(n * (n - 1) * (2 * n + 5) - tie_term) div 18").as("var_s"),
          expr("""CAST(round((CAST(s AS DOUBLE) - CAST(sign(s) AS DOUBLE))
                 | / sqrt(CAST((n * (n - 1) * (2 * n + 5) - tie_term) div 18 AS DOUBLE))
                 | * 1000000) AS BIGINT)""".stripMargin).as("z_micro"))
    }),

    "q_burstiness" -> Query(
      """WITH dc AS (SELECT event_type, CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS c FROM events GROUP BY 1, 2), g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days, CAST(sum(c) AS BIGINT) AS total, sum(CAST(c AS HUGEINT) * c) AS ss FROM dc GROUP BY 1) SELECT event_type, n_days, total, CAST(((CAST(n_days AS HUGEINT) * ss - CAST(total AS HUGEINT) * total) * 1000000) // (CAST(n_days AS HUGEINT) * total) AS BIGINT) AS fano_micro FROM g""")((s, dir) => {
      // burstiness (Fano factor / index of dispersion) per event type:
      // variance-to-mean of daily counts in exact integer arithmetic —
      // fano_micro = (n·Σc² − (Σc)²)·10⁶ div (n·Σc). Two cascaded hash
      // aggs; >1 means bursty (clustered), <1 regular. Zero-event days
      // are absent by construction (observed-day convention). The
      // Σc² / (Σc)²·10⁶ products run in DECIMAL(38,0) (HUGEINT on the
      // oracle) so billion-row daily counts at 100 TB can't wrap int64;
      // the ratio itself is small, so the BIGINT output is safe.
      events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("d"))
        .agg(count(lit(1)).as("c"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_days"), sum("c").as("total"),
          sum(expr("CAST(c AS DECIMAL(38,0)) * c")).as("ss"))
        .select(col("event_type"), col("n_days"), col("total"),
          expr("""CAST(((CAST(n_days AS DECIMAL(38,0)) * ss
                 |  - CAST(total AS DECIMAL(38,0)) * total) * 1000000)
                 | div (CAST(n_days AS DECIMAL(38,0)) * total) AS BIGINT)""".stripMargin)
            .as("fano_micro"))
    }),

    "q_rolling_median" -> Query(
      """WITH daily AS (SELECT l_shipdate AS d, CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS x FROM lineitem GROUP BY 1), w AS (SELECT d, x, list_sort(list(x) OVER (ORDER BY d ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) AS win FROM daily) SELECT d, x, CAST(len(win) AS BIGINT) AS n_win, CAST(win[CAST((len(win) + 1) // 2 AS INTEGER)] AS BIGINT) AS med_c FROM w""")((s, dir) => {
      // 7-day rolling MEDIAN of daily revenue — the robust twin of
      // q_moving's rolling mean: the bounded window materializes ≤7
      // values per day (collect over the day domain — whitelisted),
      // sorted in-row, lower median by integral rank. Integer cents
      // end-to-end.
      import org.apache.spark.sql.expressions.Window
      val w = Window.orderBy("d").rowsBetween(-6, Window.currentRow)
      T(s, dir, "lineitem")
        .groupBy(col("l_shipdate").as("d"))
        .agg(sum(expr("CAST(round(l_extendedprice * 100) AS BIGINT)")).as("x"))
        .withColumn("win", sort_array(collect_list(col("x")).over(w)))
        .select(col("d"), col("x"),
          size(col("win")).cast("long").as("n_win"),
          expr("element_at(win, CAST((size(win) + 1) div 2 AS INT))").as("med_c"))
    }),

    "q_volatility" -> Query(
      """WITH daily AS (SELECT l_shipdate AS d, CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS x FROM lineitem GROUP BY 1), r AS (SELECT d, CAST(round(ln(CAST(x AS DOUBLE) / CAST(lag(x, 1) OVER (ORDER BY d) AS DOUBLE)) * 1000000) AS BIGINT) AS r_micro FROM daily) SELECT CAST(date_trunc('month', d) AS DATE) AS month, CAST(count(*) AS BIGINT) AS n_days, CAST(sum(r_micro) AS BIGINT) AS sum_r_micro, CAST(round(sqrt(CAST(sum(r_micro * r_micro) AS DOUBLE) / count(*))) AS BIGINT) AS vol_micro FROM r WHERE r_micro IS NOT NULL GROUP BY 1""")((s, dir) => {
      // realized volatility per month: daily log-returns of revenue
      // (micro-rounded once per day — the only ln), monthly vol =
      // √(Σr²/n) in micro. Return indexing runs on the bounded day
      // domain (whitelisted); the month panel is tiny.
      T(s, dir, "lineitem")
        .groupBy(col("l_shipdate").as("d"))
        .agg(sum(expr("CAST(round(l_extendedprice * 100) AS BIGINT)")).as("x"))
        .withColumn("r_micro", expr(
          "CAST(round(ln(CAST(x AS DOUBLE) / CAST(lag(x, 1) OVER (ORDER BY d) AS DOUBLE)) * 1000000) AS BIGINT)"))
        .filter(col("r_micro").isNotNull)
        .groupBy(expr("date_trunc('month', d)").cast("date").as("month"))
        .agg(count(lit(1)).as("n_days"),
          sum("r_micro").as("sum_r_micro"),
          expr("CAST(round(sqrt(CAST(sum(r_micro * r_micro) AS DOUBLE) / count(1))) AS BIGINT)")
            .as("vol_micro"))
    }),

    "q_dw" -> Query(
      """WITH daily AS (SELECT l_shipdate AS d, CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS x FROM lineitem GROUP BY 1), t AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx FROM daily), l AS (SELECT x, lag(x, 1) OVER (ORDER BY d) AS xp FROM daily), g AS (SELECT CAST(max(n) AS BIGINT) AS n_days, sum(CASE WHEN xp IS NULL THEN 0::HUGEINT ELSE CAST(n AS HUGEINT) * n * (x - xp) * (x - xp) END) AS num, sum((CAST(n AS HUGEINT) * x - sx) * (CAST(n AS HUGEINT) * x - sx)) AS den FROM l, t) SELECT n_days, CAST((num * 1000000) // den AS BIGINT) AS dw_micro FROM g""")((s, dir) => {
      // Durbin-Watson autocorrelation diagnostic on daily revenue
      // residuals (mean-detrended): DW = Σ(eₜ−eₜ₋₁)²/Σeₜ², made exact
      // by scaling through n — numerator Σn²(xₜ−xₜ₋₁)², denominator
      // Σ(n·xₜ−S)², both DECIMAL(38,0). DW ≈ 2 means independent
      // residuals; < 1 strong positive autocorrelation. Day-domain lag
      // (whitelisted).
      import org.apache.spark.sql.expressions.Window
      val daily = T(s, dir, "lineitem")
        .groupBy(col("l_shipdate").as("d"))
        .agg(sum(expr("CAST(round(l_extendedprice * 100) AS BIGINT)")).as("x"))
        .localCheckpoint(true) // totals + lag pass
      val tot = daily.agg(count(lit(1)).as("n"), sum("x").as("sx"))
      daily
        .withColumn("xp", lag(col("x"), 1).over(Window.orderBy("d")))
        .crossJoin(broadcast(tot))
        .agg(max("n").as("n_days"),
          sum(expr(
            """CASE WHEN xp IS NULL THEN CAST(0 AS DECIMAL(38,0))
               | ELSE CAST(n AS DECIMAL(38,0)) * n * (x - xp) * (x - xp) END"""
              .stripMargin)).as("num"),
          sum(expr(
            "(CAST(n AS DECIMAL(38,0)) * x - sx) * (CAST(n AS DECIMAL(38,0)) * x - sx)"))
            .as("den"))
        .select(col("n_days"),
          expr("CAST((num * 1000000) div den AS BIGINT)").as("dw_micro"))
    }),
    // q_granger: Gram entries exact HUGEINT (mirrors the engine's
    // DECIMAL), Cramer solves and RSS identities in the SAME double op
    // order via staged CTEs mirroring the engine's staged selects.
    "q_granger" -> Query(
      """WITH daily AS (SELECT l_shipdate AS d, CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS y, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS x FROM lineitem GROUP BY 1), lagged AS (SELECT y, lag(y) OVER (ORDER BY d) AS y1, lag(x) OVER (ORDER BY d) AS x1 FROM daily), flt AS (SELECT y, y1, x1 FROM lagged WHERE y1 IS NOT NULL), g AS (SELECT CAST(count(*) AS HUGEINT) AS n, CAST(sum(y1) AS HUGEINT) AS g01, CAST(sum(x1) AS HUGEINT) AS g02, CAST(sum(y) AS HUGEINT) AS g0y, sum(CAST(y1 AS HUGEINT) * y1) AS g11, sum(CAST(y1 AS HUGEINT) * x1) AS g12, sum(CAST(y1 AS HUGEINT) * y) AS g1y, sum(CAST(x1 AS HUGEINT) * x1) AS g22, sum(CAST(x1 AS HUGEINT) * y) AS g2y, sum(CAST(y AS HUGEINT) * y) AS syy FROM flt), d0 AS (SELECT CAST(n AS BIGINT) AS n, CAST(n AS DOUBLE) AS a00, CAST(g01 AS DOUBLE) AS a01, CAST(g02 AS DOUBLE) AS a02, CAST(g0y AS DOUBLE) AS b0, CAST(g11 AS DOUBLE) AS a11, CAST(g12 AS DOUBLE) AS a12, CAST(g1y AS DOUBLE) AS b1, CAST(g22 AS DOUBLE) AS a22, CAST(g2y AS DOUBLE) AS b2, CAST(syy AS DOUBLE) AS syy FROM g), d1 AS (SELECT *, a00 * (a11 * a22 - a12 * a12) - a01 * (a01 * a22 - a12 * a02) + a02 * (a01 * a12 - a11 * a02) AS det3, a00 * a11 - a01 * a01 AS det2 FROM d0), d2 AS (SELECT n, a00, a01, a11, b0, b1, b2, syy, det2, (b0 * (a11 * a22 - a12 * a12) - a01 * (b1 * a22 - a12 * b2) + a02 * (b1 * a12 - a11 * b2)) / det3 AS bb0, (a00 * (b1 * a22 - a12 * b2) - b0 * (a01 * a22 - a12 * a02) + a02 * (a01 * b2 - b1 * a02)) / det3 AS bb1, (a00 * (a11 * b2 - a12 * b1) - a01 * (a01 * b2 - b1 * a02) + b0 * (a01 * a12 - a11 * a02)) / det3 AS bb2 FROM d1), d3 AS (SELECT n, a00, a01, a11, b0, b1, syy, det2, bb2, syy - ((bb0 * b0 + bb1 * b1) + bb2 * b2) AS rssu FROM d2), d4 AS (SELECT n, b0, b1, syy, bb2, rssu, (b0 * a11 - a01 * b1) / det2 AS aa0, (a00 * b1 - a01 * b0) / det2 AS aa1 FROM d3), d5 AS (SELECT n, bb2, rssu, syy - (aa0 * b0 + aa1 * b1) AS rssr FROM d4) SELECT n, CAST(round(bb2 * 1000000) AS BIGINT) AS beta_x_micro, CAST(round((rssr - rssu) / (rssu / CAST(n - 3 AS DOUBLE)) * 1000000) AS BIGINT) AS f_micro FROM d5""")((s, dir) => {
      // Granger causality at lag 1: does yesterday's shipped QUANTITY
      // improve today's REVENUE forecast beyond yesterday's revenue?
      // Restricted model y ~ 1 + y₋₁ vs unrestricted y ~ 1 + y₋₁ + x₋₁,
      // F = (RSS_r − RSS_u) / (RSS_u / (n−3)). ONE pass builds every
      // Gram entry as an exact DECIMAL(38,0) integer (HUGEINT oracle);
      // both 2×2 and 3×3 solves and the RSS identities
      // RSS = Σy² − βᵀ(Xᵀy) are closed-form doubles written in the SAME
      // operation order in both engines (the q_ols discipline). Day-
      // domain lag window (whitelisted).
      import org.apache.spark.sql.expressions.Window
      val daily = T(s, dir, "lineitem")
        .groupBy(col("l_shipdate").as("d"))
        .agg(sum(expr("CAST(round(l_extendedprice * 100) AS BIGINT)")).as("y"),
          sum(expr("CAST(l_quantity AS BIGINT)")).as("x"))
      val wd = Window.orderBy("d")
      val lagged = daily
        .withColumn("y1", lag(col("y"), 1).over(wd))
        .withColumn("x1", lag(col("x"), 1).over(wd))
        .filter(col("y1").isNotNull)
      lagged.agg(
          count(lit(1)).cast("decimal(38,0)").as("n"),
          sum(col("y1").cast("decimal(38,0)")).as("g01"),
          sum(col("x1").cast("decimal(38,0)")).as("g02"),
          sum(col("y").cast("decimal(38,0)")).as("g0y"),
          sum(expr("CAST(y1 AS DECIMAL(38,0)) * y1")).as("g11"),
          sum(expr("CAST(y1 AS DECIMAL(38,0)) * x1")).as("g12"),
          sum(expr("CAST(y1 AS DECIMAL(38,0)) * y")).as("g1y"),
          sum(expr("CAST(x1 AS DECIMAL(38,0)) * x1")).as("g22"),
          sum(expr("CAST(x1 AS DECIMAL(38,0)) * y")).as("g2y"),
          sum(expr("CAST(y AS DECIMAL(38,0)) * y")).as("syy"))
        .selectExpr("CAST(n AS BIGINT) AS n",
          "CAST(n AS DOUBLE) AS a00", "CAST(g01 AS DOUBLE) AS a01",
          "CAST(g02 AS DOUBLE) AS a02", "CAST(g0y AS DOUBLE) AS b0",
          "CAST(g11 AS DOUBLE) AS a11", "CAST(g12 AS DOUBLE) AS a12",
          "CAST(g1y AS DOUBLE) AS b1", "CAST(g22 AS DOUBLE) AS a22",
          "CAST(g2y AS DOUBLE) AS b2", "CAST(syy AS DOUBLE) AS syy")
        .selectExpr("n", "a00", "a01", "a02", "b0", "a11", "a12", "b1",
          "a22", "b2", "syy",
          "a00 * (a11 * a22 - a12 * a12) - a01 * (a01 * a22 - a12 * a02) + a02 * (a01 * a12 - a11 * a02) AS det3",
          "a00 * a11 - a01 * a01 AS det2")
        .selectExpr("n", "a00", "a01", "a11", "b0", "b1", "b2", "syy", "det2",
          "(b0 * (a11 * a22 - a12 * a12) - a01 * (b1 * a22 - a12 * b2) + a02 * (b1 * a12 - a11 * b2)) / det3 AS bb0",
          "(a00 * (b1 * a22 - a12 * b2) - b0 * (a01 * a22 - a12 * a02) + a02 * (a01 * b2 - b1 * a02)) / det3 AS bb1",
          "(a00 * (a11 * b2 - a12 * b1) - a01 * (a01 * b2 - b1 * a02) + b0 * (a01 * a12 - a11 * a02)) / det3 AS bb2")
        .selectExpr("n", "a00", "a01", "a11", "b0", "b1", "syy", "det2", "bb2",
          "syy - ((bb0 * b0 + bb1 * b1) + bb2 * b2) AS rssu")
        .selectExpr("n", "b0", "b1", "syy", "bb2", "rssu",
          "(b0 * a11 - a01 * b1) / det2 AS aa0",
          "(a00 * b1 - a01 * b0) / det2 AS aa1")
        .selectExpr("n", "bb2", "rssu",
          "syy - (aa0 * b0 + aa1 * b1) AS rssr")
        .selectExpr("n",
          "CAST(round(bb2 * 1000000) AS BIGINT) AS beta_x_micro",
          "CAST(round((rssr - rssu) / (rssu / CAST(n - 3 AS DOUBLE)) * 1000000) AS BIGINT) AS f_micro")
    }),

    "q_rev_rec" -> Query(
      """WITH sl AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents, o_orderdate, i.range AS i FROM orders, range(3) i), r AS (SELECT CAST(date_trunc('month', o_orderdate + to_months(CAST(i AS INTEGER))) AS DATE) AS month, cents // 3 + CASE WHEN i < cents % 3 THEN 1 ELSE 0 END AS rec_c FROM sl) SELECT month, CAST(count(*) AS BIGINT) AS n_slices, CAST(sum(rec_c) AS BIGINT) AS recognized_c FROM r GROUP BY 1""")((s, dir) => {
      // revenue recognition (calendarization): each order's cents spread
      // over its 3 service months by exact integral allocation — equal
      // thirds with the remainder cents credited to the earliest months
      // (largest-remainder, deterministic) — then ONE month rollup. The
      // finance close process as a projection fan-out; the allocation
      // provably sums back to the order total.
      T(s, dir, "orders")
        .select(expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"),
          col("o_orderdate"),
          explode(expr("sequence(0, 2)")).as("i"))
        .select(expr("date_trunc('month', add_months(o_orderdate, i))").cast("date")
          .as("month"),
          expr("cents div 3 + CASE WHEN i < cents % 3 THEN 1 ELSE 0 END")
            .as("rec_c"))
        .groupBy("month")
        .agg(count(lit(1)).as("n_slices"), sum("rec_c").as("recognized_c"))
    }),

    "q_weekday" -> Query(
      """WITH daily AS (SELECT l_shipdate AS d, CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS x FROM lineitem GROUP BY 1), g AS (SELECT CAST(isodow(d) - 1 AS BIGINT) AS wd, CAST(count(*) AS BIGINT) AS ng, CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS sg, CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS ssg FROM daily GROUP BY 1), t AS (SELECT CAST(sum(ng) AS BIGINT) AS n, CAST(sum(sg) AS HUGEINT) AS st, CAST(count(*) AS BIGINT) AS k FROM g) SELECT wd, ng, CAST((sg * 1000000) // ng AS BIGINT) AS mean_micro_c, CAST(round(CAST(ng AS DOUBLE) * (CAST(sg AS DOUBLE) / ng - CAST(st AS DOUBLE) / n) * (CAST(sg AS DOUBLE) / ng - CAST(st AS DOUBLE) / n)) AS BIGINT) AS ssb_part, CAST(round(CAST(ssg AS DOUBLE) - CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE) / ng) AS BIGINT) AS ssw_part FROM g, t""")((s, dir) => {
      // calendar-effects audit: one-way ANOVA of daily revenue across
      // the 7 weekdays (0 = Monday both engines: Spark weekday(),
      // DuckDB isodow−1) — q_anova's machinery pointed at the day
      // panel. A flat F says billing is weekday-independent.
      val daily = T(s, dir, "lineitem")
        .groupBy(col("l_shipdate").as("d"))
        .agg(sum(expr("CAST(round(l_extendedprice * 100) AS BIGINT)")).as("x"))
      val g = daily.groupBy(expr("weekday(d)").cast("long").as("wd"))
        .agg(count(lit(1)).as("ng"),
          sum(expr("CAST(x AS DECIMAL(38,0))")).as("sg"),
          sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("ssg"))
        .localCheckpoint(true) // totals + terms
      val t = g.agg(sum("ng").as("n"), sum("sg").as("st"), count(lit(1)).as("k"))
      g.crossJoin(broadcast(t))
        .select(col("wd"), col("ng"),
          expr("CAST((sg * 1000000) div ng AS BIGINT)").as("mean_micro_c"),
          expr("""CAST(round(CAST(ng AS DOUBLE)
                 | * (CAST(sg AS DOUBLE) / ng - CAST(st AS DOUBLE) / n)
                 | * (CAST(sg AS DOUBLE) / ng - CAST(st AS DOUBLE) / n)) AS BIGINT)"""
            .stripMargin).as("ssb_part"),
          expr("""CAST(round(CAST(ssg AS DOUBLE)
                 | - CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE) / ng) AS BIGINT)"""
            .stripMargin).as("ssw_part"))
    })
  )

  /** A daily series row's epoch day, None for the null-date group. The
    * Holt queries sort that group last (as the oracle's row_number() OVER
    * (ORDER BY d) does in DuckDB) and emit it with a null `d`.
    */
  private def epochDay(r: Row): Option[Int] = if (r.isNullAt(0)) None else Some(r.getInt(0))

  /** ⌊0.2·0.8^j·1e6⌋ for j 0..19 — the truncated EWMA kernel, shared
    * with the q_ewma oracle as the same literal table. */
  private val ewmaKernelMicro: Seq[(Long, Long)] = Seq(
    0L -> 200000L, 1L -> 160000L, 2L -> 128000L, 3L -> 102400L,
    4L -> 81920L, 5L -> 65536L, 6L -> 52428L, 7L -> 41943L,
    8L -> 33554L, 9L -> 26843L, 10L -> 21474L, 11L -> 17179L,
    12L -> 13743L, 13L -> 10995L, 14L -> 8796L, 15L -> 7036L,
    16L -> 5629L, 17L -> 4503L, 18L -> 3602L, 19L -> 2882L)

  /** q_holt_winters replay: recursive CTE carrying the 7 seasonal
    * states; every arithmetic op written in the driver fold's order.
    */
  private lazy val holtWintersOracleSql: String = {
    val cp = "(CASE (h.i % 7) + 1 " +
      (1 to 7).map(k => s"WHEN $k THEN h.c$k").mkString(" ") + " END)"
    val x = "CAST(idx.rev_c AS DOUBLE)"
    val sNew = s"0.5 * ($x - $cp) + 0.5 * (h.s + h.b)"
    val bNew = s"0.5 * (($sNew) - h.s) + 0.5 * h.b"
    val cNew = s"0.5 * ($x - ($sNew)) + 0.5 * $cp"
    val cCols = (1 to 7).map(k =>
      s"CASE WHEN (h.i % 7) + 1 = $k THEN ($cNew) ELSE h.c$k END").mkString(", ")
    val cInit = (1 to 7).map(k =>
      s"(SELECT CAST(rev_c AS DOUBLE) FROM idx WHERE i = $k) - m1").mkString(", ")
    s"""WITH RECURSIVE daily AS (SELECT CAST(o_orderdate AS DATE) AS d, CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_c FROM orders GROUP BY 1),
       |idx AS (SELECT d, rev_c, CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS i FROM daily),
       |init AS (SELECT CAST((SELECT sum(rev_c) FROM idx WHERE i <= 7) AS DOUBLE) / 7.0 AS m1, CAST((SELECT sum(rev_c) FROM idx WHERE i > 7 AND i <= 14) AS DOUBLE) / 7.0 AS m2),
       |h(i, s, b, cs, c1, c2, c3, c4, c5, c6, c7) AS (
       |  SELECT CAST(0 AS BIGINT), m1, (m2 - m1) / 7.0, CAST(0 AS DOUBLE), $cInit FROM init
       |  UNION ALL
       |  SELECT h.i + 1, $sNew, $bNew, $cNew, $cCols FROM h JOIN idx ON idx.i = h.i + 1)
       |SELECT idx.d, idx.rev_c, h.s AS level, h.b AS trend, h.cs AS seasonal FROM h JOIN idx ON idx.i = h.i WHERE h.i >= 1""".stripMargin
  }
}
