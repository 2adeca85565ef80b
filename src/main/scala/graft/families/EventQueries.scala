package graft
package families

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import Shared._

/** The ev_ queries: event and product analytics over the events table.
  * Each entry holds a query's DuckDB oracle SQL and its builder.
  */
object EventQueries {

  val entries: Seq[(String, Query)] = Seq(
    "ev_interp" -> Query(
      """WITH ev AS (SELECT user_id, ts, value, event_id FROM events), b AS (SELECT user_id, date_trunc('hour', min(ts)) AS t0, date_trunc('hour', max(ts)) AS t1 FROM ev GROUP BY 1), grid AS (SELECT user_id, unnest(generate_series(t0, t1, INTERVAL 1 HOUR)) AS t FROM b), u AS (SELECT user_id, t, 1 AS tag, CAST(NULL AS DOUBLE) AS v, CAST(NULL AS TIMESTAMP) AS et, CAST(NULL AS BIGINT) AS event_id FROM grid UNION ALL SELECT user_id, ts, 0, value, ts, event_id FROM ev), w1 AS (SELECT *, last_value(et IGNORE NULLS) OVER wa AS pt, last_value(v IGNORE NULLS) OVER wa AS pv FROM u WINDOW wa AS (PARTITION BY user_id ORDER BY t ASC, tag ASC, event_id ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), w2 AS (SELECT *, last_value(et IGNORE NULLS) OVER wd AS nt, last_value(v IGNORE NULLS) OVER wd AS nv FROM w1 WINDOW wd AS (PARTITION BY user_id ORDER BY t DESC, tag ASC, event_id DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) SELECT user_id, t AS grid_ts, CAST(round((CASE WHEN pt IS NULL OR nt IS NULL THEN NULL WHEN pt = nt THEN pv ELSE pv + (nv - pv) * ((epoch_us(t) - epoch_us(pt)) / (epoch_us(nt) - epoch_us(pt))) END) * 10000) AS BIGINT) AS v_micro FROM w2 WHERE tag = 1""")((s, dir) => {
      // time-series gap filling: hourly grid per user, value linearly
      // interpolated between the surrounding events — two windows (prev/
      // next carry) over one key shuffle, union-and-carry like asofJoin;
      // identical input bits + identical fp ops → micro values hash-match
      import org.apache.spark.sql.expressions.Window
      val ev = events(s, dir).select(col("user_id"), col("ts"), col("value"), col("event_id"))
      val b = ev.groupBy("user_id").agg(
        date_trunc("hour", min(col("ts"))).as("t0"),
        date_trunc("hour", max(col("ts"))).as("t1"))
      val grid = b.select(col("user_id"),
          explode(sequence(col("t0"), col("t1"), expr("INTERVAL 1 HOUR"))).as("t"))
        .select(col("user_id"), col("t"), lit(1).as("tag"),
          lit(null).cast("double").as("v"), lit(null).cast("timestamp").as("et"),
          lit(null).cast("long").as("event_id"))
      val pts = ev.select(col("user_id"), col("ts").as("t"), lit(0).as("tag"),
        col("value").as("v"), col("ts").as("et"), col("event_id"))
      val u = grid.unionByName(pts)
      val frame = (w: org.apache.spark.sql.expressions.WindowSpec) =>
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAsc = frame(Window.partitionBy("user_id")
        .orderBy(col("t").asc, col("tag").asc, col("event_id").asc))
      val wDesc = frame(Window.partitionBy("user_id")
        .orderBy(col("t").desc, col("tag").asc, col("event_id").desc))
      val carried = u
        .withColumn("pt", last(col("et"), ignoreNulls = true).over(wAsc))
        .withColumn("pv", last(col("v"), ignoreNulls = true).over(wAsc))
        .withColumn("nt", last(col("et"), ignoreNulls = true).over(wDesc))
        .withColumn("nv", last(col("v"), ignoreNulls = true).over(wDesc))
      val interp = when(col("pt").isNull || col("nt").isNull, lit(null).cast("double"))
        .when(col("pt") === col("nt"), col("pv"))
        .otherwise(col("pv") + (col("nv") - col("pv")) *
          ((unix_micros(col("t")) - unix_micros(col("pt"))) /
            (unix_micros(col("nt")) - unix_micros(col("pt")))))
      carried.filter(col("tag") === 1)
        .select(col("user_id"), col("t").as("grid_ts"),
          round(interp * 10000).cast("long").as("v_micro"))
    }),

    "ev_variant" -> Query(
      """SELECT CAST(props->>'$.k' AS BIGINT) AS k, CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1""")((s, dir) => {
      // semi-structured ingestion via Spark 4 VARIANT: parse the raw JSON
      // props once into the shredded binary variant encoding, extract a
      // typed path, aggregate — the open-table-format answer to schema
      // drift (no schema declared up front, unlike q_json's from_json)
      events(s, dir)
        .select(variant_get(parse_json(col("props")), "$.k", "long").as("k"))
        .groupBy("k").agg(count(lit(1)).as("n"))
    }),

    "ev_trailing_1h" -> Query(
      """SELECT event_id, user_id, v_c, CAST(sum(v_c) OVER w AS BIGINT) AS trail_sum, CAST(count(*) OVER w AS BIGINT) AS trail_n FROM (SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS es, CAST(round(value * 100) AS BIGINT) AS v_c FROM events) WINDOW w AS (PARTITION BY user_id ORDER BY es RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)""")((s, dir) => {
      // TIME-based RANGE window frame (trailing 3600 s per user) — the
      // value-range frame ROWS frames can't express; epoch-second keys
      // keep the frame boundary identical in both engines
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id")
        .orderBy(unix_timestamp(col("ts")))
        .rangeBetween(-3600, 0)
      events(s, dir)
        .select(col("event_id"), col("user_id"), col("ts"),
          round(col("value") * 100).cast("long").as("v_c"))
        .withColumn("trail_sum", sum(col("v_c")).over(w))
        .withColumn("trail_n", count(lit(1)).over(w))
        .drop("ts")
    }),

    "ev_cohorts" -> Query(
      """WITH f AS (SELECT user_id, min(ts) AS first_ts FROM events GROUP BY 1) SELECT CAST(date_trunc('week', f.first_ts) AS DATE) AS cohort_week, CAST(datediff('day', CAST(date_trunc('week', f.first_ts) AS DATE), CAST(e.ts AS DATE)) // 7 AS BIGINT) AS week_offset, CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users FROM events e JOIN f USING (user_id) GROUP BY 1, 2""")((s, dir) => {
      // retention cohort analysis: users grouped by first-seen week,
      // distinct-user counts per week offset — all integer/date math
      val ev = events(s, dir).select(col("user_id"), col("ts"))
      val firsts = ev.groupBy("user_id").agg(min(col("ts")).as("first_ts"))
      ev.join(firsts, "user_id")
        .select(col("user_id"),
          to_date(date_trunc("week", col("first_ts"))).as("cohort_week"),
          expr("datediff(to_date(ts), to_date(date_trunc('week', first_ts))) div 7")
            .cast("long").as("week_offset"))
        .groupBy("cohort_week", "week_offset")
        .agg(countDistinct(col("user_id")).as("n_users"))
    }),

    "ev_attribution" -> Query(
      """SELECT event_id AS purchase_id, user_id, last_click FROM (SELECT event_id, user_id, event_type, last_value(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_click FROM events) WHERE event_type = 'purchase'""")((s, dir) => {
      // last-touch attribution: each purchase credits the user's most
      // recent preceding click (carry-forward window, engine-exact ids)
      import org.apache.spark.sql.expressions.Window
      val ev = events(s, dir)
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ev.withColumn("last_click",
          last(when(col("event_type") === "click", col("event_id")), ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"), col("last_click"))
    }),

    "ev_anomaly" -> Query(
      """WITH v AS (SELECT event_id, user_id, ts, CAST(round(value * 100) AS BIGINT) AS v_c FROM events), w AS (SELECT event_id, user_id, v_c, CAST(count(v_c) OVER win AS BIGINT) AS n_prev, CAST(coalesce(sum(v_c) OVER win, 0) AS BIGINT) AS s_prev, CAST(coalesce(sum(v_c * v_c) OVER win, 0) AS BIGINT) AS ss_prev FROM v WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)) SELECT event_id, user_id, v_c, n_prev, s_prev, (n_prev >= 5 AND (n_prev * v_c - s_prev) * (n_prev * v_c - s_prev) > 9 * (n_prev * ss_prev - s_prev * s_prev)) AS is_anomaly FROM w""")((s, dir) => {
      // trailing-window z-score anomaly flag per user, evaluated as the
      // division-free integer condition (n·v−s)² > k²·(n·ss−s²) — exact
      // in both engines where a float stddev window could never hash-match
      val ev = events(s, dir)
        .select(col("event_id"), col("user_id"), col("ts"),
          round(col("value") * 100).cast("long").as("v_c"))
      ext.Robust.trailingAnomaly(ev, "user_id", Seq("ts", "event_id"), "v_c",
        lookback = 20, minPrev = 5, kSigma = 3,
        keep = Seq("event_id", "user_id", "v_c"))
    }),

    "ev_scd2" -> Query(
      """WITH m AS (SELECT user_id, event_type, ts, event_id, lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev FROM events), c AS (SELECT user_id, event_type, ts AS valid_from, event_id FROM m WHERE prev IS NULL OR event_type <> prev), v AS (SELECT user_id, event_type, valid_from, lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from, event_id) AS valid_to, row_number() OVER (PARTITION BY user_id ORDER BY valid_from, event_id) AS version FROM c) SELECT user_id, event_type, valid_from, valid_to, valid_to IS NULL AS is_current, CAST(version AS BIGINT) AS version FROM v""")((s, dir) => {
      // SCD2 history: per-user event_type state runs with half-open
      // validity; one key shuffle, exchange reused across both windows
      ext.Relational.scd2(events(s, dir), "user_id", "ts",
        Seq("event_type"), Seq("event_id"))
    }),

    "ev_funnel" -> Query(
      """WITH t AS (SELECT user_id, epoch_us(ts) AS tus, event_type FROM events), w AS (SELECT user_id, event_type, tus, max(CASE WHEN event_type = 'view' THEN tus END) OVER (PARTITION BY user_id ORDER BY tus RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_view FROM t) SELECT user_id, CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_target, CAST(sum(CASE WHEN event_type = 'purchase' AND last_view IS NOT NULL AND tus - last_view <= 3600000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_converted FROM w GROUP BY user_id""")((s, dir) => {
      // view → purchase attribution within 1 hour: one (key, time)
      // shuffle + a RANGE window (tie-deterministic across engines)
      ext.Relational.funnel(events(s, dir), "user_id", "ts",
        "view", "purchase", "event_type", withinSeconds = 3600)
    }),

    // ---- extended: event-time windowing (batch == streaming transform) ----

    "ev_window" -> Query(
      """SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS n_events, CAST(sum(CAST(round(value * 10000) AS BIGINT)) AS BIGINT) AS value_c FROM events GROUP BY 1, 2""")((s, dir) => {
      events(s, dir)
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(round(col("value") * 10000).cast("long")).as("value_c"))
    }),

    "ev_sessions" -> Query(
      """WITH g AS (SELECT user_id, ts, value, CASE WHEN lag(epoch_us(ts)) OVER w IS NULL OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000 THEN 1 ELSE 0 END AS is_new FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)), s AS (SELECT user_id, ts, value, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts) AS session_id FROM g) SELECT user_id, CAST(session_id AS BIGINT) AS session_id, count(*) AS n_events, min(ts) AS session_start, max(ts) AS session_end, CAST(sum(CAST(round(value * 10000) AS BIGINT)) AS BIGINT) AS value_c FROM s GROUP BY 1, 2""")((s, dir) => {
      // gap-based batch sessionization: 30-minute silence starts a session
      ext.Relational.sessionize(
        events(s, dir).select("user_id", "ts", "value"),
        "user_id", "ts", gapSeconds = 1800, valueCol = Some("value"))
    }),

    "ev_wau" -> Query(
      """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events), w AS (SELECT user_id, d + CAST(x AS INTEGER) AS win_end FROM ud, unnest(range(7)) AS t(x)) SELECT win_end, CAST(count(DISTINCT user_id) AS BIGINT) AS wau FROM w GROUP BY 1""")((s, dir) => {
      // rolling 7-day active users per day: each event-day contributes to
      // the 7 windows ending on d..d+6; exact distinct-user counts
      val ev = events(s, dir)
        .select(col("user_id"), to_date(col("ts")).as("d")).distinct()
      ev.select(col("user_id"), explode(sequence(col("d"),
          date_add(col("d"), 6))).as("win_end"))
        .groupBy("win_end")
        .agg(countDistinct(col("user_id")).as("wau"))
    }),

    "ev_pattern" -> Query(
      """WITH s AS (SELECT user_id, string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id) AS seq FROM events GROUP BY 1) SELECT user_id, seq, CAST(length(seq) AS BIGINT) AS n_events, CAST(len(regexp_extract_all(seq, 'v+p')) AS BIGINT) AS n_funnels, regexp_matches(seq, 's.*p') AS signup_then_purchase FROM s""")((s, dir) => {
      // MATCH_RECOGNIZE-lite sequence analytics: per-user event-type
      // string in (ts, event_id) order, then plain regexes over the
      // sequence answer funnel questions (view-streak→purchase runs,
      // signup-before-purchase) with no dedicated operator. One key
      // shuffle; the sequence is bounded by the user's event count.
      val ev = events(s, dir)
      ev.select(col("user_id"),
          struct(col("ts"), col("event_id"), col("event_type")).as("e"))
        .groupBy("user_id")
        .agg(array_join(transform(array_sort(collect_list(col("e"))),
          e => substring(e.getField("event_type"), 1, 1)), "").as("seq"))
        .select(col("user_id"), col("seq"),
          length(col("seq")).cast("long").as("n_events"),
          regexp_count(col("seq"), lit("v+p")).cast("long").as("n_funnels"),
          col("seq").rlike("s.*p").as("signup_then_purchase"))
    }),

    "ev_coverage" -> Query(
      """WITH b AS (SELECT user_id, event_id, epoch_us(ts) AS st, epoch_us(ts) + 300000000 AS en FROM events), g AS (SELECT *, CASE WHEN st > coalesce(max(en) OVER (PARTITION BY user_id ORDER BY st, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) THEN 1 ELSE 0 END AS is_new FROM b), i AS (SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY st, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island FROM g), m AS (SELECT user_id, island, min(st) AS ms, max(en) AS me, count(*) AS ne FROM i GROUP BY 1, 2) SELECT user_id, CAST(count(*) AS BIGINT) AS n_islands, CAST(sum(me - ms) AS BIGINT) AS covered_us, CAST(sum(ne) AS BIGINT) AS n_events FROM m GROUP BY 1""")((s, dir) => {
      // interval-union coverage (gaps-and-islands over half-open activity
      // intervals): each event opens a 5-minute window; overlapping/
      // touching windows merge per user — islands counted and covered
      // time summed in integer microseconds, engine-exact
      import org.apache.spark.sql.expressions.Window
      val base = events(s, dir).select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("st"),
        (unix_micros(col("ts")) + lit(300000000L)).as("en"))
      val ord = Window.partitionBy("user_id")
        .orderBy(col("st").asc, col("event_id").asc)
      val isNew = when(col("st") > coalesce(
        max(col("en")).over(ord.rowsBetween(Window.unboundedPreceding, -1)),
        lit(-1L)), 1).otherwise(0)
      base.withColumn("is_new", isNew)
        .withColumn("island",
          sum(col("is_new")).over(ord.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy(col("user_id"), col("island"))
        .agg(min(col("st")).as("ms"), max(col("en")).as("me"),
          count(lit(1)).as("ne"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_islands"),
          sum(col("me") - col("ms")).as("covered_us"),
          sum(col("ne")).as("n_events"))
    }),

    "ev_sessions_typed" -> Query(
      """WITH g AS (SELECT user_id, ts, CASE WHEN lag(epoch_us(ts)) OVER w IS NULL OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000 THEN 1 ELSE 0 END AS is_new FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)), s AS (SELECT user_id, ts, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts) AS sid FROM g) SELECT user_id, min(ts) AS session_start, count(*) AS n_events FROM s GROUP BY user_id, sid""")((s, dir) => {
      // the TYPED stateful sessionizer (flatMapGroupsWithState) run in
      // batch mode — same state machine the stream runs; output limited
      // to order-free fields (start, count) so the oracle is exact
      import s.implicits._
      val ev = events(s, dir)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"), col("props").cast("string"))
        .as[streaming.Streams.Event]
      streaming.Streams.sessionize(ev, gapMinutes = 30)(s)
        .toDF()
        .select(col("user_id"), col("session_start"), col("n_events"))
    }),

    "ev_rfm" -> Query(
      """WITH mx AS (SELECT max(CAST(o_orderdate AS DATE)) AS mxd FROM orders), per AS (SELECT o_custkey, max(CAST(o_orderdate AS DATE)) AS last_d, CAST(count(*) AS BIGINT) AS frequency, CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS monetary_c FROM orders GROUP BY 1), r AS (SELECT o_custkey, CAST(date_diff('day', last_d, (SELECT mxd FROM mx)) AS BIGINT) AS recency_d, frequency, monetary_c FROM per) SELECT o_custkey, recency_d, frequency, monetary_c, CAST(ntile(5) OVER (ORDER BY recency_d ASC, o_custkey ASC) AS BIGINT) AS r_score, CAST(ntile(5) OVER (ORDER BY frequency DESC, o_custkey ASC) AS BIGINT) AS f_score, CAST(ntile(5) OVER (ORDER BY monetary_c DESC, o_custkey ASC) AS BIGINT) AS m_score FROM r""")((s, dir) => {
      // RFM segmentation (recency / frequency / monetary quintiles) — the
      // classic customer scoring pass. Metrics are exact integers (days
      // since last order vs the corpus max date, order count, spend in
      // cents). Quintile assignment EQUALS ntile(5) over the total order
      // (metric, custkey) — which the oracle asserts — but is computed
      // WITHOUT a single-partition sort: each metric ordering is range-
      // partitioned, ranked within partitions, and ≤32 per-partition
      // counts (driver scalars, like ta_curriculum's band offsets) lift
      // local ranks to exact global ranks; the closed-form ntile formula
      // (first n%5 tiles get ⌈n/5⌉ rows) maps ranks to tiles. This is
      // the ta_shuffle / SCALE.md §8b pattern — no unpartitioned Window
      // sort remains anywhere in the plan.
      import org.apache.spark.sql.expressions.Window
      import s.implicits._
      val o = T(s, dir, "orders")
      val mx = o.agg(max(col("o_orderdate").cast("date")).as("mxd"))
      val per = o.groupBy("o_custkey").agg(
        max(col("o_orderdate").cast("date")).as("last_d"),
        count(lit(1)).as("frequency"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("monetary_c"))
        .crossJoin(broadcast(mx))
        .select(col("o_custkey"), datediff(col("mxd"), col("last_d")).cast("long").as("recency_d"),
          col("frequency"), col("monetary_c"))
        .localCheckpoint(true)
      val n = per.count()
      val q = n / 5
      val r = n % 5
      def quintile(sort: Seq[org.apache.spark.sql.Column], out: String): DataFrame = {
        // checkpoint AFTER the range exchange: the offsets collect and
        // the final ranked run must read the SAME partitioning — range
        // boundaries are sample-based (rdd-id-seeded), so two separate
        // executions could split differently and break the offsets
        val ranged = per.repartitionByRange(32, sort: _*)
          .withColumn("_pid", spark_partition_id().cast("long"))
          .localCheckpoint(true)
        val local = ranged.withColumn("_rn",
          row_number().over(Window.partitionBy("_pid").orderBy(sort: _*)).cast("long"))
        var acc = 0L
        val offRows = ranged.groupBy("_pid").agg(count(lit(1)).as("c"))
          .collect().map(x => (x.getLong(0), x.getLong(1))).sortBy(_._1)
          .map { case (p, c) => val o0 = acc; acc += c; (p, o0) }.toSeq
        val g = local.join(broadcast(offRows.toDF("_pid", "_off")), Seq("_pid"))
          .withColumn("_g", col("_rn") + col("_off"))
        // ntile(5) closed form: ranks 1..r(q+1) → ⌈rank/(q+1)⌉, rest →
        // r + ⌈(rank - r(q+1))/q⌉ (q=0 ⇒ first branch covers all rows)
        g.select(col("o_custkey"),
          when(col("_g") <= lit(r * (q + 1)),
            expr(s"CAST((_g + $q) div ${q + 1} AS BIGINT)"))
          .otherwise(lit(r) + expr(s"CAST((_g - ${r * (q + 1)} + ${q - 1}) div ${math.max(q, 1L)} AS BIGINT)"))
          .as(out))
      }
      val rs = quintile(Seq(col("recency_d").asc, col("o_custkey").asc), "r_score")
      val fs = quintile(Seq(col("frequency").desc, col("o_custkey").asc), "f_score")
      val ms = quintile(Seq(col("monetary_c").desc, col("o_custkey").asc), "m_score")
      per.join(rs, "o_custkey").join(fs, "o_custkey").join(ms, "o_custkey")
        .select(col("o_custkey"), col("recency_d"), col("frequency"),
          col("monetary_c"), col("r_score"), col("f_score"), col("m_score"))
    }),
    // ev_transitions: p is ONE IEEE division of the same two exact longs
    // on both engines — bit-identical
    "ev_transitions" -> Query(
      """WITH pr AS (SELECT user_id, event_type AS from_type, lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type FROM events), f AS (SELECT from_type, to_type FROM pr WHERE to_type IS NOT NULL), cnt AS (SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n FROM f GROUP BY 1, 2), tot AS (SELECT from_type, CAST(count(*) AS BIGINT) AS n_from FROM f GROUP BY 1) SELECT cnt.from_type, to_type, n, n_from, CAST(n AS DOUBLE) / CAST(n_from AS DOUBLE) AS p FROM cnt JOIN tot USING (from_type)""")((s, dir) => {
      // behavioral Markov transitions: per-user event sequences (ts then
      // event_id tie-break) → (from, to) counts and row-conditional
      // probabilities (one IEEE division of exact longs). One keyed
      // window + one hash agg over 25 type-pairs.
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val ev = events(s, dir)
      val pairs = ev.select(col("user_id"), col("event_type").as("from_type"),
        lead(col("event_type"), 1).over(w).as("to_type"))
        .filter(col("to_type").isNotNull)
      val cnt = pairs.groupBy("from_type", "to_type").agg(count(lit(1)).as("n"))
      val tot = pairs.groupBy("from_type").agg(count(lit(1)).as("n_from"))
      cnt.join(tot, Seq("from_type"))
        .select(col("from_type"), col("to_type"), col("n"), col("n_from"),
          (col("n").cast("double") / col("n_from").cast("double")).as("p"))
    }),

    "ev_markov_steady" -> Query(markovSteadyOracleSql)((s, dir) => {
      // steady-state of the ev_transitions Markov chain: 20 power
      // iterations of v·P from the uniform start. The transition matrix
      // is MODEL-sized (|event types|² ≤ 25 rows), so the distributed
      // work is the pair counting; the iteration runs on the driver and
      // the oracle replays it with list_reduce folds in the identical
      // ascending-state order (every + and × in the same sequence —
      // doubles bit-identical). States with no outgoing transitions
      // self-loop (deterministic convention, applied in both engines).
      import org.apache.spark.sql.expressions.Window
      import s.implicits._
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val pairs = events(s, dir).select(col("user_id"),
          col("event_type").as("from_type"),
          lead(col("event_type"), 1).over(w).as("to_type"))
        .filter(col("to_type").isNotNull)
      val cnt = pairs.groupBy("from_type", "to_type").agg(count(lit(1)).as("n"))
      val tot = pairs.groupBy("from_type").agg(count(lit(1)).as("n_from"))
      val rows = cnt.join(tot, Seq("from_type"))
        .select(col("from_type"), col("to_type"), col("n"), col("n_from"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
      val states = rows.flatMap(r => Seq(r._1, r._2)).distinct.sorted
      val ns = states.length
      val idx = states.zipWithIndex.toMap
      val p = Array.ofDim[Double](ns, ns)
      val hasOut = Array.fill(ns)(false)
      rows.foreach { case (f, t, n, nf) =>
        p(idx(f))(idx(t)) = n.toDouble / nf.toDouble
        hasOut(idx(f)) = true
      }
      (0 until ns).foreach(i => if (!hasOut(i)) p(i)(i) = 1.0)
      var v = Array.fill(ns)(1.0 / ns.toDouble)
      var it = 0
      while (it < 20) {
        v = Array.tabulate(ns) { j =>
          var acc = 0.0
          var i = 0
          while (i < ns) { acc = acc + v(i) * p(i)(j); i += 1 }
          acc
        }
        it += 1
      }
      states.zipWithIndex.map { case (st, i) => (st, v(i)) }.toSeq
        .toDF("event_type", "steady_p")
    }),
    // ev_growth: epoch-week integers on both engines; all counts exact
    "ev_growth" -> Query(
      """WITH uw AS (SELECT DISTINCT user_id, date_diff('day', DATE '1970-01-05', CAST(ts AS DATE)) // 7 AS wk FROM events), cls AS (SELECT user_id, wk, lag(wk) OVER (PARTITION BY user_id ORDER BY wk) AS prev_wk FROM uw), st AS (SELECT wk, CASE WHEN prev_wk IS NULL THEN 'new' WHEN prev_wk = wk - 1 THEN 'retained' ELSE 'resurrected' END AS status FROM cls), act AS (SELECT wk, CAST(count(*) FILTER (WHERE status = 'new') AS BIGINT) AS "new", CAST(count(*) FILTER (WHERE status = 'retained') AS BIGINT) AS retained, CAST(count(*) FILTER (WHERE status = 'resurrected') AS BIGINT) AS resurrected FROM st GROUP BY 1), cnt AS (SELECT wk, CAST(count(*) AS BIGINT) AS n_active FROM uw GROUP BY 1), ch AS (SELECT wk + 1 AS wk, n_active AS prev_active FROM cnt) SELECT act.wk, n_active, "new", retained, resurrected, CAST(coalesce(prev_active, 0) - retained AS BIGINT) AS churned FROM act JOIN cnt ON act.wk = cnt.wk LEFT JOIN ch ON act.wk = ch.wk""")((s, dir) => {
      // weekly growth accounting (new / retained / resurrected /
      // churned) — the product-analytics identity DAU dashboards are
      // built on: per (user, week) activity, each week classified
      // against the user's previous active week via ONE keyed lag
      // window (user-partitioned — fully parallel), then a calendar-
      // bounded per-week rollup. churned(w) = users active in w-1 but
      // not w, counted by shifting each active week forward and
      // anti-classifying — all exact integers.
      // weeks are EPOCH-WEEK integers (days since Monday 1970-01-05,
      // div 7) — no ISO week-of-year arithmetic, so "consecutive week"
      // is exactly wk−1 even across year boundaries
      import org.apache.spark.sql.expressions.Window
      val uw = events(s, dir).select(col("user_id"),
          expr("CAST(datediff(CAST(ts AS DATE), DATE '1970-01-05') div 7 AS BIGINT)").as("wk"))
        .distinct()
      val w = Window.partitionBy("user_id").orderBy(col("wk").asc)
      val classified = uw.withColumn("prev_wk", lag(col("wk"), 1).over(w))
        .withColumn("status",
          when(col("prev_wk").isNull, lit("new"))
            .when(col("prev_wk") === col("wk") - 1, lit("retained"))
            .otherwise(lit("resurrected")))
      val active = classified.groupBy("wk").pivot("status",
          Seq("new", "retained", "resurrected"))
        .agg(count(lit(1)))
        .na.fill(0L, Seq("new", "retained", "resurrected"))
      // churned in week w = active in w-1 minus retained in w: per-week
      // active counts shifted one week forward
      val counts = uw.groupBy("wk").agg(count(lit(1)).as("n_active"))
      val churn = counts.select((col("wk") + 1).as("wk"),
        col("n_active").as("prev_active"))
      active.join(counts, Seq("wk"))
        .join(churn, Seq("wk"), "left")
        .select(col("wk"), col("n_active"), col("new"), col("retained"),
          col("resurrected"),
          (coalesce(col("prev_active"), lit(0L)) - col("retained")).as("churned"))
    }),
    // ev_seasonality: DuckDB dayofweek is Sunday=0, Spark's Sunday=1 —
    // the +1 aligns them; integer div and the index division are exact
    "ev_seasonality" -> Query(
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS d, CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_c FROM orders GROUP BY 1), dd AS (SELECT d, rev_c, CAST(dayofweek(d) + 1 AS BIGINT) AS dow FROM daily), prof AS (SELECT dow, CAST(count(*) AS BIGINT) AS n_days, CAST(sum(rev_c) AS BIGINT) AS dow_rev_c FROM dd GROUP BY 1), p2 AS (SELECT dow, dow_rev_c // n_days AS dow_mean_c FROM prof) SELECT d, dd.dow, rev_c, dow_mean_c, CAST(rev_c AS DOUBLE) / CAST(dow_mean_c AS DOUBLE) AS seasonal_idx FROM dd JOIN p2 ON dd.dow = p2.dow""")((s, dir) => {
      // day-of-week seasonal profile + seasonally-adjusted daily series:
      // per-dow revenue means in exact cents (integer div), each day's
      // seasonal index as one IEEE division of exact longs. Two
      // aggregates + a 7-row broadcast back onto the calendar-bounded
      // daily frame — the decomposition pass ahead of q_holt's trend.
      val daily = T(s, dir, "orders")
        .groupBy(col("o_orderdate").cast("date").as("d"))
        .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("rev_c"))
        .withColumn("dow", dayofweek(col("d")).cast("long"))
      val prof = daily.groupBy("dow").agg(
        count(lit(1)).as("n_days"),
        sum(col("rev_c")).as("dow_rev_c"))
        .withColumn("dow_mean_c", expr("dow_rev_c div n_days"))
      daily.join(broadcast(prof.select(col("dow"), col("dow_mean_c"))), Seq("dow"))
        .select(col("d"), col("dow"), col("rev_c"), col("dow_mean_c"),
          (col("rev_c").cast("double") / col("dow_mean_c").cast("double"))
            .as("seasonal_idx"))
    }),
    // ev_assoc: exact integer counts; support/confidence/lift divisions
    // mirror the Spark operation tree term for term (bit-identical doubles)
    "ev_assoc" -> Query(
      """WITH items AS (SELECT DISTINCT l_orderkey AS o, p_brand AS item
           FROM lineitem JOIN part ON l_partkey = p_partkey),
         capped AS (SELECT * FROM items
           WHERE o IN (SELECT o FROM items GROUP BY o HAVING count(*) <= 32)),
         n_ord AS (SELECT count(DISTINCT o) AS n_orders FROM capped),
         ic AS (SELECT item, count(*) AS n_item FROM capped GROUP BY item),
         pc AS (SELECT a.item AS ia, b.item AS ib, count(*) AS n_both
           FROM capped a JOIN capped b ON a.o = b.o AND a.item < b.item
           GROUP BY 1, 2 HAVING count(*) >= 50),
         rules AS (SELECT ia AS antecedent, ib AS consequent, n_both FROM pc
           UNION ALL SELECT ib, ia, n_both FROM pc)
         SELECT antecedent, consequent, n_both,
                na.n_item AS n_ante, nc.n_item AS n_cons, n_orders,
                CAST(n_both AS DOUBLE) / CAST(n_orders AS DOUBLE) AS support,
                CAST(n_both AS DOUBLE) / CAST(na.n_item AS DOUBLE) AS confidence,
                (CAST(n_both AS DOUBLE) / CAST(na.n_item AS DOUBLE)) /
                  (CAST(nc.n_item AS DOUBLE) / CAST(n_orders AS DOUBLE)) AS lift
         FROM rules JOIN ic na ON rules.antecedent = na.item
                    JOIN ic nc ON rules.consequent = nc.item
                    CROSS JOIN n_ord""")((s, dir) => {
      // market-basket association rules (Agrawal–Srikant support/
      // confidence/lift) over order baskets with part BRANDS as items.
      // Item domain is 25 brands so per-basket pair fan-out is bounded
      // by C(25,2); the same giant-basket cap as g_kcore guards the
      // pathological case at scale (a basket wider than the cap would
      // be dropped with an observed-drop count — never binds here).
      // All statistics are exact integer counts; support/confidence/
      // lift are single divisions of those integers with the identical
      // operation tree in the oracle, so the doubles are bit-identical.
      val items = T(s, dir, "lineitem")
        .join(T(s, dir, "part"), col("l_partkey") === col("p_partkey"))
        .select(col("l_orderkey").as("o"), col("p_brand").as("item"))
        .distinct()
        .localCheckpoint(true) // read by widths, the cap semi-join, and both pair sides
      val widths = items.groupBy("o").agg(count(lit(1)).as("w"))
      val dropped = widths.filter(col("w") > assocBasketCap)
      val nDropped = dropped.count()
      if (nDropped > 0)
        System.err.println(s"[ev_assoc] dropped $nDropped baskets wider than $assocBasketCap")
      val capped = items.join(
        widths.filter(col("w") <= assocBasketCap).select("o"), Seq("o"), "left_semi")
        .localCheckpoint(true) // nOrders action + item counts + both pair sides
      val nOrders = capped.select("o").distinct().count()
      val itemCnt = capped.groupBy("item").agg(count(lit(1)).as("n_item"))
      val pairCnt = capped.as("a")
        .join(capped.as("b"), col("a.o") === col("b.o") && col("a.item") < col("b.item"))
        .groupBy(col("a.item").as("ia"), col("b.item").as("ib"))
        .agg(count(lit(1)).as("n_both"))
        .filter(col("n_both") >= 50)
      // directed rules both ways from the undirected pair counts
      val rules = pairCnt
        .select(col("ia").as("antecedent"), col("ib").as("consequent"), col("n_both"))
        .union(pairCnt
          .select(col("ib").as("antecedent"), col("ia").as("consequent"), col("n_both")))
      rules
        .join(broadcast(itemCnt.withColumnRenamed("item", "antecedent")
          .withColumnRenamed("n_item", "n_ante")), Seq("antecedent"))
        .join(broadcast(itemCnt.withColumnRenamed("item", "consequent")
          .withColumnRenamed("n_item", "n_cons")), Seq("consequent"))
        .select(col("antecedent"), col("consequent"),
          col("n_both"), col("n_ante"), col("n_cons"), lit(nOrders).as("n_orders"),
          (col("n_both").cast("double") / lit(nOrders).cast("double")).as("support"),
          (col("n_both").cast("double") / col("n_ante").cast("double")).as("confidence"),
          ((col("n_both").cast("double") / col("n_ante").cast("double")) /
            (col("n_cons").cast("double") / lit(nOrders).cast("double"))).as("lift"))
    }),
    // ev_backtest: same bounded-offset history pairing; DATE + INTEGER
    // is day addition in DuckDB like Spark's date_add
    "ev_backtest" -> Query(
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS d, CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_c FROM orders GROUP BY 1),
         hist AS (SELECT a.d + CAST(t.off AS INTEGER) AS dt, CAST(t.off AS BIGINT) AS off, a.rev_c AS past_c
                  FROM daily a, (SELECT unnest(range(1, 8)) AS off) t),
         hj AS (SELECT hist.dt, hist.off, hist.past_c, b.rev_c AS actual_c FROM hist JOIN daily b ON hist.dt = b.d),
         byday AS (SELECT dt, actual_c, count(*) AS n_hist,
                     max(CASE WHEN off = 1 THEN past_c END) AS naive_c,
                     max(CASE WHEN off = 7 THEN past_c END) AS snaive_c,
                     CAST(sum(past_c) AS BIGINT) // 7 AS ma7_c
                   FROM hj GROUP BY 1, 2 HAVING count(*) = 7),
         scored AS (SELECT 'naive' AS model, abs(actual_c - naive_c) AS ae FROM byday
                    UNION ALL SELECT 'snaive', abs(actual_c - snaive_c) FROM byday
                    UNION ALL SELECT 'ma7', abs(actual_c - ma7_c) FROM byday)
         SELECT model, CAST(count(*) AS BIGINT) AS n_days, CAST(sum(ae) AS BIGINT) AS sae_c,
           CAST((sum(ae)::HUGEINT * 1000000) // count(*) AS BIGINT) AS mae_micro
         FROM scored GROUP BY 1""")((s, dir) => {
      // rolling-origin forecast backtest over the daily revenue series:
      // three forecasters (naive d−1, seasonal-naive d−7, trailing
      // 7-day mean) scored on every day whose full 7-day history
      // exists. The history pairing is q_theilsen's bounded-offset
      // explode + EQUI-join (7 offsets — linear in the calendar, never
      // an inequality join's nested loop); errors are exact cents, the
      // MA7 forecast an integral div 7, MAE micro-scaled. No windows —
      // keyed shuffles only, so the backtest shards like any aggregate.
      val daily = T(s, dir, "orders")
        .groupBy(col("o_orderdate").cast("date").as("d"))
        .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("rev_c"))
        .localCheckpoint(true)
      val hist = daily.withColumn("off", explode(sequence(lit(1), lit(7))))
        .select(date_add(col("d"), col("off")).as("dt"), col("off"),
          col("rev_c").as("past_c"))
        .join(daily.withColumnRenamed("rev_c", "actual_c"), col("dt") === col("d"))
      val byDay = hist.groupBy(col("dt"), col("actual_c"))
        .agg(count(lit(1)).as("n_hist"),
          max(when(col("off") === 1, col("past_c"))).as("naive_c"),
          max(when(col("off") === 7, col("past_c"))).as("snaive_c"),
          sum(col("past_c")).as("sum7_c"))
        .filter(col("n_hist") === 7) // full window ⇒ all three forecasts defined
        .withColumn("ma7_c", expr("sum7_c div 7"))
      val scored = byDay
        .select(lit("naive").as("model"), abs(col("actual_c") - col("naive_c")).as("ae"))
        .union(byDay.select(lit("snaive").as("model"),
          abs(col("actual_c") - col("snaive_c")).as("ae")))
        .union(byDay.select(lit("ma7").as("model"),
          abs(col("actual_c") - col("ma7_c")).as("ae")))
      scored.groupBy("model").agg(count(lit(1)).as("n_days"), sum("ae").as("sae_c"))
        .withColumn("mae_micro",
          expr("CAST((CAST(sae_c AS DECIMAL(38,0)) * 1000000) div n_days AS BIGINT)"))
    }),
    // ev_dau_mau: same bounded-offset fan-out, exact distinct per window-day
    "ev_dau_mau" -> Query(
      """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
         dau AS (SELECT d, CAST(count(*) AS BIGINT) AS dau FROM ud GROUP BY 1),
         mau AS (SELECT wd, CAST(count(*) AS BIGINT) AS mau FROM
           (SELECT DISTINCT user_id, d + CAST(t.off AS INTEGER) AS wd FROM ud, (SELECT unnest(range(30)) AS off) t) GROUP BY 1)
         SELECT d, dau, mau, CAST((dau::HUGEINT * 1000000) // mau AS BIGINT) AS stickiness_micro
         FROM dau JOIN mau ON d = wd""")((s, dir) => {
      // DAU/MAU stickiness: daily actives over trailing-30-day actives.
      // The rolling DISTINCT is exact via the bounded-offset explode —
      // each (user, day) fact feeds the 30 window-days it belongs to,
      // then one distinct + count per window-day (no window function,
      // no approximate distinct); the ratio is a micro-scaled integral
      // division. The engagement metric every product pipeline ships.
      val ud = events(s, dir)
        .select(col("user_id"), col("ts").cast("date").as("d")).distinct()
        .localCheckpoint(true) // feeds DAU and the MAU fan-out
      val dau = ud.groupBy("d").agg(count(lit(1)).as("dau"))
      val mau = ud.withColumn("off", explode(sequence(lit(0), lit(29))))
        .select(col("user_id"), date_add(col("d"), col("off")).as("wd"))
        .distinct()
        .groupBy("wd").agg(count(lit(1)).as("mau"))
      dau.join(mau, col("d") === col("wd"))
        .select(col("d"), col("dau"), col("mau"),
          expr("CAST((dau * 1000000) div mau AS BIGINT)").as("stickiness_micro"))
    }),
    // ev_seqmine: identical per-user double-lead trigrams and support floor
    "ev_seqmine" -> Query(
      """WITH t AS (SELECT user_id, event_type,
           lead(event_type, 1) OVER w AS t2, lead(event_type, 2) OVER w AS t3
         FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         tri AS (SELECT user_id, event_type || '>' || t2 || '>' || t3 AS trigram
           FROM t WHERE t3 IS NOT NULL)
         SELECT trigram, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(count(*) AS BIGINT) AS n_occurrences
         FROM tri GROUP BY 1 HAVING count(DISTINCT user_id) >= 2""")((s, dir) => {
      // frequent contiguous behavior trigrams (the contiguous special
      // case of sequential-pattern mining): per-user streams ordered by
      // (ts, event_id), trigrams via two leads — windows keyed by the
      // HIGH-cardinality user key, so the sort is per-user and parallel.
      // The trigram domain is |event types|³, so the aggregate output is
      // bounded regardless of data scale; support floor 2 on distinct
      // users prunes the singleton tail.
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      events(s, dir).select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("t2", lead("event_type", 1).over(w))
        .withColumn("t3", lead("event_type", 2).over(w))
        .filter(col("t3").isNotNull)
        .select(col("user_id"),
          concat_ws(">", col("event_type"), col("t2"), col("t3")).as("trigram"))
        .groupBy("trigram")
        .agg(countDistinct("user_id").as("n_users"), count(lit(1)).as("n_occurrences"))
        .filter(col("n_users") >= 2)
    }),
    // ev_survival: per-day risk table, then the recursive CTE replays the
    // driver fold's exact HUGEINT floor division day by day
    "ev_survival" -> Query(
      """WITH RECURSIVE pu AS (SELECT user_id, min(ts) AS t0,
           min(CASE WHEN event_type = 'purchase' THEN ts END) AS tp
         FROM events GROUP BY 1),
         mx AS (SELECT max(ts) AS tmax FROM events),
         du AS (SELECT (epoch_us(coalesce(tp, tmax)) - epoch_us(t0)) // 86400000000 AS dur,
                       CASE WHEN tp IS NULL THEN 0 ELSE 1 END AS obs FROM pu, mx),
         byday AS (SELECT dur, CAST(sum(obs) AS BIGINT) AS d,
                          CAST(sum(1 - obs) AS BIGINT) AS c FROM du GROUP BY 1),
         tot AS (SELECT CAST(sum(d + c) AS BIGINT) AS n FROM byday),
         ev AS (SELECT dur, d, c, row_number() OVER (ORDER BY dur) AS rn,
                  n - coalesce(sum(d + c) OVER (ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS at_risk
                FROM byday, tot),
         km AS (
           SELECT rn, dur, d, c, at_risk,
             CASE WHEN d > 0 THEN (1000000000000::HUGEINT * (at_risk - d)) // at_risk
                  ELSE 1000000000000::HUGEINT END AS s
           FROM ev WHERE rn = 1
           UNION ALL
           SELECT e.rn, e.dur, e.d, e.c, e.at_risk,
             CASE WHEN e.d > 0 THEN (k.s * (e.at_risk - e.d)) // e.at_risk ELSE k.s END
           FROM km k JOIN ev e ON e.rn = k.rn + 1)
         SELECT dur AS day, CAST(at_risk AS BIGINT) AS n_risk, d AS n_events, c AS n_censored,
           CAST(s AS BIGINT) AS surv_pico
         FROM km WHERE d > 0""")((s, dir) => {
      // Kaplan–Meier time-to-conversion: per user, days from first event
      // to first purchase (censored at the corpus horizon when none).
      // The survival curve is a SEQUENTIAL product, so it rides the
      // ev_markov_steady doctrine: the distributed part reduces the data
      // to a per-DAY (deaths, censored) table — bounded by the
      // observation window, asserted — and the driver folds S_k =
      // ⌊S_{k-1}·(n_k−d_k)/n_k⌋ in exact BigInt pico units, replayed by
      // the oracle's recursive CTE with the identical floor division.
      val sq = s; import sq.implicits._
      val ev = events(s, dir)
      val horizon = ev.agg(max(col("ts")).as("tmax"))
      val perUser = ev.groupBy("user_id").agg(
        min(col("ts")).as("t0"),
        min(when(col("event_type") === "purchase", col("ts"))).as("tp"))
      val byDay = perUser.crossJoin(broadcast(horizon))
        .select(
          expr("""CAST((unix_micros(coalesce(tp, tmax)) - unix_micros(t0))
                  div 86400000000 AS BIGINT)""").as("dur"),
          when(col("tp").isNotNull, 1L).otherwise(0L).as("obs"))
        .groupBy("dur").agg(sum("obs").as("d"), sum(lit(1L) - col("obs")).as("c"))
      val days = byDay.collect().map(r =>
        (r.getAs[Long]("dur"), r.getAs[Long]("d"), r.getAs[Long]("c"))).sortBy(_._1)
      require(days.length <= 100000,
        s"ev_survival: ${days.length} distinct days exceed the bounded-collect guard")
      var atRisk = days.map(t => t._2 + t._3).sum
      var sPico = BigInt(1000000000000L)
      val out = scala.collection.mutable.ArrayBuffer[(Long, Long, Long, Long, Long)]()
      days.foreach { case (day, d, c) =>
        if (d > 0) {
          sPico = sPico * BigInt(atRisk - d) / BigInt(atRisk)
          out += ((day, atRisk, d, c, sPico.toLong))
        }
        atRisk -= (d + c)
      }
      out.toSeq.toDF("day", "n_risk", "n_events", "n_censored", "surv_pico")
    }),
    // ev_hazard: ev_survival's risk table, but the hazard is a running
    // SUM of once-rounded integer terms — pure window SQL, no recursion.
    "ev_hazard" -> Query(
      """WITH pu AS (SELECT user_id, min(ts) AS t0, min(CASE WHEN event_type = 'purchase' THEN ts END) AS tp FROM events GROUP BY 1), mx AS (SELECT max(ts) AS tmax FROM events), du AS (SELECT (epoch_us(coalesce(tp, tmax)) - epoch_us(t0)) // 86400000000 AS dur, CASE WHEN tp IS NULL THEN 0 ELSE 1 END AS obs FROM pu, mx), byday AS (SELECT dur, CAST(sum(obs) AS BIGINT) AS d, CAST(sum(1 - obs) AS BIGINT) AS c FROM du GROUP BY 1), tot AS (SELECT CAST(sum(d + c) AS BIGINT) AS n FROM byday), evt AS (SELECT dur, d, CAST(n - coalesce(sum(d + c) OVER (ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS n_risk FROM byday, tot), tm AS (SELECT dur, d, n_risk, CASE WHEN d > 0 THEN CAST(CAST(d AS HUGEINT) * 1000000 // n_risk AS BIGINT) ELSE CAST(0 AS BIGINT) END AS term FROM evt), cm AS (SELECT dur, d, n_risk, term, CAST(sum(term) OVER (ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cumhaz_micro FROM tm) SELECT dur AS day, n_risk, d AS n_events, term AS hazard_micro, cumhaz_micro FROM cm WHERE d > 0""")((s, dir) => {
      // Nelson–Aalen cumulative hazard on ev_survival's risk table —
      // H(t) = Σ_{t_j ≤ t} d_j/n_j. Unlike Kaplan–Meier's sequential
      // PRODUCT (which needs the driver fold), the hazard is a cumulative
      // SUM of per-day terms each micro-rounded ONCE, so the whole curve
      // stays in SQL: one per-day aggregate, one prior-rows window for
      // at-risk, one running sum — all over the bounded day domain
      // (whitelisted), zero collect. The estimator a 100 TB survival
      // pipeline should prefer for exactly that reason.
      import org.apache.spark.sql.expressions.Window
      val ev = events(s, dir)
      val horizon = ev.agg(max(col("ts")).as("tmax"))
      val perUser = ev.groupBy("user_id").agg(
        min(col("ts")).as("t0"),
        min(when(col("event_type") === "purchase", col("ts"))).as("tp"))
      val byDay = perUser.crossJoin(broadcast(horizon))
        .select(
          expr("""CAST((unix_micros(coalesce(tp, tmax)) - unix_micros(t0))
                  div 86400000000 AS BIGINT)""").as("dur"),
          when(col("tp").isNotNull, 1L).otherwise(0L).as("obs"))
        .groupBy("dur").agg(sum("obs").as("d"), sum(lit(1L) - col("obs")).as("c"))
      val tot = byDay.agg(sum(expr("d + c")).as("n"))
      val wPrior = Window.orderBy("dur")
        .rowsBetween(Window.unboundedPreceding, -1)
      val wCum = Window.orderBy("dur")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      byDay.crossJoin(broadcast(tot))
        .withColumn("n_risk",
          col("n") - coalesce(sum(expr("d + c")).over(wPrior), lit(0L)))
        .withColumn("term",
          expr("""CASE WHEN d > 0
                 THEN CAST(CAST(d AS DECIMAL(38,0)) * 1000000 div n_risk AS BIGINT)
                 ELSE CAST(0 AS BIGINT) END"""))
        .withColumn("cumhaz_micro", sum("term").over(wCum))
        .filter(col("d") > 0)
        .select(col("dur").as("day"), col("n_risk"), col("d").as("n_events"),
          col("term").as("hazard_micro"), col("cumhaz_micro"))
    }),
    // ev_logrank: per-arm at-risk from prior-rows windows over the
    // day x arm grid; staged HUGEINT divisions in the engine's op order.
    "ev_logrank" -> Query(
      """WITH pu AS (SELECT user_id, min(ts) AS t0, min(CASE WHEN event_type = 'purchase' THEN ts END) AS tp FROM events GROUP BY 1), mx AS (SELECT max(ts) AS tmax FROM events), du AS (SELECT user_id % 2 AS arm, (epoch_us(coalesce(tp, tmax)) - epoch_us(t0)) // 86400000000 AS dur, CASE WHEN tp IS NULL THEN 0 ELSE 1 END AS obs FROM pu, mx), bda AS (SELECT dur, arm, CAST(sum(obs) AS BIGINT) AS d, CAST(sum(1 - obs) AS BIGINT) AS c FROM du GROUP BY 1, 2), grid AS (SELECT g.dur, a.arm FROM (SELECT DISTINCT dur FROM bda) g CROSS JOIN (VALUES (CAST(0 AS BIGINT)), (CAST(1 AS BIGINT))) a(arm)), full0 AS (SELECT g.dur, g.arm, coalesce(b.d, 0) AS d, coalesce(b.c, 0) AS c FROM grid g LEFT JOIN bda b ON g.dur = b.dur AND g.arm = b.arm), risk AS (SELECT dur, arm, d, CAST(sum(d + c) OVER (PARTITION BY arm) - coalesce(sum(d + c) OVER (PARTITION BY arm ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS n_arm FROM full0), bd AS (SELECT dur, CAST(sum(d) AS BIGINT) AS dt, CAST(sum(CASE WHEN arm = 1 THEN d ELSE 0 END) AS BIGINT) AS d1, CAST(sum(n_arm) AS BIGINT) AS nt, CAST(sum(CASE WHEN arm = 1 THEN n_arm ELSE 0 END) AS BIGINT) AS n1 FROM risk GROUP BY 1 HAVING sum(d) > 0 AND sum(n_arm) > 0), tm AS (SELECT d1, CAST(CAST(dt AS HUGEINT) * n1 * 1000000 // nt AS BIGINT) AS e1, CAST(CASE WHEN nt > 1 THEN ((CAST(dt AS HUGEINT) * n1 * 1000000 // nt) * (nt - n1) // nt) * (nt - dt) // (nt - 1) ELSE CAST(0 AS HUGEINT) END AS BIGINT) AS v1 FROM bd), ag AS (SELECT CAST(sum(d1) AS BIGINT) AS o1, CAST(sum(e1) AS BIGINT) AS e1_micro, CAST(sum(v1) AS BIGINT) AS v1_micro FROM tm) SELECT o1, e1_micro, v1_micro, CASE WHEN v1_micro = 0 THEN NULL ELSE CAST((CAST(o1 AS HUGEINT) * 1000000 - e1_micro) * (CAST(o1 AS HUGEINT) * 1000000 - e1_micro) // v1_micro AS BIGINT) END AS chi2_micro FROM ag""")((s, dir) => {
      // two-sample log-rank test: do the even/odd user arms convert at
      // the same rate over time? Per death-day k: observed arm-1 deaths
      // vs hypergeometric expectation d_k·n_1k/n_k and variance
      // d_k·(n_1k/n_k)(1−n_1k/n_k)(n_k−d_k)/(n_k−1); χ² = (O−E)²/V.
      // Per-arm at-risk comes from prior-rows windows over the bounded
      // day×arm GRID (2 partitions of ≤ horizon days — never data-scale);
      // every term is staged integer division (d·n1·1e6 div n, then
      // ·(n−n1) div n, then ·(n−d) div (n−1)) so the largest intermediate
      // stays inside DECIMAL(38,0) even at billion-user arms, and the
      // oracle replays the identical op order in HUGEINT.
      import org.apache.spark.sql.expressions.Window
      val ev = events(s, dir)
      val horizon = ev.agg(max(col("ts")).as("tmax"))
      val perUser = ev.groupBy("user_id").agg(
        min(col("ts")).as("t0"),
        min(when(col("event_type") === "purchase", col("ts"))).as("tp"))
      val du = perUser.crossJoin(broadcast(horizon))
        .select((col("user_id") % 2).cast("long").as("arm"),
          expr("""CAST((unix_micros(coalesce(tp, tmax)) - unix_micros(t0))
                  div 86400000000 AS BIGINT)""").as("dur"),
          when(col("tp").isNotNull, 1L).otherwise(0L).as("obs"))
      val byDayArm = du.groupBy("dur", "arm")
        .agg(sum("obs").as("d"), sum(lit(1L) - col("obs")).as("c"))
      val arms = s.createDataFrame(Seq(Tuple1(0L), Tuple1(1L))).toDF("arm")
      val grid = byDayArm.select("dur").distinct().crossJoin(broadcast(arms))
      val full = grid.join(byDayArm, Seq("dur", "arm"), "left")
        .na.fill(0L, Seq("d", "c"))
      val wPrior = Window.partitionBy("arm").orderBy("dur")
        .rowsBetween(Window.unboundedPreceding, -1)
      val risk = full.withColumn("n_arm",
        sum(expr("d + c")).over(Window.partitionBy("arm"))
          - coalesce(sum(expr("d + c")).over(wPrior), lit(0L)))
      val byDay = risk.groupBy("dur").agg(
          sum("d").as("dt"),
          sum(when(col("arm") === 1L, col("d")).otherwise(0L)).as("d1"),
          sum("n_arm").as("nt"),
          sum(when(col("arm") === 1L, col("n_arm")).otherwise(0L)).as("n1"))
        .filter(col("dt") > 0 && col("nt") > 0)
      byDay.select(
          col("d1"),
          expr("CAST(CAST(dt AS DECIMAL(38,0)) * n1 * 1000000 div nt AS BIGINT)")
            .as("e1"),
          expr("""CAST(CASE WHEN nt > 1 THEN
                 ((CAST(dt AS DECIMAL(38,0)) * n1 * 1000000 div nt) * (nt - n1) div nt)
                   * (nt - dt) div (nt - 1)
                 ELSE CAST(0 AS DECIMAL(38,0)) END AS BIGINT)""").as("v1"))
        .agg(sum("d1").as("o1"), sum("e1").as("e1_micro"), sum("v1").as("v1_micro"))
        .select(col("o1"), col("e1_micro"), col("v1_micro"),
          expr("""CASE WHEN v1_micro = 0 THEN NULL
                 ELSE CAST((CAST(o1 AS DECIMAL(38,0)) * 1000000 - e1_micro)
                   * (CAST(o1 AS DECIMAL(38,0)) * 1000000 - e1_micro)
                   div v1_micro AS BIGINT) END""").as("chi2_micro"))
    }),
    // ev_ltv: the same floor(0.9^dy·1e6) literal decay table, all-integer
    "ev_ltv" -> Query(
      """WITH o AS (SELECT o_custkey, year(o_orderdate) AS yr, CAST(round(o_totalprice * 100) AS BIGINT) AS price_c FROM orders), f AS (SELECT o_custkey, min(yr) AS yr0 FROM o GROUP BY 1), d(dy, decay_micro) AS (VALUES (0, 1000000), (1, 900000), (2, 810000), (3, 729000), (4, 656100), (5, 590490), (6, 531441), (7, 478296), (8, 430467), (9, 387420), (10, 348678)) SELECT o.o_custkey AS custkey, CAST(count(*) AS BIGINT) AS n_orders, CAST(sum(price_c) AS BIGINT) AS raw_c, CAST(sum((price_c * decay_micro) // 1000000) AS BIGINT) AS ltv_c FROM o JOIN f USING (o_custkey) JOIN d ON d.dy = o.yr - f.yr0 GROUP BY 1""")((s, dir) => {
      // discounted customer lifetime value: each order's cents credited
      // at 0.9^(years since the customer's first order), the decay table
      // a BROADCAST literal of exact micro integers (floor(0.9^dy·1e6))
      // shared verbatim with the oracle — no libm pow anywhere. One hash
      // agg for first-year, one broadcast join, one hash agg: the
      // billions-of-customers shape with no window at all.
      val o = T(s, dir, "orders").select(col("o_custkey"),
        year(col("o_orderdate")).as("yr"),
        round(col("o_totalprice") * 100).cast("long").as("price_c"))
      val firstYr = o.groupBy("o_custkey").agg(min("yr").as("yr0"))
      val decay = s.createDataFrame(ltvDecayMicro).toDF("dy", "decay_micro")
      o.join(firstYr, "o_custkey")
        .withColumn("dy", (col("yr") - col("yr0")).cast("long"))
        .join(broadcast(decay), "dy")
        .groupBy(col("o_custkey").as("custkey"))
        .agg(count(lit(1)).as("n_orders"),
          sum("price_c").as("raw_c"),
          sum(expr("(price_c * decay_micro) div 1000000")).as("ltv_c"))
    }),

    "ev_gapfill" -> Query(
      """WITH daily AS (SELECT user_id, CAST(ts AS DATE) AS d, max(CAST(round(value * 100) AS BIGINT)) AS v_c FROM events GROUP BY 1, 2), sp AS (SELECT user_id, min(d) AS d0, max(d) AS d1 FROM daily GROUP BY 1), spine AS (SELECT user_id, CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP), CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS d FROM sp) SELECT s.user_id, s.d, last_value(daily.v_c IGNORE NULLS) OVER (PARTITION BY s.user_id ORDER BY s.d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled, daily.v_c IS NULL AS is_gap FROM spine s LEFT JOIN daily ON daily.user_id = s.user_id AND daily.d = s.d""")((s, dir) => {
      // LOCF daily gap-fill: per-user daily max gauge, a generated date
      // spine from first to last active day, missing days carried forward
      // with last(ignoreNulls). The spine explode is bounded by the day
      // span and the window partitions on user_id (high cardinality) —
      // every stage is per-user parallel; nothing global.
      import org.apache.spark.sql.expressions.Window
      val daily = events(s, dir)
        .select(col("user_id"), to_date(col("ts")).as("d"),
          round(col("value") * 100).cast("long").as("v_c"))
        .groupBy("user_id", "d").agg(max("v_c").as("v_c"))
      val spine = daily.groupBy("user_id")
        .agg(min("d").as("d0"), max("d").as("d1"))
        .select(col("user_id"), explode(sequence(col("d0"), col("d1"))).as("d"))
      val w = Window.partitionBy("user_id").orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      spine.join(daily, Seq("user_id", "d"), "left")
        .select(col("user_id"), col("d"),
          last(col("v_c"), ignoreNulls = true).over(w).as("v_filled"),
          col("v_c").isNull.as("is_gap"))
    }),

    "ev_churn" -> Query(
      """WITH um AS (SELECT DISTINCT user_id, CAST(date_trunc('month', ts) AS DATE) AS m FROM events), f AS (SELECT user_id, min(m) AS first_m FROM um GROUP BY 1), nx AS (SELECT user_id, CAST(m - INTERVAL 1 MONTH AS DATE) AS m, TRUE AS has_next FROM um) SELECT um.m AS month, CAST(count(*) AS BIGINT) AS n_active, CAST(sum(CASE WHEN nx.has_next THEN 1 ELSE 0 END) AS BIGINT) AS n_retained, CAST(sum(CASE WHEN nx.has_next IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_churned, CAST(sum(CASE WHEN f.first_m = um.m THEN 1 ELSE 0 END) AS BIGINT) AS n_new FROM um LEFT JOIN nx ON nx.user_id = um.user_id AND nx.m = um.m JOIN f ON f.user_id = um.user_id GROUP BY 1""")((s, dir) => {
      // month-over-month engagement ledger: per month the active-user
      // count, how many return next month, how many churn, how many are
      // brand new (first-ever month). Distinct (user, month) then three
      // keyed self-joins — hash shuffles on high-cardinality keys only.
      val um = events(s, dir)
        .select(col("user_id"), to_date(date_trunc("month", col("ts"))).as("m"))
        .distinct()
        .localCheckpoint(true) // probed three times below
      val nxt = um.select(col("user_id"), add_months(col("m"), -1).as("m"))
        .withColumn("has_next", lit(true))
      val first = um.groupBy("user_id").agg(min("m").as("first_m"))
      um.join(nxt, Seq("user_id", "m"), "left")
        .join(first, "user_id")
        .groupBy(col("m").as("month"))
        .agg(count(lit(1)).as("n_active"),
          sum(when(col("has_next"), 1L).otherwise(0L)).as("n_retained"),
          sum(when(col("has_next").isNull, 1L).otherwise(0L)).as("n_churned"),
          sum(when(col("first_m") === col("m"), 1L).otherwise(0L)).as("n_new"))
    }),

    "ev_heatmap" -> Query(
      """WITH cells AS (SELECT CAST(dayofweek(ts) AS BIGINT) AS dow, CAST(hour(ts) AS BIGINT) AS hr, CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1, 2), t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM cells) SELECT dow, hr, n, CAST((n * 1000000) // total AS BIGINT) AS share_micro FROM cells, t""")((s, dir) => {
      // day-of-week × hour activity heatmap with exact integral shares:
      // one hash agg to the bounded 7×24 domain, total as a broadcast
      // scalar. dow is 0=Sunday in both engines (Spark's dayofweek−1).
      val cells = events(s, dir)
        .groupBy((dayofweek(col("ts")) - 1).cast("long").as("dow"),
          hour(col("ts")).cast("long").as("hr"))
        .agg(count(lit(1)).as("n"))
      val tot = cells.agg(sum("n").as("total"))
      cells.crossJoin(broadcast(tot))
        .select(col("dow"), col("hr"), col("n"),
          expr("(n * 1000000) div total").as("share_micro"))
    }),

    "ev_concurrency" -> Query(
      """WITH e AS (SELECT CAST(floor(epoch(ts)) AS BIGINT) AS es FROM events), seg AS (SELECT es // 86400 AS day, es % 86400 AS a, es % 86400 + 3600 AS b FROM e WHERE es % 86400 + 3600 <= 86400 UNION ALL SELECT es // 86400, es % 86400, 86400 FROM e WHERE es % 86400 + 3600 > 86400 UNION ALL SELECT es // 86400 + 1, 0, es % 86400 + 3600 - 86400 FROM e WHERE es % 86400 + 3600 > 86400), del AS (SELECT day, a AS sec, CAST(1 AS BIGINT) AS delta FROM seg UNION ALL SELECT day, b, CAST(-1 AS BIGINT) FROM seg), g AS (SELECT day, sec, delta, CAST(sum(delta) AS BIGINT) AS d FROM del GROUP BY 1, 2, 3), r AS (SELECT day, sum(d) OVER (PARTITION BY day ORDER BY sec, delta ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run FROM g) SELECT CAST(day AS BIGINT) AS day, CAST(max(run) AS BIGINT) AS peak FROM r GROUP BY 1""")((s, dir) => {
      // daily peak concurrency by sweep-line, shuffle-bounded: each
      // event opens a 1 h half-open interval; intervals are clamped to
      // epoch-day segments (≤2), reduced to ±1 deltas, AGGREGATED to
      // the ≤86 400-second day grid FIRST, and only then prefix-summed —
      // the running-sum window is per-day over the bounded grid, never
      // over raw events. Ends sort before starts at the same second
      // (half-open semantics) via the (sec, delta) order.
      import org.apache.spark.sql.expressions.Window
      val seg = events(s, dir)
        .select(unix_timestamp(col("ts")).as("es"))
        .select(expr("es div 86400").as("day"),
          expr("""CASE WHEN es % 86400 + 3600 <= 86400
                  THEN array(named_struct('d', CAST(0 AS BIGINT), 'a', es % 86400,
                                          'b', es % 86400 + 3600))
                  ELSE array(named_struct('d', CAST(0 AS BIGINT), 'a', es % 86400,
                                          'b', CAST(86400 AS BIGINT)),
                             named_struct('d', CAST(1 AS BIGINT), 'a', CAST(0 AS BIGINT),
                                          'b', es % 86400 + 3600 - 86400))
                  END""").as("parts"))
        .select(explode(col("parts")).as("p"), col("day"))
        .select((col("day") + col("p.d")).as("day"), col("p.a").as("a"), col("p.b").as("b"))
      val deltas = seg.select(col("day"), col("a").as("sec"), lit(1L).as("delta"))
        .union(seg.select(col("day"), col("b").as("sec"), lit(-1L).as("delta")))
        .groupBy("day", "sec", "delta").agg(sum("delta").as("d"))
      val w = Window.partitionBy("day").orderBy(col("sec"), col("delta"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      deltas.withColumn("run", sum("d").over(w))
        .groupBy("day").agg(max("run").as("peak"))
    }),

    "ev_cuped" -> Query(
      """WITH ux AS (SELECT user_id, CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-15 00:00:00' THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS x_c, CAST(sum(CASE WHEN ts >= TIMESTAMP '2024-01-15 00:00:00' THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS y_c FROM events GROUP BY 1), g AS (SELECT CAST(count(*) AS HUGEINT) AS n, CAST(sum(x_c) AS HUGEINT) AS sx, CAST(sum(y_c) AS HUGEINT) AS sy, CAST(sum(CAST(x_c AS HUGEINT) * x_c) AS HUGEINT) AS sxx, CAST(sum(CAST(x_c AS HUGEINT) * y_c) AS HUGEINT) AS sxy FROM ux), t AS (SELECT n, sx, ((n * sxy - sx * sy) * 1000000) // (n * sxx - sx * sx) AS theta_micro FROM g) SELECT user_id, x_c, y_c, CAST(theta_micro AS BIGINT) AS theta_micro, CAST((n * y_c * 1000000 - theta_micro * (n * x_c - sx)) // n AS BIGINT) AS y_adj_micro FROM ux, t""")((s, dir) => {
      // CUPED variance reduction (the experimentation-platform
      // adjustment): pre-period value predicts post-period value;
      // θ = cov(x,y)/var(x) from one global DECIMAL(38) Gram agg
      // (broadcast scalars), each user's adjusted outcome an exact
      // integral expression scaled by n to stay in integers:
      // y_adj = (n·y·1e6 − θµ·(n·x − Σx)) div n.
      val cut = "2024-01-15 00:00:00"
      val ux = events(s, dir)
        .select(col("user_id"), round(col("value") * 100).cast("long").as("v_c"),
          (col("ts") < lit(cut).cast("timestamp")).as("pre"))
        .groupBy("user_id")
        .agg(sum(when(col("pre"), col("v_c")).otherwise(0L)).as("x_c"),
          sum(when(!col("pre"), col("v_c")).otherwise(0L)).as("y_c"))
        .localCheckpoint(true) // scalars AND per-user adjustment read it
      val g = ux.select(col("x_c").cast("decimal(38,0)").as("x"),
          col("y_c").cast("decimal(38,0)").as("y"))
        .agg(count(lit(1)).cast("decimal(38,0)").as("n"),
          sum("x").as("sx"), sum("y").as("sy"),
          sum(expr("x * x")).as("sxx"), sum(expr("x * y")).as("sxy"))
        .select(col("n"), col("sx"),
          expr("((n * sxy - sx * sy) * 1000000) div (n * sxx - sx * sx)")
            .as("theta_micro"))
      ux.crossJoin(broadcast(g))
        .select(col("user_id"), col("x_c"), col("y_c"),
          col("theta_micro").cast("long").as("theta_micro"),
          expr("""CAST((n * y_c * 1000000 - theta_micro * (n * x_c - sx))
                 div n AS BIGINT)""").as("y_adj_micro"))
    }),
    // ev_uplift: window ntile(10) is exactly Ranks.groupedNtile's
    // semantics (RanksSpec-proven); cumulative sums run over the 10-row
    // decile frame; HUGEINT mirrors the engine's DECIMAL rate products.
    "ev_uplift" -> Query(
      """WITH u AS (SELECT user_id, CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-15 00:00:00' THEN 1 ELSE 0 END) AS BIGINT) AS pre_n, CAST(max(CASE WHEN ts >= TIMESTAMP '2024-01-15 00:00:00' AND event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS resp FROM events GROUP BY 1), d AS (SELECT user_id, resp, CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS treated, CAST(ntile(10) OVER (ORDER BY pre_n DESC, user_id) AS BIGINT) AS decile FROM u), b AS (SELECT decile, CAST(sum(CASE WHEN treated = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_t, CAST(sum(CASE WHEN treated = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_c, CAST(sum(CASE WHEN treated = 1 THEN resp ELSE 0 END) AS BIGINT) AS r_t, CAST(sum(CASE WHEN treated = 0 THEN resp ELSE 0 END) AS BIGINT) AS r_c FROM d GROUP BY 1), c AS (SELECT *, CAST(sum(n_t) OVER w AS HUGEINT) AS cn_t, CAST(sum(n_c) OVER w AS HUGEINT) AS cn_c, CAST(sum(r_t) OVER w AS HUGEINT) AS cr_t, CAST(sum(r_c) OVER w AS HUGEINT) AS cr_c FROM b WINDOW w AS (ORDER BY decile ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) SELECT decile, n_t, n_c, r_t, r_c, CASE WHEN n_t = 0 OR n_c = 0 THEN NULL ELSE CAST(CAST(r_t AS HUGEINT) * 1000000 // n_t - CAST(r_c AS HUGEINT) * 1000000 // n_c AS BIGINT) END AS uplift_micro, CASE WHEN cn_c = 0 THEN NULL ELSE CAST(cr_t * 1000000 - (cr_c * cn_t * 1000000) // cn_c AS BIGINT) END AS qini_micro FROM c""")((s, dir) => {
      // uplift/Qini decile table — the causal companion to q_lift:
      // users split by the deterministic per-user assignment
      // (user_id % 2 — ev_srm's arm hash is per-event, uplift needs a
      // stable per-USER arm), ranked by PRE-period activity (the
      // targeting score a model would produce), cut into exact deciles
      // by the range-partitioned groupedNtile (no global sort window),
      // then per-decile treated/control response rates and the
      // cumulative Qini curve qini = cumR_t − cumR_c·cumN_t/cumN_c in
      // exact integer micro-units. The cumulative window runs over the
      // 10-row decile frame only; the rate products go through
      // DECIMAL(38,0) (HUGEINT oracle) so billion-user cohorts can't
      // wrap int64.
      import org.apache.spark.sql.expressions.Window
      val cut = "2024-01-15 00:00:00"
      val u = events(s, dir)
        .select(col("user_id"),
          (col("ts") < lit(cut).cast("timestamp")).as("pre"),
          (col("event_type") === "purchase").as("purch"))
        .groupBy("user_id")
        .agg(sum(when(col("pre"), 1L).otherwise(0L)).as("pre_n"),
          max(when(!col("pre") && col("purch"), 1L).otherwise(0L)).as("resp"))
        .withColumn("treated", (col("user_id") % 2 === 0).cast("long"))
        .withColumn("g", lit("all"))
      val dec = ext.Ranks.groupedNtile(u, "g",
        Seq(col("pre_n").desc, col("user_id").asc), 10, "decile")
      val byDec = dec.groupBy("decile")
        .agg(sum(when(col("treated") === 1L, 1L).otherwise(0L)).as("n_t"),
          sum(when(col("treated") === 0L, 1L).otherwise(0L)).as("n_c"),
          sum(when(col("treated") === 1L, col("resp")).otherwise(0L)).as("r_t"),
          sum(when(col("treated") === 0L, col("resp")).otherwise(0L)).as("r_c"))
      val w = Window.orderBy("decile")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      byDec
        .withColumn("cn_t", sum("n_t").over(w))
        .withColumn("cn_c", sum("n_c").over(w))
        .withColumn("cr_t", sum("r_t").over(w))
        .withColumn("cr_c", sum("r_c").over(w))
        .select(col("decile"), col("n_t"), col("n_c"), col("r_t"), col("r_c"),
          expr("""CASE WHEN n_t = 0 OR n_c = 0 THEN NULL
                 ELSE CAST(CAST(r_t AS DECIMAL(38,0)) * 1000000 div n_t
                   - CAST(r_c AS DECIMAL(38,0)) * 1000000 div n_c AS BIGINT)
                 END""").as("uplift_micro"),
          expr("""CASE WHEN cn_c = 0 THEN NULL
                 ELSE CAST(CAST(cr_t AS DECIMAL(38,0)) * 1000000
                   - (CAST(cr_c AS DECIMAL(38,0)) * cn_t * 1000000) div cn_c
                   AS BIGINT) END""").as("qini_micro"))
    }),
    // ev_ipw: ev_uplift's user frame and decile machinery; HUGEINT
    // mirrors the engine's DECIMAL HT-term products; nonnegative
    // operands keep // and div identical.
    "ev_ipw" -> Query(
      """WITH u AS (SELECT user_id, CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-15 00:00:00' THEN 1 ELSE 0 END) AS BIGINT) AS pre_n, CAST(max(CASE WHEN ts >= TIMESTAMP '2024-01-15 00:00:00' AND event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS resp FROM events GROUP BY 1), d AS (SELECT user_id, resp, CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS treated, CAST(ntile(10) OVER (ORDER BY pre_n DESC, user_id) AS BIGINT) AS stratum FROM u), b AS (SELECT stratum, CAST(count(*) AS BIGINT) AS n_s, CAST(sum(CASE WHEN treated = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_t, CAST(sum(CASE WHEN treated = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_c, CAST(sum(CASE WHEN treated = 1 THEN resp ELSE 0 END) AS BIGINT) AS r_t, CAST(sum(CASE WHEN treated = 0 THEN resp ELSE 0 END) AS BIGINT) AS r_c FROM d GROUP BY 1) SELECT stratum, n_s, n_t, n_c, r_t, r_c, CAST(CAST(n_t AS HUGEINT) * 1000000 // n_s AS BIGINT) AS propensity_micro, CASE WHEN n_t = 0 OR n_c = 0 THEN NULL ELSE CAST(CAST(r_t AS HUGEINT) * n_s * 1000000 // n_t - CAST(r_c AS HUGEINT) * n_s * 1000000 // n_c AS BIGINT) END AS ht_term_micro FROM b""")((s, dir) => {
      // stratified inverse-propensity weighting — the observational
      // sibling of ev_uplift: strata are exact pre-period-activity
      // deciles (range-partitioned groupedNtile, no global sort window),
      // the within-stratum propensity is n_t/n_s, and each stratum
      // contributes the Horvitz-Thompson term r_t·n_s/n_t − r_c·n_s/n_c
      // (sum over strata / N = the stratified ATE). All products run in
      // DECIMAL(38,0) (HUGEINT oracle); empty arms yield NULL, the
      // estimator's honest answer, mirrored in the oracle.
      val cut = "2024-01-15 00:00:00"
      val u = events(s, dir)
        .select(col("user_id"),
          (col("ts") < lit(cut).cast("timestamp")).as("pre"),
          (col("event_type") === "purchase").as("purch"))
        .groupBy("user_id")
        .agg(sum(when(col("pre"), 1L).otherwise(0L)).as("pre_n"),
          max(when(!col("pre") && col("purch"), 1L).otherwise(0L)).as("resp"))
        .withColumn("treated", (col("user_id") % 2 === 0).cast("long"))
        .withColumn("g", lit("all"))
      val dec = ext.Ranks.groupedNtile(u, "g",
        Seq(col("pre_n").desc, col("user_id").asc), 10, "stratum")
      dec.groupBy("stratum")
        .agg(count(lit(1)).as("n_s"),
          sum(when(col("treated") === 1L, 1L).otherwise(0L)).as("n_t"),
          sum(when(col("treated") === 0L, 1L).otherwise(0L)).as("n_c"),
          sum(when(col("treated") === 1L, col("resp")).otherwise(0L)).as("r_t"),
          sum(when(col("treated") === 0L, col("resp")).otherwise(0L)).as("r_c"))
        .select(col("stratum"), col("n_s"), col("n_t"), col("n_c"),
          col("r_t"), col("r_c"),
          expr("CAST(CAST(n_t AS DECIMAL(38,0)) * 1000000 div n_s AS BIGINT)")
            .as("propensity_micro"),
          expr("""CASE WHEN n_t = 0 OR n_c = 0 THEN NULL
                 ELSE CAST(CAST(r_t AS DECIMAL(38,0)) * n_s * 1000000 div n_t
                   - CAST(r_c AS DECIMAL(38,0)) * n_s * 1000000 div n_c AS BIGINT)
                 END""").as("ht_term_micro"))
    }),
    // ev_snips: identical per-(cohort, action) cells, HT terms
    // micro-floored per cell, HUGEINT products
    "ev_snips" -> Query(snipsOracleSql)((s, dir) => {
      // self-normalized inverse-propensity scoring (SNIPS — Swaminathan
      // & Joachims 2015) off-policy value of a purchase-skewed target
      // policy (π_t: purchase 0.6, others 0.1) against the LOGGED event
      // stream, per user cohort. Logging propensities are the empirical
      // per-(cohort, action) rates n_ca/N_c, so each cell contributes
      // the Horvitz-Thompson term π_t(a)·N_c·r_ca/n_ca and the
      // normalizer Σ π_t(a)·N_c — exact integer rationals, micro-floored
      // per CELL (deterministic on both engines), DECIMAL(38,0) products
      // so a trillion-event log cannot wrap. Reward = value > 50.
      val cells = events(s, dir)
        .select((col("user_id") % 10).as("cohort"), col("event_type"),
          when(col("value") > 50, 1L).otherwise(0L).as("r"))
        .groupBy("cohort", "event_type")
        .agg(count(lit(1)).as("n_ca"), sum("r").as("r_ca"))
        .withColumn("pt_micro",
          when(col("event_type") === "purchase", 600000L).otherwise(100000L))
      val nc = cells.groupBy("cohort").agg(sum("n_ca").as("n_c"))
      cells.join(broadcast(nc), "cohort")
        .withColumn("term",
          expr("(CAST(pt_micro AS DECIMAL(38,0)) * n_c * r_ca) div n_ca"))
        .withColumn("wsum", expr("CAST(pt_micro AS DECIMAL(38,0)) * n_c"))
        .groupBy("cohort")
        .agg(count(lit(1)).as("n_cells"), sum("n_ca").as("n_events"),
          sum("term").as("num"), sum("wsum").as("den"))
        .select(col("cohort"), col("n_cells"), col("n_events"),
          expr("CAST(num AS BIGINT)").as("num_micro"),
          expr("CAST(den AS BIGINT)").as("den_micro"),
          expr("CAST((CAST(num AS DECIMAL(38,0)) * 1000000) div den AS BIGINT)")
            .as("snips_micro"))
    }),
    // ev_tost: q_ttest's Welch replay on per-user spend with arms by
    // parity; margin, t's and the equivalence verdict in the identical
    // double op order.
    "ev_tost" -> Query(
      """WITH u AS (SELECT user_id, CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v FROM events GROUP BY 1), vv AS (SELECT user_id % 2 = 0 AS a, CAST(v AS HUGEINT) AS v FROM u), g AS (SELECT CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS HUGEINT) AS n1, CAST(sum(CASE WHEN a THEN v END) AS HUGEINT) AS s1, CAST(sum(CASE WHEN a THEN v * v END) AS HUGEINT) AS ss1, CAST(sum(CASE WHEN NOT a THEN 1 ELSE 0 END) AS HUGEINT) AS n2, CAST(sum(CASE WHEN NOT a THEN v END) AS HUGEINT) AS s2, CAST(sum(CASE WHEN NOT a THEN v * v END) AS HUGEINT) AS ss2 FROM vv), d AS (SELECT n1, n2, CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS dm, abs(CAST(s1 + s2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE)) * 0.02 AS delta, CAST(n1 * ss1 - s1 * s1 AS DOUBLE) / (CAST(n1 AS DOUBLE) * CAST(n1 AS DOUBLE) * CAST(n1 - 1 AS DOUBLE)) AS a1, CAST(n2 * ss2 - s2 * s2 AS DOUBLE) / (CAST(n2 AS DOUBLE) * CAST(n2 AS DOUBLE) * CAST(n2 - 1 AS DOUBLE)) AS a2 FROM g) SELECT CAST(n1 AS BIGINT) AS n_a, CAST(n2 AS BIGINT) AS n_b, CAST(round(dm * 1000000) AS BIGINT) AS dm_micro_c, CAST(round(delta * 1000000) AS BIGINT) AS delta_micro_c, CAST(round((dm + delta) / sqrt(a1 + a2) * 1000000) AS BIGINT) AS t_lower_micro, CAST(round((delta - dm) / sqrt(a1 + a2) * 1000000) AS BIGINT) AS t_upper_micro, least((dm + delta) / sqrt(a1 + a2), (delta - dm) / sqrt(a1 + a2)) > 1.645 AS equivalent FROM d""")((s, dir) => {
      // TOST equivalence test (Schuirmann): is the A/B per-user spend
      // difference PROVABLY within ±2% of the grand mean — the "safe to
      // ship, arms are equivalent" claim a plain t-test can never make.
      // Welch machinery shared with q_ttest (exact DECIMAL Gram sums,
      // variances as rational pairs, mirrored IEEE expressions); both
      // one-sided t's reported in micro units, equivalence at the
      // one-sided 5% level (t > 1.645 for both).
      val u = events(s, dir)
        .select(col("user_id"), expr("CAST(round(value * 100) AS BIGINT)").as("vc"))
        .groupBy("user_id").agg(sum("vc").as("v"))
        .select((col("user_id") % 2 === 0).as("a"),
          col("v").cast("decimal(38,0)").as("v"))
      u.agg(
          sum(when(col("a"), 1L).otherwise(0L)).cast("decimal(38,0)").as("n1"),
          sum(when(col("a"), col("v"))).as("s1"),
          sum(when(col("a"), expr("v * v"))).as("ss1"),
          sum(when(!col("a"), 1L).otherwise(0L)).cast("decimal(38,0)").as("n2"),
          sum(when(!col("a"), col("v"))).as("s2"),
          sum(when(!col("a"), expr("v * v"))).as("ss2"))
        .select(col("n1"), col("n2"),
          expr("""CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
                 - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE)""").as("dm"),
          expr("""abs(CAST(s1 + s2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE)) * 0.02""")
            .as("delta"),
          expr("""CAST(n1 * ss1 - s1 * s1 AS DOUBLE)
                 / (CAST(n1 AS DOUBLE) * CAST(n1 AS DOUBLE) * CAST(n1 - 1 AS DOUBLE))""")
            .as("a1"),
          expr("""CAST(n2 * ss2 - s2 * s2 AS DOUBLE)
                 / (CAST(n2 AS DOUBLE) * CAST(n2 AS DOUBLE) * CAST(n2 - 1 AS DOUBLE))""")
            .as("a2"))
        .select(col("n1").cast("long").as("n_a"), col("n2").cast("long").as("n_b"),
          expr("CAST(round(dm * 1000000) AS BIGINT)").as("dm_micro_c"),
          expr("CAST(round(delta * 1000000) AS BIGINT)").as("delta_micro_c"),
          expr("CAST(round((dm + delta) / sqrt(a1 + a2) * 1000000) AS BIGINT)")
            .as("t_lower_micro"),
          expr("CAST(round((delta - dm) / sqrt(a1 + a2) * 1000000) AS BIGINT)")
            .as("t_upper_micro"),
          expr("""least((dm + delta) / sqrt(a1 + a2),
                 (delta - dm) / sqrt(a1 + a2)) > 1.645""").as("equivalent"))
    }),

    "ev_gaps" -> Query(
      """WITH g AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(lag(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id))) AS BIGINT) AS gap_s FROM events), b AS (SELECT CASE WHEN gap_s < 1 THEN '0_sub_second' WHEN gap_s < 10 THEN '1_under_10s' WHEN gap_s < 60 THEN '2_under_1m' WHEN gap_s < 600 THEN '3_under_10m' WHEN gap_s < 3600 THEN '4_under_1h' WHEN gap_s < 86400 THEN '5_under_1d' ELSE '6_over_1d' END AS bucket FROM g WHERE gap_s IS NOT NULL), c AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n FROM b GROUP BY 1), t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM c) SELECT bucket, n, CAST((n * 1000000) // total AS BIGINT) AS share_micro FROM c, t""")((s, dir) => {
      // inter-event gap distribution: per-user lag (high-cardinality
      // partitioned window), then an exact CASE ladder into 7 literal
      // buckets and a bounded-domain share table — the think-time
      // histogram behind session-timeout tuning (ev_sessions' 30 min).
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val gaps = events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"))
        .withColumn("gap_s",
          unix_timestamp(col("ts")) - unix_timestamp(lag(col("ts"), 1).over(w)))
        .filter(col("gap_s").isNotNull)
        .select(expr("""CASE WHEN gap_s < 1 THEN '0_sub_second'
          WHEN gap_s < 10 THEN '1_under_10s' WHEN gap_s < 60 THEN '2_under_1m'
          WHEN gap_s < 600 THEN '3_under_10m' WHEN gap_s < 3600 THEN '4_under_1h'
          WHEN gap_s < 86400 THEN '5_under_1d' ELSE '6_over_1d' END""").as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("n"))
      val tot = gaps.agg(sum("n").as("total"))
      gaps.crossJoin(broadcast(tot))
        .select(col("bucket"), col("n"), expr("(n * 1000000) div total").as("share_micro"))
    }),

    "ev_entry_exit" -> Query(
      """WITH ev AS (SELECT user_id, ts, event_id, event_type, CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(lag(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id))) AS BIGINT) AS gap_s FROM events), s AS (SELECT user_id, ts, event_id, event_type, sum(CASE WHEN gap_s IS NULL OR gap_s > 1800 THEN 1 ELSE 0 END) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess FROM ev), r AS (SELECT user_id, sess, event_type, row_number() OVER (PARTITION BY user_id, sess ORDER BY ts, event_id) AS rn_a, row_number() OVER (PARTITION BY user_id, sess ORDER BY ts DESC, event_id DESC) AS rn_d FROM s), p AS (SELECT user_id, sess, max(CASE WHEN rn_a = 1 THEN event_type END) AS entry, max(CASE WHEN rn_d = 1 THEN event_type END) AS "exit" FROM r GROUP BY 1, 2), c AS (SELECT entry, "exit", CAST(count(*) AS BIGINT) AS n FROM p GROUP BY 1, 2), t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM c) SELECT entry, "exit", n, CAST((n * 1000000) // total AS BIGINT) AS share_micro FROM c, t""")((s, dir) => {
      // session entry→exit path table: 30-minute-gap sessionization
      // (per-user windows only), first/last event type per session, then
      // the bounded (entry, exit) transition counts with exact shares —
      // the landing/bounce analysis over product events.
      import org.apache.spark.sql.expressions.Window
      val wUser = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val ev = events(s, dir).select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"))
        .withColumn("gap_s",
          unix_timestamp(col("ts")) - unix_timestamp(lag(col("ts"), 1).over(wUser)))
        .withColumn("new_sess",
          when(col("gap_s").isNull || col("gap_s") > 1800L, 1L).otherwise(0L))
        .withColumn("sess", sum("new_sess").over(
          wUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val wSess = Window.partitionBy("user_id", "sess")
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val paths = ev
        .withColumn("entry", first("event_type").over(wSess))
        .withColumn("exit", last("event_type").over(wSess))
        .groupBy("user_id", "sess").agg(first("entry").as("entry"), first("exit").as("exit"))
        .groupBy("entry", "exit").agg(count(lit(1)).as("n"))
      val tot = paths.agg(sum("n").as("total"))
      paths.crossJoin(broadcast(tot))
        .select(col("entry"), col("exit"), col("n"),
          expr("(n * 1000000) div total").as("share_micro"))
    }),

    "ev_baseline_anomaly" -> Query(
      """WITH cells AS (SELECT CAST(ts AS DATE) AS d, CAST(dayofweek(ts) AS BIGINT) AS dow, CAST(hour(ts) AS BIGINT) AS hr, CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1, 2, 3), b AS (SELECT dow, hr, CAST(sum(n) AS BIGINT) AS sum_n, CAST(count(*) AS BIGINT) AS n_obs FROM cells GROUP BY 1, 2) SELECT d, dow, hr, n, sum_n, n_obs, CAST((n * n_obs * 1000000) // sum_n AS BIGINT) AS ratio_micro, n * n_obs > sum_n * 3 AS is_spike FROM cells JOIN b USING (dow, hr)""")((s, dir) => {
      // seasonal-baseline anomaly audit: each (date, dow, hour) cell is
      // compared against the all-history (dow, hour) baseline — exact
      // integral ratio n·n_obs·1e6 div Σn, spike when the ratio predicate
      // 3·Σn < n·n_obs holds in integers. The baseline is 168 rows,
      // broadcast; the cell table is one hash agg.
      val cells = events(s, dir)
        .groupBy(to_date(col("ts")).as("d"),
          (dayofweek(col("ts")) - 1).cast("long").as("dow"),
          hour(col("ts")).cast("long").as("hr"))
        .agg(count(lit(1)).as("n"))
        .localCheckpoint(true) // cells feed the baseline AND the compare
      val base = cells.groupBy("dow", "hr")
        .agg(sum("n").as("sum_n"), count(lit(1)).as("n_obs"))
      cells.join(broadcast(base), Seq("dow", "hr"))
        .select(col("d"), col("dow"), col("hr"), col("n"), col("sum_n"), col("n_obs"),
          expr("(n * n_obs * 1000000) div sum_n").as("ratio_micro"),
          (col("n") * col("n_obs") > col("sum_n") * 3L).as("is_spike"))
    }),

    "ev_did" -> Query(
      """WITH e AS (SELECT user_id % 2 = 1 AS t, ts >= TIMESTAMP '2024-01-15 00:00:00' AS p, CAST(round(value * 100) AS BIGINT) AS v FROM events), g AS (SELECT CAST(sum(CASE WHEN t AND p THEN v ELSE 0 END) AS BIGINT) AS s_tp, CAST(sum(CASE WHEN t AND p THEN 1 ELSE 0 END) AS BIGINT) AS n_tp, CAST(sum(CASE WHEN t AND NOT p THEN v ELSE 0 END) AS BIGINT) AS s_tb, CAST(sum(CASE WHEN t AND NOT p THEN 1 ELSE 0 END) AS BIGINT) AS n_tb, CAST(sum(CASE WHEN NOT t AND p THEN v ELSE 0 END) AS BIGINT) AS s_cp, CAST(sum(CASE WHEN NOT t AND p THEN 1 ELSE 0 END) AS BIGINT) AS n_cp, CAST(sum(CASE WHEN NOT t AND NOT p THEN v ELSE 0 END) AS BIGINT) AS s_cb, CAST(sum(CASE WHEN NOT t AND NOT p THEN 1 ELSE 0 END) AS BIGINT) AS n_cb FROM e) SELECT n_tp, n_tb, n_cp, n_cb, CAST((s_tp * 1000000) // n_tp - (s_tb * 1000000) // n_tb - ((s_cp * 1000000) // n_cp - (s_cb * 1000000) // n_cb) AS BIGINT) AS did_micro FROM g""")((s, dir) => {
      // difference-in-differences: treatment = odd user ids, period
      // split at the cutoff; the four cell aggregates collapse in ONE
      // conditional-aggregation pass and the DID estimate is a pure
      // integral-micro expression of the four cell means. The
      // experimentation readout that pairs with ev_cuped.
      val cut = "2024-01-15 00:00:00"
      events(s, dir)
        .select((col("user_id") % 2 === 1).as("treat"),
          (col("ts") >= lit(cut).cast("timestamp")).as("post"),
          round(col("value") * 100).cast("long").as("v_c"))
        .agg(
          sum(when(col("treat") && col("post"), col("v_c")).otherwise(0L)).as("s_tp"),
          sum(when(col("treat") && col("post"), 1L).otherwise(0L)).as("n_tp"),
          sum(when(col("treat") && !col("post"), col("v_c")).otherwise(0L)).as("s_tb"),
          sum(when(col("treat") && !col("post"), 1L).otherwise(0L)).as("n_tb"),
          sum(when(!col("treat") && col("post"), col("v_c")).otherwise(0L)).as("s_cp"),
          sum(when(!col("treat") && col("post"), 1L).otherwise(0L)).as("n_cp"),
          sum(when(!col("treat") && !col("post"), col("v_c")).otherwise(0L)).as("s_cb"),
          sum(when(!col("treat") && !col("post"), 1L).otherwise(0L)).as("n_cb"))
        .select(col("n_tp"), col("n_tb"), col("n_cp"), col("n_cb"),
          expr("""(s_tp * 1000000) div n_tp - (s_tb * 1000000) div n_tb
                 - ((s_cp * 1000000) div n_cp - (s_cb * 1000000) div n_cb)""")
            .as("did_micro"))
    }),

    "ev_funnel_time" -> Query(
      """WITH f AS (SELECT user_id, min(CASE WHEN event_type = 'view' THEN ts END) AS v, min(CASE WHEN event_type = 'purchase' THEN ts END) AS p FROM events GROUP BY 1), g AS (SELECT CAST(floor(epoch(p)) AS BIGINT) - CAST(floor(epoch(v)) AS BIGINT) AS gap_s FROM f WHERE v IS NOT NULL AND p IS NOT NULL AND p >= v), h AS (SELECT gap_s, CAST(count(*) AS BIGINT) AS c FROM g GROUP BY 1), cw AS (SELECT gap_s, sum(c) OVER (ORDER BY gap_s ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum, sum(c) OVER () AS n FROM h) SELECT CAST(max(n) AS BIGINT) AS n_converted, CAST(min(CASE WHEN cum * 2 >= n THEN gap_s END) AS BIGINT) AS median_s, CAST(min(CASE WHEN cum * 10 >= n * 9 THEN gap_s END) AS BIGINT) AS p90_s FROM cw""")((s, dir) => {
      // time-to-convert quantiles: each user's first view → first
      // purchase gap, exact median and p90 from the gap-value histogram
      // (group to the value domain, running count, pick ⌈q·n⌉) — the
      // q_mad selection pattern on a domain bounded by the number of
      // converting users. One pass builds both quantiles.
      import org.apache.spark.sql.expressions.Window
      val firsts = events(s, dir)
        .groupBy("user_id")
        .agg(min(when(col("event_type") === "view", col("ts"))).as("v"),
          min(when(col("event_type") === "purchase", col("ts"))).as("p"))
        .filter(col("v").isNotNull && col("p").isNotNull && col("p") >= col("v"))
        .select((unix_timestamp(col("p")) - unix_timestamp(col("v"))).as("gap_s"))
      val h = firsts.groupBy("gap_s").agg(count(lit(1)).as("c"))
      val wc = Window.orderBy("gap_s")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      h.withColumn("cum", sum("c").over(wc))
        .withColumn("n", sum("c").over(Window.partitionBy()))
        .agg(max("n").as("n_converted"),
          min(when(col("cum") * 2 >= col("n"), col("gap_s"))).as("median_s"),
          min(when(col("cum") * 10 >= col("n") * 9, col("gap_s"))).as("p90_s"))
    }),

    "ev_slo_burn" -> Query(
      """WITH h AS (SELECT date_trunc('hour', ts) AS hour, CAST(count(*) AS BIGINT) AS n, CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_err FROM events GROUP BY 1) SELECT hour, n, n_err, CAST((n_err * 1000000) // n AS BIGINT) AS err_share_micro, CAST((n_err * 100000000) // n AS BIGINT) AS burn_micro, (n_err * 100000000) // n > 14400000 AS alert FROM h""")((s, dir) => {
      // error-budget burn rate against a 99 % SLO: hourly error share
      // over the budget (1 − SLO = 1 %), alert at the standard 14.4×
      // fast-burn threshold — burn_micro = err·1e8 div n, every term an
      // exact integer. One hash agg to the hour domain; nothing else.
      events(s, dir)
        .groupBy(date_trunc("hour", col("ts")).as("hour"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("n_err"))
        .select(col("hour"), col("n"), col("n_err"),
          expr("(n_err * 1000000) div n").as("err_share_micro"),
          expr("(n_err * 100000000) div n").as("burn_micro"),
          (expr("(n_err * 100000000) div n") > 14400000L).as("alert"))
    }),

    "ev_srm" -> Query(
      """WITH arms AS (SELECT CAST(props->>'$.k' AS BIGINT) % 2 AS arm, CAST(count(*) AS BIGINT) AS o FROM events GROUP BY 1), tv AS (SELECT CAST(sum(o) AS BIGINT) AS total, CAST(count(*) AS BIGINT) AS v FROM arms), s AS (SELECT ((o * v - total) * (o * v - total) * 1000000) // (total * v) AS term, total, v FROM arms, tv) SELECT CAST(max(v) AS BIGINT) AS n_variants, CAST(max(total) AS BIGINT) AS n_total, CAST(sum(term) AS BIGINT) AS chi2_micro, CAST(3841459 AS BIGINT) AS crit_micro, sum(term) > 3841459 AS srm_detected FROM s""")((s, dir) => {
      // sample-ratio-mismatch audit: the 50/50 A/B arms derived from the
      // assignment key (k % 2) are chi-square tested against the equal
      // split — χ² as an exact sum of integral micro terms
      // Σ (o·v − t)²·1e6 div (t·v), flagged against the df=1 literal
      // critical value 3 841 459. The guardrail read before trusting any
      // ev_did / ev_cuped estimate.
      val arms = events(s, dir)
        .select((expr("CAST(get_json_object(props, '$.k') AS BIGINT)") % 2).as("arm"))
        .groupBy("arm").agg(count(lit(1)).as("o"))
      val tot = arms.agg(sum("o").as("t"), count(lit(1)).as("v"))
      arms.crossJoin(broadcast(tot))
        .select(col("arm"), col("o"), col("t"), col("v"),
          expr("((o * v - t) * (o * v - t) * 1000000) div (t * v)").as("term_micro"))
        .groupBy()
        .agg(max("v").as("n_variants"), max("t").as("n_total"),
          sum("term_micro").as("chi2_micro"))
        .withColumn("crit_micro", lit(3841459L))
        .withColumn("srm_detected", col("chi2_micro") > col("crit_micro"))
    }),

    "ev_bounce" -> Query(
      """WITH ev AS (SELECT user_id, ts, event_id, CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(lag(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id))) AS BIGINT) AS gap_s FROM events), s AS (SELECT user_id, ts, sum(CASE WHEN gap_s IS NULL OR gap_s > 1800 THEN 1 ELSE 0 END) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess FROM ev), g AS (SELECT user_id, sess, CAST(count(*) AS BIGINT) AS n_events, min(ts) AS t0 FROM s GROUP BY 1, 2), d AS (SELECT CAST(t0 AS DATE) AS d, CAST(count(*) AS BIGINT) AS n_sessions, CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounce FROM g GROUP BY 1) SELECT d, n_sessions, n_bounce, CAST((n_bounce * 1000000) // n_sessions AS BIGINT) AS bounce_micro FROM d""")((s, dir) => {
      // daily bounce rate: 30-minute-gap sessions (per-user windows
      // only), a session bounces when it holds exactly one event;
      // shares are exact integral micro by session-start day.
      import org.apache.spark.sql.expressions.Window
      val wUser = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val sess = events(s, dir).select(col("user_id"), col("ts"), col("event_id"))
        .withColumn("gap_s",
          unix_timestamp(col("ts")) - unix_timestamp(lag(col("ts"), 1).over(wUser)))
        .withColumn("new_sess",
          when(col("gap_s").isNull || col("gap_s") > 1800L, 1L).otherwise(0L))
        .withColumn("sess", sum("new_sess").over(
          wUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "sess")
        .agg(count(lit(1)).as("n_events"), min(col("ts")).as("t0"))
      sess.groupBy(to_date(col("t0")).as("d"))
        .agg(count(lit(1)).as("n_sessions"),
          sum(when(col("n_events") === 1L, 1L).otherwise(0L)).as("n_bounce"))
        .withColumn("bounce_micro", expr("(n_bounce * 1000000) div n_sessions"))
    }),

    "ev_flap" -> Query(
      """WITH h AS (SELECT date_trunc('hour', ts) AS hour, CAST(count(*) AS BIGINT) AS n, CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_err FROM events GROUP BY 1), a AS (SELECT hour, (n_err * 100000000) // n > 14400000 AS alert FROM h), x AS (SELECT alert, lag(alert, 1) OVER (ORDER BY hour) AS p, lead(alert, 1) OVER (ORDER BY hour) AS nx FROM a) SELECT CAST(count(*) AS BIGINT) AS n_hours, CAST(sum(CASE WHEN alert THEN 1 ELSE 0 END) AS BIGINT) AS n_alert_hours, CAST(sum(CASE WHEN p IS NOT NULL AND p <> alert THEN 1 ELSE 0 END) AS BIGINT) AS n_transitions, CAST(sum(CASE WHEN alert AND (p IS NULL OR NOT p) AND (nx IS NULL OR NOT nx) THEN 1 ELSE 0 END) AS BIGINT) AS n_one_hour_blips FROM x""")((s, dir) => {
      // alert-flap audit over the hourly SLO-burn series: transition
      // count and the share of alert episodes lasting exactly one hour
      // (the ones a 2-hour suppression window would swallow). Lag/lead
      // windows run over the bounded hour domain only.
      import org.apache.spark.sql.expressions.Window
      val hourly = events(s, dir)
        .groupBy(date_trunc("hour", col("ts")).as("hour"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("n_err"))
        .withColumn("alert", expr("(n_err * 100000000) div n") > 14400000L)
      val w = Window.orderBy("hour")
      hourly
        .withColumn("p", lag(col("alert"), 1).over(w))
        .withColumn("nx", lead(col("alert"), 1).over(w))
        .agg(count(lit(1)).as("n_hours"),
          sum(when(col("alert"), 1L).otherwise(0L)).as("n_alert_hours"),
          sum(when(col("p").isNotNull && col("p") =!= col("alert"), 1L)
            .otherwise(0L)).as("n_transitions"),
          sum(when(col("alert") &&
              (col("p").isNull || !col("p")) && (col("nx").isNull || !col("nx")), 1L)
            .otherwise(0L)).as("n_one_hour_blips"))
    }),

    "ev_tier_migration" -> Query(
      """WITH rev AS (SELECT o_custkey, CAST(sum(CASE WHEN year(o_orderdate) <= 1997 THEN CAST(round(o_totalprice * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS r1, CAST(sum(CASE WHEN year(o_orderdate) >= 1998 THEN CAST(round(o_totalprice * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS r2 FROM orders GROUP BY 1), m AS (SELECT CASE WHEN r1 IS NULL OR r1 = 0 THEN 'none' WHEN r1 >= 150000000 THEN 'A' WHEN r1 >= 75000000 THEN 'B' ELSE 'C' END AS from_tier, CASE WHEN r2 IS NULL OR r2 = 0 THEN 'none' WHEN r2 >= 150000000 THEN 'A' WHEN r2 >= 75000000 THEN 'B' ELSE 'C' END AS to_tier, CAST(count(*) AS BIGINT) AS n FROM rev GROUP BY 1, 2), t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM m) SELECT from_tier, to_tier, n, CAST((n * 1000000) // total AS BIGINT) AS share_micro FROM m, t""")((s, dir) => {
      // customer value-tier migration between eras: per-customer
      // revenue in 1995–97 vs 1998–2001 classed by FIXED literal
      // thresholds (no quantile sort anywhere); inactive eras land in
      // the 'none' tier — the transition matrix a CRM reads. ONE
      // conditional-agg pass builds both eras; no self-join at all.
      def tier(c: org.apache.spark.sql.Column) = when(c.isNull || c === 0L, "none")
        .when(c >= 150000000L, "A").when(c >= 75000000L, "B").otherwise("C")
      val rev = T(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(sum(when(year(col("o_orderdate")) <= 1997,
            round(col("o_totalprice") * 100).cast("long")).otherwise(0L)).as("r1"),
          sum(when(year(col("o_orderdate")) >= 1998,
            round(col("o_totalprice") * 100).cast("long")).otherwise(0L)).as("r2"))
      val m = rev.select(tier(col("r1")).as("from_tier"), tier(col("r2")).as("to_tier"))
        .groupBy("from_tier", "to_tier").agg(count(lit(1)).as("n"))
      val tot = m.agg(sum("n").as("total"))
      m.crossJoin(broadcast(tot))
        .select(col("from_tier"), col("to_tier"), col("n"),
          expr("(n * 1000000) div total").as("share_micro"))
    }),

    "ev_streaks" -> Query(
      """WITH days AS (SELECT DISTINCT user_id, CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day_idx FROM events), i AS (SELECT user_id, day_idx, day_idx - CAST(row_number() OVER (PARTITION BY user_id ORDER BY day_idx) AS BIGINT) AS isl FROM days), g AS (SELECT user_id, isl, CAST(count(*) AS BIGINT) AS len FROM i GROUP BY 1, 2) SELECT user_id, CAST(sum(len) AS BIGINT) AS n_active_days, CAST(count(*) AS BIGINT) AS n_streaks, CAST(max(len) AS BIGINT) AS longest_streak FROM g GROUP BY 1""")((s, dir) => {
      // gaps-and-islands activity streaks: consecutive active days
      // collapse to one island via the classic day_idx − row_number
      // constant, then per-user streak stats — n_islands, longest and
      // current streak drive retention features. Per-user windows over
      // distinct active DAYS only (≤ span days per user, never raw
      // events).
      import org.apache.spark.sql.expressions.Window
      val days = events(s, dir)
        .select(col("user_id"),
          expr("unix_timestamp(ts) div 86400").as("day_idx"))
        .distinct()
      val w = Window.partitionBy("user_id").orderBy("day_idx")
      val islands = days
        .withColumn("isl", col("day_idx") - row_number().over(w))
        .groupBy("user_id", "isl").agg(count(lit(1)).as("len"))
      islands.groupBy("user_id")
        .agg(sum("len").as("n_active_days"), count(lit(1)).as("n_streaks"),
          max("len").as("longest_streak"))
    }),

    "ev_abandon" -> Query(
      """WITH e AS (SELECT user_id, ts, event_id, event_type, min(CASE WHEN event_type = 'purchase' THEN ts END) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS np FROM events), c AS (SELECT CAST(ts AS DATE) AS d, (np IS NULL OR CAST(floor(epoch(np)) AS BIGINT) - CAST(floor(epoch(ts)) AS BIGINT) > 3600) AS abandoned FROM e WHERE event_type = 'click'), g AS (SELECT d, CAST(count(*) AS BIGINT) AS n_clicks, CAST(sum(CASE WHEN abandoned THEN 1 ELSE 0 END) AS BIGINT) AS n_abandoned FROM c GROUP BY 1) SELECT d, n_clicks, n_abandoned, CAST((n_abandoned * 1000000) // n_clicks AS BIGINT) AS abandon_micro FROM g""")((s, dir) => {
      // cart abandonment: a click with no purchase by the same user
      // within the following hour — "next purchase at-or-after" is ONE
      // forward-looking min window per user (no self-join, no range
      // join), then a bounded daily rate table.
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("next_purchase",
          min(when(col("event_type") === "purchase", col("ts"))).over(w))
        .filter(col("event_type") === "click")
        .select(to_date(col("ts")).as("d"),
          (col("next_purchase").isNull ||
            unix_timestamp(col("next_purchase")) - unix_timestamp(col("ts")) > 3600L)
            .as("abandoned"))
        .groupBy("d")
        .agg(count(lit(1)).as("n_clicks"),
          sum(when(col("abandoned"), 1L).otherwise(0L)).as("n_abandoned"))
        .withColumn("abandon_micro", expr("(n_abandoned * 1000000) div n_clicks"))
    }),

    "ev_sequential" -> Query(
      """WITH e AS (SELECT CAST(props->>'k' AS BIGINT) % 2 AS arm, (day(ts) - 1) // 7 + 1 AS look, CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS conv FROM events), wk AS (SELECT arm, look, CAST(count(*) AS BIGINT) AS n, CAST(sum(conv) AS BIGINT) AS x FROM e GROUP BY 1, 2), c AS (SELECT arm, look, sum(n) OVER (PARTITION BY arm ORDER BY look ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cn, sum(x) OVER (PARTITION BY arm ORDER BY look ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cx FROM wk), l AS (SELECT look, max(CASE WHEN arm = 0 THEN cn END) AS n0, max(CASE WHEN arm = 0 THEN cx END) AS x0, max(CASE WHEN arm = 1 THEN cn END) AS n1, max(CASE WHEN arm = 1 THEN cx END) AS x1 FROM c GROUP BY 1), f AS (SELECT CAST(look AS BIGINT) AS look, CAST(n0 AS BIGINT) AS n0, CAST(x0 AS BIGINT) AS x0, CAST(n1 AS BIGINT) AS n1, CAST(x1 AS BIGINT) AS x1, CAST(round((CAST(x1 AS DOUBLE) / n1 - CAST(x0 AS DOUBLE) / n0) / sqrt(CAST(x0 + x1 AS DOUBLE) / (n0 + n1) * (1.0 - CAST(x0 + x1 AS DOUBLE) / (n0 + n1)) * (1.0 / n0 + 1.0 / n1)) * 1000000) AS BIGINT) AS z_micro, CAST(round(2040000.0 * sqrt(5.0 / look)) AS BIGINT) AS bound_micro FROM l) SELECT look, n0, x0, n1, x1, z_micro, bound_micro, abs(z_micro) > bound_micro AS crossed FROM f""")((s, dir) => {
      // group-sequential A/B monitor: weekly interim looks at the
      // hash-split two-arm experiment (stream_srm's arm rule), pooled
      // two-proportion z at each look, against O'Brien-Fleming-shaped
      // boundaries z_k = 2.04·sqrt(K/k) (K=5 literal looks, sqrt exact)
      // — the early-stopping discipline that keeps peeking honest.
      // Cumulative counts are per-arm windows over the ≤5-week frame;
      // the look panel itself is bounded (PlanAuditSpec whitelisted).
      import org.apache.spark.sql.expressions.Window
      val wk = events(s, dir)
        .select((expr("CAST(get_json_object(props, '$.k') AS BIGINT)") % 2).as("arm"),
          expr("(dayofmonth(ts) - 1) div 7 + 1").as("look"),
          when(col("event_type") === "purchase", 1L).otherwise(0L).as("conv"))
        .groupBy("arm", "look")
        .agg(count(lit(1)).as("n"), sum("conv").as("x"))
      val cum = wk
        .withColumn("cn", sum("n").over(Window.partitionBy("arm").orderBy("look")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("cx", sum("x").over(Window.partitionBy("arm").orderBy("look")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      cum.groupBy("look")
        .agg(max(when(col("arm") === 0L, col("cn"))).as("n0"),
          max(when(col("arm") === 0L, col("cx"))).as("x0"),
          max(when(col("arm") === 1L, col("cn"))).as("n1"),
          max(when(col("arm") === 1L, col("cx"))).as("x1"))
        .withColumn("z_micro", expr(
          """CAST(round((CAST(x1 AS DOUBLE) / n1 - CAST(x0 AS DOUBLE) / n0)
             | / sqrt(CAST(x0 + x1 AS DOUBLE) / (n0 + n1)
             |        * (1.0 - CAST(x0 + x1 AS DOUBLE) / (n0 + n1))
             |        * (1.0 / n0 + 1.0 / n1)) * 1000000) AS BIGINT)""".stripMargin))
        .withColumn("bound_micro",
          expr("CAST(round(2040000.0 * sqrt(5.0 / look)) AS BIGINT)"))
        .withColumn("crossed", abs(col("z_micro")) > col("bound_micro"))
    }),

    "ev_balance" -> Query(evBalanceOracleSql)((s, dir) => {
      // covariate balance audit (did randomization balance?): the
      // standardized mean difference (m₁−m₀)/√((v₁+v₀)/2) per covariate
      // across the hash-split arms — |SMD| > 0.1 is the usual imbalance
      // flag. Exact integer sums (cents / hours), ONE conditional-agg
      // pass per covariate, double only at the final rounding.
      def smd(df: DataFrame, name: String, v: org.apache.spark.sql.Column) =
        df.select((expr("CAST(get_json_object(props, '$.k') AS BIGINT)") % 2).as("arm"),
            v.cast("decimal(38,0)").as("v")) // s·s products exceed 2⁶³ at scale
          .agg(
            sum(when(col("arm") === 0L, 1L).otherwise(0L)).as("n0"),
            sum(when(col("arm") === 0L, col("v"))).as("s0"),
            sum(when(col("arm") === 0L, expr("v * v"))).as("ss0"),
            sum(when(col("arm") === 1L, 1L).otherwise(0L)).as("n1"),
            sum(when(col("arm") === 1L, col("v"))).as("s1"),
            sum(when(col("arm") === 1L, expr("v * v"))).as("ss1"))
          .withColumn("vp", expr( // pooled variance; 0 for constants
            """((CAST(n1 * ss1 - s1 * s1 AS DOUBLE) / (CAST(n1 AS DOUBLE) * (n1 - 1)))
               | + (CAST(n0 * ss0 - s0 * s0 AS DOUBLE) / (CAST(n0 AS DOUBLE) * (n0 - 1)))) / 2.0"""
              .stripMargin))
          .select(lit(name).as("covariate"), col("n0"), col("n1"),
            expr("""CASE WHEN vp <= 0.0 THEN CAST(0 AS BIGINT)
                   | ELSE CAST(round((CAST(s1 AS DOUBLE) / n1 - CAST(s0 AS DOUBLE) / n0)
                   |   / sqrt(vp) * 1000000) AS BIGINT) END""".stripMargin).as("smd_micro"))
          .withColumn("imbalanced", abs(col("smd_micro")) > 100000L)
      val ev = events(s, dir)
      smd(ev, "value_c", expr("CAST(round(value * 100) AS BIGINT)"))
        .unionByName(smd(ev, "hour", hour(col("ts")).cast("long")))
        .unionByName(smd(ev, "is_purchase",
          when(col("event_type") === "purchase", 1L).otherwise(0L)))
    }),

    "ev_its" -> Query(
      """WITH daily AS (SELECT CAST(day(ts) AS BIGINT) AS t, CAST(count(*) AS BIGINT) AS y FROM events WHERE event_type = 'purchase' GROUP BY 1), seg AS (SELECT CASE WHEN t < 15 THEN 'pre' ELSE 'post' END AS seg, t, y FROM daily), g AS (SELECT seg, CAST(count(*) AS BIGINT) AS n, CAST(sum(t) AS BIGINT) AS st, CAST(sum(y) AS BIGINT) AS sy, CAST(sum(t * t) AS BIGINT) AS stt, CAST(sum(t * y) AS BIGINT) AS sty FROM seg GROUP BY 1) SELECT seg, n, ((n * sty - st * sy) * 1000000) // (n * stt - st * st) AS slope_micro, (sy * 1000000 - ((n * sty - st * sy) * 1000000) // (n * stt - st * st) * st) // n AS intercept_micro FROM g""")((s, dir) => {
      // interrupted time series: daily purchase counts fit y = a + b·t
      // per segment around the literal 2024-01-15 cutoff — closed-form
      // 2-var OLS in exact integers (slope and intercept land in micro
      // via ONE integral division each); the level/trend break between
      // the two rows is the causal read. One day-keyed agg; the fit is
      // a single-row conditional agg per segment.
      val daily = events(s, dir)
        .filter(col("event_type") === "purchase")
        .groupBy(dayofmonth(col("ts")).cast("long").as("t"))
        .agg(count(lit(1)).as("y"))
        .withColumn("seg", when(col("t") < 15L, "pre").otherwise("post"))
      daily.groupBy("seg")
        .agg(count(lit(1)).as("n"), sum("t").as("st"), sum("y").as("sy"),
          sum(expr("t * t")).as("stt"), sum(expr("t * y")).as("sty"))
        .select(col("seg"), col("n"),
          expr("((n * sty - st * sy) * 1000000) div (n * stt - st * st)")
            .as("slope_micro"),
          expr("(sy * 1000000 - ((n * sty - st * sy) * 1000000) div (n * stt - st * st) * st) div n")
            .as("intercept_micro"))
    }),

    "ev_features_pit" -> Query(
      """WITH e AS (SELECT user_id, ts, event_type, value FROM events WHERE ts < TIMESTAMP '2024-01-20 00:00:00') SELECT user_id, CAST(count(*) AS BIGINT) AS n_events, CAST(sum(CASE WHEN ts >= TIMESTAMP '2024-01-13 00:00:00' THEN 1 ELSE 0 END) AS BIGINT) AS n_7d, CAST(sum(CASE WHEN ts >= TIMESTAMP '2024-01-06 00:00:00' THEN 1 ELSE 0 END) AS BIGINT) AS n_14d, CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS spend_c, CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchases, CAST(floor(epoch(TIMESTAMP '2024-01-20 00:00:00')) AS BIGINT) - CAST(floor(epoch(max(ts))) AS BIGINT) AS recency_s FROM e GROUP BY 1""")((s, dir) => {
      // point-in-time-correct feature extraction (the feature-store
      // primitive): per user, AS OF the literal 2024-01-20 cutoff —
      // activity counts in the trailing 7/14-day windows, spend, days
      // since last event. ONE conditional-agg pass over events strictly
      // before the cutoff; no window function, no leakage by
      // construction (nothing ≥ cutoff is read).
      val cutoff = lit("2024-01-20 00:00:00").cast("timestamp")
      events(s, dir)
        .filter(col("ts") < cutoff)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("ts") >= expr("timestamp'2024-01-13 00:00:00'"), 1L)
            .otherwise(0L)).as("n_7d"),
          sum(when(col("ts") >= expr("timestamp'2024-01-06 00:00:00'"), 1L)
            .otherwise(0L)).as("n_14d"),
          sum(expr("CAST(round(value * 100) AS BIGINT)")).as("spend_c"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("n_purchases"),
          max(col("ts")).as("last_ts"))
        .select(col("user_id"), col("n_events"), col("n_7d"), col("n_14d"),
          col("spend_c"), col("n_purchases"),
          expr("unix_timestamp(timestamp'2024-01-20 00:00:00') - unix_timestamp(last_ts)")
            .as("recency_s"))
    }),

    "ev_ratio_delta" -> Query(
      """WITH per AS (SELECT user_id % 2 AS arm, CAST(sum(CAST(round(value * 100) AS BIGINT)) AS HUGEINT) AS x, CAST(count(*) AS HUGEINT) AS y FROM events GROUP BY arm, user_id), g AS (SELECT arm, CAST(count(*) AS BIGINT) AS n, sum(x) AS sx, sum(y) AS sy, sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy FROM per GROUP BY 1) SELECT arm, n, CAST((sx * 1000000) // sy AS BIGINT) AS ratio_micro, CAST(round(sqrt(((CAST(n * sxx - sx * sx AS DOUBLE) / (CAST(n AS DOUBLE) * (n - 1))) + (CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE)) * (CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE)) * (CAST(n * syy - sy * sy AS DOUBLE) / (CAST(n AS DOUBLE) * (n - 1))) - 2.0 * (CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE)) * (CAST(n * sxy - sx * sy AS DOUBLE) / (CAST(n AS DOUBLE) * (n - 1)))) / n) / (CAST(sy AS DOUBLE) / n) * 1000000) AS BIGINT) AS se_micro FROM g""")((s, dir) => {
      // ratio-metric inference (spend per event) with the DELTA METHOD:
      // naive per-user averaging is biased and naive SEs ignore the
      // denominator's variance — the correct read is R = Σx/Σy with
      // Var(R) ≈ (s²_x + R²s²_y − 2R·s_xy)/(n·ȳ²). Per-user integer
      // sums (user-consistent arms via user_id % 2), one double pass at
      // the end, both micro-rounded once.
      val per = events(s, dir)
        .groupBy((col("user_id") % 2).as("arm"), col("user_id"))
        .agg(sum(expr("CAST(round(value * 100) AS BIGINT)")).as("x"),
          count(lit(1)).as("y"))
        .select(col("arm"), expr("CAST(x AS DECIMAL(38,0))").as("x"),
          expr("CAST(y AS DECIMAL(38,0))").as("y"))
      per.groupBy("arm")
        .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
          sum(expr("x * x")).as("sxx"), sum(expr("y * y")).as("syy"),
          sum(expr("x * y")).as("sxy"))
        .select(col("arm"), col("n"),
          expr("CAST((sx * 1000000) div sy AS BIGINT)").as("ratio_micro"),
          expr("""CAST(round(sqrt((
                 |   (CAST(n * sxx - sx * sx AS DOUBLE) / (CAST(n AS DOUBLE) * (n - 1)))
                 | + (CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE)) * (CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE))
                 |   * (CAST(n * syy - sy * sy AS DOUBLE) / (CAST(n AS DOUBLE) * (n - 1)))
                 | - 2.0 * (CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE))
                 |   * (CAST(n * sxy - sx * sy AS DOUBLE) / (CAST(n AS DOUBLE) * (n - 1)))
                 | ) / n) / (CAST(sy AS DOUBLE) / n) * 1000000) AS BIGINT)""".stripMargin)
            .as("se_micro"))
    }),

    "ev_retention" -> Query(
      """WITH days AS (SELECT DISTINCT user_id, CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day_idx FROM events), c AS (SELECT user_id, min(day_idx) AS d0 FROM days GROUP BY 1), j AS (SELECT c.d0, c.user_id, days.day_idx FROM c JOIN days USING (user_id)), g AS (SELECT d0, CAST(count(DISTINCT user_id) AS BIGINT) AS n_cohort, CAST(sum(CASE WHEN day_idx = d0 + 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_d1, CAST(sum(CASE WHEN day_idx = d0 + 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_d3, CAST(sum(CASE WHEN day_idx = d0 + 7 THEN 1 ELSE 0 END) AS BIGINT) AS n_d7 FROM j GROUP BY 1) SELECT d0 AS cohort_day, n_cohort, (n_d1 * 1000000) // n_cohort AS d1_micro, (n_d3 * 1000000) // n_cohort AS d3_micro, (n_d7 * 1000000) // n_cohort AS d7_micro FROM g""")((s, dir) => {
      // classic N-day retention curve: each user's cohort is their
      // first active day; the day-k rate is the share of the cohort
      // active exactly k days later (k = 1, 3, 7). Distinct (user, day)
      // first, then ONE join of cohorts to activity and a conditional
      // agg — no per-user window, no k-way self-join.
      val days = events(s, dir)
        .select(col("user_id"), expr("unix_timestamp(ts) div 86400").as("day_idx"))
        .distinct().localCheckpoint(true) // cohort agg + activity probe
      val cohort = days.groupBy("user_id").agg(min("day_idx").as("d0"))
      cohort.join(days, Seq("user_id"))
        .groupBy(col("d0"))
        .agg(count_distinct(col("user_id")).as("n_cohort"),
          sum(when(col("day_idx") === col("d0") + 1L, 1L).otherwise(0L)).as("n_d1"),
          sum(when(col("day_idx") === col("d0") + 3L, 1L).otherwise(0L)).as("n_d3"),
          sum(when(col("day_idx") === col("d0") + 7L, 1L).otherwise(0L)).as("n_d7"))
        .select(col("d0").as("cohort_day"), col("n_cohort"),
          expr("(n_d1 * 1000000) div n_cohort").as("d1_micro"),
          expr("(n_d3 * 1000000) div n_cohort").as("d3_micro"),
          expr("(n_d7 * 1000000) div n_cohort").as("d7_micro"))
    }),

    "ev_lifecycle" -> Query(
      """WITH days AS (SELECT DISTINCT user_id, CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day_idx FROM events), g AS (SELECT user_id, day_idx, day_idx - lag(day_idx, 1) OVER (PARTITION BY user_id ORDER BY day_idx) AS gap FROM days), c AS (SELECT day_idx, CASE WHEN gap IS NULL THEN 'new' WHEN gap = 1 THEN 'retained' WHEN gap <= 7 THEN 'returning' ELSE 'resurrected' END AS cls FROM g) SELECT day_idx, CAST(count(*) AS BIGINT) AS n_active, CAST(sum(CASE WHEN cls = 'new' THEN 1 ELSE 0 END) AS BIGINT) AS n_new, CAST(sum(CASE WHEN cls = 'retained' THEN 1 ELSE 0 END) AS BIGINT) AS n_retained, CAST(sum(CASE WHEN cls = 'returning' THEN 1 ELSE 0 END) AS BIGINT) AS n_returning, CAST(sum(CASE WHEN cls = 'resurrected' THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected FROM c GROUP BY 1""")((s, dir) => {
      // daily growth accounting: each active user-day classified as new
      // (first ever), retained (active yesterday), returning (gap 2–7
      // days) or resurrected (gap > 7) — the DAU decomposition growth
      // teams read. Distinct (user, day), ONE user-partitioned lag,
      // one day panel agg.
      import org.apache.spark.sql.expressions.Window
      val days = events(s, dir)
        .select(col("user_id"), expr("unix_timestamp(ts) div 86400").as("day_idx"))
        .distinct()
      val w = Window.partitionBy("user_id").orderBy("day_idx")
      days.withColumn("gap", col("day_idx") - lag(col("day_idx"), 1).over(w))
        .withColumn("cls", when(col("gap").isNull, "new")
          .when(col("gap") === 1L, "retained")
          .when(col("gap") <= 7L, "returning").otherwise("resurrected"))
        .groupBy(col("day_idx"))
        .agg(count(lit(1)).as("n_active"),
          sum(when(col("cls") === "new", 1L).otherwise(0L)).as("n_new"),
          sum(when(col("cls") === "retained", 1L).otherwise(0L)).as("n_retained"),
          sum(when(col("cls") === "returning", 1L).otherwise(0L)).as("n_returning"),
          sum(when(col("cls") === "resurrected", 1L).otherwise(0L)).as("n_resurrected"))
    }),

    "ev_shapley" -> Query(shapleyOracleSql)((s, dir) => {
      // Shapley-value channel attribution over touch coalitions: v(S) =
      // observed conversion rate of users whose touched-channel set is
      // S (view/click/signup → purchase), φ_c = Σ_S |S|!(k−|S|−1)!/k! ·
      // (v(S∪c) − v(S)) with the k=3 factorial weights as exact sixths
      // (per-term integral div, order-free sum). ONE user agg → an
      // 8-row coalition panel → a 12-row literal term table. The
      // game-theoretic attribution ev_attribution's heuristics
      // approximate.
      val users = events(s, dir)
        .groupBy("user_id")
        .agg(max(when(col("event_type") === "view", 1L).otherwise(0L)).as("hv"),
          max(when(col("event_type") === "click", 2L).otherwise(0L)).as("hc"),
          max(when(col("event_type") === "signup", 4L).otherwise(0L)).as("hs"),
          max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("conv"))
      val panel = users
        .groupBy((col("hv") + col("hc") + col("hs")).as("mask"))
        .agg(count(lit(1)).as("n_users"), sum("conv").as("n_conv"))
        .select(col("mask"), expr("(n_conv * 1000000) div n_users").as("v_micro"))
        .localCheckpoint(true) // joined twice by the term table
      val terms = s.createDataFrame(shapleyTerms)
        .toDF("channel", "with_mask", "without_mask", "w_num")
      terms
        .join(broadcast(panel.select(col("mask").as("with_mask"),
          col("v_micro").as("v_with"))), Seq("with_mask"), "left")
        .join(broadcast(panel.select(col("mask").as("without_mask"),
          col("v_micro").as("v_without"))), Seq("without_mask"), "left")
        .select(col("channel"),
          expr("(w_num * (coalesce(v_with, 0) - coalesce(v_without, 0))) div 6")
            .as("term"))
        .groupBy("channel").agg(sum("term").as("phi_micro"))
    }),

    "ev_session_sensitivity" -> Query(
      """WITH g AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(lag(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id))) AS BIGINT) AS gap_s FROM events), a AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users, CAST(sum(CASE WHEN gap_s > 900 THEN 1 ELSE 0 END) AS BIGINT) AS g15, CAST(sum(CASE WHEN gap_s > 1800 THEN 1 ELSE 0 END) AS BIGINT) AS g30, CAST(sum(CASE WHEN gap_s > 3600 THEN 1 ELSE 0 END) AS BIGINT) AS g60 FROM g), t(tau_s, gcol) AS (VALUES (900, 'g15'), (1800, 'g30'), (3600, 'g60')) SELECT CAST(tau_s AS BIGINT) AS tau_s, n_users, n_users + (CASE gcol WHEN 'g15' THEN g15 WHEN 'g30' THEN g30 ELSE g60 END) AS n_sessions, ((n_users + (CASE gcol WHEN 'g15' THEN g15 WHEN 'g30' THEN g30 ELSE g60 END)) * 1000000) // n_users AS sessions_per_user_micro FROM t, a""")((s, dir) => {
      // session-timeout sensitivity sweep: sessions(τ) = users + gaps
      // exceeding τ — so the τ ∈ {15, 30, 60} min panel needs ONE
      // user-partitioned lag pass and a conditional agg, not three
      // sessionizations. The parameter-sweep-as-conditional-agg pattern.
      val gaps = events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"))
        .withColumn("gap_s",
          expr("unix_timestamp(ts)") - expr("unix_timestamp(lag(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id))"))
      val agg = gaps.agg(
        count_distinct(col("user_id")).as("n_users"),
        sum(when(col("gap_s") > 900L, 1L).otherwise(0L)).as("g15"),
        sum(when(col("gap_s") > 1800L, 1L).otherwise(0L)).as("g30"),
        sum(when(col("gap_s") > 3600L, 1L).otherwise(0L)).as("g60"))
      val taus = s.createDataFrame(Seq((900L, "g15"), (1800L, "g30"), (3600L, "g60")))
        .toDF("tau_s", "gcol")
      taus.crossJoin(broadcast(agg))
        .select(col("tau_s"), col("n_users"),
          (col("n_users") + expr(
            "CASE gcol WHEN 'g15' THEN g15 WHEN 'g30' THEN g30 ELSE g60 END"))
            .as("n_sessions"))
        .withColumn("sessions_per_user_micro",
          expr("(n_sessions * 1000000) div n_users"))
    }),

    "ev_late" -> Query(
      """WITH p AS (SELECT user_id, event_id, ts, max(ts) OVER (PARTITION BY user_id ORDER BY event_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max FROM events), c AS (SELECT CAST(ts AS DATE) AS d, (prev_max IS NOT NULL AND ts < prev_max) AS late, CASE WHEN prev_max IS NOT NULL AND ts < prev_max THEN CAST(floor(epoch(prev_max)) AS BIGINT) - CAST(floor(epoch(ts)) AS BIGINT) ELSE 0 END AS skew_s FROM p) SELECT d, CAST(count(*) AS BIGINT) AS n_events, CAST(sum(CASE WHEN late THEN 1 ELSE 0 END) AS BIGINT) AS n_late, CAST(max(skew_s) AS BIGINT) AS max_skew_s, (CAST(sum(CASE WHEN late THEN 1 ELSE 0 END) AS BIGINT) * 1000000) // CAST(count(*) AS BIGINT) AS late_micro FROM c GROUP BY 1""")((s, dir) => {
      // out-of-order arrival audit: with event_id as the arrival order,
      // an event is LATE when its timestamp precedes the running max of
      // everything that arrived before it (per user — the partitioned
      // form of the watermark question streaming cares about). One
      // user-keyed window; daily panel of late share + worst skew.
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      events(s, dir)
        .select(col("user_id"), col("event_id"), col("ts"))
        .withColumn("prev_max", max(col("ts")).over(w))
        .select(to_date(col("ts")).as("d"),
          (col("prev_max").isNotNull && col("ts") < col("prev_max")).as("late"),
          when(col("prev_max").isNotNull && col("ts") < col("prev_max"),
            expr("unix_timestamp(prev_max) - unix_timestamp(ts)")).otherwise(0L)
            .as("skew_s"))
        .groupBy("d")
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("late"), 1L).otherwise(0L)).as("n_late"),
          max("skew_s").as("max_skew_s"))
        .withColumn("late_micro", expr("(n_late * 1000000) div n_events"))
    }),

    "ev_audience_overlap" -> Query(audienceOverlapOracleSql)((s, dir) => {
      // audience-overlap matrix: Jaccard between the user sets of each
      // event-type pair — ONE per-user flag agg, then every pairwise
      // intersection/union as conditional sums over the user frame (no
      // self-join of users, no 5×5 scan repetition). The
      // marketing-segment dedup read.
      val flags = events(s, dir)
        .groupBy("user_id")
        .agg(max(when(col("event_type") === "view", 1L).otherwise(0L)).as("f_view"),
          max(when(col("event_type") === "click", 1L).otherwise(0L)).as("f_click"),
          max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("f_purchase"),
          max(when(col("event_type") === "signup", 1L).otherwise(0L)).as("f_signup"),
          max(when(col("event_type") === "error", 1L).otherwise(0L)).as("f_error"))
        .localCheckpoint(true) // one frame, ten pair sums
      val types = Seq("view", "click", "purchase", "signup", "error")
      val pairs = for {
        i <- types.indices; j <- types.indices if i < j
      } yield (types(i), types(j))
      pairs.map { case (t1, t2) =>
        flags.agg(
          sum(when(col(s"f_$t1") === 1L && col(s"f_$t2") === 1L, 1L).otherwise(0L))
            .as("n_both"),
          sum(when(col(s"f_$t1") === 1L || col(s"f_$t2") === 1L, 1L).otherwise(0L))
            .as("n_either"))
          .select(lit(t1).as("type_a"), lit(t2).as("type_b"), col("n_both"),
            col("n_either"),
            expr("CASE WHEN n_either = 0 THEN 0 ELSE (n_both * 1000000) div n_either END")
              .as("jaccard_micro"))
      }.reduce(_ unionByName _)
    }),

    "ev_feature_drift" -> Query(
      """WITH a AS (SELECT least(n_events // 20, 9) AS bin, CAST(count(*) AS BIGINT) AS na FROM (SELECT user_id, CAST(count(*) AS BIGINT) AS n_events FROM events WHERE ts < TIMESTAMP '2024-01-15 00:00:00' GROUP BY 1) GROUP BY 1), b AS (SELECT least(n_events // 20, 9) AS bin, CAST(count(*) AS BIGINT) AS nb FROM (SELECT user_id, CAST(count(*) AS BIGINT) AS n_events FROM events WHERE ts < TIMESTAMP '2024-01-25 00:00:00' GROUP BY 1) GROUP BY 1), j AS (SELECT coalesce(a.bin, b.bin) AS bin, coalesce(na, 0) AS na, coalesce(nb, 0) AS nb FROM a FULL JOIN b ON a.bin = b.bin), t AS (SELECT CAST(sum(na) AS BIGINT) AS ta, CAST(sum(nb) AS BIGINT) AS tb, CAST(count(*) AS BIGINT) AS k FROM j) SELECT bin, CAST(na AS BIGINT) AS na, CAST(nb AS BIGINT) AS nb, CAST(round((CAST(nb + 1 AS DOUBLE) / (tb + k) - CAST(na + 1 AS DOUBLE) / (ta + k)) * ln((CAST(nb + 1 AS DOUBLE) / (tb + k)) / (CAST(na + 1 AS DOUBLE) / (ta + k))) * 1000000) AS BIGINT) AS psi_term_micro FROM j, t""")((s, dir) => {
      // training-serving skew audit: PSI of the per-user activity
      // distribution between the Jan-15 and Jan-25 point-in-time
      // snapshots (the ev_features_pit windows a model would train and
      // serve on). Bounded activity bins, Laplace +1 smoothing so no
      // log blows up, per-bin ln terms micro-rounded (order-free). PSI
      // > 0.2 is the usual retrain trigger.
      def snapshot(cutoff: String) = events(s, dir)
        .filter(col("ts") < lit(cutoff).cast("timestamp"))
        .groupBy("user_id").agg(count(lit(1)).as("n_events"))
        .groupBy(expr("least(n_events div 20, 9)").as("bin"))
        .agg(count(lit(1)).as("n"))
      val a = snapshot("2024-01-15 00:00:00").select(col("bin"), col("n").as("na"))
      val b = snapshot("2024-01-25 00:00:00").select(col("bin"), col("n").as("nb"))
      val j = a.join(b, Seq("bin"), "full")
        .select(col("bin"), coalesce(col("na"), lit(0L)).as("na"),
          coalesce(col("nb"), lit(0L)).as("nb"))
        .localCheckpoint(true) // totals + terms
      val tot = j.agg(sum("na").as("ta"), sum("nb").as("tb"), count(lit(1)).as("k"))
      j.crossJoin(broadcast(tot))
        .select(col("bin"), col("na"), col("nb"),
          expr("""CAST(round((CAST(nb + 1 AS DOUBLE) / (tb + k) - CAST(na + 1 AS DOUBLE) / (ta + k))
                 | * ln((CAST(nb + 1 AS DOUBLE) / (tb + k)) / (CAST(na + 1 AS DOUBLE) / (ta + k)))
                 | * 1000000) AS BIGINT)""".stripMargin).as("psi_term_micro"))
    }),

    "ev_dose" -> Query(
      """WITH users AS (SELECT user_id, CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS views, CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS conv FROM events GROUP BY 1), panel AS (SELECT least(views, 5) AS dose, CAST(count(*) AS BIGINT) AS n, CAST(sum(conv) AS BIGINT) AS x FROM users GROUP BY 1), g AS (SELECT CAST(sum(n) AS BIGINT) AS nt, CAST(sum(x) AS BIGINT) AS xt, CAST(sum(dose * n) AS BIGINT) AS sn, CAST(sum(dose * x) AS BIGINT) AS sx, CAST(sum(dose * dose * n) AS BIGINT) AS snn FROM panel) SELECT dose, n, x, (x * 1000000) // n AS rate_micro, CAST(CASE WHEN xt = 0 OR xt = nt THEN 0 ELSE CAST(round((CAST(sx AS DOUBLE) - CAST(sn AS DOUBLE) * xt / nt) / sqrt(CAST(xt AS DOUBLE) / nt * (1.0 - CAST(xt AS DOUBLE) / nt) * (CAST(snn AS DOUBLE) - CAST(sn AS DOUBLE) * sn / nt)) * 1000000) AS BIGINT) END AS BIGINT) AS trend_z_micro FROM panel, g""")((s, dir) => {
      // dose-response: conversion rate by prior-view exposure bin with
      // the Cochran-Armitage TREND test (scores 0..5) — the ordered
      // alternative q_chisq can't see. Per-user agg → ≤6-row panel →
      // exact integer sufficient statistics, one double z micro-rounded.
      val users = events(s, dir)
        .groupBy("user_id")
        .agg(sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("views"),
          max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("conv"))
      val panel = users
        .groupBy(expr("least(views, 5)").as("dose"))
        .agg(count(lit(1)).as("n"), sum("conv").as("x"))
        .localCheckpoint(true) // totals + trend terms
      val g = panel.agg(sum("n").as("nt"), sum("x").as("xt"),
        sum(expr("dose * n")).as("sn"), sum(expr("dose * x")).as("sx"),
        sum(expr("dose * dose * n")).as("snn"))
      panel.crossJoin(broadcast(g))
        .select(col("dose"), col("n"), col("x"),
          expr("(x * 1000000) div n").as("rate_micro"),
          expr("""CASE WHEN xt = 0 OR xt = nt THEN CAST(0 AS BIGINT)
                 | ELSE CAST(round((CAST(sx AS DOUBLE) - CAST(sn AS DOUBLE) * xt / nt)
                 |   / sqrt(CAST(xt AS DOUBLE) / nt * (1.0 - CAST(xt AS DOUBLE) / nt)
                 |          * (CAST(snn AS DOUBLE) - CAST(sn AS DOUBLE) * sn / nt))
                 |   * 1000000) AS BIGINT) END""".stripMargin).as("trend_z_micro"))
    }),
    // ev_hmm: the identical BIGINT-encoded forward fold, replayed by
    // list_reduce over the same (ts, event_id)-ordered observations.
    "ev_hmm" -> Query(hmmOracleSql)((s, dir) => {
      // 2-state HMM forward filter (Rabiner 1989) per user over the
      // time-ordered event stream: P(engaged | obs₁..ₜ) under fixed
      // integer-micro transition/emission matrices, renormalized every
      // step (the forward algorithm's scaling trick in exact integer
      // division — no underflow, no floats). The whole recurrence is
      // ONE sequential fold over the user's sorted observation array;
      // both state probabilities ride in a single BIGINT (hmmStepSql),
      // so the oracle's list_reduce replays the fold bit-exactly.
      // Scale: one groupBy(user) shuffle; per-user arrays are activity-
      // bounded like every per-user fold here (ev_gaps, ev_transitions).
      val seq = events(s, dir)
        .select(col("user_id"), struct(col("ts"), col("event_id"),
          when(col("event_type").isin("click", "purchase"), 1L)
            .otherwise(0L).as("o")).as("x"))
        .groupBy("user_id").agg(sort_array(collect_list(col("x"))).as("xs"))
        .select(col("user_id"), size(col("xs")).cast("long").as("n_events"),
          expr("transform(xs, x -> x.o)").as("obs"))
      seq.select(col("user_id"), col("n_events"),
          (expr(s"aggregate(obs, CAST(5000000500000 AS BIGINT), (acc, o) -> " +
            s"${hmmStepSql("acc", "o", "div")})") % 10000000L)
            .as("p_engaged_micro"))
        .withColumn("is_engaged", col("p_engaged_micro") >= 500000L)
    }),
    // ev_psm_match: ev_uplift's user frame, the identical rank-join
    // matcher, double ATT rounded once.
    "ev_psm_match" -> Query(
      """WITH u AS (SELECT user_id, CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-15 00:00:00' THEN 1 ELSE 0 END) AS BIGINT) AS pre_n, CAST(max(CASE WHEN ts >= TIMESTAMP '2024-01-15 00:00:00' AND event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS resp FROM events GROUP BY 1), r AS (SELECT user_id, pre_n, resp, user_id % 2 = 0 AS treated, CAST(row_number() OVER (PARTITION BY pre_n, user_id % 2 = 0 ORDER BY user_id) AS BIGINT) AS rk FROM u), t AS (SELECT pre_n, rk, resp AS t_resp FROM r WHERE treated), c AS (SELECT pre_n, rk, resp AS c_resp FROM r WHERE NOT treated), j AS (SELECT t.pre_n, t.t_resp, c.c_resp FROM t JOIN c USING (pre_n, rk)) SELECT pre_n, CAST(count(*) AS BIGINT) AS n_pairs, CAST(sum(t_resp) AS BIGINT) AS resp_t, CAST(sum(c_resp) AS BIGINT) AS resp_c, CAST(round((CAST(sum(t_resp) AS DOUBLE) - sum(c_resp)) / count(*) * 1000000) AS BIGINT) AS att_micro FROM j GROUP BY 1""")((s, dir) => {
      // propensity-score matching, exact-match variant (Rosenbaum–Rubin
      // 1983): users pair 1:1 on pre-period activity — within each
      // pre_n stratum the i-th treated user by id matches the i-th
      // control — and the ATT is the mean matched-pair response
      // difference per stratum. Exact matching dominates nearest-
      // neighbor when the covariate is discrete, and the rank join IS
      // the matcher: no distance scan, windows partition by
      // (stratum, arm) so matching parallelizes across strata. The
      // final mean is a double rounded ONCE (a negative integer
      // division would part ways between div and // semantics).
      val cut = lit("2024-01-15 00:00:00").cast("timestamp")
      val u = events(s, dir)
        .select(col("user_id"), (col("ts") < cut).as("pre"),
          when(col("event_type") === "purchase" && col("ts") >= cut, 1L)
            .otherwise(0L).as("post_resp"))
        .groupBy("user_id")
        .agg(sum(when(col("pre"), 1L).otherwise(0L)).as("pre_n"),
          max(col("post_resp")).as("resp"))
        .withColumn("treated", col("user_id") % 2 === 0)
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("pre_n", "treated").orderBy("user_id")
      val r = u.withColumn("rk", row_number().over(w))
      val t = r.filter(col("treated"))
        .select(col("pre_n"), col("rk"), col("resp").as("t_resp"))
      val c = r.filter(!col("treated"))
        .select(col("pre_n"), col("rk"), col("resp").as("c_resp"))
      t.join(c, Seq("pre_n", "rk"))
        .groupBy("pre_n")
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("t_resp")).as("resp_t"), sum(col("c_resp")).as("resp_c"))
        .select(col("pre_n"), col("n_pairs"), col("resp_t"), col("resp_c"),
          round((col("resp_t").cast("double") - col("resp_c")) /
            col("n_pairs") * 1e6).cast("long").as("att_micro"))
    }),
    // ev_event_study: the same weekly panel, gap and anchor replayed in
    // the identical double op order.
    "ev_event_study" -> Query(
      """WITH e AS (SELECT user_id % 2 = 0 AS treated, CAST(floor(datediff('day', DATE '2024-01-15', CAST(ts AS DATE)) / 7.0) AS BIGINT) AS k, CAST(round(value * 100) AS BIGINT) AS v_c FROM events), f AS (SELECT * FROM e WHERE k BETWEEN -4 AND 4), g AS (SELECT k, CAST(sum(CASE WHEN treated THEN 1 ELSE 0 END) AS BIGINT) AS n_t, CAST(sum(CASE WHEN treated THEN v_c ELSE 0 END) AS BIGINT) AS s_t, CAST(sum(CASE WHEN NOT treated THEN 1 ELSE 0 END) AS BIGINT) AS n_c, CAST(sum(CASE WHEN NOT treated THEN v_c ELSE 0 END) AS BIGINT) AS s_c FROM f GROUP BY 1), gg AS (SELECT k, n_t, n_c, CAST(s_t AS DOUBLE) / n_t - CAST(s_c AS DOUBLE) / n_c AS gap FROM g WHERE n_t > 0 AND n_c > 0), b AS (SELECT gap AS gap0 FROM gg WHERE k = -1) SELECT k, n_t, n_c, CAST(round(gap * 1000000) AS BIGINT) AS gap_micro, CAST(round((gap - gap0) * 1000000) AS BIGINT) AS effect_micro FROM gg, b""")((s, dir) => {
      // dynamic difference-in-differences / event study: per relative
      // week k around the 2024-01-15 treatment date, the treated −
      // control gap in mean spend, normalized to the k = −1 gap (the
      // pre-trend anchor). Leads (k < 0) test parallel trends, lags
      // (k ≥ 0) trace the effect — the panel every DiD ships next to
      // its point estimate (ev_did). One keyed agg; gaps are double
      // means rounded once per row.
      val e = events(s, dir).select(
          (col("user_id") % 2 === 0).as("treated"),
          floor(datediff(col("ts").cast("date"),
            lit("2024-01-15").cast("date")) / lit(7.0)).cast("long").as("k"),
          round(col("value") * 100).cast("long").as("v_c"))
        .filter(col("k").between(-4L, 4L))
      val gap = e.groupBy("k").agg(
          sum(when(col("treated"), 1L).otherwise(0L)).as("n_t"),
          sum(when(col("treated"), col("v_c")).otherwise(0L)).as("s_t"),
          sum(when(!col("treated"), 1L).otherwise(0L)).as("n_c"),
          sum(when(!col("treated"), col("v_c")).otherwise(0L)).as("s_c"))
        .filter(col("n_t") > 0 && col("n_c") > 0)
        .withColumn("gap", col("s_t").cast("double") / col("n_t") -
          col("s_c").cast("double") / col("n_c"))
        .localCheckpoint(true) // the k = −1 anchor and every row read it
      // limit(1) states the one-row bound mechanically (k is unique after
      // the groupBy, so this is semantics-free) — the BNLJ audit then
      // proves the broadcast side bounded instead of trusting a comment
      val base = gap.filter(col("k") === -1L).select(col("gap").as("gap0")).limit(1)
      gap.crossJoin(broadcast(base))
        .select(col("k"), col("n_t"), col("n_c"),
          round(col("gap") * 1e6).cast("long").as("gap_micro"),
          round((col("gap") - col("gap0")) * 1e6).cast("long").as("effect_micro"))
    })
  )

  /** Shapley factorial-weight term table for k = 3 channels: for channel
    * bit c and each coalition S of the OTHER two bits, w = w_num/6 with
    * w_num = 2, 1, 1, 2 for |S| = 0, 1, 1, 2.
    */
  private val shapleyTerms: Seq[(String, Long, Long, Long)] = {
    val bits = Seq("view" -> 1L, "click" -> 2L, "signup" -> 4L)
    for {
      (name, b) <- bits
      others = bits.map(_._2).filterNot(_ == b)
      sub <- Seq(Seq.empty[Long], Seq(others.head), Seq(others(1)), others)
    } yield {
      val mask = sub.sum
      val wNum = sub.size match { case 0 => 2L; case 1 => 1L; case _ => 2L }
      (name, mask + b, mask, wNum)
    }
  }

  /** ev_shapley: coalition panel + the same 12-row factorial-weight term
    * table rendered as literal VALUES.
    */
  private lazy val shapleyOracleSql: String = {
    val values = shapleyTerms.map { case (c, w, wo, n) => s"('$c', $w, $wo, $n)" }
      .mkString(", ")
    s"""WITH users AS (SELECT user_id, CAST(max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS hv, CAST(max(CASE WHEN event_type = 'click' THEN 2 ELSE 0 END) AS BIGINT) AS hc, CAST(max(CASE WHEN event_type = 'signup' THEN 4 ELSE 0 END) AS BIGINT) AS hs, CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS conv FROM events GROUP BY 1), panel AS (SELECT hv + hc + hs AS mask, (CAST(sum(conv) AS BIGINT) * 1000000) // CAST(count(*) AS BIGINT) AS v_micro FROM users GROUP BY 1), t(channel, with_mask, without_mask, w_num) AS (VALUES $values), terms AS (SELECT channel, (w_num * (coalesce(pw.v_micro, 0) - coalesce(po.v_micro, 0))) // 6 AS term FROM t LEFT JOIN panel pw ON pw.mask = t.with_mask LEFT JOIN panel po ON po.mask = t.without_mask) SELECT channel, CAST(sum(term) AS BIGINT) AS phi_micro FROM terms GROUP BY 1"""
  }

  /** ev_assoc giant-basket guard: baskets with more distinct items than
    * this are dropped (with an observed-drop count) before the pair
    * expansion — C(cap,2) bounds the per-basket fan-out at scale. The
    * brand domain is 25, so the cap never binds on the test fixtures;
    * the oracle applies the same cap.
    */
  private val assocBasketCap = 32

  /** ev_balance: one SMD block per covariate, HUGEINT sums (s·s exceeds
    * 2⁶³ at scale), the identical double formula as the engine side.
    */
  private lazy val evBalanceOracleSql: String = {
    def block(name: String, vexpr: String): String =
      s"""(WITH x AS (SELECT CAST(props->>'k' AS BIGINT) % 2 AS arm, CAST($vexpr AS HUGEINT) AS v FROM events), g AS (SELECT CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0, sum(CASE WHEN arm = 0 THEN v END) AS s0, sum(CASE WHEN arm = 0 THEN v * v END) AS ss0, CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1, sum(CASE WHEN arm = 1 THEN v END) AS s1, sum(CASE WHEN arm = 1 THEN v * v END) AS ss1 FROM x), p AS (SELECT n0, n1, s0, s1, ((CAST(n1 * ss1 - s1 * s1 AS DOUBLE) / (CAST(n1 AS DOUBLE) * (n1 - 1))) + (CAST(n0 * ss0 - s0 * s0 AS DOUBLE) / (CAST(n0 AS DOUBLE) * (n0 - 1)))) / 2.0 AS vp FROM g) SELECT '$name' AS covariate, n0, n1, CASE WHEN vp <= 0.0 THEN CAST(0 AS BIGINT) ELSE CAST(round((CAST(s1 AS DOUBLE) / n1 - CAST(s0 AS DOUBLE) / n0) / sqrt(vp) * 1000000) AS BIGINT) END AS smd_micro FROM p)"""
    val u = Seq(
      block("value_c", "round(value * 100)"),
      block("hour", "hour(ts)"),
      block("is_purchase", "CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END"))
      .mkString(" UNION ALL ")
    s"SELECT covariate, n0, n1, smd_micro, abs(smd_micro) > 100000 AS imbalanced FROM ($u)"
  }

  /** ev_audience_overlap: the same ten pair blocks over one flag CTE. */
  private lazy val audienceOverlapOracleSql: String = {
    val types = Seq("view", "click", "purchase", "signup", "error")
    val flags = types.map(t =>
      s"CAST(max(CASE WHEN event_type = '$t' THEN 1 ELSE 0 END) AS BIGINT) AS f_$t")
      .mkString(", ")
    val blocks = (for {
      i <- types.indices; j <- types.indices if i < j
    } yield {
      val (t1, t2) = (types(i), types(j))
      s"(SELECT '$t1' AS type_a, '$t2' AS type_b, CAST(sum(CASE WHEN f_$t1 = 1 AND f_$t2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_both, CAST(sum(CASE WHEN f_$t1 = 1 OR f_$t2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_either FROM flags)"
    }).mkString(" UNION ALL ")
    s"WITH flags AS (SELECT user_id, $flags FROM events GROUP BY 1) SELECT type_a, type_b, n_both, n_either, CAST(CASE WHEN n_either = 0 THEN 0 ELSE (n_both * 1000000) // n_either END AS BIGINT) AS jaccard_micro FROM ($blocks)"
  }

  /** ev_markov_steady replay: the matrix as ordered list-of-lists, the
    * power iteration as a recursive CTE whose inner products are
    * list_reduce folds in ascending state order — the driver loop's
    * exact op sequence.
    */
  private lazy val markovSteadyOracleSql: String =
    """WITH RECURSIVE pr AS (SELECT user_id, event_type AS from_type, lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type FROM events),
      |f AS (SELECT from_type, to_type FROM pr WHERE to_type IS NOT NULL),
      |cnt AS (SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n FROM f GROUP BY 1, 2),
      |tot AS (SELECT from_type, CAST(count(*) AS BIGINT) AS n_from FROM f GROUP BY 1),
      |st AS (SELECT list_sort(list(DISTINCT s)) AS sts FROM (SELECT from_type AS s FROM f UNION SELECT to_type FROM f)),
      |grid AS (SELECT fi.i AS fi, tj.i AS tj, sts[fi.i + 1] AS fs, sts[tj.i + 1] AS ts2 FROM st, unnest(range(len(sts))) fi(i), unnest(range(len(sts))) tj(i)),
      |pm0 AS (SELECT g.fi, g.tj, CASE WHEN tot.n_from IS NULL THEN (CASE WHEN g.fi = g.tj THEN 1.0 ELSE 0.0 END) ELSE coalesce(CAST(cnt.n AS DOUBLE) / CAST(tot.n_from AS DOUBLE), 0.0) END AS p FROM grid g LEFT JOIN tot ON g.fs = tot.from_type LEFT JOIN cnt ON g.fs = cnt.from_type AND g.ts2 = cnt.to_type),
      |pm AS (SELECT fi, list(p ORDER BY tj) AS prow FROM pm0 GROUP BY 1),
      |mat AS (SELECT list(prow ORDER BY fi) AS m FROM pm),
      |ns AS (SELECT len(sts) AS n FROM st),
      |iter(k, v) AS (
      |  SELECT 0, list_transform(range(n), x -> 1.0 / CAST(n AS DOUBLE)) FROM ns
      |  UNION ALL
      |  SELECT k + 1, list_transform(range(n), j -> list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(range(n), i -> v[CAST(i AS INTEGER) + 1] * m[CAST(i AS INTEGER) + 1][CAST(j AS INTEGER) + 1])), (a, b) -> a + b)) FROM iter, mat, ns WHERE k < 20)
      |SELECT sts[CAST(i AS INTEGER) + 1] AS event_type, v[CAST(i AS INTEGER) + 1] AS steady_p FROM (SELECT v FROM iter WHERE k = 20), st, unnest(range(len(sts))) t(i)""".stripMargin
}
