"""Correctness checks of the benchmark's outputs, computed independently of
the program with DuckDB.

  * etl_orders: each run's two outputs against a plain-SQL computation of the
    same flows over the same generated inputs, order-insensitive.
  * query_suite: each query's result against its `SparkEntry.oracleSql` entry,
    the comparison `scripts/check_oracle.py` makes (sorted columns and rows,
    exact values).
"""
import json
import math
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

INPUT_COLUMNS = {
    "orders": "{'order_id': 'BIGINT', 'customer_id': 'BIGINT', 'order_date': 'VARCHAR', "
              "'product_name': 'VARCHAR', 'quantity': 'BIGINT', 'unit_price': 'VARCHAR', "
              "'discount_pct': 'BIGINT'}",
    "customers": "{'customer_id': 'BIGINT', 'customer_name': 'VARCHAR', 'city': 'VARCHAR', "
                 "'country': 'VARCHAR', 'signup_date': 'VARCHAR'}",
    "products": "{'product_name': 'VARCHAR', 'category': 'VARCHAR', 'cost_price': 'VARCHAR'}",
}
ENRICHED_COLUMNS = (
    "{'order_id': 'BIGINT', 'customer_id': 'BIGINT', 'order_date_dt': 'DATE', "
    "'product_name': 'VARCHAR', 'quantity': 'BIGINT', 'unit_price_float': 'DOUBLE', "
    "'total_price': 'DOUBLE', 'customer_name': 'VARCHAR', 'city': 'VARCHAR', "
    "'country': 'VARCHAR', 'signup_date_dt': 'DATE', 'category': 'VARCHAR', "
    "'cost_price_float': 'DOUBLE', 'total_cost': 'DOUBLE', 'profit': 'DOUBLE', "
    "'is_high_profit': 'BOOLEAN', 'order_status': 'VARCHAR'}")
SUMMARY_COLUMNS = (
    "{'country': 'VARCHAR', 'product_name': 'VARCHAR', 'Electronics': 'DOUBLE', "
    "'Furniture': 'DOUBLE', 'Stationery': 'DOUBLE', 'other_column': 'DOUBLE'}")


def _connect():
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    return con


class EtlChecker:
    """Expected outputs are computed once per input set and reused per run."""

    def __init__(self, input_dir):
        self.con = _connect()
        for name, cols in INPUT_COLUMNS.items():
            self.con.execute(
                f"CREATE TABLE {name} AS SELECT * FROM read_csv('{input_dir}/{name}.csv', "
                f"header = true, columns = {cols})")
        # the enriched flow: two customer binds, three casts, the `$` strip,
        # arithmetic, a comparison and a constant
        self.con.execute("""
            CREATE TABLE enriched AS
            WITH e AS (
              SELECT o.order_id, o.customer_id, CAST(o.order_date AS DATE) AS order_date_dt,
                     o.product_name, o.quantity,
                     CAST(replace(o.unit_price, '$', '') AS DOUBLE) AS unit_price_float,
                     c.customer_name, c.city, c.country,
                     CAST(c.signup_date AS DATE) AS signup_date_dt, p.category,
                     CAST(p.cost_price AS DOUBLE) AS cost_price_float
              FROM orders o
              LEFT JOIN customers c ON o.customer_id = c.customer_id
              LEFT JOIN products p ON o.product_name = p.product_name)
            SELECT order_id, customer_id, order_date_dt, product_name, quantity,
                   unit_price_float, unit_price_float * quantity AS total_price,
                   customer_name, city, country, signup_date_dt, category, cost_price_float,
                   cost_price_float * quantity AS total_cost,
                   unit_price_float * quantity - cost_price_float * quantity AS profit,
                   unit_price_float * quantity - cost_price_float * quantity > 100
                     AS is_high_profit,
                   'UNKNOWN' AS order_status
            FROM e""")
        # the summary flow: per-order profit by (country, product); unfold
        # keeps the FIRST value of each group, which depends on task order,
        # so the check accepts any of the group's own values
        self.con.execute("""
            CREATE TABLE order_profit AS
            SELECT c.country, o.product_name, p.category,
                   (CAST(replace(o.unit_price, '$', '') AS DOUBLE)
                    - CAST(p.cost_price AS DOUBLE)) * o.quantity AS profit
            FROM orders o
            LEFT JOIN customers c ON o.customer_id = c.customer_id
            LEFT JOIN products p ON o.product_name = p.product_name""")
        self.con.execute("""
            CREATE TABLE groups AS
            SELECT DISTINCT country, product_name, category FROM order_profit""")
        self.con.execute("""
            CREATE TABLE group_values AS
            SELECT DISTINCT country, product_name, profit FROM order_profit""")

    def check_run(self, out_dir):
        """Return one message per wrong output of a run (empty when correct)."""
        bad = []
        path = os.path.join(out_dir, "enriched_orders_final.csv")
        if not os.path.isfile(path):
            bad.append("enriched: no output file")
        else:
            self.con.execute(f"CREATE OR REPLACE TEMP TABLE got AS SELECT * FROM read_csv("
                             f"'{path}', header = true, columns = {ENRICHED_COLUMNS})")
            diff = self.con.execute("""
                SELECT (SELECT count(*) FROM (SELECT * FROM got EXCEPT ALL SELECT * FROM enriched))
                     + (SELECT count(*) FROM (SELECT * FROM enriched EXCEPT ALL SELECT * FROM got))
            """).fetchone()[0]
            if diff:
                bad.append(f"enriched: {diff} rows differ from the SQL computation")
        path = os.path.join(out_dir, "profit_by_region_category.csv")
        if not os.path.isfile(path):
            bad.append("summary: no output file")
        else:
            self.con.execute(f"CREATE OR REPLACE TEMP TABLE got AS SELECT * FROM read_csv("
                             f"'{path}', header = true, columns = {SUMMARY_COLUMNS})")
            n_got, n_groups, n_keyed = self.con.execute("""
                SELECT (SELECT count(*) FROM got), (SELECT count(*) FROM groups),
                       (SELECT count(*) FROM got JOIN groups USING (country, product_name))
            """).fetchone()
            wrong = self.con.execute("""
                WITH g AS (
                  SELECT got.*, groups.category,
                         CASE groups.category WHEN 'Electronics' THEN Electronics
                              WHEN 'Furniture' THEN Furniture ELSE Stationery END AS chosen
                  FROM got JOIN groups USING (country, product_name))
                SELECT count(*) FROM g
                WHERE other_column <> 0.0
                   OR (category <> 'Electronics' AND Electronics <> 0.0)
                   OR (category <> 'Furniture' AND Furniture <> 0.0)
                   OR (category <> 'Stationery' AND Stationery <> 0.0)
                   OR NOT EXISTS (SELECT 1 FROM group_values v
                                  WHERE v.country = g.country
                                    AND v.product_name = g.product_name
                                    AND v.profit = g.chosen)
            """).fetchone()[0]
            if not (n_got == n_groups == n_keyed) or wrong:
                bad.append(f"summary: {n_got} rows for {n_groups} groups, {wrong} wrong values")
        return bad


def _canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float) and math.isnan(v):
                v = "NaN"
            vals.append(v)
        out.append(tuple(vals))
    out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return sorted(cols), out


def check_queries(results_dir, data_dir, names):
    """Return {query name: failure message} for every query that is wrong."""
    con = _connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    with open(os.path.join(results_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    bad = {}
    for name in names:
        qdir = os.path.join(results_dir, name)
        if not oracles.get(name):
            bad[name] = "no oracle SQL"
            continue
        if not os.path.isdir(qdir):
            bad[name] = "no result (the query failed)"
            continue
        try:
            rel = con.execute(f"SELECT * FROM read_parquet('{qdir}/*.parquet')")
            got = _canon(rel.fetchall(), [d[0] for d in rel.description])
            rel = con.execute(oracles[name])
            exp = _canon(rel.fetchall(), [d[0] for d in rel.description])
        except Exception as e:  # an oracle or read error is a failed check
            bad[name] = f"check error: {e}"
            continue
        if got[0] != exp[0]:
            bad[name] = f"columns {got[0]} != oracle {exp[0]}"
        elif got[1] != exp[1]:
            bad[name] = f"{len(got[1])} rows differ from the oracle's {len(exp[1])}"
    return bad
