"""Seeded input generator for the etl_orders and agent_authoring workloads.

Writes orders/customers/products CSVs in the shape of the reference demo
dataset (see FIXTURES.md section A), scaled up, plus the pipeline config that
points at them. The same seed always gives byte-identical files.

Properties the engine's behaviour depends on, and that the files therefore
carry on purpose:
  * `unit_price` is a `$`-prefixed string and `cost_price` numeric text, so
    the flows' application and casting steps do real parsing work;
  * dates are ISO `yyyy-mm-dd` strings, cast to date inside the flow;
  * `customer_id` is Zipf-skewed (a few hot keys take most orders), with the
    hot ids scattered over the key range;
  * orders carry one column the config does not declare (`discount_pct`),
    so `Source.loadCsv` runs its 1000-row type-inference path.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pacsv

FIRST = ["Alice", "Bob", "Chen", "Dara", "Emil", "Fatima", "Goran", "Hana",
         "Ivan", "Jun", "Kofi", "Lena", "Mateo", "Nia", "Omar", "Priya"]
LAST = ["Smith", "Garcia", "Wang", "Okafor", "Muller", "Rossi", "Kim",
        "Silva", "Novak", "Haddad", "Tanaka", "Dubois"]
PLACES = [("USA", ["New York", "Chicago", "Austin"]),
          ("Germany", ["Berlin", "Munich"]),
          ("France", ["Paris", "Lyon"]),
          ("Japan", ["Tokyo", "Osaka"]),
          ("Brazil", ["Sao Paulo", "Recife"]),
          ("India", ["Mumbai", "Pune"]),
          ("Nigeria", ["Lagos"]),
          ("Canada", ["Toronto", "Montreal"]),
          ("Spain", ["Madrid"]),
          ("Kenya", ["Nairobi"]),
          ("Italy", ["Rome", "Milan"]),
          ("Mexico", ["Monterrey"])]
CATEGORIES = [("Electronics", ["Laptop", "Monitor", "Phone", "Tablet", "Camera",
                               "Speaker", "Router"], 80.0, 1500.0),
              ("Furniture", ["Desk", "Chair", "Shelf", "Cabinet", "Sofa"], 40.0, 900.0),
              ("Stationery", ["Notebook", "Pen Set", "Stapler", "Planner",
                              "Marker Pack", "Binder"], 1.0, 40.0)]
VARIANTS = ["Basic", "Pro", "Max", "Mini", "Plus", "Eco", "Lite"]

EPOCH = np.datetime64("2019-01-01")


def iso_dates(days):
    return pa.array(EPOCH + days.astype("timedelta64[D]")).cast(pa.string())


def write_csv(path, columns):
    """Write one CSV and append its data-row count to rows.txt beside it."""
    # no value contains a comma or quote, so nothing is quoted, header
    # included, as in the reference's own CSVs
    with open(path, "wb") as f:
        f.write((",".join(columns) + "\n").encode())
        table = pa.table(columns)
        pacsv.write_csv(table, f, pacsv.WriteOptions(include_header=False, quoting_style="none"))
    with open(os.path.join(os.path.dirname(path), "rows.txt"), "a") as f:
        f.write(f"{os.path.basename(path)} {table.num_rows}\n")


def generate(out_dir, seed, n_orders, n_customers):
    """Write customers.csv, products.csv and orders.csv into out_dir."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    if os.path.exists(os.path.join(out_dir, "rows.txt")):
        os.remove(os.path.join(out_dir, "rows.txt"))

    # customers: unique ids 1..n, each with one (city, country)
    places = [(country, city) for country, cities in PLACES for city in cities]
    place_idx = rng.integers(0, len(places), n_customers)
    first = np.array(FIRST, dtype=object)[rng.integers(0, len(FIRST), n_customers)]
    last = np.array(LAST, dtype=object)[rng.integers(0, len(LAST), n_customers)]
    write_csv(os.path.join(out_dir, "customers.csv"), {
        "customer_id": np.arange(1, n_customers + 1, dtype=np.int64),
        "customer_name": (first + " " + last).tolist(),
        "city": [places[i][1] for i in place_idx],
        "country": [places[i][0] for i in place_idx],
        "signup_date": iso_dates(rng.integers(0, 5 * 365, n_customers)),
    })

    # products: unique names, three categories, cost as numeric text
    names, cats, costs = [], [], []
    for cat, bases, lo, hi in CATEGORIES:
        for base in bases:
            for variant in VARIANTS:
                names.append(f"{base} {variant}")
                cats.append(cat)
                costs.append(round(float(rng.uniform(lo, hi)), 2))
    costs = np.array(costs)
    write_csv(os.path.join(out_dir, "products.csv"), {
        "product_name": names,
        "category": cats,
        "cost_price": [f"{c:.2f}" for c in costs],
    })

    # orders: Zipf-skewed customers (hot ids scattered by a permutation),
    # unit price = cost with a per-order markup of -10%..+60% in cents
    ranks = np.minimum(rng.zipf(1.3, n_orders), n_customers) - 1
    customer_id = rng.permutation(n_customers)[ranks] + 1
    product = rng.integers(0, len(names), n_orders)
    markup = rng.uniform(-0.10, 0.60, n_orders)
    cents = np.maximum(np.round(costs[product] * (1.0 + markup) * 100), 1).astype(np.int64)
    dollars = pa.array(cents // 100).cast(pa.string())
    two_digits = pc.utf8_slice_codeunits(pa.array(cents % 100 + 100).cast(pa.string()), 1, 3)
    unit_price = pc.binary_join_element_wise(
        pc.binary_join_element_wise("$", dollars, ""), two_digits, ".")
    write_csv(os.path.join(out_dir, "orders.csv"), {
        "order_id": np.arange(100001, 100001 + n_orders, dtype=np.int64),
        "customer_id": customer_id.astype(np.int64),
        "order_date": iso_dates(rng.integers(4 * 365, 6 * 365, n_orders)),
        "product_name": pa.array(names).take(pa.array(product)),
        "quantity": rng.integers(1, 11, n_orders, dtype=np.int64),
        "unit_price": unit_price,
        "discount_pct": rng.integers(0, 31, n_orders, dtype=np.int64),
    })


CONFIG = """\
inputs:
  orders_input:
    path: {inp}/orders.csv
    file_schema:
      name: OrdersSchema
      columns:
        order_id: {{ type: integer }}
        customer_id: {{ type: integer }}
        order_date: {{ type: string }}
        product_name: {{ type: string }}
        quantity: {{ type: integer }}
        unit_price: {{ type: string }}
  customers_input:
    path: {inp}/customers.csv
    file_schema:
      name: CustomersSchema
      columns:
        customer_id: {{ type: integer }}
        customer_name: {{ type: string }}
        city: {{ type: string }}
        country: {{ type: string }}
        signup_date: {{ type: string }}
  products_input:
    path: {inp}/products.csv
    file_schema:
      name: ProductsSchema
      columns:
        product_name: {{ type: string }}
        category: {{ type: string }}
        cost_price: {{ type: string }}
outputs:
  enriched_output_def:
    path: {out}/enriched_orders_final.csv
    format: csv
    file_schema:
      name: EnrichedSchema
      columns:
        order_id: {{ type: integer }}
        customer_id: {{ type: integer }}
        order_date_dt: {{ type: date }}
        product_name: {{ type: string }}
        quantity: {{ type: integer }}
        unit_price_float: {{ type: float }}
        total_price: {{ type: float }}
        customer_name: {{ type: string }}
        city: {{ type: string }}
        country: {{ type: string }}
        signup_date_dt: {{ type: date }}
        category: {{ type: string }}
        cost_price_float: {{ type: float }}
        total_cost: {{ type: float }}
        profit: {{ type: float }}
        is_high_profit: {{ type: boolean }}
        order_status: {{ type: string }}
  summary_output_def:
    path: {out}/profit_by_region_category.csv
    format: csv
    file_schema:
      name: SummarySchema
      columns:
        country: {{ type: string }}
        product_name: {{ type: string }}
        Electronics: {{ type: float }}
        Furniture: {{ type: float }}
        Stationery: {{ type: float }}
        other_column: {{ type: float }}
"""


def write_config(path, input_dir):
    """Pipeline config in the reference's config.yaml shape. Output paths
    keep the `{out}` placeholder; the harness fills it per run."""
    with open(path, "w") as f:
        f.write(CONFIG.format(inp=os.path.abspath(input_dir), out="{out}"))

