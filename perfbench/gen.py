"""Seeded workload generator for the lifecycle benchmark.

Every input is derived from the read-only TPC-H-shaped sf0.1 tables in
`SF_DIR` (`~/testdata/sf0.1`, or `$PERFBENCH_SF_DIR`) into a fresh
directory; nothing is ever written next to the source tables. The same
(workload, seed) gives byte-identical files.

Layout of a generated work directory:
  designs/schemas/<schema>/<source>-<table>.yaml (+ .sql)   design set
  sources/<table>.parquet/part-*.parquet                    COPY stand-ins
  variants/vNN/orders.parquet/part-*.parquet                intraday: orders extracts
  batches.parquet                                           intraday: SCD2 micro-batches
  oracle.json                                               expected-result SQL
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SF_DIR = os.environ.get("PERFBENCH_SF_DIR", os.path.expanduser("~/testdata/sf0.1"))

WORKLOADS = ("nightly_load", "intraday")

# Variants of the orders extract and SCD2 micro-batches pre-generated for
# the intraday workload: more than one run can consume.
N_VARIANTS = 4
N_BATCHES = 400
BATCH_CHANGES = 150
BATCH_NEW_KEYS = 10


def _rng(seed, salt):
    return np.random.default_rng([seed, salt])


def _write_split(table, out_dir, rng, min_files=2, max_files=5):
    """Write `table` permuted by `rng` as a seeded number of part files."""
    os.makedirs(out_dir, exist_ok=True)
    n = table.num_rows
    table = table.take(pa.array(rng.permutation(n)))
    k = min(int(rng.integers(min_files, max_files + 1)), n)
    cuts = sorted(int(c) for c in rng.choice(np.arange(1, n), size=k - 1, replace=False))
    for j, (a, b) in enumerate(zip([0] + cuts, cuts + [n])):
        pq.write_table(table.slice(a, b - a), os.path.join(out_dir, f"part-{j:05d}.parquet"),
                       compression="snappy")


def _read(name):
    return pq.read_table(os.path.join(SF_DIR, f"{name}.parquet"))


def _write_text(path, text):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write(text)


def _design(root, schema, table, yaml_text, sql=None):
    base = os.path.join(root, "designs", "schemas", schema, f"{schema}-{table}")
    _write_text(base + ".yaml", yaml_text)
    if sql is not None:
        _write_text(base + ".sql", sql)


def _columns(cols):
    out = ["columns:"]
    for c in cols:
        name, typ = c[0], c[1]
        out.append(f"  - name: {name}")
        if typ:
            out.append(f"    type: {typ}")
        for flag in c[2:]:
            out.append(f"    {flag}" if ":" in flag else f"    {flag}: true")
    return "\n".join(out) + "\n"


SOURCE_COLUMNS = {
    "region": [("r_regionkey", "int", "not_null"), ("r_name", "string")],
    "nation": [("n_nationkey", "int", "not_null"), ("n_name", "string"),
               ("n_regionkey", "int", "not_null")],
    "customer": [("c_custkey", "long", "not_null"), ("c_name", "string"),
                 ("c_nationkey", "int", "not_null"), ("c_acctbal", "double"),
                 ("c_mktsegment", "string")],
    "supplier": [("s_suppkey", "long", "not_null"), ("s_name", "string"),
                 ("s_nationkey", "int", "not_null"), ("s_acctbal", "double")],
    "part": [("p_partkey", "long", "not_null"), ("p_name", "string"), ("p_brand", "string"),
             ("p_type", "string"), ("p_size", "int"), ("p_retailprice", "double")],
    "orders": [("o_orderkey", "long", "not_null"), ("o_custkey", "long", "not_null"),
               ("o_orderstatus", "string", "not_null"), ("o_totalprice", "double"),
               ("o_orderdate", "timestamp"), ("o_orderpriority", "string")],
    "lineitem": [("l_orderkey", "long", "not_null"), ("l_partkey", "long"),
                 ("l_suppkey", "long"), ("l_linenumber", "int", "not_null"),
                 ("l_quantity", "double"), ("l_extendedprice", "double"),
                 ("l_discount", "double"), ("l_tax", "double"),
                 ("l_returnflag", "string"), ("l_linestatus", "string"),
                 ("l_shipdate", "timestamp")],
}

# lineitem has no declared key: (l_orderkey, l_linenumber) is not unique
# in this data set.
SOURCE_KEYS = {"region": ["r_regionkey"], "nation": ["n_nationkey"],
               "customer": ["c_custkey"], "supplier": ["s_suppkey"],
               "part": ["p_partkey"], "orders": ["o_orderkey"]}


def _source_design(root, table):
    text = f"name: src.{table}\nsource_name: tpch\n" + _columns(SOURCE_COLUMNS[table])
    if table in SOURCE_KEYS:
        text += f"constraints:\n  - primary_key: [{', '.join(SOURCE_KEYS[table])}]\n"
    _design(root, "src", table, text)


def _ctas(root, schema, table, depends, cols, sql, constraints=None, attributes=None,
          view=False):
    text = (f"name: {schema}.{table}\nsource_name: {'VIEW' if view else 'CTAS'}\n"
            f"depends_on: [{', '.join(depends)}]\n" + _columns(cols))
    if constraints:
        text += "constraints:\n" + "".join(f"  - {k}: [{', '.join(v)}]\n"
                                           for k, v in constraints)
    if attributes:
        text += "attributes:\n" + "".join(f"  {k}: {v}\n" for k, v in attributes)
    _design(root, schema, table, text, sql)


# ---------------------------------------------------------------- nightly
# Star schema over all seven TPC-H tables. Each layout branch of the
# warehouse writer appears once: identity + compound sort (dims, fact),
# distkey bucketing (dim_supplier), partition_by (fact_orders), the
# default spread write (sources, aggregates), plus a view and one
# transform written in Redshift dialect (order_aging).
NIGHTLY_ORACLE = {
    "dw.dim_customer": """
        SELECT CAST(row_number() OVER (ORDER BY c_custkey) AS BIGINT) AS customer_key,
               c_custkey, c_name, c_mktsegment, n_name, r_name
        FROM src_customer JOIN src_nation ON c_nationkey = n_nationkey
             JOIN src_region ON n_regionkey = r_regionkey
        UNION ALL SELECT 0, 0, NULL, 'N/A', 'N/A', 'N/A'""",
    "dw.dim_part": """
        SELECT CAST(row_number() OVER (ORDER BY p_partkey) AS BIGINT) AS part_key,
               p_partkey, p_name, p_brand, p_type, p_size
        FROM src_part
        UNION ALL SELECT 0, 0, NULL, 'N/A', 'N/A', NULL""",
    "dw.dim_supplier": """
        SELECT s_suppkey, s_name, n_name
        FROM src_supplier JOIN src_nation ON s_nationkey = n_nationkey
        UNION ALL SELECT 0, NULL, 'N/A'""",
    "dw.fact_lineitem": """
        SELECT CAST(row_number() OVER (ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey)
                    AS BIGINT) AS line_key,
               l_orderkey, l_linenumber, l_partkey, l_suppkey, c.customer_key, p.part_key,
               o_orderdate, l_quantity,
               l_extendedprice * (1.0 - l_discount) AS revenue
        FROM src_lineitem JOIN src_orders ON l_orderkey = o_orderkey
             JOIN dw_dim_customer c ON o_custkey = c.c_custkey AND c.customer_key > 0
             JOIN dw_dim_part p ON l_partkey = p.p_partkey AND p.part_key > 0""",
    "dw.fact_orders": """
        SELECT o_orderkey, c.customer_key, o_orderstatus, o_totalprice, o_orderdate,
               o_orderpriority
        FROM src_orders JOIN dw_dim_customer c ON o_custkey = c.c_custkey
             AND c.customer_key > 0""",
    "rep.revenue_by_segment": """
        SELECT c_mktsegment, CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS order_month,
               COUNT(*) AS n_lines,
               CAST(SUM(CAST(revenue AS DECIMAL(18,4))) AS DECIMAL(28,4)) AS revenue
        FROM dw_fact_lineitem f JOIN dw_dim_customer d ON f.customer_key = d.customer_key
        GROUP BY 1, 2""",
    "rep.supplier_volume": """
        SELECT s_suppkey, n_name, COUNT(*) AS n_lines,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(28,2)) AS quantity
        FROM dw_fact_lineitem f JOIN dw_dim_supplier s ON f.l_suppkey = s.s_suppkey
             AND s.n_name <> 'N/A'
        GROUP BY 1, 2""",
    "rep.order_aging": """
        SELECT o_orderpriority, o_orderstatus,
               COUNT(*) AS n_orders,
               MAX(o_orderdate + INTERVAL 30 DAY) AS last_due,
               CAST(SUM(date_diff('day', o_orderdate, TIMESTAMP '1999-01-01')) AS BIGINT) AS age_days,
               CAST(SUM(CAST(COALESCE(o_totalprice, 0) AS DECIMAL(18,2))) AS DECIMAL(28,2)) AS total
        FROM dw_fact_orders GROUP BY 1, 2""",
}


def _nightly_designs(root):
    for t in SOURCE_COLUMNS:
        _source_design(root, t)
    _ctas(root, "dw", "dim_customer", ["src.customer", "src.nation", "src.region"],
          [("customer_key", "long", "not_null", "identity"), ("c_custkey", "long", "not_null"),
           ("c_name", "string"), ("c_mktsegment", "string", "not_null"),
           ("n_name", "string", "not_null"), ("r_name", "string", "not_null")],
          "SELECT c_custkey, c_name, c_mktsegment, n_name, r_name\n"
          "FROM src.customer JOIN src.nation ON c_nationkey = n_nationkey\n"
          "JOIN src.region ON n_regionkey = r_regionkey\n",
          constraints=[("surrogate_key", ["customer_key"])],
          attributes=[("compound_sort", "[c_custkey]")])
    _ctas(root, "dw", "dim_part", ["src.part"],
          [("part_key", "long", "not_null", "identity"), ("p_partkey", "long", "not_null"),
           ("p_name", "string"), ("p_brand", "string", "not_null"),
           ("p_type", "string", "not_null"), ("p_size", "int")],
          "SELECT p_partkey, p_name, p_brand, p_type, p_size FROM src.part\n",
          constraints=[("surrogate_key", ["part_key"])],
          attributes=[("compound_sort", "[p_partkey]")])
    _ctas(root, "dw", "dim_supplier", ["src.supplier", "src.nation"],
          [("s_suppkey", "long", "not_null"), ("s_name", "string"),
           ("n_name", "string", "not_null")],
          "SELECT s_suppkey, s_name, n_name\n"
          "FROM src.supplier JOIN src.nation ON s_nationkey = n_nationkey\n",
          attributes=[("distribution", "[s_suppkey]"), ("compound_sort", "[s_suppkey]")])
    _ctas(root, "dw", "fact_lineitem",
          ["src.lineitem", "src.orders", "dw.dim_customer", "dw.dim_part"],
          [("line_key", "long", "not_null", "identity"), ("l_orderkey", "long", "not_null"),
           ("l_linenumber", "int", "not_null"), ("l_partkey", "long"), ("l_suppkey", "long"),
           ("customer_key", "long", "not_null"),
           ("part_key", "long", "not_null"),
           ("o_orderdate", "timestamp"), ("l_quantity", "double"), ("revenue", "double")],
          "SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, c.customer_key, p.part_key,\n"
          "  o_orderdate, l_quantity, l_extendedprice * (1.0 - l_discount) AS revenue\n"
          "FROM src.lineitem JOIN src.orders ON l_orderkey = o_orderkey\n"
          "JOIN dw.dim_customer c ON o_custkey = c.c_custkey AND c.customer_key > 0\n"
          "JOIN dw.dim_part p ON l_partkey = p.p_partkey AND p.part_key > 0\n",
          constraints=[("surrogate_key", ["line_key"])],
          attributes=[("compound_sort", "[l_orderkey, l_linenumber, l_partkey, l_suppkey]")])
    _ctas(root, "dw", "fact_orders", ["src.orders", "dw.dim_customer"],
          [("o_orderkey", "long", "not_null"), ("customer_key", "long", "not_null"),
           ("o_orderstatus", "string", "not_null"), ("o_totalprice", "double"),
           ("o_orderdate", "timestamp"), ("o_orderpriority", "string")],
          "SELECT o_orderkey, c.customer_key, o_orderstatus, o_totalprice, o_orderdate,\n"
          "  o_orderpriority\n"
          "FROM src.orders JOIN dw.dim_customer c ON o_custkey = c.c_custkey\n"
          "  AND c.customer_key > 0\n",
          constraints=[("primary_key", ["o_orderkey"])],
          attributes=[("partition_by", "[o_orderstatus]")])
    _ctas(root, "rep", "v_line_revenue", ["dw.fact_lineitem", "dw.dim_customer"],
          [("c_mktsegment", None), ("o_orderdate", None), ("revenue", None)],
          "SELECT d.c_mktsegment, f.o_orderdate, f.revenue\n"
          "FROM dw.fact_lineitem f JOIN dw.dim_customer d ON f.customer_key = d.customer_key\n",
          view=True)
    _ctas(root, "rep", "revenue_by_segment", ["dw.fact_lineitem", "dw.dim_customer"],
          [("c_mktsegment", "string", "not_null"), ("order_month", "timestamp", "not_null"),
           ("n_lines", "long", "not_null"),
           ("revenue", "decimal", "sql_type: numeric(28,4)")],
          "SELECT d.c_mktsegment, date_trunc('MONTH', f.o_orderdate) AS order_month,\n"
          "  COUNT(*) AS n_lines, SUM(CAST(f.revenue AS DECIMAL(18,4))) AS revenue\n"
          "FROM dw.fact_lineitem f JOIN dw.dim_customer d ON f.customer_key = d.customer_key\n"
          "GROUP BY 1, 2\n",
          constraints=[("primary_key", ["c_mktsegment", "order_month"])])
    _ctas(root, "rep", "supplier_volume", ["dw.fact_lineitem", "dw.dim_supplier"],
          [("s_suppkey", "long", "not_null"), ("n_name", "string", "not_null"),
           ("n_lines", "long", "not_null"),
           ("quantity", "decimal", "sql_type: numeric(28,2)")],
          "SELECT s.s_suppkey, s.n_name, COUNT(*) AS n_lines,\n"
          "  SUM(CAST(f.l_quantity AS DECIMAL(18,2))) AS quantity\n"
          "FROM dw.fact_lineitem f JOIN dw.dim_supplier s ON f.l_suppkey = s.s_suppkey\n"
          "  AND s.n_name <> 'N/A'\n"
          "GROUP BY 1, 2\n",
          constraints=[("primary_key", ["s_suppkey"])])
    # Redshift dialect: DATEADD / DATEDIFF with a unit argument and NVL.
    _ctas(root, "rep", "order_aging", ["dw.fact_orders"],
          [("o_orderpriority", "string"), ("o_orderstatus", "string", "not_null"),
           ("n_orders", "long", "not_null"), ("last_due", "timestamp"),
           ("age_days", "long"), ("total", "decimal", "sql_type: numeric(28,2)")],
          "SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n_orders,\n"
          "  MAX(DATEADD(day, 30, o_orderdate)) AS last_due,\n"
          "  SUM(DATEDIFF(day, o_orderdate, '1999-01-01'::timestamp)) AS age_days,\n"
          "  SUM(NVL(o_totalprice, 0)::decimal(18,2)) AS total\n"
          "FROM dw.fact_orders GROUP BY o_orderpriority, o_orderstatus\n",
          constraints=[("unique", ["o_orderpriority", "o_orderstatus"])])


WARMUP_FRACTION = 0.02


def _nightly(root, seed):
    _nightly_designs(root)
    for i, t in enumerate(SOURCE_COLUMNS):
        table = _read(t)
        _write_split(table, os.path.join(root, "sources", f"{t}.parquet"), _rng(seed, i))
        # warm-up cycles read a seeded sample of each large source
        rng = _rng(seed, 100 + i)
        if table.num_rows > 1000:
            table = table.filter(pa.array(rng.random(table.num_rows) < WARMUP_FRACTION))
        _write_split(table, os.path.join(root, "warmup", f"{t}.parquet"), rng)
    return {"sources": {f"src_{t}": f"sources/{t}.parquet" for t in SOURCE_COLUMNS},
            "expected": list(NIGHTLY_ORACLE.items()),
            "unloaded": [t for t in NIGHTLY_ORACLE if t.startswith("rep.")]}


# --------------------------------------------------------------- intraday
INTRADAY_TABLES = ("region", "nation", "customer", "orders")
INTRADAY_ORACLE = {k: NIGHTLY_ORACLE[k] for k in
                   ("dw.dim_customer", "dw.fact_orders", "rep.order_aging")}
INTRADAY_ORACLE["rep.orders_by_month"] = """
    SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS order_month,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(28,2)) AS total
    FROM dw_fact_orders GROUP BY 1"""


def _orders_variant(orders, rng):
    """A seeded next-day extract: ~1% of orders gone, ~5% repriced,
    ~2% with a new status."""
    n = orders.num_rows
    keep = rng.random(n) >= 0.01
    price = orders["o_totalprice"].to_numpy(zero_copy_only=False).copy()
    reprice = rng.random(n) < 0.05
    price[reprice] = np.round(price[reprice] * rng.uniform(0.5, 1.5, reprice.sum()), 2)
    status = np.array(orders["o_orderstatus"].to_pylist(), dtype=object)
    restat = rng.random(n) < 0.02
    status[restat] = rng.choice(["F", "O", "P"], restat.sum())
    t = orders.set_column(orders.schema.get_field_index("o_totalprice"), "o_totalprice",
                          pa.array(price, pa.float64()))
    t = t.set_column(t.schema.get_field_index("o_orderstatus"), "o_orderstatus",
                     pa.array(list(status), pa.string()))
    return t.filter(pa.array(keep))


def _intraday(root, seed):
    # the orders branch of the nightly star schema, plus one aggregate
    _nightly_designs(root)
    designs = os.path.join(root, "designs", "schemas")
    keep = {"src": {f"src-{t}" for t in INTRADAY_TABLES},
            "dw": {"dw-dim_customer", "dw-fact_orders"}, "rep": {"rep-order_aging"}}
    for schema in os.listdir(designs):
        for f in os.listdir(os.path.join(designs, schema)):
            if os.path.splitext(f)[0] not in keep[schema]:
                os.remove(os.path.join(designs, schema, f))
    _ctas(root, "rep", "orders_by_month", ["dw.fact_orders"],
          [("order_month", "timestamp", "not_null"), ("n_orders", "long", "not_null"),
           ("total", "decimal", "sql_type: numeric(28,2)")],
          "SELECT date_trunc('MONTH', o_orderdate) AS order_month, COUNT(*) AS n_orders,\n"
          "  SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS total\n"
          "FROM dw.fact_orders GROUP BY 1\n",
          constraints=[("primary_key", ["order_month"])])
    for i, t in enumerate(INTRADAY_TABLES):
        _write_split(_read(t), os.path.join(root, "sources", f"{t}.parquet"), _rng(seed, i))
    orders = _read("orders")
    for v in range(N_VARIANTS):
        rng = _rng(seed, 200 + v)
        _write_split(_orders_variant(orders, rng),
                     os.path.join(root, "variants", f"v{v:02d}", "orders.parquet"), rng)
    _batches(root, seed, _read("customer"))
    return {"sources": {f"src_{t}": f"sources/{t}.parquet" for t in INTRADAY_TABLES},
            "expected": list(INTRADAY_ORACLE.items()), "unloaded": []}


SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]


def _batches(root, seed, customer):
    """SCD2 micro-batches: per batch, BATCH_CHANGES existing customers get a
    new name and a seeded segment, and BATCH_NEW_KEYS new customers
    appear; each key at most once per batch, as_of one day later per
    batch."""
    rng = _rng(seed, 300)
    base = customer["c_custkey"].to_numpy()
    next_key = int(base.max()) + 1
    keys = list(base)
    cols = {"batch": [], "k": [], "name": [], "seg": [], "as_of": []}
    day0 = np.datetime64("2024-01-02")
    for b in range(N_BATCHES):
        as_of = str(day0 + np.timedelta64(b, "D"))
        changed = rng.choice(len(keys), BATCH_CHANGES, replace=False)
        new = list(range(next_key, next_key + BATCH_NEW_KEYS))
        next_key += BATCH_NEW_KEYS
        for k in [int(keys[j]) for j in changed] + new:
            cols["batch"].append(b)
            cols["k"].append(k)
            cols["name"].append(f"Customer#{k:09d}~{b}")
            cols["seg"].append(SEGMENTS[int(rng.integers(0, len(SEGMENTS)))])
            cols["as_of"].append(as_of)
        keys.extend(new)
    table = pa.table({"batch": pa.array(cols["batch"], pa.int32()),
                      "k": pa.array(cols["k"], pa.int64()),
                      "name": pa.array(cols["name"], pa.string()),
                      "seg": pa.array(cols["seg"], pa.string()),
                      "as_of": pa.array(cols["as_of"], pa.string())})
    pq.write_table(table, os.path.join(root, "batches.parquet"), compression="snappy")


GENERATORS = {"nightly_load": _nightly, "intraday": _intraday}


def generate(workload, seed, root):
    """Write every input of `workload` for `seed` under `root` (which
    must not exist yet) and return the oracle spec, also saved as
    `oracle.json`."""
    os.makedirs(root)
    spec = GENERATORS[workload](root, seed)
    spec["workload"] = workload
    with open(os.path.join(root, "oracle.json"), "w") as f:
        json.dump(spec, f, indent=1, sort_keys=True)
    return spec


def input_size(root):
    """(files, bytes) of everything the generator wrote."""
    files = size = 0
    for d, _, fs in os.walk(root):
        for f in fs:
            files += 1
            size += os.path.getsize(os.path.join(d, f))
    return files, size
