"""Independent correctness check, run after the timed window.

Expected results are computed by DuckDB from the same generated inputs
(and, for the SCD2 dimension, by a plain-Python replay of the applied
batches). Actual results are read straight from the build directories
the published catalog entries point at and from the unloaded gzip CSV
artifacts. Rows are compared as multisets with EXCEPT ALL in both
directions, every column exactly -- identity keys included, so a
layout-dependent numbering is a mismatch.
"""
import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

HI = "9999-12-31"


def _ident(name):
    return name.replace(".", "_")


def compare(con, expected, actual):
    """Mismatch description between two DuckDB relations, or None."""
    exp_cols = [r[0] for r in con.execute(f"DESCRIBE {expected}").fetchall()]
    act_cols = [r[0].lower() for r in con.execute(f"DESCRIBE {actual}").fetchall()]
    missing = [c for c in exp_cols if c.lower() not in act_cols]
    if missing or len(exp_cols) != len(act_cols):
        return f"columns differ: expected {exp_cols}, got {act_cols}"
    cols = ", ".join(f'"{c}"' for c in exp_cols)
    extra = con.execute(f"SELECT count(*) FROM (SELECT {cols} FROM {actual} "
                        f"EXCEPT ALL SELECT {cols} FROM {expected})").fetchone()[0]
    lost = con.execute(f"SELECT count(*) FROM (SELECT {cols} FROM {expected} "
                       f"EXCEPT ALL SELECT {cols} FROM {actual})").fetchone()[0]
    if extra or lost:
        return f"{extra} unexpected row(s), {lost} missing row(s)"
    return None


def _scd2_expected(work, batches_applied):
    """Replay the SCD2 upsert rules over the applied batches: a change
    closes the current version at the batch's as_of and opens a new one;
    a new key opens its first version."""
    cust = pq.read_table(os.path.join(work, "sources", "customer.parquet"))
    current = {k: (n, s, "2024-01-01") for k, n, s in zip(
        cust["c_custkey"].to_pylist(), cust["c_name"].to_pylist(),
        cust["c_mktsegment"].to_pylist())}
    history = []
    b = pq.read_table(os.path.join(work, "batches.parquet")).to_pydict()
    for batch, k, name, seg, as_of in zip(b["batch"], b["k"], b["name"], b["seg"], b["as_of"]):
        if batch >= batches_applied:
            continue
        cur = current.get(k)
        if cur is not None:
            if (cur[0], cur[1]) == (name, seg) or as_of <= cur[2]:
                continue
            history.append((k, cur[0], cur[1], cur[2], as_of, False))
        current[k] = (name, seg, as_of)
    rows = history + [(k, n, s, f, HI, True) for k, (n, s, f) in current.items()]
    cols = list(zip(*rows))
    return pa.table({"k": pa.array(cols[0], pa.int64()), "name": pa.array(cols[1], pa.string()),
                     "seg": pa.array(cols[2], pa.string()),
                     "valid_from": pa.array(cols[3], pa.string()),
                     "valid_to": pa.array(cols[4], pa.string()),
                     "is_current": pa.array(cols[5], pa.bool_())})


def check(work, spec, outputs):
    """Compare every published table (and unload artifact) with its
    expectation. Returns (number of comparisons, list of mismatches)."""
    con = duckdb.connect()
    sources = dict(spec["sources"])
    if outputs.get("variant"):
        sources["src_orders"] = os.path.join("variants", outputs["variant"], "orders.parquet")
    for alias, path in sources.items():
        con.execute(f"CREATE VIEW {alias} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(work, path)}/*.parquet')")
    tables = outputs.get("tables", {})
    checks, mismatches = 0, []
    expected = list(spec["expected"])
    if "batches_applied" in outputs:
        con.register("scd2_replay", _scd2_expected(work, outputs["batches_applied"]))
        con.execute("CREATE TABLE dw_customer_scd2 AS SELECT * FROM scd2_replay")
        expected.append(["dw.customer_scd2", None])
    for name, sql in expected:
        if sql is not None:
            con.execute(f"CREATE TABLE {_ident(name)} AS {sql}")
        checks += 1
        if name not in tables:
            mismatches.append(f"{name}: not published")
            continue
        actual = f"actual_{_ident(name)}"
        con.execute(f"CREATE VIEW {actual} AS SELECT * FROM read_parquet("
                    f"'{tables[name]}/**/*.parquet', hive_partitioning = true)")
        diff = compare(con, _ident(name), actual)
        if diff:
            mismatches.append(f"{name}: {diff}")
    for name in spec.get("unloaded", []):
        checks += 1
        types = con.execute(f"DESCRIBE {_ident(name)}").fetchall()
        columns = "{" + ", ".join(f"'{c}': '{t}'" for c, t, *_ in types) + "}"
        unloaded = f"unloaded_{_ident(name)}"
        try:
            con.execute(
                f"CREATE VIEW {unloaded} AS SELECT * FROM read_csv("
                f"'{os.path.join(work, 'unload', name)}/part-*', header = false, "
                f"columns = {columns}, nullstr = '\\N', quote = '\"', "
                f"timestampformat = '%Y-%m-%d %H:%M:%S.%f', compression = 'gzip')")
            diff = compare(con, _ident(name), unloaded)
        except duckdb.Error as e:
            diff = f"unreadable: {e}"
        if diff:
            mismatches.append(f"unload {name}: {diff}")
    con.close()
    return checks, mismatches
