#!/usr/bin/env python3
"""Dev-only harness replicating the driver's DuckDB oracle compare.

Usage: python3 tools/local_oracle.py <sfDir> <verifyOutDir> [only]

`only` is an optional comma-separated query-name subset — used to resume
an interrupted run (e.g. a host-wide OOM killed DuckDB partway) without
re-running queries that already passed against the same frozen Spark
outputs.

Reads <verifyOutDir>/oracle_sql.json (written by graft.Verify), registers
the sfDir parquet tables as DuckDB views, runs each oracle SQL, and
compares against the Spark-written parquet in <verifyOutDir>/<name>/.
Columns are sorted by name before compare (mirrors the driver). Reports
per-query: row-count match, schema (column-name) match, value match.
"""
import sys, json, glob, math

import duckdb
import pyarrow.parquet as pq
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    # Row-order-insensitive like the driver: sort rows by the stringified
    # value tuple (the driver sorts before hashing, so operators need not
    # emit ordered output).
    if len(df):
        df = df.iloc[
            df.astype(str).apply(tuple, axis=1).argsort(kind="stable")]
    return df.reset_index(drop=True)


def values_equal(a, b) -> bool:
    import datetime
    if a is None and b is None:
        return True
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b
    # date vs pandas Timestamp-at-midnight: same logical value
    for x, y in ((a, b), (b, a)):
        if isinstance(x, datetime.date) and not isinstance(x, datetime.datetime) \
                and isinstance(y, (datetime.datetime, pd.Timestamp)):
            return pd.Timestamp(x) == pd.Timestamp(y)
    return a == b


def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    # Bound DuckDB so the heavy oracle SQL (the shingle self-join /
    # PageRank families at sf0.1) spills to disk instead of taking the
    # host down: an unbounded run was observed at >100 GB RSS.
    # The defaults size it from the host: every core, half of physical
    # memory. GRAFT_DUCKDB_MEM / GRAFT_DUCKDB_THREADS override them.
    import os
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    mem = os.environ.get("GRAFT_DUCKDB_MEM", f"{phys // 2 // 10**6}MB")
    spill = os.environ.get("GRAFT_DUCKDB_SPILL", "/tmp/duckdb_spill")
    os.makedirs(spill, exist_ok=True)
    con.execute(f"SET memory_limit='{mem}'")
    con.execute(f"SET temp_directory='{spill}'")
    con.execute(
        f"SET threads={os.environ.get('GRAFT_DUCKDB_THREADS', os.cpu_count())}")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    sql_map = json.load(open(f"{out_dir}/oracle_sql.json"))
    if len(sys.argv) > 3:
        only = set(sys.argv[3].split(","))
        missing = only - set(sql_map)
        if missing:
            sys.exit(f"unknown query names in subset: {sorted(missing)}")
        sql_map = {k: v for k, v in sql_map.items() if k in only}
    n_pass = n_fail = 0
    for name, sql in sorted(sql_map.items()):
        files = sorted(glob.glob(f"{out_dir}/{name}/*.parquet"))
        if not files:
            print(f"FAIL {name}: no spark output")
            n_fail += 1
            continue
        got = pd.concat([pq.read_table(f).to_pandas() for f in files])
        try:
            exp = con.sql(sql).df()
        except Exception as e:
            print(f"FAIL {name}: oracle sql error: {e}")
            n_fail += 1
            continue
        got, exp = norm(got), norm(exp)
        if list(got.columns) != list(exp.columns):
            print(f"FAIL {name}: columns {list(got.columns)} != {list(exp.columns)}")
            n_fail += 1
            continue
        if len(got) != len(exp):
            print(f"FAIL {name}: rows {len(got)} != {len(exp)}")
            n_fail += 1
            continue
        bad = None
        for col in got.columns:
            gv, ev = list(got[col]), list(exp[col])
            for i, (g, e) in enumerate(zip(gv, ev)):
                # normalize timestamp/date-ish values via str compare fallback
                if not (values_equal(g, e) or str(g) == str(e)):
                    bad = (col, i, g, e)
                    break
            if bad:
                break
        if bad:
            col, i, g, e = bad
            print(f"FAIL {name}: value mismatch col={col} row={i}: spark={g!r} duck={e!r}")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(got)} rows)")
            n_pass += 1
    print(f"== {n_pass} pass, {n_fail} fail ==")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
