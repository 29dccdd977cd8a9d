"""Judges the program's outputs against DuckDB running the same entry's
oracle SQL over the same generated inputs, with the repo's oracle rule
(tools/local_oracle.py): columns by name, rows as a multiset, values
exactly."""
import glob
import os
import sys

import duckdb
import pandas as pd
import pyarrow.parquet as pq

# the repo's oracle rule: column and row normalisation and value
# equality come from tools/local_oracle.py
sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "tools"))
from local_oracle import norm, values_equal  # noqa: E402


def _same(a, b):
    """local_oracle's cell rule (equal, or equal as text); a comparison
    that cannot give one truth value (array cells) falls to the text."""
    try:
        if bool(values_equal(a, b)):
            return True
    except (TypeError, ValueError):
        pass
    return str(a) == str(b)


def _read_parquet_dir(path):
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    return pd.concat([pq.read_table(f).to_pandas() for f in files]) if files else None


def _connect(input_dir, tmp_dir):
    con = duckdb.connect()
    con.execute(f"SET temp_directory='{tmp_dir}'")
    con.execute("SET memory_limit='1GB'")
    con.execute("SET threads=4")
    for table in sorted(glob.glob(os.path.join(input_dir, "*.parquet"))):
        name = os.path.basename(table)[: -len(".parquet")]
        src = os.path.join(table, "*.parquet") if os.path.isdir(table) else table
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{src}'")
    return con


def compare(entries, tmp_dir):
    """[(name, ok, detail)] for each {name, sql, rows, input[, columns]}
    entry; `columns`, when given, is the comma-separated subset of the
    oracle's columns the program's rows carry. DuckDB spills to `tmp_dir`."""
    results, cons = [], {}
    for e in entries:
        name = e["name"]
        try:
            con = cons.get(e["input"]) or cons.setdefault(
                e["input"], _connect(e["input"], tmp_dir))
            got = _read_parquet_dir(e["rows"])
            if got is None:
                results.append((name, False, "no program output"))
                continue
            sql = e["sql"]
            if e.get("columns"):  # judge only the columns the program wrote
                sql = f"SELECT {e['columns']} FROM ({sql})"
            exp = con.sql(sql).df()
            got, exp = norm(got), norm(exp)
            if list(got.columns) != list(exp.columns):
                results.append((name, False, f"columns {list(got.columns)} != {list(exp.columns)}"))
            elif len(got) != len(exp):
                results.append((name, False, f"rows {len(got)} != {len(exp)}"))
            elif (got.astype(str).values == exp.astype(str).values).all():
                results.append((name, True, f"{len(got)} rows"))
            else:
                bad = next(((c, i, g, x) for c in got.columns
                            for i, (g, x) in enumerate(zip(got[c], exp[c]))
                            if not _same(g, x)), None)
                results.append((name, bad is None,
                                f"{len(got)} rows" if bad is None
                                else "col={} row={}: program={!r} oracle={!r}".format(*bad)))
        except Exception as ex:  # an oracle that cannot run is a failed check
            results.append((name, False, f"{type(ex).__name__}: {ex}"))
    for con in cons.values():
        con.close()
    return results
