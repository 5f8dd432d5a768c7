"""DuckDB oracle comparison for the query boards, untimed.

Follows tools/check.py: the Spark result (parquet written by the
harness's warm-up pass) and the registry's oracle SQL over the same
fixture parquet are fetched through pandas, columns are sorted by name,
cells are canonicalised, and rows are compared in order. Oracles that
tools/duckbench.py skips (xd5's recursive closure and the xr*
certification rows) are skipped here too.
"""
import json
import math
import os
import sys
import time

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
SKIP = {"xd5_dedup_clusters"}


def skipped(name):
    return name in SKIP or name.startswith("xr")


def _canon_cell(v):
    import pandas as pd
    if type(v).__module__ == "numpy" and hasattr(v, "item"):
        v = v.item()
    if v is None or v is pd.NaT:
        return "\\N"
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(v)
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


def _fetch(rel):
    df = rel.df()
    return list(df.columns), [tuple(r) for r in df.itertuples(index=False, name=None)]


def _canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return [cols[i] for i in order], [tuple(_canon_cell(r[i]) for i in order) for r in rows]


def compare(sf_dir, work_dir):
    """Returns (checked query names, failure messages)."""
    import duckdb
    path = os.path.join(work_dir, "oracle_sql.json")
    if not os.path.exists(path):
        return [], []
    oracle = json.load(open(path))
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET memory_limit = '2GB'")
    con.execute(f"SET temp_directory = '{os.path.join(work_dir, 'duckdb-tmp')}'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    checked, fails = [], []
    for name in sorted(oracle):
        result = os.path.join(work_dir, "results", name)
        if skipped(name) or not os.path.isdir(result):
            continue
        checked.append(name)
        t0 = time.monotonic()
        try:
            sc, sr = _canon(*_fetch(con.execute(
                f"SELECT * FROM read_parquet('{result}/*.parquet')")))
            oc, orr = _canon(*_fetch(con.execute(oracle[name])))
        except Exception as e:  # noqa: BLE001 - any engine error fails the query
            fails.append(f"{name}: oracle error: {str(e).splitlines()[0]}")
            continue
        if sc != oc:
            fails.append(f"{name}: oracle column mismatch {sc} != {oc}")
        elif len(sr) != len(orr):
            fails.append(f"{name}: oracle row count {len(sr)} != {len(orr)}")
        elif sr != orr:
            n = sum(a != b for a, b in zip(sr, orr))
            fails.append(f"{name}: {n}/{len(sr)} rows differ from the oracle")
        print(f"[perfbench oracle] {name} {time.monotonic() - t0:.3f}s", file=sys.stderr)
    return checked, fails
