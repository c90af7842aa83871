#!/usr/bin/env python
"""Local stand-in for the driver's correctness gate: run every __spark_entry__
query against its DuckDB oracle at a given sf dir and report row-count /
schema-ish / value-hash matches (columns sorted by name, rows sorted).
A query that leaves new entries in ``tempfile.gettempdir()`` gets one
``LEAK <query>: <names>`` line; leaks are reported, not counted as failures.

Usage: python scripts/check_entry.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

import __spark_entry__ as entrymod
from minimel_spark.session import get_spark

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def canon(df_pandas):
    """Sort columns by name, rows by all values, hash the repr of values."""
    pdf = df_pandas[sorted(df_pandas.columns)].copy()
    rows = []
    for tup in pdf.itertuples(index=False):
        rows.append(tuple(_norm(v) for v in tup))
    rows.sort()
    h = hashlib.sha256(repr(rows).encode()).hexdigest()[:16]
    return len(rows), h, rows


def _norm(v):
    import datetime

    import numpy as np

    if v is None:
        return "NULL"
    if isinstance(v, float) and v != v:
        return "NULL"
    if isinstance(v, (np.integer,)):
        return int(v)
    if isinstance(v, (np.floating,)):
        return float(v)
    if isinstance(v, (np.bool_, bool)):
        return bool(v)
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, datetime.datetime):
        return v.isoformat()
    return v


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("check_entry")
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    tmp = tempfile.gettempdir()
    for name, fn in qs.items():
        if only and name not in only:
            continue
        before = set(os.listdir(tmp))
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            failures.append(name)
            sdf = None
        leaked = sorted(set(os.listdir(tmp)) - before)
        if leaked:
            print(f"LEAK  {name}: {', '.join(leaked)}")
        if sdf is None:
            continue
        t_spark = time.time() - t0
        if name not in oracles:
            print(f"ok*   {name}: rows-only, {len(sdf)} rows ({t_spark:.1f}s)")
            continue
        try:
            odf = con.sql(oracles[name]).df()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e}")
            failures.append(name)
            continue
        n_s, h_s, rows_s = canon(sdf)
        n_o, h_o, rows_o = canon(odf)
        cols_s, cols_o = sorted(sdf.columns), sorted(odf.columns)
        if cols_s != cols_o:
            print(f"FAIL  {name}: columns {cols_s} vs {cols_o}")
            failures.append(name)
        elif n_s != n_o:
            print(f"FAIL  {name}: rows {n_s} vs {n_o}")
            _diff(rows_s, rows_o)
            failures.append(name)
        elif h_s != h_o:
            print(f"FAIL  {name}: value hash mismatch ({n_s} rows)")
            _diff(rows_s, rows_o)
            failures.append(name)
        else:
            print(f"OK    {name}: {n_s} rows, hash {h_s} ({t_spark:.1f}s)")
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    sys.exit(1 if failures else 0)


def _diff(rows_s, rows_o, k=4):
    ss, so = set(map(repr, rows_s)), set(map(repr, rows_o))
    only_s = sorted(ss - so)[:k]
    only_o = sorted(so - ss)[:k]
    for r in only_s:
        print(f"        spark-only:  {r[:200]}")
    for r in only_o:
        print(f"        oracle-only: {r[:200]}")


if __name__ == "__main__":
    main()
