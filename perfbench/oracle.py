"""Check the benchmark's outputs against each row's DuckDB oracle.

Each registered row carries an ANSI SQL twin that DuckDB runs over the
same parquet tables. A full check compares a row's `graft.Verify` dump
the way the repository's own gate, `tools/oracle_check.py`, does, with
that script's canonicaliser: same columns, same row count, same hash.
"""
import glob
import os
import sys

import duckdb
import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tools"))

from oracle_check import canon  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def connect(data_dir):
    con = duckdb.connect()
    con.execute("SET threads = 4")
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def check(con, name, dump_dir, oracle_sql):
    """(reason, oracle row count): reason is None if the dump of row
    `name` equals its oracle."""
    files = sorted(glob.glob(os.path.join(dump_dir, name, "*.parquet")))
    if not files:
        return "no parquet emitted", None
    got = pd.concat([pd.read_parquet(f) for f in files])
    try:
        want = con.execute(oracle_sql).fetchdf()
    except duckdb.Error as e:
        return f"oracle SQL error: {str(e).splitlines()[0][:300]}", None
    if sorted(got.columns) != sorted(want.columns):
        return (f"schema mismatch spark={sorted(got.columns)} "
                f"duck={sorted(want.columns)}", len(want))
    if len(got) != len(want):
        return f"rowcount spark={len(got)} duck={len(want)}", len(want)
    try:
        if canon(got) != canon(want):
            return "hash mismatch", len(want)
    except TypeError as e:
        return str(e), len(want)
    return None, len(want)


def count(con, oracle_sql):
    """Row count of the oracle's result."""
    return con.execute(f"SELECT count(*) FROM ({oracle_sql})").fetchone()[0]
