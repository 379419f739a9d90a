"""DuckDB oracle check for the curate workload's query results.

Each entry names a registry query, the parquet directory its last
execution wrote, and its oracle SQL. The SQL runs over the corpus tables
in DuckDB; the two results must agree on column names, row count and
values (rows sorted, each value compared by its repr, so doubles must be
bit-equal).
"""
import glob
import os

import duckdb

TABLES = ("documents", "embeddings", "lineitem")


def rows(rel, cols):
    return sorted(tuple(repr(v) for v in r) for r in rel.project(", ".join(cols)).fetchall())


def check(entries, corpus_dir):
    """Returns one note per query whose result differs from its oracle."""
    con = duckdb.connect()
    # the benchmark JVM has exited: the oracle may use every CPU
    con.execute(f"SET threads TO {os.cpu_count() or 1}")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(corpus_dir, t + '.parquet', '*.parquet')}')")
    bad = []
    for e in entries:
        name = e["name"]
        files = glob.glob(os.path.join(e["out"], "*.parquet"))
        try:
            got = con.read_parquet(files) if files else None
            want = con.sql(e["sql"])
            if got is None:
                if want.fetchall():
                    bad.append(f"curate: {name}: no result rows, oracle has some")
                continue
            gc, wc = sorted(got.columns), sorted(want.columns)
            if gc != wc:
                bad.append(f"curate: {name}: columns {gc} != oracle {wc}")
            elif rows(got, gc) != rows(want, wc):
                bad.append(f"curate: {name}: rows differ from the DuckDB oracle")
        except duckdb.Error as ex:
            bad.append(f"curate: {name}: oracle failed: {str(ex)[:200]}")
    return bad
