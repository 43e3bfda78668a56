#!/usr/bin/env python3
"""Compare two graft.Verify output directories query by query.

Each query's parquet output is read with DuckDB and compared as its
column names plus its rows sorted by their repr, so row order (which
Verify does not fix) does not matter but every value, type and column
name does. A query missing from either side counts as differing.

Usage: python3 scripts/compare_outputs.py <dirA> <dirB>
(each dir from: sbt "runMain graft.Verify <sfDir> <dir>")

Prints "n / N identical" over the queries of <dirA>, then each query
that differs. Exits 1 when any query differs.
"""
import os
import sys

import duckdb


def rows(con, out_dir, query):
    path = os.path.join(out_dir, query)
    if not os.path.isdir(path):
        return None
    res = con.execute(f"SELECT * FROM read_parquet('{path}/*.parquet')")
    return [c[0] for c in res.description], sorted(map(repr, res.fetchall()))


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    a, b = sys.argv[1:]
    con = duckdb.connect()
    queries = sorted(q for q in os.listdir(a) if os.path.isdir(os.path.join(a, q)))
    differ = [q for q in queries if rows(con, a, q) != rows(con, b, q)]
    print(f"{len(queries) - len(differ)} / {len(queries)} identical")
    for q in differ:
        print(f"  differs: {q}")
    sys.exit(1 if differ else 0)


if __name__ == "__main__":
    main()
