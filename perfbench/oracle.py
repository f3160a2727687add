"""Checks the registry entries a traced run materializes against their
DuckDB oracles, with the comparison rules of tools/verify_local.py: same
column names and dtypes, same row count, and exactly equal values once rows
are sorted by every column and columns by name."""
import json
import os
import sys

import duckdb
import pandas as pd


def problems(con, got_dir, sql):
    got = con.sql(f"SELECT * FROM '{got_dir}/*.parquet'").df()
    want = con.sql(sql).df()
    gc, wc = sorted(got.columns), sorted(want.columns)
    if gc != wc:
        return [f"columns differ: spark={gc} duckdb={wc}"]
    got, want = got[gc], want[wc]
    out = []
    gt, wt = [str(t) for t in got.dtypes], [str(t) for t in want.dtypes]
    if gt != wt:
        out.append(f"dtypes differ: spark={gt} duckdb={wt}")
    if len(got) != len(want):
        out.append(f"rowcount differs: spark={len(got)} duckdb={len(want)}")
    if not out:
        g = got.sort_values(by=gc, na_position="first").reset_index(drop=True)
        w = want.sort_values(by=wc, na_position="first").reset_index(drop=True)
        try:
            pd.testing.assert_frame_equal(g, w, check_exact=True)
        except AssertionError as e:
            out.append(f"values differ: {str(e)[:400]}")
    return out


def check(mix_dir):
    """Number of entries under mix_dir whose output differs from its oracle;
    each difference is reported on stderr."""
    oracles = json.load(open(os.path.join(mix_dir, "oracle_sql.json")))
    con = duckdb.connect()
    failed = 0
    for name, sql in sorted(oracles.items()):
        try:
            found = problems(con, os.path.join(mix_dir, name), sql)
        except Exception as e:  # a load or oracle error is a mismatch too
            found = [f"load/exec error: {str(e)[:300]}"]
        for p in found:
            print(f"perfbench: {name}: {p}", file=sys.stderr)
        failed += bool(found)
    return failed
