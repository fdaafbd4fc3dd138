#!/usr/bin/env python3
"""Cross-checks the benchmark's two curation compositions against the
catalog's DuckDB oracle, at the small bundled scale (data/sf0.01) where the
oracle finishes quickly.

    python3 perfbench/crosscheck.py [--seed N]

The runner writes one curation_service episode's accepted documents,
projected to the columns of the catalog's q248, and the corpus_batch funnel's
stage report over the same small-scale documents, next to the catalog's oracle SQL
for q248 and q230. Both are then compared with DuckDB's result the way
tools/check.py compares the catalog: columns sorted by name, rows sorted,
floats to 1e-9. At the benchmark's own scales the golden digests stand in
for the oracle, which does not finish there.
"""
import argparse
import glob
import json
import os
import sys

import duckdb
import numpy as np

import build
import run


def compare(con, name, sql, files):
    got = con.sql(f"SELECT * FROM read_parquet({files!r})").fetchdf()
    exp = con.sql(sql).fetchdf()
    cols = sorted(got.columns)
    if cols != sorted(exp.columns):
        return f"columns {cols} != {sorted(exp.columns)}"
    g = got[cols].sort_values(cols).reset_index(drop=True)
    e = exp[cols].sort_values(cols).reset_index(drop=True)
    if len(g) != len(e):
        return f"{len(g)} rows != {len(e)}"
    for c in cols:
        a, b = g[c], e[c]
        if a.dtype.kind == "f" or b.dtype.kind == "f":
            bad = ~np.isclose(a.astype(float), b.astype(float), rtol=0, atol=1e-9, equal_nan=True)
        else:
            bad = ~((a == b) | (a.isna() & b.isna()))
        if bad.any():
            i = int(np.argmax(np.asarray(bad)))
            return f"{c}: row {i} got {a[i]!r} expected {b[i]!r}"
    return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=1)
    a = ap.parse_args()
    data = os.path.join(build.BENCH, "data", "sf0.01")
    work = os.path.join(build.OUT, "crosscheck")
    run.jvm(["--mode", "crosscheck", "--seed", str(a.seed), "--data", data, "--work", work],
            "crosscheck.log", timeout=900)
    con = duckdb.connect()
    for f in glob.glob(os.path.join(data, "*.parquet")):
        name = os.path.basename(f)[:-len(".parquet")]
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{f}'")
    failed = 0
    for name, sql in sorted(json.load(open(os.path.join(work, "oracle_sql.json"))).items()):
        err = compare(con, name, sql, glob.glob(os.path.join(work, name, "*.parquet")))
        print(f"{'OK' if err is None else 'FAIL'} {name}" + (f": {err}" if err else ""))
        failed += err is not None
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
