#!/usr/bin/env python3
"""Local mirror of the driver's correctness gate: run graft.Verify's
parquet dumps against the DuckDB oracle SQL and compare.

Usage: after `sbt "runMain graft.Verify SF_DIR OUT_DIR"`:
    python3 scripts/check_oracle.py SF_DIR OUT_DIR [PREFIX ...]

With PREFIX arguments only the queries whose names start with one of
them are checked (e.g. `w` for the weather family). Each result line
carries the query's seconds and is flushed as it is printed, so a
redirected run shows its progress.
"""
import sys, os, json, glob, time
import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def main(sf_dir, out_dir, prefixes=()):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    n_ok = n_bad = 0
    names = [n for n in sorted(oracle)
             if not prefixes or n.startswith(tuple(prefixes))]
    for name in names:
        t0 = time.monotonic()
        ok, msg = check(con, oracle[name], os.path.join(out_dir, name))
        if ok:
            n_ok += 1
        else:
            n_bad += 1
        print(f"{'OK  ' if ok else 'FAIL'} {name}: {msg} ({time.monotonic() - t0:.1f} s)",
              flush=True)
    print(f"\n{n_ok} ok, {n_bad} failed", flush=True)
    return 1 if n_bad else 0


def check(con, sql, pq):
    """One query: (True, "<n> rows") or (False, why)."""
    if not glob.glob(pq + "/*.parquet"):
        return False, f"no spark output at {pq}"
    try:
        want = con.execute(sql).df()
    except Exception as e:
        return False, f"oracle error: {e}"
    got = con.execute(f"SELECT * FROM read_parquet('{pq}/*.parquet')").df()
    ok, msg = compare(got, want)
    return ok, (f"{len(got)} rows" if ok else msg)


def compare(got, want):
    if sorted(got.columns) != sorted(want.columns):
        return False, f"schema: spark={sorted(got.columns)} oracle={sorted(want.columns)}"
    if len(got) != len(want):
        return False, f"rows: spark={len(got)} oracle={len(want)}"
    cols = sorted(got.columns)
    g = got[cols].sort_values(cols).reset_index(drop=True)
    w = want[cols].sort_values(cols).reset_index(drop=True)
    for c in cols:
        gv, wv = g[c], w[c]
        # the driver's gate HASHES values, so a float64-vs-int64 column
        # (e.g. DuckDB HUGEINT -> pandas float64) fails there even when
        # values compare equal — mirror that strictness here
        if (gv.dtype.kind == "f") != (wv.dtype.kind == "f"):
            return False, f"dtype kind mismatch col {c}: spark={gv.dtype} oracle={wv.dtype}"
        if gv.dtype.kind == "f" or wv.dtype.kind == "f":
            import numpy as np
            bad = ~(np.isclose(gv.astype(float), wv.astype(float), rtol=0, atol=1e-9)
                    | (gv.isna() & wv.isna()))
        else:
            bad = ~((gv == wv) | (gv.isna() & wv.isna()))
        if bad.any():
            i = bad.idxmax()
            return False, f"col {c} row {i}: spark={gv[i]!r} oracle={wv[i]!r}"
    return True, ""


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2], sys.argv[3:]))
