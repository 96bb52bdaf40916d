#!/usr/bin/env python3
"""Local mimic of the driver's correctness gate.

Usage: python3 tools/check_oracle.py <sfdir> <verify_outdir>

Reads <verify_outdir>/oracle_sql.json, runs each SQL in DuckDB against
views over <sfdir>/*.parquet, loads the Spark result parquet from
<verify_outdir>/<name>/, sorts columns by name and rows by all columns,
and compares values. Exit code = number of mismatching queries. The
line before the final `N mismatching / M total` names every comparison
of 0 rows against 0 rows (it passes, but checks nothing).

Driver-side tooling only (python/duckdb are not available to the engine).
"""
import json, sys, glob, os
import duckdb
import numpy as np

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def norm(df):
    df = df[sorted(df.columns)]
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return df

def main(sfdir, outdir):
    con = duckdb.connect()
    for t in TABLES:
        # MakeTenX-built corpora (e.g. /tmp/sf1) are DIRECTORY parquet;
        # DuckDB needs the part-file glob in that case
        path = f"{sfdir}/{t}.parquet"
        if os.path.isdir(path):
            path += "/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    oracle = json.load(open(f"{outdir}/oracle_sql.json"))
    bad = 0
    empty = []  # compared 0 rows against 0 rows: passes, but checks nothing
    for name, sql in sorted(oracle.items()):
        try:
            exp = con.execute(sql).fetchdf()
        except Exception as e:
            print(f"FAIL {name}: oracle SQL error: {e}")
            bad += 1
            continue
        files = glob.glob(f"{outdir}/{name}/*.parquet")
        if not files:
            print(f"FAIL {name}: no spark output")
            bad += 1
            continue
        got = con.execute(
            f"SELECT * FROM read_parquet({files!r})").fetchdf()
        exp_n, got_n = norm(exp), norm(got)
        if list(exp_n.columns) != list(got_n.columns):
            print(f"FAIL {name}: columns {list(got_n.columns)} != {list(exp_n.columns)}")
            bad += 1
            continue
        if len(exp_n) != len(got_n):
            print(f"FAIL {name}: rows {len(got_n)} != {len(exp_n)}")
            bad += 1
            continue
        # dtype-tolerant value compare; floats are compared by BIT
        # PATTERN (as float64), like the driver's hash — pandas `==`
        # treats -0.0 == 0.0 and hides NaN-payload drift, which shipped
        # q99 green locally while the driver's hash flagged it.
        diff_cols = []
        masks = {}
        for c in exp_n.columns:
            a, b = exp_n[c], got_n[c]
            if (np.issubdtype(a.dtype, np.floating)
                    or np.issubdtype(b.dtype, np.floating)):
                av = a.to_numpy(dtype="float64").view("uint64")
                bv = b.to_numpy(dtype="float64").view("uint64")
                eq = (av == bv)
            else:
                try:
                    eq = ((a == b) | (a.isna() & b.isna())).to_numpy()
                except Exception:
                    eq = (a.astype(str) == b.astype(str)).to_numpy()
            if not eq.all():
                diff_cols.append((c, int((~eq).sum())))
                masks[c] = ~eq
        if diff_cols:
            print(f"FAIL {name}: value diffs {diff_cols}")
            for c, _ in diff_cols[:2]:
                mask = masks[c]
                print("  oracle:", exp_n[mask][c].head(3).tolist(),
                      " spark:", got_n[mask][c].head(3).tolist())
            bad += 1
        else:
            # flag dtype drift even when values compare equal
            dt = [(c, str(exp_n[c].dtype), str(got_n[c].dtype))
                  for c in exp_n.columns
                  if str(exp_n[c].dtype) != str(got_n[c].dtype)]
            note = f"  (dtype drift: {dt})" if dt else ""
            print(f"OK   {name} ({len(got_n)} rows){note}")
            if len(got_n) == 0:
                empty.append(name)
    # before the summary line, which stays last and unchanged
    print(f"{len(empty)} empty (0 rows against 0 rows): "
          f"{' '.join(empty) if empty else '-'}")
    print(f"{bad} mismatching / {len(oracle)} total")
    return bad

if __name__ == "__main__":
    sys.exit(min(main(sys.argv[1], sys.argv[2]), 120))
