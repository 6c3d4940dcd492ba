#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: run graft.Verify at a
scale factor, then execute each oracle SQL in DuckDB over the same
parquet tables and compare (columns sorted by name, rows sorted, values
compared exactly after canonicalization). Dev tool only — not part of
the shipped library.

`--repo` is the checkout whose graft.Verify runs (default: the one
holding this script) and `--out` where it writes one parquet per query
plus oracle_sql.json (default /tmp/graft_verify), so two checkouts can
be checked side by side into two output dirs."""
import argparse, json, subprocess, sys, glob, os
import duckdb
import pandas as pd

# opt into the future fillna semantics so every per-column compare
# doesn't print the downcasting FutureWarning (pure log noise here —
# the compare coerces to object dtype itself)
pd.set_option("future.no_silent_downcasting", True)

ap = argparse.ArgumentParser(description="graft.Verify + DuckDB oracle compare")
ap.add_argument("sf_dir", help="scale-factor dir holding the input parquet tables")
ap.add_argument("--repo", default=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                help="checkout to build and run graft.Verify in")
ap.add_argument("--out", default="/tmp/graft_verify", help="graft.Verify output dir")
ap.add_argument("--no-build", action="store_true", help="re-compare the existing output dir")
ap.add_argument("--only", metavar="KEY[,KEY...]", help="run only these comma-separated query keys")
ARGS = ap.parse_args()
# absolute: graft.Verify runs with the checkout as its working dir
SF_DIR, OUT = os.path.abspath(ARGS.sf_dir), os.path.abspath(ARGS.out)
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

def run_verify():
    only = ""
    if ARGS.only is not None:
        # interpolated into the sbt runMain string — restrict to key chars
        keys = ARGS.only.split(",")
        if not all(k.replace("_", "").isalnum() for k in keys):
            print(f"--only expects comma-separated query keys (letters/digits/underscore), got: {ARGS.only!r}")
            sys.exit(2)
        only = " " + ",".join(keys)
    r = subprocess.run(
        ["sbt", "-batch", f'runMain graft.Verify {SF_DIR} {OUT}{only}'],
        capture_output=True, text=True, cwd=ARGS.repo, timeout=1200)
    if r.returncode != 0:
        print(r.stdout[-4000:]); print(r.stderr[-4000:]); sys.exit(1)
    errs = [l for l in (r.stdout + r.stderr).splitlines() if "[verify]" in l]
    for e in errs: print(e)

def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = s.astype("datetime64[us]")
        elif s.dtype == object:
            df[c] = s.astype(str)
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.astype("float64")
        elif pd.api.types.is_integer_dtype(s):
            df[c] = s.astype("Int64")
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df

def main():
    if not ARGS.no_build:
        run_verify()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")
    oracle = json.load(open(f"{OUT}/oracle_sql.json"))
    n_pass = n_fail = 0
    for name in sorted(os.listdir(OUT)):
        d = os.path.join(OUT, name)
        if not os.path.isdir(d):
            continue
        files = glob.glob(f"{d}/*.parquet")
        got = pd.concat([pd.read_parquet(f) for f in files]) if files else pd.DataFrame()
        if name not in oracle:
            print(f"  rows-only  {name:28s} rows={len(got)}" + ("  !! EMPTY" if len(got) == 0 else ""))
            continue
        try:
            exp = con.execute(oracle[name]).df()
        except Exception as e:
            print(f"  FAIL(sql)  {name:28s} {e}"); n_fail += 1; continue
        g, e = canon(got), canon(exp)
        if list(g.columns) != list(e.columns):
            print(f"  FAIL(cols) {name:28s} got={list(g.columns)} exp={list(e.columns)}"); n_fail += 1; continue
        if len(g) != len(e):
            print(f"  FAIL(rows) {name:28s} got={len(g)} exp={len(e)}"); n_fail += 1; continue
        diff_cols = []
        for c in g.columns:
            a, b = g[c], e[c]
            if pd.api.types.is_float_dtype(a):
                eq = (a.fillna(-1e308) == b.fillna(-1e308)).all()
            else:
                eq = a.fillna("\x00").eq(b.fillna("\x00")).all() if a.dtype == object else a.astype("object").fillna("\x00").eq(b.astype("object").fillna("\x00")).all()
            if not eq:
                diff_cols.append(c)
        if diff_cols:
            print(f"  FAIL(vals) {name:28s} cols={diff_cols}")
            for c in diff_cols[:2]:
                m = g[c] != e[c]
                m = m & ~(g[c].isna() & e[c].isna())
                idx = m[m].index[:3]
                for i in idx:
                    print(f"      row {i}: got={g[c][i]!r} exp={e[c][i]!r}")
            n_fail += 1
        else:
            print(f"  PASS       {name:28s} rows={len(g)}"); n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail")
    sys.exit(1 if n_fail else 0)

main()
