#!/usr/bin/env python3
"""Local self-check mimicking the driver's correctness gate:
run graft.Verify at a given SF dir, then run each oracle SQL in DuckDB over
the same parquet tables and compare multisets (columns sorted by name,
rows sorted). Usage: check.py <sfDir> <outDir> [--skip-verify] [names...]
"""
import json, math, subprocess, sys, glob, os

import duckdb
import pandas as pd

def main():
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir, out_dir = args[0], args[1]
    names_filter = set(args[2:])
    if "--skip-verify" not in sys.argv:
        names = " ".join(sorted(names_filter))
        r = subprocess.run(
            ["sbt", "-batch",
             f'runMain graft.Verify {sf_dir} {out_dir} {names}'.strip()],
            cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            capture_output=True, text=True)
        tail = "\n".join((r.stdout + r.stderr).splitlines()[-30:])
        if r.returncode != 0:
            print(tail); sys.exit(1)
        for line in (r.stdout + r.stderr).splitlines():
            if "[verify]" in line:
                print(line)

    con = duckdb.connect()
    for t in ["region","nation","customer","supplier","part","orders",
              "lineitem","events","documents","embeddings"]:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(p):  # Spark-written table (scale corpora) vs driver file
            p = f"{p}/*.parquet"
        if glob.glob(p) or os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    # Verify emits each oracle under both "name" and "name.parquet" (for the
    # driver); dedupe to bare names here.
    oracle = {(k[:-8] if k.endswith(".parquet") else k): v
              for k, v in oracle.items()}
    n_pass = n_fail = 0
    for name, sql in sorted(oracle.items()):
        if names_filter and name not in names_filter:
            continue
        pq = glob.glob(f"{out_dir}/{name}.parquet/*.parquet")
        if not pq:
            print(f"FAIL {name}: no spark output"); n_fail += 1; continue
        try:
            got_rel = con.sql(f"SELECT * FROM '{pq[0]}'")
            exp_rel = con.sql(sql)
            # The driver hashes TYPED values: DuckDB HUGEINT (un-CAST SUM of
            # integers) vs Spark BIGINT hash-mismatches even when values are
            # equal (round-2 verdict). Reject wide oracle types outright.
            wide = [(c, str(t)) for c, t in
                    zip(exp_rel.columns, exp_rel.types)
                    if str(t).upper().startswith(("HUGEINT", "UHUGEINT",
                                                  "DECIMAL"))]
            if wide:
                print(f"FAIL {name}: oracle emits driver-hash-unsafe types "
                      f"{wide}; CAST(... AS BIGINT/DOUBLE) in the oracle SQL")
                n_fail += 1; continue
            gt = dict(zip(got_rel.columns, map(str, got_rel.types)))
            et = dict(zip(exp_rel.columns, map(str, exp_rel.types)))
            for c in sorted(set(gt) & set(et)):
                if gt[c] != et[c]:
                    print(f"  WARN {name}: col {c} typed-schema mismatch "
                          f"spark={gt[c]} oracle={et[c]} (driver may hash-fail)")
            got = got_rel.df()
            exp = exp_rel.df()
        except Exception as e:
            print(f"FAIL {name}: oracle error: {e}"); n_fail += 1; continue
        ok, msg = compare(got, exp)
        if ok:
            print(f"PASS {name} ({len(got)} rows)"); n_pass += 1
        else:
            print(f"FAIL {name}: {msg}"); n_fail += 1
    print(f"== {n_pass} pass / {n_fail} fail")
    sys.exit(1 if n_fail else 0)

def norm(df):
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort")\
             .reset_index(drop=True)

def compare(got, exp):
    if sorted(got.columns) != sorted(exp.columns):
        return False, f"columns differ: spark={sorted(got.columns)} duckdb={sorted(exp.columns)}"
    if len(got) != len(exp):
        return False, f"row count: spark={len(got)} duckdb={len(exp)}"
    g, e = norm(got), norm(exp)
    for c in g.columns:
        gc, ec = g[c], e[c]
        if str(gc.dtype).startswith("float") or str(ec.dtype).startswith("float"):
            diff = (gc.astype(float) - ec.astype(float)).abs()
            # fixed-operand-order folds match exactly at gate SF; at scale
            # corpora (sf1/sf10) partition fold order differs, so permit
            # ULP-scale relative error (observed 1e-14 at sf10 on 1e11
            # magnitudes) while still failing any algorithmic difference
            tol = ec.astype(float).abs().clip(lower=1.0) * 1e-12
            bad = diff[diff > tol]
            if len(bad):
                return False, (f"col {c}: {len(bad)} float diffs, "
                               f"max={bad.max():.3e} at row {bad.idxmax()} "
                               f"(spark={gc[bad.idxmax()]}, duckdb={ec[bad.idxmax()]})")
        else:
            neq = gc.astype(str) != ec.astype(str)
            if neq.any():
                i = neq.idxmax()
                return False, (f"col {c}: {int(neq.sum())} diffs, first at row {i}: "
                               f"spark={gc[i]!r} duckdb={ec[i]!r}")
    return True, ""

if __name__ == "__main__":
    main()
