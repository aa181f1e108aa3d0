#!/usr/bin/env python3
"""Dev-only self-check mimicking the driver's correctness gate:
runs DuckDB on oracle_sql.json and compares against the parquet dumps
produced by graft.Verify (columns sorted by name, rows sorted, exact
value equality).

Usage: selfcheck.py <sfDir> <verifyOutDir> [--scale-invariants]
                    [--rel-tol X]

--scale-invariants  replace the quadratic-oracle queries (the dedup pair /
                    component families and the per-row EMA family, see
                    scripts/scale_oracles.py) with exact linear-shaped
                    invariant checks — the mode scripts/scale_probe.py
                    uses on derived 10x+ data. The sf0.01 dedup oracles
                    find pairs by an equi-join on the shingle (QueriesLLM's
                    shinglePairsCtes) and take well under a second there,
                    but they are exact-pair contracts: LSH may miss a pair
                    with J in [0.8, 0.9), which larger corpora have, so the
                    invariants stay for scale. The driver's sf0.01 gate
                    never sets this.
--rel-tol X         compare float columns with relative tolerance X
                    instead of exact equality (scale runs only: DuckDB's
                    own summation order shifts by a few ulp on enlarged
                    inputs). Default 0 = exact.
"""
import argparse
import sys, json, glob, os
import duckdb
import pandas as pd
import numpy as np

_ap = argparse.ArgumentParser()
_ap.add_argument("sf_dir")
_ap.add_argument("out_dir")
_ap.add_argument("--scale-invariants", action="store_true")
_ap.add_argument("--rel-tol", type=float, default=0.0)
_ap.add_argument("--oracle-infeasible", default="",
                 help="comma-separated query names whose ORACLE (not the "
                      "engine) is super-linear SQL at this scale point; "
                      "recorded as an explicit documented skip, never "
                      "silently dropped")
_args = _ap.parse_args()
sf_dir, out_dir = _args.sf_dir, _args.out_dir
scale_mode = _args.scale_invariants
rel_tol = _args.rel_tol
oracle_infeasible = {q for q in _args.oracle_infeasible.split(",") if q}

con = duckdb.connect()
for p in glob.glob(f"{sf_dir}/*.parquet"):
    t = os.path.basename(p).replace(".parquet", "")
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

scale_oracles = None
if scale_mode:
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import scale_oracles

oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
fail, ok, skip = [], [], []
progress = os.environ.get("SELFCHECK_PROGRESS") == "1"
infeasible_hit = []
for name in sorted(os.listdir(out_dir)):
    d = os.path.join(out_dir, name)
    if not os.path.isdir(d):
        continue
    if name in oracle_infeasible:
        n_rows = sum(len(pd.read_parquet(f))
                     for f in glob.glob(f"{d}/*.parquet"))
        infeasible_hit.append((name, n_rows))
        continue
    if scale_mode and name in scale_oracles.SCALE_INVARIANT:
        if progress:
            import time
            t0 = time.time()
            print(f"[selfcheck] {name} (scale invariant) ...", flush=True)
        try:
            err = scale_oracles.run(name, con, out_dir, sf_dir)
        except Exception as e:
            err = f"invariant check error: {e}"
        if progress:
            print(f"[selfcheck] {name} invariant {time.time() - t0:.1f}s",
                  flush=True)
        if err:
            fail.append((name, f"[scale-invariant] {err}"))
        else:
            ok.append(name)
        continue
    files = glob.glob(f"{d}/*.parquet")
    got = pd.concat([pd.read_parquet(f) for f in files]) if files else pd.DataFrame()
    if name not in oracle:
        skip.append((name, len(got)))
        continue
    try:
        if progress:
            import time
            t0 = time.time()
            print(f"[selfcheck] {name} ...", flush=True)
        exp = con.execute(oracle[name]).fetchdf()
        if progress:
            print(f"[selfcheck] {name} oracle {time.time() - t0:.1f}s", flush=True)
    except Exception as e:
        fail.append((name, f"oracle SQL error: {e}"))
        continue
    got = got.reindex(sorted(got.columns), axis=1)
    exp = exp.reindex(sorted(exp.columns), axis=1)
    if list(got.columns) != list(exp.columns):
        fail.append((name, f"columns differ: got {list(got.columns)} exp {list(exp.columns)}"))
        continue
    if len(got) != len(exp):
        fail.append((name, f"row count differ: got {len(got)} exp {len(exp)}"))
        continue
    # Sort by non-float columns FIRST: in --rel-tol mode, a float column
    # that happens to sort first (e.g. 'cosine' before 'id_a') would order
    # rows by the very values allowed to drift by ulps, misaligning row
    # pairs between got and exp exactly when the tolerance is needed.
    sort_cols = sorted(got.columns, key=lambda c: (got[c].dtype.kind == "f", c))
    g = got.sort_values(sort_cols).reset_index(drop=True)
    e = exp.sort_values(sort_cols).reset_index(drop=True)
    mismatch = None
    for c in g.columns:
        gv, ev = g[c], e[c]
        if gv.dtype != ev.dtype:
            # As strict as the driver's hash gate: dtype mismatch = failure.
            mismatch = f"dtype differ on {c}: {gv.dtype} vs {e[c].dtype}"
            break
        eqnan = gv.isna() & ev.isna()
        eq = eqnan | (gv == ev)
        if rel_tol > 0.0 and gv.dtype.kind == "f":
            # scale floor of 1.0: near-cancelled quantities (a correlation
            # of ~4e-8 is a difference of huge sums) carry ulp-level
            # ABSOLUTE error regardless of their own magnitude
            scale = np.maximum(np.maximum(gv.abs(), ev.abs()), 1.0)
            close = (gv - ev).abs() <= rel_tol * scale
            eq = eq | (close & ~gv.isna() & ~ev.isna())
        neq = ~eq
        if neq.any():
            i = neq.idxmax()
            mismatch = f"col {c}: {int(neq.sum())}/{len(gv)} differ; first at row {i}: got {gv[i]!r} exp {ev[i]!r}"
            break
    if mismatch:
        fail.append((name, mismatch))
    else:
        ok.append(name)

print(f"PASS {len(ok)}: {' '.join(ok)}")
print(f"SKIP(no-oracle) {len(skip)}: {' '.join(n for n,_ in skip)}")
for n, c in skip:
    if c == 0:
        print(f"  WARN {n}: 0 rows")
if infeasible_hit:
    print(f"SKIP(oracle-infeasible) {len(infeasible_hit)}: "
          + " ".join(f"{n}({c} rows)" for n, c in infeasible_hit))
    for n, c in infeasible_hit:
        if c == 0:
            print(f"  WARN {n}: 0 rows")
print(f"FAIL {len(fail)}:")
for n, m in fail:
    print(f"  {n}: {m}")
sys.exit(1 if fail else 0)
