#!/usr/bin/env python3
"""Old-vs-new identity of the rewritten shingle-pair and component oracles.

    python3 plans/pr11/oracle_identity.py <before/oracle_sql.json> \
        <after/oracle_sql.json> <sf0.01 dir> [--sf01 <sf0.1 dir>] [--out X.json]

Each `oracle_sql.json` is the file `graft.Verify` writes next to its dumps
(`SPARK_GRAFT_VERIFY_ONLY=<no such name>` writes only that file). For every
rewritten oracle the script runs the before and the after SQL on one DuckDB
connection and compares column names, DuckDB column types and every row in
order (floats bit for bit, NaN equal to NaN). It does so on two inputs:

- `sf0.01`: the gate tables, read from the parquet files;
- `edge`: the same tables, but `documents` replaced by a table built here
  with null text, empty text, one-token documents, exact duplicates,
  repeated shingles, runs of spaces and near duplicates, plus documents
  long enough to pass the composed pipeline's hard filter.

With `--sf01` it also compares the before and after `dedup_minhash_lsh`
pair sets at sf0.1. The report goes to stdout and, with `--out`, to JSON.
"""
import argparse
import glob
import json
import math
import os
import struct
import time

import duckdb

REWRITTEN = [
    "dedup_minhash_lsh", "dedup_lsh_edit", "dedup_against_minhash",
    "dedup_against_index", "dedup_clusters", "dedup_keep_docs",
    "dedup_keep_best", "emb_dedup_keep", "pipeline_e2e",
]


def connect(sf_dir, documents=None):
    con = duckdb.connect()
    for p in sorted(glob.glob(f"{sf_dir}/*.parquet")):
        t = os.path.basename(p)[:-len(".parquet")]
        if t == "documents" and documents is not None:
            continue
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    if documents is not None:
        con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR, "
                    "lang VARCHAR, source VARCHAR, n_chars BIGINT)")
        con.executemany("INSERT INTO documents VALUES (?, ?, ?, ?, ?)",
                        documents)
    return con


def edge_documents():
    """Edge-case corpus: (doc_id, text, lang, source, n_chars) rows."""
    vocab = ("the of and to in is was for on that with as by at from "
             "river stone market harbor lantern signal orchard meadow "
             "copper engine ledger canvas thunder valley summit garden "
             "archive beacon circuit harvest journey marble").split()

    def long_doc(seed, n=80):
        # Deterministic LCG word draw; stopwords recur so the composed
        # pipeline's hard filter keeps the document.
        x, words = seed, []
        for _ in range(n):
            x = (x * 1103515245 + 12345) % 2147483648
            words.append(vocab[(x >> 16) % len(vocab)])
        return " ".join(words)

    base = [long_doc(s) for s in range(1, 11)]
    texts = [
        None, None,                      # null text (a null-null pair)
        "", "",                          # empty text
        "word", "word", "other",         # one-token documents
        "a b c a b c a b c a b c",       # repeated shingles
        "a b c a b c a b c",
        "x  y z  x y", "x  y z  x y",    # runs of spaces ('' tokens)
        " leading and trailing ",
        "a b", "a b c",                  # shorter than one shingle / exactly one
    ]
    texts += base + base[:2]             # exact duplicates of long docs
    # Near duplicates: one or two words changed, J well inside [0.5, 1).
    for k, b in enumerate(base):
        w = b.split(" ")
        w[10 + k] = "zzz"
        texts.append(" ".join(w))
        w[40] = "qqq"
        texts.append(" ".join(w))
    texts.append(long_doc(2).replace(" ", "  ", 5))  # extra spaces, long
    rows = []
    for i, t in enumerate(texts):
        doc_id = 1000 + i  # mixes odd and even ids for the cross-pair oracle
        rows.append((doc_id, t, "en", f"src{i % 3}",
                     None if t is None else len(t)))
    return rows


def norm(v):
    if isinstance(v, float):
        return ("nan",) if math.isnan(v) else ("f", struct.pack("<d", v))
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    return v


def run(con, sql):
    t0 = time.time()
    rel = con.sql(sql)
    cols, types = list(rel.columns), [str(t) for t in rel.types]
    rows = rel.fetchall()
    return cols, types, rows, time.time() - t0


def compare(con, before, after, name):
    ob = run(con, before[name])
    nb = run(con, after[name])
    same_rows = [tuple(map(norm, r)) for r in ob[2]] == \
        [tuple(map(norm, r)) for r in nb[2]]
    res = {
        "identical": ob[0] == nb[0] and ob[1] == nb[1] and same_rows,
        "columns_equal": ob[0] == nb[0], "types_equal": ob[1] == nb[1],
        "rows_equal_in_order": same_rows,
        "rows": len(nb[2]), "columns": nb[0], "types": nb[1],
        "before_s": round(ob[3], 3), "after_s": round(nb[3], 3),
    }
    print(f"  {name:24s} identical={res['identical']} rows={res['rows']} "
          f"before={res['before_s']}s after={res['after_s']}s", flush=True)
    return res


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("before_json")
    ap.add_argument("after_json")
    ap.add_argument("sf_dir")
    ap.add_argument("--sf01", default="")
    ap.add_argument("--out", default="")
    a = ap.parse_args()
    before = json.load(open(a.before_json))
    after = json.load(open(a.after_json))
    report = {"duckdb": duckdb.__version__, "queries": REWRITTEN}
    for label, docs in (("edge", edge_documents()), ("sf0.01", None)):
        print(f"[{label}]", flush=True)
        con = connect(a.sf_dir, docs)
        report[label] = {q: compare(con, before, after, q) for q in REWRITTEN}
        con.close()
    if a.sf01:
        print("[sf0.1] dedup_minhash_lsh pair sets", flush=True)
        con = connect(a.sf01)
        q = "dedup_minhash_lsh"
        ob, nb = run(con, before[q]), run(con, after[q])
        pb = {r[:2] for r in ob[2]}
        pa = {r[:2] for r in nb[2]}
        report["sf0.1"] = {q: {
            "pair_sets_equal": pb == pa, "pairs": len(pa),
            "before_only": sorted(pb - pa)[:20],
            "after_only": sorted(pa - pb)[:20],
            "before_s": round(ob[3], 3), "after_s": round(nb[3], 3)}}
        print(f"  {q} pair_sets_equal={pb == pa} pairs={len(pa)} "
              f"before={ob[3]:.1f}s after={nb[3]:.1f}s", flush=True)
    ok = all(r["identical"] for lab in ("edge", "sf0.01")
             for r in report[lab].values())
    if a.sf01:
        ok = ok and report["sf0.1"]["dedup_minhash_lsh"]["pair_sets_equal"]
    report["all_identical"] = ok
    print("ALL IDENTICAL" if ok else "DIFFERENCES FOUND", flush=True)
    if a.out:
        with open(a.out, "w") as f:
            json.dump(report, f, indent=1)
            f.write("\n")
    raise SystemExit(0 if ok else 1)


if __name__ == "__main__":
    main()
