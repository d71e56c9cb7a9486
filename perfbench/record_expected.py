#!/usr/bin/env python3
"""Record perfbench/expected.json: the output fingerprint of every query a
workload can run, on each dataset the benchmark uses.

Usage (from the root of a checkout, needs duckdb):

    python3 perfbench/record_expected.py [query ...]

For each dataset (the sf0.001 and sf0.01 fixtures, and the etl_scale x4
multi-file copy) it dumps every query's result with graft.Verify and checks
the dump against DuckDB with tools/check.py.  It then runs the harness's
first pass over the same queries and keeps the fingerprint
(bit_xor and low-32-bit sum of xxhash64(row), count) of each query that passed, or that has no
oracle SQL (marked "oracle": "none"; its fingerprint only pins the output
to what this commit computes).  Naming queries re-records only those and
keeps the other entries.  etl_scale is staged with two seeds and the
fingerprints must agree, since the seed may change only the file layout.
"""
import json
import os
import shutil
import subprocess
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]
SEEDS = (1, 2)


def all_queries():
    ws = run.load_json("workloads.json")["workloads"]
    qs = set()
    for spec in ws.values():
        qs.update(spec["queries"])
    return ws, sorted(qs)


def single_file_mirror(data, mirror):
    """tools/check.py reads <dir>/<table>.parquet as one file; give it a
    single-file copy of each multi-file table (the same rows)."""
    os.makedirs(mirror, exist_ok=True)
    con = duckdb.connect()
    for t in TABLES:
        src = os.path.join(data, f"{t}.parquet")
        if not os.path.exists(src):
            continue
        pattern = os.path.join(src, "*.parquet") if os.path.isdir(src) else src
        con.execute(f"COPY (SELECT * FROM read_parquet('{pattern}')) "
                    f"TO '{os.path.join(mirror, t + '.parquet')}' (FORMAT PARQUET)")
    return mirror


def oracle_check(work, data, queries):
    out = os.path.join(work, "verify")
    run.jvm(work, "graft.Verify", [data, out] + queries, timeout=3600)
    errors = json.load(open(os.path.join(out, "errors.json")))
    oracle = json.load(open(os.path.join(out, "oracle_sql.json")))
    check_dir = data
    if any(os.path.isdir(os.path.join(data, f"{t}.parquet")) for t in TABLES):
        check_dir = single_file_mirror(data, os.path.join(work, "mirror"))
    res = subprocess.run(
        [sys.executable, os.path.join(run.ROOT, "tools", "check.py"), check_dir, out]
        + [q for q in queries if q in oracle],
        capture_output=True, text=True, check=False)
    passed = {line.split()[1].rstrip(":") for line in res.stdout.splitlines()
              if line.startswith("PASS")}
    status = {}
    for q in queries:
        if q in errors:
            status[q] = "error"
        elif q not in oracle:
            status[q] = "none"
        else:
            status[q] = "pass" if q in passed else "fail"
    return status


def fingerprints(name, p, seed, work):
    rec = run.run_jvm(f"record-{name}", seed, 0, False, p, min_steady=0, timeout=3600)
    return {r["query"]: (r["hash"], r["rows"]) for r in rec["runs"] if r["ok"]}


def main():
    ws, queries = all_queries()
    only = set(sys.argv[1:])
    valid = {"sf0.001": set(queries), "sf0.01": set(queries),
             "etl_scale": set(ws["etl_scale"]["queries"])}
    expected = run.load_json("expected.json") if only else {}
    if only:
        queries = [q for q in queries if q in only]
    base = os.path.join(run.OUT, "record")
    shutil.rmtree(base, ignore_errors=True)
    for dataset in ("sf0.001", "sf0.01", "etl_scale"):
        if dataset == "etl_scale":
            qs = [q for q in ws["etl_scale"]["queries"] if not only or q in only]
            if not qs:
                continue
            prints = []
            for seed in SEEDS:
                work = os.path.join(base, f"{dataset}-{seed}")
                p = dict(run.plan("etl_scale"), queries=qs)
                args = run.harness_args(p, seed, 0, False, work, 0) + ["--stage-only", "1"]
                run.jvm(work, "perfbench.Harness", args, timeout=600)
                status = oracle_check(work, os.path.join(work, "inputs"), qs)
                prints.append(fingerprints(dataset, p, seed, work))
            fp = {q: v for q, v in prints[0].items() if prints[1].get(q) == v}
            for q in set(prints[0]) - set(fp):
                print(f"{dataset} {q}: fingerprint differs between seeds", file=sys.stderr)
        else:
            qs = queries
            if not qs:
                continue
            work = os.path.join(base, dataset)
            status = oracle_check(work, os.path.join(run.HERE, "fixtures", dataset), qs)
            p = {"queries": qs, "warm": run.WARM, "target": dataset, "replicate": None}
            fp = fingerprints(dataset, p, 1, work)
        rows = {}
        for q in qs:
            if status.get(q) in ("pass", "none") and q in fp:
                rows[q] = {"hash": fp[q][0], "rows": fp[q][1], "oracle": status[q]}
            else:
                print(f"{dataset} {q}: not recorded (oracle {status.get(q)}, "
                      f"fingerprint {'ok' if q in fp else 'missing'})", file=sys.stderr)
        expected.setdefault(dataset, {}).update(rows)
        expected[dataset] = {q: v for q, v in expected[dataset].items() if q in valid[dataset]}
        print(f"{dataset}: {len(rows)}/{len(qs)} recorded", file=sys.stderr)
    with open(os.path.join(run.HERE, "expected.json"), "w") as f:
        json.dump(expected, f, indent=0, sort_keys=True)
        f.write("\n")
    shutil.rmtree(base, ignore_errors=True)


if __name__ == "__main__":
    main()
