#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: run graft.Verify at a
scale factor, then compare each query's parquet output against its DuckDB
oracle (columns sorted by name, rows sorted, exact value equality)."""
import glob
import json
import math
import os
import subprocess
import sys

import duckdb

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
OUT = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify-out"
ONLY = set(sys.argv[3].split(",")) if len(sys.argv) > 3 else None
SKIP_RUN = os.environ.get("SKIP_RUN") == "1"

if not SKIP_RUN:
    r = subprocess.run(
        ["sbt", f'runMain graft.Verify {SF_DIR} {OUT}'
                + (f' {sys.argv[3]}' if ONLY else '')],
        capture_output=True, text=True, cwd="/root/repo")
    tail = "\n".join((r.stdout + r.stderr).splitlines()[-15:])
    if r.returncode != 0:
        print(tail)
        sys.exit(1)
    for line in (r.stdout + r.stderr).splitlines():
        if "[verify]" in line:
            print(line.strip())

con = duckdb.connect()
for t in ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]:
    con.execute(
        f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")

oracles = json.load(open(f"{OUT}/oracle_sql.json"))
results = {}
for name in sorted(os.listdir(OUT)):
    path = os.path.join(OUT, name)
    if not os.path.isdir(path):
        continue
    if ONLY and name not in ONLY:
        continue
    files = glob.glob(f"{path}/*.parquet")
    if not files:
        results[name] = "NO_OUTPUT"
        continue
    got = con.execute(f"SELECT * FROM read_parquet('{path}/*.parquet')").fetchdf()
    got = got[sorted(got.columns)]
    if name not in oracles:
        results[name] = f"rows_only({len(got)})" if len(got) else "ROWS_ONLY_EMPTY"
        continue
    try:
        exp = con.execute(oracles[name]).fetchdf()
    except Exception as e:
        results[name] = f"ORACLE_SQL_ERROR: {e}"
        continue
    exp = exp[sorted(exp.columns)]
    if list(got.columns) != list(exp.columns):
        results[name] = f"SCHEMA: got={list(got.columns)} exp={list(exp.columns)}"
        continue
    if len(got) != len(exp):
        results[name] = f"ROWS: got={len(got)} exp={len(exp)}"
        continue
    # The driver hashes VALUES, so a dtype mismatch (e.g. DuckDB HUGEINT
    # fetched as float64/object vs Spark's int64) fails its hash even
    # when Python == passes (3.0 == 3). Catch it here.
    dt_bad = [(c, str(got[c].dtype), str(exp[c].dtype))
              for c in got.columns if got[c].dtype != exp[c].dtype]
    if dt_bad:
        results[name] = f"DTYPE: {dt_bad}"
        continue
    gs = got.sort_values(by=list(got.columns)).reset_index(drop=True)
    es = exp.sort_values(by=list(exp.columns)).reset_index(drop=True)
    bad = None
    for c in got.columns:
        gv, ev = gs[c].tolist(), es[c].tolist()
        for i, (g, e) in enumerate(zip(gv, ev)):
            eq = (g == e) or (g is None and e is None)
            if not eq and isinstance(g, float) and isinstance(e, float):
                eq = (math.isnan(g) and math.isnan(e)) or g == e
            if not eq:
                bad = f"VALUE col={c} row={i}: got={g!r} exp={e!r}"
                break
        if bad:
            break
    results[name] = bad or "OK"

n_ok = sum(1 for v in results.values() if v == "OK")
n_ro = sum(1 for v in results.values() if str(v).startswith("rows_only"))
for k, v in results.items():
    mark = "✓" if v == "OK" else ("·" if str(v).startswith("rows_only") else "✗")
    print(f"{mark} {k}: {v}")
print(f"\n{n_ok} oracle-OK, {n_ro} rows-only, "
      f"{len(results) - n_ok - n_ro} failing, {len(results)} total")
