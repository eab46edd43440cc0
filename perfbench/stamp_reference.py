#!/usr/bin/env python3
"""Stamps perfbench/reference/ops_breadth_rows.json, the row counts the
ops_breadth workload checks every query against.

    python3 perfbench/stamp_reference.py

Runs each ops_breadth query once at sf0.01 (perfbench.Stamp), checks every
output that has an oracle against DuckDB over the same parquet tables
(columns sorted by name, rows sorted, values compared exactly), and writes
the row counts only when every oracle passes. Where a query's bench spelling
differs from its verify spelling, the oracle checks the verify spelling and
the bench spelling's row count is stamped beside it. Queries without an
oracle are stamped from the same run and marked "no oracle".
"""
import json
import math
import os
import subprocess
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import run  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df):
    cols = sorted(df.columns)
    rows = []
    for r in df[cols].itertuples(index=False, name=None):
        rows.append(tuple(("NaN" if math.isnan(v) else repr(v)) if isinstance(v, float)
                          else str(v) for v in r))
    return sorted(rows)


def main():
    build.build()
    sf = os.path.join(HERE, "data", "sf0.01")
    out = os.path.join(os.path.dirname(build.build_dir()), "perfbench-stamp")
    cmd = ["java"]
    for p in run.ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-Xmx2g", "-Dlog4j.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
            "-Dspark.ui.enabled=false", "-cp", build.classpath(), "perfbench.Stamp", sf, out]
    subprocess.run(cmd, check=True, stdout=sys.stderr)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    with open(os.path.join(out, "oracle_sql.json")) as f:
        oracles = json.load(f)
    names = sorted(os.listdir(os.path.join(out, "bench")))
    rows, oracle, bad = {}, {}, []
    for name in names:
        def read(kind):
            return con.execute(f"SELECT * FROM '{out}/{kind}/{name}/*.parquet'").fetchdf()
        bench_df = read("bench")
        rows[name] = len(bench_df)
        split = os.path.isdir(os.path.join(out, "verify", name))
        checked = read("verify") if split else bench_df
        if name not in oracles:
            oracle[name] = "no oracle"
        else:
            duck_df = con.execute(oracles[name]).fetchdf()
            ok = (sorted(checked.columns) == sorted(duck_df.columns)
                  and canon(checked) == canon(duck_df))
            oracle[name] = "pass" if ok else "FAIL"
            if not ok:
                bad.append(name)
        if split:
            oracle[name] += f" (verify spelling, {len(checked)} rows)"
        print(f"{oracle[name]:9s} {name} ({rows[name]} rows)")
    if bad:
        sys.exit(f"oracle mismatch, reference not written: {bad}")
    ref = {"scale": "sf0.01", "action": "noop", "rows": rows, "oracle": oracle}
    path = os.path.join(HERE, "reference", "ops_breadth_rows.json")
    with open(path, "w") as f:
        json.dump(ref, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {path}: {len(rows)} queries, "
          f"{sum(v.startswith('pass') for v in oracle.values())} oracle-checked")


if __name__ == "__main__":
    main()
