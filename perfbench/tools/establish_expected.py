#!/usr/bin/env python3
"""Establish the expected result of every benchmark query, once.

    python3 perfbench/tools/establish_expected.py [work_dir]

Runs the harness in dump mode for the catalog and stream workloads: each
query's result is written as parquet together with its (rows, fingerprint)
and the DuckDB oracle SQL the catalog carries (SparkEntry.oracleSql). Each
result is then compared with DuckDB's answer over the same parquet tables
(sorted, exact, as the repository's oracle gate compares). Only queries
whose Spark result equals the oracle's are written to
perfbench/expected/sf0.01.json; the script fails if any query mismatches or
has no oracle. work_dir defaults to perfbench/.runs/expected and is removed.
"""
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import run  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = pd.to_datetime(df[c]).dt.tz_localize(None) \
                if getattr(df[c].dt, "tz", None) else pd.to_datetime(df[c])
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def compare(con, sql, spark_df):
    duck = con.execute(sql).fetchdf()
    a, b = norm(spark_df), norm(duck)
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} vs {list(b.columns)}"
    if len(a) != len(b):
        return f"rows {len(a)} vs {len(b)}"
    kinds = [c for c in a.columns if a[c].dtype.kind != b[c].dtype.kind]
    if kinds:
        return f"dtype kinds differ in {kinds}"
    try:
        pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=True)
    except AssertionError as e:
        return "values differ: " + str(e).splitlines()[0]
    return None


def main():
    work = sys.argv[1] if len(sys.argv) > 1 else os.path.join(run.HERE, ".runs", "expected")
    cp = run.classpath()
    shutil.rmtree(work, ignore_errors=True)
    manifest = {f: hashlib.sha256(open(os.path.join(run.DATA, f), "rb").read()).hexdigest()
                for f in sorted(os.listdir(run.DATA))}
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{run.DATA}/{t}.parquet'")
    expected, problems = {}, []
    try:
        for workload in ("catalog_mix", "stream_microbatch"):
            dump = os.path.join(work, workload)
            cmd, env = run.harness(cp, work, [
                "--workload", workload, "--seed", "0", "--seconds", "0", "--trace", "0",
                "--out", os.path.join(work, f"{workload}.json"), "--dump", dump])
            subprocess.run(cmd, cwd=work, env=env, check=True, stdout=subprocess.DEVNULL)
            fps = json.load(open(os.path.join(work, f"{workload}.json")))["queries"]
            oracle = json.load(open(os.path.join(dump, "oracle_sql.json")))
            for name, fp in sorted(fps.items()):
                if name not in oracle:
                    problems.append(f"{name}: no oracle SQL")
                    continue
                files = sorted(glob.glob(os.path.join(dump, name, "*.parquet")))
                spark_df = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
                why = compare(con, oracle[name], spark_df)
                if why:
                    problems.append(f"{name}: {why}")
                else:
                    expected[name] = dict(fp, oracle="duckdb")
                    print(f"OK {name} rows={fp['rows']}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for p in problems:
        print(f"MISMATCH {p}", file=sys.stderr)
    if problems:
        sys.exit(1)
    with open(run.EXPECTED, "w") as fh:
        json.dump({"dataset": "sf0.01 test tables (seed 42)",
                   "dataset_sha256": manifest, "queries": expected}, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main()
