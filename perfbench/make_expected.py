#!/usr/bin/env python3
"""Regenerate perfbench/expected_analytics.json.

Usage (from the root of a checkout): python3 perfbench/make_expected.py

Builds the benchmark, writes the analytics tables (fixed seed) and every
benchmarked query's result through the JVM, then runs each query's DuckDB
oracle (SparkEntry.oracleSql) on the same tables and compares values the way
the repository's oracle gate does: columns sorted by name, rows in result
order, exact equality. A query passes only if its oracle agrees and two runs
of it give the same digest; queries without an oracle are recorded from
Spark alone and marked so. Exits non-zero, writing nothing, on any failure.
"""
import glob
import json
import os
import shutil
import subprocess
import sys

import duckdb
import pyarrow.parquet as pq

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH_DIR)
import build  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main():
    root = os.getcwd()
    build_dir = os.path.join(root, ".bench_build")
    os.makedirs(build_dir, exist_ok=True)
    classpath, _ = build.build(root, build_dir)
    dump = os.path.join(root, ".bench_work", "expected")
    shutil.rmtree(dump, ignore_errors=True)
    os.makedirs(os.path.join(dump, "work", "tmp"))
    cmd = (["java", "-Xss8m", "-Xmx4g"] + build.ADD_OPENS
           + ["-Djava.io.tmpdir=" + os.path.join(dump, "work", "tmp"),
              "-Dlog4j2.configurationFile=" + os.path.join(BENCH_DIR, "log4j2.properties"),
              "-cp", classpath, "perfbench.Main",
              "--dump-analytics", dump, "--bench-dir", BENCH_DIR])
    subprocess.run(cmd, check=True)
    entries = json.load(open(os.path.join(dump, "dump.json")))

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{dump}/data/{t}.parquet/*.parquet')")
    out, bad = {}, []
    for name, e in entries.items():
        if e["digest"] != e["rerun_digest"]:
            bad.append(f"{name}: digest differs between two runs")
            continue
        check = "spark-recorded"
        if e["oracle_sql"]:
            spark_tbl = pq.read_table(glob.glob(f"{dump}/out/{name}/*.parquet"))
            cols = sorted(spark_tbl.column_names)
            spark_rows = [[r[c] for c in cols] for r in spark_tbl.to_pylist()]
            duck = con.execute(e["oracle_sql"]).fetch_arrow_table()
            duck_rows = [[r[c] for c in cols] for r in duck.to_pylist()] \
                if sorted(duck.column_names) == cols else None
            same = duck_rows is not None and len(spark_rows) == len(duck_rows) and all(
                x == y and type(x) is type(y)
                for a, b in zip(spark_rows, duck_rows) for x, y in zip(a, b))
            if not same:
                bad.append(f"{name}: DuckDB oracle disagrees")
                continue
            check = "duckdb-oracle"
        out[name] = {"rows": e["rows"], "digest": e["digest"], "module": e["module"],
                     "check": check}
    if bad:
        sys.exit("make_expected: " + "; ".join(bad))
    with open(os.path.join(BENCH_DIR, "expected_analytics.json"), "w") as fh:
        json.dump(out, fh, indent=1)
        fh.write("\n")
    shutil.rmtree(dump, ignore_errors=True)
    print(f"wrote {len(out)} queries")


if __name__ == "__main__":
    main()
