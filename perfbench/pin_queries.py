#!/usr/bin/env python3
"""Recompute `query_pins.json`: the row count and order-insensitive hash
of each benchmarked query's DuckDB oracle result on the benchmark's data.

Usage: python3 perfbench/pin_queries.py

Run it after changing the query list or the data; the benchmark compares
the Spark output of every listed query against these pins each run.
"""
import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import build  # noqa: E402
import qcheck  # noqa: E402
import run  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]


def main():
    import duckdb
    classes = build.ensure_built()
    queries = run.WORKLOADS["operator_queries"]["queries"]
    data = os.path.join(build.BENCH, "data", "sf0.01")
    out = os.path.join(build.BUILD, "verify")
    jars = os.path.join(build.spark_jars(), "*")
    # graft.Verify runs the named queries and writes their oracle SQL to
    # oracle_sql.json; the names are full, so each filter matches one query
    subprocess.run(["java", "-Xmx2g", "-XX:-UsePerfData"]
                   + [f"--add-opens={m}=ALL-UNNAMED" for m in run.ADD_OPENS]
                   + ["-cp", f"{classes}{os.pathsep}{jars}", "graft.Verify", data, out,
                      ",".join(queries)], check=True, cwd=build.BUILD)
    with open(os.path.join(out, "oracle_sql.json")) as f:
        oracles = json.load(f)
    missing = [q for q in queries if q not in oracles]
    if missing:
        sys.exit(f"no oracle SQL for {', '.join(missing)}")
    con = duckdb.connect()
    qcheck.tables(con, data, TABLES)
    pins = {}
    for q in queries:
        rows, h = qcheck.fingerprint(con.sql(oracles[q]))
        pins[q] = {"rows": rows, "hash": h}
        print(f"{q}: {rows} rows {h[:12]}")
    with open(os.path.join(build.BENCH, "query_pins.json"), "w") as f:
        json.dump(pins, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
