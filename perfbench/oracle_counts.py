#!/usr/bin/env python3
"""Expected row counts for the gate workloads, computed by DuckDB.

Usage:
    java -cp <program classes>:<spark jars>/* graft.tools.DumpOracle <dir>
    python3 perfbench/oracle_counts.py <dir>/oracle_sql.json <sf0.1 dir> > perfbench/expected_counts.json

For every gate named in perfbench/workloads.json, run its
`SparkEntry.oracleSql` text in DuckDB over the sf0.1 parquet tables and
record the row count, with the SQL's digest so a later change to a gate's
oracle shows up as a mismatch instead of a silently stale count. The counts
never come from the engine under test.
"""
import hashlib
import json
import os
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main(oracle_path, sf_dir):
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, "workloads.json")) as f:
        workloads = json.load(f)
    with open(oracle_path) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    gates = sorted({g for w in workloads.values() for g in w.get("gates", [])})
    counts = {}
    for g in gates:
        sql = oracle[g]
        n = con.execute(f"SELECT count(*) FROM ({sql}) AS q").fetchone()[0]
        counts[g] = {"rows": int(n),
                     "sql_sha256": hashlib.sha256(sql.encode("utf-8")).hexdigest()}
    out = {
        "command": ("python3 perfbench/oracle_counts.py <dir>/oracle_sql.json <sf0.1 dir>, "
                    "after java graft.tools.DumpOracle <dir>"),
        "duckdb": duckdb.__version__,
        "scale": os.path.basename(os.path.normpath(sf_dir)),
        "counts": counts,
    }
    json.dump(out, sys.stdout, indent=1, sort_keys=True)
    sys.stdout.write("\n")


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    main(sys.argv[1], sys.argv[2])
