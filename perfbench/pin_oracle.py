#!/usr/bin/env python3
"""Pins the expected results of the operator_mix queries from the DuckDB
oracle: runs each query's oracle SQL (SparkEntry.oracleSql) over
perfbench/data/sf0.01 and writes its row count and result hash to
perfbench/mix_pinned.json.

    python3 perfbench/pin_oracle.py

Run it from the root of the repository after the oracle SQL or the data
changes; it builds the harness like run.py does.
"""
import json
import os
import subprocess
import sys

import duckdb

from oracle_hash import result_hash
from run import MIX_DATA, MIX_PINNED, build, java

TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings")


def main():
    classpath, jvm_opts = build()
    sql = json.loads(subprocess.run(
        [java(), *jvm_opts, "-cp", classpath, "graftbench.OracleSql"],
        check=True, capture_output=True, text=True).stdout.strip().splitlines()[-1])
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{MIX_DATA}/{t}.parquet')")
    pinned = {}
    for q, text in sorted(sql.items()):
        rows, md5 = result_hash(con.execute(text).fetchdf())
        pinned[q] = {"rows": rows, "md5": md5}
        print(f"{q}: {rows} rows {md5}")
    with open(MIX_PINNED, "w") as fh:
        json.dump({"scale": "sf0.01", "duckdb": duckdb.__version__, "queries": pinned},
                  fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    sys.exit(main())
