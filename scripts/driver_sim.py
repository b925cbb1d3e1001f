#!/usr/bin/env python
"""Simulate the external driver's CORRECTNESS pass before it runs.

Replays the first N registered queries on a VANILLA SparkSession — none
of lakeflow's session defaults, exactly like the driver — and compares each
against its DuckDB oracle at sf0.01 with the driver's order-insensitive
stringified-row semantics.

Usage: python scripts/driver_sim.py [N]   (default 60, from the repo root)
"""
from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
from pyspark.sql import SparkSession

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def main() -> int:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 60
    sf_dir = os.environ.get("LAKEFLOW_SIM_SF_DIR", "/root/testdata/sf0.01")
    spark = (
        SparkSession.builder.master("local[8]").appName("driver-sim").getOrCreate()
    )
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    import __spark_entry__ as e

    qs, osql = e.queries(), e.oracle_sql()
    bad = []
    for i, name in enumerate(list(qs)[:n]):
        try:
            sr = sorted(
                tuple(str(x) for x in r)
                for r in qs[name](spark, sf_dir).collect()
            )
            dr = sorted(
                tuple(str(x) for x in r)
                for r in con.execute(osql[name]).fetchall()
            )
            ok = sr == dr
            status = "MATCH" if ok else f"MISMATCH {len(sr)} vs {len(dr)}"
            if not ok:
                bad.append(name)
            print(f"{i:3d} {name}: {status}", flush=True)
        except Exception as exc:  # a sim must report, not crash
            bad.append(name)
            print(f"{i:3d} {name}: ERROR {exc!r}"[:300], flush=True)
    print("FAILED:", bad)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
