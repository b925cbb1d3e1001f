#!/usr/bin/env python
"""Dump .explain('formatted') for named queries to plans/<tag>/<q>_<suffix>.txt.

Usage: python scripts/plan_dump.py <tag> <suffix> q1,q2,... [sf_dir]

The optimization-round evidence trail (OPTIMIZATION_r13.md): before/after
plan text for every query touched, captured under the same session confs the
bench runs with (local[$SPARK_GRAFT_CPUS], shuffle_partitions=cpus) so plan
claims are reproducible against the committed files.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    tag, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3].split(",")
    sf_dir = sys.argv[4] if len(sys.argv) > 4 else "/root/testdata/sf0.1"
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count())

    from lakeflow.queries import QUERIES
    from lakeflow.scratch import use_process_scratch
    from lakeflow.session import get_session

    use_process_scratch()
    spark = get_session(
        "lakeflow-plan-dump",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
    )
    spark.sparkContext.setLogLevel("ERROR")
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    outdir = os.path.join(root, "plans", tag)
    os.makedirs(outdir, exist_ok=True)
    for name in names:
        df = QUERIES[name](spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(f"-- {name} @ {sf_dir} ({suffix})\n")
            f.write(buf.getvalue())
        print(f"  {path}: {len(buf.getvalue().splitlines())} lines")
    spark.stop()


if __name__ == "__main__":
    main()
