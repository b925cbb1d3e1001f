"""lakebench: the lakeflow end-to-end benchmark.

Usage (from the repository root):

    python3 lakebench/run.py --workload batch_elt --seed 1 --seconds 3 --trace 0

Workloads: ``batch_elt`` and ``llm_curation`` (closed loops, one client) and
``stream_ingest`` (open loop, one generator thread); see README.md. The run
generates its input tables from ``--seed``, checks every output it times and
prints one JSON object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``). The full record, stamped with the core count, seed and
source revision, goes to ``lakebench/out/`` and nowhere else.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
OUT = os.path.join(HERE, "out")
SPEC = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
SF = 0.01
SMOKE_SF = 0.001


def _log(msg: str) -> None:
    print(f"[lakebench] {msg}", file=sys.stderr, flush=True)


def _revision(root: str) -> dict[str, str | None]:
    """The git HEAD when there is one, and always a hash of the library
    sources (a benchmark checkout need not be a git repository)."""
    head = None
    if os.path.exists(os.path.join(root, ".git")):
        try:
            head = subprocess.run(
                ["git", "-C", root, "rev-parse", "HEAD"],
                capture_output=True, text=True, timeout=10,
            ).stdout.strip() or None
        except (OSError, subprocess.SubprocessError):
            pass
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(os.path.join(root, "lakeflow"))):
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(f.encode() + fh.read())
    return {"head": head, "lakeflow_sha256": h.hexdigest()}


def main(argv=None) -> int:
    with open(SPEC) as fh:
        spec = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument(
        "--workload", required=True, choices=[w["name"] for w in spec["workloads"]]
    )
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help=f"tiny inputs (sf{SMOKE_SF})")
    args = ap.parse_args(argv)
    t_start = time.perf_counter()

    import common

    cpu0 = common.cpu_seconds()
    tree0 = common.own_cpu_s()

    cores = len(os.sched_getaffinity(0))  # what `nproc` reports
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    work = os.path.join(OUT, "work", tag)
    common.prepare_process(work)
    try:
        import lakeflow  # noqa: F401  (fails fast outside a lakeflow checkout)
    except ImportError as exc:
        _log(f"cannot import lakeflow from {common.ROOT}: {exc}")
        shutil.rmtree(work, ignore_errors=True)
        return 2

    from tracing import Tracer, install_lakeflow_wrappers

    import fixtures

    sf = SMOKE_SF if args.smoke else SF
    tracer = Tracer()
    spark = None
    try:
        with common.RssSampler() as rss:
            spark, session_s = common.start_session(cores, work, bool(args.trace))
            common.JIT.pid = common.jvm_pid(spark)
            if args.trace:
                install_lakeflow_wrappers(tracer)
            if args.workload == "stream_ingest":
                from stream import StreamIngest

                wl = StreamIngest(spark, work, args.seed, args.seconds, _log)
                wl.setup()
                setup = (common.own_cpu_s() - tree0, time.perf_counter() - t_start)
                wl.measure(args.seconds)
                wl.drain()
            else:
                from closed_loop import ClosedLoop

                data_dir = fixtures.write(os.path.join(work, "data"), args.seed, sf)
                wl = ClosedLoop(args.workload, spark, data_dir, args.seed, _log)
                tracer.active = False
                wl.setup()
                setup = (common.own_cpu_s() - tree0, time.perf_counter() - t_start)
                wl.measure(args.seconds, tracer if args.trace else None)
        if args.workload == "stream_ingest":
            wl.check()
        metrics = {
            "setup_s": setup[0],
            "wall.setup_s": setup[1],
            "peak_rss_mb": rss.peak_mb,
            **wl.end_to_end(),
        }
        metrics["session.start_s"] = session_s
        metrics["rss.jvm_mb"], metrics["rss.python_mb"] = common.peak_rss_split_mb(spark)
        if args.trace:
            metrics.update({m["name"]: 0.0 for m in spec["per_layer"] if m["name"] not in metrics})
            metrics.update(wl.per_layer(tracer, cores))
    finally:
        tracer.unwrap()
        if spark is not None:
            common.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    declared = spec["per_layer" if args.trace else "end_to_end"]
    result = {
        "correct": wl.failed == 0,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": {
            m["name"]: {"value": float(metrics[m["name"]]), "unit": m["unit"]}
            for m in declared
        },
    }
    record = {
        **result,
        "all_metrics": metrics,
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "sf": sf,
        "nproc": cores,
        "master": f"local[{cores}]",
        "steady": getattr(wl, "steady", True),
        "details": wl.details(),
        "revision": _revision(common.ROOT),
        "cpu_s": {k: v - cpu0[k] for k, v in common.cpu_seconds().items()},
        "finished_at": time.time(),
    }
    os.makedirs(OUT, exist_ok=True)
    name = f"{tag}-{int(time.time())}"
    with open(os.path.join(OUT, f"{name}.json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    if args.trace:
        tracer.dump(os.path.join(OUT, f"{name}.spans.json"))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
