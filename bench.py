#!/usr/bin/env python
"""Per-query sweep of the lakeflow query registry.

Runs at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] (default: every core, ``os.cpu_count()``). Each
query executes to a noop sink (full compute, no driver collect), so a time
reflects the distributed plan, not result transfer.

The headline set runs three times: a cold pass, then two warm passes, each
after a cache clear. A headline query's comparator is ``min``, the lower of
its two warm times. Every other registered query then runs once, in sorted
order. A run writes one JSON record to ``bench_out/``: per-query times,
``failed``, the totals, the classes compiled in each pass
(``codegen_compiles``) and provenance (HEAD, dirty flag, CPU count, master,
sf). Stdout gets one compact line with the totals. The exit status is 1 if
any query failed.

Usage: python bench.py [--queries a,b,...]

``--queries`` replaces the headline set with the named queries and skips the
tail: the way to time a few queries in isolation.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

_ROOT = os.path.dirname(os.path.abspath(__file__))
_OUT_DIR = os.path.join(_ROOT, "bench_out")

BENCH_QUERIES = [
    # relational core
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q10_returned_items",
    "q4_order_priority",
    "q18_large_volume_customers",
    "q7_nation_volume",
    "q9_product_profit",
    "q13_order_count_distribution",
    "q21_waiting_suppliers",
    "q16_supplier_part_counts",
    "fuzzy_name_pairs",
    "candles_15m",
    "latest_event_per_user",
    "event_value_delta",
    "dual_nation_lookup",
    # time-series extensions
    "asof_purchase_view",
    "session_windows_30m",
    # medallion / merge
    "scd2_customer_state",
    "incremental_orders",
    "medallion_gold_dim",
    # north star
    "exact_dedup_docs",
    "dedup_clusters",
    "minhash_lsh_pairs",
    "simhash_signatures",
    "cosine_topk",
    # "ivf_topk" retired r11 (SCALE.md §10; superseded by ivf_kmeans_topk,
    # parity kept in tests/test_retired_queries.py) — headline n 56 -> 55;
    # cross-round totals compare on the shared-55 subset from here.
    "text_quality",
    "winnow_fingerprints",
    "bm25_keyword_topk",
    "winnow_decontamination",
    "embedding_near_dups",
    "ngram_jaccard_pairs",
    # streaming engine end-to-end
    "stream_candles_15m",
    "stream_stream_view_to_purchase",
    "gap_sessions_batch",
    # previously unbenched surface (VERDICT r3 ask #4)
    "pysource_tick_candles",
    "ddl_roundtrip",
    "interpolated_hourly_value",
    "incremental_doc_dedup",
    "minhash_lsh_salted_pairs",
    "lsh_multitable_topk",
    # training-batch prep (new in r4)
    "doc_repetition_signals",
    "pack_sequences",
    "source_mix_report",
    "salted_event_type_stats",
    "zorder_pruned_scan",
    "unigram_logprob_scores",
    "dedup_survivors",
    "cdc_orders_state",
    "top_bigram_phrases",
    # round-6 signature ops (bitext shortlist replaces the exact cross
    # product; the rest are new operators). These four add ~7.8 s at
    # sf0.1, which fully accounts for the r5->r6 headline delta
    # (73.1 s over 52 queries -> ~80.7 s over 56); the shared-52 subset
    # is flat round-over-round.
    "bitext_margin_pairs",
    "span_corruption_pairs",
    "exact_substring_dedup_docs",
    "multimodal_retrieval_topk",
]


def _tail() -> list[str]:
    """Every registered query outside the headline set, in sorted order."""
    from lakeflow.queries import QUERIES

    return sorted(n for n in QUERIES if n not in BENCH_QUERIES)


def _provenance() -> dict:
    """The commit the sweep measures: ``head_sha``, and ``tree_dirty`` if
    tracked files differ from it. Either is None when git cannot tell."""
    import subprocess

    def git(*args: str) -> str | None:
        try:
            p = subprocess.run(
                ["git", *args], cwd=_ROOT, capture_output=True, text=True,
                timeout=10,
            )
        except (OSError, subprocess.SubprocessError):
            return None
        return p.stdout.strip() if p.returncode == 0 else None

    sha = git("rev-parse", "HEAD")
    status = git("status", "--porcelain", "--untracked-files=no")
    return {
        "head_sha": sha or None,
        "tree_dirty": None if status is None else bool(status),
    }


def _read_ticks(spark) -> None:
    """Touch the Python DataSource worker pool. First touch costs ~3 s, and
    idle workers are reaped between passes (measured 0.81 s cold vs 4.08 s
    in a later pass on byte-identical pysource_tick_candles)."""
    try:
        spark.read.format("lakeflow_ticks").option("n", "64").load().count()
    except Exception as exc:
        print(f"  PYSOURCE-WARMUP FAILED: {exc!r}"[:300], file=sys.stderr)


def _warm_up(spark, sf_dir: str) -> None:
    """Pay the one-time costs (codegen, parquet reader, streaming engine,
    Python workers) before the first timed query."""
    from lakeflow.catalog import load_table
    from lakeflow.queries import QUERIES

    spark.range(1000).selectExpr("sum(id)").collect()
    for t in ("lineitem", "events", "documents"):
        try:
            load_table(spark, sf_dir, t).groupBy().count().collect()
        except Exception:
            pass
    try:
        # Micro-batch planner, state store and sink, on the tiny fixture.
        QUERIES["stream_candles_15m"](spark, "/root/testdata/sf0.001").count()
    except Exception as exc:
        # A failed warm-up silently inflates every timed query: make it loud.
        print(f"  STREAM-WARMUP FAILED: {exc!r}"[:300], file=sys.stderr)
    try:
        from lakeflow.sources.pysource import register_tick_source

        register_tick_source(spark)
    except Exception as exc:
        print(f"  PYSOURCE-REGISTER FAILED: {exc!r}"[:300], file=sys.stderr)
    _read_ticks(spark)


def _run_set(
    spark,
    sf_dir: str,
    names: list[str],
    failed: list[str],
    drain_every: int | None = None,
) -> dict[str, float]:
    """Time each query to the noop sink; a failing query is appended to
    ``failed`` and the run goes on.

    No cache clear between individual queries: related queries (the
    minhash/LSH family, the embedding suite) reuse each other's persisted
    intermediates, as they do in a warm system."""
    from lakeflow.queries import QUERIES

    timings: dict[str, float] = {}
    for i, name in enumerate(names):
        t0 = time.perf_counter()
        try:
            QUERIES[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
        except Exception as exc:
            print(f"  {name}: FAILED {exc!r}"[:300], file=sys.stderr)
            if name not in failed:
                failed.append(name)
            continue
        timings[name] = round(time.perf_counter() - t0, 3)
        print(f"  {name}: {timings[name]:.3f}s", file=sys.stderr)
        if drain_every and (i + 1) % drain_every == 0:
            # Periodic cache drain, tail only. Adjacent queries of a family
            # still reuse each other's persisted intermediates, but leaked
            # persists cannot pile up across the whole tail: undrained, the
            # 8g heap crossed a GC-pressure cliff late in the sweep
            # (winsorized_price_stats 11.9 s in-sweep vs 1.4 s isolated).
            spark.catalog.clearCache()
    return timings


def _compiles(spark) -> int:
    """Generated classes Janino has compiled in this JVM so far."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _sweep(spark, sf_dir: str, headline: list[str], tail: list[str]) -> dict:
    """Cold pass, two warm passes over ``headline``, then one pass over
    ``tail``; returns the record's ``queries``, ``failed``, ``totals`` and
    ``codegen_compiles`` (classes compiled in each pass: a warm pass that
    recompiles is timing the codegen cache, not the queries)."""
    failed: list[str] = []
    compiles: dict[str, int] = {}

    def run(label: str, names: list[str], **kw) -> dict[str, float]:
        c0 = _compiles(spark)
        timings = _run_set(spark, sf_dir, names, failed, **kw)
        compiles[label] = _compiles(spark) - c0
        return timings

    cold = run("cold", headline)
    warm = []
    for label in ("warm", "warm_b"):
        # Clear first: two undrained passes stack the persisted
        # intermediates of both and cross the GC-pressure cliff, so each
        # warm pass rebuilds its own caches as the cold pass did and
        # differs from it only by first-touch costs.
        spark.catalog.clearCache()
        _read_ticks(spark)
        print(f"  -- headline {label} pass --", file=sys.stderr)
        warm.append(run(label, headline))
    if tail:
        print(f"  -- tail ({len(tail)} queries) --", file=sys.stderr)
    rest = run("tail", tail, drain_every=25)

    queries: dict[str, dict[str, float]] = {}
    for name in headline:
        q = {
            k: t[name]
            for k, t in zip(("cold", "warm", "warm_b"), (cold, *warm))
            if name in t
        }
        # The two warm passes spike one-sidedly on GC timing (same-code
        # spreads up to x4 on a few queries); their min is the comparator.
        warm_ts = [q[k] for k in ("warm", "warm_b") if k in q]
        if warm_ts:
            q["min"] = min(warm_ts)
        if q:
            queries[name] = q
    queries.update({name: {"cold": t} for name, t in rest.items()})

    def total(ts) -> float:
        return round(sum(ts), 3)

    return {
        "queries": queries,
        "failed": sorted(failed),
        "codegen_compiles": compiles,
        "totals": {
            "cold": total(cold.values()),
            "warm": total(warm[0].values()),
            "warm_b": total(warm[1].values()),
            "min": total(q["min"] for q in queries.values() if "min" in q),
            "full": total([*cold.values(), *rest.values()]),
            "n": len(cold) + len(rest),
            "failed": len(failed),
        },
    }


def _run(
    spark, sf_dir: str, headline: list[str], tail: list[str], out_dir: str
) -> int:
    """Sweep, write the record under ``out_dir`` and print the totals line;
    returns the exit status (1 if any query failed)."""
    m = re.search(r"sf([0-9.]+)", sf_dir)
    record = {
        **_provenance(),
        "cpu_count": os.cpu_count(),
        "master": spark.sparkContext.master,
        "sf": float(m.group(1)) if m else None,
        "sf_dir": sf_dir,
    }
    record.update(_sweep(spark, sf_dir, headline, tail))
    os.makedirs(out_dir, exist_ok=True)
    sha = (record["head_sha"] or "nogit")[:7]
    path = os.path.join(out_dir, f"{time.strftime('%Y%m%dT%H%M%S')}-{sha}.json")
    with open(path, "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
    print(f"  record -> {path}", file=sys.stderr)
    print(json.dumps(record["totals"], separators=(",", ":")))
    return 1 if record["failed"] else 0


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())
    if "--queries" in sys.argv:
        headline = sys.argv[sys.argv.index("--queries") + 1].split(",")
        tail = []
    else:
        headline, tail = BENCH_QUERIES, _tail()

    from lakeflow.scratch import use_process_scratch
    from lakeflow.session import get_session

    # Ephemeral checkpoints and scratch tables land in one pid-keyed root
    # removed at exit (lakeflow/scratch.py).
    use_process_scratch()
    spark = get_session(
        "lakeflow-bench", master=f"local[{cpus}]", shuffle_partitions=cpus
    )
    spark.sparkContext.setLogLevel("ERROR")
    try:
        _warm_up(spark, sf_dir)
        return _run(spark, sf_dir, headline, tail, _OUT_DIR)
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
