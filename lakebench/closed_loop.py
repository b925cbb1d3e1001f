"""The two closed-loop workloads: one client runs registered queries, each
to Spark's noop sink, one after another.

A run is:

1. an untimed verification pass that compares every op's rows with its
   registered DuckDB oracle (it doubles as the JIT warm-up and counts in
   ``setup_s``);
2. timed passes until ``--seconds`` have elapsed and at least
   ``MIN_PASSES`` passes are done (the pass in flight finishes). The seed
   shuffles the op order of every pass; the Spark cache is cleared before
   each pass.

The JIT is still warming during the timed passes, so each op's latency is
its best over them (the repository's min-of-passes warm comparator) and a
pass's time is the sum of those; each op's CPU is its mean over its first
``MIN_PASSES`` runs.

A traced run makes twice as many passes, and its ops alternate between
traced and untraced from pass to pass, so each op is measured both ways and
the difference is the tracing overhead. The wall and CPU figures and the
``operators.*`` sums come from the untraced runs only.
"""

from __future__ import annotations

import random
import time

from common import SparkHistory, cpu_split, median, quantile

# op -> the operator family whose layer it exercises (by the
# lakeflow.operators module its callable builds on).
WORKLOADS: dict[str, dict[str, str]] = {
    "batch_elt": {
        "q3_shipping_priority": "relational",
        "candles_15m": "timeseries",
        "scd2_customer_state": "merge",
        "medallion_gold_dim": "merge",
    },
    "llm_curation": {
        "fuzzy_name_pairs": "linkage",
        "minhash_lsh_pairs": "dedup",
        "multimodal_retrieval_topk": "similarity",
        "text_quality": "text",
    },
}
# Timed passes a run makes at least, however short ``--seconds``. The JIT
# compiler is still busy after the verification pass and its CPU falls from
# pass to pass; over ten seeds the mean CPU of three passes spread by 0.10-0.14
# of its median, against 0.17-0.25 for the best of three.
MIN_PASSES = 3
FAMILIES = (
    "relational",
    "timeseries",
    "merge",
    "dedup",
    "similarity",
    "text",
    "linkage",
)


def verify(spark, data_dir: str, ops, log) -> dict[str, bool]:
    """Compare each op's rows with its DuckDB oracle; returns op -> match."""
    import duckdb

    from lakeflow.catalog import TABLES, table_path
    from lakeflow.queries import ORACLES, QUERIES
    from tests.test_oracle_parity import _norm_rows

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(data_dir, t)}')"
        )
    matched: dict[str, bool] = {}
    for name in ops:
        try:
            df = QUERIES[name](spark, data_dir)
            got = _norm_rows(df.columns, [tuple(r) for r in df.collect()])
            res = con.execute(ORACLES[name])
            want = _norm_rows([d[0] for d in res.description], res.fetchall())
            ok = got == want
        except Exception as exc:  # an op that raises counts as failed
            log(f"verify {name}: {exc!r}")
            ok = False
        if not ok:
            log(f"verify {name}: output differs from the oracle")
        matched[name] = ok
    con.close()
    return matched


def _run_op(spark, fn, data_dir: str, tracer, name: str) -> float:
    """Run one op to the noop sink; returns its latency in seconds."""
    t0 = time.perf_counter()
    if tracer is None:
        fn(spark, data_dir).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0
    with tracer.span("op", op=name) as op:
        tracer.root = op.id
        try:
            with tracer.span("queries.build"):
                df = fn(spark, data_dir)
            with tracer.span("spark.execute") as write:
                write.attrs["wall_start"] = time.time()
                df.write.format("noop").mode("overwrite").save()
        finally:
            tracer.root = None
    return time.perf_counter() - t0


def _plan_s(write, job_times: list[float]) -> float:
    """The write's planning: from the write call to its first Spark job.

    Spark analyses, optimizes and plans the write's command (and renders
    its plan for the UI) before it submits a job, so this is the planning
    of the query that actually runs; nothing is planned twice. Job
    submission times have millisecond resolution. A write that submits no
    job is all planning."""
    t0 = write.attrs["wall_start"]
    first = [t for t in job_times if t0 <= t < t0 + write.dur]
    return min(write.dur, max(0.0, min(first) - t0)) if first else write.dur


def _phases(spans, plan_s: float) -> dict[str, float]:
    """Seconds per span name over one op's spans, with the write's planning
    taken out of ``spark.execute``, plus the pipeline runner's task and
    retry counts."""
    out: dict[str, float] = {"spark.plan": plan_s}
    for s in spans:
        out[s.name] = out.get(s.name, 0.0) + s.dur
        for k in ("tasks", "retries"):
            if k in s.attrs:
                out[f"{s.name}.{k}"] = out.get(f"{s.name}.{k}", 0.0) + s.attrs[k]
    out["spark.execute"] = out.get("spark.execute", 0.0) - plan_s
    return out


def _per_op_sum(samples, key) -> float:
    """Sum over ops of each op's mean ``key(sample)``: the cost of one pass."""
    by_op: dict[str, list[float]] = {}
    for s in samples:
        by_op.setdefault(s["op"], []).append(key(s))
    return sum(sum(v) / len(v) for v in by_op.values())


class ClosedLoop:
    def __init__(self, workload: str, spark, data_dir: str, seed: int, log) -> None:
        self.ops = WORKLOADS[workload]
        self.spark = spark
        self.data_dir = data_dir
        self.seed = seed
        self.log = log
        self.attempted = 0
        self.failed = 0
        self.samples: list[dict] = []
        self.pass_s: list[float] = []

    def order(self, p: int) -> list[str]:
        names = sorted(self.ops)
        random.Random(self.seed * 1009 + p).shuffle(names)
        return names

    def setup(self) -> None:
        matched = verify(self.spark, self.data_dir, self.order(-1), self.log)
        self.attempted += len(matched)
        self.failed += sum(not ok for ok in matched.values())

    def measure(self, seconds: float, tracer=None) -> None:
        """Timed passes until ``seconds`` have elapsed; a traced run makes at
        least two, so that every op runs both traced and untraced."""
        from lakeflow.queries import QUERIES

        index = {name: i for i, name in enumerate(sorted(self.ops))}
        min_passes = MIN_PASSES if tracer is None else 2 * MIN_PASSES
        t_end = time.perf_counter() + seconds
        p = 0
        while p < min_passes or time.perf_counter() < t_end:
            self.spark.catalog.clearCache()
            t_pass = time.perf_counter()
            for name in self.order(p):
                traced = tracer is not None and (p + index[name]) % 2 == 0
                if tracer is not None:
                    tracer.active = traced
                first = len(tracer.spans) if traced else 0
                w0, t0, (c0, j0) = time.time(), time.perf_counter(), cpu_split()
                try:
                    latency = _run_op(
                        self.spark, QUERIES[name], self.data_dir,
                        tracer if traced else None, name,
                    )
                    ok = True
                except Exception as exc:
                    self.log(f"op {name}: {exc!r}")
                    latency = time.perf_counter() - t0
                    ok = False
                w1, (c1, j1) = time.time(), cpu_split()
                self.attempted += 1
                self.failed += not ok
                self.samples.append(
                    {
                        "op": name,
                        "pass": p,
                        "traced": traced,
                        "latency_s": latency,
                        "cpu_s": c1 - c0,
                        "jit_s": j1 - j0,
                        "wall": (w0, w1),
                        "spans": (first, len(tracer.spans)) if traced else None,
                    }
                )
            self.pass_s.append(time.perf_counter() - t_pass)
            p += 1

    def details(self) -> dict:
        return {
            "ops": [
                {k: s[k] for k in ("op", "pass", "traced", "latency_s", "cpu_s", "jit_s")}
                for s in self.samples
            ],
            "pass_s": self.pass_s,
        }

    def end_to_end(self) -> dict[str, float]:
        """Wall and CPU figures from the untraced op runs only (in a traced
        run, half of them)."""
        # A fixed count of untraced runs per op, whatever the host's speed.
        # (A traced run alternates, so its first 2 * MIN_PASSES passes hold
        # MIN_PASSES untraced runs of each op.)
        cpu_passes = MIN_PASSES * (2 if any(s["traced"] for s in self.samples) else 1)
        best: dict[str, float] = {}
        cpu: dict[str, list[float]] = {}
        for s in self.samples:
            if s["traced"]:
                continue
            best[s["op"]] = min(best.get(s["op"], s["latency_s"]), s["latency_s"])
            if s["pass"] < cpu_passes:
                cpu.setdefault(s["op"], []).append(s["cpu_s"])
        named = {
            "op_p50_s": median(best.values()),
            "op_p90_s": quantile(best.values(), 0.9),
            # one pass: each op at its best
            "pass_s": sum(best.values()),
            "op_samples": len(self.samples),
            "passes": len(self.pass_s),
        }
        return {
            # Each op's mean CPU over its first MIN_PASSES untraced runs.
            "cpu_s": sum(sum(v) / len(v) for v in cpu.values()),
            "wall.latency_p50_s": named["op_p50_s"],
            "wall.latency_p90_s": named["op_p90_s"],
            "wall.result_s": named["pass_s"],
            **named,
        }

    def per_layer(self, tracer, cores: int) -> dict[str, float]:
        """Layer costs of one pass: each op's mean over its runs, summed."""
        traced = [s for s in self.samples if s["traced"]]
        hist = SparkHistory(self.spark)
        for s in self.samples:
            s["spark"] = hist.window(*s["wall"])
        job_times = sorted(t for t, _ in hist.jobs if t is not None)
        for s in traced:
            spans = tracer.spans[slice(*s["spans"])]
            write = next((sp for sp in spans if sp.name == "spark.execute"), None)
            plan = 0.0
            if write is not None:  # None when the op failed while building
                plan = _plan_s(write, job_times)
                tracer.record("spark.plan", write.start, write.start + plan, write.id)
            s["phases"] = _phases(spans, plan)
        out = {
            "queries.build_s": "queries.build",
            "spark.plan_s": "spark.plan",
            "spark.execute_s": "spark.execute",
            "plans.pipeline_run_s": "plans.pipeline_run",
            "plans.pipeline_tasks": "plans.pipeline_run.tasks",
            "plans.pipeline_retries": "plans.pipeline_run.retries",
        }
        out = {
            k: _per_op_sum(traced, lambda s, ph=ph: s["phases"].get(ph, 0.0))
            for k, ph in out.items()
        }
        for k in ("jobs", "stages", "tasks", "shuffle_write_bytes", "spill_bytes", "gc_s"):
            out[f"spark.{k}"] = _per_op_sum(self.samples, lambda s, k=k: s["spark"][k])
        out["jvm.jit_cpu_s"] = _per_op_sum(self.samples, lambda s: s["jit_s"])
        op_s = sum(s["latency_s"] for s in self.samples)
        busy = sum(s["spark"]["task_run_s"] for s in self.samples)
        out["spark.task_busy_frac"] = busy / max(1e-9, op_s * cores)
        untraced = [s for s in self.samples if not s["traced"]]
        for fam in FAMILIES:
            out[f"operators.{fam}_s"] = _per_op_sum(
                untraced,
                lambda s, fam=fam: s["latency_s"] if self.ops[s["op"]] == fam else 0.0,
            )
        passes = len(traced) / len(self.ops)
        for name, v in tracer.self_times().items():
            out[f"self.{name}_s"] = v / passes
        # Every op ran traced in some passes and untraced in others.
        out["trace.overhead_s"] = _per_op_sum(
            traced, lambda s: s["latency_s"]
        ) - _per_op_sum(untraced, lambda s: s["latency_s"])
        return out
