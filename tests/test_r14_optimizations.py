"""Contract pins for the r14 optimization-round changes.

* Pipeline.run(max_workers>1) — the §2.6 bounded-pool runner must preserve
  the sequential contract exactly: same results, same terminal report
  statuses, dependency order, per-task retries, resume_from skipping,
  skip_downstream propagation, and a DETERMINISTIC raised failure
  (topologically earliest) however threads interleave.
* sign_bucket — the one-parse SQL path and the Column-API path must agree
  per plane count (ADVICE r13), including backtick-bearing column names.
* bm25_topk / exact_substring_dedup eager=True — identical results to the
  lazy form, with the working-set cache released before return.
"""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from lakeflow.plans.runner import Pipeline, Task, TaskFailureError


def _rows(df):
    return sorted(tuple(str(x) for x in r) for r in df.collect())


def _diamond(sleep: float = 0.0, fail: dict | None = None):
    """a -> (b1, b2) -> c; tasks return their dep results' values joined."""
    fail = dict(fail or {})
    counters: dict[str, int] = {}

    def mk(name: str, deps: tuple[str, ...]):
        def fn(results, **ctx):
            counters[name] = counters.get(name, 0) + 1
            if counters[name] <= fail.get(name, 0):
                raise RuntimeError(f"{name} boom")
            if sleep:
                time.sleep(sleep)
            # .get: a dep skipped via resume_from contributes no results
            # entry by contract (state rides storage, not return values).
            return name + "".join(results.get(d, "?") for d in deps)

        return fn

    p = Pipeline("diamond")
    p.add(Task("a", mk("a", ())))
    p.add(Task("b1", mk("b1", ("a",)), deps=["a"]))
    p.add(Task("b2", mk("b2", ("a",)), deps=["a"], retries=1))
    p.add(Task("c", mk("c", ("b1", "b2")), deps=["b1", "b2"]))
    return p


def test_parallel_runner_matches_sequential():
    seq = _diamond(fail={"b2": 1})
    r_seq = seq.run()
    rep_seq = seq.report
    par = _diamond(fail={"b2": 1})
    r_par = par.run(max_workers=2)
    assert r_par == r_seq
    assert par.report == rep_seq  # incl. b2's attempts == 2 (retry honored)
    assert list(par.report) == par.topo_order()  # deterministic key order


def test_parallel_runner_overlaps_independent_branches():
    # Only the two independent middle tasks sleep (0.5 s each): sequential
    # wall is ~1.0 s, overlapped ~0.5 s. The 0.85 s bound leaves ~0.35 s of
    # scheduling slack so loaded boxes don't flake while still failing
    # loudly if the branches serialize.
    p = Pipeline("overlap")
    p.add(Task("a", lambda results, **ctx: "a"))
    p.add(Task("b1", lambda results, **ctx: time.sleep(0.5), deps=["a"]))
    p.add(Task("b2", lambda results, **ctx: time.sleep(0.5), deps=["a"]))
    p.add(Task("c", lambda results, **ctx: "c", deps=["b1", "b2"]))
    t0 = time.perf_counter()
    p.run(max_workers=2)
    assert time.perf_counter() - t0 < 0.85


def test_parallel_runner_raise_is_topologically_deterministic():
    # Both branches fail; the raised task must be the topologically
    # EARLIEST failure (b1), not whichever thread lost the race.
    for _ in range(3):
        p = _diamond(fail={"b1": 99, "b2": 99})
        with pytest.raises(TaskFailureError) as ei:
            p.run(max_workers=2)
        assert ei.value.task == "b1"
        assert p.report["b1"]["status"] == "failed"
        # c was never scheduled: no report row (same as sequential raise).
        assert "c" not in p.report


def test_parallel_runner_skip_downstream_and_resume():
    p = _diamond(fail={"b1": 99})
    res = p.run(on_error="skip_downstream", max_workers=2)
    assert p.report["b1"]["status"] == "failed"
    assert p.report["b2"]["status"] == "success"  # independent branch ran
    assert p.report["c"]["status"] == "upstream_failed"
    assert sorted(res) == ["a", "b2"]
    # resume: clear-failed-and-rerun semantics under the pool
    p2 = _diamond()
    res2 = p2.run(resume_from=p.report, max_workers=2)
    assert p2.report["a"]["status"] == "skipped_done"
    assert p2.report["b2"]["status"] == "skipped_done"
    assert p2.report["b1"]["status"] == "success"
    assert p2.report["c"]["status"] == "success"
    assert "a" not in res2  # skipped tasks contribute no results entry


def test_parallel_runner_rejects_bad_worker_count():
    with pytest.raises(ValueError):
        _diamond().run(max_workers=0)


def test_width_one_runs_in_topological_order_and_stops_at_failure():
    """max_workers=1 is the sequential run: tasks start one at a time in
    topological order, and with on_error="raise" nothing starts — or is
    reported skipped — after the failing task."""
    started = []

    def mk(name: str, fail: bool = False):
        def fn(results, **ctx):
            started.append(name)
            if fail:
                raise RuntimeError(f"{name} boom")
            return name

        return fn

    p = Pipeline("chain")
    p.add(Task("a", mk("a")))
    p.add(Task("b", mk("b", fail=True), deps=["a"]))
    p.add(Task("c", mk("c"), deps=["a"]))
    p.add(Task("d", mk("d")))
    p.add(Task("e", mk("e"), deps=["c"]))
    with pytest.raises(TaskFailureError) as ei:
        p.run(resume_from={"e": {"status": "success"}})
    assert ei.value.task == "b"
    assert started == ["a", "d", "b"] == p.topo_order()[:3]
    assert list(p.report) == ["a", "d", "b"]
    started.clear()
    res = p.run(on_error="skip_downstream")
    assert started == ["a", "d", "b", "c", "e"] == p.topo_order()
    assert res == {"a": "a", "d": "d", "c": "c", "e": "e"}


@pytest.mark.parametrize("workers", [1, 2])
def test_callers_job_group_covers_every_task(spark, workers):
    """A job group set before ``run`` reaches every task's Spark jobs, on
    whichever pool thread the task runs."""
    sc = spark.sparkContext
    group = f"pipeline-width-{workers}"
    seen = {}

    def task(name: str, n: int):
        def fn(results, **ctx):
            seen[name] = sc.getLocalProperty("spark.jobGroup.id")
            return spark.range(n).count()

        return fn

    p = Pipeline("grouped")
    p.add(Task("a", task("a", 10)))
    p.add(Task("b", task("b", 20)))
    sc.setJobGroup(group, "caller")
    try:
        assert p.run(max_workers=workers) == {"a": 10, "b": 20}
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert seen == {"a": group, "b": group}
    assert len(sc.statusTracker().getJobIdsForGroup(group)) >= 2


# ---------------------------------------------------------------------------
# sign_bucket construction-path equality (ADVICE r13)
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("planes", [1, 4, 8])
def test_sign_bucket_sql_path_equals_column_path(spark, planes):
    from lakeflow.operators.similarity import sign_bucket

    df = spark.createDataFrame(
        [(i, [((i * 7 + d * 13) % 11 - 5) / 3.0 for d in range(8)])
         for i in range(50)],
        "vec_id long, v array<double>",
    )
    both = df.select(
        sign_bucket("v", dim=8, planes=planes, table_idx=1).alias("sql_b"),
        sign_bucket(F.col("v"), dim=8, planes=planes, table_idx=1).alias(
            "col_b"
        ),
    )
    assert both.filter(F.col("sql_b") != F.col("col_b")).count() == 0


def test_sign_bucket_escapes_backtick_identifiers(spark):
    from lakeflow.operators.similarity import sign_bucket

    df = spark.createDataFrame(
        [(i, [float(i % 3 - 1)] * 4) for i in range(10)],
        "vec_id long, `we``ird` array<double>",
    )
    # Spark 4 routes even df[...] through the attribute-name parser, so the
    # Column-path reference must pre-escape; sign_bucket's STRING path (the
    # code under test) takes the raw name and escapes internally.
    got = df.select(
        sign_bucket("we`ird", dim=4, planes=2).alias("b"),
        sign_bucket(F.col("`we``ird`"), dim=4, planes=2).alias("cb"),
    )
    assert got.filter(F.col("b") != F.col("cb")).count() == 0


# ---------------------------------------------------------------------------
# eager=True cache-release knobs (ADVICE r13 / VERDICT r13 ask #8)
# ---------------------------------------------------------------------------


def _docs(spark):
    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]
    rows = [
        (i, " ".join(words[(i + j) % len(words)] for j in range(30)))
        for i in range(40)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_bm25_eager_matches_lazy_and_releases_cache(spark):
    from lakeflow.operators.text import bm25_topk

    docs = _docs(spark)
    spark.catalog.clearCache()
    lazy = _rows(bm25_topk(docs, ["alpha", "beta"], k=5))
    spark.catalog.clearCache()
    eager = _rows(bm25_topk(docs, ["alpha", "beta"], k=5, eager=True))
    assert eager == lazy
    # the per-doc working set must not linger in the CacheManager
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_exact_substring_eager_matches_lazy_and_releases_cache(spark):
    from lakeflow.operators.dedup import exact_substring_dedup

    docs = _docs(spark)
    spark.catalog.clearCache()
    lazy = _rows(exact_substring_dedup(docs, k=5))
    spark.catalog.clearCache()
    eager = _rows(exact_substring_dedup(docs, k=5, eager=True))
    assert eager == lazy
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
