"""bench.py's sweep: what it covers, how it reports a failing query, and the
drift table scripts/bench_diff.py renders from two of its records."""

from __future__ import annotations

import json
import os
import sys

import bench
from lakeflow.queries import QUERIES

from .conftest import SF_DIR

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_headline_subset_of_registry():
    assert len(set(bench.BENCH_QUERIES)) == len(bench.BENCH_QUERIES)
    assert set(bench.BENCH_QUERIES) <= set(QUERIES)


def test_full_sweep_covers_the_registry_by_construction():
    tail = bench._tail()
    assert tail == sorted(tail)
    assert not set(tail) & set(bench.BENCH_QUERIES)
    assert set(bench.BENCH_QUERIES) | set(tail) == set(QUERIES)


def test_sweep_lists_a_failing_query_and_exits_nonzero(
    spark, monkeypatch, tmp_path, capsys
):
    def boom(spark, sf_dir):
        raise RuntimeError("injected failure")

    monkeypatch.setitem(QUERIES, "q1_pricing_summary", boom)
    names = ["q6_forecast_revenue", "q1_pricing_summary"]
    status = bench._run(spark, SF_DIR, names, [], str(tmp_path))
    assert status != 0

    (path,) = tmp_path.iterdir()
    rec = json.loads(path.read_text())
    assert rec["failed"] == ["q1_pricing_summary"]
    assert set(rec["queries"]) == {"q6_forecast_revenue"}
    assert set(rec["queries"]["q6_forecast_revenue"]) == {
        "cold", "warm", "warm_b", "min",
    }
    assert rec["cpu_count"] == os.cpu_count() and rec["master"] == "local[4]"
    assert {"head_sha", "tree_dirty", "sf"} <= set(rec)

    lines = capsys.readouterr().out.splitlines()
    assert len(lines) == 1 and json.loads(lines[0]) == rec["totals"]
    assert rec["totals"]["n"] == 1 and rec["totals"]["failed"] == 1


def test_bench_diff_full_sweep_table():
    """scripts/bench_diff.py renders the drift table between two records:
    registry growth/retirement attribution, ratio ranking over the >=0.2s
    shared set, and the x1.8 single-sample floor line."""
    sys.path.insert(0, os.path.join(_REPO, "scripts"))
    try:
        import bench_diff
    finally:
        sys.path.pop(0)

    def rec(sha, queries):
        return {
            "head_sha": sha, "master": "local[4]", "sf": 0.1,
            "totals": {"full": 100.0, "n": len(queries)},
            "queries": queries,
        }

    prev = rec("aaaaaaa", {
        "a": {"cold": 1.5, "warm": 1.0, "warm_b": 1.2, "min": 1.0},
        "b": {"cold": 2.0},
        "gone": {"cold": 3.0},
        "tiny": {"cold": 0.05},
    })
    cur = rec("bbbbbbb", {
        "a": {"cold": 1.5, "warm": 1.1, "warm_b": 1.3, "min": 1.1},
        "b": {"cold": 4.0},
        "new": {"cold": 2.5},
        "tiny": {"cold": 0.15},
    })
    out = bench_diff.diff_table(prev, cur, top_n=3)
    assert out.splitlines()[0].startswith("full sweep aaaaaaa local[4]")
    assert "added (1): new" in out and "removed (1): gone" in out
    # b doubled (x2.00) and must rank first; tiny (<0.2s both) excluded;
    # a compares its warm min (1.0 -> 1.1), not its cold time.
    lines = out.splitlines()
    first = next(l for l in lines if l.strip().startswith("b "))
    assert "x2.00" in first and "tiny" not in out.split("added")[0]
    assert any(l.strip().startswith("a ") and "x1.10" in l for l in lines)
    # x1.8 floor: only b clears it.
    assert "above the x1.8 single-sample significance floor: b" in out
    # Nothing got faster here; a's warm min is the one shared headline.
    assert "improvements (shared, >=0.2s):\n  none" in out
    assert "headline min ratio, median over 1 shared: x1.10" in out

    # A change that speeds the headline set up shows as improvements (the
    # largest cut first) and as a median min ratio below 1, while an
    # untouched tail query still tops the regressions.
    fast = rec("ccccccc", {
        "h1": {"cold": 2.0, "warm": 1.0, "warm_b": 0.9, "min": 0.9},
        "h2": {"cold": 4.0, "warm": 2.0, "warm_b": 2.2, "min": 2.0},
        "h3": {"cold": 1.0, "warm": 0.5, "warm_b": 0.6, "min": 0.5},
        "t": {"cold": 1.0},
    })
    faster = rec("ddddddd", {
        "h1": {"cold": 1.2, "warm": 0.5, "warm_b": 0.45, "min": 0.45},
        "h2": {"cold": 2.0, "warm": 0.5, "warm_b": 0.6, "min": 0.5},
        "h3": {"cold": 0.8, "warm": 0.4, "warm_b": 0.4, "min": 0.4},
        "t": {"cold": 1.3},
    })
    out = bench_diff.diff_table(fast, faster, top_n=2)
    lines = out.splitlines()
    at = lines.index("top 2 per-query improvements (shared, >=0.2s):")
    assert lines[at + 1].split()[0] == "h2" and "x0.25" in lines[at + 1]
    assert lines[at + 2].split()[0] == "h1" and "x0.50" in lines[at + 2]
    assert lines[at + 3].startswith("headline min ratio")
    assert "headline min ratio, median over 3 shared: x0.50" in out
    regressions = lines.index("top 2 per-query regressions (shared, >=0.2s):")
    assert lines[regressions + 1].split()[0] == "t"


def test_gen_scale_fixtures_rejects_mult_past_z():
    """Replica codes run aaa..zzz, so --mult stops at 27: a larger value
    is an argparse error before any fixture is read or written."""
    import subprocess

    script = os.path.join(_REPO, "scripts", "gen_scale_fixtures.py")
    for mult in ("0", "28"):
        proc = subprocess.run(
            [sys.executable, script, "--src", "unused", "--mult", mult],
            capture_output=True, text=True, timeout=60,
        )
        assert proc.returncode == 2, proc.stderr
        assert "--mult must be in 1..27" in proc.stderr
