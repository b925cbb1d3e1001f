"""Examples are runnable documentation — they must keep running as the
library evolves (the ivf_topk signature change broke retrieval.py silently
until a manual run caught it). Each example executes as a subprocess against
the tiny fixture; pass = exit 0.

The subprocesses launch CONCURRENTLY from a session fixture: each example
pays ~20-40 s, almost all of it fresh-JVM startup + tiny local jobs, and
they are fully independent (own scratch dirs, own sessions). Four run at a
time, a pool sized for a 4-core VM that also hosts the suite's own
``local[4]`` session; the file then costs roughly the slowest examples plus
queueing instead of their sum —
with IDENTICAL coverage (the per-example parametrized tests below still
assert each exit individually). The temp-debris check reads the TMPDIR of
the pool's own ``streaming_cdc.py`` run rather than starting a 15th JVM."""

from __future__ import annotations

import os
import subprocess
import sys
from concurrent.futures import ThreadPoolExecutor

import pytest

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

EXAMPLES = [
    "batch_medallion.py",
    "lakehouse_sql.py",
    "streaming_cdc.py",
    "retrieval.py",
    "llm_curation.py",
    "mutable_lakehouse.py",
    "delta_interop.py",
    "layout_and_views.py",
    "pushdown_io.py",
    "warehouse_txn.py",
    "sketches.py",
    "stats_lifecycle.py",
    "streamed_index_optimize.py",
    "state_inspection.py",
]


def _run_example(
    example: str, env: dict[str, str] | None = None
) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(_REPO, "examples", example)],
        capture_output=True,
        text=True,
        timeout=600,
        cwd=_REPO,
        env=env,
    )


@pytest.fixture(scope="session")
def cdc_tmpdir(tmp_path_factory):
    """A fresh TMPDIR for the pool's ``streaming_cdc.py`` run."""
    return tmp_path_factory.mktemp("ex-tmp")


@pytest.fixture(scope="session")
def example_results(cdc_tmpdir) -> dict[str, subprocess.CompletedProcess]:
    envs = {"streaming_cdc.py": dict(os.environ, TMPDIR=str(cdc_tmpdir))}
    with ThreadPoolExecutor(max_workers=4) as pool:
        futs = {
            ex: pool.submit(_run_example, ex, envs.get(ex)) for ex in EXAMPLES
        }
        return {ex: fut.result() for ex, fut in futs.items()}


@pytest.mark.parametrize("example", EXAMPLES)
def test_example_runs(example, example_results):
    proc = example_results[example]
    assert proc.returncode == 0, (
        f"{example} failed:\n{proc.stdout[-1500:]}\n{proc.stderr[-1500:]}"
    )


def test_example_subprocess_leaves_no_temp_debris(example_results, cdc_tmpdir):
    """Examples are subprocesses, so the conftest scratch root can't cover
    them — the example itself opts in by calling
    `lakeflow.scratch.use_process_scratch()` at startup (`get_session`
    deliberately does NOT install it; library users keep default tempfile
    behavior — see the 00f4b4d scoping decision). Pin that: the pool runs
    ``streaming_cdc.py`` with TMPDIR pointed at a fresh dir; after a clean
    exit the dir must hold nothing — every mkdtemp the example made (work
    dirs, stream checkpoints) rode the process scratch root and was removed
    at exit."""
    proc = example_results["streaming_cdc.py"]
    assert proc.returncode == 0, proc.stderr[-1500:]
    left = [p.name for p in cdc_tmpdir.iterdir()]
    assert left == [], f"example left temp debris: {left}"
