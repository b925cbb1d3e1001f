"""The external driver grades queries on a VANILLA SparkSession — none of
lakeflow's session defaults (nanosAsLong, AQE tuning, shuffle partitions).
A query that silently depends on a lakeflow default passes every in-process
test here and then fails the driver. This gate subprocess-runs the real
driver simulator over the first N registered queries, so the dependency
class is caught in CI, not in the round verdict.

Kept small (first 6 registered queries) to bound suite time;
`python scripts/driver_sim.py 242` sweeps the whole registry.
"""

from __future__ import annotations

import os
import subprocess
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_front_window_matches_oracles_on_vanilla_session():
    proc = subprocess.run(
        [sys.executable, os.path.join(_REPO, "scripts", "driver_sim.py"), "6"],
        capture_output=True,
        text=True,
        timeout=600,
        cwd=_REPO,
    )
    assert proc.returncode == 0, (
        f"driver_sim failed:\n{proc.stdout[-2000:]}\n{proc.stderr[-1000:]}"
    )
    assert "FAILED: []" in proc.stdout
    assert proc.stdout.count("MATCH") >= 6
