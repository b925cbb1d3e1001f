"""Smoke for scripts/robustness_sweep.py: the execution-variant parity
harness (partition counts, AQE off) must run a leg end-to-end and report
clean on known-good queries. The full sweeps are a per-round manual run
(~6 min/leg, COVERAGE.md records the r13 results); this pins the tool.

Runs in a subprocess: the sweep builds its own Spark sessions with
variant confs, which must not collide with the suite's session-scoped
fixture (getOrCreate would hand back the fixture's conf otherwise —
run_variant asserts the variant conf stuck)."""

from __future__ import annotations

import os
import subprocess
import sys


_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_sweep_leg_runs_and_reports_clean():
    proc = subprocess.run(
        [
            sys.executable,
            os.path.join(_REPO, "scripts", "robustness_sweep.py"),
            "aqe-off",
            "--sf", "/root/testdata/sf0.001",
            "--queries", "q6_forecast_revenue,latest_event_per_user",
        ],
        capture_output=True,
        text=True,
        timeout=600,
        cwd=_REPO,
    )
    assert proc.returncode == 0, proc.stderr[-1500:]
    assert "aqe-off" in proc.stdout and "mismatches: NONE" in proc.stdout
