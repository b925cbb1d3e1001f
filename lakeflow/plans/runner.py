"""Topological pipeline runner (SURVEY.md §2.11).

The reference orchestrates its batch ELT as an Airflow DAG of spark-submit
tasks with a diamond dependency (/root/reference/src/dags/batch_elt_company.py:69-71)
— five separate Spark applications. Here the DAG is a plain function-
composition graph executed inside ONE session: no per-task JVM spin-up, and
Catalyst can see across stage boundaries when tasks pass DataFrames.

Tasks declare dependencies by name; the runner resolves a deterministic
topological order (Kahn, name-sorted ties) and threads each task's return
value to its dependents.
"""

from __future__ import annotations

from collections.abc import Callable, Mapping, Sequence
from dataclasses import dataclass, field
from typing import Any


@dataclass
class Task:
    name: str
    fn: Callable[..., Any]
    deps: Sequence[str] = field(default_factory=tuple)
    retries: int = 0  # extra attempts after the first failure


class TaskFailureError(RuntimeError):
    """A task exhausted its attempts; carries the task name and count."""

    def __init__(self, name: str, attempts: int, cause: Exception) -> None:
        super().__init__(
            f"task {name!r} failed after {attempts} attempt(s): {cause!r}"
        )
        self.task = name
        self.attempts = attempts
        self.cause = cause


class Pipeline:
    """A named DAG of tasks; ``run`` executes in dependency order."""

    def __init__(self, name: str = "pipeline"):
        self.name = name
        self._tasks: dict[str, Task] = {}

    def task(
        self, name: str, deps: Sequence[str] = (), retries: int = 0
    ) -> Callable[[Callable[..., Any]], Callable[..., Any]]:
        def deco(fn: Callable[..., Any]) -> Callable[..., Any]:
            self.add(Task(name, fn, deps, retries))
            return fn

        return deco

    def add(self, task: Task) -> None:
        if task.name in self._tasks:
            raise ValueError(f"duplicate task {task.name!r}")
        self._tasks[task.name] = task

    def topo_order(self) -> list[str]:
        pending = {t.name: set(t.deps) for t in self._tasks.values()}
        for name, deps in pending.items():
            missing = deps - self._tasks.keys()
            if missing:
                raise ValueError(f"task {name!r} depends on unknown {sorted(missing)}")
        order: list[str] = []
        while pending:
            ready = sorted(n for n, deps in pending.items() if not deps)
            if not ready:
                raise ValueError(f"cycle among {sorted(pending)}")
            for n in ready:
                order.append(n)
                del pending[n]
            for deps in pending.values():
                deps.difference_update(ready)
        return order

    def run(
        self,
        context: Mapping[str, Any] | None = None,
        on_error: str = "raise",
        resume_from: Mapping[str, Mapping[str, Any]] | None = None,
        max_workers: int = 1,
    ) -> dict[str, Any]:
        """Execute all tasks; each fn receives (results_so_far, **context).

        Airflow-parity execution semantics (the reference DAG's
        ``retries=`` and upstream_failed propagation,
        /root/reference/src/dags/batch_elt_company.py): a task declaring
        ``retries=N`` re-runs up to N extra times on exception; with
        ``on_error="skip_downstream"`` an exhausted task marks itself
        ``failed`` and every transitive dependent ``upstream_failed``
        while independent branches keep running (default ``"raise"``
        surfaces :class:`TaskFailureError` immediately). ``self.report``
        records ``{name: {"status", "attempts"}}`` for the run.

        ``resume_from`` is a previous run's ``report``: tasks it marks
        ``success`` are skipped (status ``skipped_done``, no re-execution)
        and everything else re-runs — Airflow's clear-failed-and-rerun.
        A skipped task contributes NO entry to ``results``, so a resumable
        pipeline must pass state through storage (tables/files), not
        return values — exactly the contract Airflow tasks live under;
        tasks that thread DataFrames are fine as long as their consumers
        rerun with them (a consumer of a skipped task re-reads the table).

        One scheduler runs every task on a bounded thread pool: it keeps
        at most ``max_workers`` tasks in flight and submits ready tasks
        (every dep SUCCEEDED) in topological order, so ``max_workers=1``
        is the strictly sequential run, and above it INDEPENDENT tasks
        overlap (guide §2.6: Spark happily schedules several jobs at once
        inside one application — actions are only sequential because
        driver code calls them sequentially, and FIFO scheduling
        back-fills executors freed by one job's straggler tail with the
        next job's tasks). Per-task ``retries``, ``resume_from`` skipping
        and ``skip_downstream`` propagation hold at every width, and
        ``results`` and every terminal ``report`` status are the same.
        Each task's target inherits the caller's Spark local properties
        and tags (``inheritable_thread_target``), so a job group or tag set
        before ``run`` covers every task's jobs. Each task receives a
        SNAPSHOT of the results available at its submit time (its
        transitive deps are always in it; a live dict could change size
        under a task that iterates it). With ``on_error="raise"`` nothing
        starts after a failure; tasks already in flight run to completion
        (their report rows say what really executed), and the raised
        failure is the earliest-failed task in topological order, so the
        error is deterministic however the threads interleave.
        """
        from concurrent.futures import FIRST_COMPLETED, ThreadPoolExecutor, wait

        if on_error not in ("raise", "skip_downstream"):
            raise ValueError(
                f"on_error must be raise|skip_downstream, got {on_error!r}"
            )
        if max_workers < 1:
            raise ValueError(f"max_workers must be >= 1, got {max_workers}")
        done_before = {
            n
            for n, r in (resume_from or {}).items()
            if r.get("status") == "success"
        }
        ctx = dict(context or {})
        results: dict[str, Any] = {}
        self.report: dict[str, dict[str, Any]] = {}
        order = self.topo_order()
        satisfied: set[str] = set()  # success or skipped_done
        dead: set[str] = set()
        failures: dict[str, tuple[int, Exception]] = {}

        def attempt(task: Task, snapshot: dict[str, Any]) -> tuple:
            attempts = 0
            while True:
                attempts += 1
                try:
                    return "success", attempts, task.fn(snapshot, **ctx), None
                except Exception as exc:
                    if attempts <= task.retries:
                        continue
                    return "failed", attempts, None, exc

        in_flight: dict = {}
        with ThreadPoolExecutor(max_workers=max_workers) as pool:
            while True:
                # Walk the order, stopping at a full pool, so at width 1 no
                # later task is reported before an earlier one has run.
                for name in order:
                    halted = failures and on_error == "raise"
                    if halted or len(in_flight) == max_workers:
                        break
                    task = self._tasks[name]
                    if name in self.report or name in in_flight.values():
                        continue
                    if any(d in dead for d in task.deps):
                        self.report[name] = {"status": "upstream_failed", "attempts": 0}
                        dead.add(name)
                    elif not all(d in satisfied for d in task.deps):
                        continue
                    elif name in done_before:
                        self.report[name] = {"status": "skipped_done", "attempts": 0}
                        satisfied.add(name)
                    else:
                        # Snapshot on THIS thread: a live dict could change
                        # size under a worker.
                        fut = pool.submit(_inheriting(attempt), task, dict(results))
                        in_flight[fut] = name
                if not in_flight:
                    break
                finished, _ = wait(in_flight, return_when=FIRST_COMPLETED)
                for fut in finished:
                    name = in_flight.pop(fut)
                    status, attempts, value, exc = fut.result()
                    self.report[name] = {"status": status, "attempts": attempts}
                    if status == "success":
                        results[name] = value
                        satisfied.add(name)
                    else:
                        failures[name] = (attempts, exc)
                        dead.add(name)
        # Deterministic report key order however completions interleaved.
        self.report = {n: self.report[n] for n in order if n in self.report}
        if failures and on_error == "raise":
            first = min(failures, key=order.index)
            attempts, exc = failures[first]
            raise TaskFailureError(first, attempts, exc) from exc
        return results


def _inheriting(fn: Callable[..., Any]) -> Callable[..., Any]:
    """``fn`` wrapped to run with the calling thread's Spark local
    properties and session tags (job group, scheduler pool, job tags); ``fn``
    itself when no Spark session is active."""
    from py4j.clientserver import ClientServer
    from pyspark import SparkContext
    from pyspark.sql import SparkSession
    from pyspark.util import inheritable_thread_target

    session = SparkSession.getActiveSession() or SparkSession._instantiatedSession
    if session is None or not isinstance(SparkContext._gateway, ClientServer):
        return fn  # no session, or threads not pinned: nothing to inherit
    return inheritable_thread_target(session)(fn)
