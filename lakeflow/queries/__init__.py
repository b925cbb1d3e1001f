"""Driver-facing query registry.

Each registered query is a ``(spark, sf_dir) -> DataFrame`` callable plus a
DuckDB oracle SQL string over the same fixture tables.
``__spark_entry__.py`` re-exports these as ``queries()`` / ``oracle_sql()``.

Contract reminders (BASELINE.md, FIXTURES.md):
* alias every computed column identically in Spark and oracle SQL;
* timestamps leave query outputs as formatted strings (engine-neutral);
* float aggregates are rounded to a fixed scale on both sides so
  parallel-summation ulp noise cannot flip the value hash.

Retirement policy (VERDICT r9 ask #8): the registry only GROWS. A
registered query is a standing claim in SURVEY.md §2's coverage ledger and
a row in every downstream artifact (CORRECTNESS history, bench
full-surface denominator), so deleting one silently would shrink the
verified surface while the historical verdicts kept implying it. If a
query ever must go (fixture retired, operator superseded), retirement is
an explicit event: remove the registration, add the name to
``scripts/retired_queries.json``, note the retirement in COVERAGE.md with
the superseding query named, and never reuse the name — the CORRECTNESS
files are append-only history, and a reused name would inherit verdicts
it never earned. Renames count as retire+register. Supersession prefers
keeping the old query alive as a thin wrapper over the new path over
deletion — an oracle that still passes is coverage, not debt.

Registry order is registration order: the module import order in
``_load_all`` and the decorator order within each module.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def register(name: str, oracle: str) -> Callable[[QueryFn], QueryFn]:
    """Decorator: add a query and its DuckDB oracle SQL to the registry."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name {name!r}")
        QUERIES[name] = fn
        ORACLES[name] = oracle
        return fn

    return deco


def _load_all() -> None:
    # Import for side effect: each module registers its queries.
    from lakeflow.queries import (  # noqa: F401
        medallion,
        northstar,
        relational,
        streaming,
        timeseries,
    )


_load_all()
