"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

Implementation lives in the ``lakeflow`` package; queries register themselves
in ``lakeflow.queries.QUERIES`` / ``ORACLES`` (see lakeflow/queries/*.py).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def _configure(spark: SparkSession) -> None:
    """Pin the session confs correctness depends on (timezone, LTZ parquet
    timestamps) even when the driver built the session."""
    # Scope every ephemeral mkdtemp (stream checkpoints, scratch tables)
    # to a pid-keyed root removed at exit, so driver verify runs leave no
    # temp debris behind (lakeflow/scratch.py).
    from lakeflow.scratch import use_process_scratch

    use_process_scratch()
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    Deterministic 15-minute OHLCV candles over events — the re-expression of
    the reference's streaming candle aggregation (SURVEY.md §2.4 A1).
    """
    _configure(spark)
    from lakeflow.queries.relational import candles_15m

    return candles_15m(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2 (+ north star)."""
    from lakeflow.queries import QUERIES

    def wrap(fn: Callable[[SparkSession, str], DataFrame]):
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            _configure(spark)
            return fn(spark, sf_dir)

        return run

    return {name: wrap(fn) for name, fn in QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL for every registered query, in registration
    order (approximate ops emit deterministic tolerance verdicts instead of
    raw estimates, so even they are hash-checked)."""
    from lakeflow.queries import ORACLES

    return dict(ORACLES)
