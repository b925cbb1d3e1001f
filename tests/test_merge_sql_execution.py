"""Execute the generated MERGE SQL and diff final table state against the
DataFrame twins (operators.merge.scd1_apply / scd2_apply).

No engine in this container ships MERGE INTO (DuckDB 1.0 predates it; no
Iceberg/Delta jars on the Spark classpath), so the generated statement is
run through a *mechanical* MERGE→ANSI translation executed by DuckDB:

    WHEN MATCHED [AND c] THEN UPDATE SET ...  →  UPDATE t SET ... FROM s
                                                 WHERE on [AND c]
    WHEN NOT MATCHED THEN INSERT (...) VALUES  →  INSERT INTO t SELECT ...
                                                  FROM s WHERE NOT EXISTS
                                                  (SELECT 1 FROM t WHERE on)

The translator only *parses* the generated text — every semantic ingredient
(ON clause, change predicate, SET list, INSERT projection) flows straight
from formats.py into DuckDB execution, so a bug in the generated SQL shows
up as divergent table state, not as a string-diff miss. The null-safe ``<=>``
operator is mapped to DuckDB's ``IS NOT DISTINCT FROM``.
"""

from __future__ import annotations

import re

import duckdb
import pytest

from lakeflow.formats import scd1_merge_sql, scd2_expire_sql, scd2_insert_sql
from lakeflow.operators.merge import scd1_apply, scd2_apply


_MERGE_RE = re.compile(
    r"MERGE INTO (?P<target>\w+) t USING (?P<source>\w+) s ON (?P<on>.+?)"
    r"(?: WHEN MATCHED(?: AND \((?P<cond>.+?)\))? THEN UPDATE SET (?P<sets>.+?))?"
    r"(?: WHEN NOT MATCHED THEN INSERT \((?P<names>.+?)\) VALUES \((?P<vals>.+?)\))?$"
)


def _nullsafe(sql: str) -> str:
    # a <=> b  →  a IS NOT DISTINCT FROM b (binds looser, parenthesize)
    return re.sub(
        r"(\S+)\s*<=>\s*(\S+)", r"(\1 IS NOT DISTINCT FROM \2)", sql
    )


def run_merge_in_duckdb(con: duckdb.DuckDBPyConnection, merge_sql: str) -> None:
    """Execute a formats.py-generated MERGE statement via ANSI UPDATE/INSERT."""
    m = _MERGE_RE.match(merge_sql)
    assert m, f"unparseable MERGE statement: {merge_sql}"
    tgt, src, on = m["target"], m["source"], _nullsafe(m["on"])
    if m["sets"]:
        where = on + (f" AND ({_nullsafe(m['cond'])})" if m["cond"] else "")
        con.execute(f"UPDATE {tgt} AS t SET {m['sets']} FROM {src} AS s WHERE {where}")
    if m["names"]:
        con.execute(
            f"INSERT INTO {tgt} ({m['names']}) SELECT {m['vals']} FROM {src} AS s "
            f"WHERE NOT EXISTS (SELECT 1 FROM {tgt} AS t WHERE {on})"
        )


TARGET_ROWS = [
    (1, "alpha", 10.0),
    (2, "beta", 20.0),
    (None, "nullkey", 30.0),  # NULL key must match null-safely, not vanish
    (4, "delta", 40.0),
]
SOURCE_ROWS = [
    (2, "BETA", 21.0),       # changed → update / expire+insert
    (None, "NULLKEY", 31.0),  # NULL key change
    (4, "delta", 40.0),      # unchanged → no-op for SCD2
    (5, "new", 50.0),        # brand new key → insert
]
SCHEMA = "k INT, v VARCHAR, x DOUBLE"


def _duck_with_tables() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"CREATE TABLE tgt ({SCHEMA})")
    con.executemany("INSERT INTO tgt VALUES (?, ?, ?)", TARGET_ROWS)
    con.execute(f"CREATE TABLE src ({SCHEMA})")
    con.executemany("INSERT INTO src VALUES (?, ?, ?)", SOURCE_ROWS)
    return con


def test_scd1_merge_sql_state_matches_dataframe_twin(spark):
    con = _duck_with_tables()
    run_merge_in_duckdb(con, scd1_merge_sql("tgt", "src", ["k"], ["k", "v", "x"]))
    duck_state = sorted(map(tuple, con.execute("SELECT * FROM tgt").fetchall()), key=repr)

    target = spark.createDataFrame(TARGET_ROWS, "k int, v string, x double")
    source = spark.createDataFrame(SOURCE_ROWS, "k int, v string, x double")
    spark_state = sorted(
        (tuple(r) for r in scd1_apply(target, source, ["k"]).collect()), key=repr
    )
    assert spark_state == duck_state


def test_scd2_merge_sql_state_matches_dataframe_twin(spark):
    from pyspark.sql import functions as F

    eff = "2026-03-01 00:00:00"
    con = _duck_with_tables()
    con.execute(
        "ALTER TABLE tgt ADD COLUMN start_timestamp TIMESTAMP; "
        "ALTER TABLE tgt ADD COLUMN end_timestamp TIMESTAMP; "
        "ALTER TABLE tgt ADD COLUMN is_current INT; "
        "UPDATE tgt SET start_timestamp = TIMESTAMP '2026-01-01 00:00:00', "
        "end_timestamp = NULL, is_current = 1"
    )
    run_merge_in_duckdb(
        con, scd2_expire_sql("tgt", "src", ["k"], ["v", "x"], eff)
    )
    run_merge_in_duckdb(
        con, scd2_insert_sql("tgt", "src", ["k"], ["k", "v", "x"], eff)
    )
    duck_state = sorted(
        (
            tuple(str(c) for c in row)
            for row in con.execute("SELECT * FROM tgt").fetchall()
        ),
        key=repr,
    )

    target = (
        spark.createDataFrame(TARGET_ROWS, "k int, v string, x double")
        .withColumn("start_timestamp", F.lit("2026-01-01 00:00:00").cast("timestamp"))
        .withColumn("end_timestamp", F.lit(None).cast("timestamp"))
        .withColumn("is_current", F.lit(1))
    )
    source = spark.createDataFrame(SOURCE_ROWS, "k int, v string, x double")
    spark_state = sorted(
        (
            tuple(str(c) for c in row)
            for row in scd2_apply(target, source, ["k"], ["v", "x"], eff).collect()
        ),
        key=repr,
    )
    assert spark_state == duck_state


# ---------------------------------------------------------------------------
# Property tests: hypothesis-generated CDC batches through the same
# MERGE-translation pipeline. Generators deliberately produce NULL keys,
# duplicate source keys, no-op updates (source row == target row), NULL
# tracked values, and brand-new keys. Sources with duplicate keys are first
# collapsed by operators.merge._dedup_source — the deduped batch is what the
# generated MERGE runs on (SQL MERGE rejects multi-match sources outright),
# and the raw batch is what the DataFrame twin receives, so the dedup +
# merge contract is exercised end to end.
# ---------------------------------------------------------------------------

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from lakeflow.operators.merge import _dedup_source

_KEYS = st.one_of(st.none(), st.integers(min_value=0, max_value=3))
_VALS = st.one_of(st.none(), st.sampled_from(["a", "b", "c"]))
_XS = st.one_of(st.none(), st.sampled_from([1.0, 2.5, -3.0]))
_ROW = st.tuples(_KEYS, _VALS, _XS)

# Target state tables are keyed: one row per key (None is a valid key).
_TARGET = st.lists(_ROW, max_size=6).map(
    lambda rows: list({r[0]: r for r in rows}.values())
)
# CDC batches may carry several rows per key.
_SOURCE = st.lists(_ROW, max_size=8)

_PROP_SETTINGS = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)


def _spark_df(spark, rows):
    return spark.createDataFrame(rows, "k int, v string, x double")


def _deduped_rows(spark, source_rows):
    """The deterministic one-row-per-key batch the generated MERGE consumes."""
    return [
        tuple(r)
        for r in _dedup_source(_spark_df(spark, source_rows), ["k"], None).collect()
    ]


def _load_duck(con, table, schema, rows):
    con.execute(f"CREATE TABLE {table} ({schema})")
    if rows:
        con.executemany(
            f"INSERT INTO {table} VALUES "
            f"({', '.join('?' * len(schema.split(',')))})",
            rows,
        )


@_PROP_SETTINGS
@given(target_rows=_TARGET, source_rows=_SOURCE)
def test_scd1_merge_translation_matches_twin_on_generated_batches(
    spark, target_rows, source_rows
):
    con = duckdb.connect()
    _load_duck(con, "tgt", SCHEMA, target_rows)
    _load_duck(con, "src", SCHEMA, _deduped_rows(spark, source_rows))
    run_merge_in_duckdb(con, scd1_merge_sql("tgt", "src", ["k"], ["k", "v", "x"]))
    duck_state = sorted(
        map(tuple, con.execute("SELECT * FROM tgt").fetchall()), key=repr
    )

    applied = scd1_apply(
        _spark_df(spark, target_rows), _spark_df(spark, source_rows), ["k"]
    )
    spark_state = sorted((tuple(r) for r in applied.collect()), key=repr)
    assert spark_state == duck_state


@_PROP_SETTINGS
@given(target_rows=_TARGET, source_rows=_SOURCE)
def test_scd2_merge_translation_matches_twin_on_generated_batches(
    spark, target_rows, source_rows
):
    from pyspark.sql import functions as F

    eff = "2026-03-01 00:00:00"
    scd2_schema = SCHEMA + (
        ", start_timestamp TIMESTAMP, end_timestamp TIMESTAMP, is_current INT"
    )
    seeded = [
        r + ("2026-01-01 00:00:00", None, 1) for r in target_rows
    ]
    con = duckdb.connect()
    _load_duck(con, "tgt", scd2_schema, seeded)
    _load_duck(con, "src", SCHEMA, _deduped_rows(spark, source_rows))
    run_merge_in_duckdb(con, scd2_expire_sql("tgt", "src", ["k"], ["v", "x"], eff))
    run_merge_in_duckdb(
        con, scd2_insert_sql("tgt", "src", ["k"], ["k", "v", "x"], eff)
    )
    duck_state = sorted(
        (
            tuple(str(c) for c in row)
            for row in con.execute("SELECT * FROM tgt").fetchall()
        ),
        key=repr,
    )

    target = (
        _spark_df(spark, target_rows)
        .withColumn(
            "start_timestamp", F.lit("2026-01-01 00:00:00").cast("timestamp")
        )
        .withColumn("end_timestamp", F.lit(None).cast("timestamp"))
        .withColumn("is_current", F.lit(1))
    )
    applied = scd2_apply(
        target, _spark_df(spark, source_rows), ["k"], ["v", "x"], eff
    )
    spark_state = sorted(
        (tuple(str(c) for c in row) for row in applied.collect()), key=repr
    )
    assert spark_state == duck_state
