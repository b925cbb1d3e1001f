"""Local mirror of the driver's DuckDB-oracle gate: every registered query
has an oracle and must match it on row count and values (order-insensitive,
columns sorted by name) at sf0.001. One DuckDB connection with the fixture
views serves the whole module.
"""

from __future__ import annotations

import math

import duckdb
import pytest

from lakeflow.catalog import TABLES, table_path
from lakeflow.queries import ORACLES, QUERIES

from .conftest import SF_DIR


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(SF_DIR, t)}')"
        )
    yield con
    con.close()


def _norm_cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    if isinstance(v, bool):
        return int(v)
    return v


def _norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm_cell(r[i]) for i in order) for r in rows]
    return sorted(cols), sorted(out, key=repr)


def test_every_query_has_an_oracle():
    """Every registered query carries oracle SQL, and ORACLES iterates in
    registration order, so queries() and oracle_sql() list the same names
    in the same order."""
    assert list(ORACLES) == list(QUERIES)


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(spark, duck, name):
    df = QUERIES[name](spark, SF_DIR)
    spark_cols = df.columns
    spark_rows = [tuple(r) for r in df.collect()]

    res = duck.execute(ORACLES[name])
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), f"{name}: column names differ"
    assert len(spark_rows) == len(duck_rows), f"{name}: row count differs"

    s_cols, s_rows = _norm_rows(spark_cols, spark_rows)
    d_cols, d_rows = _norm_rows(duck_cols, duck_rows)
    mismatches = [
        (i, a, b) for i, (a, b) in enumerate(zip(s_rows, d_rows)) if a != b
    ]
    assert not mismatches, (
        f"{name}: {len(mismatches)} row mismatches; first 3: {mismatches[:3]}"
    )
