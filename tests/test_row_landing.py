"""One row-landing path for VersionedTable: every write that brings rows in
admits them through one rule (generated columns derived or validated, CHECK
constraints checked, before any byte lands), and rewrites that only move
rows (compaction, Z-order) are not admitted."""

from __future__ import annotations

import os

import pytest

from lakeflow.quality import Expectation
from lakeflow.sqlx import LakehouseSQL
from lakeflow.tables import ConstraintViolationError, TableCatalog, VersionedTable

_XY = "id int, x int"


def _probe(spark, t: VersionedTable, stats_cols=None) -> VersionedTable:
    """``(id, x)`` rows 1-2, then ``y = x * 2`` declared over them (they read
    NULL), then rows 3 and 4, one commit each, with ``y`` derived: 60, 80."""
    t.commit(spark.createDataFrame([(1, 10), (2, 20)], _XY), stats_cols=["x"])
    t.set_generated("y", "int", "x * 2")
    for row in [(3, 30), (4, 40)]:
        t.commit(
            spark.createDataFrame([row], _XY), stats_cols=["x", *(stats_cols or [])]
        )
    return t


def _rows(t: VersionedTable) -> set:
    return {(r.id, r.x, r.y) for r in t.read().collect()}


def _sql_update(spark, root):
    lh = LakehouseSQL(spark, TableCatalog(spark, os.path.dirname(root)))
    name = os.path.basename(root)

    def update(cond, sets):
        text = ", ".join(f"{c} = {e}" for c, e in sets.items())
        return lh.execute(f"UPDATE VERSIONED {name} SET {text} WHERE {cond}")

    return update


@pytest.mark.parametrize("route", ["cow", "mor", "sql"])
def test_update_rederives_generated_columns(spark, tmp_path, route):
    t = _probe(spark, VersionedTable(spark, str(tmp_path / "g")))
    update = {
        "cow": t.update_where,
        "mor": t.update_where_mor,
        "sql": _sql_update(spark, t.root),
    }[route]
    update("id = 3", {"x": "31"})
    assert _rows(t) == {(1, 10, None), (2, 20, None), (3, 31, 62), (4, 40, 80)}
    v = t.current_version()
    with pytest.raises(ValueError, match="generated-column mismatch"):
        update("id = 3", {"y": "0"})
    assert t.current_version() == v


def test_cow_update_drops_index_entries_of_rederived_columns(spark, tmp_path):
    """The rewritten dir may not inherit a zone map for values it no longer
    holds: row 3's old envelope says y = 60, which would prune y = 62."""
    t = _probe(spark, VersionedTable(spark, str(tmp_path / "g")), stats_cols=["y"])
    t.update_where("id = 3", {"x": "31"}, prune_between={"x": (30, 30)})
    got = {(r.id, r.y) for r in t.scan(between={"y": (62, 62)}).collect()}
    assert got == {(3, 62)}


def test_replace_partitions_admits_rows_like_commit(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "g"))
    t.commit(spark.createDataFrame([(1, 10), (2, 20)], _XY))
    t.set_generated("y", "int", "x * 2")
    t.commit_replace_partitions(spark.createDataFrame([(2, 50)], _XY), "id")
    assert _rows(t) == {(1, 10, None), (2, 50, 100)}

    v = t.current_version()
    data = sorted(os.listdir(os.path.join(t.root, "data")))
    wrong = spark.createDataFrame([(2, 50, 7)], "id int, x int, y int")
    with pytest.raises(ValueError, match="generated-column mismatch"):
        t.commit_replace_partitions(wrong, "id")
    assert t.current_version() == v
    assert sorted(os.listdir(os.path.join(t.root, "data"))) == data


def test_replace_partitions_keeps_rows_a_deletion_vector_hid(spark, tmp_path):
    """The untouched remainder of a rewritten dir is read through the
    table's deletion vectors, like every other rewrite."""
    t = VersionedTable(spark, str(tmp_path / "g"))
    t.commit(spark.createDataFrame([(1, "a"), (2, "b")], "id int, p string"))
    t.delete_where_mor("id = 1")
    t.commit_replace_partitions(
        spark.createDataFrame([(3, "c")], "id int, p string"), "p"
    )
    assert {(r.id, r.p) for r in t.read().collect()} == {(2, "b"), (3, "c")}


def test_row_preserving_rewrites_skip_admission(spark, tmp_path):
    cat = TableCatalog(spark, str(tmp_path / "wh"))
    t = _probe(spark, cat.create("g"))
    before = _rows(t)
    t.compact()
    assert _rows(t) == before

    t.delete_where_mor("id = 4")
    report = cat.maintain("g", max_delete_vectors=0)
    assert report["compacted"]
    assert not t._current().get("delete_vectors")
    assert _rows(t) == before - {(4, 40, 80)}


def _compact_jobs(spark, t: VersionedTable, group: str) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        t.compact()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_full_compact_runs_no_constraint_jobs(spark, tmp_path):
    jobs = {}
    for constrained in (False, True):
        t = VersionedTable(spark, str(tmp_path / f"t{int(constrained)}"))
        t.commit(spark.createDataFrame([(1, 10)], _XY))
        t.commit(spark.createDataFrame([(2, 20)], _XY))
        if constrained:
            t.add_constraint("x_pos", "x > 0")
        group = f"compact-{tmp_path.name}-{constrained}"
        jobs[constrained] = _compact_jobs(spark, t, group)
    assert jobs[True] == jobs[False]


# -- the admission gate, on every path that brings rows in ------------------

_NEW = "id int, x int"
_NEW_Y = "id int, x int, y int"


def _new_rows(spark, x, y):
    if y is None:
        return spark.createDataFrame([(9, x)], _NEW)
    return spark.createDataFrame([(9, x, y)], _NEW_Y)


def _sets(x, y):
    return {"x": str(x), **({} if y is None else {"y": str(y)})}


# (path, landed row id, write(table, spark, x, y)); y=None omits the column.
_PATHS = [
    ("commit", 9, lambda t, s, x, y: t.commit(_new_rows(s, x, y))),
    (
        "commit_audited",
        9,
        lambda t, s, x, y: t.commit_audited(
            _new_rows(s, x, y), [Expectation("id_pos", "id >= 0", "fail")]
        ),
    ),
    (
        "commit_replace_partitions",
        9,
        lambda t, s, x, y: t.commit_replace_partitions(_new_rows(s, x, y), "id"),
    ),
    ("update_where", 1, lambda t, s, x, y: t.update_where("id = 1", _sets(x, y))),
    (
        "update_where_mor",
        1,
        lambda t, s, x, y: t.update_where_mor("id = 1", _sets(x, y)),
    ),
    ("upsert_mor", 9, lambda t, s, x, y: t.upsert_mor(_new_rows(s, x, y), ["id"])),
]


@pytest.mark.parametrize("path,row_id,write", _PATHS, ids=[p[0] for p in _PATHS])
def test_every_row_path_admits_through_one_gate(spark, tmp_path, path, row_id, write):
    t = VersionedTable(spark, str(tmp_path / "gate"))
    t.commit(spark.createDataFrame([(1, 1), (2, 2)], _XY))
    t.set_generated("y", "int", "x * 2")
    t.add_constraint("x_pos", "x > 0")

    write(t, spark, 7, None)  # derived (UPDATE: re-derived)
    assert {(r.x, r.y) for r in t.read().filter(f"id = {row_id}").collect()} == {
        (7, 14)
    }

    v = t.current_version()
    with pytest.raises(ValueError, match="generated-column mismatch"):
        write(t, spark, 5, 7)
    assert t.current_version() == v
    with pytest.raises(ConstraintViolationError, match="x_pos"):
        write(t, spark, -1, None)
    assert t.current_version() == v
