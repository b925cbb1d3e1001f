"""Delta transaction-log interop (formats.py::export_delta/read_delta_log).

The export is validated two ways: structurally (commit-0 carries protocol +
metaData with the spec's required fields; adds carry partitionValues, size,
modificationTime) and behaviorally (an INDEPENDENT log-replay reader
reconstructs every historical version bit-identical to the source
VersionedTable — time travel included). The reader never touches lakeflow
manifests, so agreement means the log itself carries the table.
"""

from __future__ import annotations

import glob
import json
import os

import pytest
from pyspark.sql import functions as F

from lakeflow.formats import export_delta, read_delta_log
from lakeflow.tables import VersionedTable


def _rows(df):
    return sorted(tuple(str(x) for x in r) for r in df.collect())


def test_full_history_round_trips_through_the_delta_log(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "src"))
    base = spark.range(20).selectExpr("id AS k", "CAST(id * 1.5 AS DOUBLE) AS v")
    t.commit(base.filter("k < 10").repartition(2))
    t.commit(base.filter("k >= 10").repartition(2), mode="append")
    t.commit(base.filter("k % 2 = 0"), mode="overwrite")
    # schema evolution: the commit must re-emit metaData
    t.commit(
        base.filter("k = 1").withColumn("w", F.lit("x")),
        mode="append",
        merge_schema=True,
    )
    out = str(tmp_path / "delta")
    assert export_delta(t, out) == 4

    versions = t.versions()
    for i, v in enumerate(versions):
        got = read_delta_log(spark, out, version=i)
        exp = t.read(version=v)
        assert sorted(got.columns) == sorted(exp.columns)
        assert _rows(got.select(*sorted(got.columns))) == _rows(
            exp.select(*sorted(exp.columns))
        )
    # default read = latest
    assert read_delta_log(spark, out).count() == t.read().count()


def test_commit_zero_is_protocol_conformant(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "src"))
    t.commit(
        spark.range(5).selectExpr("id AS k"),
        txn=("exporter_app", 7),
    )
    out = str(tmp_path / "delta")
    export_delta(t, out)
    (c0,) = sorted(glob.glob(os.path.join(out, "_delta_log", "*.json")))
    assert os.path.basename(c0) == "%020d.json" % 0
    actions = [json.loads(line) for line in open(c0)]
    kinds = [next(iter(a)) for a in actions]
    assert kinds[0] == "protocol" and kinds[1] == "metaData"
    proto = actions[0]["protocol"]
    assert proto["minReaderVersion"] == 1 and proto["minWriterVersion"] == 2
    meta = actions[1]["metaData"]
    for req in ("id", "format", "schemaString", "partitionColumns"):
        assert req in meta
    assert meta["format"]["provider"] == "parquet"
    assert {"appId": "exporter_app", "version": 7} in [
        a.get("txn") for a in actions
    ]
    adds = [a["add"] for a in actions if "add" in a]
    assert adds, "commit 0 must add the initial files"
    for add in adds:
        assert add["dataChange"] is True
        assert isinstance(add["partitionValues"], dict)
        assert add["size"] > 0 and "modificationTime" in add
        assert not os.path.isabs(add["path"])
        assert os.path.exists(os.path.join(out, add["path"]))


def test_partitioned_export_recovers_partition_column(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "src"))
    df = spark.range(12).selectExpr("id AS k", "CAST(id % 3 AS INT) AS p")
    t.commit(df, partition_by=["p"])
    out = str(tmp_path / "delta")
    export_delta(t, out)
    c0 = sorted(glob.glob(os.path.join(out, "_delta_log", "*.json")))[0]
    actions = [json.loads(line) for line in open(c0)]
    meta = next(a["metaData"] for a in actions if "metaData" in a)
    assert meta["partitionColumns"] == ["p"]
    adds = [a["add"] for a in actions if "add" in a]
    assert all(set(a["partitionValues"]) == {"p"} for a in adds)
    got = read_delta_log(spark, out)
    assert _rows(got.select("k", "p")) == _rows(t.read().select("k", "p"))


def test_export_guards_mor_debt_and_mixed_layouts(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "mor"))
    t.commit(spark.range(10).selectExpr("id AS k"))
    t.delete_where_mor("k < 3")
    with pytest.raises(ValueError, match="deletion-vector"):
        export_delta(t, str(tmp_path / "d1"))
    t.compact()
    assert export_delta(t, str(tmp_path / "d1")) >= 1

    t2 = VersionedTable(spark, str(tmp_path / "mixed"))
    df = spark.range(8).selectExpr("id AS k", "CAST(id % 2 AS INT) AS p")
    t2.commit(df.filter("k < 4"), partition_by=["p"])
    t2.commit(df.filter("k >= 4"), mode="append", partition_by=["k"])
    with pytest.raises(ValueError, match="partition layouts"):
        export_delta(t2, str(tmp_path / "d2"))


def test_import_delta_replays_history_into_a_versioned_table(spark, tmp_path):
    from lakeflow.formats import import_delta

    t = VersionedTable(spark, str(tmp_path / "src"))
    base = spark.range(15).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
    t.commit(base.filter("k < 8"))
    t.commit(base.filter("k >= 8"), mode="append")
    t.commit(base.filter("k % 3 = 0"), mode="overwrite")
    out = str(tmp_path / "delta")
    export_delta(t, out)

    imp = import_delta(spark, out, str(tmp_path / "imported"))
    assert len(imp.versions()) == 3
    for i, v in enumerate(t.versions()):
        assert _rows(imp.read(version=i + 1)) == _rows(t.read(version=v))
    ops = [r.operation for r in imp.snapshots().collect()]
    assert ops == [f"import_delta:{i}" for i in range(3)]


def test_constraints_export_as_delta_configuration(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "src"))
    t.commit(spark.range(5).selectExpr("id AS k"))
    t.add_constraint("k_nonneg", "k >= 0")
    out = str(tmp_path / "delta")
    export_delta(t, out)
    commits = sorted(glob.glob(os.path.join(out, "_delta_log", "*.json")))
    metas = [
        json.loads(line)["metaData"]
        for c in commits
        for line in open(c)
        if '"metaData"' in line
    ]
    # commit 0: no constraint yet; the add-constraint commit re-emits
    assert metas[0]["configuration"] == {}
    assert metas[-1]["configuration"] == {"delta.constraints.k_nonneg": "k >= 0"}


def test_delta_log_stream_source_emits_commits_and_resumes(spark, tmp_path):
    """Streaming from the exported _delta_log: an availableNow run emits
    every commit's added files (partition columns recovered); after the
    source table appends and the log re-exports, a start_commit-offset run
    emits only the new commit (the same exclusive-offset contract the
    engine checkpoint replays); a remove-bearing commit fails the stream
    unless on_change=skip drops it."""
    from lakeflow.formats import import_delta  # noqa: F401 (sanity import)
    from lakeflow.sources.delta_stream import register_delta_log_source
    from lakeflow.streaming.sinks import run_to_memory

    register_delta_log_source(spark)
    t = VersionedTable(spark, str(tmp_path / "src"))
    df = spark.range(9).selectExpr("id AS k", "CAST(id % 3 AS INT) AS p")
    t.commit(df.filter("k < 6"), partition_by=["p"])
    out = str(tmp_path / "delta")
    export_delta(t, out)

    ckpt = str(tmp_path / "ckpt")
    stream = spark.readStream.format("lakeflow_delta_log").option(
        "path", out
    ).load()
    name, q = run_to_memory(stream, name="dlog1")
    import pyspark.sql.functions as F  # noqa

    first = {(r.k, r.p) for r in spark.table(name).collect()}
    assert first == {(i, i % 3) for i in range(6)}

    # append at the source, re-export: the log gains commit 1
    t.commit(df.filter("k >= 6"), mode="append", partition_by=["p"])
    assert export_delta(t, out) == 2
    stream2 = spark.readStream.format("lakeflow_delta_log").option(
        "path", out
    ).option("start_commit", "0").load()
    name2, _ = run_to_memory(stream2, name="dlog2")
    second = {(r.k, r.p) for r in spark.table(name2).collect()}
    assert second == {(i, i % 3) for i in range(6, 9)}

    # a rewrite commit (overwrite) must fail... or skip with the option
    t.commit(df.filter("k = 0"), mode="overwrite")
    export_delta(t, out)
    stream3 = spark.readStream.format("lakeflow_delta_log").option(
        "path", out
    ).load()
    import pytest as _pt

    with _pt.raises(Exception, match="removes files|STREAM_FAILED"):
        run_to_memory(stream3, name="dlog3")
    stream4 = spark.readStream.format("lakeflow_delta_log").option(
        "path", out
    ).option("on_change", "skip").load()
    name4, _ = run_to_memory(stream4, name="dlog4")
    # change commit dropped: only the two append commits' rows
    assert spark.table(name4).count() == 9


def test_export_guards_rename_history_and_reads_empty_versions(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "ren"))
    t.commit(spark.range(4).selectExpr("id AS k", "id AS v"))
    t.rename_column("v", "w")
    with pytest.raises(ValueError, match="RENAME COLUMN history"):
        export_delta(t, str(tmp_path / "d"))
    # rewrite collapses the epochs to one physical name: export works again
    t.commit(t.read(), mode="overwrite")
    assert export_delta(t, str(tmp_path / "d")) >= 1
    got = read_delta_log(spark, str(tmp_path / "d"))
    assert sorted(got.columns) == ["k", "w"] and got.count() == 4

    # an all-removed (empty overwrite) version reads back as 0 rows
    t2 = VersionedTable(spark, str(tmp_path / "empty"))
    t2.commit(spark.range(3).selectExpr("id AS k"))
    t2.commit(spark.range(0).selectExpr("id AS k"), mode="overwrite")
    out2 = str(tmp_path / "d2")
    export_delta(t2, out2)
    assert read_delta_log(spark, out2).count() == 0
    assert read_delta_log(spark, out2, version=0).count() == 3


def test_generated_columns_export_as_generation_expressions(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "src"))
    t.commit(spark.createDataFrame([(1, "2024-05-01")], "k long, d string"))
    t.set_generated("y", "int", "CAST(substr(d, 1, 4) AS INT)")
    t.commit(
        spark.createDataFrame([(2, "2025-06-01")], "k long, d string"),
        mode="append",
    )
    out = str(tmp_path / "delta")
    export_delta(t, out)
    commits = sorted(glob.glob(os.path.join(out, "_delta_log", "*.json")))
    actions = [json.loads(line) for c in commits for line in open(c)]
    proto = next(a["protocol"] for a in actions if "protocol" in a)
    assert proto["minWriterVersion"] == 4  # generated-columns writer feature
    metas = [a["metaData"] for a in actions if "metaData" in a]
    fields = json.loads(metas[-1]["schemaString"])["fields"]
    y = next(f for f in fields if f["name"] == "y")
    assert (
        y["metadata"]["delta.generationExpression"]
        == "CAST(substr(d, 1, 4) AS INT)"
    )
    # derived values ride the data files; the replay reader sees them
    got = {(r.k, r.y) for r in read_delta_log(spark, out).collect()}
    assert got == {(1, None), (2, 2025)}


def test_import_restores_constraints_and_generated_declarations(spark, tmp_path):
    from lakeflow.formats import import_delta

    t = VersionedTable(spark, str(tmp_path / "src"))
    t.commit(spark.createDataFrame([(1, "2024-05-01")], "k long, d string"))
    t.add_constraint("k_pos", "k >= 0")
    t.set_generated("y", "int", "CAST(substr(d, 1, 4) AS INT)")
    t.commit(
        spark.createDataFrame([(2, "2025-06-01")], "k long, d string"),
        mode="append",
    )
    out = str(tmp_path / "delta")
    export_delta(t, out)
    imp = import_delta(spark, out, str(tmp_path / "imported"))
    assert imp.constraints() == {"k_pos": "k >= 0"}
    assert imp.generated_columns() == {
        "y": {"dtype": "int", "expr": "CAST(substr(d, 1, 4) AS INT)"}
    }
    # the imported table ENFORCES the policy: a new batch derives y and a
    # constraint breach is rejected
    imp.commit(
        spark.createDataFrame([(3, "2026-01-01")], "k long, d string"),
        mode="append",
    )
    assert {(r.k, r.y) for r in imp.read().collect()} == {
        (1, None), (2, 2025), (3, 2026),
    }
    import pytest as _pt
    from lakeflow.tables import ConstraintViolationError

    with _pt.raises(ConstraintViolationError):
        imp.commit(
            spark.createDataFrame([(-1, "2026-01-01")], "k long, d string"),
            mode="append",
        )
