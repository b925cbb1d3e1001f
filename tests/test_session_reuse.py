"""What one session reuses across queries: the classes whole-stage codegen
compiled, and the parquet schemas it already inferred or wrote
(``lakeflow.sources.batch.read_parquet``)."""

from __future__ import annotations

import datetime
import json

import pyarrow as pa
import pyarrow.parquet as pq

import bench
from lakeflow.catalog import TABLES, load_table, table_path
from lakeflow.plans.medallion import build_medallion_pipeline, write_table
from lakeflow.queries import QUERIES
from lakeflow.sources.batch import read_parquet

from .conftest import SF_DIR

# The ops of lakebench's batch_elt workload.
BATCH_ELT = (
    "q3_shipping_priority",
    "candles_15m",
    "scd2_customer_state",
    "medallion_gold_dim",
)


def _jobs(spark, thunk) -> int:
    """Spark jobs ``thunk`` submits from this thread."""
    sc = spark.sparkContext
    group = f"reuse-{id(thunk)}"
    sc.setJobGroup(group, group)
    try:
        thunk()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_second_round_of_batch_elt_ops_reuses_compiled_classes(spark):
    """The four ops' generated classes fit the session's codegen cache, so a
    second round compiles only medallion's per-run ``current_timestamp``
    literal classes; with Spark's 100-entry default it recompiled 48."""

    def round_() -> None:
        spark.catalog.clearCache()
        for name in BATCH_ELT:
            QUERIES[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()

    round_()
    before = bench._compiles(spark)
    round_()
    assert bench._compiles(spark) - before <= 4


def test_second_load_table_runs_no_job(spark):
    load_table(spark, SF_DIR, "orders")
    assert _jobs(spark, lambda: load_table(spark, SF_DIR, "orders").schema) == 0


def test_served_schema_equals_inferred_for_fixtures(spark):
    for name in TABLES:
        path = table_path(SF_DIR, name)
        read_parquet(spark, path)
        served = read_parquet(spark, path)
        assert served.schema == spark.read.parquet(path).schema, name


def test_pipeline_outputs_are_served_as_inferred_without_a_job(spark, tmp_path):
    """Every table the medallion pipeline writes (two partitioned bronze
    tables, two silver, one gold) reads back with the schema and rows that
    inference gives, and without an inference job."""
    csv = {}
    for name in ("customer", "nation"):
        csv[name] = str(tmp_path / f"{name}_csv")
        load_table(spark, SF_DIR, name).write.option("header", True).csv(csv[name])
    pipe = build_medallion_pipeline(
        spark, csv["customer"], csv["nation"], str(tmp_path / "wh")
    )
    results = pipe.run()
    assert len(results) == 5
    for task, path in results.items():
        assert _jobs(spark, lambda: read_parquet(spark, path).schema) == 0, task
        served, inferred = read_parquet(spark, path), spark.read.parquet(path)
        assert served.schema == inferred.schema, task
        assert sorted(served.collect()) == sorted(inferred.collect()), task


def test_types_that_do_not_round_trip_are_inferred(spark, tmp_path):
    """TimestampNTZ and nested nullable types: whether or not the write
    seeds the memo, the served schema is the inferred one."""
    df = spark.createDataFrame(
        [(1, datetime.datetime(2024, 1, 2, 3, 4, 5), [1, None], {"k": 1.5})],
        "id int, ts_ntz timestamp_ntz, xs array<int>, m map<string,double>",
    )
    path = write_table(df, str(tmp_path / "t"), mode="overwrite", partition_by=["id"])
    assert read_parquet(spark, path).schema == spark.read.parquet(path).schema
    path = write_table(df.drop("ts_ntz"), str(tmp_path / "u"), mode="overwrite")
    assert read_parquet(spark, path).schema == spark.read.parquet(path).schema


def test_rewritten_parquet_is_inferred_again(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert read_parquet(spark, path).columns == ["a"]
    pq.write_table(pa.table({"b": ["x"], "c": [1.5]}), path)
    df = read_parquet(spark, path)
    assert df.columns == ["b", "c"] and [tuple(r) for r in df.collect()] == [("x", 1.5)]

    # A directory overwritten outside write_table: new files, new schema.
    root = str(tmp_path / "dir")
    write_table(spark.range(3), root, mode="overwrite")
    assert read_parquet(spark, root).columns == ["id"]
    spark.createDataFrame([("y",)], "s string").write.mode("overwrite").parquet(root)
    assert read_parquet(spark, root).columns == ["s"]


def test_two_loads_of_one_table_self_join(spark):
    """Each load is a fresh relation: the join condition compares two
    sides, not one row with itself."""
    a = load_table(spark, SF_DIR, "nation")
    b = load_table(spark, SF_DIR, "nation")
    rows = a.collect()
    want = sum(x.n_nationkey == y.n_regionkey for x in rows for y in rows)
    assert a.join(b, a.n_nationkey == b.n_regionkey).count() == want


def test_bench_record_counts_compiles_per_pass(spark, tmp_path, capsys):
    assert bench._run(spark, SF_DIR, ["q6_forecast_revenue"], [], str(tmp_path)) == 0
    (path,) = tmp_path.iterdir()
    rec = json.loads(path.read_text())
    assert set(rec["codegen_compiles"]) == {"cold", "warm", "warm_b", "tail"}
    assert all(isinstance(v, int) and v >= 0 for v in rec["codegen_compiles"].values())
    assert "codegen_compiles" not in rec["totals"]
