"""End-to-end medallion pipeline: CSV bronze → cleaned silver → gold dim,
through the topological Pipeline runner (the reference's Airflow diamond in
one session)."""

from __future__ import annotations

import os

from lakeflow.catalog import load_table
from lakeflow.plans.medallion import build_medallion_pipeline

from .conftest import SF_DIR


def test_medallion_end_to_end(spark, tmp_path):
    wh = str(tmp_path / "warehouse")
    csv_dir = tmp_path / "csv"
    # Materialize fixture slices as the CSV landing zone the reference ingests.
    load_table(spark, SF_DIR, "customer").limit(50).coalesce(1).write.option(
        "header", True
    ).csv(str(csv_dir / "customer"))
    load_table(spark, SF_DIR, "nation").coalesce(1).write.option("header", True).csv(
        str(csv_dir / "nation")
    )

    pipe = build_medallion_pipeline(
        spark, str(csv_dir / "customer"), str(csv_dir / "nation"), wh
    )
    assert pipe.topo_order()[-1] == "gold_dim_customer"
    results = pipe.run()

    bronze = spark.read.parquet(results["bronze_customer"])
    assert "batch_id" in bronze.columns and "ingest_timestamp" in bronze.columns
    # bronze contract: source columns land as strings, partitioned by ingest date
    assert dict(bronze.dtypes)["c_acctbal"] == "string"
    assert os.path.isdir(results["bronze_customer"])

    silver = spark.read.parquet(results["silver_customer"])
    assert dict(silver.dtypes)["c_acctbal"] == "double"
    assert silver.count() <= 50

    gold = spark.read.parquet(results["gold_dim_customer"])
    assert set(gold.columns) == {
        "c_custkey",
        "c_name",
        "c_acctbal",
        "c_mktsegment",
        "nation_name",
    }
    assert gold.filter("nation_name IS NOT NULL").count() > 0


def test_path_exists_resolves_scheme_and_propagates_errors(spark, tmp_path):
    """ADVICE r10 (medium): the SCD1 first-load guard must answer through
    the Hadoop FileSystem resolved FOR the path — os.path.isdir is always
    False on remote URIs, silently skipping the upsert. Pins: plain local
    path, explicit file:// URI, missing path, and a scheme with no
    configured FileSystem PROPAGATES instead of reading as absent (the
    silent state-loss mode the guard exists to prevent)."""
    import pytest

    from lakeflow.catalog import path_exists

    d = tmp_path / "t"
    d.mkdir()
    assert path_exists(spark, str(d))
    assert path_exists(spark, f"file://{d}")
    assert not path_exists(spark, str(tmp_path / "absent"))
    with pytest.raises(Exception):
        path_exists(spark, "nosuchscheme://bucket/path")


def test_medallion_gold_dim_jobs_stay_in_the_callers_group(spark):
    """The query's two CSV exports run on a 2-worker pool; each worker
    inherits the caller's job group, so no job of the query escapes it."""
    from lakeflow.queries.medallion import medallion_gold_dim

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = "medallion-gold-dim-caller"
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup(group, group)
    try:
        assert medallion_gold_dim(spark, SF_DIR).count() > 0
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert set(tracker.getJobIdsForGroup(None)) - ungrouped == set()
    assert tracker.getJobIdsForGroup(group)
