"""Medallion pipeline graph: the reference's batch ELT DAG re-expressed as a
lakeflow Pipeline (SURVEY.md §3.3).

The reference runs five separate spark-submit applications under Airflow
(/root/reference/src/dags/batch_elt_company.py:34-71): load company → process
company, load industry → process industry, both → gold join (diamond). Here
the same diamond is one Pipeline in one session; tasks hand DataFrames (or
written-table paths) to dependents.

Storage is plain partitioned parquet via ``write_table`` — the pluggable-
format stance of SURVEY.md §7.1: swap ``format("parquet")`` for
iceberg/delta where those jars exist and the pipeline code is unchanged.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, IntegerType, LongType, StringType, StructField, StructType

from lakeflow.catalog import path_exists
from lakeflow.operators.merge import scd1_apply
from lakeflow.operators.transforms import (
    add_ingest_metadata,
    dedup_latest,
    handle_nulls,
    normalize_schema,
    nullify_nonpositive,
    trim_strings,
)
from lakeflow.operators.joins import star_flatten
from lakeflow.plans.runner import Pipeline
from lakeflow.sources.batch import read_csv_raw, read_parquet, remember_parquet_schema


def write_table(
    df: DataFrame,
    path: str,
    mode: str = "append",
    partition_by: list[str] | None = None,
    sort_by: list[str] | None = None,
) -> str:
    """Batch lakehouse sink (reference write_batch_to_bronze,
    _bronze_utils.py:60-66): partitioned parquet append/overwrite.

    ``sort_by`` sorts rows *within* each output task before writing, so
    parquet row-group min/max statistics become selective on those columns —
    at 100 TB this is what makes point/range reads skip row groups inside the
    surviving partitions (SCALE.md §1 layout guidance).

    An overwrite tells ``read_parquet`` the written schema, so the dependent
    task's read runs no inference job.
    """
    if sort_by:
        df = df.sortWithinPartitions(*sort_by)
    writer = df.write.mode(mode).format("parquet")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.save(path)
    remember_parquet_schema(df, path, mode, partition_by)
    return path


SILVER_CUSTOMER_SCHEMA = StructType(
    [
        StructField("c_custkey", LongType()),
        StructField("c_name", StringType()),
        StructField("c_nationkey", IntegerType()),
        StructField("c_acctbal", DoubleType()),
        StructField("c_mktsegment", StringType()),
    ]
)


def build_medallion_pipeline(
    spark: SparkSession,
    customer_csv: str,
    nation_csv: str,
    warehouse: str,
) -> Pipeline:
    """Bronze CSV → silver clean/dedup/SCD1 → gold star-flattened dim, as the
    reference's diamond DAG in one session."""
    pipe = Pipeline("batch_elt_customer")
    batch_id = uuid.uuid4().hex

    @pipe.task("bronze_customer")
    def bronze_customer(results: dict) -> str:
        raw = read_csv_raw(spark, customer_csv)  # all-string bronze contract
        stamped = add_ingest_metadata(raw, batch_id)
        return write_table(
            stamped,
            os.path.join(warehouse, "bronze", "customer"),
            mode="overwrite",
            partition_by=["ingest_year", "ingest_month"],
        )

    @pipe.task("bronze_nation")
    def bronze_nation(results: dict) -> str:
        raw = read_csv_raw(spark, nation_csv)
        stamped = add_ingest_metadata(raw, batch_id)
        return write_table(
            stamped,
            os.path.join(warehouse, "bronze", "nation"),
            mode="overwrite",
            partition_by=["ingest_year", "ingest_month"],
        )

    @pipe.task("silver_customer", deps=["bronze_customer"])
    def silver_customer(results: dict) -> str:
        df = read_parquet(spark, results["bronze_customer"])
        df = normalize_schema(df, SILVER_CUSTOMER_SCHEMA, keep_extra=False)
        df = trim_strings(df)
        df = nullify_nonpositive(df, ["c_acctbal"])
        df = handle_nulls(df, drop_subset=["c_custkey"])
        df = dedup_latest(df, ["c_custkey"], "c_acctbal", tiebreak_cols=["c_name"])
        path = os.path.join(warehouse, "silver", "customer")
        return write_table(df, path, mode="overwrite")

    @pipe.task("silver_nation", deps=["bronze_nation"])
    def silver_nation(results: dict) -> str:
        df = read_parquet(spark, results["bronze_nation"])
        df = df.select(
            F.col("n_nationkey").cast("int").alias("n_nationkey"),
            F.trim("n_name").alias("n_name"),
            F.col("n_regionkey").cast("int").alias("n_regionkey"),
        )
        path = os.path.join(warehouse, "silver", "nation")
        # SCD1 upsert against the previous silver state when one exists.
        # Path-existence precheck, not a broad except: a transient read
        # error or corrupt prior table must PROPAGATE — swallowing it
        # would silently skip the upsert and overwrite accumulated state
        # as if this were the first load (same failure mode ADVICE r9
        # flagged on the text-index append path). The check goes through
        # the Hadoop FileSystem resolved for the path so it answers
        # correctly on remote warehouse URIs too (ADVICE r10: a bare
        # os.path.isdir is always False on s3a://, skipping the upsert).
        if path_exists(spark, path):
            prev = read_parquet(spark, path)
            df = scd1_apply(prev, df, keys=["n_nationkey"])
        return write_table(df, path + "_next", mode="overwrite")

    @pipe.task("gold_dim_customer", deps=["silver_customer", "silver_nation"])
    def gold_dim_customer(results: dict) -> str:
        cust = read_parquet(spark, results["silver_customer"])
        nat = read_parquet(spark, results["silver_nation"])
        dim = star_flatten(cust, [(nat, "c_nationkey", "n_nationkey")]).select(
            "c_custkey", "c_name", "c_acctbal", "c_mktsegment",
            F.col("n_name").alias("nation_name"),
        )
        return write_table(
            dim, os.path.join(warehouse, "gold", "dim_customer"), mode="overwrite"
        )

    return pipe
