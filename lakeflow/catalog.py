"""Table registry over the parquet fixture layout.

Replaces the reference's hard-coded ``iceberg.<layer>.<table>`` strings
(/root/reference/src/silver/_silver_utils.py:43, /root/reference/src/gold/_gold_utils.py:32)
with a declarative registry. Storage format is pluggable by construction: these
helpers only assume "a path that spark.read.parquet understands", so swapping in
an Iceberg/Delta catalog is a one-line change where those jars exist.

At 100 TB the same read path works unchanged: parquet scans get column pruning
and predicate pushdown from the DataSource V2 reader, and partitioned layouts
(`dir/col=val/`) get partition pruning for free — keep filters on raw columns
so they reach the scan.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lakeflow.sources.batch import read_parquet

TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def path_exists(spark: SparkSession, path: str) -> bool:
    """Existence check through the Hadoop FileSystem resolved FOR this path.

    ``os.path.isdir`` only answers for the driver's local filesystem — on any
    remote warehouse URI (s3a://, hdfs://, abfs://) it is always False, which
    turns "upsert against prior state" guards into silent first-load
    overwrites (ADVICE r10, medallion SCD1 guard). Resolving the FileSystem
    from the path URI gives the same answer the executors' read path would,
    on every scheme the cluster's Hadoop conf knows. Errors other than
    not-found (permissions, transient IO) PROPAGATE — swallowing them would
    recreate the same silent state-loss this exists to prevent.
    """
    jvm = spark.sparkContext._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    return jpath.getFileSystem(hconf).exists(jpath)


def _enable_nanos_as_long(spark: SparkSession) -> None:
    """events.parquet carries TIMESTAMP(NANOS) — Spark has no nanos timestamp,
    so read it as int64 nanos and convert (see convert_nanos_ts)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


def convert_nanos_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """int64 nanos → TIMESTAMP at microsecond precision (integer div — double
    math would lose precision above 2^53 ns).

    Guarded on the observed dtype: fixtures have shipped ``ts`` both as
    TIMESTAMP(NANOS) (surfaces as bigint under nanosAsLong) and as plain
    timestamp[us]; when the column is already a timestamp this is a no-op, so
    every caller — batch or streaming — is safe against either layout.
    """
    from pyspark.sql.types import LongType

    if not isinstance(df.schema[col].dataType, LongType):
        return df
    return df.withColumn(col, F.timestamp_micros(F.expr(f"{col} div 1000")))


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table as a DataFrame (lazy parquet scan).

    The read goes through ``sources.batch.read_parquet``, which remembers
    the schema Spark inferred for the file. The memo keys on the file's
    fingerprint (each data file's relative name, size and mtime_ns) and on
    the session confs that change inference (nanosAsLong,
    inferTimestampNTZ, binaryAsString, int96AsTimestamp, mergeSchema), so a
    second load of an unchanged table runs no footer-inference job and a
    rewritten one is inferred again. It holds the schema, not the
    DataFrame: every call builds a fresh relation with fresh attribute ids,
    so two loads of one table can be self-joined.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    if name == "events":
        _enable_nanos_as_long(spark)
        df = read_parquet(spark, table_path(sf_dir, name))
        if dict(df.dtypes).get("ts") == "bigint":
            df = convert_nanos_ts(df)
        return df
    return read_parquet(spark, table_path(sf_dir, name))


def register_views(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> None:
    """Register every fixture table as a temp view for spark.sql() queries."""
    for name in names:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int = 16,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist a managed table bucketed (and optionally sorted) on the join
    key — the co-located-join layout (SCALE.md §2, SURVEY.md §7.2 M6).

    Two tables bucketed on the same key with the same bucket count join with
    NO exchange on either side: at 100 TB that removes the dominant shuffle
    of every repeated fact-fact join. Sorting within buckets additionally
    removes the sort of a sort-merge join.
    """
    writer = df.write.mode(mode).format("parquet").bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)


def zorder_value(
    df: DataFrame, cols: list[str], bits: int = 16
) -> tuple[DataFrame, str]:
    """Add an interleaved-bit Z-curve value over ``cols`` (numeric).

    Each column is linearly scaled to a ``bits``-bit integer using its global
    min/max (one tiny driver-side agg), then the bit strings are interleaved
    so nearby Z-values are nearby in EVERY dimension. All expressions are
    JVM-side bit arithmetic — no UDF. Returns (df_with_col, col_name).
    """
    from pyspark.sql import functions as F

    row = df.agg(
        *[F.min(c).alias(f"lo_{c}") for c in cols],
        *[F.max(c).alias(f"hi_{c}") for c in cols],
    ).collect()[0]
    scaled = []
    top = (1 << bits) - 1
    for c in cols:
        lo_raw, hi_raw = row[f"lo_{c}"], row[f"hi_{c}"]
        if lo_raw is None:
            # All-NULL column (e.g. freshly ALTER-ADDed): no information to
            # interleave — contribute constant zero bits for this dimension.
            scaled.append(F.lit(0).cast("bigint"))
            continue
        lo, hi = float(lo_raw), float(hi_raw)
        span = (hi - lo) or 1.0
        scaled.append(
            F.coalesce(
                F.least(
                    F.lit(top),
                    F.floor(
                        (F.col(c).cast("double") - lo) / span * top
                    ).cast("bigint"),
                ),
                F.lit(0).cast("bigint"),  # NULL rows sort to the Z origin
            )
        )
    z = F.lit(0).cast("bigint")
    n = len(cols)
    for bit in range(bits):
        for i, s in enumerate(scaled):
            z = z + F.shiftleft(
                F.shiftright(s, bit).bitwiseAND(F.lit(1)), bit * n + i
            )
    name = "_zorder"
    return df.withColumn(name, z), name


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    n_files: int = 16,
    mode: str = "overwrite",
) -> None:
    """Write parquet clustered on the Z-curve of ``cols`` — multi-dimensional
    file skipping (the Delta/Iceberg OPTIMIZE ZORDER layout).

    Range-partitioning on the Z-value gives every output file a tight
    min/max envelope on EVERY clustered column, so a predicate on any of
    them prunes most files from their parquet footers alone — single-column
    sorting can only do this for the leading column. At 100 TB this is the
    layout that makes point/range lookups on two+ dimensions IO-bound on a
    handful of files instead of the whole table.
    """
    zdf, zcol = zorder_value(df, cols)
    (
        zdf.repartitionByRange(n_files, zcol)
        .sortWithinPartitions(zcol)
        .drop(zcol)
        .write.mode(mode)
        .format("parquet")
        .save(path)
    )
