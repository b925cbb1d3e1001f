"""Batch sources (SURVEY.md §2.1 S1, S4, S7).

* ``read_csv_raw`` — the reference's bronze CSV ingest: header, NO schema
  inference, every column a string (/root/reference/src/bronze/_bronze_utils.py:26-28).
  Inference is a full extra pass over the data — never at 100 TB.
* ``read_csv_typed`` — explicit-schema variant (the right way to type CSV).
* ``incremental_read`` — S4 high-watermark CDC scan: full load when the target
  is empty, else rows strictly newer than the target's max watermark column
  (/root/reference/src/silver/_silver_utils.py:35-49). The watermark becomes a
  literal predicate, so it pushes down to the scan and prunes partitions.
* ``read_parquet`` — parquet scan that remembers the schema of every local
  file set the session has read or written (``remember_parquet_schema``), so
  a repeat read skips Spark's footer-inference job.
"""

from __future__ import annotations

import os
import threading
from collections import OrderedDict
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    ByteType,
    DateType,
    DecimalType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    MapType,
    ShortType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)


def read_csv_raw(spark: SparkSession, path: str) -> DataFrame:
    """All-string CSV scan (bronze contract: types applied later by
    normalize_schema)."""
    return spark.read.csv(path, header=True, inferSchema=False)


def read_csv_typed(spark: SparkSession, path: str, schema: StructType) -> DataFrame:
    """Explicit-schema CSV scan — no inference pass."""
    return spark.read.csv(path, header=True, schema=schema)


# Session confs that change what footer inference returns for one file set.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
)
# (path, conf values) -> (file fingerprint, schema), least recently used
# first. One entry per path and conf set, so a rewritten table replaces its
# entry instead of piling up; the bound caps the per-run scratch dirs.
_MEMO_MAX = 256
_memo: OrderedDict[tuple, tuple[tuple, StructType]] = OrderedDict()
_memo_lock = threading.Lock()
_SUMMARY_FILES = ("_common_metadata", "_metadata")
# Types whose Spark schema reads back from a Spark-written parquet file as
# written (nullability aside); TimestampNTZ, char/varchar, collated strings,
# intervals, variants and UDTs are left to inference.
_ROUND_TRIP = (
    BooleanType, ByteType, ShortType, IntegerType, LongType, FloatType,
    DoubleType, DecimalType, BinaryType, DateType, TimestampType,
)


def _hidden(name: str) -> bool:
    """Spark's file-listing filter (``InMemoryFileIndex``): ``_``/``.``
    names other than partition dirs and parquet summary files, and files
    still being copied."""
    if name.startswith(_SUMMARY_FILES):
        return False
    return (
        (name.startswith("_") and "=" not in name)
        or name.startswith(".")
        or name.endswith("._COPYING_")
    )


def _fingerprint(root: str) -> tuple | None:
    """(relative name, size, mtime_ns) of every file Spark would list under
    ``root``, sorted; None when there is no data file (Spark's own inference
    error stays) or the path cannot be read."""
    try:
        if os.path.isfile(root):
            st = os.stat(root)
            return (("", st.st_size, st.st_mtime_ns),)
        files = []
        for d, dirs, names in os.walk(root, followlinks=True):
            dirs[:] = [n for n in dirs if not _hidden(n)]
            for n in names:
                if not _hidden(n):
                    full = os.path.join(d, n)
                    st = os.stat(full)
                    files.append((os.path.relpath(full, root), st.st_size, st.st_mtime_ns))
    except OSError:
        return None
    if not any(not os.path.basename(f).startswith("_") for f, _, _ in files):
        return None
    return tuple(sorted(files))


def _local_key(spark: SparkSession, path: str) -> tuple | None:
    """``(absolute local path, inference confs)`` for a path on the driver's
    local filesystem; None for globs, relative paths and every other
    filesystem."""
    if any(c in path for c in "*?[{"):
        return None
    url = urlparse(path)
    if url.scheme == "file":
        local = url.path
    elif url.scheme == "":
        fs = spark.sparkContext._jsc.hadoopConfiguration().get("fs.defaultFS")
        if fs and not fs.startswith("file:"):
            return None
        local = path
    else:
        return None
    if not os.path.isabs(local):
        return None
    return os.path.normpath(local), tuple(spark.conf.get(k) for k in _INFERENCE_CONFS)


def _remember(key: tuple, fingerprint: tuple, schema: StructType) -> None:
    with _memo_lock:
        _memo[key] = (fingerprint, schema)
        _memo.move_to_end(key)
        while len(_memo) > _MEMO_MAX:
            _memo.popitem(last=False)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` without the footer-inference job when the
    session already knows the schema of exactly these files.

    The memo holds a schema keyed on the local file fingerprint (each data
    file's relative name, size and mtime_ns) and the inference confs; any
    change to either infers again. A path it cannot fingerprint (non-local
    URI, glob, no data file) is always inferred. It holds a schema, never a
    DataFrame: each call builds a fresh relation, so two reads of one table
    self-join without colliding attribute ids.
    """
    key = _local_key(spark, path)
    fingerprint = _fingerprint(key[0]) if key else None
    if fingerprint is not None:
        with _memo_lock:
            hit = _memo.get(key)
        if hit is not None and hit[0] == fingerprint:
            return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    if fingerprint is not None:
        # Fingerprinted before the read: a concurrent rewrite leaves a key
        # no later read matches, never a stale schema under a new key.
        _remember(key, fingerprint, df.schema)
    return df


def _round_trips(dt) -> bool:
    if isinstance(dt, StructType):
        return all(
            _round_trips(f.dataType) and "__CHAR_VARCHAR_TYPE_STRING" not in f.metadata
            for f in dt.fields
        )
    if isinstance(dt, ArrayType):
        return _round_trips(dt.elementType)
    if isinstance(dt, MapType):
        return _round_trips(dt.keyType) and _round_trips(dt.valueType)
    if isinstance(dt, StringType):
        return dt == StringType()
    return isinstance(dt, _ROUND_TRIP)


def _as_nullable(dt):
    """Every field, element and value nullable, as Spark reads files back."""
    if isinstance(dt, StructType):
        return StructType(
            [
                StructField(f.name, _as_nullable(f.dataType), True, f.metadata)
                for f in dt.fields
            ]
        )
    if isinstance(dt, ArrayType):
        return ArrayType(_as_nullable(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(_as_nullable(dt.keyType), _as_nullable(dt.valueType), True)
    return dt


def remember_parquet_schema(
    df: DataFrame, path: str, mode: str, partition_by: list[str] | None = None
) -> None:
    """Seed ``read_parquet``'s memo after ``df`` was written to ``path``
    with ``mode``. Only a write that leaves ``df``'s files alone under
    ``path`` seeds it: an overwrite, and with ``partition_by`` a static one
    (a dynamic one keeps the other partitions' files). The data columns are
    remembered, all nullable; partition columns are left out, so Spark
    still infers them from the directory names. Skipped when a type would
    not read back as written."""
    spark = df.sparkSession
    if mode != "overwrite" or (
        partition_by
        and spark.conf.get("spark.sql.sources.partitionOverwriteMode").upper() != "STATIC"
    ):
        return
    key = _local_key(spark, path)
    fingerprint = _fingerprint(key[0]) if key else None
    if fingerprint is None or not _round_trips(df.schema):
        return
    parts = {c.lower() for c in partition_by or ()}
    data = StructType([f for f in df.schema.fields if f.name.lower() not in parts])
    _remember(key, fingerprint, _as_nullable(data))


def incremental_read(
    source: DataFrame,
    target: DataFrame | None,
    watermark_col: str,
) -> DataFrame:
    """High-watermark incremental scan.

    Full scan when ``target`` is None/empty; otherwise only rows with
    ``watermark_col`` strictly greater than the target's max. Two tiny driver
    jobs (emptiness probe + scalar max — parquet footer stats make the max
    near-free), then one filtered scan.
    """
    if target is None or target.isEmpty():
        return source
    hw = target.agg(F.max(watermark_col).alias("hw")).collect()[0]["hw"]
    if hw is None:
        return source
    return source.filter(F.col(watermark_col) > F.lit(hw))


def read_jsonl(
    spark: SparkSession, path: str, schema: StructType | str | None = None
) -> DataFrame:
    """JSON-lines source — the interchange format of LLM data pipelines.

    With an explicit schema the read is a single pass; without one Spark
    samples the file to infer (avoid at scale: it double-reads). Corrupt lines
    land in ``_corrupt_record`` instead of failing the job (PERMISSIVE), which
    is the right default for web-scraped corpora.
    """
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.option("mode", "PERMISSIVE").json(path)


def write_jsonl(df: DataFrame, path: str, mode: str = "overwrite") -> str:
    """JSON-lines sink (one JSON object per line, UTF-8)."""
    df.write.mode(mode).json(path)
    return path


def read_binary_files(
    spark: SparkSession, path: str, glob: str | None = None
) -> DataFrame:
    """Raw media ingestion via Spark's built-in ``binaryFile`` source:
    (path, modificationTime, length, content binary) — the real on-ramp for
    image/audio/video directories feeding lakeflow.operators.multimodal.
    Scale note: set ``spark.sql.files.maxPartitionBytes`` per media size and
    avoid tiny-file explosions by compacting upstream or reading archives.
    """
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(path)
