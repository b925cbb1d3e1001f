"""Pushdown-capable batch DataSource over :class:`VersionedTable` —
``spark.read.format("lakeflow_table").option("path", root).load()``.

This is the Catalyst-integration lane for the table format (the role
Iceberg's Spark runtime jar plays for the reference,
/root/reference/docker/spark/conf/spark-defaults.conf:8-12): plain
DataFrame/SQL predicates reach the source through the PySpark 4 DataSource
``pushFilters`` hook, and the source prunes MANIFEST METADATA before any
byte is read —

- per-dir zone-map stats (range + equality),
- per-dir Bloom bitmaps (equality on high-cardinality unclustered keys),
- hidden partition transforms at FILE granularity: each data file's
  ``_p_*=value`` path segments are compared against the transformed
  predicate bounds — ordered transforms (year/month/day/truncate) by
  interval arithmetic widened ±1 day against timezone drift, ``bucket(n)``
  by an exact Python twin of Spark's Murmur3 ``hashLong``/``hashInt``
  (cross-checked against ``F.hash`` in tests; a twin that ever diverged
  would over-prune, so the test sweeps negatives, zero and both int widths).

Every filter is RETURNED from ``pushFilters`` (Spark re-applies all of them
row-wise), so pruning can only skip files whose path/stat metadata proves
they hold no qualifying row — over-keeping is the only possible error mode.

Executor-side, ``read`` decodes parquet with pyarrow (C++), applies the
manifest's deletion vectors by row position (the same ``_metadata.row_index``
contract the JVM scan uses), injects identity-partition path values, null-
fills columns a file predates (metadata-only schema evolution), and yields
Arrow record batches. Tables using rename aliases, column masks or row
filters are refused — those read through ``VersionedTable`` APIs, which stay
the fast path generally: this source trades the JVM parquet reader for
automatic predicate-driven pruning under arbitrary Spark SQL.
"""

from __future__ import annotations

import datetime as _dt
import json
import os
from collections.abc import Iterator

from dataclasses import dataclass, field

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)

# ---------------------------------------------------------------------------
# Murmur3 x86_32 twin of org.apache.spark.unsafe.hash.Murmur3_x86_32
# (seed 42 — Spark's F.hash default) for integral bucket keys.
# ---------------------------------------------------------------------------

_M32 = 0xFFFFFFFF


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (32 - r))) & _M32


def _mix_k1(k1: int) -> int:
    k1 = (k1 * 0xCC9E2D51) & _M32
    k1 = _rotl(k1, 15)
    return (k1 * 0x1B873593) & _M32


def _mix_h1(h1: int, k1: int) -> int:
    h1 ^= k1
    h1 = _rotl(h1, 13)
    return (h1 * 5 + 0xE6546B64) & _M32


def _fmix(h1: int, length: int) -> int:
    h1 ^= length
    h1 ^= h1 >> 16
    h1 = (h1 * 0x85EBCA6B) & _M32
    h1 ^= h1 >> 13
    h1 = (h1 * 0xC2B2AE35) & _M32
    h1 ^= h1 >> 16
    return h1


def _signed32(x: int) -> int:
    return x - (1 << 32) if x >= (1 << 31) else x


def murmur3_hash_int(value: int, seed: int = 42) -> int:
    """Spark ``F.hash`` of an int/short/byte column value (hashInt)."""
    h1 = _mix_h1(seed & _M32, _mix_k1(value & _M32))
    return _signed32(_fmix(h1, 4))


def murmur3_hash_long(value: int, seed: int = 42) -> int:
    """Spark ``F.hash`` of a bigint column value (hashLong: low word then
    high word, length 8)."""
    v = value & 0xFFFFFFFFFFFFFFFF
    h1 = seed & _M32
    h1 = _mix_h1(h1, _mix_k1(v & _M32))
    h1 = _mix_h1(h1, _mix_k1((v >> 32) & _M32))
    return _signed32(_fmix(h1, 8))


# ---------------------------------------------------------------------------
# Driver-side planning (pure functions — unit-testable without Spark)
# ---------------------------------------------------------------------------

_NULL_SEG = "__HIVE_DEFAULT_PARTITION__"


def _strip_scheme(path: str) -> str:
    """``file:/x`` / ``file:///x`` → ``/x`` (Spark SQL's CREATE TABLE ...
    OPTIONS path arrives scheme-qualified; local reads want a plain path)."""
    if path.startswith("file:"):
        rest = path[len("file:"):]
        return "/" + rest.lstrip("/")
    return path


def _open_table(root: str):
    """Read handle on the existing table at ``root``. A missing table
    raises instead of being created, as ``VersionedTable.__init__`` would."""
    from lakeflow.tables import VersionedTable

    root = _strip_scheme(root)
    if not os.path.isdir(os.path.join(root, "_snapshots")):
        raise FileNotFoundError(f"no table at {root}")
    return VersionedTable(None, root)


def _ordered_transform_bounds(fn: str, n: int | None, lo, hi):
    """Transformed [lo, hi] for the ordered transforms, widened one DAY each
    side before transforming (timestamp literals may sit in a different
    session timezone than the write side used; ±24h covers every offset).
    Returns (t_lo, t_hi) or None when not computable for these values."""

    def widen(v, delta):
        if isinstance(v, _dt.datetime):
            return v + delta
        if isinstance(v, _dt.date):
            return v + delta
        return v  # strings (truncate) need no widening

    def t(v):
        if fn == "year":
            return v.year if isinstance(v, (_dt.date, _dt.datetime)) else None
        if fn == "month":
            if isinstance(v, (_dt.date, _dt.datetime)):
                return (v.year - 1970) * 12 + v.month - 1
            return None
        if fn == "day":
            if isinstance(v, _dt.datetime):
                return v.date().isoformat()
            if isinstance(v, _dt.date):
                return v.isoformat()
            return None
        if fn == "truncate":
            return str(v)[:n] if isinstance(v, str) else None
        return None

    if lo is None or hi is None:
        return None  # open range: skip transform pruning, stats still apply
    t_lo = t(widen(lo, _dt.timedelta(days=-1)))
    t_hi = t(widen(hi, _dt.timedelta(days=1)))
    if t_lo is None or t_hi is None:
        return None
    return t_lo, t_hi


def _bucket_value(value, n: int, dtype: str) -> int | None:
    """The hidden bucket a point-lookup value lands in, or None when the
    column type has no verified hash twin (strings use Spark's byte-wise
    tail mixing — unreplicated here, so bucket pruning just disengages)."""
    if not isinstance(value, int) or isinstance(value, bool):
        return None
    if dtype in ("bigint", "long"):
        return murmur3_hash_long(value) % n
    if dtype in ("int", "integer", "smallint", "short", "tinyint", "byte"):
        return murmur3_hash_int(value) % n
    return None


def _parse_segments(rel_path: str) -> dict[str, str]:
    """``a=1/b=x/part-0.parquet`` → {"a": "1", "b": "x"} (hive-unescaped)."""
    from urllib.parse import unquote

    out = {}
    for seg in rel_path.split(os.sep)[:-1]:
        if "=" in seg:
            k, v = seg.split("=", 1)
            out[k] = unquote(v)
    return out


def plan_files(
    root: str,
    version: int | None,
    eq: dict,
    ranges: dict,
    schema_types: dict[str, str],
) -> tuple[list[dict], dict]:
    """Manifest-pruned file plan: [{"path", "inject", "dir"}], manifest.

    ``eq``: {col: value} equality predicates; ``ranges``: {col: [lo, hi]}
    with None for open ends. Pruning tiers: the table's scan planner
    (``tables.plan_dirs``: dir zone maps and Bloom bits) → per-file
    partition-segment checks (identity values, ordered transforms, bucket
    twin)."""
    from lakeflow.tables import _parse_partition_spec, plan_dirs

    m = _open_table(root)._snapshot(version)
    bounds: dict[str, list] = {}
    for c, v in eq.items():
        bounds[c] = [v, v]
    for c, (lo, hi) in ranges.items():
        b = bounds.setdefault(c, [None, None])
        if lo is not None and (b[0] is None or lo > b[0]):
            b[0] = lo
        if hi is not None and (b[1] is None or hi < b[1]):
            b[1] = hi

    dirs = plan_dirs(m, between=ranges, points={c: [v] for c, v in eq.items()})
    hidden_specs = m.get("hidden_specs", {})
    files: list[dict] = []
    for d in dirs:
        specs_by_col = {}
        for spec_str in hidden_specs.get(d, {}).values():
            p = _parse_partition_spec(spec_str)
            specs_by_col[p["col"]] = p
        for dirpath, _sub, names in sorted(os.walk(d)):
            for fname in sorted(names):
                if not fname.endswith(".parquet"):
                    continue
                fpath = os.path.join(dirpath, fname)
                seg = _parse_segments(os.path.relpath(fpath, d))
                if not _file_admitted(seg, specs_by_col, bounds, schema_types):
                    continue
                inject = {
                    k: (None if v == _NULL_SEG else v)
                    for k, v in seg.items()
                    if not k.startswith("_p_")
                }
                files.append({"path": fpath, "inject": inject, "dir": d})
    return files, m


def _file_admitted(
    segments: dict[str, str],
    specs_by_col: dict[str, dict],
    bounds: dict[str, list],
    schema_types: dict[str, str],
) -> bool:
    for col, (lo, hi) in bounds.items():
        # Identity partition value sits directly in the path.
        if col in segments:
            raw = segments[col]
            if raw == _NULL_SEG:
                return False  # eq/range predicates never admit NULL
            dtype = schema_types.get(col, "")
            try:
                val = int(raw) if dtype in ("bigint", "long", "int", "integer") else raw
                if lo is not None and val < lo:
                    return False
                if hi is not None and val > hi:
                    return False
            except (ValueError, TypeError):
                pass
        s = specs_by_col.get(col)
        if s is None or s["hidden"] not in segments:
            continue
        raw = segments[s["hidden"]]
        if raw == _NULL_SEG:
            return False
        if s["fn"] == "bucket":
            if lo is None or hi is None or lo != hi:
                continue  # bucket is hash-ordered: equality only
            b = _bucket_value(lo, s["n"], schema_types.get(col, ""))
            if b is not None and int(raw) != b:
                return False
            continue
        tb = _ordered_transform_bounds(s["fn"], s["n"], lo, hi)
        if tb is None:
            continue
        t_lo, t_hi = tb
        val: object = raw
        if s["fn"] in ("year", "month"):
            try:
                val = int(raw)
            except ValueError:
                continue
        if val < t_lo or val > t_hi:
            return False
    return True


# ---------------------------------------------------------------------------
# The DataSource
# ---------------------------------------------------------------------------


class LakeflowTableDataSource(DataSource):
    """``format("lakeflow_table")``; options: path, version (optional)."""

    @classmethod
    def name(cls) -> str:
        return "lakeflow_table"

    def _manifest(self) -> dict:
        root = self.options.get("path")
        if not root:
            raise ValueError("option 'path' (table root) is required")
        v = self.options.get("version")
        return _open_table(root)._snapshot(int(v) if v is not None else None)

    def schema(self):
        from pyspark.sql.types import StructType

        m = self._manifest()
        raw = m.get("schema")
        if raw is None:
            raise ValueError("table has no recorded schema")
        st = StructType.fromJson(json.loads(raw))
        from lakeflow.tables import VersionedTable

        if any((f.metadata or {}).get(VersionedTable.ALIASES_KEY) for f in st.fields):
            raise ValueError(
                "renamed-column tables read through VersionedTable.read()"
            )
        if m.get("masks") or m.get("row_filters"):
            raise ValueError(
                "governed tables read through VersionedTable.read_governed()"
            )
        return st

    def reader(self, schema) -> "LakeflowTableReader":
        v = self.options.get("version")
        return LakeflowTableReader(
            self.options["path"], int(v) if v is not None else None, schema
        )

    def writer(self, schema, overwrite: bool) -> "LakeflowTableWriter":
        root = self.options.get("path")
        if not root:
            raise ValueError("option 'path' (table root) is required")
        return LakeflowTableWriter(root, schema, overwrite)

    def streamWriter(self, schema, overwrite: bool):  # noqa: N802 (API name)
        root = self.options.get("path")
        if not root:
            raise ValueError("option 'path' (table root) is required")
        if overwrite:
            raise ValueError(
                "streaming writes append only (use outputMode('append'))"
            )
        return LakeflowTableStreamWriter(
            root, schema, self.options.get("txn_app", "lakeflow_pystream")
        )


class LakeflowTableReader(DataSourceReader):
    def __init__(self, root: str, version: int | None, schema) -> None:
        self.root = _strip_scheme(root)
        self.version = version
        self.schema = schema
        self.eq: dict = {}
        self.ranges: dict = {}

    def pushFilters(self, filters):  # noqa: N802 (API name)
        for f in filters:
            col = ".".join(f.attribute) if isinstance(f.attribute, tuple) else str(f.attribute)
            if isinstance(f, EqualTo):
                self.eq[col] = f.value
            elif isinstance(f, (GreaterThan, GreaterThanOrEqual)):
                b = self.ranges.setdefault(col, [None, None])
                if b[0] is None or f.value > b[0]:
                    b[0] = f.value
            elif isinstance(f, (LessThan, LessThanOrEqual)):
                b = self.ranges.setdefault(col, [None, None])
                if b[1] is None or f.value < b[1]:
                    b[1] = f.value
        # Strict bounds treated as closed = conservative. EVERY filter goes
        # back to Spark for row-level re-application: pushdown here only
        # prunes metadata, it never assumes filtering responsibility.
        return filters

    def partitions(self) -> list[InputPartition]:
        types = {f.name: f.dataType.simpleString() for f in self.schema.fields}
        files, m = plan_files(
            self.root, self.version, self.eq, self.ranges, types
        )
        dvs = m.get("delete_vectors", [])
        self._planned = len(files)
        if not files:
            # The API requires >=1 partition; an empty marker yields no rows.
            return [InputPartition({"path": None, "inject": {}, "dvs": []})]
        return [
            InputPartition({"path": f["path"], "inject": f["inject"], "dvs": dvs})
            for f in files
        ]

    def read(self, partition: InputPartition) -> Iterator:
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        from pyspark.sql.pandas.types import to_arrow_schema

        part = partition.value
        target = to_arrow_schema(self.schema)
        if part["path"] is None:
            return
        path = part["path"]
        table = pq.read_table(path)

        # Deletion vectors: drop this file's masked row positions. DV rows
        # record Spark's _metadata.file_path (file:-scheme); match on the
        # scheme-stripped suffix.
        drop: set[int] = set()
        abs_path = os.path.abspath(path)
        for dv_path in part["dvs"]:
            dv = pq.read_table(dv_path, columns=["file_path", "row_index"])
            for fp, ri in zip(
                dv.column("file_path").to_pylist(),
                dv.column("row_index").to_pylist(),
            ):
                if fp.split(":", 1)[-1].lstrip("/") == abs_path.lstrip("/"):
                    drop.add(ri)
        if drop:
            keep = pa.array(
                [i not in drop for i in range(table.num_rows)], type=pa.bool_()
            )
            table = table.filter(keep)

        # Assemble the USER schema: physical columns, identity-partition
        # path values injected as constants, evolution gaps null-filled;
        # hidden/_extra physical columns drop by omission.
        cols = []
        for field in target:
            if field.name in table.column_names:
                cols.append(table.column(field.name).cast(field.type))
            elif field.name in part["inject"]:
                raw = part["inject"][field.name]
                typed = (
                    None
                    if raw is None
                    else pa.scalar(raw, type=pa.string()).cast(field.type).as_py()
                )
                cols.append(pa.array([typed] * table.num_rows, type=field.type))
            else:
                cols.append(pa.nulls(table.num_rows, type=field.type))
        out = pa.table(cols, schema=target)
        for batch in out.to_batches(max_chunksize=1 << 16):
            yield batch


# ---------------------------------------------------------------------------
# The writer: df.write.format("lakeflow_table") — shard-parallel parquet into
# a staging dir, manifest publish at commit (the WAP contract at task level)
# ---------------------------------------------------------------------------


@dataclass
class _ShardCommit(WriterCommitMessage):
    path: str = ""
    rows: int = 0
    stats: dict = field(default_factory=dict)


def _write_shard(iterator, directory: str) -> _ShardCommit:
    """One task's Arrow batches as one parquet shard in ``directory``, with
    the min/max of every int/float/string column for the dir zone maps."""
    import uuid as _uuid

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    os.makedirs(directory, exist_ok=True)
    path = os.path.join(directory, f"part-{_uuid.uuid4().hex}.parquet")
    batches = list(iterator)
    if not batches:
        return _ShardCommit(path="", rows=0, stats={})
    table = pa.Table.from_batches(batches)
    pq.write_table(table, path)
    stats: dict = {}
    for f in table.schema:
        if (
            pa.types.is_integer(f.type)
            or pa.types.is_floating(f.type)
            or pa.types.is_string(f.type)
        ):
            col = table.column(f.name)
            if col.null_count == len(col):
                continue
            mm = pc.min_max(col)
            stats[f.name] = [mm["min"].as_py(), mm["max"].as_py()]
    return _ShardCommit(path=path, rows=table.num_rows, stats=stats)


class LakeflowTableWriter(DataSourceArrowWriter):
    """Two-phase-commit writer into a :class:`VersionedTable` snapshot.

    Tasks stream their Arrow batches into one parquet shard each inside a
    fresh staging dir under ``<root>/data/`` and report per-shard min/max
    for every int/float/string column; ``commit`` (all tasks succeeded)
    merges those partials into dir-level zone maps and publishes the next
    manifest through the SAME ``VersionedTable._commit`` the JVM path uses
    — so txn watermarks, tags, governance policy, partition layouts and live
    deletion vectors all carry forward identically, and optimistic
    concurrency (atomic link, loser retries) applies unchanged. ``abort``
    removes the staging dir; an uncommitted staging dir is invisible (the
    manifest never referenced it) and falls to ``remove_orphans``.

    Tables with CHECK constraints or generated columns are refused: both
    validate with Spark aggregates at commit time, which this sparkless
    commit worker cannot run — write those through ``VersionedTable.commit``.
    Schema must match the table exactly (no merge_schema on this path)."""

    def __init__(self, root: str, schema, overwrite: bool) -> None:
        import uuid as _uuid

        self.root = _strip_scheme(root)
        self.schema = schema
        self.overwrite = overwrite
        self.staging = os.path.join(
            self.root, "data", "w-" + _uuid.uuid4().hex
        )

    def write(self, iterator) -> _ShardCommit:
        return _write_shard(iterator, self.staging)

    def commit(self, messages) -> None:
        shards = [m for m in messages if m and m.rows > 0]
        try:
            _publish_shards(
                self.root,
                self.staging,
                shards,
                self.schema,
                self.overwrite,
                "pywrite_overwrite" if self.overwrite else "pywrite_append",
            )
        except Exception:
            self.abort(messages)
            raise
        if not shards:
            self.abort(messages)

    def abort(self, messages) -> None:
        import shutil

        shutil.rmtree(self.staging, ignore_errors=True)


def _publish_shards(
    root: str,
    staging: str,
    shards,
    schema,
    overwrite: bool,
    operation: str,
    txn: tuple[str, int] | None = None,
) -> bool:
    """Sparkless manifest publish of a shard-written staging dir (shared by
    the batch and streaming writers). Returns True when a snapshot landed,
    False for the no-op cases (empty append, replayed stream batch)."""
    from lakeflow.tables import VersionedTable

    t = VersionedTable(None, root)
    prev_m = t._current()
    if txn is not None:
        recorded = prev_m.get("txns", {}).get(txn[0])
        if recorded is not None and txn[1] <= recorded:
            return False  # replayed micro-batch: already folded
    if prev_m.get("constraints") or prev_m.get("generated"):
        raise ValueError(
            "tables with CHECK constraints or generated columns write "
            "through VersionedTable.commit (Spark-side validation)"
        )
    if prev_m.get("schema"):
        want = [
            (f["name"], f["type"])
            for f in json.loads(prev_m["schema"])["fields"]
        ]
        got = [(f["name"], f["type"]) for f in schema.jsonValue()["fields"]]
        if want != got:
            raise ValueError(
                f"write schema {got} != table schema {want}; evolve via "
                "VersionedTable.commit(merge_schema=True)"
            )
    if not shards:
        # Nothing written: an empty append is a no-op; an empty overwrite
        # has no dir to reference, which read() rejects.
        if overwrite:
            raise ValueError("refusing to overwrite a table with zero rows")
        return False
    merged: dict = {}
    for m in shards:
        for c, (lo, hi) in m.stats.items():
            if c in merged:
                merged[c] = [min(merged[c][0], lo), max(merged[c][1], hi)]
            else:
                merged[c] = [lo, hi]
    changes: dict = {}
    if not prev_m.get("schema"):
        changes["schema"] = json.dumps(schema.jsonValue())
    if txn is not None:
        changes["txns"] = {txn[0]: txn[1]}
    t._commit(
        prev_m,
        operation,
        add=[(staging, {"stats": merged})],
        keep=[] if overwrite else None,
        **changes,
    )
    return True


class LakeflowTableStreamWriter(DataSourceStreamArrowWriter):
    """``df.writeStream.format("lakeflow_table")`` — exactly-once streaming
    appends into a :class:`VersionedTable`.

    Per micro-batch, tasks stream Arrow batches into shard files under a
    hidden tmp area; ``commit(messages, batchId)`` moves the batch's shards
    into a fresh staging dir and publishes it with a ``(txn_app, batchId)``
    transactional watermark — a crash between commit and checkpoint replays
    the batch, the watermark check skips the duplicate publish, and the
    re-written shards are swept. The same exactly-once contract as the
    foreachBatch sinks (streaming/sinks.py), expressed as a first-class
    sink format; option ``txn_app`` namespaces concurrent queries."""

    def __init__(self, root: str, schema, txn_app: str) -> None:
        self.root = _strip_scheme(root)
        self.schema = schema
        self.txn_app = txn_app
        self.tmp = os.path.join(self.root, "data", ".pystream_tmp")

    def write(self, iterator) -> _ShardCommit:
        return _write_shard(iterator, self.tmp)

    def commit(self, messages, batchId: int) -> None:  # noqa: N803 (API name)
        import shutil
        import uuid as _uuid

        shards = [m for m in messages if m and m.rows > 0]
        if not shards:
            return
        staging = os.path.join(self.root, "data", "s-" + _uuid.uuid4().hex)
        os.makedirs(staging, exist_ok=True)
        moved = []
        for m in shards:
            dst = os.path.join(staging, os.path.basename(m.path))
            os.rename(m.path, dst)
            moved.append(_ShardCommit(path=dst, rows=m.rows, stats=m.stats))
        try:
            published = _publish_shards(
                self.root,
                staging,
                moved,
                self.schema,
                False,
                "pystream_append",
                txn=(self.txn_app, batchId),
            )
        except Exception:
            shutil.rmtree(staging, ignore_errors=True)
            raise
        if not published:  # replayed batch: watermark already covers it
            shutil.rmtree(staging, ignore_errors=True)

    def abort(self, messages, batchId: int) -> None:  # noqa: N803 (API name)
        for m in messages or []:
            if m and m.path:
                try:
                    os.unlink(m.path)
                except OSError:
                    pass


def register_table_source(spark) -> None:
    """Idempotent registration of the pushdown table source (enables the
    Python-source filter-pushdown hook, off by default in Spark 4.1)."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(LakeflowTableDataSource)
