"""Streaming reads of a VersionedTable's commit history (the Delta/Iceberg
"streaming table source": ``spark.readStream.format("delta")`` /
``stream_from`` — reference S3's real lakehouse form, which the sandbox's
missing jars otherwise reduce to a file-stream analog).

``spark.readStream.format("lakeflow_table_changes").option("path", root)``
emits each commit's APPENDED rows as a micro-batch; the stream offset is the
snapshot version number, so checkpoint recovery resumes exactly at the next
unread commit and replay is snapshot-identical (manifests are immutable).

Scale shape: the offset is one integer; per micro-batch the reader opens
ONLY the data dirs the new manifest added (manifest diff — set difference of
two dir lists, driver-side JSON), never rescans the table, and never lists
the filesystem. Non-append commits (overwrite / replace-partitions rewrite
history, so "what changed" is not derivable from added dirs alone) follow
Delta's contract: fail the stream by default, or skip with
``.option("on_change", "skip")`` (Delta's ``skipChangeCommits``).

The default reader is the partition-planning form
(:class:`TableChangesPartitionedReader`): the driver plans one input split
per added data dir (manifest diff only — JSON, no data IO), and EXECUTORS
read the parquet via pyarrow — the shape that holds when one commit lands
terabytes. :class:`TableChangesStreamReader` keeps the simple driver-side
variant for reference/debugging.
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterator

from pyspark.sql import SparkSession
from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)


def _manifest(root: str, version: int) -> dict:
    with open(os.path.join(root, "_snapshots", f"{version:08d}.json")) as fh:
        return json.load(fh)


def _versions(root: str) -> list[int]:
    snap = os.path.join(root, "_snapshots")
    return sorted(
        int(f.split(".")[0]) for f in os.listdir(snap) if f.endswith(".json")
    )


def _timestamp_cols(root: str) -> set[str]:
    """The table's Spark ``TIMESTAMP`` columns (UTC instants) — from the
    latest manifest's schema, the schema the stream is bound to."""
    vs = _versions(root)
    raw = _manifest(root, vs[-1]).get("schema") if vs else None
    fields = json.loads(raw)["fields"] if raw else []
    return {f["name"] for f in fields if f["type"] == "timestamp"}


def _pylist(table, names, utc: set[str]) -> list:
    """Python values of the column resolved by ``names`` (current name,
    then historical aliases) — NULLs for a file written before the column
    existed. Spark writes TIMESTAMP as INT96 by default, which pyarrow
    reads tz-naive; those columns are made UTC here, since Spark's
    conversion of a TIMESTAMP value needs the instant."""
    import pyarrow as pa

    if isinstance(names, str):  # pre-alias checkpoints
        names = [names]
    for n in names:
        if n in table.column_names:
            col = table.column(n)
            naive = pa.types.is_timestamp(col.type) and not col.type.tz
            if naive and names[0] in utc:
                col = col.cast(pa.timestamp("us", tz="UTC"))
            return col.to_pylist()
    return [None] * table.num_rows


class TableChangesDataSource(DataSource):
    """``format("lakeflow_table_changes")``; options: path, on_change
    (fail|skip), start_version (exclusive, default 0 = from genesis)."""

    @classmethod
    def name(cls) -> str:
        return "lakeflow_table_changes"

    def schema(self):
        from pyspark.sql.types import StringType, StructType

        root = self.options["path"]
        vs = _versions(root)
        if not vs:
            raise ValueError(f"table {root} has no snapshots")
        raw = _manifest(root, vs[-1]).get("schema")
        if raw is None:
            raise ValueError(
                f"table {root} predates schema tracking; recommit once to "
                "record a schema before streaming it"
            )
        st = StructType.fromJson(json.loads(raw))
        if self.options.get("mode", "append") == "cdf":
            st = st.add("_change_type", StringType(), False)
        return st

    def streamReader(self, schema) -> "TableChangesPartitionedReader":
        mode = self.options.get("mode", "append")
        # Each output column resolves against a dir's parquet by trying its
        # current name, then every historical alias (RENAME COLUMN writes
        # per-epoch physical names) — otherwise a start_version=0 replay of
        # pre-rename commits would stream NULLs for the renamed column.
        cols = [
            [f.name] + list((f.metadata or {}).get("lakeflow.aliases", []))
            for f in schema.fields
            if not (mode == "cdf" and f.name == "_change_type")
        ]
        return TableChangesPartitionedReader(
            root=self.options["path"],
            on_change=self.options.get("on_change", "fail"),
            start_version=int(self.options.get("start_version", "0")),
            columns=cols,
            mode=mode,
        )


class _DirPartition(InputPartition):
    def __init__(self, directory: str, columns: list[str]) -> None:
        self.directory = directory
        self.columns = columns


class _DvPartition(InputPartition):
    """One deletion-vector file: emits the DELETED rows' pre-images."""

    def __init__(self, dv_path: str, columns: list[str]) -> None:
        self.dv_path = dv_path
        self.columns = columns


class TableChangesPartitionedReader(DataSourceStreamReader):
    """Partition-planning reader: the DRIVER only diffs manifests (JSON);
    each added data dir becomes one input split whose parquet is read on an
    EXECUTOR — the shape that holds when a single commit lands terabytes.
    Offset = last snapshot version fully emitted; planning a batch twice
    yields identical splits (manifests are immutable), so recovery replay
    is exact.
    """

    def __init__(
        self,
        root: str,
        on_change: str,
        start_version: int,
        columns: list[str],
        mode: str = "append",
    ) -> None:
        if on_change not in ("fail", "skip"):
            raise ValueError(f"on_change must be fail|skip, got {on_change!r}")
        if mode not in ("append", "cdf"):
            raise ValueError(f"mode must be append|cdf, got {mode!r}")
        self.root = root
        self.on_change = on_change
        self.start_version = start_version
        self.columns = columns
        self.mode = mode
        self.utc = _timestamp_cols(root)

    def initialOffset(self) -> dict:
        return {"version": self.start_version}

    def latestOffset(self) -> dict:
        vs = _versions(self.root)
        return {"version": max(vs[-1], self.start_version) if vs else self.start_version}

    def _added_dirs(self, start_v: int, end_v: int) -> list[str]:
        added: list[str] = []
        prev_dirs: set[str] | None = None
        prev_dvs: set[str] = set()
        for v in range(start_v + 1, end_v + 1):
            m = _manifest(self.root, v)
            if prev_dirs is None:
                pm = _manifest(self.root, v - 1) if v > 1 else {}
                prev_dirs = set(pm.get("dirs", []))
                prev_dvs = set(pm.get("delete_vectors", []))
            removed = prev_dirs - set(m["dirs"])
            # A grown deletion-vector list is ALSO a change commit: a MOR
            # delete/update removes no dirs yet changes row visibility, and
            # silently emitting nothing (or, for update-mor, emitting the
            # rewritten rows as fresh appends) would corrupt downstream
            # state — same contract as Delta's skipChangeCommits.
            new_dvs = set(m.get("delete_vectors", [])) - prev_dvs
            if removed or new_dvs:
                if self.on_change == "fail":
                    raise RuntimeError(
                        f"version {v} of {self.root} rewrites history "
                        f"({m['operation']}); stream appends only, or set "
                        "on_change=skip to ignore change commits"
                    )
                prev_dirs = set(m["dirs"])
                prev_dvs = set(m.get("delete_vectors", []))
                continue
            added.extend(d for d in m["dirs"] if d not in prev_dirs)
            prev_dirs = set(m["dirs"])
            prev_dvs = set(m.get("delete_vectors", []))
        return added

    def _plan_cdf(self, start_v: int, end_v: int) -> list[InputPartition]:
        """CDF planning: per version, NEW deletion vectors become delete
        pre-image splits and added dirs become insert splits — so a MOR
        delete streams as 'delete' rows and an update-mor commit streams as
        delete+insert (Delta CDF's pre/post-image pair). Dir REMOVALS
        (overwrite / replace-partitions / compaction) still follow the
        fail|skip policy: a history rewrite has no incremental rendering."""
        parts: list[InputPartition] = []
        prev_m = _manifest(self.root, start_v) if start_v >= 1 else {}
        prev_dirs = set(prev_m.get("dirs", []))
        prev_dvs = set(prev_m.get("delete_vectors", []))
        for v in range(start_v + 1, end_v + 1):
            m = _manifest(self.root, v)
            removed = prev_dirs - set(m["dirs"])
            if removed:
                if self.on_change == "fail":
                    raise RuntimeError(
                        f"version {v} of {self.root} rewrites history "
                        f"({m['operation']}); stream appends only, or set "
                        "on_change=skip to ignore change commits"
                    )
                prev_dirs = set(m["dirs"])
                prev_dvs = set(m.get("delete_vectors", []))
                continue
            for dv in m.get("delete_vectors", []):
                if dv not in prev_dvs:
                    parts.append(_DvPartition(dv, self.columns))
            parts.extend(
                _DirPartition(d, self.columns)
                for d in m["dirs"]
                if d not in prev_dirs
            )
            prev_dirs = set(m["dirs"])
            prev_dvs = set(m.get("delete_vectors", []))
        return parts

    def partitions(self, start: dict, end: dict) -> list[InputPartition]:
        lo, hi = int(start["version"]), int(end["version"])
        if self.mode == "cdf":
            return self._plan_cdf(lo, hi)
        return [_DirPartition(d, self.columns) for d in self._added_dirs(lo, hi)]

    def read(self, partition):
        # Runs on an executor: local pyarrow read of one split.
        import pyarrow.parquet as pq

        if isinstance(partition, _DvPartition):
            dv = pq.read_table(partition.dv_path)
            by_file: dict[str, list[int]] = {}
            for fp, ri in zip(
                dv.column("file_path").to_pylist(),
                dv.column("row_index").to_pylist(),
            ):
                by_file.setdefault(fp, []).append(ri)
            rows = []
            for fp, idxs in sorted(by_file.items()):
                local = fp[7:] if fp.startswith("file://") else fp
                t = pq.read_table(local).take(sorted(idxs))
                cols = [_pylist(t, c, self.utc) for c in partition.columns]
                rows.extend(r + ("delete",) for r in zip(*cols))
            return iter(rows)

        table = pq.read_table(partition.directory)
        cols = [_pylist(table, c, self.utc) for c in partition.columns]
        out = list(zip(*cols)) if cols else []
        if self.mode == "cdf":
            out = [r + ("insert",) for r in out]
        return iter(out)

    def commit(self, end: dict) -> None:
        pass  # offsets live in the engine's checkpoint; manifests are immutable


class TableChangesStreamReader(SimpleDataSourceStreamReader):
    """Offset = last snapshot version fully emitted."""

    def __init__(
        self, root: str, on_change: str, start_version: int, columns: list[str]
    ) -> None:
        if on_change not in ("fail", "skip"):
            raise ValueError(f"on_change must be fail|skip, got {on_change!r}")
        self.root = root
        self.on_change = on_change
        self.start_version = start_version
        self.columns = columns
        self.utc = _timestamp_cols(root)

    def initialOffset(self) -> dict:
        return {"version": self.start_version}

    def read(self, start: dict) -> tuple[Iterator[tuple], dict]:
        vs = _versions(self.root)
        end = {"version": max(vs[-1], int(start["version"])) if vs else 0}
        return self.readBetweenOffsets(start, end), end

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[tuple]:
        import pyarrow.parquet as pq

        rows: list[tuple] = []
        prev_dirs: set[str] | None = None
        for v in range(int(start["version"]) + 1, int(end["version"]) + 1):
            m = _manifest(self.root, v)
            if prev_dirs is None:
                prev_dirs = (
                    set(_manifest(self.root, v - 1)["dirs"]) if v > 1 else set()
                )
            added = [d for d in m["dirs"] if d not in prev_dirs]
            removed = prev_dirs - set(m["dirs"])
            if removed:
                if self.on_change == "fail":
                    raise RuntimeError(
                        f"version {v} of {self.root} rewrites history "
                        f"({m['operation']}); stream appends only, or set "
                        "on_change=skip to ignore change commits"
                    )
                prev_dirs = set(m["dirs"])
                continue
            for d in added:
                table = pq.read_table(d)
                cols = [_pylist(table, c, self.utc) for c in self.columns]
                rows.extend(zip(*cols) if cols else [])
            prev_dirs = set(m["dirs"])
        # List-backed: the engine pickles prefetched batches for replay.
        return iter(rows)


def register_table_changes_source(spark: SparkSession) -> None:
    """Idempotent registration of the table-changes stream source."""
    spark.dataSource.register(TableChangesDataSource)
