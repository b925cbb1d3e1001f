"""Streaming reads of a VersionedTable's commit history (the Delta/Iceberg
"streaming table source": ``spark.readStream.format("delta")`` /
``stream_from`` — reference S3's real lakehouse form, which the sandbox's
missing jars otherwise reduce to a file-stream analog).

``spark.readStream.format("lakeflow_table_changes").option("path", root)``
emits each commit's APPENDED rows as a micro-batch; the stream offset is the
snapshot version number, so checkpoint recovery resumes exactly at the next
unread commit and replay is snapshot-identical (manifests are immutable).

Scale shape: the offset is one integer; per micro-batch the reader opens
ONLY the data dirs the new manifest added (``VersionedTable.manifest_diff``
of adjacent manifests — driver-side JSON), never rescans the table, and
never lists the filesystem. Non-append commits (overwrite /
replace-partitions rewrite history, so "what changed" is not derivable from
added dirs alone) follow Delta's contract: fail the stream by default, or
skip with ``.option("on_change", "skip")`` (Delta's ``skipChangeCommits``).

The reader is the partition-planning form
(:class:`TableChangesPartitionedReader`): the driver plans one input split
per added data dir (manifest diff only — JSON, no data IO), and EXECUTORS
read the parquet via pyarrow — the shape that holds when one commit lands
terabytes. ``.option("mode", "cdf")`` also streams deletion vectors as
'delete' rows (Delta's change data feed).
"""

from __future__ import annotations

import json

from pyspark.sql import SparkSession
from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)

from lakeflow.sources.table_source import _open_table


def _timestamp_cols(manifest: dict) -> set[str]:
    """The table's Spark ``TIMESTAMP`` columns (UTC instants) — from the
    latest manifest's schema, the schema the stream is bound to."""
    raw = manifest.get("schema")
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
        raw = _open_table(root)._snapshot().get("schema")
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
        self.table = _open_table(root)
        self.on_change = on_change
        self.start_version = start_version
        self.columns = columns
        self.mode = mode
        v = self.table.current_version()
        self.utc = _timestamp_cols({} if v is None else self.table._manifest(v))

    def initialOffset(self) -> dict:
        return {"version": self.start_version}

    def latestOffset(self) -> dict:
        # The _latest_hint pointer, not a _snapshots/ listing per trigger.
        v = self.table.current_version()
        return {"version": max(v or 0, self.start_version)}

    def partitions(self, start: dict, end: dict) -> list[InputPartition]:
        """One manifest walk over versions (start, end]: each version's
        :meth:`~lakeflow.tables.VersionedTable.manifest_diff` against its
        predecessor plans the splits, one per added dir. A version that
        removes dirs (overwrite / replace-partitions / compaction) or drops
        deletion vectors (RESTORE past a MOR delete resurfaces rows in
        place) rewrites history, which has no incremental rendering: it
        fails the stream or, with on_change=skip, is skipped. NEW deletion
        vectors depend on the mode. In cdf mode they become delete
        pre-image splits, so a MOR delete streams as 'delete' rows and an
        update-mor commit as delete+insert (Delta CDF's pre/post-image
        pair). In append mode they make the version a change commit too: a
        MOR delete/update removes no dirs yet changes row visibility, and
        emitting nothing (or, for update-mor, the rewritten rows as fresh
        appends) would corrupt downstream state — Delta's skipChangeCommits
        contract."""
        lo, hi = int(start["version"]), int(end["version"])
        if hi <= lo:
            return []
        parts: list[InputPartition] = []
        prev = self.table._manifest(lo) if lo >= 1 else {}
        for v in range(lo + 1, hi + 1):
            m = self.table._manifest(v)
            diff = self.table.manifest_diff(prev, m)
            if (
                diff.removed
                or diff.vanished_dvs
                or (diff.new_dvs and self.mode == "append")
            ):
                if self.on_change == "fail":
                    raise RuntimeError(
                        f"version {v} of {self.table.root} rewrites history "
                        f"({m['operation']}); stream appends only, or set "
                        "on_change=skip to ignore change commits"
                    )
            else:
                parts.extend(
                    _DvPartition(p, self.columns) for p in diff.new_dvs
                )
                parts.extend(_DirPartition(d, self.columns) for d in diff.added)
            prev = m
        return parts

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


def register_table_changes_source(spark: SparkSession) -> None:
    """Idempotent registration of the table-changes stream source."""
    spark.dataSource.register(TableChangesDataSource)
