"""Lakehouse table-format detection + MERGE SQL generation (SURVEY.md §7.3).

The reference gets ``MERGE INTO``, streaming table reads, and time travel
from the Iceberg runtime jar + session extension
(/root/reference/docker/spark/conf/spark-defaults.conf:8-12). This repo keeps
the format pluggable: when an Iceberg/Delta extension is on the classpath the
SCD merges can run as a single transactional MERGE statement; otherwise the
DataFrame algebra in :mod:`lakeflow.operators.merge` plus
:class:`lakeflow.tables.VersionedTable` supplies the same semantics
(merge-on-read → overwrite-on-write, snapshots via manifests).

``detect_lakehouse_format`` probes the JVM classpath — no config parsing, no
import side effects — so the same pipeline code picks the right path on any
cluster.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import SparkSession

_EXTENSION_CLASSES = {
    "iceberg": "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions",
    "delta": "io.delta.sql.DeltaSparkSessionExtension",
}


def detect_lakehouse_format(spark: SparkSession) -> str | None:
    """Return "iceberg" / "delta" when the matching session-extension class is
    loadable, else None (→ use the DataFrame merge fallback)."""
    jvm = spark.sparkContext._jvm
    for fmt, cls in _EXTENSION_CLASSES.items():
        try:
            jvm.java.lang.Class.forName(cls)
            return fmt
        except Exception:
            continue
    return None


def scd1_merge_sql(
    target: str, source: str, keys: Sequence[str], cols: Sequence[str]
) -> str:
    """The reference's SCD1 upsert MERGE verbatim-in-shape
    (/root/reference/src/silver/_silver_utils.py:176-186), parameterized.

    Portability choices (verified by executing the generated statement —
    tests/test_merge_sql_execution.py): SET columns are unqualified (Delta
    rejects ``SET t.c = ...``; Iceberg accepts both) and key matching is
    null-safe ``<=>`` so a NULL key matches its NULL counterpart exactly like
    the DataFrame twin (operators.merge.scd1_apply)."""
    on = " AND ".join(f"t.{k} <=> s.{k}" for k in keys)
    sets = ", ".join(f"{c} = s.{c}" for c in cols if c not in keys)
    names = ", ".join(cols)
    vals = ", ".join(f"s.{c}" for c in cols)
    return (
        f"MERGE INTO {target} t USING {source} s ON {on} "
        f"WHEN MATCHED THEN UPDATE SET {sets} "
        f"WHEN NOT MATCHED THEN INSERT ({names}) VALUES ({vals})"
    )


def scd2_expire_sql(
    target: str,
    source: str,
    keys: Sequence[str],
    tracked: Sequence[str],
    effective_ts: str,
) -> str:
    """Phase 1 of the reference's two-phase SCD2
    (/root/reference/src/silver/_silver_utils.py:136-142): expire current rows
    whose tracked columns differ null-safely. Unqualified SET columns +
    null-safe key matching, as in :func:`scd1_merge_sql`."""
    on = " AND ".join(f"t.{k} <=> s.{k}" for k in keys) + " AND t.is_current = 1"
    changed = " OR ".join(f"NOT (t.{c} <=> s.{c})" for c in tracked)
    return (
        f"MERGE INTO {target} t USING {source} s ON {on} "
        f"WHEN MATCHED AND ({changed}) THEN UPDATE SET "
        f"end_timestamp = TIMESTAMP '{effective_ts}', is_current = 0"
    )


def scd2_insert_sql(
    target: str,
    source: str,
    keys: Sequence[str],
    cols: Sequence[str],
    effective_ts: str,
) -> str:
    """Phase 2 (/root/reference/src/silver/_silver_utils.py:143-149): insert a
    new current version for every source row without a current match."""
    on = " AND ".join(f"t.{k} <=> s.{k}" for k in keys) + " AND t.is_current = 1"
    names = ", ".join(list(cols) + ["start_timestamp", "end_timestamp", "is_current"])
    vals = ", ".join(
        [f"s.{c}" for c in cols] + [f"TIMESTAMP '{effective_ts}'", "NULL", "1"]
    )
    return (
        f"MERGE INTO {target} t USING {source} s ON {on} "
        f"WHEN NOT MATCHED THEN INSERT ({names}) VALUES ({vals})"
    )


# -- Delta transaction-log interop (public delta.io PROTOCOL.md) -----------
#
# The reference runs on a real lakehouse format via its runtime jar
# (docker/spark/conf/spark-defaults.conf:8-12). This sandbox has no
# connector jar, so interop is implemented at the FORMAT level instead:
# `export_delta` renders a VersionedTable's full snapshot history as a
# spec-conformant Delta transaction log (JSON-lines commits: protocol,
# metaData, add/remove actions, per-app txn actions) that any real Delta
# reader can open, and `read_delta_log` is an independent log-replay
# reader used to round-trip it. Everything here follows the published
# protocol document only.

DELTA_LOG_DIR = "_delta_log"


def _delta_ms(iso: str) -> int:
    from datetime import datetime

    return int(datetime.fromisoformat(iso).timestamp() * 1000)


def export_delta(table, path: str) -> int:
    """Export a :class:`lakeflow.tables.VersionedTable`'s entire history as
    a Delta table at ``path``: one spec-shaped JSON-lines commit per
    snapshot (version N maps to commit N-1), data files copied under the
    table root with manifest-relative paths, schema changes re-emitted as
    ``metaData`` actions, and recorded per-app transactional watermarks
    carried as ``txn`` actions. Returns the number of commits written.

    Limitations (explicit, fail-fast): the LATEST snapshot must be free of
    merge-on-read deletion-vector debt — compact first (Delta DVs are a
    binary RoaringBitmap sidecar format this exporter does not emit);
    historical DV-carrying snapshots are skipped, their net change folding
    into the next exportable commit. Partition layouts must be uniform
    across a snapshot's dirs (Delta records ONE partitionColumns per
    table; lakeflow's per-dir partition evolution cannot map onto it).
    Hive-style ``col=value`` file paths export with their
    ``partitionValues`` populated.
    """
    import json
    import os
    import shutil
    import uuid

    versions = table.versions()
    if not versions:
        raise ValueError("empty table: nothing to export")
    log_dir = os.path.join(path, DELTA_LOG_DIR)
    os.makedirs(log_dir, exist_ok=True)
    table_id = str(uuid.uuid5(uuid.NAMESPACE_URL, os.path.abspath(table.root)))

    def rel_files(m: dict) -> dict[str, str]:
        out = {}
        for d in m["dirs"]:
            for base, _sub, names in os.walk(d):
                for f in sorted(names):
                    if f.endswith(".parquet"):
                        full = os.path.join(base, f)
                        out[os.path.relpath(full, table.root)] = full
        return out

    def partition_values(rel: str) -> dict[str, str]:
        return dict(
            seg.split("=", 1)
            for seg in rel.split(os.sep)[:-1]
            if "=" in seg
        )

    manifests = {v: table._manifest(v) for v in versions}
    if any(m.get("schema") is None for m in manifests.values()):
        raise ValueError(
            "table predates schema tracking: recommit once to record a "
            "schema before exporting (Delta metaData requires one)"
        )
    latest_schema = table.schema(versions[-1])
    if latest_schema is not None and any(
        (f.metadata or {}).get(table.ALIASES_KEY) for f in latest_schema.fields
    ):
        raise ValueError(
            "table has RENAME COLUMN history: files from different epochs "
            "carry different physical column names, which Delta's "
            "one-physical-name-per-column mapping cannot express — rewrite "
            "the table (e.g. commit(read(), mode='overwrite')) before export"
        )
    if manifests[versions[-1]].get("delete_vectors"):
        raise ValueError(
            "latest snapshot has merge-on-read deletion-vector debt: "
            "compact() before export (Delta DVs are a binary sidecar "
            "format this exporter does not emit)"
        )
    # Historical snapshots carrying DV debt have no spec-shaped rendering;
    # they are skipped and their net file change folds into the next
    # exportable commit (the final state is always exact).
    exportable = [v for v in versions if not manifests[v].get("delete_vectors")]
    prev_files: dict[str, str] = {}
    prev_schema = None
    n_commits = 0
    for i, v in enumerate(exportable):
        m = manifests[v]
        layouts = {tuple(c) for c in (m.get("partitioning") or {}).values()}
        if len(layouts) > 1:
            raise ValueError(
                "mixed partition layouts in one snapshot cannot map to "
                "Delta's single partitionColumns"
            )
        part_cols = list(next(iter(layouts))) if layouts else []
        files = rel_files(m)
        ts = _delta_ms(m["committed_at"]) if m.get("committed_at") else 0
        actions = []
        if i == 0:
            # Generated columns are a writer feature (minWriterVersion 4 in
            # the protocol); plain tables stay at the widest-compatible 2.
            has_generated = any(m.get("generated") for m in manifests.values())
            actions.append(
                {
                    "protocol": {
                        "minReaderVersion": 1,
                        "minWriterVersion": 4 if has_generated else 2,
                    }
                }
            )
        # CHECK constraints export as Delta's table configuration
        # (`delta.constraints.<name>` — how real Delta persists ALTER TABLE
        # ADD CONSTRAINT); a schema OR constraint change re-emits metaData.
        conf = {
            f"delta.constraints.{k}": v
            for k, v in (m.get("constraints") or {}).items()
        }
        # Generated columns render the way real Delta persists them: the
        # expression rides the schemaString field metadata.
        schema_str = m["schema"]
        if m.get("generated"):
            sj = json.loads(schema_str)
            for fld in sj["fields"]:
                spec = m["generated"].get(fld["name"])
                if spec:
                    fld.setdefault("metadata", {})[
                        "delta.generationExpression"
                    ] = spec["expr"]
            schema_str = json.dumps(sj)
        meta_state = (schema_str, tuple(sorted(conf.items())))
        if meta_state != prev_schema or i == 0:
            actions.append(
                {
                    "metaData": {
                        "id": table_id,
                        "format": {"provider": "parquet", "options": {}},
                        "schemaString": schema_str,
                        "partitionColumns": part_cols,
                        "configuration": conf,
                        "createdTime": ts,
                    }
                }
            )
            prev_schema = meta_state
        for app, ver in sorted((m.get("txns") or {}).items()):
            actions.append({"txn": {"appId": app, "version": ver}})
        for rel in sorted(set(prev_files) - set(files)):
            actions.append(
                {
                    "remove": {
                        "path": rel,
                        "deletionTimestamp": ts,
                        "dataChange": True,
                    }
                }
            )
        for rel in sorted(set(files) - set(prev_files)):
            dst = os.path.join(path, rel)
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            if not os.path.exists(dst):
                shutil.copy(files[rel], dst)
            actions.append(
                {
                    "add": {
                        "path": rel,
                        "partitionValues": partition_values(rel),
                        "size": os.path.getsize(files[rel]),
                        "modificationTime": ts,
                        "dataChange": True,
                    }
                }
            )
        with open(os.path.join(log_dir, f"{i:020d}.json"), "w") as fh:
            fh.write("\n".join(json.dumps(a) for a in actions) + "\n")
        prev_files = files
        n_commits += 1
    return n_commits


def read_delta_log(
    spark: SparkSession, path: str, version: int | None = None
) -> "DataFrame":
    """Independent Delta-log replay reader: reconstruct the file set at
    ``version`` (default: latest commit) by folding add/remove actions in
    commit order, then scan the surviving parquet files with the
    ``metaData`` schema. Partitioned files recover their partition columns
    from the recorded ``partitionValues`` (cast per the schema), so
    Hive-partitioned exports read back whole."""
    import glob
    import json
    import os

    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    commits = sorted(
        glob.glob(os.path.join(path, DELTA_LOG_DIR, "*.json"))
    )
    if version is not None:
        commits = [
            c
            for c in commits
            if int(os.path.basename(c).split(".")[0]) <= version
        ]
    if not commits:
        raise ValueError(f"no Delta commits at {path}")
    live: dict[str, dict] = {}
    schema_json = None
    part_cols: list[str] = []
    for c in commits:
        with open(c) as fh:
            for line in fh:
                if not line.strip():
                    continue
                a = json.loads(line)
                if "metaData" in a:
                    schema_json = a["metaData"]["schemaString"]
                    part_cols = a["metaData"]["partitionColumns"]
                elif "add" in a:
                    live[a["add"]["path"]] = a["add"]
                elif "remove" in a:
                    live.pop(a["remove"]["path"], None)
    schema = StructType.fromJson(json.loads(schema_json))
    file_schema = StructType(
        [f for f in schema.fields if f.name not in part_cols]
    )
    # One scan per distinct partitionValues tuple (ONE scan total when
    # unpartitioned) — not one plan branch per file.
    groups: dict[tuple, list[str]] = {}
    for rel, add in live.items():
        key = tuple(add["partitionValues"].get(pc) for pc in part_cols)
        groups.setdefault(key, []).append(os.path.join(path, rel))
    frames = []
    for key, paths in sorted(groups.items()):
        df = spark.read.schema(file_schema).parquet(*sorted(paths))
        for pc, val in zip(part_cols, key):
            df = df.withColumn(pc, F.lit(val).cast(schema[pc].dataType))
        frames.append(df.select(*[f.name for f in schema.fields]))
    if not frames:  # every file removed: a legitimately empty version
        return spark.createDataFrame([], schema)
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def import_delta(spark: SparkSession, path: str, dest: str):
    """Materialize a Delta table (any writer's) as a
    :class:`lakeflow.tables.VersionedTable` at ``dest``, replaying the
    transaction log commit by commit so the HISTORY imports too: lakeflow
    version N+1 time-travels to the same rows as Delta commit N. Each
    commit's reconstructed state lands as an overwrite commit (simple and
    always correct; add-only commits could map to appends, but a remove
    anywhere forces state replay and the uniform path keeps the importer
    trivially verifiable). Returns the new table."""
    import glob
    import json
    import os

    from lakeflow.tables import VersionedTable

    commits = sorted(glob.glob(os.path.join(path, DELTA_LOG_DIR, "*.json")))
    if not commits:
        raise ValueError(f"no Delta commits at {path}")
    t = VersionedTable(spark, dest)
    meta = None
    for c in commits:
        i = int(os.path.basename(c).split(".")[0])
        t._land(
            read_delta_log(spark, path, version=i),
            f"import_delta:{i}",
            mode="overwrite",
        )
        with open(c) as fh:
            for line in fh:
                if line.strip():
                    a = json.loads(line)
                    if "metaData" in a:
                        meta = a["metaData"]
    # Table policy imports too: CHECK constraints from the Delta
    # configuration, generated columns from the schema's
    # generationExpression metadata (NULL-epoch rows tolerated).
    if meta is not None:
        for k, v in (meta.get("configuration") or {}).items():
            if k.startswith("delta.constraints."):
                t.add_constraint(k[len("delta.constraints.") :], v)
        from pyspark.sql.types import _parse_datatype_string

        for fld in json.loads(meta["schemaString"])["fields"]:
            expr = (fld.get("metadata") or {}).get("delta.generationExpression")
            if expr:
                dtype = (
                    fld["type"]
                    if isinstance(fld["type"], str)
                    else json.dumps(fld["type"])
                )
                # normalize Delta's spelling ('integer') to Spark DDL ('int')
                t.set_generated(
                    fld["name"],
                    _parse_datatype_string(dtype).simpleString(),
                    expr,
                )
    return t
