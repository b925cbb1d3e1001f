"""Versioned managed tables: snapshots + time travel on plain parquet.

The reference gets snapshots, ``FOR VERSION AS OF`` time travel, and streaming
table reads from Iceberg (/root/reference/experiments/spark_iceberg_example.ipynb
cells 10-11; /root/reference/experiments/trino_iceberg_example.sql:40-43,
SURVEY.md §2.1 S10). Those jars aren't available here, so this module
re-creates the *metadata* design Iceberg uses — and that design is exactly why
it scales:

- A commit never rewrites existing data. Each ``commit`` writes its rows to a
  fresh data directory and records a **manifest** (JSON, driver-side, tiny)
  listing the directories that make up that version. Append = previous
  manifest + one new dir; overwrite = just the new dir.
- Reading version N is ``spark.read.parquet(*manifest[N])`` — a normal
  multi-path parquet scan with full column pruning / predicate pushdown /
  partition splitting. 100 TB of table data costs the same JSON bytes of
  metadata per commit.
- Old versions stay readable until ``expire_snapshots`` drops their
  now-unreferenced data dirs (Iceberg's expire_snapshots).

Concurrency: the manifest publish is an atomic exclusive link, so two
writers racing from the same base version resolve to exactly one winner —
the loser raises :class:`CommitConflictError` and retries from the new
current version (Iceberg's optimistic concurrency; its orphaned data dir is
reclaimed by ``remove_orphans``). On an object store without atomic
create-if-absent, swap the link for a conditional PUT or an external lock
row — the same seam Delta's S3 commit coordinator fills; the conflict
contract is unchanged. Row-level deletes are copy-on-write
(``delete_where``): stats-pruned dirs carry over, the candidate remainder
rewrites without the matching rows, and the deleted rows stay
time-travelable until snapshot expiry — Delta's DELETE contract.
"""

from __future__ import annotations

import datetime
import json
import os
import re
import shutil
import uuid
from collections.abc import Mapping, Sequence
from typing import NamedTuple

from pyspark.sql import DataFrame, Row, SparkSession

#: Directory name Hive/Spark use for NULL (and empty-string) partition values.
HIVE_DEFAULT_PARTITION = "__HIVE_DEFAULT_PARTITION__"


class ConstraintViolationError(RuntimeError):
    """A commit's rows breached a table-level CHECK constraint."""


class CommitConflictError(RuntimeError):
    """Another writer published the same snapshot version first (optimistic
    concurrency): re-read the current version and retry the commit."""


class ManifestDiff(NamedTuple):
    """What one snapshot changed relative to another (see
    :meth:`VersionedTable.manifest_diff`); each list keeps manifest order."""

    added: list[str]
    removed: list[str]
    new_dvs: list[str]
    vanished_dvs: list[str]


_HIVE_ESCAPE_RE = re.compile("%([0-9A-Fa-f]{2})")


def _unescape_partition_dir(raw: str) -> str:
    """Inverse of Hive's ``escapePathName`` (%XX → char).

    Spark escapes ``%`` itself on write, so this is an exact inverse for any
    directory name Spark produced; applying it to the NULL sentinel is a
    no-op (it contains no ``%``).
    """
    return _HIVE_ESCAPE_RE.sub(lambda m: chr(int(m.group(1), 16)), raw)


def _union_stats_envelopes(prev_stats: dict, dirs, exclude=()) -> dict | None:
    """Over-approximate [min, max] union of per-dir zone-map envelopes, for
    a new dir that will hold a SUBSET of ``dirs``' rows (compaction fold,
    DELETE survivors, UPDATE pass-through columns). Valid because a subset
    can only shrink the true envelope — zone maps then give false
    positives, never false negatives. Returns None (record nothing — a
    missing envelope means "read the dir", which is safe) unless EVERY
    input dir carries a non-null envelope for a column."""
    if not dirs or not all(d in prev_stats for d in dirs):
        return None
    shared = set.intersection(*(set(prev_stats[d]) for d in dirs)) - set(exclude)
    out = {}
    for c in shared:
        envs = [prev_stats[d][c] for d in dirs]
        if any(e[0] is None or e[1] is None for e in envs):
            continue
        out[c] = [min(e[0] for e in envs), max(e[1] for e in envs)]
    return out or None


def _union_bloom_sets(prev_bloom: dict, dirs, exclude=()) -> dict | None:
    """Bitwise union of per-dir Bloom bit sets for a new dir holding a
    SUBSET of ``dirs``' rows — same over-approximation argument as
    ``_union_stats_envelopes`` (extra bits = false positives only), valid
    because bloom_bits is pinned at index creation. Columns in ``exclude``
    (e.g. UPDATE SET targets, whose new values the old bits don't cover)
    are skipped; missing = "could contain" on the read side."""
    if not dirs or not all(d in prev_bloom for d in dirs):
        return None
    shared = set.intersection(*(set(prev_bloom[d]) for d in dirs)) - set(exclude)
    out = {c: sorted({b for d in dirs for b in prev_bloom[d][c]}) for c in shared}
    return out or None


# The three classes of manifest key, which decide how ``_commit`` derives a
# snapshot from its parent. PER-DIR maps are keyed by data dir and describe
# that immutable dir's rows, so an entry is valid on every snapshot that
# references the dir: it follows the dir and goes with it.
_PER_DIR = ("stats", "bloom", "partitioning", "hidden_specs", "dir_parts")
# DATA STATE describes a version's visible rows as a whole (deletion vectors,
# ANALYZE sketches): it carries while any parent dir survives and is dropped
# by a full rewrite, whose rows were read through it. TABLE POLICY carries
# across every commit until a change set replaces it; ``txns`` merges per app
# instead, newest marker winning, so no commit forgets stream progress.
_POLICY = ("constraints", "generated", "masks", "row_filters", "refs", "txns")


def _link_json(path: str, doc: dict, conflict: str) -> None:
    """Publish ``doc`` at ``path`` with a write-then-link compare-and-swap.

    The content lands in a hidden tmp file, then ``os.link`` creates the
    final name — atomic, and failing with EEXIST if another writer already
    published it, so of two racing writers exactly one wins and the loser
    gets :class:`CommitConflictError` (message ``conflict``). A plain
    ``os.replace`` would let the second writer silently overwrite the first.
    """
    text = json.dumps(doc)  # an unserializable doc fails before any file exists
    head, name = os.path.split(path)
    tmp = os.path.join(head, f".{name}-{uuid.uuid4().hex}.tmp")
    with open(tmp, "w") as fh:
        fh.write(text)
    try:
        os.link(tmp, path)
    except FileExistsError:
        raise CommitConflictError(conflict) from None
    finally:
        os.unlink(tmp)


def _dir_bytes(path: str) -> int:
    """Bytes of the data files under ``path`` (0 if absent) — filesystem
    metadata only. Hidden and ``_``-prefixed files (checksums,
    ``_SUCCESS``) are not data."""
    total = 0
    for r, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith((".", "_")):
                try:
                    total += os.path.getsize(os.path.join(r, f))
                except OSError:
                    pass  # moved away mid-walk by a concurrent fold
    return total


def _small_dirs(paths: Sequence[str], max_bytes: int) -> dict[str, int]:
    """``{path: bytes}`` of the ``paths`` holding fewer than ``max_bytes``
    data bytes: the one small-file rule shared by table compaction, its
    size trigger and the streamed-index dust folds."""
    sizes = {p: _dir_bytes(p) for p in paths}
    return {p: b for p, b in sizes.items() if b < max_bytes}


def _bloom_positions(value, bloom_bits: int) -> tuple[int, int]:
    """Python twin of the commit-side hash: two md5-derived bucket
    positions of Spark's string rendering of the value (exact for an int
    on an integral column and a str on a string column — the
    :data:`_BLOOM_EXACT` cases)."""
    import hashlib

    h = hashlib.md5(str(value).encode()).hexdigest()
    return int(h[:8], 16) % bloom_bits, int(h[8:16], 16) % bloom_bits


# Manifest-schema column type → the Python value type whose ``str`` equals
# Spark's string cast, so ``_bloom_positions`` probes the bits the commit
# set. Other pairs (a bool, a decimal, a date) render differently and
# could prune a dir that holds the value.
_BLOOM_EXACT = {
    "byte": int, "short": int, "integer": int, "long": int, "string": str
}


def plan_dirs(
    manifest: dict,
    between: Mapping[str, Sequence] | None = None,
    points: Mapping[str, Sequence] | None = None,
    partitions: Sequence | None = None,
) -> list[str]:
    """The scan planner: the dirs of ``manifest`` that may hold a row
    matching every predicate given, in manifest order. Metadata only (no
    Spark), and it can only over-keep, never over-prune — every reader
    applies its residual predicate to the rows of the kept dirs.

    - ``between`` ``{col: (lo, hi)}`` (``None`` = open end): a dir whose
      zone map misses the range goes. Missing stats, a NULL min/max or
      incomparable types keep it.
    - ``points`` ``{col: values}``: a dir stays if any value may be in it,
      by its zone map and by its Bloom bits. The Bloom test applies only
      in the :data:`_BLOOM_EXACT` cases, by the manifest schema's column
      type; a ``None`` value keeps every dir.
    - ``partitions``: partition values (``None`` = the NULL partition); a
      dir whose ``dir_parts`` coverage holds none of them goes, a dir with
      unknown coverage stays."""
    stats = manifest.get("stats", {})
    bloom, bits = manifest.get("bloom", {}), manifest.get("bloom_bits")
    fields = json.loads(manifest.get("schema") or '{"fields": []}')["fields"]
    exact = {f["name"]: _BLOOM_EXACT.get(str(f["type"])) for f in fields}
    # Per point value: its two Bloom positions, or None where bits can't
    # rule it out.
    probes = {
        c: [
            (v, _bloom_positions(v, bits) if bits and type(v) is exact.get(c) else None)
            for v in vs
        ]
        for c, vs in (points or {}).items()
    }
    tokens = {_partition_value_token(v) for v in partitions or ()}
    dir_parts = manifest.get("dir_parts", {})
    ranges = list((between or {}).items())

    def overlaps(mm, lo, hi) -> bool:
        if mm is None or mm[0] is None or mm[1] is None:
            return True
        try:
            return not (
                lo is not None and mm[1] < lo or hi is not None and mm[0] > hi
            )
        except TypeError:
            return True

    def may_hold(d: str, c: str) -> bool:
        mm, pos = stats.get(d, {}).get(c), bloom.get(d, {}).get(c)
        bitset = set(pos or ())
        return any(
            v is None
            or overlaps(mm, v, v) and (h is None or pos is None or {*h} <= bitset)
            for v, h in probes[c]
        )

    def keep(d: str) -> bool:
        parts = dir_parts.get(d)
        return (
            all(overlaps(stats.get(d, {}).get(c), *b) for c, b in ranges)
            and all(may_hold(d, c) for c in probes)
            and (partitions is None or parts is None or not tokens.isdisjoint(parts))
        )

    return [d for d in manifest["dirs"] if keep(d)]


def _check_stats_cols(schema, cols) -> None:
    """Zone maps record a JSON min/max, exact only for integral, floating
    and string columns (the ones the pushdown writer records too); any
    other type is refused before a byte is written."""
    from pyspark.sql.types import DoubleType, FloatType, IntegralType, StringType

    ok = (IntegralType, FloatType, DoubleType, StringType)
    types = {f.name: f.dataType for f in getattr(schema, "fields", ())}
    bad = [c for c in cols or () if c in types and not isinstance(types[c], ok)]
    if bad:
        raise ValueError(f"zone-map stats take numeric or string columns, not {bad}")


def _partition_token(partition_col: str):
    """Canonical partition-identity expression: Spark's string rendering of
    the value, with NULL and empty string collapsed to the Hive default
    partition sentinel — exactly how Spark names partition directories
    (``ExternalCatalogUtils.getPartitionValueString``)."""
    from pyspark.sql import functions as F

    s = F.col(partition_col).cast("string")
    return F.when(
        s.isNull() | (s == ""), F.lit(HIVE_DEFAULT_PARTITION)
    ).otherwise(s)


def _partition_value_token(value) -> str:
    """Python-side twin of ``_partition_token`` for caller-supplied values."""
    if value is None or value == "":
        return HIVE_DEFAULT_PARTITION
    return str(value)


_TRANSFORM_RE = re.compile(
    r"^\s*(bucket|truncate|year|month|day|hour)\s*\("
    r"(?:\s*(\d+)\s*,)?\s*(\w+)\s*\)\s*$",
    re.IGNORECASE,
)

# Transforms whose output preserves the source ordering, so a range
# predicate on the source column translates to a range on the hidden
# column. bucket() is hash-based: point lookups only.
_MONOTONIC_TRANSFORMS = frozenset({"truncate", "year", "month", "day", "hour"})


def _parse_partition_spec(spec: str) -> dict | None:
    """``"bucket(16, user_id)"`` → ``{"fn": "bucket", "col": "user_id",
    "n": 16, "hidden": "_p_bucket16_user_id"}``; a plain column name
    (identity partitioning) → None."""
    m = _TRANSFORM_RE.match(spec)
    if m is None:
        if not re.fullmatch(r"\w+", spec.strip()):
            raise ValueError(f"bad partition spec {spec!r}")
        return None
    fn, n, col = m.group(1).lower(), m.group(2), m.group(3)
    if fn in ("bucket", "truncate"):
        if n is None:
            raise ValueError(f"{fn}() needs a width: {spec!r}")
        n = int(n)
        if n <= 0:
            raise ValueError(f"{fn}() width must be positive: {spec!r}")
        hidden = f"_p_{fn}{n}_{col}"
    else:
        if n is not None:
            raise ValueError(f"{fn}() takes one column only: {spec!r}")
        hidden = f"_p_{fn}_{col}"
    return {"fn": fn, "col": col, "n": n, "hidden": hidden, "spec": spec.strip()}


def _in_range(col, lo, hi):
    """``lo <= col <= hi`` as a Column; a ``None`` bound is an open end."""
    from pyspark.sql import functions as F

    cond = F.lit(True)
    if lo is not None:
        cond = cond & (col >= lo)
    if hi is not None:
        cond = cond & (col <= hi)
    return cond


def _transform_expr(fn: str, source, n: int | None):
    """The hidden-partition value of ``source`` (a Column OR a literal
    wrapped by the caller) under transform ``fn`` — Catalyst-only, so the
    same expression derives write-side values and folds to a constant in
    read-side partition filters (Iceberg's transform contract: one
    definition, both sides). month/hour are epoch-relative (Iceberg
    semantics), keeping values totally ordered ACROSS years/days so range
    predicates translate."""
    from pyspark.sql import functions as F

    if fn == "bucket":
        # Murmur3 via F.hash: deterministic across sessions/partitions.
        return F.pmod(F.hash(source), F.lit(n))
    if fn == "truncate":
        return F.substring(source.cast("string"), 1, n)
    if fn == "year":
        return F.year(source)
    if fn == "month":
        return (F.year(source) - F.lit(1970)) * F.lit(12) + F.month(source) - F.lit(1)
    if fn == "day":
        return F.to_date(source)
    if fn == "hour":
        return F.floor(source.cast("timestamp").cast("double") / F.lit(3600.0)).cast(
            "bigint"
        )
    raise ValueError(f"unknown transform {fn!r}")


class VersionedTable:
    """A directory-backed table with Iceberg-style snapshot manifests.

    Layout::

        root/
          _snapshots/00000001.json   # {"version","operation","dirs":[...]}
          data/<uuid>/part-*.parquet
    """

    def __init__(self, spark: SparkSession, root: str) -> None:
        self.spark = spark
        self.root = root
        self._snap_dir = os.path.join(root, "_snapshots")
        # Set on handles returned by branch(): snapshots publish to the
        # branch's own chain while data shares the table root (zero-copy).
        self._branch_name: str | None = None
        os.makedirs(self._snap_dir, exist_ok=True)
        os.makedirs(os.path.join(root, "data"), exist_ok=True)

    # -- metadata ----------------------------------------------------------
    def versions(self) -> list[int]:
        return sorted(
            int(f.split(".")[0])
            for f in os.listdir(self._snap_dir)
            if f.endswith(".json")
        )

    def _manifest(self, version: int) -> dict:
        with open(os.path.join(self._snap_dir, f"{version:08d}.json")) as fh:
            return json.load(fh)

    @staticmethod
    def manifest_diff(old: dict, new: dict) -> ManifestDiff:
        """The change from manifest ``old`` (``{}`` is the empty table) to
        ``new``: data dirs added and removed, deletion vectors that appeared
        and vanished. Every incremental reader of table history (the
        materialized views, the table-changes stream) takes its changes
        from here; what a change MEANS to each reader stays its own call."""

        def only_in(a: dict, b: dict, key: str) -> list[str]:
            seen = set(b.get(key, []))
            return [x for x in a.get(key, []) if x not in seen]

        return ManifestDiff(
            added=only_in(new, old, "dirs"),
            removed=only_in(old, new, "dirs"),
            new_dvs=only_in(new, old, "delete_vectors"),
            vanished_dvs=only_in(old, new, "delete_vectors"),
        )

    def _has_version(self, version: int) -> bool:
        return os.path.exists(
            os.path.join(self._snap_dir, f"{version:08d}.json")
        )

    def current_version(self) -> int | None:
        """Latest snapshot number — O(1) via the ``_latest_hint`` pointer
        (Delta's ``_last_checkpoint`` / Iceberg's version-hint file), not a
        directory listing: a 5 s-trigger stream accretes ~17k manifests a
        day and EVERY commit consults the current version, so an
        O(#versions) listdir per micro-batch is the manifest-side twin of
        the shard-listing cost the compactors exist to avoid. The hint is
        written AFTER a successful publish, so it can only LAG reality
        (crash between manifest link and hint write, or a concurrent
        writer's late hint) — the walk-forward probe below absorbs any lag
        at O(lag) file-exists checks; a missing or corrupt hint falls back
        to the full listing."""
        hint_path = os.path.join(self._snap_dir, "_latest_hint")
        try:
            with open(hint_path) as fh:
                v = int(fh.read().strip())
        except (OSError, ValueError):
            vs = self.versions()
            return vs[-1] if vs else None
        if not self._has_version(v):
            # Hint outlived its manifest (manual cleanup / partial copy):
            # the listing is ground truth.
            vs = self.versions()
            return vs[-1] if vs else None
        while self._has_version(v + 1):
            v += 1
        return v

    def snapshots(self) -> DataFrame:
        """Snapshot metadata as a DataFrame (Iceberg's ``t.snapshots``)."""
        rows = [
            Row(
                version=m["version"],
                operation=m["operation"],
                n_dirs=len(m["dirs"]),
                n_rows=m.get("n_rows"),
                committed_at=m.get("committed_at"),
            )
            for m in (self._manifest(v) for v in self.versions())
        ]
        return self.spark.createDataFrame(
            rows,
            schema=(
                "version int, operation string, n_dirs int, n_rows bigint, "
                "committed_at string"
            ),
        )

    def schema_changes(self) -> DataFrame:
        """Schema-evolution log as a DataFrame: one row per column change
        per version (``add`` / ``drop`` / ``rename`` / ``type`` — the audit
        trail a reviewer asks for before trusting a long-lived table).
        Renames are recognized via the alias metadata the rename path
        records, so they report as ONE rename, not a drop+add."""
        rows = []
        prev: dict[str, str] = {}
        prev_names: set[str] = set()
        for v in self.versions():
            st = self.schema(v)
            if st is None:
                continue
            cur = {f.name: f.dataType.simpleString() for f in st.fields}
            renames = {}
            for f in st.fields:
                if f.name not in prev_names:
                    for old in (f.metadata or {}).get(self.ALIASES_KEY, []):
                        if old in prev_names and old not in cur:
                            renames[f.name] = old
                            break
            for name, dtype in cur.items():
                if name in renames:
                    rows.append(
                        Row(
                            version=v,
                            change="rename",
                            column=f"{renames[name]}->{name}",
                            dtype=dtype,
                        )
                    )
                elif name not in prev_names:
                    rows.append(
                        Row(version=v, change="add", column=name, dtype=dtype)
                    )
                elif prev.get(name) != dtype:
                    rows.append(
                        Row(version=v, change="type", column=name, dtype=dtype)
                    )
            renamed_from = set(renames.values())
            for name in prev_names - set(cur) - renamed_from:
                rows.append(
                    Row(
                        version=v,
                        change="drop",
                        column=name,
                        dtype=prev.get(name),
                    )
                )
            prev, prev_names = cur, set(cur)
        return self.spark.createDataFrame(
            rows, schema="version int, change string, column string, dtype string"
        )

    def schema(self, version: int | None = None):
        """The table schema recorded at ``version`` (None = latest), or None
        for manifests written before schema tracking."""
        from pyspark.sql.types import StructType

        m = self._current() if version is None else self._manifest(version)
        raw = m.get("schema")
        return StructType.fromJson(json.loads(raw)) if raw else None

    @staticmethod
    def _evolve_schema(current, incoming, merge_schema: bool):
        """Next table schema for an append commit.

        Identical schemas pass through. With ``merge_schema`` (Iceberg/Delta
        ``mergeSchema``): columns NEW in the batch are appended to the table
        schema (old dirs read them back as NULL); columns MISSING from the
        batch stay (the batch's files read back NULL for them); a column
        present on both sides must keep its exact type — type mutation is
        rejected, the same stance Delta takes without an explicit overwrite.
        Without ``merge_schema`` any difference is an error, so a pipeline
        can't silently fork a table's shape.
        """
        from pyspark.sql.types import StructType

        cur = {f.name: f for f in current.fields}
        inc = {f.name: f for f in incoming.fields}
        if [f.name for f in current.fields] == [f.name for f in incoming.fields] and all(
            cur[n].dataType == inc[n].dataType for n in cur
        ):
            return current
        conflicts = [
            n
            for n in cur
            if n in inc and cur[n].dataType != inc[n].dataType
        ]
        if conflicts:
            raise ValueError(
                f"schema evolution cannot change column types: {conflicts} "
                f"({[(n, str(cur[n].dataType), str(inc[n].dataType)) for n in conflicts]})"
            )
        if not merge_schema:
            raise ValueError(
                "append schema differs from table schema "
                f"(table={sorted(cur)}, batch={sorted(inc)}); pass "
                "merge_schema=True to evolve additively"
            )
        added = [f for f in incoming.fields if f.name not in cur]
        return StructType(list(current.fields) + added)

    # -- write path --------------------------------------------------------
    def _current(self) -> dict:
        """The current snapshot's manifest; ``{}`` (the empty table) for a
        table without one."""
        version = self.current_version()
        return {} if version is None else self._manifest(version)

    def _snapshot(self, version: int | None = None) -> dict:
        """The manifest of ``version`` (None = the current snapshot): the
        one snapshot resolver, which raises on a table without snapshots."""
        m = self._current() if version is None else self._manifest(version)
        if not m:
            raise ValueError(f"table {self.root} has no snapshots")
        return m

    def _new_dir(self, kind: str = "data") -> str:
        return os.path.join(self.root, kind, uuid.uuid4().hex)

    def commit(
        self,
        df: DataFrame,
        mode: str = "append",
        partition_by: Sequence[str] | None = None,
        stats_cols: Sequence[str] | None = None,
        merge_schema: bool = False,
        bloom_cols: Sequence[str] | None = None,
        bloom_bits: int = 4096,
        txn: tuple[str, int] | Sequence[tuple[str, int]] | None = None,
        _operation: str | None = None,
        _existing_dir: str | None = None,
    ) -> int:
        """Write ``df`` as a new snapshot; returns the new version number.

        ``txn=(app_id, txn_version)`` makes the commit transactionally
        idempotent (Delta's txnAppId/txnVersion): the manifest records the
        highest txn_version seen per app, and a commit whose txn_version is
        ``<=`` the recorded one is SKIPPED entirely (no data write, current
        version returned). This is what makes foreachBatch APPEND sinks
        exactly-once — merge sinks replay idempotently by construction, but
        a replayed append (crash between commit and checkpoint) would
        duplicate rows without the marker. A LIST of ``(app_id, version)``
        pairs records several watermarks in the one atomic manifest (a view
        maintained over TWO base tables needs both reflected versions to
        land with the state or a crash re-folds one side); the replay skip
        then fires only when EVERY pair is at-or-behind its recorded mark.

        ``mode="append"`` keeps prior data dirs in the manifest;
        ``mode="overwrite"`` starts the manifest fresh (data files of older
        versions remain on disk for time travel until expired).

        ``stats_cols`` records per-dir min/max for those (numeric or string)
        columns in the manifest — Iceberg's file-skipping stats at directory
        granularity. ``scan`` then prunes whole dirs without opening a single
        parquet footer.

        ``merge_schema`` permits additive evolution on append: batch columns
        the table lacks join the schema (prior snapshots' rows read NULL for
        them), and batch-missing table columns backfill NULL — the manifest
        records the authoritative schema, so no data file is ever rewritten
        for a schema change (Iceberg's metadata-only evolution). Type changes
        are rejected either way.

        ``bloom_cols`` records a per-dir Bloom filter for those columns
        (Delta's bloom-filter index, at directory granularity): the distinct
        ``bloom_bits``-bucket positions of two md5-derived hashes per value.
        Zone-map stats prune RANGE predicates but are useless for point
        lookups on high-cardinality unclustered keys (every dir spans most
        of the domain); the bloom answers "could this dir contain key X?"
        from ≤``bloom_bits`` bits of manifest metadata — ``scan_point`` then
        prunes dirs with no false negatives.
        """
        from pyspark.sql.types import StructType

        if mode not in ("append", "overwrite"):
            raise ValueError(f"mode must be append|overwrite, got {mode!r}")
        _check_stats_cols(df.schema, stats_cols)
        txn_list: list[tuple[str, int]] | None = None
        if txn is not None:
            txn_list = [txn] if isinstance(txn[0], str) else [
                (a, v) for a, v in txn
            ]
            head = self._current()
            recorded = head.get("txns", {})
            if head and all(
                recorded.get(a) is not None and v <= recorded[a]
                for a, v in txn_list
            ):
                return head["version"]  # replayed batch: already folded, skip
        # Generated columns derive (batch omits them) or validate (batch
        # supplies them) BEFORE constraints, so a constraint may reference
        # a generated column. The WAP path validates the staged files
        # instead — staged data is immutable, so a missing generated column
        # there is a hard error, not a derivation.
        gen = self.generated_columns()
        if gen:
            if _existing_dir is None:
                df = self._apply_generated(df, gen)
            else:
                staged = self.spark.read.parquet(_existing_dir)
                missing = [c for c in gen if c not in staged.columns]
                if missing:
                    raise ValueError(
                        f"staged data lacks generated columns {missing}"
                    )
                self._apply_generated(staged, gen)
        # Table-level CHECK constraints gate every publish: the fresh-write
        # path checks the batch BEFORE any data lands; the WAP path
        # (_existing_dir) checks what was actually staged — either way a
        # breaching batch never becomes a snapshot.
        cons = self.constraints()
        if cons:
            target = (
                df
                if _existing_dir is None
                else self.spark.read.parquet(_existing_dir)
            )
            self._check_constraints(target, cons)
        # Hidden partitioning (Iceberg partition transforms): a spec like
        # "day(ts)" or "bucket(16, user_id)" derives a hidden physical
        # partition column at write; readers never see it, and
        # scan_transformed rewrites source-column predicates onto it so
        # Spark's partition pruning engages. The recorded table schema stays
        # the USER schema — the transform is metadata, not a column.
        parsed_specs = [
            (_parse_partition_spec(p), p) for p in (partition_by or [])
        ]
        hidden = {s["hidden"]: s for s, _ in parsed_specs if s is not None}
        phys_partition_by = [
            s["hidden"] if s is not None else raw for s, raw in parsed_specs
        ]
        if hidden and _existing_dir is not None:
            raise ValueError(
                "partition transforms are unsupported on the staged-adoption "
                "(WAP) path; stage with identity partitioning"
            )
        if _existing_dir is not None:
            # WAP publish path: the data is already staged on disk; adopting
            # it avoids a second write of the full batch.
            data_dir = _existing_dir
        else:
            from pyspark.sql import functions as F

            write_df = df
            for h, s in hidden.items():
                write_df = write_df.withColumn(
                    h, _transform_expr(s["fn"], F.col(s["col"]), s["n"])
                )
            if hidden:
                # Iceberg's hash write-distribution: cluster rows by the
                # physical partition columns BEFORE partitionBy, so each
                # dir is written by one task (one file per dir) instead of
                # every shuffle task spraying a sliver into every dir —
                # dirs × tasks small files, the classic transform-write
                # trap (measured 10.7s → ~2s on the bench query).
                write_df = write_df.repartition(
                    *[F.col(c) for c in phys_partition_by]
                )
            data_dir = self._new_dir()
            writer = write_df.write.mode("overwrite").format("parquet")
            if phys_partition_by:
                writer = writer.partitionBy(*phys_partition_by)
            writer.save(data_dir)

        parent = self._current()
        append = mode == "append"
        next_schema = df.schema
        if append and parent.get("schema"):
            next_schema = self._evolve_schema(
                StructType.fromJson(json.loads(parent["schema"])),
                df.schema,
                merge_schema,
            )
        if append and parent.get("bloom"):
            # The bloom modulus is fixed when the index is CREATED: per-dir
            # bit sets hashed mod different bloom_bits cannot share one
            # probe (scan_point would prune dirs that DO contain the value),
            # so an indexed table's modulus pins every later append,
            # whatever this call's argument says.
            bloom_bits = parent.get("bloom_bits", bloom_bits)
        meta = self._dir_meta(data_dir, stats_cols, bloom_cols, bloom_bits)
        if partition_by:
            # Per-dir layout record: partition EVOLUTION is legal (a later
            # commit may choose different partition columns), and the read
            # path groups dirs by layout — a metadata-only change, as in
            # Iceberg, with no rewrite of existing dirs.
            meta["partitioning"] = phys_partition_by
        if hidden:
            meta["hidden_specs"] = {h: s["spec"] for h, s in hidden.items()}
        changes: dict = {
            "schema": json.dumps(next_schema.jsonValue()),
            "bloom_bits": bloom_bits,
        }
        if txn_list is not None:
            changes["txns"] = dict(txn_list)
        return self._commit(
            parent,
            _operation or mode,
            add=[(data_dir, meta)],
            keep=None if append else [],
            rows_unchanged=_operation == "compact",
            **changes,
        )

    def _commit(
        self,
        parent: dict,
        operation: str,
        add: Sequence[tuple[str, dict]] = (),
        keep: Sequence[str] | None = None,
        dvs: Sequence[str] = (),
        rows_unchanged: bool = False,
        **changes,
    ) -> int:
        """The one commit seam: derive the next manifest from ``parent``
        (the head's manifest, ``{}`` for a table's first snapshot) and a
        change set, then publish it. Every mutation states its changes and
        nothing else, so which key carries how is decided here alone:

        - ``add``: the new data dirs, each with its per-dir entries
          (``{"stats": ..., "bloom": ..., "partitioning": ...,
          "hidden_specs": ..., "dir_parts": ...}``, any subset);
        - ``keep``: the parent dirs that stay, in order (default: all;
          ``[]`` for a full rewrite). Their per-dir entries carry over; a
          removed dir's entries go with it;
        - ``dvs``: deletion vectors added to the carried ones;
        - ``rows_unchanged``: the snapshot holds exactly the parent's
          visible rows (compaction, Z-order), so ANALYZE statistics stay;
        - ``changes``: table-level keys replaced and written as given —
          schema, policy, ``ndv``, ``delete_vectors`` resets, snapshot-only
          keys. A per-dir map given here replaces the whole map (ALTER,
          ANALYZE); ``txns`` merge into the parent's.

        The bloom modulus travels with the bloom index. Keys outside
        :data:`_PER_DIR`, the data state and :data:`_POLICY` (``content_fp``,
        ``ff_branch``, ``fork_main_version``) describe one snapshot and
        never carry. Returns the new version."""
        keep = parent.get("dirs", []) if keep is None else list(keep)
        m = {
            "version": parent.get("version", 0) + 1,
            "operation": operation,
            "dirs": keep + [d for d, _meta in add],
            "schema": parent.get("schema"),
        }
        for k in _PER_DIR:
            entries = {d: parent[k][d] for d in keep if d in parent.get(k, {})}
            entries.update((d, meta[k]) for d, meta in add if k in meta)
            if entries or k == "stats":
                m[k] = entries
        if keep and parent.get("delete_vectors"):
            m["delete_vectors"] = parent["delete_vectors"]
        if (keep or rows_unchanged) and parent.get("ndv"):
            # Statistics go STALE after an append, they don't vanish
            # (noticing the drift is the planner's job); sketches of
            # replaced data must not describe a rewrite's rows.
            m["ndv"] = parent["ndv"]
        if dvs:
            m["delete_vectors"] = m.get("delete_vectors", []) + list(dvs)
        m.update({k: parent[k] for k in _POLICY if parent.get(k)})
        txns = {**parent.get("txns", {}), **changes.pop("txns", {})}
        m.update(changes)
        if txns:
            m["txns"] = txns
        if m.get("bloom"):
            m.setdefault("bloom_bits", parent.get("bloom_bits"))
        else:
            m.pop("bloom_bits", None)
        self._publish_manifest(m)
        return m["version"]

    @staticmethod
    def _restore(src: dict, *keys: str) -> dict:
        """The change set that re-creates ``src``'s data state over a parent
        whose dirs all go: ``src``'s dirs with their per-dir entries, its
        deletion vectors, ndv, schema and bloom modulus — plus ``keys``."""
        add = [
            (d, {k: src[k][d] for k in _PER_DIR if d in src.get(k, {})})
            for d in src["dirs"]
        ]
        keys = ("schema", "bloom_bits", "delete_vectors", "ndv", *keys)
        return {"add": add, "keep": [], **{k: src[k] for k in keys if k in src}}

    def _publish_manifest(self, manifest: dict) -> None:
        """Atomically publish a derived snapshot manifest with optimistic
        concurrency (Iceberg's atomic metadata swap, via
        :func:`_link_json`): of two writers racing from the same base
        snapshot exactly one wins and the loser gets
        :class:`CommitConflictError` (retry = re-read the new current
        version, re-derive, re-commit — its data dir is orphaned until
        :meth:`remove_orphans`)."""
        version = manifest["version"]
        manifest.setdefault(
            "committed_at",
            datetime.datetime.now(datetime.timezone.utc).isoformat(),
        )
        _link_json(
            os.path.join(self._snap_dir, f"{version:08d}.json"),
            manifest,
            f"version {version} of {self.root} was committed concurrently; "
            "re-read the table and retry the commit",
        )
        # Advance the O(1) latest pointer AFTER the manifest is durable, so
        # the hint only ever names an existing manifest and can only LAG
        # (current_version walks forward over any lag). Atomic replace; a
        # concurrent older writer overwriting with a lower value is the
        # same lag case. Best-effort: a failed hint write costs one
        # fallback listing, never correctness.
        self._write_latest_hint(version)

    def _dir_meta(
        self,
        path: str,
        stats_cols: Sequence[str] | None = None,
        bloom_cols: Sequence[str] | None = None,
        bloom_bits: int = 4096,
        by=None,
    ) -> dict:
        """Per-dir index entries for freshly written rows under ``path``:
        zone-map ``stats`` (min/max of ``stats_cols``) and ``bloom`` bit
        sets (the distinct ``bloom_bits``-bucket positions of two
        md5-derived hashes per value of ``bloom_cols``), both folded into
        ONE aggregate job per write — a commit-heavy stream pays one
        metadata pass, not one per index kind per column, and the
        collect_set payload is bounded by ``bloom_bits``, never by data
        size. With ``by`` (a column splitting one write into several dirs)
        the job groups by it and returns ``{group value: entries}``."""
        if not (stats_cols or bloom_cols):
            return {}
        from pyspark.sql import functions as F

        aggs = []
        for c in stats_cols or ():
            aggs += [F.min(c).alias(f"min_{c}"), F.max(c).alias(f"max_{c}")]
        for c in bloom_cols or ():
            h = F.md5(F.col(c).cast("string"))
            for part, lo in (("a", 1), ("b", 9)):
                aggs.append(
                    F.collect_set(
                        F.conv(F.substring(h, lo, 8), 16, 10).cast("bigint")
                        % bloom_bits
                    ).alias(f"bloom_{part}_{c}")
                )

        def entries(r) -> dict:
            out = {}
            if stats_cols:
                out["stats"] = {
                    c: [r[f"min_{c}"], r[f"max_{c}"]] for c in stats_cols
                }
            if bloom_cols:
                out["bloom"] = {
                    c: sorted(
                        {int(b) for b in r[f"bloom_a_{c}"]}
                        | {int(b) for b in r[f"bloom_b_{c}"]}
                    )
                    for c in bloom_cols
                }
            return out

        frame = self.spark.read.parquet(path)
        if by is None:
            return entries(frame.agg(*aggs).collect()[0])
        rows = frame.groupBy(by.alias("__g")).agg(*aggs).collect()
        return {r["__g"]: entries(r) for r in rows}

    def delete_where(
        self,
        condition: str,
        prune_between: dict[str, tuple] | None = None,
    ) -> int:
        """Row-level DELETE as copy-on-write (Delta's ``DELETE FROM``): dirs
        that provably cannot contain matching rows — by their recorded
        min/max stats against ``prune_between`` — carry over by manifest
        reference; only the remainder is read, filtered, and rewritten.

        ``prune_between`` is the caller's pruning hint ({col: (lo, hi)}
        bounding WHERE matches can live — typically the delete predicate's
        own range); without it, or without stats, every dir rewrites (the
        documented full-rewrite fallback). Deleted rows stay visible via
        time travel until snapshots expire — exactly Delta's contract.
        """
        return self._rewrite_where(
            "delete", condition, prune_between, lambda frame, cond: frame.filter(~cond)
        )

    def update_where(
        self,
        condition: str,
        set_exprs: dict[str, str],
        prune_between: dict[str, tuple] | None = None,
    ) -> int:
        """Row-level UPDATE as copy-on-write (Delta's ``UPDATE``): the same
        file-skipping shape as :meth:`delete_where` — stats-pruned dirs
        carry over, candidate dirs rewrite with ``set_exprs`` applied to
        rows matching ``condition`` (others pass through unchanged). Prior
        values stay time-travelable until snapshot expiry.
        """
        from pyspark.sql import functions as F

        def rewrite(frame: DataFrame, cond) -> DataFrame:
            types = self._set_types(frame, set_exprs)
            # ONE select, so the WHERE and every SET expression evaluate
            # against the PRE-update row (ANSI UPDATE semantics); SET
            # results cast back to the column's declared type (Delta's
            # rule) so `v + 1` cannot fork the type between rewritten and
            # carried-over files.
            frame = frame.select(
                *[
                    F.when(cond, F.expr(set_exprs[c]).cast(types[c]))
                    .otherwise(F.col(c))
                    .alias(c)
                    if c in set_exprs
                    else F.col(c)
                    for c in frame.columns
                ]
            )
            # CHECK constraints gate every publish — including UPDATE: the
            # rewritten candidate rows are validated before any manifest
            # lands (carried-over dirs passed at their own publish).
            self._check_constraints(frame, self.constraints())
            return frame

        return self._rewrite_where(
            "update", condition, prune_between, rewrite, exclude=set_exprs
        )

    @staticmethod
    def _set_types(frame: DataFrame, set_exprs: dict[str, str]) -> dict:
        types = {f.name: f.dataType for f in frame.schema.fields}
        for col in set_exprs:
            if col not in types:
                raise ValueError(f"UPDATE of unknown column {col!r}")
        return types

    def _rewrite_where(
        self, operation, condition, prune_between, rewrite, exclude=()
    ) -> int:
        """Copy-on-write DML: dirs whose stats rule out ``prune_between``
        carry over by reference; the candidates are read, passed through
        ``rewrite(frame, condition)`` and written as one new dir. That dir
        holds a SUBSET of the candidates' rows (or, for UPDATE, their
        pass-through columns), so the union of their envelopes and bit sets
        stays a safe over-approximation (false positives only) — except for
        the ``exclude``d SET columns, whose new values the old entries do
        not cover."""
        from pyspark.sql import functions as F

        m = self._snapshot()
        touched = set(plan_dirs(m, between=prune_between))
        keep = [d for d in m["dirs"] if d not in touched]
        touch = sorted(touched)
        add = []
        if touch:
            cond = F.coalesce(F.expr(condition), F.lit(False))
            new_dir = self._new_dir()
            rewrite(self._read_dirs(touch, m["version"]), cond).write.mode(
                "overwrite"
            ).parquet(new_dir)
            meta = {
                "stats": _union_stats_envelopes(m.get("stats", {}), touch, exclude),
                "bloom": _union_bloom_sets(m.get("bloom", {}), touch, exclude),
            }
            add = [(new_dir, {k: v for k, v in meta.items() if v})]
        return self._commit(m, operation, add=add, keep=keep)

    def rollback(self, to_version: int) -> int:
        """Restore the table to a prior snapshot's content as a NEW commit
        (Delta ``RESTORE`` / Iceberg rollback): metadata-only — the new
        manifest re-references ``to_version``'s data dirs, so no data moves,
        the bad versions stay time-travelable for forensics, and readers of
        "latest" see the restored state immediately.
        """
        # Data state restores from the target, including its deletion
        # vectors, per-dir layouts and ANALYZE statistics; table policy and
        # stream progress (txn watermarks) keep carrying from the current
        # head: RESTORE rewinds data, not table policy.
        target = self._manifest(to_version)  # raises if it never existed
        return self._commit(
            self._snapshot(), f"rollback_to_{to_version}", **self._restore(target)
        )

    def clone_to(
        self, dest_root: str, version: int | None = None
    ) -> "VersionedTable":
        """Metadata-only SHALLOW CLONE (Delta's ``CREATE TABLE ... SHALLOW
        CLONE``): the clone's first manifest references THIS table's data
        dirs at ``version`` (default: latest) — zero data copied, however
        large the table. From then on the two tables diverge independently:
        the clone's commits write under its own root, and maintenance is
        ownership-scoped (``expire_snapshots``/``remove_orphans`` never
        delete dirs outside their table's root), so vacuuming the clone
        cannot reach into the source. The one shared-fate caveat is
        Delta's too: expiring the SOURCE snapshot a clone references breaks
        that clone's time travel to it.

        The cheap-fork workflow this enables at 100 TB: clone prod, run a
        risky backfill/experiment against the clone, diff, then promote or
        drop — all without duplicating the base data.
        """
        m = self._snapshot(version)
        clone = VersionedTable(self.spark, dest_root)
        if clone.current_version() is not None:
            raise ValueError(f"clone destination {dest_root} is not empty")
        # The clone must see the SAME rows as the source snapshot (data
        # state, including deletion vectors), and table policy plus stream
        # watermarks ride along the way Delta clones copy table properties
        # — a stream repointed at the clone must not double-apply batches.
        # Tags name SOURCE versions, so they stay behind.
        policy = [k for k in _POLICY if k != "refs"]
        clone._commit(
            {},
            f"clone_of_{os.path.abspath(self.root)}@v{m['version']}",
            **self._restore(m, *policy),
        )
        return clone

    def commit_audited(
        self,
        df: DataFrame,
        expectations,
        mode: str = "append",
        **commit_kwargs,
    ) -> int:
        """Write-audit-publish (Iceberg's WAP pattern): stage the data,
        audit the STAGED files against a declarative expectation list
        (:mod:`lakeflow.quality`), and only then publish the manifest.

        A batch that breaches any ``fail``-level rule never becomes a
        snapshot — readers cannot observe it, unlike validate-after-commit,
        which leaves a bad version visible until someone rolls back. The
        audit reads back what was actually written (the files a publish
        would expose), not the input frame, so write-path corruption is in
        scope. On breach the staged dir is left for :meth:`remove_orphans`
        and :class:`lakeflow.quality.ExpectationFailedError` propagates.
        """
        from lakeflow.quality import enforce

        staged = self._new_dir()
        writer = df.write.mode("overwrite")
        partition_by = commit_kwargs.get("partition_by")
        if partition_by:
            # Stage in the final layout; the publish adopts the dir as-is.
            writer = writer.partitionBy(*list(partition_by))
        writer.parquet(staged)
        enforce(self.spark.read.parquet(staged), expectations)
        return self.commit(
            self.spark.read.parquet(staged),
            mode=mode,
            _operation=f"{mode}_audited",
            _existing_dir=staged,
            **commit_kwargs,
        )

    def _write_latest_hint(self, version: int) -> None:
        """Best-effort atomic rewrite of the ``_latest_hint`` pointer. Safe
        to lose (current_version falls back to the listing) but — combined
        with the walk-forward probe — only safe to KEEP when no version gap
        sits directly above it, which publish order guarantees for commits
        and ``expire_snapshots`` re-establishes by rewriting the hint to
        the surviving head."""
        hint_path = os.path.join(self._snap_dir, "_latest_hint")
        hint_tmp = f"{hint_path}.{uuid.uuid4().hex}.tmp"
        try:
            with open(hint_tmp, "w") as fh:
                fh.write(str(version))
            os.replace(hint_tmp, hint_path)
        except OSError:
            try:
                os.unlink(hint_tmp)
            except OSError:
                pass

    def commit_replace_partitions(
        self,
        df: DataFrame,
        partition_col: str,
        stats_cols: Sequence[str] | None = None,
        touched_values: Sequence | None = None,
        _operation: str = "replace_partitions",
    ) -> int:
        """Commit ``df`` as the new state of exactly the partitions it
        contains — plus any ``touched_values`` partitions — with every other
        partition's data dirs carried over untouched.

        ``touched_values`` exists for the delete-to-empty case: a CDC batch
        that deletes every key in a bucket produces a state df with NO rows
        for that bucket, so the df alone cannot name it. Callers that know
        which partitions a batch touched (the streaming merge sinks) pass
        them explicitly; the union with the df-derived set decides what is
        replaced, so an emptied partition's old dirs are dropped instead of
        carried over (which would resurrect its deleted keys on next read).

        This is Iceberg's copy-on-write replace-partitions, at directory
        granularity: the manifest records which ``partition_col`` values each
        dir holds (``dir_parts``). A commit keeps disjoint dirs as-is, writes
        the new rows to one fresh dir, and rewrites only the *remainder* of
        dirs that mix touched and untouched partitions (steady-state
        streaming converges to partition-pure dirs, so per-batch write cost
        is O(touched partitions), never O(table)).

        Partition identity is the Spark string rendering of the value, with
        NULL mapped to ``HIVE_DEFAULT_PARTITION`` — the same token on the
        manifest side (unescaped directory names) and the batch side
        (``_partition_token`` expression), so Hive-escaped characters
        (space, ``/``, ``:``...) and NULL partitions replace correctly.
        Hive-layout caveat: an empty-string value shares the NULL sentinel
        directory and reads back as NULL, as in Hive/Spark partitioned
        tables.
        """
        from pyspark.sql import functions as F
        from pyspark.sql.types import StructType

        # Same CHECK-constraint gate as commit(): the incoming state frame
        # is bounded by the touched partitions, so the one-agg check stays
        # O(batch state), never O(table).
        self._check_constraints(df, self.constraints())
        _check_stats_cols(df.schema, stats_cols)
        shadow = f"{partition_col}__p"
        parent = self._current()

        # Per-dir index maintenance (stats + bloom): a replace-managed
        # table's indexes must not decay as dirs get rewritten. Every NEW
        # dir gets fresh entries in ONE per-write aggregate — stats over
        # stats_cols (explicit, else the parent's stats columns) and bloom
        # bit sets over the parent's bloom columns at its pinned modulus.
        # Both intersect the batch's columns: a carried dir can pin entries
        # for a column a later schema change dropped, and recording nothing
        # for it only costs pruning, never correctness.
        batch_cols = set(df.columns)
        bloom_cols = sorted(
            {c for cs in parent.get("bloom", {}).values() for c in cs} & batch_cols
        )
        eff_stats_cols = sorted(
            (
                set(stats_cols)
                if stats_cols
                else {c for cs in parent.get("stats", {}).values() for c in cs}
            )
            & batch_cols
        )
        bloom_bits = parent.get("bloom_bits", 4096)
        add: list[tuple[str, dict]] = []

        def write_split(frame: DataFrame) -> None:
            """One write job, split into per-partition subdirectories via a
            shadow copy of the partition column (partitionBy strips its
            column from the data files; the shadow keeps the real column in
            place). Each subdir enters the manifest as a partition-pure dir,
            keyed by its canonical (unescaped) partition token.
            """
            base = self._new_dir()
            frame.withColumn(shadow, F.col(partition_col)).write.mode(
                "overwrite"
            ).partitionBy(shadow).parquet(base)
            tokens = {
                os.path.join(base, name): _unescape_partition_dir(
                    name.split("=", 1)[1]
                )
                for name in os.listdir(base)
                if name.startswith(f"{shadow}=")
            }
            metas = tokens and self._dir_meta(
                base, eff_stats_cols, bloom_cols, bloom_bits,
                by=_partition_token(shadow),
            )
            for d, token in tokens.items():
                add.append((d, {"dir_parts": [token], **metas.get(token, {})}))

        # Canonical tokens of the partitions this batch touches, rendered by
        # Spark (not Python str()) so they match the directory names Spark
        # writes and the remainder predicate below.
        touched = {
            r[0]
            for r in df.select(
                _partition_token(partition_col).alias("t")
            ).distinct().collect()
        }
        if touched_values is not None:
            touched |= {_partition_value_token(v) for v in touched_values}
        next_schema = df.schema
        if parent.get("schema"):
            next_schema = StructType.fromJson(json.loads(parent["schema"]))
            # Replace-partitions never evolves the schema (a CDC state frame
            # keeps one shape across batches); loud mismatch beats silent NULLs.
            if {f.name: f.dataType for f in next_schema.fields} != {
                f.name: f.dataType for f in df.schema.fields
            }:
                raise ValueError(
                    "replace-partitions schema mismatch: table "
                    f"{[(f.name, str(f.dataType)) for f in next_schema.fields]}"
                    " vs batch "
                    f"{[(f.name, str(f.dataType)) for f in df.schema.fields]}"
                )
        prev_parts = parent.get("dir_parts", {})
        keep: list[str] = []
        rewrite_dirs: list[str] = []
        for d in parent.get("dirs", []):
            parts = prev_parts.get(d)
            # Unknown coverage or overlap → the dir's untouched remainder is
            # rewritten (empty in steady state: write_split keeps every dir
            # single-partition).
            disjoint = parts is not None and not set(parts) & touched
            (keep if disjoint else rewrite_dirs).append(d)
        if rewrite_dirs:
            # Token comparison is null-safe: NULL partition rows carry the
            # sentinel token, so they are kept when untouched and replaced
            # when the batch touches the NULL partition (a bare ~isin would
            # evaluate to NULL and silently drop them).
            remainder_reader = self.spark.read
            if parent.get("schema"):
                remainder_reader = remainder_reader.schema(next_schema)
            write_split(
                remainder_reader.parquet(*rewrite_dirs).filter(
                    ~_partition_token(partition_col).isin(list(touched))
                )
            )
        write_split(df)
        return self._commit(
            parent,
            _operation,
            add=add,
            keep=keep,
            schema=json.dumps(next_schema.jsonValue()),
        )

    # -- read path ---------------------------------------------------------
    def read_partitions(
        self, partition_col: str, values: Sequence, version: int | None = None
    ) -> DataFrame:
        """Scan only the dirs whose recorded partition coverage intersects
        ``values`` (dirs without coverage info are conservatively read); the
        residual filter keeps results exact. ``None`` in ``values`` selects
        the NULL partition. The streaming-merge read path: a micro-batch
        touching 3 of 1024 buckets reads ~3/1024 of the table.
        """
        m = self._snapshot(version)
        dirs = plan_dirs(m, partitions=values)
        tokens = [_partition_value_token(v) for v in values]
        return self._read_dirs(dirs, m["version"]).filter(
            _partition_token(partition_col).isin(tokens)
        )

    POS_FILE = "_pos_file"
    POS_INDEX = "_pos_index"

    def _read_dirs(
        self,
        dirs: Sequence[str],
        version: int,
        with_positions: bool = False,
        dvs: Sequence[str] | None = None,
        keep_hidden: bool = False,
    ) -> DataFrame:
        """Multi-dir parquet scan under the manifest-recorded schema: columns
        a file predates read back NULL (Iceberg-style metadata-only schema
        evolution — no rewrite). Pre-schema-tracking manifests fall back to
        footer inference.

        ``with_positions`` carries each row's (file, row-position) identity
        out as the ``_pos_file``/``_pos_index`` columns — the handle the
        merge-on-read writers need. The tagging happens PER SCAN GROUP:
        ``_metadata`` only resolves against a scan relation, so over a
        partition-evolved (unioned) or DV-filtered table it must be
        projected before any union/join.

        ``dvs`` overrides which deletion vectors mask the scan: ``None``
        (default) applies the manifest's vectors at ``version``; an explicit
        list (possibly empty) applies exactly those — the raw-read handle
        the materialized-view refresh needs to recover DV pre-images.

        Hidden partition columns (``_p_*``, from partition transforms) are
        dropped from every result unless ``keep_hidden`` — they are layout,
        not data; ``scan_transformed`` keeps them just long enough to apply
        rewritten partition predicates. No ``dirs`` is an empty frame under
        the snapshot schema."""
        from pyspark.sql import functions as F
        from pyspark.sql.types import StructType

        st = self.schema(version)
        if not dirs:
            # limit(0) folds to an empty LocalRelation: actions run no tasks.
            return self.spark.createDataFrame([], st or StructType([])).limit(0)
        part = self._manifest(version).get("partitioning", {})
        groups: dict[tuple, list[str]] = {}
        for d in dirs:
            groups.setdefault(tuple(part.get(d, ())), []).append(d)
        if dvs is None:
            dvs = self._manifest(version).get("delete_vectors", [])
        else:
            dvs = list(dvs)

        aliased = st is not None and any(
            (f.metadata or {}).get(self.ALIASES_KEY) for f in st.fields
        )

        def read_group(
            group_dirs: Sequence[str], layout: tuple = ()
        ) -> DataFrame:
            if layout and len(group_dirs) > 1:
                # Spark's partition discovery takes the common ancestor of
                # multiple roots as the base path, so two partitioned commit
                # dirs read together would parse the commit-uuid path level
                # as a partition (CONFLICTING_DIRECTORY_STRUCTURES). Read
                # each partitioned root alone and union — same pruned scan,
                # one relation per commit dir.
                parts = [read_group([d], layout) for d in group_dirs]
                out = parts[0]
                for p in parts[1:]:
                    out = out.unionByName(p)
                return out
            reader = self.spark.read
            if st is not None and not aliased:
                reader = reader.schema(st)
            elif aliased:
                # One scan group can hold files from BOTH sides of a rename
                # (different physical column names) — merge the footers so
                # every historical name is in scope.
                reader = reader.option("mergeSchema", "true")
            df = reader.parquet(*group_dirs)
            hidden_cols = [
                c
                for c in df.columns
                if c.startswith("_p_") and not keep_hidden
            ]
            if aliased:
                # Rename history: each logical column COALESCEs over every
                # present historical name (a file physically stores exactly
                # one of them, null elsewhere); columns a group predates
                # stay NULL-backfilled.
                present = set(df.columns)
                sel = []
                for f in st.fields:
                    names = [f.name] + list(
                        (f.metadata or {}).get(self.ALIASES_KEY, [])
                    )
                    srcs = [F.col(n) for n in names if n in present]
                    expr = (
                        F.coalesce(*srcs)
                        if len(srcs) > 1
                        else (srcs[0] if srcs else F.lit(None))
                    )
                    sel.append(expr.cast(f.dataType).alias(f.name))
                if keep_hidden:
                    sel += [
                        F.col(c) for c in df.columns if c.startswith("_p_")
                    ]
            else:
                sel = [F.col(c) for c in df.columns if c not in hidden_cols]
            base = (
                [f.name for f in st.fields]
                if aliased
                else [c for c in df.columns if c not in hidden_cols]
            )
            if aliased and keep_hidden:
                base += [c for c in df.columns if c.startswith("_p_")]
            if not (dvs or with_positions):
                return df.select(*sel)
            tagged = df.select(
                *sel,
                F.col("_metadata.file_path").alias(self.POS_FILE),
                F.col("_metadata.row_index").alias(self.POS_INDEX),
            )
            if dvs:
                dv = self.spark.read.parquet(*dvs)
                # DVs are position lists, tiny next to data — broadcast
                # anti-join at the scan, the merge-on-read contract: no data
                # file was rewritten to delete these rows.
                tagged = tagged.join(
                    F.broadcast(dv),
                    (tagged[self.POS_FILE] == dv["file_path"])
                    & (tagged[self.POS_INDEX] == dv["row_index"]),
                    "left_anti",
                )
            return tagged if with_positions else tagged.select(*base)

        frames = [read_group(g, key) for key, g in groups.items()]
        out = frames[0]
        for f in frames[1:]:
            # Partition evolution: layouts differ but the manifest schema is
            # authoritative on both sides, so the union is by name.
            out = out.unionByName(f)
        return out

    def version_at(self, timestamp: str) -> int:
        """The snapshot current AS OF ``timestamp`` (ISO-8601, UTC assumed
        when naive) — the latest version whose commit time is <= it.
        Manifests from before commit-time stamping are treated as older
        than any timestamp."""
        target = datetime.datetime.fromisoformat(timestamp)
        if target.tzinfo is None:
            target = target.replace(tzinfo=datetime.timezone.utc)
        best = None
        for v in self.versions():
            raw = self._manifest(v).get("committed_at")
            at = (
                datetime.datetime.fromisoformat(raw)
                if raw
                else datetime.datetime.min.replace(tzinfo=datetime.timezone.utc)
            )
            if at <= target:
                best = v
        if best is None:
            raise ValueError(
                f"no snapshot of {self.root} existed at {timestamp}"
            )
        return best

    def read(
        self, version: int | str | None = None, timestamp: str | None = None
    ) -> DataFrame:
        """Scan the table at ``version`` (default: latest) — ``FOR VERSION
        AS OF`` — or at the snapshot current as of ``timestamp``
        (``FOR TIMESTAMP AS OF``) over the manifest's directory list.
        A string ``version`` resolves through the table's named refs
        (Iceberg tags): ``read(version="v1.0")``."""
        if timestamp is not None:
            if version is not None:
                raise ValueError("pass version OR timestamp, not both")
            version = self.version_at(timestamp)
        if isinstance(version, str):
            tags = self.tags()
            if version not in tags:
                raise ValueError(f"no such tag {version!r}")
            version = tags[version]
        m = self._snapshot(version)
        return self._read_dirs(m["dirs"], m["version"])

    def scan(
        self,
        between: dict[str, tuple] | None = None,
        version: int | None = None,
    ) -> DataFrame:
        """Stats-pruned scan: keep only dirs whose recorded [min, max] for
        every ``between`` column overlaps the requested [lo, hi]. Dirs without
        stats for a column are conservatively kept. The residual predicate is
        still applied, so results are exact — pruning is purely an IO cut.
        A ``None`` bound is an open end.
        """
        from pyspark.sql import functions as F

        m = self._snapshot(version)
        df = self._read_dirs(plan_dirs(m, between=between), m["version"])
        for c, (lo, hi) in (between or {}).items():
            df = df.filter(_in_range(F.col(c), lo, hi))
        return df

    def hidden_partition_specs(self, version: int | None = None) -> dict:
        """Transform specs shared by EVERY data dir at ``version``:
        ``{source_col: parsed_spec}``. A col whose spec any dir lacks (or
        records differently — partition evolution) is omitted; predicates on
        it simply don't prune, they stay exact via the residual filter."""
        m = self._snapshot(version)
        per_dir = m.get("hidden_specs", {})
        dirs = m["dirs"]
        if not dirs or any(d not in per_dir for d in dirs):
            return {}
        common: dict[str, dict] = {}
        for spec_str in set(per_dir[dirs[0]].values()):
            if all(spec_str in per_dir[d].values() for d in dirs):
                parsed = _parse_partition_spec(spec_str)
                common[parsed["col"]] = parsed
        return common

    def scan_transformed(
        self,
        point: dict | None = None,
        between: dict[str, tuple] | None = None,
        version: int | None = None,
    ) -> DataFrame:
        """Hidden-partitioning scan (Iceberg's headline contract): callers
        filter on SOURCE columns — ``point={"user_id": 7}``,
        ``between={"ts": (lo, hi)}`` — and the engine rewrites each
        predicate onto the hidden partition column with the SAME Catalyst
        transform expression used at write, so the literal folds and
        Spark's partition pruning skips whole directories before a byte is
        read. bucket() rewrites equality only; the ordered transforms
        (day/month/year/hour/truncate) rewrite ranges too. The residual
        source-column predicate always applies, so results are exact even
        where no transform matches; hidden columns never leak into the
        result. Dir-level zone-map stats prune on top, as in ``scan``."""
        from pyspark.sql import functions as F

        m = self._snapshot(version)
        dirs = plan_dirs(m, between=between)
        specs = self.hidden_partition_specs(m["version"]) if dirs else {}
        df = self._read_dirs(dirs, m["version"], keep_hidden=bool(specs))

        def typed_lit(col: str, v):
            # The transform of a literal must be computed on the SOURCE
            # column's exact type: F.hash (murmur3) hashes int32 and int64
            # differently, so an uncast Python literal would bucket to the
            # wrong partition and prune the RIGHT one away.
            return F.lit(v).cast(df.schema[col].dataType)

        for c, v in (point or {}).items():
            s = specs.get(c)
            if s is not None:
                df = df.filter(
                    F.col(s["hidden"])
                    == _transform_expr(s["fn"], typed_lit(c, v), s["n"])
                )
            df = df.filter(F.col(c) == F.lit(v))
        for c, (lo, hi) in (between or {}).items():
            s = specs.get(c)
            if s is not None and s["fn"] in _MONOTONIC_TRANSFORMS:
                t_lo, t_hi = (
                    None
                    if v is None
                    else _transform_expr(s["fn"], typed_lit(c, v), s["n"])
                    for v in (lo, hi)
                )
                df = df.filter(_in_range(F.col(s["hidden"]), t_lo, t_hi))
            df = df.filter(_in_range(F.col(c), lo, hi))
        keep = [c for c in df.columns if not c.startswith("_p_")]
        return df.select(*keep)

    def pruned_dirs(self, between: dict[str, tuple], version: int | None = None) -> int:
        """How many manifest dirs a ``scan(between=...)`` would skip."""
        m = self._snapshot(version)
        return len(m["dirs"]) - len(plan_dirs(m, between=between))

    def scan_point(self, col: str, value, version: int | None = None) -> DataFrame:
        """Point lookup through the per-dir Bloom index: open only dirs whose
        bloom admits ``value`` (plus dirs with no bloom), with the equality
        residual applied so results are exact. Zone maps can't prune this
        shape on unclustered high-cardinality keys; the bloom prunes it from
        manifest metadata alone. Use ``pruned_dirs_point`` to observe the cut.
        """
        from pyspark.sql import functions as F

        m = self._snapshot(version)
        kept = plan_dirs(m, points={col: [value]})
        return self._read_dirs(kept, m["version"]).filter(
            F.col(col) == F.lit(value)
        )

    def pruned_dirs_point(
        self, col: str, value, version: int | None = None
    ) -> int:
        """How many manifest dirs ``scan_point`` skips for this lookup."""
        m = self._snapshot(version)
        return len(m["dirs"]) - len(plan_dirs(m, points={col: [value]}))

    def analyze(self, cols: Sequence[str], only_missing: bool = True) -> int:
        """``ANALYZE TABLE ... COMPUTE STATISTICS FOR COLUMNS``: retrofit
        per-dir min/max zone maps for ``cols`` onto the CURRENT snapshot —
        for tables whose commits didn't pass ``stats_cols`` — so
        :meth:`scan`/:meth:`pruned_dirs` can skip dirs afterwards. ONE scan
        computes every dir's stats: rows group by their owning manifest dir
        (derived from the per-row file path, a CASE over the manifest's dir
        list), with map-side partial min/max, then a metadata-only manifest
        records the result. ``only_missing`` (default) makes repeated runs
        incremental — dirs already carrying stats for every requested
        column are skipped, so an ANALYZE after each ingest scans only the
        new data, and a fully-analyzed table costs a manifest read.
        The CASE depth equals the scanned-dir count — fine at
        OPTIMIZE-maintained dir counts (compaction bounds them); a
        manifest with tens of thousands of dirs should compact first, or
        this attribution becomes a join on an extracted path token."""
        from pyspark.sql import functions as F

        m = self._snapshot()
        _check_stats_cols(self.schema(m["version"]), cols)
        have = m.get("stats", {})
        targets = [
            d
            for d in m["dirs"]
            if not only_missing
            or any(c not in have.get(d, {}) for c in cols)
        ]
        if not targets:
            return m["version"]  # every dir already carries these stats
        rows = self._per_dir_aggs(
            targets,
            m["version"],
            lambda _payload: [
                *[F.min(c).alias(f"min_{c}") for c in cols],
                *[F.max(c).alias(f"max_{c}") for c in cols],
            ],
        )
        stats = dict(have)
        for d, r in rows.items():
            stats.setdefault(d, {}).update(
                {c: [r[f"min_{c}"], r[f"max_{c}"]] for c in cols}
            )
        return self._commit(m, f"analyze:{','.join(cols)}", stats=stats)

    def _per_dir_aggs(self, dirs, version, aggs_for, dvs=None) -> dict:
        """``{dir: Row}`` of the aggregates ``aggs_for(payload columns)``
        over the visible rows of ``dirs``, in ONE scan: each row attributes
        to its owning manifest dir through a CASE over its file path. The
        CASE depth equals the dir count — fine at OPTIMIZE-maintained dir
        counts; tens of thousands of dirs should compact first."""
        from pyspark.sql import functions as F

        frame = self._read_dirs(dirs, version, with_positions=True, dvs=dvs)
        payload = [
            c for c in frame.columns if c not in (self.POS_FILE, self.POS_INDEX)
        ]
        owner = F.lit(None).cast("string")
        for d in dirs:
            # Path-boundary match (dir + "/"), not bare substring: a dir
            # that is a proper prefix of a sibling (…/_zb=1 vs …/_zb=12)
            # must not capture the sibling's rows regardless of CASE order.
            # contains (not startswith) because _metadata.file_path carries
            # a scheme prefix (file:/…) the manifest path lacks.
            owner = F.when(
                F.col(self.POS_FILE).contains(d.rstrip("/") + "/"),
                F.lit(d),
            ).otherwise(owner)
        rows = frame.groupBy(owner.alias("__dir")).agg(*aggs_for(sorted(payload)))
        return {r["__dir"]: r for r in rows.collect() if r["__dir"] is not None}

    def analyze_ndv(self, cols: Sequence[str], k: int = 256) -> int:
        """``ANALYZE TABLE ... COMPUTE STATISTICS`` for DISTINCT COUNTS:
        per-column KMV bottom-k minima over the current snapshot, recorded
        in the manifest (``ndv`` block) — the statistic a cost-based join
        planner needs (output-row estimates) and min/max zone maps cannot
        supply. ONE scan sketches every requested column: values melt to
        (col, md5-uniform), distinct, bottom-k per col via WindowGroupLimit
        (≤ k rows per column per map task on the shuffle); the row count
        rides the same scan. Because KMV minima are plain doubles and
        mergeable, the stored sketches compare ACROSS TABLES (join-key
        overlap → join cardinality, :func:`lakeflow.operators.joins.
        stats_join_cardinality`) and fold with future per-commit partials —
        properties an opaque HLL stats blob never has. Estimate error
        ~ 1/sqrt(k-2); stats go stale the way all table stats do
        (re-ANALYZE after large ingests)."""
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from lakeflow.operators.aggregates import kmv_uniform

        m = self._snapshot()
        frame = self.read(m["version"])
        melted = frame.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(c).alias("col"),
                            kmv_uniform(F.col(c)).alias("u"),
                        )
                        for c in cols
                    ]
                )
            ).alias("cu")
        ).select("cu.col", "cu.u").filter(F.col("u").isNotNull()).distinct()
        w = Window.partitionBy("col").orderBy("u")
        minima = (
            melted.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= k)
            .groupBy("col")
            .agg(F.sort_array(F.collect_list("u")).alias("minima"))
            .collect()
        )
        ndv = dict(m.get("ndv", {}))
        ndv["rows"] = frame.count()
        ndv["cols"] = dict(ndv.get("cols", {}))
        for r in minima:
            ndv["cols"][r["col"]] = {"k": k, "minima": list(r["minima"])}
        return self._commit(m, f"analyze_ndv:{','.join(cols)}", ndv=ndv)

    def ndv_rows(self) -> int:
        """The table-level row count recorded by the last ``ANALYZE`` —
        column-independent (every ``analyze_ndv`` call stores it, whatever
        columns it sketched), metadata read only. Raises if the table was
        never analyzed. Planners that only need cardinality (broadcast
        decisions) should read this, not ``ndv_stats(col)["rows"]``, which
        additionally requires ``col`` itself to have been sketched."""
        rows = self._snapshot().get("ndv", {}).get("rows")
        if rows is None:
            raise ValueError(
                f"no ANALYZE row count for {self.root}; run analyze_ndv()"
            )
        return int(rows)

    def ndv_stats(self, col: str) -> dict:
        """The stored NDV sketch for ``col``: {"k", "minima", "rows",
        "estimate"} — metadata read only, no scan. Raises if the column
        was never ANALYZEd."""
        blob = self._snapshot().get("ndv", {})
        entry = blob.get("cols", {}).get(col)
        if entry is None:
            raise ValueError(
                f"no NDV stats for {col!r}; run analyze_ndv([{col!r}])"
            )
        minima, k = entry["minima"], entry["k"]
        est = (
            float(len(minima))
            if len(minima) < k
            else float(k - 1) / minima[-1]
        )
        return {
            "k": k,
            "minima": minima,
            "rows": blob.get("rows"),
            "estimate": est,
        }

    # Content-fingerprint moduli: two distinct Mersenne-adjacent primes
    # below 2^31, so per-row digests sum without bigint overflow at any
    # realistic dir row count (2^31 × 2^32 rows < 2^63) and the combined
    # residue pair carries ~62 bits of corruption signal.
    _FP_PRIMES = (2147483647, 2147483629)

    def _row_digest_aggs(self, cols: Sequence[str]):
        """Order-free content digest of the visible rows: per row,
        md5(unit-separated string rendering) → first 14 hex chars as a
        56-bit int; per modulus, SUM of residues mod p. Sums commute, so
        any partitioning/merge order yields the same pair — the property
        that lets a 1000-executor recompute match a single-node seal."""
        from pyspark.sql import functions as F

        rendered = F.concat_ws(
            "\x1f",
            *[
                F.coalesce(F.col(c).cast("string"), F.lit("\x00"))
                for c in cols
            ],
        )
        h = F.conv(F.substring(F.md5(rendered), 1, 14), 16, 10).cast("bigint")
        return [
            (F.sum(h % F.lit(p)) % F.lit(p)).cast("bigint").alias(f"fp{i}")
            for i, p in enumerate(self._FP_PRIMES)
        ]

    def seal(self) -> int:
        """Record per-dir content fingerprints in a metadata-only snapshot —
        the integrity baseline ``verify_integrity`` audits against (the
        role of Iceberg's manifest-level checksums, lifted to row content:
        bitrot, a lost shard, or out-of-band file tampering all shift the
        digest). ONE deletion-vector-aware scan computes every dir's pair;
        rows attribute to their owning dir by path boundary, exactly like
        :meth:`analyze`. Re-seal after DML — fingerprints describe the
        VISIBLE rows of the sealed snapshot's dirs."""
        m = self._snapshot()
        fps = self._content_fps(m["dirs"], m["version"])
        # The DV state the fingerprints were taken under: verify compares
        # apples to apples even if later DML adds vectors.
        return self._commit(
            m,
            "seal",
            content_fp=fps,
            content_fp_dvs=m.get("delete_vectors", []),
        )

    def _content_fps(self, dirs, version, dvs=None) -> dict:
        rows = self._per_dir_aggs(dirs, version, self._row_digest_aggs, dvs=dvs)
        return {d: [int(r["fp0"]), int(r["fp1"])] for d, r in rows.items()}

    def verify_integrity(self, version: int | None = None) -> DataFrame:
        """Audit the data against the last seal at-or-before ``version``:
        recompute each sealed dir's content digest (masking with the DVs
        the seal recorded) and report ``(dir, ok)`` plus dirs that have
        since disappeared. A flipped byte, swapped file, or silently
        truncated shard flips ``ok`` for exactly its dir."""
        if version is None:
            version = self._snapshot()["version"]
        sealed = None
        for v in range(version, 0, -1):
            try:
                m = self._manifest(v)
            except FileNotFoundError:
                continue
            if "content_fp" in m:
                sealed = m
                break
        if sealed is None:
            raise ValueError("table has no seal; run seal() first")
        fps = sealed["content_fp"]
        live = [d for d in fps if os.path.isdir(d)]
        missing = [d for d in fps if d not in live]
        out_rows = [Row(dir=d, ok=False) for d in missing]

        def digest(dirs: list[str]) -> dict:
            return self._content_fps(
                dirs, sealed["version"], dvs=sealed.get("content_fp_dvs", [])
            )

        if live:
            try:
                seen = digest(live)
            except Exception:
                # Corruption severe enough to abort the combined scan
                # (CRC mismatch, mangled footer): isolate it per dir so
                # the report still names exactly the bad dirs.
                seen = {}
                for d in live:
                    try:
                        seen.update(digest([d]))
                    except Exception:
                        pass  # unreadable dir: absent from seen → not ok
            for d in live:
                out_rows.append(Row(dir=d, ok=seen.get(d) == fps[d]))
        return self.spark.createDataFrame(
            out_rows, "dir string, ok boolean"
        )

    def optimize_zorder(
        self,
        cols: Sequence[str],
        n_dirs: int = 16,
        bits: int = 16,
    ) -> int:
        """``OPTIMIZE ... ZORDER BY (cols)`` (Delta's multi-dimensional
        clustering, as a snapshot): rewrite the table clustered on the
        interleaved-bit Z-curve of ``cols``, split into ``n_dirs``
        equal-Z-width dirs, each with min/max stats on every clustered
        column. Because the Z-curve localizes ALL dimensions at once, every
        dir gets a tight envelope on every ``cols`` member and
        :meth:`scan`/:meth:`pruned_dirs` skip most dirs for a point or box
        predicate on ANY of them — single-column sorting only achieves that
        for its leading column. Logically a no-op (same rows), fully
        time-travelable like any snapshot; a rewrite, so run it with
        OPTIMIZE cadence, not per commit."""
        from pyspark.sql import functions as F

        from lakeflow.catalog import zorder_value

        m = self._snapshot()
        df = self.read(m["version"])
        _check_stats_cols(df.schema, cols)
        zdf, zcol = zorder_value(df, list(cols), bits)
        zr = zdf.agg(
            F.min(zcol).alias("lo"), F.max(zcol).alias("hi")
        ).collect()[0]
        lo, hi = int(zr["lo"]), int(zr["hi"])
        span = (hi - lo + 1) or 1
        bucket = F.least(
            F.lit(n_dirs - 1),
            ((F.col(zcol) - F.lit(lo)) * n_dirs / F.lit(span)).cast("bigint"),
        )
        parent = self._new_dir()
        (
            zdf.withColumn("_zb", bucket)
            .repartition(n_dirs, "_zb")
            .sortWithinPartitions("_zb", zcol)
            .drop(zcol)
            .write.mode("overwrite")
            .partitionBy("_zb")
            .parquet(parent)
        )
        # Z-order is row-preserving, so a bloom index the table carried is
        # rebuilt over the clustered dirs in the SAME per-dir metadata pass
        # as the stats.
        metas = self._dir_meta(
            parent,
            list(cols),
            sorted({c for cs in m.get("bloom", {}).values() for c in cs}),
            m.get("bloom_bits", 4096),
            by=F.col("_zb"),
        )
        add = [(os.path.join(parent, f"_zb={b}"), metas[b]) for b in sorted(metas)]
        return self._commit(
            m, "optimize-zorder", add=add, keep=[], rows_unchanged=True
        )

    def delete_where_mor(
        self,
        condition: str,
        prune_between: dict[str, tuple] | None = None,
    ) -> int:
        """Row-level DELETE as MERGE-ON-READ (Delta's deletion vectors): no
        data file is rewritten — matching rows' (file, row-position) pairs
        land in a deletion-vector parquet the manifest references, and every
        read anti-joins it at the scan. Deleting k rows from a 100 TB table
        costs O(matching dirs scanned + k positions written) instead of
        rewriting every candidate file — the write-amplification fix
        copy-on-write (:meth:`delete_where`) cannot offer; the read-side tax
        is a broadcast anti-join. A full :meth:`compact` (overwrite rewrite)
        reads through the vectors and purges them. Prior versions are
        untouched: time travel before the delete sees the rows.
        """
        return self._mor_where("delete-mor", condition, prune_between)

    def scan_physical(self, version: int | None = None) -> DataFrame:
        """Scan a snapshot's data files WITHOUT applying deletion vectors —
        the audit handle for verifying purges: a merge-on-read DELETE only
        HIDES rows (they stay in storage until a rewrite materializes the
        vectors), so compliance workflows must distinguish "invisible to
        readers" from "gone from disk". After :meth:`delete_where_mor` this
        still returns the deleted rows; after :meth:`compact` (or any full
        rewrite, which reads through the vectors) it must not."""
        m = self._snapshot(version)
        return self._read_dirs(m["dirs"], m["version"], dvs=[])

    def update_where_mor(
        self,
        condition: str,
        set_exprs: dict[str, str],
        prune_between: dict[str, tuple] | None = None,
    ) -> int:
        """Row-level UPDATE as merge-on-read, atomically: ONE snapshot adds
        a deletion vector hiding the old row versions AND a dir holding the
        rewritten rows. No candidate file is rewritten (copy-on-write's
        write amplification), and because both effects land in a single
        manifest there is no instant where a reader can see the rows doubled
        or missing. SET results cast to the declared column types, the same
        rule as :meth:`update_where`."""
        return self._mor_where("update-mor", condition, prune_between, set_exprs)

    def _mor_where(self, operation, condition, prune_between, set_exprs=None):
        """Merge-on-read DML: one deletion vector hides the candidate rows
        matching ``condition``; for an UPDATE, one new dir holds their
        rewritten versions, in the same snapshot. No match, no snapshot."""
        from pyspark.sql import functions as F

        m = self._snapshot()
        touch = plan_dirs(m, between=prune_between)
        if not touch:
            return m["version"]
        frame = self._read_dirs(sorted(touch), m["version"], with_positions=True)
        if set_exprs is not None:
            types = self._set_types(frame, set_exprs)
        matched = frame.filter(F.coalesce(F.expr(condition), F.lit(False)))
        dv = self._write_dv(matched)
        if dv is None:
            return m["version"]
        add = []
        if set_exprs is not None:
            # One select: every SET expression sees the PRE-update row, so
            # cross-referencing SETs (a = b, b = a) swap instead of cascading.
            rewritten = matched.select(
                *[
                    F.expr(set_exprs[c]).cast(types[c]).alias(c)
                    if c in set_exprs
                    else F.col(c)
                    for c in matched.columns
                    if c not in (self.POS_FILE, self.POS_INDEX)
                ]
            )
            # Constraints gate MOR publishes too: only the rewritten rows are
            # new — carried rows were validated at their own publish.
            self._check_constraints(rewritten, self.constraints())
            add = [(self._new_dir(), {})]
            rewritten.write.mode("overwrite").parquet(add[0][0])
        return self._commit(m, operation, add=add, dvs=[dv])

    def _write_dv(self, rows: DataFrame) -> str | None:
        """Write the (file, row-position) pairs of ``rows`` as a deletion
        vector; None — leaving no residue — when no row matched."""
        from pyspark.sql import functions as F

        path = self._new_dir("dv")
        rows.select(
            F.col(self.POS_FILE).alias("file_path"),
            F.col(self.POS_INDEX).alias("row_index"),
        ).write.mode("overwrite").parquet(path)
        if self.spark.read.parquet(path).isEmpty():
            shutil.rmtree(path)
            return None
        return path

    def files(self, version: int | None = None) -> DataFrame:
        """Metadata table (Iceberg's ``t.files`` / Delta's DESCRIBE DETAIL
        granularity): one row per data dir of the snapshot — path, bytes,
        file count, recorded layout, and min/max stats as a map. Driver-side
        manifest walk only; no data file is opened."""
        import glob as _glob

        m = self._snapshot(version)
        part = m.get("partitioning", {})
        stats = m.get("stats", {})
        rows = []
        for d in m["dirs"]:
            pq = _glob.glob(os.path.join(d, "**", "*.parquet"), recursive=True)
            rows.append(
                (
                    d,
                    int(sum(os.path.getsize(f) for f in pq)),
                    len(pq),
                    list(part.get(d, [])),
                    {
                        c: f"[{v[0]}, {v[1]}]"
                        for c, v in stats.get(d, {}).items()
                    },
                )
            )
        return self.spark.createDataFrame(
            rows,
            "dir string, bytes bigint, n_files int, partitioning array<string>,"
            " stats map<string,string>",
        )

    def n_data_dirs(self, version: int | None = None) -> int:
        """Manifest-only data-dir count — zero data IO (one JSON read)."""
        return len(self.data_dirs(version))

    def data_dirs(self, version: int | None = None) -> list[str]:
        """Manifest-only list of the snapshot's data dirs (one JSON read).
        The in-stream auto-compaction (``sinks.py::_autocompact_tables``)
        counts these per micro-batch and stats them to size the small-file
        tail without reading any data."""
        m = self._current() if version is None else self._manifest(version)
        return list(m.get("dirs", []))

    def detail(self) -> dict:
        """DESCRIBE DETAIL: one dict of current-table facts — version,
        operation, dir/file counts and bytes, schema width, constraints,
        deletion-vector count, transactional watermarks, layout mix."""
        m = self._snapshot()
        version = m["version"]
        fr = self.files(version).agg(
            {"bytes": "sum", "n_files": "sum"}
        ).collect()[0]
        st = self.schema(version)
        layouts = {
            tuple(m.get("partitioning", {}).get(d, ())) for d in m["dirs"]
        }
        return {
            "location": self.root,
            "version": version,
            "operation": m.get("operation"),
            "committed_at": m.get("committed_at"),
            "n_dirs": len(m["dirs"]),
            "n_files": int(fr["sum(n_files)"] or 0),
            "bytes": int(fr["sum(bytes)"] or 0),
            "n_columns": len(st.fields) if st is not None else None,
            "constraints": m.get("constraints", {}),
            "n_delete_vectors": len(m.get("delete_vectors", [])),
            "txns": m.get("txns", {}),
            "n_layouts": len(layouts),
        }

    def upsert_mor(self, batch: DataFrame, keys: Sequence[str]) -> int:
        """Keyed UPSERT as merge-on-read (the Hudi MOR-table write path):
        ONE snapshot hides the stale row versions of every key the batch
        carries (deletion vector from a broadcast semi-join of the current
        state against the batch's key set) and appends the batch as a new
        dir — per-batch write cost is O(batch + matching positions), never
        a candidate-file rewrite, which is what makes high-frequency keyed
        ingestion affordable on a huge table. Read-side tax: the DV
        anti-join. Pair with :meth:`compact` at OPTIMIZE cadence to
        materialize accumulated vectors; at very high key-dispersion pair
        with bucket partitioning (:func:`streaming.sinks.stream_upsert`'s
        ``num_buckets``) so the semi-join scans only touched buckets.

        The caller collapses the batch to one row per key first
        (``operators.merge._dedup_source``) — several versions of a key in
        one batch would otherwise all land.
        """
        from pyspark.sql import functions as F

        m = self._current()
        if not m:
            return self.commit(batch, mode="append")
        # Generated columns derive-or-validate on MOR upserts too — a CDC
        # batch that omits a declared column must not land NULLs where
        # every other commit path would derive the value.
        gen = self.generated_columns()
        if gen:
            batch = self._apply_generated(batch, gen)
        # Constraints gate MOR upserts before any DV or data dir lands.
        self._check_constraints(batch, self.constraints())
        frame = self._read_dirs(m["dirs"], m["version"], with_positions=True)
        keysel = batch.select(*list(keys)).distinct()
        tagged = frame.select(self.POS_FILE, self.POS_INDEX, *list(keys))
        dv = self._write_dv(
            tagged.join(F.broadcast(keysel), list(keys), "left_semi")
        )
        new_dir = self._new_dir()
        payload = [
            c for c in frame.columns if c not in (self.POS_FILE, self.POS_INDEX)
        ]
        batch.select(*payload).write.mode("overwrite").parquet(new_dir)
        return self._commit(
            m, "upsert-mor", add=[(new_dir, {})], dvs=[dv] if dv else []
        )

    def add_column(self, name: str, dtype: str) -> int:
        """``ALTER TABLE ADD COLUMN`` — metadata-only (Iceberg/Delta): the
        authoritative manifest schema gains the column, no data file is
        touched, and every existing row reads back NULL for it (the same
        NULL-backfill contract as merge_schema evolution on append)."""
        from pyspark.sql.types import StructType, _parse_datatype_string

        m = self._snapshot()
        st = self.schema(m["version"])
        if st is None:
            raise ValueError("pre-schema-tracking table cannot ALTER")
        if name in st.fieldNames():
            raise ValueError(f"column {name!r} already exists")
        new_st = StructType(
            list(st.fields)
        ).add(name, _parse_datatype_string(dtype), True)
        return self._commit(
            m, f"add-column:{name}", schema=json.dumps(new_st.jsonValue())
        )

    def drop_column(self, name: str) -> int:
        """``ALTER TABLE DROP COLUMN`` — metadata-only: the column leaves
        the manifest schema; data files keep the bytes (time travel to
        before the drop still reads them), and current reads simply never
        request the column from the parquet footers."""
        from pyspark.sql.types import StructType

        m = self._snapshot()
        st = self.schema(m["version"])
        if st is None or name not in st.fieldNames():
            raise ValueError(f"no such column {name!r}")
        new_st = StructType([f for f in st.fields if f.name != name])
        if not new_st.fields:
            raise ValueError("cannot drop the last column")
        for gname, spec in (m.get("generated") or {}).items():
            if gname != name and re.search(
                rf"\b{re.escape(name)}\b", spec["expr"]
            ):
                raise ValueError(
                    f"column {name!r} is referenced by generated column "
                    f"{gname!r}: drop that column first"
                )
        for mcol, mexpr in (m.get("masks") or {}).items():
            if mcol != name and re.search(rf"\b{re.escape(name)}\b", mexpr):
                raise ValueError(
                    f"column {name!r} is referenced by the mask on "
                    f"{mcol!r}: drop that mask first"
                )
        for fname, fexpr in (m.get("row_filters") or {}).items():
            if re.search(rf"\b{re.escape(name)}\b", fexpr):
                raise ValueError(
                    f"column {name!r} is referenced by row filter "
                    f"{fname!r}: drop the filter first"
                )
        # The column's stats, bloom bit sets, NDV sketch, own mask and
        # derivation retire with it — replaced explicitly, so nothing can
        # resurrect an index or a policy for a column the schema lacks.
        def drop(block: dict) -> dict:
            return {c: v for c, v in block.items() if c != name}

        changes = {
            "schema": json.dumps(new_st.jsonValue()),
            "stats": {d: drop(cs) for d, cs in m.get("stats", {}).items()},
        }
        if m.get("bloom"):
            changes["bloom"] = {d: drop(cs) for d, cs in m["bloom"].items()}
        for k in ("generated", "masks"):
            if m.get(k):
                changes[k] = drop(m[k])
        if m.get("ndv"):
            changes["ndv"] = {**m["ndv"], "cols": drop(m["ndv"].get("cols", {}))}
        return self._commit(m, f"drop-column:{name}", **changes)

    def set_generated(self, name: str, dtype: str, expr: str) -> int:
        """Declare a GENERATED column (Delta's ``GENERATED ALWAYS AS`` — the
        reference's materialized ``ingest_year``/``ingest_month`` bronze
        columns, SURVEY §1.3): a NEW column whose value every future commit
        derives from ``expr`` when the batch omits it, and VALIDATES (one
        aggregate, before any byte lands) when the batch supplies it —
        so the derivation can never drift from the declaration. Metadata
        only: rows committed before the declaration read NULL (the additive
        NULL-backfill contract), and the definition rides the manifest like
        constraints, surviving every manifest-producing path and clones."""
        from pyspark.sql.types import StructType, _parse_datatype_string

        from pyspark.sql import functions as F

        m = self._snapshot()
        version = m["version"]
        st = self.schema(version)
        if st is None:
            raise ValueError("pre-schema-tracking table cannot ALTER")
        if name in st.fieldNames():
            # Attaching a derivation to an EXISTING column (the import /
            # retrofit path): the type must match and every non-NULL value
            # must already satisfy the expression — NULLs are tolerated as
            # the pre-declaration backfill epoch.
            declared = _parse_datatype_string(dtype)
            if st[name].dataType != declared:
                raise ValueError(
                    f"column {name!r} is {st[name].dataType.simpleString()}, "
                    f"declaration says {dtype!r}"
                )
            bad = (
                self.read(version)
                .filter(
                    F.col(name).isNotNull()
                    & ~F.col(name).eqNullSafe(F.expr(expr).cast(dtype))
                )
                .limit(1)
                .count()
            )
            if bad:
                raise ValueError(
                    f"existing non-NULL values of {name!r} disagree with "
                    f"the declared expression"
                )
            new_st = st
        else:
            new_st = StructType(list(st.fields)).add(
                name, _parse_datatype_string(dtype), True
            )
        gen = {**m.get("generated", {}), name: {"dtype": dtype, "expr": expr}}
        return self._commit(
            m,
            f"add-generated:{name}",
            schema=json.dumps(new_st.jsonValue()),
            generated=gen,
        )

    def generated_columns(self) -> dict:
        return self._current().get("generated", {})

    def _apply_generated(self, df: DataFrame, gen: dict) -> DataFrame:
        from pyspark.sql import functions as F

        supplied = {c: s for c, s in gen.items() if c in df.columns}
        for c, s in gen.items():
            if c not in df.columns:
                df = df.withColumn(c, F.expr(s["expr"]).cast(s["dtype"]))
        if supplied:
            row = df.agg(
                *[
                    F.sum(
                        (
                            ~F.col(c).eqNullSafe(
                                F.expr(s["expr"]).cast(s["dtype"])
                            )
                        ).cast("long")
                    ).alias(c)
                    for c, s in supplied.items()
                ]
            ).collect()[0]
            bad = {c: int(row[c] or 0) for c in supplied if row[c]}
            if bad:
                raise ValueError(
                    f"generated-column mismatch (rows disagreeing with the "
                    f"declared expression): {bad}"
                )
        return df

    ALIASES_KEY = "lakeflow.aliases"

    def rename_column(self, old: str, new: str) -> int:
        """``ALTER TABLE RENAME COLUMN`` — metadata-only (the Delta
        column-mapping / Iceberg rename contract): no data file is touched.
        The renamed field records its prior names as schema-metadata
        aliases, and the read path resolves each logical column to the
        first of (current name, newest alias, ...) present in a scan
        group's footers — so dirs written before AND after the rename union
        into one logical schema. Per-dir zone-map stats and bloom keys
        rename with it, so stats pruning keeps working across the rename.
        Time travel to a pre-rename version still reads the old name.

        Renaming a column referenced by a CHECK constraint is rejected
        (drop the constraint first — Delta's rule)."""
        from pyspark.sql.types import StructField, StructType

        m = self._snapshot()
        st = self.schema(m["version"])
        if st is None:
            raise ValueError("pre-schema-tracking table cannot ALTER")
        if old not in st.fieldNames():
            raise ValueError(f"no such column {old!r}")
        if new in st.fieldNames():
            raise ValueError(f"column {new!r} already exists")
        for f in st.fields:
            taken = (f.metadata or {}).get(self.ALIASES_KEY, [])
            if new in taken:
                raise ValueError(
                    f"{new!r} is a historical name of column {f.name!r}"
                )
        for cname, expr in self.constraints().items():
            if re.search(rf"\b{re.escape(old)}\b", expr):
                raise ValueError(
                    f"column {old!r} is referenced by constraint {cname!r}: "
                    "drop the constraint before renaming"
                )
        for gname, spec in self.generated_columns().items():
            if gname == old or re.search(
                rf"\b{re.escape(old)}\b", spec["expr"]
            ):
                raise ValueError(
                    f"column {old!r} is a generated column or referenced by "
                    f"generated column {gname!r}: drop that declaration "
                    "before renaming"
                )
        for mcol, mexpr in self.masks().items():
            if mcol == old or re.search(rf"\b{re.escape(old)}\b", mexpr):
                raise ValueError(
                    f"column {old!r} is masked or referenced by the mask on "
                    f"{mcol!r}: drop the mask before renaming"
                )
        for fname, fexpr in self.row_filters().items():
            if re.search(rf"\b{re.escape(old)}\b", fexpr):
                raise ValueError(
                    f"column {old!r} is referenced by row filter {fname!r}: "
                    "drop the filter before renaming"
                )
        fields = []
        for f in st.fields:
            if f.name == old:
                md = dict(f.metadata or {})
                md[self.ALIASES_KEY] = [old] + list(
                    md.get(self.ALIASES_KEY, [])
                )
                fields.append(StructField(new, f.dataType, f.nullable, md))
            else:
                fields.append(f)
        # Stats, bloom bit sets and NDV sketches key on the LOGICAL column
        # name: they rename with the column.
        def rename(block: dict) -> dict:
            return {(new if c == old else c): v for c, v in block.items()}

        changes = {
            "schema": json.dumps(StructType(fields).jsonValue()),
            "stats": {d: rename(cs) for d, cs in m.get("stats", {}).items()},
        }
        if m.get("bloom"):
            changes["bloom"] = {d: rename(cs) for d, cs in m["bloom"].items()}
        if m.get("ndv"):
            changes["ndv"] = {**m["ndv"], "cols": rename(m["ndv"].get("cols", {}))}
        return self._commit(m, f"rename-column:{old}->{new}", **changes)

    def add_constraint(self, name: str, check_expr: str) -> int:
        """``ALTER TABLE ADD CONSTRAINT name CHECK (expr)`` (Delta's table
        constraints): record a SQL predicate every future commit's rows must
        satisfy. Enforcement is one aggregate over the incoming batch —
        violation COUNTS per rule, not row copies — and a breaching batch
        raises :class:`ConstraintViolationError` BEFORE any data is written,
        so a bad batch never becomes a snapshot. Existing rows are validated
        at add time (Delta's rule: you cannot add a constraint the current
        data violates). Constraints ride the manifest and survive every
        manifest-producing path, like txn watermarks."""
        m = self._current()
        if m:
            self._check_constraints(self.read(m["version"]), {name: check_expr})
        return self._put_policy(
            m, "constraints", f"add-constraint:{name}", name, check_expr
        )

    def drop_constraint(self, name: str) -> int:
        return self._put_policy(
            self._snapshot(), "constraints", f"drop-constraint:{name}", name
        )

    def _put_policy(
        self, m: dict, key: str, operation: str, name: str, value=None
    ) -> int:
        """Metadata-only commit setting entry ``name`` of the policy map
        ``key`` to ``value`` — or dropping it when ``value`` is None."""
        block = {**m.get(key, {}), name: value}
        if value is None:
            del block[name]
        return self._commit(m, operation, **{key: block})

    def constraints(self) -> dict:
        return self._current().get("constraints", {})

    # -- governance policy: column masks + row filters ---------------------
    #
    # Delta/Unity-style fine-grained access control expressed as table
    # policy: a MASK rewrites a column's values on governed reads (the
    # analyst path); a ROW FILTER hides rows entirely. Both are SQL
    # expressions recorded in the manifest — they ride every
    # manifest-producing path and clones exactly like CHECK constraints,
    # and plain `read()` (the privileged/owner path) is untouched.

    def set_column_mask(self, col: str, mask_expr: str) -> int:
        """``ALTER TABLE t SET MASK ON col AS (expr)``: governed reads see
        ``expr`` (evaluated against the UNMASKED row) in place of ``col``.
        The mask must preserve the column's type — Delta's rule, enforced at
        declaration time by resolving the expression against the current
        snapshot's plan (no data read)."""
        m = self._snapshot()
        version = m["version"]
        st = self.schema(version)
        if st is not None and col not in st.fieldNames():
            raise ValueError(f"no such column {col!r}")
        from pyspark.sql import functions as F

        base = self.read(version)
        masked_type = dict(
            base.select(F.expr(mask_expr).alias(col)).dtypes
        )[col]
        if dict(base.dtypes)[col] != masked_type:
            raise ValueError(
                f"mask for {col!r} changes its type "
                f"({dict(base.dtypes)[col]} -> {masked_type}); "
                "masks must be type-preserving"
            )
        return self._put_policy(m, "masks", f"set-mask:{col}", col, mask_expr)

    def drop_column_mask(self, col: str) -> int:
        return self._put_policy(self._snapshot(), "masks", f"drop-mask:{col}", col)

    def set_row_filter(self, name: str, filter_expr: str) -> int:
        """``ALTER TABLE t SET ROW FILTER name AS (expr)``: governed reads
        keep only rows where ``expr`` is TRUE (standard WHERE semantics —
        NULL excludes). Filters evaluate against UNMASKED values and all
        declared filters AND together, matching Delta's
        filters-before-masks evaluation order."""
        from pyspark.sql import functions as F

        m = self._snapshot()
        # Resolve plan-side so a typo fails at declaration, not read time.
        self.read(m["version"]).filter(F.expr(filter_expr))
        return self._put_policy(
            m, "row_filters", f"set-row-filter:{name}", name, filter_expr
        )

    def drop_row_filter(self, name: str) -> int:
        return self._put_policy(
            self._snapshot(), "row_filters", f"drop-row-filter:{name}", name
        )

    # -- named refs (Iceberg tags) ------------------------------------------

    def create_tag(self, name: str, version: int | None = None) -> int:
        """``ALTER TABLE t CREATE TAG name [AS OF VERSION n]`` — a named,
        immutable ref to a snapshot (Iceberg tags): release pinning, audit
        freezes, reproducible-training-set labels. Tags resolve in
        ``read(version="name")`` and SQL time travel, and — the part that
        matters operationally — ``expire_snapshots`` NEVER drops a tagged
        snapshot or its data, however old, until the tag is dropped. The tag
        map rides the manifest like constraints (metadata-only commit)."""
        m = self._snapshot()
        target = m["version"] if version is None else version
        if target not in self.versions():
            raise ValueError(f"no such snapshot version {target}")
        if name in m.get("refs", {}):
            raise ValueError(f"tag {name!r} already exists (tags are immutable)")
        return self._put_policy(
            m, "refs", f"create-tag:{name}@{target}", name, target
        )

    def drop_tag(self, name: str) -> int:
        return self._put_policy(self._snapshot(), "refs", f"drop-tag:{name}", name)

    def tags(self) -> dict:
        return self._current().get("refs", {})

    # -- branches (Iceberg branch refs) -------------------------------------

    def _branch_dir(self, name: str) -> str:
        if not re.fullmatch(r"[\w.\-]+", name):
            raise ValueError(f"invalid branch name {name!r}")
        return os.path.join(self.root, "_branches", name)

    def create_branch(
        self, name: str, version: int | None = None
    ) -> "VersionedTable":
        """``ALTER TABLE t CREATE BRANCH name [AS OF VERSION n]`` — a named
        WRITABLE fork (Iceberg branches): the branch gets its own snapshot
        chain seeded from the fork snapshot's manifest, while data dirs are
        shared by reference — creating a branch on a 100 TB table copies
        ZERO data bytes. The full write surface (commit, DML, MOR, schema
        evolution, compaction) works on the returned handle, isolated from
        main; :meth:`fast_forward` later publishes the branch state onto
        main in one atomic metadata commit. This is Iceberg's
        audit-branch / staging workflow: rebuild or backfill a corpus on a
        branch, validate it, then swing production atomically."""
        if self._branch_name is not None:
            raise ValueError("create branches from the main table handle")
        current = self._snapshot()["version"]
        target = current if version is None else version
        if target not in self.versions():
            raise ValueError(f"no such snapshot version {target}")
        bdir = self._branch_dir(name)
        if os.path.isdir(bdir):
            raise ValueError(f"branch {name!r} already exists")
        os.makedirs(bdir)
        b = self.branch(name, _create=True)
        # fork_main_version is the fast-forward ancestry gate: main may not
        # move past this version (except via this branch's own
        # fast-forwards) or the branch can no longer fast-forward onto it.
        b._commit(
            {},
            f"branch:{name}@{target}",
            fork_main_version=current,
            **self._restore(self._manifest(target), *_POLICY),
        )
        return b

    def branch(self, name: str, _create: bool = False) -> "VersionedTable":
        """A handle on branch ``name``: a :class:`VersionedTable` whose
        snapshot chain lives under ``_branches/<name>`` but whose data root
        is the shared table root. Retention (``expire_snapshots`` /
        ``remove_orphans``) is blocked on branch handles — data ownership
        belongs to the main table, which treats every live branch's
        referenced dirs as live."""
        bdir = self._branch_dir(name)
        if not _create and not os.path.isdir(bdir):
            raise ValueError(f"no such branch {name!r}")
        b = VersionedTable(self.spark, self.root)
        b._snap_dir = bdir
        b._branch_name = name
        return b

    def branches(self) -> dict:
        """Live branches: ``{name: {"head": v, "forked_at": main_version}}``."""
        broot = os.path.join(self.root, "_branches")
        if not os.path.isdir(broot):
            return {}
        out = {}
        for name in sorted(os.listdir(broot)):
            b = self.branch(name)
            head = b.current_version()
            if head is not None:
                out[name] = {
                    "head": head,
                    "forked_at": b._manifest(1).get("fork_main_version"),
                }
        return out

    def fast_forward(self, name: str) -> int:
        """``ALTER TABLE t FAST FORWARD BRANCH name`` — atomically publish
        the branch head's state as main's next snapshot (Iceberg's
        ``fast_forward``). Requires ancestry: main must still sit where the
        branch forked, or at a snapshot produced by a previous fast-forward
        of this same branch — anything else means main diverged, and a
        fast-forward would silently discard its commits (raise instead;
        resolve by re-branching). Tags created on either side survive
        (union, branch winning on collisions); everything else — dirs,
        stats, schema, DVs, policies — is the branch head's, verbatim."""
        if self._branch_name is not None:
            raise ValueError("fast-forward from the main table handle")
        b = self.branch(name)
        hm = b._snapshot()
        head = hm["version"]
        fork = b._manifest(1).get("fork_main_version")
        cur_m = self._snapshot()
        current = cur_m["version"]
        if current != fork and cur_m.get("ff_branch") != name:
            raise ValueError(
                f"main diverged since branch {name!r} forked at v{fork} "
                f"(now v{current}); fast-forward must preserve ancestry"
            )
        # Policy is the branch head's, an absent key meaning an empty one,
        # so main's state cannot survive over the branch's.
        changes = {
            **{k: {} for k in _POLICY},
            **self._restore(hm, *_POLICY),
            "refs": {**cur_m.get("refs", {}), **hm.get("refs", {})},
        }
        return self._commit(
            cur_m, f"fast-forward:{name}@{head}", ff_branch=name, **changes
        )

    def drop_branch(self, name: str) -> None:
        """Delete branch ``name``'s snapshot chain. Data dirs written only
        on the branch become orphans, reclaimed by :meth:`remove_orphans`."""
        bdir = self._branch_dir(name)
        if not os.path.isdir(bdir):
            raise ValueError(f"no such branch {name!r}")
        shutil.rmtree(bdir)

    def _branch_live_refs(self) -> tuple[set, set]:
        """(data dirs, dv dirs) referenced by any live branch's manifests —
        live for retention however old the referencing snapshot."""
        dirs: set = set()
        dvs: set = set()
        for name in self.branches():
            b = self.branch(name)
            for v in b.versions():
                m = b._manifest(v)
                dirs.update(m["dirs"])
                dvs.update(m.get("delete_vectors", []))
        return dirs, dvs

    def masks(self) -> dict:
        return self._current().get("masks", {})

    def row_filters(self) -> dict:
        return self._current().get("row_filters", {})

    def read_governed(
        self, version: int | None = None, timestamp: str | None = None
    ) -> DataFrame:
        """The analyst read path: row filters first (on true values), then
        every mask applied in ONE projection — so a mask referencing another
        masked column still sees the original, never a masked-of-masked
        value. Policy is always the CURRENT snapshot's, even when time
        traveling: governance is not rewound by reading history (you cannot
        see pre-policy data by asking for an old version)."""
        from pyspark.sql import functions as F

        df = self.read(version=version, timestamp=timestamp)
        for expr in self.row_filters().values():
            df = df.filter(F.expr(expr))
        masks = self.masks()
        if masks:
            df = df.select(
                *[
                    F.expr(masks[c]).alias(c) if c in masks else F.col(c)
                    for c in df.columns
                ]
            )
        return df

    def _check_constraints(self, df: DataFrame, cons: dict) -> None:
        """One aggregate pass: per-rule violation counts over ``df``."""
        if not cons:
            return
        from pyspark.sql import functions as F

        # SQL CHECK semantics (and Delta's): only FALSE violates — a NULL
        # (unknown) predicate result passes. Guard nullability explicitly
        # with NOT NULL constraints where that is the intent.
        aggs = [
            F.sum(
                F.when(
                    ~F.coalesce(F.expr(expr), F.lit(True)), F.lit(1)
                ).otherwise(F.lit(0))
            ).alias(name)
            for name, expr in cons.items()
        ]
        row = df.agg(*aggs).collect()[0]
        breached = {n: int(row[n] or 0) for n in cons if (row[n] or 0) > 0}
        if breached:
            raise ConstraintViolationError(
                f"constraint violations in {self.root}: "
                + ", ".join(f"{n} ({c} rows)" for n, c in breached.items())
            )

    # -- maintenance -------------------------------------------------------
    _dir_bytes = staticmethod(_dir_bytes)

    def compact(
        self,
        stats_cols: Sequence[str] | None = None,
        small_dir_max_bytes: int | None = None,
    ) -> int:
        """Small-file compaction (Delta ``OPTIMIZE`` / Iceberg
        ``rewrite_data_files``). Logically a no-op: the new snapshot holds
        the same rows.

        Default rewrites every dir into one. With ``small_dir_max_bytes``
        only dirs BELOW the threshold are coalesced and everything else is
        carried over by manifest reference — the incremental form a
        streaming table needs, where per-run cost is O(small dirs), never
        O(table). A steady stream of tiny micro-batch commits compacts in
        work proportional to the tiny tail; already-compacted data is not
        re-read (rewriting 100 TB to fix kilobyte files would be the
        classic compaction own-goal).
        """
        m = self._snapshot()
        _check_stats_cols(self.schema(m["version"]), stats_cols)
        if small_dir_max_bytes is None:
            # A full compact is row-preserving, so indexes the table carried
            # must not vanish with the rewritten dirs: without explicit
            # stats_cols it re-derives the parent's stats columns, and it
            # always rebuilds the bloom index over its recorded columns at
            # the pinned modulus — commit folds both into its single
            # metadata pass over the new dir.
            if stats_cols is None:
                stats_cols = sorted(
                    {c for cs in m.get("stats", {}).values() for c in cs}
                ) or None
            bloom_cols = sorted({c for cs in m.get("bloom", {}).values() for c in cs})
            return self.commit(
                self.read(m["version"]),
                mode="overwrite",
                stats_cols=stats_cols,
                bloom_cols=bloom_cols or None,
                bloom_bits=m.get("bloom_bits", 4096),
                _operation="compact",
            )
        small = _small_dirs(m["dirs"], small_dir_max_bytes)
        if len(small) <= 1:
            # Nothing to coalesce; skip the no-op commit.
            return m["version"]
        keep = [d for d in m["dirs"] if d not in small]
        merged_dir = self._new_dir()
        self._read_dirs(list(small), m["version"]).write.mode("overwrite").parquet(
            merged_dir
        )
        # The merged dir holds exactly the folded dirs' rows, so without
        # stats_cols its envelope per column is the union of theirs, its
        # bloom bit set the bitwise union (the modulus is pinned), and its
        # partition coverage the union of theirs — zero IO, and file-skip
        # pruning does not degrade because an auto-compaction fold did not
        # re-specify stats_cols.
        meta = self._dir_meta(merged_dir, stats_cols) or {
            "stats": _union_stats_envelopes(m.get("stats", {}), small)
        }
        meta["bloom"] = _union_bloom_sets(m.get("bloom", {}), small)
        parts = m.get("dir_parts", {})
        if all(parts.get(d) is not None for d in small):
            meta["dir_parts"] = sorted({p for d in small for p in parts[d]})
        return self._commit(
            m,
            "compact",
            add=[(merged_dir, {k: v for k, v in meta.items() if v is not None})],
            keep=keep,
            rows_unchanged=True,
        )

    # -- maintenance -------------------------------------------------------
    def expire_snapshots(self, keep_last: int = 1) -> list[int]:
        """Drop all but the last ``keep_last`` snapshots and delete data dirs
        no surviving manifest references. Returns expired version numbers.
        Tagged snapshots (named refs) are retention-exempt: they and their
        data survive however old, until the tag is dropped — Iceberg's
        expire-respects-refs contract, which is what makes a tag a usable
        release pin. Dirs referenced by any live BRANCH are likewise live
        (branches share data by reference); retention runs only on the main
        handle, which owns the data root."""
        if self._branch_name is not None:
            raise ValueError(
                "retention runs on the main table handle, not a branch "
                "(branches share the main table's data dirs)"
            )
        vs = self.versions()
        tagged = set(self.tags().values())
        expired = [v for v in vs[:-keep_last] if v not in tagged]
        kept = [v for v in vs if v in tagged or v in vs[-keep_last:]]
        live_dirs = {d for v in kept for d in self._manifest(v)["dirs"]}
        live_dvs = {
            d for v in kept for d in self._manifest(v).get("delete_vectors", [])
        }
        branch_dirs, branch_dvs = self._branch_live_refs()
        live_dirs |= branch_dirs
        live_dvs |= branch_dvs
        own_data = os.path.abspath(os.path.join(self.root, "data")) + os.sep
        own_dv = os.path.abspath(os.path.join(self.root, "dv")) + os.sep
        for v in expired:
            m = self._manifest(v)
            for d in m["dirs"]:
                # Only ever delete dirs THIS table owns: a shallow clone's
                # manifests reference the source table's dirs, and expiring
                # the clone must not reach into the source (Delta's VACUUM-
                # on-shallow-clone contract).
                if (
                    d not in live_dirs
                    and os.path.abspath(d).startswith(own_data)
                    and os.path.isdir(d)
                ):
                    shutil.rmtree(d)
            for d in m.get("delete_vectors", []):
                if (
                    d not in live_dvs
                    and os.path.abspath(d).startswith(own_dv)
                    and os.path.isdir(d)
                ):
                    shutil.rmtree(d)
            os.remove(os.path.join(self._snap_dir, f"{v:08d}.json"))
        if expired:
            # Tag-exempt retention leaves GAPS in the version sequence
            # (e.g. keep a tagged v3, expire v4-v6, keep v7+). A stale
            # hint that happened to survive at v3 would make the
            # walk-forward probe stop at the gap and report v3 as head —
            # and the next commit would shadow-publish v4 below the real
            # head. Re-pin the hint to the surviving head so a gap above
            # the hint can never coexist with a valid-looking hint.
            survivors = self.versions()
            if survivors:
                self._write_latest_hint(survivors[-1])
        return expired

    def remove_orphans(self) -> list[str]:
        """Delete data dirs referenced by NO manifest (Iceberg's
        remove_orphan_files): the residue of conflict-losing commits and
        crashed writes. Distinct from ``expire_snapshots`` — orphans were
        never reachable from any snapshot, so deleting them can't break
        time travel. Returns the removed dirs.

        Production caveat (same as Iceberg's): only run while no in-flight
        commit is between its data write and manifest publish, or guard
        with a min-age filter; this single-writer form takes the simple
        path.
        """
        if self._branch_name is not None:
            raise ValueError(
                "retention runs on the main table handle, not a branch "
                "(branches share the main table's data dirs)"
            )
        data_root = os.path.join(self.root, "data")
        dv_root = os.path.join(self.root, "dv")
        branch_dirs, branch_dvs = self._branch_live_refs()
        live_dv = {
            os.path.basename(d.rstrip("/"))
            for v in self.versions()
            for d in self._manifest(v).get("delete_vectors", [])
        } | {os.path.basename(d.rstrip("/")) for d in branch_dvs}
        if os.path.isdir(dv_root):
            for name in os.listdir(dv_root):
                if name not in live_dv:
                    shutil.rmtree(os.path.join(dv_root, name))
        all_dirs = [
            d for v in self.versions() for d in self._manifest(v)["dirs"]
        ] + sorted(branch_dirs)
        live = {os.path.basename(d.rstrip("/")) for d in all_dirs}
        # Partition-split dirs register subpaths (base/shadow=X); keep their
        # base dirs live too.
        live |= {
            os.path.basename(os.path.dirname(d.rstrip("/"))) for d in all_dirs
        }
        removed = []
        for name in os.listdir(data_root):
            if name not in live:
                target = os.path.join(data_root, name)
                shutil.rmtree(target)
                removed.append(target)
        return sorted(removed)


def table_diff(
    table: VersionedTable,
    keys: Sequence[str],
    from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """Row-level changes between two snapshots — the change-data-feed read
    (Delta's ``table_changes`` / Iceberg's changelog scan) over
    VersionedTable time travel: every key inserted, deleted, or updated
    between ``from_version`` and ``to_version``, with the post-image for
    inserts/updates and the pre-image for deletes.

    Output: the table's columns plus ``change_type`` in
    {'insert','update','delete'}; unchanged keys are absent. Update
    detection is a null-safe struct comparison over all non-key columns.

    Scale shape: one full-outer equi-join of the two snapshot reads on the
    key — shuffle is bounded by the two snapshots' key sets, and on a
    bucketed table both sides arrive co-partitioned. This derives the feed
    from any two versions after the fact; the streaming sinks
    (stream_apply_changes) are the forward path that APPLIES such a feed.
    """
    from pyspark.sql import functions as F

    if to_version is None:
        to_version = table.current_version()
    old = table.read(version=from_version)
    new = table.read(version=to_version)
    keys = list(keys)
    payload = [c for c in old.columns if c not in keys]
    if payload != [c for c in new.columns if c not in keys]:
        raise ValueError(
            f"snapshot schemas differ: v{from_version} {old.columns} vs "
            f"v{to_version} {new.columns}"
        )
    old_s = old.select(*keys, F.struct(*payload).alias("__old"))
    new_s = new.select(*keys, F.struct(*payload).alias("__new"))
    j = old_s.join(new_s, on=keys, how="full_outer")
    change = (
        F.when(F.col("__old").isNull(), F.lit("insert"))
        .when(F.col("__new").isNull(), F.lit("delete"))
        .when(~F.col("__old").eqNullSafe(F.col("__new")), F.lit("update"))
    )
    image = F.coalesce(F.col("__new"), F.col("__old"))
    return (
        j.withColumn("change_type", change)
        .filter(F.col("change_type").isNotNull())
        .select(
            *keys,
            *[image.getField(c).alias(c) for c in payload],
            "change_type",
        )
    )


class TableCatalog:
    """Named versioned tables under one warehouse root (the catalog layer a
    lakehouse exposes as ``db.table``): create/load/list/drop plus SQL
    registration, so ``spark.sql`` can query a VersionedTable's latest
    snapshot by name.

    Names map to directories (``root/<name>``); listing is a directory
    listing, existence is a manifest check — all driver-side metadata, no
    data IO. ``register_view`` materializes nothing: it binds a temp view
    to the CURRENT snapshot's scan, so re-register after commits that
    should become visible (snapshot-isolation semantics, same as pinning a
    version in Iceberg).
    """

    def __init__(self, spark: SparkSession, root: str) -> None:
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _path(self, name: str) -> str:
        """Resolve ``table`` or ``schema.table`` (the reference's
        namespace-qualified naming, docker/init/lakehouse_init.sql — e.g.
        ``silver.processed_company``) to a directory: dots map to
        subdirectories, one level deep."""
        parts = name.split(".")
        if len(parts) > 2 or not all(
            re.fullmatch(r"[A-Za-z0-9_]+", p) for p in parts
        ):
            raise ValueError(f"invalid table name {name!r}")
        return os.path.join(self.root, *parts)

    def create(self, name: str, df: DataFrame | None = None, **commit_kwargs) -> VersionedTable:
        if os.path.isdir(self._path(name)):
            raise ValueError(f"table {name!r} already exists")
        t = VersionedTable(self.spark, self._path(name))
        if df is not None:
            t.commit(df, **commit_kwargs)
        return t

    def load(self, name: str) -> VersionedTable:
        if not os.path.isdir(self._path(name)):
            raise ValueError(f"no such table {name!r}")
        return VersionedTable(self.spark, self._path(name))

    def create_schema(self, name: str) -> None:
        """``CREATE SCHEMA`` (namespace): a directory level tables nest
        under — metadata-only, idempotent, the reference's
        bronze/silver/gold layering."""
        if not re.fullmatch(r"[A-Za-z0-9_]+", name):
            raise ValueError(f"invalid schema name {name!r}")
        os.makedirs(os.path.join(self.root, name), exist_ok=True)

    def schemas(self) -> list[str]:
        """Namespaces: directories that are not themselves tables."""
        return sorted(
            n
            for n in os.listdir(self.root)
            if os.path.isdir(os.path.join(self.root, n))
            and not os.path.isdir(os.path.join(self.root, n, "_snapshots"))
        )

    def tables(self) -> list[str]:
        """All table names, flat and schema-qualified (``schema.table``)."""
        out = []
        for n in os.listdir(self.root):
            if os.path.isdir(os.path.join(self.root, n, "_snapshots")):
                out.append(n)
            elif os.path.isdir(os.path.join(self.root, n)):
                out.extend(
                    f"{n}.{t}"
                    for t in os.listdir(os.path.join(self.root, n))
                    if os.path.isdir(
                        os.path.join(self.root, n, t, "_snapshots")
                    )
                )
        return sorted(out)

    def drop(self, name: str) -> None:
        shutil.rmtree(self._path(name))

    @staticmethod
    def view_name(name: str) -> str:
        """Temp-view alias for a table name: Spark temp views cannot carry
        dots, so ``schema.table`` registers as ``schema__table`` (the SQL
        layer rewrites dotted references to this alias)."""
        return name.replace(".", "__")

    def register_view(self, name: str, version: int | None = None) -> str:
        """Bind ``name`` as a temp view over the (default: latest) snapshot;
        returns the view name actually registered (dots mangled)."""
        view = self.view_name(name)
        self.load(name).read(version=version).createOrReplaceTempView(view)
        return view

    def maintain(
        self,
        name: str,
        small_dir_max_bytes: int = 32 << 20,
        max_small_dirs: int = 8,
        keep_snapshots: int = 10,
        max_delete_vectors: int = 8,
    ) -> dict:
        """One maintenance pass (the scheduled OPTIMIZE+VACUUM job every
        lakehouse runs): incremental small-file compaction once the tiny-dir
        count crosses ``max_small_dirs``, a FULL compaction once accumulated
        merge-on-read deletion vectors cross ``max_delete_vectors`` (paying
        down the read-side anti-join debt — Delta's DV rewrite policy),
        snapshot expiry past ``keep_snapshots``, and orphan-file cleanup.
        Policy thresholds keep steady-state cost O(small dirs) + O(metadata)
        per pass — a table with nothing to do costs a directory listing.
        """
        t = self.load(name)
        report = {"compacted": False, "expired": [], "orphans_removed": 0}
        m = t._current()
        if not m:
            return report  # empty table: nothing to maintain
        if len(m.get("delete_vectors", [])) > max_delete_vectors:
            t.compact()  # full rewrite: materializes and purges the vectors
            report["compacted"] = True
            m = t._current()
        small = _small_dirs(m["dirs"], small_dir_max_bytes)
        if not report["compacted"] and len(small) > max_small_dirs:
            t.compact(small_dir_max_bytes=small_dir_max_bytes)
            report["compacted"] = True
        report["expired"] = t.expire_snapshots(keep_last=keep_snapshots)
        report["orphans_removed"] = len(t.remove_orphans())
        return report

    def maintain_all(self, **policy) -> dict[str, dict]:
        """Run :meth:`maintain` over every table; returns name → report.
        The whole-warehouse scheduled job: per-table cost is policy-bounded,
        so the sweep is proportional to what actually needs work."""
        return {name: self.maintain(name, **policy) for name in self.tables()}
