"""Multi-table atomic transactions via a catalog commit log (Nessie model).

A :class:`VersionedTable` commit is atomic *per table* (write-then-link CAS in
``tables._link_json``), but the lakehouse's classic gap —
same as Iceberg pre-catalog-transactions — is ATOMICITY ACROSS TABLES: a gold
rollup published after its silver base leaves a window where readers join new
silver against old gold. The reference pipeline has exactly this exposure: its
bronze/silver/gold tables commit independently per run
(/root/reference/src/gold/load_dim_company.py, .../silver/ohlcv_agg.py), with
nothing tying the layer versions together.

The fix here is the one Project Nessie / modern Iceberg REST catalogs use:
versions become visible through a CATALOG COMMIT — one tiny JSON mapping
``table name -> snapshot version`` for every table under the ref, published
with the same write-then-``os.link`` compare-and-swap as a table manifest
(``tables._link_json``).
Per-table snapshots are written first (durable, but mere objects); the single
catalog-commit link is the transaction's commit point:

* readers that resolve versions through the ref (``ref.read(name)``) get a
  CONSISTENT cross-table snapshot — all of a transaction's tables or none;
* a crash after some table commits but before the catalog link publishes
  nothing: the half-done snapshots are orphans the catalog never points at —
  no recovery step, no torn state;
* two transactions racing from the same catalog commit conflict ONLY if they
  touched an overlapping table set (table-granular optimistic concurrency);
  disjoint writers both land, the loser of the link CAS retrying onto the
  winner's state;
* earlier catalog commits stay readable: CROSS-TABLE time travel ("the whole
  warehouse as of commit 7"), which per-table ``read(version=...)`` cannot
  reconstruct because it forgets which versions coexisted.

Driver-side metadata only — the commit log holds versions, never data, so the
publish cost is independent of table count × data size and holds at 100 TB.
"""

from __future__ import annotations

import datetime
import json
import os
from collections.abc import Mapping, Sequence

from pyspark.sql import DataFrame, SparkSession

from lakeflow.tables import (
    CommitConflictError,
    TableCatalog,
    VersionedTable,
    _link_json,
)


class CatalogRef:
    """A named ref (branch) of catalog commits over a :class:`TableCatalog`.

    Layout::

        <catalog root>/_refs/<ref>/00000001.json
            {"commit": 1, "tables": {"silver.ticks": 3, "gold.candles": 2},
             "message": ..., "committed_at": ...}

    Each commit maps EVERY table visible on the ref to a pinned snapshot
    version (tables not touched by a transaction carry forward), so one file
    resolves an arbitrary cross-table read consistently.
    """

    def __init__(
        self, spark: SparkSession, catalog: TableCatalog, ref: str = "main"
    ) -> None:
        self.spark = spark
        self.catalog = catalog
        self.ref = ref
        self._log_dir = os.path.join(catalog.root, "_refs", ref)
        os.makedirs(self._log_dir, exist_ok=True)

    # -- commit-log metadata ------------------------------------------------
    def commits(self) -> list[int]:
        return sorted(
            int(f.split(".")[0])
            for f in os.listdir(self._log_dir)
            if f.endswith(".json")
        )

    def current_commit(self) -> int | None:
        cs = self.commits()
        return cs[-1] if cs else None

    def _commit_doc(self, commit: int) -> dict:
        with open(os.path.join(self._log_dir, f"{commit:08d}.json")) as fh:
            return json.load(fh)

    def state(self, commit: int | None = None) -> dict[str, int]:
        """``{table name: snapshot version}`` at a catalog commit (default:
        latest). Empty before the first commit."""
        if commit is None:
            commit = self.current_commit()
        if commit is None:
            return {}
        return dict(self._commit_doc(commit)["tables"])

    def log(self) -> DataFrame:
        """The catalog commit log as a DataFrame (audit surface, the
        cross-table analogue of ``VersionedTable.snapshots()``)."""
        from pyspark.sql import Row

        rows = [
            Row(
                commit=doc["commit"],
                n_tables=len(doc["tables"]),
                tables=json.dumps(doc["tables"], sort_keys=True),
                message=doc.get("message"),
                committed_at=doc.get("committed_at"),
            )
            for doc in (self._commit_doc(c) for c in self.commits())
        ]
        return self.spark.createDataFrame(
            rows,
            schema=(
                "commit int, n_tables int, tables string, message string, "
                "committed_at string"
            ),
        )

    # -- consistent reads ---------------------------------------------------
    def read(self, name: str, commit: int | None = None) -> DataFrame:
        """Scan ``name`` at the version the catalog commit pins — NOT the
        table's own HEAD. Reads of several tables against the same
        ``commit`` are mutually consistent."""
        state = self.state(commit)
        if name not in state:
            raise ValueError(
                f"table {name!r} is not visible on ref {self.ref!r}"
                + (f" at commit {commit}" if commit is not None else "")
            )
        return self.catalog.load(name).read(version=state[name])

    # -- transactions -------------------------------------------------------
    def transaction(self, message: str | None = None) -> "CatalogTransaction":
        return CatalogTransaction(self, message=message)

    def _publish(
        self, base_commit: int | None, touched: dict[str, int], message: str | None
    ) -> int:
        """CAS-publish one catalog commit; retries onto a newer head are the
        caller's job (``CatalogTransaction.commit`` loops for disjoint
        writers)."""
        head = self.current_commit()
        if head != base_commit:
            # Someone landed since we started: safe to merge ONLY if they
            # touched a disjoint table set.
            overlap = self._changed_since(base_commit) & set(touched)
            if overlap:
                raise CommitConflictError(
                    f"catalog ref {self.ref!r} advanced past commit "
                    f"{base_commit} with changes to {sorted(overlap)}; "
                    "re-read and retry the transaction"
                )
        merged = self.state(head)
        merged.update(touched)
        commit = (head or 0) + 1
        doc = {
            "commit": commit,
            "tables": merged,
            "message": message,
            "committed_at": datetime.datetime.now(
                datetime.timezone.utc
            ).isoformat(),
        }
        _link_json(  # the atomic commit point
            os.path.join(self._log_dir, f"{commit:08d}.json"),
            doc,
            f"catalog commit {commit} on ref {self.ref!r} was published "
            "concurrently",
        )
        return commit

    # -- warehouse-level branching -----------------------------------------
    # A CatalogRef is already a named commit chain, so branching the WHOLE
    # warehouse (every table at a consistent cross-table state — the thing
    # per-table Iceberg branch refs cannot express) is one seed commit, and
    # merging back is one table-granular three-way check against the fork
    # point. Data is never copied: refs hold versions, tables hold data.

    def fork(self, name: str, message: str | None = None) -> "CatalogRef":
        """Create ref ``name`` seeded with this ref's current state: a
        zero-copy branch of the entire warehouse. The seed commit records
        the fork point (``forked_from``) so a later merge can three-way
        diff."""
        child = CatalogRef(self.spark, self.catalog, ref=name)
        if child.current_commit() is not None:
            raise ValueError(f"ref {name!r} already exists")
        base = self.current_commit()
        doc = {
            "commit": 1,
            "tables": self.state(),
            "message": message or f"fork of {self.ref}@{base}",
            "forked_from": {"ref": self.ref, "commit": base},
            "committed_at": datetime.datetime.now(
                datetime.timezone.utc
            ).isoformat(),
        }
        _link_json(
            os.path.join(child._log_dir, "00000001.json"),
            doc,
            f"ref {name!r} was created concurrently",
        )
        return child

    def fork_point(self) -> dict | None:
        cs = self.commits()
        if not cs:
            return None
        return self._commit_doc(cs[0]).get("forked_from")

    def merge_from(self, other: "CatalogRef") -> int:
        """Merge a forked ref back: tables ``other`` changed since its fork
        point publish onto this ref as ONE atomic catalog commit,
        conflicting (table-granular, same rule as concurrent transactions)
        if this ref also changed any of them since the fork. Versions
        move, data stays put — the whole-warehouse analogue of
        ``VersionedTable.fast_forward``."""
        fp = other.fork_point()
        if fp is None or fp["ref"] != self.ref:
            raise ValueError(
                f"ref {other.ref!r} was not forked from {self.ref!r}"
            )
        base_state = (
            self.state(fp["commit"]) if fp["commit"] is not None else {}
        )
        theirs = other.state()
        changed = {t: v for t, v in theirs.items() if base_state.get(t) != v}
        if not changed:
            raise ValueError(f"nothing to merge from {other.ref!r}")
        return self._publish(
            fp["commit"],
            changed,
            f"merge {other.ref}@{other.current_commit()}",
        )

    def purge_subjects(
        self,
        predicates: Mapping[str, str],
        message: str | None = None,
    ) -> int:
        """Right-to-be-forgotten, phase 1 (logical): delete every row
        matching ``predicates[table]`` across ALL the named tables in ONE
        catalog commit — a data-subject opt-out must not be half-applied,
        visible in `orders` but not `customer`, which per-table DML can't
        guarantee. Each table takes a merge-on-read delete (deletion
        vector — O(matching positions), no file rewrites, the only
        affordable shape when the subject's rows are scattered across a
        100 TB warehouse), and the catalog commit flips them all visible
        together; a crash mid-purge leaves every table un-purged.

        The subject's rows remain in storage (and in pre-purge snapshots)
        until :meth:`materialize_purge` rewrites them out —
        ``VersionedTable.scan_physical`` is the audit handle that tells
        the two states apart. Returns the catalog commit number."""
        with self.transaction(message or "purge subjects") as txn:
            for name, cond in predicates.items():
                txn.run(name, lambda t, c=cond: t.delete_where_mor(c))
        assert txn.committed is not None
        return txn.committed

    def materialize_purge(
        self,
        tables: Sequence[str],
        message: str | None = None,
        expire_history: bool = False,
    ) -> int:
        """Right-to-be-forgotten, phase 2 (physical): rewrite each table
        through its deletion vectors (full compact) so purged rows leave
        the data files — after this, ``scan_physical`` no longer returns
        them. One catalog commit publishes all the rewrites together.
        With ``expire_history`` the pre-purge snapshots (whose files still
        hold the subject's rows) and pre-purge catalog commits are expired
        too — the full-compliance form; without it they stay time-travel
        readable (the audit-window form). Returns the catalog commit."""
        with self.transaction(message or "materialize purge") as txn:
            for name in tables:
                txn.run(name, lambda t: t.compact())
        assert txn.committed is not None
        if expire_history:
            for name in tables:
                self.catalog.load(name).expire_snapshots(keep_last=1)
            self.expire_commits(keep_last=1)
        return txn.committed

    def expire_commits(self, keep_last: int = 1) -> list[int]:
        """Retention for the catalog log: drop all but the newest
        ``keep_last`` commits (the cross-table time-travel window). Table
        data and per-table snapshot history are untouched — expire those
        through ``VersionedTable.expire_snapshots``, which owns data
        lifecycle."""
        cs = self.commits()
        drop = cs[:-keep_last] if keep_last > 0 else cs
        for c in drop:
            os.unlink(os.path.join(self._log_dir, f"{c:08d}.json"))
        return drop

    def _changed_since(self, base_commit: int | None) -> set[str]:
        """Tables whose pinned version differs between ``base_commit`` and
        the current head (or that appeared)."""
        base = self.state(base_commit) if base_commit is not None else {}
        now = self.state()
        return {t for t, v in now.items() if base.get(t) != v}


class CatalogTransaction:
    """Multi-table transaction: table writes through the txn stage per-table
    snapshots immediately (durable objects), and ``commit()`` — or a clean
    ``with`` exit — publishes ONE catalog commit making them all visible
    together. An exception (or crash) before that leaves the ref exactly
    where it was; the staged snapshots are unreferenced orphans.

    Use ``write``/``run`` for the common paths, or stage any bespoke
    :class:`VersionedTable` operation via ``run(name, fn)`` — whatever
    version the callable leaves as the table's HEAD is what the transaction
    pins.
    """

    def __init__(self, ref: CatalogRef, message: str | None = None) -> None:
        self.ref = ref
        self.message = message
        self.base_commit = ref.current_commit()
        self.touched: dict[str, int] = {}
        self.committed: int | None = None

    # -- staging ------------------------------------------------------------
    def write(self, name: str, df: DataFrame, **commit_kwargs) -> int:
        """Commit ``df`` to table ``name`` (created on first write) and
        stage the resulting snapshot version for this transaction."""
        cat = self.ref.catalog
        try:
            t = cat.load(name)
        except ValueError:
            t = cat.create(name)
        version = t.commit(df, **commit_kwargs)
        self.touched[name] = version
        return version

    def run(self, name: str, fn) -> int:
        """Stage an arbitrary table operation: ``fn(table)`` performs any
        VersionedTable mutation (DML, merge, replace-partitions...); the
        table's HEAD afterwards is pinned by the transaction."""
        t = self.ref.catalog.load(name)
        fn(t)
        version = t.current_version()
        self.touched[name] = version
        return version

    def read(self, name: str) -> DataFrame:
        """Read WITHIN the transaction: staged tables at their staged
        version, everything else as of the transaction's base commit
        (snapshot isolation — concurrent commits stay invisible)."""
        if name in self.touched:
            return self.ref.catalog.load(name).read(version=self.touched[name])
        return self.ref.read(name, commit=self.base_commit)

    # -- commit point -------------------------------------------------------
    def commit(self) -> int:
        if self.committed is not None:
            raise RuntimeError("transaction already committed")
        if not self.touched:
            raise RuntimeError("empty transaction: nothing staged")
        self.committed = self.ref._publish(
            self.base_commit, self.touched, self.message
        )
        return self.committed

    def __enter__(self) -> "CatalogTransaction":
        return self

    def __exit__(self, exc_type, exc, tb) -> bool:
        if exc_type is None and self.touched and self.committed is None:
            self.commit()
        return False  # propagate exceptions; ref state is untouched