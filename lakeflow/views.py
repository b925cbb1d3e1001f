"""Incrementally-maintained materialized views over VersionedTable history.

The reference's gold layer recomputes its aggregates from silver on every
run (a full groupBy per trigger); Databricks DLT materialized views and
Materialize/DBSP keep them fresh by processing only the CHANGE since the last
refresh. This module re-creates that contract on
:class:`lakeflow.tables.VersionedTable` metadata alone.

Every view takes its changes from one place, :func:`_signed_side_delta`.
``VersionedTable.manifest_diff`` of the snapshot the view last reflected and
the current one names the data dirs added and removed and the deletion
vectors that appeared. Added rows enter with sign +1, removed rows with −1,
and rows hidden by a new merge-on-read vector with −1 (``_dv_preimages``).
Refresh IO is proportional to the churn between versions, never to the base
table. Copy-on-write DML composes for free: untouched dirs carry over
(absent from the diff) and a rewritten dir prices as old dir −1, new dir +1;
an overwrite degenerates to remove-all + add-all — correct, just not cheap.

A REBUILD is the same delta taken from the empty table: every dir of the
current snapshot at +1, folded onto no state. It covers the first build, a
last-seen snapshot expired since, deletion vectors that VANISHED (RESTORE
past a MOR delete resurfaces rows in place, which has no signed rendering)
and a missing state table; no view has a separate rebuild path.

The four tiers:

- :class:`IncrementalAggView` — COUNT(*) and fixed-point SUM, the
  self-inverting (abelian-group) aggregates where "subtract the removed
  rows" is exact. Values are quantized to integer units
  (``floor(x * scale + 0.5)``) BEFORE summation, so the state is
  addition-order-free: an incremental refresh and a rebuild are
  bit-identical, which is what makes the view oracle-checkable. AVG derives
  as sum/count at read time.
- :class:`DirtyGroupAggView` — MIN/MAX and exact COUNT(DISTINCT), which are
  not group-invertible: the delta only names the DIRTY group keys, and those
  groups are re-aggregated from the current base, pruned by per-dir key
  stats (the incremental/recompute line DLT draws, with the recompute scoped
  to touched groups instead of the whole view).
- :class:`IncrementalJoinView` — INNER equi-joins, which are bilinear rather
  than invertible per row: Z-set state (distinct joined tuple +
  multiplicity) folded by Δ(L⋈R) = ΔL⋈R_new ∪ L_old⋈ΔR.
- :class:`IncrementalLeftJoinView` — LEFT OUTER, as a three-part signed
  state with null extension at read time, so matched-status flips never
  generate retractions.

Each state commit carries the base version(s) it reflects as transactional
watermarks, so state and watermark publish atomically (:class:`_View`).
"""

from __future__ import annotations

import json
import os
from collections.abc import Mapping, Sequence
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lakeflow.tables import VersionedTable, plan_dirs

# App ids under which state commits record the reflected base versions as
# transactional watermarks: one for a one-base view, one per side of a join
# (both ride in ONE state commit, so a crash can never leave one side's
# watermark behind the state).
_MV_TXN_APP = "mv"
_MVJ_TXN_LEFT = "mvj_left"
_MVJ_TXN_RIGHT = "mvj_right"


def _signed(df: DataFrame, sign: int) -> DataFrame:
    return df.withColumn("__sign", F.lit(sign).cast("bigint"))


def _signed_side_delta(
    base: VersionedTable,
    v_from: int | None,
    v_to: int,
    key_cols: Sequence[str] = (),
) -> dict:
    """One base table's signed row delta from snapshot ``v_from`` to
    ``v_to``, plus the metadata a delta-join prunes with.

    Returns ``{"from_version", "delta", "dirs_read", "bounds"}``:

    - ``from_version`` — ``v_from``, or None when the window has no
      incremental rendering (no ``v_from``, its snapshot expired, or
      deletion vectors vanished since) and the delta is taken from the
      empty table instead: every dir of ``v_to`` at +1, to be folded onto
      no state.
    - ``delta`` — DataFrame of base rows tagged ``__sign`` (+1 added, −1
      removed or hidden by a new deletion vector), or None when empty.
    - ``dirs_read`` — dirs the delta scan opens.
    - ``bounds`` — ``{key: (lo, hi)}`` manifest-stat envelope of the
      touched dirs on ``key_cols``; a key any touched dir lacks stats for
      is omitted (the static side then reads unpruned on it — correct,
      just not cheap). Conservative by construction: dir stats bound every
      row in the dir, hence every delta row.
    """
    m_to = base._manifest(v_to)
    m_from: dict = {}
    if v_from is not None:
        try:
            m_from = base._manifest(v_from)
        except FileNotFoundError:
            pass  # expired between refreshes: the diff is gone
    diff = base.manifest_diff(m_from, m_to)
    if diff.vanished_dvs:
        m_from, diff = {}, base.manifest_diff({}, m_to)
    v_from = v_from if m_from else None
    added = set(diff.added)
    hidden, dv_ref = _dv_preimages(
        base, diff.new_dvs, [d for d in m_to["dirs"] if d not in added], v_to
    )
    parts = []
    if diff.added:
        parts.append(_signed(base._read_dirs(diff.added, v_to), 1))
    if diff.removed:
        parts.append(_signed(base._read_dirs(diff.removed, v_from), -1))
    if hidden is not None:
        parts.append(_signed(hidden, -1))

    touched = [
        *((d, m_to) for d in diff.added),
        *((d, m_from) for d in diff.removed),
        *((d, m_to) for d in dv_ref),
    ]
    bounds: dict[str, tuple] = {}
    for k in key_cols:
        mms = [m.get("stats", {}).get(d, {}).get(k) for d, m in touched]
        if mms and all(
            mm is not None and mm[0] is not None and mm[1] is not None
            for mm in mms
        ):
            bounds[k] = (min(mm[0] for mm in mms), max(mm[1] for mm in mms))
    return {
        "from_version": v_from,
        "delta": reduce(DataFrame.unionByName, parts) if parts else None,
        "dirs_read": len(touched),
        "bounds": bounds,
    }


def _dv_preimages(
    base: VersionedTable,
    new_dvs: Sequence[str],
    dirs: Sequence[str],
    v_to: int,
) -> tuple[DataFrame | None, list[str]]:
    """Pre-image rows that the deletion vectors ``new_dvs`` hide in
    ``dirs``.

    Merge-on-read DML changes row visibility WITHOUT touching the dir list,
    so a dirs-only diff misses it entirely (a ``delete_where_mor`` would
    leave the deleted rows' contributions in the view forever). This
    recovers the rows the new vectors hid — the refresh folds them with
    sign −1 — by raw-reading ONLY the referenced dirs (no DV masking) and
    broadcast-semi-joining the new vectors' positions, the same split shape
    as the CDF reader's delete pre-image partitions
    (``sources/table_stream.py``).

    ``dirs`` are those present in BOTH snapshots: positions in dirs added
    within the window are already excluded by the added-dir read (which
    anti-joins the target version's vectors), and positions in removed dirs
    are subtracted wholesale by the removed-dir read.

    Returns ``(pre_image_rows_or_None, dirs_read)`` — the dirs raw-read to
    recover the pre-images, so callers can both count refresh IO and look
    up those dirs' manifest key stats.
    """
    if not new_dvs or not dirs:
        return None, []
    dv = base.spark.read.parquet(*new_dvs).select("file_path", "row_index")
    # Distinct referenced FILES are bounded by the table's file count (the
    # same metadata scale Delta's log tracks), so mapping them to owning
    # dirs is a driver-side loop over metadata, never data.
    # Boundary-safe containment (dir + "/"), via contains not startswith:
    # _metadata-derived paths carry a scheme prefix (file:/…) the manifest
    # dirs lack, and a dir must not capture a sibling it is a prefix of.
    files = [r[0] for r in dv.select("file_path").distinct().collect()]
    ref = sorted(
        d for d in dirs if any(d.rstrip("/") + "/" in f for f in files)
    )
    if not ref:
        return None, []
    pre = base._read_dirs(ref, v_to, with_positions=True, dvs=[])
    hidden = pre.join(
        F.broadcast(dv),
        (pre[base.POS_FILE] == dv["file_path"])
        & (pre[base.POS_INDEX] == dv["row_index"]),
        "left_semi",
    )
    payload = [
        c for c in pre.columns if c not in (base.POS_FILE, base.POS_INDEX)
    ]
    return hidden.select(*payload), ref


class _View:
    """A view's state table and the base versions it reflects.

    ``_WATERMARKS`` maps each base's txn app to its key in the sidecar
    marker. Authoritative source: the txn watermarks recorded INSIDE the
    state commit — watermark and state land in one atomic manifest publish,
    so a crash between them cannot leave state at ``v_to`` with the
    watermark at ``v_from`` (which would re-fold the same delta and
    double-count on the next refresh). The sidecar marker survives only as
    the empty-delta fast path (nothing to commit, so no manifest to carry
    the txn); taking the max of the two is safe because the sidecar never
    names a version the state does not reflect.
    """

    _MARKER = "_mv_state.json"
    _WATERMARKS = {_MV_TXN_APP: "base_version"}

    def __init__(self, spark: SparkSession, path: str) -> None:
        self.spark = spark
        self.result = VersionedTable(spark, path)
        self._marker_path = os.path.join(path, self._MARKER)

    def _watermarks(self) -> list[int | None]:
        seen: dict[str, list[int]] = {app: [] for app in self._WATERMARKS}
        cur = self.result.current_version()
        if cur is not None:
            txns = self.result._manifest(cur).get("txns", {})
            for app, vals in seen.items():
                if app in txns:
                    vals.append(int(txns[app]))
        if os.path.exists(self._marker_path):
            with open(self._marker_path) as fh:
                marker = json.load(fh)
            for app, key in self._WATERMARKS.items():
                seen[app].append(int(marker[key]))
        return [max(vals) if vals else None for vals in seen.values()]

    def _publish(
        self, versions: Sequence[int], state: DataFrame | None, operation: str
    ) -> None:
        """Replace the state (when there is one) in ONE atomic commit that
        carries the watermarks — never a reset-then-fold pair, whose crash
        window would leave an empty state behind a still-valid watermark;
        a replay of the same refresh (txn version <= recorded) is skipped.
        Then record the versions in the sidecar marker."""
        if state is not None:
            self.result._land(
                state,
                operation,
                mode="overwrite",
                txn=list(zip(self._WATERMARKS, versions)),
            )
        tmp = self._marker_path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(dict(zip(self._WATERMARKS.values(), versions)), fh)
        os.replace(tmp, self._marker_path)

    def read(self) -> DataFrame:
        """Current view state."""
        return self.result.read()


class _OneBaseView(_View):
    """Refresh skeleton of the views over one base table; subclasses supply
    ``_fold``."""

    base: VersionedTable

    def refreshed_version(self) -> int | None:
        """Base-table version the view state currently reflects."""
        return self._watermarks()[0]

    def refresh(self) -> dict:
        """Fold base-table changes since the last refresh into the view.

        Returns {"from_version", "to_version", "dirs_read", "dirs_total"} —
        callers (and tests) can assert the incremental contract:
        ``dirs_read`` counts only the dirs the refresh opened, and
        ``from_version`` is None when the refresh rebuilt the view.
        """
        m_to = self.base._snapshot()
        v_to, v_from = m_to["version"], self.refreshed_version()
        out = {
            "from_version": v_from,
            "to_version": v_to,
            "dirs_read": 0,
            "dirs_total": len(m_to["dirs"]),
        }
        if v_from == v_to:
            return out
        has_state = self.result.current_version() is not None
        d = _signed_side_delta(self.base, v_from if has_state else None, v_to)
        out["from_version"] = d["from_version"]
        state, operation = None, ""
        if d["delta"] is not None:
            prior = None if d["from_version"] is None else self.result.read()
            state, operation, info = self._fold(d, v_to, prior)
            out.update(info)
        self._publish([v_to], state, operation)
        return out


class IncrementalAggView(_OneBaseView):
    """A keyed COUNT/SUM aggregate over a base :class:`VersionedTable`,
    refreshed from manifest diffs.

    ``sums`` maps output column → (source column, scale): each row
    contributes ``floor(src * scale + 0.5)`` as a BIGINT, summed per key.
    ``count_col`` is the per-key COUNT(*). State lives in its own
    VersionedTable (itself time-travelable).
    """

    def __init__(
        self,
        spark: SparkSession,
        base: VersionedTable,
        keys: Sequence[str],
        sums: Mapping[str, tuple[str, int]],
        path: str,
        count_col: str = "n_rows",
    ) -> None:
        super().__init__(spark, path)
        self.base = base
        self.keys = list(keys)
        self.sums = dict(sums)
        self.count_col = count_col

    def _fold(
        self, d: dict, v_to: int, prior: DataFrame | None
    ) -> tuple[DataFrame, str, dict]:
        """State ∪ signed delta rows, regrouped on the keys: groupBy equates
        NULL keys (a join merge would split a NULL group in two), and the
        same expression serves keyless views."""
        vals = [self.count_col, *self.sums]
        rows = d["delta"].select(
            *self.keys,
            F.col("__sign").alias(self.count_col),
            *[
                (
                    F.floor(F.col(src) * scale + F.lit(0.5)).cast("bigint")
                    * F.col("__sign")
                ).alias(out)
                for out, (src, scale) in self.sums.items()
            ],
        )
        if prior is not None:
            rows = prior.select(*self.keys, *vals).unionByName(rows)
        state = (
            rows.groupBy(*self.keys)
            .agg(*[F.sum(c).cast("bigint").alias(c) for c in vals])
            # Groups whose every row was deleted leave the view entirely.
            .filter(F.col(self.count_col) > 0)
        )
        operation = "mv_build" if prior is None else "mv_refresh"
        return state, operation, {"dirs_read": d["dirs_read"]}


class DirtyGroupAggView(_OneBaseView):
    """The recompute-on-change materialized-view tier for NON-invertible
    aggregates (MIN/MAX — a delete of the group's extremum cannot be
    "subtracted" the way :class:`IncrementalAggView` folds COUNT/SUM —
    and exact COUNT(DISTINCT), where a delete may or may not remove the
    last copy of a value).

    A refresh takes the same signed delta as the invertible tier but uses
    it only to find the DIRTY group keys; those groups are then
    re-aggregated from the current base and spliced over the stored state
    (untouched groups carry over verbatim). The re-read prunes with the
    manifest's per-dir min/max stats on the group key: only dirs whose key
    range admits a dirty key are opened, so a base committed in key-banded
    dirs re-reads one band per dirty band, not the table — the same
    file-skipping the row-level DML path uses. Without key stats (or with a
    dirty NULL key, which no range admits or excludes) it degrades to one
    filtered scan of the base, still only once per refresh.

    ``sums``/``mins``/``maxs`` map output column → (source column, scale);
    all values land as fixed-point BIGINTs so state is engine-replayable.
    """

    def __init__(
        self,
        spark: SparkSession,
        base: VersionedTable,
        key: str,
        path: str,
        count_col: str = "n_rows",
        sums: Mapping[str, tuple[str, int]] | None = None,
        mins: Mapping[str, tuple[str, int]] | None = None,
        maxs: Mapping[str, tuple[str, int]] | None = None,
        distincts: Mapping[str, str] | None = None,
        max_dirty_collect: int = 100_000,
    ) -> None:
        super().__init__(spark, path)
        self.base = base
        self.key = key
        self.sums = dict(sums or {})
        self.mins = dict(mins or {})
        self.maxs = dict(maxs or {})
        self.distincts = dict(distincts or {})
        self.count_col = count_col
        self.max_dirty_collect = max_dirty_collect

    def _agg(self, rows: DataFrame) -> DataFrame:
        def unit(src: str, scale: int):
            return F.floor(F.col(src) * scale + F.lit(0.5)).cast("bigint")

        aggs = [F.count(F.lit(1)).cast("bigint").alias(self.count_col)]
        for out, (src, scale) in self.sums.items():
            aggs.append(F.sum(unit(src, scale)).cast("bigint").alias(out))
        for out, (src, scale) in self.mins.items():
            aggs.append(F.min(unit(src, scale)).cast("bigint").alias(out))
        for out, (src, scale) in self.maxs.items():
            aggs.append(F.max(unit(src, scale)).cast("bigint").alias(out))
        for out, src in self.distincts.items():
            aggs.append(F.countDistinct(src).cast("bigint").alias(out))
        return rows.groupBy(self.key).agg(*aggs)

    def _fold(
        self, d: dict, v_to: int, prior: DataFrame | None
    ) -> tuple[DataFrame, str, dict]:
        if prior is None:
            # A rebuild's delta is the whole base at v_to, every row +1.
            info = {"dirs_read": d["dirs_read"]}
            return self._agg(d["delta"]), "mv_build", info
        dirty = [
            r[0]
            for r in d["delta"]
            .select(self.key)
            .distinct()
            .limit(self.max_dirty_collect + 1)
            .collect()
        ]
        if len(dirty) > self.max_dirty_collect:
            # Churn touched more groups than worth enumerating: recompute
            # every group from the delta of the whole base.
            full = _signed_side_delta(self.base, None, v_to)
            return (
                self._agg(full["delta"]),
                "mv_rebuild",
                {"dirs_read": full["dirs_read"]},
            )

        known = [v for v in dirty if v is not None]
        # Null-safe membership: NOT IN over a NULL key is NULL, which would
        # drop an untouched NULL group — or every group once NULL is dirty.
        is_dirty = F.coalesce(F.col(self.key).isin(known), F.lit(False))
        if len(known) < len(dirty):
            is_dirty = is_dirty | F.col(self.key).isNull()
        kept = plan_dirs(self.base._manifest(v_to), points={self.key: dirty})
        recomputed = self._agg(
            self.base._read_dirs(kept, v_to).filter(is_dirty)
        )
        state = prior.filter(~is_dirty).unionByName(recomputed)
        return (
            state,
            "mv_refresh",
            {
                "dirs_read": d["dirs_read"] + len(kept),
                "dirty_groups": len(dirty),
            },
        )


class IncrementalJoinView(_View):
    """Incrementally-maintained INNER equi-join view over two
    :class:`VersionedTable` bases — the delta-join of DBSP / Materialize
    (and Delta Live Tables' join-backed materialized views, which the
    reference's gold layer recomputes from scratch per run).

    State is the join result as a Z-set: one row per DISTINCT joined tuple
    plus a BIGINT multiplicity ``n`` (bag semantics without storing
    duplicates). A refresh renders the bilinear delta identity

        Δ(L ⋈ R)  =  ΔL ⋈ R_new  ∪  L_old ⋈ ΔR

    — the ΔL⋈ΔR cross term lands exactly once because the first term joins
    against the NEW right and the second against the OLD left (which time
    travel provides for free). Each side's signed delta comes from
    :func:`_signed_side_delta`, and signs multiply through the join, so
    copy-on-write and merge-on-read DML on EITHER base fold exactly; rows
    whose multiplicity reaches 0 leave the view. A rebuild takes both
    sides' deltas from the empty table: L_old is then empty and R_new is
    ΔR itself, so the same identity yields L ⋈ R.

    The static side of each term is NOT a full scan: its read is pruned by
    the manifest's per-dir min/max stats on the join keys, bounded by the
    delta dirs' own key envelope (driver-side metadata, no data read). For
    key-banded bases an appended band therefore joins against the matching
    band of the other table — refresh IO ∝ delta × join selectivity, never
    |L ⋈ R|.
    """

    _MARKER = "_mvj_state.json"
    _WATERMARKS = {
        _MVJ_TXN_LEFT: "left_version",
        _MVJ_TXN_RIGHT: "right_version",
    }

    def __init__(
        self,
        spark: SparkSession,
        left: VersionedTable,
        right: VersionedTable,
        on: Sequence[str],
        path: str,
        count_col: str = "n",
    ) -> None:
        super().__init__(spark, path)
        self.left = left
        self.right = right
        self.on = list(on)
        self.count_col = count_col

    def refreshed_versions(self) -> tuple[int | None, int | None]:
        """(left, right) base versions the state reflects."""
        v_l, v_r = self._watermarks()
        return v_l, v_r

    # -- internals -----------------------------------------------------------
    def _out_cols(self) -> list[str]:
        lcols = [f.name for f in self.left.schema().fields]
        rcols = [f.name for f in self.right.schema().fields]
        overlap = (set(lcols) & set(rcols)) - set(self.on)
        if overlap:
            raise ValueError(
                f"non-key columns shared by both sides: {sorted(overlap)}; "
                "project them apart before the view"
            )
        missing = [k for k in self.on if k not in lcols or k not in rcols]
        if missing:
            raise ValueError(f"join keys absent from a side: {missing}")
        return (
            self.on
            + [c for c in lcols if c not in self.on]
            + [c for c in rcols if c not in self.on]
        )

    @staticmethod
    def _pruned_read(
        base: VersionedTable, version: int, bounds: Mapping[str, tuple]
    ) -> tuple[DataFrame, int]:
        """Static-side read at ``version``, opening only dirs whose key
        stats overlap ``bounds`` (dirs without stats always open — no false
        skips). Returns (frame, dirs_opened)."""
        dirs = plan_dirs(base._manifest(version), between=bounds)
        return base._read_dirs(dirs, version), len(dirs)

    def _state_cols(self, out_cols: list[str]) -> list[str]:
        return [*out_cols, self.count_col]

    def _signed_rows(
        self, joined: DataFrame | None, dl: dict, dr: dict, out_cols: list[str]
    ) -> list[DataFrame]:
        """The refresh's signed state rows (multiplicity column = sign): the
        join delta itself."""
        if joined is None:
            return []
        return [joined.select(*out_cols, F.col("__sign").alias(self.count_col))]

    # -- refresh ---------------------------------------------------------
    def refresh(self) -> dict:
        """Fold both bases' changes since the last refresh into the view.

        Returns {"from_versions", "to_versions", "dirs_read",
        "dirs_total"}; ``dirs_read`` counts delta dirs PLUS the pruned
        static-side dirs each term actually opened — the number tests pin
        the incremental contract on."""
        m_lt, m_rt = self.left._snapshot(), self.right._snapshot()
        v_lt, v_rt = m_lt["version"], m_rt["version"]
        v_lf, v_rf = self.refreshed_versions()
        out = {
            "from_versions": (v_lf, v_rf),
            "to_versions": (v_lt, v_rt),
            "dirs_read": 0,
            "dirs_total": len(m_lt["dirs"]) + len(m_rt["dirs"]),
        }
        if (v_lf, v_rf) == (v_lt, v_rt):
            return out
        out_cols = self._out_cols()

        fresh = self.result.current_version() is None
        dl = _signed_side_delta(
            self.left, None if fresh else v_lf, v_lt, self.on
        )
        dr = _signed_side_delta(
            self.right, None if fresh else v_rf, v_rt, self.on
        )
        rebuild = dl["from_version"] is None or dr["from_version"] is None
        if rebuild:
            # A side without an incremental rendering rebuilds both sides.
            dl = _signed_side_delta(self.left, None, v_lt, self.on)
            dr = _signed_side_delta(self.right, None, v_rt, self.on)
        dirs_read = dl["dirs_read"] + dr["dirs_read"]
        terms = []
        if dl["delta"] is not None:
            if rebuild:
                r_new = dr["delta"].drop("__sign")
            else:
                r_new, opened = self._pruned_read(
                    self.right, v_rt, dl["bounds"]
                )
                dirs_read += opened
            terms.append(dl["delta"].join(r_new, on=self.on))
        if dr["delta"] is not None and not rebuild:
            l_old, opened = self._pruned_read(self.left, v_lf, dr["bounds"])
            dirs_read += opened
            terms.append(l_old.join(dr["delta"], on=self.on))
        joined = reduce(DataFrame.unionByName, terms) if terms else None
        parts = self._signed_rows(joined, dl, dr, out_cols)
        if not parts:
            self._publish([v_lt, v_rt], None, "")
            return out

        cols = self._state_cols(out_cols)
        rows = reduce(DataFrame.unionByName, parts)
        if not rebuild:
            rows = self.result.read().select(*cols).unionByName(rows)
        # Merge by union + re-group (not a join): groupBy equates NULL
        # payload values, so a NULL-bearing tuple cannot split in two.
        state = (
            rows.groupBy(*[c for c in cols if c != self.count_col])
            .agg(F.sum(self.count_col).cast("bigint").alias(self.count_col))
            .filter(F.col(self.count_col) > 0)
            .select(*cols)
        )
        self._publish(
            [v_lt, v_rt], state, "mvj_build" if rebuild else "mvj_refresh"
        )
        return {**out, "dirs_read": dirs_read}

    def read_rows(self) -> DataFrame:
        """State re-expanded to bag semantics (each tuple repeated ``n``
        times) for consumers that want plain join-result rows."""
        state = self.result.read()
        cols = [c for c in state.columns if c != self.count_col]
        return state.withColumn(
            "__i", F.explode(F.sequence(F.lit(1), F.col(self.count_col)))
        ).select(*cols)


class IncrementalLeftJoinView(IncrementalJoinView):
    """LEFT OUTER delta-join view — the case naive Z-set joins get wrong,
    because a right-side insert must RETRACT a previously-emitted
    null-extended row (and a delete of a key's last right row must emit
    one). Rather than generating retractions, the state splits into three
    signed parts folded in ONE atomic commit (a ``__part`` discriminator
    column keeps them in a single table so a crash can't split them):

    - ``inner``  — the inner join as a Z-set, maintained by the parent's
      bilinear delta identity;
    - ``left``   — the left relation as a Z-set (cheap per-side fold, no
      join);
    - ``rcount`` — per-join-key right-row multiplicities (a keyed signed
      sum, no join).

    ``read()`` derives the outer result ON READ: inner rows, plus left
    rows whose key is absent from the live ``rcount`` keys, null-extended.
    Matched-status flips are therefore never materialized as retractions —
    they fall out of the anti-join — which is what keeps every refresh a
    pure signed fold. Refresh IO is the parent's delta-join cost plus two
    delta-sized folds."""

    _PART = "__part"

    def _state_cols(self, out_cols: list[str]) -> list[str]:
        return [*out_cols, self.count_col, self._PART]

    def _signed_rows(
        self, joined: DataFrame | None, dl: dict, dr: dict, out_cols: list[str]
    ) -> list[DataFrame]:
        """The three parts' signed rows, each projected (missing columns
        NULL-filled) into the unified state schema."""
        rkeys = dr["delta"]
        if rkeys is not None:
            rkeys = rkeys.select(*self.on, "__sign")
        parts = [(joined, "inner"), (dl["delta"], "left"), (rkeys, "rcount")]
        return [
            df.select(
                *[
                    F.col(c) if c in df.columns else F.lit(None).alias(c)
                    for c in out_cols
                ],
                F.col("__sign").alias(self.count_col),
                F.lit(part).alias(self._PART),
            )
            for df, part in parts
            if df is not None
        ]

    def read(self) -> DataFrame:
        """The LEFT OUTER join result as (tuple, multiplicity): inner part
        rows plus null-extended left rows whose key has no live right row."""
        out_cols = self._out_cols()
        s = self.result.read()
        inner = s.filter(F.col(self._PART) == "inner").select(
            *out_cols, self.count_col
        )
        left = s.filter(F.col(self._PART) == "left")
        rkeys = s.filter(
            (F.col(self._PART) == "rcount") & (F.col(self.count_col) > 0)
        ).select(*self.on)
        unmatched = left.join(rkeys, on=self.on, how="left_anti").select(
            *out_cols, self.count_col
        )
        return inner.unionByName(unmatched)
