"""Incremental materialized-view maintenance (lakeflow/views.py): refresh
reads only manifest-diff dirs, signed folds are exact (bit-identical to a
from-scratch rebuild), and group-invertibility edge cases hold."""

from __future__ import annotations

import pytest

from lakeflow.tables import VersionedTable
from lakeflow.views import IncrementalAggView


def _mk(spark, tmp_path, rows, name="base"):
    t = VersionedTable(spark, str(tmp_path / name))
    t.commit(spark.createDataFrame(rows, "k string, v double"))
    return t


def _view(spark, t, tmp_path, name="mv"):
    return IncrementalAggView(
        spark,
        t,
        keys=["k"],
        sums={"sum_cents": ("v", 100)},
        path=str(tmp_path / name),
        count_col="n",
    )


def _state(view):
    return {
        (r.k): (r.n, r.sum_cents) for r in view.read().collect()
    }


def test_append_refresh_reads_only_new_dirs(spark, tmp_path):
    t = _mk(spark, tmp_path, [("a", 1.0), ("b", 2.5)])
    mv = _view(spark, t, tmp_path)
    r1 = mv.refresh()
    assert r1["dirs_read"] == 1
    assert _state(mv) == {"a": (1, 100), "b": (1, 250)}

    t.commit(spark.createDataFrame([("a", 0.5), ("c", 4.0)], "k string, v double"))
    r2 = mv.refresh()
    # Incremental contract: only the appended dir is read, not the base.
    assert r2["dirs_read"] == 1 and r2["dirs_total"] == 2
    assert _state(mv) == {"a": (2, 150), "b": (1, 250), "c": (1, 400)}


def test_noop_refresh_touches_nothing(spark, tmp_path):
    t = _mk(spark, tmp_path, [("a", 1.0)])
    mv = _view(spark, t, tmp_path)
    mv.refresh()
    v = mv.result.current_version()
    r = mv.refresh()
    assert r["dirs_read"] == 0
    assert mv.result.current_version() == v  # no empty commit


def test_delete_empties_group_and_leaves_view(spark, tmp_path):
    t = _mk(spark, tmp_path, [("a", 1.0), ("b", 2.0), ("b", 3.0)])
    mv = _view(spark, t, tmp_path)
    mv.refresh()
    t.delete_where("k = 'a'")
    mv.refresh()
    assert _state(mv) == {"b": (2, 500)}


def test_incremental_equals_full_rebuild_bit_for_bit(spark, tmp_path):
    t = _mk(spark, tmp_path, [("a", 1.23), ("b", 9.99), ("a", 4.56)])
    mv = _view(spark, t, tmp_path, "mv_inc")
    mv.refresh()
    t.commit(spark.createDataFrame([("b", 0.01), ("c", 7.77)], "k string, v double"))
    t.delete_where("k = 'a' AND v > 2.0")
    t.commit(spark.createDataFrame([("a", 5.0)], "k string, v double"))
    mv.refresh()

    fresh = _view(spark, t, tmp_path, "mv_full")
    fresh.refresh()  # first refresh = full build of the same final version
    assert _state(mv) == _state(fresh)
    assert mv.refreshed_version() == t.current_version()


def test_update_where_churn_prices_only_rewritten_dirs(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "base"))
    # Two dirs with disjoint key-range stats; the update touches only one.
    t.commit(
        spark.createDataFrame([(1, 10.0), (2, 20.0)], "id long, v double"),
        stats_cols=["id"],
    )
    t.commit(
        spark.createDataFrame([(100, 30.0)], "id long, v double"),
        stats_cols=["id"],
    )
    mv = IncrementalAggView(
        spark, t, keys=[], sums={"sum_cents": ("v", 100)},
        path=str(tmp_path / "mv"), count_col="n",
    )
    # Keyless (global) aggregate view: groupBy() over no keys.
    mv.refresh()
    assert [(r.n, r.sum_cents) for r in mv.read().collect()] == [(3, 6000)]
    t.update_where(
        "id = 1", {"v": "v + 1.0"}, prune_between={"id": (0, 50)}
    )
    r = mv.refresh()
    # Only the first dir's replacement (+ its removal) is read: 2 of 3 dirs.
    assert r["dirs_read"] == 2 and r["dirs_total"] == 2
    assert [(r2.n, r2.sum_cents) for r2 in mv.read().collect()] == [(3, 6100)]


def test_mv_auto_refresh_on_commit_stream(spark, tmp_path):
    """The table-changes stream source can drive MV freshness: a foreachBatch
    hook calls refresh() as commit micro-batches arrive, so the view tracks
    the commit feed without any scheduler — and each refresh stays
    manifest-diff incremental."""
    import tempfile

    from lakeflow.sources.table_stream import register_table_changes_source

    register_table_changes_source(spark)
    t = VersionedTable(spark, str(tmp_path / "base"))
    t.commit(spark.createDataFrame([("a", 1.0), ("b", 2.0)], "k string, v double"))
    t.commit(spark.createDataFrame([("a", 3.0)], "k string, v double"))
    t.commit(spark.createDataFrame([("c", 0.25)], "k string, v double"))

    mv = _view(spark, t, tmp_path)
    refreshes = []

    def on_batch(bdf, _bid):
        refreshes.append(mv.refresh())

    q = (
        spark.readStream.format("lakeflow_table_changes")
        .option("path", t.root)
        .load()
        .writeStream.foreachBatch(on_batch)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="lakeflow-ckpt-"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    assert refreshes, "commit feed produced no refresh triggers"
    assert _state(mv) == {"a": (2, 400), "b": (1, 200), "c": (1, 25)}
    assert mv.refreshed_version() == t.current_version()


def test_dirty_group_minmax_handles_extremum_delete(spark, tmp_path):
    """Deleting a group's maximum is the case signed folds cannot invert:
    the dirty-group tier re-aggregates that group and lands on the true
    second maximum, while untouched groups carry over without a re-read."""
    from lakeflow.views import DirtyGroupAggView

    t = VersionedTable(spark, str(tmp_path / "base"))
    # Key-banded commits with per-dir key stats → pruned dirty re-reads.
    t.commit(
        spark.createDataFrame(
            [("a", 1.0), ("a", 9.0)], "k string, v double"
        ),
        stats_cols=["k"],
    )
    t.commit(
        spark.createDataFrame(
            [("b", 5.0), ("b", 7.5)], "k string, v double"
        ),
        stats_cols=["k"],
    )
    mv = DirtyGroupAggView(
        spark, t, key="k", path=str(tmp_path / "mv"), count_col="n",
        mins={"min_c": ("v", 100)}, maxs={"max_c": ("v", 100)},
        sums={"sum_c": ("v", 100)},
    )
    r0 = mv.refresh()
    assert r0["dirs_read"] == r0["dirs_total"] == 2  # first build reads all
    state = {r.k: (r.n, r.min_c, r.max_c, r.sum_c) for r in mv.read().collect()}
    assert state == {"a": (2, 100, 900, 1000), "b": (2, 500, 750, 1250)}

    # Delete a's max; only a's band should be re-read (plus the DML churn).
    t.delete_where("k = 'a' AND v > 8.0", prune_between={"k": ("a", "a")})
    r1 = mv.refresh()
    assert r1["dirty_groups"] == 1
    # re-read = removed old a-dir + rewritten a-dir + stats-pruned kept set
    # ({a's new dir}); b's dir is never opened.
    assert r1["dirs_read"] <= 3
    state = {r.k: (r.n, r.min_c, r.max_c, r.sum_c) for r in mv.read().collect()}
    assert state == {"a": (1, 100, 100, 100), "b": (2, 500, 750, 1250)}


def test_dirty_group_matches_full_rebuild_after_mixed_churn(spark, tmp_path):
    from lakeflow.views import DirtyGroupAggView

    t = VersionedTable(spark, str(tmp_path / "base"))
    t.commit(
        spark.createDataFrame(
            [("a", 2.0), ("b", 3.0), ("c", 4.0)], "k string, v double"
        )
    )
    mv = DirtyGroupAggView(
        spark, t, key="k", path=str(tmp_path / "mv"), count_col="n",
        maxs={"max_c": ("v", 100)},
    )
    mv.refresh()
    t.commit(spark.createDataFrame([("a", 8.0), ("d", 1.0)], "k string, v double"))
    t.delete_where("k = 'b'")
    mv.refresh()

    fresh = DirtyGroupAggView(
        spark, t, key="k", path=str(tmp_path / "mv2"), count_col="n",
        maxs={"max_c": ("v", 100)},
    )
    fresh.refresh()
    got = {(r.k, r.n, r.max_c) for r in mv.read().collect()}
    want = {(r.k, r.n, r.max_c) for r in fresh.read().collect()}
    assert got == want == {("a", 2, 800), ("c", 1, 400), ("d", 1, 100)}


def test_refresh_survives_base_snapshot_expiry(spark, tmp_path):
    """If the base snapshot a view last saw is expired between refreshes,
    the diff is unrecoverable — refresh must rebuild from the current base
    (replacing, never folding onto, the stale state) and land correct."""
    from lakeflow.views import DirtyGroupAggView

    t = _mk(spark, tmp_path, [("a", 1.0), ("b", 2.0)])
    mv = _view(spark, t, tmp_path)
    mv.refresh()
    t.commit(spark.createDataFrame([("a", 4.0)], "k string, v double"))
    t.commit(spark.createDataFrame([("c", 8.0)], "k string, v double"))
    t.expire_snapshots(keep_last=1)  # drops v1 (the view's marker version)
    r = mv.refresh()
    assert r["from_version"] is None  # rebuild path taken
    assert _state(mv) == {"a": (2, 500), "b": (1, 200), "c": (1, 800)}

    d = DirtyGroupAggView(
        spark, t, key="k", path=str(tmp_path / "mvd"), count_col="n",
        maxs={"mx": ("v", 100)},
    )
    d.refresh()
    t.commit(spark.createDataFrame([("a", 9.0)], "k string, v double"))
    t.expire_snapshots(keep_last=1)
    r2 = d.refresh()
    assert r2["from_version"] is None
    assert {(x.k, x.n, x.mx) for x in d.read().collect()} == {
        ("a", 3, 900), ("b", 1, 200), ("c", 1, 800)
    }


def test_mor_delete_folds_dv_preimages_incrementally(spark, tmp_path):
    """delete_where_mor changes NO dirs — only a deletion vector lands. The
    refresh must still subtract the hidden rows (ADVICE r5 high: a dirs-only
    diff would keep their contributions forever), and do it incrementally:
    only the DV-referenced dir is re-read, not the whole base."""
    t = VersionedTable(spark, str(tmp_path / "base"))
    t.commit(spark.createDataFrame([("a", 1.0), ("b", 2.0)], "k string, v double"))
    t.commit(spark.createDataFrame([("a", 4.0), ("c", 8.0)], "k string, v double"))
    mv = _view(spark, t, tmp_path)
    mv.refresh()

    t.delete_where_mor("k = 'a' AND v < 2.0")
    r = mv.refresh()
    assert r["from_version"] is not None  # incremental, not a rebuild
    assert r["dirs_read"] == 1  # only the dir the vector references
    assert _state(mv) == {"a": (1, 400), "b": (1, 200), "c": (1, 800)}


def test_mor_update_does_not_double_count(spark, tmp_path):
    """update_where_mor appends the rewritten rows AND hides the old
    versions behind a vector in one commit. The fold must add the new
    versions (+1 via the added dir) and subtract the hidden pre-images
    (−1 via the vector) — not just add (double-count)."""
    t = _mk(spark, tmp_path, [("a", 1.0), ("b", 2.0)])
    mv = _view(spark, t, tmp_path)
    mv.refresh()

    t.update_where_mor("k = 'a'", {"v": "v + 10.0"})
    mv.refresh()
    assert _state(mv) == {"a": (1, 1100), "b": (1, 200)}

    fresh = _view(spark, t, tmp_path, "mv_full")
    fresh.refresh()
    assert _state(mv) == _state(fresh)


def test_mor_upsert_folds_hidden_versions(spark, tmp_path):
    t = _mk(spark, tmp_path, [("a", 1.0), ("b", 2.0)])
    mv = _view(spark, t, tmp_path)
    mv.refresh()

    t.upsert_mor(
        spark.createDataFrame([("a", 5.0), ("c", 3.0)], "k string, v double"),
        keys=["k"],
    )
    mv.refresh()
    assert _state(mv) == {"a": (1, 500), "b": (1, 200), "c": (1, 300)}


def test_dirty_group_mor_extremum_delete(spark, tmp_path):
    """A MOR delete of a group's maximum adds only a vector; the dirty-group
    tier must see that group as dirty and re-land the true second maximum."""
    from lakeflow.views import DirtyGroupAggView

    t = VersionedTable(spark, str(tmp_path / "base"))
    t.commit(
        spark.createDataFrame(
            [("a", 1.0), ("a", 9.0), ("b", 5.0)], "k string, v double"
        )
    )
    mv = DirtyGroupAggView(
        spark, t, key="k", path=str(tmp_path / "mv"), count_col="n",
        maxs={"mx": ("v", 100)},
    )
    mv.refresh()
    t.delete_where_mor("v > 8.0")
    r = mv.refresh()
    assert r["from_version"] is not None and r["dirty_groups"] == 1
    state = {(x.k, x.n, x.mx) for x in mv.read().collect()}
    assert state == {("a", 1, 100), ("b", 1, 500)}


def test_restore_past_mor_delete_rebuilds_view(spark, tmp_path):
    """RESTORE past a MOR delete removes vectors while keeping dirs — rows
    resurface IN PLACE, which has no incremental rendering. The refresh must
    detect the vanished vectors and rebuild (not silently keep the deleted
    state)."""
    t = _mk(spark, tmp_path, [("a", 1.0), ("b", 2.0)])
    v1 = t.current_version()
    t.delete_where_mor("k = 'a'")
    mv = _view(spark, t, tmp_path)
    mv.refresh()
    assert _state(mv) == {"b": (1, 200)}

    t.rollback(v1)  # vectors vanish, dirs identical
    r = mv.refresh()
    assert r["from_version"] is None  # rebuild path taken
    assert _state(mv) == {"a": (1, 100), "b": (1, 200)}


def test_watermark_rides_inside_state_commit(spark, tmp_path):
    """The reflected base version is recorded IN the state commit (txn
    watermark), so losing the sidecar marker — the crash window between
    commit and marker write (ADVICE r5 medium) — cannot re-fold the same
    delta and double-count."""
    import os

    t = _mk(spark, tmp_path, [("a", 1.0)])
    t.commit(spark.createDataFrame([("a", 2.0)], "k string, v double"))
    mv = _view(spark, t, tmp_path)
    mv.refresh()
    assert _state(mv) == {"a": (2, 300)}

    os.remove(mv._marker_path)  # simulate crash before the sidecar write
    assert mv.refreshed_version() == t.current_version()
    r = mv.refresh()  # must be a no-op, not a double fold
    assert r["dirs_read"] == 0
    assert _state(mv) == {"a": (2, 300)}


# ---------------------------------------------------------------------------
# IncrementalJoinView: delta-join maintenance over TWO versioned bases
# ---------------------------------------------------------------------------

from lakeflow.views import IncrementalJoinView  # noqa: E402


def _mk_join_bases(spark, tmp_path):
    l = VersionedTable(spark, str(tmp_path / "jl"))
    r = VersionedTable(spark, str(tmp_path / "jr"))
    l.commit(
        spark.createDataFrame(
            [(1, "x"), (2, "y"), (3, "z")], "k bigint, lv string"
        )
    )
    r.commit(
        spark.createDataFrame(
            [(1, 10.0), (1, 11.0), (2, 20.0)], "k bigint, rv double"
        )
    )
    return l, r


def _jview(spark, l, r, tmp_path, name="mvj"):
    return IncrementalJoinView(
        spark, l, r, on=["k"], path=str(tmp_path / name)
    )


def _jstate(view):
    return {(r.k, r.lv, r.rv): r.n for r in view.read().collect()}


def _full_join_state(l, r):
    out = {}
    joined = l.read().join(r.read(), on="k").collect()
    for row in joined:
        key = (row.k, row.lv, row.rv)
        out[key] = out.get(key, 0) + 1
    return out


def test_join_view_build_and_append_both_sides(spark, tmp_path):
    l, r = _mk_join_bases(spark, tmp_path)
    v = _jview(spark, l, r, tmp_path)
    v.refresh()  # full build
    assert _jstate(v) == {(1, "x", 10.0): 1, (1, "x", 11.0): 1, (2, "y", 20.0): 1}

    # Append on BOTH sides in one refresh window: the ΔL⋈ΔR cross term
    # (new left key 4 joining new right rows for 4) must land exactly once.
    l.commit(spark.createDataFrame([(4, "w")], "k bigint, lv string"))
    r.commit(
        spark.createDataFrame([(4, 40.0), (3, 30.0)], "k bigint, rv double")
    )
    info = v.refresh()
    assert _jstate(v) == _full_join_state(l, r)
    assert (4, "w", 40.0) in _jstate(v) and (3, "z", 30.0) in _jstate(v)
    assert info["dirs_read"] < info["dirs_total"] * 2  # not a rebuild


def test_join_view_multiplicities_fold_as_zset(spark, tmp_path):
    l = VersionedTable(spark, str(tmp_path / "jl"))
    r = VersionedTable(spark, str(tmp_path / "jr"))
    # Duplicate rows on both sides: multiplicity = product (2 left × 2
    # right copies = 4), stored as ONE state row with n=4.
    l.commit(
        spark.createDataFrame([(1, "x"), (1, "x")], "k bigint, lv string")
    )
    r.commit(
        spark.createDataFrame([(1, 9.0), (1, 9.0)], "k bigint, rv double")
    )
    v = _jview(spark, l, r, tmp_path)
    v.refresh()
    assert _jstate(v) == {(1, "x", 9.0): 4}
    assert v.read_rows().count() == 4

    # Removing one left copy (CoW rewrite) drops multiplicity to 2.
    l.commit(
        spark.createDataFrame([(1, "x")], "k bigint, lv string"),
        mode="overwrite",
    )
    v.refresh()
    assert _jstate(v) == {(1, "x", 9.0): 2}


def test_join_view_cow_and_mor_deletes_fold(spark, tmp_path):
    l, r = _mk_join_bases(spark, tmp_path)
    v = _jview(spark, l, r, tmp_path)
    v.refresh()
    l.delete_where("k = 2")          # copy-on-write: dir diff
    r.delete_where_mor("rv > 10.5")  # merge-on-read: DV pre-image path
    info = v.refresh()
    assert info["from_versions"] != info["to_versions"]
    assert _jstate(v) == {(1, "x", 10.0): 1}
    assert _jstate(v) == _full_join_state(l, r)


def test_join_view_incremental_equals_rebuild(spark, tmp_path):
    l, r = _mk_join_bases(spark, tmp_path)
    v = _jview(spark, l, r, tmp_path, "mvj_inc")
    v.refresh()
    l.commit(spark.createDataFrame([(2, "y2")], "k bigint, lv string"))
    r.delete_where("k = 1 AND rv = 11.0")
    r.commit(spark.createDataFrame([(2, 21.0)], "k bigint, rv double"))
    v.refresh()

    fresh = _jview(spark, l, r, tmp_path, "mvj_full")
    fresh.refresh()
    assert _jstate(v) == _jstate(fresh) == _full_join_state(l, r)


def test_join_view_static_side_read_is_stat_pruned(spark, tmp_path):
    """An appended key band on the left must open only the overlapping
    right-side band, not the whole right table."""
    import pyspark.sql.functions as F

    l = VersionedTable(spark, str(tmp_path / "jl"))
    r = VersionedTable(spark, str(tmp_path / "jr"))
    rows = spark.range(0, 400).select(
        F.col("id").alias("k"), (F.col("id") * 2.0).alias("rv")
    )
    # Right committed in 4 disjoint key bands with stats.
    for i in range(4):
        r.commit(
            rows.filter((F.col("k") >= i * 100) & (F.col("k") < (i + 1) * 100)),
            stats_cols=["k"],
        )
    l.commit(
        spark.range(0, 10).select(
            F.col("id").alias("k"), F.lit("a").alias("lv")
        ),
        stats_cols=["k"],
    )
    v = _jview(spark, l, r, tmp_path)
    v.refresh()
    # Append left keys 250-259: only right band [200,300) may open.
    l.commit(
        spark.range(250, 260).select(
            F.col("id").alias("k"), F.lit("b").alias("lv")
        ),
        stats_cols=["k"],
    )
    info = v.refresh()
    # 1 delta dir + 1 pruned right band — not 4 right dirs.
    assert info["dirs_read"] == 2, info
    assert _jstate(v) == _full_join_state(l, r)


def test_join_view_watermarks_ride_one_commit(spark, tmp_path):
    """Both reflected base versions land inside the state commit (atomic
    with the state); the sidecar marker is only the empty-delta fast path."""
    l, r = _mk_join_bases(spark, tmp_path)
    v = _jview(spark, l, r, tmp_path)
    v.refresh()
    import os

    os.remove(v._marker_path)  # simulate crash before sidecar write
    assert v.refreshed_versions() == (
        l.current_version(),
        r.current_version(),
    )
    # A no-op refresh after marker loss must not re-fold anything.
    info = v.refresh()
    assert info["dirs_read"] == 0


def test_join_view_restore_past_mor_delete_rebuilds(spark, tmp_path):
    l, r = _mk_join_bases(spark, tmp_path)
    v = _jview(spark, l, r, tmp_path)
    v.refresh()
    kept = r.current_version()
    r.delete_where_mor("rv = 10.0")
    v.refresh()
    assert (1, "x", 10.0) not in _jstate(v)
    r.rollback(kept)  # DVs disappear: resurfaced rows force a rebuild
    v.refresh()
    assert _jstate(v) == _full_join_state(l, r)


def test_join_view_rejects_colliding_payload_columns(spark, tmp_path):
    l = VersionedTable(spark, str(tmp_path / "jl"))
    r = VersionedTable(spark, str(tmp_path / "jr"))
    l.commit(spark.createDataFrame([(1, "x")], "k bigint, v string"))
    r.commit(spark.createDataFrame([(1, "y")], "k bigint, v string"))
    view = _jview(spark, l, r, tmp_path)
    with pytest.raises(ValueError, match="non-key columns shared"):
        view.refresh()


def test_dirty_group_count_distinct_tracks_dml(spark, tmp_path):
    """Exact COUNT(DISTINCT) in the recompute tier: appends that add a new
    value vs a duplicate value, and a delete that removes the LAST copy of
    a value, all land identical to a from-scratch aggregate."""
    import pyspark.sql.functions as F

    from lakeflow.views import DirtyGroupAggView

    t = VersionedTable(spark, str(tmp_path / "base"))
    t.commit(
        spark.createDataFrame(
            [("a", 1), ("a", 1), ("a", 2), ("b", 7)], "k string, v long"
        )
    )
    mv = DirtyGroupAggView(
        spark, t, key="k", path=str(tmp_path / "mv"),
        count_col="n", distincts={"nv": "v"},
    )

    def check():
        got = {(r.k, r.n, r.nv) for r in mv.read().collect()}
        want = {
            (r.k, r.n, r.nv)
            for r in t.read()
            .groupBy("k")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n"),
                F.countDistinct("v").cast("bigint").alias("nv"),
            )
            .collect()
        }
        assert got == want

    mv.refresh()
    check()
    # duplicate value appended: count rises, distinct stays
    t.commit(spark.createDataFrame([("a", 2)], "k string, v long"))
    mv.refresh()
    check()
    # new value appended
    t.commit(spark.createDataFrame([("b", 8)], "k string, v long"))
    mv.refresh()
    check()
    # delete removes the last copy of v=7: distinct must drop
    t.delete_where("v = 7")
    mv.refresh()
    check()


# ---------------------------------------------------------------------------
# IncrementalLeftJoinView: LEFT OUTER delta-join
# ---------------------------------------------------------------------------

from lakeflow.views import IncrementalLeftJoinView  # noqa: E402


def _ljview(spark, l, r, tmp_path, name="mvlj"):
    return IncrementalLeftJoinView(
        spark, l, r, on=["k"], path=str(tmp_path / name)
    )


def _ljstate(view):
    return {(r.k, r.lv, r.rv): r.n for r in view.read().collect()}


def _full_left_join_state(l, r):
    out = {}
    for row in l.read().join(r.read(), on="k", how="left").collect():
        key = (row.k, row.lv, row.rv)
        out[key] = out.get(key, 0) + 1
    return out


def test_left_join_view_matched_status_flips(spark, tmp_path):
    """The hard outer-join cases: a right insert must retract a previously
    null-extended row; deleting a key's LAST right row must re-emit one."""
    l, r = _mk_join_bases(spark, tmp_path)  # l: k=1,2,3; r: k=1,1,2
    v = _ljview(spark, l, r, tmp_path)
    v.refresh()
    st = _ljstate(v)
    assert st == _full_left_join_state(l, r)
    assert (3, "z", None) in st  # k=3 unmatched → null-extended

    # Right insert for k=3: the null-extended row must disappear.
    r.commit(spark.createDataFrame([(3, 30.0)], "k bigint, rv double"))
    v.refresh()
    st = _ljstate(v)
    assert st == _full_left_join_state(l, r)
    assert (3, "z", None) not in st and (3, "z", 30.0) in st

    # Delete k=2's only right row: its left row re-emits null-extended.
    r.delete_where("k = 2")
    v.refresh()
    st = _ljstate(v)
    assert st == _full_left_join_state(l, r)
    assert (2, "y", None) in st

    # MOR delete of k=1's rows one at a time: multiplicity then flip.
    r.delete_where_mor("rv = 11.0")
    v.refresh()
    assert _ljstate(v) == _full_left_join_state(l, r)
    r.delete_where_mor("rv = 10.0")
    v.refresh()
    st = _ljstate(v)
    assert st == _full_left_join_state(l, r)
    assert (1, "x", None) in st


def test_left_join_view_left_side_dml(spark, tmp_path):
    l, r = _mk_join_bases(spark, tmp_path)
    v = _ljview(spark, l, r, tmp_path)
    v.refresh()
    l.delete_where("k = 3")          # remove an unmatched left row
    l.commit(spark.createDataFrame([(4, "w")], "k bigint, lv string"))
    v.refresh()
    st = _ljstate(v)
    assert st == _full_left_join_state(l, r)
    assert (3, "z", None) not in st and (4, "w", None) in st


def test_left_join_view_incremental_equals_rebuild(spark, tmp_path):
    l, r = _mk_join_bases(spark, tmp_path)
    v = _ljview(spark, l, r, tmp_path, "lj_inc")
    v.refresh()
    r.commit(spark.createDataFrame([(3, 30.0), (9, 90.0)], "k bigint, rv double"))
    l.delete_where("k = 1")
    l.commit(spark.createDataFrame([(5, "q")], "k bigint, lv string"))
    r.delete_where_mor("rv = 20.0")
    v.refresh()
    fresh = _ljview(spark, l, r, tmp_path, "lj_full")
    fresh.refresh()
    assert _ljstate(v) == _ljstate(fresh) == _full_left_join_state(l, r)


# ---------------------------------------------------------------------------
# NULL group keys and the rebuild paths of the join views
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("key_stats", [False, True])
def test_null_group_keys_incremental_equals_rebuild(spark, tmp_path, key_stats):
    """A NULL group key is one group in SQL. Both aggregate tiers must keep
    it as one group through refreshes that leave it untouched, add to it and
    delete from it, with and without per-dir stats on the key, and land on
    the state a fresh build of the same base version holds."""
    from lakeflow.views import DirtyGroupAggView

    schema = "k string, v double"
    stats = {"stats_cols": ["k"]} if key_stats else {}
    t = VersionedTable(spark, str(tmp_path / "base"))
    t.commit(spark.createDataFrame([(None, 2.0), ("a", 1.0)], schema), **stats)
    t.commit(spark.createDataFrame([("b", 4.0)], schema), **stats)

    def views(tag):
        return [
            IncrementalAggView(
                spark, t, keys=["k"], sums={"s": ("v", 100)},
                path=str(tmp_path / f"agg_{tag}"), count_col="n",
            ),
            DirtyGroupAggView(
                spark, t, key="k", path=str(tmp_path / f"dirty_{tag}"),
                count_col="n", sums={"s": ("v", 100)},
                maxs={"mx": ("v", 100)},
            ),
        ]

    def rows(view):
        return sorted((tuple(r) for r in view.read().collect()), key=repr)

    inc = views("inc")
    steps = [
        lambda: t.commit(spark.createDataFrame([("a", 5.0)], schema), **stats),
        lambda: t.commit(spark.createDataFrame([(None, 3.0)], schema), **stats),
        lambda: t.delete_where("k IS NULL AND v > 2.5"),
    ]
    for step, change in enumerate([lambda: None, *steps]):
        change()
        for view in inc:
            view.refresh()
        fresh = views(f"fresh{step}")
        for view, rebuilt in zip(inc, fresh):
            rebuilt.refresh()
            assert rows(view) == rows(rebuilt), (step, type(view).__name__)
            assert sum(r[0] is None for r in rows(view)) == 1, step
    agg, dirty = inc
    assert [r for r in rows(agg) if r[0] is None] == [(None, 1, 200)]
    assert [r for r in rows(dirty) if r[0] is None] == [(None, 1, 200, 200)]


_JOIN_KINDS = pytest.mark.parametrize(
    "make, state, full",
    [(_jview, _jstate, _full_join_state),
     (_ljview, _ljstate, _full_left_join_state)],
    ids=["inner", "left"],
)


@_JOIN_KINDS
def test_join_views_rebuild_after_base_snapshot_expiry(
    spark, tmp_path, make, state, full
):
    """Expiring the right-side snapshot a join view last saw leaves no diff
    to fold: the refresh rebuilds as the delta from the empty table, reading
    every dir once, and the next refresh folds incrementally again."""
    l, r = _mk_join_bases(spark, tmp_path)
    v = make(spark, l, r, tmp_path)
    v.refresh()
    r.commit(spark.createDataFrame([(3, 30.0)], "k bigint, rv double"))
    l.commit(spark.createDataFrame([(5, "q")], "k bigint, lv string"))
    r.commit(spark.createDataFrame([(2, 22.0)], "k bigint, rv double"))
    r.expire_snapshots(keep_last=1)
    info = v.refresh()
    assert info["dirs_read"] == info["dirs_total"] == 5
    assert state(v) == full(l, r)

    l.commit(spark.createDataFrame([(2, "y2")], "k bigint, lv string"))
    info = v.refresh()
    assert info["dirs_read"] < info["dirs_total"]
    assert state(v) == full(l, r)


@_JOIN_KINDS
def test_join_views_restore_past_mor_delete_reads_every_dir(
    spark, tmp_path, make, state, full
):
    """RESTORE past a MOR delete drops deletion vectors while the dirs stay:
    the resurfaced right row flips k=2 back to matched, and the rebuild
    reads each base dir exactly once."""
    l, r = _mk_join_bases(spark, tmp_path)
    v = make(spark, l, r, tmp_path)
    v.refresh()
    kept = r.current_version()
    r.delete_where_mor("rv = 20.0")
    v.refresh()
    assert state(v) == full(l, r)
    assert (2, "y", 20.0) not in state(v)
    r.rollback(kept)
    info = v.refresh()
    assert info["dirs_read"] == info["dirs_total"] == 2
    assert state(v) == full(l, r)
    assert (2, "y", 20.0) in state(v)
