"""VersionedTable: snapshots, time travel, expiry (SURVEY.md §2.1 S10)."""

from __future__ import annotations

import os

from lakeflow.tables import VersionedTable

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_append_and_time_travel(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "tbl"))
    v1 = t.commit(spark.range(0, 3).toDF("id"))
    v2 = t.commit(spark.range(3, 5).toDF("id"))
    assert (v1, v2) == (1, 2)
    assert t.read(version=1).count() == 3
    assert sorted(r.id for r in t.read().collect()) == [0, 1, 2, 3, 4]
    assert t.current_version() == 2


def test_overwrite_keeps_old_versions_readable(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "tbl"))
    t.commit(spark.range(0, 10).toDF("id"))
    t.commit(spark.range(100, 102).toDF("id"), mode="overwrite")
    assert t.read().count() == 2
    assert t.read(version=1).count() == 10  # time travel across overwrite
    ops = [r.operation for r in t.snapshots().orderBy("version").collect()]
    assert ops == ["append", "overwrite"]


def test_expire_snapshots_drops_unreferenced_dirs(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "tbl"))
    t.commit(spark.range(0, 5).toDF("id"))
    t.commit(spark.range(5, 8).toDF("id"), mode="overwrite")
    expired = t.expire_snapshots(keep_last=1)
    assert expired == [1]
    assert t.versions() == [2]
    assert t.read().count() == 3
    # v1's data dir is gone from disk
    data_root = os.path.join(t.root, "data")
    live = t._manifest(2)["dirs"]
    on_disk = [os.path.join(data_root, d) for d in os.listdir(data_root)]
    assert sorted(on_disk) == sorted(live)


def test_partitioned_commit_prunes(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "tbl"))
    df = spark.createDataFrame(
        [(i, i % 2) for i in range(8)], "id int, bucket int"
    )
    t.commit(df, partition_by=["bucket"])
    got = t.read().filter("bucket = 1")
    assert got.count() == 4
    # partition filter appears as a pruned scan, not a post-scan filter
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan or "bucket" in plan


def test_stream_upsert_merges_each_microbatch(spark, tmp_path):
    """foreachBatch streaming upsert: two single-file micro-batches merge
    sequentially into the versioned table (streaming MERGE INTO analog)."""
    from lakeflow.streaming.sinks import stream_upsert

    src = tmp_path / "src"
    src.mkdir()
    spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string").coalesce(
        1
    ).write.parquet(str(src / "batch1"))
    spark.createDataFrame([(2, "B"), (3, "c")], "k long, v string").coalesce(
        1
    ).write.parquet(str(src / "batch2"))
    # Flatten parquet files into one stream dir, one file per micro-batch.
    import shutil

    stream_dir = tmp_path / "stream"
    stream_dir.mkdir()
    import os as _os

    for i, d in enumerate(sorted(src.iterdir())):
        for f in d.glob("*.parquet"):
            dst = stream_dir / f"{i:03d}.parquet"
            shutil.copy(f, dst)
            # File source orders micro-batches by mtime — make it explicit.
            _os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))

    from lakeflow.tables import VersionedTable

    table = VersionedTable(spark, str(tmp_path / "tbl"))
    stream = (
        spark.readStream.schema("k long, v string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(stream_dir))
    )
    q = stream_upsert(stream, table, keys=["k"])
    q.awaitTermination()
    state = {(r.k, r.v) for r in table.read().collect()}
    assert state == {(1, "a"), (2, "B"), (3, "c")}
    assert table.current_version() == 2  # one commit per micro-batch


def test_stats_pruned_scan(spark, tmp_path):
    """Manifest min/max stats prune whole dirs; results stay exact."""
    t = VersionedTable(spark, str(tmp_path / "tbl"))
    t.commit(
        spark.createDataFrame([(i, i) for i in range(0, 100)], "id int, k int"),
        stats_cols=["k"],
    )
    t.commit(
        spark.createDataFrame([(i, i) for i in range(1000, 1100)], "id int, k int"),
        stats_cols=["k"],
    )
    assert t.pruned_dirs({"k": (0, 50)}) == 1  # second dir skipped entirely
    got = sorted(r.k for r in t.scan(between={"k": (40, 60)}).collect())
    assert got == list(range(40, 61))
    # disjoint range: everything pruned, empty result with intact schema
    empty = t.scan(between={"k": (5000, 6000)})
    assert empty.count() == 0 and empty.columns == ["id", "k"]


def test_compact_preserves_rows_and_versions(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "tbl"))
    t.commit(spark.range(0, 5).toDF("id"))
    t.commit(spark.range(5, 8).toDF("id"))
    v = t.compact()
    assert v == 3
    m = t._manifest(v)
    assert len(m["dirs"]) == 1 and m["operation"] == "compact"
    assert sorted(r.id for r in t.read().collect()) == list(range(8))
    # pre-compaction version still time-travels
    assert t.read(version=2).count() == 8


def test_continuous_candle_rollup(spark, tmp_path):
    """Streaming candles upsert into a versioned rollup table; the table state
    equals the batch candle aggregation over the closed windows."""
    from lakeflow.catalog import _enable_nanos_as_long, convert_nanos_ts, table_path
    from lakeflow.operators.aggregates import tumbling_candles
    from lakeflow.sources.streams import file_stream
    from lakeflow.streaming.rollup import continuous_candle_rollup

    import os as _os

    sf_dir = _os.environ.get("LAKEFLOW_TEST_SF_DIR", "/root/testdata/sf0.001")
    _enable_nanos_as_long(spark)
    schema = spark.read.parquet(table_path(sf_dir, "events")).schema
    stream = convert_nanos_ts(
        file_stream(spark, sf_dir, schema, glob_filter="events.parquet")
    )
    table = VersionedTable(spark, str(tmp_path / "rollup"))
    q = continuous_candle_rollup(stream, table)
    q.awaitTermination()

    got = {
        (r.event_type, r.bucket_start, r.open, r.close, r.n_events)
        for r in table.read().collect()
    }
    # expected: batch candles for every window the final watermark closed —
    # the streamed (availableNow) run emits exactly those.
    from pyspark.sql import functions as F

    from lakeflow.catalog import load_table

    ev = load_table(spark, sf_dir, "events")
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    batch = tumbling_candles(ev)
    # batch emits bucket_start as formatted string; recompute window end
    closed = batch.filter(
        F.to_timestamp("bucket_start") + F.expr("INTERVAL 15 MINUTES")
        <= F.lit(max_ts) - F.expr("INTERVAL 1 MINUTES")
    )
    want = {
        (r.event_type, r.bucket_start, r.open, r.close, r.n_events)
        for r in closed.collect()
    }
    assert got == want and len(got) > 0


def test_stream_scd2_builds_history_per_microbatch(spark, tmp_path):
    """Streaming SCD2: batch 1 loads initial versions; batch 2 changes one
    key's tracked value — the old version must be expired (end_timestamp set,
    is_current=0) and a new current version inserted; untouched keys keep
    exactly one open row."""
    import os as _os
    import shutil

    from lakeflow.streaming.sinks import stream_scd2

    src = tmp_path / "src"
    src.mkdir()
    spark.createDataFrame(
        [(1, 100.0), (2, 200.0)], "k long, bal double"
    ).coalesce(1).write.parquet(str(src / "b1"))
    spark.createDataFrame(
        [(1, 150.0), (2, 200.0)], "k long, bal double"
    ).coalesce(1).write.parquet(str(src / "b2"))
    stream_dir = tmp_path / "stream"
    stream_dir.mkdir()
    for i, d in enumerate(sorted(src.iterdir())):
        for f in d.glob("*.parquet"):
            dst = stream_dir / f"{i:03d}.parquet"
            shutil.copy(f, dst)
            _os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))

    table = VersionedTable(spark, str(tmp_path / "tbl"))
    stream = (
        spark.readStream.schema("k long, bal double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(stream_dir))
    )
    q = stream_scd2(stream, table, keys=["k"], tracked=["bal"])
    q.awaitTermination()

    rows = table.read().collect()
    by_key = {}
    for r in rows:
        by_key.setdefault(r.k, []).append(r)
    # key 1 changed: one expired version (100.0) + one current (150.0)
    k1 = sorted(by_key[1], key=lambda r: r.is_current)
    assert len(k1) == 2
    assert (k1[0].bal, k1[0].is_current) == (100.0, 0)
    assert k1[0].end_timestamp is not None
    assert (k1[1].bal, k1[1].is_current) == (150.0, 1)
    assert k1[1].end_timestamp is None
    # key 2 unchanged: single current row
    assert len(by_key[2]) == 1 and by_key[2][0].is_current == 1
    assert table.current_version() == 2


def test_partition_scoped_stream_upsert_rewrites_only_touched_buckets(
    spark, tmp_path
):
    """With num_buckets set, a micro-batch must rewrite only the data dirs of
    the key-hash buckets it touches: dirs for untouched buckets carry over
    into the next manifest verbatim, and replaying a batch is idempotent."""
    from lakeflow.streaming.sinks import BUCKET_COL, _with_bucket, stream_upsert
    from lakeflow.tables import VersionedTable

    n_buckets = 8
    table = VersionedTable(spark, str(tmp_path / "tbl"))

    # Batch 1: a broad first load across many buckets.
    batch1 = spark.createDataFrame(
        [(i, f"v{i}") for i in range(40)], "k long, v string"
    )
    # Batch 2: touches exactly one key → one bucket.
    batch2 = spark.createDataFrame([(7, "UPDATED")], "k long, v string")

    import shutil

    src = tmp_path / "stream"
    src.mkdir()
    for i, b in enumerate([batch1, batch2]):
        d = tmp_path / f"b{i}"
        b.coalesce(1).write.parquet(str(d))
        for f in d.glob("*.parquet"):
            dst = src / f"{i:03d}.parquet"
            shutil.copy(f, dst)
            import os as _os

            _os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))

    stream = (
        spark.readStream.schema("k long, v string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = stream_upsert(stream, table, keys=["k"], num_buckets=n_buckets)
    q.awaitTermination()

    # Semantics: plain SCD1 ground truth.
    state = {(r.k, r.v) for r in table.read().select("k", "v").collect()}
    want = {(i, f"v{i}") for i in range(40) if i != 7} | {(7, "UPDATED")}
    assert state == want

    # Scope: batch 2's manifest keeps batch 1's dir for every untouched
    # bucket; only the touched bucket's data moved.
    assert table.current_version() == 2
    m1, m2 = table._manifest(1), table._manifest(2)
    touched = {
        r[0]
        for r in _with_bucket(batch2, ["k"], n_buckets)
        .select(BUCKET_COL)
        .distinct()
        .collect()
    }
    carried = set(m1["dirs"]) & set(m2["dirs"])
    assert carried, "untouched-bucket dirs must carry over, not be rewritten"
    for d in carried:
        assert not (set(m2["dir_parts"][d]) & touched)
    # Every touched bucket's data lives in a new dir.
    new_dirs = set(m2["dirs"]) - set(m1["dirs"])
    assert new_dirs

    # Reading one bucket scans a strict subset of dirs.
    sub = table.read_partitions(BUCKET_COL, list(touched))
    assert {(r.k, r.v) for r in sub.select("k", "v").collect()} >= {(7, "UPDATED")}

    # Replay idempotency: applying batch 2 again yields identical state.
    from lakeflow.operators.merge import scd1_apply

    b2 = _with_bucket(batch2, ["k"], n_buckets)
    again = scd1_apply(
        table.read_partitions(BUCKET_COL, list(touched)), b2, keys=["k"]
    )
    table.commit_replace_partitions(again, BUCKET_COL)
    state3 = {(r.k, r.v) for r in table.read().select("k", "v").collect()}
    assert state3 == want


def test_replace_partitions_with_hive_escaped_values(spark, tmp_path):
    """Partition values Hive escapes in directory names (space, '/', ':')
    must still replace — not duplicate — when touched again, and survive
    untouched when another partition is replaced."""
    table = VersionedTable(spark, str(tmp_path / "tbl"))
    base = spark.createDataFrame(
        [("a b", 1), ("x/y", 2), ("t:00", 3), ("plain", 4)],
        "cat string, v int",
    )
    table.commit_replace_partitions(base, "cat")

    # Replace one escaped partition: its old row must vanish.
    table.commit_replace_partitions(
        spark.createDataFrame([("x/y", 20)], "cat string, v int"), "cat"
    )
    state = {(r.cat, r.v) for r in table.read().collect()}
    assert state == {("a b", 1), ("x/y", 20), ("t:00", 3), ("plain", 4)}

    # Replace an unescaped partition: escaped ones carry over exactly once.
    table.commit_replace_partitions(
        spark.createDataFrame([("plain", 40)], "cat string, v int"), "cat"
    )
    state = {(r.cat, r.v) for r in table.read().collect()}
    assert state == {("a b", 1), ("x/y", 20), ("t:00", 3), ("plain", 40)}
    rows = table.read().collect()
    assert len(rows) == 4, f"duplicate rows after replace: {rows}"

    # read_partitions addresses escaped values too.
    got = {(r.cat, r.v) for r in table.read_partitions("cat", ["a b"]).collect()}
    assert got == {("a b", 1)}


def test_replace_partitions_after_indexed_column_drop(spark, tmp_path):
    """ADVICE r9: commit_replace_partitions derives stats/bloom columns
    from the PRIOR snapshot; on a schema-evolved table those sets must be
    intersected with the incoming batch's columns or the per-write
    aggregate raises on the absent column and fails a write that
    previously succeeded. End-to-end: index a column, drop it (which
    retires its index entries), then replace a partition with a batch in
    the evolved schema — the write must succeed and the new dirs must
    record indexes only for surviving columns."""
    table = VersionedTable(spark, str(tmp_path / "tbl"))
    base = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20)], "k int, cat string, extra int"
    )
    table.commit(base, stats_cols=["extra", "k"], bloom_cols=["extra"])
    table.drop_column("extra")

    v = table.commit_replace_partitions(
        spark.createDataFrame([(3, "a")], "k int, cat string"), "cat"
    )
    m = table._manifest(v)
    for d, cols in (m.get("stats") or {}).items():
        assert "extra" not in cols, f"dropped column stats resurrected in {d}"
    for d, cols in (m.get("bloom") or {}).items():
        assert "extra" not in cols, f"dropped column bloom resurrected in {d}"
    # Surviving stats column still recorded fresh for the new dirs.
    assert any("k" in cols for cols in (m.get("stats") or {}).values())
    state = {(r.k, r.cat) for r in table.read().collect()}
    assert state == {(2, "b"), (3, "a")}


def test_replace_partitions_null_partition(spark, tmp_path):
    """NULL partition rows must neither be dropped by a rewrite of other
    partitions nor survive a replace that targets the NULL partition."""
    table = VersionedTable(spark, str(tmp_path / "tbl"))
    base = spark.createDataFrame(
        [(None, 1), ("alpha", 2), ("beta", 3)], "cat string, v int"
    )
    table.commit_replace_partitions(base, "cat")

    # Touch a non-NULL partition: the NULL row must survive.
    table.commit_replace_partitions(
        spark.createDataFrame([("alpha", 20)], "cat string, v int"), "cat"
    )
    state = {(r.cat, r.v) for r in table.read().collect()}
    assert state == {(None, 1), ("alpha", 20), ("beta", 3)}

    # Touch the NULL partition: its old row must be replaced, others kept.
    table.commit_replace_partitions(
        spark.createDataFrame([(None, 10)], "cat string, v int"), "cat"
    )
    state = {(r.cat, r.v) for r in table.read().collect()}
    assert state == {(None, 10), ("alpha", 20), ("beta", 3)}

    # None addresses the NULL partition on the read path.
    got = {(r.cat, r.v) for r in table.read_partitions("cat", [None]).collect()}
    assert got == {(None, 10)}


def test_stream_apply_changes_folds_cdc_feed(spark, tmp_path):
    """Streaming APPLY CHANGES: a two-batch changefeed (maxFilesPerTrigger=1)
    folds into the versioned table batch by batch — upserts land, deletes
    remove, the final state equals the batch apply_changes over the whole
    feed, and each micro-batch left one snapshot."""
    from lakeflow.operators.merge import apply_changes
    from lakeflow.sources.streams import file_stream
    from lakeflow.streaming.sinks import stream_apply_changes

    import pyarrow as pa
    import pyarrow.parquet as pq

    feed_dir = tmp_path / "feed"
    feed_dir.mkdir()
    schema_pa = pa.schema(
        [
            ("k", pa.int64()),
            ("seq", pa.int64()),
            ("op", pa.string()),
            ("v", pa.string()),
        ]
    )
    rows1 = [(1, 1, "U", "a"), (2, 2, "U", "b"), (3, 3, "U", "c")]
    rows2 = [(2, 4, "D", None), (3, 5, "U", "c2"), (4, 6, "U", "d")]
    for i, (fname, rows) in enumerate(
        (("batch1.parquet", rows1), ("batch2.parquet", rows2))
    ):
        cols = list(zip(*rows))
        pq.write_table(
            pa.table(
                {f.name: list(c) for f, c in zip(schema_pa, cols)},
                schema=schema_pa,
            ),
            feed_dir / fname,
        )
        # FileStreamSource orders micro-batches by modification time with
        # arbitrary tie-breaking; pin distinct mtimes so batch1 always
        # applies before batch2 (order-flake otherwise).
        import os as _os

        _os.utime(feed_dir / fname, (1_700_000_000 + i * 10,) * 2)
    b1 = spark.createDataFrame(rows1, "k long, seq long, op string, v string")
    b2 = spark.createDataFrame(rows2, "k long, seq long, op string, v string")

    table = VersionedTable(spark, str(tmp_path / "state"))
    stream = file_stream(
        spark, str(feed_dir), b1.schema, max_files_per_trigger=1
    )
    q = stream_apply_changes(stream, table, keys=["k"], seq_col="seq")
    q.awaitTermination()

    got = {(r.k, r.v) for r in table.read().collect()}
    whole_feed = b1.unionByName(b2)
    want = {
        (r.k, r.v)
        for r in apply_changes(None, whole_feed, ["k"], "seq").collect()
    }
    assert got == want == {(1, "a"), (3, "c2"), (4, "d")}
    assert table.current_version() == 2  # one commit per micro-batch


def test_stream_apply_changes_bucketed_matches_full_rewrite(spark, tmp_path):
    """Partition-scoped CDC apply: with num_buckets, each micro-batch rewrites
    only its touched key-hash buckets, and the final state is identical to
    the full-rewrite path over the same feed."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from lakeflow.sources.streams import file_stream
    from lakeflow.streaming.sinks import stream_apply_changes

    feed_dir = tmp_path / "feed"
    feed_dir.mkdir()
    schema_pa = pa.schema(
        [
            ("k", pa.int64()),
            ("seq", pa.int64()),
            ("op", pa.string()),
            ("v", pa.string()),
        ]
    )
    rows1 = [(i, i, "U", f"v{i}") for i in range(20)]
    rows2 = [(3, 100, "D", None), (7, 101, "U", "v7b"), (25, 102, "U", "v25")]
    for i, (fname, rows) in enumerate((("b1.parquet", rows1), ("b2.parquet", rows2))):
        cols = list(zip(*rows))
        pq.write_table(
            pa.table(
                {f.name: list(c) for f, c in zip(schema_pa, cols)},
                schema=schema_pa,
            ),
            feed_dir / fname,
        )
        # Pin distinct mtimes: FileStreamSource breaks equal-mtime ties
        # arbitrarily and the delete batch must not run first.
        import os as _os

        _os.utime(feed_dir / fname, (1_700_000_000 + i * 10,) * 2)
    schema = spark.read.parquet(str(feed_dir / "b1.parquet")).schema

    tables = {}
    for label, nb in (("full", None), ("bucketed", 8)):
        t = VersionedTable(spark, str(tmp_path / label))
        stream = file_stream(spark, str(feed_dir), schema, max_files_per_trigger=1)
        q = stream_apply_changes(
            stream, t, keys=["k"], seq_col="seq", num_buckets=nb
        )
        q.awaitTermination()
        tables[label] = t

    full = {(r.k, r.v) for r in tables["full"].read().select("k", "v").collect()}
    bucketed = {
        (r.k, r.v) for r in tables["bucketed"].read().select("k", "v").collect()
    }
    assert full == bucketed
    assert (3, None) not in {(k, v) for k, v in full} and all(
        k != 3 for k, _ in full
    )
    assert (7, "v7b") in full and (25, "v25") in full and len(full) == 20
    # the second bucketed commit replaced only the touched buckets
    m = tables["bucketed"]._manifest(tables["bucketed"].current_version())
    assert m["operation"] == "replace_partitions"


def test_commit_replace_partitions_touched_values_empties_partition(
    spark, tmp_path
):
    """An explicit touched_values entry replaces a partition even when the
    new state has zero rows for it (the delete-to-empty case, ADVICE r4
    high): without it the partition's old dirs would carry over."""
    t = VersionedTable(spark, str(tmp_path / "tbl"))
    df = spark.createDataFrame(
        [("a", 1), ("b", 2), ("b", 3)], "part string, v int"
    )
    t.commit_replace_partitions(df, "part")

    # New state touches {a, b} but contains only b-rows: a was emptied.
    survivors = spark.createDataFrame([("b", 9)], "part string, v int")
    t.commit_replace_partitions(survivors, "part", touched_values=["a", "b"])
    assert {(r.part, r.v) for r in t.read().collect()} == {("b", 9)}

    # Untouched partitions still carry over when not named.
    t.commit_replace_partitions(
        spark.createDataFrame([("c", 7)], "part string, v int"),
        "part",
        touched_values=["c"],
    )
    assert {(r.part, r.v) for r in t.read().collect()} == {("b", 9), ("c", 7)}


def test_stream_apply_changes_delete_empties_singleton_bucket(spark, tmp_path):
    """A CDC batch that deletes the ONLY key in a bucket must not resurrect
    it: the sink passes its batch-derived touched buckets to
    commit_replace_partitions, so the emptied bucket's dirs are dropped
    (ADVICE r4 high — the df-derived set alone cannot name an empty bucket)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from lakeflow.sources.streams import file_stream
    from lakeflow.streaming.sinks import _with_bucket, stream_apply_changes

    num_buckets = 8
    keys = list(range(1, 9))
    kdf = spark.createDataFrame([(k,) for k in keys], "k long")
    bucket_of = {
        r["k"]: r["__bucket"]
        for r in _with_bucket(kdf, ["k"], num_buckets).collect()
    }
    # Pick a key alone in its bucket (exists w.h.p.; assert so the test is
    # self-checking rather than silently vacuous).
    from collections import Counter

    counts = Counter(bucket_of.values())
    lone = next(k for k in keys if counts[bucket_of[k]] == 1)

    feed_dir = tmp_path / "feed"
    feed_dir.mkdir()
    schema_pa = pa.schema(
        [
            ("k", pa.int64()),
            ("seq", pa.int64()),
            ("op", pa.string()),
            ("v", pa.string()),
        ]
    )
    rows1 = [(k, k, "U", f"v{k}") for k in keys]
    rows2 = [(lone, 100, "D", None)]
    for i, (fname, rows) in enumerate((("b1.parquet", rows1), ("b2.parquet", rows2))):
        cols = list(zip(*rows))
        pq.write_table(
            pa.table(
                {f.name: list(c) for f, c in zip(schema_pa, cols)},
                schema=schema_pa,
            ),
            feed_dir / fname,
        )
        # FileStreamSource orders micro-batches by modification time and
        # breaks ties arbitrarily; pin distinct mtimes so the upsert batch
        # is always applied before the delete batch (order-flake otherwise).
        import os as _os

        _os.utime(feed_dir / fname, (1_700_000_000 + i * 10, 1_700_000_000 + i * 10))
    schema = spark.read.parquet(str(feed_dir / "b1.parquet")).schema

    t = VersionedTable(spark, str(tmp_path / "state"))
    stream = file_stream(spark, str(feed_dir), schema, max_files_per_trigger=1)
    q = stream_apply_changes(
        stream, t, keys=["k"], seq_col="seq", num_buckets=num_buckets
    )
    q.awaitTermination()

    got = {(r.k, r.v) for r in t.read().select("k", "v").collect()}
    assert all(k != lone for k, _ in got), "deleted key resurrected"
    assert got == {(k, f"v{k}") for k in keys if k != lone}


def test_table_diff_classifies_changes(spark, tmp_path):
    """CDF read between snapshots: inserts carry the post-image, deletes the
    pre-image, updates detect any null-safe payload change, and unchanged
    keys (including NULL-payload ones) are absent."""
    from lakeflow.tables import table_diff

    t = VersionedTable(spark, str(tmp_path / "tbl"))
    t.commit(
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, None), (4, "d")], "k long, v string"
        )
    )
    t.commit(
        spark.createDataFrame(
            # 1 unchanged, 2 updated, 3 NULL→value (update), 4 deleted, 5 new
            [(1, "a"), (2, "B"), (3, "c"), (5, None)], "k long, v string"
        ),
        mode="overwrite",
    )
    got = {
        (r.k, r.v, r.change_type)
        for r in table_diff(t, ["k"], from_version=1, to_version=2).collect()
    }
    assert got == {
        (2, "B", "update"),
        (3, "c", "update"),
        (4, "d", "delete"),
        (5, None, "insert"),
    }


def test_table_diff_roundtrips_through_apply_changes(spark, tmp_path):
    """The CDC read and write paths are inverses: applying table_diff(v1,v2)
    as a changefeed onto the v1 state reproduces the v2 state exactly —
    ties the feed derivation (table_diff) to the feed application
    (operators/merge.py::apply_changes) end to end."""
    from pyspark.sql import functions as F

    from lakeflow.operators.merge import apply_changes
    from lakeflow.tables import table_diff

    t = VersionedTable(spark, str(tmp_path / "tbl"))
    t.commit(
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(1, 8)], "k long, v string"
        )
    )
    t.commit(
        spark.createDataFrame(
            # delete 1-2, update 3-4, keep 5-7, insert 8-9
            [(3, "V3"), (4, "V4"), (5, "v5"), (6, "v6"), (7, "v7"),
             (8, "v8"), (9, "v9")],
            "k long, v string",
        ),
        mode="overwrite",
    )
    feed = table_diff(t, ["k"], from_version=1, to_version=2).select(
        "k", "v",
        F.lit(1).alias("seq"),
        F.when(F.col("change_type") == "delete", "D").otherwise("U").alias("op"),
    )
    rebuilt = apply_changes(t.read(version=1), feed, ["k"], "seq")
    got = {(r.k, r.v) for r in rebuilt.collect()}
    want = {(r.k, r.v) for r in t.read(version=2).collect()}
    assert got == want


def test_schema_evolution_appends_column_with_null_backfill(spark, tmp_path):
    """merge_schema append: the new column joins the table schema, rows from
    pre-evolution snapshots read it back NULL, and no old file is rewritten
    (metadata-only evolution)."""
    import pytest

    t = VersionedTable(spark, str(tmp_path / "tbl"))
    t.commit(spark.createDataFrame([(1, "a")], "id int, name string"))
    old_dirs = t._manifest(1)["dirs"]
    # Additive append without the flag is rejected...
    with pytest.raises(ValueError, match="merge_schema"):
        t.commit(
            spark.createDataFrame(
                [(2, "b", 9.5)], "id int, name string, score double"
            )
        )
    # ...and accepted with it.
    t.commit(
        spark.createDataFrame(
            [(2, "b", 9.5)], "id int, name string, score double"
        ),
        merge_schema=True,
    )
    rows = {r["id"]: r for r in t.read().collect()}
    assert rows[1]["score"] is None and rows[2]["score"] == 9.5
    assert t.read().columns == ["id", "name", "score"]
    # old files untouched; time travel sees the old shape
    assert t._manifest(2)["dirs"][0] == old_dirs[0]
    assert t.read(version=1).columns == ["id", "name"]


def test_schema_evolution_missing_batch_column_backfills_null(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "tbl"))
    t.commit(spark.createDataFrame([(1, "a")], "id int, name string"))
    t.commit(spark.createDataFrame([(2,)], "id int"), merge_schema=True)
    rows = {r["id"]: r["name"] for r in t.read().collect()}
    assert rows == {1: "a", 2: None}


def test_schema_evolution_rejects_type_change(spark, tmp_path):
    import pytest

    t = VersionedTable(spark, str(tmp_path / "tbl"))
    t.commit(spark.createDataFrame([(1, "a")], "id int, name string"))
    with pytest.raises(ValueError, match="change column types"):
        t.commit(
            spark.createDataFrame([(2.0, "b")], "id double, name string"),
            merge_schema=True,
        )


def test_incremental_compact_rewrites_only_small_dirs(spark, tmp_path):
    """compact(small_dir_max_bytes=...) coalesces the tiny-commit tail and
    carries large dirs over by reference — per-run IO is O(small dirs)."""
    t = VersionedTable(spark, str(tmp_path / "tbl"))
    big = spark.range(0, 50_000).selectExpr(
        "id", "repeat('x', 64) AS pad"
    ).coalesce(1)
    t.commit(big)
    big_dir = t._manifest(1)["dirs"][0]
    for i in range(3):  # tiny micro-batch-style appends
        t.commit(
            spark.createDataFrame(
                [(1_000_000 + i, "y")], "id bigint, pad string"
            )
        )
    threshold = t._dir_bytes(big_dir)  # big dir is >= threshold → kept
    v = t.compact(small_dir_max_bytes=threshold)
    m = t._manifest(v)
    assert big_dir in m["dirs"], "large dir must carry over by reference"
    assert len(m["dirs"]) == 2  # big + one merged dir
    assert t.read().count() == 50_003
    # idempotent: nothing small left to merge → no new version
    assert t.compact(small_dir_max_bytes=threshold) == v


def test_incremental_compact_preserves_partition_coverage(spark, tmp_path):
    """After compacting a bucketed streaming table, read_partitions can still
    prune: the merged dir records the union of its inputs' coverage."""
    from pyspark.sql import functions as F

    t = VersionedTable(spark, str(tmp_path / "tbl"))
    for b in range(4):
        t.commit_replace_partitions(
            spark.createDataFrame([(b * 10, b)], "id int, bucket int"),
            "bucket",
        )
    v = t.compact(small_dir_max_bytes=10**9)
    m = t._manifest(v)
    assert len(m["dirs"]) == 1
    assert sorted(m["dir_parts"][m["dirs"][0]]) == ["0", "1", "2", "3"]
    got = t.read_partitions("bucket", [2]).collect()
    assert [(r["id"], r["bucket"]) for r in got] == [(20, 2)]


def test_incremental_compact_unions_stats_envelopes(spark, tmp_path):
    """Folding stat-carrying small dirs must not silently degrade file-skip
    pruning: without stats_cols, the merged dir gets the zero-IO envelope
    union (min of mins / max of maxs) of the folded dirs' recorded stats —
    the auto-compaction path never re-specifies stats_cols."""
    t = VersionedTable(spark, str(tmp_path / "tbl"))
    for lo in (0, 100, 200):
        t.commit(
            spark.createDataFrame(
                [(lo + j,) for j in range(10)], "id bigint"
            ),
            mode="append",
            stats_cols=["id"],
        )
    assert t.pruned_dirs({"id": (105, 160)}) == 2  # envelopes prune 2 of 3
    v = t.compact(small_dir_max_bytes=10**9)
    m = t._manifest(v)
    assert len(m["dirs"]) == 1
    merged = m["dirs"][0]
    assert m["stats"][merged]["id"] == [0, 209]
    assert t.read().count() == 30
    # A fresh small append with stats then a partial fold: the kept big
    # envelope and the merged tail's unioned envelope both survive.
    t.commit(
        spark.createDataFrame([(500,)], "id bigint"),
        mode="append",
        stats_cols=["id"],
    )
    t.commit(
        spark.createDataFrame([(600,)], "id bigint"),
        mode="append",
        stats_cols=["id"],
    )
    big_bytes = t._dir_bytes(merged)
    v2 = t.compact(small_dir_max_bytes=big_bytes)
    m2 = t._manifest(v2)
    assert merged in m2["dirs"] and len(m2["dirs"]) == 2
    tail = next(d for d in m2["dirs"] if d != merged)
    assert m2["stats"][tail]["id"] == [500, 600]
    assert t.pruned_dirs({"id": (550, 700)}) == 1  # old merged dir pruned


def test_incremental_compact_carries_and_unions_blooms(spark, tmp_path):
    """The fold must not drop the Bloom index (same provenance class as the
    stats fix above): kept dirs carry their filters verbatim, the merged
    dir gets the bitwise union of the folded dirs' bit sets (bloom_bits is
    pinned at creation), and scan_point stays exact with pruning intact."""
    t = VersionedTable(spark, str(tmp_path / "tbl"))
    for lo in (0, 1000, 2000):
        t.commit(
            spark.createDataFrame(
                [(lo + j,) for j in range(20)], "k bigint"
            ),
            mode="append",
            bloom_cols=["k"],
        )
    assert t.pruned_dirs_point("k", 1005) == 2
    v = t.compact(small_dir_max_bytes=10**9)
    m = t._manifest(v)
    assert len(m["dirs"]) == 1
    merged = m["dirs"][0]
    assert "k" in m.get("bloom", {}).get(merged, {})
    assert m.get("bloom_bits") is not None
    # Exactness: every original key found, an absent key opens nothing.
    assert {r.k for r in t.scan_point("k", 2019).collect()} == {2019}
    assert t.scan_point("k", 999_999).count() == 0
    # Partial fold: kept big dir's bloom carried verbatim, tail unioned.
    t.commit(
        spark.createDataFrame([(5000,)], "k bigint"),
        mode="append",
        bloom_cols=["k"],
    )
    t.commit(
        spark.createDataFrame([(6000,)], "k bigint"),
        mode="append",
        bloom_cols=["k"],
    )
    v2 = t.compact(small_dir_max_bytes=t._dir_bytes(merged))
    m2 = t._manifest(v2)
    assert merged in m2["dirs"] and len(m2["dirs"]) == 2
    assert m2["bloom"][merged] == m["bloom"][merged]
    assert t.pruned_dirs_point("k", 5000) >= 1  # old merged dir pruned
    assert {r.k for r in t.scan_point("k", 5000).collect()} == {5000}
    assert {r.k for r in t.scan_point("k", 6000).collect()} == {6000}


def test_full_compact_and_zorder_rebuild_indexes(spark, tmp_path):
    """Full compact and OPTIMIZE ZORDER are row-preserving rewrites, so the
    table's stats and bloom indexes must be REBUILT over the new dirs, not
    silently dropped: scan_point pruning and zone-map pruning both survive
    each OPTIMIZE with exact answers."""
    t = VersionedTable(spark, str(tmp_path / "tbl"))
    for lo in (0, 1000):
        t.commit(
            spark.createDataFrame(
                [(lo + j, float(lo + j)) for j in range(50)],
                "k bigint, w double",
            ),
            mode="append",
            stats_cols=["k"],
            bloom_cols=["k"],
        )
    t.compact()  # full rewrite, no stats_cols/bloom_cols re-specified
    m = t._manifest(t.current_version())
    assert len(m["dirs"]) == 1
    d = m["dirs"][0]
    assert m["stats"][d]["k"] == [0, 1049]
    assert "k" in m["bloom"][d] and m["bloom_bits"] is not None
    assert {r.k for r in t.scan_point("k", 1007).collect()} == {1007}
    assert t.scan_point("k", 77_777).count() == 0

    t.optimize_zorder(["k", "w"], n_dirs=4)
    m2 = t._manifest(t.current_version())
    assert 2 <= len(m2["dirs"]) <= 4  # Z-buckets are data-dependent
    assert all(d in m2.get("bloom", {}) for d in m2["dirs"])
    assert t.pruned_dirs_point("k", 1007) >= 1  # bloom survives the rewrite
    assert {r.k for r in t.scan_point("k", 1007).collect()} == {1007}
    assert t.scan_point("k", 77_777).count() == 0
    assert t.read().count() == 100


def test_replace_partitions_maintains_stats_and_blooms(spark, tmp_path):
    """commit_replace_partitions must maintain per-dir indexes, not let
    them decay as dirs are rewritten: stats_cols (previously a dead
    parameter) computes envelopes per new dir, bloom columns are derived
    from the prior snapshot and rebuilt per new dir at the pinned
    bloom_bits, and kept dirs carry both verbatim."""
    t = VersionedTable(spark, str(tmp_path / "tbl"))
    # Seed with a bloom+stats-indexed plain commit.
    t.commit(
        spark.createDataFrame(
            [(i, i % 4) for i in range(40)], "k bigint, bucket int"
        ),
        stats_cols=["k"],
        bloom_cols=["k"],
    )
    # Replace bucket 1's state: new dirs must get fresh stats AND blooms.
    t.commit_replace_partitions(
        spark.createDataFrame(
            [(1000 + i, 1) for i in range(4)], "k bigint, bucket int"
        ),
        "bucket",
        stats_cols=["k"],
    )
    m = t._manifest(t.current_version())
    assert "bloom" in m and m.get("bloom_bits") is not None
    assert all(d in m["stats"] and d in m["bloom"] for d in m["dirs"]), (
        "every dir (kept remainder + new) must carry stats and bloom"
    )
    # Exactness through the mixed kept/new layout.
    assert {r.k for r in t.scan_point("k", 1002).collect()} == {1002}
    assert {r.k for r in t.scan_point("k", 2).collect()} == {2}
    assert t.scan_point("k", 55_555).count() == 0
    assert t.pruned_dirs_point("k", 1002) >= 1
    # Second replace WITHOUT stats_cols: columns derive from the prior
    # snapshot, so the indexes keep maintaining themselves.
    t.commit_replace_partitions(
        spark.createDataFrame([(2000, 2)], "k bigint, bucket int"),
        "bucket",
    )
    m2 = t._manifest(t.current_version())
    assert all(d in m2["stats"] and d in m2["bloom"] for d in m2["dirs"])
    assert {r.k for r in t.scan_point("k", 2000).collect()} == {2000}


def test_dml_carries_indexes_with_safe_overapproximation(spark, tmp_path):
    """DELETE/UPDATE must not strip the table's indexes: kept dirs carry
    their stats+bloom verbatim; the rewritten survivors dir gets the
    touched dirs' envelope/bit-set UNION (a delete only removes rows, so
    the union over-approximates — false positives only), and UPDATE
    excludes its SET columns (old bits don't cover the new values)."""
    t = VersionedTable(spark, str(tmp_path / "tbl"))
    for lo in (0, 1000, 2000):
        t.commit(
            spark.createDataFrame(
                [(lo + j, float(j)) for j in range(20)], "k bigint, v double"
            ),
            mode="append",
            stats_cols=["k"],
            bloom_cols=["k"],
        )
    # DELETE pruned to the middle dir: the other two carry verbatim, the
    # survivors dir inherits the touched dir's envelope/bits.
    t.delete_where("k = 1003", prune_between={"k": (1000, 1019)})
    m = t._manifest(t.current_version())
    assert all(d in m["stats"] and d in m["bloom"] for d in m["dirs"])
    assert t.scan_point("k", 1003).count() == 0
    assert {r.k for r in t.scan_point("k", 1004).collect()} == {1004}
    assert t.pruned_dirs_point("k", 5) >= 1  # untouched dirs still prune
    assert t.pruned_dirs({"k": (2005, 2010)}) == 2

    # UPDATE of v: k's indexes survive everywhere (k passes through), and
    # lookups stay exact.
    t.update_where("k = 2001", {"v": "99.0"}, prune_between={"k": (2000, 2019)})
    m2 = t._manifest(t.current_version())
    assert all("k" in m2["bloom"].get(d, {}) for d in m2["dirs"])
    got = {(r.k, r.v) for r in t.scan_point("k", 2001).collect()}
    assert got == {(2001, 99.0)}
    # UPDATE of k itself: the rewritten dir must NOT carry k's old index
    # (new values uncovered), while kept dirs keep theirs — and the moved
    # key is still findable (missing index = read the dir, never skip it).
    t.update_where("k = 1", {"k": "777777"}, prune_between={"k": (0, 19)})
    m3 = t._manifest(t.current_version())
    rewritten = [d for d in m3["dirs"] if d not in m2["dirs"]]
    assert len(rewritten) == 1
    assert "k" not in m3["bloom"].get(rewritten[0], {})
    assert "k" not in m3["stats"].get(rewritten[0], {})
    assert {r.k for r in t.scan_point("k", 777777).collect()} == {777777}
    assert t.scan_point("k", 1).count() == 0


def test_mor_dml_and_ddl_keep_bloom_index_consistent(spark, tmp_path):
    """The _publish_manifest per-dir carry closes the forgot-to-carry class
    for MOR DML: delete_where_mor/update_where_mor leave the data dirs in
    place, so their blooms/stats must survive (a DV only HIDES rows — the
    bit sets over-approximate, which is safe); drop_column retires the
    dropped column's bloom explicitly so the carry cannot resurrect it."""
    t = VersionedTable(spark, str(tmp_path / "tbl"))
    t.commit(
        spark.createDataFrame(
            [(i, float(i)) for i in range(40)], "k bigint, v double"
        ),
        stats_cols=["k"],
        bloom_cols=["k"],
    )
    t.delete_where_mor("k = 7")
    m = t._manifest(t.current_version())
    assert m.get("bloom") and m.get("bloom_bits") is not None
    assert t.scan_point("k", 7).count() == 0  # DV applies through the probe
    assert {r.k for r in t.scan_point("k", 8).collect()} == {8}

    t.update_where_mor("k = 9", {"v": "99.0"})
    m2 = t._manifest(t.current_version())
    assert all(d in m2["bloom"] or d not in m["dirs"] for d in m2["dirs"])
    assert {(r.k, r.v) for r in t.scan_point("k", 9).collect()} == {(9, 99.0)}

    t.drop_column("v")
    m3 = t._manifest(t.current_version())
    assert all("v" not in cs for cs in m3.get("bloom", {}).values())
    assert all("v" not in cs for cs in m3.get("stats", {}).values())
    assert {r.k for r in t.scan_point("k", 8).collect()} == {8}


def test_latest_hint_is_o1_and_lag_safe(spark, tmp_path):
    """current_version() reads the _latest_hint pointer instead of listing
    the snapshot dir (O(#versions) per micro-batch otherwise). The hint
    can only LAG (written after the manifest lands), so: a stale hint
    walks forward to the true head; a missing or corrupt hint falls back
    to the listing; a hint whose manifest was removed falls back too;
    expiry keeps the latest, so the pointer survives retention."""
    import os as _os

    t = VersionedTable(spark, str(tmp_path / "tbl"))
    for i in range(4):
        t.commit(spark.createDataFrame([(i,)], "k long"), mode="append")
    hint = _os.path.join(t._snap_dir, "_latest_hint")
    assert open(hint).read().strip() == "4"
    assert t.current_version() == 4

    # Lagging hint (crash between manifest link and hint write).
    with open(hint, "w") as fh:
        fh.write("2")
    assert t.current_version() == 4  # walk-forward finds the true head

    # Missing hint → listing fallback.
    _os.remove(hint)
    assert t.current_version() == 4
    # Corrupt hint → listing fallback.
    with open(hint, "w") as fh:
        fh.write("not-a-version")
    assert t.current_version() == 4

    # The next commit repairs the pointer.
    t.commit(spark.createDataFrame([(9,)], "k long"), mode="append")
    assert open(hint).read().strip() == "5"

    # Retention keeps the latest manifest, so the hint stays valid.
    t.expire_snapshots(keep_last=1)
    assert t.current_version() == 5
    assert t.read().count() == 5


def test_concurrent_commit_conflict_detected(spark, tmp_path):
    """Optimistic concurrency: two writers deriving from the same base
    version race to publish the same snapshot number — exactly one wins,
    the loser raises CommitConflictError, and a retry from the NEW current
    version lands cleanly with both writers' rows preserved."""
    import pytest

    from lakeflow.tables import CommitConflictError, VersionedTable

    root = str(tmp_path / "tbl")
    a = VersionedTable(spark, root)
    b = VersionedTable(spark, root)
    a.commit(spark.range(0, 5).toDF("id"))

    # Simulate the race: both handles observed version 1; "a" publishes
    # version 2 first, then "b" tries to publish its own version 2.
    a.commit(spark.range(10, 12).toDF("id"))
    base = b._manifest(2)  # what b WOULD have written over
    df_b = spark.range(20, 22).toDF("id")
    data_dir = tmp_path / "tbl" / "data"
    with pytest.raises(CommitConflictError, match="committed concurrently"):
        # Re-publish version 2 from b's stale view of the world.
        import uuid as _uuid

        d = str(data_dir / _uuid.uuid4().hex)
        df_b.write.parquet(d)
        b._publish_manifest(
            {
                "version": 2,
                "operation": "append",
                "dirs": base["dirs"] + [d],
                "stats": {},
                "schema": base.get("schema"),
            }
        )
    # Retry path: normal commit now sees version 2 and lands as 3.
    v = b.commit(df_b)
    assert v == 3
    assert sorted(r.id for r in b.read().collect()) == [0, 1, 2, 3, 4, 10, 11, 20, 21]


def test_remove_orphans_deletes_only_unreferenced_dirs(spark, tmp_path):
    from lakeflow.tables import VersionedTable

    t = VersionedTable(spark, str(tmp_path / "tbl"))
    t.commit(spark.range(0, 5).toDF("id"))
    t.commit(spark.range(5, 8).toDF("id"), mode="overwrite")
    # Orphan: a data dir written but never published (crashed commit).
    orphan = str(tmp_path / "tbl" / "data" / "deadbeefcafe")
    spark.range(100, 103).toDF("id").write.parquet(orphan)
    removed = t.remove_orphans()
    assert removed == [orphan]
    # Every snapshot still reads (orphans were unreachable by definition).
    assert t.read(version=1).count() == 5
    assert t.read(version=2).count() == 3


def test_remove_orphans_keeps_partition_split_dirs(spark, tmp_path):
    from lakeflow.tables import VersionedTable

    t = VersionedTable(spark, str(tmp_path / "tbl"))
    t.commit_replace_partitions(
        spark.createDataFrame([(1, 0), (2, 1)], "id int, bucket int"), "bucket"
    )
    assert t.remove_orphans() == []
    assert t.read().count() == 2


def test_table_changes_stream_resumes_at_next_commit(spark, tmp_path):
    """Streaming a VersionedTable's commit history: run 1 drains commits 1-2,
    a new commit lands, run 2 with the SAME checkpoint emits ONLY commit 3 —
    the version offset resumes exactly, no replays, no misses."""
    from lakeflow.sources.table_stream import register_table_changes_source
    from lakeflow.tables import VersionedTable

    register_table_changes_source(spark)
    t = VersionedTable(spark, str(tmp_path / "tbl"))
    t.commit(spark.range(0, 5).toDF("id"))
    t.commit(spark.range(5, 8).toDF("id"))
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def drain() -> None:
        q = (
            spark.readStream.format("lakeflow_table_changes")
            .option("path", t.root)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain()
    assert sorted(r.id for r in spark.read.parquet(out).collect()) == list(range(8))
    t.commit(spark.range(100, 102).toDF("id"))
    drain()
    got = sorted(r.id for r in spark.read.parquet(out).collect())
    assert got == list(range(8)) + [100, 101]  # commit 3 exactly once


def test_table_changes_stream_change_commit_policy(spark, tmp_path):
    """Non-append commits rewrite history: default FAILS the stream (Delta's
    contract); on_change=skip ignores the change commit and streams appends
    on either side of it."""
    import tempfile

    from lakeflow.sources.table_stream import register_table_changes_source
    from lakeflow.tables import VersionedTable

    register_table_changes_source(spark)
    t = VersionedTable(spark, str(tmp_path / "tbl"))
    t.commit(spark.range(0, 5).toDF("id"))
    t.commit(spark.range(100, 103).toDF("id"), mode="overwrite")
    t.commit(spark.range(200, 202).toDF("id"))

    def run(on_change: str, name: str):
        return (
            spark.readStream.format("lakeflow_table_changes")
            .option("path", t.root)
            .option("on_change", on_change)
            .load()
            .writeStream.format("memory")
            .queryName(name)
            .option("checkpointLocation", tempfile.mkdtemp())
            .trigger(availableNow=True)
            .start()
        )

    import pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException

    q = run("fail", "tcp_fail")
    with pytest.raises(StreamingQueryException, match="rewrites history"):
        q.awaitTermination(120)

    q = run("skip", "tcp_skip")
    q.awaitTermination(120)
    got = sorted(r.id for r in spark.table("tcp_skip").collect())
    # v1 appends 0-4; v2 overwrite skipped; v3 appends 200-201.
    assert got == [0, 1, 2, 3, 4, 200, 201]


def test_bloom_index_prunes_point_lookups(spark, tmp_path):
    """Per-dir bloom index: a point lookup opens only dirs whose bloom admits
    the key — most dirs prune, results stay exact, and a absent key prunes
    everything. Zone maps cannot make this cut on an unclustered key."""
    from pyspark.sql import functions as F

    from lakeflow.tables import VersionedTable

    t = VersionedTable(spark, str(tmp_path / "tbl"))
    for i in range(8):
        t.commit(
            spark.range(i * 1000, i * 1000 + 1000)
            .toDF("id")
            .withColumn("payload", F.col("id") * 2),
            bloom_cols=["id"],
        )
    # Present key: exactly its home dir survives (plus bloom false positives,
    # bounded in expectation; 2k bits set of 4096 → fp ~ (0.5)^2 per dir).
    got = t.scan_point("id", 3_500).collect()
    assert [(r["id"], r["payload"]) for r in got] == [(3500, 7000)]
    assert t.pruned_dirs_point("id", 3_500) >= 5
    # Absent key: overwhelmingly pruned, exact empty result either way.
    assert t.scan_point("id", 999_999).count() == 0
    # A column without a bloom keeps every dir (no false negatives).
    assert t.pruned_dirs_point("payload", 7000) == 0


def test_streaming_medallion_between_versioned_tables(spark, tmp_path):
    """Full lakehouse streaming hop: bronze commits are read as a changes
    STREAM (table_stream source) and folded into a silver VersionedTable by
    the APPLY CHANGES sink — incremental across runs via the shared
    checkpoint, so each drain processes only bronze commits it has not seen.
    Silver must equal the batch application of the whole feed."""
    from lakeflow.sources.table_stream import register_table_changes_source
    from lakeflow.streaming.sinks import stream_apply_changes
    from lakeflow.tables import VersionedTable

    register_table_changes_source(spark)
    bronze = VersionedTable(spark, str(tmp_path / "bronze"))
    silver = VersionedTable(spark, str(tmp_path / "silver"))
    ckpt = str(tmp_path / "ckpt")

    def feed(rows):
        return spark.createDataFrame(
            rows, "k int, seq int, op string, val string"
        )

    def drain():
        stream = (
            spark.readStream.format("lakeflow_table_changes")
            .option("path", bronze.root)
            .load()
        )
        q = stream_apply_changes(
            stream, silver, keys=["k"], seq_col="seq", checkpoint=ckpt
        )
        q.awaitTermination(120)

    bronze.commit(feed([(1, 1, "U", "a"), (2, 1, "U", "b")]))
    drain()
    assert {(r.k, r.val) for r in silver.read().collect()} == {(1, "a"), (2, "b")}
    v_after_first = silver.current_version()

    # Second hop: an update, a delete, and an insert land in bronze.
    bronze.commit(feed([(1, 2, "U", "a2"), (2, 2, "D", "b"), (3, 1, "U", "c")]))
    drain()
    assert {(r.k, r.val) for r in silver.read().collect()} == {(1, "a2"), (3, "c")}
    # Incremental: run 2 consumed only the new bronze commit (one more
    # silver commit, not a reprocess of the full feed).
    assert silver.current_version() == v_after_first + 1


def test_rollback_restores_prior_content_metadata_only(spark, tmp_path):
    """Delta RESTORE semantics: rollback re-references the old version's
    dirs as a new commit — latest readers see the restored state, the bad
    version stays time-travelable, and no data is rewritten."""
    from lakeflow.tables import VersionedTable

    t = VersionedTable(spark, str(tmp_path / "tbl"))
    t.commit(spark.range(0, 5).toDF("id"))
    t.commit(spark.range(100, 200).toDF("id"), mode="overwrite")  # bad load
    v = t.rollback(to_version=1)
    assert v == 3
    assert sorted(r.id for r in t.read().collect()) == [0, 1, 2, 3, 4]
    assert t.read(version=2).count() == 100  # forensics intact
    assert t._manifest(3)["dirs"] == t._manifest(1)["dirs"]  # no rewrite
    ops = [r.operation for r in t.snapshots().orderBy("version").collect()]
    assert ops[-1] == "rollback_to_1"


def test_commit_audited_blocks_bad_batch_before_publish(spark, tmp_path):
    """Write-audit-publish: a batch breaching a fail-level expectation never
    becomes a snapshot; a clean batch publishes once (no double write),
    and the rejected staging dir is reclaimable as an orphan."""
    import pytest

    from lakeflow.quality import Expectation, ExpectationFailedError
    from lakeflow.tables import VersionedTable

    rules = [Expectation("id_positive", "id >= 0", "fail")]
    t = VersionedTable(spark, str(tmp_path / "tbl"))
    v = t.commit_audited(spark.range(0, 5).toDF("id"), rules)
    assert v == 1 and t.read().count() == 5
    assert t._manifest(1)["operation"] == "append_audited"

    bad = spark.createDataFrame([(-1,), (7,)], "id long")
    with pytest.raises(ExpectationFailedError, match="id_positive"):
        t.commit_audited(bad, rules)
    assert t.current_version() == 1  # nothing published
    assert t.read().count() == 5
    removed = t.remove_orphans()
    assert len(removed) == 1  # the rejected staging dir


def test_table_catalog_lifecycle_and_sql(spark, tmp_path):
    from lakeflow.tables import TableCatalog

    cat = TableCatalog(spark, str(tmp_path / "wh"))
    cat.create("dim_a", spark.range(0, 5).toDF("id"))
    cat.create("dim_b", spark.range(5, 8).toDF("id"))
    assert cat.tables() == ["dim_a", "dim_b"]
    cat.register_view("dim_a")
    assert spark.sql("SELECT count(*) AS n FROM dim_a").first()["n"] == 5
    # snapshot isolation: view pins the registered snapshot until re-bound
    cat.load("dim_a").commit(spark.range(100, 102).toDF("id"))
    assert spark.sql("SELECT count(*) AS n FROM dim_a").first()["n"] == 5
    cat.register_view("dim_a")
    assert spark.sql("SELECT count(*) AS n FROM dim_a").first()["n"] == 7
    import pytest

    with pytest.raises(ValueError, match="already exists"):
        cat.create("dim_a")
    cat.drop("dim_b")
    assert cat.tables() == ["dim_a"]
    with pytest.raises(ValueError, match="invalid table name"):
        cat.load("../escape")


def test_catalog_maintain_policy(spark, tmp_path):
    """maintain() compacts only past the small-dir threshold, expires old
    snapshots, and reclaims orphans — and is a cheap no-op when idle."""
    from lakeflow.tables import TableCatalog

    cat = TableCatalog(spark, str(tmp_path / "wh"))
    t = cat.create("events", spark.range(0, 10).toDF("id"))
    for i in range(12):
        t.commit(spark.range(100 + i, 101 + i).toDF("id"))
    r = cat.maintain("events", max_small_dirs=8, keep_snapshots=2)
    assert r["compacted"] is True
    assert len(r["expired"]) >= 10
    assert cat.load("events").read().count() == 22
    # second pass: nothing left to do
    r2 = cat.maintain("events", max_small_dirs=8, keep_snapshots=2)
    assert r2["compacted"] is False and r2["expired"] == []


def test_stream_enrich_with_refreshed_dimension_table(spark, tmp_path):
    """Production stream-static pattern: foreachBatch re-resolves the
    dimension from its VersionedTable every micro-batch, so a dimension
    commit between drains is visible to later batches without restarting
    the stream (a statically-bound DataFrame would pin the old snapshot)."""
    from lakeflow.tables import VersionedTable

    dim = VersionedTable(spark, str(tmp_path / "dim"))
    dim.commit(spark.createDataFrame([(1, "bronze")], "user_id int, tier string"))

    src_dir, out, ckpt = (
        str(tmp_path / "src"),
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
    )
    enriched_out = []

    def enrich(batch_df, batch_id):
        joined = batch_df.join(dim.read(), "user_id", "left")  # re-resolved
        enriched_out.extend(
            (r["user_id"], r["event"], r["tier"]) for r in joined.collect()
        )

    def drain():
        q = (
            spark.readStream.schema("user_id int, event string")
            .parquet(src_dir)
            .writeStream.foreachBatch(enrich)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    spark.createDataFrame([(1, "login")], "user_id int, event string").write.mode(
        "append"
    ).parquet(src_dir)
    drain()
    assert (1, "login", "bronze") in enriched_out

    # Dimension upgrade lands between drains...
    dim.commit(
        spark.createDataFrame([(1, "gold")], "user_id int, tier string"),
        mode="overwrite",
    )
    spark.createDataFrame([(1, "purchase")], "user_id int, event string").write.mode(
        "append"
    ).parquet(src_dir)
    drain()
    # ...and the new batch sees it.
    assert (1, "purchase", "gold") in enriched_out


def test_table_changes_stream_start_version(spark, tmp_path):
    """start_version skips history: a consumer attaching at version N sees
    only commits AFTER N — the 'from now on' subscription mode."""
    import tempfile

    from lakeflow.sources.table_stream import register_table_changes_source
    from lakeflow.tables import VersionedTable

    register_table_changes_source(spark)
    t = VersionedTable(spark, str(tmp_path / "tbl"))
    t.commit(spark.range(0, 5).toDF("id"))
    t.commit(spark.range(5, 8).toDF("id"))
    q = (
        spark.readStream.format("lakeflow_table_changes")
        .option("path", t.root)
        .option("start_version", "1")
        .load()
        .writeStream.format("memory")
        .queryName("from_v1")
        .option("checkpointLocation", tempfile.mkdtemp())
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert sorted(r.id for r in spark.table("from_v1").collect()) == [5, 6, 7]


def test_catalog_maintain_all(spark, tmp_path):
    from lakeflow.tables import TableCatalog

    cat = TableCatalog(spark, str(tmp_path / "wh"))
    cat.create("a", spark.range(0, 3).toDF("id"))
    cat.create("b")  # empty table: maintain must no-op, not crash
    reports = cat.maintain_all(keep_snapshots=1)
    assert set(reports) == {"a", "b"}
    assert reports["b"] == {"compacted": False, "expired": [], "orphans_removed": 0}


def test_real_thread_commit_race_loses_no_update(spark, tmp_path):
    """Two OS threads commit concurrently with retry-on-conflict: whatever
    the interleaving (clean serialization or a version collision), the
    optimistic protocol must lose NEITHER update — the lost-update anomaly
    a plain os.replace publish would allow."""
    import threading

    from lakeflow.tables import CommitConflictError, VersionedTable

    root = str(tmp_path / "tbl")
    VersionedTable(spark, root).commit(spark.range(0, 1).toDF("id"))
    barrier = threading.Barrier(2)
    errors = []

    def writer(lo: int) -> None:
        t = VersionedTable(spark, root)
        df = spark.range(lo, lo + 2).toDF("id")
        barrier.wait()
        for _ in range(5):  # retry-on-conflict loop
            try:
                t.commit(df)
                return
            except CommitConflictError:
                continue
        errors.append(f"writer {lo} never landed")

    threads = [threading.Thread(target=writer, args=(lo,)) for lo in (100, 200)]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=120)
    assert not errors
    t = VersionedTable(spark, root)
    got = sorted(r.id for r in t.read().collect())
    assert got == [0, 100, 101, 200, 201], f"lost update: {got}"
    assert t.current_version() == 3  # exactly two commits landed after v1


def test_timestamp_time_travel(spark, tmp_path):
    """FOR TIMESTAMP AS OF semantics: reads resolve to the snapshot current
    at that instant; a timestamp before the first commit errors."""
    import pytest

    from lakeflow.tables import VersionedTable

    t = VersionedTable(spark, str(tmp_path / "tbl"))
    t.commit(spark.range(0, 3).toDF("id"))
    ts_between = __import__("datetime").datetime.now(
        __import__("datetime").timezone.utc
    ).isoformat()
    t.commit(spark.range(3, 5).toDF("id"))
    assert t.read(timestamp=ts_between).count() == 3
    assert t.version_at(ts_between) == 1
    now = __import__("datetime").datetime.now(
        __import__("datetime").timezone.utc
    ).isoformat()
    assert t.read(timestamp=now).count() == 5
    with pytest.raises(ValueError, match="no snapshot"):
        t.version_at("2000-01-01T00:00:00+00:00")
    with pytest.raises(ValueError, match="not both"):
        t.read(version=1, timestamp=now)


def test_table_changes_stream_backfills_evolved_columns(spark, tmp_path):
    """Streaming a schema-evolved table: commits written BEFORE a column
    existed stream back with NULL for it (the reader resolves every batch
    against the latest recorded schema)."""
    import tempfile

    from lakeflow.sources.table_stream import register_table_changes_source
    from lakeflow.tables import VersionedTable

    register_table_changes_source(spark)
    t = VersionedTable(spark, str(tmp_path / "tbl"))
    t.commit(spark.createDataFrame([(1, "a")], "id int, name string"))
    t.commit(
        spark.createDataFrame([(2, "b", 9.5)], "id int, name string, score double"),
        merge_schema=True,
    )
    q = (
        spark.readStream.format("lakeflow_table_changes")
        .option("path", t.root)
        .load()
        .writeStream.format("memory")
        .queryName("evolved_stream")
        .option("checkpointLocation", tempfile.mkdtemp())
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {r["id"]: (r["name"], r["score"]) for r in spark.table("evolved_stream").collect()}
    assert rows == {1: ("a", None), 2: ("b", 9.5)}


def test_delete_where_prunes_untouched_dirs(spark, tmp_path):
    """Copy-on-write DELETE: dirs whose stats exclude the predicate range
    carry over by reference; only the candidate remainder rewrites.
    Deleted rows stay time-travelable until expiry."""
    from lakeflow.tables import VersionedTable

    t = VersionedTable(spark, str(tmp_path / "tbl"))
    for lo in (0, 100, 200, 300):
        t.commit(
            spark.range(lo, lo + 50).toDF("id"), stats_cols=["id"]
        )
    before = set(t._manifest(4)["dirs"])
    v = t.delete_where("id BETWEEN 120 AND 130", prune_between={"id": (120, 130)})
    m = t._manifest(v)
    carried = set(m["dirs"]) & before
    assert len(carried) == 3, "stats pruning must keep 3 of 4 dirs untouched"
    assert t.read().count() == 200 - 11
    assert t.read().filter("id BETWEEN 120 AND 130").count() == 0
    assert t.read(version=4).count() == 200  # time travel intact


def test_delete_where_sql_statement(spark, tmp_path):
    from lakeflow.sqlx import LakehouseSQL
    from lakeflow.tables import TableCatalog

    lh = LakehouseSQL(spark, TableCatalog(spark, str(tmp_path / "wh")))
    lh.execute("CREATE VERSIONED TABLE d AS SELECT id FROM range(10)")
    r = lh.execute("DELETE FROM VERSIONED d WHERE id >= 7")
    assert r["deleted_from"] == "d"
    assert lh.execute("SELECT count(*) AS n FROM d").first()["n"] == 7


def test_update_where_rewrites_only_candidates(spark, tmp_path):
    """Copy-on-write UPDATE: pruned dirs carry over; matching rows take the
    SET expressions, non-matching rows in rewritten dirs pass unchanged;
    prior values stay time-travelable."""
    from lakeflow.tables import VersionedTable

    t = VersionedTable(spark, str(tmp_path / "tbl"))
    for lo in (0, 50):
        t.commit(
            spark.range(lo, lo + 50).toDF("id").selectExpr("id", "CAST(id AS DOUBLE) AS v"),
            stats_cols=["id"],
        )
    before = set(t._manifest(2)["dirs"])
    v = t.update_where(
        "id BETWEEN 10 AND 12", {"v": "v + 1000"}, prune_between={"id": (10, 12)}
    )
    assert len(set(t._manifest(v)["dirs"]) & before) == 1  # dir 2 carried
    got = {r["id"]: r["v"] for r in t.read().filter("id <= 13").collect()}
    assert got[10] == 1010.0 and got[12] == 1012.0
    assert got[9] == 9.0 and got[13] == 13.0
    assert t.read(version=2).filter("id = 10").first()["v"] == 10.0


def test_update_where_sql_statement(spark, tmp_path):
    from lakeflow.sqlx import LakehouseSQL
    from lakeflow.tables import TableCatalog

    lh = LakehouseSQL(spark, TableCatalog(spark, str(tmp_path / "wh")))
    lh.execute(
        "CREATE VERSIONED TABLE u AS SELECT id, 'x' AS tag FROM range(5)"
    )
    lh.execute("UPDATE VERSIONED u SET tag = 'hot' WHERE id >= 3")
    got = {r["id"]: r["tag"] for r in lh.execute("SELECT * FROM u").collect()}
    assert got == {0: "x", 1: "x", 2: "x", 3: "hot", 4: "hot"}


def test_shallow_clone_shares_data_then_diverges(spark, tmp_path):
    """clone_to copies NO data (the clone's manifest references the source's
    dirs), and post-clone commits on either side are invisible to the other."""
    import os

    src = VersionedTable(spark, str(tmp_path / "src"))
    src.commit(spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"))
    clone = src.clone_to(str(tmp_path / "clone"))

    assert {(r.k, r.v) for r in clone.read().collect()} == {(1, "a"), (2, "b")}
    # Zero data files under the clone's own data root.
    assert os.listdir(str(tmp_path / "clone" / "data")) == []

    src.commit(spark.createDataFrame([(3, "c")], "k long, v string"))
    clone.commit(spark.createDataFrame([(9, "z")], "k long, v string"))
    assert {r.k for r in src.read().collect()} == {1, 2, 3}
    assert {r.k for r in clone.read().collect()} == {1, 2, 9}


def test_clone_expire_never_deletes_source_data(spark, tmp_path):
    """Vacuuming a shallow clone must not reach into the source table: after
    the clone overwrites and expires its snapshots, the source still reads
    (the Delta VACUUM-on-shallow-clone contract)."""
    src = VersionedTable(spark, str(tmp_path / "src"))
    src.commit(spark.createDataFrame([(1, "a")], "k long, v string"))
    clone = src.clone_to(str(tmp_path / "clone"))
    clone.commit(
        spark.createDataFrame([(5, "e")], "k long, v string"), mode="overwrite"
    )
    expired = clone.expire_snapshots(keep_last=1)
    assert expired == [1]
    # The source's data dir survived the clone's vacuum.
    assert {(r.k, r.v) for r in src.read().collect()} == {(1, "a")}
    assert {(r.k, r.v) for r in clone.read().collect()} == {(5, "e")}


def test_clone_refuses_nonempty_destination(spark, tmp_path):
    import pytest

    src = VersionedTable(spark, str(tmp_path / "src"))
    src.commit(spark.createDataFrame([(1, "a")], "k long, v string"))
    dest = VersionedTable(spark, str(tmp_path / "dest"))
    dest.commit(spark.createDataFrame([(2, "b")], "k long, v string"))
    with pytest.raises(ValueError, match="not empty"):
        src.clone_to(str(tmp_path / "dest"))


def test_commit_txn_marker_skips_replayed_batch(spark, tmp_path):
    """A commit carrying txn=(app, v) must be skipped when v <= the recorded
    watermark for that app — including after unrelated commits in between
    (the marker must survive every manifest-producing path)."""
    t = VersionedTable(spark, str(tmp_path / "t"))
    b0 = spark.createDataFrame([(1, "a")], "k long, v string")
    b1 = spark.createDataFrame([(2, "b")], "k long, v string")

    v1 = t.commit(b0, txn=("appA", 0))
    assert v1 == 1
    # exact replay: no new version, no duplicate rows
    assert t.commit(b0, txn=("appA", 0)) == 1
    assert t.read().count() == 1

    v2 = t.commit(b1, txn=("appA", 1))
    assert v2 == 2
    # unrelated non-txn commit must not erase the watermark
    t.commit(spark.createDataFrame([(3, "c")], "k long, v string"))
    assert t.commit(b0, txn=("appA", 0)) == 3  # still skipped
    assert t.commit(b1, txn=("appA", 1)) == 3
    assert t.read().count() == 3
    # a second app tracks independently
    assert t.commit(b0, txn=("appB", 0)) == 4


def test_stream_append_is_exactly_once_under_replay(spark, tmp_path):
    """stream_append: draining a feed appends each batch once; a simulated
    crash-between-commit-and-checkpoint (direct re-commit of an already
    applied batch id) must be a no-op, and a second availableNow run over
    the same checkpoint must add nothing."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from lakeflow.sources.streams import file_stream
    from lakeflow.streaming.sinks import stream_append

    feed_dir = tmp_path / "feed"
    feed_dir.mkdir()
    schema_pa = pa.schema([("k", pa.int64()), ("v", pa.string())])
    for i, rows in enumerate(([(1, "a"), (2, "b")], [(3, "c")])):
        cols = list(zip(*rows))
        pq.write_table(
            pa.table(
                {f.name: list(c) for f, c in zip(schema_pa, cols)},
                schema=schema_pa,
            ),
            feed_dir / f"b{i}.parquet",
        )
        import os as _os

        _os.utime(feed_dir / f"b{i}.parquet", (1_700_000_000 + i * 10,) * 2)

    table = VersionedTable(spark, str(tmp_path / "state"))
    ckpt = str(tmp_path / "ckpt")
    schema = spark.read.parquet(str(feed_dir / "b0.parquet")).schema

    stream = file_stream(spark, str(feed_dir), schema, max_files_per_trigger=1)
    stream_append(stream, table, checkpoint=ckpt).awaitTermination()
    assert table.read().count() == 3
    v = table.current_version()

    # crash-window replay of batch 0
    replay = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    assert table.commit(replay, mode="append", txn=("stream_append", 0)) == v
    assert table.read().count() == 3

    # restart from the same checkpoint: nothing new to process
    stream2 = file_stream(spark, str(feed_dir), schema, max_files_per_trigger=1)
    stream_append(stream2, table, checkpoint=ckpt).awaitTermination()
    assert table.read().count() == 3


def test_partition_evolution_reads_across_layouts(spark, tmp_path):
    """Partition evolution (Iceberg-style, metadata-only): commits may
    choose different partition columns; reads group dirs by recorded layout
    and union by name, time travel sees each era's layout, DML carries the
    layout record forward, and the hive-partitioned subset still prunes."""
    t = VersionedTable(spark, str(tmp_path / "t"))
    rows = "k long, cat string, v long"
    t.commit(spark.createDataFrame([(1, "a", 10), (2, "b", 20)], rows))
    t.commit(
        spark.createDataFrame([(3, "a", 30), (4, "b", 40)], rows),
        partition_by=["cat"],
    )
    t.commit(spark.createDataFrame([(5, "a", 50)], rows), partition_by=["k"])

    got = sorted((r.k, r.cat, r.v) for r in t.read().collect())
    assert got == [(1, "a", 10), (2, "b", 20), (3, "a", 30), (4, "b", 40), (5, "a", 50)]
    assert t.read(version=1).count() == 2
    assert t.read(version=2).count() == 4

    # DML over the mixed table keeps every layer readable (and must carry
    # the partitioning record through its fresh manifest).
    t.delete_where("v = 20")
    got = sorted((r.k, r.v) for r in t.read().collect())
    assert got == [(1, 10), (3, 30), (4, 40), (5, 50)]

    # compaction unifies layouts and still round-trips
    t.compact(small_dir_max_bytes=1 << 30)
    assert sorted((r.k, r.v) for r in t.read().collect()) == got


def test_optimize_zorder_tightens_envelopes_and_round_trips(spark, tmp_path):
    """OPTIMIZE ZORDER: rewriting on the 2-dim Z-curve must leave rows
    bit-identical, time-travelable, and make a 2-dim box predicate prune
    most dirs (single-dim stats from the pre-optimize layout prune none)."""
    from pyspark.sql import functions as F

    t = VersionedTable(spark, str(tmp_path / "t"))
    df = spark.range(0, 4096).select(
        (F.col("id") % 64).alias("x"),
        F.floor(F.col("id") / 64).alias("y"),
        F.col("id").alias("payload"),
    )
    t.commit(df.repartition(8), stats_cols=["x", "y"])
    assert t.pruned_dirs({"x": (10, 12), "y": (10, 12)}) == 0

    v = t.optimize_zorder(["x", "y"], n_dirs=16)
    assert v == 2
    assert t.pruned_dirs({"x": (10, 12), "y": (10, 12)}) >= 12
    got = sorted(r.payload for r in t.scan(between={"x": (10, 12), "y": (10, 12)}).collect())
    want = sorted(
        r.payload for r in df.filter("x between 10 and 12 and y between 10 and 12").collect()
    )
    assert got == want
    assert t.read().count() == 4096
    assert t.read(version=1).count() == 4096  # pre-optimize still travels


def test_sqlx_optimize_zorder_statement(spark, tmp_path):
    """The SQL surface routes OPTIMIZE t ZORDER BY (x, y) to the
    z-clustered rewrite."""
    from pyspark.sql import functions as F

    from lakeflow.sqlx import LakehouseSQL
    from lakeflow.tables import TableCatalog

    lh = LakehouseSQL(spark, TableCatalog(spark, str(tmp_path / "wh")))
    df = spark.range(0, 1024).select(
        (F.col("id") % 32).alias("x"),
        F.floor(F.col("id") / 32).alias("y"),
    )
    df.createOrReplaceTempView("zsrc")
    lh.execute("CREATE VERSIONED TABLE zt AS SELECT * FROM zsrc")
    out = lh.execute("OPTIMIZE zt ZORDER BY (x, y)")
    assert out["zordered_by"] == ["x", "y"] and out["compacted"]
    t = lh.catalog.load("zt")
    assert t.read().count() == 1024
    assert t.pruned_dirs({"x": (3, 4), "y": (3, 4)}) > 0


def test_threaded_writers_all_land_with_retry(spark, tmp_path):
    """Optimistic concurrency under REAL thread interleaving: four writers
    race append commits; losers retry from the fresh current version. Every
    batch must land exactly once, versions must be gapless, and the final
    row set must be the union of all batches."""
    import threading

    from lakeflow.tables import CommitConflictError

    t = VersionedTable(spark, str(tmp_path / "t"))
    t.commit(spark.createDataFrame([(0, -1)], "writer int, seq int"))
    errors: list[Exception] = []

    def writer(wid: int) -> None:
        try:
            df = spark.createDataFrame([(wid, s) for s in range(3)],
                                       "writer int, seq int")
            for _ in range(50):  # bounded retry loop
                try:
                    t.commit(df)
                    return
                except CommitConflictError:
                    continue
            raise RuntimeError(f"writer {wid} starved")
        except Exception as exc:  # pragma: no cover - surfaced via errors
            errors.append(exc)

    threads = [threading.Thread(target=writer, args=(w,)) for w in range(4)]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=300)
    assert not errors, errors

    assert t.versions() == list(range(1, 6))  # gapless: 1 seed + 4 appends
    rows = {(r.writer, r.seq) for r in t.read().collect()}
    want = {(0, -1)} | {(w, s) for w in range(4) for s in range(3)}
    assert rows == want


_XPROC_WRITER = """
import os, sys, time
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession
from lakeflow.tables import CommitConflictError, VersionedTable

wid = int(sys.argv[1]); root = sys.argv[2]; sync = sys.argv[3]
spark = (
    SparkSession.builder.master("local[4]")
    .appName(f"xproc-writer-{{wid}}")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.driver.memory", "2g")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.warehouse.dir", os.path.join(sync, f"wh-{{wid}}"))
    .getOrCreate()
)
t = VersionedTable(spark, root)
# File barrier: both drivers finish session startup BEFORE either commits,
# so the commit loops genuinely overlap instead of serializing on JVM boot.
open(os.path.join(sync, f"ready-{{wid}}"), "w").close()
deadline = time.time() + 120
while not all(
    os.path.exists(os.path.join(sync, f"ready-{{w}}")) for w in (1, 2)
):
    if time.time() > deadline:
        sys.exit(3)
    time.sleep(0.05)
for seq in range(3):
    df = spark.createDataFrame([(wid, seq)], "writer int, seq int")
    for _ in range(50):
        try:
            t.commit(df)
            break
        except CommitConflictError:
            continue
    else:
        sys.exit(4)  # starved
spark.stop()
"""


def test_cross_process_commit_race_history_linear(spark, tmp_path):
    """Optimistic concurrency across OS PROCESSES (VERDICT r12 ask #6):
    the in-process races above share one JVM and one Python heap; the
    reference's real deployment shape is N independent spark-submit
    drivers committing to one catalog
    (/root/reference/src/dags/batch_elt_company.py:34-66 runs five). Two
    separate Spark driver subprocesses — separate JVMs, separate
    filesystems views, nothing shared but the table root — each commit 3
    batches concurrently with retry-on-conflict. The os.link CAS must
    keep history LINEAR: gapless versions, every batch exactly once, no
    lost update, regardless of interleaving."""
    import subprocess
    import sys as _sys

    from lakeflow.tables import VersionedTable

    root = str(tmp_path / "xproc-tbl")
    sync = str(tmp_path / "sync")
    os.makedirs(sync)
    VersionedTable(spark, root).commit(
        spark.createDataFrame([(0, -1)], "writer int, seq int")
    )
    script = _XPROC_WRITER.format(repo=_REPO)
    # Child output goes to FILES, not pipes: Spark session boot logs can
    # exceed a 64KB pipe buffer before the child reaches its ready-file
    # write, and communicate() drains the children sequentially — a full
    # pipe would deadlock the barrier.
    logs = {
        wid: open(os.path.join(sync, f"writer-{wid}.log"), "w+")
        for wid in (1, 2)
    }
    procs = {
        wid: subprocess.Popen(
            [_sys.executable, "-c", script, str(wid), root, sync],
            cwd=sync,  # keep any derby.log/metastore debris out of the repo
            stdout=logs[wid],
            stderr=subprocess.STDOUT,
        )
        for wid in (1, 2)
    }
    try:
        for wid, p in procs.items():
            p.wait(timeout=300)
        for wid, p in procs.items():
            logs[wid].seek(0)
            tail = logs[wid].read()[-1200:]
            assert p.returncode == 0, f"writer {wid} exited {p.returncode}:\n{tail}"
    finally:
        # A hung writer must not orphan a 2g JVM into the rest of the
        # suite — kill anything still alive before surfacing the error.
        for p in procs.values():
            if p.poll() is None:
                p.kill()
                p.wait(timeout=30)
        for fh in logs.values():
            fh.close()
    t = VersionedTable(spark, root)
    # 1 seed + 6 appends, gapless — a lost update would leave a gap or a
    # missing batch; a non-atomic publish would lose one writer's version.
    assert t.versions() == list(range(1, 8))
    rows = {(r.writer, r.seq) for r in t.read().collect()}
    want = {(0, -1)} | {(w, s) for w in (1, 2) for s in range(3)}
    assert rows == want
    # Every manifest in the chain parses and carries a monotone version —
    # the "history linear" claim as committed files, not just counts.
    import json as _json

    snap_dir = os.path.join(root, "_snapshots")
    manifests = sorted(
        f for f in os.listdir(snap_dir)
        if f.endswith(".json") and not f.startswith(".")
    )
    versions = [
        _json.load(open(os.path.join(snap_dir, f)))["version"]
        for f in manifests
    ]
    assert versions == list(range(1, 8))


def test_table_constraints_gate_commits(spark, tmp_path):
    """Delta-style CHECK constraints: a breaching batch raises BEFORE any
    data is written (no snapshot, no orphan rows visible), constraints
    survive unrelated commits and DML, add-time validation rejects rules
    the current data violates, and drop restores the old behavior."""
    import pytest as _pytest

    from lakeflow.tables import ConstraintViolationError

    t = VersionedTable(spark, str(tmp_path / "t"))
    t.commit(spark.createDataFrame([(1, 10.0)], "k long, v double"))
    t.add_constraint("v_positive", "v > 0")

    with _pytest.raises(ConstraintViolationError, match="v_positive"):
        t.commit(spark.createDataFrame([(9, -1.0)], "k long, v double"))
    assert t.read().count() == 1  # breach never became a snapshot

    # survives unrelated commits and DML paths
    t.commit(spark.createDataFrame([(2, 5.0)], "k long, v double"))
    t.delete_where("k = 2")
    with _pytest.raises(ConstraintViolationError):
        t.commit(spark.createDataFrame([(3, 0.0)], "k long, v double"))

    with _pytest.raises(ConstraintViolationError, match="k_small"):
        t.add_constraint("k_small", "k < 1")

    t.drop_constraint("v_positive")
    t.commit(spark.createDataFrame([(4, -2.0)], "k long, v double"))
    assert {r.k for r in t.read().collect()} == {1, 4}


def test_sqlx_constraint_statements(spark, tmp_path):
    """SQL surface: ALTER TABLE ... ADD CONSTRAINT ... CHECK (...) routes to
    the table layer and INSERTs breaching it fail."""
    import pytest as _pytest

    from lakeflow.sqlx import LakehouseSQL
    from lakeflow.tables import ConstraintViolationError, TableCatalog

    lh = LakehouseSQL(spark, TableCatalog(spark, str(tmp_path / "wh")))
    spark.createDataFrame([(1, 10.0)], "k long, v double").createOrReplaceTempView(
        "csrc"
    )
    lh.execute("CREATE VERSIONED TABLE ct AS SELECT * FROM csrc")
    out = lh.execute("ALTER TABLE ct ADD CONSTRAINT v_pos CHECK (v > 0)")
    assert out["added_constraint"] == "v_pos"
    spark.createDataFrame([(2, -1.0)], "k long, v double").createOrReplaceTempView(
        "cbad"
    )
    with _pytest.raises(ConstraintViolationError):
        lh.execute("INSERT INTO VERSIONED ct SELECT * FROM cbad")
    out = lh.execute("ALTER TABLE ct DROP CONSTRAINT v_pos")
    assert out["dropped_constraint"] == "v_pos"
    lh.execute("INSERT INTO VERSIONED ct SELECT * FROM cbad")
    assert lh.catalog.load("ct").read().count() == 2


def test_merge_on_read_deletion_vectors(spark, tmp_path):
    """MOR DELETE: no data file rewritten — the manifest gains a deletion
    vector and reads anti-join it; appends keep the vectors, a full compact
    purges them by materializing the deletes, time travel before the delete
    sees every row, and VACUUM drops vectors only expired manifests
    reference."""
    import os as _os

    t = VersionedTable(spark, str(tmp_path / "t"))
    t.commit(spark.range(0, 100).toDF("id"), stats_cols=["id"])
    data_dirs_before = t._manifest(1)["dirs"]

    v = t.delete_where_mor("id % 10 = 0")
    assert v == 2
    assert t.read().count() == 90
    assert t._manifest(2)["dirs"] == data_dirs_before  # no rewrite
    assert len(t._manifest(2)["delete_vectors"]) == 1
    assert t.read(version=1).count() == 100

    # stacked vectors + append carry-over
    t.delete_where_mor("id = 5")
    t.commit(spark.range(100, 110).toDF("id"))
    assert t.read().count() == 99
    assert len(t._manifest(t.current_version())["delete_vectors"]) == 2

    # stats-pruned scan still honors the vectors
    got = sorted(r.id for r in t.scan(between={"id": (0, 30)}).collect())
    assert got == [i for i in range(0, 31) if i % 10 != 0 and i != 5]

    # predicate matching nothing: no new snapshot, no empty vector
    assert t.delete_where_mor("id = 123456") == t.current_version()

    # full compact reads through vectors and purges them
    t.compact()
    assert t.read().count() == 99
    assert not t._manifest(t.current_version()).get("delete_vectors")

    # VACUUM removes now-unreferenced vector files
    t.expire_snapshots(keep_last=1)
    dv_root = _os.path.join(t.root, "dv")
    assert not _os.path.isdir(dv_root) or not _os.listdir(dv_root)


def test_alter_add_drop_column_metadata_only(spark, tmp_path):
    """ALTER TABLE ADD/DROP COLUMN: metadata-only — added columns NULL-
    backfill existing rows, dropped columns vanish from current reads and
    stats but survive in time travel; no data file is touched either way."""
    import pytest as _pytest

    t = VersionedTable(spark, str(tmp_path / "t"))
    t.commit(
        spark.createDataFrame([(1, "a", 10)], "k long, v string, n long"),
        stats_cols=["n"],
    )
    dirs = t._manifest(1)["dirs"]

    t.add_column("score", "double")
    assert t._manifest(2)["dirs"] == dirs
    assert [r.score for r in t.read().collect()] == [None]
    t.commit(
        spark.createDataFrame(
            [(2, "b", 20, 1.5)], "k long, v string, n long, score double"
        )
    )
    assert sorted((r.k, r.score) for r in t.read().collect()) == [
        (1, None), (2, 1.5),
    ]
    with _pytest.raises(ValueError, match="already exists"):
        t.add_column("score", "double")

    t.drop_column("v")
    assert t.read().columns == ["k", "n", "score"]
    assert "v" in t.read(version=3).columns  # time travel sees the column
    # stats entries for the dropped column are scrubbed
    for cs in t._manifest(t.current_version()).get("stats", {}).values():
        assert "v" not in cs
    with _pytest.raises(ValueError, match="no such column"):
        t.drop_column("v")


def test_sqlx_alter_column_statements(spark, tmp_path):
    from lakeflow.sqlx import LakehouseSQL
    from lakeflow.tables import TableCatalog

    lh = LakehouseSQL(spark, TableCatalog(spark, str(tmp_path / "wh")))
    spark.createDataFrame([(1, "a")], "k long, v string").createOrReplaceTempView(
        "asrc"
    )
    lh.execute("CREATE VERSIONED TABLE at AS SELECT * FROM asrc")
    out = lh.execute("ALTER TABLE at ADD COLUMN score double")
    assert out["added_column"] == "score"
    out = lh.execute("ALTER TABLE at DROP COLUMN v")
    assert out["dropped_column"] == "v"
    assert lh.catalog.load("at").read().columns == ["k", "score"]


def test_update_where_mor_is_atomic_and_rewrite_free(spark, tmp_path):
    """MOR UPDATE: one snapshot hides the old row versions behind a deletion
    vector and appends the rewritten rows — prior dirs untouched, counts
    stable, SET casts to declared types, time travel sees pre-update
    values, and a full compact materializes everything."""
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.commit(spark.createDataFrame(
        [(i, float(i)) for i in range(20)], "k long, v double"
    ).repartition(2))
    dirs = t._manifest(1)["dirs"]

    v = t.update_where_mor("k % 5 = 0", {"v": "v + 100"})
    assert v == 2
    m = t._manifest(2)
    assert m["dirs"][: len(dirs)] == dirs and len(m["dirs"]) == len(dirs) + 1
    assert len(m["delete_vectors"]) == 1

    got = {r.k: r.v for r in t.read().collect()}
    assert len(got) == 20
    assert got[0] == 100.0 and got[5] == 105.0 and got[7] == 7.0
    assert {r.k: r.v for r in t.read(version=1).collect()}[0] == 0.0

    # SET casts to declared type (int expr -> double column)
    t.update_where_mor("k = 1", {"v": "42"})
    assert dict(t.read().filter("k = 1").collect()[0].asDict())["v"] == 42.0

    # no-match: no new snapshot, no residue
    assert t.update_where_mor("k = 999", {"v": "0"}) == t.current_version()

    t.compact()
    assert not t._manifest(t.current_version()).get("delete_vectors")
    assert {r.k: r.v for r in t.read().collect()}[5] == 105.0


def test_table_changes_stream_flags_mor_commits(spark, tmp_path):
    """A MOR delete removes no dirs but changes row visibility — the
    changes stream must treat it as a change commit: fail by default, skip
    (without emitting the update-mor rewrite dir as fresh appends) under
    on_change=skip."""
    import tempfile

    import pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from lakeflow.sources.table_stream import register_table_changes_source

    register_table_changes_source(spark)
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.commit(spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"))
    t.delete_where_mor("k = 1")
    t.update_where_mor("k = 2", {"v": "'B'"})

    def run(on_change: str, name: str):
        return (
            spark.readStream.format("lakeflow_table_changes")
            .option("path", t.root)
            .option("on_change", on_change)
            .load()
            .writeStream.format("memory")
            .queryName(name)
            .option("checkpointLocation", tempfile.mkdtemp())
            .trigger(availableNow=True)
            .start()
        )

    q = run("fail", "mor_fail")
    with pytest.raises(StreamingQueryException, match="rewrites history"):
        q.awaitTermination(120)

    q = run("skip", "mor_skip")
    q.awaitTermination(120)
    # skip: the v1 append arrives; neither the DV commits nor update-mor's
    # rewrite dir are emitted as appends.
    rows = {(r.k, r.v) for r in spark.table("mor_skip").collect()}
    assert rows == {(1, "a"), (2, "b")}


def test_table_diff_reports_mor_changes(spark, tmp_path):
    """The change-data-feed read (table_diff) state-diffs through read(),
    so MOR deletes and updates appear as proper delete/update rows with
    pre-/post-images — vectors need no special casing."""
    from lakeflow.tables import table_diff

    t = VersionedTable(spark, str(tmp_path / "t"))
    t.commit(spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, v string"
    ))
    t.delete_where_mor("k = 1")
    t.update_where_mor("k = 2", {"v": "'B'"})

    diff = {
        (r.k, r.v, r.change_type)
        for r in table_diff(t, ["k"], from_version=1).collect()
    }
    assert diff == {(1, "a", "delete"), (2, "B", "update")}


def test_stream_upsert_mor_matches_rewrite_path(spark, tmp_path):
    """Hudi-style MOR streaming upsert: same feed through the MOR sink and
    the full-rewrite sink must converge to identical state; the MOR run's
    manifests only ever ADD dirs (plus vectors), and compact materializes."""
    import os as _os
    import shutil as _shutil

    from lakeflow.sources.streams import file_stream
    from lakeflow.streaming.sinks import stream_upsert

    src = tmp_path / "src"
    src.mkdir()
    spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string").coalesce(
        1
    ).write.parquet(str(src / "b1"))
    spark.createDataFrame([(2, "B"), (3, "c")], "k long, v string").coalesce(
        1
    ).write.parquet(str(src / "b2"))
    stream_dir = tmp_path / "stream"
    stream_dir.mkdir()
    for i, d in enumerate(sorted(src.iterdir())):
        for f in d.glob("*.parquet"):
            dst = stream_dir / f"{i:03d}.parquet"
            _shutil.copy(f, dst)
            _os.utime(dst, (1_700_000_000 + i * 10,) * 2)

    results = {}
    for label, mor in (("rewrite", False), ("mor", True)):
        t = VersionedTable(spark, str(tmp_path / label))
        stream = (
            spark.readStream.schema("k long, v string")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(stream_dir))
        )
        stream_upsert(stream, t, keys=["k"], mor=mor).awaitTermination()
        results[label] = {(r.k, r.v) for r in t.read().collect()}
        if mor:
            m = t._manifest(t.current_version())
            # batch 2's vector hides the stale (2,'b') row version
            assert len(m.get("delete_vectors", [])) == 1
            assert len(m["dirs"]) == 2  # one appended dir per batch
            t.compact()
            assert not t._manifest(t.current_version()).get("delete_vectors")
            assert {(r.k, r.v) for r in t.read().collect()} == results[label]

    assert results["rewrite"] == results["mor"] == {(1, "a"), (2, "B"), (3, "c")}


def test_stream_append_autocompacts_and_stays_exactly_once(spark, tmp_path):
    """stream_append with compact_every_n_commits: the purest dir-per-batch
    accreter stays bounded, content matches the uncompacted run, and the
    carried txn watermark still swallows a crash-window replay after a
    fold."""
    import os as _os

    from lakeflow.sources.streams import file_stream
    from lakeflow.streaming.sinks import stream_append

    feed = tmp_path / "feed"
    feed.mkdir()
    for i in range(5):
        part = tmp_path / f"p{i}"
        spark.createDataFrame(
            [(i * 10 + j,) for j in range(3)], "k long"
        ).coalesce(1).write.parquet(str(part))
        import glob as _glob
        import shutil as _shutil

        dst = feed / f"{i:03d}.parquet"
        _shutil.copy(_glob.glob(f"{part}/*.parquet")[0], dst)
        _os.utime(dst, (1_700_000_000 + i,) * 2)

    t = VersionedTable(spark, str(tmp_path / "t"))
    stream_append(
        file_stream(spark, str(feed), "k long", max_files_per_trigger=1),
        t,
        checkpoint=str(tmp_path / "ckpt"),
        compact_every_n_commits=2,
    ).awaitTermination()
    assert {r.k for r in t.read().collect()} == {
        i * 10 + j for i in range(5) for j in range(3)
    }
    assert t.n_data_dirs() <= 3  # 5 appends, folds past 2 dirs
    # Replay of the last batch: watermark carried through the folds.
    v = t.current_version()
    assert (
        t.commit(
            spark.createDataFrame([(40,), (41,), (42,)], "k long"),
            mode="append",
            txn=("stream_append", 4),
        )
        == v
    )
    assert t.read().count() == 15


def test_stream_upsert_mor_autocompacts_with_dv_materialization(
    spark, tmp_path
):
    """MOR streaming upsert with compact_every_n_commits: the in-stream
    incremental fold reads the small tail THROUGH its deletion vectors, so
    state matches the rewrite-path twin while the dir count stays bounded."""
    import glob as _glob
    import os as _os
    import shutil as _shutil

    from lakeflow.sources.streams import file_stream
    from lakeflow.streaming.sinks import stream_upsert

    feed = tmp_path / "feed"
    feed.mkdir()
    batches = [
        [(1, "a"), (2, "b")],
        [(2, "B"), (3, "c")],   # rewrites key 2 -> DV on batch-1's dir
        [(1, "A"), (4, "d")],   # rewrites key 1
        [(3, "C")],             # rewrites key 3
    ]
    for i, rows in enumerate(batches):
        part = tmp_path / f"p{i}"
        spark.createDataFrame(rows, "k long, v string").coalesce(1).write.parquet(
            str(part)
        )
        dst = feed / f"{i:03d}.parquet"
        _shutil.copy(_glob.glob(f"{part}/*.parquet")[0], dst)
        _os.utime(dst, (1_700_000_000 + i,) * 2)

    def run(label, **kwargs):
        t = VersionedTable(spark, str(tmp_path / label))
        stream_upsert(
            file_stream(
                spark, str(feed), "k long, v string", max_files_per_trigger=1
            ),
            t,
            keys=["k"],
            checkpoint=str(tmp_path / f"{label}_ckpt"),
            **kwargs,
        ).awaitTermination()
        return t

    want = {
        (r.k, r.v) for r in run("rewrite").read().collect()
    }
    t = run("mor_auto", mor=True, compact_every_n_commits=2)
    assert {(r.k, r.v) for r in t.read().collect()} == want
    assert want == {(1, "A"), (2, "B"), (3, "C"), (4, "d")}
    assert t.n_data_dirs() <= 3
    # The folds materialized the folded dirs' deletes into the merged dir
    # (read-through-DV), and carried DVs are keyed by file path so they
    # cannot re-mask the merged dir's new files: no resurrection of stale
    # row versions, no double-masking of live ones — exactly one row per
    # key survives.
    assert t.read().count() == 4
    assert t.read().groupBy("k").count().filter("count > 1").count() == 0


def test_constraints_gate_wap_publish(spark, tmp_path):
    """Table CHECK constraints must also gate the write-audit-publish path:
    a staged batch that breaches a constraint never publishes, even when
    the caller's expectation list would have let it through."""
    import pytest as _pytest

    from lakeflow.tables import ConstraintViolationError

    t = VersionedTable(spark, str(tmp_path / "t"))
    t.commit(spark.createDataFrame([(1, 1.0)], "k long, v double"))
    t.add_constraint("v_pos", "v > 0")
    with _pytest.raises(ConstraintViolationError):
        t.commit_audited(
            spark.createDataFrame([(2, -1.0)], "k long, v double"),
            expectations=[],
        )
    assert t.read().count() == 1


def test_maintain_pays_down_deletion_vector_debt(spark, tmp_path):
    """The maintenance pass full-compacts once accumulated MOR vectors cross
    the policy threshold, purging them; below threshold it leaves the MOR
    debt in place."""
    from lakeflow.tables import TableCatalog

    cat = TableCatalog(spark, str(tmp_path / "wh"))
    t = cat.create(
        "mort", spark.createDataFrame([(i, i) for i in range(10)], "k long, v long")
    )
    for i in range(3):
        t.delete_where_mor(f"k = {i}")
    assert len(t._manifest(t.current_version())["delete_vectors"]) == 3

    rep = cat.maintain("mort", max_delete_vectors=8)
    assert not rep["compacted"]
    assert len(t._manifest(t.current_version())["delete_vectors"]) == 3

    rep = cat.maintain("mort", max_delete_vectors=2)
    assert rep["compacted"]
    assert not t._manifest(t.current_version()).get("delete_vectors")
    assert t.read().count() == 7


def test_describe_detail_and_files(spark, tmp_path):
    """files() walks only the manifest (one row per dir with bytes/layout/
    stats); detail() summarizes version, constraints, DV debt, txns, and
    layout mix — the DESCRIBE DETAIL surface."""
    from lakeflow.sqlx import LakehouseSQL
    from lakeflow.tables import TableCatalog

    lh = LakehouseSQL(spark, TableCatalog(spark, str(tmp_path / "wh")))
    spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0)], "k long, cat string, v double"
    ).createOrReplaceTempView("dsrc")
    lh.execute("CREATE VERSIONED TABLE dt AS SELECT * FROM dsrc")
    t = lh.catalog.load("dt")
    t.commit(
        spark.createDataFrame([(3, "a", 3.0)], "k long, cat string, v double"),
        partition_by=["cat"],
        stats_cols=["k"],
    )
    t.add_constraint("k_pos", "k > 0")
    t.delete_where_mor("k = 1")

    files = lh.execute("DESCRIBE FILES dt").collect()
    assert len(files) == 2
    by_layout = {tuple(r.partitioning): r for r in files}
    assert () in by_layout and ("cat",) in by_layout
    assert all(r.bytes > 0 and r.n_files > 0 for r in files)
    assert by_layout[("cat",)].stats["k"] == "[3, 3]"

    d = lh.execute("DESCRIBE DETAIL dt")
    assert d["version"] == t.current_version()
    assert d["n_dirs"] == 2 and d["n_layouts"] == 2
    assert d["constraints"] == {"k_pos": "k > 0"}
    assert d["n_delete_vectors"] == 1 and d["n_columns"] == 3


def test_check_constraint_null_passes(spark, tmp_path):
    """SQL CHECK semantics: a NULL (unknown) predicate result PASSES — only
    FALSE violates (Delta's behavior). Nullability is expressed as an
    explicit IS NOT NULL constraint."""
    import pytest as _pytest

    from lakeflow.tables import ConstraintViolationError

    t = VersionedTable(spark, str(tmp_path / "t"))
    t.commit(spark.createDataFrame([(1, 1.0)], "k long, v double"))
    t.add_constraint("v_pos", "v > 0")
    # NULL v: v > 0 is unknown -> passes
    t.commit(spark.createDataFrame([(2, None)], "k long, v double"))
    assert t.read().count() == 2

    t.add_constraint("v_not_null_go_forward", "v IS NOT NULL OR k <= 2")
    with _pytest.raises(ConstraintViolationError):
        t.commit(spark.createDataFrame([(3, None)], "k long, v double"))


def test_analyze_retrofits_stats_for_pruning(spark, tmp_path):
    """ANALYZE computes per-dir zone maps in one scan for a table written
    without stats_cols; scan pruning works afterwards and results stay
    exact. The grouped single-pass must attribute rows to the right dir
    even across evolved layouts."""
    from lakeflow.sqlx import LakehouseSQL
    from lakeflow.tables import TableCatalog

    lh = LakehouseSQL(spark, TableCatalog(spark, str(tmp_path / "wh")))
    t = lh.catalog.create(
        "at",
        spark.createDataFrame([(i, i) for i in range(100)], "id long, k long"),
    )
    t.commit(
        spark.createDataFrame(
            [(i, i) for i in range(1000, 1100)], "id long, k long"
        ),
        partition_by=["k"],  # second dir under a DIFFERENT layout
    )
    assert t.pruned_dirs({"k": (0, 50)}) == 0  # no stats yet

    out = lh.execute("ANALYZE TABLE at COMPUTE STATISTICS FOR COLUMNS (k)")
    assert out["columns"] == ["k"]
    assert t.pruned_dirs({"k": (0, 50)}) == 1
    got = sorted(r.k for r in t.scan(between={"k": (40, 60)}).collect())
    assert got == list(range(40, 61))


def test_table_changes_stream_cdf_mode_emits_deletes(spark, tmp_path):
    """mode=cdf: appends stream as 'insert' rows, a MOR delete streams its
    pre-image as a 'delete' row, and an update-mor commit streams the
    delete+insert pair — the streaming CDF rendering of the MOR table."""
    import tempfile

    from lakeflow.sources.table_stream import register_table_changes_source

    register_table_changes_source(spark)
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.commit(spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"))
    t.delete_where_mor("k = 1")
    t.update_where_mor("k = 2", {"v": "'B'"})

    q = (
        spark.readStream.format("lakeflow_table_changes")
        .option("path", t.root)
        .option("mode", "cdf")
        .load()
        .writeStream.format("memory")
        .queryName("cdf_all")
        .option("checkpointLocation", tempfile.mkdtemp())
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = [
        (r.k, r.v, r._change_type) for r in spark.table("cdf_all").collect()
    ]
    assert sorted(rows) == [
        (1, "a", "delete"),   # MOR delete pre-image
        (1, "a", "insert"),   # v1 append
        (2, "B", "insert"),   # update-mor post-image
        (2, "b", "delete"),   # update-mor pre-image
        (2, "b", "insert"),   # v1 append
    ]


def test_analyze_is_incremental(spark, tmp_path):
    """Repeated ANALYZE only scans dirs missing the requested stats: a
    second run over a fully-analyzed table is a no-op (no new version), and
    after an ingest only the new dir is scanned (its stats appear, the old
    ones are untouched)."""
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.commit(spark.createDataFrame([(i,) for i in range(50)], "k long"))
    v = t.analyze(["k"])
    assert t.analyze(["k"]) == v  # fully analyzed: no-op

    t.commit(
        spark.createDataFrame([(i,) for i in range(100, 150)], "k long")
    )
    v2 = t.analyze(["k"])
    assert v2 == t.current_version()
    stats = t._manifest(v2)["stats"]
    assert len(stats) == 2
    assert t.pruned_dirs({"k": (0, 40)}) == 1


def test_rollback_restores_past_mor_deletes(spark, tmp_path):
    """RESTORE must rewind DATA state completely: rolling back past a MOR
    delete brings the vector-hidden rows back (the rollback manifest pins
    the target's — possibly empty — vector list instead of inheriting the
    current one), while constraints and txn watermarks keep carrying
    (policy and stream progress are not data)."""
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.commit(spark.range(0, 10).toDF("id"), txn=("app", 7))
    t.add_constraint("id_ok", "id >= 0")
    t.delete_where_mor("id < 5")
    assert t.read().count() == 5

    t.rollback(1)
    assert t.read().count() == 10  # deletes rewound
    m = t._manifest(t.current_version())
    assert m.get("delete_vectors", []) == []
    assert m.get("constraints") == {"id_ok": "id >= 0"}  # policy carried
    assert m.get("txns") == {"app": 7}  # stream progress carried


def test_shallow_clone_preserves_mor_and_policy_state(spark, tmp_path):
    """A shallow clone of a table with deletion vectors, evolved layouts,
    constraints, and txn watermarks must see exactly the source snapshot's
    rows and inherit the policy state."""
    t = VersionedTable(spark, str(tmp_path / "src"))
    t.commit(
        spark.createDataFrame([(i, "x") for i in range(10)], "k long, cat string"),
        txn=("app", 3),
    )
    t.commit(
        spark.createDataFrame([(100, "y")], "k long, cat string"),
        partition_by=["cat"],
    )
    t.add_constraint("k_ok", "k >= 0")
    t.delete_where_mor("k < 5")
    assert t.read().count() == 6

    c = t.clone_to(str(tmp_path / "clone"))
    assert {r.k for r in c.read().collect()} == {5, 6, 7, 8, 9, 100}
    m = c._manifest(1)
    assert len(m["delete_vectors"]) == 1
    assert m["constraints"] == {"k_ok": "k >= 0"}
    assert m["txns"] == {"app": 3}


def test_constraints_gate_update_and_mor_dml(spark, tmp_path):
    """CHECK constraints gate EVERY row-producing publish — not just
    commit(): UPDATE (copy-on-write), UPDATE ... merge-on-read, and the
    MOR upsert all reject a breaching result before any manifest lands
    (ADVICE r5 medium: these paths published directly before)."""
    import pytest as _pytest

    from lakeflow.tables import ConstraintViolationError

    t = VersionedTable(spark, str(tmp_path / "t"))
    t.commit(spark.createDataFrame([(1, 10.0), (2, 20.0)], "k long, v double"))
    t.add_constraint("v_positive", "v > 0")
    v = t.current_version()

    with _pytest.raises(ConstraintViolationError, match="v_positive"):
        t.update_where("k = 1", {"v": "-5.0"})
    assert t.current_version() == v  # no snapshot published

    with _pytest.raises(ConstraintViolationError, match="v_positive"):
        t.update_where_mor("k = 2", {"v": "v - 100.0"})
    assert t.current_version() == v

    with _pytest.raises(ConstraintViolationError, match="v_positive"):
        t.upsert_mor(
            spark.createDataFrame([(3, -1.0)], "k long, v double"), keys=["k"]
        )
    assert t.current_version() == v
    assert {(r.k, r.v) for r in t.read().collect()} == {(1, 10.0), (2, 20.0)}

    # Compliant DML still lands on every path.
    t.update_where("k = 1", {"v": "15.0"})
    t.update_where_mor("k = 2", {"v": "v + 1.0"})
    t.upsert_mor(
        spark.createDataFrame([(3, 1.0)], "k long, v double"), keys=["k"]
    )
    assert {(r.k, r.v) for r in t.read().collect()} == {
        (1, 15.0), (2, 21.0), (3, 1.0)
    }


def test_stream_dedup_ingest_dedups_and_replays_exactly_once(spark, tmp_path):
    """stream_dedup_ingest: within-batch keep-first and index anti-join both
    fire across three micro-batches; a crash-window recommit of batch 0
    (either table) is swallowed by the per-app txn watermark; a checkpoint
    restart appends nothing."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from lakeflow.sources.streams import file_stream
    from lakeflow.streaming.sinks import stream_dedup_ingest

    feed_dir = tmp_path / "feed"
    feed_dir.mkdir()
    schema_pa = pa.schema([("doc_id", pa.int64()), ("fp", pa.string())])
    # b0: fresh A, B plus a within-batch dup of A (id 3 must drop)
    # b1: fresh C plus a cross-batch dup of B (id 5 must drop)
    # b2: dup of A again (id 6 must drop)
    batches = [
        [(1, "A"), (2, "B"), (3, "A")],
        [(4, "C"), (5, "B")],
        [(6, "A")],
    ]
    import os as _os

    for i, rows in enumerate(batches):
        ids, fps = zip(*rows)
        pq.write_table(
            pa.table({"doc_id": list(ids), "fp": list(fps)}, schema=schema_pa),
            feed_dir / f"b{i}.parquet",
        )
        _os.utime(feed_dir / f"b{i}.parquet", (1_700_000_000 + i * 10,) * 2)

    survivors = VersionedTable(spark, str(tmp_path / "surv"))
    index = VersionedTable(spark, str(tmp_path / "idx"))
    ckpt = str(tmp_path / "ckpt")
    stream = file_stream(
        spark, str(feed_dir), "doc_id bigint, fp string",
        max_files_per_trigger=1,
    )
    stream_dedup_ingest(
        stream, survivors, index, checkpoint=ckpt
    ).awaitTermination()

    state = {(r.doc_id, r.fp) for r in survivors.read().collect()}
    assert state == {(1, "A"), (2, "B"), (4, "C")}
    assert {r.fp for r in index.read().collect()} == {"A", "B", "C"}
    v_s, v_i = survivors.current_version(), index.current_version()

    # crash-window replay of batch 0 on each table: watermark swallows it
    replay = spark.createDataFrame([(1, "A"), (2, "B")], "doc_id long, fp string")
    assert (
        survivors.commit(replay, mode="append", txn=("stream_dedup_survivors", 0))
        == v_s
    )
    assert (
        index.commit(
            replay.select("fp"), mode="append", txn=("stream_dedup_index", 0)
        )
        == v_i
    )
    assert survivors.read().count() == 3 and index.read().count() == 3

    # checkpoint restart: nothing new
    stream2 = file_stream(
        spark, str(feed_dir), "doc_id bigint, fp string",
        max_files_per_trigger=1,
    )
    stream_dedup_ingest(
        stream2, survivors, index, checkpoint=ckpt
    ).awaitTermination()
    assert survivors.read().count() == 3


def test_stream_dedup_autocompacts_tables_and_keeps_exactly_once(
    spark, tmp_path
):
    """compact_every_n_commits (table twin of the streamed-index
    auto-compaction): a 4-batch ingest folds the small-file tail at
    cadence — dir count bounded, survivors identical to the uncompacted
    run — and the compaction manifest carries the txn watermarks, so a
    crash-window replay after a fold is still swallowed."""
    import os as _os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from lakeflow.sources.streams import file_stream
    from lakeflow.streaming.sinks import stream_dedup_ingest

    feed_dir = tmp_path / "feed"
    feed_dir.mkdir()
    schema_pa = pa.schema([("doc_id", pa.int64()), ("fp", pa.string())])
    batches = [
        [(1, "A"), (2, "B")],
        [(3, "C"), (4, "A")],   # cross-batch dup of A drops
        [(5, "D")],
        [(6, "E"), (7, "C")],   # cross-batch dup of C drops
    ]
    for i, rows in enumerate(batches):
        ids, fps = zip(*rows)
        pq.write_table(
            pa.table({"doc_id": list(ids), "fp": list(fps)}, schema=schema_pa),
            feed_dir / f"b{i}.parquet",
        )
        _os.utime(feed_dir / f"b{i}.parquet", (1_700_000_000 + i * 10,) * 2)

    def run(root: str, **kwargs):
        surv = VersionedTable(spark, str(tmp_path / f"{root}_surv"))
        idx = VersionedTable(spark, str(tmp_path / f"{root}_idx"))
        stream_dedup_ingest(
            file_stream(
                spark, str(feed_dir), "doc_id bigint, fp string",
                max_files_per_trigger=1,
            ),
            surv,
            idx,
            checkpoint=str(tmp_path / f"{root}_ckpt"),
            **kwargs,
        ).awaitTermination()
        return surv, idx

    plain_surv, _ = run("plain")
    surv, idx = run("auto", compact_every_n_commits=2)

    want = {(r.doc_id, r.fp) for r in plain_surv.read().collect()}
    assert {(r.doc_id, r.fp) for r in surv.read().collect()} == want
    assert want == {(1, "A"), (2, "B"), (3, "C"), (5, "D"), (6, "E")}
    # 4 append commits, cadence 2: the tail folds whenever >2 dirs exist.
    assert surv.n_data_dirs() <= 3
    assert idx.n_data_dirs() <= 3
    assert plain_surv.n_data_dirs() == 4

    # Replay after a fold: the carried txn watermark still swallows it.
    v_s = surv.current_version()
    replay = spark.createDataFrame([(1, "A")], "doc_id long, fp string")
    assert (
        surv.commit(replay, mode="append", txn=("stream_dedup_survivors", 3))
        == v_s
    )
    assert surv.read().count() == 5


def test_rename_column_is_metadata_only_and_reads_across_epochs(spark, tmp_path):
    """RENAME COLUMN: old dirs (old physical name) and new dirs (new name)
    union into one logical schema; no file is rewritten; time travel to the
    pre-rename version shows the old name; a second rename chains through
    the alias history."""
    import glob
    import os

    t = VersionedTable(spark, str(tmp_path / "t"))
    df = spark.range(6).selectExpr("id AS k", "CAST(id * 10 AS DOUBLE) AS amount")
    t.commit(df.filter("k < 3"))
    files_before = set(glob.glob(str(tmp_path / "t") + "/**/*.parquet", recursive=True))
    v_pre = t.current_version()

    t.rename_column("amount", "value")
    assert files_before == set(
        glob.glob(str(tmp_path / "t") + "/**/*.parquet", recursive=True)
    ), "rename must not touch data files"
    assert t.read().columns == ["k", "value"]
    # new-epoch append writes the NEW name; both epochs read as one
    t.commit(df.filter("k >= 3").withColumnRenamed("amount", "value"), mode="append")
    got = {(r.k, r.value) for r in t.read().collect()}
    assert got == {(i, float(i * 10)) for i in range(6)}
    # time travel: pre-rename version keeps the old name
    assert t.read(version=v_pre).columns == ["k", "amount"]

    # chained rename: value -> amt resolves files written under BOTH priors
    t.rename_column("value", "amt")
    got2 = {(r.k, r.amt) for r in t.read().collect()}
    assert got2 == {(i, float(i * 10)) for i in range(6)}

    # row-level DML through the renamed logical name
    t.update_where("k = 0", {"amt": "amt + 1"})
    assert {r.amt for r in t.read().filter("k = 0").collect()} == {1.0}


def test_rename_column_keeps_stats_pruning_and_guards(spark, tmp_path):
    from pyspark.sql import functions as F

    t = VersionedTable(spark, str(tmp_path / "t"))
    df = spark.range(100).selectExpr("id AS k", "id AS metric")
    t.commit(df.filter("k < 50").repartition(1))
    t.commit(df.filter("k >= 50").repartition(1), mode="append")
    t.rename_column("metric", "score")
    # zone-map stats renamed with the column: pruning still cuts a dir
    pruned = t.scan(between={"score": (0, 10)})
    assert {r.k for r in pruned.collect()} == set(range(11))
    m = t._manifest(t.current_version())
    assert all("score" in cs for cs in m["stats"].values() if cs)

    t.add_constraint("nonneg", "score >= 0")
    import pytest as _pt

    with _pt.raises(ValueError, match="constraint"):
        t.rename_column("score", "points")
    t.drop_constraint("nonneg")
    t.rename_column("score", "points")
    with _pt.raises(ValueError, match="historical name"):
        t.rename_column("points", "score")  # old name stays reserved


def test_rename_column_sql_route(spark, tmp_path):
    from lakeflow.sqlx import LakehouseSQL
    from lakeflow.tables import TableCatalog

    cat = TableCatalog(spark, str(tmp_path))
    lh = LakehouseSQL(spark, cat)
    lh.execute(
        "CREATE VERSIONED TABLE r AS SELECT id AS k, id * 2 AS v FROM range(4)"
    )
    out = lh.execute("ALTER TABLE r RENAME COLUMN v TO doubled")
    assert out["renamed_column"] == "v->doubled"
    assert lh.execute("SELECT sum(doubled) AS s FROM r").first()["s"] == 12


def test_generated_columns_derive_validate_and_survive_dml(spark, tmp_path):
    """GENERATED ALWAYS AS: batches omitting the column get it derived;
    batches supplying a WRONG value are rejected before any byte lands; the
    definition survives DML/compaction manifests and clones; constraints
    may reference the generated column."""
    import pytest as _pt

    t = VersionedTable(spark, str(tmp_path / "t"))
    df = spark.createDataFrame(
        [(1, "2024-03-05"), (2, "2023-11-20")], "k long, d string"
    )
    t.commit(df)
    t.set_generated("ingest_year", "int", "CAST(substr(d, 1, 4) AS INT)")
    # pre-declaration rows read NULL; a new batch derives the value
    t.commit(
        spark.createDataFrame([(3, "2025-06-01")], "k long, d string"),
        mode="append",
    )
    got = {(r.k, r.ingest_year) for r in t.read().collect()}
    assert got == {(1, None), (2, None), (3, 2025)}

    # supplying a wrong value is rejected
    bad = spark.createDataFrame(
        [(4, "2025-01-01", 1999)], "k long, d string, ingest_year int"
    )
    with _pt.raises(ValueError, match="generated-column mismatch"):
        t.commit(bad, mode="append")
    # supplying the RIGHT value passes
    t.commit(
        spark.createDataFrame(
            [(4, "2025-01-01", 2025)], "k long, d string, ingest_year int"
        ),
        mode="append",
    )
    # a constraint can reference the generated column
    t.delete_where("k <= 2")  # drop NULL-epoch rows first
    t.add_constraint("year_floor", "ingest_year >= 2000")
    v = t.current_version()
    t.compact()
    assert t.generated_columns().keys() == {"ingest_year"}  # carried
    clone = t.clone_to(str(tmp_path / "clone"))
    assert clone.generated_columns().keys() == {"ingest_year"}
    assert t.current_version() > v


def test_generated_column_sql_route_and_partitioning(spark, tmp_path):
    from lakeflow.sqlx import LakehouseSQL
    from lakeflow.tables import TableCatalog

    cat = TableCatalog(spark, str(tmp_path))
    lh = LakehouseSQL(spark, cat)
    lh.execute(
        "CREATE VERSIONED TABLE g AS "
        "SELECT id AS k, CAST(concat('2024-0', id + 1, '-15') AS STRING) AS d "
        "FROM range(3)"
    )
    out = lh.execute(
        "ALTER TABLE g ADD GENERATED COLUMN ingest_month string "
        "AS (substr(d, 1, 7))"
    )
    assert out["generated_column"] == "ingest_month"
    lh.execute(
        "INSERT INTO VERSIONED g SELECT id + 10 AS k, '2024-09-30' AS d "
        "FROM range(2)"
    )
    months = {
        r.ingest_month
        for r in lh.execute("SELECT ingest_month FROM g WHERE k >= 10").collect()
    }
    assert months == {"2024-09"}


def test_update_where_evaluates_where_and_sets_against_old_row(spark, tmp_path):
    """ANSI UPDATE semantics: a SET that falsifies its own WHERE must not
    skip the remaining SET columns, and cross-referencing SETs swap values
    instead of cascading — on both the copy-on-write and merge-on-read
    paths."""
    # multi-SET where the first assignment falsifies the WHERE
    t = VersionedTable(spark, str(tmp_path / "cow"))
    t.commit(
        spark.createDataFrame([(1, None, None), (2, 5, 7)], "k long, a int, b int")
    )
    t.update_where("a IS NULL", {"a": "10", "b": "20"})
    got = {(r.k, r.a, r.b) for r in t.read().collect()}
    assert got == {(1, 10, 20), (2, 5, 7)}

    # cross-referencing SETs: swap, not cascade
    t.update_where("k = 2", {"a": "b", "b": "a"})
    got = {(r.k, r.a, r.b) for r in t.read().collect()}
    assert got == {(1, 10, 20), (2, 7, 5)}

    t2 = VersionedTable(spark, str(tmp_path / "mor"))
    t2.commit(
        spark.createDataFrame([(1, 5, 7), (2, 3, 4)], "k long, a int, b int")
    )
    t2.update_where_mor("k = 1", {"a": "b", "b": "a"})
    got = {(r.k, r.a, r.b) for r in t2.read().collect()}
    assert got == {(1, 7, 5), (2, 3, 4)}


def test_generated_columns_derive_on_mor_upserts(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.commit(
        spark.createDataFrame([(1, "2024-01-05", 2024)],
                              "k long, d string, y int")
    )
    t.set_generated("y2", "int", "y + 1")
    # MOR upsert batch omits the generated column: must derive, not NULL
    t.upsert_mor(
        spark.createDataFrame([(1, "2024-02-01", 2024), (2, "2025-03-01", 2025)],
                              "k long, d string, y int"),
        keys=["k"],
    )
    got = {(r.k, r.y2) for r in t.read().collect()}
    assert got == {(1, 2025), (2, 2026)}


def test_table_stream_replays_pre_rename_commits_with_values(spark, tmp_path):
    """A start-from-genesis table-changes stream over a RENAMED table must
    emit real values for the renamed column in pre-rename commits (alias
    resolution at the split reader), not NULLs."""
    from lakeflow.sources.table_stream import register_table_changes_source
    from lakeflow.streaming.sinks import run_to_memory

    register_table_changes_source(spark)
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.commit(spark.createDataFrame([(1, 10), (2, 20)], "k long, v long"))
    t.rename_column("v", "w")
    t.commit(
        spark.createDataFrame([(3, 30)], "k long, w long"), mode="append"
    )
    stream = (
        spark.readStream.format("lakeflow_table_changes")
        .option("path", str(tmp_path / "t"))
        .load()
    )
    name, _ = run_to_memory(stream)
    got = {(r.k, r.w) for r in spark.table(name).collect()}
    assert got == {(1, 10), (2, 20), (3, 30)}


def test_generated_column_drop_and_rename_interactions(spark, tmp_path):
    """Dropping a generated column must retire its derivation (no
    resurrection on the next commit); renaming a generated column or one
    of its inputs is refused until the declaration is dropped."""
    import pytest as _pt

    t = VersionedTable(spark, str(tmp_path / "t"))
    t.commit(spark.createDataFrame([(1, 5)], "k long, y int"))
    t.set_generated("y2", "int", "y + 1")
    with _pt.raises(ValueError, match="generated"):
        t.rename_column("y2", "z")  # the generated column itself
    with _pt.raises(ValueError, match="generated"):
        t.rename_column("y", "yy")  # an input of the derivation
    with _pt.raises(ValueError, match="generated"):
        t.drop_column("y")  # dropping the input is refused too
    t.drop_column("y2")
    t.commit(spark.createDataFrame([(2, 6)], "k long, y int"), mode="append")
    assert t.read().columns == ["k", "y"]  # derivation retired, no y2
    t.rename_column("y", "yy")  # legal now
    assert set(t.read().columns) == {"k", "yy"}


def test_stream_fuzzy_dedup_ingest_drops_near_dups_across_batches(spark, tmp_path):
    """Streaming fuzzy ingest: a batch-2 near-copy of a batch-1 doc (one
    appended word) drops via the LSH index; a within-batch near-copy drops
    via bucket-leader-wins; genuinely novel docs survive; replaying batch 0
    is swallowed by the txn watermark."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from lakeflow.sources.streams import file_stream
    from lakeflow.streaming.sinks import stream_fuzzy_dedup_ingest

    a = "the quick brown fox jumps over the lazy dog again and again today"
    b = "entirely different content about streaming lakehouse tables here now"
    c = "a third novel document with its own unique words and phrasing style"
    batches = [
        [(1, a), (2, b)],
        [(10, a + " tail"), (11, c), (12, c + " tail")],
    ]
    feed = tmp_path / "feed"
    feed.mkdir()
    import os as _os

    for i, rows in enumerate(batches):
        ids, texts = zip(*rows)
        pq.write_table(
            pa.table({"doc_id": list(ids), "text": list(texts)}),
            feed / f"b{i}.parquet",
        )
        _os.utime(feed / f"b{i}.parquet", (1_700_000_000 + i * 10,) * 2)

    survivors = VersionedTable(spark, str(tmp_path / "surv"))
    index = VersionedTable(spark, str(tmp_path / "idx"))
    stream = file_stream(
        spark, str(feed), "doc_id long, text string", max_files_per_trigger=1
    )
    stream_fuzzy_dedup_ingest(stream, survivors, index).awaitTermination()
    kept = {r.doc_id for r in survivors.read().collect()}
    assert kept == {1, 2, 11}, kept  # 10: index hit; 12: batch leader 11

    v = survivors.current_version()
    replay = spark.createDataFrame([(1, a)], "doc_id long, text string")
    assert (
        survivors.commit(
            replay, mode="append", txn=("stream_fuzzy_dedup_survivors", 0)
        )
        == v
    )
    assert survivors.read().count() == 3


def test_governance_masks_and_row_filters(spark, tmp_path):
    """Governed reads apply row filters (on TRUE values) then all masks in
    one projection; plain read() — the owner path — is untouched; policy
    rides DML commits and survives clones; masks must be type-preserving;
    current policy governs time-travel reads (history is not a loophole)."""
    import pytest

    df = spark.createDataFrame(
        [(1, "alice", "25-989-741-2988", 100.0, "A"),
         (2, "bob", "13-702-331-4001", -50.0, "B"),
         (3, "carol", "31-155-222-9333", 900.0, "A")],
        "id long, name string, phone string, bal double, seg string",
    )
    t = VersionedTable(spark, str(tmp_path / "tbl"))
    t.commit(df)
    t.set_column_mask(
        "phone",
        "concat(repeat('*', length(phone) - 4), "
        "substr(phone, length(phone) - 3, 4))",
    )
    t.set_row_filter("no_negative", "bal >= 0")

    gov = {r.id: r for r in t.read_governed().collect()}
    assert set(gov) == {1, 3}                      # bob filtered out
    assert gov[1].phone == "***********2988"
    assert gov[1].name == "alice"                  # unmasked column intact
    assert t.read().count() == 3                   # owner path unaffected
    assert {r.phone for r in t.read().collect()} >= {"25-989-741-2988"}

    # Policy survives ordinary DML and clones.
    t.commit(spark.createDataFrame(
        [(4, "dave", "11-222-333-4444", 5.0, "B")], df.schema))
    assert t.masks() and t.row_filters()
    gov2 = {r.id: r.phone for r in t.read_governed().collect()}
    assert gov2[4] == "***********4444"
    c = t.clone_to(str(tmp_path / "clone"))
    assert c.masks() == t.masks() and c.row_filters() == t.row_filters()

    # Time travel through the governed path still applies CURRENT policy.
    early = t.read_governed(version=1)
    assert {r.id for r in early.collect()} == {1, 3}

    # Masks must preserve the column type.
    with pytest.raises(ValueError, match="type-preserving"):
        t.set_column_mask("bal", "'redacted'")

    # Drop restores visibility and cannot be resurrected by later commits.
    t.drop_row_filter("no_negative")
    t.commit(spark.createDataFrame(
        [(5, "erin", "99-888-777-6666", 1.0, "A")], df.schema))
    assert {r.id for r in t.read_governed().collect()} == {1, 2, 3, 4, 5}


def test_governance_guards_column_drop_and_rename(spark, tmp_path):
    """DROP/RENAME COLUMN reject when policy references the column; a
    masked column's own mask retires with the column."""
    import pytest

    t = VersionedTable(spark, str(tmp_path / "tbl"))
    t.commit(spark.createDataFrame(
        [(1, "x", 2.0)], "id long, name string, bal double"))
    t.set_column_mask("name", "concat(substr(name, 1, 1), '***')")
    t.set_row_filter("pos", "bal >= 0")

    with pytest.raises(ValueError, match="drop the filter first"):
        t.drop_column("bal")
    with pytest.raises(ValueError, match="drop the mask before renaming"):
        t.rename_column("name", "nm")
    with pytest.raises(ValueError, match="drop the filter before renaming"):
        t.rename_column("bal", "balance")

    t.drop_column("name")          # own mask retires silently
    assert t.masks() == {}
    t.drop_row_filter("pos")
    t.rename_column("bal", "balance")
    assert "balance" in t.read().columns


def test_tags_resolve_and_survive_expiry(spark, tmp_path):
    """Named refs: read(version='tag') resolves, tags are immutable,
    expire_snapshots never drops a tagged snapshot or its data, and
    dropping the tag releases it to the next expiry."""
    import pytest

    t = VersionedTable(spark, str(tmp_path / "tbl"))
    t.commit(spark.range(0, 3).toDF("id"))                      # v1
    t.commit(spark.range(10, 12).toDF("id"), mode="overwrite")  # v2
    t.create_tag("v1.0", version=1)                             # v3 (metadata)
    t.commit(spark.range(20, 25).toDF("id"), mode="overwrite")  # v4

    assert sorted(r.id for r in t.read(version="v1.0").collect()) == [0, 1, 2]
    with pytest.raises(ValueError, match="immutable"):
        t.create_tag("v1.0", version=2)
    with pytest.raises(ValueError, match="no such tag"):
        t.read(version="nope")

    expired = t.expire_snapshots(keep_last=1)
    assert 1 not in expired                       # tagged snapshot survives
    assert sorted(r.id for r in t.read(version="v1.0").collect()) == [0, 1, 2]
    assert t.read().count() == 5                  # current unaffected

    t.drop_tag("v1.0")
    expired = t.expire_snapshots(keep_last=1)
    assert 1 in expired                           # released by the drop


def test_branch_isolated_writes_and_zero_copy_fork(spark, tmp_path):
    """A branch forks by manifest reference (no data copied), takes the full
    write surface (append + copy-on-write DELETE) isolated from main, and
    main keeps writing independently of the branch."""
    import os

    t = VersionedTable(spark, str(tmp_path / "tbl"))
    t.commit(spark.range(0, 5).toDF("id"))                       # main v1
    n_data_dirs = len(os.listdir(tmp_path / "tbl" / "data"))

    b = t.create_branch("audit")
    # Fork wrote metadata only — no new data dirs.
    assert len(os.listdir(tmp_path / "tbl" / "data")) == n_data_dirs
    assert sorted(r.id for r in b.read().collect()) == [0, 1, 2, 3, 4]

    b.commit(spark.range(10, 12).toDF("id"))                     # branch v2
    b.delete_where("id = 3")                                     # branch v3
    assert sorted(r.id for r in b.read().collect()) == [0, 1, 2, 4, 10, 11]
    # Main never saw any of it.
    assert sorted(r.id for r in t.read().collect()) == [0, 1, 2, 3, 4]

    t.commit(spark.range(100, 101).toDF("id"))                   # main v2
    assert sorted(r.id for r in b.read().collect()) == [0, 1, 2, 4, 10, 11]
    assert t.branches()["audit"]["head"] == 3
    assert t.branches()["audit"]["forked_at"] == 1


def test_branch_fast_forward_and_ancestry_gate(spark, tmp_path):
    """fast_forward publishes the branch head as main's next snapshot;
    repeat fast-forwards of the same branch chain on; a diverged main
    refuses (its commits would be silently discarded)."""
    import pytest

    t = VersionedTable(spark, str(tmp_path / "tbl"))
    t.commit(spark.range(0, 3).toDF("id"))                       # main v1
    b = t.create_branch("stage")
    b.commit(spark.range(10, 12).toDF("id"))                     # stage head 2

    v = t.fast_forward("stage")                                  # main v2
    assert v == 2
    assert sorted(r.id for r in t.read().collect()) == [0, 1, 2, 10, 11]

    # Continue on the SAME branch, fast-forward again: allowed, because
    # main's head came from this branch.
    b.commit(spark.range(20, 21).toDF("id"))                     # stage head 3
    assert t.fast_forward("stage") == 3
    assert sorted(r.id for r in t.read().collect()) == [0, 1, 2, 10, 11, 20]

    # Diverge main; now the branch can no longer fast-forward.
    t.commit(spark.range(99, 100).toDF("id"))
    b.commit(spark.range(30, 31).toDF("id"))
    with pytest.raises(ValueError, match="diverged"):
        t.fast_forward("stage")


def test_branch_retention_guards(spark, tmp_path):
    """Main retention treats branch-referenced dirs as live; dropping the
    branch releases its private dirs to remove_orphans; retention on a
    branch handle is refused."""
    import pytest

    t = VersionedTable(spark, str(tmp_path / "tbl"))
    t.commit(spark.range(0, 3).toDF("id"))                       # main v1
    b = t.create_branch("wip")
    b.commit(spark.range(10, 13).toDF("id"), mode="overwrite")   # branch-only dir

    # Main overwrites then expires old snapshots: v1's dir is still
    # referenced by the branch fork manifest, so the branch keeps reading.
    t.commit(spark.range(50, 52).toDF("id"), mode="overwrite")   # main v2
    t.expire_snapshots(keep_last=1)
    assert sorted(r.id for r in b.read(version=1).collect()) == [0, 1, 2]

    # Orphan sweep keeps the branch-only dir while the branch lives.
    assert t.remove_orphans() == []
    assert sorted(r.id for r in b.read().collect()) == [10, 11, 12]

    with pytest.raises(ValueError, match="main table handle"):
        b.expire_snapshots()
    with pytest.raises(ValueError, match="main table handle"):
        b.remove_orphans()

    t.drop_branch("wip")
    assert t.branches() == {}
    removed = t.remove_orphans()
    assert len(removed) >= 1                      # branch-only dir reclaimed
    assert sorted(r.id for r in t.read().collect()) == [50, 51]


def test_branch_fast_forward_carries_branch_state_not_mains(spark, tmp_path):
    """Fast-forward adopts the branch head's policies/DVs verbatim (no
    carry-forward re-injecting main's), and tags created on the branch
    merge with main's."""
    t = VersionedTable(spark, str(tmp_path / "tbl"))
    t.commit(
        spark.range(0, 6).selectExpr("id", "id * 10 AS val")
    )                                                            # main v1
    t.create_tag("main-tag")                                     # main v2
    b = t.create_branch("mor")
    b.delete_where_mor("val >= 40")                              # DV on branch
    b.create_tag("branch-tag")
    assert sorted(r.id for r in b.read().collect()) == [0, 1, 2, 3]

    t.fast_forward("mor")
    assert sorted(r.id for r in t.read().collect()) == [0, 1, 2, 3]
    assert set(t.tags()) == {"main-tag", "branch-tag"}


def test_hidden_partitioning_roundtrip_and_pruning(spark, tmp_path):
    """Partition transforms: day(ts) + bucket(8, user_id) derive hidden
    physical partitions; readers never see them; scan_transformed rewrites
    source-column predicates onto them so the physical plan carries
    PartitionFilters; bucket literals hash on the source column's type."""
    from pyspark.sql import functions as F

    df = (
        spark.range(0, 1000)
        .withColumn("user_id", (F.col("id") % 50).cast("bigint"))
        .withColumn(
            "ts",
            F.expr("timestamp'2024-03-01 00:00:00' + make_interval(0,0,0,0,0,0,id*600)"),
        )
        .withColumn("value", (F.col("id") * 2).cast("double"))
    )
    t = VersionedTable(spark, str(tmp_path / "tbl"))
    t.commit(df, partition_by=["day(ts)", "bucket(8, user_id)"])

    # Hidden columns never leak.
    assert all(not c.startswith("_p_") for c in t.read().columns)
    assert t.read().count() == 1000
    assert set(t.read().columns) == {"id", "user_id", "ts", "value"}

    got = t.scan_transformed(
        point={"user_id": 7},
        between={"ts": ("2024-03-01 12:00:00", "2024-03-03 00:00:00")},
    )
    assert all(not c.startswith("_p_") for c in got.columns)
    exp = df.filter(
        (F.col("user_id") == 7)
        & F.col("ts").between("2024-03-01 12:00:00", "2024-03-03 00:00:00")
    )
    assert sorted(r.id for r in got.collect()) == sorted(
        r.id for r in exp.collect()
    )

    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "_p_day_ts" in plan.split("PartitionFilters")[1][:400]
    assert "_p_bucket8_user_id" in plan.split("PartitionFilters")[1][:400]


def test_hidden_partitioning_survives_dml_and_evolution_fallback(spark, tmp_path):
    """Specs ride the manifest through appends; a dir committed WITHOUT the
    transform disables hidden rewriting (no wrong pruning) while the
    residual filter keeps results exact."""
    from pyspark.sql import functions as F

    base = spark.range(0, 100).withColumn(
        "k", (F.col("id") % 10).cast("bigint")
    )
    t = VersionedTable(spark, str(tmp_path / "tbl"))
    t.commit(base, partition_by=["bucket(4, k)"])
    t.commit(
        spark.range(100, 200).withColumn("k", (F.col("id") % 10).cast("bigint")),
        partition_by=["bucket(4, k)"],
    )
    assert set(t.hidden_partition_specs()) == {"k"}
    got = t.scan_transformed(point={"k": 3})
    assert got.count() == 20

    # Partition-evolved append without the transform: specs no longer
    # common → no hidden rewrite, result still exact.
    t.commit(spark.range(200, 250).withColumn("k", F.lit(3).cast("bigint")))
    assert t.hidden_partition_specs() == {}
    assert t.scan_transformed(point={"k": 3}).count() == 70
    assert t.read().count() == 250


def test_seal_and_verify_integrity_detects_tampering(spark, tmp_path):
    """Content fingerprints: verify passes on pristine data, flags exactly
    the dir whose file was swapped out-of-band, and flags a vanished dir."""
    import glob as _glob
    import shutil

    from pyspark.sql import functions as F

    t = VersionedTable(spark, str(tmp_path / "tbl"))
    t.commit(spark.range(0, 50).select(F.col("id").alias("k")))
    t.commit(spark.range(50, 90).select(F.col("id").alias("k")))
    t.seal()
    rep = {r.dir: r.ok for r in t.verify_integrity().collect()}
    assert len(rep) == 2 and all(rep.values())

    # Out-of-band tamper: replace dir 2's parquet with different rows.
    # Removing the Hadoop .crc sidecar mimics a tamperer who rewrites the
    # data cleanly — detection must come from the content digest itself.
    d2 = t._manifest(t.current_version())["dirs"][1]
    victim = _glob.glob(os.path.join(d2, "*.parquet"))[0]
    spark.range(1000, 1040).select(F.col("id").alias("k")).coalesce(
        1
    ).write.parquet(str(tmp_path / "evil"), mode="overwrite")
    evil = _glob.glob(str(tmp_path / "evil" / "*.parquet"))[0]
    shutil.copyfile(evil, victim)
    for crc in _glob.glob(os.path.join(d2, ".*.crc")):
        os.unlink(crc)
    rep = {r.dir: r.ok for r in t.verify_integrity().collect()}
    assert sum(rep.values()) == 1 and rep[d2] is False

    # Bitrot variant: flip bytes in dir 1 WITHOUT touching its .crc — the
    # combined scan aborts on the checksum error and the per-dir fallback
    # still names exactly the bad dirs.
    d1 = t._manifest(t.current_version())["dirs"][0]
    v1 = _glob.glob(os.path.join(d1, "*.parquet"))[0]
    with open(v1, "r+b") as fh:
        fh.seek(200)
        fh.write(b"\xde\xad\xbe\xef")
    rep = {r.dir: r.ok for r in t.verify_integrity().collect()}
    assert rep[d1] is False and rep[d2] is False

    # A vanished dir reports not-ok rather than silently passing.
    shutil.rmtree(d2)
    rep = {r.dir: r.ok for r in t.verify_integrity().collect()}
    assert rep[d2] is False


def test_seal_survives_mor_dml_with_recorded_dvs(spark, tmp_path):
    """verify audits against the DV state AT SEAL TIME, so later MOR DML
    does not false-alarm; a re-seal adopts the new visibility."""
    from pyspark.sql import functions as F

    t = VersionedTable(spark, str(tmp_path / "tbl"))
    t.commit(spark.range(0, 30).select(F.col("id").alias("k")))
    t.seal()
    t.delete_where_mor("k % 3 = 0")
    assert all(r.ok for r in t.verify_integrity().collect())
    t.seal()
    assert all(r.ok for r in t.verify_integrity().collect())


def test_rollback_restores_hidden_partition_specs(spark, tmp_path):
    """RESTORE past a partition-evolution overwrite: the rollback manifest
    must pin the TARGET's per-dir hidden-transform specs — the carry rule
    keys off the abandoned HEAD's manifest, which no longer records specs
    for dirs only the target references, so without the explicit restore
    the restored snapshot silently loses its partition pruning (the same
    provenance class as the ndv-on-rollback fix)."""
    from pyspark.sql import functions as F

    df = spark.range(0, 400).withColumn(
        "user_id", (F.col("id") % 20).cast("bigint")
    ).withColumn("value", (F.col("id") * 2).cast("double"))
    t = VersionedTable(spark, str(tmp_path / "tbl"))
    t.commit(df, partition_by=["bucket(8, user_id)"])       # v1: hidden spec
    specs_v1 = t.hidden_partition_specs()
    assert set(specs_v1) == {"user_id"}

    t.commit(df.filter("id < 100"), mode="overwrite")       # v2: plain dirs
    assert t.hidden_partition_specs() == {}

    t.rollback(1)
    assert t.hidden_partition_specs() == specs_v1
    got = t.scan_transformed(point={"user_id": 7})
    assert sorted(r.id for r in got.collect()) == sorted(
        r.id for r in df.filter("user_id = 7").collect()
    )
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "_p_bucket8_user_id" in plan.split("PartitionFilters")[1][:400]


def test_plain_append_keeps_replace_partition_coverage(spark, tmp_path):
    """A plain append onto a replace-partitions-managed table must keep
    the surviving dirs' coverage lists (a dir's covered partition set is
    fixed at write), so the next replace_partitions rewrites only the
    touched partitions plus the coverage-unknown appended dir — O(batch),
    not O(table)."""
    from pyspark.sql import functions as F

    t = VersionedTable(spark, str(tmp_path / "t"))
    df = spark.range(300).select(
        (F.col("id") % 3).alias("day"), F.col("id").alias("v")
    )
    t.commit_replace_partitions(df, "day")
    m0 = t._manifest(t.current_version())
    assert len(m0.get("dir_parts", {})) == len(m0["dirs"]) >= 3

    t.commit(
        spark.range(300, 310).select(
            F.lit(1).cast("bigint").alias("day"), F.col("id").alias("v")
        ),
        mode="append",
    )
    m1 = t._manifest(t.current_version())
    # Every pre-existing dir keeps its coverage entry through the append.
    for d in m0["dirs"]:
        assert m1["dir_parts"][d] == m0["dir_parts"][d]

    # Replacing day=1 keeps the day-0/day-2 dirs untouched by reference.
    untouched = [
        d for d in m0["dirs"]
        if "1" not in {str(p) for p in m0["dir_parts"][d]}
    ]
    t.commit_replace_partitions(
        spark.range(400, 420).select(
            F.lit(1).cast("bigint").alias("day"), F.col("id").alias("v")
        ),
        "day",
    )
    m2 = t._manifest(t.current_version())
    for d in untouched:
        assert d in m2["dirs"], "an untouched partition's dir was rewritten"
    assert sorted(r.v for r in t.read().filter("day = 1").collect()) == list(
        range(400, 420)
    )


def test_bloom_modulus_pinned_across_appends(spark, tmp_path):
    """The bloom modulus is fixed at index creation: a later append —
    with or without bloom_cols, whatever bloom_bits it passes — must keep
    probing mod the ORIGINAL bits, or scan_point computes positions mod
    the wrong modulus and prunes dirs that do contain the value (silent
    missing rows)."""
    from pyspark.sql import functions as F

    t = VersionedTable(spark, str(tmp_path / "t"))
    t.commit(
        spark.range(500).select(F.col("id").alias("k")),
        bloom_cols=["k"],
        bloom_bits=512,
    )
    # Append WITHOUT bloom_cols: the default bloom_bits=4096 argument
    # must not overwrite the index's 512.
    t.commit(
        spark.range(500, 600).select(F.col("id").alias("k")), mode="append"
    )
    m = t._manifest(t.current_version())
    assert m["bloom_bits"] == 512
    assert t.scan_point("k", 42).count() == 1
    # Append WITH bloom_cols but the (different) default bits: the new
    # dir's bit set must be hashed mod the pinned 512 so the probe works.
    t.commit(
        spark.range(600, 700).select(F.col("id").alias("k")),
        mode="append",
        bloom_cols=["k"],
    )
    m = t._manifest(t.current_version())
    assert m["bloom_bits"] == 512
    assert all(
        b < 512 for cs in m["bloom"].values() for bs in cs.values() for b in bs
    )
    for v in (42, 550, 650):
        assert t.scan_point("k", v).count() == 1, f"value {v} lost to pruning"


def test_expire_repins_latest_hint_over_tag_gaps(spark, tmp_path):
    """ADVICE r9: tag-exempt retention leaves GAPS in the version sequence
    (tagged v1 survives, v2..v5 expire, head v6 survives). A stale-but-
    surviving hint below the gap would make current_version()'s
    walk-forward stop AT the gap and report the tagged snapshot as head —
    and the next commit would shadow-publish a manifest number below the
    real head. expire_snapshots must re-pin the hint to the surviving
    head so that state is unreachable."""
    import os as _os

    t = VersionedTable(spark, str(tmp_path / "tbl"))
    for i in range(4):
        t.commit(spark.createDataFrame([(i,)], "k long"), mode="append")  # v1-v4
    t.create_tag("pin", version=1)                                        # v5
    t.commit(spark.createDataFrame([(9,)], "k long"), mode="append")      # v6

    # Simulate a hint whose advances were swallowed since v1 (best-effort
    # writes) while the manifests kept publishing.
    hint = _os.path.join(t._snap_dir, "_latest_hint")
    with open(hint, "w") as fh:
        fh.write("1")

    expired = t.expire_snapshots(keep_last=1)
    assert set(expired) == {2, 3, 4, 5}          # v1 tagged, v6 head
    assert t.versions() == [1, 6]                # gap above the old hint
    assert open(hint).read().strip() == "6"      # re-pinned to the head
    assert t.current_version() == 6

    # The next commit must publish ABOVE the head, not into the gap.
    t.commit(spark.createDataFrame([(10,)], "k long"), mode="append")
    assert t.versions() == [1, 6, 7]
    assert t.read().count() == 6


def test_replace_partitions_tolerates_ghost_index_columns(spark, tmp_path):
    """ADVICE r9: commit_replace_partitions derives its per-dir index
    columns from the PRIOR snapshot's stats/bloom blocks. A legacy or
    foreign manifest can pin entries for a column the current schema no
    longer has; the write must still succeed, recording index metadata
    only for columns the batch actually carries (missing metadata is the
    safe direction — it only costs pruning)."""
    import json
    import os as _os

    t = VersionedTable(spark, str(tmp_path / "tbl"))
    base = spark.createDataFrame([("a", 1), ("b", 2)], "cat string, v int")
    t.commit_replace_partitions(base, "cat", stats_cols=["v"])

    # Hand-age the manifest: per-dir stats + bloom entries for a column
    # that is not in the schema (pre-dates stats retirement on drop).
    v1 = t.current_version()
    path = _os.path.join(t._snap_dir, f"{v1:08d}.json")
    m = json.load(open(path))
    m["stats"] = {
        d: {**cs, "ghost": [0, 9]} for d, cs in m.get("stats", {}).items()
    }
    m["bloom"] = {d: {"ghost": [1, 2, 3]} for d in m["dirs"]}
    m["bloom_bits"] = 512
    with open(path, "w") as fh:
        json.dump(m, fh)

    # Replace one partition with a frame matching the CURRENT schema:
    # before the fix this raised (F.min/F.md5 over the absent column).
    t.commit_replace_partitions(
        spark.createDataFrame([("a", 10)], "cat string, v int"), "cat"
    )
    state = {(r.cat, r.v) for r in t.read().collect()}
    assert state == {("a", 10), ("b", 2)}

    m2 = t._manifest(t.current_version())
    new_dirs = set(m2["dirs"]) - set(m["dirs"])
    assert new_dirs
    for d in new_dirs:
        assert set(m2["stats"].get(d, {})) == {"v"}   # fresh stats, no ghost
        assert "ghost" not in m2.get("bloom", {}).get(d, {})


def test_table_changes_stream_reads_int96_timestamps(spark, tmp_path):
    """Under Spark's default parquet timestamp encoding (INT96), which
    pyarrow reads back tz-naive, the table-changes stream still emits the
    committed instants: its output equals ``t.read()``."""
    import datetime

    from lakeflow.sources.table_stream import register_table_changes_source
    from lakeflow.streaming.sinks import run_to_memory

    assert spark.conf.get("spark.sql.parquet.outputTimestampType") == "INT96"
    register_table_changes_source(spark)
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.commit(
        spark.createDataFrame(
            [(1, datetime.datetime(2024, 1, 1, 12, 30, 0, 123456)), (2, None)],
            "k long, ts timestamp",
        )
    )
    t.commit(spark.sql("SELECT 3L AS k, TIMESTAMP '2024-06-30 23:59:59' AS ts"))
    stream = (
        spark.readStream.format("lakeflow_table_changes")
        .option("path", t.root)
        .load()
    )
    name, _ = run_to_memory(stream)
    assert sorted(spark.table(name).collect()) == sorted(t.read().collect())


def test_manifest_diff_names_each_commits_change(spark, tmp_path):
    """The one manifest diff every incremental reader shares: added and
    removed dirs, new and vanished deletion vectors, for each kind of
    commit."""
    t = VersionedTable(spark, str(tmp_path / "t"))

    def frame(rows):
        return spark.createDataFrame(rows, "k long, v string")

    def diff(a, b):
        return t.manifest_diff(t._manifest(a) if a else {}, t._manifest(b))

    def dirs(v):
        return t._manifest(v)["dirs"]

    def dvs(v):
        return t._manifest(v).get("delete_vectors", [])

    v1 = t.commit(frame([(1, "a"), (2, "b")]))
    assert diff(None, v1) == (dirs(v1), [], [], [])
    v2 = t.commit(frame([(3, "c")]))
    assert diff(v1, v2) == (dirs(v2)[1:], [], [], [])
    assert len(dirs(v2)) == 2
    v3 = t.delete_where_mor("k = 1")
    assert diff(v2, v3) == ([], [], dvs(v3), [])
    assert len(dvs(v3)) == 1
    v4 = t.update_where_mor("k = 2", {"v": "'B'"})
    assert diff(v3, v4) == (dirs(v4)[2:], [], dvs(v4)[1:], [])
    assert len(dirs(v4)) == 3 and len(dvs(v4)) == 2
    v5 = t.rollback(v2)
    assert diff(v4, v5) == ([], dirs(v4)[2:], [], dvs(v4))
    assert diff(v2, v5) == ([], [], [], [])
    v6 = t.delete_where_mor("k = 3")
    v7 = t.compact()
    assert diff(v6, v7) == (dirs(v7), dirs(v6), [], dvs(v6))
    assert len(dirs(v7)) == 1 and dvs(v7) == []
    v8 = t.commit(frame([(9, "z")]), mode="overwrite")
    assert diff(v7, v8) == (dirs(v8), dirs(v7), [], [])
    assert diff(v8, v8) == ([], [], [], [])


def test_table_changes_stream_treats_vanished_vectors_as_change(
    spark, tmp_path
):
    """RESTORE past a MOR delete drops a deletion vector and resurfaces its
    rows in place; no added dir carries them, so neither mode can render
    the commit. It fails the stream by default and is skipped under
    on_change=skip, like any other change commit."""
    import tempfile

    import pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from lakeflow.sources.table_stream import register_table_changes_source

    register_table_changes_source(spark)
    t = VersionedTable(spark, str(tmp_path / "tbl"))
    schema = "k long, v string"
    v1 = t.commit(spark.createDataFrame([(1, "a"), (2, "b")], schema))
    v2 = t.delete_where_mor("k = 1")
    t.rollback(v1)
    t.commit(spark.createDataFrame([(3, "c")], schema))

    def run(on_change: str, name: str):
        return (
            spark.readStream.format("lakeflow_table_changes")
            .option("path", t.root)
            .option("mode", "cdf")
            .option("start_version", str(v2))
            .option("on_change", on_change)
            .load()
            .writeStream.format("memory")
            .queryName(name)
            .option("checkpointLocation", tempfile.mkdtemp())
            .trigger(availableNow=True)
            .start()
        )

    q = run("fail", "vanished_fail")
    with pytest.raises(StreamingQueryException, match="rewrites history"):
        q.awaitTermination(120)
    q = run("skip", "vanished_skip")
    q.awaitTermination(120)
    got = spark.table("vanished_skip").collect()
    assert {(r.k, r.v, r._change_type) for r in got} == {(3, "c", "insert")}


def test_bloom_on_boolean_and_decimal_never_over_prunes(spark, tmp_path):
    """The Bloom bits hash Spark's string rendering of a value ("true",
    "5.00"), which a Python bool or an int probing a DECIMAL column does
    not reproduce, so those lookups must keep every dir: both the table's
    point scan and the pushdown source return every matching row."""
    from pyspark.sql import functions as F

    from lakeflow.sources.table_source import register_table_source

    t = VersionedTable(spark, str(tmp_path / "t"))
    for i in range(4):
        t.commit(
            spark.range(i * 10, i * 10 + 10).select(
                F.col("id").alias("k"),
                (F.col("id") % 2 == 0).alias("flag"),
                (F.col("id") / 4).cast("decimal(10,2)").alias("dec"),
            ),
            bloom_cols=["flag", "dec"],
        )
    base = t.read()
    assert base.filter("flag").count() == 20
    assert base.filter("dec = 5").count() == 1
    assert t.scan_point("flag", True).count() == 20
    assert t.scan_point("dec", 5).count() == 1
    register_table_source(spark)
    src = spark.read.format("lakeflow_table").option("path", t.root).load()
    assert src.filter(F.col("flag") == True).count() == 20  # noqa: E712


def test_zone_maps_refuse_temporal_columns_before_any_write(spark, tmp_path):
    """Zone maps hold JSON min/max, so stats on a DATE/TIMESTAMP column are
    refused up front: no data dir is written and no manifest tmp file is
    left behind, by a commit or by an ANALYZE."""
    import pytest
    from pyspark.sql import functions as F

    t = VersionedTable(spark, str(tmp_path / "t"))
    df = spark.range(3).select(
        "id", F.current_timestamp().alias("ts"), F.current_date().alias("d")
    )
    data = os.path.join(t.root, "data")
    snaps = os.path.join(t.root, "_snapshots")
    with pytest.raises(ValueError, match="numeric or string"):
        t.commit(df, stats_cols=["ts"])
    assert os.listdir(data) == []
    t.commit(df)
    before = sorted(os.listdir(data))
    for cols in (["ts"], ["id", "d"]):
        with pytest.raises(ValueError, match="numeric or string"):
            t.analyze(cols)
    assert sorted(os.listdir(data)) == before
    assert not [f for f in os.listdir(snaps) if f.endswith(".tmp")]
    assert t.current_version() == 1


def test_open_and_mistyped_bounds_never_raise(spark, tmp_path):
    """A None bound is an open end for the planner and for the residual
    filter alike, and bounds the zone maps cannot compare with keep the
    dir instead of raising."""
    from pyspark.sql import functions as F

    t = VersionedTable(spark, str(tmp_path / "t"))
    for i in range(4):
        k = F.col("id").cast("int").alias("k")
        t.commit(spark.range(i * 25, i * 25 + 25).select(k), stats_cols=["k"])
    got = sorted(r.k for r in t.scan(between={"k": (60, None)}).collect())
    assert got == list(range(60, 100))
    assert t.pruned_dirs({"k": (60, None)}) == 2
    assert t.pruned_dirs({"k": ("10", "20")}) == 0
    t.delete_where("k = 3", prune_between={"k": ("0", "5")})
    assert sorted(r.k for r in t.read().collect()) == [k for k in range(100) if k != 3]
