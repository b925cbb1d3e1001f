"""State-store introspection (lakeflow/streaming/state_reader.py): the
checkpointed state of a stateful streaming query read back as a DataFrame,
including batchId time travel to earlier micro-batch state."""

from __future__ import annotations

from pyspark.sql import functions as F


def _run_counts(spark, feed, ckpt, name):
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        q = (
            spark.readStream.schema("k string")
            .option("maxFilesPerTrigger", 1)
            .parquet(feed)
            .groupBy("k")
            .agg(F.count(F.lit(1)).alias("n"))
            .writeStream.outputMode("update")
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    q.awaitTermination()


def test_aggregation_state_matches_batch_truth_and_time_travels(
    spark, tmp_path
):
    """Two micro-batches of key counts: latest state == whole-input batch
    aggregation; batchId=0 state == first batch only (the post-incident
    'what did the state look like BEFORE the bad batch' question)."""
    import os

    from lakeflow.streaming.state_reader import (
        read_aggregation_state,
        read_state_store,
    )

    feed = str(tmp_path / "feed")
    os.makedirs(feed)
    b0, b1 = ["a", "a", "b"], ["a", "c"]
    for i, rows in enumerate((b0, b1)):
        part = str(tmp_path / f"part{i}")
        spark.createDataFrame(
            [(v,) for v in rows], "k string"
        ).coalesce(1).write.mode("overwrite").parquet(part)
        import glob
        import shutil

        dst = f"{feed}/{i:03d}.parquet"
        shutil.copy(glob.glob(f"{part}/*.parquet")[0], dst)
        os.utime(dst, (1_700_000_000 + i * 10,) * 2)

    ckpt = str(tmp_path / "ckpt")
    _run_counts(spark, feed, ckpt, "state_reader_test")

    latest = {
        (r.k, r["count"])
        for r in read_aggregation_state(spark, ckpt).collect()
    }
    assert latest == {("a", 3), ("b", 1), ("c", 1)}
    at0 = {
        (r.key.k, r.value["count"])
        for r in read_state_store(spark, ckpt, batch_id=0).collect()
    }
    assert at0 == {("a", 2), ("b", 1)}


def test_join_state_store_selection(spark, tmp_path):
    """A watermarked stream-stream join keeps FOUR stores per side-pair;
    store_name selects each (the 'which side is holding the stuck rows'
    incident question). Pin: all four canonical names resolve and the
    buffered rows are the ones the join semantics predict."""
    from datetime import datetime, timedelta

    from lakeflow.streaming.state_reader import read_state_store

    t0 = datetime(2024, 1, 1)
    feed = str(tmp_path / "feed")
    spark.createDataFrame(
        [(1, t0, "v1"), (1, t0 + timedelta(minutes=2), "p1")],
        "k long, ts timestamp, tag string",
    ).coalesce(1).write.mode("overwrite").parquet(feed)
    s = spark.readStream.schema("k long, ts timestamp, tag string").parquet(feed)
    left = (
        s.filter("tag like 'v%'")
        .withColumnRenamed("ts", "lts")
        .withWatermark("lts", "10 minutes")
    )
    right = (
        s.filter("tag like 'p%'")
        .select(F.col("k").alias("k2"), F.col("ts").alias("rts"), "tag")
        .withWatermark("rts", "10 minutes")
    )
    joined = left.join(
        right,
        F.expr("k = k2 AND rts BETWEEN lts AND lts + INTERVAL 30 MINUTES"),
    )
    ckpt = str(tmp_path / "ckpt")
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        q = (
            joined.writeStream.format("memory")
            .queryName("ssj_state_test")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    q.awaitTermination()

    for store in (
        "left-keyToNumValues",
        "left-keyWithIndexToValue",
        "right-keyToNumValues",
        "right-keyWithIndexToValue",
    ):
        df = read_state_store(spark, ckpt, store_name=store)
        assert [f.name for f in df.schema.fields] == [
            "key", "value", "partition_id",
        ]
        assert df.count() == 1  # one buffered row per side for key 1


def test_state_metadata_catalogs_join_stores(spark, tmp_path):
    """read_state_metadata lists every (operator, store) of a checkpoint
    with its committed batch range — discovery for the reader's
    operator/store/batchId knobs. Pin on the stream-stream join: all four
    store names appear under one operator with the expected batch range."""
    from datetime import datetime, timedelta

    from lakeflow.streaming.state_reader import read_state_metadata

    t0 = datetime(2024, 1, 1)
    feed = str(tmp_path / "feed")
    spark.createDataFrame(
        [(1, t0, "v1"), (1, t0 + timedelta(minutes=2), "p1")],
        "k long, ts timestamp, tag string",
    ).coalesce(1).write.mode("overwrite").parquet(feed)
    s = spark.readStream.schema("k long, ts timestamp, tag string").parquet(feed)
    joined = (
        s.filter("tag like 'v%'")
        .withColumnRenamed("ts", "lts")
        .withWatermark("lts", "10 minutes")
        .join(
            s.filter("tag like 'p%'")
            .select(F.col("k").alias("k2"), F.col("ts").alias("rts"))
            .withWatermark("rts", "10 minutes"),
            F.expr("k = k2 AND rts BETWEEN lts AND lts + INTERVAL 30 MINUTES"),
        )
    )
    ckpt = str(tmp_path / "ckpt")
    q = (
        joined.writeStream.format("memory")
        .queryName("ssj_meta_test")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    meta = read_state_metadata(spark, ckpt).collect()
    stores = {(r.operatorId, r.stateStoreName) for r in meta}
    assert stores == {
        (0, "left-keyToNumValues"),
        (0, "left-keyWithIndexToValue"),
        (0, "right-keyToNumValues"),
        (0, "right-keyWithIndexToValue"),
    }
    assert all(r.minBatchId == 0 and r.maxBatchId >= 0 for r in meta)


def test_sessionizer_identical_under_rocksdb_provider(spark, tmp_path):
    """The RocksDB state-store provider profiles.py recommends for
    production state must be a pure config swap: the arbitrary-state
    sessionizer emits the identical session set under
    RocksDBStateStoreProvider as under the default HDFS-backed provider,
    and the statestore reader opens the RocksDB checkpoint too. Executes
    the recommendation instead of trusting it."""
    from datetime import datetime, timedelta

    from lakeflow.streaming.sinks import run_to_memory
    from lakeflow.streaming.stateful import sessionize_stream

    base = datetime(2024, 1, 1)
    rows = [
        (base + timedelta(minutes=off), 1, float(i + 1))
        for i, off in enumerate([0, 10, 55, 60, 200])
    ]
    src = spark.createDataFrame(rows, "ts timestamp, user_id long, value double")
    path = str(tmp_path / "ev")
    src.coalesce(1).write.parquet(path)
    schema = spark.read.parquet(path).schema

    def run(provider: str | None):
        key = "spark.sql.streaming.stateStore.providerClass"
        prev = spark.conf.get(key, None)
        if provider:
            spark.conf.set(key, provider)
        try:
            stream = spark.readStream.schema(schema).parquet(path)
            name, q = run_to_memory(
                sessionize_stream(stream, gap="30 minutes", watermark="1 minutes")
            )
        finally:
            if provider:
                if prev is None:
                    spark.conf.unset(key)
                else:
                    spark.conf.set(key, prev)
        return {
            (r.user_id, r.session_start.isoformat(), r.n_events, r.total_value)
            for r in spark.table(name).collect()
        }

    default = run(None)
    rocks = run(
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    )
    assert rocks == default and default  # same sessions, non-empty


def test_aggregation_state_key_buffer_name_collision(spark, tmp_path):
    """A grouping key literally named `count` collides with Spark's
    internal `count` aggregation-buffer field; the flattener must keep the
    key's bare name and alias the buffer to `state_count` (ADVICE r11 —
    a bare double-select would emit ambiguous duplicate columns)."""
    import os

    from lakeflow.streaming.state_reader import read_aggregation_state

    feed = str(tmp_path / "cfeed")
    os.makedirs(feed)
    spark.createDataFrame(
        [("x",), ("x",), ("y",)], "count string"
    ).coalesce(1).write.mode("overwrite").parquet(feed)

    ckpt = str(tmp_path / "cckpt")
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        q = (
            spark.readStream.schema("count string")
            .parquet(feed)
            .groupBy("count")
            .agg(F.count(F.lit(1)).alias("n"))
            .writeStream.outputMode("update")
            .format("memory")
            .queryName("state_collision_test")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    q.awaitTermination()

    state = read_aggregation_state(spark, ckpt)
    assert state.columns == ["count", "state_count"]
    assert {(r["count"], r.state_count) for r in state.collect()} == {
        ("x", 2),
        ("y", 1),
    }


def test_read_join_state_flattens_key_and_counts(spark, tmp_path):
    """read_join_state: the left keyToNumValues store flattened to
    (join key, n_buffered); key_names restores the query's column names
    over the state schema's positional field0/field1; a wrong-arity
    key_names list is rejected."""
    from datetime import datetime, timedelta

    import pytest

    from lakeflow.streaming.state_reader import read_join_state

    t0 = datetime(2024, 1, 1)
    feed = str(tmp_path / "jfeed")
    spark.createDataFrame(
        [
            (1, t0, "v1"),
            (1, t0 + timedelta(minutes=1), "v2"),
            (2, t0, "v3"),
            (1, t0 + timedelta(minutes=2), "p1"),
        ],
        "k long, ts timestamp, tag string",
    ).coalesce(1).write.mode("overwrite").parquet(feed)
    s = spark.readStream.schema("k long, ts timestamp, tag string").parquet(
        feed
    )
    left = (
        s.filter("tag like 'v%'")
        .withColumnRenamed("ts", "lts")
        .withWatermark("lts", "10 minutes")
    )
    right = (
        s.filter("tag like 'p%'")
        .select(F.col("k").alias("k2"), F.col("ts").alias("rts"), "tag")
        .withWatermark("rts", "10 minutes")
    )
    joined = left.join(
        right,
        F.expr("k = k2 AND rts BETWEEN lts AND lts + INTERVAL 30 MINUTES"),
    )
    ckpt = str(tmp_path / "jckpt")
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        q = (
            joined.writeStream.format("memory")
            .queryName("join_state_flat_test")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    q.awaitTermination()

    state = read_join_state(spark, ckpt, side="left", key_names=["k"])
    assert state.columns == ["k", "n_buffered"]
    assert {(r.k, r.n_buffered) for r in state.collect()} == {(1, 2), (2, 1)}
    rstate = read_join_state(spark, ckpt, side="right", key_names=["k"])
    assert {(r.k, r.n_buffered) for r in rstate.collect()} == {(1, 1)}
    with pytest.raises(ValueError, match="key_names has 2"):
        read_join_state(spark, ckpt, key_names=["a", "b"])
    # Only exactly 'left'/'right' name a store — anything else must fail
    # with the valid values, not a cryptic statestore-source error.
    with pytest.raises(ValueError, match="side must be"):
        read_join_state(spark, ckpt, side="Left")

    # --- keyWithIndexToValue: the actual buffered rows, BOTH sides
    # (VERDICT r12 ask #4). Same checkpoint, so the two stores must agree
    # with keyToNumValues' counts and carry the real input rows.
    from lakeflow.streaming.state_reader import read_join_buffered_rows

    lrows = read_join_buffered_rows(spark, ckpt, side="left", key_names=["k"])
    # Join key collides with the buffered row's own 'k' column -> key_ prefix
    # keeps the row columns authoritative.
    assert lrows.columns == ["key_k", "buffer_index", "k", "lts", "tag", "matched"]
    got = {(r.key_k, r.buffer_index, r.k, r.tag) for r in lrows.collect()}
    assert got == {(1, 0, 1, "v1"), (1, 1, 1, "v2"), (2, 0, 2, "v3")}
    # matched: k=1 views matched p1; k=2 never matched.
    assert {(r.k, r.tag, r.matched) for r in lrows.collect()} == {
        (1, "v1", True), (1, "v2", True), (2, "v3", False),
    }
    rrows = read_join_buffered_rows(spark, ckpt, side="right", key_names=["kk"])
    # No collision for the right side (its row columns are k2/rts/tag).
    assert rrows.columns == ["kk", "buffer_index", "k2", "rts", "tag", "matched"]
    assert {(r.kk, r.k2, r.tag, r.matched) for r in rrows.collect()} == {
        (1, 1, "p1", True)
    }
    with pytest.raises(ValueError, match="key_names has 2"):
        read_join_buffered_rows(spark, ckpt, key_names=["a", "b"])
    with pytest.raises(ValueError, match="side must be"):
        read_join_buffered_rows(spark, ckpt, side="both")
