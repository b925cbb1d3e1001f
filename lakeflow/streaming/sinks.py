"""Streaming sink helpers (SURVEY.md §2.8 T3-T5).

Mirrors the reference's checkpointed append sinks
(/root/reference/src/bronze/_bronze_utils.py:69-84) with the trigger as an
explicit parameter; tests use ``available_now=True`` for deterministic
run-to-completion, production uses a processing-time cadence.
"""

from __future__ import annotations

import os as _os
import tempfile
import uuid

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery


def write_stream(
    df: DataFrame,
    *,
    fmt: str = "parquet",
    path: str | None = None,
    checkpoint: str | None = None,
    output_mode: str = "append",
    processing_time: str | None = None,
    available_now: bool = False,
    partition_by: list[str] | None = None,
    query_name: str | None = None,
) -> StreamingQuery:
    """Start a checkpointed streaming write; caller awaits termination."""
    writer = df.writeStream.outputMode(output_mode).format(fmt)
    if checkpoint is None:
        checkpoint = tempfile.mkdtemp(prefix="lakeflow-ckpt-")
    writer = writer.option("checkpointLocation", checkpoint)
    if path:
        writer = writer.option("path", path)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif processing_time:
        writer = writer.trigger(processingTime=processing_time)
    if query_name:
        writer = writer.queryName(query_name)
    return writer.start()


def run_to_memory(
    df: DataFrame, name: str | None = None, state_partitions: int | None = 8
) -> tuple[str, StreamingQuery]:
    """Run a stream to completion (availableNow) into an in-memory table.

    Deterministic test/driver path: returns (table_name, finished_query).

    ``state_partitions`` pins the stateful-operator partition count for THIS
    query (it binds at stream start and is a per-job property, like the
    checkpoint dir): a session tuned for batch (or a driver default of 200)
    would otherwise pay per-partition state-store commit overhead far beyond
    the data. Commit overhead is linear in partitions × state stores (a
    stream-stream join keeps 4 stores per partition: measured 2.2s at 4,
    4.8s at 16, 7.3s at 32 for the identical sf0.1 query), so the default
    suits fixture-scale state; size to peak keyed-state volume in
    production — None keeps the session value.
    """
    name = name or f"mem_{uuid.uuid4().hex[:12]}"
    spark = df.sparkSession
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    if state_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    try:
        q = (
            df.writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", tempfile.mkdtemp(prefix="lakeflow-ckpt-"))
            .trigger(availableNow=True)
            .start()
        )
    finally:
        # Partitioning is captured at start(); restore the session for
        # whatever batch work follows.
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    q.awaitTermination()
    return name, q


BUCKET_COL = "__bucket"


def _with_bucket(df: DataFrame, keys: list[str], num_buckets: int) -> DataFrame:
    """Stable key-hash bucket column: the merge partition key. xxhash64 of
    the natural key is engine- and retry-stable, so a key always lands in
    the same bucket — the property partition-scoped rewrites rely on."""
    from pyspark.sql import functions as F

    return df.withColumn(
        BUCKET_COL,
        F.pmod(F.xxhash64(*[F.col(k) for k in keys]), F.lit(num_buckets)).cast(
            "int"
        ),
    )


def stream_upsert(
    df: DataFrame,
    table,
    keys: list[str],
    checkpoint: str | None = None,
    available_now: bool = True,
    processing_time: str | None = None,
    num_buckets: int | None = None,
    mor: bool = False,
    compact_every_n_commits: int | None = None,
    compact_small_dir_max_bytes: int = 32 << 20,
    compact_max_small_bytes: int | None = None,
) -> StreamingQuery:
    """Streaming upsert (the Iceberg/Delta ``MERGE INTO`` streaming sink,
    reference T5 + M3 combined) into a :class:`lakeflow.tables.VersionedTable`.

    ``mor=True`` switches the per-batch write from state rewrite to the
    Hudi-style merge-on-read path (:meth:`VersionedTable.upsert_mor`): one
    deletion vector + one appended dir per micro-batch, O(batch) write
    cost; compact at OPTIMIZE cadence, or automatically via
    ``compact_every_n_commits`` (MOR is the dir-per-batch accreter here —
    the incremental fold reads the small tail THROUGH its deletion
    vectors, materializing them). The policy only applies to ``mor=True``:
    the overwrite path rewrites to one dir set per batch and the bucketed
    path keeps one dir set per touched bucket on purpose (bucket-scoped
    replace needs per-bucket dirs), so neither accretes. Mutually
    exclusive with ``num_buckets`` (bucketed rewrites are the
    copy-on-write answer to the same problem).

    Each micro-batch SCD1-merges into the current snapshot via foreachBatch
    and commits a new version — so the table stays queryable (and
    time-travelable) between batches, and a replayed batch after failure
    re-merges idempotently (same keys → same state).

    With ``num_buckets`` set, the table is partitioned on a stable key-hash
    bucket and each micro-batch reads, merges, and rewrites ONLY the buckets
    its keys touch (``VersionedTable.commit_replace_partitions``) — per-batch
    cost O(batch ∪ touched buckets), not O(table). Without it, the merge
    rewrites the full state (fine for small dimensions, the reference's own
    regime).
    """
    import tempfile as _tf

    from lakeflow.operators.merge import _dedup_source, scd1_apply

    if mor and num_buckets is not None:
        raise ValueError("mor and num_buckets are mutually exclusive")

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        if mor:
            table.upsert_mor(_dedup_source(batch_df, keys, None), keys)
            _autocompact_tables(
                (table,),
                compact_every_n_commits,
                compact_small_dir_max_bytes,
                max_small_bytes=compact_max_small_bytes,
            )
            return
        if num_buckets is not None:
            batch = _with_bucket(batch_df, keys, num_buckets)
            touched = [
                r[0] for r in batch.select(BUCKET_COL).distinct().collect()
            ]
            if table.current_version() is None:
                state = _dedup_source(batch, keys, None)
            else:
                current = table.read_partitions(BUCKET_COL, touched)
                state = scd1_apply(current, batch, keys=keys)
            # Upserts never empty a bucket, but passing the known touched set
            # keeps the replace decision independent of that invariant.
            table.commit_replace_partitions(
                state, BUCKET_COL, touched_values=touched
            )
            return
        if table.current_version() is None:
            # First load: still collapse to one row per key — a CDC batch may
            # carry several versions of the same key (scd1_apply dedups its
            # source internally on the merge path).
            state = _dedup_source(batch_df, keys, None)
        else:
            state = scd1_apply(table.read(), batch_df, keys=keys)
        table.commit(state, mode="overwrite")

    writer = df.writeStream.foreachBatch(apply_batch).option(
        "checkpointLocation", checkpoint or _tf.mkdtemp(prefix="lakeflow-ckpt-")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif processing_time:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


def stream_scd2(
    df: DataFrame,
    table,
    keys: list[str],
    tracked: list[str],
    batch_ts: "Callable[[int], str] | None" = None,
    checkpoint: str | None = None,
    available_now: bool = True,
    processing_time: str | None = None,
    num_buckets: int | None = None,
) -> StreamingQuery:
    """Streaming SCD Type 2 history build (reference M2 lifted into the
    streaming path): each micro-batch expires changed current rows and
    inserts new versions into a :class:`lakeflow.tables.VersionedTable`.

    ``num_buckets`` enables partition-scoped rewrites exactly as in
    :func:`stream_upsert`: history and current rows of a key share its hash
    bucket, so expiring + inserting a key's versions touches only its bucket.

    ``batch_ts`` maps batch_id → effective timestamp literal so replays are
    deterministic (the reference's ``current_timestamp()`` is not); the
    default derives a stable synthetic time from the batch id. A replayed
    batch re-derives the identical state (same source rows + same effective
    ts ⇒ same expire/insert decisions), so checkpoint recovery is
    effectively-once. At scale, the full-outer key join inside scd2_apply
    shuffles only (current ∪ batch) rows — history rows never move.
    """
    import tempfile as _tf
    from datetime import datetime, timedelta

    from pyspark.sql import functions as F

    from lakeflow.operators.merge import _dedup_source, scd2_apply

    def default_ts(batch_id: int) -> str:
        # Monotonic in batch_id (no modulo): effective timestamps must never
        # repeat or go backward on a long-running stream, or SCD2 start/end
        # ordering corrupts after enough micro-batches.
        base = datetime(2024, 6, 1)
        return (base + timedelta(minutes=batch_id)).strftime("%Y-%m-%d %H:%M:%S")

    ts_of = batch_ts or default_ts

    def first_state(batch: DataFrame, eff: str) -> DataFrame:
        return (
            _dedup_source(batch, keys, None)
            .withColumn("start_timestamp", F.lit(eff).cast("timestamp"))
            .withColumn("end_timestamp", F.lit(None).cast("timestamp"))
            .withColumn("is_current", F.lit(1))
        )

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        eff = ts_of(batch_id)
        if num_buckets is not None:
            batch = _with_bucket(batch_df, keys, num_buckets)
            touched = [
                r[0] for r in batch.select(BUCKET_COL).distinct().collect()
            ]
            if table.current_version() is None:
                state = first_state(batch, eff)
            else:
                current = table.read_partitions(BUCKET_COL, touched)
                state = scd2_apply(
                    current, batch, keys=keys, tracked=tracked, effective_ts=eff
                )
            table.commit_replace_partitions(
                state, BUCKET_COL, touched_values=touched, _operation="scd2"
            )
            return
        if table.current_version() is None:
            state = first_state(batch_df, eff)
        else:
            state = scd2_apply(
                table.read(), batch_df, keys=keys, tracked=tracked, effective_ts=eff
            )
        table.commit(state, mode="overwrite", _operation="scd2")

    writer = df.writeStream.foreachBatch(apply_batch).option(
        "checkpointLocation", checkpoint or _tf.mkdtemp(prefix="lakeflow-ckpt-")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif processing_time:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


def stream_apply_changes(
    df: DataFrame,
    table,
    keys: list[str],
    seq_col: str,
    op_col: str = "op",
    delete_op: str = "D",
    checkpoint: str | None = None,
    available_now: bool = True,
    processing_time: str | None = None,
    num_buckets: int | None = None,
) -> StreamingQuery:
    """Streaming changefeed application (the APPLY CHANGES INTO streaming
    sink): each micro-batch of ordered upserts+deletes folds into a
    :class:`lakeflow.tables.VersionedTable` via
    :func:`lakeflow.operators.merge.apply_changes`, committing one snapshot
    per batch.

    Semantics a CDC consumer needs, inherited from apply_changes: latest
    seq wins per key WITHIN a batch, deletes remove rows, and replaying a
    batch after failure recommits the same state (idempotent — commit
    version advances, content does not). Cross-batch ordering is the
    feed's responsibility (micro-batches arrive in order); within-batch
    disorder is harmless.

    With ``num_buckets`` set, the table partitions on the stable key-hash
    bucket and each micro-batch reads, applies, and rewrites ONLY its
    touched buckets (as :func:`stream_upsert`) — per-batch IO is
    O(batch ∪ touched buckets), the form that survives a 100 TB target.
    """
    import tempfile as _tf

    from lakeflow.operators.merge import apply_changes

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        if num_buckets is not None:
            batch = _with_bucket(batch_df, keys, num_buckets)
            touched = [
                r[0] for r in batch.select(BUCKET_COL).distinct().collect()
            ]
            target = (
                None
                if table.current_version() is None
                else table.read_partitions(BUCKET_COL, touched)
            )
            # The bucket column rides through as payload: apply_changes
            # excludes (keys, seq, op) and keeps the rest, and a key's
            # bucket never changes, so survivors keep a correct bucket.
            state = apply_changes(
                target, batch, keys, seq_col, op_col=op_col, delete_op=delete_op
            )
            # touched_values is load-bearing here: a batch that deletes every
            # key in a bucket leaves no state row to name that bucket, and
            # without it the bucket's old dirs would carry over and resurrect
            # the deleted keys.
            table.commit_replace_partitions(
                state, BUCKET_COL, touched_values=touched
            )
            return
        target = None if table.current_version() is None else table.read()
        state = apply_changes(
            target, batch_df, keys, seq_col, op_col=op_col, delete_op=delete_op
        )
        table.commit(state, mode="overwrite")

    writer = df.writeStream.foreachBatch(apply_batch).option(
        "checkpointLocation", checkpoint or _tf.mkdtemp(prefix="lakeflow-ckpt-")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif processing_time:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


def stream_append(
    df: DataFrame,
    table,
    checkpoint: str | None = None,
    available_now: bool = True,
    processing_time: str | None = None,
    txn_app: str = "stream_append",
    compact_every_n_commits: int | None = None,
    compact_small_dir_max_bytes: int = 32 << 20,
    compact_max_small_bytes: int | None = None,
):
    """Exactly-once streaming APPEND into a :class:`VersionedTable`.

    Merge-based sinks (:func:`stream_upsert` / :func:`stream_scd2` /
    :func:`stream_apply_changes`) replay idempotently because re-merging the
    same keys reproduces the same state. A plain append has no such luck: a
    crash between the table commit and the checkpoint write would replay the
    micro-batch and duplicate rows. Each batch therefore commits with
    ``txn=(txn_app, batch_id)`` — the manifest's per-app transactional
    watermark (Delta's txnAppId/txnVersion) — and the table itself skips any
    batch id at or below the recorded mark, making the append exactly-once
    end to end regardless of where the failure lands.

    An append sink is the purest dir-per-batch accreter, so it takes the
    ``compact_every_n_commits`` policy too: past that many manifest dirs,
    the incremental small-file compaction folds the tiny tail (O(small
    dirs) per run); the compaction manifest carries the txn watermark, so
    exactly-once survives a fold landing anywhere in the crash window.
    """
    import tempfile as _tf

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        table.commit(batch_df, mode="append", txn=(txn_app, int(batch_id)))
        _autocompact_tables(
            (table,),
            compact_every_n_commits,
            compact_small_dir_max_bytes,
            max_small_bytes=compact_max_small_bytes,
        )

    writer = df.writeStream.foreachBatch(apply_batch).option(
        "checkpointLocation", checkpoint or _tf.mkdtemp(prefix="lakeflow-ckpt-")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif processing_time:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


def _autocompact_tables(
    tables,
    every_n: int | None,
    small_max_bytes: int,
    max_small_bytes: int | None = None,
) -> None:
    """Table twin of ``_autocompact``: when a VersionedTable-backed sink
    has accreted more than ``every_n`` manifest data dirs, fold the
    small-file tail with the incremental compaction (cost O(small dirs),
    never O(table)). The trigger is a manifest-only count (one JSON read
    per batch, no data IO); the compaction manifest carries txn
    watermarks forward (tables.py::VersionedTable._commit), so replay
    exactly-once is unaffected by a fold landing between a commit and its
    checkpoint.

    ``max_small_bytes`` is the SIZE-triggered variant (VERDICT r9 ask
    #4): fold once the DUST of the small-dir tail — dirs under
    ``small_max_bytes`` by the compaction's own rule
    (``tables._small_dirs``), excluding the largest of them — exceeds it,
    i.e. once there is enough dust beyond the previous fold's output to be
    worth one full-size file. Excluding the largest small dir keeps the
    trigger re-armable: the incremental compaction folds the small tail
    into one dir, and if that result is still under ``small_max_bytes`` a
    plain sum would stay over threshold and refold the tail on every
    commit. A size trigger bounds write amplification where a count
    trigger cannot: 32 one-row commits and 32 near-target commits are the
    same count but want opposite treatment. Sizing costs one os.walk per
    data dir per batch (metadata only); both triggers may be set,
    whichever fires first folds."""
    if not every_n and not max_small_bytes:
        return
    from lakeflow.tables import _small_dirs

    for t in tables:
        n = t.n_data_dirs()
        if every_n and n > every_n:
            t.compact(small_dir_max_bytes=small_max_bytes)
            continue
        if max_small_bytes and n > 1:
            small = list(_small_dirs(t.data_dirs(), small_max_bytes).values())
            if len(small) > 1 and sum(small) - max(small) > max_small_bytes:
                t.compact(small_dir_max_bytes=small_max_bytes)


def stream_dedup_ingest(
    df: DataFrame,
    survivors,
    index,
    fp_col: str = "fp",
    order_col: str = "doc_id",
    checkpoint: str | None = None,
    available_now: bool = True,
    processing_time: str | None = None,
    txn_app: str = "stream_dedup",
    compact_every_n_commits: int | None = None,
    compact_small_dir_max_bytes: int = 32 << 20,
    compact_max_small_bytes: int | None = None,
):
    """Ingest-time content dedup: each micro-batch keeps only rows whose
    fingerprint is unseen — first within the batch (min ``order_col`` per
    ``fp_col``), then absent from the historical fingerprint index — and
    appends the keepers to ``survivors`` while their fingerprints join the
    ``index`` table. The streaming twin of the batch
    ``incremental_doc_dedup`` anti-join: a corpus built through this sink
    is duplicate-free BY CONSTRUCTION, which is how a 100 TB pretraining
    corpus wants to ingest (dedup per arriving batch against a slim
    fingerprint index — one column, not the corpus — instead of periodic
    full-corpus dedup sweeps).

    Both appends carry ``txn=(txn_app+suffix, batch_id)`` per-app
    transactional watermarks, so a crash-window replay of a micro-batch is
    swallowed by whichever table already committed it — the survivors
    corpus can never double-append, and the index never regresses
    (exactly-once on each table independently, same mechanics as
    :func:`stream_append`).

    ``compact_every_n_commits`` is the table twin of the streamed-index
    auto-compaction policy: once either table's manifest lists more than
    that many data dirs, the incremental small-file compaction
    (``VersionedTable.compact(small_dir_max_bytes=...)``) folds the tiny
    micro-batch tail — per-run cost O(small dirs), never O(table), and
    the compaction manifest carries the txn watermarks forward, so a
    replayed batch is still swallowed after a fold.
    """
    import tempfile as _tf

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        w = Window.partitionBy(fp_col).orderBy(order_col)
        first_in_batch = (
            batch_df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        if index.current_version() is not None:
            # USING-style join hoists the key column to the front; reselect
            # the input order so every batch appends with one stable schema.
            fresh = first_in_batch.join(
                index.read().select(fp_col), fp_col, "left_anti"
            ).select(*batch_df.columns)
        else:
            fresh = first_in_batch
        survivors.commit(
            fresh, mode="append", txn=(f"{txn_app}_survivors", int(batch_id))
        )
        index.commit(
            fresh.select(fp_col),
            mode="append",
            txn=(f"{txn_app}_index", int(batch_id)),
        )
        _autocompact_tables(
            (survivors, index),
            compact_every_n_commits,
            compact_small_dir_max_bytes,
            max_small_bytes=compact_max_small_bytes,
        )

    writer = df.writeStream.foreachBatch(apply_batch).option(
        "checkpointLocation", checkpoint or _tf.mkdtemp(prefix="lakeflow-ckpt-")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif processing_time:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


def stream_fuzzy_dedup_ingest(
    df: DataFrame,
    survivors,
    index,
    text_col: str = "text",
    id_col: str = "doc_id",
    checkpoint: str | None = None,
    available_now: bool = True,
    processing_time: str | None = None,
    txn_app: str = "stream_fuzzy_dedup",
    compact_every_n_commits: int | None = None,
    compact_small_dir_max_bytes: int = 32 << 20,
    compact_max_small_bytes: int | None = None,
    **lsh_kwargs,
):
    """NEAR-dup streaming ingest: the fuzzy companion of
    :func:`stream_dedup_ingest` — each micro-batch runs
    :func:`lakeflow.operators.dedup.incremental_fuzzy_dedup` against the
    LSH bucket-key ``index`` table, appends surviving DOCS to ``survivors``
    and their buckets to the index, both under per-app txn watermarks
    (exactly-once on each table independently). The index holds two slim
    columns ∝ corpus docs × bands — so a continuously-ingesting 100 TB
    corpus stays near-dup-free at O(batch signatures + one bucket
    semi-join) per trigger, with no full-corpus MinHash sweep ever.
    ``compact_every_n_commits`` folds the small-file tail of both tables
    at cadence, exactly like :func:`stream_dedup_ingest`."""
    import tempfile as _tf

    from lakeflow.operators.dedup import incremental_fuzzy_dedup

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        idx = index if index.current_version() is not None else None
        keep_ids, keep_buckets = incremental_fuzzy_dedup(
            batch_df, idx.read() if idx else None,
            text_col=text_col, id_col=id_col, **lsh_kwargs,
        )
        fresh = batch_df.join(keep_ids, id_col, "left_semi").select(
            *batch_df.columns
        )
        survivors.commit(
            fresh, mode="append", txn=(f"{txn_app}_survivors", int(batch_id))
        )
        index.commit(
            keep_buckets, mode="append", txn=(f"{txn_app}_index", int(batch_id))
        )
        _autocompact_tables(
            (survivors, index),
            compact_every_n_commits,
            compact_small_dir_max_bytes,
            max_small_bytes=compact_max_small_bytes,
        )

    writer = df.writeStream.foreachBatch(apply_batch).option(
        "checkpointLocation", checkpoint or _tf.mkdtemp(prefix="lakeflow-ckpt-")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif processing_time:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


def _autocompact(
    parents,
    every_n: int | None,
    fold,
    max_bytes: int | None = None,
    fold_small=None,
) -> None:
    """Shared cadence hook for the streamed-index ingest sinks (VERDICT r8
    ask #3): fold committed batch shards from INSIDE ``foreachBatch`` once
    more than ``every_n`` have accumulated, so a 5 s-trigger deployment
    bounds its live shard count at every_n+1 without an operator
    remembering to run OPTIMIZE. The trigger counts shards ON DISK (not
    batch ids, which skip on empty batches), and every fold keeps the
    newest shard (keep_last=1) so the just-committed micro-batch stays a
    separate subdir a post-crash replay can overwrite idempotently —
    re-running the fold after a replay is a no-op (one folded shard + the
    replay tail leaves nothing to fold). Crash safety inside the fold
    itself is the compactor's two-phase swap — and a swap that CRASHED in
    a previous run is rolled back/forward here UNCONDITIONALLY, before the
    count: a mid-swap crash moves shards into the reader-invisible
    ``_compact.trash`` (probes under-count) while also shrinking the very
    count this trigger fires on, so recovery must not wait for the next
    fold. ``parents`` is the shard dir (or dirs — first one is the count
    key; all get recovery).

    ``max_bytes`` is the SIZE-triggered variant (VERDICT r9 ask #4): fold
    once the DUST — accumulated shard bytes under the count-key parent,
    excluding the single largest shard — exceeds it. Excluding the
    largest shard is what keeps the trigger re-armable instead of
    pathological: the fold-to-one compactor folds the big base shard back
    in every time, so a total-bytes trigger would stay permanently over
    threshold after the first fold and rewrite the whole index on EVERY
    subsequent batch (O(n²) write amplification); measured as dust, each
    fold resets the gauge to ~zero and the base is rewritten once per
    ``max_bytes`` of new data — the same amplification class as a count
    trigger of max_bytes/shard_size batches. Count bounds LISTING cost;
    size bounds fold amplification directly — a firehose of fat
    micro-batches trips the byte threshold long before any count does,
    and a trickle of near-empty batches never folds dust for nothing.
    Either trigger may be set; whichever fires first folds. Sizing is one
    os.walk over the bounded shard tail (filesystem metadata, no data
    IO).

    ``fold_small`` is the size-trigger's fold when given (dust-only
    folding for the data-proportional indexes — see
    ``_fold_batch_shards(small_max_bytes=...)``); the count trigger always
    runs the FULL ``fold``, which is what bounds the base-shard count the
    dust folds leave behind. Together they form a two-tier policy: dust →
    target-size base once per threshold of new data (size trigger, cheap,
    frequent), everything → one shard when the shard count itself grows
    past the listing bound (count trigger, expensive, rare)."""
    if not every_n and not max_bytes:
        return
    from lakeflow.streaming.compaction import (
        _list_batches,
        _recover_crashed_swap,
    )
    from lakeflow.tables import _dir_bytes

    parents = (parents,) if isinstance(parents, str) else tuple(parents)
    for p in parents:
        _recover_crashed_swap(p)
    batches = _list_batches(parents[0])
    if every_n and len(batches) > every_n:
        fold()
        return
    if max_bytes and len(batches) > 1:
        sizes = [
            _dir_bytes(_os.path.join(parents[0], f"batch={b}"))
            for b in batches
        ]
        if sum(sizes) - max(sizes) > max_bytes:
            (fold_small or fold)()


def stream_index_ingest(
    df: DataFrame,
    index_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    checkpoint: str | None = None,
    available_now: bool = True,
    processing_time: str | None = None,
    compact_every_n_batches: int | None = None,
    compact_max_shard_bytes: int | None = None,
):
    """Streaming maintenance of the materialized inverted index
    (operators/text.py::build_text_index): each micro-batch tokenizes ONLY
    its own documents and lands postings + associative stat partials under
    ``batch=<id>`` subdirectories with OVERWRITE semantics — a replayed
    micro-batch rewrites its own subdir with identical deterministic
    content instead of double-appending, so the index is exactly-once by
    construction without a txn log (the subdir IS the idempotency key).
    The probe (`bm25_indexed_topk`) reads the parent dirs through
    partition discovery and folds the partials, so retrieval sees every
    batch the moment its files land — the shape streaming corpus ingest
    wants at 100 TB: per-batch tokenization cost, no stats
    read-modify-write, compaction of batch shards at OPTIMIZE cadence or,
    with ``compact_every_n_batches``, automatically in-stream (the fold
    runs inside ``foreachBatch`` once more than that many shards have
    accumulated, keeping the newest for replay — see ``_autocompact``)."""
    import tempfile as _tf

    from pyspark.sql import functions as F

    from lakeflow.operators.text import normalize_text
    from lakeflow.operators.transforms import fan_out

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        toks = fan_out(
            batch_df.select(F.col(id_col).alias("id"), F.col(text_col))
        ).select(
            "id",
            F.explode(F.split(normalize_text(text_col), " ")).alias("tok"),
        )
        # One tokenization per batch: dl derives from the cached tf (same
        # rationale as build_text_index; no df stats table — the probe
        # window-counts document frequency off the postings it reads).
        tf = toks.groupBy("id", "tok").agg(F.count(F.lit(1)).alias("tf"))
        tf.persist()
        try:
            dl = tf.groupBy("id").agg(F.sum("tf").alias("dl"))
            (
                tf.join(dl, "id")
                .select("tok", "id", "tf", "dl")
                .repartitionByRange(4, "tok")
                .sortWithinPartitions("tok")
                .write.mode("overwrite")
                .parquet(f"{index_dir}/postings/batch={int(batch_id)}")
            )
            dl.agg(
                F.count(F.lit(1)).alias("n"), F.sum("dl").alias("sum_dl")
            ).write.mode("overwrite").parquet(
                f"{index_dir}/corpus_stats/batch={int(batch_id)}"
            )
        finally:
            # Same fence as the batch twins: a failed write must not leak
            # the cached frame into the retried micro-batch.
            tf.unpersist()
        from lakeflow.streaming.compaction import compact_streamed_text_index

        _autocompact(
            (f"{index_dir}/postings", f"{index_dir}/corpus_stats"),
            compact_every_n_batches,
            lambda: compact_streamed_text_index(
                batch_df.sparkSession, index_dir, keep_last=1
            ),
            max_bytes=compact_max_shard_bytes,
            fold_small=lambda: compact_streamed_text_index(
                batch_df.sparkSession,
                index_dir,
                keep_last=1,
                small_max_bytes=compact_max_shard_bytes,
            ),
        )

    writer = df.writeStream.foreachBatch(apply_batch).option(
        "checkpointLocation", checkpoint or _tf.mkdtemp(prefix="lakeflow-ckpt-")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif processing_time:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


def stream_ann_ingest(
    df: DataFrame,
    cells_dir: str,
    centroids: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
    checkpoint: str | None = None,
    available_now: bool = True,
    processing_time: str | None = None,
    compact_every_n_batches: int | None = None,
    compact_max_shard_bytes: int | None = None,
):
    """Streaming maintenance of an IVF ANN index
    (operators/similarity.py::ivf_topk's ingest half): each micro-batch
    assigns ONLY its own vectors to their nearest coarse centroid
    (broadcast of the small fixed centroid set; the rounded-cosine +
    centroid-id tiebreak makes the assignment engine-reproducible) and
    lands (vid, vector, norm) under ``batch=<id>/cid=<cell>`` with
    OVERWRITE semantics — the same replay-idempotency-by-construction as
    ``stream_index_ingest``. Because per-vector assignment is independent
    of batching, the union of all landed batches IS the one-shot
    assignment bit-for-bit, and ``cid`` as a physical partition key means
    a probe reads n_probe/C of the corpus via partition pruning — the
    embedding-firehose shape at 100 TB: per-batch assignment cost, no
    index rebuild, compaction of batch shards at OPTIMIZE cadence or
    automatically in-stream via ``compact_every_n_batches`` (fold inside
    ``foreachBatch`` once more than that many shards exist, newest kept
    for replay — see ``_autocompact``). Contract: append-only vector
    stream with unique ids; the centroid set is FIXED for the index's
    lifetime (retraining = new index dir)."""
    import tempfile as _tf

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from lakeflow.functions.rounding import rnd
    from lakeflow.functions.vectors import dot, norm

    cent = centroids.select(
        F.col(id_col).alias("cid"),
        F.col(vec_col).alias("cv_c"),
        norm(vec_col).alias("cn_c"),
    )

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        scored = (
            batch_df.select(
                F.col(id_col).alias("vid"),
                F.col(vec_col),
                norm(vec_col).alias("vn"),
            )
            .join(F.broadcast(cent))
            .select(
                "vid",
                vec_col,
                "vn",
                F.col("cid"),
                rnd(
                    dot(vec_col, "cv_c") / (F.col("vn") * F.col("cn_c")),
                    round_to,
                ).alias("ccos"),
            )
        )
        w = Window.partitionBy("vid").orderBy(F.desc("ccos"), F.asc("cid"))
        (
            scored.withColumn("crn", F.row_number().over(w))
            .filter(F.col("crn") == 1)
            .select("cid", "vid", vec_col, "vn")
            .write.partitionBy("cid")
            .mode("overwrite")
            .parquet(f"{cells_dir}/batch={int(batch_id)}")
        )
        from lakeflow.streaming.compaction import compact_ann_cells

        _autocompact(
            cells_dir,
            compact_every_n_batches,
            lambda: compact_ann_cells(
                batch_df.sparkSession, cells_dir, keep_last=1
            ),
            max_bytes=compact_max_shard_bytes,
            fold_small=lambda: compact_ann_cells(
                batch_df.sparkSession,
                cells_dir,
                keep_last=1,
                small_max_bytes=compact_max_shard_bytes,
            ),
        )

    writer = df.writeStream.foreachBatch(apply_batch).option(
        "checkpointLocation", checkpoint or _tf.mkdtemp(prefix="lakeflow-ckpt-")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif processing_time:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


def stream_cms_ingest(
    df: DataFrame,
    sketch_dir: str,
    key_col: str,
    *,
    depth: int = 4,
    width: int = 256,
    checkpoint: str | None = None,
    available_now: bool = True,
    processing_time: str | None = None,
    compact_every_n_batches: int | None = None,
    compact_max_shard_bytes: int | None = None,
):
    """Streaming maintenance of the mergeable count-min sketch
    (operators/aggregates.py::cms_cells): each micro-batch sketches ONLY its
    own rows and lands the ≤depth·width cell partials under a
    ``cells/batch=<id>`` subdirectory with OVERWRITE semantics — the same
    replay-idempotency-by-construction as ``stream_index_ingest`` (the
    subdir is the idempotency key; a replayed batch rewrites identical
    deterministic content instead of double-counting). Because CMS partials
    merge by summing, the probe just folds all landed subdirs
    (``read_cms_cells``) — frequency estimates stay current per micro-batch
    with NO read-modify-write of sketch state, which is what heavy-hitter
    tracking over a 100 TB event firehose wants: per-batch sketch cost,
    constant-size state, compaction optional (fold batches at OPTIMIZE
    cadence exactly like the inverted index, or automatically in-stream
    via ``compact_every_n_batches`` — see ``_autocompact``)."""
    import tempfile as _tf

    from lakeflow.operators.aggregates import cms_cells

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        (
            cms_cells(batch_df, key_col, depth=depth, width=width)
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(f"{sketch_dir}/cells/batch={int(batch_id)}")
        )
        from lakeflow.streaming.compaction import compact_cms_sketch

        _autocompact(
            f"{sketch_dir}/cells",
            compact_every_n_batches,
            lambda: compact_cms_sketch(
                batch_df.sparkSession, sketch_dir, keep_last=1
            ),
            max_bytes=compact_max_shard_bytes,
        )

    writer = df.writeStream.foreachBatch(apply_batch).option(
        "checkpointLocation", checkpoint or _tf.mkdtemp(prefix="lakeflow-ckpt-")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif processing_time:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


def stream_histogram_ingest(
    df: DataFrame,
    sketch_dir: str,
    value_col: str,
    *,
    width: float,
    checkpoint: str | None = None,
    available_now: bool = True,
    processing_time: str | None = None,
    compact_every_n_batches: int | None = None,
    compact_max_shard_bytes: int | None = None,
):
    """Streaming maintenance of the mergeable histogram quantile sketch
    (operators/aggregates.py::histogram_partials): each micro-batch bins
    ONLY its own rows and lands the ≤(range/width)-row partial under a
    ``bins/batch=<id>`` subdir with OVERWRITE semantics — the same
    replay-idempotency-by-construction as ``stream_cms_ingest`` (the
    subdir is the idempotency key). Histogram partials merge by summing,
    so a live p99 over an event firehose costs one tiny aggregate per
    probe (``read_histogram_bins``) and per-batch bin counts per update —
    no read-modify-write of sketch state, no history rescan."""
    import tempfile as _tf

    from lakeflow.operators.aggregates import histogram_partials

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        (
            histogram_partials(batch_df, value_col, width=width)
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(f"{sketch_dir}/bins/batch={int(batch_id)}")
        )
        from lakeflow.streaming.compaction import compact_histogram_sketch

        _autocompact(
            f"{sketch_dir}/bins",
            compact_every_n_batches,
            lambda: compact_histogram_sketch(
                batch_df.sparkSession, sketch_dir, keep_last=1
            ),
            max_bytes=compact_max_shard_bytes,
        )

    writer = df.writeStream.foreachBatch(apply_batch).option(
        "checkpointLocation", checkpoint or _tf.mkdtemp(prefix="lakeflow-ckpt-")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif processing_time:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


def stream_kmv_ingest(
    df: DataFrame,
    sketch_dir: str,
    item_col: str,
    k: int,
    *,
    group_cols: list[str] | None = None,
    checkpoint: str | None = None,
    available_now: bool = True,
    processing_time: str | None = None,
    compact_every_n_batches: int | None = None,
    compact_max_shard_bytes: int | None = None,
):
    """Streaming maintenance of the KMV distinct sketch
    (operators/aggregates.py::kmv_minima): each micro-batch sketches ONLY
    its own rows (≤ k minima per group) and lands them under a
    ``minima/batch=<id>`` subdir with OVERWRITE semantics — the same
    replay-idempotency-by-construction as the CMS/histogram/A-ES ingests.
    Because an item's hash is a pure function of the item, per-batch
    sketches are mergeable EXACTLY: the probe (merge_kmv_minima over the
    landed partials) recovers the sketch a single batch pass would build,
    so a live distinct-users estimate over a firehose costs ≤ k·batches
    rows per probe and ≤ k rows of state per batch — no read-modify-write,
    no history rescan, and set algebra (union/intersect across streams)
    stays available, which an HLL register file never gives you."""
    import tempfile as _tf

    from lakeflow.operators.aggregates import kmv_minima

    gcols = list(group_cols or [])

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        (
            kmv_minima(batch_df, item_col, k, group_cols=gcols)
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(f"{sketch_dir}/minima/batch={int(batch_id)}")
        )
        from lakeflow.streaming.compaction import compact_kmv_sketch

        _autocompact(
            f"{sketch_dir}/minima",
            compact_every_n_batches,
            lambda: compact_kmv_sketch(
                batch_df.sparkSession, sketch_dir, k,
                group_cols=gcols, keep_last=1,
            ),
            max_bytes=compact_max_shard_bytes,
        )

    writer = df.writeStream.foreachBatch(apply_batch).option(
        "checkpointLocation", checkpoint or _tf.mkdtemp(prefix="lakeflow-ckpt-")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif processing_time:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


def stream_weighted_sample_ingest(
    df: DataFrame,
    sample_dir: str,
    id_col: str,
    weight_col: str,
    k: int,
    *,
    checkpoint: str | None = None,
    available_now: bool = True,
    processing_time: str | None = None,
    compact_every_n_batches: int | None = None,
    compact_max_shard_bytes: int | None = None,
):
    """Streaming maintenance of the A-ES weighted sample
    (transforms.weighted_hash_sample): each micro-batch keeps only its own
    top-k by the deterministic md5-exponential key and lands them under a
    ``cand/batch=<id>`` subdir (overwrite = replay-idempotent, same
    contract as the CMS/histogram ingests). Because the key depends only
    on the row — never on what else arrived — top-k is MERGEABLE: the
    global top-k equals the top-k of the union of per-batch top-k's, so
    the probe re-ranks ≤ k·batches candidate rows and recovers EXACTLY
    the batch-computed sample. This is the distributed weighted reservoir:
    state bounded at k rows per batch, no reservoir mutation, no
    replay hazard."""
    import tempfile as _tf

    from lakeflow.operators.transforms import weighted_hash_sample

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        (
            weighted_hash_sample(batch_df, id_col, weight_col, k)
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(f"{sample_dir}/cand/batch={int(batch_id)}")
        )
        from lakeflow.streaming.compaction import compact_weighted_sample

        _autocompact(
            f"{sample_dir}/cand",
            compact_every_n_batches,
            lambda: compact_weighted_sample(
                batch_df.sparkSession, sample_dir, id_col, weight_col, k,
                keep_last=1,
            ),
            max_bytes=compact_max_shard_bytes,
        )

    writer = df.writeStream.foreachBatch(apply_batch).option(
        "checkpointLocation", checkpoint or _tf.mkdtemp(prefix="lakeflow-ckpt-")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif processing_time:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()
