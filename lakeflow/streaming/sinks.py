"""Streaming sink helpers (SURVEY.md §2.8 T3-T5).

Mirrors the reference's checkpointed append sinks
(/root/reference/src/bronze/_bronze_utils.py:69-84) with the trigger as an
explicit parameter; tests use ``available_now=True`` for deterministic
run-to-completion, production uses a processing-time cadence (the
reference's ``processingTime="5 seconds"``).

Every ``foreachBatch`` sink here runs through one micro-batch skeleton,
:func:`_foreach_batch`: empty batches are skipped, the batch id reaches the
sink as an ``int`` and keys an idempotent write, so a batch replayed after a
crash between the sink's write and the engine's checkpoint lands exactly
once. Three write shapes carry that key:

- merges (:func:`_merge_batch`): re-merging the same keys reproduces the
  same state;
- table appends: ``txn=(app, batch_id)`` watermarks in the manifest make
  the table skip a batch it already committed;
- shard sinks (:func:`_shard_sink`, :func:`stream_index_ingest`): the
  ``batch=<id>`` subdir is overwritten, so a replay rewrites its own shard.

Accreting sinks fold their small-file tail from inside ``foreachBatch``;
one rule (:func:`_fold_due`) decides when, for tables and shard dirs alike.
"""

from __future__ import annotations

import os as _os
import tempfile
import uuid

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from lakeflow.streaming.compaction import _list_batches, _recover_crashed_swap
from lakeflow.tables import _dir_bytes, _small_dirs

BUCKET_COL = "__bucket"

# Table dirs under this many data bytes are the small-file tail the
# in-stream table compaction folds (the 32 MiB small-file rule).
SMALL_DIR_MAX_BYTES = 32 << 20


def _trigger(writer, checkpoint, available_now, processing_time):
    """Checkpoint (a fresh temp dir unless given) and trigger for any
    streaming writer: availableNow runs to completion, else a
    processing-time cadence, else Spark's default trigger."""
    writer = writer.option(
        "checkpointLocation",
        checkpoint or tempfile.mkdtemp(prefix="lakeflow-ckpt-"),
    )
    if available_now:
        return writer.trigger(availableNow=True)
    if processing_time:
        return writer.trigger(processingTime=processing_time)
    return writer


def _foreach_batch(
    df: DataFrame, apply, checkpoint, available_now, processing_time
) -> StreamingQuery:
    """Start ``apply(batch_df, batch_id)`` on every non-empty micro-batch.
    The int batch id is the idempotency key every sink writes under."""

    def run(batch_df: DataFrame, batch_id) -> None:
        if not batch_df.isEmpty():
            apply(batch_df, int(batch_id))

    return _trigger(
        df.writeStream.foreachBatch(run), checkpoint, available_now, processing_time
    ).start()


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
    if path:
        writer = writer.option("path", path)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if query_name:
        writer = writer.queryName(query_name)
    return _trigger(writer, checkpoint, available_now, processing_time).start()


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
        writer = df.writeStream.outputMode("append").format("memory").queryName(name)
        q = _trigger(writer, None, True, None).start()
    finally:
        # Partitioning is captured at start(); restore the session for
        # whatever batch work follows.
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    q.awaitTermination()
    return name, q


def _fold_due(n: int, sizes, every_n: int | None, max_bytes: int | None):
    """The one auto-compaction rule: ``"count"`` once more than ``every_n``
    dirs exist, else ``"size"`` once the DUST of the size list — its bytes
    minus its largest entry — exceeds ``max_bytes``, else None.

    ``sizes`` is a callable, so the os.walk behind it runs only when the
    size trigger is set and the count trigger did not fire. Excluding the
    largest entry keeps the size trigger re-armable: a fold leaves one big
    output behind, and a plain byte total would stay over the threshold and
    refold it on every batch (O(n²) write amplification). Measured as dust,
    each fold resets the gauge to ~zero. Count bounds LISTING cost; size
    bounds fold amplification directly (32 one-row batches and 32
    near-target batches are the same count but want opposite treatment).
    Whichever fires first folds; a lone dir never folds."""
    if every_n and n > every_n:
        return "count"
    if max_bytes and n > 1:
        s = sizes()
        if len(s) > 1 and sum(s) - max(s) > max_bytes:
            return "size"
    return None


def _autocompact_tables(
    tables, every_n: int | None, max_small_bytes: int | None = None
) -> None:
    """In-stream compaction for the VersionedTable sinks: fold the
    small-file tail (``VersionedTable.compact(small_dir_max_bytes=...)``,
    cost O(small dirs), never O(table)) when :func:`_fold_due` fires on the
    manifest's dir count or on the sizes of its small dirs. The count is
    one manifest read per batch, no data IO; sizing is one os.walk per data
    dir. The compaction manifest carries txn watermarks forward
    (tables.py::VersionedTable._commit), so replay exactly-once is
    unaffected by a fold landing between a commit and its checkpoint."""
    if not every_n and not max_small_bytes:
        return
    for t in tables:
        dirs = t.data_dirs()

        def small_sizes():
            return list(_small_dirs(dirs, SMALL_DIR_MAX_BYTES).values())

        if _fold_due(len(dirs), small_sizes, every_n, max_small_bytes):
            t.compact(small_dir_max_bytes=SMALL_DIR_MAX_BYTES)


def _autocompact(
    parents,
    every_n: int | None,
    fold,
    max_bytes: int | None = None,
    fold_small=None,
) -> None:
    """In-stream compaction for the shard sinks: call ``fold`` (or, for
    the size trigger, ``fold_small`` when given) once :func:`_fold_due`
    fires on the ``batch=`` shards under ``parents[0]``, so a 5 s-trigger
    deployment bounds its live shard count without an operator remembering
    to run OPTIMIZE. ``parents`` is the shard dir, or dirs: the first is
    the count key, all get recovery.

    The count is of shards ON DISK (batch ids skip on empty batches). Every
    fold keeps the newest shard (keep_last=1), so the just-committed
    micro-batch stays a subdir a post-crash replay can overwrite, and
    re-running the fold after a replay is a no-op. A swap that crashed in
    a previous run is rolled back or forward first, UNCONDITIONALLY: a
    mid-swap crash moves shards into the reader-invisible
    ``_compact.trash`` and so shrinks the very count this trigger fires on.

    ``fold_small`` is dust-only folding for the data-proportional indexes
    (``_fold_batch_shards(small_max_bytes=...)``); the count trigger always
    runs the FULL ``fold``, which bounds the base shards the dust folds
    leave behind."""
    if not every_n and not max_bytes:
        return
    parents = (parents,) if isinstance(parents, str) else tuple(parents)
    for p in parents:
        _recover_crashed_swap(p)
    batches = _list_batches(parents[0])

    def sizes():
        return [_dir_bytes(_os.path.join(parents[0], f"batch={b}")) for b in batches]

    due = _fold_due(len(batches), sizes, every_n, max_bytes)
    if due == "count":
        fold()
    elif due == "size":
        (fold_small or fold)()


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


def _merge_batch(table, batch, keys, num_buckets, fold, operation=None) -> None:
    """One merge micro-batch: ``fold(target, batch)`` returns the new
    state, where target is None on the first commit. Without
    ``num_buckets`` the target is the whole table and the state overwrites
    it. With it, the table partitions on the stable key-hash bucket and the
    target is ONLY the buckets the batch touches, which the state replaces
    (``VersionedTable.commit_replace_partitions``): per-batch IO is
    O(batch ∪ touched buckets), not O(table). A replayed batch re-merges
    the same keys into the same state, so recovery is idempotent."""
    if num_buckets is None:
        target = None if table.current_version() is None else table.read()
        table._land(fold(target, batch), operation or "overwrite", "overwrite")
        return
    batch = _with_bucket(batch, keys, num_buckets)
    touched = [r[0] for r in batch.select(BUCKET_COL).distinct().collect()]
    target = (
        None
        if table.current_version() is None
        else table.read_partitions(BUCKET_COL, touched)
    )
    # touched_values is load-bearing: a batch that deletes every key in a
    # bucket leaves no state row to name that bucket, and without it the
    # bucket's old dirs would carry over and resurrect the deleted keys.
    table.commit_replace_partitions(
        fold(target, batch),
        BUCKET_COL,
        touched_values=touched,
        _operation=operation or "replace_partitions",
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
    compact_max_small_bytes: int | None = None,
) -> StreamingQuery:
    """Streaming upsert (the Iceberg/Delta ``MERGE INTO`` streaming sink,
    reference T5 + M3 combined) into a :class:`lakeflow.tables.VersionedTable`.

    Each micro-batch SCD1-merges into the current snapshot and commits a
    new version, so the table stays queryable (and time-travelable)
    between batches. ``num_buckets`` scopes each rewrite to the touched
    key-hash buckets (:func:`_merge_batch`); without it the merge rewrites
    the full state (fine for small dimensions, the reference's own regime).
    A first load still collapses the batch to one row per key: a CDC batch
    may carry several versions of the same key.

    ``mor=True`` switches the per-batch write to the Hudi-style
    merge-on-read path (:meth:`VersionedTable.upsert_mor`): one deletion
    vector + one appended dir per micro-batch, O(batch) write cost. MOR is
    the dir-per-batch accreter here, so only it takes the
    ``compact_every_n_commits`` / ``compact_max_small_bytes`` policy (the
    fold reads the small tail THROUGH its deletion vectors); the overwrite
    path rewrites one dir set per batch and the bucketed path keeps one
    dir set per bucket on purpose. Mutually exclusive with ``num_buckets``
    (bucketed rewrites are the copy-on-write answer to the same problem).
    """
    from lakeflow.operators.merge import _dedup_source, scd1_apply

    if mor and num_buckets is not None:
        raise ValueError("mor and num_buckets are mutually exclusive")

    def fold(target, batch):
        if target is None:
            return _dedup_source(batch, keys, None)
        return scd1_apply(target, batch, keys=keys)

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        if not mor:
            _merge_batch(table, batch_df, keys, num_buckets, fold)
            return
        table.upsert_mor(_dedup_source(batch_df, keys, None), keys)
        _autocompact_tables(
            (table,), compact_every_n_commits, compact_max_small_bytes
        )

    return _foreach_batch(df, apply, checkpoint, available_now, processing_time)


def stream_scd2(
    df: DataFrame,
    table,
    keys: list[str],
    tracked: list[str],
    checkpoint: str | None = None,
    available_now: bool = True,
    processing_time: str | None = None,
    num_buckets: int | None = None,
) -> StreamingQuery:
    """Streaming SCD Type 2 history build (reference M2 lifted into the
    streaming path): each micro-batch expires changed current rows and
    inserts new versions into a :class:`lakeflow.tables.VersionedTable`.
    ``num_buckets`` scopes each rewrite as in :func:`stream_upsert`: history
    and current rows of a key share its hash bucket.

    The effective timestamp derives from the batch id, so replays are
    deterministic (the reference's ``current_timestamp()`` is not): a
    replayed batch re-derives the identical state (same source rows + same
    effective ts ⇒ same expire/insert decisions), so checkpoint recovery is
    effectively-once. At scale, the full-outer key join inside scd2_apply
    shuffles only (current ∪ batch) rows — history rows never move.
    """
    from datetime import datetime, timedelta

    from pyspark.sql import functions as F

    from lakeflow.operators.merge import _dedup_source, scd2_apply

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        # Monotonic in batch_id (no modulo): effective timestamps must never
        # repeat or go backward on a long-running stream, or SCD2 start/end
        # ordering corrupts after enough micro-batches.
        eff = (datetime(2024, 6, 1) + timedelta(minutes=batch_id)).strftime(
            "%Y-%m-%d %H:%M:%S"
        )

        def fold(target, batch):
            if target is not None:
                return scd2_apply(
                    target, batch, keys=keys, tracked=tracked, effective_ts=eff
                )
            return (
                _dedup_source(batch, keys, None)
                .withColumn("start_timestamp", F.lit(eff).cast("timestamp"))
                .withColumn("end_timestamp", F.lit(None).cast("timestamp"))
                .withColumn("is_current", F.lit(1))
            )

        _merge_batch(table, batch_df, keys, num_buckets, fold, "scd2")

    return _foreach_batch(df, apply, checkpoint, available_now, processing_time)


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
    disorder is harmless. ``num_buckets`` scopes each rewrite to the
    touched buckets as in :func:`stream_upsert`, the form that survives a
    100 TB target; the bucket column rides through apply_changes as
    payload, and a key's bucket never changes.
    """
    from lakeflow.operators.merge import apply_changes

    def fold(target, batch):
        return apply_changes(
            target, batch, keys, seq_col, op_col=op_col, delete_op=delete_op
        )

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        _merge_batch(table, batch_df, keys, num_buckets, fold)

    return _foreach_batch(df, apply, checkpoint, available_now, processing_time)


def stream_append(
    df: DataFrame,
    table,
    checkpoint: str | None = None,
    available_now: bool = True,
    processing_time: str | None = None,
    txn_app: str = "stream_append",
    compact_every_n_commits: int | None = None,
    compact_max_small_bytes: int | None = None,
):
    """Exactly-once streaming APPEND into a :class:`VersionedTable`.

    A plain append, unlike a merge, does not replay idempotently: a crash
    between the table commit and the checkpoint write would replay the
    micro-batch and duplicate rows. Each batch therefore commits with
    ``txn=(txn_app, batch_id)`` — the manifest's per-app transactional
    watermark (Delta's txnAppId/txnVersion) — and the table itself skips
    any batch id at or below the recorded mark, making the append
    exactly-once end to end regardless of where the failure lands.

    An append sink is the purest dir-per-batch accreter, so it takes the
    ``compact_every_n_commits`` / ``compact_max_small_bytes`` policy
    (:func:`_autocompact_tables`).
    """

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        table.commit(batch_df, mode="append", txn=(txn_app, batch_id))
        _autocompact_tables((table,), compact_every_n_commits, compact_max_small_bytes)

    return _foreach_batch(df, apply, checkpoint, available_now, processing_time)


def _append_pair(survivors, index, fresh, keys, txn_app, batch_id) -> None:
    """Append a dedup batch's keepers and their index keys, each table under
    its own txn watermark: a crash-window replay is swallowed by whichever
    table already committed it, so the corpus never double-appends and the
    index never regresses."""
    survivors.commit(fresh, mode="append", txn=(f"{txn_app}_survivors", batch_id))
    index.commit(keys, mode="append", txn=(f"{txn_app}_index", batch_id))


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

    Both appends are exactly-once on each table independently
    (``txn=(txn_app + "_survivors" | "_index", batch_id)``), and both
    tables take the ``compact_every_n_commits`` / ``compact_max_small_bytes``
    policy of :func:`stream_append`.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        w = Window.partitionBy(fp_col).orderBy(order_col)
        fresh = (
            batch_df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        if index.current_version() is not None:
            # USING-style join hoists the key column to the front; reselect
            # the input order so every batch appends with one stable schema.
            fresh = fresh.join(
                index.read().select(fp_col), fp_col, "left_anti"
            ).select(*batch_df.columns)
        _append_pair(survivors, index, fresh, fresh.select(fp_col), txn_app, batch_id)
        _autocompact_tables(
            (survivors, index), compact_every_n_commits, compact_max_small_bytes
        )

    return _foreach_batch(df, apply, checkpoint, available_now, processing_time)


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
    semi-join) per trigger, with no full-corpus MinHash sweep ever. Both
    tables fold their small-file tail exactly like
    :func:`stream_dedup_ingest`."""
    from lakeflow.operators.dedup import incremental_fuzzy_dedup

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        seen = index.read() if index.current_version() is not None else None
        keep_ids, keep_buckets = incremental_fuzzy_dedup(
            batch_df, seen, text_col=text_col, id_col=id_col, **lsh_kwargs
        )
        fresh = batch_df.join(keep_ids, id_col, "left_semi").select(
            *batch_df.columns
        )
        _append_pair(survivors, index, fresh, keep_buckets, txn_app, batch_id)
        _autocompact_tables(
            (survivors, index), compact_every_n_commits, compact_max_small_bytes
        )

    return _foreach_batch(df, apply, checkpoint, available_now, processing_time)


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
    with ``compact_every_n_batches`` / ``compact_max_shard_bytes``,
    in-stream (:func:`_autocompact`). It writes two shard dirs per batch,
    so it is not a :func:`_shard_sink`."""
    from pyspark.sql import functions as F

    from lakeflow.operators.text import normalize_text
    from lakeflow.operators.transforms import fan_out
    from lakeflow.streaming.compaction import compact_streamed_text_index

    def apply(batch_df: DataFrame, batch_id: int) -> None:
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
                .parquet(f"{index_dir}/postings/batch={batch_id}")
            )
            dl.agg(
                F.count(F.lit(1)).alias("n"), F.sum("dl").alias("sum_dl")
            ).write.mode("overwrite").parquet(
                f"{index_dir}/corpus_stats/batch={batch_id}"
            )
        finally:
            # Same fence as the batch twins: a failed write must not leak
            # the cached frame into the retried micro-batch.
            tf.unpersist()
        spark = batch_df.sparkSession
        _autocompact(
            (f"{index_dir}/postings", f"{index_dir}/corpus_stats"),
            compact_every_n_batches,
            lambda: compact_streamed_text_index(spark, index_dir, keep_last=1),
            max_bytes=compact_max_shard_bytes,
            fold_small=lambda: compact_streamed_text_index(
                spark, index_dir, keep_last=1,
                small_max_bytes=compact_max_shard_bytes,
            ),
        )

    return _foreach_batch(df, apply, checkpoint, available_now, processing_time)


def _shard_sink(
    df: DataFrame,
    parent: str,
    shard,
    fold,
    checkpoint,
    available_now,
    processing_time,
    every_n: int | None,
    max_bytes: int | None,
    dust_fold: bool = False,
) -> StreamingQuery:
    """One shard-sink micro-batch: ``shard(batch_df)`` returns the
    DataFrameWriter of the batch's partial, which lands in
    ``<parent>/batch=<id>`` with OVERWRITE, so a replayed batch rewrites
    identical content instead of double-ingesting. Then
    :func:`_autocompact` folds the shards via ``fold(spark, keep_last=1,
    **kw)``; with ``dust_fold`` its size trigger folds only dust
    (``small_max_bytes=max_bytes``)."""

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        shard(batch_df).mode("overwrite").parquet(f"{parent}/batch={batch_id}")
        spark = batch_df.sparkSession
        _autocompact(
            parent,
            every_n,
            lambda: fold(spark, keep_last=1),
            max_bytes=max_bytes,
            fold_small=(
                (lambda: fold(spark, keep_last=1, small_max_bytes=max_bytes))
                if dust_fold
                else None
            ),
        )

    return _foreach_batch(df, apply, checkpoint, available_now, processing_time)


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
    lands (vid, vector, norm) under ``batch=<id>/cid=<cell>``
    (:func:`_shard_sink`). Because per-vector assignment is independent
    of batching, the union of all landed batches IS the one-shot
    assignment bit-for-bit, and ``cid`` as a physical partition key means
    a probe reads n_probe/C of the corpus via partition pruning — the
    embedding-firehose shape at 100 TB: per-batch assignment cost, no
    index rebuild, compaction of batch shards at OPTIMIZE cadence or
    in-stream. Contract: append-only vector stream with unique ids; the
    centroid set is FIXED for the index's lifetime (retraining = new index
    dir)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from lakeflow.functions.rounding import rnd
    from lakeflow.functions.vectors import dot, norm
    from lakeflow.streaming.compaction import compact_ann_cells

    cent = centroids.select(
        F.col(id_col).alias("cid"),
        F.col(vec_col).alias("cv_c"),
        norm(vec_col).alias("cn_c"),
    )

    def shard(batch_df: DataFrame):
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
        return (
            scored.withColumn("crn", F.row_number().over(w))
            .filter(F.col("crn") == 1)
            .select("cid", "vid", vec_col, "vn")
            .write.partitionBy("cid")
        )

    return _shard_sink(
        df, cells_dir, shard,
        lambda spark, **kw: compact_ann_cells(spark, cells_dir, **kw),
        checkpoint, available_now, processing_time,
        compact_every_n_batches, compact_max_shard_bytes, dust_fold=True,
    )


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
    own rows and lands the ≤depth·width cell partials under
    ``cells/batch=<id>`` (:func:`_shard_sink`). Because CMS partials merge
    by summing, the probe just folds all landed subdirs
    (``read_cms_cells``) — frequency estimates stay current per micro-batch
    with NO read-modify-write of sketch state, which is what heavy-hitter
    tracking over a 100 TB event firehose wants: per-batch sketch cost,
    constant-size state, compaction optional (at OPTIMIZE cadence exactly
    like the inverted index, or in-stream)."""
    from lakeflow.operators.aggregates import cms_cells
    from lakeflow.streaming.compaction import compact_cms_sketch

    return _shard_sink(
        df, f"{sketch_dir}/cells",
        lambda b: cms_cells(b, key_col, depth=depth, width=width).coalesce(1).write,
        lambda spark, **kw: compact_cms_sketch(spark, sketch_dir, **kw),
        checkpoint, available_now, processing_time,
        compact_every_n_batches, compact_max_shard_bytes,
    )


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
    ONLY its own rows and lands the ≤(range/width)-row partial under
    ``bins/batch=<id>`` (:func:`_shard_sink`). Histogram partials merge by
    summing, so a live p99 over an event firehose costs one tiny aggregate
    per probe (``read_histogram_bins``) and per-batch bin counts per
    update — no read-modify-write of sketch state, no history rescan."""
    from lakeflow.operators.aggregates import histogram_partials
    from lakeflow.streaming.compaction import compact_histogram_sketch

    return _shard_sink(
        df, f"{sketch_dir}/bins",
        lambda b: histogram_partials(b, value_col, width=width).coalesce(1).write,
        lambda spark, **kw: compact_histogram_sketch(spark, sketch_dir, **kw),
        checkpoint, available_now, processing_time,
        compact_every_n_batches, compact_max_shard_bytes,
    )


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
    its own rows (≤ k minima per group) and lands them under
    ``minima/batch=<id>`` (:func:`_shard_sink`). Because an item's hash is
    a pure function of the item, per-batch sketches are mergeable EXACTLY:
    the probe (merge_kmv_minima over the landed partials) recovers the
    sketch a single batch pass would build, so a live distinct-users
    estimate over a firehose costs ≤ k·batches rows per probe and ≤ k rows
    of state per batch — no read-modify-write, no history rescan, and set
    algebra (union/intersect across streams) stays available, which an HLL
    register file never gives you."""
    from lakeflow.operators.aggregates import kmv_minima
    from lakeflow.streaming.compaction import compact_kmv_sketch

    gcols = list(group_cols or [])
    return _shard_sink(
        df, f"{sketch_dir}/minima",
        lambda b: kmv_minima(b, item_col, k, group_cols=gcols).coalesce(1).write,
        lambda spark, **kw: compact_kmv_sketch(
            spark, sketch_dir, k, group_cols=gcols, **kw
        ),
        checkpoint, available_now, processing_time,
        compact_every_n_batches, compact_max_shard_bytes,
    )


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
    top-k by the deterministic md5-exponential key and lands them under
    ``cand/batch=<id>`` (:func:`_shard_sink`). Because the key depends
    only on the row — never on what else arrived — top-k is MERGEABLE: the
    global top-k equals the top-k of the union of per-batch top-k's, so
    the probe re-ranks ≤ k·batches candidate rows and recovers EXACTLY
    the batch-computed sample. This is the distributed weighted reservoir:
    state bounded at k rows per batch, no reservoir mutation, no replay
    hazard."""
    from lakeflow.operators.transforms import weighted_hash_sample
    from lakeflow.streaming.compaction import compact_weighted_sample

    return _shard_sink(
        df, f"{sample_dir}/cand",
        lambda b: weighted_hash_sample(b, id_col, weight_col, k).coalesce(1).write,
        lambda spark, **kw: compact_weighted_sample(
            spark, sample_dir, id_col, weight_col, k, **kw
        ),
        checkpoint, available_now, processing_time,
        compact_every_n_batches, compact_max_shard_bytes,
    )
