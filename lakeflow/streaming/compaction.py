"""OPTIMIZE for the streamed indexes: fold accumulated ``batch=<id>`` shards.

Every streaming ingest in this package (``stream_ann_ingest``,
``stream_cms_ingest``, ``stream_histogram_ingest``, ``stream_kmv_ingest``,
``stream_weighted_sample_ingest`` — ``sinks.py::_shard_sink`` — and the
text index's ``stream_index_ingest``) lands one ``batch=<id>``
subdirectory per micro-batch: overwrite semantics make the subdir the
idempotency key, so a replayed micro-batch rewrites identical content
instead of double-ingesting. The cost of that design is subdirectory
accumulation — a week of 5-second triggers is ~120k shards, and directory
LISTING becomes the probe bottleneck long before data volume does.
These compactors are the OPTIMIZE-cadence counterpart: fold the committed
shards into one, leaving probe answers bit-identical (pinned by tests),
exactly like ``compact_text_index`` does for the inverted index and
``VersionedTable.compact`` for tables.

Replay safety: the ``keep_last`` NEWEST shards are left untouched — the
only batch a restarted stream can replay is the in-flight one (its id is
the highest; everything below is checkpoint-committed), and a replay must
land in a subdir it owns. Folded shards are rewritten into the
highest-folded ``batch=`` id so the layout (and partition-column type
inference) is unchanged for readers. Like the other compactors, the swap
is rmtree+rename — run it at OPTIMIZE cadence against a quiesced index,
not concurrently with a probe of the same directory. The ingest sinks
also invoke these folds themselves at cadence
(``compact_every_n_batches`` / ``compact_max_shard_bytes``,
``sinks.py::_autocompact``) — safe because ``foreachBatch`` serializes
the fold with the writes and keep_last=1 protects the replayable
in-flight shard.

At 100 TB: each fold reads only the shards it folds (never the
``keep_last`` tail it skips), the sketch folds produce bounded output
(≤ depth·width CMS cells, ≤ range/width histogram bins, ≤ k KMV minima,
≤ k sample rows) however many shards went in, and the ANN fold is a
straight re-partition-by-cid rewrite whose output is one file set per
cell instead of one per (batch, cell).
"""

from __future__ import annotations

import os
import re
import shutil
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lakeflow.tables import _small_dirs

_BATCH_RE = re.compile(r"^batch=(\d+)$")


def _list_batches(parent: str) -> list[int]:
    try:
        names = os.listdir(parent)
    except FileNotFoundError:
        return []
    out = []
    for n in names:
        m = _BATCH_RE.match(n)
        if m and os.path.isdir(os.path.join(parent, n)):
            out.append(int(m.group(1)))
    return sorted(out)


def _fold_batch_shards(
    spark,
    parent: str,
    fold: Callable[[DataFrame], DataFrame],
    *,
    keep_last: int = 1,
    partition_by: str | None = None,
    single_file: bool = False,
    small_max_bytes: int | None = None,
) -> int:
    """Fold all but the ``keep_last`` newest ``batch=`` shards under
    ``parent`` into one shard (named for the highest folded id). Returns
    the number of shards folded away (0 = nothing to do).

    ``small_max_bytes`` restricts the fold to DUST — shards under that
    many data bytes, the rule of ``tables._small_dirs`` — leaving larger
    base shards in place (they were already folded to target size once;
    rewriting them with every new
    fold is where fold-to-one's O(n²/target) lifetime write amplification
    comes from). A non-contiguous fold set is safe: the output shard takes
    the highest FOLDED id (just renamed away, so no collision), every
    folded shard is checkpoint-committed (keep_last still protects the
    replay tail first), and probes read shards by partition discovery, so
    multiple surviving base shards are ordinary layout. Only meaningful
    for the data-proportional indexes (ANN cells, text postings); the
    sketch folds produce bounded output, so folding their base in costs
    nothing and keeps the shard count minimal."""
    _recover_crashed_swap(parent)
    batches = _list_batches(parent)
    # max(0, ...) guards keep_last > len(batches): a negative slice bound
    # would fold shards from the FRONT while keeping fewer than keep_last
    # newest — shards the caller asked to protect would get folded, and a
    # replayed batch id re-landing beside its folded copy would double-count
    # in the summing sketches (ADVICE r8).
    fold_set = (
        batches[: max(0, len(batches) - keep_last)] if keep_last else batches
    )
    if small_max_bytes is not None:
        paths = {b: os.path.join(parent, f"batch={b}") for b in fold_set}
        dust = _small_dirs(list(paths.values()), small_max_bytes)
        fold_set = [b for b, p in paths.items() if p in dust]
    if len(fold_set) < 2:
        return 0
    reader = spark.read.option("basePath", parent)
    df = reader.parquet(
        *[os.path.join(parent, f"batch={b}") for b in fold_set]
    ).drop("batch")
    folded = fold(df)
    if single_file:
        folded = folded.coalesce(1)
    # Crash-consistent swap. Spark readers ignore "_"-prefixed entries, so
    # every staging path is invisible to a probe. Sequence: write the
    # folded shard to _compact.tmp → create the _compact.plan marker →
    # MOVE (rename, not delete) every folded batch dir into _compact.trash
    # → rename the folded shard in → delete the trash → delete the marker.
    # The marker+tmp pair make every crash state recoverable by the next
    # run (_recover_crashed_swap): marker present + tmp present = the fold
    # never swapped in, so the trashed originals rename back; marker
    # present + tmp gone = the fold IS in place and the trash is
    # superseded. A mid-swap crash can therefore only UNDER-count until
    # the next run — never double-count, which matters for the summing
    # sketches — and never strands data: the shard set is always
    # reconstructible from parent+trash. Still an OPTIMIZE-cadence
    # operation against a quiesced index: the swap is not atomic for a
    # CONCURRENT probe.
    tmp = os.path.join(parent, "_compact.tmp")
    trash = os.path.join(parent, "_compact.trash")
    plan = os.path.join(parent, "_compact.plan")
    writer = folded.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(partition_by)
    writer.parquet(tmp)
    with open(plan, "w"):
        pass
    os.makedirs(trash, exist_ok=True)
    for b in fold_set:
        os.rename(
            os.path.join(parent, f"batch={b}"),
            os.path.join(trash, f"batch={b}"),
        )
    os.rename(tmp, os.path.join(parent, f"batch={fold_set[-1]}"))
    shutil.rmtree(trash)
    os.remove(plan)
    return len(fold_set) - 1


def _recover_crashed_swap(parent: str) -> None:
    """Roll a crashed swap forward or back, keyed on the marker+tmp pair
    (see the swap-ordering comment in ``_fold_batch_shards``). Idempotent;
    a no-op when no marker exists. A stale tmp WITHOUT a marker (crash
    mid-write, before anything moved) is simply overwritten by the next
    fold, so it needs no handling here."""
    plan = os.path.join(parent, "_compact.plan")
    if not os.path.exists(plan):
        return
    tmp = os.path.join(parent, "_compact.tmp")
    trash = os.path.join(parent, "_compact.trash")
    if os.path.isdir(tmp):
        # The fold never swapped in: restore the set-aside originals
        # (names cannot collide — the fold target was one of them and the
        # rename never happened), then drop the unswapped fold.
        if os.path.isdir(trash):
            for n in os.listdir(trash):
                os.rename(os.path.join(trash, n), os.path.join(parent, n))
        shutil.rmtree(tmp)
    # else: the fold landed; the trashed originals are superseded.
    shutil.rmtree(trash, ignore_errors=True)
    os.remove(plan)


def compact_ann_cells(
    spark,
    cells_dir: str,
    *,
    keep_last: int = 1,
    small_max_bytes: int | None = None,
) -> int:
    """Fold ``stream_ann_ingest`` batch shards: vectors are plain rows (a
    vector's cell assignment never depends on its batch), so the fold is a
    rewrite re-partitioned by ``cid`` — one file set per cell instead of
    one per (batch, cell), restoring O(cells) listing for the probe's
    partition-pruned read. Probe answers are identical by construction
    (same rows, same cells), pinned by test. ``small_max_bytes`` folds
    dust only, leaving target-size base shards unrewritten (the
    size-triggered in-stream policy; the count-triggered full fold is the
    rarer everything-fold that bounds base-shard count)."""
    return _fold_batch_shards(
        spark, cells_dir, lambda df: df, keep_last=keep_last,
        partition_by="cid", small_max_bytes=small_max_bytes,
    )


def _sum_cnt(df: DataFrame) -> DataFrame:
    keys = [c for c in df.columns if c != "cnt"]
    return df.groupBy(*keys).agg(F.sum("cnt").alias("cnt"))


def compact_cms_sketch(spark, sketch_dir: str, *, keep_last: int = 1) -> int:
    """Fold ``stream_cms_ingest`` cell partials by summing — the folded
    shard is ≤ depth·width rows however many batches went in."""
    return _fold_batch_shards(
        spark, os.path.join(sketch_dir, "cells"), _sum_cnt,
        keep_last=keep_last, single_file=True,
    )


def compact_histogram_sketch(
    spark, sketch_dir: str, *, keep_last: int = 1
) -> int:
    """Fold ``stream_histogram_ingest`` bin partials by summing."""
    return _fold_batch_shards(
        spark, os.path.join(sketch_dir, "bins"), _sum_cnt,
        keep_last=keep_last, single_file=True,
    )


def compact_kmv_sketch(
    spark,
    sketch_dir: str,
    k: int,
    *,
    group_cols: Sequence[str] = (),
    keep_last: int = 1,
) -> int:
    """Fold ``stream_kmv_ingest`` minima partials: distinct + bottom-k per
    group recovers EXACTLY the sketch one pass over the folded batches
    would build (an item's hash never depends on what else was sketched),
    so the probe's later merge over [folded shard + tail shards] is
    unchanged."""
    from lakeflow.operators.aggregates import merge_kmv_minima

    return _fold_batch_shards(
        spark, os.path.join(sketch_dir, "minima"),
        lambda df: merge_kmv_minima(df, k, group_cols=list(group_cols)),
        keep_last=keep_last, single_file=True,
    )


def compact_streamed_text_index(
    spark, index_dir: str, *, keep_last: int = 1,
    small_max_bytes: int | None = None,
) -> int:
    """Fold ``stream_index_ingest`` batch shards IN the batch= layout:
    postings re-range-partitioned and sorted by token (restoring the tight
    per-file tok envelopes the probe's IN-filter prunes on), corpus-stat
    partials summed to one row. Unlike ``compact_text_index`` (the quiesced
    OPTIMIZE that flattens to the one-shot layout), this keeps the
    ``keep_last`` replay tail untouched, so it is safe to run from inside
    ``foreachBatch`` at cadence — the just-committed shard stays a separate
    subdir a replayed micro-batch can overwrite idempotently.
    ``small_max_bytes`` applies dust-only folding to the POSTINGS side
    (data-proportional); corpus-stat partials always fold fully — their
    output is one row, so the base costs nothing to re-sum."""
    folded = _fold_batch_shards(
        spark,
        os.path.join(index_dir, "postings"),
        lambda df: df.repartitionByRange(8, "tok").sortWithinPartitions("tok"),
        keep_last=keep_last,
        small_max_bytes=small_max_bytes,
    )
    folded += _fold_batch_shards(
        spark,
        os.path.join(index_dir, "corpus_stats"),
        lambda df: df.agg(F.sum("n").alias("n"), F.sum("sum_dl").alias("sum_dl")),
        keep_last=keep_last,
        single_file=True,
    )
    return folded


def compact_weighted_sample(
    spark,
    sample_dir: str,
    id_col: str,
    weight_col: str,
    k: int,
    *,
    keep_last: int = 1,
) -> int:
    """Fold ``stream_weighted_sample_ingest`` candidate shards: the A-ES
    key is a pure function of the row, so top-k of the folded union IS the
    top-k the folded batches contribute — the probe's final re-rank over
    [folded shard + tail shards] returns the identical sample."""
    from lakeflow.operators.transforms import weighted_hash_sample

    return _fold_batch_shards(
        spark, os.path.join(sample_dir, "cand"),
        lambda df: weighted_hash_sample(df, id_col, weight_col, k),
        keep_last=keep_last, single_file=True,
    )
