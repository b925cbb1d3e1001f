"""Streamed-index shard compaction (VERDICT r7 ask #5): folding the
accumulated ``batch=<id>`` shards must leave every probe answer
bit-identical while shrinking the directory count — listing cost is the
thing being optimized, so the tests assert both.

Shards are landed through the same writes the streaming ingests perform
(per-batch partial → ``batch=<id>`` subdir), without spinning up the
micro-batch engine: the compactors operate on the on-disk layout, and the
ingest-equivalence tests in test_operators cover the writers themselves.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from lakeflow.catalog import load_table
from lakeflow.streaming.compaction import (
    _list_batches,
    compact_ann_cells,
    compact_cms_sketch,
    compact_histogram_sketch,
    compact_kmv_sketch,
    compact_weighted_sample,
)

from .conftest import SF_DIR


def _rows(df):
    return sorted(map(tuple, (tuple(str(x) for x in r) for r in df.collect())))


def _land_ann_batches(spark, cells_dir: str, n_batches: int = 4):
    from pyspark.sql import Window

    from lakeflow.functions.rounding import rnd
    from lakeflow.functions.vectors import dot, norm

    raw = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    cents = raw.filter(F.col("vec_id") < 16)
    cent = cents.select(
        F.col("vec_id").alias("cid"),
        F.col("embedding").alias("cv_c"),
        norm("embedding").alias("cn_c"),
    )
    for bid in range(n_batches):
        b = raw.filter(F.col("vec_id") % n_batches == bid).select(
            F.col("vec_id").alias("vid"), "embedding",
            norm("embedding").alias("vn"),
        )
        s = b.join(F.broadcast(cent)).select(
            "vid", "embedding", "vn", "cid",
            rnd(dot("embedding", "cv_c") / (F.col("vn") * F.col("cn_c")), 6)
            .alias("ccos"),
        )
        w = Window.partitionBy("vid").orderBy(F.desc("ccos"), F.asc("cid"))
        (
            s.withColumn("crn", F.row_number().over(w))
            .filter(F.col("crn") == 1)
            .select("cid", "vid", "embedding", "vn")
            .write.partitionBy("cid")
            .mode("overwrite")
            .parquet(f"{cells_dir}/batch={bid}")
        )
    return raw, cents


def test_compact_ann_cells_probe_identical(spark, tmp_path):
    from lakeflow.operators.similarity import ivf_probe_cells

    cells = str(tmp_path / "cells")
    raw, cents = _land_ann_batches(spark, cells, n_batches=4)
    q = raw.filter(F.col("vec_id") < 10)

    before = _rows(ivf_probe_cells(spark, cells, q, cents, k=5, n_probe=4))
    folded = compact_ann_cells(spark, cells)
    assert folded == 2  # batches 0-2 fold into one; batch 3 kept for replay
    assert _list_batches(cells) == [2, 3]
    after = _rows(ivf_probe_cells(spark, cells, q, cents, k=5, n_probe=4))
    assert after == before
    # One file set per cell in the folded shard, not one per (batch, cell).
    assert all(d.startswith(("cid=", "_", "."))
               for d in os.listdir(f"{cells}/batch=2"))
    # Idempotent: nothing left to fold below the replay tail.
    assert compact_ann_cells(spark, cells) == 0


def test_compact_ann_keep_last_zero_folds_everything(spark, tmp_path):
    """keep_last=0 is the quiesced-stream form (no replay possible):
    every shard folds into one."""
    from lakeflow.operators.similarity import ivf_probe_cells

    cells = str(tmp_path / "cells")
    raw, cents = _land_ann_batches(spark, cells, n_batches=3)
    q = raw.filter(F.col("vec_id") < 10)
    before = _rows(ivf_probe_cells(spark, cells, q, cents, k=5, n_probe=4))
    assert compact_ann_cells(spark, cells, keep_last=0) == 2
    assert _list_batches(cells) == [2]
    assert _rows(
        ivf_probe_cells(spark, cells, q, cents, k=5, n_probe=4)
    ) == before


def test_keep_last_exceeding_batch_count_folds_nothing(spark, tmp_path):
    """keep_last > #batches must protect ALL shards (ADVICE r8: a negative
    slice bound used to fold from the FRONT, folding exactly the shards the
    caller asked to keep and inviting replay double-counts)."""
    cells = str(tmp_path / "cells")
    _land_ann_batches(spark, cells, n_batches=3)
    assert compact_ann_cells(spark, cells, keep_last=5) == 0
    assert _list_batches(cells) == [0, 1, 2]
    # Boundary: keep_last == #batches also protects everything.
    assert compact_ann_cells(spark, cells, keep_last=3) == 0
    assert _list_batches(cells) == [0, 1, 2]


def test_compact_cms_and_histogram_sum_partials(spark, tmp_path):
    from lakeflow.operators.aggregates import (
        cms_cells,
        histogram_partials,
        read_cms_cells,
        read_histogram_bins,
    )

    orders = load_table(spark, SF_DIR, "orders")
    cms_dir, hist_dir = str(tmp_path / "cms"), str(tmp_path / "hist")
    for bid in range(4):
        b = orders.filter(F.col("o_orderkey") % 4 == bid)
        cms_cells(b, "o_custkey").coalesce(1).write.mode("overwrite").parquet(
            f"{cms_dir}/cells/batch={bid}"
        )
        histogram_partials(b, "o_totalprice", width=10000.0).coalesce(1) \
            .write.mode("overwrite").parquet(f"{hist_dir}/bins/batch={bid}")

    cms_before = _rows(read_cms_cells(spark, cms_dir))
    hist_before = _rows(read_histogram_bins(spark, hist_dir))
    assert compact_cms_sketch(spark, cms_dir) == 2
    assert compact_histogram_sketch(spark, hist_dir) == 2
    assert _list_batches(f"{cms_dir}/cells") == [2, 3]
    assert _rows(read_cms_cells(spark, cms_dir)) == cms_before
    assert _rows(read_histogram_bins(spark, hist_dir)) == hist_before


def test_compact_kmv_and_weighted_sample(spark, tmp_path):
    from lakeflow.operators.aggregates import kmv_minima, merge_kmv_minima
    from lakeflow.operators.transforms import weighted_hash_sample

    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    kmv_dir, samp_dir = str(tmp_path / "kmv"), str(tmp_path / "samp")
    for bid in range(4):
        b = docs.filter(F.col("doc_id") % 4 == bid)
        kmv_minima(b, "doc_id", 64, group_cols=["lang"]).coalesce(1) \
            .write.mode("overwrite").parquet(f"{kmv_dir}/minima/batch={bid}")
        weighted_hash_sample(b, "doc_id", "n_chars", 50).coalesce(1) \
            .write.mode("overwrite").parquet(f"{samp_dir}/cand/batch={bid}")

    kmv_before = _rows(
        merge_kmv_minima(
            spark.read.parquet(f"{kmv_dir}/minima"), 64, group_cols=["lang"]
        )
    )
    samp_before = _rows(
        weighted_hash_sample(
            spark.read.parquet(f"{samp_dir}/cand"), "doc_id", "n_chars", 50
        ).select("doc_id", "lang", "n_chars")
    )
    assert compact_kmv_sketch(spark, kmv_dir, 64, group_cols=["lang"]) == 2
    assert compact_weighted_sample(
        spark, samp_dir, "doc_id", "n_chars", 50
    ) == 2
    assert _rows(
        merge_kmv_minima(
            spark.read.parquet(f"{kmv_dir}/minima"), 64, group_cols=["lang"]
        )
    ) == kmv_before
    assert _rows(
        weighted_hash_sample(
            spark.read.parquet(f"{samp_dir}/cand"), "doc_id", "n_chars", 50
        ).select("doc_id", "lang", "n_chars")
    ) == samp_before


def test_nothing_to_fold_is_a_noop(spark, tmp_path):
    cells = str(tmp_path / "cells")
    _land_ann_batches(spark, cells, n_batches=2)
    # Two shards, keep_last=1 → fold set is a single shard: no-op.
    assert compact_ann_cells(spark, cells) == 0
    assert _list_batches(cells) == [0, 1]
    # Missing directory: no-op, not an error.
    assert compact_cms_sketch(spark, str(tmp_path / "absent")) == 0


def test_crashed_swap_before_rename_rolls_back(spark, tmp_path):
    """Crash after the originals moved aside but before the fold renamed
    in: the next run must restore the originals (no under-count persists)
    and then compact normally — probe answers unchanged throughout."""
    import shutil

    from lakeflow.operators.similarity import ivf_probe_cells

    cells = str(tmp_path / "cells")
    raw, cents = _land_ann_batches(spark, cells, n_batches=4)
    q = raw.filter(F.col("vec_id") < 10)
    before = _rows(ivf_probe_cells(spark, cells, q, cents, k=5, n_probe=4))

    # Simulate the crash state: fold written to tmp, marker down, two of
    # the three folded shards moved aside, rename never happened.
    os.makedirs(f"{cells}/_compact.tmp")
    open(f"{cells}/_compact.plan", "w").close()
    os.makedirs(f"{cells}/_compact.trash")
    for b in (0, 1):
        os.rename(f"{cells}/batch={b}", f"{cells}/_compact.trash/batch={b}")
    assert _list_batches(cells) == [2, 3]  # the under-count window

    assert compact_ann_cells(spark, cells) == 2  # recovery + real fold
    assert _list_batches(cells) == [2, 3]
    assert _rows(
        ivf_probe_cells(spark, cells, q, cents, k=5, n_probe=4)
    ) == before
    assert not os.path.exists(f"{cells}/_compact.plan")
    assert not os.path.exists(f"{cells}/_compact.trash")
    shutil.rmtree(cells)


def test_crashed_swap_after_rename_rolls_forward(spark, tmp_path):
    """Crash after the fold renamed in but before the trash deleted: the
    trashed originals are superseded — the next run must NOT restore them
    (that would double-count) and the probe answers stay correct."""
    from lakeflow.operators.similarity import ivf_probe_cells
    from lakeflow.streaming.compaction import _fold_batch_shards

    cells = str(tmp_path / "cells")
    raw, cents = _land_ann_batches(spark, cells, n_batches=4)
    q = raw.filter(F.col("vec_id") < 10)
    before = _rows(ivf_probe_cells(spark, cells, q, cents, k=5, n_probe=4))

    # Run a REAL fold, then recreate the post-rename crash state: marker
    # back down, superseded originals back in a trash dir.
    assert compact_ann_cells(spark, cells) == 2
    open(f"{cells}/_compact.plan", "w").close()
    os.makedirs(f"{cells}/_compact.trash/batch=0")
    open(f"{cells}/_compact.trash/batch=0/stale.parquet", "w").close()

    # Any fold (here: a no-op, nothing left to fold) recovers first.
    assert compact_ann_cells(spark, cells) == 0
    assert not os.path.exists(f"{cells}/_compact.plan")
    assert not os.path.exists(f"{cells}/_compact.trash")
    assert _list_batches(cells) == [2, 3]
    assert _rows(
        ivf_probe_cells(spark, cells, q, cents, k=5, n_probe=4)
    ) == before


def test_compact_text_index_preserves_positions_and_recovers(spark, tmp_path):
    """A POSITIONAL index must keep its positions column through
    compaction (phrase search survives — the rewrite previously projected
    it away), and the text-index swap shares the marker-based crash
    recovery: a crash after the live parts moved aside rolls back to the
    pre-compaction index on the next run."""
    import shutil

    from lakeflow.operators.text import (
        append_to_text_index,
        build_text_index,
        compact_text_index,
        phrase_match,
    )

    docs = spark.createDataFrame(
        [(1, "batch batch stream"), (2, "table scan plan table scan"),
         (3, "stream table scan")],
        "doc_id long, text string",
    )
    idx = str(tmp_path / "idx")
    build_text_index(docs.filter("doc_id <= 2"), idx, include_positions=True)
    append_to_text_index(
        docs.filter("doc_id = 3"), idx, include_positions=True
    )
    before = sorted(
        map(tuple, phrase_match(spark, idx, ["table", "scan"]).collect())
    )
    assert before  # phrase hits exist pre-compaction

    compact_text_index(spark, idx)
    assert "positions" in spark.read.parquet(f"{idx}/postings").columns
    assert sorted(
        map(tuple, phrase_match(spark, idx, ["table", "scan"]).collect())
    ) == before

    # Crash state: fold in tmp, marker down, live parts moved aside.
    os.makedirs(f"{idx}/_compact/postings")
    open(f"{idx}/_compact.plan", "w").close()
    os.makedirs(f"{idx}/_compact.trash")
    for part in ("postings", "corpus_stats"):
        os.rename(f"{idx}/{part}", f"{idx}/_compact.trash/{part}")
    compact_text_index(spark, idx)  # recovers, then compacts again
    assert sorted(
        map(tuple, phrase_match(spark, idx, ["table", "scan"]).collect())
    ) == before
    assert not os.path.exists(f"{idx}/_compact.plan")
    assert not os.path.exists(f"{idx}/_compact.trash")
    shutil.rmtree(idx)


def _make_feed(spark, tmp_path, frames, schema):
    """Land each frame as one single-file parquet in a feed dir with
    monotone mtimes, so maxFilesPerTrigger=1 yields one micro-batch each."""
    import glob
    import shutil

    feed = str(tmp_path / "feed")
    os.makedirs(feed, exist_ok=True)
    for i, rows in enumerate(frames):
        part = str(tmp_path / f"part{i}")
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(part)
        dst = f"{feed}/{i:03d}.parquet"
        shutil.copy(glob.glob(f"{part}/*.parquet")[0], dst)
        os.utime(dst, (1_700_000_000 + i,) * 2)
    return feed


def test_auto_compaction_ann_bounds_shards_probe_identical(spark, tmp_path):
    """VERDICT r8 ask #3: compact_every_n_batches folds from INSIDE
    foreachBatch — a 4-batch ingest with every_n=2 ends at exactly 2
    shards (the fold + the replay tail) with the probe bit-identical to
    the one-shot batch assignment."""
    from lakeflow.operators.similarity import ivf_probe_cells
    from lakeflow.sources.streams import file_stream
    from lakeflow.streaming.sinks import stream_ann_ingest

    raw = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    n = raw.agg(F.max("vec_id")).first()[0]
    quarters = [
        [tuple(r) for r in raw.filter(
            (F.col("vec_id") > i * n // 4) & (F.col("vec_id") <= (i + 1) * n // 4)
            if i else F.col("vec_id") <= n // 4
        ).collect()]
        for i in range(4)
    ]
    feed = _make_feed(
        spark, tmp_path, quarters, "vec_id bigint, embedding array<float>"
    )
    centroids = raw.filter(F.col("vec_id") < 16)
    cells = str(tmp_path / "cells")
    stream_ann_ingest(
        file_stream(
            spark, feed, "vec_id bigint, embedding array<float>",
            max_files_per_trigger=1,
        ),
        cells,
        centroids,
        compact_every_n_batches=2,
    ).awaitTermination()
    assert len(_list_batches(cells)) <= 2
    q = raw.filter(F.col("vec_id") < 10)
    auto = _rows(ivf_probe_cells(spark, cells, q, centroids, k=5, n_probe=4))
    # Yardstick: ingest without compaction, probe must match exactly.
    plain = str(tmp_path / "plain")
    stream_ann_ingest(
        file_stream(
            spark, feed, "vec_id bigint, embedding array<float>",
            max_files_per_trigger=1,
        ),
        plain,
        centroids,
    ).awaitTermination()
    assert len(_list_batches(plain)) == 4
    assert auto == _rows(
        ivf_probe_cells(spark, plain, q, centroids, k=5, n_probe=4)
    )


def test_auto_compaction_sketch_sinks_bound_shards(spark, tmp_path):
    """The CMS / histogram / KMV / weighted-sample ingests with
    compact_every_n_batches=1 end a 3-batch run at <=2 shards each, and
    every probe equals its whole-input batch twin."""
    from lakeflow.operators.aggregates import (
        cms_cells,
        histogram_partials,
        kmv_minima,
        merge_kmv_minima,
        read_cms_cells,
        read_histogram_bins,
    )
    from lakeflow.operators.transforms import weighted_hash_sample
    from lakeflow.sources.streams import file_stream
    from lakeflow.streaming.sinks import (
        stream_cms_ingest,
        stream_histogram_ingest,
        stream_kmv_ingest,
        stream_weighted_sample_ingest,
    )

    schema = "id bigint, k string, w double"
    rows = [
        (i, ["a", "b", "c"][i % 3], float(1 + i % 7)) for i in range(90)
    ]
    frames = [rows[:30], rows[30:60], rows[60:]]
    whole = spark.createDataFrame(rows, schema)
    feed = _make_feed(spark, tmp_path, frames, schema)

    def stream():
        return file_stream(spark, feed, schema, max_files_per_trigger=1)

    cms_dir = str(tmp_path / "cms")
    stream_cms_ingest(
        stream(), cms_dir, "k", depth=3, width=8, compact_every_n_batches=1
    ).awaitTermination()
    assert len(_list_batches(f"{cms_dir}/cells")) <= 2
    assert {tuple(r) for r in read_cms_cells(spark, cms_dir).collect()} == {
        tuple(r) for r in cms_cells(whole, "k", depth=3, width=8).collect()
    }

    hist_dir = str(tmp_path / "hist")
    stream_histogram_ingest(
        stream(), hist_dir, "w", width=1.0, compact_every_n_batches=1
    ).awaitTermination()
    assert len(_list_batches(f"{hist_dir}/bins")) <= 2
    got = {tuple(r) for r in read_histogram_bins(spark, hist_dir).collect()}
    want = {
        tuple(r) for r in histogram_partials(whole, "w", width=1.0).collect()
    }
    assert got == want

    kmv_dir = str(tmp_path / "kmv")
    stream_kmv_ingest(
        stream(), kmv_dir, "k", 16, compact_every_n_batches=1
    ).awaitTermination()
    assert len(_list_batches(f"{kmv_dir}/minima")) <= 2
    merged = merge_kmv_minima(
        spark.read.parquet(f"{kmv_dir}/minima").drop("batch"), 16
    )
    assert _rows(merged) == _rows(
        merge_kmv_minima(kmv_minima(whole, "k", 16), 16)
    )

    ws_dir = str(tmp_path / "ws")
    stream_weighted_sample_ingest(
        stream(), ws_dir, "id", "w", 10, compact_every_n_batches=1
    ).awaitTermination()
    assert len(_list_batches(f"{ws_dir}/cand")) <= 2
    cand = spark.read.parquet(f"{ws_dir}/cand").drop("batch")
    assert _rows(weighted_hash_sample(cand, "id", "w", 10)) == _rows(
        weighted_hash_sample(whole, "id", "w", 10)
    )


def test_size_triggered_autocompact_sketch_sink_probe_identical(
    spark, tmp_path, monkeypatch
):
    """VERDICT r10 ask #4: the SIZE trigger drives a sketch-family fold —
    summed partials, not the ANN path's repartitioned vectors. A 3-batch
    CMS ingest with compact_max_shard_bytes=1 (any dust folds) must fire
    compact_cms_sketch mid-stream at least once, end at <=2 shards, and
    the folded probe must equal the whole-input batch sketch cell for
    cell — a partial lost, double-summed, or mis-bucketed by the fold
    flips a count."""
    from lakeflow.operators.aggregates import cms_cells, read_cms_cells
    from lakeflow.sources.streams import file_stream
    from lakeflow.streaming import compaction as comp
    from lakeflow.streaming.sinks import stream_cms_ingest

    fired = []
    orig = comp.compact_cms_sketch
    monkeypatch.setattr(
        comp,
        "compact_cms_sketch",
        lambda *a, **k: fired.append(1) or orig(*a, **k),
    )

    schema = "id bigint, k string, w double"
    rows = [(i, ["a", "b", "c"][i % 3], float(i)) for i in range(90)]
    feed = _make_feed(
        spark, tmp_path, [rows[:30], rows[30:60], rows[60:]], schema
    )
    cms_dir = str(tmp_path / "cms_size")
    stream_cms_ingest(
        file_stream(spark, feed, schema, max_files_per_trigger=1),
        cms_dir,
        "k",
        depth=3,
        width=8,
        compact_max_shard_bytes=1,
    ).awaitTermination()
    assert fired, "size trigger never fired the sketch fold"
    assert len(_list_batches(f"{cms_dir}/cells")) <= 2
    whole = spark.createDataFrame(rows, schema)
    assert {tuple(r) for r in read_cms_cells(spark, cms_dir).collect()} == {
        tuple(r) for r in cms_cells(whole, "k", depth=3, width=8).collect()
    }


def test_auto_compaction_text_index_probe_identical(spark, tmp_path):
    """stream_index_ingest with compact_every_n_batches folds postings
    (re-sorted by token) and corpus partials in the batch= layout; the
    BM25 probe over the auto-compacted index equals the one-shot build."""
    from lakeflow.operators.text import bm25_indexed_topk, build_text_index
    from lakeflow.sources.streams import file_stream
    from lakeflow.streaming.sinks import stream_index_ingest

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    rows = [tuple(r) for r in docs.collect()]
    third = len(rows) // 3
    frames = [rows[:third], rows[third : 2 * third], rows[2 * third :]]
    feed = _make_feed(spark, tmp_path, frames, "doc_id long, text string")
    idx = str(tmp_path / "sidx")
    stream_index_ingest(
        file_stream(
            spark, feed, "doc_id long, text string", max_files_per_trigger=1
        ),
        idx,
        compact_every_n_batches=2,
    ).awaitTermination()
    assert len(_list_batches(f"{idx}/postings")) <= 2
    assert len(_list_batches(f"{idx}/corpus_stats")) <= 2
    one_shot = str(tmp_path / "bidx")
    build_text_index(docs, one_shot)
    assert _rows(bm25_indexed_topk(spark, idx, ["spark", "join"])) == _rows(
        bm25_indexed_topk(spark, one_shot, ["spark", "join"])
    )


def test_autocompact_recovers_crashed_swap_before_counting(spark, tmp_path):
    """A mid-swap crash moves shards into reader-invisible _compact.trash,
    which also SHRINKS the live-dir count the auto trigger fires on — so
    _autocompact must roll the crashed swap back unconditionally, not wait
    for the next fold (probes would under-count forever at low cadence)."""
    import shutil

    from lakeflow.streaming.sinks import _autocompact

    cells = str(tmp_path / "cells")
    _land_ann_batches(spark, cells, n_batches=3)
    # Simulate a crash mid-swap: fold in tmp, marker down, two originals
    # moved aside — only batch=2 still visible, probes under-count.
    os.makedirs(f"{cells}/_compact.tmp")
    open(f"{cells}/_compact.plan", "w").close()
    os.makedirs(f"{cells}/_compact.trash")
    for b in (0, 1):
        os.rename(f"{cells}/batch={b}", f"{cells}/_compact.trash/batch={b}")
    assert _list_batches(cells) == [2]

    calls: list[int] = []
    # every_n=5: the count trigger must NOT fire — recovery alone restores.
    _autocompact(cells, 5, lambda: calls.append(1))
    assert calls == []
    assert _list_batches(cells) == [0, 1, 2], "crashed swap not rolled back"
    assert not os.path.exists(f"{cells}/_compact.plan")
    assert not os.path.exists(f"{cells}/_compact.trash")
    # With the count restored, a tighter cadence fires the fold.
    _autocompact(cells, 2, lambda: calls.append(1))
    assert calls == [1]
    shutil.rmtree(cells)


def test_autocompact_size_trigger_fires_on_dust_not_total(tmp_path):
    """VERDICT r9 ask #4 (unit): the size-triggered variant folds on the
    shard-tail DUST (total bytes minus the largest shard) — never with
    fewer than 2 shards (keep_last=1 must leave something folded), never
    while the dust is under threshold, and independently of the count
    trigger. Measuring TOTAL bytes instead would leave the gauge
    permanently over threshold after the first fold (the folded base
    stays in the sum) and rewrite the whole index on every batch."""
    from lakeflow.streaming.sinks import _autocompact

    cells = str(tmp_path / "cells")
    calls = []

    def shard(bid: int, nbytes: int) -> None:
        os.makedirs(f"{cells}/batch={bid}", exist_ok=True)
        with open(f"{cells}/batch={bid}/part-0.parquet", "wb") as fh:
            fh.write(b"x" * nbytes)

    shard(0, 100)
    _autocompact(cells, None, lambda: calls.append(1), max_bytes=10)
    assert not calls, "a single shard must never fold (replay tail)"

    shard(1, 100)
    _autocompact(cells, None, lambda: calls.append(1), max_bytes=150)
    assert not calls, "dust is 100 (largest excluded), not the 200 total"
    _autocompact(cells, None, lambda: calls.append(1), max_bytes=99)
    assert calls == [1], "dust 100 > 99 must fold"

    # Re-arm after a fold: a big folded base plus fresh dust under the
    # threshold must NOT re-fire (the pathological every-batch refold).
    calls.clear()
    os.rename(f"{cells}/batch=0", str(tmp_path / "gone"))
    shard(1, 5000)  # the fold's output: one big base shard
    shard(2, 100)   # fresh micro-batch dust
    _autocompact(cells, None, lambda: calls.append(1), max_bytes=150)
    assert not calls, "base excluded: dust 100 <= 150, gauge re-armed"
    shard(3, 100)
    _autocompact(cells, None, lambda: calls.append(1), max_bytes=150)
    assert calls == [1], "dust 200 > 150 fires again"

    # Count trigger still wins when it fires first.
    _autocompact(cells, 1, lambda: calls.append(2), max_bytes=10**12)
    assert calls == [1, 2]


def test_size_triggered_autocompact_streamed_index_probe_identical(
    spark, tmp_path
):
    """compact_max_shard_bytes on a streamed sketch ingest: a tiny
    threshold bounds the run at <=2 shards with the probe equal to the
    whole-input batch twin; a huge threshold never folds."""
    from lakeflow.operators.aggregates import cms_cells, read_cms_cells
    from lakeflow.sources.streams import file_stream
    from lakeflow.streaming.sinks import stream_cms_ingest

    schema = "id bigint, k string"
    rows = [(i, ["a", "b", "c"][i % 3]) for i in range(90)]
    frames = [rows[:30], rows[30:60], rows[60:]]
    whole = spark.createDataFrame(rows, schema)
    feed = _make_feed(spark, tmp_path, frames, schema)

    def stream():
        return file_stream(spark, feed, schema, max_files_per_trigger=1)

    small = str(tmp_path / "cms_small")
    stream_cms_ingest(
        stream(), small, "k", depth=3, width=8, compact_max_shard_bytes=1
    ).awaitTermination()
    assert len(_list_batches(f"{small}/cells")) <= 2
    assert {tuple(r) for r in read_cms_cells(spark, small).collect()} == {
        tuple(r) for r in cms_cells(whole, "k", depth=3, width=8).collect()
    }

    big = str(tmp_path / "cms_big")
    stream_cms_ingest(
        stream(), big, "k", depth=3, width=8,
        compact_max_shard_bytes=1 << 40,
    ).awaitTermination()
    assert len(_list_batches(f"{big}/cells")) == 3, "huge threshold: no fold"


def test_size_triggered_autocompact_tables_keeps_rows(spark, tmp_path):
    """compact_max_small_bytes on a VersionedTable append sink: the
    small-dir tail folds once its bytes exceed the threshold (manifest
    dir count bounded), every appended row survives, and a huge
    threshold leaves one dir per micro-batch."""
    from lakeflow.sources.streams import file_stream
    from lakeflow.streaming.sinks import stream_append
    from lakeflow.tables import VersionedTable

    schema = "id bigint"
    frames = [[(i,) for i in range(b * 10, b * 10 + 10)] for b in range(3)]
    feed = _make_feed(spark, tmp_path, frames, schema)

    def stream():
        return file_stream(spark, feed, schema, max_files_per_trigger=1)

    t = VersionedTable(spark, str(tmp_path / "tbl"))
    stream_append(
        stream(), t, compact_max_small_bytes=1
    ).awaitTermination()
    assert sorted(r.id for r in t.read().collect()) == list(range(30))
    assert t.n_data_dirs() <= 2

    t2 = VersionedTable(spark, str(tmp_path / "tbl2"))
    stream_append(
        stream(), t2, compact_max_small_bytes=1 << 40
    ).awaitTermination()
    assert sorted(r.id for r in t2.read().collect()) == list(range(30))
    assert t2.n_data_dirs() == 3


def test_compaction_policy_knobs_are_bounded_and_named_per_sink():
    """profiles.compaction_policy: count knob clamps to [8, 128] (one hour
    of triggers), size knob is the 128 MiB file target, and key names
    match the actual sink kwargs so the dict splats straight in."""
    import inspect

    from lakeflow.profiles import TARGET_PARTITION_MB, compaction_policy
    from lakeflow.streaming.sinks import stream_append, stream_cms_ingest

    p5 = compaction_policy(trigger_seconds=5.0)
    assert p5["compact_every_n_batches"] == 128          # clamped high
    assert compaction_policy(600)["compact_every_n_batches"] == 8  # low
    assert compaction_policy(60)["compact_every_n_batches"] == 60
    assert p5["compact_max_shard_bytes"] == TARGET_PARTITION_MB << 20

    tbl = compaction_policy(5.0, streamed=False)
    assert set(p5) <= set(inspect.signature(stream_cms_ingest).parameters)
    assert set(tbl) <= set(inspect.signature(stream_append).parameters)
