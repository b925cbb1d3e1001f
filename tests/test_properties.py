"""Property-based tests (hypothesis) for the merge/dedup algebra.

Spark jobs are expensive per example, so example counts are small and inputs
tiny — the point is edge-case coverage (empty sides, all-duplicate keys, nulls,
tie values), not volume.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from lakeflow.operators.merge import scd1_apply
from lakeflow.operators.transforms import dedup_latest

_SETTINGS = dict(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

keys = st.integers(min_value=0, max_value=5)
vals = st.text(alphabet="abc", min_size=0, max_size=3)
rows = st.lists(st.tuples(keys, vals), min_size=0, max_size=12)


@given(target=rows, source=rows)
@settings(**_SETTINGS)
def test_scd1_upsert_properties(spark, target, source):
    """SCD1 result = source rows for source keys, else target rows; one row
    per key when inputs are key-unique."""
    # Make inputs key-unique (last write wins) to model dimension snapshots.
    t = dict(target)
    s = dict(source)
    tdf = spark.createDataFrame(list(t.items()) or [(None, None)], "k int, v string")
    sdf = spark.createDataFrame(list(s.items()) or [(None, None)], "k int, v string")
    if not t:
        tdf = tdf.filter("k IS NOT NULL")
    if not s:
        sdf = sdf.filter("k IS NOT NULL")
    got = {(r.k, r.v) for r in scd1_apply(tdf, sdf, keys=["k"]).collect()}
    want = {(k, s.get(k, t.get(k))) for k in set(t) | set(s)}
    assert got == want


@given(data=st.lists(st.tuples(keys, st.integers(0, 9), st.integers(0, 9)), min_size=1, max_size=15))
@settings(**_SETTINGS)
def test_dedup_latest_properties(spark, data):
    """dedup_latest keeps exactly one row per key: the lexicographic max of
    (order col, tiebreak col)."""
    df = spark.createDataFrame(data, "k int, ord int, tb int")
    got = {(r.k, r.ord, r.tb) for r in dedup_latest(df, ["k"], "ord", tiebreak_cols=["tb"]).collect()}
    want = set()
    for k in {d[0] for d in data}:
        want.add(max((d for d in data if d[0] == k), key=lambda d: (d[1], d[2])))
    assert got == want


@given(target=rows, source=rows)
@settings(**_SETTINGS)
def test_scd1_upsert_is_idempotent(spark, target, source):
    """Replaying a micro-batch must not change state: apply(apply(T,S),S) ==
    apply(T,S) — the property stream_upsert's effectively-once story rests on."""
    t = dict(target)
    s = dict(source)
    tdf = spark.createDataFrame(list(t.items()) or [(None, None)], "k int, v string")
    sdf = spark.createDataFrame(list(s.items()) or [(None, None)], "k int, v string")
    if not t:
        tdf = tdf.filter("k IS NOT NULL")
    if not s:
        sdf = sdf.filter("k IS NOT NULL")
    once = scd1_apply(tdf, sdf, keys=["k"])
    twice = scd1_apply(once, sdf, keys=["k"])
    assert {(r.k, r.v) for r in once.collect()} == {
        (r.k, r.v) for r in twice.collect()
    }


edges_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=9), st.integers(min_value=0, max_value=9)
    ).filter(lambda e: e[0] != e[1]),
    min_size=1,
    max_size=15,
)


@given(edges=edges_strategy)
@settings(**_SETTINGS)
def test_dup_clusters_matches_union_find(spark, edges):
    """The distributed min-label propagation must agree with a driver-side
    union-find on arbitrary graphs (chains, cycles, stars — not just the
    near-cliques dedup produces)."""
    from lakeflow.operators.dedup import dup_clusters

    # Reference: classic union-find with min-root canonicalization.
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {n: find(n) for n in parent}

    pairs = spark.createDataFrame(
        [(min(a, b), max(a, b)) for a, b in edges], "id_a long, id_b long"
    )
    got = {r.id: r.cluster_id for r in dup_clusters(pairs).collect()}
    assert got == want


@given(edges=edges_strategy)
@settings(**_SETTINGS)
def test_dup_clusters_distributed_tier_matches_union_find(
    spark, edges, monkeypatch
):
    """Same property with the driver-side numpy tier disabled, so the
    DISTRIBUTED min-label loop (the 100 TB path) keeps independent
    coverage now that small graphs short-circuit to arrays."""
    from lakeflow.operators import dedup as dd

    monkeypatch.setattr(dd, "_DRIVER_CC_MAX_EDGES", 0)
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {n: find(n) for n in parent}

    pairs = spark.createDataFrame(
        [(min(a, b), max(a, b)) for a, b in edges], "id_a long, id_b long"
    )
    got = {r.id: r.cluster_id for r in dd.dup_clusters(pairs).collect()}
    assert got == want


def test_dup_clusters_null_ids_fall_through_to_distributed(spark):
    """Arrow int64 with nulls converts to float64+NaN on the driver tier
    (garbage searchsorted indices, raise on the int64 cast — ADVICE r10),
    so a null-bearing edge list must take the distributed loop. Pin: no
    exception, and the two tiers agree on the non-null components."""
    from lakeflow.operators import dedup as dd

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (None, 7), (10, 11)], "id_a long, id_b long"
    )
    got = {r.id: r.cluster_id for r in dd.dup_clusters(pairs).collect()}
    assert {k: v for k, v in got.items() if k is not None and k < 7} == {
        1: 1, 2: 1, 3: 1
    }
    assert got[10] == 10 and got[11] == 10


def test_dup_clusters_driver_tier_sparse_64bit_ids_and_exact_boundary(
    spark, monkeypatch
):
    """VERDICT r10 #8: the numpy tier indexes by np.unique — negative and
    sparse 64-bit ids must survive it, and the tier must engage at exactly
    _DRIVER_CC_MAX_EDGES (<=, not <). Tie both tiers together on the same
    graph at the boundary."""
    from lakeflow.operators import dedup as dd

    big = 2**62
    raw = [(-big, -5), (-5, 0), (big - 1, big), (123, big - 1)]
    pairs = spark.createDataFrame(raw, "id_a long, id_b long")
    # edges frame row count after both-directions union + distinct:
    n_edges = 2 * len(set(raw))
    want = {-big: -big, -5: -big, 0: -big, 123: 123, big - 1: 123, big: 123}

    monkeypatch.setattr(dd, "_DRIVER_CC_MAX_EDGES", n_edges)  # == boundary
    assert {r.id: r.cluster_id for r in dd.dup_clusters(pairs).collect()} == want
    monkeypatch.setattr(dd, "_DRIVER_CC_MAX_EDGES", 0)  # distributed twin
    assert {r.id: r.cluster_id for r in dd.dup_clusters(pairs).collect()} == want


@settings(**_SETTINGS)
@given(
    names=st.lists(
        st.text(alphabet="ab1", min_size=0, max_size=8), min_size=2, max_size=12
    )
)
def test_symmetric_delete_pairs_match_naive(spark, names):
    """SymSpell deletion-neighborhood candidates have recall 1 for lev<=2:
    edit_distance_pairs equals the naive all-pairs join on arbitrary strings
    (tiny alphabet maximizes near-matches, indels, and char runs)."""
    from pyspark.sql import functions as F

    from lakeflow.operators.linkage import edit_distance_pairs

    df = spark.createDataFrame(
        [(i, n, 0) for i, n in enumerate(names)], "id long, name string, blk int"
    )
    got = sorted(
        tuple(r)
        for r in edit_distance_pairs(df, "name", "id", ["blk"], 2).collect()
    )
    a = df.selectExpr("id AS id_a", "name AS name_a", "blk")
    b = df.selectExpr("id AS id_b", "name AS name_b", "blk")
    naive = (
        a.join(b, "blk")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("dist", F.levenshtein("name_a", "name_b", 2))
        .filter(F.col("dist") >= 0)
        .selectExpr("id_a", "id_b", "CAST(dist AS INT) AS dist")
    )
    want = sorted(tuple(r) for r in naive.collect())
    assert got == want


@settings(**_SETTINGS)
@given(
    data=st.lists(
        st.tuples(
            st.integers(0, 5),
            st.sampled_from([None, 0, 1]),
            st.sampled_from([None, "x", "y"]),
            st.integers(0, 9),
        ),
        min_size=0,
        max_size=14,
    )
)
def test_bucket_pairs_match_nested_loop(spark, data):
    """bucket_pairs equals a nested loop over the rows: one output row per
    row pair with a.rid < b.rid and equal, non-NULL key parts (repeated
    (rid, key) rows multiply), carrying c from each side."""
    from collections import Counter

    from lakeflow.operators.transforms import bucket_pairs

    df = spark.createDataFrame(data, "rid int, k1 int, k2 string, c int")
    got = Counter(
        tuple(r)
        for r in bucket_pairs(df, ["k1", "k2"], id_col="rid", carry=["c"]).collect()
    )
    want = Counter(
        (a[0], b[0], a[3], b[3])
        for a in data
        for b in data
        if a[0] < b[0]
        and None not in a[1:3]
        and a[1:3] == b[1:3]
    )
    assert got == want


@settings(**_SETTINGS)
@given(
    batches=st.lists(
        st.lists(
            st.tuples(st.integers(0, 30), st.integers(0, 99)),
            min_size=1,
            max_size=8,
        ),
        min_size=1,
        max_size=4,
    )
)
def test_partition_scoped_commits_fold_like_scd1(spark, tmp_path_factory, batches):
    """Folding arbitrary key/value batches through bucket-scoped
    replace-partitions commits must equal folding them through plain SCD1
    merges, and every manifest dir must stay partition-pure."""
    from pyspark.sql import functions as F

    from lakeflow.operators.merge import _dedup_source, scd1_apply
    from lakeflow.streaming.sinks import BUCKET_COL, _with_bucket
    from lakeflow.tables import VersionedTable

    root = tmp_path_factory.mktemp("vt")
    table = VersionedTable(spark, str(root))
    truth = None
    for rows in batches:
        batch = _with_bucket(
            spark.createDataFrame(rows, "k int, v int"), ["k"], 4
        )
        touched = [r[0] for r in batch.select(BUCKET_COL).distinct().collect()]
        if table.current_version() is None:
            state = _dedup_source(batch, ["k"], None)
            truth = state
        else:
            state = scd1_apply(
                table.read_partitions(BUCKET_COL, touched), batch, keys=["k"]
            )
            truth = scd1_apply(truth, batch, keys=["k"])
        table.commit_replace_partitions(state, BUCKET_COL)

    got = sorted(tuple(r) for r in table.read().select("k", "v").collect())
    want = sorted(tuple(r) for r in truth.select("k", "v").collect())
    assert got == want

    m = table._manifest(table.current_version())
    for d, parts in m["dir_parts"].items():
        assert len(parts) == 1  # write_split keeps dirs partition-pure


doc_texts = st.lists(
    st.text(alphabet="ab c", min_size=1, max_size=40), min_size=1, max_size=12
)


@given(texts=doc_texts, budget=st.integers(2, 8), n_shards=st.integers(1, 3))
@settings(**_SETTINGS)
def test_pack_budget_bins_properties(spark, texts, budget, n_shards):
    """Packing invariants on arbitrary corpora: every document lands in
    exactly one bin, token mass is conserved, bins are doc-id-contiguous
    within their shard, and no bin exceeds budget by more than one document
    (the documented streaming-packing overflow bound)."""
    from pyspark.sql import functions as F

    from lakeflow.operators.text import pack_budget_bins, token_count_ws

    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    out = pack_budget_bins(docs, budget=budget, n_shards=n_shards).collect()
    toks = {
        r.doc_id: r.n
        for r in docs.select("doc_id", token_count_ws("text").alias("n")).collect()
    }

    assert sum(r.n_docs for r in out) == len(texts)  # each doc exactly once
    assert sum(r.total_tokens for r in out) == sum(toks.values())
    for r in out:
        shard = r.bin_id >> 40  # shard rides the high bits (2^40 stride)
        ids = [
            d for d in sorted(toks) if d % (n_shards) == shard
            and r.first_doc <= d <= r.last_doc
        ]
        # contiguity: the bin covers every shard doc between first and last
        assert r.n_docs == len(ids)
        # overflow bound: strictly over budget only via its last doc
        if r.total_tokens > budget:
            assert r.total_tokens - toks[max(ids)] < budget


@given(texts=doc_texts)
@settings(**_SETTINGS)
def test_repetition_signals_properties(spark, texts):
    """Signal invariants: 1 <= n_types <= n_tokens, ratios in (0, 1],
    top_token_frac >= 1/n_types, and a doc of one repeated token drives
    type_token_ratio -> 1/n and top_token_frac -> 1."""
    from lakeflow.operators.text import repetition_signals

    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    rows = repetition_signals(docs).collect()
    assert len(rows) == len(texts)
    for r in rows:
        assert 1 <= r.n_types <= r.n_tokens
        assert 0 < r.type_token_ratio <= 1.0
        assert 0 < r.top_token_frac <= 1.0
        assert r.top_token_frac * r.n_types >= 0.999  # max >= mean


def test_boilerplate_strip_identity_when_threshold_never_hit(spark):
    """With a document-frequency threshold no segment can reach, stripping
    is the identity on normalized text: clean_text == normalized input and
    n_dropped == 0 for every doc — reassembly provably preserves order and
    content."""
    from pyspark.sql import functions as F

    from lakeflow.operators.dedup import normalize_text
    from lakeflow.operators.text import boilerplate_strip

    docs = spark.createDataFrame(
        [(i, " ".join(f"tok{i}_{j}" for j in range(1 + (i * 7) % 23)))
         for i in range(40)],
        "doc_id long, text string",
    )
    out = boilerplate_strip(docs, max_df=10**9)
    norm = {r["doc_id"]: r["t"] for r in
            docs.select("doc_id", normalize_text("text").alias("t")).collect()}
    for r in out.collect():
        assert r["n_dropped"] == 0
        assert r["clean_text"] == norm[r["doc_id"]]


@given(
    ops=st.lists(
        st.one_of(
            st.tuples(
                st.just("commit"),
                st.lists(
                    st.tuples(keys, st.integers(0, 999)), min_size=1, max_size=6
                ),
            ),
            st.tuples(st.just("delete"), keys),
        ),
        min_size=1,
        max_size=6,
    ),
    refresh_points=st.sets(st.integers(0, 5), max_size=3),
)
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_mv_incremental_equals_rebuild_property(spark, tmp_path_factory, ops, refresh_points):
    """Under ANY interleaving of appends, copy-on-write deletes, and refresh
    timings, the incrementally-maintained view lands bit-identical to a
    from-scratch rebuild of the final base version (the signed-fold algebra
    is path-independent)."""
    from lakeflow.tables import VersionedTable
    from lakeflow.views import IncrementalAggView

    tmp = tmp_path_factory.mktemp("mvprop")
    base = VersionedTable(spark, str(tmp / "base"))
    mv = IncrementalAggView(
        spark, base, keys=["k"], sums={"s": ("v", 1)}, path=str(tmp / "mv"),
        count_col="n",
    )
    committed = False
    for i, op in enumerate(ops):
        if op[0] == "commit":
            base.commit(
                spark.createDataFrame(op[1], "k int, v int"),
            )
            committed = True
        elif committed:  # delete needs an existing snapshot
            base.delete_where(f"k = {op[1]}")
        if committed and i in refresh_points:
            mv.refresh()  # mid-sequence refreshes must not corrupt the fold
    if not committed:
        return
    mv.refresh()

    fresh = IncrementalAggView(
        spark, base, keys=["k"], sums={"s": ("v", 1)},
        path=str(tmp / "mv_full"), count_col="n",
    )
    fresh.refresh()
    got = {(r.k, r.n, r.s) for r in mv.read().collect()}
    want = {(r.k, r.n, r.s) for r in fresh.read().collect()}
    assert got == want


def _bpe_merge_ref(syms: list[str], a: str, b: str) -> list[str]:
    """Python reference for BPE merge application: greedy left-to-right
    non-overlapping."""
    out: list[str] = []
    i = 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


@given(
    arrays=st.lists(
        st.lists(st.sampled_from(["a", "b", "ab", "c"]), min_size=0, max_size=8),
        min_size=1,
        max_size=6,
    ),
    pair=st.tuples(
        st.sampled_from(["a", "b", "ab"]), st.sampled_from(["a", "b", "c"])
    ),
)
@settings(**_SETTINGS)
def test_bpe_merge_fold_matches_reference(spark, arrays, pair):
    """The Catalyst aggregate fold that applies a BPE merge must agree with
    the greedy left-to-right non-overlapping Python reference on arbitrary
    symbol sequences — including overlap runs (aaa), empty arrays, and
    merges whose output symbol (ab) already exists in the input."""
    from pyspark.sql import functions as F

    from lakeflow.operators.text import _merge_pair_expr

    a, b = pair
    df = spark.createDataFrame([(arr,) for arr in arrays], "syms array<string>")
    got = [r[0] for r in df.select(F.expr(_merge_pair_expr(a, b))).collect()]
    want = [_bpe_merge_ref(arr, a, b) for arr in arrays]
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


ops = st.lists(
    st.one_of(
        st.tuples(
            st.just("append"),
            st.lists(
                st.tuples(st.integers(0, 9), st.integers(0, 99)),
                min_size=1,
                max_size=4,
            ),
        ),
        st.tuples(st.just("delete"), st.integers(0, 9)),
        st.tuples(st.just("update"), st.integers(0, 9), st.integers(0, 99)),
    ),
    min_size=1,
    max_size=5,
)


@given(sequence=ops)
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_mor_dml_equivalent_to_copy_on_write(spark, tmp_path_factory, sequence):
    """Merge-on-read DML must be observationally identical to copy-on-write:
    the same arbitrary append/delete/update sequence applied through
    delete_where_mor/update_where_mor and through delete_where/update_where
    yields the same row multiset after every step, and compacting the MOR
    table changes nothing."""
    from lakeflow.tables import VersionedTable

    base = tmp_path_factory.mktemp("morprop")
    cow = VersionedTable(spark, str(base / "cow"))
    mor = VersionedTable(spark, str(base / "mor"))
    seeded = False

    def rows(t):
        return sorted((r.k, r.v) for r in t.read().collect())

    for op in sequence:
        if op[0] == "append":
            df = spark.createDataFrame(op[1], "k long, v long")
            cow.commit(df)
            mor.commit(df)
            seeded = True
        elif not seeded:
            continue
        elif op[0] == "delete":
            cow.delete_where(f"k = {op[1]}")
            mor.delete_where_mor(f"k = {op[1]}")
        else:
            cow.update_where(f"k = {op[1]}", {"v": str(op[2])})
            mor.update_where_mor(f"k = {op[1]}", {"v": str(op[2])})
        if seeded:
            assert rows(cow) == rows(mor)
    if seeded:
        final = rows(mor)
        mor.compact()
        assert rows(mor) == final


@given(
    texts=st.lists(
        st.lists(
            st.sampled_from(["alpha", "beta", "gamma", "delta", "eps", "x1"]),
            min_size=1,
            max_size=30,
        ).map(" ".join),
        min_size=1,
        max_size=8,
    ),
    window=st.integers(2, 10),
    span_len=st.integers(1, 4),
    pct=st.sampled_from([0, 30, 60, 100]),
)
@settings(max_examples=12, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_span_corruption_reconstruction_invariant(
    spark, texts, window, span_len, pct
):
    """The denoising contract itself: substituting each <extra_id_k>
    sentinel in the input with target span k reproduces the normalized
    original text exactly, for ANY window/span/rate — masking must never
    lose or reorder a token. Also pins n_masked == tokens removed."""
    import re

    from lakeflow.operators.text import span_corruption

    span_len = min(span_len, window)
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    out = span_corruption(
        df, window=window, span_len=span_len, window_pct=pct
    ).collect()
    assert len(out) == len(texts)
    for r in out:
        # Parse target into span k -> tokens.
        spans = {}
        for m in re.finditer(
            r"<extra_id_(\d+)>((?:(?!<extra_id_)." + r")*)", r.target_text
        ):
            spans[int(m.group(1))] = m.group(2).strip()
        assert len(spans) == r.n_spans
        rebuilt = re.sub(
            r"<extra_id_(\d+)>", lambda m: spans[int(m.group(1))], r.input_text
        )
        rebuilt = re.sub(r"\s+", " ", rebuilt).strip()
        original = re.sub(r"\s+", " ", texts[r.doc_id].lower()).strip()
        assert rebuilt == original
        n_input_tokens = len(
            [t for t in r.input_text.split(" ") if not t.startswith("<extra_id_")]
        ) if r.input_text else 0
        assert r.n_masked == r.n_tokens - n_input_tokens


_mv_ops = st.one_of(
    st.tuples(
        st.just("append"),
        st.lists(
            st.tuples(st.integers(0, 3), st.integers(0, 20)),
            min_size=1,
            max_size=5,
        ),
    ),
    st.tuples(st.just("delete_mor"), st.integers(0, 3), st.just(0)),
    st.tuples(st.just("update_mor"), st.integers(0, 3), st.integers(0, 20)),
    st.tuples(
        st.just("upsert_mor"),
        st.lists(
            st.tuples(st.integers(0, 3), st.integers(0, 20)),
            min_size=1,
            max_size=3,
        ),
    ),
)


@given(sequence=st.lists(_mv_ops, min_size=1, max_size=5))
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_incremental_mv_tracks_arbitrary_mor_dml(
    spark, tmp_path_factory, sequence
):
    """The round-6 headline property: after ANY sequence of appends and
    merge-on-read DML (deletion-vector deletes/updates/upserts), an
    incremental refresh lands bit-identical to aggregating the current base
    from scratch — DV pre-images fold exactly, never double-counting
    (update/upsert) and never retaining deleted contributions (delete)."""
    from pyspark.sql import functions as F

    from lakeflow.tables import VersionedTable
    from lakeflow.views import IncrementalAggView

    root = tmp_path_factory.mktemp("mvmor")
    t = VersionedTable(spark, str(root / "base"))
    mv = IncrementalAggView(
        spark, t, keys=["k"], sums={"s": ("v", 1)},
        path=str(root / "mv"), count_col="n",
    )
    seeded = False
    for step, op in enumerate(sequence):
        if op[0] == "append":
            t.commit(spark.createDataFrame(op[1], "k long, v long"))
            seeded = True
        elif not seeded:
            continue
        elif op[0] == "delete_mor":
            t.delete_where_mor(f"k = {op[1]}")
        elif op[0] == "update_mor":
            t.update_where_mor(f"k = {op[1]}", {"v": str(op[2])})
        else:  # upsert_mor: one row per key (the caller contract)
            dedup = {k: v for k, v in op[1]}
            t.upsert_mor(
                spark.createDataFrame(
                    sorted(dedup.items()), "k long, v long"
                ),
                keys=["k"],
            )
        if not seeded:
            continue
        mv.refresh()
        got = {(r.k, r.n, r.s) for r in mv.read().collect()}
        want = {
            (r.k, r.n, r.s)
            for r in t.read()
            .groupBy("k")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n"),
                F.sum(
                    F.floor(F.col("v") * 1 + F.lit(0.5)).cast("bigint")
                ).cast("bigint").alias("s"),
            )
            .collect()
        }
        assert got == want, f"diverged at step {step} after {op[0]}"


@given(sequence=st.lists(_mv_ops, min_size=1, max_size=4))
@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_dirty_group_mv_tracks_arbitrary_mor_dml(
    spark, tmp_path_factory, sequence
):
    """The non-invertible tier under the same churn: MIN/MAX dirty-group
    recompute must land identical to a from-scratch aggregate after any
    merge-on-read DML sequence — a deleted extremum re-resolves to the
    true second extremum because DV pre-images dirty their groups."""
    from pyspark.sql import functions as F

    from lakeflow.tables import VersionedTable
    from lakeflow.views import DirtyGroupAggView

    root = tmp_path_factory.mktemp("dgmor")
    t = VersionedTable(spark, str(root / "base"))
    mv = DirtyGroupAggView(
        spark, t, key="k", path=str(root / "mv"), count_col="n",
        mins={"mn": ("v", 1)}, maxs={"mx": ("v", 1)},
    )
    seeded = False
    for step, op in enumerate(sequence):
        if op[0] == "append":
            t.commit(spark.createDataFrame(op[1], "k long, v long"))
            seeded = True
        elif not seeded:
            continue
        elif op[0] == "delete_mor":
            t.delete_where_mor(f"k = {op[1]}")
        elif op[0] == "update_mor":
            t.update_where_mor(f"k = {op[1]}", {"v": str(op[2])})
        else:
            dedup = {k: v for k, v in op[1]}
            t.upsert_mor(
                spark.createDataFrame(
                    sorted(dedup.items()), "k long, v long"
                ),
                keys=["k"],
            )
        if not seeded:
            continue
        mv.refresh()
        got = {(r.k, r.n, r.mn, r.mx) for r in mv.read().collect()}
        want = {
            (r.k, r.n, r.mn, r.mx)
            for r in t.read()
            .groupBy("k")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n"),
                F.min(
                    F.floor(F.col("v") * 1 + F.lit(0.5)).cast("bigint")
                ).alias("mn"),
                F.max(
                    F.floor(F.col("v") * 1 + F.lit(0.5)).cast("bigint")
                ).alias("mx"),
            )
            .collect()
        }
        assert got == want, f"diverged at step {step} after {op[0]}"


@given(
    ops=st.lists(
        st.one_of(
            st.tuples(
                st.just("commit"),
                st.lists(
                    st.tuples(keys, st.integers(0, 99)), min_size=1, max_size=5
                ),
            ),
            st.tuples(st.just("delete"), keys),
            st.tuples(st.just("mor_delete"), keys),
            st.tuples(st.just("update"), keys),
            st.just(("rename",)),
            st.just(("compact",)),
        ),
        min_size=1,
        max_size=8,
    ),
)
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_rename_amid_dml_matches_model(spark, tmp_path_factory, ops):
    """Metadata-only RENAME interleaved with appends, copy-on-write and
    merge-on-read deletes, updates, and compaction must stay equivalent to
    a plain Python multiset model — the alias-resolving read path cannot
    lose, duplicate, or mis-bind a row no matter where the rename lands
    in the history (files from every naming epoch coexist)."""
    from lakeflow.tables import VersionedTable

    tmp = tmp_path_factory.mktemp("renprop")
    t = VersionedTable(spark, str(tmp / "t"))
    model: list[tuple[int, int]] = []
    name, gen, committed = "v", 0, False
    for op in ops:
        if op[0] == "commit":
            t.commit(
                spark.createDataFrame(op[1], f"k int, {name} int"),
                mode="append" if committed else "overwrite",
            )
            model.extend(op[1])
            committed = True
        elif not committed:
            continue
        elif op[0] == "delete":
            t.delete_where(f"k = {op[1]}")
            model = [(k, v) for k, v in model if k != op[1]]
        elif op[0] == "mor_delete":
            t.delete_where_mor(f"k = {op[1]}")
            model = [(k, v) for k, v in model if k != op[1]]
        elif op[0] == "update":
            t.update_where(f"k = {op[1]}", {name: f"{name} + 10"})
            model = [
                (k, v + 10) if k == op[1] else (k, v) for k, v in model
            ]
        elif op[0] == "rename":
            gen += 1
            new = f"v{gen}"
            t.rename_column(name, new)
            name = new
        elif op[0] == "compact":
            t.compact()
    if not committed:
        return
    got = sorted((r["k"], r[name]) for r in t.read().collect())
    assert got == sorted(model)
    assert t.read().columns == ["k", name]


@given(
    ops=st.lists(
        st.one_of(
            st.tuples(
                st.just("append"),
                st.lists(
                    st.tuples(keys, st.integers(0, 99)), min_size=1, max_size=4
                ),
            ),
            st.tuples(
                st.just("overwrite"),
                st.lists(
                    st.tuples(keys, st.integers(0, 99)), min_size=1, max_size=4
                ),
            ),
            st.tuples(st.just("delete"), keys),
        ),
        min_size=1,
        max_size=6,
    ),
)
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_delta_export_round_trips_arbitrary_histories(
    spark, tmp_path_factory, ops
):
    """ANY interleaving of appends, overwrites, and copy-on-write deletes
    must export to a Delta log whose independent replay reader reproduces
    EVERY historical version exactly — the add/remove diffing can't drop,
    duplicate, or misattribute a file anywhere in the history."""
    from lakeflow.formats import export_delta, read_delta_log
    from lakeflow.tables import VersionedTable

    tmp = tmp_path_factory.mktemp("dexp")
    t = VersionedTable(spark, str(tmp / "t"))
    committed = False
    for op in ops:
        if op[0] in ("append", "overwrite"):
            t.commit(
                spark.createDataFrame(op[1], "k int, v int"),
                mode=op[0] if committed else "append",
            )
            committed = True
        elif committed:
            t.delete_where(f"k = {op[1]}")
    if not committed:
        return
    out = str(tmp / "delta")
    n = export_delta(t, out)
    versions = t.versions()
    assert n == len(versions)
    for i, v in enumerate(versions):
        got = sorted(
            (r.k, r.v) for r in read_delta_log(spark, out, version=i).collect()
        )
        want = sorted((r.k, r.v) for r in t.read(version=v).collect())
        assert got == want, f"delta commit {i} != table version {v}"


@given(
    data=st.lists(
        st.tuples(
            st.integers(0, 3),          # group
            st.integers(0, 20),         # id
            st.integers(-5, 5),         # cents
        ),
        min_size=0,
        max_size=16,
    )
)
@settings(**_SETTINGS)
def test_dpo_pairs_match_brute_force(spark, data):
    """dpo_pairs ≡ the obvious per-group brute force: chosen = (max c,
    then min id), rejected = (min c, then min id), pair emitted iff the
    extrema differ strictly. Duplicate (group, id) rows are legal input."""
    from lakeflow.operators.timeseries import dpo_pairs

    df = spark.createDataFrame(
        data, "user_id int, event_id long, c long"
    )
    got = {
        r["user_id"]: (
            r["chosen_event_id"],
            r["rejected_event_id"],
            r["chosen_cents"],
            r["rejected_cents"],
            r["margin_cents"],
        )
        for r in dpo_pairs(df).collect()
    }
    groups: dict[int, list[tuple[int, int]]] = {}
    for g, i, c in data:
        groups.setdefault(g, []).append((i, c))
    want = {}
    for g, rows_ in groups.items():
        ch = max(rows_, key=lambda r: (r[1], -r[0]))
        rj = min(rows_, key=lambda r: (r[1], r[0]))
        if ch[1] > rj[1]:
            want[g] = (ch[0], rj[0], ch[1], rj[1], ch[1] - rj[1])
    assert got == want


# --- hidden partitioning (partition transforms) -----------------------------

_hp_rows = st.lists(
    st.tuples(st.integers(0, 40), st.integers(0, 120)),  # (key, day offset)
    min_size=1,
    max_size=25,
)


@given(
    rows=_hp_rows,
    point=st.integers(0, 40),
    lo=st.integers(0, 120),
    span=st.integers(0, 60),
    del_key=st.integers(0, 40),
)
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_scan_transformed_matches_plain_filter(
    spark, tmp_path_factory, rows, point, lo, span, del_key
):
    """scan_transformed is EXACT under any data/predicate combination: the
    hidden-column rewrite may only prune, never change results — including
    after a copy-on-write DELETE whose rewritten dir drops the transform
    (specs no longer common → rewrite disables, residual filter carries)."""
    from datetime import date, timedelta

    from pyspark.sql import functions as F

    from lakeflow.tables import VersionedTable

    root = tmp_path_factory.mktemp("hp")
    df = spark.createDataFrame(rows, "k long, off long").select(
        "k",
        F.expr(
            "CAST(date_add(DATE'2024-01-01', CAST(off AS INT)) AS timestamp)"
        ).alias("ts"),
    )
    t = VersionedTable(spark, str(root / "t"))
    t.commit(df, partition_by=["day(ts)", "bucket(4, k)"])

    def ts_str(days: int) -> str:
        return (date(2024, 1, 1) + timedelta(days=days)).strftime(
            "%Y-%m-%d 00:00:00"
        )

    lo_s, hi_s = ts_str(lo), ts_str(lo + span)

    def check():
        got = sorted(
            (r.k, str(r.ts))
            for r in t.scan_transformed(
                point={"k": point}, between={"ts": (lo_s, hi_s)}
            ).collect()
        )
        want = sorted(
            (r.k, str(r.ts))
            for r in t.read()
            .filter((F.col("k") == point) & F.col("ts").between(lo_s, hi_s))
            .collect()
        )
        assert got == want

    check()
    t.delete_where(f"k = {del_key}")
    check()


# --- incremental join view under arbitrary two-sided DML --------------------

_jv_rows_l = st.lists(
    st.tuples(st.integers(0, 3), st.integers(0, 9)), min_size=1, max_size=4
)
_jv_rows_r = st.lists(
    st.tuples(st.integers(0, 3), st.integers(10, 19)), min_size=1, max_size=4
)
_jv_ops = st.one_of(
    st.tuples(st.just("append_l"), _jv_rows_l),
    st.tuples(st.just("append_r"), _jv_rows_r),
    st.tuples(st.just("delete_l"), st.integers(0, 3)),
    st.tuples(st.just("delete_mor_r"), st.integers(10, 19)),
)


@given(sequence=st.lists(_jv_ops, min_size=2, max_size=5))
@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_join_view_tracks_arbitrary_two_sided_dml(
    spark, tmp_path_factory, sequence
):
    """After ANY interleaving of appends, copy-on-write deletes (left) and
    merge-on-read deletes (right) with a refresh at every step, the join
    view's Z-set state equals the grouped full join of the current bases —
    the delta identity never double-counts the cross term and DV pre-images
    fold with the right sign through the join."""
    from pyspark.sql import functions as F

    from lakeflow.tables import VersionedTable
    from lakeflow.views import IncrementalJoinView

    root = tmp_path_factory.mktemp("jvprop")
    lt = VersionedTable(spark, str(root / "l"))
    rt = VersionedTable(spark, str(root / "r"))
    view = IncrementalJoinView(
        spark, lt, rt, on=["k"], path=str(root / "state")
    )
    for step, op in enumerate(sequence):
        if op[0] == "append_l":
            lt.commit(spark.createDataFrame(op[1], "k long, a long"))
        elif op[0] == "append_r":
            rt.commit(spark.createDataFrame(op[1], "k long, b long"))
        elif lt.current_version() is None or rt.current_version() is None:
            continue
        elif op[0] == "delete_l":
            lt.delete_where(f"k = {op[1]}")
        else:
            rt.delete_where_mor(f"b = {op[1]}")
        if lt.current_version() is None or rt.current_version() is None:
            continue
        view.refresh()
        got = {(r.k, r.a, r.b, r.n) for r in view.read().collect()}
        want = {
            (r.k, r.a, r.b, r.n)
            for r in lt.read()
            .join(rt.read(), on="k")
            .groupBy("k", "a", "b")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
            .collect()
        }
        assert got == want, f"diverged at step {step} after {op[0]}"


@given(sequence=st.lists(_jv_ops, min_size=2, max_size=5))
@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_left_join_view_tracks_arbitrary_two_sided_dml(
    spark, tmp_path_factory, sequence
):
    """The LEFT OUTER tier under the same arbitrary churn: state must equal
    the grouped LEFT JOIN of the current bases at every step — null
    extensions appearing and retracting exactly as matched status flips."""
    from pyspark.sql import functions as F

    from lakeflow.tables import VersionedTable
    from lakeflow.views import IncrementalLeftJoinView

    root = tmp_path_factory.mktemp("ljvprop")
    lt = VersionedTable(spark, str(root / "l"))
    rt = VersionedTable(spark, str(root / "r"))
    view = IncrementalLeftJoinView(
        spark, lt, rt, on=["k"], path=str(root / "state")
    )
    for step, op in enumerate(sequence):
        if op[0] == "append_l":
            lt.commit(spark.createDataFrame(op[1], "k long, a long"))
        elif op[0] == "append_r":
            rt.commit(spark.createDataFrame(op[1], "k long, b long"))
        elif lt.current_version() is None or rt.current_version() is None:
            continue
        elif op[0] == "delete_l":
            lt.delete_where(f"k = {op[1]}")
        else:
            rt.delete_where_mor(f"b = {op[1]}")
        if lt.current_version() is None or rt.current_version() is None:
            continue
        view.refresh()
        got = {(r.k, r.a, r.b, r.n) for r in view.read().collect()}
        want = {
            (r.k, r.a, r.b, r.n)
            for r in lt.read()
            .join(rt.read(), on="k", how="left")
            .groupBy("k", "a", "b")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
            .collect()
        }
        assert got == want, f"diverged at step {step} after {op[0]}"


_doc_words = st.lists(
    st.sampled_from(["aa", "bb", "cc", "dd", "ee", "ff"]), min_size=3, max_size=9
)
_corpus = st.lists(_doc_words, min_size=2, max_size=7)
_thresh = st.sampled_from([0.2, 0.3, 0.5, 0.7])


@given(corpus=_corpus, t=_thresh)
@settings(**_SETTINGS)
def test_prefix_filtering_loses_no_pairs(spark, corpus, t):
    """All-Pairs prefix filtering is complete: verified pairs from the
    prefix-filtered candidate set equal the exhaustive-join ground truth at
    the same threshold — for ANY corpus and threshold (the false-negative
    trap is an off-by-one in the prefix length or a too-eager length
    filter)."""
    from lakeflow.operators import dedup as dd

    docs = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in enumerate(corpus)],
        "doc_id long, text string",
    )
    shingles = dd.word_shingles(docs, n=2)
    exhaustive = {
        (r.id_a, r.id_b, r.jaccard)
        for r in dd.jaccard_pairs(shingles, min_sim=t).collect()
        if r.jaccard >= t
    }
    filtered = {
        (r.id_a, r.id_b, r.jaccard)
        for r in dd.jaccard_verify(
            shingles, dd.prefix_filtered_pairs(shingles, t), min_sim=t
        ).collect()
    }
    assert filtered == exhaustive
    # The PPJoin form (pair-level positional bound + array_intersect
    # verify) must be complete too — its extra pruning is the part a
    # too-eager bound would break.
    ppjoin = {
        (r.id_a, r.id_b, r.jaccard)
        for r in dd.prefix_filtered_jaccard_join(shingles, t).collect()
    }
    assert ppjoin == exhaustive


@given(
    items=st.lists(
        st.tuples(st.integers(0, 40), st.integers(0, 2)), min_size=1,
        max_size=30,
    ),
    cuts=st.lists(st.integers(0, 29), min_size=0, max_size=3),
    keep_last=st.integers(0, 2),
)
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_shard_fold_preserves_kmv_probe(
    spark, tmp_path_factory, items, cuts, keep_last
):
    """Compacting an arbitrary batch split of a KMV minima shard set, with
    any replay tail kept, must leave the probe's merged sketch identical:
    bottom-k of a union equals bottom-k of unioned per-batch bottom-k's,
    whatever the split — the mergeability contract the OPTIMIZE step
    relies on (streaming/compaction.py)."""
    from lakeflow.operators.aggregates import kmv_minima, merge_kmv_minima
    from lakeflow.streaming.compaction import _list_batches, compact_kmv_sketch

    root = str(tmp_path_factory.mktemp("kmvfold"))
    bounds = sorted({0, *cuts, len(items)})
    batches = [
        items[lo:hi] for lo, hi in zip(bounds, bounds[1:]) if items[lo:hi]
    ]
    for bid, rows_b in enumerate(batches):
        df = spark.createDataFrame(rows_b, "item int, grp int")
        kmv_minima(df, "item", 8, group_cols=["grp"]).coalesce(1) \
            .write.mode("overwrite").parquet(f"{root}/minima/batch={bid}")

    def probe():
        return sorted(
            map(tuple, merge_kmv_minima(
                spark.read.parquet(f"{root}/minima"), 8, group_cols=["grp"]
            ).collect())
        )

    before = probe()
    n = len(batches)
    folded = compact_kmv_sketch(
        spark, root, 8, group_cols=["grp"], keep_last=keep_last
    )
    expect_fold = max(n - keep_last, 0)
    assert folded == (expect_fold - 1 if expect_fold >= 2 else 0)
    assert probe() == before
    # The one-shot sketch over ALL items equals the merged probe's sketch.
    one_shot = sorted(
        map(tuple, kmv_minima(
            spark.createDataFrame(items, "item int, grp int"), "item", 8,
            group_cols=["grp"],
        ).collect())
    )
    assert probe() == one_shot
    assert len(_list_batches(f"{root}/minima")) >= min(n, max(keep_last, 1))


@given(
    st.dictionaries(
        st.sampled_from(["d1", "d2", "d3", "d4"]),
        st.dictionaries(
            st.sampled_from(["a", "b", "c"]),
            st.tuples(st.integers(-100, 100), st.integers(-100, 100)).map(
                lambda t: [min(t), max(t)]
            ),
            min_size=0,
            max_size=3,
        ),
        min_size=0,
        max_size=4,
    ),
    st.lists(st.sampled_from(["d1", "d2", "d3", "d4"]), unique=True, max_size=4),
)
def test_union_stats_envelope_is_sound(prev_stats, fold):
    """Pure-python property for the per-dir index fold (the r9 provenance
    sweep): when a union envelope IS produced for a column, it must bound
    every folded dir's envelope (soundness — a zone map may only give
    false positives); when any folded dir lacks the column (or the stats
    entry entirely), NO envelope may be produced (a partial union would
    wrongly prune that dir's rows)."""
    from lakeflow.tables import _union_stats_envelopes

    out = _union_stats_envelopes(prev_stats, fold)
    if out is None:
        return
    assert fold and all(d in prev_stats for d in fold)
    for c, (lo, hi) in out.items():
        for d in fold:
            assert c in prev_stats[d], "partial union would prune wrongly"
            assert lo <= prev_stats[d][c][0] and prev_stats[d][c][1] <= hi


@given(
    st.dictionaries(
        st.sampled_from(["d1", "d2", "d3"]),
        st.dictionaries(
            st.sampled_from(["a", "b"]),
            st.lists(st.integers(0, 63), unique=True, max_size=12),
            min_size=0,
            max_size=2,
        ),
        min_size=0,
        max_size=3,
    ),
    st.lists(st.sampled_from(["d1", "d2", "d3"]), unique=True, max_size=3),
    st.sets(st.sampled_from(["a", "b"])),
)
def test_union_bloom_sets_is_sound(prev_bloom, fold, exclude):
    """Bloom fold soundness: a produced union must be a SUPERSET of every
    folded dir's bit set for that column (extra bits = false positives
    only; a missing bit would be a false negative — skipped rows), and
    excluded columns (UPDATE SET targets) never appear."""
    from lakeflow.tables import _union_bloom_sets

    out = _union_bloom_sets(prev_bloom, fold, exclude=exclude)
    if out is None:
        return
    assert fold and all(d in prev_bloom for d in fold)
    for c, bits in out.items():
        assert c not in exclude
        s = set(bits)
        for d in fold:
            assert c in prev_bloom[d]
            assert set(prev_bloom[d][c]) <= s


asof_ts = st.integers(min_value=0, max_value=5000)  # seconds; bucket=600
asof_keys = st.integers(min_value=0, max_value=2)
asof_left_rows = st.lists(
    st.tuples(asof_keys, asof_ts), min_size=0, max_size=14
)
asof_right_rows = st.lists(
    st.tuples(
        asof_keys, asof_ts, st.one_of(st.none(), st.integers(0, 9))
    ),
    min_size=0,
    max_size=14,
)


@given(
    lrows=asof_left_rows,
    rrows=asof_right_rows,
    direction=st.sampled_from(["backward", "forward"]),
    tol=st.sampled_from([None, 900]),
    how=st.sampled_from(["left", "inner"]),
)
@settings(**_SETTINGS)
def test_asof_time_bucket_salt_is_output_invariant(
    spark, lrows, rrows, direction, tol, how
):
    """The hot-key time-bucket salt must be a pure partitioning change:
    salted output == unsalted output on ARBITRARY inputs — empty sides,
    (key, ts) ties on both sides, null payload values (per-column carry),
    keys missing from one side, matches that cross bucket boundaries (the
    600 s bucket over a 5000 s range forces multi-bucket histories)."""
    from datetime import datetime, timedelta

    from lakeflow.operators.joins import asof_join

    t0 = datetime(2024, 1, 1)
    left = spark.createDataFrame(
        [(k, t0 + timedelta(seconds=s), i) for i, (k, s) in enumerate(lrows)]
        or [(None, None, None)],
        "k long, ts timestamp, seq long",
    )
    right = spark.createDataFrame(
        [(k, t0 + timedelta(seconds=s), v) for k, s, v in rrows]
        or [(None, None, None)],
        "k long, ts timestamp, rv long",
    )
    if not lrows:
        left = left.filter("k IS NOT NULL")
    if not rrows:
        right = right.filter("k IS NOT NULL")
    kw = dict(
        on=["k"], left_ts="ts", right_ts="ts", payload={"rv": "rv"},
        direction=direction, tolerance_seconds=tol, how=how,
    )
    key = lambda r: (r.k, r.ts, r.seq, r.rv)
    plain = sorted(map(key, asof_join(left, right, **kw).collect()))
    salted = sorted(
        map(
            key,
            asof_join(
                left, right, time_bucket_seconds=600, **kw
            ).collect(),
        )
    )
    assert salted == plain


# One dir's rows: (k int, s str, flag bool, p int), any of them NULL.
_plan_rows = st.lists(
    st.tuples(
        st.one_of(st.none(), st.integers(-5, 5)),
        st.one_of(st.none(), st.sampled_from(["a", "b", "c", "10"])),
        st.one_of(st.none(), st.booleans()),
        st.one_of(st.none(), st.integers(0, 3)),
    ),
    max_size=6,
)
_maybe = st.one_of(st.none(), st.integers(-6, 6))


@given(
    dirs=st.lists(
        st.tuples(_plan_rows, st.booleans(), st.booleans(), st.booleans()),
        min_size=1,
        max_size=5,
    ),
    between=st.dictionaries(st.just("k"), st.tuples(_maybe, _maybe), max_size=1),
    points=st.fixed_dictionaries(
        {},
        optional={
            "k": st.lists(_maybe, max_size=3),
            "s": st.lists(st.one_of(st.none(), st.sampled_from(["a", "c", "z"]))),
            "flag": st.lists(st.booleans(), min_size=1, max_size=2),
        },
    ),
    partitions=st.one_of(st.none(), st.lists(st.one_of(st.none(), st.integers(0, 4)))),
    bits=st.sampled_from([8, 64]),
)
@settings(max_examples=500, deadline=None)
def test_scan_planner_keeps_every_dir_with_a_matching_row(
    dirs, between, points, partitions, bits
):
    """The scan planner over random manifests built from known per-dir rows
    (zone maps on k and s, Bloom bits over Spark's string rendering of k,
    s and the BOOLEAN flag, partition coverage of p, each present or not
    per dir): every dir holding a row that matches all predicates is kept.
    No Spark runs."""
    import json

    from lakeflow.tables import HIVE_DEFAULT_PARTITION, _bloom_positions, plan_dirs

    def spark_str(v) -> str:  # Spark's string cast, which the commit hashes
        return str(v).lower() if isinstance(v, bool) else str(v)

    cols = {"k": 0, "s": 1, "flag": 2}
    types = {"k": "integer", "s": "string", "flag": "boolean", "p": "integer"}
    fields = [
        {"name": n, "type": t, "nullable": True, "metadata": {}} for n, t in types.items()
    ]
    m = {
        "dirs": [f"d{i}" for i in range(len(dirs))],
        "schema": json.dumps({"type": "struct", "fields": fields}),
        "stats": {},
        "bloom": {},
        "bloom_bits": bits,
        "dir_parts": {},
    }
    for d, (rows, has_stats, has_bloom, has_parts) in zip(m["dirs"], dirs):
        if has_stats:
            m["stats"][d] = {}
            for c in ("k", "s"):
                vs = [r[cols[c]] for r in rows if r[cols[c]] is not None]
                m["stats"][d][c] = [min(vs), max(vs)] if vs else [None, None]
        if has_bloom:
            m["bloom"][d] = {
                c: sorted(
                    {
                        b
                        for r in rows
                        if r[i] is not None
                        for b in _bloom_positions(spark_str(r[i]), bits)
                    }
                )
                for c, i in cols.items()
            }
        if has_parts:
            m["dir_parts"][d] = sorted(
                {HIVE_DEFAULT_PARTITION if r[3] is None else str(r[3]) for r in rows}
            )

    def matches(r) -> bool:
        for c, (lo, hi) in between.items():
            v = r[cols[c]]
            if v is None or lo is not None and v < lo or hi is not None and v > hi:
                return False
        for c, vs in points.items():
            if r[cols[c]] is None or r[cols[c]] not in vs:
                return False
        return partitions is None or r[3] in partitions

    kept = plan_dirs(m, between=between, points=points, partitions=partitions)
    assert kept == [d for d in m["dirs"] if d in kept]  # manifest order
    for d, (rows, *_flags) in zip(m["dirs"], dirs):
        if any(matches(r) for r in rows):
            assert d in kept, (d, rows)
