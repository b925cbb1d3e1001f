"""Time-series regularization operators (SURVEY.md §2.5 headroom).

The reference's OHLCV domain stops at windowed aggregation; real time-series
consumers also need *regular* grids: densify each key's observed range onto a
fixed step and fill the gaps (forward/backward fill at the edges, linear
interpolation between anchors). Everything here is window functions over one
per-key sort — one shuffle, no joins beyond the spine attach, no Python.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from lakeflow.functions.rounding import rnd


def densify_interpolate(
    present: DataFrame,
    key_col: str = "user_id",
    bucket_col: str = "bucket",
    val_col: str = "v",
    step: int = 3600,
    round_to: int = 6,
    offgrid: str = "error",
) -> DataFrame:
    """Regularize a sparse (key, bucket, value) series onto a ``step`` grid.

    Each key's spine spans its own [min, max] bucket. Missing buckets take
    the linear interpolation between the nearest observed anchors; before
    the first / after the last anchor they take the nearest value (bfill /
    ffill). Output: (key, bucket, observed, value).

    PRECONDITION: every observed bucket must sit on the key's grid
    (``(bucket − min(bucket)) % step == 0``) — the spine join can only match
    on-grid buckets, so an off-grid observation would otherwise vanish
    silently. ``offgrid`` picks the policy:

    * ``"error"`` (default) — raise at execution time on the first off-grid
      row (in-plan ``raise_error``; no extra job).
    * ``"snap"`` — floor each bucket onto the key's grid, averaging
      observations that land in the same cell.
    * ``"ignore"`` — the documented legacy behavior: off-grid rows drop.

    Duplicate ``(key, bucket)`` input rows are a PRECONDITION violation in
    ``"error"`` mode (ADVICE r13): the lead-based densify sees
    ``lead(bucket) == bucket`` and fails at execution time inside
    ``sequence()`` (step-direction error) rather than silently
    double-joining the duplicate as the old spine-join plan did. De-dup or
    pre-aggregate upstream, or use ``"snap"``, whose per-cell ``avg``
    collapses duplicates by construction.

    Scale shape: the spine explode is O(span/step) rows per key; anchors
    come from running last/first-value windows over ONE per-key sort —
    the same shuffle the spine join already needs. At 100 TB the bucket
    column doubles as the time-partition key.
    """
    if offgrid not in ("error", "snap", "ignore"):
        raise ValueError(f"offgrid must be error|snap|ignore, got {offgrid!r}")
    if offgrid != "ignore":
        b0 = F.col(bucket_col)
        misalign = F.pmod(
            b0 - F.min(bucket_col).over(Window.partitionBy(key_col)), F.lit(step)
        )
        if offgrid == "error":
            present = present.withColumn(
                bucket_col,
                F.when(misalign == 0, b0).otherwise(
                    F.raise_error(
                        F.concat(
                            F.lit(
                                f"densify_interpolate: off-grid bucket "
                                f"(step={step}) for {key_col}="
                            ),
                            F.col(key_col).cast("string"),
                            F.lit(f", {bucket_col}="),
                            b0.cast("string"),
                        )
                    )
                ),
            )
        else:  # snap
            present = present.withColumn(bucket_col, b0 - misalign).groupBy(
                key_col, bucket_col
            ).agg(F.avg(val_col).alias(val_col))
    v = F.col(val_col)
    b = F.col(bucket_col)
    # Both anchor scans use RUNNING frames (unboundedPreceding → current),
    # which Spark evaluates incrementally in O(n) per key; the "next anchor"
    # runs over a DESCENDING sort instead of an unboundedFollowing frame —
    # that frame re-aggregates current→end for every row, O(n²) per key
    # (measured 8.2s vs 2.6s on a 1M-row spine). Same hash partitioning, so
    # the second ordering adds only an in-partition sort, not a shuffle.
    w_prev = (
        Window.partitionBy(key_col)
        .orderBy(bucket_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_next = (
        Window.partitionBy(key_col)
        .orderBy(F.col(bucket_col).desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    anchor_b = F.when(v.isNotNull(), b)
    if offgrid != "ignore":
        # On-grid modes take the lead-based shape (r13, guide §2.4): every
        # observed bucket is on its key's grid, so the dense spine is exactly
        # the union over consecutive present rows of [bucket, next_bucket);
        # generate the gap buckets by exploding a per-row sequence instead of
        # building a spans aggregate + spine join. The former plan computed
        # `present` TWICE (spans branch + join branch — two full upstream
        # scans), exchanged three relations on (key, bucket), and re-shuffled
        # the DENSE spine for the anchor windows; this plan shuffles the
        # sparse present rows once (partitionBy key) and everything after
        # the windows is narrow. Anchor semantics are unchanged, including
        # null-valued observations: a gap bucket between rows i and i+1
        # interpolates between the last non-null anchor at-or-before row i
        # and the first non-null anchor at-or-after row i+1 (carried in via
        # lead()), which is exactly what the spine join's running windows
        # produced. Degenerate duplicate (key, bucket) inputs — which the
        # old path silently double-joined — now fail loudly in sequence().
        w_lead = Window.partitionBy(key_col).orderBy(bucket_col)
        anchored = present.select(
            key_col,
            bucket_col,
            val_col,
            F.last(v, ignorenulls=True).over(w_prev).alias("__pv"),
            F.last(anchor_b, ignorenulls=True).over(w_prev).alias("__pb"),
            F.last(v, ignorenulls=True).over(w_next).alias("__nv"),
            F.last(anchor_b, ignorenulls=True).over(w_next).alias("__nb"),
        ).select(
            key_col,
            bucket_col,
            val_col,
            "__pv",
            "__pb",
            "__nv",
            "__nb",
            F.lead(bucket_col).over(w_lead).alias("__lead_b"),
            F.lead("__nv").over(w_lead).alias("__lead_nv"),
            F.lead("__nb").over(w_lead).alias("__lead_nb"),
        )
        dense = anchored.select(
            key_col,
            bucket_col,
            val_col,
            "__pv",
            "__pb",
            "__nv",
            "__nb",
            "__lead_nv",
            "__lead_nb",
            F.explode(
                F.sequence(
                    b, F.coalesce(F.col("__lead_b") - step, b), F.lit(step)
                )
            ).alias("__grid"),
        )
        g = F.col("__grid")
        is_anchor = g == b
        pv, pb = F.col("__pv"), F.col("__pb")
        nv, nb = F.col("__nv"), F.col("__nb")
        lnv, lnb = F.col("__lead_nv"), F.col("__lead_nb")
        filled = F.when(
            is_anchor,
            # The present row itself: identical to the old spine-join branch.
            F.when(v.isNotNull(), v)
            .when(pv.isNull(), nv)  # bfill before the first anchor
            .when(nv.isNull(), pv)  # ffill after the last anchor
            .otherwise(pv + (nv - pv) * ((g - pb) / (nb - pb))),
        ).otherwise(
            # A generated gap bucket strictly between rows i and i+1.
            F.when(pv.isNull(), lnv)
            .when(lnv.isNull(), pv)
            .otherwise(pv + (lnv - pv) * ((g - pb) / (lnb - pb)))
        )
        return dense.select(
            key_col,
            g.alias("__b_out"),
            (is_anchor & v.isNotNull()).alias("observed"),
            rnd(filled, round_to).alias("__v_out"),
        ).withColumnsRenamed({"__b_out": bucket_col, "__v_out": val_col})
    spans = present.groupBy(key_col).agg(
        F.min(bucket_col).alias("__lo"), F.max(bucket_col).alias("__hi")
    )
    spine = spans.select(
        key_col,
        F.explode(F.sequence("__lo", "__hi", F.lit(step))).alias(bucket_col),
    )
    j = spine.join(present, [key_col, bucket_col], "left")
    prev_v = F.last(v, ignorenulls=True).over(w_prev)
    prev_b = F.last(anchor_b, ignorenulls=True).over(w_prev)
    next_v = F.last(v, ignorenulls=True).over(w_next)
    next_b = F.last(anchor_b, ignorenulls=True).over(w_next)
    filled = (
        F.when(v.isNotNull(), v)
        .when(prev_v.isNull(), next_v)  # bfill before the first anchor
        .when(next_v.isNull(), prev_v)  # ffill after the last anchor
        .otherwise(
            prev_v + (next_v - prev_v) * ((b - prev_b) / (next_b - prev_b))
        )
    )
    return j.select(
        key_col,
        bucket_col,
        v.isNotNull().alias("observed"),
        rnd(filled, round_to).alias(val_col),
    )


def ewma_trailing(
    df,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    id_col: str = "event_id",
    k: int = 8,
    round_to: int = 6,
):
    """Trailing exponentially-weighted moving average over the last ``k``
    observations per key — the smoothing step feature pipelines run before
    thresholding noisy per-entity signals (decay 0.5 per step; the infinite-
    history EWMA truncated where weights fall below 1/2^k, i.e. sub-rounding).

    Exact cross-engine arithmetic by construction: each weight is a power of
    two, so ``w * v`` is exact in binary floating point, and the k-term
    numerator/denominator sums are written in fixed order — any engine
    evaluating the same formula produces the identical double, no quantize
    step needed. Head-of-series rows renormalize over the lags that exist;
    a row whose value and k-1 lags are all NULL has no weight and gets NULL.

    Scale shape: one window (hash partition by key, in-partition sort), k
    ``lag`` reads evaluated incrementally — O(k) per row, no per-row array
    materialization and no unboundedFollowing O(n²) frame.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from lakeflow.functions.rounding import rnd

    w = Window.partitionBy(key_col).orderBy(ts_col, id_col)
    num = F.lit(0.0)
    den = F.lit(0.0)
    for i in range(k):
        term = F.lag(value_col, i).over(w)
        wt = F.lit(0.5**i)
        num = num + F.coalesce(term * wt, F.lit(0.0))
        den = den + F.when(term.isNotNull(), wt).otherwise(F.lit(0.0))
    return df.select(
        F.col(id_col),
        F.col(key_col),
        F.col(value_col),
        rnd(num / F.nullif(den, F.lit(0.0)), round_to).alias("ewma"),
    )


def rolling_zscore(
    df,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    id_col: str = "event_id",
    window: int = 8,
    round_to: int = 6,
):
    """Trailing-window z-score per event — the standard streaming anomaly
    score: how many (sample) standard deviations the current value sits
    from the mean of the PREVIOUS ``window`` observations of its key.
    Emitted only when the trailing window is full (fewer priors = no
    meaningful baseline); thresholding (|z| > 3) is the caller's policy.

    Determinism: values quantize to integer milli-units first, the window
    then accumulates exact integer sum and sum-of-squares (bigint — at
    milli scale a value of 10^6 squares to 10^18/10^6... stays in range
    for |value| < ~10^4.8 with window 8), and mean/variance derive from
    those integers — every engine computes the identical doubles, so the
    z-scores hash-match with no ulp tolerance. Variance via the
    sum-of-squares identity: var = (Σx² − (Σx)²/n)/(n−1).

    One window over one shuffle (key hash-partition, ts sort), incremental
    frame — O(1) per row, no re-aggregation.
    """
    from pyspark.sql import Window

    from lakeflow.functions.rounding import rnd

    v_milli = F.floor(F.col(value_col) * 1e3 + F.lit(0.5)).cast("bigint")
    base = df.select(
        F.col(id_col), F.col(key_col), F.col(ts_col), v_milli.alias("vm")
    )
    w = (
        Window.partitionBy(key_col)
        .orderBy(ts_col, id_col)
        .rowsBetween(-window, -1)
    )
    n = F.count("vm").over(w)
    s1 = F.sum("vm").over(w)
    s2 = F.sum(F.col("vm") * F.col("vm")).over(w)
    stats = base.select(
        id_col,
        key_col,
        "vm",
        n.alias("n"),
        s1.alias("s1"),
        s2.alias("s2"),
    ).filter(F.col("n") == window)
    mean = F.col("s1").cast("double") / F.lit(float(window))
    var = (
        F.col("s2").cast("double")
        - F.col("s1").cast("double") * F.col("s1").cast("double")
        / F.lit(float(window))
    ) / F.lit(float(window - 1))
    return stats.select(
        id_col,
        key_col,
        rnd(
            (F.col("vm").cast("double") - mean) / F.sqrt(var), round_to
        ).alias("z"),
    )


def dpo_pairs(
    df: DataFrame,
    group_col: str = "user_id",
    id_col: str = "event_id",
    cents_col: str = "c",
) -> DataFrame:
    """Preference-pair (DPO/RLHF) extraction: per ``group_col`` the
    highest-``cents_col`` row becomes `chosen` and the lowest `rejected`,
    with a strict-margin gate (equal extrema emit nothing) and
    deterministic id tie-breaks — chosen prefers the SMALLEST id among
    equal maxima (max over (c, -id)), rejected the smallest id among
    equal minima (min over (c, id)).

    Values must already be exact integers (cents): float ranking would
    make the argmax engine-dependent at ties. One shuffle on the group
    key, map-side partial min/max, O(1) state per group — never a window
    sort (see SCALE.md)."""
    c, i = F.col(cents_col), F.col(id_col)
    agg = df.groupBy(group_col).agg(
        F.max(F.struct(c.alias("c"), (-i).alias("neg"))).alias("ch"),
        F.min(F.struct(c.alias("c"), i.alias("id"))).alias("rj"),
    )
    return agg.filter(F.col("ch.c") > F.col("rj.c")).select(
        group_col,
        (-F.col("ch.neg")).cast("bigint").alias("chosen_" + id_col),
        F.col("rj.id").cast("bigint").alias("rejected_" + id_col),
        F.col("ch.c").alias("chosen_cents"),
        F.col("rj.c").alias("rejected_cents"),
        (F.col("ch.c") - F.col("rj.c")).alias("margin_cents"),
    )


def m4_downsample(
    df: DataFrame,
    *,
    ts_col: str = "ts",
    value_col: str = "value",
    id_col: str,
    key_cols: Sequence[str] = ("event_type",),
    bucket: str = "1 hour",
) -> DataFrame:
    """M4 time-series downsampling (Jugel et al., VLDB 2014): per
    (key, time bucket) keep exactly the four points a pixel column can
    show — first, last, min, max — which renders IDENTICAL to the full
    series at that resolution. The 100 TB → screen reduction: one hash
    aggregation with map-side partial combine, no window function, no
    sort; each of the four points is a ``min``/``max`` over a struct
    whose field order encodes the selection rule, with ``id_col`` as the
    final tie-break so the choice is deterministic (and therefore
    oracle-replayable) even when two points share a timestamp or value.

    Output: key cols, ``bucket_start`` + per-point (ts, value) pairs as
    ``ts_first/v_first, v_min/ts_min, v_max/ts_max, ts_last/v_last`` and
    the bucket's row count ``n``.
    """
    w = F.window(F.col(ts_col), bucket)
    by_time = F.struct(
        F.col(ts_col).alias("t"), F.col(id_col).alias("i"),
        F.col(value_col).alias("v"),
    )
    by_value = F.struct(
        F.col(value_col).alias("v"), F.col(ts_col).alias("t"),
        F.col(id_col).alias("i"),
    )
    ts_s = lambda c: F.date_format(c, "yyyy-MM-dd HH:mm:ss")  # noqa: E731
    return (
        df.groupBy(*key_cols, w.alias("__w"))
        .agg(
            F.min(by_time).alias("p_first"),
            F.max(by_time).alias("p_last"),
            F.min(by_value).alias("p_min"),
            F.max(by_value).alias("p_max"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
        )
        .select(
            *key_cols,
            ts_s(F.col("__w.start")).alias("bucket_start"),
            ts_s(F.col("p_first.t")).alias("ts_first"),
            F.col("p_first.v").alias("v_first"),
            F.col("p_min.v").alias("v_min"),
            ts_s(F.col("p_min.t")).alias("ts_min"),
            F.col("p_max.v").alias("v_max"),
            ts_s(F.col("p_max.t")).alias("ts_max"),
            ts_s(F.col("p_last.t")).alias("ts_last"),
            F.col("p_last.v").alias("v_last"),
            "n",
        )
    )
