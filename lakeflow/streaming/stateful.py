"""Arbitrary stateful streaming: gap-based sessionization via
``applyInPandasWithState``.

The reference's only stateful op is the built-in windowed aggregation
(/root/reference/src/silver/ohlcv_agg.py:20-28, SURVEY.md §2.8 T7 — "no
mapGroupsWithState-style arbitrary state"). This module supplies that headroom
with the canonical custom-state operator Spark's built-ins cannot express
per-key incrementally: sessions that close after a per-key inactivity *gap*,
carrying arbitrary per-session aggregates across micro-batches.

Scale notes: state is keyed by the group column, so it shards with the
shuffle; per-key state is O(1) (one open session), bounded further by the
event-time timeout — at 100 TB/day the state store holds |active keys|
entries, not history. Arrow batches move rows to Python per group; keep the
per-row work trivial (it is: a handful of comparisons).
"""

from __future__ import annotations

from collections.abc import Iterable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
    TimestampType,
)

SESSION_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_start", TimestampType()),
        StructField("session_end", TimestampType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
    ]
)

_STATE_SCHEMA = StructType(
    [
        StructField("start_ms", LongType()),
        StructField("end_ms", LongType()),
        StructField("n_events", LongType()),
        # Exact integer micro-units of the session value sum (see
        # _fold_rows); NULL while every value so far is NULL.
        StructField("total_micro", LongType()),
    ]
)


def _gap_ms(gap: str) -> int:
    n, unit = gap.split()
    return int(n) * {"minutes": 60_000, "seconds": 1_000, "hours": 3_600_000}[unit]


def _fold_rows(cur, chunks: Iterable[pd.DataFrame], gap_ms: int):
    """Fold one key's micro-batch rows into its open session ``cur``
    ([start_ms, end_ms, n_events, total_micro] or None). Returns the
    sessions a successor event closed, and the open session.

    Like SQL's ``count(*)`` and ``sum``, a NULL value counts as an event
    but adds nothing to the total, and a session of only NULL values has a
    NULL total."""
    closed: list[list] = []
    # Concat BEFORE the sort: a key whose micro-batch rows span several
    # Arrow chunks (>~10k rows/key/batch) gets them in shuffle order, so
    # per-chunk sorting still interleaves time across chunks — an
    # out-of-order chunk would regress the session end (cur[1] = t) and
    # split/merge sessions wrongly.
    chunks = [p for p in chunks if len(p)]
    if not chunks:
        return closed, cur
    pdf = pd.concat(chunks, ignore_index=True).sort_values("ts")
    ts_ms = (pdf["ts"].astype("int64") // 1_000_000).tolist()
    # Exact integer micro-units: accumulation is order-free, so the session
    # total cannot drift an ulp between a replay, a repartition, and the
    # DuckDB oracle's own summation order (the repo-wide rnd() pattern).
    # NULL arrives as NaN, which must not reach the int64 cast.
    value = pdf["value"].to_numpy(dtype="float64", na_value=np.nan)
    micro = np.floor(value * 1e6 + 0.5)
    null = np.isnan(micro)
    vals = np.where(null, 0, micro).astype("int64").tolist()
    for t, v, is_null in zip(ts_ms, vals, null.tolist()):
        if cur is None:
            cur = [t, t, 0, None]
        elif t - cur[1] > gap_ms:
            closed.append(cur)
            cur = [t, t, 0, None]
        cur[1] = t
        cur[2] += 1
        if not is_null:
            cur[3] = v if cur[3] is None else cur[3] + v
    return closed, cur


def _sessions_frame(user_id, sessions: list) -> pd.DataFrame:
    """SESSION_SCHEMA rows of ``sessions`` (state tuples) for one key."""
    return pd.DataFrame(
        {
            "user_id": [user_id] * len(sessions),
            "session_start": pd.to_datetime([s[0] for s in sessions], unit="ms"),
            "session_end": pd.to_datetime([s[1] for s in sessions], unit="ms"),
            "n_events": [s[2] for s in sessions],
            "total_value": [
                np.nan if s[3] is None else s[3] / 1e6 for s in sessions
            ],
        }
    )


def _make_sessionizer(gap_ms: int):
    def sessionize(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        (user_id,) = key
        if state.hasTimedOut:
            closed = [list(state.get)] if state.exists else []
            if state.exists:
                state.remove()
        else:
            cur = list(state.get) if state.exists else None
            closed, cur = _fold_rows(cur, pdfs, gap_ms)
            if cur is not None:
                state.update(tuple(cur))
                # Close the open session once the event-time watermark passes
                # session_end + gap.
                state.setTimeoutTimestamp(cur[1] + gap_ms)
        return iter([_sessions_frame(user_id, closed)] if closed else [])

    return sessionize


def sessionize_stream(
    stream: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "1 minutes",
) -> DataFrame:
    """Per-user gap sessions over a streaming events frame (ts, user_id, value).

    Emits a session when (a) a newer event for the key proves the gap elapsed,
    or (b) the event-time timeout fires after the watermark passes
    session_end + gap. Output columns: SESSION_SCHEMA.
    """
    return (
        stream.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            _make_sessionizer(_gap_ms(gap)),
            outputStructType=SESSION_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def sessionize_stream_tws(
    stream: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "1 minutes",
) -> DataFrame:
    """Gap sessionization on Spark 4's ``transformWithStateInPandas`` — the
    successor arbitrary-state API (StatefulProcessor: named value state +
    explicit event-time timers, RocksDB-only). Semantics mirror
    :func:`sessionize_stream` exactly (same SESSION_SCHEMA, the same fold
    loop ``_fold_rows``, same close-on-successor / close-on-timer rules), so
    the same DuckDB oracle applies.

    Environment gate: the TWS Python driver worker imports
    ``google.protobuf`` (pyspark/sql/streaming/proto/StateMessage_pb2),
    which this sandbox does not ship — construction raises ImportError with
    that reason, and the surface test skips, exactly like the Kafka-jar
    paths (S2/T6). The operator is the offline maximum: plan construction,
    schema plumbing, and processor logic are real; only execution needs the
    dependency.
    """
    try:
        import google.protobuf  # noqa: F401  (TWS driver-worker dependency)
    except ImportError as exc:
        raise ImportError(
            "transformWithStateInPandas needs google.protobuf in the Python "
            "environment (pyspark streaming proto messages); not available "
            "in this sandbox"
        ) from exc

    from pyspark.sql.streaming import StatefulProcessor

    gap_ms = _gap_ms(gap)

    class SessionProcessor(StatefulProcessor):
        def init(self, handle) -> None:
            self._state = handle.getValueState("session", _STATE_SCHEMA)
            self._handle = handle

        def handleInputRows(self, key, rows, timer_values):
            (user_id,) = key
            cur = list(self._state.get()) if self._state.exists() else None
            prev_timer = cur[1] + gap_ms if cur is not None else None
            closed, cur = _fold_rows(cur, rows, gap_ms)
            for s in closed:
                yield _sessions_frame(user_id, [s])
            if cur is not None:
                self._state.update(tuple(cur))
                if prev_timer is not None and prev_timer != cur[1] + gap_ms:
                    self._handle.deleteTimer(prev_timer)
                self._handle.registerTimer(cur[1] + gap_ms)

        def handleExpiredTimer(self, key, timer_values, expired_timer_info):
            (user_id,) = key
            if self._state.exists():
                yield _sessions_frame(user_id, [list(self._state.get())])
                self._state.clear()

        def close(self) -> None:
            pass

    return (
        stream.withWatermark("ts", watermark)
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=SessionProcessor(),
            outputStructType=SESSION_SCHEMA,
            outputMode="append",
            timeMode="eventTime",
        )
    )
