"""Streaming queries run through the real Structured Streaming engine.

``stream_candles_15m`` executes the watermarked streaming candle aggregation
end-to-end (file source → withWatermark → windowed agg → memory sink,
trigger availableNow) and returns the emitted rows. Because the input is
bounded and the agg is deterministic (event-time min_by/max_by), the emitted
set is exactly "all windows closed by the final watermark" — which the DuckDB
oracle reproduces with a HAVING on max(ts) − 1 minute.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from lakeflow.catalog import load_table
from lakeflow.queries import register
from lakeflow.queries.northstar import _BM25_ORACLE as _BM25_STREAM_ORACLE
from lakeflow.queries.relational import _CMS_HH_ORACLE as _CMS_HH_STREAM_ORACLE

from lakeflow.sources.streams import events_stream
from lakeflow.streaming.candles import streaming_candles
from lakeflow.streaming.sinks import run_to_memory

_STRF = "%Y-%m-%d %H:%M:%S"


@register(
    "stream_candles_15m",
    oracle=f"""
    SELECT event_type,
           strftime(time_bucket(INTERVAL 15 MINUTE, ts), '{_STRF}') AS bucket_start,
           (floor((min_by(value, ts)) * 100.0 + 0.5) / 100.0) AS open,
           (floor((max(value)) * 100.0 + 0.5) / 100.0)        AS high,
           (floor((min(value)) * 100.0 + 0.5) / 100.0)        AS low,
           (floor((max_by(value, ts)) * 100.0 + 0.5) / 100.0) AS close,
           (floor((sum(value)) * 100.0 + 0.5) / 100.0)        AS volume,
           count(*)                    AS n_events
    FROM events
    GROUP BY event_type, time_bucket(INTERVAL 15 MINUTE, ts)
    HAVING time_bucket(INTERVAL 15 MINUTE, ts) + INTERVAL 15 MINUTE
           <= (SELECT max(ts) FROM events) - INTERVAL 1 MINUTE
    """,
)
def stream_candles_15m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of candles_15m through the real streaming engine
    (T1 watermark, T2 tumbling window, T3 append mode, T4 availableNow
    trigger, T5 checkpoint): emits exactly the windows the final watermark
    (max event time − 1 min) has closed."""
    stream = events_stream(spark, sf_dir)
    candles = streaming_candles(stream, watermark="1 minutes")
    name, _ = run_to_memory(candles)
    return spark.table(name)


@register(
    "stream_static_enrich",
    oracle="""
    SELECT e.event_id, e.user_id, c.c_name, c.c_mktsegment
    FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
    """,
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join (the streaming generalization of the reference's J1
    dimension lookup): streaming events left-join the static customer dim.
    The static side broadcasts into every micro-batch — no stream shuffle, no
    state. Append mode needs no watermark for stream-static left joins, so
    every input row is emitted exactly once."""
    from pyspark.sql import functions as F

    stream = events_stream(spark, sf_dir)
    dim = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment"
    )
    joined = stream.join(
        F.broadcast(dim), stream.user_id == dim.c_custkey, "left"
    ).select("event_id", "user_id", "c_name", "c_mktsegment")
    name, _ = run_to_memory(joined)
    return spark.table(name)


@register(
    "stream_event_dedup",
    oracle="SELECT event_id, user_id, event_type FROM events",
)
def stream_event_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup with bounded state
    (dropDuplicatesWithinWatermark): the event stream is unioned with a full
    replay of itself (an at-least-once source), and the dedup must collapse
    every replayed row back to exactly-once — the oracle is simply the
    distinct original events. State size is bounded by the watermark window —
    the 100 TB-stream-safe dedup."""
    doubled = events_stream(spark, sf_dir).unionByName(
        events_stream(spark, sf_dir)
    )  # simulated at-least-once delivery
    deduped = (
        doubled.withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "user_id", "event_type")
    )
    name, _ = run_to_memory(deduped)
    return spark.table(name)


@register(
    "stream_gap_sessions",
    oracle="""
    WITH e AS (
        SELECT user_id, epoch_ms(ts) AS m,
               CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS v_micro
        FROM events
    ),
    marked AS (
        SELECT *, CASE WHEN lag(m) OVER w IS NULL
                            OR m - lag(m) OVER w > 1800000
                       THEN 1 ELSE 0 END AS new_session
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY m)
    ),
    sessions AS (
        SELECT *, sum(new_session) OVER (
            PARTITION BY user_id ORDER BY m ROWS UNBOUNDED PRECEDING
        ) AS session_no
        FROM marked
    ),
    agg AS (
        SELECT user_id, session_no,
               max(session_no) OVER (PARTITION BY user_id) AS last_no,
               min(m) * 1000 AS session_start_us,
               max(m) * 1000 AS session_end_us,
               CAST(count(*) AS BIGINT) AS n_events,
               sum(v_micro) / 1000000.0 AS total_value
        FROM sessions GROUP BY user_id, session_no
    )
    SELECT user_id, session_start_us, session_end_us, n_events, total_value
    FROM agg
    WHERE session_no < last_no
       OR session_end_us / 1000 + 1800000 <
          (SELECT epoch_ms(max(ts)) - 60000 FROM events)
    """,
)
def stream_gap_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState, SURVEY.md §2.8 T7
    headroom): per-user gap-based sessionization, 30-minute inactivity gap.
    State = one open session per user, closed by a newer event or by the
    event-time timeout; sessions stream out in append mode. Not expressible
    with built-in session_window when per-session state must carry arbitrary
    aggregates across batches.

    Oracle (VERDICT r4 "Next round #3" — this was the last SQL-expressible
    rows-only query): gaps-and-islands over millisecond-truncated event
    times (the operator's own precision), micro-unit value sums (order-free
    on both engines), and the exact emission set — every non-last session
    per user (a successor event proved its gap) plus last sessions whose
    end + gap lies strictly below the final watermark (max ts − 1 min, the
    event-time-timeout rule)."""
    from pyspark.sql import functions as F

    from lakeflow.streaming.stateful import sessionize_stream

    stream = events_stream(spark, sf_dir).select("ts", "user_id", "value")
    sessions = sessionize_stream(stream, gap="30 minutes", watermark="1 minutes")
    name, _ = run_to_memory(sessions)
    return spark.table(name).select(
        "user_id",
        F.unix_micros("session_start").alias("session_start_us"),
        F.unix_micros("session_end").alias("session_end_us"),
        "n_events",
        "total_value",
    )


@register(
    "stream_stream_view_to_purchase",
    oracle="""
    SELECT a.event_id AS view_id, b.event_id AS purchase_id, a.user_id
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND a.event_type = 'view' AND b.event_type = 'purchase'
     AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE
    """,
)
def stream_stream_view_to_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream time-interval inner join (SURVEY.md §2.3 headroom —
    absent from the reference): views matched to same-user purchases within
    30 minutes. Both sides carry watermarks, so join state is bounded by the
    interval + watermark — the state-safe form at unbounded scale. Inner
    append-mode emission is exactly the batch join result on bounded input,
    hence fully oracle-checkable."""
    from pyspark.sql import functions as F

    src = events_stream(spark, sf_dir).select(
        "event_id", "ts", "user_id", "event_type"
    )
    views = (
        src.filter(F.col("event_type") == "view")
        .withWatermark("ts", "1 minutes")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("v_ts"),
        )
    )
    purchases = (
        src.filter(F.col("event_type") == "purchase")
        .withWatermark("ts", "1 minutes")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
    )
    joined = views.join(
        purchases,
        (F.col("v_user") == F.col("p_user"))
        & (F.col("p_ts") > F.col("v_ts"))
        & (F.col("p_ts") <= F.col("v_ts") + F.expr("INTERVAL 30 MINUTES")),
    ).select("view_id", "purchase_id", F.col("v_user").alias("user_id"))
    name, _ = run_to_memory(joined)
    return spark.table(name)


@register(
    "stream_session_windows",
    oracle="""
    WITH marked AS (
        SELECT user_id, ts, value,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    sessions AS (
        SELECT *, sum(new_session) OVER (
            PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING
        ) AS session_no
        FROM marked
    )
    SELECT user_id,
           epoch_us(min(ts)) AS session_start_us,
           epoch_us(max(ts) + INTERVAL 30 MINUTE) AS session_end_us,
           count(*) AS n_events
    FROM sessions GROUP BY user_id, session_no
    HAVING max(ts) + INTERVAL 30 MINUTE
           <= (SELECT max(ts) FROM events) - INTERVAL 1 MINUTE
    """,
)
def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows through the real streaming engine (T2's dynamic-gap
    case): watermarked F.session_window in append mode emits exactly the
    sessions the final watermark (max ts − 1 min) has closed — a session
    closes when the watermark passes session_end (= last event + gap). The
    oracle replays gaps-and-islands SQL with the same HAVING cutoff."""
    from pyspark.sql import functions as F

    stream = events_stream(spark, sf_dir)
    sessions = (
        stream.withWatermark("ts", "1 minutes")
        .groupBy("user_id", F.session_window("ts", "30 minutes").alias("__w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_micros("__w.start").alias("session_start_us"),
            F.unix_micros("__w.end").alias("session_end_us"),
            "n_events",
        )
    )
    name, _ = run_to_memory(sessions)
    return spark.table(name)


@register(
    "pysource_tick_candles",
    oracle="""
    WITH ticks AS (
        SELECT 'SYM' || CAST(s % 7 AS VARCHAR) AS symbol,
               TIMESTAMP '2024-01-01 00:00:00' + s * INTERVAL 1 MINUTE AS ts,
               100.0 + ((s * 37) % 100) / 10.0 AS price,
               (s * 13) % 1000 AS volume
        FROM UNNEST(range(0, 6000)) AS u(s)
    )
    SELECT symbol,
           strftime(time_bucket(INTERVAL 15 MINUTE, ts), '%Y-%m-%d %H:%M:%S') AS bucket_start,
           (floor((min_by(price, ts)) * 100.0 + 0.5) / 100.0) AS open,
           (floor((max(price)) * 100.0 + 0.5) / 100.0)        AS high,
           (floor((min(price)) * 100.0 + 0.5) / 100.0)        AS low,
           (floor((max_by(price, ts)) * 100.0 + 0.5) / 100.0) AS close,
           (floor((sum(price)) * 100.0 + 0.5) / 100.0)        AS volume,
           count(*) AS n_events
    FROM ticks
    GROUP BY symbol, time_bucket(INTERVAL 15 MINUTE, ts)
    """,
)
def pysource_tick_candles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end over a CUSTOM Python data source (PySpark 4 DataSource API,
    sources/pysource.py): the reference's Kafka-producer replay re-expressed
    as a first-class partitioned source, candled with the flagship
    aggregation. The generator is pure arithmetic, so the DuckDB oracle
    reproduces the source exactly — the full pipeline (source → window agg)
    is value-hash-checked, not just row-counted."""
    from lakeflow.operators.aggregates import tumbling_candles
    from lakeflow.sources.pysource import register_tick_source

    register_tick_source(spark)
    ticks = spark.read.format("lakeflow_ticks").option("n", "6000").load()
    return tumbling_candles(
        ticks, ts_col="ts", key_cols=("symbol",), value_col="price"
    )


@register(
    "stream_left_outer_views",
    oracle="""
    SELECT a.event_id AS view_id, b.event_id AS purchase_id, a.user_id
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND a.event_type = 'view' AND b.event_type = 'purchase'
     AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE
    UNION ALL
    SELECT a.event_id, CAST(NULL AS BIGINT), a.user_id
    FROM events a
    WHERE a.event_type = 'view'
      AND NOT EXISTS (
          SELECT 1 FROM events b
          WHERE b.user_id = a.user_id AND b.event_type = 'purchase'
            AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE
      )
      AND a.ts + INTERVAL 30 MINUTE
          < (SELECT least(
                 max(CASE WHEN event_type = 'view' THEN ts END),
                 max(CASE WHEN event_type = 'purchase' THEN ts END)
             ) FROM events) - INTERVAL 1 MINUTE
    """,
)
def stream_left_outer_views(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER time-interval join: every view pairs with
    same-user purchases within 30 minutes, and views with no such purchase
    still emit (NULL purchase) — but only once the watermark proves no
    match can arrive, i.e. after it passes view_ts + 30 min. That delayed
    null emission is the part inner joins (stream_stream_view_to_purchase)
    don't exercise; state stays bounded by interval + watermark exactly as
    in the inner case. On bounded input the emitted set is the batch left
    join restricted to views whose match window the final watermark closed.
    The global watermark is the MIN across the two input streams (each
    computes max(ts) − 1 min over ITS filtered subset), so the oracle's
    cutoff is least(max view ts, max purchase ts) − 1 min — with one side
    lagging, nulls stall exactly as they would in production."""
    from pyspark.sql import functions as F

    src = events_stream(spark, sf_dir).select(
        "event_id", "ts", "user_id", "event_type"
    )
    views = (
        src.filter(F.col("event_type") == "view")
        .withWatermark("ts", "1 minutes")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("v_ts"),
        )
    )
    purchases = (
        src.filter(F.col("event_type") == "purchase")
        .withWatermark("ts", "1 minutes")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
    )
    joined = views.join(
        purchases,
        (F.col("v_user") == F.col("p_user"))
        & (F.col("p_ts") > F.col("v_ts"))
        & (F.col("p_ts") <= F.col("v_ts") + F.expr("INTERVAL 30 MINUTES")),
        "left_outer",
    ).select("view_id", "purchase_id", F.col("v_user").alias("user_id"))
    name, _ = run_to_memory(joined)
    return spark.table(name)


@register(
    "stream_quarantine_events",
    oracle="""
    SELECT event_id, event_type, value,
           CASE WHEN NOT COALESCE(value <= 300, FALSE)
                     AND NOT COALESCE(event_type IN ('view', 'click', 'purchase', 'signup'), FALSE)
                THEN 'business_type,value_in_range'
                WHEN NOT COALESCE(value <= 300, FALSE) THEN 'value_in_range'
                ELSE 'business_type'
           END AS violated
    FROM events
    WHERE NOT (COALESCE(value <= 300, FALSE)
               AND COALESCE(event_type IN ('view', 'click', 'purchase', 'signup'), FALSE))
    """,
)
def stream_quarantine_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expectations gate on a LIVE stream (lakeflow.quality over a streaming
    frame): the quarantine side of a declarative rule set, running inside
    the micro-batch engine. The gate and violation annotation are scan-side
    Catalyst projections, so they stream stateless — no watermark, no
    state store; rows emit exactly once in append mode. The oracle replays
    the same null-safe predicates in batch SQL. Rules are chosen so the
    fixture actually quarantines rows ('error' events and outlier values) —
    an empty quarantine would verify nothing."""
    from pyspark.sql import functions as F

    from lakeflow.quality import Expectation, split

    rules = [
        Expectation("value_in_range", "value <= 300", "drop"),
        Expectation(
            "business_type",
            "event_type IN ('view', 'click', 'purchase', 'signup')",
            "drop",
        ),
    ]
    stream = events_stream(spark, sf_dir).select("event_id", "event_type", "value")
    _good, bad = split(stream, rules)
    out = bad.select(
        "event_id",
        "event_type",
        "value",
        F.array_join("violations", ",").alias("violated"),
    )
    name, _ = run_to_memory(out)
    return spark.table(name)


@register(
    "stream_table_appends",
    oracle="""
    SELECT c_custkey, c_acctbal FROM customer WHERE c_custkey <= 150
    """,
)
def stream_table_appends(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lakehouse streaming-table read (sources/table_stream.py — the real
    form of SURVEY §2.1 S3, Delta/Iceberg's readStream over a table): three
    append commits land in a VersionedTable, and the changes stream emits
    each commit's added rows as a micro-batch, offset = snapshot version.
    The union of batches must equal the table — which the oracle checks
    against the source rows directly."""
    import tempfile

    from pyspark.sql import functions as F

    from lakeflow.sources.table_stream import register_table_changes_source
    from lakeflow.tables import VersionedTable

    register_table_changes_source(spark)
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal"
    )
    t = VersionedTable(spark, tempfile.mkdtemp(prefix="lakeflow_tstream_"))
    t.commit(cust.filter(F.col("c_custkey") <= 50))
    t.commit(cust.filter((F.col("c_custkey") > 50) & (F.col("c_custkey") <= 100)))
    t.commit(cust.filter((F.col("c_custkey") > 100) & (F.col("c_custkey") <= 150)))
    stream = (
        spark.readStream.format("lakeflow_table_changes")
        .option("path", t.root)
        .load()
    )
    name, _ = run_to_memory(stream)
    return spark.table(name)


@register(
    "stream_update_counts",
    oracle="""
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_events
    FROM events GROUP BY event_type
    """,
)
def stream_update_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UPDATE output mode (T3's other half — every other streaming query
    runs append): an unwindowed running count per event type emits a
    revised row each micro-batch. The memory sink keeps every revision;
    because counts only grow, max(n) per key IS the final state however
    the engine batched the input — which the oracle checks against the
    batch counts. The aggregation state is keyed by event_type only
    (bounded by key cardinality), the regime where update mode without a
    watermark is production-safe."""
    from pyspark.sql import functions as F

    import tempfile
    import uuid as _uuid

    stream = events_stream(spark, sf_dir)
    counts = stream.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    name = f"mem_{_uuid.uuid4().hex[:12]}"
    q = (
        counts.writeStream.outputMode("update")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="lakeflow-ckpt-"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        spark.table(name)
        .groupBy("event_type")
        .agg(F.max("n").alias("n_events"))
    )


@register(
    "stream_txn_append_state",
    oracle="""
    SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
               AS total_cents
    FROM orders WHERE o_orderkey <= 3000 GROUP BY o_orderstatus
    """,
)
def stream_txn_append_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once streaming APPEND (streaming/sinks.py::stream_append):
    an orders slice streams through the txn-watermarked append sink into a
    VersionedTable, then the FIRST micro-batch is deliberately re-committed
    with its original batch id — the crash-between-commit-and-checkpoint
    replay — and must be skipped by the manifest's per-app transactional
    watermark (Delta's txnAppId/txnVersion). The oracle aggregates the
    source slice directly, so a duplicated (or dropped) batch breaks both
    the count and the exact integer-cents sum."""
    import tempfile

    from pyspark.sql import functions as F

    from lakeflow.sources.streams import file_stream
    from lakeflow.streaming.sinks import stream_append
    from lakeflow.tables import VersionedTable

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    slice_df = orders.filter(F.col("o_orderkey") <= 3000)
    feed = tempfile.mkdtemp(prefix="lakeflow_txnfeed_")
    # two deterministic micro-batches (maxFilesPerTrigger=1)
    import os as _os

    for i, pred in enumerate(
        (F.col("o_orderkey") <= 1500, F.col("o_orderkey") > 1500)
    ):
        p = f"{feed}/b{i}"
        slice_df.filter(pred).coalesce(1).write.parquet(p)
        for f in _os.listdir(p):
            _os.utime(
                _os.path.join(p, f), (1_700_000_000 + i * 10,) * 2
            )
    import glob as _glob
    import shutil as _shutil

    flat = tempfile.mkdtemp(prefix="lakeflow_txnflat_")
    for i in range(2):
        src = _glob.glob(f"{feed}/b{i}/*.parquet")[0]
        dst = f"{flat}/{i:03d}.parquet"
        _shutil.copy(src, dst)
        _os.utime(dst, (1_700_000_000 + i * 10,) * 2)

    table = VersionedTable(spark, tempfile.mkdtemp(prefix="lakeflow_txntbl_"))
    stream = file_stream(spark, flat, slice_df.schema, max_files_per_trigger=1)
    stream_append(stream, table).awaitTermination()

    # Crash-window replay: batch 0 recommits under its original id — the
    # watermark must swallow it or the oracle's exact sums break.
    table.commit(
        slice_df.filter(F.col("o_orderkey") <= 1500),
        mode="append",
        txn=("stream_append", 0),
    )

    return table.read().groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum(
            F.floor(F.col("o_totalprice") * 100.0 + F.lit(0.5)).cast("bigint")
        )
        .cast("bigint")
        .alias("total_cents"),
    )


@register(
    "tick_vwap_daily",
    oracle="""
    WITH ticks AS (
        SELECT 'SYM' || CAST(s % 7 AS VARCHAR) AS symbol,
               TIMESTAMP '2024-01-01 00:00:00' + s * INTERVAL 1 MINUTE AS ts,
               100.0 + ((s * 37) % 100) / 10.0 AS price,
               (s * 13) % 1000 AS volume
        FROM UNNEST(range(0, 6000)) AS u(s)
    )
    SELECT symbol, CAST(ts AS DATE)::VARCHAR AS day,
           CAST(sum(CAST(floor(price * 10.0 + 0.5) AS BIGINT) * volume)
                AS BIGINT) AS pv_deci,
           CAST(sum(volume) AS BIGINT) AS total_volume,
           (floor((CAST(sum(CAST(floor(price * 10.0 + 0.5) AS BIGINT) * volume)
                        AS DOUBLE)
                   / (10.0 * sum(volume))) * 10000.0 + 0.5) / 10000.0) AS vwap
    FROM ticks WHERE volume > 0
    GROUP BY symbol, CAST(ts AS DATE)
    """,
)
def tick_vwap_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily VWAP per symbol over the deterministic tick source — the other
    headline statistic of the reference's OHLCV domain (candles being the
    first). Prices quantize to integer deci-units BEFORE the volume-weighted
    sum, so the distributed aggregation is order-free integer arithmetic and
    the final division rounds once on both engines; zero-volume ticks are
    excluded so the denominator is always positive. One combine-bounded
    aggregate over (symbol, day) — the 100 TB shape is the same shuffle the
    candle query already proved out."""
    from pyspark.sql import functions as F

    from lakeflow.functions.rounding import rnd
    from lakeflow.sources.pysource import register_tick_source

    register_tick_source(spark)
    ticks = spark.read.format("lakeflow_ticks").option("n", "6000").load()
    pv = (
        F.floor(F.col("price") * 10.0 + F.lit(0.5)).cast("bigint")
        * F.col("volume")
    )
    agg = (
        ticks.filter(F.col("volume") > 0)
        .groupBy("symbol", F.col("ts").cast("date").cast("string").alias("day"))
        .agg(
            F.sum(pv).cast("bigint").alias("pv_deci"),
            F.sum("volume").cast("bigint").alias("total_volume"),
        )
    )
    return agg.select(
        "symbol",
        "day",
        "pv_deci",
        "total_volume",
        rnd(
            F.col("pv_deci").cast("double") / (10.0 * F.col("total_volume")), 4
        ).alias("vwap"),
    )


@register(
    "stream_cdf_mor_changes",
    oracle="""
    WITH slice AS (
        SELECT c_custkey, c_name,
               (floor(c_acctbal * 100.0 + 0.5) / 100.0) AS c_acctbal
        FROM customer WHERE c_custkey <= 400
    )
    SELECT c_custkey, c_name, c_acctbal, 'insert' AS _change_type FROM slice
    UNION ALL
    SELECT c_custkey, c_name, c_acctbal, 'delete' FROM slice
    WHERE c_custkey % 5 = 0
    UNION ALL
    SELECT c_custkey, c_name, c_acctbal, 'delete' FROM slice
    WHERE c_custkey % 5 = 1
    UNION ALL
    SELECT c_custkey, c_name,
           (floor((c_acctbal + 50.0) * 100.0 + 0.5) / 100.0), 'insert'
    FROM slice WHERE c_custkey % 5 = 1
    """,
)
def stream_cdf_mor_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming change-data-feed over a merge-on-read table end to end:
    a customer slice lands, a MOR delete and a MOR update follow (deletion
    vectors — no file rewrite), and the ``mode=cdf`` table-changes stream
    renders the full history: v1's rows as inserts, each vector's
    pyarrow-recovered pre-images as deletes, and the update's rewritten
    rows as inserts. The oracle constructs the identical change set from
    the source slice, so a pre-image recovered from the wrong file/position
    — or a change lost to the skip path — breaks the hash."""
    import tempfile

    from pyspark.sql import functions as F

    from lakeflow.functions.rounding import rnd
    from lakeflow.sources.table_stream import register_table_changes_source
    from lakeflow.tables import VersionedTable

    register_table_changes_source(spark)
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", rnd("c_acctbal", 2).alias("c_acctbal")
    )
    t = VersionedTable(spark, tempfile.mkdtemp(prefix="lakeflow_cdfmor_"))
    t.commit(cust.filter(F.col("c_custkey") <= 400))
    t.delete_where_mor("c_custkey % 5 = 0")
    t.update_where_mor(
        "c_custkey % 5 = 1", {"c_acctbal": "c_acctbal + 50.0"}
    )
    stream = (
        spark.readStream.format("lakeflow_table_changes")
        .option("path", t.root)
        .option("mode", "cdf")
        .load()
    )
    name, _ = run_to_memory(stream)
    return spark.table(name).select(
        "c_custkey", "c_name", rnd("c_acctbal", 2).alias("c_acctbal"), "_change_type"
    )


@register(
    "stream_erasure_tombstones",
    oracle="""
    SELECT 'profiles' AS table_name,
           CAST(c_custkey AS BIGINT) AS subject_key
    FROM customer WHERE c_custkey <= 500 AND c_custkey % 53 = 0
    UNION ALL
    SELECT 'activity', CAST(o_custkey AS BIGINT)
    FROM orders WHERE o_orderkey <= 2000 AND o_custkey % 53 = 0
    """,
)
def stream_erasure_tombstones(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Erasure PROPAGATION: a right-to-be-forgotten purge is not done when
    the warehouse forgets — every downstream consumer (search index,
    feature store, trained model's data ledger) needs a deletion feed.
    Here `purge_subjects` erases a subject from two tables in one catalog
    commit (deletion vectors), and each table's `mode=cdf` changes stream
    renders the vectors' pre-images as delete events — the streams union
    into a tombstone manifest (table, subject key) that downstream systems
    consume to forget. The oracle reconstructs the exact tombstone set
    from the source predicates, so a pre-image lost to the skip path or a
    table missing from the feed breaks the hash."""
    import tempfile

    from pyspark.sql import functions as F

    from lakeflow.sources.table_stream import register_table_changes_source
    from lakeflow.tables import TableCatalog
    from lakeflow.txn import CatalogRef

    register_table_changes_source(spark)
    ref = CatalogRef(
        spark, TableCatalog(spark, tempfile.mkdtemp(prefix="lakeflow_ets_"))
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    with ref.transaction("ingest") as txn:
        txn.write("profiles", cust.filter(F.col("c_custkey") <= 500))
        txn.write("activity", orders.filter(F.col("o_orderkey") <= 2000))
    ref.purge_subjects(
        {"profiles": "c_custkey % 53 = 0", "activity": "o_custkey % 53 = 0"},
        "erasure request",
    )

    def tombstones(name: str, key_col: str) -> DataFrame:
        return (
            spark.readStream.format("lakeflow_table_changes")
            .option("path", ref.catalog.load(name).root)
            .option("mode", "cdf")
            .load()
            .filter(F.col("_change_type") == "delete")
            .select(
                F.lit(name).alias("table_name"),
                F.col(key_col).cast("bigint").alias("subject_key"),
            )
        )

    # Union STREAM-SIDE so one micro-batch engine serves every table's
    # deletion feed — the tombstone manifest is a single append stream
    # however many tables the purge touched (N engines would each pay
    # planner/state startup and re-coordinate checkpoints).
    merged = tombstones("profiles", "c_custkey").unionAll(
        tombstones("activity", "o_custkey")
    )
    tbl, _ = run_to_memory(merged)
    return spark.table(tbl)


@register(
    "stream_doc_dedup",
    oracle="""
    WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL  -- cross-batch duplicates: same text, later arrival
        SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 5 = 0
        UNION ALL  -- novel text arriving twice WITHIN the final batch
        SELECT doc_id + 3000000, text || ' novel' FROM documents
        WHERE doc_id % 7 = 0
        UNION ALL
        SELECT doc_id + 4000000, text || ' novel' FROM documents
        WHERE doc_id % 7 = 0
    ),
    fps AS (
        SELECT doc_id,
               md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
        FROM corpus
    )
    SELECT fp, CAST(min(doc_id) AS BIGINT) AS keep_id FROM fps GROUP BY fp
    """,
)
def stream_doc_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time streaming corpus dedup
    (streaming/sinks.py::stream_dedup_ingest): three sequential
    micro-batches (maxFilesPerTrigger=1) — the documents table split in two
    doc_id halves, then a third batch carrying DELIBERATE duplicates (the
    fixture itself has zero dup texts, which would leave the dedup paths
    unexercised — the weak-evidence trap): re-keyed copies of every 5th doc
    (must be dropped by the index anti-join, their text arrived in batch
    0/1) plus two re-keyed copies of a novel text per 7th doc (the lower
    doc_id copy must survive via within-batch keep-first, the higher must
    drop). Keep-first-by-arrival equals global min doc_id per fingerprint
    because batch order follows doc_id ranges, so the oracle's one GROUP BY
    over the replayed corpus construction checks every drop AND every
    survivor — a duplicate leaking through any micro-batch shows up as an
    extra row, a lost survivor as a missing one. Both appends ride per-app
    txn watermarks, making each table exactly-once under replay
    (regression-tested with a deliberate batch-0 recommit)."""
    import glob
    import os
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from lakeflow.operators.dedup import fingerprint
    from lakeflow.sources.streams import file_stream
    from lakeflow.streaming.sinks import stream_dedup_ingest
    from lakeflow.tables import VersionedTable

    raw = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    n = raw.agg(F.max("doc_id")).first()[0]
    cut = n // 2
    novel = raw.filter(F.col("doc_id") % 7 == 0).select(
        "doc_id", F.concat(F.col("text"), F.lit(" novel")).alias("text")
    )
    batches = [
        raw.filter(F.col("doc_id") <= cut),
        raw.filter(F.col("doc_id") > cut),
        raw.filter(F.col("doc_id") % 5 == 0)
        .select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
        .unionByName(
            novel.select(
                (F.col("doc_id") + 3_000_000).alias("doc_id"), "text"
            )
        )
        .unionByName(
            novel.select(
                (F.col("doc_id") + 4_000_000).alias("doc_id"), "text"
            )
        ),
    ]
    feed = tempfile.mkdtemp(prefix="lakeflow_dedupfeed_")
    for i, b in enumerate(batches):
        part = tempfile.mkdtemp(prefix="lakeflow_deduppart_")
        b.select("doc_id", fingerprint("text").alias("fp")).coalesce(
            1
        ).write.mode("overwrite").parquet(part)
        src = glob.glob(f"{part}/*.parquet")[0]
        dst = f"{feed}/{i:03d}.parquet"
        shutil.copy(src, dst)
        os.utime(dst, (1_700_000_000 + i * 10,) * 2)

    survivors = VersionedTable(spark, tempfile.mkdtemp(prefix="lakeflow_surv_"))
    index = VersionedTable(spark, tempfile.mkdtemp(prefix="lakeflow_fpidx_"))
    schema = "doc_id bigint, fp string"
    stream = file_stream(spark, feed, schema, max_files_per_trigger=1)
    stream_dedup_ingest(stream, survivors, index).awaitTermination()
    return survivors.read().select(
        "fp", F.col("doc_id").cast("bigint").alias("keep_id")
    )


@register("stream_bm25_index", oracle=_BM25_STREAM_ORACLE)
def stream_bm25_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming index maintenance end to end: the documents table arrives
    as three micro-batches (maxFilesPerTrigger=1) through
    `stream_index_ingest`, each landing postings + stat partials under its
    own batch=<id> subdir (overwrite = replay-idempotent), and — since r10
    (VERDICT r9 ask #3) — the ingest runs with
    ``compact_every_n_batches=2``, so the shard fold happens from INSIDE
    ``foreachBatch`` at cadence (no operator remembering to run the manual
    ``compact_streamed_text_index``), leaving at most 2 shards (the fold +
    the replay tail). The probe over the AUTO-COMPACTED index must score
    EXACTLY like a one-shot index over the full corpus — the same oracle
    as `bm25_keyword_topk`. A batch double-counted, dropped, a posting
    lost or duplicated by the in-stream fold, or a probe scored with
    stale corpus stats breaks the hash; the shard-count bound itself is
    asserted by tests/test_stream_compaction.py."""
    import glob
    import os
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from lakeflow.operators.text import bm25_indexed_topk
    from lakeflow.sources.streams import file_stream
    from lakeflow.streaming.sinks import stream_index_ingest

    raw = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    n = raw.agg(F.max("doc_id")).first()[0]
    feed = tempfile.mkdtemp(prefix="lakeflow_idxfeed_")
    for i, b in enumerate(
        (
            raw.filter(F.col("doc_id") <= n // 3),
            raw.filter(
                (F.col("doc_id") > n // 3) & (F.col("doc_id") <= 2 * n // 3)
            ),
            raw.filter(F.col("doc_id") > 2 * n // 3),
        )
    ):
        part = tempfile.mkdtemp(prefix="lakeflow_idxpart_")
        b.coalesce(1).write.mode("overwrite").parquet(part)
        dst = f"{feed}/{i:03d}.parquet"
        shutil.copy(glob.glob(f"{part}/*.parquet")[0], dst)
        os.utime(dst, (1_700_000_000 + i * 10,) * 2)

    idx = tempfile.mkdtemp(prefix="lakeflow_stridx_")
    stream = file_stream(
        spark, feed, "doc_id bigint, text string", max_files_per_trigger=1
    )
    stream_index_ingest(
        stream, idx, compact_every_n_batches=2
    ).awaitTermination()
    return bm25_indexed_topk(spark, idx, ["spark", "window", "join"], k=10)


@register("stream_cms_heavy_hitters", oracle=_CMS_HH_STREAM_ORACLE)
def stream_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of `cms_heavy_hitters`: the events feed streams through
    `stream_cms_ingest` (per-micro-batch cell partials landed under
    replay-idempotent batch=<id> subdirs), then the probe folds the landed
    partials with `read_cms_cells` and point-queries them. Because CMS
    partials merge by summing, the folded sketch — and therefore every
    estimate — is IDENTICAL to the batch sketch however the engine
    micro-batched the input, which is exactly what the shared oracle checks.
    The candidate/exact frames come from the batch table (they are the
    report's display side); only the sketch state was maintained
    incrementally.

    r11 (VERDICT r10 ask #4): ingest runs with ``compact_max_shard_bytes``
    at a threshold the sf0.01 feed crosses repeatedly, so the landed
    partials are folded MID-STREAM by the SIZE trigger (dust-measured,
    re-arming) through ``compact_cms_sketch`` — summed-partial fold
    semantics, not the ANN path's repartitioned vectors. The oracle is
    unchanged: folding sums cell partials, and CMS estimates are invariant
    under any grouping of the summation."""
    import glob
    import os
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from lakeflow.operators.aggregates import cms_point_estimate, read_cms_cells
    from lakeflow.sources.streams import file_stream
    from lakeflow.streaming.sinks import stream_cms_ingest

    # Four-chunk feed (the stream_bm25_index pattern): the single-file
    # events fixture would arrive as ONE micro-batch, leaving the size
    # trigger nothing to fold — a real firehose lands many batches.
    raw = load_table(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("user_key"),
        (F.abs(F.xxhash64("event_id")) % 4).alias("__chunk"),
    )
    feed = tempfile.mkdtemp(prefix="lakeflow-cmsfeed-")
    for i in range(4):
        part = tempfile.mkdtemp(prefix="lakeflow-cmspart-")
        raw.filter(F.col("__chunk") == i).select("user_key").coalesce(
            1
        ).write.mode("overwrite").parquet(part)
        shards = glob.glob(f"{part}/*.parquet")
        if not shards:
            # Defensive (ADVICE r11): coalesce(1) writes one part file even
            # for an empty chunk, but a tiny SF must skip, not IndexError.
            continue
        dst = f"{feed}/{i:03d}.parquet"
        shutil.copy(shards[0], dst)
        os.utime(dst, (1_700_000_000 + i * 10,) * 2)
    keyed_stream = file_stream(
        spark, feed, "user_key string", max_files_per_trigger=1
    )
    sketch_dir = tempfile.mkdtemp(prefix="lakeflow-cms-")
    stream_cms_ingest(
        keyed_stream, sketch_dir, "user_key", compact_max_shard_bytes=4096
    ).awaitTermination()

    cells = read_cms_cells(spark, sketch_dir)
    keyed = load_table(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("user_key")
    )
    est = cms_point_estimate(cells, keyed.distinct(), "user_key")
    exact = keyed.groupBy("user_key").agg(F.count(F.lit(1)).alias("exact_cnt"))
    return (
        est.join(exact, "user_key")
        .where(F.col("est_cnt") >= 75)
        .select("user_key", "est_cnt", "exact_cnt")
    )


@register(
    "stream_histogram_quantiles",
    oracle="""
    WITH bins AS (
        SELECT CAST(floor(value / 5.0) AS BIGINT) AS bin, count(*) AS cnt
        FROM events GROUP BY 1
    ),
    cum AS (
        SELECT bin,
               sum(cnt) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cum,
               sum(cnt) OVER () AS total
        FROM bins
    ),
    qs AS (SELECT CAST(unnest([0.5, 0.9, 0.99]) AS DOUBLE) AS q),
    est AS (
        SELECT q, CAST((min(bin) + 1) * 5.0 AS DOUBLE) AS approx_value
        FROM cum CROSS JOIN qs
        WHERE cum >= CAST(ceil(q * total) AS BIGINT)
        GROUP BY q
    ),
    checked AS (
        SELECT e.q, e.approx_value,
               CAST(sum(CASE WHEN ev.value < e.approx_value
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_below,
               CAST(sum(CASE WHEN ev.value < e.approx_value - 5.0
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_below_prev,
               CAST(count(*) AS BIGINT) AS total
        FROM est e CROSS JOIN events ev
        GROUP BY 1, 2
    )
    SELECT q, approx_value,
           true AS batch_equivalent,
           (n_below >= CAST(ceil(q * total) AS BIGINT)) AS covers_q,
           (n_below_prev < CAST(ceil(q * total) AS BIGINT)) AS tight_bound
    FROM checked
    """,
)
def stream_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of `histogram_quantile_sketch`: the events feed
    streams through `stream_histogram_ingest` (per-micro-batch bin
    partials under replay-idempotent batch=<id> subdirs), the probe folds
    the landed partials with `read_histogram_bins` and reads p50/p90/p99
    off the merged frame. Bin partials merge by summing, so the folded
    sketch — and every estimate — is IDENTICAL to the batch-computed
    histogram however the engine micro-batched the input
    (batch_equivalent, computed by diffing the two bin frames), plus the
    same integer-exact coverage/tightness invariants as the batch query.
    This is the live-p99-over-a-firehose pattern: per-batch bin counts to
    update, one tiny aggregate to probe, no history rescan."""
    import tempfile

    from pyspark.sql import functions as F

    from lakeflow.operators.aggregates import (
        histogram_partials,
        histogram_quantiles,
        read_histogram_bins,
    )
    from lakeflow.streaming.sinks import stream_histogram_ingest

    width = 5.0
    stream = events_stream(spark, sf_dir).select("value")
    sketch_dir = tempfile.mkdtemp(prefix="lakeflow-hist-")
    stream_histogram_ingest(
        stream, sketch_dir, "value", width=width
    ).awaitTermination()

    merged = read_histogram_bins(spark, sketch_dir)
    ev = load_table(spark, sf_dir, "events")
    direct = histogram_partials(ev, "value", width=width)
    mismatches = (
        merged.withColumnRenamed("cnt", "m_cnt")
        .join(direct, "bin", "full_outer")
        .where(~F.col("m_cnt").eqNullSafe(F.col("cnt")))
        .count()
    )
    est = histogram_quantiles(merged, [0.5, 0.9, 0.99], width=width)
    checked = (
        est.crossJoin(ev.select("value"))
        .groupBy("q", "approx_value")
        .agg(
            F.sum(
                F.when(F.col("value") < F.col("approx_value"), 1).otherwise(0)
            ).cast("bigint").alias("n_below"),
            F.sum(
                F.when(
                    F.col("value") < F.col("approx_value") - F.lit(width), 1
                ).otherwise(0)
            ).cast("bigint").alias("n_below_prev"),
            F.count(F.lit(1)).cast("bigint").alias("total"),
        )
    )
    need = F.ceil(F.col("q") * F.col("total")).cast("bigint")
    return checked.select(
        "q",
        "approx_value",
        F.lit(mismatches == 0).alias("batch_equivalent"),
        (F.col("n_below") >= need).alias("covers_q"),
        (F.col("n_below_prev") < need).alias("tight_bound"),
    )


@register(
    "stream_state_inspection",
    oracle="""
    SELECT event_type, CAST(count(*) AS BIGINT) AS n
    FROM events GROUP BY event_type
    """,
)
def stream_state_inspection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State-store introspection (Spark's `statestore` reader,
    streaming/state_reader.py): run a stateful streaming aggregation over
    the events feed, then read the operator's LIVE STATE straight out of
    the checkpoint — no replay, no job change — and return it as the
    (event_type, n) frame the aggregation maintains. The oracle is the
    batch groupBy over the same feed: the state IS the aggregation, so a
    dropped row, a double-applied batch, or a mis-keyed state row breaks
    the hash. This is the post-incident ops surface a production
    streaming pipeline needs: joinable-against-truth visibility into
    checkpointed state, partition-parallel at any state size."""
    import tempfile

    from pyspark.sql import functions as F

    from lakeflow.streaming.state_reader import read_aggregation_state

    agg = events_stream(spark, sf_dir).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    import shutil

    ckpt = tempfile.mkdtemp(prefix="lakeflow-state-insp-")
    try:
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        try:
            # noop sink: only the checkpointed STATE is read back — the
            # update-mode output stream itself is never consumed, so
            # materializing it through a memory sink was pure waste (the
            # same reasoning as stream_join_state_inspection's sink).
            q = (
                agg.writeStream.outputMode("update")
                .format("noop")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
        q.awaitTermination()
        state = read_aggregation_state(spark, ckpt)
        # Pin the state rows into block storage so the checkpoint dir (a
        # per-partition-per-batch state-store tree that otherwise
        # accumulates on every verify/bench/parity run — VERDICT r11 #3)
        # can be removed before returning. Bounded: one row per grouping
        # key (event_type cardinality), not per input row.
        return state.select(
            "event_type", F.col("count").cast("bigint").alias("n")
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


@register(
    "stream_join_state_inspection",
    oracle="""
    SELECT CAST(user_id AS BIGINT) AS user_id,
           CAST(count(*) AS BIGINT) AS buffered_views
    FROM events WHERE event_type = 'view' AND user_id % 4 = 0
    GROUP BY user_id
    """,
)
def stream_join_state_inspection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JOIN-state introspection (VERDICT r11 ask #6 — the aggregation
    store went under the driver gate in r11; this registers a JOIN store):
    run the watermarked view→purchase interval join
    (`stream_stream_view_to_purchase`'s shape) with an eviction-free
    watermark delay, then read the LEFT side's `keyToNumValues` store
    straight out of the checkpoint (streaming/state_reader.py::
    read_join_state) — per-user counts of buffered view rows. With nothing
    evicted, the live join state IS "every view row, keyed by user", so
    the batch groupBy over the same feed hash-checks it: a row buffered
    under the wrong key, dropped by the store, or double-inserted on
    replay breaks the hash. The incident surface this pins: "which side of
    the join is holding the stuck rows, per key, live from the
    checkpoint"."""
    import shutil

    from pyspark.sql import functions as F

    from lakeflow.streaming.state_reader import read_join_state

    ckpt = _eviction_free_join_checkpoint(
        spark, sf_dir, "lakeflow-jstate-insp-"
    )
    try:
        state = read_join_state(
            spark, ckpt, side="left", key_names=["user_id"]
        )
        # Same checkpoint hygiene as stream_state_inspection: pin the
        # (one-row-per-key) state and remove the store tree before return.
        return state.select(
            F.col("user_id").cast("bigint").alias("user_id"),
            F.col("n_buffered").cast("bigint").alias("buffered_views"),
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


def _eviction_free_join_checkpoint(
    spark: SparkSession, sf_dir: str, prefix: str
) -> str:
    """Run the watermarked view→purchase interval join to a noop sink and
    return its checkpoint dir (caller rmtree's it) — the shared harness of
    the two join-state introspection queries, which differ only in WHICH
    of the join's four stores they read back.

    Deterministic quarter-slice of users: the introspection surface
    (store selection, key flattening, count/row semantics) is identical at
    any feed size, so the demo bounds its in-sweep state-write cost
    (measured 11.5 s → ~3 s at sf0.1 full-feed vs sliced) the way every
    streaming demo bounds its feed. 3650-day watermark delay: the final
    watermark lands far below every event, so the join evicts nothing and
    the stores' content is exactly the sliced input — the state the batch
    ORACLES can reproduce. (The eviction boundary itself is
    engine-internal timing; pinning it would test Spark's scheduler, not
    the introspection surface.) noop sink: the join OUTPUT is irrelevant —
    only the state it buffers is read — so nothing materializes on the
    driver (a memory sink measured 3× the cost at sf0.1)."""
    import tempfile

    from pyspark.sql import functions as F

    src = (
        events_stream(spark, sf_dir)
        .filter(F.col("user_id") % 4 == 0)
        .select("event_id", "ts", "user_id", "event_type")
    )
    views = (
        src.filter(F.col("event_type") == "view")
        .withWatermark("ts", "3650 days")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("v_ts"),
        )
    )
    purchases = (
        src.filter(F.col("event_type") == "purchase")
        .withWatermark("ts", "3650 days")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
    )
    joined = views.join(
        purchases,
        (F.col("v_user") == F.col("p_user"))
        & (F.col("p_ts") > F.col("v_ts"))
        & (F.col("p_ts") <= F.col("v_ts") + F.expr("INTERVAL 30 MINUTES")),
    ).select("view_id", "purchase_id", F.col("v_user").alias("user_id"))

    ckpt = tempfile.mkdtemp(prefix=prefix)
    try:
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        try:
            q = (
                joined.writeStream.format("noop")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
        q.awaitTermination()
    except BaseException:
        # The callers' try/finally only begins after this returns — a
        # start/awaitTermination failure must not leak the state-store
        # tree (the VERDICT r11 debris class, error path).
        import shutil

        shutil.rmtree(ckpt, ignore_errors=True)
        raise
    return ckpt


@register(
    "stream_join_buffered_rows",
    oracle="""
    SELECT CAST(e.event_id AS BIGINT) AS purchase_id,
           CAST(e.user_id AS BIGINT) AS user_id,
           EXISTS (
               SELECT 1 FROM events v
               WHERE v.event_type = 'view'
                 AND v.user_id = e.user_id
                 AND e.ts > v.ts
                 AND e.ts <= v.ts + INTERVAL 30 MINUTE
           ) AS matched
    FROM events e
    WHERE e.event_type = 'purchase' AND e.user_id % 4 = 0
    """,
)
def stream_join_buffered_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The buffered-VALUES half of join-state introspection (VERDICT r12
    ask #4): `stream_join_state_inspection` reads `keyToNumValues` — counts
    per key, "which key is holding stuck rows"; this reads the right
    side's `keyWithIndexToValue` store — the actual buffered purchase ROWS
    plus Spark's per-row `matched` flag, "WHICH rows are stuck and did
    they ever join". Same eviction-free view→purchase interval join as the
    counts query, so the right store's content is exactly the purchase
    slice of the feed, and the flag is true iff a view matched the
    purchase under the join condition — both reproducible by the batch
    oracle (the EXISTS mirrors `p_ts > v_ts AND p_ts <= v_ts + 30 min`).
    A buffered row dropped, duplicated on replay, keyed wrong, or a
    matched flag that disagrees with the emitted pairs breaks the hash.
    Partition-parallel: the store scan is one task per state partition."""
    import shutil

    from pyspark.sql import functions as F

    from lakeflow.streaming.state_reader import read_join_buffered_rows

    ckpt = _eviction_free_join_checkpoint(
        spark, sf_dir, "lakeflow-jrows-insp-"
    )
    try:
        rows = read_join_buffered_rows(
            spark, ckpt, side="right", key_names=["user_id"]
        )
        # One output row per buffered purchase; pin into block storage so
        # the checkpoint tree can be removed before return (same hygiene
        # as the counts query).
        return rows.select(
            F.col("purchase_id").cast("bigint").alias("purchase_id"),
            F.col("user_id").cast("bigint").alias("user_id"),
            F.col("matched").alias("matched"),
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


@register(
    "stream_kmv_distinct",
    oracle="""
    WITH u AS (
        SELECT DISTINCT event_type,
               (CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
                     AS BIGINT) + 0.5) / 4294967296.0 AS u
        FROM events
    ),
    r AS (
        SELECT event_type, u,
               row_number() OVER (PARTITION BY event_type ORDER BY u) AS rn
        FROM u
    ),
    sk AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS sketch_size,
               floor((CASE WHEN count(*) < 64 THEN CAST(count(*) AS DOUBLE)
                           ELSE 63.0 / max(u) END) * 10000.0 + 0.5)
                   / 10000.0 AS est_distinct
        FROM r WHERE rn <= 64 GROUP BY 1
    ),
    ex AS (
        SELECT event_type,
               CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct
        FROM events GROUP BY 1
    )
    SELECT s.event_type, s.sketch_size, s.est_distinct, e.exact_distinct,
           true AS batch_equivalent
    FROM sk s JOIN ex e USING (event_type)
    """,
)
def stream_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of `kmv_distinct_custkeys`: the events feed streams
    through `stream_kmv_ingest` (per-micro-batch bottom-64 minima per
    event_type under replay-idempotent batch=<id> subdirs), the probe folds
    the landed partials with `merge_kmv_minima` and reads the distinct-user
    estimate off the folded sketch. Because an item's hash is a pure
    function of the item, the fold recovers EXACTLY the sketch one batch
    pass would build however the engine micro-batched the input
    (batch_equivalent, computed by diffing the two minima frames) — the
    live distinct-count-over-a-firehose pattern with ≤ k rows of state per
    batch, and unlike HLL the estimate is engine-portable and fully
    hash-checked."""
    import tempfile

    from pyspark.sql import functions as F

    from lakeflow.operators.aggregates import (
        kmv_estimate,
        kmv_minima,
        merge_kmv_minima,
    )
    from lakeflow.streaming.sinks import stream_kmv_ingest

    k = 64
    stream = events_stream(spark, sf_dir).select("event_type", "user_id")
    sketch_dir = tempfile.mkdtemp(prefix="lakeflow-kmv-")
    stream_kmv_ingest(
        stream, sketch_dir, "user_id", k, group_cols=["event_type"]
    ).awaitTermination()

    partials = spark.read.parquet(f"{sketch_dir}/minima")
    folded = merge_kmv_minima(partials, k, group_cols=["event_type"])
    ev = load_table(spark, sf_dir, "events")
    direct = kmv_minima(ev, "user_id", k, group_cols=["event_type"])
    d = direct.select(F.col("event_type").alias("dt"), F.col("u").alias("du"))
    f = folded.select(F.col("event_type").alias("ft"), F.col("u").alias("fu"))
    mismatches = (
        d.join(
            f,
            (F.col("dt") == F.col("ft")) & (F.col("du") == F.col("fu")),
            "full_outer",
        )
        .where(F.col("du").isNull() | F.col("fu").isNull())
        .count()
    )
    est = kmv_estimate(folded, k, group_cols=["event_type"])
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_distinct")
    )
    return est.join(exact, "event_type").select(
        "event_type",
        "sketch_size",
        "est_distinct",
        "exact_distinct",
        F.lit(mismatches == 0).alias("batch_equivalent"),
    )


@register(
    "stream_weighted_sample",
    oracle="""
    SELECT doc_id, lang, n_chars
    FROM documents
    WHERE n_chars > 0
    ORDER BY -ln((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                       AS BIGINT) + 0.5) / 4294967296.0) / n_chars
    LIMIT 200
    """,
)
def stream_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of `weighted_sample_aes` — the distributed weighted
    RESERVOIR: the documents corpus streams in three micro-batches, each
    landing only its batch-local top-200 by the deterministic A-ES key
    (`stream_weighted_sample_ingest`), and the probe re-ranks the ≤600
    candidates. Because the key is a pure row function, top-k is mergeable
    — the folded sample is IDENTICAL to the batch one-pass sample however
    the input was micro-batched, which the shared oracle checks row for
    row. Reservoir semantics with no mutable reservoir: per-batch state is
    k rows, replays overwrite their own subdir."""
    import glob as _glob
    import os
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from lakeflow.operators.transforms import weighted_hash_sample
    from lakeflow.sources.streams import file_stream
    from lakeflow.streaming.sinks import stream_weighted_sample_ingest

    raw = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    n = raw.agg(F.max("doc_id")).first()[0]
    feed = tempfile.mkdtemp(prefix="lakeflow_wsfeed_")
    for i, b in enumerate(
        (
            raw.filter(F.col("doc_id") <= n // 3),
            raw.filter(
                (F.col("doc_id") > n // 3) & (F.col("doc_id") <= 2 * n // 3)
            ),
            raw.filter(F.col("doc_id") > 2 * n // 3),
        )
    ):
        part = tempfile.mkdtemp(prefix="lakeflow_wspart_")
        b.coalesce(1).write.mode("overwrite").parquet(part)
        dst = f"{feed}/{i:03d}.parquet"
        shutil.copy(_glob.glob(f"{part}/*.parquet")[0], dst)
        os.utime(dst, (1_700_000_000 + i * 10,) * 2)

    sample_dir = tempfile.mkdtemp(prefix="lakeflow_wsamp_")
    stream = file_stream(
        spark,
        feed,
        "doc_id bigint, lang string, n_chars bigint",
        max_files_per_trigger=1,
    )
    stream_weighted_sample_ingest(
        stream, sample_dir, "doc_id", "n_chars", 200
    ).awaitTermination()

    cands = spark.read.parquet(f"{sample_dir}/cand")
    return weighted_hash_sample(cands, "doc_id", "n_chars", 200).select(
        "doc_id", "lang", "n_chars"
    )


def _register_stream_ann() -> None:
    # Deferred import: the oracle string lives beside ivf_topk so the two
    # registrations can never drift apart.
    from lakeflow.queries.northstar import _IVF_TOPK_ORACLE

    @register("stream_ann_cells_topk", oracle=_IVF_TOPK_ORACLE)
    def stream_ann_cells_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Streaming twin of `ivf_topk`: the embeddings table arrives as
        three micro-batches (maxFilesPerTrigger=1) through
        `stream_ann_ingest`, each landing its vectors under
        batch=<id>/cid=<cell> partitions (overwrite = replay-idempotent,
        cid = the physical partition key a probe prunes on), and
        `ivf_probe_cells` over the assembled index must answer EXACTLY
        like the one-shot batch assignment — the SAME oracle as
        `ivf_topk`, because per-vector cell assignment is independent of
        micro-batching. A vector assigned to the wrong cell, a batch
        dropped or double-ingested, or drifted scoring arithmetic breaks
        the hash."""
        import glob
        import os
        import shutil
        import tempfile

        from pyspark.sql import functions as F

        from lakeflow.operators.similarity import ivf_probe_cells
        from lakeflow.sources.streams import file_stream
        from lakeflow.streaming.sinks import stream_ann_ingest

        raw = load_table(spark, sf_dir, "embeddings").select(
            "vec_id", "embedding"
        )
        n = raw.agg(F.max("vec_id")).first()[0]
        feed = tempfile.mkdtemp(prefix="lakeflow_annfeed_")
        for i, b in enumerate(
            (
                raw.filter(F.col("vec_id") <= n // 3),
                raw.filter(
                    (F.col("vec_id") > n // 3) & (F.col("vec_id") <= 2 * n // 3)
                ),
                raw.filter(F.col("vec_id") > 2 * n // 3),
            )
        ):
            part = tempfile.mkdtemp(prefix="lakeflow_annpart_")
            b.coalesce(1).write.mode("overwrite").parquet(part)
            dst = f"{feed}/{i:03d}.parquet"
            shutil.copy(glob.glob(f"{part}/*.parquet")[0], dst)
            os.utime(dst, (1_700_000_000 + i * 10,) * 2)

        centroids = raw.filter(F.col("vec_id") < 16)
        cells = tempfile.mkdtemp(prefix="lakeflow_anncells_")
        stream = file_stream(
            spark,
            feed,
            "vec_id bigint, embedding array<float>",
            max_files_per_trigger=1,
        )
        stream_ann_ingest(stream, cells, centroids).awaitTermination()
        return ivf_probe_cells(
            spark,
            cells,
            queries=raw.filter(F.col("vec_id") < 10),
            centroids=centroids,
            k=5,
            n_probe=4,
        )

    @register("stream_ann_compacted_topk", oracle=_IVF_TOPK_ORACLE)
    def stream_ann_compacted_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
        """`stream_ann_cells_topk` plus the OPTIMIZE step through the
        PRODUCTION path (VERDICT r8 ask #3): the ingest runs with
        ``compact_every_n_batches=2``, so the fold happens from INSIDE
        ``foreachBatch`` at cadence — no operator remembering to run
        OPTIMIZE — leaving at most 2 shards (the fold + the replay tail),
        and the probe over the AUTO-COMPACTED index must still answer
        EXACTLY like the one-shot batch assignment — the SAME oracle as
        `ivf_topk`. A vector lost or duplicated by the in-stream fold, a
        cell boundary moved, or a replay-tail shard touched breaks the
        hash; the shard-count bound itself is asserted by
        tests/test_stream_compaction.py (listing cost is what compaction
        buys back after ~120k micro-batch shards at 5 s triggers)."""
        import glob
        import os
        import shutil
        import tempfile

        from pyspark.sql import functions as F

        from lakeflow.operators.similarity import ivf_probe_cells
        from lakeflow.sources.streams import file_stream
        from lakeflow.streaming.sinks import stream_ann_ingest

        raw = load_table(spark, sf_dir, "embeddings").select(
            "vec_id", "embedding"
        )
        n = raw.agg(F.max("vec_id")).first()[0]
        feed = tempfile.mkdtemp(prefix="lakeflow_anncfeed_")
        for i, b in enumerate(
            (
                raw.filter(F.col("vec_id") <= n // 3),
                raw.filter(
                    (F.col("vec_id") > n // 3) & (F.col("vec_id") <= 2 * n // 3)
                ),
                raw.filter(F.col("vec_id") > 2 * n // 3),
            )
        ):
            part = tempfile.mkdtemp(prefix="lakeflow_anncpart_")
            b.coalesce(1).write.mode("overwrite").parquet(part)
            dst = f"{feed}/{i:03d}.parquet"
            shutil.copy(glob.glob(f"{part}/*.parquet")[0], dst)
            os.utime(dst, (1_700_000_000 + i * 10,) * 2)

        centroids = raw.filter(F.col("vec_id") < 16)
        cells = tempfile.mkdtemp(prefix="lakeflow_annccells_")
        stream = file_stream(
            spark,
            feed,
            "vec_id bigint, embedding array<float>",
            max_files_per_trigger=1,
        )
        stream_ann_ingest(
            stream, cells, centroids, compact_every_n_batches=2
        ).awaitTermination()
        return ivf_probe_cells(
            spark,
            cells,
            queries=raw.filter(F.col("vec_id") < 10),
            centroids=centroids,
            k=5,
            n_probe=4,
        )

    @register("stream_ann_sized_topk", oracle=_IVF_TOPK_ORACLE)
    def stream_ann_sized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
        """`stream_ann_compacted_topk`'s SIZE-triggered twin (VERDICT r9
        ask #4): the ingest runs with ``compact_max_shard_bytes=1``, so
        the in-stream fold fires on accumulated shard BYTES rather than
        shard count — the policy a firehose of fat micro-batches needs,
        where the byte threshold trips long before any count does. The
        run still ends at ≤2 shards (fold + replay tail) and the probe
        over the size-folded index must answer EXACTLY like the one-shot
        batch assignment — the SAME oracle as `ivf_topk`, so a vector
        lost or duplicated by a byte-triggered fold breaks the hash. The
        trigger mechanics themselves (≥2 shards, threshold boundary,
        count-trigger independence) are unit-pinned in
        tests/test_stream_compaction.py."""
        import glob
        import os
        import shutil
        import tempfile

        from pyspark.sql import functions as F

        from lakeflow.operators.similarity import ivf_probe_cells
        from lakeflow.sources.streams import file_stream
        from lakeflow.streaming.sinks import stream_ann_ingest

        raw = load_table(spark, sf_dir, "embeddings").select(
            "vec_id", "embedding"
        )
        n = raw.agg(F.max("vec_id")).first()[0]
        feed = tempfile.mkdtemp(prefix="lakeflow_annsfeed_")
        for i, b in enumerate(
            (
                raw.filter(F.col("vec_id") <= n // 3),
                raw.filter(
                    (F.col("vec_id") > n // 3) & (F.col("vec_id") <= 2 * n // 3)
                ),
                raw.filter(F.col("vec_id") > 2 * n // 3),
            )
        ):
            part = tempfile.mkdtemp(prefix="lakeflow_annspart_")
            b.coalesce(1).write.mode("overwrite").parquet(part)
            dst = f"{feed}/{i:03d}.parquet"
            shutil.copy(glob.glob(f"{part}/*.parquet")[0], dst)
            os.utime(dst, (1_700_000_000 + i * 10,) * 2)

        centroids = raw.filter(F.col("vec_id") < 16)
        cells = tempfile.mkdtemp(prefix="lakeflow_annscells_")
        stream = file_stream(
            spark,
            feed,
            "vec_id bigint, embedding array<float>",
            max_files_per_trigger=1,
        )
        stream_ann_ingest(
            stream, cells, centroids, compact_max_shard_bytes=1
        ).awaitTermination()
        return ivf_probe_cells(
            spark,
            cells,
            queries=raw.filter(F.col("vec_id") < 10),
            centroids=centroids,
            k=5,
            n_probe=4,
        )


_register_stream_ann()
