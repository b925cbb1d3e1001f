"""The open-loop streaming workload: a generator thread lands time-ordered
event slices as parquet files on a fixed schedule, while two streaming
queries run with the default trigger (a batch starts as soon as the previous
one ends):

* bronze: ``file_stream`` over the landing dir -> ``stream_append`` into a
  ``VersionedTable``, with the sink's small-file compaction enabled;
* silver: ``lakeflow_table_changes`` over bronze -> ``streaming_candles``
  (15-minute windows, 1-minute watermark) -> ``stream_append``.

Each slice holds the events of one 15-minute window of event time and
carries its scheduled landing time in ``due_s``; it lands at that time
whether or not the queries keep up. Freshness and candle lag are computed
after the run from the tables' own snapshot history, so measuring them adds
no work inside the timed window.
"""

from __future__ import annotations

import datetime as dt
import os
import threading
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import fixtures
from common import HARNESS, SparkHistory, cpu_split, median, quantile

WINDOW_US = 15 * 60 * 10**6
WATERMARK_US = 60 * 10**6
ROWS_PER_SLICE = 500
# One slice every INTERVAL_S. On a 4-core box freshness grew without bound
# at a slice every 0.03 s and held steady at 0.1 s: about half the capacity
# of the two queries together.
INTERVAL_S = 0.1
WARMUP_SLICES = 4
COMPACT_EVERY = 8
DRAIN_TIMEOUT_S = 60.0

SCHEMA = (
    "event_id bigint, ts timestamp, user_id bigint, event_type string, "
    "value double, props string, due_s double"
)


def _epoch(iso: str) -> float:
    return dt.datetime.fromisoformat(iso).timestamp()


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


class Generator:
    """Lands slice ``k`` at ``t0 + k * interval`` (wall clock), stamped with
    that scheduled time. Slices are built up front from the seed."""

    def __init__(self, landing: str, seed: int, n_slices: int) -> None:
        self.landing = landing
        self._tmp = os.path.join(landing, ".inflight")
        os.makedirs(self._tmp, exist_ok=True)
        rng = np.random.default_rng([seed, 2])
        t0 = np.datetime64("2024-01-01T00:00:00", "us")
        self.slices = [
            fixtures.events(
                rng, k * ROWS_PER_SLICE, ROWS_PER_SLICE,
                t0 + np.timedelta64(k * WINDOW_US, "us"), WINDOW_US, users=150,
            )
            for k in range(n_slices)
        ]
        self.due: dict[int, float] = {}
        self.landed_at: dict[int, float] = {}
        self.bytes = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def land(self, k: int, due: float) -> None:
        with HARNESS.measure():
            table = self.slices[k].append_column("due_s", pa.array([due] * ROWS_PER_SLICE))
            tmp = os.path.join(self._tmp, f"slice-{k:06d}.parquet")
            pq.write_table(table, tmp)
            self.bytes += os.path.getsize(tmp)
            os.rename(tmp, os.path.join(self.landing, f"slice-{k:06d}.parquet"))
        self.due[k] = due
        self.landed_at[k] = time.time()

    def start(self, first: int, t0: float, interval: float) -> None:
        def loop() -> None:
            k = first
            while k < len(self.slices) and not self._stop.is_set():
                due = t0 + (k - first) * interval
                if self._stop.wait(max(0.0, due - time.time())):
                    break
                self.land(k, due)
                k += 1

        self._thread = threading.Thread(target=loop, daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join()

    def rows(self, ks) -> pa.Table:
        return pa.concat_tables(self.slices[k] for k in ks)


class StreamIngest:
    def __init__(self, spark, work_dir: str, seed: int, seconds: float, log) -> None:
        self.spark = spark
        self.work = work_dir
        self.log = log
        self.attempted = 0
        self.failed = 0
        n = WARMUP_SLICES + int(seconds / INTERVAL_S) + 2
        self.gen = Generator(os.path.join(work_dir, "landing"), seed, n)
        self.queries: dict[str, object] = {}
        self.window: tuple[float, float] = (0.0, 0.0)

    # -- set-up: both queries started and past their first batches --------
    def setup(self) -> None:
        from lakeflow.sources.streams import file_stream
        from lakeflow.sources.table_stream import register_table_changes_source
        from lakeflow.streaming.candles import streaming_candles
        from lakeflow.streaming.sinks import stream_append
        from lakeflow.tables import VersionedTable

        spark = self.spark
        spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
        # The table-changes source cannot emit timestamps stored as Spark's
        # default INT96 (pyarrow yields tz-naive values the Arrow conversion
        # rejects), so bronze is written with UTC-adjusted micros.
        spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        self.bronze = VersionedTable(spark, os.path.join(self.work, "bronze"))
        self.silver = VersionedTable(spark, os.path.join(self.work, "silver"))
        schema = spark.createDataFrame([], SCHEMA).schema
        # An empty first commit gives bronze its schema, so that both queries
        # can start (and pay their first-use costs) together.
        self.bronze.commit(spark.createDataFrame([], schema))
        now = time.time()
        for k in range(WARMUP_SLICES):
            self.gen.land(k, now)
        self.queries["bronze"] = stream_append(
            file_stream(spark, self.gen.landing, schema), self.bronze,
            checkpoint=os.path.join(self.work, "ckpt-bronze"),
            available_now=False, txn_app="bronze",
            compact_every_n_commits=COMPACT_EVERY,
        )
        register_table_changes_source(spark)
        changes = (
            spark.readStream.format("lakeflow_table_changes")
            .option("path", self.bronze.root)
            .option("on_change", "skip")
            .load()
        )
        self.queries["silver"] = stream_append(
            streaming_candles(changes), self.silver,
            checkpoint=os.path.join(self.work, "ckpt-silver"),
            available_now=False, txn_app="silver",
        )
        self._wait(
            lambda: any(p["numInputRows"] for p in self.queries["silver"].recentProgress),
            "silver's first rows",
        )

    def _wait(
        self, cond, what: str, timeout: float = DRAIN_TIMEOUT_S, poll_s: float = 0.2
    ) -> bool:
        """Poll ``cond`` until it holds; the polling's CPU is the benchmark's
        own and is kept out of ``cpu_s``."""
        t_end = time.time() + timeout
        while time.time() < t_end:
            with HARNESS.measure():
                for name, q in self.queries.items():
                    if q.exception() is not None:
                        raise RuntimeError(f"{name} query failed: {q.exception()}")
                done = cond()
            if done:
                return True
            time.sleep(poll_s)
        self.log(f"timed out waiting for {what}")
        return False

    # -- timed window --------------------------------------------------------
    def measure(self, seconds: float) -> None:
        t0 = time.time() + INTERVAL_S
        self.window = (t0, t0 + seconds)
        self.cpu0 = cpu_split()
        self.gen.start(WARMUP_SLICES, t0, INTERVAL_S)
        time.sleep(max(0.0, self.window[1] - time.time()))
        self.gen.stop()

    def drain(self) -> None:
        """Wait until bronze holds every landed row and silver every window
        the final watermark closes, then stop both queries."""
        landed = sorted(self.gen.due)
        n_rows = len(landed) * ROWS_PER_SLICE
        n_windows = self._closed_windows(landed)
        self._wait(lambda: self._rows(self.bronze) >= n_rows, "bronze drain", poll_s=0.05)
        self._wait(lambda: self._rows(self.silver) >= n_windows, "silver drain", poll_s=0.05)
        # CPU to fully process the timed window's slices, less the
        # benchmark's own landing and polling
        cpu1 = cpu_split()
        self.cpu, self.jit = (b - a for a, b in zip(self.cpu0, cpu1))
        self.drained_at = time.time()
        for q in self.queries.values():
            q.stop()

    @staticmethod
    def _rows(table) -> int:
        """Rows in the table's current version, from parquet footers."""
        v = table.current_version()
        return 0 if v is None else sum(
            pq.ParquetFile(os.path.join(d, f)).metadata.num_rows
            for d in table.data_dirs(v)
            for f in os.listdir(d)
            if f.endswith(".parquet")
        )

    def _closed_windows(self, landed) -> int:
        """Candles silver holds once drained: the (event_type, window) pairs
        among the landed rows whose window the final watermark has closed."""
        with HARNESS.measure():
            rows = self.gen.rows(landed)
            ts = rows.column("ts").cast(pa.int64()).to_numpy()
            window = ts // WINDOW_US
            closed = (window + 1) * WINDOW_US <= ts.max() - WATERMARK_US
            types = rows.column("event_type").to_pylist()
            return len({(w, t) for w, t, c in zip(window.tolist(), types, closed) if c})

    # -- correctness ------------------------------------------------------------
    def _oracle_candles(self, landed) -> list[tuple]:
        """Batch tumbling candles (DuckDB) over the landed rows, for the
        windows the final watermark has closed."""
        import duckdb

        rows = self.gen.rows(landed)
        max_us = rows.column("ts").cast(pa.int64()).to_numpy().max()
        watermark = np.datetime64(int(max_us - WATERMARK_US), "us")
        con = duckdb.connect()
        con.register("ev", rows)
        r = "floor(({}) * 100.0 + 0.5) / 100.0"
        out = con.execute(
            f"""
            SELECT event_type, strftime(bucket, '%Y-%m-%d %H:%M:%S') AS bucket_start,
                   open, high, low, close, volume, n_events
            FROM (
                SELECT event_type, time_bucket(INTERVAL 15 MINUTE, ts) AS bucket,
                       {r.format('arg_min(value, ts)')} AS open,
                       {r.format('max(value)')} AS high,
                       {r.format('min(value)')} AS low,
                       {r.format('arg_max(value, ts)')} AS close,
                       {r.format('sum(value)')} AS volume,
                       count(*) AS n_events
                FROM ev
                GROUP BY event_type, bucket
            )
            WHERE bucket + INTERVAL 15 MINUTE <= ?
            """,
            [watermark.astype(dt.datetime)],
        ).fetchall()
        con.close()
        return sorted(out)

    def check(self) -> None:
        landed = sorted(self.gen.due)
        expected = self._oracle_candles(landed)
        bronze = self.bronze.read().select("event_id").collect()
        ids = [r[0] for r in bronze]
        want = {i for k in landed for i in range(k * ROWS_PER_SLICE, (k + 1) * ROWS_PER_SLICE)}
        self.attempted += 1
        if len(ids) != len(want) or set(ids) != want:
            self.failed += 1
            self.log(f"bronze: {len(ids)} rows for {len(want)} landed (exactly-once broken)")
        cols = ["event_type", "bucket_start", "open", "high", "low", "close", "volume", "n_events"]
        got = sorted(tuple(r) for r in self.silver.read().select(*cols).collect())
        self.attempted += 1
        if got != expected:
            self.failed += 1
            self.log(f"silver: {len(got)} candles, batch oracle has {len(expected)}")

    # -- metrics from the snapshot history ------------------------------------
    def _first_commit(self, table, key) -> dict:
        """``key(arrow_table) -> iterable`` of ids; returns id -> committed_at
        of the first version whose added data dirs hold it."""
        first: dict = {}
        prev: set[str] = set()
        snaps = sorted(tuple(r) for r in table.snapshots().select("version", "committed_at").collect())
        for v, committed_at in snaps:
            dirs = table.data_dirs(v)
            added = [d for d in dirs if d not in prev]
            if not prev - set(dirs):  # appends only; a compaction adds no rows
                for d in added:
                    for ident in key(pq.read_table(d)):
                        first.setdefault(ident, _epoch(committed_at))
            prev = set(dirs)
        return first

    def end_to_end(self) -> dict[str, float]:
        t0, t1 = self.window
        timed = [k for k, due in self.gen.due.items() if t0 <= due < t1]
        bronze_at = self._first_commit(
            self.bronze, lambda t: set(t.column("event_id").to_numpy() // ROWS_PER_SLICE)
        )
        self.fresh = {k: bronze_at[k] - self.gen.due[k] for k in timed if k in bronze_at}
        silver_at = self._first_commit(
            self.silver, lambda t: set(t.column("bucket_start").to_pylist())
        )
        # Window w closes with the first slice whose max event time, less the
        # watermark delay, reaches the window's end.
        origin = int(np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64))
        closes: dict[int, int] = {}
        wm = -1
        for k in sorted(self.gen.due):
            ts = self.gen.slices[k].column("ts").cast(pa.int64()).to_numpy()
            wm = max(wm, int(ts.max()) - WATERMARK_US)
            for w in range(k + 1):
                if w not in closes and origin + (w + 1) * WINDOW_US <= wm:
                    closes[w] = k
        self.lag = {}
        for w, k in closes.items():
            if k not in timed:
                continue
            start = dt.datetime(2024, 1, 1) + dt.timedelta(microseconds=w * WINDOW_US)
            key = start.strftime("%Y-%m-%d %H:%M:%S")
            if key in silver_at:
                self.lag[w] = silver_at[key] - self.gen.due[k]
        fresh = list(self.fresh.values())
        lag = list(self.lag.values())
        self.n_timed = len(timed)
        self.attempted += 1
        if len(fresh) != len(timed) or not lag:
            self.failed += 1
            self.log(f"stream: {len(fresh)}/{len(timed)} slices committed, {len(lag)} windows")
        self.steady = self._steady(timed)
        if not self.steady:
            self.log("stream: freshness grew over the run (over capacity); not steady")
        named = {
            "freshness_p50_s": median(fresh),
            "freshness_p90_s": quantile(fresh, 0.9),
            "candle_lag_p50_s": median(lag),
            "candle_lag_p90_s": quantile(lag, 0.9),
            "slices": len(fresh),
            "windows": len(lag),
        }
        return {
            "cpu_s": self.cpu / max(1, len(timed)),
            "wall.latency_p50_s": named["freshness_p50_s"],
            "wall.latency_p90_s": named["freshness_p90_s"],
            "wall.result_s": named["candle_lag_p50_s"],
            **named,
        }

    def details(self) -> dict:
        return {
            "freshness_s": [self.fresh[k] for k in sorted(self.fresh)],
            "candle_lag_s": [self.lag[w] for w in sorted(self.lag)],
            "generator_late_s": [
                self.gen.landed_at[k] - self.gen.due[k] for k in sorted(self.fresh)
            ],
        }

    def _steady(self, timed) -> bool:
        """False when median freshness in the last quarter of the window
        exceeds the first quarter's by more than half (and by more than
        0.5 s, the sawtooth of slices batched together): a growing backlog."""
        ks = sorted(k for k in timed if k in self.fresh)
        q = max(1, len(ks) // 4)
        first = median([self.fresh[k] for k in ks[:q]])
        last = median([self.fresh[k] for k in ks[-q:]])
        return last <= first + max(0.5, 0.5 * first)

    def per_layer(self, tracer, cores: int) -> dict[str, float]:
        """Layer costs from the start of the timed window until both tables
        have absorbed its slices (the interval ``cpu_s`` covers)."""
        t0, t1 = self.window[0], self.drained_at
        out: dict[str, float] = {}
        for name, q in self.queries.items():
            progress = [
                p for p in q.recentProgress
                if t0 <= _epoch(p["timestamp"].replace("Z", "+00:00")) < t1
            ]
            data = [p for p in progress if p["numInputRows"] > 0]
            pre = f"streaming.{name}."
            out[pre + "batches"] = len(progress)
            out[pre + "empty_batch_frac"] = (len(progress) - len(data)) / max(1, len(progress))
            out[pre + "trigger_p50_s"] = median(
                [p["durationMs"].get("triggerExecution", 0) / 1000.0 for p in data]
            )
            for phase, key in (
                ("latest_offset_s", "latestOffset"),
                ("get_batch_s", "getBatch"),
                ("query_planning_s", "queryPlanning"),
                ("add_batch_s", "addBatch"),
                ("wal_commit_s", "walCommit"),
                ("commit_offsets_s", "commitOffsets"),
            ):
                vals = [p["durationMs"].get(key, 0) / 1000.0 for p in data]
                out[pre + phase] = sum(vals) / max(1, len(vals))
            if name == "silver":
                ops = [p["stateOperators"][0] for p in progress if p.get("stateOperators")]
                out["streaming.state_rows"] = max((o["numRowsTotal"] for o in ops), default=0)
                out["streaming.state_bytes"] = max((o["memoryUsedBytes"] for o in ops), default=0)

        # tables: spans of the sink's commits and compactions
        p0 = t0 - time.time() + time.perf_counter()
        p1 = p0 + (t1 - t0)
        compacts = [s for s in tracer.named("tables.compact") if p0 <= s.start < p1]
        compact_ids = {s.id for s in compacts}
        commits = [
            s for s in tracer.named("tables.commit")
            if p0 <= s.start < p1 and s.parent not in compact_ids
        ]
        out["tables.commits"] = len(commits)
        out["tables.commit_p50_s"] = median([s.dur for s in commits])
        out["tables.commit_s"] = sum(s.dur for s in commits)
        out["tables.compactions"] = len(compacts)
        out["tables.compact_s"] = sum(s.dur for s in compacts)
        written, rewritten = self._bytes_written(self.bronze)
        out["tables.bytes_rewritten"] = rewritten
        out["tables.bytes_written_per_input_byte"] = (written + rewritten) / max(1, self.gen.bytes)
        out["tables.manifest_bytes"] = sum(
            _dir_bytes(os.path.join(t.root, "_snapshots")) for t in (self.bronze, self.silver)
        )
        for name, v in tracer.self_times(p0, p1).items():
            out[f"self.{name}_s"] = v
        out["trace.overhead_s"] = tracer.bookkeeping_s

        # sources: backlog at 4 Hz sample points, lateness of the generator
        committed = {k: self.gen.due[k] + f for k, f in self.fresh.items()}
        landed = [self.gen.landed_at[k] for k in committed]
        backlog = [
            sum(at <= t for at in landed) - sum(at <= t for at in committed.values())
            for t in np.arange(t0, self.window[1], 0.25)
        ]
        out["sources.backlog_files"] = float(np.mean(backlog)) if backlog else 0.0
        out["sources.gen_late_p90_s"] = quantile(
            [self.gen.landed_at[k] - self.gen.due[k] for k in committed], 0.9
        )

        totals = SparkHistory(self.spark).window(t0, t1)
        for k in ("jobs", "stages", "tasks", "shuffle_write_bytes", "spill_bytes", "gc_s"):
            out[f"spark.{k}"] = totals[k]
        out["spark.task_busy_frac"] = totals["task_run_s"] / max(1e-9, (t1 - t0) * cores)
        out["jvm.jit_cpu_s"] = self.jit / max(1, self.n_timed)  # per slice, as cpu_s
        return out

    def _bytes_written(self, table) -> tuple[int, int]:
        """(bytes added by appends, bytes added by compactions) over the
        table's whole history."""
        prev: set[str] = set()
        appended = rewritten = 0
        for v in table.versions():
            dirs = table.data_dirs(v)
            added = sum(_dir_bytes(d) for d in dirs if d not in prev)
            if prev - set(dirs):
                rewritten += added
            else:
                appended += added
            prev = set(dirs)
        return appended, rewritten
