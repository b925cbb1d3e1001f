"""Session set-up, process-tree memory and Spark counters shared by the
workloads.

Everything a run writes lands under its own output directory: table roots,
stream checkpoints, Spark's local and warehouse dirs, the JVM's and Python's
temp dirs and lakeflow's process scratch.
"""

from __future__ import annotations

import contextlib
import json
import os
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import urllib.request

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def prepare_process(work_dir: str) -> None:
    """Route every temp dir into ``work_dir`` and make ``lakeflow`` importable
    here and in Spark's Python workers (they inherit ``PYTHONPATH``)."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    tempfile.tempdir = tmp
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start_session(cores: int, work_dir: str, traced: bool):
    """A lakeflow session on ``local[cores]`` with ``get_session``'s own
    defaults (its 8 GiB local driver heap included); returns
    ``(spark, seconds)``. A traced run keeps every job and stage in the UI
    store, for the per-op Spark counters."""
    from lakeflow.scratch import use_process_scratch
    from lakeflow.session import get_session

    t0 = time.perf_counter()
    use_process_scratch()
    conf = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tempfile.gettempdir()}",
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        "spark.ui.port": "0",
    }
    if traced:
        conf["spark.ui.retainedJobs"] = conf["spark.ui.retainedStages"] = "100000"
    spark = get_session(
        "lakebench", master=f"local[{cores}]", shuffle_partitions=cores, extra_conf=conf
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def stop_session(spark, timeout: float = 60.0) -> None:
    """Stop Spark, then end its JVM and wait until the JVM and every process
    it started (Spark's Python workers) have exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None or gateway.proc is None:  # a JVM this process did not start
        return
    started = [p for p in process_tree() if p != os.getpid()]
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    proc = gateway.proc
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    t_end = time.time() + timeout
    while any(_alive(p) for p in started) and time.time() < t_end:
        time.sleep(0.05)
    for p in filter(_alive, started):
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _alive(pid: int) -> bool:
    """Running, not exited (a zombie only waits to be reaped)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def quantile(values, q: float) -> float:
    """The ``q`` quantile (0..1) by linear interpolation; 0.0 when empty."""
    vs = sorted(values)
    if not vs:
        return 0.0
    if len(vs) == 1:
        return float(vs[0])
    pos = q * (len(vs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(vs) - 1)
    return float(vs[lo] + (vs[hi] - vs[lo]) * (pos - lo))


def median(values) -> float:
    return float(statistics.median(values)) if values else 0.0


# -- process-tree memory ---------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _pss_kb(pid: int) -> int:
    """Proportional set size: shared pages split between their users, so
    forked Python workers are not counted once per fork."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def process_tree() -> list[int]:
    """This process and all its descendants."""
    kids = _children()
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and its descendants, with the
    children they have reaped (Spark's Python workers)."""
    ticks = 0
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


class _HarnessCpu:
    """CPU seconds the benchmark's own threads spend on bookkeeping that
    lakeflow cannot change: sampling memory, landing stream slices, polling
    for the drain. Measured per thread (``time.thread_time``)."""

    def __init__(self) -> None:
        self.total = 0.0
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def measure(self):
        t0 = time.thread_time()
        try:
            yield
        finally:
            dt = time.thread_time() - t0
            with self._lock:
                self.total += dt


HARNESS = _HarnessCpu()


class _JitCpu:
    """CPU seconds of the JVM's JIT compiler threads so far.

    Compiling hot code takes most of the JVM's CPU in the first minute of a
    run (on a 4-core box, 60% of a closed-loop pass). HotSpot starts and
    retires compiler threads as the compile queue grows and drains, so each
    thread's last reading is kept after it exits (it exits only after
    idling, so nothing is lost)."""

    NAMES = ("C1 CompilerThre", "C2 CompilerThre")  # comm is cut at 15 chars

    def __init__(self) -> None:
        self.pid: int | None = None
        self._seen: dict[tuple[str, str], float] = {}
        self._lock = threading.Lock()

    def read(self) -> float:
        if self.pid is None:
            return 0.0
        with HARNESS.measure(), self._lock:
            hz = os.sysconf("SC_CLK_TCK")
            task = f"/proc/{self.pid}/task"
            try:
                tids = os.listdir(task)
            except OSError:
                tids = []
            for tid in tids:
                try:
                    with open(f"{task}/{tid}/stat") as fh:
                        stat = fh.read()
                except OSError:
                    continue
                comm = stat[stat.index("(") + 1 : stat.rindex(")")]
                if comm.startswith(self.NAMES):
                    f = stat.rsplit(")", 1)[1].split()
                    # (tid, start time) names a thread even if its tid is reused
                    self._seen[(tid, f[19])] = (int(f[11]) + int(f[12])) / hz
            return sum(self._seen.values())


JIT = _JitCpu()


def own_cpu_s() -> float:
    """``tree_cpu_s`` less the benchmark's own bookkeeping CPU."""
    return tree_cpu_s() - HARNESS.total


def cpu_split() -> tuple[float, float]:
    """``(own_cpu_s(), JIT.read())``: the work's CPU, and the part of it
    the JVM's JIT compiler threads used since ``JIT.pid`` was set."""
    jit = JIT.read()
    return own_cpu_s(), jit


class RssSampler:
    """Samples the summed proportional set size of this process and its
    descendants (the JVM and Spark's Python workers) every ``interval``
    seconds; ``peak_mb`` is the largest sum seen."""

    def __init__(self, interval: float = 0.5) -> None:
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> int:
        with HARNESS.measure():
            kb = sum(_pss_kb(p) for p in process_tree())
            self.peak_kb = max(self.peak_kb, kb)
        JIT.read()  # catch compiler threads before they retire
        return kb

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self) -> RssSampler:
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def cpu_seconds() -> dict[str, float]:
    """Machine-wide CPU time by state from ``/proc/stat`` (``steal`` is time
    the hypervisor gave to other guests: a noisy-neighbour reading)."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:9]]
    hz = os.sysconf("SC_CLK_TCK")
    names = ("user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal")
    return {n: v / hz for n, v in zip(names, vals)}


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def peak_rss_split_mb(spark) -> tuple[float, float]:
    """(JVM, Python driver) peak RSS in MiB from ``VmHWM``."""
    return (
        _status_kb(jvm_pid(spark), "VmHWM") / 1024.0,
        _status_kb(os.getpid(), "VmHWM") / 1024.0,
    )


# -- Spark counters from the UI REST API -----------------------------------


def _gmt_epoch(s: str | None) -> float | None:
    if not s:
        return None
    import datetime as dt

    t = dt.datetime.strptime(s.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return t.replace(tzinfo=dt.timezone.utc).timestamp()


class SparkHistory:
    """Every job and stage of the application, fetched once from the UI
    REST API after the timed window, so that reading them adds no work
    inside it. Attributing by submission time counts jobs submitted from
    pool threads, which job groups miss."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        self.jobs = [
            (_gmt_epoch(j.get("submissionTime")), j)
            for j in self._get(f"{base}/jobs")
        ]
        self.stages = [
            (_gmt_epoch(s.get("submissionTime")), s)
            for s in self._get(f"{base}/stages?status=complete")
        ]

    @staticmethod
    def _get(url: str):
        with urllib.request.urlopen(url, timeout=30) as resp:
            return json.load(resp)

    def window(self, start: float, end: float) -> dict[str, float]:
        """Counters of the jobs and completed stages submitted in [start, end)."""
        jobs = [j for t, j in self.jobs if t is not None and start <= t < end]
        stages = [s for t, s in self.stages if t is not None and start <= t < end]
        return {
            "jobs": len(jobs),
            "stages": len(stages),
            "tasks": sum(s.get("numCompleteTasks", 0) for s in stages),
            "shuffle_write_bytes": sum(s.get("shuffleWriteBytes", 0) for s in stages),
            "spill_bytes": sum(
                s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0)
                for s in stages
            ),
            "task_run_s": sum(s.get("executorRunTime", 0) for s in stages) / 1000.0,
            "gc_s": sum(s.get("jvmGcTime", 0) for s in stages) / 1000.0,
        }
