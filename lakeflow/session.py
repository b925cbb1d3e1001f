"""SparkSession factory with scale-conscious defaults.

Mirrors the capability of the reference's session factories
(/root/reference/src/bronze/_bronze_utils.py:16-23 and duplicates) but sized for
a real cluster rather than a 1-core demo:

* AQE on (coalesce post-shuffle partitions, skew-join splitting, runtime
  join-strategy demotion) — at 100 TB the static plan is always wrong somewhere;
  AQE re-plans from live shuffle statistics.
* Session timezone pinned to UTC so event-time windows and ``hour()`` agree with
  any external oracle or downstream engine regardless of cluster locale (the
  reference instead pins Asia/Ho_Chi_Minh, /root/reference/src/silver/ohlcv_agg.py:64
  — semantically load-bearing there, parameterized here).
* Arrow transfer on: any pandas UDF / toPandas path is Arrow-batched.
* ``shuffle_partitions`` is an explicit knob: rule of thumb is
  max(2 × total-cores, input-bytes / 128 MiB) — on a 1000-executor cluster
  reading 100 TB that is O(100k) partitions; AQE coalesces the small ones back.
* The codegen cache holds the session's working set. Whole-stage codegen
  pays off only when a compiled class is reused, and Spark keeps 100 classes
  by default (``spark.sql.codegen.cache.maxEntries``). One lakeflow session
  runs many queries: at 100 entries every pass over a set larger than that
  recompiles it (Janino, then the JIT again). Distinct classes measured at
  sf0.01 on local[4]: lakebench's ``batch_elt`` ops 99 (a second pass
  recompiled 48 of them), ``llm_curation`` 86, bench.py's 55 headline
  queries 805 (a second pass recompiled 949 classes), the whole 242-query
  registry 3,106 (~20 MB of bytecode). 4,096 entries hold the whole
  registry; after one sweep of it that kept 22 MB more metaspace and 22 MB
  more JIT code than the default (248 and 149 MB), within the JVM RSS's
  run-to-run spread (2.5 GB either way). It is a static conf: it takes
  effect when the JVM's first session starts; ``extra_conf`` overrides it.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Defaults chosen for the local[32] test harness; override per-deployment.
_LOCAL_CORES = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

SCALE_DEFAULTS: dict[str, str] = {
    # --- correctness-critical ---
    "spark.sql.session.timeZone": "UTC",
    # Read parquet naive timestamps as LTZ (UTC session ⇒ naive semantics),
    # so event-time windows agree with external engines.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # --- adaptive execution: the 100 TB safety net ---
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # --- shuffle sizing (override on a real cluster) ---
    "spark.sql.shuffle.partitions": str(max(_LOCAL_CORES, 32)),
    # ~128 MiB split targets keep scan tasks uniform at any scale.
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    # --- python interop ---
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # --- broadcast: dims up to 64 MiB ship to every executor, killing the
    #     shuffle for star-schema lookups (SURVEY.md §2.3 J1). ---
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Quieter local runs; harmless on clusters.
    "spark.ui.showConsoleProgress": "false",
    # --- codegen: room for every registered query's classes (module doc) ---
    "spark.sql.codegen.cache.maxEntries": "4096",
}


def get_session(
    app_name: str = "lakeflow",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with lakeflow defaults.

    ``master=None`` defers to spark-submit / env (a real cluster); tests pass
    ``local[N]`` explicitly.
    """
    # NOTE: ephemeral-dir hygiene (lakeflow/scratch.py) is deliberately
    # NOT installed here — redirecting process-global tempfile state and
    # deleting the root at exit is a harness decision (it would break an
    # embedding app's NamedTemporaryFile(delete=False) contract). The
    # harnesses (bench.py, tests/conftest.py, __spark_entry__) and each
    # example opt in explicitly via use_process_scratch().
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    conf = dict(SCALE_DEFAULTS)
    if master and master.startswith("local"):
        # Local mode runs driver+executors in ONE JVM whose default heap is
        # 1 GiB — 32 task threads plus accumulated caches OOM it long before
        # the 128 GiB box is busy (it killed a full-surface bench run at
        # sf0.1). Only effective at first JVM launch; harmless afterwards.
        # On a real cluster, memory comes from spark-submit, not this knob.
        conf.setdefault(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        )
    if shuffle_partitions is not None:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    return spark


def stop_session(spark: SparkSession) -> None:
    spark.stop()
