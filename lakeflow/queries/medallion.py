"""Medallion-pipeline queries: SCD merges and incremental gold builds
(SURVEY.md §2.9 M1-M4), verified as state-after-merge DataFrames.

The driver oracle can only check plain SELECTs, so each merge is expressed as
"given target state T and deterministic source batch S, return the next state"
— exactly what lakeflow.operators.merge computes and what an Iceberg/Delta
MERGE INTO would persist.

The source batch is derived deterministically from the customer fixture:
  key % 7 == 0 → changed row (acctbal + 100)
  key % 7 == 1 → unchanged row (no-op on merge)
  key % 7 == 2 → brand-new key (custkey + 1_000_000)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lakeflow.functions.rounding import rnd

from lakeflow.catalog import load_table
from lakeflow.operators.merge import scd1_apply, scd2_apply
from lakeflow.queries import register
from lakeflow.sources.batch import read_parquet

T0 = "2026-01-01 00:00:00"
T1 = "2026-02-01 00:00:00"

_NATURAL = ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"]

_SRC_SQL = """
    SELECT c_custkey, c_name, c_nationkey, (floor((c_acctbal + 100) * 100.0 + 0.5) / 100.0) AS c_acctbal,
           c_mktsegment
    FROM customer WHERE c_custkey % 7 = 0
    UNION ALL
    SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
    FROM customer WHERE c_custkey % 7 = 1
    UNION ALL
    SELECT c_custkey + 1000000, 'NEW_' || CAST(c_custkey AS VARCHAR), c_nationkey,
           c_acctbal, c_mktsegment
    FROM customer WHERE c_custkey % 7 = 2
"""


def _source_batch(c: DataFrame) -> DataFrame:
    """Deterministic CDC batch over the customer snapshot (see module doc)."""
    changed = c.filter(F.col("c_custkey") % 7 == 0).withColumn(
        "c_acctbal", rnd(F.col("c_acctbal") + 100, 2)
    )
    unchanged = c.filter(F.col("c_custkey") % 7 == 1)
    new = (
        c.filter(F.col("c_custkey") % 7 == 2)
        .withColumn("c_name", F.concat(F.lit("NEW_"), F.col("c_custkey").cast("string")))
        .withColumn("c_custkey", F.col("c_custkey") + 1000000)
    )
    cols = _NATURAL
    return changed.select(cols).unionByName(unchanged.select(cols)).unionByName(new.select(cols))


@register(
    "scd1_customer_state",
    oracle=f"""
    WITH src AS ({_SRC_SQL})
    SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM src
    UNION ALL
    SELECT t.c_custkey, t.c_name, t.c_nationkey, t.c_acctbal, t.c_mktsegment
    FROM customer t
    WHERE NOT EXISTS (SELECT 1 FROM src WHERE src.c_custkey = t.c_custkey)
    """,
)
def scd1_customer_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M3 SCD Type 1 upsert (reference merge_scd1, _silver_utils.py:157-186):
    state after applying the CDC batch. Single anti-join + union; the source
    side broadcasts in the common small-batch case."""
    c = load_table(spark, sf_dir, "customer").select(_NATURAL)
    return scd1_apply(c, _source_batch(c), keys=["c_custkey"])


@register(
    "scd2_customer_state",
    oracle=f"""
    WITH src AS ({_SRC_SQL}),
    tgt AS (SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM customer),
    j AS (
        SELECT t.c_custkey AS t_key, t.c_name AS t_name, t.c_nationkey AS t_nk,
               t.c_acctbal AS t_bal, t.c_mktsegment AS t_seg,
               s.c_custkey AS s_key, s.c_name AS s_name, s.c_nationkey AS s_nk,
               s.c_acctbal AS s_bal, s.c_mktsegment AS s_seg,
               (s.c_custkey IS NOT NULL AND (
                    s.c_acctbal IS DISTINCT FROM t.c_acctbal
                 OR s.c_mktsegment IS DISTINCT FROM t.c_mktsegment)) AS changed
        FROM tgt t FULL JOIN src s ON t.c_custkey = s.c_custkey
    )
    SELECT t_key AS c_custkey, t_name AS c_name, t_nk AS c_nationkey,
           t_bal AS c_acctbal, t_seg AS c_mktsegment,
           '{T0}' AS start_ts,
           CASE WHEN changed THEN '{T1}' ELSE NULL END AS end_ts,
           CASE WHEN changed THEN 0 ELSE 1 END AS is_current
    FROM j WHERE t_key IS NOT NULL
    UNION ALL
    SELECT s_key, s_name, s_nk, s_bal, s_seg, '{T1}', NULL, 1
    FROM j WHERE s_key IS NOT NULL AND (t_key IS NULL OR changed)
    """,
)
def scd2_customer_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M2 SCD Type 2 two-phase merge (reference merge_scd2,
    _silver_utils.py:108-153): expire changed current rows, insert new
    versions; null-safe change detection on (c_acctbal, c_mktsegment)."""
    c = load_table(spark, sf_dir, "customer").select(_NATURAL)
    target = (
        c.withColumn("start_timestamp", F.lit(T0).cast("timestamp"))
        .withColumn("end_timestamp", F.lit(None).cast("timestamp"))
        .withColumn("is_current", F.lit(1).cast("int"))
    )
    state = scd2_apply(
        target,
        _source_batch(c),
        keys=["c_custkey"],
        tracked=["c_acctbal", "c_mktsegment"],
        effective_ts=T1,
    )
    return state.select(
        *_NATURAL,
        F.date_format("start_timestamp", "yyyy-MM-dd HH:mm:ss").alias("start_ts"),
        F.date_format("end_timestamp", "yyyy-MM-dd HH:mm:ss").alias("end_ts"),
        "is_current",
    )


@register(
    "time_travel_customer_v1",
    oracle="SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM customer",
)
def time_travel_customer_v1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10 snapshot/time-travel parity (reference: Iceberg ``FOR VERSION AS
    OF``, /root/reference/experiments/trino_iceberg_example.sql:40-43) on the
    manifest-backed VersionedTable: commit customer as v1, overwrite with a
    filtered subset as v2, then read *v1* back — byte-identical to the source
    table even though the current version differs."""
    import tempfile

    from lakeflow.tables import VersionedTable

    cust = load_table(spark, sf_dir, "customer")
    t = VersionedTable(spark, tempfile.mkdtemp(prefix="lakeflow_tt_"))
    t.commit(cust)
    t.commit(cust.filter(F.col("c_acctbal") > 0), mode="overwrite")
    assert t.current_version() == 2
    return t.read(version=1).select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"
    )


@register(
    "tagged_release_scan",
    oracle="""
    SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
    FROM customer WHERE c_acctbal > 0
    """,
)
def tagged_release_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named refs (Iceberg tags) as release pins: commit customer, overwrite
    with the positive-balance release cut and TAG it, overwrite again with a
    newer slice, then run retention GC with keep_last=1 — which drops the
    untagged history but must NOT touch the tagged snapshot or its data
    (expire-respects-refs). The final read resolves the tag by name. This is
    how a 100 TB training corpus pins 'the exact snapshot run X trained on'
    without exempting the whole table from retention."""
    import tempfile

    from lakeflow.tables import VersionedTable

    cust = load_table(spark, sf_dir, "customer")
    t = VersionedTable(spark, tempfile.mkdtemp(prefix="lakeflow_tag_"))
    t.commit(cust)                                                    # v1
    t.commit(cust.filter(F.col("c_acctbal") > 0), mode="overwrite")   # v2
    t.create_tag("release-1", version=2)                              # v3
    t.commit(cust.filter(F.col("c_acctbal") > 1000), mode="overwrite")
    t.expire_snapshots(keep_last=1)
    return t.read(version="release-1").select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"
    )


@register(
    "branch_backfill_scan",
    oracle="""
    SELECT c_custkey, c_name, c_mktsegment, c_acctbal
    FROM customer WHERE c_mktsegment <> 'MACHINERY'
    UNION ALL
    SELECT c_custkey, c_name, c_mktsegment, c_acctbal
    FROM customer WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 5000
    """,
)
def branch_backfill_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg branch workflow end-to-end: fork a WRITABLE branch from the
    customer table (zero data bytes copied — manifests reference the same
    dirs), run isolated DML on it (a merge-on-read DELETE that publishes a
    deletion vector, then an append), verify main never saw the edits, and
    FAST FORWARD main onto the branch head in one atomic metadata commit.
    This is the staging/audit-branch pattern a 100 TB corpus rebuild needs:
    the backfill runs for hours on the branch while production reads main,
    then production swings atomically."""
    import tempfile

    from lakeflow.tables import VersionedTable

    cols = ["c_custkey", "c_name", "c_mktsegment", "c_acctbal"]
    cust = load_table(spark, sf_dir, "customer").select(*cols)
    t = VersionedTable(spark, tempfile.mkdtemp(prefix="lakeflow_branch_"))
    t.commit(cust)                                                    # main v1
    b = t.create_branch("backfill")
    b.delete_where_mor("c_mktsegment = 'MACHINERY'")
    b.commit(
        cust.filter(
            (F.col("c_mktsegment") == "BUILDING") & (F.col("c_acctbal") > 5000)
        )
    )
    # Isolation check baked into the result: main must still be the full
    # table pre-fast-forward, or the final row set diverges from the oracle.
    assert t.read().count() == cust.count()
    t.fast_forward("backfill")
    return t.read().select(*cols)


@register(
    "governed_customer_scan",
    oracle="""
    SELECT c_custkey,
           concat(substr(c_name, 1, 9),
                  repeat('*', length(c_name) - 9)) AS c_name,
           c_nationkey,
           CAST(floor(c_acctbal / 100) * 100 AS DOUBLE) AS c_acctbal,
           c_mktsegment
    FROM customer
    WHERE c_mktsegment <> 'BUILDING'
    """,
)
def governed_customer_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fine-grained access control as TABLE POLICY (Delta/Unity column
    masks + row filters): the analyst path reads customer through
    `VersionedTable.read_governed` — the BUILDING segment is hidden by a
    row filter (evaluated on true values, before masks), the customer
    number inside c_name is starred out, and acctbal is coarsened to a
    100-unit band
    (type-preserving, enforced at declaration). Policy rides the manifest
    like CHECK constraints — it survives DML, clones, and compaction, and
    time travel does NOT rewind it (history is not a governance loophole).
    The owner path (`read()`) is untouched. Masks/filters are Catalyst
    projections and pushable predicates — governance costs nothing extra at
    100 TB (the filter prunes like any WHERE; no row ever leaves the scan
    unmasked on the governed plan)."""
    import tempfile

    from lakeflow.tables import VersionedTable

    cust = load_table(spark, sf_dir, "customer")
    t = VersionedTable(spark, tempfile.mkdtemp(prefix="lakeflow_gov_"))
    t.commit(cust)
    t.set_column_mask(
        "c_name",
        "concat(substr(c_name, 1, 9), "
        "repeat('*', length(c_name) - 9))",
    )
    t.set_column_mask(
        "c_acctbal", "cast(floor(c_acctbal / 100) * 100 as double)"
    )
    t.set_row_filter("hide_building", "c_mktsegment <> 'BUILDING'")
    return t.read_governed()


@register(
    "sql_api_top_nations",
    oracle="""
    SELECT n_name,
           count(*) AS n_customers,
           (floor((sum(c_acctbal)) * 100.0 + 0.5) / 100.0) AS total_bal
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def sql_api_top_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S11 SQL surface parity: the same engine capabilities through
    ``spark.sql`` over registered temp views (the reference drives everything
    through SQL strings for DDL/MERGE, /root/reference/src/silver/_silver_utils.py:121-124).
    Catalyst compiles this to the identical plan as the DataFrame form."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("v_customer")
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("v_nation")
    return spark.sql(
        """
        SELECT n_name,
               count(*) AS n_customers,
               floor(sum(c_acctbal) * 100.0D + 0.5D) / 100.0D AS total_bal
        FROM v_customer JOIN v_nation ON c_nationkey = n_nationkey
        GROUP BY n_name
        """
    )


@register(
    "medallion_gold_dim",
    oracle="""
    SELECT c_custkey, c_name,
           CASE WHEN c_acctbal <= 0 THEN NULL ELSE c_acctbal END AS c_acctbal,
           c_mktsegment,
           n_name AS nation_name
    FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey
    WHERE c_custkey IS NOT NULL
    """,
)
def medallion_gold_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's whole batch ELT DAG as one driver-checked query
    (/root/reference/src/dags/batch_elt_company.py:69-71): fixture tables →
    CSV (the raw-input contract) → all-string bronze with ingest metadata →
    silver normalize/trim/nullify/dedup → gold broadcast star join — run by
    the Pipeline diamond, then the gold table is read back and compared to a
    single SQL oracle over the original inputs."""
    import tempfile

    from lakeflow.plans.medallion import build_medallion_pipeline

    work = tempfile.mkdtemp(prefix="lakeflow_medallion_")
    cust_csv = f"{work}/customer_csv"
    nat_csv = f"{work}/nation_csv"

    # The two raw-input CSV exports are independent jobs too — same §2.6
    # overlap as the pipeline diamond below. Each worker inherits this
    # thread's Spark local properties, so the caller's job group covers them.
    def _export(table: str, dest: str) -> None:
        load_table(spark, sf_dir, table).write.mode("overwrite").option(
            "header", True
        ).csv(dest)

    from concurrent.futures import ThreadPoolExecutor

    from lakeflow.plans.runner import _inheriting

    with ThreadPoolExecutor(max_workers=2) as pool:
        for fut in [
            pool.submit(_inheriting(_export), "customer", cust_csv),
            pool.submit(_inheriting(_export), "nation", nat_csv),
        ]:
            fut.result()
    pipe = build_medallion_pipeline(spark, cust_csv, nat_csv, f"{work}/wh")
    # The diamond's two bronze→silver chains are independent; a 2-worker
    # pool overlaps their IO (guide §2.6 — FIFO scheduling back-fills each
    # job's straggler tail with the other branch's tasks). Results and
    # report statuses are identical to the sequential run (pinned in
    # tests/test_medallion_pipeline.py).
    results = pipe.run(max_workers=2)
    return read_parquet(spark, results["gold_dim_customer"])


@register(
    "ddl_roundtrip",
    oracle="""
    SELECT * FROM (VALUES
        ('AAA', '2024-01-02 09:15:00', CAST(101.5 AS DOUBLE), CAST(1000 AS BIGINT), CAST(2024 AS INT)),
        ('AAA', '2024-01-02 09:30:00', CAST(102.25 AS DOUBLE), CAST(1500 AS BIGINT), CAST(2024 AS INT)),
        ('BBB', '2023-12-29 14:00:00', CAST(55.0 AS DOUBLE), CAST(800 AS BIGINT), CAST(2023 AS INT))
    ) AS t(symbol, ts_str, close, volume, event_year)
    """,
)
def ddl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S11 DDL surface, driver-checked: CREATE SCHEMA / CREATE TABLE
    PARTITIONED BY / INSERT INTO ... VALUES / SHOW / DESCRIBE / read-back —
    the capability set of the reference's Trino init script
    (/root/reference/docker/init/lakehouse_init.sql:1-59) on Spark's managed
    catalog. Partitioning on event_year mirrors the reference's
    year-partitioned bronze tables; the read-back is the oracle-compared
    result, with the timestamp formatted engine-neutrally.

    Locations are explicit tempdirs: the default warehouse lives under the
    *driver's* cwd (may be read-only), and a fresh session's metastore
    doesn't know a previous run's managed table, so a leftover managed
    location would fail CREATE with LOCATION_ALREADY_EXISTS. Unique external
    locations sidestep both."""
    import tempfile

    db_loc = tempfile.mkdtemp(prefix="lakeflow_ddl_db_")
    tbl_loc = tempfile.mkdtemp(prefix="lakeflow_ddl_tbl_")
    spark.sql(f"CREATE DATABASE IF NOT EXISTS lakeflow_ddl LOCATION '{db_loc}'")
    spark.sql("DROP TABLE IF EXISTS lakeflow_ddl.ohlcv_demo")
    spark.sql(
        """
        CREATE TABLE lakeflow_ddl.ohlcv_demo (
            symbol STRING, ts TIMESTAMP, close DOUBLE, volume BIGINT,
            event_year INT
        ) USING parquet PARTITIONED BY (event_year)
        LOCATION '{loc}'
        """.format(loc=tbl_loc)
    )
    spark.sql(
        """
        INSERT INTO lakeflow_ddl.ohlcv_demo VALUES
            ('AAA', TIMESTAMP '2024-01-02 09:15:00', 101.5D, 1000, 2024),
            ('AAA', TIMESTAMP '2024-01-02 09:30:00', 102.25D, 1500, 2024),
            ('BBB', TIMESTAMP '2023-12-29 14:00:00', 55.0D, 800, 2023)
        """
    )
    # Introspection surface: must execute (results are engine-specific).
    spark.sql("SHOW DATABASES").collect()
    spark.sql("DESCRIBE EXTENDED lakeflow_ddl.ohlcv_demo").collect()
    return spark.sql(
        """
        SELECT symbol, date_format(ts, 'yyyy-MM-dd HH:mm:ss') AS ts_str,
               close, volume, event_year
        FROM lakeflow_ddl.ohlcv_demo
        """
    )


@register(
    "table_snapshots_history",
    oracle="""
    SELECT * FROM (VALUES
        (CAST(1 AS INT), 'append',    CAST(1 AS INT)),
        (CAST(2 AS INT), 'append',    CAST(2 AS INT)),
        (CAST(3 AS INT), 'overwrite', CAST(1 AS INT)),
        (CAST(4 AS INT), 'compact',   CAST(1 AS INT))
    ) AS t(version, operation, n_dirs)
    """,
)
def table_snapshots_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10 snapshot-metadata surface: the Iceberg ``t.snapshots`` analog over
    VersionedTable manifests (reference experiments/spark_iceberg_example.ipynb
    cells 10-11). Two appends, an overwrite, and a compaction produce a
    deterministic history — version, operation, and manifest dir count."""
    import tempfile

    from pyspark.sql import functions as FN

    from lakeflow.tables import VersionedTable

    t = VersionedTable(spark, tempfile.mkdtemp(prefix="lakeflow_snap_"))
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    t.commit(cust.filter(FN.col("c_custkey") <= 100), mode="append")
    t.commit(
        cust.filter((FN.col("c_custkey") > 100) & (FN.col("c_custkey") <= 200)),
        mode="append",
    )
    t.commit(cust.filter(FN.col("c_custkey") <= 50), mode="overwrite")
    t.compact()
    return t.snapshots().select("version", "operation", "n_dirs")


@register(
    "table_changes_feed",
    oracle="""
    SELECT c_custkey, c_acctbal, 'delete' AS change_type
    FROM customer WHERE c_custkey <= 20
    UNION ALL
    SELECT c_custkey, c_acctbal + 100, 'update'
    FROM customer WHERE c_custkey BETWEEN 21 AND 40
    UNION ALL
    SELECT c_custkey, c_acctbal, 'insert'
    FROM customer WHERE c_custkey BETWEEN 201 AND 250
    """,
)
def table_changes_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10 extension: the change-data-feed read between two snapshots
    (Delta ``table_changes`` analog over VersionedTable time travel,
    tables.py::table_diff). v1 holds customers 1-200; v2 deletes 1-20,
    bumps 21-40's balance by 100, and inserts 201-250 — the diff must
    recover exactly those deletes (pre-image), updates (post-image), and
    inserts via one full-outer key join of the two snapshot reads."""
    import tempfile

    from pyspark.sql import functions as FN

    from lakeflow.tables import VersionedTable, table_diff

    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    t = VersionedTable(spark, tempfile.mkdtemp(prefix="lakeflow_cdf_"))
    t.commit(cust.filter(FN.col("c_custkey") <= 200), mode="append")
    v2 = (
        cust.filter(
            (FN.col("c_custkey") > 20) & (FN.col("c_custkey") <= 250)
        ).withColumn(
            "c_acctbal",
            FN.when(
                FN.col("c_custkey") <= 40, FN.col("c_acctbal") + 100
            ).otherwise(FN.col("c_acctbal")),
        )
    )
    t.commit(v2, mode="overwrite")
    return table_diff(t, ["c_custkey"], from_version=1, to_version=2)


# -- data-quality expectations (silver-layer gate, DLT EXPECT analog) -------

# One shared rule set: the contract a silver orders table would declare.
# Oracle mirrors Expectation.passes() exactly: COALESCE(pred, FALSE), so a
# NULL predicate counts as a violation on both engines.
_ORDER_RULES_SQL = [
    # (name, action, SQL predicate — valid in both Spark SQL and DuckDB)
    ("custkey_present", "fail", "o_custkey IS NOT NULL"),
    ("date_before_2001", "warn", "o_orderdate < TIMESTAMP '2001-01-01'"),
    ("orderkey_positive", "fail", "o_orderkey > 0"),
    ("price_in_range", "drop", "o_totalprice > 0 AND o_totalprice <= 450000"),
    ("status_known", "drop", "o_orderstatus IN ('F', 'O')"),
]


def _order_expectations():
    from lakeflow.quality import Expectation

    return [Expectation(n, p, a) for n, a, p in _ORDER_RULES_SQL]


_EXPECT_REPORT_ORACLE = """
    WITH agg AS (
        SELECT count(*) AS n,
{counters}
        FROM orders
    )
{unions}
    ORDER BY expectation
""".format(
    counters=",\n".join(
        f"            CAST(sum(CASE WHEN NOT COALESCE({pred}, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS v_{name}"
        for name, _a, pred in _ORDER_RULES_SQL
    ),
    unions="\n    UNION ALL\n".join(
        f"""    SELECT '{name}' AS expectation, '{action}' AS action,
           n AS n_rows, v_{name} AS n_violations,
           (floor((n - v_{name}) / CAST(n AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0) AS pass_rate
    FROM agg"""
        for name, action, _p in _ORDER_RULES_SQL
    ),
)


@register("expectations_report_orders", oracle=_EXPECT_REPORT_ORACLE)
def expectations_report_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality audit over orders: per-rule violation counts and pass
    rates from ONE aggregate pass (lakeflow.quality.expectation_report) —
    the DLT-expectations metrics surface. The reference's silver layer
    computes this kind of validity inline per transform
    (/root/reference/src/silver/_silver_utils.py); here the rules are a
    declarative spec and the report is derived, never a per-rule rescan."""
    from lakeflow.quality import expectation_report

    return expectation_report(
        load_table(spark, sf_dir, "orders"), _order_expectations()
    )


_QUARANTINE_ORACLE = """
    WITH checked AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice,
{flags}
        FROM orders
    )
    SELECT o_orderkey, o_orderstatus, o_totalprice,
           array_to_string(
               list_filter([{terms}], x -> x IS NOT NULL), ','
           ) AS violated
    FROM checked
    WHERE NOT (ok_price_in_range AND ok_status_known
               AND ok_custkey_present AND ok_orderkey_positive)
""".format(
    flags=",\n".join(
        f"            COALESCE({pred}, FALSE) AS ok_{name}"
        for name, _a, pred in _ORDER_RULES_SQL
    ),
    # Alphabetical rule order — matches quality.annotate's array_sort.
    terms=", ".join(
        f"CASE WHEN NOT ok_{name} THEN '{name}' END"
        for name, _a, _p in sorted(_ORDER_RULES_SQL)
    ),
)


@register("quarantine_orders", oracle=_QUARANTINE_ORACLE)
def quarantine_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The quarantine side of the expectations gate: rows failing any
    drop/fail rule, annotated with every rule they violate (warn included)
    as a sorted CSV — the audit trail a DLT ON VIOLATION quarantine table
    keeps. Scan-side projection + filter; no shuffle, no UDF."""
    from lakeflow.quality import split

    orders = load_table(spark, sf_dir, "orders")
    _good, bad = split(orders, _order_expectations())
    return bad.select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        F.array_join("violations", ",").alias("violated"),
    )


@register(
    "schema_evolution_nullfill",
    oracle="""
    SELECT c_custkey, c_acctbal, CAST(NULL AS VARCHAR) AS segment
    FROM customer WHERE c_custkey <= 100
    UNION ALL
    SELECT c_custkey, c_acctbal, c_mktsegment AS segment
    FROM customer WHERE c_custkey BETWEEN 101 AND 150
    """,
)
def schema_evolution_nullfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10/S11 extension: metadata-only additive schema evolution on a
    versioned table (Iceberg add-column / Delta mergeSchema analog,
    tables.py::VersionedTable._evolve_schema). v1 commits (custkey,
    acctbal); v2 appends rows carrying a NEW ``segment`` column under
    ``merge_schema=True``. The latest read returns the evolved shape with
    pre-evolution rows NULL-backfilled — no v1 data file is rewritten."""
    import tempfile

    from pyspark.sql import functions as FN

    from lakeflow.tables import VersionedTable

    cust = load_table(spark, sf_dir, "customer")
    t = VersionedTable(spark, tempfile.mkdtemp(prefix="lakeflow_evolve_"))
    t.commit(
        cust.filter(FN.col("c_custkey") <= 100).select("c_custkey", "c_acctbal")
    )
    t.commit(
        cust.filter(
            (FN.col("c_custkey") > 100) & (FN.col("c_custkey") <= 150)
        ).select(
            "c_custkey", "c_acctbal", FN.col("c_mktsegment").alias("segment")
        ),
        merge_schema=True,
    )
    return t.read()


@register(
    "compaction_roundtrip",
    oracle="""
    SELECT c_custkey, c_acctbal FROM customer WHERE c_custkey <= 118
    """,
)
def compaction_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental small-file compaction (tables.py::VersionedTable.compact
    with small_dir_max_bytes — Delta OPTIMIZE / Iceberg rewrite_data_files):
    six tiny micro-batch-style commits coalesce into one dir while the
    large initial commit is carried over by manifest reference, and the
    compacted read returns exactly the pre-compaction rows. The assert
    pins the O(small dirs) property; the oracle hash-checks the data."""
    import tempfile

    from pyspark.sql import functions as FN

    from lakeflow.tables import VersionedTable

    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    t = VersionedTable(spark, tempfile.mkdtemp(prefix="lakeflow_compact_"))
    t.commit(cust.filter(FN.col("c_custkey") <= 100).coalesce(1))
    big_dir = t._manifest(1)["dirs"][0]
    for i in range(6):
        lo, hi = 100 + i * 3, 103 + i * 3
        t.commit(
            cust.filter(
                (FN.col("c_custkey") > lo) & (FN.col("c_custkey") <= hi)
            ).coalesce(1)
        )
    v = t.compact(small_dir_max_bytes=t._dir_bytes(big_dir))
    m = t._manifest(v)
    assert big_dir in m["dirs"] and len(m["dirs"]) == 2, (
        f"expected carried big dir + one merged dir, got {len(m['dirs'])}"
    )
    return t.read()


@register(
    "rollback_restore",
    oracle="""
    SELECT c_custkey, c_acctbal FROM customer WHERE c_custkey <= 200
    """,
)
def rollback_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta RESTORE analog (tables.py::VersionedTable.rollback): a bad
    overwrite lands as v2, rollback re-references v1's data dirs as v3 —
    metadata-only, no rewrite, v2 stays time-travelable — and the latest
    read equals the pre-incident table, which the oracle hash-checks."""
    import tempfile

    from pyspark.sql import functions as FN

    from lakeflow.tables import VersionedTable

    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    t = VersionedTable(spark, tempfile.mkdtemp(prefix="lakeflow_rollback_"))
    t.commit(cust.filter(FN.col("c_custkey") <= 200))
    t.commit(
        cust.filter(FN.col("c_custkey") <= 10).withColumn(
            "c_acctbal", FN.lit(-1.0)
        ),
        mode="overwrite",
    )  # the incident
    v = t.rollback(to_version=1)
    assert v == 3 and t._manifest(3)["dirs"] == t._manifest(1)["dirs"]
    return t.read()


@register(
    "scd2_asof_state",
    oracle="""
    SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
    FROM customer
    """,
)
def scd2_asof_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time lookup over SCD2 history (the AS OF join a dimension's
    consumers run): after the T1 merge, reconstruct the dimension AS OF a
    time between T0 and T1 — validity-interval filter
    start <= t < end (open end = current). The result must equal the
    ORIGINAL customer snapshot exactly: changed keys resolve to their
    expired pre-merge row, unchanged keys to their current row, and T1
    inserts fall outside the window — which the oracle hash-checks."""
    c = load_table(spark, sf_dir, "customer").select(_NATURAL)
    target = (
        c.withColumn("start_timestamp", F.lit(T0).cast("timestamp"))
        .withColumn("end_timestamp", F.lit(None).cast("timestamp"))
        .withColumn("is_current", F.lit(1).cast("int"))
    )
    state = scd2_apply(
        target,
        _source_batch(c),
        keys=["c_custkey"],
        tracked=["c_acctbal", "c_mktsegment"],
        effective_ts=T1,
    )
    t_mid = F.lit("2026-01-15 00:00:00").cast("timestamp")
    return state.filter(
        (F.col("start_timestamp") <= t_mid)
        & (F.col("end_timestamp").isNull() | (F.col("end_timestamp") > t_mid))
    ).select(*_NATURAL)


@register(
    "sql_lakehouse_time_travel",
    oracle="""
    SELECT c_custkey, c_acctbal FROM customer WHERE c_custkey <= 100
    """,
)
def sql_lakehouse_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The versioned-table layer driven ENTIRELY through SQL strings
    (lakeflow/sqlx.py — the Delta/Iceberg SQL-extension analog, matching
    the reference's SQL-first style): CREATE VERSIONED TABLE AS SELECT,
    INSERT INTO VERSIONED, then a time-travel SELECT ... FOR VERSION AS OF
    back to the pre-insert snapshot, which must hash-equal the plain
    source SELECT."""
    import tempfile

    from lakeflow.sqlx import LakehouseSQL
    from lakeflow.tables import TableCatalog

    load_table(spark, sf_dir, "customer").createOrReplaceTempView("src_customer")
    lh = LakehouseSQL(
        spark, TableCatalog(spark, tempfile.mkdtemp(prefix="lakeflow_sqlx_"))
    )
    lh.execute(
        "CREATE VERSIONED TABLE cust_dim AS "
        "SELECT c_custkey, c_acctbal FROM src_customer WHERE c_custkey <= 100"
    )
    lh.execute(
        "INSERT INTO VERSIONED cust_dim "
        "SELECT c_custkey, c_acctbal FROM src_customer "
        "WHERE c_custkey BETWEEN 101 AND 150"
    )
    return lh.execute(
        "SELECT c_custkey, c_acctbal FROM cust_dim FOR VERSION AS OF 1"
    )


@register(
    "sql_txn_atomic_layers",
    oracle="""
    SELECT n_base, n_rollup, consistent FROM (
        SELECT CAST(count(*) AS BIGINT) AS n_base,
               CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS n_rollup,
               true AS consistent
        FROM orders WHERE o_orderkey <= 3000
    )
    """,
)
def sql_txn_atomic_layers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table transactions driven ENTIRELY through SQL
    (sqlx BEGIN TRANSACTION ... COMMIT over lakeflow/txn.py): a base layer
    and its rollup are created inside one transaction, a second
    transaction appends to base and refreshes the rollup, and a third
    BEGINs, stages an INSERT, and ROLLBACKs — catalog reads must still
    see the second transaction's consistent pair (the staged snapshot is
    an orphan). Emits the catalog-pinned base count, rollup group count,
    and a base≡rollup consistency bit the oracle pins to the first 3000
    orderkeys — a torn third epoch or a half-applied second breaks any of
    the three."""
    import tempfile

    from lakeflow.sqlx import LakehouseSQL
    from lakeflow.tables import TableCatalog

    load_table(spark, sf_dir, "orders").createOrReplaceTempView("src_orders")
    lh = LakehouseSQL(
        spark, TableCatalog(spark, tempfile.mkdtemp(prefix="lakeflow_sqtx_"))
    )
    lh.execute("BEGIN TRANSACTION 'epoch 1'")
    lh.execute(
        "CREATE VERSIONED TABLE base AS "
        "SELECT o_orderkey, o_orderstatus FROM src_orders "
        "WHERE o_orderkey <= 2000"
    )
    lh.execute(
        "CREATE VERSIONED TABLE rollup AS "
        "SELECT o_orderstatus, count(*) AS n FROM src_orders "
        "WHERE o_orderkey <= 2000 GROUP BY o_orderstatus"
    )
    lh.execute("COMMIT")
    lh.execute("BEGIN TRANSACTION 'epoch 2'")
    lh.execute(
        "INSERT INTO VERSIONED base "
        "SELECT o_orderkey, o_orderstatus FROM src_orders "
        "WHERE o_orderkey > 2000 AND o_orderkey <= 3000"
    )
    lh.execute(
        "INSERT OVERWRITE VERSIONED rollup "
        "SELECT o_orderstatus, count(*) AS n FROM src_orders "
        "WHERE o_orderkey <= 3000 GROUP BY o_orderstatus"
    )
    lh.execute("COMMIT")
    lh.execute("BEGIN TRANSACTION 'epoch 3 (abandoned)'")
    lh.execute(
        "INSERT INTO VERSIONED base "
        "SELECT o_orderkey, o_orderstatus FROM src_orders "
        "WHERE o_orderkey > 3000"
    )
    lh.execute("ROLLBACK")

    base = lh.ref.read("base")
    rollup = lh.ref.read("rollup")
    from_base = base.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n2")
    )
    ok = (
        rollup.join(from_base, "o_orderstatus", "full_outer")
        .agg(
            F.min(F.col("n").eqNullSafe(F.col("n2"))).alias("consistent"),
            F.count(F.lit(1)).cast("bigint").alias("n_rollup"),
        )
    )
    return base.agg(F.count(F.lit(1)).cast("bigint").alias("n_base")).crossJoin(
        ok
    ).select("n_base", "n_rollup", "consistent")


@register(
    "sql_incremental_view_state",
    oracle="""
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS sum_cents
    FROM orders WHERE o_orderkey <= 4000 GROUP BY o_orderstatus
    """,
)
def sql_incremental_view_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The incremental-materialized-view tier driven entirely through SQL
    (lakeflow/sqlx.py): CREATE VERSIONED TABLE AS SELECT → CREATE
    INCREMENTAL VIEW (which must be queryable IMMEDIATELY — the ADVICE r5
    temp-view-at-create fix, asserted) → INSERT INTO VERSIONED → REFRESH
    INCREMENTAL VIEW. The refreshed state must hash-equal the plain
    aggregate over both batches — the manifest-diff fold is invisible to
    the reader."""
    import tempfile

    from lakeflow.sqlx import LakehouseSQL
    from lakeflow.tables import TableCatalog

    load_table(spark, sf_dir, "orders").createOrReplaceTempView("src_orders")
    lh = LakehouseSQL(
        spark, TableCatalog(spark, tempfile.mkdtemp(prefix="lakeflow_sqlmv_"))
    )
    lh.execute(
        "CREATE VERSIONED TABLE ord AS "
        "SELECT o_orderkey, o_orderstatus, o_totalprice FROM src_orders "
        "WHERE o_orderkey <= 2000"
    )
    lh.execute(
        "CREATE INCREMENTAL VIEW ord_mv AS "
        "SELECT o_orderstatus, COUNT(*) AS n_orders, "
        "SUM(o_totalprice) AS sum_cents FROM ord GROUP BY o_orderstatus"
    )
    # Queryable right after CREATE, no REFRESH needed (ADVICE r5 low #2),
    # and already consistent with the first batch.
    n_first = lh.execute(
        "SELECT CAST(sum(n_orders) AS BIGINT) AS t FROM ord_mv"
    ).first()["t"]
    n_src = spark.sql(
        "SELECT count(*) AS t FROM src_orders WHERE o_orderkey <= 2000"
    ).first()["t"]
    assert n_first == n_src, "MV must reflect the base at create time"
    lh.execute(
        "INSERT INTO VERSIONED ord "
        "SELECT o_orderkey, o_orderstatus, o_totalprice FROM src_orders "
        "WHERE o_orderkey BETWEEN 2001 AND 4000"
    )
    lh.execute("REFRESH INCREMENTAL VIEW ord_mv")
    return lh.execute(
        "SELECT o_orderstatus, n_orders, sum_cents FROM ord_mv"
    )


@register(
    "delete_where_roundtrip",
    oracle="""
    SELECT c_custkey, c_acctbal FROM customer
    WHERE c_custkey < 120 AND c_custkey NOT BETWEEN 35 AND 55
    """,
)
def delete_where_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level DELETE as copy-on-write (tables.py::delete_where — Delta's
    DELETE FROM): customer committed in four stats-tracked chunks, then one
    chunk's key range deleted. The stats hint proves three of four dirs
    carry over untouched (asserted), the deleted range is gone from the
    latest read (hash-checked), and the pre-delete snapshot stays
    time-travelable."""
    import tempfile

    from pyspark.sql import functions as FN

    from lakeflow.tables import VersionedTable

    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    t = VersionedTable(spark, tempfile.mkdtemp(prefix="lakeflow_delete_"))
    for lo in (0, 30, 60, 90):  # keys 0-119 exist at every fixture scale
        t.commit(
            cust.filter(
                (FN.col("c_custkey") >= lo) & (FN.col("c_custkey") < lo + 30)
            ),
            stats_cols=["c_custkey"],
        )
    before = set(t._manifest(4)["dirs"])
    v = t.delete_where(
        "c_custkey BETWEEN 35 AND 55",
        prune_between={"c_custkey": (35, 55)},
    )
    carried = set(t._manifest(v)["dirs"]) & before
    assert len(carried) == 3, "stats pruning must keep 3 of 4 dirs untouched"
    return t.read()


@register(
    "mv_orders_by_status",
    oracle="""
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS sum_cents
    FROM orders
    WHERE NOT (o_orderkey % 10 = 3
               AND o_orderkey <= (SELECT CAST(floor(max(o_orderkey) / 4) AS BIGINT)
                                  FROM orders))
    GROUP BY o_orderstatus
    """,
)
def mv_orders_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained materialized view (lakeflow/views.py — the
    DLT materialized-view contract the reference's gold layer recomputes
    from scratch per run): a per-status COUNT/SUM over a versioned orders
    table, refreshed from manifest diffs only.

    The base builds in four range-banded commits; the view's first refresh
    is the full build. An append plus a stats-pruned copy-on-write DELETE
    then churn part of the table, and the second refresh reads ONLY the
    diffed dirs (asserted below) — removed rows fold in with sign −1, added
    with +1 — landing on state bit-identical to a full rebuild, because
    per-row cents quantization makes the running sums addition-order-free.
    At 100 TB refresh IO prices the churn, never the base."""
    import tempfile

    from lakeflow.tables import VersionedTable
    from lakeflow.views import IncrementalAggView

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    max_key = orders.agg(F.max("o_orderkey")).collect()[0][0]
    band = max_key // 4 + 1

    t = VersionedTable(spark, tempfile.mkdtemp(prefix="lakeflow_mv_base_"))
    # Three initial range bands (disjoint o_orderkey stats per dir).
    for i in range(3):
        t.commit(
            orders.filter(
                (F.col("o_orderkey") >= i * band)
                & (F.col("o_orderkey") < (i + 1) * band)
            ),
            stats_cols=["o_orderkey"],
        )
    mv = IncrementalAggView(
        spark,
        t,
        keys=["o_orderstatus"],
        sums={"sum_cents": ("o_totalprice", 100)},
        path=tempfile.mkdtemp(prefix="lakeflow_mv_"),
        count_col="n_orders",
    )
    mv.refresh()  # full build of the 3-band base

    # Churn: one appended band + a stats-pruned delete inside band 0.
    t.commit(
        orders.filter(F.col("o_orderkey") >= 3 * band), stats_cols=["o_orderkey"]
    )
    hi = max_key // 4
    t.delete_where(
        f"o_orderkey % 10 = 3 AND o_orderkey <= {hi}",
        prune_between={"o_orderkey": (0, hi)},
    )
    r = mv.refresh()
    assert r["dirs_read"] < r["dirs_total"] + 2, "refresh read beyond the diff"
    assert r["dirs_read"] <= 3, (  # append dir + deleted band's old/new pair
        f"expected churn-priced refresh, read {r['dirs_read']} dirs"
    )
    return mv.read()


@register(
    "join_view_customer_orders",
    oracle="""
    SELECT c_custkey, c_mktsegment, c_acctbal, o_orderkey, o_totalprice,
           CAST(1 AS BIGINT) AS n
    FROM customer JOIN orders ON o_custkey = c_custkey
    WHERE c_acctbal >= 0.0 AND o_totalprice >= 1100.0
    """,
)
def join_view_customer_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained JOIN materialized view (lakeflow/views.py
    IncrementalJoinView — the delta-join of DBSP/Materialize, vs the
    reference's per-run gold recompute): customer ⋈ orders materialized as
    a Z-set, then churned by DML on BOTH bases — an appended orders band, a
    copy-on-write DELETE of negative-balance customers, and a merge-on-read
    DELETE of cheap orders (deletion vectors, no dir churn) — and refreshed
    via Δ(L⋈R) = ΔL⋈R_new ∪ L_old⋈ΔR with signs multiplying through the
    join. The assert pins that the refresh was the incremental path, not a
    rebuild; the oracle joins the raw tables under the equivalent final
    predicates, so a double-counted cross term, an unfolded DV pre-image,
    or a stale watermark each break the hash."""
    import tempfile

    from lakeflow.tables import VersionedTable
    from lakeflow.views import IncrementalJoinView

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    ords = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey"), "o_orderkey", "o_totalprice"
    )
    lt = VersionedTable(spark, tempfile.mkdtemp(prefix="lakeflow_mvj_l_"))
    rt = VersionedTable(spark, tempfile.mkdtemp(prefix="lakeflow_mvj_r_"))
    lt.commit(cust)
    rt.commit(ords.filter(F.col("o_orderkey") % 2 == 0), stats_cols=["c_custkey"])
    view = IncrementalJoinView(
        spark,
        lt,
        rt,
        on=["c_custkey"],
        path=tempfile.mkdtemp(prefix="lakeflow_mvj_") + "/state",
    )
    view.refresh()  # full build

    rt.commit(ords.filter(F.col("o_orderkey") % 2 == 1), stats_cols=["c_custkey"])
    lt.delete_where("c_acctbal < 0.0")
    rt.delete_where_mor("o_totalprice < 1100.0")
    view.refresh()
    op = view.result._manifest(view.result.current_version())["operation"]
    assert op == "mvj_refresh", f"expected incremental refresh, got {op}"
    return view.read()


@register(
    "stats_planned_broadcast_join",
    oracle="""
    SELECT c.c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(floor(o.o_totalprice * 100.0 + 0.5) AS BIGINT))
                AS BIGINT) AS revenue_cents
    FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
    WHERE c.c_custkey BETWEEN 1 AND 300
    GROUP BY c.c_mktsegment
    """,
)
def stats_planned_broadcast_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cost-based join planning from MANIFEST stats
    (joins.stats_planned_join): the dimension table is committed in three
    key bands with zone maps, the query prunes it to one band, and the
    planner sizes each side as its POST-PRUNING bytes — so the pruned dim
    broadcasts even though Spark's static autoBroadcastJoinThreshold,
    which sees the unpruned relation, would plan a sort-merge join. The
    asserts pin both the decision record and the physical plan
    (BroadcastHashJoin, no exchange of the fact side); the oracle is the
    equivalent fixture join, so a dropped band or a double-read dir breaks
    the hash."""
    import tempfile

    from lakeflow.operators.joins import stats_planned_join
    from lakeflow.tables import VersionedTable

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    ords = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey"), "o_totalprice"
    )
    dim = VersionedTable(spark, tempfile.mkdtemp(prefix="lakeflow_cbo_d_"))
    for lo, hi in ((0, 500), (500, 1000), (1000, 10**9)):
        dim.commit(
            cust.filter(
                (F.col("c_custkey") > lo) & (F.col("c_custkey") <= hi)
            ),
            stats_cols=["c_custkey"],
        )
    fact = VersionedTable(spark, tempfile.mkdtemp(prefix="lakeflow_cbo_f_"))
    fact.commit(ords)
    joined, decision = stats_planned_join(
        fact,
        dim,
        on=["c_custkey"],
        right_between={"c_custkey": (1, 300)},
    )
    assert decision["strategy"] == "broadcast", decision
    assert decision["broadcast_side"] == "right", decision
    assert decision["right_bytes"] < decision["left_bytes"], decision
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum(
            F.floor(F.col("o_totalprice") * 100.0 + F.lit(0.5)).cast("bigint")
        ).cast("bigint").alias("revenue_cents"),
    )


@register(
    "catalog_txn_consistent_read",
    oracle="""
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
                AS BIGINT) AS total_cents,
           true AS consistent
    FROM orders
    WHERE o_orderkey <= 4000
    GROUP BY o_orderstatus
    """,
)
def catalog_txn_consistent_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table ATOMIC transaction (lakeflow/txn.py — the Nessie catalog-
    commit model; the reference's bronze→silver→gold layers commit
    independently with no cross-table atomicity): a base table and its
    rollup publish together through single-file catalog commits, two epochs
    land cleanly, then a third transaction TEARS — base's snapshot is
    staged but the crash hits before the catalog commit point. Catalog
    readers must see epoch 2 for BOTH tables: the rollup re-derived from
    the catalog-pinned base must equal the catalog-pinned rollup
    (consistent=true per status), and the oracle's fixture aggregate pins
    both to exactly the two committed epochs — a torn base leaking through,
    or a stale rollup, breaks count, cents, or the boolean."""
    import tempfile

    from lakeflow.tables import TableCatalog
    from lakeflow.txn import CatalogRef

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    cents = F.floor(F.col("o_totalprice") * 100.0 + F.lit(0.5)).cast("bigint")

    def rollup_of(df: DataFrame) -> DataFrame:
        return df.groupBy("o_orderstatus").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum(cents).cast("bigint").alias("total_cents"),
        )

    ref = CatalogRef(
        spark, TableCatalog(spark, tempfile.mkdtemp(prefix="lakeflow_txn_"))
    )
    with ref.transaction("epoch 1") as txn:
        txn.write("base", orders.filter(F.col("o_orderkey") <= 2000))
        txn.write("rollup", rollup_of(txn.read("base")))
    with ref.transaction("epoch 2") as txn:
        txn.write(
            "base",
            orders.filter(
                (F.col("o_orderkey") > 2000) & (F.col("o_orderkey") <= 4000)
            ),
            mode="append",
        )
        txn.write("rollup", rollup_of(txn.read("base")), mode="overwrite")
    # Epoch 3 tears: base's snapshot lands, the crash hits before the
    # rollup write and the catalog commit point.
    torn = ref.transaction("epoch 3 (torn)")
    torn.write(
        "base", orders.filter(F.col("o_orderkey") > 4000), mode="append"
    )
    # no torn.commit() — the catalog never learns about epoch 3
    assert ref.current_commit() == 2

    base = ref.read("base")  # catalog-pinned: epoch 2, not the torn HEAD
    pinned = ref.read("rollup")
    rederived = rollup_of(base).withColumnsRenamed(
        {"n_orders": "rn", "total_cents": "rc"}
    )
    return pinned.join(rederived, "o_orderstatus", "full_outer").select(
        "o_orderstatus",
        "n_orders",
        "total_cents",
        (
            F.col("n_orders").eqNullSafe(F.col("rn"))
            & F.col("total_cents").eqNullSafe(F.col("rc"))
        ).alias("consistent"),
    )


@register(
    "catalog_fork_merge_state",
    oracle="""
    SELECT
        (SELECT CAST(count(*) AS BIGINT) FROM orders
         WHERE o_orderkey <= 3000) AS n_base,
        (SELECT CAST(count(*) AS BIGINT) FROM customer
         WHERE c_custkey <= 500) AS n_dim,
        CAST(3 AS BIGINT) AS merge_commit
    """,
)
def catalog_fork_merge_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Warehouse-level branching (txn.CatalogRef.fork/merge_from): the
    WHOLE catalog forks to a dev ref — every table at one consistent
    cross-table state, zero data copied — dev appends an orders band to
    the base table while main independently lands a customer dim, and the
    merge three-way-diffs against the recorded fork point and publishes
    dev's change as ONE atomic commit on main (disjoint tables, so no
    conflict). The oracle pins the merged base count (epoch 1 + dev's
    band), main's own dim count, and the merge commit number — a merge
    that drops main's concurrent table, replays the wrong band, or
    double-publishes breaks one of the three."""
    import tempfile

    from lakeflow.tables import TableCatalog
    from lakeflow.txn import CatalogRef

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    main = CatalogRef(
        spark, TableCatalog(spark, tempfile.mkdtemp(prefix="lakeflow_fork_"))
    )
    with main.transaction("epoch 1") as txn:
        txn.write("base", orders.filter(F.col("o_orderkey") <= 2000))
    dev = main.fork("dev")
    with dev.transaction("dev band") as txn:
        txn.write(
            "base",
            orders.filter(
                (F.col("o_orderkey") > 2000) & (F.col("o_orderkey") <= 3000)
            ),
            mode="append",
        )
    with main.transaction("main dim") as txn:
        txn.write("dim", cust.filter(F.col("c_custkey") <= 500))
    merge_commit = main.merge_from(dev)
    return (
        main.read("base")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_base"))
        .crossJoin(
            main.read("dim").agg(
                F.count(F.lit(1)).cast("bigint").alias("n_dim")
            )
        )
        .select(
            "n_base",
            "n_dim",
            F.lit(merge_commit).cast("bigint").alias("merge_commit"),
        )
    )


@register(
    "purge_subjects_state",
    oracle="""
    SELECT 'customer' AS table_name,
           (SELECT CAST(count(*) AS BIGINT) FROM customer) AS rows_before,
           (SELECT CAST(count(*) AS BIGINT) FROM customer
            WHERE c_custkey % 53 <> 0) AS rows_after,
           (SELECT CAST(count(*) AS BIGINT) FROM customer
            WHERE c_custkey % 53 = 0) AS purged_rows,
           CAST(0 AS BIGINT) AS remaining_subject_rows,
           true AS retained_on_disk_after_logical,
           true AS physically_gone,
           CAST(3 AS BIGINT) AS catalog_commits
    UNION ALL
    SELECT 'orders',
           (SELECT CAST(count(*) AS BIGINT) FROM orders),
           (SELECT CAST(count(*) AS BIGINT) FROM orders
            WHERE o_custkey % 53 <> 0),
           (SELECT CAST(count(*) AS BIGINT) FROM orders
            WHERE o_custkey % 53 = 0),
           CAST(0 AS BIGINT), true, true, CAST(3 AS BIGINT)
    """,
)
def purge_subjects_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten across the warehouse (txn.purge_subjects /
    materialize_purge) — the governance workflow an LLM training corpus
    needs for opt-out and erasure requests, and one the reference's
    independent per-layer writes cannot do atomically: a data subject's
    rows vanish from EVERY table in one catalog commit (half-applied
    erasure is a compliance failure), via merge-on-read deletion vectors
    (O(matching positions) at 100 TB, no file rewrites). The query then
    proves the part teams usually get wrong: after the logical phase the
    rows are invisible to readers but STILL IN STORAGE
    (retained_on_disk_after_logical, via scan_physical — the DV-bypassing
    audit scan), and only the materialize phase (rewrite through the
    vectors, one more catalog commit) makes them physically_gone. Counts
    before/after/purged are pinned per table by the oracle; remaining
    subject rows must be zero."""
    import tempfile

    from lakeflow.tables import TableCatalog
    from lakeflow.txn import CatalogRef

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    ref = CatalogRef(
        spark, TableCatalog(spark, tempfile.mkdtemp(prefix="lakeflow_purge_"))
    )
    with ref.transaction("ingest") as txn:
        txn.write("customer", cust)
        txn.write("orders", orders)
    conds = {
        "customer": "c_custkey % 53 = 0",
        "orders": "o_custkey % 53 = 0",
    }
    ref.purge_subjects(conds, "erasure request: subject custkeys % 53")

    # Captured BETWEEN phases: logically invisible, physically present.
    retained = {
        name: ref.catalog.load(name).scan_physical().filter(cond).count() > 0
        for name, cond in conds.items()
    }
    ref.materialize_purge(list(conds), "materialize erasure")
    n_commits = len(ref.commits())

    def report(name: str, cond: str) -> DataFrame:
        t = ref.catalog.load(name)
        head = ref.read(name)
        return (
            ref.read(name, commit=1)
            .agg(F.count(F.lit(1)).cast("bigint").alias("rows_before"))
            .crossJoin(
                head.agg(F.count(F.lit(1)).cast("bigint").alias("rows_after"))
            )
            .crossJoin(
                head.filter(cond).agg(
                    F.count(F.lit(1))
                    .cast("bigint")
                    .alias("remaining_subject_rows")
                )
            )
            .crossJoin(
                t.scan_physical()
                .filter(cond)
                .agg(F.count(F.lit(1)).alias("__phys"))
            )
            .select(
                F.lit(name).alias("table_name"),
                "rows_before",
                "rows_after",
                (F.col("rows_before") - F.col("rows_after")).alias(
                    "purged_rows"
                ),
                "remaining_subject_rows",
                F.lit(retained[name]).alias("retained_on_disk_after_logical"),
                (F.col("__phys") == 0).alias("physically_gone"),
                F.lit(n_commits).cast("bigint").alias("catalog_commits"),
            )
        )

    return report("customer", conds["customer"]).unionAll(
        report("orders", conds["orders"])
    )


@register(
    "sql_purge_subjects",
    oracle="""
    SELECT 'profiles' AS table_name,
           (SELECT CAST(count(*) AS BIGINT) FROM customer
            WHERE c_custkey % 53 <> 0) AS rows_after,
           CAST(0 AS BIGINT) AS remaining_subject_rows,
           true AS physically_gone
    UNION ALL
    SELECT 'activity',
           (SELECT CAST(count(*) AS BIGINT) FROM orders
            WHERE o_custkey % 53 <> 0),
           CAST(0 AS BIGINT), true
    """,
)
def sql_purge_subjects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The erasure workflow driven ENTIRELY through SQL (sqlx PURGE
    SUBJECTS over txn.purge_subjects): two tables keyed by a shared
    subject_id take one statement — logical cross-table erasure in a
    single catalog commit, MATERIALIZE running the physical rewrite in a
    second — and the result frame proves rows_after, zero remaining
    subject rows, and physical absence via the DV-bypassing scan. The SQL
    twin of `purge_subjects_state`, same contract as the reference's DML
    surface would need for compliance deletes."""
    import tempfile

    from lakeflow.sqlx import LakehouseSQL
    from lakeflow.tables import TableCatalog

    load_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "src_customer"
    )
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("src_orders")
    lh = LakehouseSQL(
        spark, TableCatalog(spark, tempfile.mkdtemp(prefix="lakeflow_sqpg_"))
    )
    lh.execute(
        "CREATE VERSIONED TABLE profiles AS "
        "SELECT c_custkey AS subject_id, c_acctbal FROM src_customer"
    )
    lh.execute(
        "CREATE VERSIONED TABLE activity AS "
        "SELECT o_custkey AS subject_id, o_orderkey, o_totalprice "
        "FROM src_orders"
    )
    lh.execute(
        "PURGE SUBJECTS FROM profiles, activity "
        "WHERE subject_id % 53 = 0 MATERIALIZE"
    )

    def report(name: str) -> DataFrame:
        head = lh.ref.read(name)
        phys = lh.catalog.load(name).scan_physical()
        return (
            head.agg(F.count(F.lit(1)).cast("bigint").alias("rows_after"))
            .crossJoin(
                head.filter("subject_id % 53 = 0").agg(
                    F.count(F.lit(1))
                    .cast("bigint")
                    .alias("remaining_subject_rows")
                )
            )
            .crossJoin(
                phys.filter("subject_id % 53 = 0").agg(
                    F.count(F.lit(1)).alias("__phys")
                )
            )
            .select(
                F.lit(name).alias("table_name"),
                "rows_after",
                "remaining_subject_rows",
                (F.col("__phys") == 0).alias("physically_gone"),
            )
        )

    return report("profiles").unionAll(report("activity"))


@register(
    "left_join_view_customer_orders",
    oracle="""
    SELECT c.c_custkey, c.c_mktsegment, c.c_acctbal,
           o.o_orderkey, o.o_totalprice, CAST(1 AS BIGINT) AS n
    FROM (SELECT c_custkey, c_mktsegment, c_acctbal FROM customer
          WHERE c_acctbal >= 0.0) c
    LEFT JOIN (SELECT o_custkey, o_orderkey, o_totalprice FROM orders
               WHERE o_totalprice >= 300000.0) o
      ON o.o_custkey = c.c_custkey
    """,
)
def left_join_view_customer_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained LEFT OUTER join view (views.py
    IncrementalLeftJoinView — the outer-join maintenance case naive Z-set
    deltas get wrong): customer ⟕ orders under churn on BOTH bases. The
    merge-on-read DELETE of cheap orders flips some customers from matched
    to unmatched — their null-extended rows must APPEAR — and the appended
    odd-orderkey half flips others back — theirs must RETRACT; both fall
    out of the three-part signed state (inner / left / right-key counts)
    with no retraction generation. The oracle computes the outer join of
    the equivalent final relations directly, so a stale null-extension or
    a lost multiplicity breaks the hash."""
    import tempfile

    from lakeflow.tables import VersionedTable
    from lakeflow.views import IncrementalLeftJoinView

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    ords = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey"), "o_orderkey", "o_totalprice"
    )
    lt = VersionedTable(spark, tempfile.mkdtemp(prefix="lakeflow_mvlj_l_"))
    rt = VersionedTable(spark, tempfile.mkdtemp(prefix="lakeflow_mvlj_r_"))
    lt.commit(cust)
    rt.commit(ords.filter(F.col("o_orderkey") % 2 == 0), stats_cols=["c_custkey"])
    view = IncrementalLeftJoinView(
        spark,
        lt,
        rt,
        on=["c_custkey"],
        path=tempfile.mkdtemp(prefix="lakeflow_mvlj_") + "/state",
    )
    view.refresh()

    rt.commit(ords.filter(F.col("o_orderkey") % 2 == 1), stats_cols=["c_custkey"])
    lt.delete_where("c_acctbal < 0.0")
    rt.delete_where_mor("o_totalprice < 300000.0")
    view.refresh()
    op = view.result._manifest(view.result.current_version())["operation"]
    assert op == "mvj_refresh", f"expected incremental refresh, got {op}"
    out = view.read()
    # The outer path must actually exercise: some customers flip to
    # unmatched under the MOR delete (29 at sf0.01) — an empty
    # null-extension set would be the verified-empty trap.
    assert out.filter(F.col("o_orderkey").isNull()).limit(1).count() == 1
    return out


@register(
    "mv_distinct_customers_by_status",
    oracle="""
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers
    FROM orders WHERE o_custkey % 10 <> 3
    GROUP BY o_orderstatus
    """,
)
def mv_distinct_customers_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact COUNT(DISTINCT) materialized view (views.py DirtyGroupAggView
    distincts tier): per-status distinct-customer counts maintained under
    churn — an appended half and a merge-on-read DELETE whose hidden rows
    may or may not carry a group's last copy of a customer, the case that
    makes distinct counting non-invertible and forces the dirty-group
    recompute. The refresh must land identical to aggregating the final
    base, which the oracle computes directly."""
    import tempfile

    from lakeflow.tables import VersionedTable
    from lakeflow.views import DirtyGroupAggView

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_custkey"
    )
    t = VersionedTable(spark, tempfile.mkdtemp(prefix="lakeflow_mvd_"))
    t.commit(orders.filter(F.col("o_orderkey") % 2 == 0))
    mv = DirtyGroupAggView(
        spark,
        t,
        key="o_orderstatus",
        path=tempfile.mkdtemp(prefix="lakeflow_mvd_state_"),
        count_col="n_orders",
        distincts={"n_customers": "o_custkey"},
    )
    mv.refresh()
    t.commit(orders.filter(F.col("o_orderkey") % 2 == 1))
    t.delete_where_mor("o_custkey % 10 = 3")
    mv.refresh()
    return mv.read()


@register(
    "table_integrity_report",
    oracle="""
    SELECT CAST(2 AS BIGINT) AS n_dirs,
           CAST(2 AS BIGINT) AS n_ok,
           CAST(SUM(CAST(('0x' || substr(md5(concat_ws(chr(31),
                coalesce(CAST(c_custkey AS VARCHAR), chr(0)),
                coalesce(c_mktsegment, chr(0)),
                coalesce(c_name, chr(0)))), 1, 14)) AS BIGINT)
                % 2147483647) % 2147483647 AS BIGINT) AS fp0,
           CAST(SUM(CAST(('0x' || substr(md5(concat_ws(chr(31),
                coalesce(CAST(c_custkey AS VARCHAR), chr(0)),
                coalesce(c_mktsegment, chr(0)),
                coalesce(c_name, chr(0)))), 1, 14)) AS BIGINT)
                % 2147483629) % 2147483629 AS BIGINT) AS fp1
    FROM customer
    """,
)
def table_integrity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-integrity audit under the full hash gate (tables.py::seal /
    verify_integrity — manifest-level checksums lifted to row content):
    customer lands in two commits, seal records per-dir order-free digests
    (sum of per-row md5 residues mod two primes — commutative, so a
    1000-executor recompute matches any seal), verify recomputes and must
    pass on pristine data. The emitted fingerprints are the SAME formula
    the DuckDB oracle computes directly over the raw table, so the digest
    definition itself is cross-engine-pinned — a rendering drift (null
    sentinel, column order, hex width) breaks the hash, not just a test."""
    import tempfile

    from lakeflow.tables import VersionedTable

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment"
    )
    t = VersionedTable(spark, tempfile.mkdtemp(prefix="lakeflow_seal_"))
    t.commit(cust.filter(F.col("c_custkey") % 2 == 0))
    t.commit(cust.filter(F.col("c_custkey") % 2 == 1))
    t.seal()
    rep = t.verify_integrity()
    summary = rep.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_dirs"),
        F.sum(F.col("ok").cast("bigint")).cast("bigint").alias("n_ok"),
    )
    fps = t.read().agg(
        *t._row_digest_aggs(sorted(["c_custkey", "c_name", "c_mktsegment"]))
    )
    return summary.crossJoin(fps)


@register(
    "clone_divergence_nations",
    oracle="""
    SELECT 'src' AS side, n_nationkey, n_name FROM nation
    UNION ALL
    SELECT 'clone', n_nationkey, n_name FROM nation
    WHERE n_regionkey <> 0
    """,
)
def clone_divergence_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shallow-clone semantics end-to-end (tables.py::clone_to — Delta's
    SHALLOW CLONE): the clone's first manifest references the source's data
    dirs with zero copies (asserted: the clone's own data root stays
    empty), a copy-on-write DELETE then diverges the clone, and both sides
    read back correctly — the cheap-fork workflow that lets a 100 TB table
    be experimented on without duplicating it."""
    import os
    import tempfile

    from lakeflow.tables import VersionedTable

    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    src = VersionedTable(spark, tempfile.mkdtemp(prefix="lakeflow_clone_src_"))
    src.commit(nation)
    clone = src.clone_to(tempfile.mkdtemp(prefix="lakeflow_clone_dst_") + "/t")
    assert os.listdir(os.path.join(clone.root, "data")) == [], (
        "shallow clone copied data"
    )
    clone.delete_where("n_regionkey = 0")
    a = src.read().select(F.lit("src").alias("side"), "n_nationkey", "n_name")
    b = clone.read().select(
        F.lit("clone").alias("side"), "n_nationkey", "n_name"
    )
    return a.unionByName(b)


@register(
    "scd2_temporal_enrich",
    oracle="""
    SELECT c.c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CASE
               WHEN c.c_custkey % 7 = 0
                    AND e.ts >= TIMESTAMP '2024-01-15 00:00:00'
               THEN CAST(floor(
                     (floor((c.c_acctbal + 100) * 100 + 0.5) / 100.0) * 100
                     + 0.5) AS BIGINT)
               ELSE CAST(floor(c.c_acctbal * 100 + 0.5) AS BIGINT)
           END) AS BIGINT) AS sum_bal_cents
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def scd2_temporal_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event temporal dimension join (the generalized form of
    scd2_asof_state's single-instant lookup): every event resolves the
    dimension VERSION VALID AT ITS OWN TIMESTAMP via the SCD2 validity
    interval — events before the T1 merge see the original attributes,
    events after see the updated ones, per row.

    Plan shape: the equality (user_id = c_custkey) is the join key — the
    dimension history broadcasts and the validity-interval predicate rides
    as a join filter, so the fact table never shuffles and there is no
    interval-explosion. At 100 TB the same plan holds with the SCD2
    history as the (still dimension-sized) broadcast side; only if history
    outgrows broadcast does this degrade to a range-bucketed sort-merge.
    The oracle replays the expected bal-at-event-time arithmetic directly
    against the raw tables."""
    t0e, t1e = "2024-01-01 00:00:00", "2024-01-15 00:00:00"
    c = load_table(spark, sf_dir, "customer").select(_NATURAL)
    target = (
        c.withColumn("start_timestamp", F.lit(t0e).cast("timestamp"))
        .withColumn("end_timestamp", F.lit(None).cast("timestamp"))
        .withColumn("is_current", F.lit(1).cast("int"))
    )
    state = scd2_apply(
        target,
        _source_batch(c),
        keys=["c_custkey"],
        tracked=["c_acctbal", "c_mktsegment"],
        effective_ts=t1e,
    )
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    j = ev.join(
        F.broadcast(state),
        (ev["user_id"] == state["c_custkey"])
        & (state["start_timestamp"] <= ev["ts"])
        & (state["end_timestamp"].isNull() | (state["end_timestamp"] > ev["ts"])),
    )
    return j.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum(F.floor(F.col("c_acctbal") * 100 + 0.5).cast("bigint"))
        .cast("bigint")
        .alias("sum_bal_cents"),
    )


@register(
    "mv_price_extrema_by_status",
    oracle="""
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(min(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS min_cents,
           CAST(max(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS max_cents
    FROM orders
    WHERE NOT (o_orderstatus = 'F' AND o_totalprice > 400000)
    GROUP BY o_orderstatus
    """,
)
def mv_price_extrema_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The recompute-on-change MV tier (lakeflow/views.py DirtyGroupAggView)
    for non-invertible MIN/MAX: per-status price extrema over a versioned
    orders table committed in status-banded dirs with key stats. A
    copy-on-write DELETE then removes status-F's high-price rows — the
    extremum-delete a signed fold cannot invert — and the refresh
    re-aggregates ONLY the dirty status, opening just its band (asserted),
    while the other statuses carry over verbatim. The oracle recomputes the
    final extrema from the raw table."""
    import tempfile

    from lakeflow.tables import VersionedTable
    from lakeflow.views import DirtyGroupAggView

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderstatus", "o_totalprice"
    )
    statuses = [r[0] for r in orders.select("o_orderstatus").distinct().collect()]
    t = VersionedTable(spark, tempfile.mkdtemp(prefix="lakeflow_mvx_base_"))
    for s in sorted(statuses):
        t.commit(
            orders.filter(F.col("o_orderstatus") == s),
            stats_cols=["o_orderstatus"],
        )
    mv = DirtyGroupAggView(
        spark,
        t,
        key="o_orderstatus",
        path=tempfile.mkdtemp(prefix="lakeflow_mvx_"),
        count_col="n_orders",
        mins={"min_cents": ("o_totalprice", 100)},
        maxs={"max_cents": ("o_totalprice", 100)},
    )
    mv.refresh()
    t.delete_where(
        "o_orderstatus = 'F' AND o_totalprice > 400000",
        prune_between={"o_orderstatus": ("F", "F")},
    )
    r = mv.refresh()
    assert r["dirty_groups"] == 1, r
    # removed old F-band + rewritten F-band + stats-pruned re-read of the
    # new F-band only: the other statuses' dirs are never opened.
    assert r["dirs_read"] <= 3 and r["dirs_total"] == len(statuses), r
    return mv.read()


@register(
    "partition_evolution_scan",
    oracle="""
    SELECT c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_cust,
           CAST(sum(CAST(floor(c_acctbal * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
               AS acctbal_cents
    FROM customer GROUP BY c_mktsegment
    """,
)
def partition_evolution_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-spec evolution (Iceberg-style, metadata-only): the customer
    table lands in THREE commits with three different layouts — flat, hive
    on c_mktsegment, hive on c_nationkey — and the manifest's per-dir
    layout record lets one read group dirs by layout and union by name.
    The aggregate must equal the source table exactly (integer cents so the
    sum is order-free), proving no row is lost, doubled, or re-homed across
    layout eras."""
    import tempfile

    from lakeflow.tables import VersionedTable

    cust = load_table(spark, sf_dir, "customer")
    t = VersionedTable(spark, tempfile.mkdtemp(prefix="lakeflow_pevo_"))
    t.commit(cust.filter(F.col("c_custkey") % 3 == 0))
    t.commit(
        cust.filter(F.col("c_custkey") % 3 == 1),
        partition_by=["c_mktsegment"],
    )
    t.commit(
        cust.filter(F.col("c_custkey") % 3 == 2),
        partition_by=["c_nationkey"],
    )
    return t.read().groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cust"),
        F.sum(
            F.floor(F.col("c_acctbal") * 100.0 + F.lit(0.5)).cast("bigint")
        )
        .cast("bigint")
        .alias("acctbal_cents"),
    )


@register(
    "mor_delete_state",
    oracle="""
    SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
               AS total_cents
    FROM orders
    WHERE o_orderkey <= 5000 AND NOT (o_orderkey % 7 = 0)
    GROUP BY o_orderstatus
    """,
)
def mor_delete_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read DELETE end to end: an orders slice lands in a
    VersionedTable, every 7th key is deleted via a DELETION VECTOR (no data
    file rewritten — the manifest's dirs are unchanged and reads
    broadcast-anti-join the position list), and the surviving state
    aggregates against an oracle over the source minus the predicate. The
    exact integer-cents sum means a single row leaking through — or over-
    deleted — breaks the hash, pinning both the vector write and the
    scan-side anti-join."""
    import tempfile

    from lakeflow.tables import VersionedTable

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    t = VersionedTable(spark, tempfile.mkdtemp(prefix="lakeflow_mor_"))
    t.commit(orders.filter(F.col("o_orderkey") <= 5000).repartition(4))
    dirs_before = t._manifest(t.current_version())["dirs"]
    t.delete_where_mor("o_orderkey % 7 = 0")
    assert t._manifest(t.current_version())["dirs"] == dirs_before
    return t.read().groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum(
            F.floor(F.col("o_totalprice") * 100.0 + F.lit(0.5)).cast("bigint")
        )
        .cast("bigint")
        .alias("total_cents"),
    )


@register(
    "mor_upsert_state",
    oracle="""
    WITH base AS (
        SELECT c_custkey, c_name, c_acctbal FROM customer
        WHERE c_custkey <= 800
    ),
    upd AS (
        SELECT c_custkey, c_name,
               (floor((c_acctbal + 1000.0) * 100.0 + 0.5) / 100.0) AS c_acctbal
        FROM customer WHERE c_custkey <= 200
    )
    SELECT b.c_custkey, b.c_name,
           (floor(coalesce(u.c_acctbal, b.c_acctbal) * 100.0 + 0.5) / 100.0)
               AS c_acctbal
    FROM base b LEFT JOIN upd u USING (c_custkey, c_name)
    """,
)
def mor_upsert_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read UPSERT end to end (the Hudi MOR write path): a customer
    slice lands, then an update batch for the first 200 keys folds in via
    upsert_mor — ONE snapshot adds a deletion vector (broadcast key
    semi-join hides the stale row versions) plus the batch dir, with no
    candidate-file rewrite (asserted on the manifest). The oracle computes
    the same upsert as a left join over the source, so a stale version
    leaking through the anti-join — or a fresh row lost — breaks the
    hash."""
    import tempfile

    from lakeflow.functions.rounding import rnd
    from lakeflow.tables import VersionedTable

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", rnd("c_acctbal", 2).alias("c_acctbal")
    )
    t = VersionedTable(spark, tempfile.mkdtemp(prefix="lakeflow_morup_"))
    t.commit(cust.filter(F.col("c_custkey") <= 800).repartition(4))
    dirs_before = t._manifest(t.current_version())["dirs"]
    batch = cust.filter(F.col("c_custkey") <= 200).select(
        "c_custkey",
        "c_name",
        rnd(F.col("c_acctbal") + 1000.0, 2).alias("c_acctbal"),
    )
    t.upsert_mor(batch, keys=["c_custkey", "c_name"])
    m = t._manifest(t.current_version())
    assert m["dirs"][: len(dirs_before)] == dirs_before
    return t.read().select(
        "c_custkey", "c_name", rnd("c_acctbal", 2).alias("c_acctbal")
    )


@register(
    "sql_namespaced_layers",
    oracle="""
    SELECT substr(CAST(o_orderdate AS VARCHAR), 1, 7) AS order_month,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS revenue_cents
    FROM orders
    WHERE o_orderkey <= 3000 AND o_orderstatus = 'F'
    GROUP BY 1
    """,
)
def sql_namespaced_layers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's schema-qualified medallion layering
    (docker/init/lakehouse_init.sql — CREATE SCHEMA bronze/silver/gold,
    tables addressed as ``silver.processed_company``) driven entirely
    through lakeflow's SQL surface: CREATE SCHEMA ×3, CTAS into
    ``bronze.orders``, a cleaned CTAS into ``silver.orders`` that SELECTs
    FROM the dotted bronze name, a gold CTAS aggregating the dotted silver
    name, and a final SELECT from ``gold.monthly_revenue``. SHOW TABLES IN
    silver is asserted en route, and a FLAT table named ``orders`` is
    created too — the dot-aware binder must never confuse it with
    ``bronze.orders``/``silver.orders`` (longest-first alias rewrite,
    sqlx.py). Revenue sums exact integer cents on both sides so parallel
    summation cannot flip the hash."""
    import tempfile

    from lakeflow.sqlx import LakehouseSQL
    from lakeflow.tables import TableCatalog

    load_table(spark, sf_dir, "orders").createOrReplaceTempView("src_orders")
    lh = LakehouseSQL(
        spark, TableCatalog(spark, tempfile.mkdtemp(prefix="lakeflow_ns_"))
    )
    for s in ("bronze", "silver", "gold"):
        lh.execute(f"CREATE SCHEMA IF NOT EXISTS {s}")
    lh.execute(
        "CREATE VERSIONED TABLE bronze.orders AS "
        "SELECT o_orderkey, o_orderstatus, o_totalprice, "
        "CAST(o_orderdate AS STRING) AS o_orderdate "
        "FROM src_orders WHERE o_orderkey <= 3000"
    )
    # A flat decoy with the same leaf name: must stay distinct from the
    # qualified tables through every statement below.
    lh.execute(
        "CREATE VERSIONED TABLE orders AS "
        "SELECT CAST(-1 AS BIGINT) AS o_orderkey FROM range(1)"
    )
    lh.execute(
        "CREATE VERSIONED TABLE silver.orders AS "
        "SELECT o_orderkey, o_orderstatus, "
        "substr(o_orderdate, 1, 7) AS order_month, "
        "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS price_cents "
        "FROM bronze.orders"
    )
    lh.execute(
        "CREATE VERSIONED TABLE gold.monthly_revenue AS "
        "SELECT order_month, CAST(count(*) AS BIGINT) AS n_orders, "
        "CAST(sum(price_cents) AS BIGINT) AS revenue_cents "
        "FROM silver.orders WHERE o_orderstatus = 'F' "
        "GROUP BY order_month"
    )
    shown = [
        r.table_name for r in lh.execute("SHOW TABLES IN silver").collect()
    ]
    assert shown == ["silver.orders"], shown
    return lh.execute(
        "SELECT order_month, n_orders, revenue_cents FROM gold.monthly_revenue"
    )


@register(
    "delta_export_roundtrip",
    oracle="""
    SELECT c_custkey, c_acctbal FROM customer WHERE c_custkey <= 100
    """,
)
def delta_export_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real-table-format interop at the FORMAT level (formats.py::
    export_delta / read_delta_log — the public delta.io PROTOCOL.md, the
    jar-free answer to the reference's Iceberg runtime at
    docker/spark/conf/spark-defaults.conf:8-12): a two-commit
    VersionedTable history exports as a Delta transaction log, and the
    INDEPENDENT log-replay reader (which never touches lakeflow manifests)
    time-travels to delta commit 0 — which must hash-equal the plain
    pre-insert SELECT. A wrong add/remove fold, path mapping, or schema
    rendering anywhere in the log breaks the hash."""
    import tempfile

    from lakeflow.formats import export_delta, read_delta_log
    from lakeflow.tables import VersionedTable

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal"
    )
    t = VersionedTable(spark, tempfile.mkdtemp(prefix="lakeflow_dexp_"))
    t.commit(cust.filter(F.col("c_custkey") <= 100).repartition(2))
    t.commit(
        cust.filter(
            (F.col("c_custkey") > 100) & (F.col("c_custkey") <= 150)
        ),
        mode="append",
    )
    out = tempfile.mkdtemp(prefix="lakeflow_dlog_")
    n = export_delta(t, out)
    assert n == 2, n
    # latest must carry both commits; the RETURNED frame is commit 0
    assert read_delta_log(spark, out).count() == t.read().count()
    return read_delta_log(spark, out, version=0)


@register(
    "renamed_column_scan",
    oracle="""
    SELECT c_custkey,
           (floor(c_acctbal * 100 + 0.5) / 100) AS balance
    FROM customer WHERE c_custkey <= 200
    """,
)
def renamed_column_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALTER TABLE RENAME COLUMN as metadata-only column mapping
    (tables.py::rename_column — the Delta column-mapping / Iceberg rename
    contract): commit a slice under the old name, rename through the SQL
    surface, append a second slice under the NEW name, and scan — the read
    must coalesce both physical epochs into one logical column with no
    file rewritten. The oracle aliases the source column, so a row from
    either epoch binding to the wrong (or a NULL) physical column breaks
    the hash."""
    import tempfile

    from lakeflow.sqlx import LakehouseSQL
    from lakeflow.tables import TableCatalog

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", rnd("c_acctbal", 2).alias("c_acctbal")
    )
    cat = TableCatalog(spark, tempfile.mkdtemp(prefix="lakeflow_ren_"))
    t = cat.create("cust_ren", cust.filter(F.col("c_custkey") <= 100))
    lh = LakehouseSQL(spark, cat)
    out = lh.execute("ALTER TABLE cust_ren RENAME COLUMN c_acctbal TO balance")
    assert out["renamed_column"] == "c_acctbal->balance"
    t.commit(
        cust.filter(
            (F.col("c_custkey") > 100) & (F.col("c_custkey") <= 200)
        ).withColumnRenamed("c_acctbal", "balance"),
        mode="append",
    )
    return t.read().select("c_custkey", "balance")


@register(
    "generated_ingest_parts",
    oracle="""
    SELECT CAST(substr(CAST(o_orderdate AS VARCHAR), 1, 4) AS INT)
               AS ingest_year,
           substr(CAST(o_orderdate AS VARCHAR), 1, 7) AS ingest_month,
           CAST(count(*) AS BIGINT) AS n_orders
    FROM orders WHERE o_orderkey <= 5000
    GROUP BY 1, 2
    """,
)
def generated_ingest_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GENERATED columns end-to-end (tables.py::set_generated — the
    reference's materialized ingest_year/ingest_month bronze columns,
    src/bronze ingestion + SURVEY §1.3, as Delta GENERATED ALWAYS AS):
    declare the derivations through SQL, append a batch that OMITS both
    columns (they must derive), partition the second batch by the
    generated year, and aggregate by the generated parts — the oracle
    derives the same parts from the raw source, so a wrong or missing
    derivation in any batch breaks the hash."""
    import tempfile

    from lakeflow.sqlx import LakehouseSQL
    from lakeflow.tables import TableCatalog

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_orderdate").cast("string").alias("o_orderdate")
    )
    cat = TableCatalog(spark, tempfile.mkdtemp(prefix="lakeflow_gen_"))
    t = cat.create("ord_gen", orders.filter(F.col("o_orderkey") <= 2500))
    lh = LakehouseSQL(spark, cat)
    lh.execute(
        "ALTER TABLE ord_gen ADD GENERATED COLUMN ingest_year int "
        "AS (CAST(substr(o_orderdate, 1, 4) AS INT))"
    )
    lh.execute(
        "ALTER TABLE ord_gen ADD GENERATED COLUMN ingest_month string "
        "AS (substr(o_orderdate, 1, 7))"
    )
    # batch 2 omits both generated columns AND lands partitioned by the
    # derived year — the lakehouse-native layout the reference gets from
    # its materialized ingest columns.
    t.commit(
        orders.filter(
            (F.col("o_orderkey") > 2500) & (F.col("o_orderkey") <= 5000)
        ),
        mode="append",
        partition_by=["ingest_year"],
    )
    # batch 1 predates the declaration: backfill its NULLs via
    # copy-on-write UPDATE through the same derivation, then aggregate.
    t.update_where(
        "ingest_year IS NULL",
        {
            "ingest_year": "CAST(substr(o_orderdate, 1, 4) AS INT)",
            "ingest_month": "substr(o_orderdate, 1, 7)",
        },
    )
    return (
        t.read()
        .groupBy("ingest_year", "ingest_month")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_orders"))
    )


@register(
    "stream_delta_log_appends",
    oracle="""
    SELECT c_custkey, c_acctbal FROM customer WHERE c_custkey <= 150
    """,
)
def stream_delta_log_appends(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming a Delta transaction log end-to-end
    (sources/delta_stream.py — the jar-free
    ``readStream.format("delta")``): a two-commit VersionedTable history
    exports to a `_delta_log` (formats.py::export_delta) and the custom
    Python DataSource streams it availableNow — driver parses commit
    JSONs only, executors pyarrow-read one added file per split. The
    emitted union of both commits must hash-equal the plain source
    SELECT, so a dropped file, a double-read, or a mis-bound column in
    either commit breaks the hash."""
    import tempfile

    from lakeflow.formats import export_delta
    from lakeflow.sources.delta_stream import register_delta_log_source
    from lakeflow.streaming.sinks import run_to_memory
    from lakeflow.tables import VersionedTable

    register_delta_log_source(spark)
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal"
    )
    t = VersionedTable(spark, tempfile.mkdtemp(prefix="lakeflow_dls_"))
    t.commit(cust.filter(F.col("c_custkey") <= 100).repartition(2))
    t.commit(
        cust.filter(
            (F.col("c_custkey") > 100) & (F.col("c_custkey") <= 150)
        ),
        mode="append",
    )
    out = tempfile.mkdtemp(prefix="lakeflow_dlslog_")
    assert export_delta(t, out) == 2
    stream = (
        spark.readStream.format("lakeflow_delta_log")
        .option("path", out)
        .load()
    )
    name, _ = run_to_memory(stream)
    return spark.table(name)


@register(
    "table_schema_changes",
    oracle="""
    SELECT * FROM (VALUES
        (CAST(1 AS INT), 'add',    'k',          'bigint'),
        (CAST(1 AS INT), 'add',    'v',          'double'),
        (CAST(2 AS INT), 'add',    'w',          'string'),
        (CAST(3 AS INT), 'rename', 'v->amount',  'double'),
        (CAST(4 AS INT), 'drop',   'w',          'string'),
        (CAST(5 AS INT), 'add',    'g',          'int')
    ) AS t(version, change, "column", dtype)
    """,
)
def table_schema_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution audit log (tables.py::schema_changes — the
    ``DESCRIBE HISTORY``-for-schemas metadata table): a create, an ADD
    COLUMN, a RENAME (must report as ONE rename via the alias metadata,
    never a drop+add), a DROP, and a GENERATED declaration produce a
    deterministic change log, value-checked row by row."""
    import tempfile

    from lakeflow.tables import VersionedTable

    t = VersionedTable(spark, tempfile.mkdtemp(prefix="lakeflow_schlog_"))
    t.commit(spark.range(3).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v"))
    t.add_column("w", "string")
    t.rename_column("v", "amount")
    t.drop_column("w")
    t.set_generated("g", "int", "CAST(k % 7 AS INT)")
    return t.schema_changes()


@register(
    "snapshot_expiry_state",
    oracle="""
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS total_cents
    FROM orders
    WHERE o_orderkey <= 5000 AND o_orderkey % 5 <> 0
    GROUP BY o_orderstatus
    """,
)
def snapshot_expiry_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot expiry (Iceberg expire_snapshots / Delta VACUUM) end to
    end: three snapshots accumulate (initial load, append, copy-on-write
    DELETE), then all but the head are expired — the superseded manifests
    are dropped and every data dir only they referenced is physically
    deleted. The query asserts the retention contract (exactly one
    surviving version, both old versions expired, at least one
    now-unreferenced dir actually gone from disk) and then aggregates the
    surviving state, so the oracle breaks if expiry removes a dir the
    head still references — integer-cents sums would lose rows — or the
    DELETE's rewrite leaked deleted keys. At 100 TB expiry is the GC that
    bounds storage: manifest-driven, proportional to the number of dirs,
    never a table scan."""
    import os
    import tempfile

    from lakeflow.tables import VersionedTable

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    t = VersionedTable(spark, tempfile.mkdtemp(prefix="lakeflow_expire_"))
    t.commit(orders.filter(F.col("o_orderkey") <= 3000).repartition(2))
    t.commit(
        orders.filter(
            (F.col("o_orderkey") > 3000) & (F.col("o_orderkey") <= 5000)
        ).repartition(2)
    )
    old_dirs = set(t._manifest(t.current_version())["dirs"])
    t.delete_where("o_orderkey % 5 = 0")
    expired = t.expire_snapshots(keep_last=1)
    assert expired == [1, 2], expired
    assert len(t.versions()) == 1
    dead = old_dirs - set(t._manifest(t.current_version())["dirs"])
    assert dead and all(not os.path.isdir(d) for d in dead)
    return t.read().groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum(
            F.floor(F.col("o_totalprice") * 100.0 + F.lit(0.5)).cast("bigint")
        )
        .cast("bigint")
        .alias("total_cents"),
    )
