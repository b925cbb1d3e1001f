"""Lakehouse SQL surface (lakeflow.sqlx): DDL, time travel, maintenance."""

from __future__ import annotations

import pytest

from lakeflow.sqlx import LakehouseSQL
from lakeflow.tables import TableCatalog


@pytest.fixture()
def lh(spark, tmp_path):
    return LakehouseSQL(spark, TableCatalog(spark, str(tmp_path / "wh")))


def test_create_insert_select_roundtrip(lh, spark):
    lh.execute("CREATE VERSIONED TABLE dim AS SELECT id FROM range(5)")
    r = lh.execute("INSERT INTO VERSIONED dim SELECT id FROM range(100, 103)")
    assert r["version"] == 2
    got = lh.execute("SELECT count(*) AS n FROM dim").first()["n"]
    assert got == 8


def test_time_travel_select(lh):
    lh.execute("CREATE VERSIONED TABLE t AS SELECT id FROM range(5)")
    lh.execute("INSERT INTO VERSIONED t SELECT id FROM range(100, 103)")
    v1 = lh.execute("SELECT count(*) AS n FROM t FOR VERSION AS OF 1").first()
    latest = lh.execute("SELECT count(*) AS n FROM t").first()
    assert (v1["n"], latest["n"]) == (5, 8)
    # both versions of the same table in ONE statement
    diff = lh.execute(
        "SELECT (SELECT count(*) FROM t) - "
        "(SELECT count(*) FROM t FOR VERSION AS OF 1) AS added"
    ).first()
    assert diff["added"] == 3


def test_describe_history_and_rollback(lh):
    lh.execute("CREATE VERSIONED TABLE t AS SELECT id FROM range(3)")
    lh.execute("INSERT INTO VERSIONED t SELECT id FROM range(10, 12)")
    hist = lh.execute("DESCRIBE HISTORY t")
    assert [r["version"] for r in hist.orderBy("version").collect()] == [1, 2]
    r = lh.execute("ROLLBACK TABLE t TO VERSION 1")
    assert r["new_version"] == 3
    assert lh.execute("SELECT count(*) AS n FROM t").first()["n"] == 3


def test_optimize_and_vacuum(lh, spark):
    lh.execute("CREATE VERSIONED TABLE t AS SELECT id FROM range(3)")
    for i in range(4):
        lh.execute(
            f"INSERT INTO VERSIONED t SELECT id FROM range({10 * i}, {10 * i + 1})"
        )
    r = lh.execute("OPTIMIZE t")
    assert r["compacted"] is True
    r = lh.execute("VACUUM t RETAIN 1 SNAPSHOTS")
    assert len(r["expired"]) >= 4
    assert lh.execute("SELECT count(*) AS n FROM t").first()["n"] == 7


def test_non_lakehouse_sql_falls_through(lh):
    got = lh.execute("SELECT 1 + 1 AS two").first()["two"]
    assert got == 2


def test_apply_changes_statement(lh, spark):
    """APPLY CHANGES INTO folds an ordered upsert+delete feed through SQL:
    latest sequence wins per key, the delete op removes its key, and the
    no-OPS form treats every row as an upsert."""
    lh.execute("CREATE VERSIONED TABLE s AS SELECT 1 AS k, 'a' AS val")
    spark.createDataFrame(
        [(1, 2, "U", "a2"), (1, 1, "U", "a1"), (2, 1, "U", "b"), (2, 2, "D", "b")],
        "k int, seq int, op string, val string",
    ).createOrReplaceTempView("feed")
    r = lh.execute(
        "APPLY CHANGES INTO s FROM feed KEYS (k) SEQUENCE BY seq "
        "OPS op DELETE WHEN 'D'"
    )
    assert r["applied_into"] == "s"
    got = {(r["k"], r["val"]) for r in lh.execute("SELECT k, val FROM s").collect()}
    assert got == {(1, "a2")}  # k=1 latest upsert wins, k=2 deleted

    # no-OPS form: plain keyed upserts from an inline SELECT
    lh.execute(
        "APPLY CHANGES INTO s FROM "
        "(SELECT 3 AS k, 1 AS seq, 'c' AS val) KEYS (k) SEQUENCE BY seq"
    )
    got = {(r["k"], r["val"]) for r in lh.execute("SELECT k, val FROM s").collect()}
    assert got == {(1, "a2"), (3, "c")}


def test_insert_overwrite_and_partitioned_create(lh, spark):
    lh.execute(
        "CREATE VERSIONED TABLE p PARTITIONED BY (b) AS "
        "SELECT id, id % 2 AS b FROM range(6)"
    )
    # partitioned layout: reading with a partition filter prunes
    got = lh.execute("SELECT count(*) AS n FROM p WHERE b = 1").first()["n"]
    assert got == 3
    r = lh.execute("INSERT OVERWRITE VERSIONED p SELECT id, id % 2 AS b FROM range(2)")
    assert r["mode"] == "overwrite"
    assert lh.execute("SELECT count(*) AS n FROM p").first()["n"] == 2
    # prior snapshot still time-travelable
    assert lh.execute("SELECT count(*) AS n FROM p FOR VERSION AS OF 1").first()["n"] == 6


def test_timestamp_time_travel_sql(lh):
    import datetime

    lh.execute("CREATE VERSIONED TABLE tt AS SELECT id FROM range(4)")
    ts = datetime.datetime.now(datetime.timezone.utc).isoformat()
    lh.execute("INSERT INTO VERSIONED tt SELECT id FROM range(100, 102)")
    n_then = lh.execute(
        f"SELECT count(*) AS n FROM tt FOR TIMESTAMP AS OF '{ts}'"
    ).first()["n"]
    n_now = lh.execute("SELECT count(*) AS n FROM tt").first()["n"]
    assert (n_then, n_now) == (4, 6)


def test_merge_into_upsert_star(lh, spark):
    """MERGE INTO ... UPDATE SET * / INSERT *: source rows replace matching
    target rows wholesale, new keys insert — the reference's SCD1 merge as
    one SQL statement."""
    lh.execute(
        "CREATE VERSIONED TABLE m AS "
        "SELECT id AS k, 'old' AS val FROM range(3)"
    )
    spark.createDataFrame(
        [(1, "new"), (9, "ins")], "k bigint, val string"
    ).createOrReplaceTempView("m_src")
    r = lh.execute(
        "MERGE INTO VERSIONED m USING m_src ON m.k = s.k "
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
    )
    assert r["keys"] == ["k"]
    got = {(r["k"], r["val"]) for r in lh.execute("SELECT * FROM m").collect()}
    assert got == {(0, "old"), (1, "new"), (2, "old"), (9, "ins")}

    import pytest

    with pytest.raises(ValueError, match="key equalities"):
        lh.execute(
            "MERGE INTO VERSIONED m USING m_src ON m.k = s.other "
            "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
        )


def test_shallow_clone_statement(lh):
    lh.execute("CREATE VERSIONED TABLE src AS SELECT id FROM range(5)")
    lh.execute("INSERT INTO VERSIONED src SELECT id FROM range(100, 103)")
    r = lh.execute("CREATE VERSIONED TABLE fork SHALLOW CLONE src FOR VERSION AS OF 1")
    assert r == {"cloned": "fork", "from": "src", "at_version": 1}
    # The fork sees only v1's rows; diverging it leaves src untouched.
    assert lh.execute("SELECT count(*) AS n FROM fork").first()["n"] == 5
    lh.execute("INSERT INTO VERSIONED fork SELECT id FROM range(1000, 1002)")
    assert lh.execute("SELECT count(*) AS n FROM fork").first()["n"] == 7
    assert lh.execute("SELECT count(*) AS n FROM src").first()["n"] == 8


def test_incremental_view_statements(lh):
    lh.execute(
        "CREATE VERSIONED TABLE sales AS "
        "SELECT id % 3 AS k, CAST(id AS DOUBLE) AS v FROM range(6)"
    )
    r = lh.execute(
        "CREATE INCREMENTAL VIEW sales_by_k AS "
        "SELECT k, COUNT(*) AS n, SUM(v) AS sv FROM sales GROUP BY k"
    )
    assert r["created_view"] == "sales_by_k" and r["dirs_read"] == 1
    # Queryable immediately after CREATE — no REFRESH needed first
    # (ADVICE r5 low: create must register the temp view too).
    assert (
        lh.execute("SELECT count(*) AS n FROM sales_by_k").first()["n"] == 3
    )

    lh.execute(
        "INSERT INTO VERSIONED sales "
        "SELECT CAST(0 AS BIGINT) AS k, CAST(10.5 AS DOUBLE) AS v"
    )
    r2 = lh.execute("REFRESH INCREMENTAL VIEW sales_by_k")
    # Incremental: only the appended dir is read.
    assert r2["dirs_read"] == 1 and r2["dirs_total"] == 2
    got = {
        (row.k, row.n, row.sv)
        for row in lh.execute("SELECT * FROM sales_by_k").collect()
    }
    # cents scale default: ids 0+3 (+10.5) / 1+4 / 2+5
    assert got == {(0, 3, 1350), (1, 2, 500), (2, 2, 700)}


def test_incremental_view_rejects_non_invertible_aggs(lh):
    lh.execute("CREATE VERSIONED TABLE tt AS SELECT id AS k, id AS v FROM range(3)")
    with pytest.raises(ValueError, match="dirty-group"):
        lh.execute(
            "CREATE INCREMENTAL VIEW bad AS "
            "SELECT k, COUNT(*) AS n, MAX(v) AS m FROM tt GROUP BY k"
        )


def test_mor_dml_sql_routing(lh, spark):
    """DELETE/UPDATE ... USING MERGE ON READ route to the deletion-vector
    paths: the manifest gains a vector and no data dir is removed."""
    spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 30.0)], "k long, v double"
    ).createOrReplaceTempView("morsrc")
    lh.execute("CREATE VERSIONED TABLE mort AS SELECT * FROM morsrc")
    t = lh.catalog.load("mort")
    dirs = t._manifest(t.current_version())["dirs"]

    out = lh.execute("DELETE FROM VERSIONED mort WHERE k = 1 USING MERGE ON READ")
    assert out["mor"] is True
    m = t._manifest(t.current_version())
    assert m["dirs"] == dirs and len(m["delete_vectors"]) == 1

    out = lh.execute(
        "UPDATE VERSIONED mort SET v = v + 1 WHERE k = 2 USING MERGE ON READ"
    )
    assert out["mor"] is True
    got = {r.k: r.v for r in t.read().collect()}
    assert got == {2: 21.0, 3: 30.0}

    # plain forms still take the copy-on-write path
    out = lh.execute("DELETE FROM VERSIONED mort WHERE k = 3")
    assert out["mor"] is False
    assert {r.k for r in t.read().collect()} == {2}


def test_merge_into_mor_suffix(lh, spark):
    """MERGE INTO ... USING MERGE ON READ lands as one deletion vector plus
    one appended dir instead of a state rewrite, with identical upsert
    semantics."""
    spark.createDataFrame(
        [(1, "a"), (2, "b")], "k long, v string"
    ).createOrReplaceTempView("mm_base")
    lh.execute("CREATE VERSIONED TABLE mmt AS SELECT * FROM mm_base")
    t = lh.catalog.load("mmt")
    dirs = t._manifest(t.current_version())["dirs"]

    spark.createDataFrame(
        [(2, "B"), (3, "c")], "k long, v string"
    ).createOrReplaceTempView("mm_feed")
    out = lh.execute(
        "MERGE INTO VERSIONED mmt USING mm_feed ON mmt.k = mm_feed.k "
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT * "
        "USING MERGE ON READ"
    )
    assert out["mor"] is True and out["keys"] == ["k"]
    m = t._manifest(t.current_version())
    assert m["dirs"][: len(dirs)] == dirs and len(m["delete_vectors"]) == 1
    assert {(r.k, r.v) for r in t.read().collect()} == {
        (1, "a"), (2, "B"), (3, "c"),
    }


def test_namespaced_tables_and_schemas(lh, spark):
    """Reference parity (docker/init/lakehouse_init.sql): schema-qualified
    table names drive the whole statement surface — CTAS, INSERT, SELECT
    (incl. time travel), DESCRIBE, MOR DML — and flat names with the same
    leaf coexist untouched."""
    lh.execute("CREATE SCHEMA ns_silver")
    lh.execute("CREATE SCHEMA IF NOT EXISTS ns_silver")  # idempotent
    lh.execute(
        "CREATE VERSIONED TABLE ns_silver.co AS "
        "SELECT id AS k, CAST(id * 2 AS BIGINT) AS v FROM range(5)"
    )
    lh.execute(
        "INSERT INTO VERSIONED ns_silver.co SELECT id AS k, id AS v "
        "FROM range(5, 8)"
    )
    assert lh.execute("SELECT count(*) AS n FROM ns_silver.co").first()["n"] == 8
    assert (
        lh.execute("SELECT k FROM ns_silver.co FOR VERSION AS OF 1").count()
        == 5
    )
    assert lh.execute("DESCRIBE HISTORY ns_silver.co").count() == 2
    r = lh.execute(
        "DELETE FROM VERSIONED ns_silver.co WHERE k = 1 USING MERGE ON READ"
    )
    assert r["mor"] is True
    assert lh.execute("SELECT count(*) AS n FROM ns_silver.co").first()["n"] == 7

    # A flat table with the same LEAF name is a different table.
    lh.execute("CREATE VERSIONED TABLE co AS SELECT 99 AS k, 0 AS v FROM range(1)")
    assert lh.execute("SELECT max(k) AS mk FROM co").first()["mk"] == 99
    assert lh.execute("SELECT count(*) AS n FROM ns_silver.co").first()["n"] == 7

    assert [
        r.table_name
        for r in lh.execute("SHOW TABLES IN ns_silver").collect()
    ] == ["ns_silver.co"]
    assert "ns_silver" in {
        r.schema_name for r in lh.execute("SHOW SCHEMAS").collect()
    }


def test_describe_schema_history(lh, spark):
    lh.execute(
        "CREATE VERSIONED TABLE sh AS SELECT id AS k, id * 1.0 AS v FROM range(3)"
    )
    lh.execute("ALTER TABLE sh ADD COLUMN w string")
    lh.execute("ALTER TABLE sh RENAME COLUMN v TO amount")
    rows = [
        (r.version, r.change, r["column"])
        for r in lh.execute("DESCRIBE SCHEMA HISTORY sh")
        .orderBy("version", "column")
        .collect()
    ]
    assert rows == [
        (1, "add", "k"),
        (1, "add", "v"),
        (2, "add", "w"),
        (3, "rename", "v->amount"),
    ]


def test_governance_policy_sql_routes(lh):
    lh.execute(
        "CREATE VERSIONED TABLE c AS "
        "SELECT id, concat('1-555-000-', lpad(CAST(id AS STRING), 4, '0')) "
        "AS phone, CAST(id * 10 - 15 AS DOUBLE) AS bal FROM range(4)"
    )
    r = lh.execute(
        "ALTER TABLE c SET MASK ON phone AS "
        "(concat(repeat('*', length(phone) - 4), "
        "substr(phone, length(phone) - 3, 4)))"
    )
    assert r["set_mask"] == "phone"
    r = lh.execute("ALTER TABLE c SET ROW FILTER solvent AS (bal >= 0)")
    assert r["set_row_filter"] == "solvent"

    pol = lh.execute("DESCRIBE POLICY c")
    kinds = {(p["kind"], p["name"]) for p in pol.collect()}
    assert kinds == {("mask", "phone"), ("row_filter", "solvent")}

    t = lh.catalog.load("c")
    gov = {r["id"]: r for r in t.read_governed().collect()}
    assert set(gov) == {2, 3}                      # bal -15, -5 filtered
    assert gov[2]["phone"] == "**********0002"
    # SELECT (the SQL read path) binds the OWNER snapshot — unmasked.
    assert lh.execute("SELECT count(*) AS n FROM c").first()["n"] == 4

    lh.execute("ALTER TABLE c DROP ROW FILTER solvent")
    lh.execute("ALTER TABLE c DROP MASK ON phone")
    assert lh.execute("DESCRIBE POLICY c").count() == 0
    assert t.read_governed().count() == 4


def test_tag_sql_routes_and_time_travel(lh):
    lh.execute("CREATE VERSIONED TABLE t AS SELECT id FROM range(3)")
    lh.execute("INSERT INTO VERSIONED t SELECT id FROM range(10, 12)")
    r = lh.execute("ALTER TABLE t CREATE TAG baseline AS OF VERSION 1")
    assert r["created_tag"] == "baseline"
    n = lh.execute(
        "SELECT count(*) AS n FROM t FOR VERSION AS OF 'baseline'"
    ).first()["n"]
    assert n == 3
    assert lh.execute("SELECT count(*) AS n FROM t").first()["n"] == 5
    r = lh.execute("ALTER TABLE t DROP TAG baseline")
    assert r["dropped_tag"] == "baseline"
    import pytest

    with pytest.raises(ValueError, match="no such tag"):
        lh.execute("SELECT count(*) AS n FROM t FOR VERSION AS OF 'baseline'")


def test_branch_sql_routes(lh):
    lh.execute("CREATE VERSIONED TABLE t AS SELECT id FROM range(3)")
    r = lh.execute("ALTER TABLE t CREATE BRANCH stage")
    assert r["created_branch"] == "stage"

    # Branch writes go through the Python handle; SQL reads its head.
    from lakeflow import catalog as _c  # noqa: F401

    b = lh.catalog.load("t").branch("stage")
    b.commit(b.spark.range(10, 14).toDF("id"))
    n = lh.execute(
        "SELECT count(*) AS n FROM t FOR VERSION AS OF 'stage'"
    ).first()["n"]
    assert n == 7
    assert lh.execute("SELECT count(*) AS n FROM t").first()["n"] == 3

    r = lh.execute("ALTER TABLE t FAST FORWARD BRANCH stage")
    assert r["fast_forwarded"] == "stage"
    assert lh.execute("SELECT count(*) AS n FROM t").first()["n"] == 7

    r = lh.execute("ALTER TABLE t DROP BRANCH stage")
    assert r["dropped_branch"] == "stage"
    import pytest

    with pytest.raises(ValueError, match="no such tag"):
        lh.execute("SELECT count(*) AS n FROM t FOR VERSION AS OF 'stage'")


def test_incremental_join_view_statements(lh):
    """CREATE INCREMENTAL JOIN VIEW materializes l JOIN r as a Z-set and
    REFRESH INCREMENTAL VIEW folds DML on either base through the
    delta-join — same statement surface as the agg tier."""
    lh.execute(
        "CREATE VERSIONED TABLE jl AS "
        "SELECT id AS k, CAST(id * 10 AS BIGINT) AS a FROM range(3)"
    )
    lh.execute(
        "CREATE VERSIONED TABLE jr AS "
        "SELECT id % 3 AS k, CAST(id AS BIGINT) AS b FROM range(6)"
    )
    r = lh.execute(
        "CREATE INCREMENTAL JOIN VIEW jlr AS "
        "SELECT * FROM jl JOIN jr USING (k)"
    )
    assert r["created_view"] == "jlr"
    # Queryable immediately; every jl key joins 2 jr rows.
    assert lh.execute("SELECT count(*) AS n FROM jlr").first()["n"] == 6

    lh.execute("DELETE FROM VERSIONED jl WHERE k = 1")
    lh.execute(
        "INSERT INTO VERSIONED jr "
        "SELECT CAST(0 AS BIGINT) AS k, CAST(99 AS BIGINT) AS b"
    )
    r2 = lh.execute("REFRESH INCREMENTAL VIEW jlr")
    assert r2["refreshed_view"] == "jlr"
    got = {
        (row.k, row.a, row.b, row.n)
        for row in lh.execute("SELECT * FROM jlr").collect()
    }
    assert got == {
        (0, 0, 0, 1), (0, 0, 3, 1), (0, 0, 99, 1),
        (2, 20, 2, 1), (2, 20, 5, 1),
    }


def test_seal_and_verify_statements(lh):
    lh.execute("CREATE VERSIONED TABLE sv AS SELECT id AS k FROM range(9)")
    r = lh.execute("SEAL TABLE sv")
    assert r["sealed"] == "sv" and r["version"] == 2
    rep = lh.execute("VERIFY TABLE sv").collect()
    assert len(rep) == 1 and all(row.ok for row in rep)


def test_incremental_left_join_view_statement(lh):
    """CREATE INCREMENTAL LEFT JOIN VIEW: unmatched left keys appear
    null-extended and a right-side DELETE re-emits a null extension on
    REFRESH."""
    lh.execute(
        "CREATE VERSIONED TABLE ljl AS "
        "SELECT id AS k, CAST(id * 10 AS BIGINT) AS a FROM range(3)"
    )
    lh.execute(
        "CREATE VERSIONED TABLE ljr AS "
        "SELECT CAST(0 AS BIGINT) AS k, CAST(100 AS BIGINT) AS b"
    )
    lh.execute(
        "CREATE INCREMENTAL LEFT JOIN VIEW ljv AS "
        "SELECT * FROM ljl LEFT JOIN ljr USING (k)"
    )
    got = {
        (row.k, row.a, row.b)
        for row in lh.execute("SELECT k, a, b FROM ljv").collect()
    }
    assert got == {(0, 0, 100), (1, 10, None), (2, 20, None)}

    lh.execute("DELETE FROM VERSIONED ljr WHERE k = 0")
    lh.execute("REFRESH INCREMENTAL VIEW ljv")
    got = {
        (row.k, row.a, row.b)
        for row in lh.execute("SELECT k, a, b FROM ljv").collect()
    }
    assert got == {(0, 0, None), (1, 10, None), (2, 20, None)}


def test_sql_transaction_commits_atomically(lh):
    lh.execute("BEGIN TRANSACTION 'seed'")
    lh.execute("CREATE VERSIONED TABLE base AS SELECT id FROM range(4)")
    lh.execute(
        "CREATE VERSIONED TABLE agg AS "
        "SELECT count(*) AS n FROM (SELECT id FROM range(4))"
    )
    # Before COMMIT the catalog log knows nothing.
    assert lh.execute("DESCRIBE CATALOG LOG").count() == 0
    r = lh.execute("COMMIT")
    assert r["catalog_commit"] == 1
    assert set(r["tables"]) == {"base", "agg"}
    assert lh.ref.read("base").count() == 4
    assert lh.ref.read("agg").first()["n"] == 4


def test_sql_transaction_rollback_discards_staging(lh):
    lh.execute("BEGIN TRANSACTION")
    lh.execute("CREATE VERSIONED TABLE t AS SELECT id FROM range(3)")
    r = lh.execute("ROLLBACK")
    assert r["rolled_back"] == ["t"]
    assert lh.execute("DESCRIBE CATALOG LOG").count() == 0
    with pytest.raises(ValueError, match="not visible"):
        lh.ref.read("t")


def test_sql_transaction_stages_dml_and_inserts(lh):
    lh.execute("BEGIN TRANSACTION")
    lh.execute("CREATE VERSIONED TABLE t AS SELECT id FROM range(6)")
    lh.execute("COMMIT")
    lh.execute("BEGIN TRANSACTION 'churn'")
    lh.execute("INSERT INTO VERSIONED t SELECT id FROM range(100, 102)")
    lh.execute("DELETE FROM VERSIONED t WHERE id >= 4 AND id < 6")
    # Catalog still pins the pre-transaction version.
    assert lh.ref.read("t").count() == 6
    lh.execute("COMMIT")
    assert lh.ref.read("t").count() == 6 - 2 + 2
    log = lh.execute("DESCRIBE CATALOG LOG")
    assert [r["message"] for r in log.orderBy("commit").collect()] == [
        None, "churn",
    ]


def test_sql_transaction_guards(lh):
    with pytest.raises(ValueError, match="without an active"):
        lh.execute("COMMIT")
    with pytest.raises(ValueError, match="without an active"):
        lh.execute("ROLLBACK")
    lh.execute("BEGIN TRANSACTION")
    with pytest.raises(ValueError, match="already active"):
        lh.execute("BEGIN TRANSACTION")
    lh.execute("ROLLBACK")
    # Bare ROLLBACK must not shadow table-level restore.
    lh.execute("CREATE VERSIONED TABLE t AS SELECT id FROM range(3)")
    lh.execute("INSERT INTO VERSIONED t SELECT id FROM range(10, 12)")
    assert lh.execute("ROLLBACK TABLE t TO VERSION 1")["new_version"] == 3


def test_purge_subjects_statement(lh):
    lh.execute("CREATE VERSIONED TABLE users AS SELECT id, id * 10 AS v FROM range(5)")
    lh.execute(
        "CREATE VERSIONED TABLE events AS "
        "SELECT id % 5 AS id, id AS ev FROM range(20)"
    )
    r = lh.execute("PURGE SUBJECTS FROM users, events WHERE id = 3")
    assert r["tables"] == ["users", "events"]
    assert lh.execute("SELECT count(*) AS n FROM users WHERE id = 3").first()["n"] == 0
    assert lh.execute("SELECT count(*) AS n FROM events WHERE id = 3").first()["n"] == 0
    # Logical phase only: still on disk under the deletion vectors.
    assert lh.catalog.load("users").scan_physical().filter("id = 3").count() == 1

    r2 = lh.execute(
        "PURGE SUBJECTS FROM users, events WHERE id = 1 MATERIALIZE EXPIRE HISTORY"
    )
    assert r2["materialize_commit"] > r2["purge_commit"]
    for t in ("users", "events"):
        phys = lh.catalog.load(t).scan_physical()
        assert phys.filter("id = 1").count() == 0
        assert phys.filter("id = 3").count() == 0  # earlier purge materialized too
    assert lh.catalog.load("users").versions() == [
        lh.catalog.load("users").current_version()
    ]


def test_purge_subjects_rejects_open_transaction(lh):
    lh.execute("CREATE VERSIONED TABLE t AS SELECT id FROM range(3)")
    lh.execute("BEGIN TRANSACTION")
    with pytest.raises(ValueError, match="manages its own transaction"):
        lh.execute("PURGE SUBJECTS FROM t WHERE id = 1")
    lh.execute("ROLLBACK")


def test_analyze_ndv_statement(lh):
    lh.execute(
        "CREATE VERSIONED TABLE t AS SELECT id, id % 40 AS cat FROM range(500)"
    )
    r = lh.execute("ANALYZE TABLE t COMPUTE NDV (id, cat) WITH K 64")
    assert r["k"] == 64
    assert r["estimates"]["cat"] == 40.0  # below k: exact
    assert 300 < r["estimates"]["id"] < 800  # sketched
    # Stats are metadata: a reload answers without scanning.
    assert lh.catalog.load("t").ndv_stats("cat")["estimate"] == 40.0
