"""Golden manifests for every VersionedTable mutation path.

One scripted table runs through every manifest-producing operation in a
fixed order; each operation's new manifests are compared with
``tests/golden/commit_manifests.json`` after normalisation:

- data and deletion-vector dirs are renamed by first appearance
  (``D0``, ``D1``, ... / ``V0``, ...), keeping any ``col=value`` suffix,
  so uuids do not matter but which dir each key points at does;
- ``committed_at`` is dropped;
- table roots in operation names become ``<main>`` / ``<clone>``;
- at comparison, a key whose value is an empty map or list counts as
  absent: every reader treats the two alike, and whether a commit spells
  out an empty block is not part of the format.

Each operation also runs under its own Spark job group, and the number of
jobs it launched may not exceed the recorded count.

Regenerate the golden file (only from code whose manifests are known to
be right) with::

    LAKEFLOW_REGEN_GOLDEN=1 python -m pytest tests/test_commit_golden.py
"""

from __future__ import annotations

import datetime
import json
import os
import re

import pytest

from lakeflow.quality import Expectation
from lakeflow.sources.table_source import register_table_source
from lakeflow.tables import VersionedTable

GOLDEN = os.path.join(os.path.dirname(__file__), "golden", "commit_manifests.json")
_SCHEMA = "id int, name string, amount double, ts timestamp"
_T0 = datetime.datetime(2024, 1, 1)
_NOTE = "CAST(NULL AS STRING) AS note"


def _rows(spark, lo: int, hi: int, extra: bool = True):
    data = [
        (i, f"n{i % 5}", float(i) * 1.5, _T0 + datetime.timedelta(hours=5 * i))
        for i in range(lo, hi)
    ]
    df = spark.createDataFrame(data, _SCHEMA).coalesce(1)
    return df.selectExpr("*", "CAST(id % 3 AS INT) AS extra") if extra else df


def _script(spark, t: VersionedTable, clone_root: str):
    """(op name, thunk) in execution order; thunks may return extra facts
    to record next to the manifests (e.g. expired version lists)."""
    handles = {"main": t}

    def clone():
        handles["clone"] = t.clone_to(clone_root)

    def branch_ops():
        b = t.create_branch("dev")
        handles["branch"] = b
        b.commit(_rows(spark, 300, 305).selectExpr("*", _NOTE))
        b.delete_where_mor("id = 301")

    def datasource_write():
        cur = t.read()
        df = spark.createDataFrame(
            [(400 + i, f"n{i}", 1.0 * i, _T0, i % 3, None) for i in range(4)],
            cur.schema,
        )
        df.coalesce(1).write.format("lakeflow_table").option("path", t.root).mode(
            "append"
        ).save()

    return handles, [
        ("append", lambda: t.commit(_rows(spark, 0, 20, extra=False))),
        (
            "append_txn",
            lambda: t.commit(_rows(spark, 20, 30, extra=False), txn=("app", 1)),
        ),
        # One large dir so the incremental compaction below has a dir
        # well above its threshold to carry over.
        ("overwrite", lambda: t.commit(_rows(spark, 0, 3000, extra=False), mode="overwrite")),
        ("merge_schema", lambda: t.commit(_rows(spark, 3000, 3010), merge_schema=True)),
        (
            "partition_transforms",
            lambda: t.commit(_rows(spark, 3010, 3020), partition_by=["bucket(2, id)"]),
        ),
        (
            "bloom_stats",
            lambda: t.commit(
                _rows(spark, 3020, 3040),
                stats_cols=["id", "amount"],
                bloom_cols=["id"],
                bloom_bits=256,
                txn=[("app", 2), ("other", 7)],
            ),
        ),
        (
            "commit_audited",
            lambda: t.commit_audited(
                _rows(spark, 3040, 3050),
                [Expectation("pos", "id >= 0", "fail")],
                stats_cols=["id"],
                bloom_cols=["id"],
            ),
        ),
        # Replace-partitions cannot re-read transform-partitioned dirs
        # next to flat ones, so fold them first.
        ("compact_before_replace", lambda: t.compact()),
        (
            "replace_partitions",
            lambda: t.commit_replace_partitions(
                _rows(spark, 3050, 3060).filter("name IN ('n0', 'n1')"), "name"
            ),
        ),
        (
            "replace_partitions_again",
            lambda: t.commit_replace_partitions(
                _rows(spark, 3060, 3070).filter("name = 'n2'"),
                "name",
                touched_values=["n0"],
            ),
        ),
        (
            "partition_transforms_again",
            lambda: t.commit(
                _rows(spark, 3070, 3080), partition_by=["bucket(2, id)"], stats_cols=["id"]
            ),
        ),
        ("delete_where", lambda: t.delete_where("id % 10 = 3", prune_between={"id": (3000, 3100)})),
        (
            "update_where",
            lambda: t.update_where(
                "id % 10 = 4", {"amount": "amount + 1"}, prune_between={"id": (3000, 3100)}
            ),
        ),
        ("delete_where_mor", lambda: t.delete_where_mor("id % 10 = 5")),
        ("delete_where_mor_nomatch", lambda: t.delete_where_mor("id < 0")),
        ("update_where_mor", lambda: t.update_where_mor("id % 10 = 6", {"amount": "amount * 2"})),
        ("upsert_mor", lambda: t.upsert_mor(_rows(spark, 3065, 3075), ["id"])),
        ("compact_small", lambda: t.compact(small_dir_max_bytes=20_000)),
        ("compact_full", lambda: t.compact()),
        ("optimize_zorder", lambda: t.optimize_zorder(["id", "amount"], n_dirs=4)),
        ("delete_where_mor_zorder", lambda: t.delete_where_mor("id % 10 = 7")),
        ("rollback", lambda: t.rollback(t.current_version() - 3)),
        ("clone_to", clone),
        ("add_column", lambda: t.add_column("note", "string")),
        ("rename_column", lambda: t.rename_column("note", "memo")),
        ("drop_column", lambda: t.drop_column("memo")),
        ("add_column_again", lambda: t.add_column("note", "string")),
        ("set_generated", lambda: t.set_generated("id2", "bigint", "CAST(id * 2 AS BIGINT)")),
        ("add_constraint", lambda: t.add_constraint("nonneg", "id >= 0")),
        (
            "append_generated",
            lambda: t.commit(_rows(spark, 5000, 5005).selectExpr("*", _NOTE)),
        ),
        ("drop_generated", lambda: t.drop_column("id2")),
        ("drop_constraint", lambda: t.drop_constraint("nonneg")),
        ("set_mask", lambda: t.set_column_mask("name", "concat('x', name)")),
        ("set_row_filter", lambda: t.set_row_filter("f", "id > 0")),
        ("drop_mask", lambda: t.drop_column_mask("name")),
        ("drop_row_filter", lambda: t.drop_row_filter("f")),
        ("create_tag", lambda: t.create_tag("rel", t.current_version() - 2)),
        ("create_tag_2", lambda: t.create_tag("tmp")),
        ("drop_tag", lambda: t.drop_tag("tmp")),
        ("branch", branch_ops),
        ("fast_forward", lambda: t.fast_forward("dev")),
        ("analyze", lambda: t.analyze(["amount", "extra"])),
        ("analyze_ndv", lambda: t.analyze_ndv(["id", "name"], k=16)),
        (
            "append_after_ndv",
            lambda: t.commit(_rows(spark, 6000, 6003).selectExpr("*", _NOTE)),
        ),
        ("seal", lambda: t.seal()),
        ("expire_snapshots", lambda: {"expired": t.expire_snapshots(keep_last=4)}),
        ("datasource_write", datasource_write),
    ]


class _Namer:
    """Renames data/dv dirs by first appearance, keeping any suffix."""

    def __init__(self, roots: dict[str, str]) -> None:
        self.roots = roots
        self.names: dict[str, str] = {}
        alt = "|".join(re.escape(r) for r in roots.values())
        self.dir_re = re.compile(rf"(?:{alt})/(data|dv)/((?:w-)?[0-9a-f]{{32}})")

    def _sub(self, m: re.Match) -> str:
        key = m.group(0)
        if key not in self.names:
            prefix = "D" if m.group(1) == "data" else "V"
            n = sum(v.startswith(prefix) for v in self.names.values())
            self.names[key] = f"{prefix}{n}"
        return self.names[key]

    def text(self, s: str) -> str:
        s = self.dir_re.sub(self._sub, s)
        for label, root in self.roots.items():
            s = s.replace(root, f"<{label}>")
        return s

    def walk(self, o):
        if isinstance(o, dict):
            return {self.text(k): self.walk(v) for k, v in o.items()}
        if isinstance(o, list):
            return [self.walk(v) for v in o]
        if isinstance(o, str):
            return self.text(o)
        return o

    def manifest(self, m: dict) -> dict:
        m = {k: v for k, v in m.items() if k != "committed_at"}
        # Name the dirs in list order first, so dict key order (which the
        # JSON format does not fix) cannot change which dir gets which name.
        for d in m.get("dirs", []) + m.get("delete_vectors", []):
            self.text(d)
        return self.walk(m)


def _drop_empty(manifest: dict) -> dict:
    return {k: v for k, v in manifest.items() if v not in ({}, [])}


def _run(spark, tmp_path) -> dict:
    register_table_source(spark)
    root = os.path.abspath(str(tmp_path / "golden_main"))
    clone_root = os.path.abspath(str(tmp_path / "golden_clone"))
    t = VersionedTable(spark, root)
    handles, script = _script(spark, t, clone_root)
    namer = _Namer({"main": root, "clone": clone_root})
    seen: dict[str, set[int]] = {}
    sc = spark.sparkContext
    out = {}
    for i, (name, thunk) in enumerate(script):
        group = f"golden-{i:02d}-{name}"
        sc.setJobGroup(group, group)
        try:
            facts = thunk()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        rec = {"jobs": len(sc.statusTracker().getJobIdsForGroup(group))}
        if isinstance(facts, dict):
            rec["facts"] = facts
        for label, h in handles.items():
            done = seen.setdefault(label, set())
            new = [v for v in h.versions() if v not in done]
            done.update(new)
            if new:
                rec[label] = {str(v): namer.manifest(h._manifest(v)) for v in new}
        out[name] = rec
    return out


def test_every_mutation_path_matches_golden_manifests(spark, tmp_path):
    got = _run(spark, tmp_path)
    if os.environ.get("LAKEFLOW_REGEN_GOLDEN") == "1":
        os.makedirs(os.path.dirname(GOLDEN), exist_ok=True)
        with open(GOLDEN, "w") as fh:
            json.dump(got, fh, indent=1, sort_keys=True)
            fh.write("\n")
        pytest.skip("golden manifests regenerated")
    with open(GOLDEN) as fh:
        want = json.load(fh)
    assert set(got) == set(want)
    diffs = []
    for op, g in got.items():
        rec = want[op]
        for label in ("main", "clone", "branch"):
            gm, wm = g.get(label, {}), rec.get(label, {})
            for v in sorted(set(gm) | set(wm), key=int):
                a, b = _drop_empty(gm.get(v, {})), _drop_empty(wm.get(v, {}))
                keys = sorted(k for k in set(a) | set(b) if a.get(k) != b.get(k))
                if keys or (v in gm) != (v in wm):
                    diffs.append(f"{op}: {label} v{v} differs in {keys}")
        if g.get("facts") != rec.get("facts"):
            diffs.append(f"{op}: {g.get('facts')} != {rec.get('facts')}")
        if g["jobs"] > rec["jobs"]:
            diffs.append(f"{op}: {g['jobs']} Spark jobs > {rec['jobs']}")
    assert not diffs, "\n".join(diffs)
