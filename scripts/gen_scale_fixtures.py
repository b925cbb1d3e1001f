#!/usr/bin/env python
"""Generate a larger-SF fixture set for SCALING measurements (VERDICT r13
ask #7: at sf0.1 every 8c/32c ratio is <= 1.07 — the ~600k-row fixtures sit
below the parallel break-even of a 32-way local exchange, so NOTHING at the
driver's bench scale can demonstrate parallel speedup).

This derives sf<mult*0.1> deterministically from the READ-ONLY sf0.1
fixtures by key-shifted replication, with the two corpora whose workloads
are similarity-shaped regenerated per replica so a replica is NOT a
near-duplicate of the original (plain row replication would multiply
in-bucket pair counts quadratically and misrepresent the scaling shape):

* region/nation — copied (fixed-cardinality dimensions).
* customer/supplier/part/orders/lineitem/events — replica r shifts every
  key by r * 10_000_000 consistently across foreign keys. Names keep the
  original digits plus a per-replica 3-letter code (codes pairwise
  levenshtein-3 apart), so cross-replica names are NEVER within the lev-2
  fuzzy-match threshold and pair counts scale LINEARLY with the corpus —
  a digit-aligned key offset would put every replica within 1-2 edits of
  the original and blow the pair count quadratically (measured: 50 s +
  broadcast OOM at mult=10 before this fix).
* documents — replica r>0 re-permutes each doc's words by a deterministic
  per-(replica, doc, position) hash, keeping vocabulary/length/lang/source
  marginals while destroying cross-replica shingle identity.
* embeddings — replica r>0 draws fresh hash-derived ~N(0, 0.15) vectors
  (sum of four xxhash64 uniforms), keeping the magnitude profile without
  cross-replica near-duplicate inflation.

Not oracle-facing: the output feeds `bench.py --queries` for the committed
8-vs-32-core scaling table only (plans/r14/). The source fixture dir is only
read.

Usage: python scripts/gen_scale_fixtures.py --src SF01_DIR [--mult 10]
[--out /tmp/lakeflow_sf1]. ``--mult`` is at most 27: replica codes run
``aaa`` .. ``zzz``.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

KEY_OFF = 10_000_000


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--src", required=True, help="sf0.1 fixture dir to replicate")
    ap.add_argument("--mult", type=int, default=10)
    ap.add_argument("--out", default="/tmp/lakeflow_sf1")
    args = ap.parse_args()
    if not 1 <= args.mult <= 27:
        ap.error("--mult must be in 1..27 (replica codes run aaa..zzz)")
    mult, out = args.mult, args.out

    from pyspark.sql import functions as F

    from lakeflow.session import get_session

    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count())
    spark = get_session(
        "lakeflow-gen-fixtures",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
    )
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(out, exist_ok=True)

    def src(t):
        return spark.read.parquet(f"{args.src}/{t}.parquet")

    def reps(df):
        """Cross with replica index 0..mult-1 (replica 0 == the original)."""
        r = spark.range(mult).select(F.col("id").cast("int").alias("__r"))
        return df.crossJoin(r)

    def shift(col, r="__r"):
        return (F.col(col) + F.col(r).cast("bigint") * KEY_OFF).alias(col)

    def write(df, t, parts=None):
        w = df.repartition(parts) if parts else df
        w.write.mode("overwrite").parquet(f"{out}/{t}.parquet")
        print(f"  {t}: {spark.read.parquet(f'{out}/{t}.parquet').count()} rows")

    for t in ("region", "nation"):
        write(src(t), t, parts=1)

    # 3-letter replica codes, pairwise lev-3 apart; '' for replica 0 so
    # the original rows pass through byte-identical.
    codes = F.array(
        *[F.lit("" if r == 0 else chr(ord("a") + r - 1) * 3) for r in range(mult)]
    )
    rcode = F.get(codes, F.col("__r"))

    write(
        reps(src("customer")).select(
            shift("c_custkey"),
            F.concat(
                F.lit("Customer#"),
                rcode,
                F.format_string("%09d", F.col("c_custkey")),
            ).alias("c_name"),
            "c_nationkey",
            "c_acctbal",
            "c_mktsegment",
        ),
        "customer",
    )
    write(
        reps(src("supplier")).select(
            shift("s_suppkey"),
            F.concat(
                F.lit("Supplier#"),
                rcode,
                F.format_string("%09d", F.col("s_suppkey")),
            ).alias("s_name"),
            "s_nationkey",
            "s_acctbal",
        ),
        "supplier",
    )
    write(
        reps(src("part")).select(
            shift("p_partkey"),
            "p_name", "p_brand", "p_type", "p_size", "p_retailprice",
        ),
        "part",
    )
    write(
        reps(src("orders")).select(
            shift("o_orderkey"),
            shift("o_custkey"),
            "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority",
        ),
        "orders",
    )
    write(
        reps(src("lineitem")).select(
            shift("l_orderkey"),
            shift("l_partkey"),
            shift("l_suppkey"),
            "l_linenumber", "l_quantity", "l_extendedprice", "l_discount",
            "l_tax", "l_returnflag", "l_linestatus", "l_shipdate",
        ),
        "lineitem",
    )
    # Single part file: the streaming sources glob 'events.parquet' as ONE
    # file (the driver fixtures' layout); a multi-part directory here would
    # leave the availableNow file stream reading nothing.
    write(
        reps(src("events")).select(
            shift("event_id"),
            "ts",
            shift("user_id"),
            "event_type", "value", "props",
        ),
        "events",
        parts=1,
    )

    # documents: per-replica deterministic word permutation (replica 0 = as
    # is). Sort each doc's (hash, word) pairs by the hash of
    # (doc, replica, position, word) and rejoin.
    docs = reps(src("documents")).select(
        shift("doc_id"),
        F.col("__r"),
        F.col("text"),
        "lang", "source", "n_chars",
    )
    toks = F.split("text", " ")
    permuted = F.array_join(
        F.transform(
            F.array_sort(
                F.zip_with(
                    toks,
                    F.sequence(F.lit(1), F.size(toks)),
                    lambda w, i: F.struct(
                        F.xxhash64(F.col("doc_id"), F.col("__r"), i, w).alias(
                            "h"
                        ),
                        w.alias("w"),
                    ),
                )
            ),
            lambda s: s["w"],
        ),
        " ",
    )
    write(
        docs.select(
            "doc_id",
            F.when(F.col("__r") == 0, F.col("text"))
            .otherwise(permuted)
            .alias("text"),
            "lang", "source", "n_chars",
        ),
        "documents",
    )

    # embeddings: fresh hash-derived ~N(0, 0.15) per replica > 0 (sum of 4
    # uniforms in [-0.26, 0.26] has sd ~= 0.15 per Irwin-Hall).
    emb = reps(src("embeddings")).select(
        shift("vec_id"), F.col("__r"), "embedding", "label"
    )
    dim = F.size("embedding")

    def _unif(seed: int, d):
        return (
            F.pmod(
                F.xxhash64(F.col("vec_id"), F.lit(seed), d), F.lit(1_000_001)
            ).cast("double")
            / 500_000.0
            - 1.0
        )

    fresh = F.transform(
        F.sequence(F.lit(0), dim - 1),
        lambda d: (
            (_unif(1, d) + _unif(2, d) + _unif(3, d) + _unif(4, d)) * 0.26
        ).cast("float"),
    )
    write(
        emb.select(
            "vec_id",
            F.when(F.col("__r") == 0, F.col("embedding"))
            .otherwise(fresh)
            .alias("embedding"),
            "label",
        ),
        "embeddings",
    )

    print(f"fixtures -> {out}")
    spark.stop()


if __name__ == "__main__":
    main()
