"""Entity-matching / record-linkage operators (north star extension).

The reference has no entity matching; this module supplies the blocking
machinery that keeps fuzzy matching sub-quadratic at corpus scale. The core
primitive is the symmetric-delete (SymSpell) neighborhood: for edit distance
<= k, any optimal edit script can be normalized to deletions on both sides
(substitution = delete both, insert in a = delete in b), so

    lev(a, b) <= k  =>  D<=k(a) ∩ D<=k(b) != ∅

where D<=k(s) is s plus every string reachable by deleting up to k chars.
Candidate generation is therefore an *equi-join* on the deletion variant —
recall is exactly 1 for the lev-k predicate, and per-record cost is the fixed
fan-out C(len,2)+len+1 (~172 variants for 18-char keys at k=2) instead of a
quadratic per-block pair count. Precision is restored by re-scoring each
candidate with the thresholded levenshtein.

All expressions are Catalyst built-ins (sequence/transform/flatten/substring);
no Python runs per row.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lakeflow.operators.transforms import bucket_pairs, fan_out


def deletion_variants(col: str, max_deletes: int = 2):
    """Array column of all strings reachable from ``col`` by deleting up to
    ``max_deletes`` characters (including the string itself), distinct."""
    if max_deletes not in (1, 2):
        raise ValueError("deletion_variants supports max_deletes in {1, 2}")
    del1 = (
        f"transform(sequence(1, length({col})), i -> "
        f"concat(substring({col}, 1, i - 1), substring({col}, i + 1)))"
    )
    parts = [f"array({col})", f"CASE WHEN length({col}) >= 1 THEN {del1} ELSE array() END"]
    if max_deletes == 2:
        del2 = (
            f"flatten(transform(sequence(1, length({col}) - 1), i -> "
            f"transform(sequence(i + 1, length({col})), j -> "
            f"concat(substring({col}, 1, i - 1), "
            f"substring({col}, i + 1, j - i - 1), "
            f"substring({col}, j + 1)))))"
        )
        parts.append(
            f"CASE WHEN length({col}) >= 2 THEN {del2} ELSE array() END"
        )
    # No array_distinct: it is O(variants²) string compares per row (the
    # dominant cost when profiled); duplicate variants only produce duplicate
    # candidates, which the pair-level dedup removes anyway.
    return F.expr(f"concat({', '.join(parts)})")


def edit_distance_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    block_cols: Sequence[str] = (),
    max_dist: int = 2,
    eager: bool = True,
) -> DataFrame:
    """All pairs with levenshtein(text) <= max_dist (and equal block cols),
    via symmetric-delete candidate generation + thresholded verification.

    Output: (id_a, id_b, dist) with id_a < id_b. Result-identical to the
    naive within-block self-join (the deletion-neighborhood equi-join has
    recall 1 for the lev predicate), but pair-generation cost is
    O(n · variants) with bucket sizes driven by true near-match density —
    scale-invariant where a fixed block key (e.g. 25 nations) goes quadratic
    as data grows.

    A length-band prefilter (|len_a − len_b| <= max_dist) on the candidate
    join is deliberately NOT applied: two equal variant strings have equal
    length, and each side deleted at most ``max_dist`` chars to reach it, so
    the band is already implied by the equi-join key — an explicit filter
    would only drop xxhash64-collision candidates (which the levenshtein
    verify removes anyway) while widening every shuffled row.
    """
    if max_dist != 2:
        raise ValueError("edit_distance_pairs currently supports max_dist=2")
    # Shuffle skinny rows: (block, variant-hash, id) — the 16+-char variant
    # string never moves, and names are fetched *after* candidate dedup. A
    # hash collision only adds a false candidate, which the verify removes.
    #
    # Two-step variant generation: explode integer deletion-position pairs
    # (the only higher-order lambdas, over ints), then build each variant
    # string in a flat projection — substring/concat stay inside whole-stage
    # codegen instead of interpreted nested lambdas (profiled ~3× faster).
    # (i=0, j=0) = no deletion; (i>0, j=0) = delete i; (i<j) = delete i and j.
    # Canonical deletion positions: deleting any char of a same-char run
    # yields the same string, so only the leftmost position of a run (or the
    # position right after the first deletion) represents its equivalence
    # class. On digit-heavy keys this cuts variant duplicates ~2×, and every
    # distinct variant string keeps exactly one representative — recall is
    # unchanged (verified against the naive quadratic join in tests).
    # The deletion neighborhood multiplies per-row CPU by ~C(len,2): a
    # narrow scan (one small parquet file → one task) would serialize that
    # string building on a single core. fan_out spreads the skinny input
    # rows across all cores before the explode.
    df = fan_out(df)
    first_of_run = (
        f"(x = 1 OR substring({text_col}, x, 1) != substring({text_col}, x - 1, 1))"
    )
    first_of_run_y = (
        f"(y = x + 1 OR substring({text_col}, y, 1) != substring({text_col}, y - 1, 1))"
    )
    # Sentinel-position encoding (VERDICT r9 #7): "no deletion" is
    # (i, j) = (len+1, len+2) and "delete i only" is j = len+1, so EVERY
    # variant — including the identity — is the same 3-substring concat
    # below (substring past the end is ''). Collapsing the former 3-branch
    # CASE into one uniform expression shrinks the generated method ~3×
    # at the hot projection and drops two branches per variant row.
    idx = (
        "concat("
        f"array(named_struct('i', length({text_col}) + 1, "
        f"'j', length({text_col}) + 2)), "
        f"CASE WHEN length({text_col}) >= 1 THEN "
        f"transform(filter(sequence(1, length({text_col})), x -> {first_of_run}), "
        f"x -> named_struct('i', x, 'j', length({text_col}) + 1)) "
        "ELSE array() END, "
        f"CASE WHEN length({text_col}) >= 2 THEN "
        f"flatten(transform(filter(sequence(1, length({text_col}) - 1), x -> {first_of_run}), "
        f"x -> transform(filter(sequence(x + 1, length({text_col})), y -> {first_of_run_y}), "
        "y -> named_struct('i', x, 'j', y)))) "
        "ELSE array() END)"
    )
    variant = (
        f"concat(substring({text_col}, 1, d.i - 1), "
        f"substring({text_col}, d.i + 1, d.j - d.i - 1), "
        f"substring({text_col}, d.j + 1))"
    )
    keyed = df.select(
        F.col(id_col).alias("id"),
        *[F.col(c) for c in block_cols],
        F.col(text_col),
        F.explode(F.expr(idx)).alias("d"),
    ).select(
        "id",
        *block_cols,
        F.xxhash64(F.expr(variant)).alias("vh"),
    )
    # One self-join on (vh, block): a NULL block key pairs with nothing, and
    # a duplicate (id, vh) row never pairs with itself (id_a < id_b).
    cand = bucket_pairs(keyed, ["vh", *block_cols])
    if eager:
        # Two name-fetch consumers below: materialize the (small) candidate
        # list once rather than re-running the variant explode per side.
        cand = cand.localCheckpoint(eager=True)
    # Name fetch is a plain equi-join on id: Catalyst/AQE broadcasts it when
    # the table is small (test scale) and shuffles on id at corpus scale.
    names = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("txt"))
    return (
        cand.join(names.withColumnsRenamed({"id": "id_a", "txt": "txt_a"}), "id_a")
        .join(names.withColumnsRenamed({"id": "id_b", "txt": "txt_b"}), "id_b")
        # Thresholded levenshtein early-exits past the bound (O(k·n)/pair);
        # returns the true distance when <= threshold, else -1.
        .withColumn("dist", F.levenshtein("txt_a", "txt_b", max_dist))
        .filter(F.col("dist") >= 0)
        # Pair dedup runs AFTER the cheap thresholded verify: a true pair
        # shares ~2 deletion variants on average, so deduping the verified
        # survivors shuffles far fewer rows than deduping raw candidates
        # (the duplicate factor is bounded by the variant count either way).
        .dropDuplicates(["id_a", "id_b"])
        .select("id_a", "id_b", F.col("dist").cast("int").alias("dist"))
    )
