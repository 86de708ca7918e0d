"""Recall tests for the round-6 candidate generators on ADVERSARIAL
inputs the parquet fixture cannot exercise: the TPC-H customer names
all share one length, so q154's oracle only attests the substitution
case — these tests plant insertions, deletions, duplicate keys and
prefix-skewed cohorts and compare against brute force."""

from __future__ import annotations

import itertools

import pytest
from pyspark.sql import functions as F

from kaflow_spark.operators.dedup import (
    prefix_filter_candidates,
    shingle_frame,
)
from kaflow_spark.operators.resolution import (
    deletion_variants,
    edit_distance_pairs,
)


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[-1]


KEYS = [
    "Customer#000000001",
    "Customer#000000002",   # substitution of the last digit
    "Customer#00000001",    # deletion (one digit shorter)
    "Customer#0000000011",  # insertion (one digit longer)
    "Customer#000000001",   # exact duplicate -> distance 0 pair
    "Custommer#000000001",  # insertion mid-key (doubled letter)
    "ustomer#000000001",    # deletion at position 0
    "Xustomer#000000001",   # substitution at position 0
    "totally-different",
    "a",                    # length-1 edge case
    "b",                    # distance 1 from "a" (substitution)
    "",                     # empty key edge case
    "ab",                   # insertion from "a" / "b"
]


def test_edit_distance_pairs_matches_brute_force(spark):
    df = spark.createDataFrame(
        [(i, k) for i, k in enumerate(KEYS)], ["id", "key"]
    )
    got = {
        (r.id_a, r.id_b, r.lev)
        for r in edit_distance_pairs(df, "id", "key").collect()
    }
    want = {
        (i, j, _lev(KEYS[i], KEYS[j]))
        for i, j in itertools.combinations(range(len(KEYS)), 2)
        if _lev(KEYS[i], KEYS[j]) <= 1
    }
    assert got == want
    # the planted structure actually covers every edit kind
    kinds = {(0, 2), (0, 3), (0, 4), (0, 5), (0, 6), (0, 7)}
    assert kinds <= {(a, b) for a, b, _ in want}


def test_deletion_variants_shape(spark):
    row = (
        spark.range(1)
        .select(F.lit("abc").alias("k"))
        .select(deletion_variants("k").alias("v"))
        .head()
    )
    assert sorted(row.v) == ["ab", "abc", "ac", "bc"]


@pytest.mark.parametrize("threshold", [0.5, 0.7])
def test_prefix_filter_recall_exact(spark, threshold):
    """Every pair at Jaccard >= t must appear among the candidates —
    the prefix lemma, checked against brute force on shingle sets with
    heavy overlap skew (shared boilerplate prefix + near-dup family)."""
    base = "spark shuffles partition data across the cluster stages "
    docs = [
        (0, base * 4),
        (1, base * 4 + "tail variation one"),        # near-dup of 0
        (2, base * 4 + "tail variation one!"),       # near-dup of 0/1
        (3, base + "completely different middle " + base),
        (4, "unrelated tiny doc"),
        (5, "unrelated tiny doc"),                   # exact dup of 4
        (6, base[:30]),                              # subset-ish small doc
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    sh = shingle_frame(df, "doc_id", "text", 5)
    sets = {
        r._sid: set(r._sh) for r in sh.collect()
    }
    cand = {
        (r.id_a, r.id_b)
        for r in prefix_filter_candidates(sh, threshold).collect()
    }
    for a, b in itertools.combinations(sorted(sets), 2):
        inter = len(sets[a] & sets[b])
        union = len(sets[a] | sets[b])
        if union and inter / union >= threshold:
            assert (a, b) in cand, (a, b, inter / union)


def test_prefix_threshold_ceiling_is_exact_integer(spark):
    """The prefix/size ceilings use (t_bp * n + 9999) div 10000 —
    exact by CONSTRUCTION, with no dependence on how the threshold
    rounds to binary. ceil(lit(t) * n) happens to agree at the
    magnitudes probed here (the 1-ulp product error never crosses an
    integer boundary for 4-decimal thresholds and small n), but that
    agreement is a rounding accident per (t, n), not a guarantee —
    this sweep pins the integer form to the rational ceiling so any
    future 'simplification' back to float ceil must re-prove itself
    against it."""
    import math
    from fractions import Fraction

    rows = (
        spark.range(1, 500)
        .select(
            F.col("id").alias("n"),
            F.expr("(8000 * id + 9999) div 10000").alias("bp8"),
            F.expr("(7000 * id + 9999) div 10000").alias("bp7"),
        )
        .collect()
    )
    for r in rows:
        assert r.bp8 == math.ceil(Fraction(8, 10) * r.n), r.n
        assert r.bp7 == math.ceil(Fraction(7, 10) * r.n), r.n
