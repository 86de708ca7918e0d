"""Entity-resolution operators: edit-distance joins without all-pairs.

The reference engine has no entity-resolution surface (it is a Kafka
record router — SURVEY §2A); this module is part of the
training-data-pipeline extension: key/name matching under *insertions
and deletions*, the similarity family the Hamming matcher
(operators/dedup.hamming_pairs, q146) cannot express — one inserted
character shifts every later position, so substitution-only blocking
misses it, while a single indel barely moves Levenshtein distance.

Scale design (SymSpell / FastSS deletion-neighborhood blocking):
every key of length L expands to at most L+1 variants (itself plus
each single-character deletion).  Two keys within Levenshtein
distance 1 ALWAYS share a variant:

- equal keys share the identity variant;
- a substitution at position i: deleting position i from both keys
  yields the same string;
- an insertion/deletion: the shorter key IS a deletion variant of the
  longer one, and every key's own identity variant is in its set.

So an equi-join on the variant key has recall 1 for d<=1 by
construction — no probabilistic argument needed — and the exact
``levenshtein`` verify keeps precision 1.  Only (id, key, variant)
rows shuffle: entity keys are tens of bytes, never documents.  Work
is sum-of-bucket-squares over variant buckets; bucket size is bounded
by the number of keys within distance 1 of a given variant (alphabet
x positions), not by table size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# i = 0 keeps the key itself; i = 1..L deletes character i.  The
# CASE avoids a second explode-union pass over the table.
_VARIANTS_SQL = (
    "array_distinct(transform(sequence(0, length(_k)), i -> "
    "CASE WHEN i = 0 THEN _k "
    "ELSE substring(_k, 1, i - 1) || substring(_k, i + 1) END))"
)


def deletion_variants(key_col: str) -> F.Column:
    """Distinct deletion-neighborhood variants (self + each single
    deletion) of ``key_col`` — at most ``length + 1`` strings."""
    return F.expr(_VARIANTS_SQL.replace("_k", f"`{key_col}`"))


def edit_distance_pairs(df: DataFrame, id_col: str, key_col: str) -> DataFrame:
    """All pairs of rows whose ``key_col`` values are within
    Levenshtein distance 1 (including exact duplicates at distance 0).

    Returns ``(id_a, id_b, lev)`` with ``id_a < id_b``; ``lev`` is the
    exact distance (BIGINT).  Recall is 1 for d<=1 by the
    deletion-neighborhood argument in the module docstring; the
    ``levenshtein`` verify makes precision exact, so a brute-force
    O(n²) oracle hash-checks the output end-to-end.

    A massive equal-key (or one-typo-family) cohort whose shared
    variant bucket exceeds a task's budget salts automatically, with
    the raw keys riding as payload: see
    :func:`~kaflow_spark.operators.skew.bucket_pairs`.
    """
    from kaflow_spark.operators.parallelism import fan_out
    from kaflow_spark.operators.skew import bucket_pairs

    base = fan_out(df, id_col).select(
        F.col(id_col).cast("bigint").alias("_id"), F.col(key_col).alias("_k")
    )
    variants = base.select(
        "_id", "_k", F.explode(deletion_variants("_k")).alias("_v")
    )
    # deletion-variant buckets have no algebraic cap (a massive
    # equal-key cohort shares every variant) — one linear max-bucket
    # probe decides, memoized per (session, plan) so only the first
    # invocation pays it. persist_keyed stays OFF here by measured A/B:
    # the bare explode lineage is cheaper to recompute than to cache
    # (cached join 1.28 s vs 0.83 s uncached at sf0.1; steady-state
    # auto 0.78 vs salt=1 0.92). A pair can share several variants
    # (e.g. adjacent equal characters); contract before the verify.
    cand = (
        bucket_pairs(variants, ["_v"], "_id", payload_cols=["_k"])
        .select(
            "id_a",
            "id_b",
            F.col("_k_a").alias("key_a"),
            F.col("_k_b").alias("key_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    # project the distance once, then filter on the projected column —
    # filtering on the raw expression would evaluate levenshtein twice
    lev = F.levenshtein(F.col("key_a"), F.col("key_b"))
    return (
        cand.select("id_a", "id_b", lev.cast("bigint").alias("lev"))
        .filter(F.col("lev") <= 1)
    )


def composite_er_pairs(
    df: DataFrame,
    id_col: str,
    name_col: str,
    group_col: str,
    segment_col: str,
    amount_cents_col: str,
    *,
    max_cents_diff: int = 100,
) -> DataFrame:
    """Rule-based entity resolution with a UNION of blocking
    strategies — the composite-match pattern production ER runs when
    no single field is reliable: two records match iff they share
    ``group_col`` AND (their names are within Hamming distance 1 OR
    they share ``segment_col`` with amounts within
    ``max_cents_diff``).

    Each disjunct gets its own recall-complete blocking:

    - name path: the two-level pigeonhole Hamming blocking
      (:func:`~kaflow_spark.operators.dedup.hamming_pairs`), then a
      group-equality filter;
    - amount path: banded numeric blocking (the q64 binned-range-join
      idea applied to ER) — bucket = cents div band with a
      3-bucket probe on one side, so any pair within the band
      tolerance shares a probed bucket by construction; exact
      |diff| <= tolerance verify.

    The union is deduplicated per pair and labeled with match
    provenance (``path`` in {'name','amount','both'}) — the audit
    column reviewers need to tune each rule independently. Returns
    ``(id_a, id_b, path)`` with ``id_a < id_b``."""
    from kaflow_spark.operators.dedup import hamming_pairs

    # no fan_out here: the expensive projection is the Hamming banding,
    # which fans out INSIDE _hamming_banded — a second repartition of
    # the same small frame would just add an exchange
    base = df.select(
        F.col(id_col).cast("bigint").alias("_id"),
        F.col(name_col).alias("_nm"),
        F.col(group_col).alias("_grp"),
        F.col(segment_col).alias("_seg"),
        F.col(amount_cents_col).cast("bigint").alias("_amt"),
    )
    attrs_a = base.select(
        F.col("_id").alias("id_a"),
        F.col("_grp").alias("grp_a"),
    )
    attrs_b = base.select(
        F.col("_id").alias("id_b"),
        F.col("_grp").alias("grp_b"),
    )
    name_pairs = (
        hamming_pairs(base, "_id", "_nm", max_dist=1)
        .select("id_a", "id_b")
        .join(attrs_a, "id_a")
        .join(attrs_b, "id_b")
        .filter(F.col("grp_a") == F.col("grp_b"))
        .select("id_a", "id_b", F.lit(True).alias("by_name"))
    )
    band = max_cents_diff
    probe = base.select(
        F.col("_id").alias("id_a"),
        F.col("_grp").alias("g"),
        F.col("_seg").alias("s"),
        F.col("_amt").alias("amt_a"),
        F.explode(
            F.array(
                F.expr(f"_amt div {band} - 1"),
                F.expr(f"_amt div {band}"),
                F.expr(f"_amt div {band} + 1"),
            )
        ).alias("bkt"),
    )
    exact = base.select(
        F.col("_id").alias("id_b"),
        F.col("_grp").alias("g"),
        F.col("_seg").alias("s"),
        F.col("_amt").alias("amt_b"),
        F.expr(f"_amt div {band}").alias("bkt"),
    )
    amount_pairs = (
        probe.join(exact, ["g", "s", "bkt"])
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (F.abs(F.col("amt_a") - F.col("amt_b")) <= band)
        )
        .select("id_a", "id_b", F.lit(True).alias("by_amount"))
        .dropDuplicates(["id_a", "id_b"])
    )
    merged = name_pairs.join(amount_pairs, ["id_a", "id_b"], "full_outer")
    return merged.select(
        "id_a",
        "id_b",
        F.when(
            F.coalesce(F.col("by_name"), F.lit(False))
            & F.coalesce(F.col("by_amount"), F.lit(False)),
            F.lit("both"),
        )
        .when(F.coalesce(F.col("by_name"), F.lit(False)), F.lit("name"))
        .otherwise(F.lit("amount"))
        .alias("path"),
    )


def er_name_blocking_audit(
    df: DataFrame,
    id_col: str,
    name_col: str,
    *,
    max_dist: int = 1,
    max_bucket: int = 10_000,
) -> DataFrame:
    """Pre-flight audit for the name path of ER blocking (q146's
    Hamming blocker, q169's name disjunct): every blocking bucket the
    ``max_bucket`` guard would DROP, via
    :func:`~kaflow_spark.operators.dedup.hamming_capped_buckets`.
    Empty result = recall 1 certified for the same arguments;
    non-empty rows name the degenerate cohorts (massive equal-name
    groups, zero-padded codes) to pre-dedup or re-cap BEFORE pairs
    are silently lost. Mirrors q168's join-skew report idiom."""
    from kaflow_spark.operators.dedup import hamming_capped_buckets

    return hamming_capped_buckets(
        df.select(
            F.col(id_col).cast("bigint").alias("_id"),
            F.col(name_col).alias("_nm"),
        ),
        "_id",
        "_nm",
        max_dist=max_dist,
        max_bucket=max_bucket,
    )
