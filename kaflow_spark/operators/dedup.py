"""Deduplication operators for LLM data pipelines.

Hot paths are built-in Spark expressions (xxhash64 shingling, array
ops, equi-joins) with ONE exception chosen on measurement: the S×64
signature kernels (MinHash lanes / SimHash votes) run as Arrow-batched
numpy — Spark interprets higher-order-function lambdas (outside
whole-stage codegen), and the vectorized kernel is ~3-5x faster; pure
-expression fallbacks (*_expr) are kept bit-identical for Arrow-less
environments. Shapes:

- exact: hash-groupBy (shuffle moves 16-byte digests, not documents)
- MinHash + LSH banding: shingle → minhash signature → band →
  bucket-join for candidate pairs → exact-Jaccard verify
- SimHash: 64-bit signature, hamming-distance candidates
- n-gram Jaccard: exact set similarity for a pair list
- embedding near-dup: hyperplane-LSH bucket → in-bucket cosine

Scale notes: every pairwise step is LSH-bucketed so the join is
equi-keyed (shuffle-partitionable, AQE-skew-splittable) — never an
all-pairs cross join. Bucket skew (boilerplate shingles) is bounded
by ``max_bucket`` sampling.
"""

from __future__ import annotations

import random

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

from kaflow_spark.functions.vectors import cosine  # noqa: F401 - public re-export
from kaflow_spark.operators import memo
from kaflow_spark.operators.skew import bucket_pairs

_MERSENNE = (1 << 31) - 1  # 2^31-1, prime; keeps a*x+b inside int64


def release_shingle_frames() -> int:
    """Unpersist every memoized shingle and MinHash/SimHash signature
    frame and return how many were released. Call it after rewriting
    a corpus they were built over (:mod:`~kaflow_spark.operators.memo`)."""
    return memo.release("shingles")


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep the lowest-id row per exact text duplicate group.

    Deterministic (group-min, not dropDuplicates whose keeper depends
    on partition order). Returns kept ids with group sizes.
    """
    return (
        df.groupBy(F.md5(F.col(text_col).cast("binary")).alias("content_hash"))
        .agg(
            F.min(id_col).alias(id_col),
            F.count(F.lit(1)).alias("group_size"),
        )
        .drop("content_hash")
    )


def duplicated_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    min_len: int = 40,
) -> DataFrame:
    """Exact duplicated-substring report (the public "exact substring
    deduplication" stage of Lee et al., *Deduplicating Training Data
    Makes Language Models Better*, ACL 2022 — there built on a suffix
    array; here re-expressed as declarative Spark): find every
    position whose ``min_len``-char window occurs MORE THAN ONCE in
    the corpus (across documents or repeated within one), merge
    overlapping/adjacent windows per document into maximal spans, and
    emit ``(id, n_dup_spans, dup_chars)`` — the per-document duplicated
    footprint a substring-dedup pass would clip.

    Plan shape: one position-exploded projection (``(id, pos,
    h1, h2)`` with a 128-bit two-seed xxhash64 window identity —
    32-byte rows, the window TEXT never shuffles; 64 bits would mint
    ~10^4 birthday-collision false dups at 10^12 windows), a window
    count per hash pair for the >1 occurrence test, and
    a per-document gaps-and-islands pass to merge windows. Duplicate
    counting is hash-equality based, so the DuckDB oracle groups the
    raw window strings and gets identical counts (same argument as the
    q68 contamination screen). The corpus-wide partition-by-hash is
    the intrinsic cost of EXACT substring dedup — ~32 bytes per
    character position; at 100 TB that is the suffix-array batch job's
    territory, with MinHash (q41) and winnowed/word-gram screens (q95)
    as the approximate scale paths. Documents shorter than ``min_len``
    have no window and report no spans.
    """
    spans = duplicated_span_ranges(df, id_col, text_col, min_len=min_len)
    return spans.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_dup_spans"),
        F.sum(
            F.col("span_end") - F.col("span_start") + 1
        ).alias("dup_chars"),
    ).select(id_col, "n_dup_spans", "dup_chars")


def duplicated_span_ranges(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    min_len: int = 40,
    within_doc: bool = False,
) -> DataFrame:
    """The maximal duplicated spans themselves: ``(id, span_start,
    span_end)``, 1-based inclusive, disjoint per document (merged
    islands are separated by at least 1 clean char by construction:
    the island break fires at gap > min_len, so the closest two spans
    can sit is next_start == prev_end + 2). Plan as documented on
    duplicated_spans — this is its span stage without the final
    per-document aggregation."""
    t = F.col(text_col)
    n = F.length(t) - (min_len - 1)
    # 128-bit window identity: TWO independent-seed xxhash64 columns
    # (the second folds in a literal discriminator). A single 64-bit
    # key is fine at test SF but the operator's pitch is corpus scale:
    # at ~10^12 windows the 64-bit birthday bound mints ~10^4 false
    # "duplicated" windows, each of which q124 would clip from GOOD
    # text. 2^128 pushes collision odds below 1e-14 at that scale.
    # The gram is materialized as its own projection BEFORE hashing
    # (CLAUDE.md trap 1: an expression inside a HOF lambda or repeated
    # across sibling expressions re-evaluates per use — one substring
    # extraction feeds both hashes here), and rows shuffle as
    # (id, pos, h1, h2) = 32 bytes; the window text never moves.
    from kaflow_spark.operators.parallelism import fan_out

    g = (
        fan_out(df, id_col)
        .filter(F.length(t) >= min_len)
        .select(
            F.col(id_col).alias("_id"),
            F.explode(F.sequence(F.lit(1), n)).alias("_pos"),
            t.alias("_t"),
        )
        .select(
            "_id", "_pos", F.expr(f"substring(_t, _pos, {min_len})").alias("_g")
        )
        .select(
            "_id",
            "_pos",
            F.xxhash64("_g").alias("_h1"),
            F.xxhash64(F.lit(1), F.col("_g")).alias("_h2"),
        )
    )
    # within_doc scopes the >1-occurrence test to the SAME document
    # (Gopher-style intra-document repetition) instead of the corpus;
    # the partition gains _id, turning the corpus-wide hash shuffle
    # into a per-document one — strictly cheaper, same plan shape
    cnt_keys = ["_id", "_h1", "_h2"] if within_doc else ["_h1", "_h2"]
    dup = g.withColumn(
        "_cnt", F.count(F.lit(1)).over(Window.partitionBy(*cnt_keys))
    ).filter(F.col("_cnt") > 1)
    wd = Window.partitionBy("_id").orderBy("_pos")
    prev = F.lag("_pos").over(wd)
    islands = dup.withColumn(
        "_brk",
        F.when(prev.isNull() | (F.col("_pos") - prev > min_len), 1).otherwise(0),
    ).withColumn(
        "_isl",
        F.sum("_brk").over(wd.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return islands.groupBy("_id", "_isl").agg(
        F.min("_pos").alias("span_start"),
        (F.max("_pos") + (min_len - 1)).alias("span_end"),
    ).select(F.col("_id").alias(id_col), "span_start", "span_end")


def remove_duplicated_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    min_len: int = 40,
    ranges: DataFrame | None = None,
) -> DataFrame:
    """Exact substring dedup REMOVAL (the clip step of Lee et al. ACL
    2022): cut every maximal duplicated span — all occurrences,
    including the first, matching the reference tool's documented
    behavior — and return ``(id, text_clipped)``.

    The splice is a pure JVM higher-order aggregate over each
    document's sorted span array: fold (kept_text, prev_end) across
    spans, appending the clean segment before each span, then the
    tail. Spans arrive as one collect_list per document (spans per doc
    are few after island-merging — bounded by len/min_len), so the
    only additions over the span stage are one groupBy(id) and one
    LEFT join back to the corpus; documents with no duplicated spans
    pass through joined-null and keep their text untouched.

    Pass ``ranges`` (a frame from ``duplicated_span_ranges``, e.g. one
    the caller already persisted for a report) to reuse the span
    stage — the heaviest part of the operator — instead of
    recomputing it."""
    if ranges is None:
        ranges = duplicated_span_ranges(df, id_col, text_col, min_len=min_len)
    spans = (
        ranges
        .groupBy(id_col)
        .agg(
            F.sort_array(
                F.collect_list(F.struct("span_start", "span_end"))
            ).alias("_spans")
        )
    )
    t = F.col(text_col)
    acc0 = F.struct(
        F.lit("").alias("txt"), F.lit(0).cast("bigint").alias("pe")
    )

    def _merge(acc, sp):
        seg_len = sp["span_start"] - acc["pe"] - 1
        seg = F.when(
            seg_len > 0, t.substr((acc["pe"] + 1).cast("int"), seg_len.cast("int"))
        ).otherwise(F.lit(""))
        return F.struct(
            F.concat(acc["txt"], seg).alias("txt"),
            sp["span_end"].cast("bigint").alias("pe"),
        )

    def _finish(acc):
        tail_len = F.length(t) - acc["pe"]
        tail = F.when(
            tail_len > 0, t.substr((acc["pe"] + 1).cast("int"), tail_len.cast("int"))
        ).otherwise(F.lit(""))
        return F.concat(acc["txt"], tail)

    clipped = F.aggregate(F.col("_spans"), acc0, _merge, _finish)
    return df.join(spans, id_col, "left").select(
        id_col,
        F.when(F.col("_spans").isNull(), t)
        .otherwise(clipped)
        .alias("text_clipped"),
    )


def char_shingles(text_col: str, k: int = 5) -> F.Column:
    """Distinct character k-shingle hashes (xxhash64, JVM-side)."""
    t = F.col(text_col)
    n = F.greatest(F.length(t) - (k - 1), F.lit(1))
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), n),
            lambda i: F.xxhash64(t.substr(i, F.lit(k))),
        )
    )


def char_shingle_pairs128(text_col: str, k: int = 5) -> F.Column:
    """Per-document-distinct character k-shingles as 128-bit TWO-SEED
    identities: ``array<struct<key,value>>`` of (h1, h2) xxhash64
    pairs (seed 42 default and seed 1). Use this instead of
    :func:`char_shingles` wherever hash EQUALITY is aggregated into a
    *reported number* across the whole corpus (q157's overlap matrix,
    contamination screens): at ~1e11 distinct corpus shingles, 64-bit
    birthday collisions measurably inflate intersection counts, while
    a 128-bit identity pushes the collision expectation below 1e-15.
    Same two-seed pattern as the q96/q124 span identities
    (duplicated_spans above).

    Execution shape (every step measured at sf0.1 — final form runs
    at the 64-bit char_shingles baseline, ~2.3s vs 2.1s on the q68
    explode):
    - Spark's specialized (hash-set) ArrayDistinct/array kernels only
      cover PRIMITIVE element types, so a struct-element
      ``array_distinct`` (quadratic generic path, 3-5x slowdown) and
      ``array_sort``+adjacent-filter (struct comparators, ~2x) are
      both out. Dedup instead rides ``map_from_entries`` — an O(n)
      hash build keyed on the LONG h1.
    - The gram substring is extracted ONCE per position (inner
      transform is the outer transform's INPUT, so it evaluates once
      — not a captured reference, which would re-evaluate per
      element, trap 1); hashing the ready string twice is cheap,
      extracting it twice was the measured 2x (double-substr variant:
      3.3s vs 1.8s single-seed).
    - Dedup is by h1 alone: a within-doc h1 collision drops one gram,
      expectation ~n_doc^2/2^64 per doc (~3e-5 documents corpus-wide
      at 1e4-gram docs x 1e7 docs) — five orders below the
      corpus-wide birthday inflation this function exists to kill,
      and deterministic (LAST_WIN keeps the final occurrence).
    - Requires ``spark.sql.mapKeyDedupPolicy=LAST_WIN`` (duplicate
      keys are the POINT); callers set it via
      :func:`ensure_map_last_win` — a runtime conf, safe to set
      per-session at plan time.
    - Per-doc dedup BEFORE any inverted-index join is load-bearing on
      a repetitive corpus: positional grams fan a join out by the
      occurrence-product per shared gram (measured 5x+ on q68).
    Downstream joins should use the two LONG columns (``.key``,
    ``.value`` projected out) rather than the struct, for the same
    specialized-kernel reason."""
    t = F.col(text_col)
    n = F.greatest(F.length(t) - (k - 1), F.lit(1))
    grams = F.transform(F.sequence(F.lit(1), n), lambda i: t.substr(i, F.lit(k)))
    entries = F.transform(
        grams,
        lambda g: F.struct(
            F.xxhash64(g).alias("key"), F.xxhash64(F.lit(1), g).alias("value")
        ),
    )
    return F.map_entries(F.map_from_entries(entries))


def ensure_map_last_win(df: DataFrame) -> None:
    """Set ``spark.sql.mapKeyDedupPolicy=LAST_WIN`` on the frame's
    session — :func:`char_shingle_pairs128` builds maps whose
    duplicate keys ARE the dedup mechanism. Runtime conf (plan-time
    settable); the engine nowhere relies on the default EXCEPTION
    policy (the only other map constructor, q65, uses distinct
    literal keys)."""
    df.sparkSession.conf.set("spark.sql.mapKeyDedupPolicy", "LAST_WIN")


def _shingles_sql(text_col: str, k: int) -> str:
    t = f"`{text_col}`"
    return (
        f"array_distinct(transform(sequence(1, greatest(length({t})-{k - 1}, 1)),"
        f" i -> xxhash64(substring({t}, i, {k}))))"
    )


def shingle_frame(
    df: DataFrame, id_col: str, text_col: str, k: int = 5
) -> DataFrame:
    """Persisted ``(_sid, _sh)`` frame of distinct shingle hashes.

    The interpreted ``transform(sequence(...))`` shingling is the
    single most expensive expression in the near-dup pipelines, so a
    pipeline that needs shingles twice (LSH signatures + exact
    verify) should compute this frame ONCE and pass it to both
    stages — at 100 TB the frame is ~8 B x shingles per doc, far
    smaller than re-reading and re-shingling the corpus.

    Deliberately NOT fanned out (operators/parallelism.py): measured
    3-rep A/B at sf0.1 shows every shingle_frame consumer slower with
    a 32-way repartition ahead of the persist (q41 1.22→1.41 s, q83
    1.50→2.39, q90 1.12→1.56, q42 0.60→0.67) — the persisted frame
    feeds MANY downstream stages (LSH bands, verify joins, graph
    iterations), and 32 cached partitions multiply per-stage task
    overhead at fixture scale; single-shot heavy projections
    (contamination, span dedup) are where fan_out wins.

    Memoized and materialized per (corpus plan, id, text, k) in
    :mod:`~kaflow_spark.operators.memo`; :func:`release_shingle_frames`
    frees it."""

    def build() -> DataFrame:
        return df.select(
            F.col(id_col).alias("_sid"), char_shingles(text_col, k).alias("_sh")
        )

    key = memo.plan_key(df, "char", id_col, text_col, k)
    return memo.persisted("shingles", key, build)


def minhash_signature_expr(
    text_col: str, shingle_k: int = 5, num_hashes: int = 64, seed: int = 42
) -> F.Column:
    """Pure-expression MinHash signature: ONE fold over the shingle
    array updating all lanes per step (zip_with against literal
    coefficient arrays). No Python anywhere — use when Arrow/pandas
    is unavailable. (64 separate array_min passes would blow up
    codegen ~10-30x; higher-order lambdas are interpreted, so the
    numpy variant below is ~3-5x faster still.)"""
    rng = random.Random(seed)
    a = [rng.randrange(1, _MERSENNE) for _ in range(num_hashes)]
    b = [rng.randrange(0, _MERSENNE) for _ in range(num_hashes)]
    a_sql = "array(" + ",".join(f"{x}L" for x in a) + ")"
    b_sql = "array(" + ",".join(f"{x}L" for x in b) + ")"
    p = _MERSENNE
    sh = _shingles_sql(text_col, shingle_k)
    return F.expr(
        f"""
        aggregate(
          transform({sh}, x -> pmod(x, {p}L)),
          array_repeat({p}L, {num_hashes}),
          (acc, x) -> zip_with(
              acc,
              zip_with({a_sql}, {b_sql}, (ca, cb) -> pmod(ca * x + cb, {p}L)),
              (m, h) -> least(m, h)))
        """
    )


def minhash_signature(
    text_col: str, shingle_k: int = 5, num_hashes: int = 64, seed: int = 42
) -> F.Column:
    """MinHash signature: for each of ``num_hashes`` universal hash
    functions h_j(x) = (a_j·x + b_j) mod p, min over the shingle set.
    Coefficients are seeded driver-side constants (deterministic
    across runs and executors).

    Hybrid execution: shingle xxhash64 arrays are computed JVM-side,
    then an Arrow-batched numpy kernel does the S×H broadcast-min.
    Measured at sf0.1 (50k docs): numpy ~3-5x faster than the
    single-fold SQL expression because Spark interprets higher-order
    lambdas (they are outside whole-stage codegen); the arithmetic
    is identical (see tests comparing both paths)."""
    return minhash_signature_from_shingles(
        F.expr(_shingles_sql(text_col, shingle_k)), num_hashes, seed
    )


def minhash_signature_from_shingles(
    shingle_col: F.Column | str, num_hashes: int = 64, seed: int = 42
) -> F.Column:
    """The MinHash Arrow kernel applied to an already-computed
    shingle-hash array column (e.g. from :func:`shingle_frame`)
    instead of re-shingling the text."""
    from pyspark.sql.functions import pandas_udf

    rng = random.Random(seed)
    a = np.array([rng.randrange(1, _MERSENNE) for _ in range(num_hashes)], np.int64)
    b = np.array([rng.randrange(0, _MERSENNE) for _ in range(num_hashes)], np.int64)
    p = _MERSENNE

    @pandas_udf("array<bigint>")
    def _sig(hashes: pd.Series) -> pd.Series:
        out = []
        for h in hashes:
            # numpy % with positive divisor is non-negative, matching
            # Spark's pmod — the two paths are bit-identical
            x = np.asarray(h, dtype=np.int64) % p
            lanes = (x[:, None] * a[None, :] + b[None, :]) % p
            out.append(lanes.min(axis=0))
        return pd.Series(out)

    return _sig(F.col(shingle_col) if isinstance(shingle_col, str) else shingle_col)


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    shingle_k: int = 5,
    num_hashes: int = 64,
    bands: int = 16,
    seed: int = 42,
    max_bucket: int = 1000,
    min_bands: int = 1,
    shingles: DataFrame | None = None,
    side_a=None,
    side_b=None,
) -> DataFrame:
    """Near-duplicate candidate pairs via banded MinHash LSH.

    Pipeline: shingle → signature → split into ``bands`` bands →
    explode (one row per band) → equi-join on (band, band hash) →
    pairs with estimated Jaccard (signature agreement fraction).

    The only shuffle is the band-bucket equi-join; ``max_bucket``
    drops degenerate buckets (e.g. empty-string shingles) that would
    produce quadratic blowup.

    ``min_bands`` screens pairs by how many bands they collided in —
    a pure-JVM groupBy count that replaces dropDuplicates. At
    similarity s each band matches with prob s^(rows/band); for
    s=0.9, 16 bands of 4 the expected match count is ~10.5, so
    ``min_bands=2`` keeps every real near-dup (P(miss) ~1e-7) while
    dropping the single-band flukes that dominate candidate volume —
    BEFORE the interpreted est_jaccard expression and the signature
    re-attach joins run.

    ``shingles`` takes a precomputed :func:`shingle_frame` so a
    pipeline with an exact-verify stage shingleizes the corpus once.

    ``side_a`` / ``side_b`` (each a ``Column -> Column`` predicate
    over the id) restrict the two sides of the bucket join for
    CROSS-SET screens (corpus-vs-benchmark decontamination): the
    sides must be DISJOINT id sets, pairs come out as (a-side,
    b-side) without the within-set ``id_a < id_b`` dedup, and —
    the point — within-set bucket collisions never materialize, so
    the join output scales with |A|x|B| bucket overlap instead of
    the corpus's own collision volume. The ``max_bucket`` cap counts
    each bucket over the whole frame before the side split, so an
    over-cap bucket is dropped from both sides.

    Hot buckets salt automatically: see
    :func:`~kaflow_spark.operators.skew.bucket_pairs`.
    """
    # validate the pairing BEFORE the S x H signature kernel runs:
    # failing after the signature frame is built would bill the full
    # MinHash cost to a call that was never going to work
    if (side_a is None) != (side_b is None):
        raise ValueError(
            "side_a and side_b must be given together (disjoint id "
            "sets): a one-sided restriction would drop the id_a < "
            "id_b dedup while the other side still contains the "
            "restricted ids — self-pairs and mirrored duplicates"
        )
    rows_per_band = num_hashes // bands
    # signatures computed ONCE (the expensive S x H kernel), persisted
    # and materialized in the shingle owner's memo: the plan reads them
    # three times (banding + both pair sides) from concurrent stages.
    # 512 B x n_docs spills to disk gracefully at scale.
    if shingles is not None:
        key = memo.plan_key(shingles, "minhash", num_hashes, seed)

        def build() -> DataFrame:
            return shingles.select(
                F.col("_sid").alias("_id"),
                minhash_signature_from_shingles("_sh", num_hashes, seed).alias(
                    "_sig"
                ),
            )
    else:
        key = memo.plan_key(
            df, "minhash", id_col, text_col, shingle_k, num_hashes, seed
        )

        def build() -> DataFrame:
            return df.select(
                F.col(id_col).alias("_id"),
                minhash_signature(text_col, shingle_k, num_hashes, seed).alias(
                    "_sig"
                ),
            )

    sig = memo.persisted("shingles", key, build)
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.xxhash64(
                F.slice(F.col("_sig"), b * rows_per_band + 1, rows_per_band)
            ).alias("bucket"),
        )
        for b in range(bands)
    ]
    # band rows carry ONLY (id, band, bucket) — at 100 TB the bucket
    # self-join shuffles 24-byte rows, not 512-byte signatures
    # replicated `bands` times
    banded = sig.select(
        "_id", F.explode(F.array(*band_structs)).alias("bb")
    ).select("_id", "bb.band", "bb.bucket")
    cross = side_a is not None
    # bound pathological buckets before the self-join
    counted = banded.withColumn(
        "_bn", F.count(F.lit(1)).over(Window.partitionBy("band", "bucket"))
    ).filter(F.col("_bn") <= max_bucket)
    if cross:
        # disjoint sides: no within-set pairs to salt, no id_a < id_b
        left = counted.select("band", "bucket", F.col("_id").alias("id_a"))
        right = counted.select("band", "bucket", F.col("_id").alias("id_b"))
        joined = left.filter(side_a(F.col("id_a"))).join(
            right.filter(side_b(F.col("id_b"))), ["band", "bucket"]
        )
    else:
        # default max_bucket (1000) algebraically bounds any bucket's
        # pair work under the task budget, so the common case resolves
        # to salt 1 with ZERO probe cost; a raised cap triggers one
        # bounded max(_bn) probe over the cached-signature lineage
        joined = bucket_pairs(
            counted,
            ["band", "bucket"],
            "_id",
            known_cap=max_bucket,
            count_col="_bn",
        )
    pairs = (
        joined
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("_nbands"))
        .filter(F.col("_nbands") >= F.lit(min_bands))
        .select("id_a", "id_b")
    )
    # re-attach signatures to the (much smaller) surviving pair set
    sig_a = sig.select(F.col("_id").alias("id_a"), F.col("_sig").alias("sig_a"))
    sig_b = sig.select(F.col("_id").alias("id_b"), F.col("_sig").alias("sig_b"))
    paired = pairs.join(sig_a, "id_a").join(sig_b, "id_b")
    # estimated jaccard = fraction of agreeing signature positions
    agree = F.aggregate(
        F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    num_hashes_lit = F.lit(num_hashes).cast("double")
    return paired.select(
        "id_a",
        "id_b",
        (agree.cast("double") / num_hashes_lit).alias("est_jaccard"),
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    candidates: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard for candidate pairs (the verify stage after
    LSH): two broadcast-or-shuffle hash joins to fetch shingle sets,
    then pure array math (native array_intersect/union, codegen).

    The shingle frame is computed ONCE and persisted — both join sides
    read it, and the interpreted transform(sequence(...)) shingling is
    the expensive part, not the joins. Pass ``shingles`` (a
    :func:`shingle_frame`) to share it with the candidate generator."""
    sh = (
        shingles
        if shingles is not None
        else shingle_frame(df, id_col, text_col, k)
    )
    a = sh.select(F.col("_sid").alias("id_a"), F.col("_sh").alias("sh_a"))
    b = sh.select(F.col("_sid").alias("id_b"), F.col("_sh").alias("sh_b"))
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size(F.array_union(F.col("sh_a"), F.col("sh_b")))
    return (
        candidates.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            (inter.cast("double") / union.cast("double")).alias("jaccard"),
        )
    )


def release_verified_pair_frames() -> int:
    """Unpersist every shared verified-pair frame and return how many
    were released. Call it after rewriting a corpus they were built
    over (:mod:`~kaflow_spark.operators.memo`)."""
    return memo.release("verified_pairs")


def verified_pair_frame(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 5,
    min_bands: int = 2,
    est_screen: float = 0.7,
    threshold: float = 0.9,
) -> DataFrame:
    """Persisted VERIFIED near-duplicate pair frame ``(id_a, id_b,
    jaccard)`` with exact n-gram Jaccard ``>= threshold`` — the one
    attested pair set the whole dedup-QA family consumes (q41 emits
    it, q137 clusters it, q206 audits its transitivity, q215
    attributes it to sources).

    EXPLICIT sharing, not a CacheManager accident (round-11 verdict
    item 2): before this helper the four queries each rebuilt an
    identical LSH + verify pipeline and only coincidental plan-
    fragment substitution against q206's (since-fixed) leaked cache
    kept the family cheap — when that leak was closed, q206 honestly
    re-paid the full pipeline at 26.6 s warm (13% of the whole
    bench). The pair set is churn-bounded and tiny next to the
    corpus (~true-duplicate pairs only), so persisting it is the
    :func:`shingle_frame` storage-vs-recompute trade at even better
    odds; on a cluster this is exactly the staged frame a production
    dedup-QA suite would materialize once per corpus snapshot.

    Memoized and materialized per (corpus plan, params) in
    :mod:`~kaflow_spark.operators.memo`: a re-invocation gets the SAME
    DataFrame object back with zero jobs.
    :func:`release_verified_pair_frames` frees it."""

    def build() -> DataFrame:
        sh = shingle_frame(df, id_col, text_col, k)
        cand = (
            minhash_lsh_candidates(
                df, id_col, text_col, min_bands=min_bands, shingles=sh
            )
            .filter(F.col("est_jaccard") >= est_screen)
            .select("id_a", "id_b")
        )
        return ngram_jaccard_pairs(
            df, cand, id_col, text_col, k, shingles=sh
        ).filter(F.col("jaccard") >= threshold)

    key = memo.plan_key(
        df, id_col, text_col, k, min_bands, est_screen, threshold
    )
    return memo.persisted("verified_pairs", key, build)


def prefix_filter_candidates(shingles: DataFrame, threshold: float) -> DataFrame:
    """Deterministic recall-1 candidate pairs for an EXACT Jaccard
    set-similarity self-join (AllPairs / PPJoin prefix filtering,
    Bayardo et al. WWW'07 — public algorithm), over a
    :func:`shingle_frame` ``(_sid, _sh)`` input.

    The third candidate-generation family next to MinHash banding
    (probabilistic recall) and SimHash pigeonhole chunks (recall
    bounded by a Hamming radius): order every document's distinct
    shingles by one GLOBAL total order — ascending document frequency,
    ties by hash — and keep only the first
    ``|A| - ceil(threshold * |A|) + 1`` ("prefix").  If
    ``J(A, B) >= t`` then ``|A ∩ B| >= t * max(|A|, |B|)`` (from
    ``o/(a + b - o) >= t`` with ``b >= o``), so the intersection
    cannot fit entirely in both suffixes and the prefixes must share
    a shingle — recall 1 with NO probabilistic argument.  A size
    filter (``t * |A| <= |B| <= |A| / t``) prunes candidates the
    Jaccard bound already excludes.

    Scale: shuffles only (id, hash, df) rows; the per-document window
    ranks within a document (never a global sort); rare-first
    ordering keeps join buckets small — a shingle shared by f
    documents contributes at most f² candidate rows and frequent
    shingles are exactly the ones the prefix drops.  Skew bound: the
    worst bucket is the most document-frequent shingle that still
    lands in some prefix, i.e. low-|A| documents — cap via
    ``threshold`` (higher t, shorter prefixes); a prefix token whose
    bucket still exceeds a task budget (a templated corpus whose
    RAREST shared token is the template id) salts automatically, with
    the set sizes riding as payload: see
    :func:`~kaflow_spark.operators.skew.bucket_pairs`.
    """
    from pyspark.sql.window import Window

    # ceil(t * n) in EXACT integer basis points. The float form
    # ceil(lit(t) * n) agrees at small magnitudes only by rounding
    # accident (the 1-ulp product error of an inexact threshold like
    # 0.7/0.8 happens not to cross an integer boundary for small n);
    # an overstated ceiling would silently SHORTEN the prefix below
    # the lemma's bound — a recall bug — so the bound is computed
    # exactly by construction instead of by luck (test_resolution
    # pins it to the rational ceiling).
    t_bp = int(round(threshold * 10_000))

    def ceil_t(n_col: str) -> F.Column:
        return F.expr(f"({t_bp} * {n_col} + 9999) div 10000")

    tok = shingles.select(
        F.col("_sid").alias("id"), F.explode("_sh").alias("h")
    )
    sizes = tok.groupBy("id").agg(F.count("*").alias("n"))
    dfreq = tok.groupBy("h").agg(F.count("*").alias("df"))
    w = Window.partitionBy("id").orderBy("df", "h")
    ranked = (
        tok.join(dfreq, "h")
        .join(sizes, "id")
        .withColumn("r", F.row_number().over(w))
    )
    prefix = ranked.filter(
        (F.col("r") <= F.col("n") - ceil_t("n") + 1)
        # a token shared by two documents has df >= 2, so df = 1 prefix
        # rows can never produce a candidate — dropping them shrinks the
        # join shuffle with zero recall impact
        & (F.col("df") >= 2)
    ).select("id", "h", "n")
    # prefix tokens have no algebraic cap (a templated corpus's rarest
    # shared token is the template id) — one linear max-bucket probe
    # decides; salt 1 in the healthy word-grain case (near-unique
    # tokens, see CLAUDE.md trap 8). persist_keyed: the ranked-prefix
    # lineage (df join + per-doc window) is the expensive part — an
    # unpersisted probe re-ran it at +80% cold (15.9 vs 8.8 s at
    # sf0.1); with the probe materializing the cache the join reads
    # short (id, h, n) rows
    cand = bucket_pairs(
        prefix, ["h"], "id", payload_cols=["n"], persist_keyed=True
    )
    return (
        cand.filter(
            (F.col("n_b") >= ceil_t("n_a"))
            & (F.col("n_a") >= ceil_t("n_b"))
        )
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )


def simhash_expr(text_col: str, ngram: int = 3) -> F.Column:
    """Pure-expression SimHash: ONE fold over the n-gram array
    maintaining all 64 vote counters (zip_with), then one pass packing
    sign bits into a BIGINT. No Python anywhere — fallback when
    Arrow/pandas is unavailable. (SQL text because shiftright's python
    wrapper rejects column bit indices while the underlying
    expression supports them.)"""
    sh = _shingles_sql(text_col, ngram)
    return F.expr(
        f"""
        aggregate(
          zip_with(
            aggregate(
              {sh},
              array_repeat(0, 64),
              (acc, h) -> zip_with(
                  acc,
                  transform(sequence(0, 63),
                            i -> IF((shiftright(h, i) & 1L) = 1L, 1, -1)),
                  (a, b) -> a + b)),
            sequence(0, 63),
            (v, i) -> IF(v > 0, shiftleft(1L, i), 0L)),
          0L,
          (acc, b) -> acc + b)
        """
    )


def simhash(text_col: str, ngram: int = 3) -> F.Column:
    """64-bit SimHash over character n-gram hashes: per bit position,
    sum +1/-1 votes across n-gram hashes; bit set iff the vote is
    positive.

    Hybrid execution like minhash_signature: JVM computes the n-gram
    xxhash64 array, an Arrow-batched numpy kernel does the 64-bit
    vote/pack (measured ~3x faster than the single-fold SQL
    expression, which Spark interprets)."""
    return simhash_from_shingles(F.expr(_shingles_sql(text_col, ngram)))


def simhash_from_shingles(shingle_col: F.Column | str) -> F.Column:
    """The SimHash vote/pack Arrow kernel applied to an
    already-computed shingle-hash array column."""
    from pyspark.sql.functions import pandas_udf

    shifts = np.arange(64, dtype=np.uint64)

    @pandas_udf("bigint")
    def _sh(hashes: pd.Series) -> pd.Series:
        out = np.empty(len(hashes), dtype=np.int64)
        for j, h in enumerate(hashes):
            bits = (
                (np.asarray(h, dtype=np.int64).astype(np.uint64)[:, None] >> shifts)
                & np.uint64(1)
            ).astype(np.int32)
            votes = bits.sum(axis=0) * 2 - bits.shape[0]
            sig = (
                np.left_shift((votes > 0).astype(np.uint64), shifts)
                .sum(dtype=np.uint64)
            )
            out[j] = int(sig.astype(np.int64))
        return pd.Series(out)

    return _sh(F.col(shingle_col) if isinstance(shingle_col, str) else shingle_col)


def hamming64(a: F.Column, b: F.Column) -> F.Column:
    """Population count of a XOR b via bit_count."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash_near_dups(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    ngram: int = 3,
    max_hamming: int = 3,
    block_bits: int = 16,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """SimHash near-dup pairs. Candidate generation blocks on each
    ``block_bits``-wide signature chunk (pigeonhole: any pair within
    hamming distance < 64/block_bits agrees on at least one chunk),
    so the join stays equi-keyed. Narrower chunks raise the guaranteed
    recall bound (block_bits=8 → hamming ≤ 7) at the cost of bigger
    buckets — pick per corpus scale.

    Blocked rows carry (id, sig, chunk, key) — the 8-byte signature is
    the same size as the id, so carrying it costs nothing and lets the
    pigeonhole hamming bound run as a 2-instruction codegen filter
    (xor + bit_count) DIRECTLY on the join output, before the
    dedup shuffle. That pre-filter is what keeps narrow-chunk blocking
    (block_bits=8 → 256-way keys, text-correlated bits → skewed
    buckets) from flooding downstream stages with candidate pairs: it
    drops every pair beyond ``max_hamming`` at the earliest possible
    point. Recall is GUARANTEED when max_hamming <= 64/block_bits - 1
    (the pigeonhole bound); beyond that, blocking finds pairs only
    when they share a chunk by luck. (MinHash banding keeps id-only
    rows instead — its signatures are 512 bytes, not 8.)

    ``shingles`` takes a precomputed :func:`shingle_frame` (its k
    overrides ``ngram``) so a pipeline with an exact-verify stage
    shingleizes the corpus once."""
    # persisted + materialized in the shingle owner's memo: blocking
    # consumes the signatures from concurrent stages; the vote kernel
    # must run once
    if shingles is not None:
        key = memo.plan_key(shingles, "simhash")

        def build() -> DataFrame:
            return shingles.select(
                F.col("_sid").alias("_id"),
                simhash_from_shingles("_sh").alias("_sh"),
            )
    else:
        key = memo.plan_key(df, "simhash", id_col, text_col, ngram)

        def build() -> DataFrame:
            return df.select(
                F.col(id_col).alias("_id"), simhash(text_col, ngram).alias("_sh")
            )

    sigs = memo.persisted("shingles", key, build)
    mask = (1 << block_bits) - 1
    chunk_structs = [
        F.struct(
            F.lit(c).alias("chunk"),
            F.shiftright(F.col("_sh"), c * block_bits)
            .bitwiseAND(F.lit(mask))
            .alias("key"),
        )
        for c in range(64 // block_bits)
    ]
    blocked = sigs.select(
        "_id", "_sh", F.explode(F.array(*chunk_structs)).alias("ck")
    ).select("_id", "_sh", "ck.chunk", "ck.key")
    a = blocked.select(
        "chunk", "key", F.col("_id").alias("id_a"), F.col("_sh").alias("sh_a")
    )
    b = blocked.select(
        "chunk", "key", F.col("_id").alias("id_b"), F.col("_sh").alias("sh_b")
    )
    return (
        a.join(b, ["chunk", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            hamming64(F.col("sh_a"), F.col("sh_b")).alias("hamming"),
        )
        .filter(F.col("hamming") <= F.lit(max_hamming))
        .dropDuplicates(["id_a", "id_b"])
    )


def embedding_near_dups(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    threshold: float = 0.95,
    num_planes: int = 12,
    num_tables: int = 1,
    dim: int | None = None,
    seed: int = 42,
) -> DataFrame:
    """Embedding near-duplicates: hyperplane-LSH bucket (cosine-
    preserving) then exact cosine inside buckets. Pairs with cosine ≥
    threshold.

    Recall tuning: P(two vectors at angle θ agree on one plane) is
    1-θ/π, so a single table of ``num_planes`` planes catches high-
    threshold pairs (θ small) with high probability; for moderate
    thresholds (θ approaching 60°) a single table misses, so use
    ``num_tables`` independent tables — a pair is a candidate if it
    collides in ANY table. Fewer planes per table = bigger buckets =
    more in-bucket exact work; more tables = more (cheap, parallel)
    buckets. The exact-cosine verify after bucketing means false
    positives cost only compute, never correctness.

    Execution is Arrow-vectorized end-to-end, never per-pair:
    - ONE pandas_udf computes all T bucket ids per vector (an
      n×dim @ dim×(T·planes) numpy matmul, sign-packed per table);
    - candidates verify per (table, bucket) group via applyInPandas —
      a normalized Gram matrix per bucket, emitting only pairs above
      threshold. Work is proportional to Σ bucket², the LSH design
      quantity, and each bucket is an independent task — no all-pairs
      join at any point.
    """
    from pyspark.sql.functions import pandas_udf

    if dim is None:
        dim = len(df.select(vec_col).first()[0])
    rng = random.Random(seed)
    # (T*P, dim) plane matrix; one matmul buckets every table at once
    plane_mat = np.array(
        [
            [rng.gauss(0, 1) for _ in range(dim)]
            for _ in range(num_tables * num_planes)
        ]
    )
    shifts = np.arange(num_planes, dtype=np.int64)

    @pandas_udf("array<int>")
    def _buckets(vs: pd.Series) -> pd.Series:
        v = np.stack([np.asarray(x, dtype=np.float64) for x in vs])
        bits = (v @ plane_mat.T) > 0  # n x (T*P)
        per_table = bits.reshape(len(v), num_tables, num_planes)
        keys = (per_table.astype(np.int64) << shifts).sum(axis=2)
        return pd.Series(list(keys.astype(np.int32)))

    # Deliberately NOT fanned out (operators/parallelism.py):
    # measured interleaved A/B at sf0.1 put q43 at 0.72 s without vs
    # 0.95 s with a pre-bucket repartition — the pandas-UDF bucketing
    # is cheap per row and the groupBy(_t, _bucket) exchange already
    # spreads the pair verification, so shuffling raw vectors first
    # only adds cost.
    id_type = dict(df.dtypes)[id_col]
    bucketed = df.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        F.posexplode(_buckets(F.col(vec_col))).alias("_t", "_bucket"),
    )

    def _bucket_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "cos": []})
        ids = pdf["_id"].to_numpy()
        v = np.stack([np.asarray(x, dtype=np.float64) for x in pdf["_v"]])
        norms = np.linalg.norm(v, axis=1)
        norms[norms == 0.0] = 1.0
        vn = v / norms[:, None]
        g = vn @ vn.T
        ia, ib = np.triu_indices(n, 1)
        cos_vals = g[ia, ib]
        keep = cos_vals >= threshold
        ia, ib, cos_vals = ia[keep], ib[keep], cos_vals[keep]
        lo = np.minimum(ids[ia], ids[ib])
        hi = np.maximum(ids[ia], ids[ib])
        return pd.DataFrame({"id_a": lo, "id_b": hi, "cos": cos_vals})

    pairs = bucketed.groupBy("_t", "_bucket").applyInPandas(
        _bucket_pairs, schema=f"id_a {id_type}, id_b {id_type}, cos double"
    )
    return pairs.dropDuplicates(["id_a", "id_b"])


def minimizers(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 8,
    w: int = 4,
) -> DataFrame:
    """(w,k)-minimizer selection — the winnowing fingerprint scheme
    (Schleimer/Wilkerson/Aiken, *Winnowing: Local Algorithms for
    Document Fingerprinting*, SIGMOD 2003; minimizers: Roberts et al.,
    Bioinformatics 2004): from every window of ``w`` consecutive
    ``k``-grams, keep the smallest gram; the union of selections is a
    position-robust document sketch (~1/w of all grams) with the
    guarantee that any shared substring of length >= w+k-1 yields at
    least one shared fingerprint.

    Engine-portable determinism: grams are ordered LEXICOGRAPHICALLY
    on the raw substring (binary UTF-8 collation in both Spark and
    DuckDB) with the position as an lpad-suffix tie-break (leftmost
    minimum wins) — no hash function has to match across engines.

    Scale shape: position explode (scan-side, no shuffle), ONE hash
    exchange on ``id_col`` for the per-doc ordered frame window (rows
    are id + pos + k chars, text never shuffles whole), frame min,
    distinct on the selected keys. Output: (id, pos, gram) per
    selected fingerprint.

    A/B'd (r7) against a ZERO-shuffle expression-level variant
    (per-doc gram array -> per-window struct min -> adjacent-dedup
    filter, with the arrays bound as lambda VARIABLES via the
    ``transform(array(X), v -> body)[0]`` let idiom — necessary
    because CollapseProject inlines a single-reference projection
    INTO a consuming lambda, re-evaluating it per element, O(n^2);
    measured: the naive two-projection form never finished at
    sf0.1). Exact-equal output (symdiff 0); timings 2.4-2.8s vs this
    version's 2.1-2.5s at sf0.1 — the per-window slice/least
    allocations cost more than the short-row exchange locally, so
    the window form stays production.
    """
    from kaflow_spark.operators.parallelism import fan_out

    n_grams = F.length(F.col(text_col)) - k + 1
    pos_gram = (
        fan_out(df, id_col)
        .filter(F.length(F.col(text_col)) >= k + w - 1)
        .select(
            F.col(id_col),
            n_grams.alias("_n"),
            F.explode(F.sequence(F.lit(0), n_grams - 1)).alias("pos"),
            F.col(text_col).alias("_t"),
        )
        .select(
            id_col,
            "_n",
            "pos",
            F.expr(f"substring(_t, pos + 1, {k})").alias("gram"),
        )
    )
    # struct(gram, pos) min == lexicographic gram with leftmost-pos
    # tie-break (grams are all exactly k chars, so string-concat and
    # field-wise struct ordering agree) — but the struct key skips a
    # concat + lpad per POSITION and the substring decode per
    # selection: measured ~13% faster at sf0.1 than the string key.
    win = Window.partitionBy(id_col).orderBy("pos").rowsBetween(0, w - 1)
    # the start filter must sit ABOVE the window: a filter below it
    # removes the last w-1 grams from the window INPUT, silently
    # truncating every tail window (the final w-1 grams of a document
    # could then never be selected, and a shared substring at a doc
    # tail could yield no shared fingerprint — breaking the winnowing
    # guarantee; caught r6 by diffing against an independent
    # expression-level implementation)
    sel = (
        pos_gram.select(
            id_col,
            "pos",
            "_n",
            F.min(F.struct(F.col("gram"), F.col("pos"))).over(win).alias("_mk"),
        )
        .filter(F.col("pos") <= F.col("_n") - w)
        .select(id_col, "_mk")
        .distinct()
    )
    return sel.select(
        id_col,
        F.col("_mk.pos").cast("bigint").alias("pos"),
        F.col("_mk.gram").alias("gram"),
    )


def _hamming_banded(
    df: DataFrame, id_col: str, key_col: str, max_dist: int
) -> DataFrame:
    """Shared two-level-pigeonhole banding for the Hamming family:
    ``(_id, _k, _len, chunk, proj)`` with one row per (record,
    blocking key). See :func:`hamming_pairs` for the recall proof."""
    from itertools import product as _product

    from kaflow_spark.operators.parallelism import fan_out

    c = max_dist + 1
    projs = [
        F.expr(
            f"array_join(filter(transform(sequence(1, length(_k)), i -> "
            f"CASE WHEN (i - 1) % {c} = {j} OR ((i - 1) div {c}) % {c} = {k} "
            f"THEN substring(_k, i, 1) END), x -> x IS NOT NULL), '')"
        ).alias(f"_p{j}_{k}")
        for j, k in _product(range(c), range(c))
    ]
    keyed = fan_out(df, id_col).select(
        F.col(id_col).alias("_id"), F.col(key_col).alias("_k")
    ).select("_id", "_k", F.length("_k").alias("_len"), *projs)
    chunk_structs = F.array(
        *[
            F.struct(
                F.lit(j * c + k).alias("chunk"),
                F.col(f"_p{j}_{k}").alias("proj"),
            )
            for j, k in _product(range(c), range(c))
        ]
    )
    return keyed.select(
        "_id", "_k", "_len", F.explode(chunk_structs).alias("b")
    ).select("_id", "_k", "_len", "b.chunk", "b.proj")


def hamming_capped_buckets(
    df: DataFrame,
    id_col: str,
    key_col: str,
    *,
    max_dist: int = 1,
    max_bucket: int = 10_000,
) -> DataFrame:
    """Side-channel for :func:`hamming_pairs`'s ``max_bucket`` guard:
    every blocking bucket the cap WOULD drop, as ``(chunk, key_len,
    proj, bucket_n)`` — the q168 skew-report idiom applied to the
    Hamming blocker, so recall loss is observable instead of silent.

    An empty result certifies recall 1 for the same (df, max_dist,
    max_bucket) arguments; a non-empty one names the degenerate
    cohorts (typically massive equal-key groups — pre-dedup those, or
    raise the cap) before any pair they carry is silently dropped.
    One groupBy over the banded frame — strictly cheaper than the
    pair join it audits."""
    banded = _hamming_banded(df, id_col, key_col, max_dist)
    return (
        banded.groupBy(
            "chunk", F.col("_len").alias("key_len"), "proj"
        )
        .agg(F.count(F.lit(1)).alias("bucket_n"))
        .filter(F.col("bucket_n") > max_bucket)
    )


def hamming_pairs(
    df: DataFrame,
    id_col: str,
    key_col: str,
    *,
    max_dist: int = 1,
    max_bucket: int = 10_000,
    keep_keys: bool = False,
) -> DataFrame:
    """Fuzzy ENTITY-KEY matching: all equal-length pairs whose keys
    differ in at most ``max_dist`` character positions (Hamming
    distance) — the typo/OCR-noise matcher entity resolution runs on
    codes, SKUs, and normalized names, where Jaccard-style shingles
    (MinHash above) are the wrong granularity.

    Exact-recall blocking by a TWO-LEVEL pigeonhole: level 1
    round-robin-splits characters into ``d+1`` interleaved chunks
    (char i -> chunk (i-1) mod (d+1)); any <= d substitutions leave
    some chunk j untouched, and then ALL errors lie in j's
    complement, which level 2 splits again into ``d+1`` groups by
    block index (((i-1) div (d+1)) mod (d+1)) — <= d errors hit <= d
    groups, so some group k is also untouched. The (d+1)^2 blocking
    keys are therefore each "chunk j + complement-group k" merged
    into ONE projection string covering (2d+1)/(d+1)^2 of the key
    (3/4 for d=1), and the (chunk, length, projection) equi-join has
    recall 1 by construction. The second level is the skew bound:
    one-level blocking keys cover only 1/(d+1) of the characters, and
    structured keys (shared prefixes, zero padding, sequential ids)
    collapse into huge buckets whose verify cost is quadratic —
    measured 1.8x faster end-to-end on TPC-H customer names at sf0.1,
    with the gap widening with skew. Interleaving still matters at
    both levels: contiguous chunks would put all of a key's entropy
    in one projection and none in the others. The verify stage
    recomputes the exact distance, so a brute-force oracle
    hash-attests the whole pipeline.

    Scale shape: the only shuffle is the blocking equi-join on
    (chunk, length, projection); singleton buckets are dropped before
    the join (no pair can come from them). ``max_bucket`` is a LAST
    RESORT guard against fully-degenerate buckets (e.g. massive
    equal-key cohorts): recall 1 holds ONLY while no bucket that a
    true pair depends on exceeds it — a capped bucket silently drops
    the pairs whose one untouched projection landed there. With the
    two-level keys covering 3/4 of the characters the default cap is
    far above anything a non-adversarial key distribution produces;
    raise it (or pre-dedup exact-equal keys) rather than accepting
    silent recall loss. Pairs colliding in several chunks dedupe
    through the final aggregate. Same-length only (Hamming);
    indel-tolerant matching needs the shifted-substring blocking of
    the Levenshtein family — out of scope here and stated so.

    Silent-loss observability: :func:`hamming_capped_buckets` shares
    this exact banding and REPORTS every bucket the cap would drop —
    run it (or the q168 skew-report idiom it mirrors) whenever the
    key distribution is untrusted, instead of discovering recall loss
    downstream.

    A cohort whose legitimate (sub-``max_bucket``) blocking bucket
    still exceeds a task's budget salts automatically, with the raw
    keys riding as payload: see
    :func:`~kaflow_spark.operators.skew.bucket_pairs`."""
    banded = _hamming_banded(df, id_col, key_col, max_dist)
    counted = banded.withColumn(
        "_bn", F.count(F.lit(1)).over(Window.partitionBy("chunk", "_len", "proj"))
    ).filter((F.col("_bn") >= 2) & (F.col("_bn") <= max_bucket))
    # the default last-resort cap (10k) still admits a 50M-pair bucket
    # — far over the task budget — so the probe is real here: one
    # bounded max(_bn) over the banding lineage
    cand = bucket_pairs(
        counted,
        ["chunk", "_len", "proj"],
        "_id",
        payload_cols=["_k"],
        known_cap=max_bucket,
        count_col="_bn",
        # banding lineage (fan-out + window) is expensive enough that
        # probe-materializes-cache BEATS the salt=1 reused exchange:
        # 2.01 vs 2.23 s at sf0.1 (vs 2.88 s when the probe re-ran the
        # lineage — the round-11 regression)
        persist_keyed=True,
    ).select(
        "id_a", "id_b", F.col("_k_a").alias("_ka"), F.col("_k_b").alias("_kb")
    )
    if max_dist == 1:
        # d=1 fast path: for EQUAL-LENGTH strings, levenshtein <= 1
        # iff hamming <= 1, and the values coincide on that range (a
        # single edit between equal lengths must be a substitution;
        # shifts only pay off at distance >= 2, e.g. 'abc'->'bca' is
        # hamming 3 / lev 2). levenshtein is a codegen'd JVM builtin
        # while the per-char fold is an interpreted higher-order
        # aggregate — measured 2.99 -> 2.58 s on q146 at sf0.1
        # (identical 262,500-pair output asserted in the A/B).
        ham = F.levenshtein("_ka", "_kb").cast("bigint")
    else:
        ham = F.expr(
            "aggregate(transform(sequence(1, length(_ka)), i -> "
            "CASE WHEN substring(_ka, i, 1) = substring(_kb, i, 1) "
            "THEN 0 ELSE 1 END), 0, (acc, v) -> acc + v)"
        ).cast("bigint")
    # Dedup BEFORE verify — measured 2-4x faster than verify-first at
    # sf0.1 despite shuffling more rows: a filter on the interpreted
    # aggregate(transform(...)) expression plants it in the join's
    # post-condition AND re-evaluates it under the downstream
    # distinct's inferred isnotnull (the CLAUDE.md no-cross-operator-
    # subexpression-elimination trap), tripling the per-char work;
    # after the groupBy the expression evaluates exactly once per
    # candidate pair.
    out = (
        cand.groupBy("id_a", "id_b")
        .agg(F.first("_ka").alias("_ka"), F.first("_kb").alias("_kb"))
        .select(
            "id_a",
            "id_b",
            ham.alias("hamming"),
            # keep_keys: downstream verifies that need the raw keys
            # (the dHash bit-distance refine) read them off the pair
            # row instead of re-joining the corpus-sized key table
            *(
                [
                    F.col("_ka").alias("key_a"),
                    F.col("_kb").alias("key_b"),
                ]
                if keep_keys
                else []
            ),
        )
        .filter(F.col("hamming") <= max_dist)
    )
    return out


def wordgram_shingle_frame(
    df: DataFrame, id_col: str, text_col: str, n: int = 5
) -> DataFrame:
    """Persisted ``(_sid, _sh)`` frame of distinct WORD-``n``-gram
    hashes — the word-grain sibling of :func:`shingle_frame` for
    similarity joins whose discriminating signal is document
    frequency (q159's prefix filter: the char-shingle vocabulary on
    word-soup corpora is tiny and uniformly frequent, measured ~2k
    distinct values at df~50, while word grams are near-unique per
    document). Words array and gram array are materialized as
    separate projections (trap 1: lambdas re-evaluate referenced
    subtrees per element). Memoized like :func:`shingle_frame`
    (released by :func:`release_shingle_frames`)."""
    from kaflow_spark.operators.curation import word_ngrams, words_of

    def build() -> DataFrame:
        w = df.select(
            F.col(id_col).alias("_sid"), words_of(text_col).alias("_w")
        )
        return w.select("_sid", word_ngrams("_w", n).alias("_g")).select(
            "_sid",
            F.transform(F.col("_g"), lambda g: F.xxhash64(g)).alias("_sh"),
        )

    key = memo.plan_key(df, "word", id_col, text_col, n)
    return memo.persisted("shingles", key, build)


def intra_doc_repetition(
    df: DataFrame, id_col: str, text_col: str, *, min_len: int = 15
) -> DataFrame:
    """Per-document duplicated-window coverage (the Gopher "fraction
    of characters in duplicate n-grams" repetition filter, Rae et al.
    2021 — the INTRA-document sibling of the corpus-level
    duplicated_spans): the share of each document's characters lying
    inside maximal spans whose ``min_len``-char window repeats WITHIN
    that same document. Returns ``(id, dup_chars, rep_bp)`` for every
    document (0 for clean ones); ``rep_bp`` is integer basis points of
    the document length.

    Strictly cheaper than the corpus-level operator: the occurrence
    count partitions by (id, hash), so window-hash rows shuffle by
    DOCUMENT — a per-doc-bounded partition no corpus-wide boilerplate
    key can skew."""
    spans = duplicated_span_ranges(
        df, id_col, text_col, min_len=min_len, within_doc=True
    )
    per = spans.groupBy(id_col).agg(
        F.sum(F.col("span_end") - F.col("span_start") + 1).alias("_dup")
    )
    base = df.select(F.col(id_col), F.length(F.col(text_col)).alias("_n"))
    return base.join(per, [id_col], "left").select(
        id_col,
        F.coalesce(F.col("_dup"), F.lit(0)).cast("bigint").alias("dup_chars"),
        F.expr("coalesce(_dup, 0) * 10000 div greatest(_n, 1)")
        .cast("bigint")
        .alias("rep_bp"),
    )


def minimizer_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 8,
    w: int = 4,
    min_shared: int = 5,
    max_df: int = 100,
    unit: str = "char",
) -> DataFrame:
    """Near-dup candidate pairs from shared winnowing fingerprints
    (the MOSS screen, Schleimer et al. SIGMOD 2003) — the FOURTH
    candidate-generation family: MinHash banding samples the shingle
    set probabilistically, SimHash chunks a vote signature, prefix
    filtering keys on globally-rare grams; winnowing keys on
    POSITION-LOCAL minima, which makes its guarantee substring-based:
    any shared run of >= w+k-1 characters yields at least one shared
    fingerprint, so high-Jaccard pairs (which share long runs) share
    MANY and a ``min_shared`` count threshold screens the noise
    floor. Join is equi-keyed on the gram; only (id, gram) rows
    shuffle (~1/w of all grams by the winnowing density bound).
    ``max_df`` drops fingerprints shared by more than that many
    documents before the join — MOSS's own over-common-fingerprint
    filter: a gram appearing in thousands of documents is corpus
    boilerplate carrying no pair-specific signal, and its f² join
    fan-out is exactly the quadratic flood the screen exists to
    avoid (measured: without it, a low-vocabulary corpus at sf0.1
    turns the join into billions of rows). Recall is therefore
    conditional on true pairs sharing at least ``min_shared``
    sub-``max_df`` fingerprints — attested by the exact oracle at
    both test SFs (a miss fails the row compare).

    ``unit`` picks the alphabet: ``'char'`` (the q118 fingerprints)
    or ``'word'`` (:func:`word_minimizers`) — on low-vocabulary
    corpora char-gram document frequency is uniformly huge and the
    cap would have to discard most fingerprints (measured recall
    loss at sf0.1), while word grams are near-unique per document,
    so the word unit keeps both recall and a sparse join.

    A sub-``max_df`` fingerprint whose bucket still dominates a task
    salts automatically (each shared gram still yields one (gram,
    pair) row, so ``shared`` is unchanged): see
    :func:`~kaflow_spark.operators.skew.bucket_pairs`.

    Returns (id_a, id_b, shared) with id_a < id_b."""
    # word grain uses the hashed (MOSS/robust-winnowing) selection:
    # 8-byte gram keys through the window min, distinct, df count and
    # self-join, no per-position gram strings (r14, measured; recall
    # on run-sharing pairs is order-independent — see word_minimizers)
    if unit == "word":
        sel = word_minimizers(df, id_col, text_col, k=k, w=w, hashed=True)
    else:
        sel = minimizers(df, id_col, text_col, k=k, w=w)
    sel = sel.select(F.col(id_col).alias("_mid"), "gram").distinct()
    rare = sel.groupBy("gram").agg(F.count(F.lit(1)).alias("_df")).filter(
        F.col("_df") <= max_df
    )
    sel = sel.join(rare.select("gram"), "gram")
    # max_df (default 100 => <5k pairs/bucket) is an algebraic cap —
    # the common case resolves to salt 1 with no probe
    cand = bucket_pairs(sel, ["gram"], "_mid", known_cap=max_df)
    return (
        cand.groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared"))
        .filter(F.col("shared") >= min_shared)
    )


def word_minimizers(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 5,
    w: int = 4,
    hashed: bool = False,
) -> DataFrame:
    """(w,k)-minimizer selection at the WORD grain: from every window
    of ``w`` consecutive word-``k``-grams keep the lexicographically
    smallest (leftmost-position tie-break) — the winnowing scheme of
    :func:`minimizers` with words as the alphabet. Same guarantee,
    re-based: any shared run of >= w+k-1 WORDS yields a shared
    fingerprint. The word grain is the right feature when character
    grams have no document-frequency discrimination (low-vocabulary
    corpora — the q159 lesson: char-gram df is uniformly huge, word
    grams are near-unique per document, so downstream joins stay
    sparse). Plan shape identical to the char version: position
    explode, one id shuffle, frame min, distinct — and the full-window
    start filter sits ABOVE the window (the tail-truncation trap
    fixed in the char operator).

    ``hashed=True`` (r14, the MOSS/robust-winnowing variant) selects
    by 64-bit gram HASH order instead of lexicographic order and
    emits ``gram`` as a bigint ``xxhash64`` key: per-word hashes are
    materialized once per document and each position hashes k longs —
    no per-position gram STRING is ever built, and every downstream
    distinct/df-count/join runs on 8-byte keys. The winnowing
    guarantee is ORDER-INDEPENDENT (any shared run >= w+k-1 words
    yields a window with identical contents in both documents, whose
    minimum — under any fixed total order — is the same gram), so
    candidate recall on run-sharing pairs is preserved exactly; which
    incidental (non-run) grams get selected differs, which is why the
    default stays lexicographic for the engine-portable q118
    fingerprint contract. Hash collisions only MERGE distinct grams
    (equal grams always hash equal): they can add candidates, never
    lose them."""
    from kaflow_spark.operators.curation import words_of
    from kaflow_spark.operators.parallelism import fan_out

    wdf = fan_out(df, id_col).select(
        F.col(id_col), words_of(text_col).alias("_w")
    )
    n_grams = F.size(F.col("_w")) - (k - 1)
    gram_expr = (
        F.expr(f"xxhash64(slice(_xw, pos + 1, {k}))")
        if hashed
        else F.expr(f"array_join(slice(_w, pos + 1, {k}), ' ')")
    )
    if hashed:
        # per-word hashes ONCE per document (trap 1: a raw _w slice
        # hash would re-tokenize nothing, but hashing k strings per
        # position costs ~6x hashing k longs; the word-hash array is
        # its own projection so it is evaluated once, not per element)
        wdf = wdf.select(
            id_col, "_w", F.expr("transform(_w, x -> xxhash64(x))").alias("_xw")
        )
    pos_gram = (
        wdf.filter(F.size(F.col("_w")) >= k + w - 1)
        .select(
            id_col,
            n_grams.alias("_n"),
            F.explode(F.sequence(F.lit(0), n_grams - 1)).alias("pos"),
            *(["_xw"] if hashed else ["_w"]),
        )
        .select(
            id_col,
            "_n",
            "pos",
            gram_expr.alias("gram"),
        )
    )
    win = Window.partitionBy(id_col).orderBy("pos").rowsBetween(0, w - 1)
    sel = (
        pos_gram.select(
            id_col,
            "pos",
            "_n",
            F.min(F.struct(F.col("gram"), F.col("pos"))).over(win).alias("_mk"),
        )
        .filter(F.col("pos") <= F.col("_n") - w)
        .select(id_col, "_mk")
        .distinct()
    )
    return sel.select(
        id_col,
        F.col("_mk.pos").cast("bigint").alias("pos"),
        F.col("_mk.gram").alias("gram"),
    )


def near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    method: str = "minhash",
    threshold: float = 0.9,
) -> DataFrame:
    """One-call near-duplicate PAIR detection: candidate generation by
    ``method``, then the shared exact char-5-gram Jaccard verify at
    ``threshold`` — the single entry point over the four independent
    generator families this module implements (each oracle-attested to
    produce the identical verified pair set on the test corpus):

    - ``'minhash'``  — 64-hash signatures, 16-band bucket join
      (probabilistic recall, quantified per threshold)
    - ``'simhash'``  — 64-bit vote signature, pigeonhole chunk blocking
      (recall guaranteed up to a Hamming radius)
    - ``'prefix'``   — AllPairs/PPJoin word-gram prefix filtering
      (deterministic recall 1 by the prefix lemma)
    - ``'winnow'``   — MOSS word-minimizer fingerprints
      (recall via the shared-substring winnowing guarantee)

    Returns ``(id_a, id_b, jaccard)`` with ``id_a < id_b``.  The
    verify stage makes precision exact for every method; they differ
    only in candidate-generation cost profile and recall argument —
    pick by corpus shape (see each generator's docstring)."""
    d = df
    if method == "minhash":
        sh = shingle_frame(d, id_col, text_col, 5)
        cand = (
            minhash_lsh_candidates(
                d, id_col, text_col, min_bands=2, shingles=sh
            )
            .filter(F.col("est_jaccard") >= F.lit(max(0.0, threshold - 0.2)))
            .select("id_a", "id_b")
        )
    elif method == "simhash":
        sh = shingle_frame(d, id_col, text_col, 5)
        cand = simhash_near_dups(
            d, id_col, text_col, ngram=5, max_hamming=10, block_bits=8,
            shingles=sh,
        ).select("id_a", "id_b")
    elif method == "prefix":
        sh = wordgram_shingle_frame(d, id_col, text_col, 5)
        cand = prefix_filter_candidates(sh, min(threshold, 0.5))
        # prefix candidates are word-gram based; verify below re-scores
        # on char shingles, so rebuild the char frame for the verify
        sh = shingle_frame(d, id_col, text_col, 5)
    elif method == "winnow":
        cand = minimizer_candidates(
            d, id_col, text_col, k=5, w=4, min_shared=1, unit="word"
        ).select("id_a", "id_b")
        sh = shingle_frame(d, id_col, text_col, 5)
    else:
        raise ValueError(
            f"unknown method {method!r}: expected minhash|simhash|prefix|winnow"
        )
    return ngram_jaccard_pairs(d, cand, id_col, text_col, shingles=sh).filter(
        F.col("jaccard") >= F.lit(threshold)
    )


def dedup_corpus(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    method: str = "minhash",
    threshold: float = 0.9,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """End-to-end near-duplicate REMOVAL: detect pairs
    (:func:`near_dup_pairs` via ``method``), cluster them (connected
    components — the min-member label IS the canonical keeper), and
    return ``df`` minus every non-canonical duplicate.  The one-call
    composition of the pipeline the declared queries attest piecewise
    (q41/q42/q159/q164 pairs -> q83 clusters -> q137 keeper).

    ``pairs`` short-circuits detection with a caller-provided
    ``(id_a, id_b, ...)`` frame (e.g. one already computed for a
    report). Scale shape: everything upstream is the attested
    operators; the removal itself is one LEFT ANTI join against the
    (tiny by construction) drop-list of non-canonical members."""
    from kaflow_spark.operators.graph import connected_components

    p = (
        pairs
        if pairs is not None
        else near_dup_pairs(
            df, id_col, text_col, method=method, threshold=threshold
        )
    )
    cc = connected_components(p.select("id_a", "id_b"), "id_a", "id_b")
    drop = cc.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )
    return df.join(drop, [id_col], "left_anti")
