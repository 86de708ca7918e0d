"""Similarity search over embedding columns.

- ``cosine_topk``: brute-force exact top-k for one query vector — a
  single scan + TakeOrderedAndProject (per-partition heaps, O(k)
  driver transfer). This is the correctness baseline and is itself
  scan-bound at scale (no shuffle at all).
- ``ann_topk``: hyperplane-LSH bucketed approximate top-k — prunes
  the scan to buckets within a hamming radius of the query's
  signature. The scale path when the corpus is 100 TB: bucket id is
  a partition-prunable key if the table is written bucketed/
  partitioned by it.
- ``similarity_join``: all-pairs ≥-threshold join, LSH-bucketed.
"""

from __future__ import annotations

import itertools
import random

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F

from kaflow_spark.functions.vectors import cosine, hyperplane_sign_bits
from kaflow_spark.operators import memo


def _query_lit(query: list[float]) -> F.Column:
    return F.array(*[F.lit(float(x)) for x in query])


def cosine_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query: list[float],
    k: int = 10,
    round_digits: int | None = 6,
) -> DataFrame:
    """Exact brute-force cosine top-k. Scores optionally rounded so
    ordering is reproducible across engines; ties break on id."""
    score = cosine(F.col(vec_col), _query_lit(query))
    if round_digits is not None:
        score = F.round(score, round_digits)
    return (
        df.select(F.col(id_col), score.alias("score"))
        .orderBy(F.col("score").desc(), F.col(id_col))
        .limit(k)
    )


def make_planes(dim: int, num_planes: int, seed: int = 42) -> list[list[float]]:
    rng = random.Random(seed)
    return [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(num_planes)]


def _signature_of(query: list[float], planes: list[list[float]]) -> int:
    sig = 0
    for i, p in enumerate(planes):
        if sum(a * b for a, b in zip(query, p)) >= 0:
            sig |= 1 << i
    return sig


def ann_candidates(
    df: DataFrame,
    vec_col: str,
    query: list[float],
    *,
    num_planes: int = 8,
    probe_hamming: int = 1,
    num_tables: int = 4,
    seed: int = 42,
    use_arrow: bool = True,
) -> DataFrame:
    """Candidate set for hyperplane-LSH ANN: rows whose signature in
    AT LEAST ONE of ``num_tables`` independent tables lands within
    ``probe_hamming`` bits of the query's signature (multi-probe,
    union-of-tables — the standard L-tables construction: per-table
    recall p becomes 1-(1-p)^L overall, bought with an L-way-OR
    filter instead of more per-table probes whose bucket volume grows
    combinatorially). Everything is JVM expressions over plan-literal
    planes — no shuffle, no UDF. At rest, store the table-0 signature
    as the partition column (partition pruning serves its IN-list)
    and the remaining signatures as ordinary columns whose min/max
    parquet stats give file-level skipping for the OR terms.

    Recall is data-dependent and NOT a constructive guarantee (unlike
    the Hamming/pigeonhole blocking): on a uniform sphere with
    neighbours barely closer than random (the adversarial case — the
    test fixture measures cos(top-10) ~ 0.33 vs ~0 mean), candidate
    selectivity s buys only ~s + 0.3 recall@10 no matter the scheme;
    on real clustered embeddings the same settings prune hard at high
    recall. tests/test_ann_recall.py pins BOTH measured points.

    Execution: the membership test runs as ONE Arrow-batched numpy
    kernel — a single (batch x dim) @ (dim x tables*planes) matmul,
    sign-pack, probe-set isin — because the pure-expression form is
    ``num_tables * num_planes`` interpreted dot-folds per row and was
    MEASURED 10x slower than the exact brute-force rerank it exists
    to avoid (2.2 s vs 0.2 s at sf0.1, linear in num_tables — the
    CLAUDE.md "UDFs are the slow path" rule cuts the other way here,
    exactly like the MinHash/SimHash signature kernels). Set
    ``use_arrow=False`` for the pure-JVM expression fallback
    (Arrow-less environments) — semantically identical; only a dot
    product landing within one ulp of exactly 0 could flip a bit
    between numpy's and the fold's summation orders, and the planes
    are random gaussians."""
    tables = []
    for t in range(num_tables):
        planes = make_planes(len(query), num_planes, seed + 1000 * t)
        qsig = _signature_of(query, planes)
        probes = {qsig}
        for r in range(1, probe_hamming + 1):
            for bits in itertools.combinations(range(num_planes), r):
                flipped = qsig
                for b in bits:
                    flipped ^= 1 << b
                probes.add(flipped)
        tables.append((planes, sorted(probes)))

    if not use_arrow:
        cond = None
        for planes, probes in tables:
            hit = hyperplane_sign_bits(vec_col, planes).isin(*probes)
            cond = hit if cond is None else (cond | hit)
        return df.filter(cond)

    from pyspark.sql.functions import pandas_udf

    all_planes = np.array(
        [p for planes, _ in tables for p in planes], dtype=np.float64
    )  # (num_tables*num_planes, dim)
    probe_arrays = [np.array(probes, dtype=np.int64) for _, probes in tables]
    weights = (1 << np.arange(num_planes, dtype=np.int64))

    @pandas_udf("boolean")
    def _hit(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:  # np.vstack raises on an empty batch
            return pd.Series([], dtype=bool)
        x = np.vstack(vecs.to_numpy())  # (batch, dim)
        bits = (x @ all_planes.T) >= 0  # (batch, T*P)
        ok = np.zeros(len(x), dtype=bool)
        for t, probes in enumerate(probe_arrays):
            sig = bits[:, t * num_planes : (t + 1) * num_planes] @ weights
            ok |= np.isin(sig, probes)
        return pd.Series(ok)

    return df.filter(_hit(F.col(vec_col)))


def ann_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query: list[float],
    k: int = 10,
    *,
    num_planes: int = 8,
    probe_hamming: int = 1,
    num_tables: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: exact cosine rerank restricted to
    :func:`ann_candidates` (multi-probe, multi-table LSH)."""
    pruned = ann_candidates(
        df,
        vec_col,
        query,
        num_planes=num_planes,
        probe_hamming=probe_hamming,
        num_tables=num_tables,
        seed=seed,
    )
    return cosine_topk(pruned, vec_col, id_col, query, k)


def ivf_fit(
    df: DataFrame,
    vec_col: str,
    *,
    n_lists: int = 16,
    sample: int = 10_000,
    iters: int = 10,
    seed: int = 42,
) -> list[list[float]]:
    """Fit an IVF coarse quantizer: plain k-means on a driver-side
    sample (numpy, seeded — the sample is tiny next to the corpus; the
    expensive part, assignment, stays distributed)."""
    total = df.count()
    frac = min(1.0, sample / max(total, 1))
    # fraction= and seed= MUST be keywords: positional `sample(frac,
    # seed=seed)` binds frac to withReplacement, and PySpark's
    # overload shim then treats the call as the seedless
    # `sample(fraction)` form and SILENTLY DISCARDS the seed — the
    # sampled set was random per call (measured: two same-seed calls
    # on one plan returned different sets; this was the r12 residual
    # nondeterminism the lexsort canonicalization could not fix)
    rows = df.select(vec_col).sample(fraction=frac, seed=seed).collect()
    x = np.array([r[0] for r in rows], dtype=np.float64)
    # canonicalize sample ORDER before the seeded init: collect()
    # returns partition order, which can shift with scan packing —
    # k-means at low nprobe is init-sensitive enough that SCALING's
    # fixed-nprobe recall rows drifted 1.00 <-> 0.70 between runs of
    # identical code. Lexsort makes the fit a pure function of the
    # sampled SET (the set itself is pinned by the per-partition
    # Bernoulli seed on a fixed plan); k-means++ seeding (greedy
    # spread in cosine distance) then replaces the plain random init,
    # whose quality was the luck the old run-to-run drift rode.
    if len(x):
        x = x[np.lexsort(x.T)]
    rng = np.random.RandomState(seed)
    k = min(n_lists, len(x))
    xn0 = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    idx = [int(rng.randint(len(x)))]
    best_dot = xn0 @ xn0[idx[0]]
    for _ in range(1, k):
        d2 = np.maximum(1.0 - best_dot, 0.0) ** 2
        tot = d2.sum()
        if tot <= 0:
            # degenerate (all points equal): fall back to first k
            idx = list(range(k))
            break
        nxt = int(rng.choice(len(x), p=d2 / tot))
        idx.append(nxt)
        best_dot = np.maximum(best_dot, xn0 @ xn0[nxt])
    cents = x[np.array(idx[:k])].copy()
    for _ in range(iters):
        # cosine k-means: normalize then nearest-by-dot
        cn = cents / np.maximum(np.linalg.norm(cents, axis=1, keepdims=True), 1e-12)
        xn = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
        assign = (xn @ cn.T).argmax(axis=1)
        for c in range(len(cents)):
            members = x[assign == c]
            if len(members):
                cents[c] = members.mean(axis=0)
    return [list(map(float, c)) for c in cents]


def ivf_assign(df: DataFrame, vec_col: str, centroids: list[list[float]]) -> DataFrame:
    """Assign each vector to its nearest centroid (cosine) — Arrow-batched
    numpy, one matmul per batch. Adds an ``_ivf_list`` column; at rest
    the table would be partitioned by it for pruning."""
    from pyspark.sql.functions import pandas_udf

    cents = np.array(centroids, dtype=np.float64)
    cn = cents / np.maximum(np.linalg.norm(cents, axis=1, keepdims=True), 1e-12)

    @pandas_udf("int")
    def nearest(vecs: pd.Series) -> pd.Series:
        x = np.array(list(vecs), dtype=np.float64)
        xn = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
        return pd.Series((xn @ cn.T).argmax(axis=1).astype("int32"))

    return df.withColumn("_ivf_list", nearest(F.col(vec_col)))


def ivf_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query: list[float],
    k: int = 10,
    *,
    centroids: list[list[float]] | None = None,
    n_lists: int = 16,
    nprobe: int = 4,
    seed: int = 42,
) -> DataFrame:
    """IVF approximate top-k: probe the ``nprobe`` centroid lists
    nearest to the query, exact-rerank inside them. The list filter is
    an IN predicate — partition-prunable when the table is stored
    partitioned by ``_ivf_list`` (scan reads nprobe/n_lists of data).
    """
    pruned = ivf_candidates(
        df,
        vec_col,
        query,
        centroids=centroids,
        n_lists=n_lists,
        nprobe=nprobe,
        seed=seed,
    )
    return cosine_topk(pruned, vec_col, id_col, query, k)


def ivf_candidates(
    df: DataFrame,
    vec_col: str,
    query: list[float],
    *,
    centroids: list[list[float]] | None = None,
    n_lists: int = 16,
    nprobe: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Candidate set for IVF ANN: rows assigned to the ``nprobe``
    centroid lists nearest the query. Factored out of
    :func:`ivf_topk` so recall tests (and callers composing their own
    rerank) can measure candidate selectivity directly."""
    if centroids is None:
        centroids = ivf_fit(df, vec_col, n_lists=n_lists, seed=seed)
    cents = np.array(centroids, dtype=np.float64)
    cn = cents / np.maximum(np.linalg.norm(cents, axis=1, keepdims=True), 1e-12)
    q = np.array(query, dtype=np.float64)
    qn = q / max(np.linalg.norm(q), 1e-12)
    probes = (qn @ cn.T).argsort()[::-1][:nprobe].tolist()
    assigned = ivf_assign(df, vec_col, centroids)
    return assigned.filter(F.col("_ivf_list").isin(*[int(p) for p in probes]))


def ivf_assign_multi(
    df: DataFrame, vec_col: str, centroids: list[list[float]], p: int
) -> DataFrame:
    """Multi-assignment: each vector gets its ``p`` nearest centroid
    ids (cosine, descending) as an ``_ivf_lists`` array<int> — the
    soft-assignment SemDeDup-style screens use so near-neighbor pairs
    that straddle a Voronoi boundary still share a list. One Arrow
    matmul per batch (the :func:`ivf_assign` kernel, argpartition'd to
    p); assignment order within the array is by similarity then list
    id (deterministic)."""
    from pyspark.sql.functions import pandas_udf

    cents = np.array(centroids, dtype=np.float64)
    cn = cents / np.maximum(np.linalg.norm(cents, axis=1, keepdims=True), 1e-12)
    p = min(int(p), len(centroids))

    @pandas_udf("array<int>")
    def nearest_p(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        x = np.array(list(vecs), dtype=np.float64)
        xn = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
        sims = xn @ cn.T  # (batch, L)
        # top-p by (similarity desc, list id asc) — lexsort on
        # (-sims, ids) keeps the order deterministic under ties
        ids = np.arange(sims.shape[1])
        out = []
        for row in sims:
            order = np.lexsort((ids, -row))[:p]
            out.append(order.astype("int32"))
        return pd.Series(out)

    return df.withColumn("_ivf_lists", nearest_p(F.col(vec_col)))


def semantic_dup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    threshold: float = 0.95,
    centroids: list[list[float]] | None = None,
    n_lists: int = 16,
    assign_p: int = 2,
    seed: int = 42,
) -> DataFrame:
    """SemDeDup-style semantic near-duplicate pairs ``(id_a, id_b,
    cos)`` with exact cosine ≥ ``threshold`` — the embedding-space
    sibling of the lexical near-dup family (MinHash/SimHash/prefix/
    winnowing), per Abbas et al. 2023 (SemDeDup, arXiv:2303.09540):
    cluster with a coarse quantizer, enumerate pairs only WITHIN
    clusters, verify with exact cosine.

    Candidate generation is IVF multi-assignment
    (:func:`ivf_assign_multi`): each vector joins its ``assign_p``
    nearest of ``n_lists`` k-means lists, and a pair is a candidate
    iff some list contains both ends — never an all-pairs join. The
    exact verify makes precision 1; recall is the probability that a
    ≥-threshold pair shares one of each end's p lists. Measured on the
    fixture corpus at threshold 0.4 (an adversarially WIDE angle,
    ~66°): p=1 → 0.28-0.36, p=4 → 0.96-0.98, p=6 → 1.0 at all of
    sf0.001/0.01/0.1 (500-2000 vecs, 16 lists); production-threshold
    pairs (≥0.9, the SemDeDup regime) sit deep inside one Voronoi
    cell and p=2 suffices. tests/test_ann_recall.py pins the curve.

    Scale shape (the 100 TB story): the quantizer fit is the existing
    sampled k-means (:func:`ivf_fit`); assignment is one Arrow matmul
    pass; each list's verify is an independent task whose work is
    O((n·p/L)²) — ``n_lists`` is the lever that bounds per-task cost
    (SemDeDup runs L≈50k on web-scale corpora so clusters fit a
    worker). A hot list (quantizer drift piling mass into one cell)
    is handled like every lexical generator: the memoized
    :func:`~kaflow_spark.operators.skew.choose_bucket_salt` probes the
    hottest list, and its salt routes the in-list Gram through
    triangle-salted cells — each row hashes to a cell, every
    cell-pair forms an independent task, and the kernel counts a pair
    only in the one task matching the pair's own cells, so the output
    is salt-invariant by construction.

    Execution is Arrow-vectorized end to end: one matmul to assign,
    one normalized Gram matrix per (list, cell-pair) group emitting
    only ≥-threshold pairs, then a pair-level dropDuplicates (a pair
    may share several lists). Cosine values are computed in float64
    numpy; emit ids only into hashed outputs (the q43 discipline —
    the threshold decision is engine-stable, the last ulp of the
    value is not)."""
    from kaflow_spark.operators.skew import choose_bucket_salt

    if centroids is None:
        centroids = ivf_fit(df, vec_col, n_lists=n_lists, seed=seed)
    assigned = ivf_assign_multi(df, vec_col, centroids, assign_p)
    exploded = assigned.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        F.explode("_ivf_lists").alias("_list"),
    )
    salt = choose_bucket_salt(exploded, ["_list"], persist_keyed=True)

    # triangle replication (the salted_self_pairs construction): a row
    # in cell c participates in every cell-pair group containing c;
    # the kernel keeps a pair only when the pair's OWN unordered cell
    # set equals the group key, so each pair is counted exactly once
    cell = F.pmod(F.xxhash64(F.col("_id")), F.lit(salt)).cast("int")
    repl = exploded.withColumn("_cell", cell).select(
        "_id",
        "_v",
        "_list",
        "_cell",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(salt - 1)),
                lambda d: F.struct(
                    F.least(F.col("_cell"), d).alias("ca"),
                    F.greatest(F.col("_cell"), d).alias("cb"),
                ),
            )
        ).alias("_cp"),
    ).select("_id", "_v", "_list", "_cell", "_cp.ca", "_cp.cb")

    thr = float(threshold)
    id_type = dict(df.dtypes)[id_col]

    def _group_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "cos": []})
        ga, gb = int(pdf["ca"].iat[0]), int(pdf["cb"].iat[0])
        ids = pdf["_id"].to_numpy()
        cells = pdf["_cell"].to_numpy()
        v = np.stack([np.asarray(x, dtype=np.float64) for x in pdf["_v"]])
        norms = np.linalg.norm(v, axis=1)
        norms[norms == 0.0] = 1.0
        vn = v / norms[:, None]
        g = vn @ vn.T
        ia, ib = np.triu_indices(n, 1)
        keep = g[ia, ib] >= thr
        ia, ib = ia[keep], ib[keep]
        # a pair belongs to THIS group iff its own unordered cell set
        # is exactly (ga, gb) — same-cell pairs count only in (c, c)
        lo_c = np.minimum(cells[ia], cells[ib])
        hi_c = np.maximum(cells[ia], cells[ib])
        own = (lo_c == ga) & (hi_c == gb)
        ia, ib = ia[own], ib[own]
        cos_vals = g[ia, ib]
        lo = np.minimum(ids[ia], ids[ib])
        hi = np.maximum(ids[ia], ids[ib])
        return pd.DataFrame({"id_a": lo, "id_b": hi, "cos": cos_vals})

    pairs = repl.groupBy("_list", "ca", "cb").applyInPandas(
        _group_pairs, schema=f"id_a {id_type}, id_b {id_type}, cos double"
    )
    return pairs.dropDuplicates(["id_a", "id_b"])


def release_semantic_pair_frames() -> int:
    """Unpersist every shared semantic pair frame and return how many
    were released. Call it after rewriting a corpus they were built
    over (:mod:`~kaflow_spark.operators.memo`)."""
    return memo.release("semantic_pairs")


def semantic_pair_frame(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    threshold: float = 0.95,
    n_lists: int = 16,
    assign_p: int = 2,
    seed: int = 42,
) -> DataFrame:
    """Persisted VERIFIED semantic near-duplicate pair frame
    ``(id_a, id_b, cos)`` — :func:`semantic_dup_pairs` behind the
    explicit-sharing memo the lexical family uses
    (operators/dedup.verified_pair_frame): the q253-q256 suite all
    consume ONE IVF fit + multi-assignment + in-list verify
    materialization per (corpus plan, params) instead of each
    re-running the sampled k-means and the Arrow assignment pass. The
    pair set is churn-bounded and tiny next to the corpus; on a
    cluster this is the staged frame a production semantic-dedup
    suite persists once per corpus snapshot, exactly beside its
    lexical twin. Memoized in :mod:`~kaflow_spark.operators.memo` on
    the corpus plan + every recall-relevant knob;
    :func:`release_semantic_pair_frames` is the mutable-corpus escape
    hatch."""

    def build() -> DataFrame:
        return semantic_dup_pairs(
            df,
            id_col,
            vec_col,
            threshold=threshold,
            n_lists=n_lists,
            assign_p=assign_p,
            seed=seed,
        )

    key = memo.plan_key(
        df, id_col, vec_col, float(threshold), n_lists, assign_p, seed
    )
    return memo.persisted("semantic_pairs", key, build)


def similarity_join(
    left: DataFrame,
    right: DataFrame,
    vec_col: str,
    id_cols: tuple[str, str],
    *,
    threshold: float = 0.9,
    num_planes: int = 10,
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """≥-threshold cosine join between two embedding tables, bucketed
    by shared hyperplane signatures so the pairing is an equi-join."""
    if dim is None:
        dim = len(left.select(vec_col).first()[0])
    planes = make_planes(dim, num_planes, seed)
    lb = left.select(
        F.col(id_cols[0]).alias("id_l"),
        F.col(vec_col).alias("v_l"),
        hyperplane_sign_bits(vec_col, planes).alias("_bucket"),
    )
    rb = right.select(
        F.col(id_cols[1]).alias("id_r"),
        F.col(vec_col).alias("v_r"),
        hyperplane_sign_bits(vec_col, planes).alias("_bucket"),
    )
    return (
        lb.join(rb, "_bucket")
        .select(
            "id_l", "id_r", cosine(F.col("v_l"), F.col("v_r")).alias("cos")
        )
        .filter(F.col("cos") >= threshold)
    )


def hard_negatives(
    df: DataFrame,
    id_col: str,
    label_col: str,
    vec_col: str,
    query_ids: list[int],
    k: int = 5,
    round_digits: int | None = 6,
) -> DataFrame:
    """Hard-negative mining for contrastive/embedding training: for
    each query vector, the ``k`` most-similar corpus vectors whose
    label DIFFERS from the query's (the classic "hard negatives" a
    dual-encoder trainer pairs with each anchor).

    Plan shape, chosen for 100 TB: the query side (|Q| rows) is
    broadcast into a nested-loop join whose only predicate is the
    label inequality, so the corpus scans ONCE and each scanned row is
    scored against all |Q| queries JVM-side; the top-k stage then
    shuffles only (query_id, id, score) rows — ~24 bytes each,
    independent of vector width — for a per-query row_number window.
    Nothing all-pairs, no vector ever shuffles.
    """
    from pyspark.sql.window import Window

    q = df.filter(
        F.col(id_col).isin([int(i) for i in query_ids])
    ).select(
        F.col(id_col).alias("query_id"),
        F.col(label_col).alias("_q_label"),
        F.col(vec_col).alias("_q_vec"),
    )
    cand = df.select(id_col, label_col, vec_col)
    joined = cand.join(
        F.broadcast(q), F.col(label_col) != F.col("_q_label"), "inner"
    )
    score = cosine(F.col(vec_col), F.col("_q_vec"))
    if round_digits is not None:
        score = F.round(score, round_digits)
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col(id_col)
    )
    return (
        joined.select("query_id", F.col(id_col), score.alias("score"))
        .withColumn("neg_rank", F.row_number().over(w))
        .filter(F.col("neg_rank") <= int(k))
        .select("query_id", "neg_rank", id_col, "score")
    )


def ivf_list_stats(
    df: DataFrame, vec_col: str, centroids: list[list[float]]
) -> DataFrame:
    """IVF list-occupancy table ``(_ivf_list, n)`` — the health
    metric behind index maintenance: a quantizer fitted on yesterday's
    sample shows its age as occupancy drift (new mass crowding into
    few lists). One partial-agg'd pass over the assignment."""
    return (
        ivf_assign(df, vec_col, centroids)
        .groupBy("_ivf_list")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _multi_query_exact_topk(
    assigned: DataFrame,
    vec_col: str,
    id_col: str,
    queries: list[list[float]],
    k: int,
) -> DataFrame:
    """Exact cosine top-``k`` for MANY queries in ONE corpus pass:
    each Arrow batch scores all queries with a single matmul and
    emits only its batch-local top-k per query; a tiny global
    window over the partial winners (|partitions| * Q * k rows)
    finishes the job. Scores rounded to 6 digits, ties by id — the
    :func:`cosine_topk` determinism contract. Input must carry
    ``_ivf_list`` (from :func:`ivf_assign`) so the recall curve can
    be read off the ground truth without a second retrieval pass.

    Ground truth is the top-k DISTINCT-SCORE neighbors: equal
    rounded scores are (near-certainly) duplicate vectors, which
    share one assignment by construction — keeping them all would
    let a duplicate-heavy corpus (every top-k = k copies of the
    query, co-located in one list) report recall 1.0 at nprobe=1
    while genuinely-distinct neighborhoods go unmeasured (observed
    on the replicated scale fixture: the tuner returned m=1 and
    WORSENED planted recall). Deduping by score measures the
    neighborhood structure the index actually has to serve; on a
    duplicate-free corpus it changes nothing."""
    from pyspark.sql.window import Window

    qm = np.array(queries, dtype=np.float64)
    qn = qm / np.maximum(np.linalg.norm(qm, axis=1, keepdims=True), 1e-12)
    nq = len(queries)

    def kernel(it):
        for pdf in it:
            if not len(pdf):
                continue
            x = np.array(list(pdf[vec_col]), dtype=np.float64)
            xn = x / np.maximum(
                np.linalg.norm(x, axis=1, keepdims=True), 1e-12
            )
            s = np.round(xn @ qn.T, 6)  # B x Q
            ids = pdf[id_col].to_numpy()
            lists = pdf["_ivf_list"].to_numpy()
            out_q, out_i, out_l, out_s = [], [], [], []
            for qi in range(nq):
                order = np.lexsort((ids, -s[:, qi]))
                # batch-local distinct-score top-k (first occurrence
                # = smallest id at that score, matching the window)
                _, first = np.unique(-s[order, qi], return_index=True)
                order = order[np.sort(first)][:k]
                out_q.extend([qi] * len(order))
                out_i.extend(ids[order])
                out_l.extend(lists[order])
                out_s.extend(s[order, qi])
            yield pd.DataFrame(
                {
                    "qid": np.array(out_q, dtype=np.int32),
                    "_mq_id": np.array(out_i, dtype=np.int64),
                    "_mq_list": np.array(out_l, dtype=np.int32),
                    "score": np.array(out_s, dtype=np.float64),
                }
            )

    part = assigned.select(
        F.col(id_col), F.col("_ivf_list"), F.col(vec_col)
    ).mapInPandas(
        kernel, "qid int, _mq_id bigint, _mq_list int, score double"
    )
    # global distinct-score merge: one row per (qid, score), smallest
    # id wins (duplicate vectors share score AND list, so this is
    # lossless for the list-membership statistic)
    merged = part.groupBy("qid", "score").agg(
        F.min(F.struct("_mq_id", "_mq_list")).alias("_w")
    ).select("qid", "score", "_w._mq_id", "_w._mq_list")
    w = Window.partitionBy("qid").orderBy(
        F.desc("score"), F.asc("_mq_id")
    )
    return (
        merged.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def ivf_tune_nprobe(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    *,
    centroids: list[list[float]] | None = None,
    n_lists: int = 16,
    k: int = 10,
    n_queries: int = 20,
    target_recall_bp: int = 9500,
    seed: int = 42,
) -> dict:
    """Self-probing nprobe auto-tuner — the maintenance operator that
    operationalizes the measured SCALING rule "probe more, not
    finer": as a corpus outgrows its quantizer fit, FIXED-nprobe
    recall decays; the recovery lever is probing more lists, and this
    measures how many, with no hand tuning.

    Mechanism (one corpus pass, no per-nprobe re-retrieval): sample
    ``n_queries`` corpus vectors as self-queries (a corpus vector's
    neighborhood is the same retrieval job the index serves), compute
    their EXACT cosine top-``k`` annotated with each hit's assigned
    IVF list (:func:`_multi_query_exact_topk` — batch-local matmul
    top-k, then a tiny global window), and read the whole
    recall-vs-nprobe curve off the ground truth: IVF retrieval at
    nprobe m returns exactly the best rows inside the m
    query-nearest lists, so recall@m per query is simply the share
    of true top-k hits whose list ranks within the query's first m
    probes. Returns the smallest nprobe whose MEAN recall (basis
    points, integer) meets ``target_recall_bp``, plus the full curve
    and occupancy stats for monitoring::

        {"nprobe": m, "recall_bp": {1: ..., ..., L: 10000},
         "occupancy": {list: n}, "n_lists": L}

    Scale shape: centroid fit is the existing sampled k-means;
    ground truth is ONE distributed pass (every query scored in the
    same matmul); everything else is driver arithmetic over Q*k
    rows. Run it per index build or on an occupancy-drift trigger
    (:func:`ivf_list_stats`); recall estimates are exact for the
    sampled queries, seeded and deterministic."""
    if centroids is None:
        centroids = ivf_fit(df, vec_col, n_lists=n_lists, seed=seed)
    n_lists = len(centroids)
    cents = np.array(centroids, dtype=np.float64)
    cn = cents / np.maximum(
        np.linalg.norm(cents, axis=1, keepdims=True), 1e-12
    )

    total = df.count()
    frac = min(1.0, (n_queries * 20) / max(total, 1))
    pool = (
        df.select(id_col, vec_col)
        .sample(fraction=frac, seed=seed)  # keywords: see ivf_fit
        .limit(n_queries * 20)
    ).collect()
    if not pool:
        raise ValueError("ivf_tune_nprobe: empty corpus (no query sample)")
    rng = np.random.RandomState(seed)
    idx = rng.choice(len(pool), size=min(n_queries, len(pool)), replace=False)
    queries = [list(map(float, pool[i][1])) for i in idx]

    assigned = ivf_assign(df, vec_col, centroids).persist()
    try:
        truth = _multi_query_exact_topk(
            assigned, vec_col, id_col, queries, k
        ).collect()
        occupancy = {
            int(r["_ivf_list"]): int(r["n"])
            for r in assigned.groupBy("_ivf_list")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
    finally:
        assigned.unpersist()

    qm = np.array(queries, dtype=np.float64)
    qn = qm / np.maximum(np.linalg.norm(qm, axis=1, keepdims=True), 1e-12)
    # probe rank of each list per query: position in descending
    # query-centroid similarity — the ivf_candidates probe order
    sims = qn @ cn.T
    ranks = np.empty_like(sims, dtype=np.int64)
    for qi in range(len(queries)):
        order = np.argsort(-sims[qi], kind="stable")
        ranks[qi, order] = np.arange(n_lists)

    per_q: dict[int, list[int]] = {}
    for r in truth:
        per_q.setdefault(int(r["qid"]), []).append(int(r["_mq_list"]))
    curve: dict[int, int] = {}
    for m in range(1, n_lists + 1):
        hits = 0
        n_truth = 0
        for qi, lists in per_q.items():
            n_truth += len(lists)
            hits += sum(1 for li in lists if ranks[qi, li] < m)
        curve[m] = (hits * 10000) // max(n_truth, 1)
    chosen = next(
        (m for m in range(1, n_lists + 1) if curve[m] >= target_recall_bp),
        n_lists,
    )
    return {
        "nprobe": chosen,
        "recall_bp": curve,
        "occupancy": occupancy,
        "n_lists": n_lists,
    }


def ivf_write_partitioned(
    df: DataFrame,
    vec_col: str,
    centroids: list[list[float]],
    path: str,
    *,
    mode: str = "overwrite",
) -> None:
    """Materialize a corpus AT REST partitioned by its IVF list —
    the storage layout every ivf docstring in this module promises:
    ``ivf_candidates``' probe filter is an IN-list on ``_ivf_list``,
    and against this layout Spark serves it via PARTITION PRUNING
    (the scan's PartitionFilters, attested in test_ann_recall) — a
    query at nprobe m reads m/L of the files, no row-level filtering
    anywhere. At 100 TB this is the difference between an ANN probe
    costing a full scan and costing ``nprobe/n_lists`` of one;
    maintenance appends (``ivf_assign`` on the delta with the FROZEN
    serving centroids, mode='append') land in the same layout."""
    ivf_assign(df, vec_col, centroids).write.partitionBy(
        "_ivf_list"
    ).mode(mode).parquet(path)


def ivf_corpus_stats(
    df: DataFrame, vec_col: str, centroids: list[list[float]]
) -> dict:
    """One-pass corpus statistics under a FROZEN quantizer: per-list
    occupancy and the summed quantization error (cosine distance to
    the assigned centroid, floor-quantized to integer micro-units per
    row — the q202 discipline, so sums are exact integers and fold
    associatively across corpus slices). Returns::

        {"n": rows, "err_sum_micro": int, "occupancy": {list: n}}

    The building block of APPEND-ONLY index maintenance (round-12
    verdict task 6): a 100 TB corpus grows by partitions, and
    re-scanning the base corpus per append to re-derive the rebuild
    signal is exactly the cost a maintenance loop must not pay — run
    this over the DELTA alone and fold with :func:`ivf_merge_stats`.
    One Arrow matmul per batch computes assignment AND error together
    (argmax + max of the same similarity row); per-batch partial
    aggregation means only |lists| rows per batch reach the final
    rollup."""
    import pandas as _pd

    cents = np.array(centroids, dtype=np.float64)
    cn = cents / np.maximum(np.linalg.norm(cents, axis=1, keepdims=True), 1e-12)

    def kernel(it):
        for pdf in it:
            if not len(pdf):
                continue
            x = np.array(list(pdf[vec_col]), dtype=np.float64)
            xn = x / np.maximum(
                np.linalg.norm(x, axis=1, keepdims=True), 1e-12
            )
            sims = xn @ cn.T
            lists = sims.argmax(axis=1)
            err = np.floor((1.0 - sims.max(axis=1)) * 1_000_000).astype(
                np.int64
            )
            agg = _pd.DataFrame({"_l": lists, "_e": err}).groupby("_l").agg(
                n=("_e", "size"), e=("_e", "sum")
            )
            yield _pd.DataFrame(
                {
                    "_ivf_list": agg.index.astype("int32"),
                    "n": agg["n"].astype("int64"),
                    "err_sum_micro": agg["e"].astype("int64"),
                }
            )

    rows = (
        df.select(vec_col)
        .mapInPandas(kernel, "_ivf_list int, n bigint, err_sum_micro bigint")
        .groupBy("_ivf_list")
        .agg(
            F.sum("n").alias("n"),
            F.sum("err_sum_micro").alias("err_sum_micro"),
        )
        .collect()
    )
    occ = {int(r["_ivf_list"]): int(r["n"]) for r in rows}
    return {
        "n": sum(occ.values()),
        "err_sum_micro": sum(int(r["err_sum_micro"]) for r in rows),
        "occupancy": occ,
    }


def ivf_merge_stats(base: dict, delta: dict) -> dict:
    """Fold a delta's :func:`ivf_corpus_stats` into the base corpus's
    (pure integer arithmetic, no jobs): counts and error sums add,
    occupancies merge per list. Associative and commutative — a
    maintenance loop folds every append into one running report."""
    occ = dict(base["occupancy"])
    for li, n in delta["occupancy"].items():
        occ[li] = occ.get(li, 0) + n
    return {
        "n": base["n"] + delta["n"],
        "err_sum_micro": base["err_sum_micro"] + delta["err_sum_micro"],
        "occupancy": occ,
    }


def ivf_append_signal(build: dict, current: dict) -> dict:
    """The cheap always-on rebuild TRIGGER for append-only
    maintenance, from two folded stat dicts (the build-time baseline
    and the current running report — both driver-side integers, zero
    jobs)::

        {"err_growth_bp": how much the mean quantization error under
             the FROZEN quantizer has grown since build (basis
             points; new mass the fit never saw quantizes badly and
             drags the mean up — 0 when appends resemble the build
             corpus),
         "hot_share_bp": the hottest list's occupancy share (drifted
             mass also piles into few lists),
         "n": current rows, "added": rows appended since build}

    Trip policy: investigate when ``err_growth_bp`` exceeds the
    tolerance (the loop then runs the EXPENSIVE confirm,
    :func:`ivf_refresh`, whose drift_bp compares against an actual
    refit before paying a rebuild). The signal needs only delta
    passes — the base corpus is never rescanned."""
    mean_build = build["err_sum_micro"] // max(build["n"], 1)
    mean_now = current["err_sum_micro"] // max(current["n"], 1)
    growth = max(0, (mean_now - mean_build) * 10_000 // max(mean_build, 1))
    total = sum(current["occupancy"].values()) or 1
    hot = max(current["occupancy"].values(), default=0)
    return {
        "err_growth_bp": growth,
        "hot_share_bp": hot * 10_000 // total,
        "n": current["n"],
        "added": current["n"] - build["n"],
    }


def ivf_refresh(
    df: DataFrame,
    vec_col: str,
    old_centroids: list[list[float]],
    *,
    n_lists: int | None = None,
    sample: int = 10_000,
    seed: int = 43,
) -> dict:
    """Quantizer refresh + drift report: refit centroids on a FRESH
    sample of the CURRENT corpus and measure how much the refit
    REDUCES mean quantization error (cosine distance to the assigned
    centroid; one distributed pass per quantizer). Returns::

        {"centroids": new, "drift_bp": relative error reduction in
         basis points — (err_old - err_new) * 10000 / err_old,
         clamped at 0 (0 = the old fit quantizes the corpus as well
         as a fresh one; large = the corpus grew mass the old fit
         never saw), "err_old_micro": ..., "err_new_micro": ...,
         "old_shares": {...}, "new_shares": {...}}

    The companion to :func:`ivf_tune_nprobe`: tune answers "how many
    lists must I probe to hit target recall NOW", refresh answers
    "should I rebuild instead" — rebuild when drift is high AND the
    tuned nprobe's candidate fraction (sum of probed occupancy) has
    crept toward a full scan. Quantization error, not occupancy
    shape, is the rebuild signal: an earlier occupancy-shape L1 went
    BLIND exactly when the k-means++ fit tiles evenly — a new
    opposite-direction cluster absorbed into one old list produced
    the same sorted share vector as the refit's dedicated list
    (measured: shape drift 189 bp on a corpus whose refit cut the
    quantization error 8x). Shares remain in the report for
    occupancy inspection (list identity is arbitrary across fits, so
    they are reported per-quantizer, never diffed)."""
    n_lists = n_lists or len(old_centroids)
    new = ivf_fit(df, vec_col, n_lists=n_lists, sample=sample, seed=seed)

    def shares(cents):
        counts = {
            int(r["_ivf_list"]): int(r["n"])
            for r in ivf_list_stats(df, vec_col, cents).collect()
        }
        total = sum(counts.values()) or 1
        return {c: counts.get(c, 0) * 10000 // total for c in range(len(cents))}

    def mean_err_micro(cents) -> int:
        from pyspark.sql.functions import pandas_udf

        ca = np.array(cents, dtype=np.float64)
        cn = ca / np.maximum(
            np.linalg.norm(ca, axis=1, keepdims=True), 1e-12
        )

        @pandas_udf("double")
        def qdist(vecs: pd.Series) -> pd.Series:
            x = np.array(list(vecs), dtype=np.float64)
            xn = x / np.maximum(
                np.linalg.norm(x, axis=1, keepdims=True), 1e-12
            )
            return pd.Series(1.0 - (xn @ cn.T).max(axis=1))

        row = df.select(
            F.avg(qdist(F.col(vec_col))).alias("e")
        ).collect()[0]
        return int(round((row["e"] or 0.0) * 1_000_000))

    old_s = shares(old_centroids)
    new_s = shares(new)
    err_old = mean_err_micro(old_centroids)
    err_new = mean_err_micro(new)
    drift = max(0, (err_old - err_new) * 10_000 // max(err_old, 1))
    return {
        "centroids": new,
        "drift_bp": drift,
        "err_old_micro": err_old,
        "err_new_micro": err_new,
        "old_shares": old_s,
        "new_shares": new_s,
    }


# ---------------------------------------------------------------- SQ8
# Scalar-quantized (int8) IVF serving — the memory-bound serving step
# at 100 TB: an nprobe-m probe over the partitioned layout reads m/L
# of the FILES (partition pruning) and, within them, only the narrow
# (id, code, scale) columns (parquet column pruning) — ~4x fewer
# bytes than the float32 vector column, 8x fewer than float64. The
# float vector column stays IN the same layout for the exact-rerank
# refine step and for ivf_tune_nprobe, which runs unchanged; a probe
# that never selects it never reads its pages (columnar storage).
# Quantization convention matches q155's audit (symmetric absmax,
# round-half-away-from-zero) applied to the UNIT vector, so the
# asymmetric approximate score is one scale multiply per row:
# cos(q, v) ~= scale_v * (q_unit . codes_v).


def sq8_encode(df: DataFrame, vec_col: str) -> DataFrame:
    """Add ``_sq8_code`` (binary: dim int8 bytes) and ``_sq8_scale``
    (double) — symmetric absmax scalar quantization of the UNIT
    vector (q155's rounding: floor(y+0.5) / ceil(y-0.5)), one Arrow
    pass. Dequantized ``codes * scale`` approximates the unit vector,
    so approximate cosine needs no stored norm. The all-zero vector
    encodes to all-zero codes with scale 0."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("struct<code: binary, scale: double>")
    def enc(vecs: pd.Series) -> pd.DataFrame:
        if len(vecs) == 0:
            return pd.DataFrame({"code": [], "scale": []})
        x = np.array(list(vecs), dtype=np.float64)
        n = np.linalg.norm(x, axis=1, keepdims=True)
        u = x / np.maximum(n, 1e-300)
        amax = np.abs(u).max(axis=1)
        scale = amax / 127.0
        y = u / np.maximum(scale, 1e-300)[:, None]
        codes = np.where(
            y >= 0, np.floor(y + 0.5), np.ceil(y - 0.5)
        ).astype(np.int8)
        codes[amax == 0.0] = 0
        return pd.DataFrame(
            {
                "code": [c.tobytes() for c in codes],
                "scale": np.where(amax == 0.0, 0.0, scale),
            }
        )

    out = df.withColumn("_sq8", enc(F.col(vec_col)))
    return out.select(
        "*",
        F.col("_sq8.code").alias("_sq8_code"),
        F.col("_sq8.scale").alias("_sq8_scale"),
    ).drop("_sq8")


def sq8_write_partitioned(
    df: DataFrame,
    vec_col: str,
    centroids: list[list[float]],
    path: str,
    *,
    mode: str = "overwrite",
) -> None:
    """Materialize the SQ8 serving layout: IVF-assigned (frozen
    ``centroids``), SQ8-encoded, partitioned by ``_ivf_list`` — the
    quantized twin of :func:`ivf_write_partitioned`, carrying BOTH
    the int8 codes (the probe's narrow read) and the float vector
    (refine rerank + tuner), in one layout with partition AND column
    pruning doing the byte accounting. Appends with the frozen
    serving centroids land in place (mode='append')."""
    sq8_encode(
        ivf_assign(df, vec_col, centroids), vec_col
    ).write.partitionBy("_ivf_list").mode(mode).parquet(path)


def sq8_probe_topk(
    index: DataFrame,
    vec_col: str,
    id_col: str,
    query: list[float],
    k: int = 10,
    *,
    centroids: list[list[float]],
    nprobe: int = 4,
    refine: int = 4,
) -> DataFrame:
    """IVF top-k served from the SQ8 layout: probe the ``nprobe``
    nearest lists (partition-pruned IN filter), score candidates by
    the asymmetric int8 dot (``scale * (q_unit . codes)`` — reads
    ONLY (id, code, scale)), shortlist the top ``k * refine`` by
    approximate score, then exact-cosine rerank the shortlist from
    the float column (a second pruned read pushed down to
    ``id IN shortlist`` — row-group stats skip everything else).
    Final output follows :func:`cosine_topk`'s determinism contract
    (score rounded to 6 digits, ties by id); the approximate pass
    only has to land the true top-k inside the shortlist, which the
    recall-parity tests pin against the float path."""
    cents = np.array(centroids, dtype=np.float64)
    cn = cents / np.maximum(
        np.linalg.norm(cents, axis=1, keepdims=True), 1e-12
    )
    q = np.array(query, dtype=np.float64)
    qn = q / max(np.linalg.norm(q), 1e-12)
    probes = [int(p) for p in (qn @ cn.T).argsort()[::-1][:nprobe]]

    cand = index.filter(F.col("_ivf_list").isin(*probes))
    narrow = cand.select(id_col, "_sq8_code", "_sq8_scale")
    n_short = k * refine

    def kernel(it):
        for pdf in it:
            if not len(pdf):
                continue
            codes = np.frombuffer(
                b"".join(pdf["_sq8_code"]), dtype=np.int8
            ).reshape(len(pdf), -1)
            s = (codes.astype(np.float64) @ qn) * pdf[
                "_sq8_scale"
            ].to_numpy()
            ids = pdf[id_col].to_numpy()
            order = np.lexsort((ids, -s))[:n_short]
            yield pd.DataFrame(
                {id_col: ids[order], "_approx": s[order]}
            )

    part = narrow.mapInPandas(kernel, f"{id_col} bigint, _approx double")
    shortlist = [
        r[0]
        for r in part.orderBy(F.desc("_approx"), id_col)
        .limit(n_short)
        .collect()
    ]
    if not shortlist:
        return cosine_topk(
            cand.select(id_col, vec_col).limit(0),
            vec_col,
            id_col,
            query,
            k,
        )
    exact = cand.filter(F.col(id_col).isin(*shortlist)).select(
        id_col, vec_col
    )
    return cosine_topk(exact, vec_col, id_col, query, k)
