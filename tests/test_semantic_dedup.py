"""Semantic (embedding-space) dedup at document grain — q253-q257
machinery (round-13 suite).

The declared queries are hash-checked against brute-force O(n^2)
cosine oracles at every SF; these tests pin what the hash gate cannot:
the RECALL CURVE of the IVF multi-assign candidate generation (the
approximate step the exact verify sits on), salt-invariance of the
skew fallback, planted-structure recall, the shared-frame memo, and
the weighted sampler's exactly-k / weighting / determinism contracts.
"""

from __future__ import annotations

import math
import random

import numpy as np

from pyspark.sql import functions as F


def _clustered_corpus(spark, n_clusters=6, per_cluster=40, dim=24, seed=11):
    """Seeded corpus of well-separated clusters; within-cluster pairs
    sit at cos ~0.95 (the SemDeDup production regime), across ~0."""
    rng = random.Random(seed)

    def unit(v):
        n = math.sqrt(sum(x * x for x in v)) or 1.0
        return [x / n for x in v]

    rows = []
    truth = set()
    vid = 0
    for c in range(n_clusters):
        base = unit([rng.gauss(0, 1) for _ in range(dim)])
        members = []
        for _ in range(per_cluster):
            rows.append((vid, unit([b + rng.gauss(0, 0.08) for b in base])))
            members.append(vid)
            vid += 1
        for i, a in enumerate(members):
            for b in members[i + 1 :]:
                truth.add((a, b))
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    return df, rows, truth


def _exact_pairs(rows, threshold):
    ids = np.array([r[0] for r in rows])
    x = np.array([r[1] for r in rows], dtype=np.float64)
    xn = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    g = xn @ xn.T
    ia, ib = np.triu_indices(len(x), 1)
    keep = g[ia, ib] >= threshold
    return {
        (int(min(a, b)), int(max(a, b)))
        for a, b in zip(ids[ia[keep]], ids[ib[keep]])
    }


def test_semantic_pairs_planted_clusters_exact(spark):
    """Production-threshold regime (0.9, within-cluster cos ~0.95):
    assign_p=2 must recover the exact brute-force pair set — pairs
    deep inside one Voronoi cell co-assign at tiny p."""
    from kaflow_spark.operators.similarity import semantic_dup_pairs

    df, rows, _ = _clustered_corpus(spark)
    want = _exact_pairs(rows, 0.9)
    got = {
        (r["id_a"], r["id_b"])
        for r in semantic_dup_pairs(
            df, "vec_id", "embedding", threshold=0.9, n_lists=8, assign_p=2
        ).collect()
    }
    assert got == want and len(want) > 1000


def test_semantic_pairs_recall_curve_on_fixture(spark, sf_dir):
    """The measured recall table in semantic_dup_pairs' docstring, at
    the fixture's adversarial 0.4 threshold: p=1 misses most pairs
    (single-assignment SemDeDup is not enough at wide angles), p=8 is
    exact. Precision is 1 at every p (the verify is exact)."""
    from kaflow_spark.catalog import load
    from kaflow_spark.operators.similarity import semantic_dup_pairs

    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    rows = [(r["vec_id"], list(map(float, r["embedding"]))) for r in emb.collect()]
    want = _exact_pairs(rows, 0.4)
    assert len(want) >= 50

    def got_at(p):
        return {
            (r["id_a"], r["id_b"])
            for r in semantic_dup_pairs(
                emb, "vec_id", "embedding", threshold=0.4,
                n_lists=16, assign_p=p, seed=42,
            ).collect()
        }

    g1, g8 = got_at(1), got_at(8)
    assert g1 <= want and g8 <= want  # precision 1: only true pairs
    assert len(g1) < 0.6 * len(want)  # p=1 measured 0.28-0.36
    assert g8 == want  # the declared-query setting: recall 1


def test_semantic_pairs_salt_invariant(spark):
    """The triangle-salted in-list Gram must emit each pair exactly
    once regardless of salt — the own-cells group filter."""
    from kaflow_spark.operators.similarity import semantic_dup_pairs

    df, rows, _ = _clustered_corpus(spark, n_clusters=3, per_cluster=30)
    want = _exact_pairs(rows, 0.9)
    for salt in (1, 2, 5):
        got = {
            (r["id_a"], r["id_b"])
            for r in semantic_dup_pairs(
                df, "vec_id", "embedding", threshold=0.9,
                n_lists=4, assign_p=2, list_salt=salt,
            ).collect()
        }
        assert got == want, f"salt={salt}"


def test_semantic_pair_frame_memo_and_release(spark, tmp_path):
    from kaflow_spark.operators import similarity

    similarity.release_semantic_pair_frames()
    df, rows, _ = _clustered_corpus(spark, n_clusters=2, per_cluster=20)
    path = str(tmp_path / "emb.parquet")
    df.write.parquet(path)

    p1 = similarity.semantic_pair_frame(
        spark.read.parquet(path), "vec_id", "embedding",
        threshold=0.9, n_lists=4, assign_p=2,
    )
    p2 = similarity.semantic_pair_frame(
        spark.read.parquet(path), "vec_id", "embedding",
        threshold=0.9, n_lists=4, assign_p=2,
    )
    assert p2 is p1
    assert p1.storageLevel.useMemory
    # a different threshold is a different frame
    p3 = similarity.semantic_pair_frame(
        spark.read.parquet(path), "vec_id", "embedding",
        threshold=0.95, n_lists=4, assign_p=2,
    )
    assert p3 is not p1
    assert similarity.release_semantic_pair_frames() == 2
    assert not p1.storageLevel.useMemory


def test_weighted_priority_sampler_contracts(spark):
    """Exactly k per group; weight<=0/NULL excluded; deterministic
    under a frozen salt; redrawn under a different salt."""
    from kaflow_spark.operators.curation import weighted_priority_sample_k

    rows = [("g1", i, (i % 7) + 1) for i in range(100)]
    rows += [("g2", 1000 + i, 50) for i in range(3)]  # undersized group
    rows += [("g3", 2000, 0), ("g3", 2001, None), ("g3", 2002, 4)]
    df = spark.createDataFrame(rows, "g string, id bigint, w int")

    out = weighted_priority_sample_k(df, "g", "id", "w", 5, salt="s1|")
    by_g = {}
    for r in out.collect():
        by_g.setdefault(r["g"], set()).add(r["id"])
    assert len(by_g["g1"]) == 5
    assert by_g["g2"] == {1000, 1001, 1002}  # group smaller than k: all
    assert by_g["g3"] == {2002}  # zero/NULL weight rows carry no mass

    again = weighted_priority_sample_k(df, "g", "id", "w", 5, salt="s1|")
    assert sorted(out.collect()) == sorted(again.collect())
    redraw = weighted_priority_sample_k(df, "g", "id", "w", 5, salt="s2|")
    assert sorted(redraw.collect()) != sorted(out.collect())


def test_weighted_priority_sampler_weights_bias_inclusion(spark):
    """The πps property, deterministically: one row with weight 10^6
    against 99 weight-1 rows must be sampled (its priority key is
    ~10^6 smaller than any competitor's; P(miss) under the random-
    oracle view of md5 is ~(k/n)*1e-6 — the salt freezes one draw,
    and across 20 salts every draw must include it)."""
    from kaflow_spark.operators.curation import weighted_priority_sample_k

    rows = [("g", 0, 1_000_000)] + [("g", i, 1) for i in range(1, 100)]
    df = spark.createDataFrame(rows, "g string, id bigint, w int")
    for salt in [f"t{j}|" for j in range(20)]:
        got = {
            r["id"]
            for r in weighted_priority_sample_k(
                df, "g", "id", "w", 5, salt=salt
            ).collect()
        }
        assert 0 in got, salt


def test_semantic_queries_share_one_pair_frame(spark, sf_dir):
    """q254/q255 consume q253's shared frame: after one build, the
    consumers register zero new persistent RDDs (the
    verified_pair_frame discipline, embedding-space edition)."""
    from kaflow_spark.operators import memo, similarity
    from kaflow_spark.queries import REGISTRY

    similarity.release_semantic_pair_frames()
    REGISTRY["q253_semantic_near_dup"].spark(spark, sf_dir).count()
    n_persisted = spark.sparkContext._jsc.getPersistentRDDs().size()
    assert len(memo._MEMO["semantic_pairs"]) == 1
    REGISTRY["q254_semantic_dup_provenance"].spark(spark, sf_dir).count()
    REGISTRY["q255_semantic_dedup_summary"].spark(spark, sf_dir).count()
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == n_persisted
    assert len(memo._MEMO["semantic_pairs"]) == 1
    similarity.release_semantic_pair_frames()
