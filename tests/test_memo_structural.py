"""Structural memo-hit tests (round-12 verdict items 2/4 + ADVICE).

Round 12 observed `WARN CacheManager: Asked to cache already cached
data` on every repeat invocation of the near-dup family (q164/q146/
q206): a semantically identical plan was re-``persist()``ed on a fresh
DataFrame instance in the miss path — shingle_frame built and persisted
a NEW frame per call, so repeat cost rode CacheManager plan-matching,
not the memo. These tests pin the fix structurally: a repeat invocation
returns the SAME DataFrame object, registers ZERO new persists (JVM
persistent-RDD census), and the persist-after-lazy probe ordering the
ADVICE flagged behaves. Every memo lives in operators/memo's one
registry, read here by owner.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from kaflow_spark.operators import memo


def _entries(owner: str) -> dict:
    return memo._MEMO.get(owner, {})


def _frames(owner: str) -> list:
    return [v for v in _entries(owner).values() if isinstance(v, DataFrame)]


def _persistent_rdd_count(spark) -> int:
    """JVM-side census of registered persistent RDDs — the structural
    'did anything new get persist()-registered' probe."""
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _docs(spark, tmp_path, name="docs"):
    base = "A quick brown fox jumps over the lazy dog again and again. " * 5
    rows = [
        (1, base),
        (2, base),
        (3, base[:-7] + "zebra. "),
        (4, "totally unrelated text about spark plans " * 8),
    ]
    path = str(tmp_path / f"{name}.parquet")
    spark.createDataFrame(rows, "doc_id bigint, text string").write.parquet(
        path
    )
    return path


def test_shingle_frame_memo_identity_rebuilt_plan(spark, tmp_path):
    """A REBUILT identical file-backed plan (fresh DataFrame instance,
    same semanticHash) memo-hits: same object back, one memo entry,
    zero new persist registrations — the CacheManager 'already cached'
    WARN can never fire on a repeat."""
    from kaflow_spark.operators import dedup

    dedup.release_shingle_frames()
    path = _docs(spark, tmp_path)

    sh1 = dedup.shingle_frame(spark.read.parquet(path), "doc_id", "text", 5)
    n_persisted = _persistent_rdd_count(spark)
    # fresh DataFrame instance over the same files = rebuilt plan
    sh2 = dedup.shingle_frame(spark.read.parquet(path), "doc_id", "text", 5)
    assert sh2 is sh1
    assert len(_entries("shingles")) == 1
    assert _persistent_rdd_count(spark) == n_persisted
    sh2.count()  # a consumer action must not register anything either
    assert _persistent_rdd_count(spark) == n_persisted
    # different k = different frame
    sh3 = dedup.shingle_frame(spark.read.parquet(path), "doc_id", "text", 7)
    assert sh3 is not sh1 and len(_entries("shingles")) == 2
    assert dedup.release_shingle_frames() == 2
    assert not sh1.storageLevel.useMemory


def test_memo_rebuilds_frame_dropped_by_clear_cache(spark, tmp_path):
    """A ``clearCache`` unpersists every registered frame behind the
    memo's back. The next call must rebuild and re-persist rather
    than hand back the unpersisted frame (every consumer would
    silently recompute the shingling), and release counts only frames
    that were still cached."""
    from kaflow_spark.operators import dedup

    dedup.release_shingle_frames()
    path = _docs(spark, tmp_path, "cdocs")
    dedup.shingle_frame(spark.read.parquet(path), "doc_id", "text", 5)
    spark.catalog.clearCache()
    sh = dedup.shingle_frame(spark.read.parquet(path), "doc_id", "text", 5)
    assert sh.storageLevel.useMemory
    assert dedup.release_shingle_frames() == 1

    dedup.shingle_frame(spark.read.parquet(path), "doc_id", "text", 5)
    spark.catalog.clearCache()
    assert dedup.release_shingle_frames() == 0


def test_wordgram_shingle_frame_memoizes(spark, tmp_path):
    from kaflow_spark.operators import dedup

    dedup.release_shingle_frames()
    path = _docs(spark, tmp_path, "wdocs")
    w1 = dedup.wordgram_shingle_frame(
        spark.read.parquet(path), "doc_id", "text", 5
    )
    w2 = dedup.wordgram_shingle_frame(
        spark.read.parquet(path), "doc_id", "text", 5
    )
    assert w2 is w1
    # word and char grain never alias, even at equal k
    c = dedup.shingle_frame(spark.read.parquet(path), "doc_id", "text", 5)
    assert c is not w1
    dedup.release_shingle_frames()


def test_verified_pair_frame_repeat_no_new_persists(spark, tmp_path):
    """The q41/q137/q206/q215 consumer pattern: after the frame exists,
    a repeat build + consume registers zero new persistent RDDs."""
    from kaflow_spark.operators import dedup

    dedup.release_verified_pair_frames()
    dedup.release_shingle_frames()
    path = _docs(spark, tmp_path, "rdocs")
    p1 = dedup.verified_pair_frame(spark.read.parquet(path), "doc_id", "text")
    p1.count()
    n_persisted = _persistent_rdd_count(spark)
    p2 = dedup.verified_pair_frame(spark.read.parquet(path), "doc_id", "text")
    assert p2.count() >= 1
    assert _persistent_rdd_count(spark) == n_persisted
    dedup.release_verified_pair_frames()
    dedup.release_shingle_frames()


def test_probe_persist_keyed_after_lazy_probe(spark, tmp_path):
    """ADVICE r12: choose_bucket_salt's memo omitted persist_keyed — a
    persist_keyed=True caller arriving after a False caller probed the
    same plan got the salt but NO cache and silently re-ran the
    expensive lineage. The memo hit must now persist for it."""
    from kaflow_spark.operators import skew

    skew.release_probe_caches()
    rows = [(f"k{i % 7}", i) for i in range(200)]
    path = str(tmp_path / "keyed.parquet")
    spark.createDataFrame(rows, "k string, id bigint").write.parquet(path)

    first = spark.read.parquet(path)
    assert skew.choose_bucket_salt(first, ["k"]) == 1
    assert not first.storageLevel.useMemory

    second = spark.read.parquet(path)  # rebuilt identical plan
    assert skew.choose_bucket_salt(second, ["k"], persist_keyed=True) == 1
    assert second.storageLevel.useMemory
    assert skew.release_probe_caches() == 1


def test_probe_no_repersist_on_rebuilt_plan(spark, tmp_path):
    """Two persist_keyed=True probes over rebuilt identical plans must
    register the persist ONCE (the round-12 'already cached' WARN was
    exactly a second registration riding plan-matching)."""
    from kaflow_spark.operators import skew

    skew.release_probe_caches()
    rows = [(f"k{i % 5}", i) for i in range(100)]
    path = str(tmp_path / "keyed2.parquet")
    spark.createDataFrame(rows, "k string, id bigint").write.parquet(path)

    skew.choose_bucket_salt(
        spark.read.parquet(path), ["k"], persist_keyed=True
    )
    n_persisted = _persistent_rdd_count(spark)
    assert len(_frames("probe")) == 1
    skew.choose_bucket_salt(
        spark.read.parquet(path), ["k"], persist_keyed=True
    )
    assert len(_frames("probe")) == 1  # no second registration
    assert _persistent_rdd_count(spark) == n_persisted
    skew.release_probe_caches()


def test_stable_session_key_is_application_id(spark):
    """The memo session key must survive id() reuse: it is the Spark
    applicationId (never reused after stop/start), not the CPython
    address of the session object (ADVICE r12)."""
    df = spark.range(1)
    key = memo.plan_key(df, "k", 5)
    assert key[0] == spark.sparkContext.applicationId
    assert key[2:] == ("k", 5)
