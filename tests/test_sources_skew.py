"""File source/sink round-trips (partition pruning included) and
skew-mitigation utilities."""

from __future__ import annotations

from pyspark.sql import functions as F

from kaflow_spark.operators.skew import key_histogram, salted_aggregate, salted_join
from kaflow_spark.plans.explain import explain_str
from kaflow_spark.sources import (
    read_binary_files,
    read_json,
    read_parquet,
    write_partitioned,
)


def test_partitioned_write_prunes_on_read(spark, tmp_path):
    path = str(tmp_path / "part")
    df = spark.createDataFrame(
        [(i, "us" if i % 2 else "eu", float(i)) for i in range(100)],
        "id bigint, region string, v double",
    )
    write_partitioned(df, path, partition_by=["region"])
    back = read_parquet(spark, path).filter(F.col("region") == "eu")
    assert back.count() == 50
    # partition pruning: only the eu directory is scanned
    txt = explain_str(back)
    assert "region=eu" in txt or "PartitionFilters" in txt


def test_json_roundtrip_with_schema(spark, tmp_path):
    path = str(tmp_path / "json")
    spark.createDataFrame([(1, "a"), (2, "b")], "id bigint, s string").write.json(path)
    back = read_json(spark, path, schema="id bigint, s string")
    assert sorted((r["id"], r["s"]) for r in back.collect()) == [(1, "a"), (2, "b")]


def test_binary_file_source(spark, tmp_path):
    (tmp_path / "a.bin").write_bytes(b"\x00\x01\x02")
    (tmp_path / "b.txt").write_bytes(b"xyz")
    df = read_binary_files(spark, str(tmp_path), glob="*.bin")
    rows = df.collect()
    assert len(rows) == 1
    assert bytes(rows[0]["content"]) == b"\x00\x01\x02"
    assert rows[0]["length"] == 3


def test_salted_aggregate_matches_plain(spark, sf_dir):
    from kaflow_spark.catalog import load

    e = load(spark, sf_dir, "events")
    plain = {
        r["user_id"]: (r["n"], r["total"])
        for r in e.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
        .collect()
    }
    salted = {
        r["user_id"]: (r["n"], r["total"])
        for r in salted_aggregate(
            e, ["user_id"], {"n": ("count", "*"), "total": ("sum", "value")}
        ).collect()
    }
    assert set(plain) == set(salted)
    for k in plain:
        assert plain[k][0] == salted[k][0]
        assert abs(plain[k][1] - salted[k][1]) < 1e-6


def test_salted_join_matches_plain(spark):
    fact = spark.createDataFrame(
        [(1, i) for i in range(50)] + [(2, 99)], "k bigint, v bigint"
    )
    dim = spark.createDataFrame([(1, "hot"), (2, "cold")], "k bigint, label string")
    plain = sorted(
        (r["k"], r["v"], r["label"]) for r in fact.join(dim, "k").collect()
    )
    salted = sorted(
        (r["k"], r["v"], r["label"]) for r in salted_join(fact, dim, "k").collect()
    )
    assert plain == salted


def test_key_histogram_flags_hot_key(spark):
    df = spark.createDataFrame(
        [(1,)] * 90 + [(2,)] * 10, "k bigint"
    )
    hist = key_histogram(df, "k", top=2).collect()
    assert hist[0]["k"] == 1 and abs(hist[0]["share"] - 0.9) < 1e-9


def test_key_histogram_one_scan(spark, tmp_path):
    """The grand total rides the same aggregation as the top-k list
    (broadcast back over the aggregated key counts), NOT a separate
    df.count() action — one input scan in the static plan, and the
    shares still sum to 1 over the full key set."""
    path = str(tmp_path / "kh")
    spark.createDataFrame(
        [(i % 7,) for i in range(700)], "k bigint"
    ).write.parquet(path)
    df = spark.read.parquet(path)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        h = key_histogram(df, "k", top=100)
        plan = h._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Scan parquet") == 1, plan
        assert "ReusedExchange" in plan, plan
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    rows = key_histogram(df, "k", top=100).collect()
    assert abs(sum(r["share"] for r in rows) - 1.0) < 1e-9
    assert all(r["n"] == 100 for r in rows)


def test_orc_roundtrip_with_pushdown(spark, tmp_path):
    from kaflow_spark.sources import read_orc

    path = str(tmp_path / "orc")
    spark.range(100).withColumn("v", F.col("id") * 2).write.orc(path)
    df = read_orc(spark, path, columns=["id"], predicate="id >= 90")
    assert df.count() == 10 and df.columns == ["id"]
    txt = explain_str(df)
    assert "PushedFilters" in txt and "id" in txt


def test_text_source_lines_and_wholetext(spark, tmp_path):
    from kaflow_spark.sources import read_text

    p = tmp_path / "corpus"
    p.mkdir()
    (p / "a.txt").write_text("line one\nline two\n")
    (p / "b.txt").write_text("only line\n")
    lines = read_text(spark, str(p))
    assert lines.count() == 3 and lines.columns == ["value"]
    whole = read_text(spark, str(p), whole_text=True)
    texts = sorted(r["value"] for r in whole.collect())
    assert len(texts) == 2 and texts[0].startswith("line one")


def test_aqe_splits_diagnosed_skewed_partition(spark):
    """q168 diagnoses heavy join keys; this demonstrates the remediation
    AQE applies when the diagnosed key is joined: the hot key's
    oversized shuffle partition is split across multiple reader tasks
    (``SortMergeJoin(skew=true)`` + ``AQEShuffleRead ... skewed``) —
    the engine-level counterpart to the hand-salting operators
    (q61/q62), which remain for the cases AQE can't split (skewed
    aggregation, non-SMJ joins)."""
    keys = (
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.shuffle.partitions",
    )
    keep = {k: spark.conf.get(k, None) for k in keys}
    try:
        for k, v in zip(keys, ("2", "64KB", "32KB", "-1", "8")):
            spark.conf.set(k, v)
        # One hot key carries ~83% of the fact side; incompressible pad
        # so shuffle-byte stats (what AQE's detector reads) see the skew.
        pad = F.concat(
            *[
                F.sha2(F.concat(F.col("id").cast("string"), F.lit(i)), 256)
                for i in range(4)
            ]
        )
        fact = spark.range(0, 60000).select(
            F.when(F.col("id") < 50000, F.lit(1)).otherwise(F.col("id")).alias("k"),
            pad.alias("pad"),
        )
        # the q168 diagnostic flags the hot key first
        hist = key_histogram(fact, "k", top=1).collect()
        assert hist[0]["k"] == 1 and hist[0]["share"] > 0.8
        dim = spark.range(0, 60000).select(
            F.col("id").alias("k"),
            F.sha2(F.col("id").cast("string"), 256).alias("pad2"),
        )
        agg = (
            fact.join(dim, "k")
            .agg(F.sum(F.length("pad")).alias("s"), F.count(F.lit(1)).alias("n"))
        )
        [row] = agg.collect()
        assert row["n"] == 60000  # dim keys unique: join preserves fact rows
        plan = agg._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan
        assert "AQEShuffleRead" in plan and "skewed" in plan, plan
    finally:
        for k, v in keep.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_salted_self_pairs_matches_plain_pair_join(spark):
    """Triangle-salted pair enumeration: identical pair set to the
    plain self-join + id_a < id_b, every unordered pair exactly once,
    across salt values and bucket shapes."""
    import itertools

    from kaflow_spark.operators.skew import salted_self_pairs

    rows = (
        [("b0", i) for i in range(23)]      # hot bucket
        + [("b1", 100 + i) for i in range(5)]
        + [("b2", 200)]                      # singleton: no pairs
    )
    df = spark.createDataFrame(rows, "bucket string, id bigint")
    want = sorted(
        (b, min(x, y), max(x, y))
        for b, members in itertools.groupby(rows, key=lambda r: r[0])
        for x, y in itertools.combinations([m[1] for m in members], 2)
    )
    for salt in (1, 2, 3, 8):
        got = sorted(
            (r["bucket"], r["id_a"], r["id_b"])
            for r in salted_self_pairs(
                df, ["bucket"], "id", salt=salt
            ).collect()
        )
        assert got == want, f"salt={salt}"


def test_minhash_bucket_salt_spreads_boilerplate_bucket(spark):
    """Round 9: planted boilerplate corpus (400 docs share a template
    -> every band collides into one hot bucket). AQE's skew split
    NEVER fires on the bucket self-join (reused exchange + the
    bucket-cap window above the shuffle — the measured blockers), so
    bucket_salt is the fallback: identical candidates, and the
    executed join partitions on (band, bucket, tag, tag) — the hot
    bucket subdivides across salt*(salt+1)/2 keys."""
    from kaflow_spark.operators.dedup import minhash_lsh_candidates

    boiler = spark.range(400).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("terms of service boilerplate " * 20),
            F.col("id").cast("string"),
        ).alias("text"),
    )
    uniq = spark.range(1000, 1800).select(
        F.col("id").alias("doc_id"),
        F.sha2(F.concat(F.col("id").cast("string"), F.lit("u")), 512).alias(
            "text"
        ),
    )
    docs = boiler.unionAll(uniq)
    plain = minhash_lsh_candidates(docs, "doc_id", "text", min_bands=2)
    salted = minhash_lsh_candidates(
        docs, "doc_id", "text", min_bands=2, bucket_salt=4
    )
    a = sorted((r["id_a"], r["id_b"]) for r in plain.collect())
    b = sorted((r["id_a"], r["id_b"]) for r in salted.collect())
    # identical candidates; nearly the whole boilerplate family kept
    # (suffix churn drops a handful of pairs below 2 shared bands)
    assert a == b and len(a) >= 75_000
    # the pair join's exchange carries the salt tags — assert on the
    # STATIC planner (under AQE the executed string shows stages, not
    # Exchange nodes; the CLAUDE.md trap-9 idiom)
    import re

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        fresh = minhash_lsh_candidates(
            docs, "doc_id", "text", min_bands=2, bucket_salt=4
        )
        txt = explain_str(fresh, "simple")
        parts = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", txt)
        assert any("_ta" in p and "_tb" in p for p in parts), parts
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def _salted_exchange_present(df) -> bool:
    """Static-planner check (CLAUDE.md trap 9: AQE hides Exchange
    nodes) that some join exchange carries the full salted key."""
    import re

    txt = explain_str(df, "simple")
    parts = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", txt)
    return any("_ta" in p and "_tb" in p for p in parts)


def _boiler_docs(spark, n_boiler=300, n_uniq=500):
    """Planted boilerplate corpus: n_boiler docs share one template
    (every blocking feature collides into one hot bucket family),
    n_uniq are hash-unique."""
    boiler = spark.range(n_boiler).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("terms of service boilerplate agreement " * 10),
            F.col("id").cast("string"),
        ).alias("text"),
    )
    uniq = spark.range(1000, 1000 + n_uniq).select(
        F.col("id").alias("doc_id"),
        F.sha2(F.concat(F.col("id").cast("string"), F.lit("u")), 512).alias(
            "text"
        ),
    )
    return boiler.unionAll(uniq)


def test_salted_self_pairs_payload_follows_canonicalization(spark):
    """payload_cols contract: c_a always belongs to id_a, across the
    swap the cross-slice canonicalization performs."""
    from kaflow_spark.operators.skew import salted_self_pairs

    rows = [("b", i, f"attr{i}") for i in range(17)]
    df = spark.createDataFrame(rows, "bucket string, id bigint, k string")
    for salt in (2, 5):
        out = salted_self_pairs(
            df, ["bucket"], "id", salt=salt, payload_cols=["k"]
        ).collect()
        assert len(out) == 17 * 16 // 2
        for r in out:
            assert r["k_a"] == f"attr{r['id_a']}", r
            assert r["k_b"] == f"attr{r['id_b']}", r


def test_prefix_filter_bucket_salt_matches_plain(spark):
    """q159's generator: identical candidate set salted vs plain on
    the planted boilerplate corpus, and the salted join's exchange
    carries the full (h, tag, tag) key."""
    from kaflow_spark.operators.dedup import (
        prefix_filter_candidates,
        wordgram_shingle_frame,
    )

    docs = _boiler_docs(spark)
    sh = wordgram_shingle_frame(docs, "doc_id", "text", 5)
    plain = prefix_filter_candidates(sh, 0.8)
    salted = prefix_filter_candidates(sh, 0.8, bucket_salt=4)
    a = sorted((r["id_a"], r["id_b"]) for r in plain.collect())
    b = sorted((r["id_a"], r["id_b"]) for r in salted.collect())
    assert a == b and len(a) >= 300 * 299 // 2  # boilerplate family kept

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        fresh = prefix_filter_candidates(
            wordgram_shingle_frame(docs, "doc_id", "text", 5),
            0.8,
            bucket_salt=4,
        )
        assert _salted_exchange_present(fresh)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_minimizer_bucket_salt_matches_plain(spark):
    """q164's generator: identical (pair, shared) set salted vs plain
    — the shared-gram COUNT must survive salting, not just the pair
    set — plus the salted-key plan assert."""
    from kaflow_spark.operators.dedup import minimizer_candidates

    # the periodic _boiler_docs template has only ~5 distinct word
    # grams (cyclic rotations) — too few shared fingerprints for the
    # count threshold; this template has 40 distinct words, so every
    # boilerplate pair shares dozens of sub-max_df fingerprints
    template = " ".join(f"tok{i}" for i in range(40))
    boiler = spark.range(300).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit(template + " "), F.col("id").cast("string")).alias(
            "text"
        ),
    )
    uniq = spark.range(1000, 1500).select(
        F.col("id").alias("doc_id"),
        F.sha2(F.concat(F.col("id").cast("string"), F.lit("u")), 512).alias(
            "text"
        ),
    )
    docs = boiler.unionAll(uniq)
    kw = dict(k=5, w=4, min_shared=3, max_df=400, unit="word")
    plain = minimizer_candidates(docs, "doc_id", "text", **kw)
    salted = minimizer_candidates(
        docs, "doc_id", "text", bucket_salt=4, **kw
    )
    a = sorted(
        (r["id_a"], r["id_b"], r["shared"]) for r in plain.collect()
    )
    b = sorted(
        (r["id_a"], r["id_b"], r["shared"]) for r in salted.collect()
    )
    assert a == b and len(a) >= 300 * 299 // 2

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        fresh = minimizer_candidates(
            docs, "doc_id", "text", bucket_salt=4, **kw
        )
        assert _salted_exchange_present(fresh)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_hamming_bucket_salt_matches_plain(spark):
    """q146's blocking: a one-typo family (equal keys + single
    substitutions) is exactly the hot legitimate bucket the salt
    subdivides; identical (pair, hamming) output."""
    from kaflow_spark.operators.dedup import hamming_pairs

    # 120 ids share key 'AAAAAAAA'; 40 more differ in one position
    rows = [(i, "AAAAAAAA") for i in range(120)] + [
        (200 + i, "AAAA" + c + "AAA")
        for i, c in enumerate("BCDEFGHIJKLMNOPQRSTUVWXYZbcdefghijklmn")
    ]
    df = spark.createDataFrame(rows, "id bigint, k string")
    plain = hamming_pairs(df, "id", "k", max_dist=1)
    salted = hamming_pairs(df, "id", "k", max_dist=1, bucket_salt=4)
    a = sorted((r["id_a"], r["id_b"], r["hamming"]) for r in plain.collect())
    b = sorted((r["id_a"], r["id_b"], r["hamming"]) for r in salted.collect())
    assert a == b and len(a) >= 120 * 119 // 2

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        assert _salted_exchange_present(
            hamming_pairs(df, "id", "k", max_dist=1, bucket_salt=4)
        )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_edit_distance_bucket_salt_matches_plain(spark):
    """q154's generator: identical (pair, lev) output salted vs plain
    on an equal-key cohort plus deletion/substitution neighbors."""
    from kaflow_spark.operators.resolution import edit_distance_pairs

    rows = (
        [(i, "Customer#1234") for i in range(80)]
        + [(300, "Customer#123"), (301, "Customer#1235"), (302, "Xustomer#1234")]
        + [(400 + i, f"Unique#{i:06d}") for i in range(30)]
    )
    df = spark.createDataFrame(rows, "id bigint, name string")
    plain = edit_distance_pairs(df, "id", "name")
    salted = edit_distance_pairs(df, "id", "name", bucket_salt=4)
    a = sorted((r["id_a"], r["id_b"], r["lev"]) for r in plain.collect())
    b = sorted((r["id_a"], r["id_b"], r["lev"]) for r in salted.collect())
    assert a == b and len(a) >= 80 * 79 // 2

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        assert _salted_exchange_present(
            edit_distance_pairs(df, "id", "name", bucket_salt=4)
        )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_salted_self_pairs_randomized_property(spark):
    """Randomized-shape property: across random bucket-size mixes,
    multi-column keys, salts (incl. salt > bucket size) and payloads,
    the salted enumeration equals the brute-force pair set with every
    payload attached to its own id. Seeded, 6 draws."""
    import itertools
    import random

    from kaflow_spark.operators.skew import salted_self_pairs

    rng = random.Random(1010)
    for trial in range(6):
        n_buckets = rng.randint(1, 5)
        rows = []
        next_id = 0
        for b in range(n_buckets):
            size = rng.choice([1, 2, 3, 7, 19])
            for _ in range(size):
                rows.append(
                    (f"k{b}", b % 2, next_id, f"p{next_id}")
                )
                next_id += 1
        df = spark.createDataFrame(
            rows, "k string, k2 int, id bigint, attr string"
        )
        want = sorted(
            (k, k2, min(x[2], y[2]), max(x[2], y[2]))
            for (k, k2), members in itertools.groupby(
                rows, key=lambda r: (r[0], r[1])
            )
            for x, y in itertools.combinations(list(members), 2)
        )
        salt = rng.choice([2, 3, 8, 31])
        got_rows = salted_self_pairs(
            df, ["k", "k2"], "id", salt=salt, payload_cols=["attr"]
        ).collect()
        got = sorted((r["k"], r["k2"], r["id_a"], r["id_b"]) for r in got_rows)
        assert got == want, (trial, salt)
        for r in got_rows:
            assert r["attr_a"] == f"p{r['id_a']}", r
            assert r["attr_b"] == f"p{r['id_b']}", r


# ---- round 11: auto-salt trigger ----------------------------------------


def test_choose_bucket_salt_policy(spark):
    """The ladder: algebraic cap -> no probe at all; hot bucket under
    the pair budget -> 1; over it -> ceil(hot / sqrt(2*target)),
    clamped to [2, max]."""
    from kaflow_spark.operators import skew

    # known_cap shortcut must not touch the frame at all (None would
    # raise on any attribute access)
    assert skew.choose_bucket_salt(None, ["k"], known_cap=1000) == 1

    df = spark.createDataFrame(
        [("hot", i) for i in range(3000)]
        + [(f"k{i}", 10_000 + i) for i in range(50)],
        "k string, id bigint",
    )
    # 3000-member bucket ~ 4.5M pairs > 2M default budget ->
    # ceil(3000 / sqrt(4M)) = 2
    assert skew.choose_bucket_salt(df, ["k"]) == 2
    assert skew.choose_bucket_salt(df.filter("k != 'hot'"), ["k"]) == 1
    # count_col path (the generators' existing window count)
    from pyspark.sql.window import Window

    counted = df.withColumn(
        "_bn", F.count(F.lit(1)).over(Window.partitionBy("k"))
    )
    assert skew.choose_bucket_salt(counted, ["k"], count_col="_bn") == 2
    # tight budget drives the salt up, clamp holds
    assert 2 <= skew.choose_bucket_salt(df, ["k"], target_pairs=50) <= 32
    assert skew.choose_bucket_salt(df, ["k"], target_pairs=50, max_salt=4) == 4


def test_prefix_filter_auto_salts_planted_boilerplate(spark, monkeypatch):
    """Round-11 verdict item: with DEFAULT arguments (no bucket_salt
    from the caller) the planted boilerplate corpus must come back
    salted — pair set identical to the plain join, salted key on the
    join exchange. Budget tightened so the 300-doc template trips it
    at fixture scale."""
    from kaflow_spark.operators import skew
    from kaflow_spark.operators.dedup import (
        prefix_filter_candidates,
        wordgram_shingle_frame,
    )

    monkeypatch.setattr(skew, "AUTO_SALT_TARGET_PAIRS", 1000)
    docs = _boiler_docs(spark)
    sh = wordgram_shingle_frame(docs, "doc_id", "text", 5)
    auto = prefix_filter_candidates(sh, 0.8)  # defaults only
    plain = prefix_filter_candidates(sh, 0.8, bucket_salt=1)
    a = sorted((r["id_a"], r["id_b"]) for r in auto.collect())
    b = sorted((r["id_a"], r["id_b"]) for r in plain.collect())
    assert a == b and len(a) >= 300 * 299 // 2

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        fresh = prefix_filter_candidates(
            wordgram_shingle_frame(docs, "doc_id", "text", 5),
            0.8,
        )
        assert _salted_exchange_present(fresh)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_edit_distance_auto_salts_equal_key_cohort(spark, monkeypatch):
    from kaflow_spark.operators import skew
    from kaflow_spark.operators.resolution import edit_distance_pairs

    monkeypatch.setattr(skew, "AUTO_SALT_TARGET_PAIRS", 1000)
    rows = [(i, "Customer#1234") for i in range(90)] + [
        (400 + i, f"Unique#{i:06d}") for i in range(30)
    ]
    df = spark.createDataFrame(rows, "id bigint, name string")
    auto = edit_distance_pairs(df, "id", "name")  # defaults only
    plain = edit_distance_pairs(df, "id", "name", bucket_salt=1)
    a = sorted((r["id_a"], r["id_b"], r["lev"]) for r in auto.collect())
    b = sorted((r["id_a"], r["id_b"], r["lev"]) for r in plain.collect())
    assert a == b and len(a) >= 90 * 89 // 2

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        assert _salted_exchange_present(edit_distance_pairs(df, "id", "name"))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_hamming_auto_salts_equal_key_cohort(spark, monkeypatch):
    from kaflow_spark.operators import skew
    from kaflow_spark.operators.dedup import hamming_pairs

    monkeypatch.setattr(skew, "AUTO_SALT_TARGET_PAIRS", 1000)
    rows = [(i, "AAAAAAAA") for i in range(120)] + [
        (500 + i, f"{i:08d}") for i in range(40)
    ]
    df = spark.createDataFrame(rows, "id bigint, k string")
    auto = hamming_pairs(df, "id", "k", max_dist=1)  # defaults only
    plain = hamming_pairs(df, "id", "k", max_dist=1, bucket_salt=1)
    a = sorted((r["id_a"], r["id_b"], r["hamming"]) for r in auto.collect())
    b = sorted((r["id_a"], r["id_b"], r["hamming"]) for r in plain.collect())
    assert a == b and len(a) >= 120 * 119 // 2

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        assert _salted_exchange_present(hamming_pairs(df, "id", "k", max_dist=1))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_capped_generators_stay_probe_free_and_unsalted(spark):
    """minhash (max_bucket=1000) and minimizer (max_df=100) defaults
    are algebraically under the pair budget: auto resolves to salt 1
    with no extra aggregation, and the plain-join plan is preserved
    (no salted exchange)."""
    from kaflow_spark.operators.dedup import (
        minhash_lsh_candidates,
        minimizer_candidates,
    )

    docs = _boiler_docs(spark, n_boiler=30, n_uniq=60)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        mh = minhash_lsh_candidates(docs, "doc_id", "text", min_bands=2)
        assert not _salted_exchange_present(mh)
        mc = minimizer_candidates(docs, "doc_id", "text", unit="word")
        assert not _salted_exchange_present(mc)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


# ---- round 12: probe memoization + cached-lineage probes -----------------


def test_choose_bucket_salt_memoizes_per_plan(spark, tmp_path):
    """Round-11 verdict item 1: the auto-salt probe's action re-ran
    the generator's keyed lineage as a separate job (+45-73%
    steady-state on hamming/edit-distance). The fix is two-part —
    persist_keyed for expensive lineages, and a per-(session, plan)
    memo so re-invocations of an identical keyed plan never probe
    again. This pins the memo mechanism on the production shape
    (file-backed scans, the only plans that CAN alias — a rebuilt
    createDataFrame is a fresh LogicalRDD and never memo-hits): after
    one probe, a REBUILT identical plan returns the memoized salt
    without running any job (proven by poisoning the memo entry and
    observing the poison come back)."""
    from kaflow_spark.operators import memo, skew

    skew.release_probe_caches()
    rows = [("hot", i) for i in range(3000)] + [
        (f"k{i}", 10_000 + i) for i in range(50)
    ]
    path = str(tmp_path / "keyed.parquet")
    spark.createDataFrame(rows, "k string, id bigint").write.parquet(path)

    def keyed():
        return spark.read.parquet(path)

    assert skew.choose_bucket_salt(keyed(), ["k"]) == 2
    probe_memo = memo._MEMO["probe"]
    assert len(probe_memo) == 1
    (memo_key,) = probe_memo
    probe_memo[memo_key] = 7  # poison: only a memo hit returns 7
    assert skew.choose_bucket_salt(keyed(), ["k"]) == 7
    # a different knob is a different decision -> fresh probe
    assert skew.choose_bucket_salt(keyed(), ["k"], target_pairs=50) > 7
    # release clears the memo -> fresh probe restores the honest value
    skew.release_probe_caches()
    assert skew.choose_bucket_salt(keyed(), ["k"]) == 2
    skew.release_probe_caches()


def test_probe_persist_keyed_materializes_cache_for_join(spark):
    """persist_keyed=True must leave the keyed frame cached so the
    generator's pair join reads InMemoryTableScan instead of
    re-running the lineage (the measured round-11 regression)."""
    from kaflow_spark.operators import skew

    skew.release_probe_caches()
    df = spark.createDataFrame(
        [(f"k{i % 7}", i) for i in range(200)], "k string, id bigint"
    )
    keyed = df.select("k", "id")
    assert skew.choose_bucket_salt(keyed, ["k"], persist_keyed=True) == 1
    assert keyed.storageLevel.useMemory  # persisted by the probe
    plan = keyed._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan
    assert skew.release_probe_caches() == 1
    assert not keyed.storageLevel.useMemory


def test_minhash_raised_cap_probe_rides_cached_signatures(spark, monkeypatch):
    """Round-11 verdict item 7: minhash_lsh_candidates' docstring
    claims the raised-cap probe rides the cached-signature lineage —
    assert it: the keyed frame handed to choose_bucket_salt must read
    the persisted signature kernel (InMemoryRelation in its optimized
    plan), i.e. the probe never re-shingles the corpus."""
    from kaflow_spark.operators import skew
    from kaflow_spark.operators.dedup import minhash_lsh_candidates

    skew.release_probe_caches()
    captured = {}
    real = skew.choose_bucket_salt

    def spy(keyed, key_cols, **kw):
        captured["plan"] = (
            keyed._jdf.queryExecution().optimizedPlan().toString()
        )
        return real(keyed, key_cols, **kw)

    monkeypatch.setattr(skew, "choose_bucket_salt", spy)
    docs = _boiler_docs(spark, n_boiler=40, n_uniq=40)
    # raised cap defeats the algebraic shortcut -> the probe must fire
    minhash_lsh_candidates(
        docs, "doc_id", "text", min_bands=2, max_bucket=100_000
    ).count()
    assert "plan" in captured, "raised cap should trigger the probe"
    assert "InMemoryRelation" in captured["plan"]
    # the probe's own lineage above the cache must not re-shingle:
    # shingling lives INSIDE the cached kernel, so above the
    # InMemoryRelation boundary there is no substring() scan
    above_cache = captured["plan"].split("InMemoryRelation", 1)[0]
    assert "substring(" not in above_cache
    skew.release_probe_caches()
