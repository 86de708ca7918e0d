"""Semantic tests for the LLM-pipeline operators (the approximate ones
the oracle can't hash-check) plus the as-of join and multimodal
plumbing."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from kaflow_spark.catalog import load
from kaflow_spark.operators.asof import asof_join
from kaflow_spark.operators.dedup import (
    embedding_near_dups,
    exact_dedup,
    minhash_lsh_candidates,
    ngram_jaccard_pairs,
    simhash_near_dups,
)
from kaflow_spark.operators.multimodal import attach_fake_media, fake_decode, frame_sample
from kaflow_spark.operators.similarity import ann_topk, cosine_topk


BASE = (
    "the quick brown fox jumps over the lazy dog while the sun sets slowly "
    "behind the distant mountains and the river flows quietly through the valley"
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, BASE),
        (2, BASE),  # exact duplicate of 1
        (3, BASE.replace("quick", "swift")),  # near duplicate of 1
        (4, "completely different content about databases and query engines"),
        (5, "yet another unrelated string with nothing in common at all here"),
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_exact_dedup_keeps_min_id(docs):
    kept = exact_dedup(docs, "text", "doc_id").collect()
    kept_ids = sorted(r["doc_id"] for r in kept)
    assert kept_ids == [1, 3, 4, 5]  # 2 deduped into 1's group
    sizes = {r["doc_id"]: r["group_size"] for r in kept}
    assert sizes[1] == 2


def test_duplicated_spans_semantics(spark):
    """Planted exact substring duplication: a 12-char window shared by
    two docs is reported as one merged span in each; a doc with an
    internal repeat is flagged too; a unique doc reports nothing."""
    from kaflow_spark.operators.dedup import duplicated_spans

    shared = "ABCDEFGHIJKLMNOP"  # 16 chars -> 5 overlapping 12-windows
    docs = spark.createDataFrame(
        [
            (1, f"xx1 {shared} yy unique tail one"),
            (2, f"zz2 {shared} ww other tail two"),
            (3, "totally unique text with no repeats at all here ok"),
            (4, "REPEATREPEATX and then REPEATREPEATX again"),  # internal dup
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["n_dup_spans"], r["dup_chars"])
        for r in duplicated_spans(docs, "doc_id", "text", min_len=12).collect()
    }
    # docs 1 and 2: the duplicated windows merge into ONE span covering
    # the true common substring " ABCDEFGHIJKLMNOP " — the flanking
    # spaces are shared too, so 16 + 2 = 18 chars
    assert out[1] == (1, 18)
    assert out[2] == (1, 18)
    assert 3 not in out
    # doc 4: "REPEATREPEATX" (13 chars) occurs twice within one doc
    assert out[4][0] >= 1 and out[4][1] >= 13


def test_minhash_finds_near_dups_and_estimates_jaccard(docs):
    cands = minhash_lsh_candidates(docs, "doc_id", "text", num_hashes=64, bands=16)
    rows = {(r["id_a"], r["id_b"]): r["est_jaccard"] for r in cands.collect()}
    assert rows[(1, 2)] == 1.0  # identical => all signatures agree
    assert (1, 3) in rows and rows[(1, 3)] > 0.5  # near-dup caught
    assert (4, 5) not in rows  # unrelated not candidates
    # estimate tracks exact jaccard within MinHash error bounds
    exact = ngram_jaccard_pairs(docs, cands, "doc_id", "text")
    for r in exact.collect():
        est = rows[(r["id_a"], r["id_b"])]
        assert abs(est - r["jaccard"]) < 0.25


def test_simhash_near_dups(docs):
    pairs = simhash_near_dups(docs, "doc_id", "text", max_hamming=10)
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs.collect()}
    assert got[(1, 2)] == 0  # identical text => identical simhash
    assert (1, 3) in got  # near-dup within hamming budget
    assert (4, 5) not in got


def test_embedding_near_dups(spark):
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0, 0.0]),  # ~same direction as 1
        (3, [0.0, 1.0, 0.0, 0.0]),  # orthogonal
        (4, [-1.0, 0.0, 0.0, 0.0]),  # opposite
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    pairs = embedding_near_dups(
        df, "vec_id", "embedding", threshold=0.95, num_planes=6, dim=4
    ).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (1, 2) in got
    assert all(p in {(1, 2)} for p in got)


def test_cosine_topk_exact(spark, sf_dir):
    e = load(spark, sf_dir, "embeddings")
    query = [float(x) for x in e.filter(F.col("vec_id") == 1).first()["embedding"]]
    top = cosine_topk(e, "embedding", "vec_id", query, 10).collect()
    assert top[0]["vec_id"] == 1  # query vector is its own nearest neighbour
    scores = [r["score"] for r in top]
    assert scores == sorted(scores, reverse=True)


def test_ann_recall_on_planted_neighbours(spark):
    """LSH ANN must find planted near-neighbours (high cosine ⇒ same
    bucket w.h.p.); random noise vectors are the distractors."""
    import random as _r

    rng = _r.Random(7)
    dim = 16
    query = [rng.gauss(0, 1) for _ in range(dim)]
    rows = []
    for i in range(10):  # planted: query + small noise
        rows.append((i, [q + rng.gauss(0, 0.05) for q in query]))
    for i in range(10, 210):  # distractors: random directions
        rows.append((i, [rng.gauss(0, 1) for _ in range(dim)]))
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    exact = [r["vec_id"] for r in cosine_topk(df, "embedding", "vec_id", query, 10).collect()]
    assert set(exact) == set(range(10))  # brute force finds the plant
    approx = [
        r["vec_id"]
        for r in ann_topk(
            df, "embedding", "vec_id", query, 10, num_planes=8, probe_hamming=1
        ).collect()
    ]
    assert len(set(exact) & set(approx)) >= 8


def test_ivf_topk_recall_on_planted_neighbours(spark):
    """IVF ANN: planted near-neighbours share the query's centroid
    list, so nprobe search recovers them."""
    import random as _r

    from kaflow_spark.operators.similarity import ivf_fit, ivf_topk

    rng = _r.Random(11)
    dim = 16
    query = [rng.gauss(0, 1) for _ in range(dim)]
    rows = [(i, [q + rng.gauss(0, 0.05) for q in query]) for i in range(10)]
    rows += [(i, [rng.gauss(0, 1) for _ in range(dim)]) for i in range(10, 310)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    cents = ivf_fit(df, "embedding", n_lists=8, sample=400, seed=3)
    assert len(cents) == 8 and all(len(c) == dim for c in cents)
    exact = [r["vec_id"] for r in cosine_topk(df, "embedding", "vec_id", query, 10).collect()]
    approx = [
        r["vec_id"]
        for r in ivf_topk(
            df, "embedding", "vec_id", query, 10, centroids=cents, nprobe=2
        ).collect()
    ]
    assert len(set(exact) & set(approx)) >= 8


def _ts(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


def test_asof_join_backward_and_forward(spark):
    left = spark.createDataFrame(
        [
            (1, _ts("2024-01-01 10:00:00")),
            (1, _ts("2024-01-01 12:00:00")),
            (2, _ts("2024-01-01 09:00:00")),
        ],
        "uid bigint, at timestamp",
    )
    right = spark.createDataFrame(
        [
            (1, _ts("2024-01-01 09:30:00"), 100.0),
            (1, _ts("2024-01-01 11:00:00"), 200.0),
            (1, _ts("2024-01-01 12:00:00"), 250.0),  # simultaneous w/ left
            (2, _ts("2024-01-01 10:00:00"), 999.0),  # after left's only row
        ],
        "uid bigint, at timestamp, px double",
    )
    back = asof_join(left, right, "uid", "at", "at", ["px"])
    got = {(r["uid"], r["at"]): r["px_right"] for r in back.collect()}
    assert got[(1, _ts("2024-01-01 10:00:00"))] == 100.0
    assert got[(1, _ts("2024-01-01 12:00:00"))] == 250.0  # inclusive match
    assert got[(2, _ts("2024-01-01 09:00:00"))] is None  # nothing before

    fwd = asof_join(left, right, "uid", "at", "at", ["px"], direction="forward")
    got_f = {(r["uid"], r["at"]): r["px_right"] for r in fwd.collect()}
    assert got_f[(1, _ts("2024-01-01 10:00:00"))] == 200.0
    assert got_f[(2, _ts("2024-01-01 09:00:00"))] == 999.0


def test_multimodal_plumbing(spark):
    base = spark.range(1, 9).withColumnRenamed("id", "media_id")
    media = attach_fake_media(base, "media_id")
    assert dict(media.dtypes)["payload"] == "binary"
    decoded = fake_decode(media)
    rows = {r["media_id"]: r for r in decoded.collect()}
    assert len(rows) == 8
    assert rows[1]["mime"] == "image/fake"
    assert rows[1]["width"] == 64 + (1 % 8) * 16
    assert all(len(r["checksum"]) == 32 for r in rows.values())
    framed = frame_sample(media, n_frames=4).select("media_id", "frame_hashes")
    fr = framed.collect()
    assert all(len(r["frame_hashes"]) == 4 for r in fr)
    # deterministic: same media id => same frame hashes across runs
    fr2 = frame_sample(media, n_frames=4).select("media_id", "frame_hashes").collect()
    assert sorted(map(str, fr)) == sorted(map(str, fr2))


def test_audio_features_plumbing(spark):
    from kaflow_spark.operators.multimodal import audio_features

    base = spark.range(1, 5).withColumnRenamed("id", "media_id")
    media = attach_fake_media(base, "media_id")
    feats = {r["media_id"]: r for r in audio_features(media).collect()}
    assert len(feats) == 4
    for r in feats.values():
        assert r["n_windows"] == len(r["energy"]) > 0
        assert all(0.0 <= e <= 255.0 for e in r["energy"])
    # deterministic across runs
    again = {r["media_id"]: r for r in audio_features(media).collect()}
    assert all(feats[k]["energy"] == again[k]["energy"] for k in feats)


def test_decode_image_png_roundtrip(spark):
    """Real PNG decode, no image library: encode deterministic RGB
    PNGs with the stdlib encoder, decode through the mapInPandas
    stage, verify dimensions and pixel stats."""
    from collections.abc import Iterator

    import pandas as pd

    from kaflow_spark.operators.multimodal import (
        MEDIA_DDL,
        decode_image,
        decode_png,
        make_png_payload,
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["id"],
                    "payload": [
                        make_png_payload(int(i), 16 + int(i) % 4 * 8, 12)
                        for i in pdf["id"]
                    ],
                    "meta": [None] * len(pdf),
                }
            )

    media = spark.range(1, 7).mapInPandas(gen, f"media_id bigint, {MEDIA_DDL}")
    rows = {r["media_id"]: r for r in decode_image(media).collect()}
    assert len(rows) == 6
    for mid, r in rows.items():
        assert r["mime"] == "image/png"
        assert (r["width"], r["height"]) == (16 + mid % 4 * 8, 12)
        assert r["channels"] == 3
        # distributed decode == local decode, bit-for-bit
        local = decode_png(make_png_payload(mid, 16 + mid % 4 * 8, 12))
        assert r["mean_px_centi"] == local["mean_px_centi"]


def test_png_unfilter_all_filter_types():
    """The decoder handles scanlines written with every PNG filter
    type (Sub/Up/Average/Paeth), not just the encoder's None."""
    import struct
    import zlib

    from kaflow_spark.operators.multimodal import _PNG_MAGIC, decode_png

    width, height = 5, 5
    pix = [
        [(x * 17 + y * 29) & 0xFF for x in range(width * 3)]
        for y in range(height)
    ]

    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        return a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)

    raw = bytearray()
    for y, ftype in enumerate([0, 1, 2, 3, 4]):
        raw.append(ftype)
        for i in range(width * 3):
            cur = pix[y][i]
            a = pix[y][i - 3] if i >= 3 else 0
            b = pix[y - 1][i] if y else 0
            c = pix[y - 1][i - 3] if (y and i >= 3) else 0
            if ftype == 0:
                raw.append(cur)
            elif ftype == 1:
                raw.append((cur - a) & 0xFF)
            elif ftype == 2:
                raw.append((cur - b) & 0xFF)
            elif ftype == 3:
                raw.append((cur - ((a + b) >> 1)) & 0xFF)
            else:
                raw.append((cur - paeth(a, b, c)) & 0xFF)

    def chunk(tag, data):
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data))
        )

    png = (
        _PNG_MAGIC
        + chunk(b"IHDR", struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )
    got = decode_png(png)
    flat = [v for row in pix for v in row]
    assert got == {
        "width": width,
        "height": height,
        "channels": 3,
        "mean_px_centi": (sum(flat) * 100) // len(flat),
    }


def test_decode_audio_wav_roundtrip(spark):
    from collections.abc import Iterator

    import pandas as pd

    from kaflow_spark.operators.multimodal import (
        MEDIA_DDL,
        decode_audio,
        decode_wav,
        make_wav_payload,
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["id"],
                    "payload": [
                        make_wav_payload(int(i), 4000 + int(i) * 100)
                        for i in pdf["id"]
                    ],
                    "meta": [None] * len(pdf),
                }
            )

    media = spark.range(1, 5).mapInPandas(gen, f"media_id bigint, {MEDIA_DDL}")
    rows = {r["media_id"]: r for r in decode_audio(media).collect()}
    assert len(rows) == 4
    for mid, r in rows.items():
        assert r["mime"] == "audio/wav"
        assert r["sample_rate"] == 16000
        assert (r["channels"], r["bits"]) == (1, 16)
        assert r["n_samples"] == 4000 + mid * 100
        assert r["duration_ms"] == (4000 + mid * 100) * 1000 // 16000
        local = decode_wav(make_wav_payload(mid, 4000 + mid * 100))
        assert r["rms_milli"] == local["rms_milli"] > 0


def test_decode_rejects_unknown_containers(spark):
    """Non-PNG/WAV payloads fail loudly (this sandbox has no Pillow /
    soundfile fallback), surfaced as the task failure Spark reports."""
    from pyspark.errors import PythonException

    from kaflow_spark.operators.multimodal import decode_audio, decode_image

    base = spark.range(1, 3).withColumnRenamed("id", "media_id")
    media = attach_fake_media(base, "media_id")  # KSMM container
    with pytest.raises(PythonException, match="unsupported image"):
        decode_image(media).collect()
    with pytest.raises(PythonException, match="unsupported audio"):
        decode_audio(media).collect()


def test_textstats_semantics(spark):
    from kaflow_spark.functions.textstats import lang_id, quality_score_bp, token_count_bpe

    rows = [
        (1, "the cat and the dog went to the park and it was fun"),
        (2, "el perro y el gato en la casa es un animal que come"),
        (3, "der Hund und die Katze sind nicht ein Tier mit Problemen"),
        (4, "zzz qqq 12345 %%%"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            lang_id("text").alias("lang"),
            quality_score_bp("text").alias("q"),
            token_count_bpe("text").alias("ntok"),
        ).collect()
    }
    assert out[1]["lang"] == "en"
    assert out[2]["lang"] == "es"
    assert out[3]["lang"] == "de"
    assert out[4]["lang"] == "und"
    assert out[1]["q"] > out[4]["q"]  # prose scores above junk
    assert out[1]["ntok"] >= 12


def test_minimizers_hand_example(spark):
    """(w=2, k=3) over 'abcabcab': grams abc/bca/cab/abc/bca/cab at
    pos 0-5; windows [0,1]->0(abc) [1,2]->1(bca) [2,3]->3(abc, later
    pos but smaller gram) [3,4]->3 [4,5]->4(bca). Selection {0,1,3,4};
    the repeated 'abc' at pos 3 IS selected separately (position
    tie-break suffix keeps repeats distinct)."""
    from kaflow_spark.operators.dedup import minimizers

    df = spark.createDataFrame([(1, "abcabcab")], "id long, text string")
    got = sorted(
        (r["pos"], r["gram"])
        for r in minimizers(df, "id", "text", k=3, w=2).collect()
    )
    assert got == [(0, "abc"), (1, "bca"), (3, "abc"), (4, "bca")]

    # shared-substring guarantee: two docs sharing a run of
    # >= w+k-1 = 4 chars share at least one (gram) fingerprint
    df2 = spark.createDataFrame(
        [(1, "xxQRSTyy"), (2, "aaaQRSTbbb")], "id long, text string"
    )
    sel = minimizers(df2, "id", "text", k=3, w=2).collect()
    g1 = {r["gram"] for r in sel if r["id"] == 1}
    g2 = {r["gram"] for r in sel if r["id"] == 2}
    assert g1 & g2


def test_minimizers_short_doc_empty(spark):
    from kaflow_spark.operators.dedup import minimizers

    df = spark.createDataFrame([(1, "abc")], "id long, text string")
    assert minimizers(df, "id", "text", k=8, w=4).count() == 0


def test_hard_negatives_semantics(spark):
    """Anchors exclude same-label vectors (including themselves); ranks
    are contiguous from 1; scores are non-increasing per anchor."""
    from kaflow_spark.operators.similarity import hard_negatives

    rows = [
        (1, 0, [1.0, 0.0]),
        (2, 0, [0.9, 0.1]),   # same label as anchor 1 -> excluded
        (3, 1, [0.8, 0.2]),
        (4, 1, [0.0, 1.0]),
        (5, 2, [1.0, 0.1]),
    ]
    df = spark.createDataFrame(
        rows, "vec_id bigint, label int, embedding array<float>"
    )
    out = hard_negatives(
        df, "vec_id", "label", "embedding", query_ids=[1], k=3
    ).collect()
    ids = [r["vec_id"] for r in sorted(out, key=lambda r: r["neg_rank"])]
    assert 2 not in ids and 1 not in ids  # label-0 rows never negatives
    assert ids[0] == 5  # closest different-label vector
    ranks = sorted(r["neg_rank"] for r in out)
    assert ranks == list(range(1, len(out) + 1))
    scores = [r["score"] for r in sorted(out, key=lambda r: r["neg_rank"])]
    assert scores == sorted(scores, reverse=True)


def test_hard_negatives_broadcasts_anchors(spark):
    from kaflow_spark.operators.similarity import hard_negatives

    df = spark.createDataFrame(
        [(i, i % 3, [float(i), 1.0]) for i in range(1, 30)],
        "vec_id bigint, label int, embedding array<float>",
    )
    plan = (
        hard_negatives(df, "vec_id", "label", "embedding", [1, 2], k=2)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastNestedLoopJoin" in plan


def test_shuffle_shards_deterministic_partition(spark):
    """Every doc lands in exactly one shard; positions are contiguous
    1..|shard| within each shard; the assignment is stable across
    runs (pure hash expression, no RNG)."""
    from kaflow_spark.operators.curation import shuffle_shards

    df = spark.createDataFrame(
        [(i,) for i in range(200)], "doc_id bigint"
    )
    a = shuffle_shards(df, "doc_id", n_shards=4).collect()
    b = shuffle_shards(df, "doc_id", n_shards=4).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    assert len(a) == 200 and len({r["doc_id"] for r in a}) == 200
    by_shard = {}
    for r in a:
        by_shard.setdefault(r["shard"], []).append(r["pos"])
    assert set(by_shard) <= set(range(4))
    for shard, poss in by_shard.items():
        assert sorted(poss) == list(range(1, len(poss) + 1))
    # md5 uniformity: no shard is empty or grossly dominant at n=200
    sizes = [len(v) for v in by_shard.values()]
    assert len(sizes) == 4 and max(sizes) < 120


def test_shuffle_shards_rejects_bad_width(spark):
    from kaflow_spark.operators.curation import shuffle_shards

    df = spark.createDataFrame([(1,)], "doc_id bigint")
    import pytest as _pytest

    with _pytest.raises(ValueError):
        shuffle_shards(df, "doc_id", n_shards=5)


def test_pagerank_hand_computed_exact(spark):
    """Graph 1->2, 2->1, 1->3 (3 dangling), units=1e12, damping .85,
    2 iterations — every value hand-computed with integer floor
    division; the operator must be bit-exact."""
    from kaflow_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (1, 3)], "src bigint, dst bigint"
    )
    got = {
        r["node"]: r["pr_units"]
        for r in pagerank(edges, "src", "dst", iterations=2).collect()
    }
    # init = 1e12 // 3 = 333333333333; base = (1500*init)//10000
    # iter1: pr(1)=333333333332, pr(2)=pr(3)=191666666665
    # iter2: pr(1)=212916666664, pr(2)=pr(3)=191666666665
    assert got == {1: 212916666664, 2: 191666666665, 3: 191666666665}


def test_pagerank_empty_graph(spark):
    from kaflow_spark.operators.graph import pagerank

    edges = spark.createDataFrame([], "src bigint, dst bigint")
    assert pagerank(edges, "src", "dst").count() == 0


def test_remove_duplicated_spans_hand_example(spark):
    """Cross-doc dup: shared 40-char block D clips from both docs (all
    occurrences, incl. the first — Lee et al. semantics). Intra-doc
    dup: D...D clips both copies, keeping the clean middle. Span-free
    docs pass through untouched."""
    from kaflow_spark.operators.dedup import remove_duplicated_spans

    D = "0123456789" * 4  # exactly min_len=40 chars
    rows = [
        (1, "xx" + D + "yy"),
        (2, "qq" + D + "zz"),
        (3, D + "mm" + D),
        (4, "totally unique and short"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {
        r["doc_id"]: r["text_clipped"]
        for r in remove_duplicated_spans(df, "doc_id", "text").collect()
    }
    assert got[1] == "xxyy"
    assert got[2] == "qqzz"
    assert got[3] == "mm"
    assert got[4] == "totally unique and short"


def test_remove_duplicated_spans_whole_doc_duplicated(spark):
    from kaflow_spark.operators.dedup import remove_duplicated_spans

    D = "abcdefghij" * 5
    df = spark.createDataFrame(
        [(1, D), (2, D)], "doc_id bigint, text string"
    )
    got = {
        r["doc_id"]: r["text_clipped"]
        for r in remove_duplicated_spans(df, "doc_id", "text").collect()
    }
    assert got == {1: "", 2: ""}


def test_gram_matrix_hand_computed(spark):
    """2-vector, 2-dim corpus: every cell verified by hand in integer
    micro-units; matrix symmetric; n constant."""
    from kaflow_spark.operators.embeddings import gram_matrix

    df = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [0.5, -1.0])], "id bigint, v array<float>"
    )
    g = {
        (r["dim_i"], r["dim_j"]): (r["sum_prod"], r["n"])
        for r in gram_matrix(df, "v").collect()
    }
    assert g[(0, 0)] == (1_250_000_000_000, 2)
    assert g[(0, 1)] == (1_500_000_000_000, 2)
    assert g[(1, 0)] == g[(0, 1)]
    assert g[(1, 1)] == (5_000_000_000_000, 2)


def test_pca_project_invariants(spark):
    """PCA on a deliberately anisotropic 3-D cloud: the top component
    captures the dominant axis (explained variance of proj dim 0 >>
    dim 1), projections are mean-centered, and the fit is
    deterministic across repeated runs (sign convention)."""
    import numpy as np

    from kaflow_spark.operators.embeddings import pca_project

    rng = np.random.RandomState(7)
    pts = rng.randn(200, 3) * np.array([10.0, 1.0, 0.1]) + np.array(
        [5.0, -2.0, 0.5]
    )
    df = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(pts)],
        "id bigint, v array<float>",
    )
    a = {r["id"]: r["proj"] for r in pca_project(df, "v", "id", k=2).collect()}
    b = {r["id"]: r["proj"] for r in pca_project(df, "v", "id", k=2).collect()}
    assert a == b  # deterministic fit + projection
    arr = np.array([a[i] for i in range(200)])
    # mean-centered output
    assert np.allclose(arr.mean(axis=0), 0, atol=1e-2)
    # dominant axis variance ratio carries over
    v0, v1 = arr[:, 0].var(), arr[:, 1].var()
    assert v0 > 20 * v1
    # top component aligns with the x-axis (the 10x spread direction)
    corr = np.corrcoef(arr[:, 0], pts[:, 0])[0, 1]
    assert abs(corr) > 0.99


def test_pca_project_empty(spark):
    from kaflow_spark.operators.embeddings import pca_project

    df = spark.createDataFrame([], "id bigint, v array<float>")
    assert pca_project(df, "v", "id", k=2).count() == 0


def test_asof_join_tolerance(spark):
    """merge_asof-parity tolerance: a backward match older than the
    bound nulls out (the left row still emits); an in-bound match
    stays; forward mirrors."""
    import datetime as dt

    from kaflow_spark.operators.asof import asof_join

    def ts(h, m=0):
        return dt.datetime(2024, 1, 1, h, m)

    left = spark.createDataFrame(
        [(1, ts(10)), (1, ts(12))], "k bigint, lt timestamp"
    )
    right = spark.createDataFrame(
        [(1, ts(9, 30), 100.0), (1, ts(6), 50.0)],
        "k bigint, rt timestamp, v double",
    )
    out = {
        r["lt"].hour: r["v_right"]
        for r in asof_join(
            left, right, "k", "lt", "rt", ["v"], tolerance="1 HOUR"
        ).collect()
    }
    assert out[10] == 100.0  # 09:30 is within 1h of 10:00
    assert out[12] is None   # latest right (09:30) is 2.5h old -> nulled

    fwd = {
        r["lt"].hour: r["v_right"]
        for r in asof_join(
            left,
            right,
            "k",
            "lt",
            "rt",
            ["v"],
            direction="forward",
            tolerance="1 HOUR",
        ).collect()
    }
    assert fwd[10] is None and fwd[12] is None  # no right row after lefts

    # without tolerance the old match is kept (regression guard)
    loose = {
        r["lt"].hour: r["v_right"]
        for r in asof_join(left, right, "k", "lt", "rt", ["v"]).collect()
    }
    assert loose[12] == 100.0


def test_minhash_side_restricted_cross_set(spark):
    """side_a/side_b candidates: only cross-set pairs come out, with
    no id_a < id_b dedup (sides are disjoint by contract), and the
    planted bench copy is found."""
    from pyspark.sql import functions as F
    from kaflow_spark.operators.dedup import minhash_lsh_candidates

    base = "the quick brown fox jumps over the lazy dog " * 8
    rows = [(i, base + f"tail {i}") for i in range(1, 9)]  # corpus
    rows += [(20, base + "tail 3"), (40, "completely different text " * 10)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    cand = minhash_lsh_candidates(
        df,
        "doc_id",
        "text",
        bands=32,
        min_bands=2,
        side_a=lambda c: c % 20 != 0,
        side_b=lambda c: c % 20 == 0,
    )
    got = {(r["id_a"], r["id_b"]) for r in cand.collect()}
    assert all(a % 20 != 0 and b % 20 == 0 for a, b in got)
    assert (3, 20) in got  # the planted near-copy of doc 3
    assert not any(b == 40 for _, b in got)  # unrelated bench item quiet


def test_hamming_pairs_pigeonhole_recall(spark):
    """All <=1-substitution pairs found; a 2-substitution pair is not;
    interleaved chunks beat the shared prefix."""
    from kaflow_spark.operators.dedup import hamming_pairs

    rows = [
        (1, "KEY-0001"), (2, "KEY-0002"),  # differ in 1 pos
        (3, "KEY-1002"),                   # 1 from id2, 2 from id1
        (4, "XXX-9999"),                   # far from everything
        (5, "KEY-001"),                    # shorter: excluded (length)
    ]
    df = spark.createDataFrame(rows, "id bigint, key string")
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in
           hamming_pairs(df, "id", "key", max_dist=1).collect()}
    assert got == {(1, 2): 1, (2, 3): 1}


def test_minimizers_tail_window_guarantee(spark):
    """Regression (r6): the window-start filter must sit ABOVE the
    window. Below it, the last w-1 grams drop out of the window INPUT
    and tail windows truncate — a shared 4-char run ('zabc', w+k-1)
    sitting at the TAIL of one doc but mid-document in the other then
    yields NO shared fingerprint (doc1 selects 'zab' from its
    truncated tail window while doc2 selects 'abc' from the full one),
    violating the winnowing guarantee the docstring promises."""
    from kaflow_spark.operators.dedup import minimizers

    df = spark.createDataFrame(
        [(1, "mmmzabc"), (2, "nnzabcQQ")], "id long, text string"
    )
    sel = minimizers(df, "id", "text", k=3, w=2).collect()
    g1 = {r["gram"] for r in sel if r["id"] == 1}
    g2 = {r["gram"] for r in sel if r["id"] == 2}
    assert "abc" in g1  # the tail window's true minimum is selected
    assert g1 & g2, f"no shared fingerprint: {g1} vs {g2}"


def test_hamming_capped_buckets_observable_loss(spark):
    """A degenerate equal-key cohort larger than max_bucket: the pair
    join silently drops its pairs (documented cap behavior), and the
    capped-bucket side channel REPORTS exactly those buckets, so the
    loss is observable instead of silent. A healthy cohort under the
    cap reports nothing and keeps recall 1."""
    from kaflow_spark.operators.dedup import (
        hamming_capped_buckets,
        hamming_pairs,
    )
    from kaflow_spark.operators.resolution import er_name_blocking_audit

    degenerate = [(i, "SAME-KEY") for i in range(1, 8)]  # 7 equal keys
    healthy = [(100, "KEY-0001"), (101, "KEY-0002")]
    df = spark.createDataFrame(degenerate + healthy, "id bigint, key string")

    # cap below the cohort: its pairs vanish from the join output...
    pairs = hamming_pairs(df, "id", "key", max_dist=1, max_bucket=5)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert got == {(100, 101)}  # 21 SAME-KEY pairs silently dropped

    # ...and the side channel names every bucket the cap dropped:
    # all (d+1)^2 = 4 blocking keys of the 7-row cohort exceed 5
    capped = hamming_capped_buckets(
        df, "id", "key", max_dist=1, max_bucket=5
    ).collect()
    assert len(capped) == 4
    assert all(r["bucket_n"] == 7 and r["key_len"] == 8 for r in capped)

    # the ER-surface wrapper sees the same report
    audit = er_name_blocking_audit(
        df, "id", "key", max_dist=1, max_bucket=5
    ).collect()
    assert {(r["chunk"], r["proj"]) for r in audit} == {
        (r["chunk"], r["proj"]) for r in capped
    }

    # under a sufficient cap: empty report certifies recall 1
    assert (
        hamming_capped_buckets(df, "id", "key", max_dist=1).count() == 0
    )
    full = hamming_pairs(df, "id", "key", max_dist=1)
    assert full.filter("hamming = 0").count() == 21  # all cohort pairs back


def test_resize_png_nearest_neighbor_exact():
    """Integer nearest-neighbor resize: the 2x downsample of a known
    pattern contains exactly the even-coordinate source pixels, the
    identity resize is pixel-for-pixel lossless, and the output is
    itself a decodable PNG with preserved channel count."""
    from kaflow_spark.operators.multimodal import (
        _png_pixels,
        decode_png,
        make_png_payload,
        resize_png,
    )

    src = make_png_payload(3, 16, 12)
    w, h, ch, px = _png_pixels(src)
    assert (w, h, ch) == (16, 12, 3)

    half = resize_png(src, 8, 6)
    w2, h2, ch2, px2 = _png_pixels(half)
    assert (w2, h2, ch2) == (8, 6, 3)
    stride = w * ch
    for dy in range(6):
        for dx in range(8):
            sx, sy = (dx * 16) // 8, (dy * 12) // 6
            want = px[sy * stride + sx * ch : sy * stride + sx * ch + ch]
            got = px2[(dy * 8 + dx) * ch : (dy * 8 + dx) * ch + ch]
            assert bytes(got) == bytes(want), (dx, dy)

    same = resize_png(src, 16, 12)
    assert _png_pixels(same)[3] == px
    assert decode_png(same)["mean_px_centi"] == decode_png(src)["mean_px_centi"]

    up = resize_png(src, 32, 24)  # upsample: every source pixel twice
    assert _png_pixels(up)[:3] == (32, 24, 3)

    import pytest

    with pytest.raises(ValueError):
        resize_png(b"\x00not a png", 4, 4)
    with pytest.raises(ValueError):
        resize_png(src, 0, 4)


def test_resize_image_stage_feeds_downstream_decode(spark):
    """The thumbnail-pipeline shape: scan -> resize_image (binary out)
    -> decode_image consumes the RESIZED payloads — two mapInPandas
    stages chained on nothing but binary + ints."""
    from collections.abc import Iterator

    import pandas as pd

    from kaflow_spark.operators.multimodal import (
        MEDIA_DDL,
        decode_image,
        make_png_payload,
        resize_image,
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["id"],
                    "payload": [
                        make_png_payload(int(i), 20, 10) for i in pdf["id"]
                    ],
                    "meta": [None] * len(pdf),
                }
            )

    media = spark.range(1, 6).mapInPandas(gen, f"media_id bigint, {MEDIA_DDL}")
    thumbs = resize_image(media, 5, 5)
    rows = {r["media_id"]: r for r in decode_image(thumbs).collect()}
    assert len(rows) == 5
    for r in rows.values():
        assert (r["width"], r["height"], r["channels"]) == (5, 5, 3)
        assert r["mime"] == "image/png"


def test_verified_pair_frame_shared_memo(spark, tmp_path):
    """Round-11 verdict item 2: q41/q137/q206/q215 each rebuilt the
    same LSH + verify pipeline. verified_pair_frame is the EXPLICIT
    shared set: a repeat call over the same corpus plan returns the
    SAME persisted DataFrame object (zero jobs), its rows equal the
    inline pipeline, and release_verified_pair_frames frees it."""
    from kaflow_spark.operators import memo
    from kaflow_spark.operators.dedup import (
        minhash_lsh_candidates,
        ngram_jaccard_pairs,
        release_verified_pair_frames,
        shingle_frame,
        verified_pair_frame,
    )

    release_verified_pair_frames()
    base = "A quick brown fox jumps over the lazy dog again and again. " * 5
    rows = [(1, base), (2, base), (3, base[:-7] + "zebra. "), (4, "totally unrelated text about spark plans " * 8)]
    path = str(tmp_path / "docs.parquet")
    spark.createDataFrame(rows, "doc_id bigint, text string").write.parquet(path)
    d = spark.read.parquet(path)

    p1 = verified_pair_frame(d, "doc_id", "text")
    p2 = verified_pair_frame(d, "doc_id", "text")
    assert p2 is p1  # memo hit: zero jobs for every later consumer
    assert p1.storageLevel.useMemory

    sh = shingle_frame(d, "doc_id", "text", 5)
    cand = (
        minhash_lsh_candidates(d, "doc_id", "text", min_bands=2, shingles=sh)
        .filter(F.col("est_jaccard") >= 0.7)
        .select("id_a", "id_b")
    )
    inline = (
        ngram_jaccard_pairs(d, cand, "doc_id", "text", shingles=sh)
        .filter(F.col("jaccard") >= 0.9)
    )
    got = sorted((r["id_a"], r["id_b"]) for r in p1.collect())
    want = sorted((r["id_a"], r["id_b"]) for r in inline.collect())
    assert got == want and (1, 2) in got

    assert release_verified_pair_frames() == 1
    assert not p1.storageLevel.useMemory
    assert not memo._MEMO.get("verified_pairs")
