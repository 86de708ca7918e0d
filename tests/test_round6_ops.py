"""Hand-case semantics for the round-6 batch-2 operators: nearest
as-of (tie and one-sided cases the fixture may not exercise), BFS hop
distances on a known graph, intra-document repetition coverage, and
the winsorized-mean selector."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from kaflow_spark.operators.asof import asof_join
from kaflow_spark.operators.curation import winsorized_stats
from kaflow_spark.operators.dedup import intra_doc_repetition
from kaflow_spark.operators.graph import bfs_hops


def _ts(h, m=0):
    return dt.datetime(2024, 1, 1, h, m)


def test_asof_nearest_picks_closer_side_and_backward_ties(spark):
    left = spark.createDataFrame(
        [
            (1, _ts(10)),  # backward at 9:00 (1h) vs forward 12:00 (2h) -> b
            (1, _ts(11, 30)),  # backward 9:00 (2.5h) vs forward 12:00 (0.5h) -> f
            (2, _ts(10)),  # only forward exists
            (3, _ts(10)),  # only backward exists
            (4, _ts(10)),  # no right rows at all -> null
            (5, _ts(10)),  # exact tie: 9:00 and 11:00 -> backward
        ],
        ["k", "lts"],
    )
    right = spark.createDataFrame(
        [
            (1, _ts(9), "b1"),
            (1, _ts(12), "f1"),
            (2, _ts(12), "f2"),
            (3, _ts(9), "b3"),
            (5, _ts(9), "b5"),
            (5, _ts(11), "f5"),
        ],
        ["k", "rts", "v"],
    )
    out = {
        (r.k, r.lts): r.v_right
        for r in asof_join(
            left, right, on="k", left_ts="lts", right_ts="rts",
            value_cols=["v"], direction="nearest",
        ).collect()
    }
    assert out[(1, _ts(10))] == "b1"
    assert out[(1, _ts(11, 30))] == "f1"
    assert out[(2, _ts(10))] == "f2"
    assert out[(3, _ts(10))] == "b3"
    assert out[(4, _ts(10))] is None
    assert out[(5, _ts(10))] == "b5"  # exact tie -> backward


def test_asof_nearest_tolerance_nulls_out_far_matches(spark):
    left = spark.createDataFrame([(1, _ts(10))], ["k", "lts"])
    right = spark.createDataFrame([(1, _ts(15), "far")], ["k", "rts", "v"])
    out = asof_join(
        left, right, on="k", left_ts="lts", right_ts="rts",
        value_cols=["v"], direction="nearest", tolerance="2 hours",
    ).head()
    assert out.v_right is None
    out2 = asof_join(
        left, right, on="k", left_ts="lts", right_ts="rts",
        value_cols=["v"], direction="nearest", tolerance="6 hours",
    ).head()
    assert out2.v_right == "far"


def test_bfs_hops_shortest_paths(spark):
    # 0->1->2->3->4->5 path, shortcut 0->3, cycle 5->0, island 9->10
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4), (4, 5), (0, 3), (5, 0), (9, 10)],
        ["src", "dst"],
    )
    got = {
        r.node: r.hop
        for r in bfs_hops(edges, "src", "dst", [0], max_hops=4).collect()
    }
    # 3 via the shortcut at hop 1, NOT hop 3; island unreachable
    assert got == {0: 0, 1: 1, 3: 1, 2: 2, 4: 2, 5: 3}


def test_bfs_hops_multi_source(spark):
    edges = spark.createDataFrame([(0, 1), (5, 1), (1, 2)], ["src", "dst"])
    got = {
        r.node: r.hop
        for r in bfs_hops(edges, "src", "dst", [0, 5], max_hops=2).collect()
    }
    assert got == {0: 0, 5: 0, 1: 1, 2: 2}


def test_intra_doc_repetition_hand_case(spark):
    rep = "abcdefghijklmnop"  # 16 chars >= window 15
    doc1 = rep + "XXXX" + rep  # the 16-char run repeats within the doc
    doc2 = "completely unique text with no repeats at all here"
    df = spark.createDataFrame([(1, doc1), (2, doc2)], ["doc_id", "text"])
    out = {
        r.doc_id: (r.dup_chars, r.rep_bp)
        for r in intra_doc_repetition(df, "doc_id", "text", min_len=15).collect()
    }
    # each occurrence contributes its 15-char windows: positions 1..2
    # and 21..22 -> spans [1,16] and [21,36] -> 32 duplicated chars
    assert out[1] == (32, 32 * 10000 // len(doc1))
    assert out[2] == (0, 0)


def test_winsorized_stats_hand_case(spark):
    # n=20: k_lo = ceil(5*20/100) = 1, k_hi = ceil(95*20/100) = 19
    vals = list(range(1, 20)) + [1000]  # one huge outlier
    df = spark.createDataFrame([("s", v) for v in vals], ["g", "v"])
    r = winsorized_stats(df, "g", "v", 5, 95).head()
    assert (r.n_docs, r.lo, r.hi) == (20, 1, 19)
    # clamped sum = 1..19 + clamp(1000->19) = 190 + 19 = 209
    assert r.wmean_c == 209 * 100 // 20


def test_near_dup_pairs_methods_agree(spark, sf_dir):
    from kaflow_spark.catalog import load
    from kaflow_spark.operators.dedup import dedup_corpus, near_dup_pairs

    d = load(spark, sf_dir, "documents")
    sets = {}
    for m in ("minhash", "simhash", "prefix", "winnow"):
        sets[m] = {
            (r.id_a, r.id_b)
            for r in near_dup_pairs(
                d, "doc_id", "text", method=m, threshold=0.9
            ).collect()
        }
    assert sets["minhash"]  # the fixture plants near-dups
    assert sets["minhash"] == sets["simhash"] == sets["prefix"] == sets["winnow"]

    kept = dedup_corpus(d, "doc_id", "text", method="minhash", threshold=0.9)
    n0, n1 = d.count(), kept.count()
    # one canonical keeper survives per cluster; the drop count equals
    # nodes minus components of the pair graph
    nodes = {i for p in sets["minhash"] for i in p}
    comps = {min(c) for c in _components(sets["minhash"])}
    assert n0 - n1 == len(nodes) - len(comps)


def _components(pairs):
    adj = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    seen, out = set(), []
    for s in adj:
        if s in seen:
            continue
        comp, stack = set(), [s]
        while stack:
            x = stack.pop()
            if x in comp:
                continue
            comp.add(x)
            stack.extend(adj[x] - comp)
        seen |= comp
        out.append(comp)
    return out


def test_decontaminate_one_call(spark):
    from kaflow_spark.operators.curation import decontaminate

    bench_text = (
        "what is the capital of france paris is the capital and "
        "largest city of france"
    )
    docs = spark.createDataFrame(
        [
            (1, "clean document about spark shuffle partitioning"),
            (2, "leaked: " + bench_text + " end"),
            (3, "another clean one about parquet row groups"),
        ],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame(
        [(900, bench_text)], ["bench_id", "btext"]
    )
    for method in ("chargram", "wordgram"):
        kept = decontaminate(
            docs, bench, "doc_id", "text", "bench_id", "btext",
            method=method, min_overlap=5,
        )
        assert {r.doc_id for r in kept.collect()} == {1, 3}, method
        flags = decontaminate(
            docs, bench, "doc_id", "text", "bench_id", "btext",
            method=method, min_overlap=5, remove=False,
        ).collect()
        assert [(r.doc_id, r.bench_id) for r in flags] == [(2, 900)], method


def test_composite_er_hand_case(spark):
    from kaflow_spark.operators.resolution import composite_er_pairs

    rows = [
        # id, name, group, segment, cents
        (1, "alpha", "g1", "A", 1000),
        (2, "alphb", "g1", "B", 9000),   # name-only match with 1
        (3, "gamma", "g1", "A", 1050),   # amount-only match with 1
        (4, "alphc", "g2", "A", 1000),   # other group: no match with 1
        (5, "alpha", "g1", "A", 1001),   # name AND amount match with 1
        (6, "zzzzz", "g1", "Z", 50_000), # matches nothing
    ]
    df = spark.createDataFrame(rows, ["id", "nm", "g", "s", "cents"])
    got = {
        (r.id_a, r.id_b): r.path
        for r in composite_er_pairs(df, "id", "nm", "g", "s", "cents").collect()
    }
    assert got[(1, 2)] == "name"
    assert got[(1, 3)] == "amount"
    assert got[(1, 5)] == "both"
    assert (1, 4) not in got  # group boundary respected
    assert (2, 5) in got and got[(2, 5)] == "name"
    assert all(6 not in pair for pair in got)


def test_snapshot_state_diff_semantics_hand_case(spark):
    """Mirror of q170's logic on a hand dataset: classification hits
    all three classes (the fixture might not)."""
    import datetime as dtm

    from pyspark.sql.window import Window

    rows = [
        # user, ts, event_id, type, cents
        (1, dtm.datetime(2024, 1, 10), 1, "a", 100),  # unchanged
        (2, dtm.datetime(2024, 1, 10), 2, "a", 100),
        (2, dtm.datetime(2024, 1, 20), 3, "b", 200),  # changed
        (3, dtm.datetime(2024, 1, 20), 4, "a", 100),  # new
    ]
    e = spark.createDataFrame(
        rows, "user_id bigint, ts timestamp, event_id bigint, "
        "event_type string, cents bigint"
    )

    def snap(cut, p):
        w = Window.partitionBy("user_id").orderBy(
            F.col("ts").desc(), F.col("event_id").desc()
        )
        return (
            e.filter(F.col("ts") <= F.lit(cut).cast("timestamp"))
            .withColumn("rn", F.row_number().over(w))
            .filter("rn = 1")
            .select(
                "user_id",
                F.col("event_type").alias(f"{p}_type"),
                F.col("cents").alias(f"{p}_cents"),
            )
        )

    s1 = snap("2024-01-15 00:00:00", "t1")
    s2 = snap("2024-01-25 00:00:00", "t2")
    got = {
        r.user_id: r.status
        for r in s2.join(s1, ["user_id"], "left")
        .select(
            "user_id",
            F.when(F.col("t1_type").isNull(), "new")
            .when(
                (F.col("t1_type") == F.col("t2_type"))
                & (F.col("t1_cents") == F.col("t2_cents")),
                "unchanged",
            )
            .otherwise("changed")
            .alias("status"),
        )
        .collect()
    }
    assert got == {1: "unchanged", 2: "changed", 3: "new"}
