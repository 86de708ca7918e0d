"""Declared LLM-data-pipeline queries (SURVEY §2B north-star set).

Deterministic operators carry full DuckDB oracles (token counting,
quality scoring, language id, fingerprinting, brute-force cosine
top-k, as-of join). The near-dup pipelines (q41 MinHash, q42 SimHash,
q43 embedding LSH) are declared END-TO-END — LSH candidate generation
piped through the exact-verify stage — so their output is a
deterministic function of the data and a brute-force O(n²) DuckDB
oracle hash-checks them; the candidate generators' recall is thereby
attested too (a missed true pair would show as a row mismatch). Only
the ANN top-k queries (q44 multi-probe LSH, q63 IVF) remain
rows-only: their output depends on which buckets the probe visits,
which no exact oracle reproduces.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kaflow_spark.catalog import load
from kaflow_spark.functions.textstats import (
    BPE_PATTERN,
    LANG_STOPWORDS,
    int_div,
    lang_id,
    quality_components,
    quality_score_bp,
    token_count_bpe,
)
from kaflow_spark.operators.asof import asof_join
from kaflow_spark.operators.dedup import (
    embedding_near_dups,
    minhash_lsh_candidates,
    simhash_near_dups,
)
from kaflow_spark.operators.similarity import ann_topk, cosine_topk
from kaflow_spark.queries.base import declare

_SQL_BPE = BPE_PATTERN.replace("'", "''")


def _fixture_query_vec(sf: str) -> list[float]:
    """The vec_id=1 embedding, read driver-side with pyarrow.

    In production the query vector is a plain parameter the caller
    already holds; the fixture derives it from the corpus, and doing
    that through Spark would cost an extra job per query build. One
    row-group read of a local parquet file is the honest equivalent
    of 'the caller hands us a vector'."""
    import pyarrow.dataset as ds

    t = (
        ds.dataset(f"{sf}/embeddings.parquet")
        .to_table(columns=["vec_id", "embedding"], filter=ds.field("vec_id") == 1)
    )
    return [float(x) for x in t["embedding"][0].as_py()]


@declare(
    "q34_token_count_bpe",
    oracle=f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{_SQL_BPE}')) AS INT) AS ntok_bpe
    FROM documents ORDER BY doc_id
    """,
    doc="BPE-ish token counting via a GPT-2-style regex, JVM-side.",
    tags=("text",),
)
def q34(spark: SparkSession, sf: str) -> DataFrame:
    # Sort below the projection: a sort ABOVE an expensive projection
    # makes the range-partitioner sampling job evaluate the regexps a
    # second time (nothing below the sort is an exchange, so no stage
    # reuse); sorting the pruned scan first runs them exactly once.
    return (
        load(spark, sf, "documents")
        .orderBy("doc_id")
        .select("doc_id", token_count_bpe("text").alias("ntok_bpe"))
    )


def _quality_components_cte() -> str:
    """Shared DuckDB CTE text for the quality components (q35, q100)."""
    stop = LANG_STOPWORDS["en"].replace("\\", "\\")
    return f"""c AS (
      SELECT doc_id,
             CAST(LENGTH(text) AS BIGINT) AS nch,
             CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS ntok,
             CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS BIGINT) AS alpha,
             CAST(len(regexp_extract_all(text, '[0-9]')) AS BIGINT) AS digit,
             CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS BIGINT) AS punct,
             CAST(len(regexp_extract_all(lower(text), '{stop}')) AS BIGINT) AS stop
      FROM documents)"""


# the shared score formula over the components CTE (q35, q100)
_QSCORE_EXPR = """CAST( (alpha*10000) // GREATEST(nch,1)
               + (stop*10000)  // GREATEST(ntok,1)
               - (punct*10000) // GREATEST(nch,1)
               - (digit*10000) // GREATEST(nch,1) AS BIGINT)"""


def _quality_oracle() -> str:
    return f"""
    WITH {_quality_components_cte()}
    SELECT doc_id, nch, ntok, alpha, digit, punct, stop,
           {_QSCORE_EXPR} AS score_bp
    FROM c ORDER BY doc_id
    """


@declare(
    "q35_text_quality",
    oracle=_quality_oracle(),
    doc="Document quality heuristic: integer-basis-point arithmetic "
    "(no float division) so the oracle reproduces it exactly.",
    tags=("text",),
)
def q35(spark: SparkSession, sf: str) -> DataFrame:
    d = load(spark, sf, "documents").orderBy("doc_id")
    comps = quality_components(F.col("text"))
    return d.select(
        "doc_id",
        *[c.alias(n) for n, c in comps.items()],
        quality_score_bp(F.col("text")).alias("score_bp"),
    )


@declare(
    "q100_quality_threshold",
    oracle=f"""
    WITH {_quality_components_cte()},
    s AS (SELECT doc_id, {_QSCORE_EXPR} AS score_bp FROM c),
    t AS (SELECT MIN(score_bp) AS thr FROM (
            SELECT score_bp,
                   cume_dist() OVER (ORDER BY score_bp) AS cd
            FROM s)
          WHERE cd >= 0.75)
    SELECT s.doc_id, s.score_bp
    FROM s, t WHERE s.score_bp >= t.thr
    ORDER BY s.doc_id
    """,
    doc="Corpus-RELATIVE quality gate: keep documents at or above the "
    "corpus p75 quality score — the dynamic-threshold pattern real "
    "curation uses when absolute cutoffs don't transfer across "
    "corpora. The exact threshold is percentile_disc-style set "
    "selection (smallest score whose cume_dist reaches 0.75), computed "
    "scale-safely: scores partial-agg to |distinct score| counted rows "
    "map-side, the cumulative sum runs over THAT bounded table (scores "
    "are basis points, so |distinct| is corpus-size-independent — "
    "never a single-partition window over raw rows), and the p75 test "
    "is integer 4*cum >= 3*n (== cume_dist >= 0.75, no float "
    "division). Threshold broadcasts back as a 1-row cross join.",
    tags=("curation", "text"),
)
def q100(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql.window import Window

    # One regexp pass over text: materialize (doc_id, score) through a
    # hash exchange on doc_id (uniform — score values cluster and would
    # skew); the threshold branch and the final filter branch both
    # consume the SAME Exchange, so Spark evaluates the expensive score
    # exactly once (16 B/row shuffle instead of a second full text
    # scan). The counts branch partial-aggs on score map-side after the
    # exchange, so its own shuffle is |distinct| x partitions rows.
    # The coalesce in the final filter (below) is load-bearing: a bare
    # (score >= thr) makes InferFiltersFromConstraints add
    # isnotnull(score) on the filter branch only, which makes the two
    # exchange subtrees canonically unequal and defeats ReusedExchange
    # — measured as a second full regexp scan (+2.3 s at sf0.1). An
    # explicit isNotNull in the shared subtree restores reuse but
    # re-evaluates the whole score expression inside the Filter node
    # (no cross-operator subexpression elimination). The null-safe
    # condition sidesteps both: nothing is inferred, both branches stay
    # identical Project→Scan, and the score evaluates exactly once.
    s = (
        load(spark, sf, "documents")
        .select("doc_id", quality_score_bp(F.col("text")).alias("score_bp"))
        .repartition(F.col("doc_id"))
    )
    counts = s.groupBy("score_bp").agg(F.count(F.lit(1)).alias("cnt"))
    w_cum = Window.orderBy("score_bp").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.orderBy("score_bp").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    thr = (
        counts.select(
            "score_bp",
            F.sum("cnt").over(w_cum).alias("cum"),
            F.sum("cnt").over(w_all).alias("n"),
        )
        .filter(4 * F.col("cum") >= 3 * F.col("n"))
        .agg(F.min("score_bp").alias("thr"))
    )
    return (
        s.crossJoin(F.broadcast(thr))
        # Null-safe on purpose — see the ReusedExchange note above.
        # score_bp is never null (documents.text is non-null), so the
        # coalesce sentinel cannot change the result set.
        .filter(F.coalesce(F.col("score_bp"), F.lit(-(2**62))) >= F.col("thr"))
        .select("doc_id", "score_bp")
        .orderBy("doc_id")
    )


def _langid_oracle() -> str:
    structs = ", ".join(
        "{'score': CAST(len(regexp_extract_all(lower(text), '%s')) AS BIGINT),"
        " 'lang': '%s'}" % (pat, lang)
        for lang, pat in sorted(LANG_STOPWORDS.items())
    )
    return f"""
    SELECT doc_id,
           CASE WHEN (list_aggregate([{structs}], 'max')).score <= 0 THEN 'und'
                ELSE (list_aggregate([{structs}], 'max')).lang END AS lang_pred
    FROM documents ORDER BY doc_id
    """


@declare(
    "q36_lang_id",
    oracle=_langid_oracle(),
    doc="Stopword-heuristic language id (argmax over per-language hit "
    "counts, struct-max tie-break).",
    tags=("text",),
)
def q36(spark: SparkSession, sf: str) -> DataFrame:
    return (
        load(spark, sf, "documents")
        .orderBy("doc_id")
        .select("doc_id", lang_id("text").alias("lang_pred"))
    )


def _langid_confusion_oracle() -> str:
    pred = _langid_oracle().replace("ORDER BY doc_id", "")
    return f"""
    WITH p AS ({pred})
    SELECT d.lang, p.lang_pred, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN p.lang_pred = d.lang THEN COUNT(*) ELSE 0 END)
                OVER (PARTITION BY d.lang) * 10000
                // SUM(COUNT(*)) OVER (PARTITION BY d.lang) AS BIGINT)
               AS recall_bp
    FROM documents d JOIN p USING (doc_id)
    GROUP BY d.lang, p.lang_pred
    ORDER BY d.lang, p.lang_pred
    """


@declare(
    "q97_langid_confusion",
    oracle=_langid_confusion_oracle(),
    doc="Filter-evaluation report: confusion counts of the q36 "
    "language-id heuristic against the gold lang column, with "
    "per-gold-language recall in basis points — the eval a curation "
    "pipeline runs before trusting a language filter to drop data. "
    "One partial-agg'd groupBy over (gold, pred); the window recall "
    "runs on the already-aggregated confusion cells (|langs|^2 rows), "
    "so shuffle volume is independent of corpus size.",
    tags=("text", "curation"),
)
def q97(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql.window import Window

    d = load(spark, sf, "documents")
    cells = (
        d.select("lang", lang_id("text").alias("lang_pred"))
        .groupBy("lang", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("lang")
    correct = F.sum(F.when(F.col("lang_pred") == F.col("lang"), F.col("n"))).over(w)
    total = F.sum("n").over(w)
    return cells.select(
        "lang",
        "lang_pred",
        "n",
        int_div(F.coalesce(correct, F.lit(0)) * 10000, total)
        .cast("bigint")
        .alias("recall_bp"),
    ).orderBy("lang", "lang_pred")


@declare(
    "q37_doc_fingerprint",
    oracle="""
    SELECT doc_id,
           CASE WHEN LENGTH(text) < 8 THEN md5(text)
                ELSE list_aggregate(
                       list_transform(range(1, GREATEST(LENGTH(text)-7,1)+1, 8),
                                      i -> md5(substring(text, i::int, 8))),
                       'min') END AS fp
    FROM documents ORDER BY doc_id
    """,
    doc="Document fingerprint: lexicographic-min md5 over char 8-grams "
    "at stride-8 positions (1-permutation MinHash; md5 and the "
    "position set are identical in both engines — the md5 calls ARE "
    "the operator's cost, so both dialects sample the same eighth of "
    "the grams). Declared path is the pure-JVM expression kernel "
    "(fingerprint_expr): at stride 8 it matches the Arrow pandas-UDF "
    "kernel's steady-state throughput (0.6 s vs 0.5 s at sf0.1, "
    "bit-identical output — tested) while keeping Python out of the "
    "data path entirely, so the query never pays python-worker "
    "spawn/respawn. The sort sits BELOW the projection: a sort above "
    "an expensive projection makes the range-partitioner's sampling "
    "job re-execute it; sorting the pruned scan first runs the kernel "
    "exactly once and the projection preserves the order.",
    tags=("text", "dedup"),
)
def q37(spark: SparkSession, sf: str) -> DataFrame:
    from kaflow_spark.functions.textstats import fingerprint_expr

    return (
        load(spark, sf, "documents")
        .orderBy("doc_id")
        .select("doc_id", fingerprint_expr("text", 8, stride=8).alias("fp"))
    )


@declare(
    "q38_cosine_topk",
    oracle="""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 1)
    SELECT e.vec_id,
           ROUND(list_cosine_similarity(e.embedding::DOUBLE[], q.qv::DOUBLE[]), 6) AS score
    FROM embeddings e, q
    ORDER BY score DESC, e.vec_id LIMIT 10
    """,
    doc="Brute-force cosine top-k against the vec_id=1 embedding: one "
    "scan + TakeOrderedAndProject, no shuffle; scores double-precision "
    "left-to-right (matches DuckDB), rounded for stable ordering.",
    tags=("similarity",),
)
def q38(spark: SparkSession, sf: str) -> DataFrame:
    e = load(spark, sf, "embeddings")
    query = _fixture_query_vec(sf)
    return cosine_topk(e, "embedding", "vec_id", query, k=10, round_digits=6)


@declare(
    "q39_argmax",
    oracle="""
    SELECT c_mktsegment, arg_max(c_name, c_custkey) AS top_name
    FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
    doc="max_by/arg_max over a unique ordering key (dialect split: "
    "Spark max_by == DuckDB arg_max).",
    tags=("agg",),
)
def q39(spark: SparkSession, sf: str) -> DataFrame:
    return (
        load(spark, sf, "customer")
        .groupBy("c_mktsegment")
        .agg(F.max_by("c_name", "c_custkey").alias("top_name"))
        .orderBy("c_mktsegment")
    )


@declare(
    "q40_asof_join",
    oracle="""
    WITH cutoffs AS (
        SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS cutoff
        FROM events)
    SELECT c.user_id, c.cutoff, MAX(e.ts) AS last_ts
    FROM cutoffs c LEFT JOIN events e
      ON e.user_id = c.user_id AND e.ts <= c.cutoff
    GROUP BY c.user_id, c.cutoff ORDER BY c.user_id, c.cutoff
    """,
    doc="True as-of join (union+window composition, operators.asof): "
    "for each per-user day cutoff, the latest event at-or-before. The "
    "oracle states the same semantics as a range join + group-max.",
    tags=("join", "asof"),
)
def q40(spark: SparkSession, sf: str) -> DataFrame:
    e = load(spark, sf, "events")
    cutoffs = e.select(
        "user_id", F.date_trunc("day", F.col("ts")).alias("cutoff")
    ).distinct()
    joined = asof_join(
        cutoffs,
        e.select("user_id", "ts"),
        on="user_id",
        left_ts="cutoff",
        right_ts="ts",
        value_cols=["ts"],
    )
    return joined.select(
        "user_id", "cutoff", F.col("ts_right").alias("last_ts")
    ).orderBy("user_id", "cutoff")


# ---- near-dup pipelines: LSH candidates + exact verify (oracled) ------

# Shared ground truth for q41/q42: every document pair with exact
# 5-char-shingle Jaccard >= 0.9, by brute force. The engine never runs
# this O(n²) plan — it attests that LSH blocking + exact verify found
# exactly these pairs. Spark shingles via xxhash64(substring) (Jaccard
# over hashed shingles equals Jaccard over the raw shingle sets barring
# a 2^-64 collision); DuckDB uses the raw substrings directly. The
# jaccard value itself is one int/int IEEE division — bit-identical.
EXACT_JACCARD_CTE = """
    sh AS (
        SELECT doc_id, list(DISTINCT substring(text, CAST(i AS INT), 5)) AS s
        FROM (SELECT doc_id, text,
                     unnest(range(1, greatest(length(text)-4, 1)+1)) AS i
              FROM documents)
        GROUP BY doc_id),
    p AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                 / CAST(len(list_distinct(a.s || b.s)) AS DOUBLE) AS jaccard
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
"""

_EXACT_JACCARD_SQL = f"""
    WITH {EXACT_JACCARD_CTE}
    SELECT id_a, id_b, jaccard FROM p WHERE jaccard >= 0.9
    ORDER BY id_a, id_b
"""


@declare(
    "q41_minhash_near_dup",
    oracle=_EXACT_JACCARD_SQL,
    doc="MinHash-LSH near-duplicate pipeline, end-to-end: 64-hash "
    "signatures, 16-band bucket-join candidates, exact n-gram-Jaccard "
    "verify >= 0.9. The verify stage makes the output exact, so a "
    "brute-force O(n²) DuckDB Jaccard oracle hash-checks it — which "
    "also attests banding recall (16 bands of 4 rows: P(miss) at "
    "s=0.9 is (1-0.9^4)^16 ≈ 4e-8; a real miss would fail the row "
    "compare).",
    tags=("quadratic-oracle", "dedup",),
)
def q41(spark: SparkSession, sf: str) -> DataFrame:
    from kaflow_spark.operators.dedup import verified_pair_frame

    d = load(spark, sf, "documents")
    # ONE shingle pass feeds both the signature kernel and the exact
    # verify. min_bands=2 (JVM groupBy count) plus est_jaccard >= 0.7
    # (>5 sigma below any true 0.9-Jaccard pair, P(miss) ~3e-7;
    # verified 0 misses at sf0.001/0.01/0.1) screen the ~200k
    # single-band flukes down to ~the true pairs before the exact
    # verify joins run. The verified pair set is the SHARED persisted
    # frame the whole dedup-QA family reads (q137/q206/q215).
    return verified_pair_frame(d, "doc_id", "text").orderBy("id_a", "id_b")


@declare(
    "q42_simhash_near_dup",
    oracle=_EXACT_JACCARD_SQL,
    doc="SimHash near-duplicate pipeline, end-to-end: 64-bit 5-gram "
    "vote signatures, 8-bit-chunk pigeonhole blocking + hamming <= 10 "
    "pre-filter, exact n-gram-Jaccard verify >= 0.9. The signature "
    "features are the SAME 5-gram family the verify/oracle use — "
    "3-gram features have so little discrimination on English-like "
    "text (every doc shares most trigrams) that sf0.1 floods 157k "
    "candidates; 5-grams give ~273 for 255 true pairs. Blocking "
    "GUARANTEES recall up to hamming 64/block_bits - 1 = 7; fixture "
    "true pairs reach hamming 8, and 8 flips over eight chunks leave "
    "~2.9 chunks clean in expectation — verified 0 misses at "
    "sf0.001/0.01/0.1. Same exact output contract as q41 — "
    "deliberately: two independent candidate generators attested "
    "against one brute-force oracle.",
    tags=("quadratic-oracle", "dedup",),
)
def q42(spark: SparkSession, sf: str) -> DataFrame:
    from kaflow_spark.operators.dedup import ngram_jaccard_pairs, shingle_frame

    d = load(spark, sf, "documents")
    sh = shingle_frame(d, "doc_id", "text", 5)
    cand = simhash_near_dups(
        d, "doc_id", "text", ngram=5, max_hamming=10, block_bits=8, shingles=sh
    ).select("id_a", "id_b")
    return (
        ngram_jaccard_pairs(d, cand, "doc_id", "text", shingles=sh)
        .filter(F.col("jaccard") >= 0.9)
        .orderBy("id_a", "id_b")
    )


@declare(
    "q43_embedding_near_dup",
    oracle="""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                 CAST(b.embedding AS DOUBLE[])) >= 0.5
    ORDER BY id_a, id_b
    """,
    doc="Embedding near-duplicate pipeline, end-to-end: 24 independent "
    "4-plane hyperplane-LSH tables for candidates, exact in-bucket "
    "cosine >= 0.5 verify; brute-force O(n²) cosine oracle "
    "hash-checks the surviving id pairs. Output is ids only — the "
    "threshold decision is engine-identical (nearest boundary value "
    "sits 1.6e-3 away, float-sum drift is ~1e-15) but the cosine "
    "VALUE itself could differ in the last ulp between engines' "
    "summation orders, so it stays out of the hashed columns. Many "
    "tables are needed because cos 0.5 means θ≈60°: per-plane "
    "agreement is only 1-θ/π≈0.67, so P(collide | 4 planes) ≈ 0.2 "
    "per table; 24 tables give P(miss) ≈ 0.8^24 ≈ 5e-3 per pair "
    "(verified 0 misses on the fixture at sf0.01 and sf0.1). The "
    "high-threshold near-dup case (cos ≥ 0.9) needs only one 8-plane "
    "table — the operator serves both via (num_planes, num_tables). "
    "The O(n^2) cosine oracle stays UNGATED: embeddings is the small "
    "table (2k rows at sf0.1 — 0.9 s measured), unlike the document "
    "jaccard family.",
    tags=("dedup", "similarity"),
)
def q43(spark: SparkSession, sf: str) -> DataFrame:
    e = load(spark, sf, "embeddings")
    return (
        embedding_near_dups(
            e,
            "vec_id",
            "embedding",
            threshold=0.5,
            num_planes=4,
            num_tables=24,
            dim=len(_fixture_query_vec(sf)),
        )
        .select("id_a", "id_b")
        .orderBy("id_a", "id_b")
    )


@declare(
    "q44_ann_topk",
    oracle=None,
    doc="LSH-bucketed approximate nearest neighbours for the vec_id=1 "
    "embedding: 4 independent 8-plane tables, multi-probe hamming<=1 "
    "in each (union-of-tables — per-table recall p becomes 1-(1-p)^4 "
    "for ~13%% candidate selectivity on the fixture). Approx => "
    "rows-only; tests/test_ann_recall.py pins the measured recall "
    "floor and a planted-structure recall=1 check.",
    tags=("similarity", "approx"),
)
def q44(spark: SparkSession, sf: str) -> DataFrame:
    e = load(spark, sf, "embeddings")
    query = _fixture_query_vec(sf)
    return ann_topk(e, "embedding", "vec_id", query, k=10)


@declare(
    "q63_ivf_topk",
    oracle=None,
    doc="IVF approximate nearest neighbours: k-means coarse quantizer "
    "(sampled, driver-side) + nprobe-list pruned exact rerank; the "
    "scale path when the corpus is stored partitioned by list id. "
    "Approx => rows-only.",
    tags=("similarity", "approx"),
)
def q63(spark: SparkSession, sf: str) -> DataFrame:
    from kaflow_spark.operators.similarity import ivf_topk

    e = load(spark, sf, "embeddings")
    query = _fixture_query_vec(sf)
    return ivf_topk(
        e, "embedding", "vec_id", query, k=10, n_lists=8, nprobe=3
    )


@declare(
    "q83_dedup_clusters",
    oracle=f"""
    WITH RECURSIVE pairs AS ({_EXACT_JACCARD_SQL.replace("ORDER BY id_a, id_b", "")}),
    reach(node, label) AS (
        SELECT id_a, id_a FROM pairs
        UNION
        SELECT id_b, id_b FROM pairs
        UNION
        SELECT e.b, r.label
        FROM reach r JOIN (
            SELECT id_a AS a, id_b AS b FROM pairs
            UNION ALL
            SELECT id_b AS a, id_a AS b FROM pairs) e
        ON e.a = r.node)
    SELECT node AS doc_id, CAST(MIN(label) AS BIGINT) AS cluster_id
    FROM reach GROUP BY node ORDER BY doc_id
    """,
    doc="Duplicate-CLUSTER labeling: connected components over the "
    "verified near-dup pair graph (tiered: per-partition union-find "
    "contraction, a one-task exact solve for ids-only graphs that fit "
    "one executor, min-label iteration above that — see "
    "operators/graph.py). Component id = smallest member doc_id, "
    "which IS the canonical keeper. The oracle computes the same "
    "fixpoint with a recursive CTE.",
    tags=("quadratic-oracle", "dedup",),
)
def q83(spark: SparkSession, sf: str) -> DataFrame:
    from kaflow_spark.operators.dedup import verified_pair_frame
    from kaflow_spark.operators.graph import connected_components

    d = load(spark, sf, "documents")
    # q41's shared persisted verified-pair frame (one LSH + verify
    # materialization for the whole dedup-QA family)
    pairs = verified_pair_frame(d, "doc_id", "text")
    return (
        connected_components(pairs, "id_a", "id_b")
        .select(F.col("node").alias("doc_id"), F.col("component").alias("cluster_id"))
        .orderBy("doc_id")
    )


@declare(
    "q99_bpe_pair_counts",
    oracle="""
    WITH w AS (
        SELECT unnest(regexp_extract_all(text, '\\S+')) AS w
        FROM documents),
    p AS (
        SELECT unnest(list_transform(range(1, length(w)),
                                     i -> substring(w, CAST(i AS INT), 2)))
                   AS pair
        FROM w WHERE length(w) >= 2)
    SELECT pair, CAST(COUNT(*) AS BIGINT) AS n
    FROM p GROUP BY pair
    ORDER BY n DESC, pair LIMIT 20
    """,
    doc="BPE first-iteration statistics: adjacent character-pair "
    "counts over all word instances, top 20 — the distributed half of "
    "tokenizer training (Sennrich et al. ACL'16). One explode + one "
    "partial-agg'd count; the exact merge loop then runs driver-side "
    "on the bounded word-frequency table "
    "(operators/tokenizer.train_bpe, unit-tested against hand-computed "
    "merge sequences).",
    tags=("text", "curation"),
)
def q99(spark: SparkSession, sf: str) -> DataFrame:
    from kaflow_spark.operators.tokenizer import char_pair_counts

    return (
        char_pair_counts(load(spark, sf, "documents"), "text")
        .orderBy(F.col("n").desc(), "pair")
        .limit(20)
    )


_SPAN_L = 40


@declare(
    "q96_duplicated_spans",
    oracle=f"""
    WITH g AS (
      SELECT doc_id, CAST(i AS INT) AS pos,
             substring(text, CAST(i AS INT), {_SPAN_L}) AS g
      FROM (SELECT doc_id, text, unnest(range(1, length(text)-{_SPAN_L}+2)) AS i
            FROM documents WHERE length(text) >= {_SPAN_L})),
    d AS (SELECT doc_id, pos FROM
            (SELECT doc_id, pos, count(*) OVER (PARTITION BY g) AS c FROM g)
          WHERE c > 1),
    i AS (SELECT doc_id, pos,
                 CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                          IS NULL
                        OR pos - lag(pos)
                             OVER (PARTITION BY doc_id ORDER BY pos) > {_SPAN_L}
                      THEN 1 ELSE 0 END AS brk
          FROM d),
    s AS (SELECT doc_id, pos,
                 SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS isl
          FROM i),
    sp AS (SELECT doc_id, isl, MIN(pos) AS st, MAX(pos)+{_SPAN_L}-1 AS en
           FROM s GROUP BY doc_id, isl)
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup_spans,
           CAST(SUM(en-st+1) AS BIGINT) AS dup_chars
    FROM sp GROUP BY doc_id ORDER BY doc_id
    """,
    doc="Exact duplicated-substring report (Lee et al. ACL'22 exact "
    "substring dedup, declarative Spark shape): every 40-char window "
    "occurring more than once corpus-wide, merged per document into "
    "maximal spans; emits the duplicated footprint a substring-dedup "
    "pass would clip. The plan shuffles (id, pos, h1, h2) 32-byte "
    "rows (128-bit two-seed window identity — 64 bits would mint "
    "birthday-collision false dups at 10^12-window corpus scale) — "
    "window text never moves; the oracle groups raw window "
    "strings (counts are hash-equality-invariant, same argument as "
    "q68).",
    tags=("dedup", "text"),
)
def q96(spark: SparkSession, sf: str) -> DataFrame:
    from kaflow_spark.operators.dedup import duplicated_spans

    return duplicated_spans(
        load(spark, sf, "documents"), "doc_id", "text", min_len=_SPAN_L
    ).orderBy("doc_id")


# Shared quantized-dims CTE for the exact embedding analytics
# (q91/q92): float32 -> double -> micro-units bigint. ROUND is
# half-away-from-zero and `//` truncates toward zero in BOTH engines
# (verified), so every downstream sum/mean/distance is exact integer
# algebra — no shuffle-order float drift to break the hash.
_QUANT_DIMS_CTE = """
    e AS (
        SELECT vec_id, CAST(label AS BIGINT) AS label,
               CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS dim,
               CAST(ROUND(CAST(unnest(embedding) AS DOUBLE) * 1000000)
                    AS BIGINT) AS q
        FROM embeddings)
"""


@declare(
    "q91_label_centroids",
    oracle=f"""
    WITH {_QUANT_DIMS_CTE}
    SELECT label, dim,
           CAST(SUM(q) AS BIGINT) // CAST(COUNT(*) AS BIGINT)
               AS centroid_micro,
           CAST(SUM(q) AS BIGINT) AS sum_micro,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM e GROUP BY label, dim ORDER BY label, dim
    """,
    doc="Per-label embedding centroids, exact: components quantized "
    "to integer micro-units so the distributed mean is bigint algebra "
    "— deterministic under any partitioning (float vector means are "
    "shuffle-order-dependent and would never hash-match). Long "
    "format (label, dim, centroid_micro, sum_micro, n); sums+counts "
    "make centroids mergeable across corpus shards. One posexplode + "
    "one partial-agg'd groupBy: shuffle volume is labels x dims, "
    "independent of vector count.",
    tags=("similarity", "curation"),
)
def q91(spark: SparkSession, sf: str) -> DataFrame:
    from kaflow_spark.operators.embeddings import label_centroids

    e = load(spark, sf, "embeddings").select(
        F.col("label").cast("bigint").alias("label"), "embedding"
    )
    return label_centroids(e, "label", "embedding").orderBy("label", "dim")


@declare(
    "q92_centroid_purity",
    oracle=f"""
    WITH {_QUANT_DIMS_CTE},
    c AS (SELECT label AS lc, dim,
                 CAST(SUM(q) AS BIGINT) // CAST(COUNT(*) AS BIGINT) AS cm
          FROM e GROUP BY label, dim),
    d AS (SELECT e.vec_id, e.label, c.lc,
                 CAST(SUM((e.q - c.cm) * (e.q - c.cm)) AS BIGINT) AS d2
          FROM e JOIN c USING (dim) GROUP BY e.vec_id, e.label, c.lc),
    a AS (SELECT vec_id, label, lc,
                 row_number() OVER (PARTITION BY vec_id ORDER BY d2, lc)
                     AS rn
          FROM d)
    SELECT label, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN lc = label THEN 1 ELSE 0 END) AS BIGINT)
               AS n_self,
           (CAST(SUM(CASE WHEN lc = label THEN 1 ELSE 0 END) AS BIGINT)
               * 10000) // CAST(COUNT(*) AS BIGINT) AS purity_bp
    FROM a WHERE rn = 1 GROUP BY label ORDER BY label
    """,
    doc="Nearest-centroid cluster purity: every vector is assigned to "
    "its closest per-label centroid by EXACT integer squared-L2 in "
    "micro^2 units (ties -> smallest label), and each label reports "
    "how many of its members come home — the embedding-quality gate "
    "a semantic-dedup pipeline checks before trusting cluster-level "
    "deletes. The (k x d) centroid table is broadcast into the "
    "per-dim join, so the corpus never shuffles for assignment; "
    "exact all-centroid assignment is the small-k report path, IVF "
    "(q63) is the large-k path.",
    tags=("similarity", "curation"),
)
def q92(spark: SparkSession, sf: str) -> DataFrame:
    from kaflow_spark.operators.embeddings import nearest_centroid_purity

    e = load(spark, sf, "embeddings").select(
        "vec_id", F.col("label").cast("bigint").alias("label"), "embedding"
    )
    return nearest_centroid_purity(
        e, "vec_id", "label", "embedding"
    ).orderBy("label")


@declare(
    "q118_minimizer_fingerprints",
    oracle="""
    WITH g AS (
      SELECT doc_id, CAST(p AS BIGINT) AS pos,
             substring(text, CAST(p AS INTEGER) + 1, 8) AS gram,
             length(text) - 8 + 1 AS n_grams
      FROM documents, UNNEST(range(0, length(text) - 8 + 1)) AS t(p)
      WHERE length(text) >= 8 + 4 - 1),
    keyed AS (
      SELECT doc_id, pos, n_grams,
             gram || lpad(CAST(pos AS VARCHAR), 8, '0') AS key
      FROM g),
    -- start filter ABOVE the window (matching the Spark operator): a
    -- WHERE below it would drop the last w-1 grams from the window
    -- input and truncate every tail window
    sel AS (
      SELECT DISTINCT doc_id, mk FROM (
        SELECT doc_id, pos, n_grams,
               min(key) OVER (PARTITION BY doc_id ORDER BY pos
                              ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS mk
        FROM keyed)
      WHERE pos <= n_grams - 4)
    SELECT doc_id,
           CAST(substring(mk, length(mk) - 7, 8) AS BIGINT) AS pos,
           substring(mk, 1, length(mk) - 8) AS gram
    FROM sel ORDER BY doc_id, pos
    """,
    doc="(w=4, k=8) minimizer / winnowing fingerprint selection "
    "(Schleimer et al. SIGMOD'03; Roberts et al. 2004): each window "
    "of 4 consecutive 8-grams contributes its lexicographically "
    "smallest gram (position lpad-suffix = leftmost tie-break); the "
    "distinct union is the document sketch with the shared-substring "
    "guarantee (any common run >= w+k-1 chars shares a fingerprint). "
    "Ordering on the RAW gram string makes the selection engine-"
    "portable — binary collation matches between Spark and DuckDB, "
    "so no hash function must agree. Plan: scan-side position "
    "explode, ONE shuffle on doc_id for the frame window (id + pos + "
    "8 chars per row, text never shuffles), frame min, distinct.",
    tags=("text", "dedup"),
)
def q118(spark: SparkSession, sf: str) -> DataFrame:
    from kaflow_spark.operators.dedup import minimizers

    d = load(spark, sf, "documents")
    return minimizers(d, "doc_id", "text", k=8, w=4).orderBy("doc_id", "pos")


@declare(
    "q119_hard_negatives",
    oracle="""
    WITH q AS (
        SELECT vec_id AS query_id, label AS q_label, embedding AS qv
        FROM embeddings WHERE vec_id IN (1, 2, 3)),
    scored AS (
        SELECT q.query_id, e.vec_id,
               ROUND(list_cosine_similarity(e.embedding::DOUBLE[],
                                            q.qv::DOUBLE[]), 6) AS score
        FROM embeddings e JOIN q ON e.label <> q.q_label),
    ranked AS (
        SELECT query_id, vec_id, score,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY score DESC, vec_id) AS neg_rank
        FROM scored)
    SELECT query_id, neg_rank, vec_id, score
    FROM ranked WHERE neg_rank <= 5
    ORDER BY query_id, neg_rank
    """,
    doc="Hard-negative mining for embedding/contrastive training: for "
    "each anchor vector (vec_id 1-3), the 5 most-similar vectors with "
    "a DIFFERENT label. Anchors broadcast into a nested-loop join on "
    "the label inequality — the corpus scans once, scoring is JVM "
    "double left-to-right (matches DuckDB list_cosine_similarity, "
    "q38's attested contract), and the per-anchor top-k window "
    "shuffles only (query_id, vec_id, score) rows.",
    tags=("similarity", "training"),
)
def q119(spark: SparkSession, sf: str) -> DataFrame:
    from kaflow_spark.operators.similarity import hard_negatives

    e = load(spark, sf, "embeddings")
    return hard_negatives(
        e, "vec_id", "label", "embedding", query_ids=[1, 2, 3], k=5
    ).orderBy("query_id", "neg_rank")


@declare(
    "q122_trade_graph_pagerank",
    oracle="""
    WITH edges AS (
        SELECT DISTINCT CAST(s.s_nationkey AS BIGINT) AS src,
                        CAST(c.c_nationkey AS BIGINT) AS dst
        FROM lineitem l
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey),
    nodes AS (SELECT src AS n FROM edges UNION SELECT dst FROM edges),
    deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg
            FROM edges GROUP BY src),
    params AS (
        SELECT CAST(1000000000000 // COUNT(*) AS BIGINT) AS init,
               CAST((1500 * (1000000000000 // COUNT(*))) // 10000
                    AS BIGINT) AS base
        FROM nodes),
    pr0 AS (SELECT n, (SELECT init FROM params) AS pr FROM nodes),
    it1 AS (
        SELECT nodes.n,
               (SELECT base FROM params)
               + (8500 * COALESCE(SUM(p.pr // d.deg), 0)) // 10000 AS pr
        FROM nodes
        LEFT JOIN edges e ON e.dst = nodes.n
        LEFT JOIN pr0 p ON p.n = e.src
        LEFT JOIN deg d ON d.src = e.src
        GROUP BY nodes.n),
    it2 AS (
        SELECT nodes.n,
               (SELECT base FROM params)
               + (8500 * COALESCE(SUM(p.pr // d.deg), 0)) // 10000 AS pr
        FROM nodes
        LEFT JOIN edges e ON e.dst = nodes.n
        LEFT JOIN it1 p ON p.n = e.src
        LEFT JOIN deg d ON d.src = e.src
        GROUP BY nodes.n),
    it3 AS (
        SELECT nodes.n,
               (SELECT base FROM params)
               + (8500 * COALESCE(SUM(p.pr // d.deg), 0)) // 10000 AS pr
        FROM nodes
        LEFT JOIN edges e ON e.dst = nodes.n
        LEFT JOIN it2 p ON p.n = e.src
        LEFT JOIN deg d ON d.src = e.src
        GROUP BY nodes.n)
    SELECT n AS node, CAST(pr AS BIGINT) AS pr_units
    FROM it3 ORDER BY pr_units DESC, node
    """,
    doc="PageRank over the supplier-nation -> customer-nation trade "
    "graph (3 iterations, damping 0.85) — the centrality-as-quality-"
    "prior computation web-corpus curation runs on link graphs. All "
    "mass is integer micro-units (1e12) and every division is integer "
    "floor division on non-negative values (Spark `div` == DuckDB "
    "`//` there), so the unrolled 3-iteration SQL oracle reproduces "
    "the distributed result bit-exactly. Graph build: supplier and "
    "customer dims broadcast into the lineitem-orders shuffle join, "
    "DISTINCT contracts to <= |nations|^2 edges; each PageRank round "
    "is two shuffles of (id, bigint) rows. Dangling mass is dropped "
    "by contract (documented in operators/graph.pagerank).",
    tags=("graph", "curation"),
)
def q122(spark: SparkSession, sf: str) -> DataFrame:
    from kaflow_spark.operators.graph import pagerank

    li = load(spark, sf, "lineitem").select("l_suppkey", "l_orderkey")
    su = load(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    od = load(spark, sf, "orders").select("o_orderkey", "o_custkey")
    cu = load(spark, sf, "customer").select("c_custkey", "c_nationkey")
    edges = (
        li.join(F.broadcast(su), li["l_suppkey"] == su["s_suppkey"])
        .join(od, li["l_orderkey"] == od["o_orderkey"])
        .join(F.broadcast(cu), od["o_custkey"] == cu["c_custkey"])
        .select(
            F.col("s_nationkey").cast("bigint").alias("src"),
            F.col("c_nationkey").cast("bigint").alias("dst"),
        )
        .distinct()
    )
    return pagerank(edges, "src", "dst", iterations=3).orderBy(
        F.col("pr_units").desc(), "node"
    )


@declare(
    "q124_substring_dedup_clip",
    oracle=f"""
    WITH g AS (
      SELECT doc_id, CAST(i AS INT) AS pos,
             substring(text, CAST(i AS INT), {_SPAN_L}) AS g
      FROM (SELECT doc_id, text, unnest(range(1, length(text)-{_SPAN_L}+2)) AS i
            FROM documents WHERE length(text) >= {_SPAN_L})),
    d AS (SELECT doc_id, pos FROM
            (SELECT doc_id, pos, count(*) OVER (PARTITION BY g) AS c FROM g)
          WHERE c > 1),
    i AS (SELECT doc_id, pos,
                 CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                          IS NULL
                        OR pos - lag(pos)
                             OVER (PARTITION BY doc_id ORDER BY pos) > {_SPAN_L}
                      THEN 1 ELSE 0 END AS brk
          FROM d),
    s AS (SELECT doc_id, pos,
                 SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS isl
          FROM i),
    sp AS (SELECT doc_id, isl, MIN(pos) AS st, MAX(pos)+{_SPAN_L}-1 AS en
           FROM s GROUP BY doc_id, isl),
    segs AS (
      SELECT doc_id,
             COALESCE(lag(en) OVER (PARTITION BY doc_id ORDER BY st), 0) + 1
               AS a,
             st - 1 AS b
      FROM sp
      UNION ALL
      SELECT sp.doc_id, MAX(sp.en) + 1 AS a, MAX(length(d2.text)) AS b
      FROM sp JOIN documents d2 USING (doc_id) GROUP BY sp.doc_id),
    kept AS (
      SELECT d3.doc_id,
             string_agg(substring(d3.text, CAST(sg.a AS INT),
                                  CAST(sg.b - sg.a + 1 AS INT)), ''
                        ORDER BY sg.a) AS clip
      FROM documents d3 JOIN segs sg USING (doc_id)
      WHERE sg.b >= sg.a
      GROUP BY d3.doc_id),
    span_docs AS (SELECT DISTINCT doc_id FROM sp)
    SELECT d.doc_id,
           CASE WHEN sd.doc_id IS NULL THEN d.text
                ELSE COALESCE(k.clip, '') END AS text_clipped
    FROM documents d
    LEFT JOIN span_docs sd USING (doc_id)
    LEFT JOIN kept k USING (doc_id)
    ORDER BY d.doc_id
    """,
    doc="Exact substring dedup REMOVAL (the clip step of Lee et al. "
    "ACL'22, completing q96's report): every maximal duplicated "
    "40-char span is cut — all occurrences, including the first, the "
    "reference tool's documented behavior — and the surviving "
    "segments re-concatenate in order. Spark splices JVM-side with a "
    "higher-order fold over each document's sorted span array (spans "
    "per doc are bounded by len/40 after island-merging), adding only "
    "one groupBy(id) and one LEFT join over the q96 span stage; the "
    "oracle re-derives the same spans from raw window strings and "
    "splices with string_agg over the gap segments.",
    tags=("dedup", "text"),
)
def q124(spark: SparkSession, sf: str) -> DataFrame:
    from kaflow_spark.operators.dedup import remove_duplicated_spans

    return remove_duplicated_spans(
        load(spark, sf, "documents"), "doc_id", "text", min_len=_SPAN_L
    ).orderBy("doc_id")


@declare(
    "q126_embedding_gram",
    oracle="""
    WITH e AS (
        SELECT vec_id,
               CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS dim,
               CAST(ROUND(CAST(unnest(embedding) AS DOUBLE) * 1000000)
                    AS BIGINT) AS q
        FROM embeddings)
    SELECT a.dim AS dim_i, b.dim AS dim_j,
           CAST(SUM(a.q * b.q) AS BIGINT) AS sum_prod,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM e a JOIN e b USING (vec_id)
    GROUP BY a.dim, b.dim ORDER BY dim_i, dim_j
    """,
    doc="Exact integer gram (second-moment) matrix of the embedding "
    "corpus — the d x d input PCA/whitening/covariance needs, in "
    "micro-unit bigint algebra so the distributed sum is shuffle-"
    "order-deterministic. Spark expands each row's d^2 quantized "
    "products MAP-SIDE via nested array transforms (quantized vector "
    "materialized as its own projection first — an inline transform "
    "would re-quantize per pair) with partial agg before the one "
    "shuffle of <= d^2 rows per partition; the oracle states the same "
    "via a per-vector dim self-join. Output is sums + n (mergeable "
    "across shards); int64-safe to ~9.2M vectors at micro scale, "
    "milli scale beyond.",
    tags=("vector", "agg"),
)
def q126(spark: SparkSession, sf: str) -> DataFrame:
    from kaflow_spark.operators.embeddings import gram_matrix

    e = load(spark, sf, "embeddings")
    return gram_matrix(e, "embedding").orderBy("dim_i", "dim_j")


@declare(
    "q127_asof_tolerance",
    oracle="""
    WITH cutoffs AS (
        SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS cutoff
        FROM events)
    SELECT c.user_id, c.cutoff, MAX(e.ts) AS last_ts
    FROM cutoffs c LEFT JOIN events e
      ON e.user_id = c.user_id AND e.ts <= c.cutoff
     AND e.ts >= c.cutoff - INTERVAL 6 HOUR
    GROUP BY c.user_id, c.cutoff ORDER BY c.user_id, c.cutoff
    """,
    doc="Tolerance-bounded as-of join (pandas merge_asof semantics): "
    "the latest event at-or-before each per-user day cutoff, but only "
    "if it lies within 6 hours — staler matches null out while the "
    "left row still emits. Equivalence to the oracle's bounded range "
    "join + group-max: the as-of pick IS the max right ts <= cutoff, "
    "and the bound filters exactly the case where that max falls "
    "outside the window (then the bounded set is empty -> NULL on "
    "both sides). Same union+window plan as q40 — one shuffle, no "
    "range explosion; the bound is also the state limit the "
    "streaming twin enforces.",
    tags=("join", "asof"),
)
def q127(spark: SparkSession, sf: str) -> DataFrame:
    e = load(spark, sf, "events")
    cutoffs = e.select(
        "user_id", F.date_trunc("day", F.col("ts")).alias("cutoff")
    ).distinct()
    joined = asof_join(
        cutoffs,
        e.select("user_id", "ts"),
        on="user_id",
        left_ts="cutoff",
        right_ts="ts",
        value_cols=["ts"],
        tolerance="6 HOURS",
    )
    return joined.select(
        "user_id", "cutoff", F.col("ts_right").alias("last_ts")
    ).orderBy("user_id", "cutoff")


@declare(
    "q136_quality_deciles",
    oracle=f"""
    WITH {_quality_components_cte()},
    s AS (SELECT doc_id, {_QSCORE_EXPR} AS score_bp
          FROM c WHERE nch IS NOT NULL),
    cnt AS (SELECT score_bp, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM s GROUP BY score_bp),
    b AS (SELECT score_bp,
                 SUM(cnt) OVER (ORDER BY score_bp
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) - cnt AS cume,
                 SUM(cnt) OVER () AS n
          FROM cnt),
    m AS (SELECT score_bp,
                 LEAST(10, 1 + (10 * cume) // n) AS decile
          FROM b)
    SELECT s.doc_id, s.score_bp, CAST(m.decile AS BIGINT) AS decile
    FROM s JOIN m USING (score_bp)
    ORDER BY doc_id
    """,
    doc="Exact global decile bucketing of the corpus quality score — "
    "the curriculum/difficulty-tier assignment step, computed WITHOUT "
    "a global sort (NTILE over 100 TB would single-task the corpus). "
    "Same scale-safe selector family as q100: scores partial-agg to "
    "the bounded |distinct score_bp| count table map-side, the "
    "cumulative window runs over THAT table (<= 10001 rows — one "
    "light task), and decile = least(10, 1 + 10*cume_below // n) in "
    "exact integers. The tiny bucket map broadcasts back onto the "
    "score frame; both join keys are null-safe coalesce expressions "
    "so constraint inference folds away and the expensive score "
    "projection evaluates ONCE (ReusedExchange, q100's lesson — here "
    "BOTH sides of the join descend from the shared subtree, so a "
    "one-sided trick is not enough).",
    tags=("curation", "text", "window"),
)
def q136(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql.window import Window

    s = (
        # NULL text (-> NULL score) is excluded on both engines — the
        # sentinel join below would otherwise match NULL rows to the
        # NULL count-table row while the oracle's equi-join drops them.
        load(spark, sf, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", quality_score_bp(F.col("text")).alias("score_bp"))
        .repartition(F.col("doc_id"))
    )
    counts = s.groupBy("score_bp").agg(F.count(F.lit(1)).alias("cnt"))
    w_cum = Window.orderBy("score_bp").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.orderBy("score_bp").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    buckets = counts.select(
        F.col("score_bp").alias("_mb"),
        (F.sum("cnt").over(w_cum) - F.col("cnt")).alias("_cume"),
        F.sum("cnt").over(w_all).alias("_n"),
    ).select(
        "_mb",
        F.least(
            F.lit(10), F.lit(1) + int_div(10 * F.col("_cume"), F.col("_n"))
        ).alias("decile"),
    )
    sentinel = F.lit(-(2**62))
    return (
        s.join(
            F.broadcast(buckets),
            F.coalesce(F.col("score_bp"), sentinel)
            == F.coalesce(F.col("_mb"), sentinel),
        )
        .select("doc_id", "score_bp", F.col("decile").cast("bigint").alias("decile"))
        .orderBy("doc_id")
    )


@declare(
    "q137_cluster_canonical_keeper",
    oracle=f"""
    WITH RECURSIVE pairs AS ({_EXACT_JACCARD_SQL.replace("ORDER BY id_a, id_b", "")}),
    reach(node, label) AS (
        SELECT id_a, id_a FROM pairs
        UNION
        SELECT id_b, id_b FROM pairs
        UNION
        SELECT e.b, r.label
        FROM reach r JOIN (
            SELECT id_a AS a, id_b AS b FROM pairs
            UNION ALL
            SELECT id_b AS a, id_a AS b FROM pairs) e
        ON e.a = r.node),
    cl AS (SELECT node AS doc_id, CAST(MIN(label) AS BIGINT) AS cluster_id
           FROM reach GROUP BY node),
    {_quality_components_cte()},
    s AS (SELECT doc_id, {_QSCORE_EXPR} AS score_bp FROM c),
    j AS (SELECT cl.cluster_id, cl.doc_id, s.score_bp,
                 (s.score_bp + 100000) * 1000000000000 - (cl.doc_id + 1)
                     AS argkey
          FROM cl JOIN s USING (doc_id))
    SELECT cluster_id,
           CAST(COUNT(*) AS BIGINT) AS cluster_size,
           CAST((MAX(argkey) // 1000000000000 + 1) * 1000000000000
                - MAX(argkey) - 1 AS BIGINT) AS keeper_id,
           CAST(MAX(argkey) // 1000000000000 + 1 - 100000 AS BIGINT)
               AS keeper_score_bp
    FROM j GROUP BY cluster_id
    ORDER BY cluster_id
    """,
    doc="Canonical-representative selection per near-dup cluster — the "
    "step a dedup pipeline runs after q83's labeling: keep the "
    "highest-quality member (ties -> smallest doc_id). The argmax is "
    "ONE aggregation pass via an integer-encoded key "
    "((score_bp + 10^5) * 10^12 - (doc_id + 1): score majorizes, "
    "negated id breaks ties upward == smallest id; exact decode by "
    "integer division). The +10^5 offset keeps the key NON-NEGATIVE "
    "(quality scores are bounded in ±2·10^4), which makes Spark's "
    "truncating `div` equal DuckDB's floor `//` — and the decode uses "
    "`div`, pure bigint arithmetic, NOT floor(a / b): long/long `/` "
    "promotes to double and loses exactness past 2^53 (a review-caught "
    "bug — keys reach ~10^17). A two-branch max-then-join formulation "
    "would re-evaluate the whole LSH pipeline per branch. Bound: "
    "doc_id < 10^12 (fixture and typical shard-local ids; at larger "
    "id spaces widen the stride or switch the Spark side to "
    "max_by(struct) and the oracle to a window argmax). Cluster "
    "ids/sizes and keeper come out of a single groupBy over the "
    "(tiny) cluster-member frame; the corpus-side quality scores "
    "join in by doc_id before the aggregate.",
    tags=("quadratic-oracle", "dedup", "curation"),
)
def q137(spark: SparkSession, sf: str) -> DataFrame:
    from kaflow_spark.operators.dedup import verified_pair_frame
    from kaflow_spark.operators.graph import connected_components

    d = load(spark, sf, "documents")
    # q41's shared persisted verified-pair frame: one LSH + verify
    # materialization serves the whole dedup-QA family
    pairs = verified_pair_frame(d, "doc_id", "text")
    cc = connected_components(pairs, "id_a", "id_b").select(
        F.col("node").alias("doc_id"), F.col("component").alias("cluster_id")
    )
    scores = d.select("doc_id", quality_score_bp(F.col("text")).alias("score_bp"))
    stride = F.lit(10**12)
    j = scores.join(F.broadcast(cc), "doc_id").select(
        "cluster_id",
        ((F.col("score_bp") + 100000) * stride - (F.col("doc_id") + 1)).alias(
            "argkey"
        ),
    )
    # Decode with bigint `div` (exact), never floor(a / b): long / long
    # promotes to DOUBLE and argkey ~ 10^17 is past 2^53. The +100000
    # offset in argkey keeps it non-negative, where truncating `div`
    # equals the oracle's floor `//`.
    return (
        j.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("cluster_size"),
            F.max("argkey").alias("_mk"),
        )
        .select(
            "cluster_id",
            "cluster_size",
            (
                (F.expr("_mk div 1000000000000") + 1) * stride - F.col("_mk") - 1
            )
            .cast("bigint")
            .alias("keeper_id"),
            (F.expr("_mk div 1000000000000") + 1 - 100000)
            .cast("bigint")
            .alias("keeper_score_bp"),
        )
        .orderBy("cluster_id")
    )


@declare(
    "q140_fuzzy_decontamination",
    oracle=f"""
    WITH {EXACT_JACCARD_CTE}
    SELECT CASE WHEN id_a % 20 = 0 THEN id_b ELSE id_a END AS corpus_id,
           CASE WHEN id_a % 20 = 0 THEN id_a ELSE id_b END AS bench_id,
           jaccard
    FROM p
    WHERE jaccard >= 0.5 AND ((id_a % 20 = 0) <> (id_b % 20 = 0))
    ORDER BY corpus_id, bench_id
    """,
    doc="FUZZY benchmark decontamination: corpus documents that are "
    "near-duplicates (5-gram Jaccard >= 0.5) of a benchmark item — "
    "the screen that catches lightly-edited eval copies the exact "
    "n-gram screens (q68/q95) miss entirely (one changed word per "
    "window zeroes every exact gram). End-to-end, with QUANTIFIED "
    "probabilistic recall (LSH recall is never exactly 1 — q41's "
    "honesty discipline): 32 bands x 2 rows (band-collision prob "
    "0.25 at j=0.5 vs 0.0625 for q41's 16x4 — the banding must "
    "match the THRESHOLD, not be copied between pipelines), "
    "min_bands=2 (P(miss | j exactly 0.5) = 1.2e-3, < 1e-4 above "
    "0.55, ~1e-12 for the >=0.8 pairs the fixture contains) and an "
    "est_jaccard >= 0.35 pre-screen (P(miss | j=0.5) ~ 3e-4), then "
    "the exact-Jaccard verify; the O(n·m) brute-force oracle "
    "hash-attests recall on the fixture's actual pair population. The fixture benchmark is every 20th doc; "
    "pairs are normalized (corpus_id, bench_id). Scale shape: "
    "identical to q41 — banded equi-join, id-only band rows, shared "
    "persisted shingle frame — EXCEPT the two join sides are "
    "restricted to their id sets BEFORE the bucket join, so the "
    "corpus's own within-set collisions never materialize and the "
    "join output scales with corpus-x-bench bucket overlap. The "
    "oracle's all-pairs side is corpus x BENCHMARK-SUBSET, not "
    "corpus^2 — measured 44 s at sf0.1, so it stays UNGATED.",
    tags=("dedup", "curation"),
)
def q140(spark: SparkSession, sf: str) -> DataFrame:
    from kaflow_spark.operators.dedup import ngram_jaccard_pairs, shingle_frame

    d = load(spark, sf, "documents")
    sh = shingle_frame(d, "doc_id", "text", 5)
    # Sides restricted BEFORE the bucket join; min_bands=2 (chosen
    # for recall — mb=4's boundary miss is 2.6% vs 0.12% here, and
    # sandbox noise swamps the runtime difference) and the
    # est_jaccard pre-screen keep the exact-verify input at
    # true-pair scale (recall math in the declaration doc).
    cand = (
        minhash_lsh_candidates(
            d,
            "doc_id",
            "text",
            bands=32,
            min_bands=2,
            shingles=sh,
            side_a=lambda c: c % 20 != 0,  # corpus side
            side_b=lambda c: c % 20 == 0,  # benchmark side
        )
        .filter(F.col("est_jaccard") >= 0.35)
        .select("id_a", "id_b")
    )
    pairs = ngram_jaccard_pairs(d, cand, "doc_id", "text", shingles=sh).filter(
        F.col("jaccard") >= 0.5
    )
    return pairs.select(
        F.when(F.col("id_a") % 20 == 0, F.col("id_b"))
        .otherwise(F.col("id_a"))
        .alias("corpus_id"),
        F.when(F.col("id_a") % 20 == 0, F.col("id_a"))
        .otherwise(F.col("id_b"))
        .alias("bench_id"),
        "jaccard",
    ).orderBy("corpus_id", "bench_id")


@declare(
    "q146_fuzzy_key_match",
    oracle="""
    -- length guard is STRUCTURAL (join equi-key), not a sibling WHERE
    -- conjunct: DuckDB's hamming() errors on unequal-length inputs and
    -- conjunct evaluation order is unspecified, so hamming() must only
    -- ever see pairs the length join already equalized.
    SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
           CAST(hamming(a.c_name, b.c_name) AS BIGINT) AS hamming
    FROM customer a JOIN customer b
      ON LENGTH(a.c_name) = LENGTH(b.c_name)
     AND a.c_custkey < b.c_custkey
    WHERE hamming(a.c_name, b.c_name) <= 1
    ORDER BY id_a, id_b
    """,
    doc="Fuzzy entity-key matching: customer-name pairs within Hamming "
    "distance 1 — the typo/OCR-noise matcher entity resolution runs "
    "on codes and normalized names, a different similarity family "
    "from the shingle/Jaccard pipelines (one changed character barely "
    "moves an edit distance but rewrites every overlapping shingle). "
    "Exact end-to-end by a TWO-LEVEL pigeonhole: level 1 interleaves "
    "characters into d+1 chunks (some chunk is untouched by <= d "
    "substitutions); level 2 re-splits that chunk's complement by "
    "block index (some group is also untouched), so the (d+1)^2 "
    "merged blocking keys each cover 3/4 of the key for d=1 and the "
    "(chunk, length, projection) equi-join has recall 1 by "
    "construction — the second level is the skew bound that keeps "
    "sequential/zero-padded key cohorts from flooding one bucket "
    "(measured 1.8x end-to-end on customer names vs one-level). "
    "Exact Hamming verify in pure expressions (codegen levenshtein "
    "on the d=1 path — provably identical for equal lengths); "
    "brute-force O(n²) oracle attests recall. Wall-clock here is "
    "OUTPUT-bound, not blocking-bound: TPC-H's templated "
    "'Customer#%09d' keyspace genuinely contains ~262k "
    "distance-<=1 pairs at sf0.1 (every one-digit substitution "
    "neighbors), so most of the cost is materializing true "
    "positives — a corpus with organic keys emits orders of "
    "magnitude fewer. Same-length only (stated — indel-tolerant "
    "matching needs shifted-substring blocking).",
    tags=("dedup", "join"),
)
def q146(spark: SparkSession, sf: str) -> DataFrame:
    from kaflow_spark.operators.dedup import hamming_pairs

    c = load(spark, sf, "customer")
    return (
        hamming_pairs(c, "c_custkey", "c_name", max_dist=1)
        .select(
            F.col("id_a").cast("bigint").alias("id_a"),
            F.col("id_b").cast("bigint").alias("id_b"),
            "hamming",
        )
        .orderBy("id_a", "id_b")
    )


@declare(
    "q234_label_silhouette",
    oracle=f"""
    WITH {_QUANT_DIMS_CTE},
    c AS (SELECT label AS lc, dim,
                 CAST(SUM(q) AS BIGINT) // CAST(COUNT(*) AS BIGINT) AS cm
          FROM e GROUP BY label, dim),
    d AS (SELECT e.vec_id, e.label, c.lc,
                 CAST(SUM((e.q - c.cm) * (e.q - c.cm)) AS BIGINT) AS d2
          FROM e JOIN c USING (dim) GROUP BY e.vec_id, e.label, c.lc),
    ab AS (SELECT vec_id, label,
                  MAX(CASE WHEN lc = label THEN d2 END) AS a,
                  MIN(CASE WHEN lc <> label THEN d2 END) AS b
           FROM d GROUP BY 1, 2),
    s AS (SELECT label,
                 CASE WHEN GREATEST(a, b) = 0 THEN CAST(0 AS BIGINT)
                      ELSE (b - a) * 10000 // GREATEST(a, b) END AS s_bp
          FROM ab)
    SELECT label, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN s_bp < 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_neg,
           CAST(SUM(s_bp) // COUNT(*) AS BIGINT) AS mean_s_bp
    FROM s GROUP BY label ORDER BY label
    """,
    doc="Per-label silhouette score (simplified/centroid variant, "
    "exact integer): a = squared L2 to the own-label centroid, b = "
    "min squared L2 to any other centroid (micro^2 units), per-"
    "vector s_bp = (b - a) * 10000 div max(a, b); per label the "
    "member count, the MISPLACED count (s_bp < 0 — closer to a "
    "foreign centroid) and the floor-mean score. Squared distances "
    "keep the whole statistic bigint-exact (sqrt of an integer is "
    "irrational; float means are shuffle-order-dependent) and are "
    "monotone-equivalent for sign and ranking. Completes the "
    "cluster-quality family: q91 gives the centroids, q92 the "
    "purity (hard nearest-centroid vote), q234 the margin-weighted "
    "score that distinguishes 'barely home' from 'deep inside'. "
    "Scale shape identical to q92: broadcast (k x d) centroids, no "
    "corpus shuffle, a and b off ONE conditional aggregation. "
    "Signed division truncates toward zero in BOTH engines "
    "(CLAUDE.md trap 6).",
    tags=("similarity", "curation"),
)
def q234(spark: SparkSession, sf: str) -> DataFrame:
    from kaflow_spark.operators.embeddings import squared_silhouette

    e = load(spark, sf, "embeddings").select(
        "vec_id",
        F.col("label").cast("bigint").alias("label"),
        "embedding",
    )
    return squared_silhouette(e, "vec_id", "label", "embedding").orderBy(
        "label"
    )
