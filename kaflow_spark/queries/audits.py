"""Declared corpus-audit / entity-resolution queries (rounds 6-7).

Operator families a 100 TB training-data pipeline runs that the
earlier registry did not yet cover as first-class declared queries —
round 6: indel edit-distance entity matching (q154), embedding int8
quantization audit (q155), cross-source quantile normalization
(q156), source-pair corpus overlap (q157), source distribution drift
(q158), exact set-similarity join via prefix filtering (q159), and
the q160-q173 batch (nearest as-of, BFS, Gopher repetition,
winsorized stats, winnowing near-dup, source semantic distance,
gap-fill, funnel latencies, skew report, composite ER, CDC diff,
attribution, share-of-parent, unpivot); round 7: DSIR importance
resampling + separation AUC (q174/q175), k-anonymity + the
generalization ladder (q176/q177), token-budget water-filling
(q178), CUSUM change-points (q179), Benford conformance (q180), and
exact Gini (q181). Every query keeps the determinism discipline
(integer basis points, total ORDER BY, BIGINT casts against DuckDB
HUGEINT rendering) and an exact DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kaflow_spark.catalog import load
from kaflow_spark.queries.base import declare


@declare(
    "q154_edit_distance_join",
    oracle="""
    -- brute force; the length prefilter only prunes |len diff| > 1
    -- pairs (levenshtein >= length difference)
    SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
           CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS lev
    FROM customer a JOIN customer b
      ON a.c_custkey < b.c_custkey
     AND abs(length(a.c_name) - length(b.c_name)) <= 1
    WHERE levenshtein(a.c_name, b.c_name) <= 1
    ORDER BY id_a, id_b
    """,
    doc="Entity-key matching under INSERTIONS/DELETIONS: customer-name "
    "pairs within Levenshtein distance 1 — the indel family q146's "
    "Hamming matcher cannot express (one inserted character shifts "
    "every later position, rewriting all positional blocks, while "
    "barely moving the edit distance). SymSpell/FastSS deletion-"
    "neighborhood blocking: each key expands to <= L+1 variants (self "
    "+ single deletions); any two keys at distance <= 1 provably "
    "share a variant (substitution: delete the differing position "
    "from both; indel: the shorter key IS a variant of the longer), "
    "so the variant equi-join has recall 1 by construction, no "
    "probabilistic argument. Exact levenshtein verify keeps precision "
    "1; only (id, key, variant) short-string rows shuffle. Brute-"
    "force O(n²) DuckDB oracle attests recall end-to-end.",
    tags=("resolution", "dedup"),
)
def q154(spark: SparkSession, sf: str) -> DataFrame:
    from kaflow_spark.operators.resolution import edit_distance_pairs

    cu = load(spark, sf, "customer").select("c_custkey", "c_name")
    return edit_distance_pairs(cu, "c_custkey", "c_name").orderBy(
        "id_a", "id_b"
    )


@declare(
    "q155_int8_quantization",
    oracle="""
    WITH v AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings),
    a AS (
        SELECT vec_id, v,
               list_max(list_transform(v, x -> abs(x))) AS amax
        FROM v),
    s AS (
        SELECT vec_id,
               list_transform(v, x -> CASE WHEN amax = 0 THEN 0.0
                   ELSE (x * 127.0) / amax END) AS sv
        FROM a),
    q AS (
        SELECT vec_id,
               list_transform(sv, y -> CASE WHEN y >= 0
                   THEN CAST(FLOOR(y + 0.5) AS BIGINT)
                   ELSE CAST(CEIL(y - 0.5) AS BIGINT) END) AS qv
        FROM s)
    SELECT vec_id,
           CAST(list_sum(qv) AS BIGINT) AS sum_q,
           CAST(list_sum(list_transform(qv, x -> abs(x))) AS BIGINT) AS l1_q,
           CAST(len(list_filter(qv, x -> abs(x) = 127)) AS BIGINT) AS n_sat
    FROM q ORDER BY vec_id
    """,
    doc="Int8 scalar-quantization audit of the embedding column — the "
    "compression step vector stores and ANN indexes apply before "
    "serving (symmetric per-vector absmax scaling, the faiss/SQ8 "
    "layout). Per vector: quantized checksum (sum_q), L1 mass (l1_q) "
    "and saturation count (n_sat, |q|=127 — a nonzero vector's "
    "argmax element always saturates: (v*127)/v is exactly 127 in "
    "IEEE; the all-zero vector quantizes to all zeros). "
    "Determinism: float32 widens to float64 exactly, both engines "
    "evaluate the identical (x*127)/amax double expression, and "
    "rounding is spelled floor(y+0.5)/ceil(y-0.5) so no engine "
    "round() tie-semantics can diverge. Scale: one narrow projection "
    "per vector, zero shuffles, zero UDFs — amax is materialized as "
    "its own projection so the per-element lambda references an "
    "attribute, not a re-evaluated subtree (CLAUDE.md trap 1).",
    tags=("embedding", "curation"),
)
def q155(spark: SparkSession, sf: str) -> DataFrame:
    from kaflow_spark.operators.embeddings import int8_quantization_audit

    e = load(spark, sf, "embeddings")
    return int8_quantization_audit(e, "vec_id", "embedding").orderBy("vec_id")


@declare(
    "q156_quantile_normalization",
    oracle="""
    WITH cnt AS (
        SELECT source, n_chars AS v, CAST(count(*) AS BIGINT) AS c
        FROM documents GROUP BY source, n_chars),
    s AS (
        SELECT source, v, c,
               SUM(c) OVER (PARTITION BY source ORDER BY v
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) - c AS cume,
               SUM(c) OVER (PARTITION BY source) AS n
        FROM cnt),
    g AS (SELECT v, CAST(SUM(c) AS BIGINT) AS gc FROM cnt GROUP BY v),
    gg AS (
        SELECT v, gc,
               SUM(gc) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) - gc AS gcume,
               SUM(gc) OVER () AS N
        FROM g),
    m AS (
        SELECT s.source, s.v,
               CAST((s.cume * 10000) // s.n AS BIGINT) AS src_pct_bp,
               CAST(gg2.v AS BIGINT) AS calib
        FROM s JOIN gg ON gg.v = s.v
        JOIN gg gg2 ON (s.cume * gg.N) // s.n + 1 > gg2.gcume
                   AND (s.cume * gg.N) // s.n + 1 <= gg2.gcume + gg2.gc)
    SELECT d.doc_id, d.source, CAST(d.n_chars AS BIGINT) AS n_chars,
           m.src_pct_bp, m.calib AS calib_n_chars
    FROM documents d JOIN m ON m.source = d.source AND m.v = d.n_chars
    ORDER BY d.doc_id
    """,
    doc="Cross-source quantile normalization of document length — the "
    "score-calibration step heterogeneous-source curation needs "
    "before any global threshold is meaningful (each source's length "
    "distribution is mapped onto the corpus-global one: a doc at its "
    "source's p-th percentile is assigned the GLOBAL value at that "
    "percentile). Scale-safe like q136: all ranks come from the "
    "bounded (source, value) count table, never a global row sort — "
    "cumulative windows run over that table (|sources| x |distinct "
    "lengths| rows), the source-local position maps to a global "
    "order-statistic index in exact integers ((cume*N) div n + 1), "
    "and the global range lookup is a broadcast interval join against "
    "the tiny global count table. Doc-level output reattaches by "
    "(source, value) equi-join.",
    tags=("curation", "window"),
)
def q156(spark: SparkSession, sf: str) -> DataFrame:
    from kaflow_spark.operators.curation import quantile_normalize

    d = load(spark, sf, "documents").select(
        "doc_id", "source", F.col("n_chars").cast("bigint").alias("n_chars")
    )
    m = quantile_normalize(d, "source", "n_chars")
    return (
        d.join(m, ["source", "n_chars"])
        .select(
            "doc_id",
            "source",
            "n_chars",
            F.col("src_pct_bp").cast("bigint").alias("src_pct_bp"),
            F.col("calib").cast("bigint").alias("calib_n_chars"),
        )
        .orderBy("doc_id")
    )


@declare(
    "q157_source_overlap_matrix",
    oracle="""
    WITH t AS (
        SELECT DISTINCT source, substring(text, CAST(i AS INT), 5) AS g
        FROM (SELECT source, text,
                     unnest(range(1, greatest(length(text)-4, 1)+1)) AS i
              FROM documents)),
    n AS (SELECT source, CAST(count(*) AS BIGINT) AS n
          FROM t GROUP BY source),
    i AS (SELECT a.source AS sa, b.source AS sb,
                 CAST(count(*) AS BIGINT) AS shared
          FROM t a JOIN t b ON a.g = b.g AND a.source < b.source
          GROUP BY a.source, b.source)
    SELECT sa AS source_a, sb AS source_b, shared,
           CAST(shared * 10000 // (na.n + nb.n - shared) AS BIGINT)
               AS jaccard_bp
    FROM i JOIN n na ON na.source = sa JOIN n nb ON nb.source = sb
    ORDER BY source_a, source_b
    """,
    doc="Source-pair corpus-overlap matrix: exact Jaccard (integer "
    "basis points) between every two sources' distinct char-5-gram "
    "shingle sets — the mixture-audit that tells a pretraining run "
    "which 'independent' crawls are actually the same corpus before "
    "sampling weights are assigned. Source grain, not doc grain: the "
    "(source, shingle-hash) frame contracts map-side via DISTINCT "
    "partial aggregation, then one equi-join on the 16-byte two-seed "
    "hash identity; a "
    "shingle shared by f sources fans out f² rows with f bounded by "
    "|sources|, so total work is linear in corpus size times a "
    "bounded constant — no doc×doc pairs anywhere. Hash-set counts "
    "equal string-set counts: the 128-bit two-seed identity "
    "(char_shingles128) drops the collision expectation below 1e-15 "
    "even at 1e11 corpus shingles (the oracle uses the strings).",
    tags=("curation", "dedup"),
)
def q157(spark: SparkSession, sf: str) -> DataFrame:
    from kaflow_spark.operators.curation import group_shingle_overlap

    d = load(spark, sf, "documents")
    return (
        group_shingle_overlap(d, "source", "text", 5)
        .select(
            F.col("group_a").alias("source_a"),
            F.col("group_b").alias("source_b"),
            "shared",
            "jaccard_bp",
        )
        .orderBy("source_a", "source_b")
    )


@declare(
    "q158_source_drift_l1",
    oracle="""
    WITH b AS (
        SELECT source, n_chars // 64 AS bucket, CAST(count(*) AS BIGINT) AS c
        FROM documents GROUP BY source, n_chars // 64),
    s AS (SELECT source, CAST(SUM(c) AS BIGINT) AS t FROM b GROUP BY source),
    g AS (SELECT bucket, CAST(SUM(c) AS BIGINT) AS gc FROM b GROUP BY bucket),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM b),
    grid AS (
        SELECT s.source, g.bucket, s.t, g.gc, tot.n,
               COALESCE(b.c, 0) AS c
        FROM s CROSS JOIN g CROSS JOIN tot
        LEFT JOIN b ON b.source = s.source AND b.bucket = g.bucket)
    SELECT source, t AS n_docs,
           CAST(SUM(abs(c * 10000 // t - gc * 10000 // n)) AS BIGINT)
               AS l1_bp
    FROM grid GROUP BY source, t
    ORDER BY source
    """,
    doc="Distribution-drift audit: per-source L1 distance (integer "
    "basis points) between the source's length histogram (64-char "
    "buckets) and the corpus-global one — the monitoring check that "
    "flags a crawl snapshot whose documents stopped looking like the "
    "mixture it was weighted for. All mass is integer counts; the "
    "histogram grid is |sources| x |buckets| (both bounded — bucket "
    "count by max document length, not corpus size), built by "
    "broadcast cross join so missing (source, bucket) cells "
    "contribute their full global share to the distance instead of "
    "silently dropping out. One groupBy shuffle of (source, bucket) "
    "rows; everything after runs on the bounded grid.",
    tags=("curation",),
)
def q158(spark: SparkSession, sf: str) -> DataFrame:
    from kaflow_spark.operators.curation import histogram_drift_l1

    d = load(spark, sf, "documents")
    return histogram_drift_l1(d, "source", "n_chars", 64).orderBy("source")


_WORDGRAM5_ORACLE = r"""
    WITH g AS (
      SELECT DISTINCT doc_id AS id, g FROM (
        SELECT doc_id,
               unnest(list_transform(
                   range(1, greatest(len(words)-4, 1)+1),
                   j -> array_to_string(list_slice(words, j, j+4), ' ')))
                   AS g
        FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS words
              FROM documents))),
    s AS (SELECT id, count(*) AS n FROM g GROUP BY id),
    i AS (SELECT a.id AS ia, b.id AS ib, count(*) AS i
          FROM g a JOIN g b ON a.g = b.g AND a.id < b.id GROUP BY 1, 2)
    SELECT ia AS id_a, ib AS id_b,
           CAST(i AS DOUBLE) / CAST(na.n + nb.n - i AS DOUBLE) AS jaccard
    FROM i JOIN s na ON na.id = ia JOIN s nb ON nb.id = ib
    WHERE CAST(i AS DOUBLE) / CAST(na.n + nb.n - i AS DOUBLE) >= 0.5
    ORDER BY id_a, id_b
"""


@declare(
    "q159_prefix_filter_setjoin",
    oracle=_WORDGRAM5_ORACLE,
    doc="Exact set-similarity self-join (word-5-gram Jaccard >= 0.5) "
    "via AllPairs/PPJoin PREFIX FILTERING — the third candidate-"
    "generation family beside MinHash banding (q41, probabilistic "
    "recall) and SimHash pigeonhole chunks (q42, Hamming-radius "
    "recall): order each document's grams by one global "
    "(doc-frequency, hash) total order and join only on the first "
    "|A| - ceil(t|A|) + 1; if J(A,B) >= t the intersection is >= "
    "t*max(|A|,|B|) and cannot fit in both suffixes, so prefixes "
    "must share a gram — deterministic recall 1, important exactly "
    "where banding recall degrades (moderate thresholds like 0.5). "
    "Word grams, not char shingles, are the feature: prefix "
    "filtering discriminates by document frequency, and the word-"
    "gram df distribution is near-unique per doc (char-5-grams on "
    "this corpus have ~2k distinct values at df~50 — no ordering "
    "helps; measured 5x slower). df=1 prefix rows are dropped "
    "outright (two docs sharing a gram imply df >= 2), and a size "
    "filter prunes |B| outside [t|A|, |A|/t] before the exact "
    "array-intersect verify. Brute-force O(n²) DuckDB oracle "
    "attests recall end-to-end, same style as q41/q42.",
    tags=("dedup",),
)
def q159(spark: SparkSession, sf: str) -> DataFrame:
    from kaflow_spark.operators.dedup import (
        ngram_jaccard_pairs,
        prefix_filter_candidates,
        wordgram_shingle_frame,
    )

    d = load(spark, sf, "documents")
    sh = wordgram_shingle_frame(d, "doc_id", "text", 5)
    cand = prefix_filter_candidates(sh, 0.5)
    return (
        ngram_jaccard_pairs(d, cand, "doc_id", "text", shingles=sh)
        .filter(F.col("jaccard") >= 0.5)
        .orderBy("id_a", "id_b")
    )


@declare(
    "q160_asof_nearest",
    oracle="""
    WITH cutoffs AS (
        SELECT DISTINCT user_id,
               CAST(date_trunc('day', ts) AS TIMESTAMP) AS cutoff
        FROM events),
    b AS (SELECT c.user_id, c.cutoff, MAX(e.ts) AS bts
          FROM cutoffs c LEFT JOIN events e
            ON e.user_id = c.user_id AND e.ts <= c.cutoff
          GROUP BY c.user_id, c.cutoff),
    f AS (SELECT c.user_id, c.cutoff, MIN(e.ts) AS fts
          FROM cutoffs c LEFT JOIN events e
            ON e.user_id = c.user_id AND e.ts >= c.cutoff
          GROUP BY c.user_id, c.cutoff)
    SELECT b.user_id, b.cutoff,
           CASE WHEN bts IS NULL THEN fts
                WHEN fts IS NULL THEN bts
                WHEN (b.cutoff - bts) <= (fts - b.cutoff) THEN bts
                ELSE fts END AS nearest_ts
    FROM b JOIN f ON b.user_id = f.user_id AND b.cutoff = f.cutoff
    ORDER BY b.user_id, b.cutoff
    """,
    doc="As-of join, direction='nearest' (pandas merge_asof parity, "
    "completing the backward q40 / tolerance q127 family): for each "
    "per-user day cutoff, the event MINIMIZING |ts - cutoff|, exact "
    "ties taking the backward (earlier) match. Same one-shuffle "
    "union-and-window composition as the directional paths — one "
    "exchange on the key feeds the backward carry-forward AND the "
    "forward carry-backward over the identical (ts, side) sort "
    "prefix, then a row-local interval comparison picks the closer "
    "candidate. No range explosion, no second shuffle; the oracle "
    "states the same semantics as two directional group-extremes "
    "plus the tie rule.",
    tags=("join", "asof"),
)
def q160(spark: SparkSession, sf: str) -> DataFrame:
    from kaflow_spark.operators.asof import asof_join

    e = load(spark, sf, "events")
    cutoffs = e.select(
        "user_id", F.date_trunc("day", F.col("ts")).alias("cutoff")
    ).distinct()
    j = asof_join(
        cutoffs,
        e.select("user_id", "ts"),
        on="user_id",
        left_ts="cutoff",
        right_ts="ts",
        value_cols=["ts"],
        direction="nearest",
    )
    return j.select(
        "user_id", "cutoff", F.col("ts_right").alias("nearest_ts")
    ).orderBy("user_id", "cutoff")


@declare(
    "q161_bfs_hops",
    oracle="""
    WITH RECURSIVE edges AS (
        SELECT DISTINCT CAST(s.s_nationkey AS BIGINT) AS src,
                        CAST(c.c_nationkey AS BIGINT) AS dst
        FROM lineitem l
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey),
    walk(node, hop) AS (
        SELECT CAST(0 AS BIGINT), CAST(0 AS BIGINT)
        UNION
        SELECT e.dst, w.hop + 1
        FROM walk w JOIN edges e ON e.src = w.node
        WHERE w.hop < 4)
    SELECT node, CAST(MIN(hop) AS BIGINT) AS hop
    FROM walk GROUP BY node ORDER BY hop, node
    """,
    doc="Breadth-first shortest-hop distance from nation 0 over the "
    "supplier->customer trade graph (q122's edge build), max 4 hops — "
    "the graph-TRAVERSAL family next to the label-propagation (q83 "
    "CC) and fixed-point-iteration (q122 PageRank) families. "
    "Distributed frontier expansion with a FIXED round bound: each "
    "round is one equi-join on the edge source + distinct + LEFT ANTI "
    "vs the visited set, all composed into ONE lazy plan with no "
    "driver-side action inside the loop (unlike convergence-detected "
    "CC, which must count per round). Frontier rows are (node, hop) "
    "bigints — paths never materialize. Oracle: DuckDB recursive CTE "
    "with UNION dedup; MIN(hop) over all enumerated walks = the BFS "
    "distance.",
    tags=("graph",),
)
def q161(spark: SparkSession, sf: str) -> DataFrame:
    from kaflow_spark.operators.graph import bfs_hops

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
    return bfs_hops(edges, "src", "dst", [0], max_hops=4).orderBy(
        "hop", "node"
    )


@declare(
    "q162_intra_doc_repetition",
    oracle="""
    WITH g AS (
      SELECT doc_id, CAST(i AS INT) AS pos,
             substring(text, CAST(i AS INT), 15) AS g
      FROM (SELECT doc_id, text, unnest(range(1, length(text)-15+2)) AS i
            FROM documents WHERE length(text) >= 15)),
    d AS (SELECT doc_id, pos FROM
            (SELECT doc_id, pos,
                    count(*) OVER (PARTITION BY doc_id, g) AS c FROM g)
          WHERE c > 1),
    i AS (SELECT doc_id, pos,
                 CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                          IS NULL
                        OR pos - lag(pos)
                             OVER (PARTITION BY doc_id ORDER BY pos) > 15
                      THEN 1 ELSE 0 END AS brk
          FROM d),
    s AS (SELECT doc_id, pos,
                 SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS isl
          FROM i),
    sp AS (SELECT doc_id, isl, MIN(pos) AS st, MAX(pos)+15-1 AS en
           FROM s GROUP BY doc_id, isl),
    per AS (SELECT doc_id, SUM(en - st + 1) AS dup FROM sp GROUP BY doc_id)
    SELECT d2.doc_id,
           CAST(COALESCE(per.dup, 0) AS BIGINT) AS dup_chars,
           CAST(COALESCE(per.dup, 0) * 10000
                // greatest(length(d2.text), 1) AS BIGINT) AS rep_bp
    FROM documents d2 LEFT JOIN per USING (doc_id)
    ORDER BY doc_id
    """,
    doc="Intra-document repetition coverage (the Gopher 'fraction of "
    "characters in duplicate n-grams' filter, Rae et al. 2021): share "
    "of each document's characters inside maximal spans whose 15-char "
    "window repeats WITHIN the same document — the templated/looping-"
    "text signal the corpus-level q96 cannot give (q76's top-token "
    "ratio sees single tokens, not phrases). Same 128-bit span "
    "machinery as q96 with the occurrence count scoped per document, "
    "which turns the corpus-wide hash shuffle into a per-doc-bounded "
    "one — strictly cheaper, no boilerplate-key skew possible. Every "
    "document reports (0 for clean ones).",
    tags=("curation", "text"),
)
def q162(spark: SparkSession, sf: str) -> DataFrame:
    from kaflow_spark.operators.dedup import intra_doc_repetition

    d = load(spark, sf, "documents")
    return intra_doc_repetition(d, "doc_id", "text", min_len=15).orderBy(
        "doc_id"
    )


@declare(
    "q163_winsorized_stats",
    oracle="""
    WITH cnt AS (
        SELECT source, n_chars AS v, CAST(count(*) AS BIGINT) AS c
        FROM documents GROUP BY source, n_chars),
    c2 AS (
        SELECT source, v, c,
               SUM(c) OVER (PARTITION BY source ORDER BY v
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cum,
               SUM(c) OVER (PARTITION BY source) AS n
        FROM cnt),
    bounds AS (
        SELECT source, MAX(n) AS n,
               MIN(CASE WHEN cum >= (5 * n + 99) // 100 THEN v END) AS lo,
               MIN(CASE WHEN cum >= (95 * n + 99) // 100 THEN v END) AS hi
        FROM c2 GROUP BY source),
    s AS (
        SELECT cnt.source, b.n, b.lo, b.hi,
               SUM(GREATEST(b.lo, LEAST(b.hi, cnt.v)) * cnt.c) AS sc
        FROM cnt JOIN bounds b ON b.source = cnt.source
        GROUP BY cnt.source, b.n, b.lo, b.hi)
    SELECT source, CAST(n AS BIGINT) AS n_docs,
           CAST(lo AS BIGINT) AS lo, CAST(hi AS BIGINT) AS hi,
           CAST((sc * 100) // n AS BIGINT) AS wmean_c
    FROM s ORDER BY source
    """,
    doc="Per-source winsorized mean of document length (p05/p95 exact "
    "order-statistic clamp, mean scaled x100) — the robust-mean "
    "companion to the MAD outlier filter (q138), standard for metrics "
    "whose tails are crawl garbage. The q136/q148 bounded-selector "
    "family again: ranks come from the (source, value) count table, "
    "the clamp bounds are conditional aggregates over it, and the "
    "winsorized sum is Σ clamp(v)·count — raw rows are touched "
    "exactly once by the initial partial-agg'd groupBy. All integer "
    "arithmetic; ceil-rank k = (pct·n + 99) div 100 on both engines.",
    tags=("curation",),
)
def q163(spark: SparkSession, sf: str) -> DataFrame:
    from kaflow_spark.operators.curation import winsorized_stats

    d = load(spark, sf, "documents")
    return winsorized_stats(d, "source", "n_chars", 5, 95).orderBy("source")


def _winnow_jaccard_oracle() -> str:
    from kaflow_spark.queries.llm import EXACT_JACCARD_CTE

    return f"""
    WITH {EXACT_JACCARD_CTE}
    SELECT id_a, id_b, jaccard FROM p WHERE jaccard >= 0.9
    ORDER BY id_a, id_b
    """


@declare(
    "q164_winnow_near_dup",
    oracle=_winnow_jaccard_oracle(),
    doc="Winnowing-fingerprint near-duplicate pipeline, end-to-end "
    "(the MOSS screen, Schleimer et al. SIGMOD 2003): (4,5)-WORD-"
    "minimizer selection, candidate pairs sharing >= 1 distinct "
    "fingerprint, exact char-5-gram Jaccard verify >= 0.9 — the "
    "FOURTH independent candidate generator attested against the "
    "same brute-force O(n²) oracle as q41 (MinHash banding), q42 "
    "(SimHash chunks) and q159 (prefix filtering), deliberately "
    "sharing their output contract. Winnowing's recall argument is "
    "SUBSTRING-based, not set-based: any shared run of >= w+k-1 = 8 "
    "words yields a shared fingerprint, and 0.9-Jaccard pairs share "
    "long runs; short documents can carry a SINGLE fingerprint "
    "(measured: the sf0.1 pairs q41 finds include one-minimizer "
    "docs), so the threshold is 1 — the word-gram noise floor makes "
    "that cheap (unrelated docs share no word-5-gram at all). A "
    "miss would fail the row compare. The WORD alphabet is load-bearing (q159's lesson "
    "remeasured here): char-8-gram minimizers on this corpus have "
    "~3.4k distinct values at median df 22 / max 3826, so the join "
    "either floods (billions of rows uncapped at sf0.1) or the MOSS "
    "over-common-fingerprint cap discards real signal (144/~255 "
    "pairs survived at sf0.1); word-gram fingerprints are near-"
    "unique per doc, keeping the join sparse AND recall intact. "
    "Only (id, gram) rows shuffle — ~1/w of gram positions by the "
    "winnowing density bound.",
    tags=("quadratic-oracle", "dedup",),
)
def q164(spark: SparkSession, sf: str) -> DataFrame:
    from kaflow_spark.operators.dedup import (
        minimizer_candidates,
        ngram_jaccard_pairs,
    )

    d = load(spark, sf, "documents")
    cand = minimizer_candidates(
        d, "doc_id", "text", k=5, w=4, min_shared=1, unit="word"
    ).select("id_a", "id_b")
    return (
        ngram_jaccard_pairs(d, cand, "doc_id", "text")
        .filter(F.col("jaccard") >= 0.9)
        .orderBy("id_a", "id_b")
    )


@declare(
    "q165_source_embedding_distance",
    oracle="""
    WITH e AS (
        SELECT d.source,
               CAST(generate_subscripts(em.embedding, 1) - 1 AS BIGINT)
                   AS dim,
               CAST(ROUND(CAST(unnest(em.embedding) AS DOUBLE) * 1000000)
                    AS BIGINT) AS q
        FROM embeddings em JOIN documents d ON d.doc_id = em.vec_id),
    c AS (
        SELECT source, dim,
               CAST(SUM(q) AS BIGINT) // CAST(COUNT(*) AS BIGINT) AS cq
        FROM e GROUP BY source, dim)
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(SUM((a.cq - b.cq) * (a.cq - b.cq)) AS BIGINT)
               AS l2sq_micro2
    FROM c a JOIN c b ON a.dim = b.dim AND a.source < b.source
    GROUP BY a.source, b.source
    ORDER BY source_a, source_b
    """,
    doc="Pairwise SEMANTIC distance between sources: squared L2 "
    "between per-source embedding centroids (exact integer micro-"
    "units, q91's quantization) for every source pair — the "
    "embedding-space companion to q157's lexical overlap matrix in "
    "the mixture audit (two 'different' crawls can share few "
    "shingles yet occupy the same semantic region, or vice versa). "
    "Vectors join to their documents' source, posexplode to "
    "(source, dim, q), ONE partial-agg'd groupBy to the bounded "
    "|sources| x dims centroid table, and the pair join runs over "
    "THAT table only — vector count never appears in the join. "
    "Centroid means use truncating integer division (Spark div == "
    "DuckDB // on non-negative-and-negative alike: both truncate).",
    tags=("embedding", "curation"),
)
def q165(spark: SparkSession, sf: str) -> DataFrame:
    from kaflow_spark.operators.embeddings import label_centroids

    em = load(spark, sf, "embeddings")
    d = load(spark, sf, "documents").select(
        F.col("doc_id").alias("vec_id"), "source"
    )
    joined = em.join(d, "vec_id").select("source", "embedding")
    cent = label_centroids(joined, "source", "embedding").select(
        "source", "dim", F.col("centroid_micro").alias("cq")
    )
    a = cent.select(
        F.col("source").alias("source_a"), "dim", F.col("cq").alias("cq_a")
    )
    b = cent.select(
        F.col("source").alias("source_b"), "dim", F.col("cq").alias("cq_b")
    )
    diff = F.col("cq_a") - F.col("cq_b")
    return (
        a.join(b, "dim")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.sum(diff * diff).cast("bigint").alias("l2sq_micro2"))
        .orderBy("source_a", "source_b")
    )


@declare(
    "q166_gapfill_interpolate",
    oracle="""
    WITH bars AS (
        SELECT event_type, DATE_TRUNC('hour', ts) AS hour,
               CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
                    AS BIGINT) AS cents
        FROM events
        WHERE event_type IS NOT NULL AND value IS NOT NULL
        GROUP BY event_type, DATE_TRUNC('hour', ts)),
    rng AS (SELECT MIN(hour) AS lo, MAX(hour) AS hi FROM bars),
    spine AS (
        SELECT t.event_type, h.hour
        FROM (SELECT DISTINCT event_type FROM bars) t
        CROSS JOIN (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR))
                        AS hour FROM rng) h),
    w AS (
        SELECT event_type, hour, cents,
               last_value(cents IGNORE NULLS) OVER
                   (PARTITION BY event_type ORDER BY hour
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS pv,
               last_value(CASE WHEN cents IS NOT NULL THEN hour END
                          IGNORE NULLS) OVER
                   (PARTITION BY event_type ORDER BY hour
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS pt,
               first_value(cents IGNORE NULLS) OVER
                   (PARTITION BY event_type ORDER BY hour
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                   AS nv,
               first_value(CASE WHEN cents IS NOT NULL THEN hour END
                           IGNORE NULLS) OVER
                   (PARTITION BY event_type ORDER BY hour
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                   AS nt
        FROM spine LEFT JOIN bars USING (event_type, hour))
    SELECT event_type, hour,
           CAST(CASE
                WHEN cents IS NOT NULL THEN cents
                WHEN pv IS NULL OR nv IS NULL THEN NULL
                ELSE pv + ((nv - pv)
                           * (CAST(epoch(hour) AS BIGINT)
                              - CAST(epoch(pt) AS BIGINT)))
                          // (CAST(epoch(nt) AS BIGINT)
                              - CAST(epoch(pt) AS BIGINT))
                END AS BIGINT) AS interp_cents,
           cents IS NULL AS is_gap
    FROM w ORDER BY event_type, hour
    """,
    doc="Hourly gap-fill by LINEAR INTERPOLATION between the "
    "neighboring observed bars — the resample q139's LOCF cannot "
    "express (LOCF repeats the past; interpolation splits the "
    "difference in proportion to elapsed time, the standard "
    "treatment for metered/continuous series). Same generated spine "
    "as q139 (fused one-row summary, bars in exact bigint cents); "
    "FOUR ignore-nulls windows (prev/next value + their hours) share "
    "ONE (event_type, hour) exchange and the identical ASC total "
    "order — hours are unique per type, so both frame directions are "
    "deterministic (the q152 shared-order rule). The lerp is pure "
    "integer: pv + (nv-pv)*(t-pt) div (nt-pt); Spark's `div` and "
    "DuckDB's `//` both truncate toward zero, so a negative slope "
    "ports exactly; epochs are whole hours, so no epoch-rounding "
    "divergence (the q152 corollary) can bite. Boundary gaps "
    "(before the first / after the last bar) stay NULL on both "
    "engines — interpolation, not extrapolation.",
    tags=("events", "window", "asof"),
)
def q166(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql.window import Window

    e = load(spark, sf, "events")
    bars = (
        e.filter(F.col("event_type").isNotNull() & F.col("value").isNotNull())
        .groupBy(
            "event_type", F.date_trunc("hour", F.col("ts")).alias("hour")
        )
        .agg(
            F.sum((F.col("value").cast("decimal(18,2)") * 100).cast("long"))
            .cast("bigint")
            .alias("cents")
        )
    )
    summary = bars.agg(
        F.min("hour").alias("lo"),
        F.max("hour").alias("hi"),
        F.sort_array(F.collect_set("event_type")).alias("_types"),
    )
    spine = (
        summary.select(
            F.explode("_types").alias("event_type"),
            F.sequence(
                F.col("lo"), F.col("hi"), F.expr("INTERVAL 1 HOUR")
            ).alias("_hours"),
        )
        .select("event_type", F.explode("_hours").alias("hour"))
    )
    w_b = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_f = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs_hour = F.when(F.col("cents").isNotNull(), F.col("hour"))
    w = (
        spine.join(bars, ["event_type", "hour"], "left")
        .select(
            "event_type",
            "hour",
            "cents",
            F.last("cents", ignorenulls=True).over(w_b).alias("pv"),
            F.last(obs_hour, ignorenulls=True).over(w_b).alias("pt"),
            F.first("cents", ignorenulls=True).over(w_f).alias("nv"),
            F.first(obs_hour, ignorenulls=True).over(w_f).alias("nt"),
        )
    )
    lerp = F.expr(
        "pv + ((nv - pv) * (CAST(hour AS BIGINT) - CAST(pt AS BIGINT)))"
        " div (CAST(nt AS BIGINT) - CAST(pt AS BIGINT))"
    )
    return (
        w.select(
            "event_type",
            "hour",
            F.when(F.col("cents").isNotNull(), F.col("cents"))
            .when(F.col("pv").isNull() | F.col("nv").isNull(), F.lit(None))
            .otherwise(lerp)
            .cast("bigint")
            .alias("interp_cents"),
            F.col("cents").isNull().alias("is_gap"),
        )
        .orderBy("event_type", "hour")
    )


@declare(
    "q167_funnel_latency_quantiles",
    oracle="""
    WITH v AS (
        SELECT user_id, MIN(ts) AS t1 FROM events
        WHERE event_type = 'view' GROUP BY user_id),
    p AS (
        SELECT e.user_id, v.t1, MIN(e.ts) AS t2
        FROM events e JOIN v ON e.user_id = v.user_id
        WHERE e.event_type = 'purchase' AND e.ts > v.t1
        GROUP BY e.user_id, v.t1),
    lat AS (
        SELECT (epoch_us(t2) // 1000000 - epoch_us(t1) // 1000000) // 60
               AS m
        FROM p),
    cnt AS (SELECT m, CAST(count(*) AS BIGINT) AS c FROM lat GROUP BY m),
    cum AS (
        SELECT m,
               SUM(c) OVER (ORDER BY m ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cum,
               SUM(c) OVER () AS n
        FROM cnt),
    qs AS (SELECT unnest([5000, 9000, 9900]) AS quantile_bp)
    SELECT CAST(quantile_bp AS BIGINT) AS quantile_bp,
           CAST(MIN(CASE WHEN cum >= (quantile_bp * n + 9999) // 10000
                    THEN m END) AS BIGINT) AS latency_min
    FROM qs CROSS JOIN cum
    GROUP BY quantile_bp ORDER BY quantile_bp
    """,
    doc="Funnel time-to-convert distribution: exact p50/p90/p99 of the "
    "first-view -> first-subsequent-purchase latency (whole minutes) — "
    "the product-analytics deliverable that sits next to q143's "
    "conversion rates. Latency population: per-user MIN(view ts), "
    "then conditional MIN(purchase ts > it) — both collapse to one "
    "row per user before any join (the q143 pattern). Quantiles come "
    "from the bounded minute-latency count table with the q136 "
    "selector (k = ceil-rank in exact integer bp, value = min m with "
    "cum >= k) — never a global row sort; the 3-row quantile spec "
    "cross-joins the broadcast count table. Seconds are derived "
    "epoch_us div 1e6 on BOTH engines (the q152 corollary: "
    "CAST(epoch) ROUNDS in DuckDB while Spark's cast truncates), and "
    "the minute floor-div keeps the count table bounded by the time "
    "range, not the user count.",
    tags=("events", "curation"),
)
def q167(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql.window import Window

    e = load(spark, sf, "events")
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id", "t1")
        .agg(F.min("ts").alias("t2"))
    )
    lat = p.select(
        F.expr(
            "(unix_micros(t2) div 1000000 - unix_micros(t1) div 1000000)"
            " div 60"
        ).alias("m")
    )
    cnt = lat.groupBy("m").agg(F.count("*").alias("c"))
    w = Window.orderBy("m").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = cnt.select(
        "m",
        F.sum("c").over(w).alias("cum"),
        F.sum("c").over(Window.partitionBy()).alias("n"),
    )
    qs = spark.range(1).select(
        F.explode(F.array(F.lit(5000), F.lit(9000), F.lit(9900))).alias(
            "quantile_bp"
        )
    )
    return (
        qs.crossJoin(F.broadcast(cum))
        .groupBy("quantile_bp")
        .agg(
            F.min(
                F.when(
                    F.col("cum")
                    >= F.expr("(quantile_bp * n + 9999) div 10000"),
                    F.col("m"),
                )
            )
            .cast("bigint")
            .alias("latency_min")
        )
        .select(
            F.col("quantile_bp").cast("bigint").alias("quantile_bp"),
            "latency_min",
        )
        .orderBy("quantile_bp")
    )


@declare(
    "q168_join_key_skew_report",
    oracle="""
    WITH c AS (
        SELECT o_custkey AS key, CAST(count(*) AS BIGINT) AS cnt
        FROM orders GROUP BY o_custkey),
    t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM c),
    top AS (SELECT key, cnt FROM c ORDER BY cnt DESC, key LIMIT 25),
    r AS (SELECT key, cnt,
                 ROW_NUMBER() OVER (ORDER BY cnt DESC, key) AS rnk,
                 SUM(cnt) OVER (ORDER BY cnt DESC, key
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS cum
          FROM top)
    SELECT CAST(rnk AS BIGINT) AS rnk, CAST(key AS BIGINT) AS key, cnt,
           CAST(cnt * 10000 // t.total AS BIGINT) AS share_bp,
           CAST(cum * 10000 // t.total AS BIGINT) AS cum_share_bp
    FROM r CROSS JOIN t ORDER BY rnk
    """,
    doc="Join-key skew diagnosis: the 25 heaviest o_custkey values "
    "with exact integer-bp share and cumulative share of all orders — "
    "the operational report that DECIDES when the salted-join/agg "
    "operators (q61/q62) or AQE skew splitting are worth applying, "
    "run before every large fact-fact join at 100 TB. Scale shape: "
    "one partial-agg'd groupBy to the per-key count table, "
    "TakeOrderedAndProject for the top-25 (per-partition heaps — "
    "never a global sort of the key table), a 1-row total broadcast, "
    "and the rank/cumulative windows run over the 25-row result "
    "only. Ties break on the key itself, so the report is a total "
    "order.",
    tags=("curation", "window"),
)
def q168(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql.window import Window

    o = load(spark, sf, "orders")
    c = o.groupBy(F.col("o_custkey").alias("key")).agg(
        F.count("*").alias("cnt")
    )
    t = c.agg(F.sum("cnt").alias("total"))
    top = c.orderBy(F.col("cnt").desc(), "key").limit(25)
    w = Window.orderBy(F.col("cnt").desc(), "key")
    wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        top.crossJoin(F.broadcast(t))
        .select(
            F.row_number().over(w).cast("bigint").alias("rnk"),
            F.col("key").cast("bigint").alias("key"),
            F.col("cnt").cast("bigint").alias("cnt"),
            F.expr("cnt * 10000 div total").cast("bigint").alias("share_bp"),
            (F.sum("cnt").over(wc) * 10000)
            .cast("bigint")
            .alias("_cum10k"),
            F.col("total"),
        )
        .select(
            "rnk",
            "key",
            "cnt",
            "share_bp",
            F.expr("_cum10k div total").cast("bigint").alias("cum_share_bp"),
        )
        .orderBy("rnk")
    )


@declare(
    "q169_composite_entity_match",
    oracle="""
    WITH c AS (
        SELECT c_custkey AS id, c_name, c_nationkey, c_mktsegment,
               CAST(CASE WHEN c_acctbal >= 0
                    THEN FLOOR(c_acctbal * 100.0 + 0.5)
                    ELSE CEIL(c_acctbal * 100.0 - 0.5) END AS BIGINT)
                   AS cents
        FROM customer)
    SELECT a.id AS id_a, b.id AS id_b,
           CASE WHEN t.nm AND t.am THEN 'both'
                WHEN t.nm THEN 'name' ELSE 'amount' END AS path
    FROM c a JOIN c b ON a.c_nationkey = b.c_nationkey AND a.id < b.id
    CROSS JOIN LATERAL (SELECT
        (length(a.c_name) = length(b.c_name)
         AND CASE WHEN length(a.c_name) = length(b.c_name)
              THEN hamming(a.c_name, b.c_name) <= 1 END) AS nm,
        (a.c_mktsegment = b.c_mktsegment
         AND abs(a.cents - b.cents) <= 100) AS am) t
    WHERE t.nm OR t.am
    ORDER BY id_a, id_b
    """,
    doc="Composite rule-based entity resolution: within a nation, two "
    "customers match iff their names are within Hamming distance 1 "
    "OR they share a market segment with account balances within one "
    "dollar — the union-of-blocking-strategies pattern production ER "
    "uses when no single field is reliable. Each disjunct gets its "
    "own recall-complete blocking (two-level pigeonhole for the name "
    "path; banded numeric buckets with a 3-bucket probe for the "
    "amount path — the q64 binned-range idea applied to ER, complete "
    "under truncating division because a <=band interval spans at "
    "most two adjacent trunc-buckets), the union deduplicates per "
    "pair, and the output carries match PROVENANCE ('name'/'amount'/"
    "'both') so each rule tunes independently. Cents via the q155 "
    "floor(x+0.5)/ceil(x-0.5) spelling; the oracle is the O(n²)-"
    "within-nation brute force with DuckDB's hamming() structurally "
    "guarded on equal length.",
    tags=("resolution",),
)
def q169(spark: SparkSession, sf: str) -> DataFrame:
    from kaflow_spark.operators.resolution import composite_er_pairs

    cu = load(spark, sf, "customer").select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        "c_mktsegment",
        F.expr(
            "CAST(CASE WHEN c_acctbal >= 0.0D"
            " THEN FLOOR(c_acctbal * 100.0D + 0.5D)"
            " ELSE CEIL(c_acctbal * 100.0D - 0.5D) END AS BIGINT)"
        ).alias("cents"),
    )
    return composite_er_pairs(
        cu, "c_custkey", "c_name", "c_nationkey", "c_mktsegment", "cents",
        max_cents_diff=100,
    ).orderBy("id_a", "id_b")


@declare(
    "q170_snapshot_state_diff",
    oracle="""
    WITH e AS (
        SELECT user_id, ts, event_id, event_type,
               CAST(CASE WHEN value >= 0
                    THEN FLOOR(value * 100.0 + 0.5)
                    ELSE CEIL(value * 100.0 - 0.5) END AS BIGINT) AS cents
        FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL),
    s1 AS (
        SELECT user_id, event_type AS t1_type, cents AS t1_cents FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                       ORDER BY ts DESC, event_id DESC) AS rn
            FROM e WHERE ts <= TIMESTAMP '2024-01-15 00:00:00')
        WHERE rn = 1),
    s2 AS (
        SELECT user_id, event_type AS t2_type, cents AS t2_cents FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                       ORDER BY ts DESC, event_id DESC) AS rn
            FROM e WHERE ts <= TIMESTAMP '2024-01-25 00:00:00')
        WHERE rn = 1)
    SELECT s2.user_id,
           CASE WHEN s1.user_id IS NULL THEN 'new'
                WHEN s1.t1_type = s2.t2_type
                 AND s1.t1_cents = s2.t2_cents THEN 'unchanged'
                ELSE 'changed' END AS status,
           s1.t1_type, s2.t2_type
    FROM s2 LEFT JOIN s1 USING (user_id)
    ORDER BY user_id
    """,
    doc="Snapshot state-diff audit (the CDC / MERGE-INTO planning "
    "step): each user's LAST (event_type, value) state as of two "
    "cutoffs, classified new / changed / unchanged — the change-set "
    "a warehouse merge or incremental materialization would apply "
    "between versions. Deterministic keeper per snapshot via a "
    "(ts DESC, event_id DESC) row_number — the unique-key window "
    "tie-break rule; values in tie-free floor/ceil cents. Both "
    "snapshots collapse to one row per user BEFORE the diff join, "
    "so the join moves |users| rows regardless of event volume; "
    "both argmax windows share one user_id partitioning.",
    tags=("events", "window"),
)
def q170(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql.window import Window

    e = (
        load(spark, sf, "events")
        .filter(F.col("event_type").isNotNull() & F.col("value").isNotNull())
        .select(
            "user_id",
            "ts",
            "event_id",
            "event_type",
            F.expr(
                "CAST(CASE WHEN value >= 0.0D"
                " THEN FLOOR(value * 100.0D + 0.5D)"
                " ELSE CEIL(value * 100.0D - 0.5D) END AS BIGINT)"
            ).alias("cents"),
        )
    )

    def snapshot(cutoff: str, prefix: str) -> DataFrame:
        w = Window.partitionBy("user_id").orderBy(
            F.col("ts").desc(), F.col("event_id").desc()
        )
        return (
            e.filter(F.col("ts") <= F.lit(cutoff).cast(e.schema["ts"].dataType))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(
                "user_id",
                F.col("event_type").alias(f"{prefix}_type"),
                F.col("cents").alias(f"{prefix}_cents"),
            )
        )

    s1 = snapshot("2024-01-15 00:00:00", "t1")
    s2 = snapshot("2024-01-25 00:00:00", "t2")
    return (
        s2.join(s1, ["user_id"], "left")
        .select(
            "user_id",
            F.when(F.col("t1_type").isNull(), F.lit("new"))
            .when(
                (F.col("t1_type") == F.col("t2_type"))
                & (F.col("t1_cents") == F.col("t2_cents")),
                F.lit("unchanged"),
            )
            .otherwise(F.lit("changed"))
            .alias("status"),
            "t1_type",
            "t2_type",
        )
        .orderBy("user_id")
    )


@declare(
    "q171_last_touch_attribution",
    oracle="""
    WITH p AS (
        SELECT event_id AS purchase_id, user_id, ts AS pts
        FROM events WHERE event_type = 'purchase'),
    c AS (
        -- one deterministic click per (user, ts): max event_id
        SELECT user_id, ts AS cts, MAX(event_id) AS click_id
        FROM events WHERE event_type = 'click' GROUP BY user_id, ts),
    m AS (
        SELECT p.purchase_id, p.user_id, p.pts, MAX(c.cts) AS cts
        FROM p LEFT JOIN c
          ON c.user_id = p.user_id AND c.cts <= p.pts
         AND c.cts >= p.pts - INTERVAL 7 DAY
        GROUP BY p.purchase_id, p.user_id, p.pts)
    SELECT m.purchase_id, m.user_id, c2.click_id
    FROM m LEFT JOIN c c2 ON c2.user_id = m.user_id AND c2.cts = m.cts
    ORDER BY purchase_id
    """,
    doc="Last-touch marketing attribution: every purchase attributed "
    "to the user's LATEST click within the preceding 7 days (or "
    "unattributed NULL) — the named business op on top of the "
    "tolerance-bounded backward as-of join (q127's operator, here "
    "joining two different event-type streams of the same table). "
    "Clicks pre-aggregate to one deterministic row per (user, ts) "
    "(max event_id — the unique-key tie-break rule) BEFORE the "
    "as-of, so equal-timestamp clicks cannot make the carried value "
    "partition-order-dependent. One key shuffle end-to-end; the "
    "oracle states the identical semantics as a range join + "
    "group-max + reattach.",
    tags=("events", "asof", "join"),
)
def q171(spark: SparkSession, sf: str) -> DataFrame:
    from kaflow_spark.operators.asof import asof_join

    e = load(spark, sf, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id",
        F.col("ts").alias("pts"),
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .groupBy("user_id", F.col("ts").alias("cts"))
        .agg(F.max("event_id").alias("click_id"))
    )
    j = asof_join(
        p,
        c,
        on="user_id",
        left_ts="pts",
        right_ts="cts",
        value_cols=["click_id"],
        tolerance="7 days",
    )
    return j.select(
        "purchase_id", "user_id", F.col("click_id_right").alias("click_id")
    ).orderBy("purchase_id")


@declare(
    "q172_share_of_parent",
    oracle="""
    WITH base AS (
        SELECT r.r_name AS region, n.n_name AS nation,
               CAST(SUM(CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT)) AS BIGINT) AS cents
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY r.r_name, n.n_name),
    reg AS (SELECT region, CAST(SUM(cents) AS BIGINT) AS rc
            FROM base GROUP BY region),
    tot AS (SELECT CAST(SUM(cents) AS BIGINT) AS tc FROM base)
    SELECT b.region, b.nation, b.cents,
           CAST(b.cents * 10000 // reg.rc AS BIGINT) AS share_of_region_bp,
           CAST(reg.rc * 10000 // tot.tc AS BIGINT) AS region_share_bp
    FROM base b JOIN reg USING (region) CROSS JOIN tot
    ORDER BY region, nation
    """,
    doc="Contribution / share-of-parent analysis: revenue by (region, "
    "nation) with each nation's exact-bp share of its region and each "
    "region's share of the corpus — the ratio-to-parent report every "
    "BI rollup ships, which plain ROLLUP (q15) cannot express because "
    "the child row needs its PARENT's aggregate as a divisor. Shape: "
    "ONE fact aggregation to the bounded (region, nation) grain "
    "(orders shuffled once; nation/region dims broadcast), then the "
    "parent and grand totals REAGGREGATE the child table — no second "
    "fact scan — and come back via broadcast joins onto it. Exact "
    "cents (DECIMAL before the cast, per the determinism rules), "
    "truncating integer bp both engines.",
    tags=("agg", "curation"),
)
def q172(spark: SparkSession, sf: str) -> DataFrame:
    o = load(spark, sf, "orders").select("o_custkey", "o_totalprice")
    c = load(spark, sf, "customer").select("c_custkey", "c_nationkey")
    n = load(spark, sf, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    r = load(spark, sf, "region").select("r_regionkey", "r_name")
    base = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            F.sum(
                (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
            )
            .cast("bigint")
            .alias("cents")
        )
    )
    reg = base.groupBy("region").agg(F.sum("cents").alias("rc"))
    tot = base.agg(F.sum("cents").alias("tc"))
    return (
        base.join(F.broadcast(reg), "region")
        .crossJoin(F.broadcast(tot))
        .select(
            "region",
            "nation",
            "cents",
            F.expr("cents * 10000 div rc").cast("bigint").alias(
                "share_of_region_bp"
            ),
            F.expr("rc * 10000 div tc").cast("bigint").alias(
                "region_share_bp"
            ),
        )
        .orderBy("region", "nation")
    )


@declare(
    "q173_unpivot_roundtrip",
    oracle="""
    SELECT o_orderpriority, o_orderstatus AS status,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM orders
    WHERE o_orderstatus IN ('F', 'O', 'P')
    GROUP BY o_orderpriority, o_orderstatus
    ORDER BY o_orderpriority, status
    """,
    doc="UNPIVOT (wide->long), the inverse of q52's pivot, attested "
    "as a ROUNDTRIP: the pivoted (priority x {F,O,P}) count matrix "
    "unpivots back to long form and must equal the direct long GROUP "
    "BY the oracle states — pivot-then-unpivot composing to identity "
    "is a stronger check than either direction against a fixture. "
    "Spark's native unpivot (ids/values/variable/value) plans as a "
    "single Expand over the wide frame — no join, no shuffle beyond "
    "the pivot aggregation's own; zero-count cells (a priority with "
    "no orders in some status) are dropped on both sides to mirror "
    "the GROUP BY's no-row semantics.",
    tags=("agg", "pivot"),
)
def q173(spark: SparkSession, sf: str) -> DataFrame:
    wide = (
        load(spark, sf, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
    )
    long = wide.unpivot(
        ["o_orderpriority"], ["F", "O", "P"], "status", "cnt"
    )
    return (
        long.filter(F.col("cnt").isNotNull())
        .select(
            "o_orderpriority", "status", F.col("cnt").cast("bigint").alias("cnt")
        )
        .orderBy("o_orderpriority", "status")
    )


# Shared DuckDB CTE chain for the DSIR family (q174 score table; q175
# builds its AUC on top). Bucket ids use md5-prefix arithmetic (the
# one hash both engines compute identically); bits are the exact
# floor-log2 integer idiom with add-one smoothing, so every value is
# BIGINT end-to-end (no HUGEINT render drift, no libm log).
_DSIR_CTE = """
    w AS (
        SELECT doc_id, lang = 'en' AS tgt,
               regexp_extract_all(text, '\\S+') AS w
        FROM documents),
    bi AS (
        SELECT doc_id, tgt,
               unnest(list_transform(range(1, len(w)),
                                     i -> w[i] || ' ' || w[i + 1])) AS gram
        FROM w WHERE len(w) >= 2),
    fb AS (
        SELECT doc_id, tgt,
               CAST('0x' || substring(md5(gram), 1, 8) AS BIGINT) % 4096 AS b
        FROM bi),
    cnt AS (
        SELECT doc_id, tgt, b, CAST(COUNT(*) AS BIGINT) AS c
        FROM fb GROUP BY doc_id, tgt, b),
    bc AS (
        SELECT b,
               CAST(SUM(CASE WHEN tgt THEN c ELSE 0 END) AS BIGINT) AS ct,
               CAST(SUM(CASE WHEN NOT tgt THEN c ELSE 0 END) AS BIGINT) AS cr
        FROM cnt GROUP BY b),
    tot AS (
        SELECT CAST(SUM(ct) AS BIGINT) AS nt, CAST(SUM(cr) AS BIGINT) AS nr
        FROM bc),
    bits AS (
        SELECT b,
               CAST(LENGTH(bin((nt + 4096) // (ct + 1))) - 1 AS BIGINT) AS bt,
               CAST(LENGTH(bin((nr + 4096) // (cr + 1))) - 1 AS BIGINT) AS br
        FROM bc, tot),
    score AS (
        SELECT doc_id, bool_or(tgt) AS is_target,
               CAST(SUM(c) AS BIGINT) AS ngrams,
               CAST(SUM(c * (br - bt)) AS BIGINT) AS dsir_bits
        FROM cnt JOIN bits USING (b)
        GROUP BY doc_id)
"""


@declare(
    "q174_dsir_importance",
    oracle=f"""
    WITH {_DSIR_CTE}
    SELECT doc_id, is_target, ngrams, dsir_bits,
           (dsir_bits * 1000) // ngrams AS dsir_milli
    FROM score ORDER BY doc_id
    """,
    doc="DSIR-style importance weights (Xie et al. 2023): every "
    "document scored by how much more plausible its hashed word-"
    "bigram features (md5-prefix buckets mod 4096 — the one hash "
    "both engines share) are under the target distribution "
    "(lang = 'en') than under the rest of the corpus. Log-ratios "
    "are quantized to exact floor-log2 integer bits with add-one "
    "smoothing, so the score is pure integer arithmetic. Plan: "
    "grams explode scan-side into (id, bucket) counts — the only "
    "corpus-sized shuffle, short partial-agg'd rows; the 4096-row "
    "bucket distribution table is broadcast back; text never "
    "shuffles. The operator is the resampling front half: rank or "
    "threshold on dsir_milli to select target-like data.",
    tags=("curation", "text", "sampling"),
)
def q174(spark: SparkSession, sf: str) -> DataFrame:
    from kaflow_spark.operators.curation import dsir_importance

    d = load(spark, sf, "documents")
    return dsir_importance(
        d, "doc_id", "text", F.col("lang") == "en", n=2, buckets=4096
    ).orderBy("doc_id")


@declare(
    "q175_dsir_separation_auc",
    oracle=f"""
    WITH {_DSIR_CTE},
    flags AS (
        SELECT doc_id, dsir_bits, is_target AS tgt FROM score),
    sc AS (
        SELECT dsir_bits AS s,
               CAST(SUM(CASE WHEN tgt THEN 1 ELSE 0 END) AS BIGINT) AS t,
               CAST(SUM(CASE WHEN NOT tgt THEN 1 ELSE 0 END) AS BIGINT) AS r
        FROM flags GROUP BY dsir_bits),
    cum AS (
        SELECT s, t, r,
               CAST(COALESCE(SUM(r) OVER (ORDER BY s
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS BIGINT) AS rb
        FROM sc)
    SELECT CAST(SUM(t) AS BIGINT) AS n_flagged,
           CAST(SUM(r) AS BIGINT) AS n_rest,
           ((2 * CAST(SUM(t * rb) AS BIGINT) + CAST(SUM(t * r) AS BIGINT))
               * 10000)
               // (2 * CAST(SUM(t) AS BIGINT) * CAST(SUM(r) AS BIGINT))
               AS auc_bp
    FROM cum
    """,
    doc="Separation audit for the q174 importance weights: exact "
    "Mann-Whitney AUC (midrank ties) of dsir_bits distinguishing "
    "target-language documents from the rest, in basis points — "
    "the one-number check that a selection signal actually ranks "
    "target-like data above the rest before resampling on it. "
    "Pairwise O(T*R) collapses to one groupBy(score) count table "
    "plus a cumulative sum over that bounded table (the RFM-"
    "quintile single-partition-window idiom: the window input is "
    "score-cardinality-sized, never corpus-sized). All-integer "
    "arithmetic; AUC 5000 = no separation.",
    tags=("curation", "audit"),
)
def q175(spark: SparkSession, sf: str) -> DataFrame:
    from kaflow_spark.operators.curation import (
        dsir_importance,
        score_separation_auc,
    )

    d = load(spark, sf, "documents")
    scores = dsir_importance(
        d, "doc_id", "text", F.col("lang") == "en", n=2, buckets=4096
    )
    # the operator emits is_target itself — re-joining documents for
    # the flag would push isnotnull(doc_id) inference into one branch
    # of the shared gram subtree and double the corpus scan (q136)
    return score_separation_auc(scores, "dsir_bits", "is_target")


# exact integer cents (the q166-attested DECIMAL(18,2) idiom: double
# -> DECIMAL rounds identically in both engines, then *100 is exact)
_CENTS = "CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)"


@declare(
    "q176_k_anonymity_audit",
    oracle=f"""
    WITH c AS (
        SELECT c_nationkey, c_mktsegment, {_CENTS} AS cents
        FROM customer),
    cells AS (
        SELECT c_nationkey, c_mktsegment, cents // 200000 AS bal_band,
               CAST(COUNT(*) AS BIGINT) AS n_people,
               CAST(COUNT(DISTINCT cents) AS BIGINT) AS l_distinct
        FROM c GROUP BY c_nationkey, c_mktsegment, cents // 200000)
    SELECT * FROM cells WHERE n_people < 10
    ORDER BY c_nationkey, c_mktsegment, bal_band
    """,
    doc="k-anonymity audit (Sweeney 2002) over the customer "
    "population: quasi-identifier cells (nation, market segment, "
    "2000-currency-unit balance band) holding fewer than k=10 "
    "people — the re-identification risk report a privacy review "
    "runs before any data release — with each cell's l-diversity "
    "of the exact balance (a k-anonymous cell that is 1-diverse "
    "leaks the sensitive value anyway). Exact integer cents via "
    "the DECIMAL(18,2) cast idiom (q166); truncating integer band "
    "division identical in both engines (trap 6). One partial-"
    "agg'd aggregation; output bounded by QI-space size.",
    tags=("curation", "privacy", "audit"),
)
def q176(spark: SparkSession, sf: str) -> DataFrame:
    from kaflow_spark.operators.curation import k_anonymity_cells

    c = load(spark, sf, "customer").select(
        "c_nationkey",
        "c_mktsegment",
        F.expr(f"{_CENTS} AS cents"),
    )
    cells = k_anonymity_cells(
        c.withColumn("bal_band", F.expr("cents div 200000")),
        ["c_nationkey", "c_mktsegment", "bal_band"],
        "cents",
        k=10,
    )
    return cells.orderBy("c_nationkey", "c_mktsegment", "bal_band")


@declare(
    "q177_anonymity_generalization",
    oracle=f"""
    WITH c AS (
        SELECT c_nationkey, c_mktsegment, {_CENTS} AS cents
        FROM customer),
    cells AS (
        SELECT c_nationkey, c_mktsegment, cents // 200000 AS bal_band,
               CAST(COUNT(*) AS BIGINT) AS n0
        FROM c GROUP BY c_nationkey, c_mktsegment, cents // 200000),
    lv AS (
        SELECT c_nationkey, c_mktsegment, bal_band, n0,
               CAST(SUM(n0) OVER (PARTITION BY c_nationkey, c_mktsegment)
                    AS BIGINT) AS n1,
               CAST(SUM(n0) OVER (PARTITION BY c_nationkey) AS BIGINT) AS n2
        FROM cells)
    SELECT c_nationkey, c_mktsegment, bal_band, n0 AS n_people,
           CAST(CASE WHEN n0 >= 10 THEN 0
                     WHEN n1 >= 10 THEN 1
                     WHEN n2 >= 10 THEN 2
                     ELSE 3 END AS INTEGER) AS anon_level
    FROM lv ORDER BY c_nationkey, c_mktsegment, bal_band
    """,
    doc="Generalization ladder for k-anonymity repair: for every "
    "full-QI cell, the minimal suffix-truncation of (nation, "
    "segment, balance band) — least-public column dropped first — "
    "at which the cell's population reaches k=10 (0 = already "
    "anonymous, 3 = only the whole population suffices). ONE "
    "population aggregation to the bounded cell table; every "
    "coarser-grain count is a window sum OVER THAT TABLE (the "
    "bounded-table window idiom) — no second population scan, so "
    "the repair analysis costs the same as the audit.",
    tags=("curation", "privacy", "audit"),
)
def q177(spark: SparkSession, sf: str) -> DataFrame:
    from kaflow_spark.operators.curation import anonymity_generalization

    c = load(spark, sf, "customer").select(
        "c_nationkey",
        "c_mktsegment",
        F.expr(f"{_CENTS} div 200000 AS bal_band"),
    )
    return anonymity_generalization(
        c, ["c_nationkey", "c_mktsegment", "bal_band"], k=10
    ).orderBy("c_nationkey", "c_mktsegment", "bal_band")


@declare(
    "q178_token_budget_waterfill",
    oracle="""
    WITH tk AS (
        SELECT source, lang,
               CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS ntok
        FROM documents),
    st AS (
        SELECT source, CAST(SUM(ntok) AS BIGINT) AS tokens_avail,
               CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
                   AS en_docs
        FROM tk GROUP BY source),
    b AS (
        SELECT *, (CAST(SUM(tokens_avail) OVER () AS BIGINT) * 3) // 4 AS B
        FROM st),
    o AS (SELECT *, CAST(tokens_avail AS DOUBLE) / en_docs AS r FROM b),
    p AS (
        SELECT *,
               CAST(COALESCE(SUM(tokens_avail) OVER (ORDER BY r, source
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS pre_cap,
               CAST(SUM(en_docs) OVER () AS BIGINT)
                   - CAST(COALESCE(SUM(en_docs) OVER (ORDER BY r, source
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                         AS BIGINT) AS w_here
        FROM o),
    c AS (
        SELECT *, tokens_avail * w_here <= (B - pre_cap) * en_docs AS capped
        FROM p),
    f AS (
        SELECT *,
               CAST(COALESCE(SUM(CASE WHEN capped THEN tokens_avail END)
                   OVER (), 0) AS BIGINT) AS capc,
               CAST(COALESCE(SUM(CASE WHEN NOT capped THEN en_docs END)
                   OVER (), 0) AS BIGINT) AS wfree
        FROM c)
    SELECT source, en_docs, tokens_avail,
           CAST(CASE WHEN capped THEN tokens_avail
                ELSE ((B - capc) * en_docs) // GREATEST(wfree, 1)
                END AS BIGINT) AS allocation,
           capped
    FROM f ORDER BY source
    """,
    doc="Token-budget water-filling across sources: allocate 75% of "
    "the corpus's total tokens proportionally to each source's "
    "TARGET-LANGUAGE (en) document count, capped at the source's "
    "available tokens — the "
    "mixture allocator that decides per-source sampling budgets "
    "before resampling (capped proportional allocation / max-min "
    "fairness). Closed form, no iteration: the capped set is a "
    "prefix of the cap/weight-sorted order, decided by ONE prefix-"
    "sum window with integer cross-multiplied comparisons (the only "
    "float is the IEEE sort ratio, identical in both engines). Plan: "
    "one corpus scan to the bounded per-source stats table; every "
    "window runs over those ~20 rows.",
    tags=("curation", "sampling"),
)
def q178(spark: SparkSession, sf: str) -> DataFrame:
    from kaflow_spark.operators.curation import capped_waterfill

    d = load(spark, sf, "documents")
    stats = (
        d.select(
            "source",
            "lang",
            F.size(F.regexp_extract_all(F.col("text"), F.lit(r"\S+"), 0))
            .cast("bigint")
            .alias("ntok"),
        )
        .groupBy("source")
        .agg(
            F.sum("ntok").alias("tokens_avail"),
            F.sum(F.when(F.col("lang") == "en", 1).otherwise(0))
            .cast("bigint")
            .alias("en_docs"),
        )
    )
    out = capped_waterfill(
        stats,
        "source",
        "tokens_avail",
        "en_docs",
        F.expr("(sum(tokens_avail) over ()) * 3 div 4"),
    )
    return out.select(
        "source", "en_docs", "tokens_avail", "allocation", "capped"
    ).orderBy("source")


@declare(
    "q179_cusum_changepoints",
    oracle="""
    WITH e AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        FROM events),
    ser AS (
        SELECT event_type, day, CAST(SUM(cents) AS BIGINT) AS day_cents
        FROM e GROUP BY event_type, day),
    w AS (
        SELECT *,
               CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
               CAST(SUM(day_cents) OVER (PARTITION BY event_type) AS BIGINT)
                   AS t
        FROM ser),
    s AS (
        SELECT *,
               CAST(SUM(day_cents * n - t) OVER (PARTITION BY event_type
                   ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND
                   CURRENT ROW) AS BIGINT) AS sd
        FROM w),
    c AS (
        SELECT *,
               CAST(sd - LEAST(MIN(sd) OVER (PARTITION BY event_type
                   ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND
                   CURRENT ROW), 0) AS BIGINT) AS cusum_pos,
               CAST(GREATEST(MAX(sd) OVER (PARTITION BY event_type
                   ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND
                   CURRENT ROW), 0) - sd AS BIGINT) AS cusum_neg
        FROM s)
    SELECT event_type, day, day_cents, cusum_pos, cusum_neg,
           (cusum_pos * 100 > t * n * 10 OR cusum_neg * 100 > t * n * 10)
               AS shift_flag
    FROM c ORDER BY event_type, day
    """,
    doc="CUSUM level-shift detection over each event type's daily "
    "volume series, exact and iteration-free: the textbook "
    "recursion max(0, C+dev) has the closed form prefix-sum minus "
    "running-min, so the detector is two ordered windows over the "
    "bounded (type, day) series table — no loop, no UDF, no floats "
    "(deviations scaled by the period count instead of dividing by "
    "the mean; the flag compares cross-multiplied at 10% of total "
    "volume). One events aggregation upstream; cents via the "
    "DECIMAL(18,2) idiom. The monitoring op a pipeline runs per "
    "source/metric before trusting a day's data.",
    tags=("events", "audit"),
)
def q179(spark: SparkSession, sf: str) -> DataFrame:
    from kaflow_spark.operators.events import cusum_shifts

    e = load(spark, sf, "events")
    ser = (
        e.select(
            "event_type",
            F.to_date("ts").alias("day"),
            F.expr(
                "CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)"
            ).alias("cents"),
        )
        .groupBy("event_type", "day")
        .agg(F.sum("cents").alias("day_cents"))
    )
    out = cusum_shifts(ser, "event_type", "day", "day_cents", pct=10)
    return out.select(
        "event_type", "day", "day_cents", "cusum_pos", "cusum_neg", "shift_flag"
    ).orderBy("event_type", "day")


@declare(
    "q180_benford_audit",
    oracle="""
    WITH amt AS (
        SELECT o_orderpriority,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                   AS cents
        FROM orders),
    cnt AS (
        SELECT o_orderpriority,
               CAST(substring(CAST(cents AS VARCHAR), 1, 1) AS INTEGER) AS d,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM amt WHERE cents > 0
        GROUP BY o_orderpriority,
                 CAST(substring(CAST(cents AS VARCHAR), 1, 1) AS INTEGER)),
    tot AS (
        SELECT o_orderpriority, CAST(SUM(c) AS BIGINT) AS n
        FROM cnt GROUP BY o_orderpriority),
    grid AS (
        SELECT t.o_orderpriority, t.n, g.d
        FROM tot t, (SELECT unnest(range(1, 10)) AS d) g),
    bp AS (
        SELECT grid.o_orderpriority, grid.n,
               (COALESCE(cnt.c, 0) * 10000) // grid.n AS share_bp,
               CASE grid.d WHEN 1 THEN 3010 WHEN 2 THEN 1760
                    WHEN 3 THEN 1249 WHEN 4 THEN 969 WHEN 5 THEN 791
                    WHEN 6 THEN 669 WHEN 7 THEN 579 WHEN 8 THEN 511
                    ELSE 457 END AS exp_bp
        FROM grid LEFT JOIN cnt
          ON cnt.o_orderpriority = grid.o_orderpriority AND cnt.d = grid.d)
    SELECT o_orderpriority, n AS n_amounts,
           CAST(SUM(ABS(share_bp - exp_bp)) AS BIGINT) AS l1_bp
    FROM bp GROUP BY o_orderpriority, n
    ORDER BY o_orderpriority
    """,
    doc="Benford's-law conformance per order priority: L1 distance "
    "(basis points) between the first-significant-digit distribution "
    "of order totals (exact cents; digit from the integer's string "
    "form — no float log10) and the constant Benford expectation "
    "table — the classic fabricated-data / fraud screen for wide-"
    "range financial amounts. Digits absent from a group still "
    "contribute their full expected share (densified digit grid over "
    "the bounded count table). One partial-agg'd aggregation; all "
    "arithmetic over the (group, digit) table.",
    tags=("audit",),
)
def q180(spark: SparkSession, sf: str) -> DataFrame:
    from kaflow_spark.operators.curation import benford_deviation

    o = load(spark, sf, "orders").select(
        "o_orderpriority",
        F.expr(
            "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
        ).alias("cents"),
    )
    return benford_deviation(o, "o_orderpriority", "cents").orderBy(
        "o_orderpriority"
    )


@declare(
    "q181_length_gini",
    oracle="""
    WITH r AS (
        SELECT source, CAST(n_chars AS BIGINT) AS v,
               CAST(ROW_NUMBER() OVER (PARTITION BY source
                   ORDER BY n_chars, doc_id) AS BIGINT) AS i
        FROM documents)
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(SUM(v) AS BIGINT) AS total_value,
           (2 * CAST(SUM(i * v) AS BIGINT)
               - (CAST(COUNT(*) AS BIGINT) + 1) * CAST(SUM(v) AS BIGINT))
               * 10000
               // (CAST(COUNT(*) AS BIGINT) * CAST(SUM(v) AS BIGINT))
               AS gini_bp
    FROM r GROUP BY source ORDER BY source
    """,
    doc="Exact Gini coefficient (basis points) of document length "
    "within each source — the corpus-composition inequality audit: "
    "a source whose character mass concentrates in a few giant "
    "documents behaves differently under sampling, chunking, and "
    "dedup than an even one. Rank formulation (2*sum(i*x_(i)) - "
    "(n+1)*sum(x)) / (n*sum(x)) with doc_id tie-break (result is "
    "tie-order-invariant: tied values make sum(i*x) depend only on "
    "the fixed sum of ranks) — integer arithmetic to one truncating "
    "bp division. One per-source rank window over (source, length, "
    "id) rows; payloads never move.",
    tags=("curation", "audit"),
)
def q181(spark: SparkSession, sf: str) -> DataFrame:
    from kaflow_spark.operators.curation import gini_bp

    d = load(spark, sf, "documents").select(
        "source", "doc_id", F.col("n_chars").cast("bigint").alias("v")
    )
    return gini_bp(d, "source", "doc_id", "v").orderBy("source")


@declare(
    "q182_temporal_state_join",
    oracle="""
    WITH o AS (
        SELECT user_id, event_type, ts, event_id,
               LAG(event_type) OVER w AS prev_type
        FROM events WHERE event_type <> 'purchase'
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    flagged AS (
        SELECT user_id, event_type, ts, event_id,
               CASE WHEN prev_type IS NULL
                         OR prev_type <> event_type THEN 1 ELSE 0
               END AS chg
        FROM o),
    islands AS (
        SELECT user_id, event_type, ts,
               SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS island
        FROM flagged),
    runs AS (
        SELECT user_id, island, MIN(event_type) AS event_type,
               MIN(ts) AS valid_from
        FROM islands GROUP BY user_id, island),
    iv AS (
        SELECT user_id, event_type, valid_from,
               LEAD(valid_from) OVER (PARTITION BY user_id
                                      ORDER BY island) AS valid_to
        FROM runs),
    p AS (
        SELECT user_id, event_id, ts FROM events
        WHERE event_type = 'purchase')
    SELECT p.user_id, p.event_id, iv.event_type AS state,
           iv.valid_from AS state_since
    FROM p JOIN iv ON p.user_id = iv.user_id
       AND iv.valid_from <= p.ts
       AND (iv.valid_to IS NULL OR p.ts < iv.valid_to)
    ORDER BY p.user_id, p.event_id
    """,
    doc="Temporal point-in-interval dimension join — the consumer of "
    "the SCD2 story (build q141/q150, diff q170): each purchase is "
    "joined to the engagement state (the user's current run of "
    "non-purchase activity) VALID AT its timestamp, the classic "
    "point-in-time dimension lookup a warehouse runs against SCD "
    "history. Intervals are half-open [from, next_from) with the "
    "(ts, event_id) tie-break, so a purchase on an exact boundary "
    "lands in the new run in both engines; purchases before a "
    "user's first state run drop (inner join). Shape: the SCD2 "
    "build and the join share ONE user_id hash partitioning "
    "(co-partitioned equi-join; the containment predicate filters "
    "post-join over the per-user interval set, bounded by that "
    "user's own run count).",
    tags=("events", "scd", "join"),
)
def q182(spark: SparkSession, sf: str) -> DataFrame:
    from kaflow_spark.operators.events import scd2_intervals

    e = load(spark, sf, "events")
    states = scd2_intervals(
        e.filter(F.col("event_type") != "purchase"), "user_id", "event_type"
    ).drop("n_events")
    purch = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts"
    )
    j = purch.join(states, "user_id").filter(
        (F.col("valid_from") <= F.col("ts"))
        & (F.col("valid_to").isNull() | (F.col("ts") < F.col("valid_to")))
    )
    return j.select(
        "user_id",
        "event_id",
        F.col("event_type").alias("state"),
        F.col("valid_from").alias("state_since"),
    ).orderBy("user_id", "event_id")


@declare(
    "q183_ks_drift",
    oracle="""
    WITH c AS (
        SELECT source, CAST(n_chars AS BIGINT) AS v,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM documents GROUP BY source, n_chars),
    vals AS (SELECT DISTINCT v FROM c),
    grp AS (SELECT source, CAST(SUM(cnt) AS BIGINT) AS ng
            FROM c GROUP BY source),
    tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM c),
    pv AS (SELECT v, CAST(SUM(cnt) AS BIGINT) AS cv FROM c GROUP BY v),
    cum_all AS (
        SELECT v, CAST(SUM(cv) OVER (ORDER BY v
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            AS cum_all
        FROM pv),
    grid AS (
        SELECT g.source, g.ng, vals.v, COALESCE(c.cnt, 0) AS cnt
        FROM grp g CROSS JOIN vals
        LEFT JOIN c ON c.source = g.source AND c.v = vals.v),
    stepped AS (
        SELECT grid.source, grid.ng, grid.v,
               CAST(SUM(cnt) OVER (PARTITION BY grid.source ORDER BY grid.v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cum_g,
               ca.cum_all, tot.n
        FROM grid JOIN cum_all ca ON ca.v = grid.v, tot)
    SELECT source, ng AS n_group, CAST(MAX(n - ng) AS BIGINT) AS n_rest,
           (CAST(MAX(ABS(cum_g * (n - ng) - (cum_all - cum_g) * ng))
                AS BIGINT) * 10000)
               // (ng * CAST(MAX(n - ng) AS BIGINT)) AS ks_bp
    FROM stepped GROUP BY source, ng
    ORDER BY source
    """,
    doc="Exact two-sample Kolmogorov-Smirnov drift (basis points) of "
    "each source's document-length distribution against the REST of "
    "the corpus — the bucket-free leave-one-out complement to the "
    "fixed-bucket L1 drift report (q158): no bin edges to defend, "
    "and the KS max is provably attained on the union value grid. "
    "Cross-multiplied integers end to end (D = max|cum_g*n_rest - "
    "cum_rest*n_g|). One population aggregation to the (source, "
    "length) count table; the densified grid and every cumulative "
    "window live on bounded tables (sources x distinct lengths).",
    tags=("curation", "audit"),
)
def q183(spark: SparkSession, sf: str) -> DataFrame:
    from kaflow_spark.operators.curation import ks_drift_bp

    d = load(spark, sf, "documents").select(
        "source", F.col("n_chars").cast("bigint").alias("v")
    )
    return ks_drift_bp(d, "source", "v").orderBy("source")


def _q184_oracle() -> str:
    from kaflow_spark.queries.llm import _quality_components_cte, _QSCORE_EXPR

    return f"""
    WITH {_quality_components_cte()},
    q AS (SELECT doc_id, {_QSCORE_EXPR} AS score FROM c),
    tkn AS (
        SELECT doc_id, unnest(regexp_extract_all(text, '\\S+')) AS token
        FROM documents),
    per AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS cc
            FROM tkn GROUP BY doc_id, token),
    tc AS (SELECT token, CAST(SUM(cc) AS BIGINT) AS tc
           FROM per GROUP BY token),
    g AS (SELECT CAST(SUM(tc) AS BIGINT) AS g FROM tc),
    srp AS (
        SELECT per.doc_id,
               (CAST(SUM(cc * (LENGTH(bin(g.g // tc.tc)) - 1)) AS BIGINT)
                   * 10000) // CAST(SUM(cc) AS BIGINT) AS bits_bp
        FROM per JOIN tc USING (token), g
        GROUP BY per.doc_id),
    j AS (
        SELECT d.source, q.doc_id, q.score, srp.bits_bp
        FROM q JOIN srp USING (doc_id)
        JOIN documents d USING (doc_id)),
    r AS (
        SELECT source,
               CAST(ROW_NUMBER() OVER (PARTITION BY source
                   ORDER BY score, doc_id) AS BIGINT) AS r1,
               CAST(ROW_NUMBER() OVER (PARTITION BY source
                   ORDER BY bits_bp, doc_id) AS BIGINT) AS r2
        FROM j)
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM((r1 - r2) * (r1 - r2)) AS BIGINT) AS sum_d2,
           10000 - (60000 * CAST(SUM((r1 - r2) * (r1 - r2)) AS BIGINT))
               // GREATEST(CAST(COUNT(*) AS BIGINT)
                   * (CAST(COUNT(*) AS BIGINT) * CAST(COUNT(*) AS BIGINT)
                      - 1), 1) AS rho_bp
    FROM r GROUP BY source ORDER BY source
    """


@declare(
    "q184_rank_agreement",
    oracle=_q184_oracle(),
    doc="Rank-agreement audit between two quality signals: per-source "
    "Spearman rho (basis points, d-squared formulation 1 - "
    "6*sum(d^2)/(n(n^2-1))) between the heuristic quality score "
    "(q35) and mean unigram surprisal (q89), under total-order "
    "ranks with the doc_id tie-break (the deterministic tie-broken "
    "variant — midranks would need a square root, breaking integer "
    "exactness; with few ties the two agree closely). The check a "
    "pipeline runs before swapping one filter signal for a cheaper "
    "one: high rho = the cheap signal ranks documents the same way. "
    "Shape: both signals are one aggregation each over the corpus, "
    "joined per doc; the rank windows partition per source.",
    tags=("curation", "audit"),
)
def q184(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql.window import Window

    from kaflow_spark.functions.textstats import quality_score_bp
    from kaflow_spark.operators.curation import unigram_surprisal

    d = load(spark, sf, "documents")
    q = d.select(
        "source", "doc_id", quality_score_bp(F.col("text")).alias("score")
    )
    srp = unigram_surprisal(d, "doc_id", "text").select("doc_id", "bits_bp")
    j = q.join(srp, "doc_id")
    r1 = F.row_number().over(
        Window.partitionBy("source").orderBy("score", "doc_id")
    )
    r2 = F.row_number().over(
        Window.partitionBy("source").orderBy("bits_bp", "doc_id")
    )
    ranked = j.select(
        "source",
        r1.cast("bigint").alias("r1"),
        r2.cast("bigint").alias("r2"),
    )
    return (
        ranked.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("r1") - F.col("r2")) * (F.col("r1") - F.col("r2")))
            .alias("sum_d2"),
        )
        .select(
            "source",
            "n_docs",
            "sum_d2",
            F.expr(
                "10000 - (60000 * sum_d2)"
                " div greatest(n_docs * (n_docs * n_docs - 1), 1)"
            ).alias("rho_bp"),
        )
        .orderBy("source")
    )


@declare(
    "q185_weighted_median",
    oracle="""
    WITH li AS (
        SELECT l_returnflag,
               CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                   AS cents,
               CAST(l_quantity AS BIGINT) AS qty
        FROM lineitem),
    cnt AS (
        SELECT l_returnflag, cents, CAST(SUM(qty) AS BIGINT) AS w,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM li GROUP BY l_returnflag, cents),
    c AS (
        SELECT *,
               CAST(SUM(w) OVER (PARTITION BY l_returnflag) AS BIGINT) AS tw,
               CAST(SUM(n) OVER (PARTITION BY l_returnflag) AS BIGINT) AS tn,
               CAST(SUM(w) OVER (PARTITION BY l_returnflag ORDER BY cents
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cum
        FROM cnt)
    SELECT l_returnflag, CAST(MAX(tn) AS BIGINT) AS n_rows,
           CAST(MAX(tw) AS BIGINT) AS total_weight,
           CAST(MIN(cents) AS BIGINT) AS wmedian
    FROM c WHERE cum * 2 >= tw
    GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    doc="Exact quantity-weighted median of line-item price per return "
    "flag — the volume-weighted generalization of q53's exact "
    "percentiles (percentile_disc semantics: smallest price whose "
    "cumulative QUANTITY reaches half the flag's total, compared "
    "cross-multiplied — no halving division, no interpolation, the "
    "answer is an actual data value). One partial-agg'd (flag, "
    "cents) weight rollup, then the cumulative window per flag over "
    "that contracted table.",
    tags=("agg", "audit"),
)
def q185(spark: SparkSession, sf: str) -> DataFrame:
    from kaflow_spark.operators.curation import weighted_median

    li = load(spark, sf, "lineitem").select(
        "l_returnflag",
        F.expr(
            "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
        ).alias("cents"),
        F.col("l_quantity").cast("bigint").alias("qty"),
    )
    return weighted_median(li, "l_returnflag", "cents", "qty").orderBy(
        "l_returnflag"
    )


@declare(
    "q186_twap",
    oracle="""
    WITH e AS (
        SELECT event_type, CAST(ts AS DATE) AS day, ts, event_id,
               CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
               CAST(epoch_us(ts) AS BIGINT) // 1000000 AS s
        FROM events),
    d AS (
        SELECT event_type, day, cents, s,
               COALESCE(LEAD(s) OVER (PARTITION BY event_type, day
                   ORDER BY ts, event_id) - s, 0) AS dur
        FROM e),
    agg AS (
        SELECT event_type, day,
               CAST(COUNT(*) AS BIGINT) AS n_obs,
               CAST(SUM(cents * dur) AS BIGINT) AS num,
               CAST(MAX(s) - MIN(s) AS BIGINT) AS span_s,
               CAST(SUM(cents) AS BIGINT) AS sv
        FROM d GROUP BY event_type, day)
    SELECT event_type, day, n_obs, span_s,
           CAST(CASE WHEN span_s > 0 THEN num // span_s
                ELSE sv // n_obs END AS BIGINT) AS twap,
           span_s = 0 AS degenerate
    FROM agg ORDER BY event_type, day
    """,
    doc="Time-weighted average value (TWAP) per event type and day — "
    "the metrics/finance aggregation where an observation counts for "
    "how LONG it held, not how often it printed. Each event weighted "
    "by seconds until the next; the last carries zero; denominator "
    "is the observed span; zero-span groups fall back to the plain "
    "truncating mean with a degenerate flag. Epoch seconds via "
    "epoch_us div 1e6 on the oracle side (the q152 rounding "
    "corollary: CAST(epoch(ts)) ROUNDS, Spark's long cast "
    "truncates). One ordered lead window per (type, day) then a "
    "partial-agg'd rollup — the single-shuffle discipline.",
    tags=("events", "agg"),
)
def q186(spark: SparkSession, sf: str) -> DataFrame:
    from kaflow_spark.operators.events import twap

    e = load(spark, sf, "events").select(
        "event_type",
        F.to_date("ts").alias("day"),
        "ts",
        "event_id",
        F.expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").alias(
            "cents"
        ),
    )
    return twap(
        e, ["event_type", "day"], "ts", "event_id", "cents"
    ).orderBy("event_type", "day")


@declare(
    "q187_deterministic_sample",
    oracle="""
    WITH r AS (
        SELECT source, doc_id, n_chars,
               ROW_NUMBER() OVER (PARTITION BY source
                   ORDER BY md5('audit-v1' || CAST(doc_id AS VARCHAR)),
                            doc_id) AS rk
        FROM documents)
    SELECT source, doc_id, CAST(n_chars AS BIGINT) AS n_chars
    FROM r WHERE rk <= 5
    ORDER BY source, doc_id
    """,
    doc="Exactly-5-per-source uniform sample without replacement, "
    "deterministic across engines: rows ranked by md5(salt || id) — "
    "a salt-frozen uniform permutation — and the first 5 kept. The "
    "fixed-size companion to the hash-threshold samplers (whose "
    "per-group keep count is binomial): audit and eval draws want "
    "exactly k, reproducibly. One rank window per source over "
    "(source, id) rows; no RNG state anywhere.",
    tags=("curation", "sampling"),
)
def q187(spark: SparkSession, sf: str) -> DataFrame:
    from kaflow_spark.operators.curation import deterministic_sample_k

    d = load(spark, sf, "documents").select(
        "source", "doc_id", F.col("n_chars").cast("bigint").alias("n_chars")
    )
    return deterministic_sample_k(d, "source", "doc_id", 5, salt="audit-v1").orderBy(
        "source", "doc_id"
    )


@declare(
    "q188_interarrival_median",
    oracle="""
    WITH e AS (
        SELECT user_id, event_type, ts, event_id,
               CAST(epoch_us(ts) AS BIGINT) // 1000000 AS s
        FROM events),
    g AS (
        SELECT event_type,
               LEAD(s) OVER (PARTITION BY user_id, event_type
                   ORDER BY ts, event_id) - s AS gap
        FROM e),
    cnt AS (
        SELECT event_type, gap, CAST(COUNT(*) AS BIGINT) AS c
        FROM g WHERE gap IS NOT NULL GROUP BY event_type, gap),
    cum AS (
        SELECT *,
               CAST(SUM(c) OVER (PARTITION BY event_type) AS BIGINT) AS tc,
               CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY gap
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cumc
        FROM cnt)
    SELECT event_type, CAST(MAX(tc) AS BIGINT) AS n_gaps,
           CAST(MIN(gap) AS BIGINT) AS median_gap_s
    FROM cum WHERE cumc * 2 >= tc
    GROUP BY event_type ORDER BY event_type
    """,
    doc="Inter-arrival burstiness audit: the exact median gap "
    "(seconds) between a user's consecutive events of each type — "
    "the cadence number behind rate-limit, dedup-window, and "
    "session-timeout choices. Gaps from one lead window per (user, "
    "type) with the (ts, event_id) tie-break; epoch seconds via "
    "epoch_us div 1e6 (q152 corollary); the median is the q53/q185 "
    "cumulative-count selector over the bounded (type, gap) table — "
    "integer end to end, percentile_disc semantics.",
    tags=("events", "audit"),
)
def q188(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql.window import Window

    from kaflow_spark.operators.curation import weighted_median

    e = load(spark, sf, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    secs = F.col("ts").cast("long")
    gaps = (
        e.select("user_id", "event_type", "ts", "event_id")
        .withColumn("_s", secs)
        .withColumn("gap", F.lead("_s").over(w) - F.col("_s"))
        .filter(F.col("gap").isNotNull())
        .select("event_type", "gap")
        .withColumn("_one", F.lit(1))
    )
    # r15 scale A/B: gap-seconds cells contract ~10:1 even at 30x
    # volume, so the one-exchange grid selector beats the
    # bucket-parallel kernel here at every measured volume (0.54-0.75x
    # the other way) — the q265/q247/q261 bounded-grid finding again.
    wm = weighted_median(gaps, "event_type", "gap", "_one", grid=True)
    return wm.select(
        "event_type",
        F.col("n_rows").alias("n_gaps"),
        F.col("wmedian").alias("median_gap_s"),
    ).orderBy("event_type")


@declare(
    "q189_chi_square_independence",
    oracle="""
    WITH cells AS (
        SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS o
        FROM documents GROUP BY source, lang),
    tot AS (
        SELECT source, lang, o,
               CAST(SUM(o) OVER (PARTITION BY source) AS BIGINT) AS r,
               CAST(SUM(o) OVER (PARTITION BY lang) AS BIGINT) AS c,
               CAST(SUM(o) OVER () AS BIGINT) AS n
        FROM cells),
    terms AS (
        SELECT source, lang, o, r, c, n,
               (o::HUGEINT * n - r::HUGEINT * c) AS d,
               (n::HUGEINT * r * c) AS nrc,
               CAST(r::HUGEINT * c * 1000000 // n AS BIGINT)
                   AS expected_micro
        FROM tot)
    SELECT source, lang, o AS observed, expected_micro,
           CAST((d * d // nrc) * 1000000
                + ((d * d % nrc) * 1000000) // nrc
                AS BIGINT) AS chi2_term_micro
    FROM terms
    ORDER BY source, lang
    """,
    doc="Chi-square independence audit of the source x language "
    "contingency table — the mixture-health check that a stratified "
    "sampling plan is not silently confounding language with source. "
    "One aggregation to the bounded |sources| x |langs| cell table; "
    "row/column/grand totals as windows OVER that table (never the "
    "corpus); each cell's chi-square contribution in exact integer "
    "micro-units via TWO-STAGE truncating division "
    "(d*d div nrc, then the remainder scaled — d*d*1e6 outgrows "
    "even 38-digit precision while each stage fits). The whole "
    "term computes in DECIMAL(38,0) / HUGEINT UNCONDITIONALLY: "
    "|d| = |o*n - r*c| is bounded by ~n^2/4 under skewed marginals "
    "and nrc by n^3, so int64 overflows once n*min(r,c) passes "
    "~3e9 — far below the 100 TB regime; d^2 <= n^4/16 stays "
    "inside 38 digits to n ~ 5e9, and the per-cell QUOTIENT "
    "(<= n, the chi-square bound) is long-safe after division. "
    "All quantities non-negative where divided, so DuckDB's "
    "truncating // matches Spark's decimal div exactly (the q192 "
    "equivalence).",
    tags=("audit", "curation"),
)
def q189(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql.window import Window

    cells = (
        load(spark, sf, "documents")
        .groupBy("source", "lang")
        .agg(F.count(F.lit(1)).alias("o"))
    )
    dec = "decimal(38,0)"
    t = (
        cells.withColumn("r", F.sum("o").over(Window.partitionBy("source")))
        .withColumn("c", F.sum("o").over(Window.partitionBy("lang")))
        .withColumn("n", F.sum("o").over(Window.partitionBy(F.lit(1))))
        .withColumn(
            "d",
            F.col("o").cast(dec) * F.col("n")
            - F.col("r").cast(dec) * F.col("c"),
        )
        .withColumn("nrc", F.col("n").cast(dec) * F.col("r") * F.col("c"))
    )
    return t.select(
        "source",
        "lang",
        F.col("o").alias("observed"),
        F.expr(f"CAST(CAST(r AS {dec}) * c * 1000000 div n AS BIGINT)").alias(
            "expected_micro"
        ),
        F.expr(
            "CAST((d * d div nrc) * 1000000"
            " + ((d * d % nrc) * 1000000) div nrc AS BIGINT)"
        ).alias("chi2_term_micro"),
    ).orderBy("source", "lang")


@declare(
    "q190_kendall_concordance",
    oracle="""
    WITH b AS (
        SELECT source,
               n_chars // 256 AS b1,
               CAST(len(string_split(text, ' ')) AS BIGINT) // 64 AS b2
        FROM documents),
    cells AS (
        SELECT source, b1, b2, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM b GROUP BY source, b1, b2),
    cross_pairs AS (
        SELECT a.source,
               CAST(SUM(CASE WHEN (a.b1 - x.b1) * (a.b2 - x.b2) > 0
                    THEN a.cnt * x.cnt ELSE 0 END) AS BIGINT) AS c2,
               CAST(SUM(CASE WHEN (a.b1 - x.b1) * (a.b2 - x.b2) < 0
                    THEN a.cnt * x.cnt ELSE 0 END) AS BIGINT) AS d2
        FROM cells a JOIN cells x
          ON a.source = x.source
         AND NOT (a.b1 = x.b1 AND a.b2 = x.b2)
        GROUP BY a.source),
    nn AS (
        SELECT source, CAST(SUM(cnt) AS BIGINT) AS n FROM cells
        GROUP BY source)
    SELECT nn.source, nn.n,
           CAST(COALESCE(c2, 0) // 2 AS BIGINT) AS concordant,
           CAST(COALESCE(d2, 0) // 2 AS BIGINT) AS discordant,
           CAST((COALESCE(c2, 0) // 2 - COALESCE(d2, 0) // 2) * 10000
                // (nn.n * (nn.n - 1) // 2) AS BIGINT) AS tau_a_bp
    FROM nn LEFT JOIN cross_pairs USING (source)
    ORDER BY source
    """,
    doc="Bucketed Kendall concordance audit: rank stability between "
    "two per-document size metrics (char count vs whitespace token "
    "count) per source — the scale-safe exact-on-buckets form of "
    "Kendall's tau. Raw tau needs all O(n^2) pairs or an inversion "
    "tree; bucketing both metrics (fixed widths 256 chars / 64 "
    "tokens) contracts the corpus to a bounded per-source cell "
    "table, and EVERY cross-cell pair's concordance is decided by "
    "the cell coordinates alone — so the pair enumeration runs over "
    "cells (<=|b1|x|b2| per source), never documents, while "
    "remaining exact for the bucketed statistic (within-cell and "
    "same-coordinate pairs are ties by construction; tau_a over all "
    "pairs, integer basis points). Ordered cell pairs count each "
    "unordered pair twice with the same classification, so halving "
    "is exact. Negative tau is possible: integer division truncates "
    "toward zero IDENTICALLY in Spark (div) and DuckDB (//).",
    tags=("audit", "stats"),
)
def q190(spark: SparkSession, sf: str) -> DataFrame:
    d = load(spark, sf, "documents")
    cells = (
        d.select(
            "source",
            F.expr("n_chars div 256").alias("b1"),
            F.expr(
                "CAST(size(split(text, ' ')) AS BIGINT) div 64"
            ).alias("b2"),
        )
        .groupBy("source", "b1", "b2")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    a = cells.select(
        "source",
        F.col("b1").alias("a1"),
        F.col("b2").alias("a2"),
        F.col("cnt").alias("ca"),
    )
    x = cells.select(
        "source",
        F.col("b1").alias("x1"),
        F.col("b2").alias("x2"),
        F.col("cnt").alias("cx"),
    )
    sgn = (F.col("a1") - F.col("x1")) * (F.col("a2") - F.col("x2"))
    # null-safe source equality (q100 trick): a plain == would infer
    # isnotnull(source) into the a/x branches only, de-canonicalizing
    # them against the totals branch and re-running the corpus scan
    cross = (
        a.join(
            x,
            a["source"].eqNullSafe(x["source"])
            & ~((F.col("a1") == F.col("x1")) & (F.col("a2") == F.col("x2"))),
        )
        .drop(x["source"])
        .groupBy("source")
        .agg(
            F.sum(
                F.when(sgn > 0, F.col("ca") * F.col("cx")).otherwise(F.lit(0))
            ).alias("c2"),
            F.sum(
                F.when(sgn < 0, F.col("ca") * F.col("cx")).otherwise(F.lit(0))
            ).alias("d2"),
        )
    )
    # trap-5 idiom: keep b1/b2 load-bearing in this branch (0-weighted
    # into the sum) so column pruning does not narrow the shared cells
    # subtree and silently re-run the corpus scan + split() projection
    # for the totals branch (2 scans, 0 reuse without it; 1 scan with).
    nn = cells.groupBy("source").agg(
        F.sum(F.col("cnt") + F.lit(0) * (F.col("b1") + F.col("b2"))).alias("n")
    )
    # the outer attach is null-safe for the same reason: a LEFT join's
    # isnotnull inference on its right side propagates through the
    # inner eqNullSafe condition into the x branch and re-runs the scan
    return (
        nn.join(
            cross, nn["source"].eqNullSafe(cross["source"]), "left"
        )
        .drop(cross["source"])
        .select(
            "source",
            "n",
            F.expr("COALESCE(c2, 0) div 2").alias("concordant"),
            F.expr("COALESCE(d2, 0) div 2").alias("discordant"),
            F.expr(
                "(COALESCE(c2, 0) div 2 - COALESCE(d2, 0) div 2) * 10000"
                " div (n * (n - 1) div 2)"
            ).alias("tau_a_bp"),
        )
        .orderBy("source")
    )


@declare(
    "q191_length_duplication_calibration",
    oracle="""
    WITH flagged AS (
        SELECT doc_id, n_chars,
               CASE WHEN COUNT(*) OVER (PARTITION BY text) > 1
                    THEN 1 ELSE 0 END AS is_dup
        FROM documents),
    deciled AS (
        SELECT n_chars, is_dup,
               NTILE(10) OVER (ORDER BY n_chars, doc_id) AS decile
        FROM flagged)
    SELECT CAST(decile AS BIGINT) AS decile,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(is_dup) AS BIGINT) AS n_dup,
           CAST(SUM(is_dup) * 10000 // COUNT(*) AS BIGINT) AS dup_rate_bp,
           CAST(MIN(n_chars) AS BIGINT) AS min_chars,
           CAST(MAX(n_chars) AS BIGINT) AS max_chars
    FROM deciled GROUP BY decile ORDER BY decile
    """,
    doc="Calibration table of a per-document signal against a binary "
    "outcome — here document length (the cheapest quality proxy) "
    "against exact-duplicate membership: per length decile, the "
    "population, duplicate count and duplicate rate in basis points "
    "plus the decile's value range. The audit shape behind 'does "
    "our quality score actually predict what we filter on'. "
    "Duplicate flag from ONE count window partitioned on the 128-bit "
    "two-seed xxhash64 text identity (the q96/q157 grain): the "
    "exchange below the window shuffles 16-byte hash keys instead of "
    "full document bytes — at 100x scale the raw-text shuffle was "
    "this query's entire cost. Collision safety is the q96 argument "
    "(2^-128 per pair); the oracle partitions by text directly "
    "(grouping is identical whenever the hash pair is "
    "collision-free, which the brute-force oracle attests "
    "end-to-end). Deciles via "
    "the unique (n_chars, doc_id) total order — deterministic on "
    "ties in both engines. The oracle says NTILE; the engine "
    "computes the IDENTICAL assignment without any single-partition "
    "global sort (the no-unbounded-global-window rule): each row's "
    "global position = the cumulative count of smaller n_chars "
    "values (a window over the BOUNDED distinct-value table, q53 "
    "selector idiom) + its row_number within its value (windows "
    "partition per n_chars), then NTILE's closed form over the "
    "position — the first (n mod 10) deciles take (n div 10)+1 "
    "rows, the rest n div 10.",
    tags=("audit", "curation"),
)
def q191(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql.window import Window

    d = load(spark, sf, "documents")
    # 128-bit identity BEFORE the window: the exchange under the
    # count window then carries (h1, h2) — 16 B/row — not document
    # bytes. Materialized as its own projection so the hash computes
    # once (CLAUDE.md trap 1 discipline).
    hashed = d.select(
        "doc_id",
        "n_chars",
        F.xxhash64("text").alias("_h1"),
        F.xxhash64(F.lit(1), F.col("text")).alias("_h2"),
    )
    flagged = hashed.select(
        "doc_id",
        "n_chars",
        F.when(
            F.count(F.lit(1)).over(Window.partitionBy("_h1", "_h2")) > 1,
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("is_dup"),
    )
    vcounts = flagged.groupBy("n_chars").agg(F.count(F.lit(1)).alias("_vc"))
    wv = (
        Window.orderBy("n_chars")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = vcounts.select(
        "n_chars",
        F.coalesce(F.sum("_vc").over(wv), F.lit(0)).alias("_before"),
    )
    rn = F.row_number().over(
        Window.partitionBy("n_chars").orderBy("doc_id")
    )
    total = vcounts.agg(F.sum("_vc").alias("_n"))
    pos = (
        flagged.withColumn("_rn", rn)
        .join(F.broadcast(cum), "n_chars")
        .withColumn("_p", F.col("_before") + F.col("_rn"))
        .crossJoin(F.broadcast(total))
    )
    # NTILE(10) closed form over the 1-based position
    deciled = pos.withColumn(
        "decile",
        F.expr(
            "CASE WHEN _p <= (_n % 10) * (_n div 10 + 1)"
            " THEN (_p - 1) div (_n div 10 + 1) + 1"
            " ELSE _n % 10 + (_p - (_n % 10) * (_n div 10 + 1) - 1)"
            " div (_n div 10) + 1 END"
        ),
    )
    return (
        deciled.groupBy(F.col("decile").cast("bigint").alias("decile"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("is_dup").alias("n_dup"),
            F.expr("SUM(is_dup) * 10000 div COUNT(*)").alias("dup_rate_bp"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
        .orderBy("decile")
    )


@declare(
    "q192_pmi_collocations",
    oracle="""
    WITH w AS (
        SELECT doc_id, regexp_extract_all(text, '\\S+') AS w
        FROM documents),
    uni AS (
        SELECT t AS tok, CAST(COUNT(*) AS BIGINT) AS nw
        FROM (SELECT unnest(w) AS t FROM w) GROUP BY t),
    n AS (SELECT CAST(SUM(nw) AS BIGINT) AS n FROM uni),
    bi AS (
        SELECT gram, CAST(COUNT(*) AS BIGINT) AS n_xy
        FROM (
            SELECT unnest(list_transform(range(1, len(w)),
                                         i -> w[i] || ' ' || w[i + 1])) AS gram
            FROM w WHERE len(w) >= 2)
        GROUP BY gram),
    m AS (SELECT CAST(SUM(n_xy) AS BIGINT) AS m FROM bi),
    pairs AS (
        SELECT string_split(gram, ' ')[1] AS w1,
               string_split(gram, ' ')[2] AS w2, n_xy
        FROM bi WHERE n_xy >= 5),
    scored AS (
        SELECT p.w1, p.w2, p.n_xy,
               CAST((p.n_xy::HUGEINT * n.n * n.n)
                    // (m.m::HUGEINT * u1.nw * u2.nw) AS BIGINT) AS q
        FROM pairs p
        JOIN uni u1 ON u1.tok = p.w1
        JOIN uni u2 ON u2.tok = p.w2, n, m)
    SELECT w1, w2, n_xy,
           CAST(LENGTH(bin(q)) - 1 AS BIGINT) AS pmi_bits
    FROM scored WHERE q >= 2
    ORDER BY pmi_bits DESC, n_xy DESC, w1, w2
    LIMIT 20
    """,
    doc="Top positive-PMI word collocations (support >= 5) — the "
    "phrase/collocation audit behind tokenizer-merge seeding and "
    "vocabulary design. PMI as the EXACT floor-log2 of the "
    "probability ratio n_xy*N^2 / (M*n_x*n_y) (the q89/q133 "
    "length(bin(...))-1 idiom — no libm, bit-identical across "
    "engines); the ratio computes in DECIMAL(38,0)/HUGEINT because "
    "numerator and denominator outgrow int64 near 1e9 tokens, and "
    "Spark's decimal div == DuckDB's HUGEINT // (verified). One "
    "bigram count aggregation feeds both the support-filtered pair "
    "table and the grand total M; unigram vocabulary + the two 1-row "
    "totals broadcast into the bounded pair table; the (pmi_bits "
    "DESC, n_xy DESC, w1, w2) order is total, so the LIMIT is "
    "deterministic.",
    tags=("curation", "text"),
)
def q192(spark: SparkSession, sf: str) -> DataFrame:
    from kaflow_spark.operators.curation import pmi_collocations

    d = load(spark, sf, "documents")
    return pmi_collocations(d, "doc_id", "text", min_count=5, top_k=20)
