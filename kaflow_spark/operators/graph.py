"""Distributed connected components (dedup-cluster labeling).

The near-dup operators emit PAIRS; a dedup pipeline needs CLUSTERS —
"keep one canonical document per group of mutual near-duplicates" is
connected components over the pair graph.

Three-tier strategy, chosen by the (already-materialized) edge count:

1. **Per-partition contraction** (always): a vectorized union-find
   inside each partition (``mapInPandas``) collapses every local
   component to ``(node, local_min_root)`` edges — one narrow pass, no
   shuffle, and it shrinks the edge set from |E| to at most |V| rows
   before any iteration starts. This is the standard first move in
   MapReduce-style CC (cf. Kiveris et al., "Connected Components in
   MapReduce and Beyond", SoCC'14 — the local-contraction step).
2. **Single-partition exact solve** (small graphs): the verified
   near-dup graph is ids-only (16-byte rows) and usually minuscule
   relative to the corpus — a 100 TB crawl with 100M duplicate pairs
   is ~1.6 GB of edges, far below one executor's memory. When the
   edge count is under ``single_partition_max``, coalesce to one
   partition and let the same union-find kernel produce the exact
   answer in ONE job — no iteration, no per-round scheduling.
3. **Min-label iteration** (huge graphs): on the contracted edges,
   each round is one equi-join (neighbor proposals) + one union +
   partial-agg'd min — two shuffles — and convergence is detected from
   the same action that materializes the round via the monotone label
   sum (labels only ever decrease, so the sum strictly decreases iff
   anything changed; no old-vs-new join needed). Dedup clusters are
   near-cliques, so this converges in 2-4 rounds regardless of corpus
   size; adversarial long chains are bounded by the contraction step
   having already collapsed everything that co-resides in a partition.
"""

from __future__ import annotations

import itertools
from typing import Iterator

from pyspark.sql import DataFrame, functions as F

_CC_RUN_IDS = itertools.count()


def _forest_kernel(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
    """Connected components over the rows of one partition ->
    (node, root) where root is the MINIMUM member id of the node's
    partition-local component.

    Fully vectorized Shiloach-Vishkin-style min-propagation: ids are
    remapped to dense indices once (np.unique sorts, so index order ==
    id order and min index == min id), then each pass scatters the min
    component label across every edge (np.minimum.at) and pointer-jumps
    (comp = comp[comp]) — O(E) numpy work per pass, O(log n) passes.
    No per-edge Python."""
    import numpy as np
    import pandas as pd

    frames = list(it)
    if not frames:
        return
    e = pd.concat(frames, ignore_index=True)
    if not len(e):
        return
    flat = np.concatenate([e["a"].to_numpy(), e["b"].to_numpy()])
    ids, inv = np.unique(flat, return_inverse=True)
    n = len(ids)
    ea, eb = inv[: len(e)], inv[len(e) :]
    comp = np.arange(n, dtype=np.int64)
    while True:
        prev = comp.copy()
        np.minimum.at(comp, ea, comp[eb])
        np.minimum.at(comp, eb, comp[ea])
        comp = comp[comp]  # pointer jumping halves chain lengths
        if np.array_equal(comp, prev):
            break
    yield pd.DataFrame({"node": ids, "root": ids[comp]})


def connected_components(
    edges: DataFrame,
    src: str,
    dst: str,
    *,
    max_iter: int = 25,
    single_partition_max: int = 5_000_000,
    out_node: str = "node",
    out_comp: str = "component",
    stats: dict | None = None,
) -> DataFrame:
    """Label every node of the undirected graph ``edges`` with the
    MINIMUM node id reachable from it (the component id).

    The result is deterministic — component ids are actual member ids
    (the smallest), which downstream 'keep the canonical doc' logic
    uses directly.

    ``stats``, if given, is filled with execution evidence:
    ``tier`` (``"single_partition"`` or ``"min_label"``), and for the
    iterative tier ``rounds`` (label-propagation rounds run) and
    ``loop_jobs`` — the OBSERVED Spark job count inside the loop (via
    a job group), not a hand-maintained counter. The design invariant
    is one driver action per round (the sum-aggregation that both
    materializes the round's persisted labels and yields the monotone
    convergence signal); an action maps to a small constant number of
    jobs (AQE stage materialization), so jobs-per-round staying at
    that constant is the checkable form of the invariant."""
    id_type = dict(edges.dtypes)[src]
    pair_schema = f"node {id_type}, root {id_type}"

    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
        .persist()
    )
    n_edges = sym.count()

    if stats is not None:
        stats["n_sym_edges"] = n_edges

    if n_edges <= single_partition_max:
        if stats is not None:
            stats["tier"] = "single_partition"
        # ids-only rows: even millions of edges are a few dozen MB —
        # one union-find task beats any number of iterative shuffles.
        out = (
            sym.coalesce(1)
            .mapInPandas(_forest_kernel, schema=pair_schema)
            .select(
                F.col("node").alias(out_node), F.col("root").alias(out_comp)
            )
        )
        # materialize before releasing the persisted edges
        out = out.persist()
        out.count()
        sym.unpersist()
        return out

    # Tier 1: shuffle-free local contraction. The forest edges keep
    # every original node present, and union-of-spanning-forests
    # preserves connectivity, so the global fixpoint is unchanged.
    contracted = sym.mapInPandas(_forest_kernel, schema=pair_schema)
    csym = (
        contracted.select(F.col("node").alias("a"), F.col("root").alias("b"))
        .union(
            contracted.select(F.col("root").alias("a"), F.col("node").alias("b"))
        )
        .distinct()
        .persist()
    )
    csym.count()
    sym.unpersist()

    # labels(n) = min(n, min neighbor) straight off the contracted
    # edges — round 0 comes free with the init aggregation.
    labels = (
        csym.groupBy(F.col("a").alias("n"))
        .agg(F.least(F.first("a"), F.min("b")).alias("lbl"))
        .persist()
    )
    # Observe (don't assert-by-construction) the cost per round: tag
    # every driver action inside the loop with a job group and report
    # the ACTUAL Spark job count, so an accidental extra action added
    # later shows up in stats/tests as jobs-per-round growth.
    sc = edges.sparkSession.sparkContext
    # process-unique run id: id()-based names can collide across
    # invocations (CPython reuses addresses) and would merge two runs'
    # job counts into one group
    job_group = f"cc-minlabel-{next(_CC_RUN_IDS)}"
    prev_sum = labels.agg(F.sum("lbl")).first()[0]
    prev_cached = labels
    rounds = 0
    sc.setJobGroup(job_group, "connected_components min-label rounds")
    try:
        for _ in range(max_iter):
            proposals = (
                csym.join(labels.withColumnRenamed("n", "b"), "b")
                .select(F.col("a").alias("n"), "lbl")
            )
            new_labels = (
                labels.unionByName(proposals)
                .groupBy("n")
                .agg(F.min("lbl").alias("lbl"))
                .persist()
            )
            # ONE action per round: materializes the persisted frame AND
            # yields the convergence signal. Labels are monotonically
            # non-increasing, so sum(lbl) strictly decreases iff any label
            # changed this round.
            cur_sum = new_labels.agg(F.sum("lbl")).first()[0]
            rounds += 1
            prev_cached.unpersist()
            prev_cached = new_labels
            labels = new_labels
            if cur_sum == prev_sum:
                break
            prev_sum = cur_sum
    finally:
        # a mid-loop failure must not leave the caller's thread tagged
        # into this (stale) job group
        sc.setLocalProperty("spark.jobGroup.id", None)
    csym.unpersist()
    if stats is not None:
        jobs = sc.statusTracker().getJobIdsForGroup(job_group)
        stats.update(tier="min_label", rounds=rounds, loop_jobs=len(jobs))
    return labels.select(
        F.col("n").alias(out_node), F.col("lbl").alias(out_comp)
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 3,
    damping_bp: int = 8500,
    units: int = 10**12,
) -> DataFrame:
    """Exact-integer PageRank over an unweighted edge list — the
    quality-signal propagation step web-scale curation pipelines run
    on the link graph (page centrality as a document-quality prior,
    cf. the harmonic/centrality features in CommonCrawl-derived
    corpora).

    Determinism discipline (this repo's integer-basis-point rule): all
    mass lives in integer micro-units (``units`` per unit of
    probability) and every division is integer floor division, so the
    result is bit-identical under any shuffle order and any engine —
    an unrolled SQL oracle reproduces it exactly. Dangling-node mass
    is dropped rather than redistributed (documented contract; the
    redistribution term needs a per-round global scalar that buys no
    fidelity for a quality prior).

    Plan shape per iteration: one equi-join of the rank frame with the
    (src, dst, outdeg) frame — shuffle keyed on the node id — then one
    partial-agg'd groupBy(dst) sum, then a left join back onto the
    node set for the base term. Two shuffles per round, rows are
    (id, bigint) pairs. The edge projection is PERSISTED for the run
    (the caller's edge build may be an arbitrary join pipeline — the
    lazy k-round DAG references it ~2k times and would re-execute it
    each time), and the result is materialized eagerly so the cache
    can be released before returning — the same discipline as
    connected_components above. Fixed ``iterations`` (a quality prior
    needs 2-5 rounds, not convergence), so the driver loop is bounded.
    """
    e = edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d")).persist()
    try:
        nodes = (
            e.select(F.col("_s").alias("_n"))
            .unionAll(e.select(F.col("_d").alias("_n")))
            .distinct()
        )
        outdeg = e.groupBy("_s").agg(F.count(F.lit(1)).alias("_deg"))
        # (src, dst, outdeg), reused every round. Renamed to names
        # disjoint from the rank frame's: iteration k+1's rank frame
        # carries this frame in its lineage, and same-named columns
        # would be ambiguous in the round's self-referencing join.
        ed = e.join(outdeg, "_s").select(
            F.col("_s").alias("_es"), F.col("_d").alias("_ed"), "_deg"
        )

        n = nodes.count()  # one scalar action; also populates the cache
        if n == 0:
            # empty JVM range, not createDataFrame([]): a pickled-RDD
            # local frame scans through Python workers (see
            # triangle_count's report note)
            return (
                edges.sparkSession.range(0, 0, 1, 1)
                .select(
                    F.col("id").alias("node"),
                    F.col("id").alias("pr_units"),
                )
            )
        init = units // n
        base = ((10000 - damping_bp) * init) // 10000

        pr = nodes.select("_n", F.lit(init).cast("bigint").alias("_pr"))
        for _ in range(iterations):
            contribs = (
                pr.join(ed, F.col("_n") == F.col("_es"))
                .select(F.col("_ed").alias("_n"), F.expr("_pr div _deg").alias("_c"))
                .groupBy("_n")
                .agg(F.sum("_c").alias("_in"))
            )
            # `div` (integer floor division), never `/`: double division
            # would round above 2^53 and break the exact-integer contract
            pr = nodes.join(contribs, "_n", "left").select(
                "_n",
                F.expr(
                    f"CAST({base} AS BIGINT) + "
                    f"(({damping_bp} * coalesce(_in, CAST(0 AS BIGINT))) div 10000)"
                ).alias("_pr"),
            )
        out = pr.select(
            F.col("_n").alias("node"), F.col("_pr").alias("pr_units")
        ).persist()
        out.count()  # materialize so the edge cache can be dropped now
        return out
    finally:
        e.unpersist()


__all__ = ["connected_components", "pagerank"]


def bfs_hops(
    edges: DataFrame,
    src_col: str,
    dst_col: str,
    sources: list[int],
    *,
    max_hops: int = 4,
) -> DataFrame:
    """Multi-source breadth-first hop distance: ``(node, hop)`` for
    every node reachable from ``sources`` within ``max_hops`` directed
    hops (hop = length of the SHORTEST path; sources report hop 0).

    Distributed frontier expansion, the textbook Pregel shape
    re-expressed declaratively: each round joins the current frontier
    to the edge list (one equi-join shuffle on the edge source), then
    a distinct + LEFT ANTI against the visited set keeps only newly
    discovered nodes. Rounds are ``max_hops`` — a FIXED,
    caller-declared bound, so the loop builds one lazy plan of
    ``max_hops`` join stages with NO driver-side action inside (unlike
    the convergence-detected CC iteration above, which must count per
    round); the unioned result materializes once. At 100 TB each
    round's shuffle is (node, hop) rows — never paths — and frontier
    size is bounded by |V|. Nothing is persisted: the result is a
    plain lazy plan, so there is no cache entry for the caller to
    release.
    """
    e = edges.select(
        F.col(src_col).cast("bigint").alias("_src"),
        F.col(dst_col).cast("bigint").alias("_dst"),
    )
    visited = None
    frontier = None
    for s in sorted(set(sources)):
        row = e.sparkSession.range(1).select(
            F.lit(int(s)).cast("bigint").alias("node"),
            F.lit(0).cast("bigint").alias("hop"),
        )
        frontier = row if frontier is None else frontier.unionAll(row)
    visited = frontier
    for hop in range(1, max_hops + 1):
        nxt = (
            frontier.join(e, frontier["node"] == e["_src"])
            .select(F.col("_dst").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .select("node", F.lit(hop).cast("bigint").alias("hop"))
        )
        visited = visited.unionAll(nxt)
        frontier = nxt
    return visited


def orient_by_degree(
    edges: DataFrame, a_col: str = "a", b_col: str = "b"
) -> DataFrame:
    """Degree-order an undirected edge list: emit each edge exactly
    once as ``(src, dst, dst_deg)`` directed from the endpoint that is
    SMALLER under the total order ``(degree, id)``.

    This is the standard orientation for distributed triangle
    enumeration (cf. the "compact-forward" / Schank-Wagner ordering,
    and Suri & Vassilvitskii's MapReduce formulation, WWW'11): after
    orienting every edge toward the higher-degree endpoint, each
    vertex's OUT-degree is bounded by O(sqrt(2m)) regardless of its
    raw degree, so a hot vertex (a boilerplate mega-cluster's hub)
    can no longer contribute its k^2 wedges to one reducer — a star's
    hub ends with out-degree ZERO. Degrees are counted from the edge
    list itself and broadcast (the verified near-dup graph is
    ids-only and churn-bounded; at 100 TB a 100M-pair graph's degree
    table is tens of MB). Input must be the canonical distinct
    ``a < b`` pair list the dedup generators emit.
    """
    deg = (
        edges.select(F.col(a_col).alias("v"))
        .unionAll(edges.select(F.col(b_col).alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    ed = edges.join(
        F.broadcast(deg).select(
            F.col("v").alias(a_col), F.col("d").alias("_da")
        ),
        a_col,
    ).join(
        F.broadcast(deg).select(
            F.col("v").alias(b_col), F.col("d").alias("_db")
        ),
        b_col,
    )
    first = (F.col("_da") < F.col("_db")) | (
        (F.col("_da") == F.col("_db")) & (F.col(a_col) < F.col(b_col))
    )
    return ed.select(
        F.when(first, F.col(a_col)).otherwise(F.col(b_col)).alias("src"),
        F.when(first, F.col(b_col)).otherwise(F.col(a_col)).alias("dst"),
        F.when(first, F.col("_db")).otherwise(F.col("_da")).alias("dst_deg"),
    )


def oriented_wedges(oriented: DataFrame) -> DataFrame:
    """Open-wedge candidates ``(u, w)`` from a degree-oriented edge
    list: for each vertex, every ordered pair of its OUT-neighbors,
    with ``u`` preceding ``w`` under the same ``(degree, id)`` total
    order the orientation used. For a triangle x ≺ y ≺ z exactly one
    wedge is emitted — ``(y, z)`` at apex x — so a semi-join against
    the oriented edges counts each triangle once. Candidate volume is
    sum over vertices of out-deg-choose-2, which the orientation
    bounds by O(m^1.5) globally and O(m) per apex — a planted star
    emits ZERO candidates (every spoke orients into the hub), where
    the naive id-ordered enumeration emits ~k^2/4 at the hub
    (asserted in test_graph)."""
    u = oriented.select(
        "src", F.col("dst").alias("u"), F.col("dst_deg").alias("_du")
    )
    w = oriented.select(
        "src", F.col("dst").alias("w"), F.col("dst_deg").alias("_dw")
    )
    return (
        u.join(w, "src")
        .filter(
            (F.col("_du") < F.col("_dw"))
            | ((F.col("_du") == F.col("_dw")) & (F.col("u") < F.col("w")))
        )
        .select("u", "w")
    )


def triangle_count(
    edges: DataFrame, a_col: str = "a", b_col: str = "b"
) -> DataFrame:
    """Exact global triangle count over an undirected, canonical
    (``a < b``, distinct) edge list, returned as one row
    ``(n_triangles BIGINT)``.

    Degree-ordered enumeration (:func:`orient_by_degree` +
    :func:`oriented_wedges` + one semi-join to close each wedge), so
    the shuffle fan-out at any single vertex is bounded by its
    ORIENTED out-degree — O(sqrt(2m)) — instead of its raw degree:
    the hot-vertex hazard of the naive a<b<c triple join (a
    boilerplate mega-cluster hub turning one reducer into k^2 rows)
    is removed by construction, not by salting. The oriented edge
    list is persisted for the duration of the count — consumed by
    both the wedge self-join and the closing probe — then unpersisted
    before returning (the connected_components/pagerank discipline in
    this file; the count is computed eagerly so no cached frame
    outlives the call)."""
    d1 = orient_by_degree(edges, a_col, b_col).persist()
    try:
        closed = oriented_wedges(d1).join(
            d1.select(F.col("src").alias("u"), F.col("dst").alias("w")),
            ["u", "w"],
            "left_semi",
        )
        # one bounded action (a single count) while d1 is cached
        n = closed.count()
    finally:
        d1.unpersist()
    spark = edges.sparkSession
    # single-partition JVM range, NOT createDataFrame: a Python-list
    # frame scans as a pickled ExistingRDD whose every task round-trips
    # a Python worker — 32 near-empty partitions cost seconds under
    # load, and a consumer that cartesians two such frames pays
    # 32x32 = 1024 worker-bound tasks (measured 14-17 s for a
    # 1-row x 1-row crossJoin in q206's report assembly)
    return spark.range(0, 1, 1, 1).select(
        F.lit(n).cast("bigint").alias("n_triangles")
    )
