"""Online semantic-duplicate gate — the streaming twin of the batch
SemDeDup pipeline (q253's ``semantic_dup_pairs``), in the shape the
screen actually deploys: a FROZEN coarse quantizer serves arrivals,
the corpus lives AT REST in the exploded multi-assignment layout, and
each micro-batch is (a) assigned to its p nearest lists with the
frozen centroids, (b) probed against ONLY those lists' partitions
(partition-pruned read), (c) exact-cosine verified against stored
neighbors and same-batch arrivals, and (d) appended to the layout —
dup pairs stream out append-mode.

Equivalence contract (tested): with frozen centroids a vector's p
lists are a pure function of the vector, so a ≥-threshold pair is a
candidate iff its ends share a list — exactly the batch rule. A pair
is detected in the batch where its LATER end arrives (stored-stored
pairs are never re-verified), so the CLOSED stream's pair set equals
``semantic_dup_pairs`` over the union corpus row-for-row, under ANY
arrival order — pair membership is symmetric, late data is just data,
no watermark/horizon contract needed. Ids must be immutable per
vector (the weighted-reservoir twin's contract): a re-delivered id is
dropped by the stored-id anti-join, so a "corrected" embedding under
an old id converges differently than a batch over final data.

State is the on-disk index itself (bounded by the corpus, like the
batch layout) plus nothing driver-side; per-batch cost is the probed
partitions only — p/L of the files for a single-list batch, bounded
by the union of arrival lists. Hot-list salting (the batch path's
probe-chosen salt) is not applied per micro-batch: arrival batches
are small by construction, and a persistently hot STORED list is an
index-maintenance signal (``ivf_append_signal``), not a per-batch
join problem.

Reference parity note: the reference (kaflow) has no vector surface
at all; this twin extends the repo's own q253 batch operator to the
@consume-loop deployment shape its Kafka pipelines would host.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F

from kaflow_spark.operators.similarity import ivf_assign_multi


def _pair_kernel(threshold: float):
    """Per-list verify: exact float64 cosine over the list's (stored +
    new) members, emitting only pairs with AT LEAST ONE new end (the
    stored-stored pairs were verified when they arrived) at cosine >=
    threshold, ids canonicalized id_a < id_b — the
    ``semantic_dup_pairs`` group kernel minus the salting arm."""

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        new = pdf["_new"].to_numpy()
        if n < 2 or not new.any():
            return pd.DataFrame({"id_a": [], "id_b": []})
        ids = pdf["_id"].to_numpy()
        v = np.stack([np.asarray(x, dtype=np.float64) for x in pdf["_v"]])
        norms = np.linalg.norm(v, axis=1)
        norms[norms == 0.0] = 1.0
        vn = v / norms[:, None]
        g = vn @ vn.T
        ia, ib = np.triu_indices(n, 1)
        keep = (g[ia, ib] >= threshold) & (new[ia] | new[ib])
        ia, ib = ia[keep], ib[keep]
        lo = np.minimum(ids[ia], ids[ib])
        hi = np.maximum(ids[ia], ids[ib])
        return pd.DataFrame({"id_a": lo, "id_b": hi})

    return kernel


def semantic_dup_gate(
    index_path: str,
    id_col: str,
    vec_col: str,
    centroids: list[list[float]],
    *,
    threshold: float = 0.95,
    assign_p: int = 2,
    on_pairs=None,
):
    """foreachBatch handle for the online gate. ``index_path`` is the
    exploded at-rest layout (one row per (vector, assigned list),
    partitioned by ``_list``); seed it with
    :func:`write_semantic_index` over the base corpus (or start
    empty — the first batch creates it). ``centroids`` are FROZEN for
    the life of the gate; refreshing the quantizer is an index
    rebuild (``ivf_refresh`` + re-seed), never an in-stream mutation.
    ``on_pairs(batch_id, rows)`` receives each batch's verified new
    pairs as collected Rows (id_a, id_b), already pair-deduped.

    Failure semantics: the append is plain append-mode parquet — a
    foreachBatch retry after a crash between write and sink commit
    can double-append a batch (duplicate stored rows for those ids;
    later arrivals are still guarded by the id anti-join). Pipelines
    needing exactly-once across crashes should wrap the append in the
    manifest pattern (streaming/exactly_once.py), which is orthogonal
    to the gate."""
    thr = float(threshold)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        arrivals = batch_df.select(id_col, vec_col).dropDuplicates(
            [id_col]
        )
        assigned = ivf_assign_multi(arrivals, vec_col, centroids, assign_p)
        exploded = assigned.select(
            F.col(id_col).alias("_id"),
            F.col(vec_col).alias("_v"),
            F.explode("_ivf_lists").alias("_list"),
        )
        # bounded: |lists| <= min(batch * p, n_lists)
        probes = [
            int(r["_list"])
            for r in exploded.select("_list").distinct().collect()
        ]
        if not probes:
            return
        try:
            stored = spark.read.parquet(index_path).filter(
                F.col("_list").isin(*probes)
            )
            have_index = True
        except Exception:
            stored = None
            have_index = False
        if have_index:
            # duplicate-delivery guard: a re-delivered id maps to the
            # same frozen lists, so the probed read always sees it
            seen = stored.select("_id").distinct()
            fresh = exploded.join(
                F.broadcast(seen), "_id", "left_anti"
            ).persist()
        else:
            fresh = exploded.persist()
        try:
            if fresh.limit(1).count() == 0:
                return
            new_side = fresh.withColumn("_new", F.lit(True))
            if have_index:
                old_side = stored.select(
                    "_id", "_v", "_list"
                ).withColumn("_new", F.lit(False))
                members = new_side.unionByName(old_side)
            else:
                members = new_side
            id_type = dict(fresh.dtypes)["_id"]
            pairs = (
                members.groupBy("_list")
                .applyInPandas(
                    _pair_kernel(thr),
                    schema=f"id_a {id_type}, id_b {id_type}",
                )
                .dropDuplicates(["id_a", "id_b"])
                .orderBy("id_a", "id_b")
            )
            rows = pairs.collect()
            # append AFTER verifying (same-batch pairs must not see
            # the batch twice); the exploded layout keeps probes
            # partition-pruned for every later batch
            fresh.select("_id", "_v", "_list").write.partitionBy(
                "_list"
            ).mode("append").parquet(index_path)
            if on_pairs is not None:
                on_pairs(batch_id, rows)
        finally:
            fresh.unpersist()

    return handle


def write_semantic_index(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: list[list[float]],
    path: str,
    *,
    assign_p: int = 2,
    mode: str = "overwrite",
) -> None:
    """Seed the gate's at-rest layout from a base corpus: exploded
    multi-assignment under the FROZEN centroids, partitioned by
    ``_list`` (the probe's pruning key). The base corpus's own
    internal pairs are a BATCH job (``semantic_dup_pairs`` /
    ``semantic_pair_frame``) — the gate only ever emits pairs with a
    streamed end."""
    ivf_assign_multi(df, vec_col, centroids, assign_p).select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        F.explode("_ivf_lists").alias("_list"),
    ).write.partitionBy("_list").mode(mode).parquet(path)
