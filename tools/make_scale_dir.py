"""Materialize an id-shifted N-x replica of an sf fixture dir as
parquet (default sf0.1 x10 -> /root/scale10) so old-vs-new query
shapes can be A/B'd at >=10x the bench volume from IDENTICAL files
(verdict r14 item 1: sf0.1 lost discriminating power; plan-shape
claims need a volume where shuffles cost something).

    python tools/make_scale_dir.py                 # sf0.1 x10 -> /root/scale10
    python tools/make_scale_dir.py --times 30 --out /root/scale30

Replication is the scale_probe id-shift discipline (new keys => new
entities => LINEAR state growth, not 10x-deeper per-entity history),
with referential integrity preserved inside each replica (orderkey /
partkey / suppkey / custkey shift together across lineitem / orders /
part / supplier / customer). nation and region are bounded dims and
are copied once, so replicas share them — more rows per nation, the
realistic direction.

Two non-obvious choices, both load-bearing:

- doc_id shifts by a multiple of 20*97 so the fixture's structural
  mod predicates (q140's %20 benchmark split, q135's %97 probe set)
  keep their meaning on every replica.
- document TEXT is per-replica perturbed (replica 0 stays verbatim):
  a verbatim copy would make every doc an exact clone of its 9
  siblings and near-dup candidate volume would grow QUADRATICALLY in
  replicas — a different workload, not 10x this one. Replica i
  rotates the 52-letter alphabet by i (``translate(text, a..zA..Z,
  rotated_i)``) — a length-preserving BIJECTION, so within-replica
  equality structure is preserved at EVERY grain (char n-grams,
  40-char windows, words) while cross-replica grams/words holding a
  letter can never collide (two rotations map every letter
  differently); hence ``--times`` is at most 52. n_chars stays valid
  (length unchanged). Measured necessity: an earlier scale A/B
  suffixed every word with a per-replica '~<i>' tag instead, which
  keeps only word-grain structure, and q140's CHAR-5-gram screen saw
  2.96M cross-replica borderline candidates at 10x (est_jaccard
  0.35-0.5 near-miss cloud — an artifact, not a workload); rotation
  kills it.
"""

from __future__ import annotations

import argparse
import os
import shutil
import string
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, functions as F

from kaflow_spark.session import get_spark

# key-shift strides (far above any fixture key range)
SO = 100_000_000  # orderkey
SP = 10_000_000  # partkey
SS = 1_000_000  # suppkey
SC = 10_000_000  # custkey
SD = 19_400_000  # doc_id: multiple of 20*97=1940 (preserves %20/%97)
SU = 10_000_000  # user_id
SE = 1_000_000_000  # event_id
SV = 10_000_000  # vec_id

assert SD % (20 * 97) == 0

SHIFTS: dict[str, dict[str, int]] = {
    "lineitem": {"l_orderkey": SO, "l_partkey": SP, "l_suppkey": SS},
    "orders": {"o_orderkey": SO, "o_custkey": SC},
    "part": {"p_partkey": SP},
    "supplier": {"s_suppkey": SS},
    "customer": {"c_custkey": SC},
    "documents": {"doc_id": SD},
    "events": {"event_id": SE, "user_id": SU},
    "embeddings": {"vec_id": SV},
}
COPY_ONLY = ("nation", "region")


LETTERS = string.ascii_lowercase + string.ascii_uppercase


def replicate(df: DataFrame, table: str, times: int) -> DataFrame:
    parts = []
    for i in range(times):
        p = df
        for c, stride in SHIFTS[table].items():
            p = p.withColumn(c, (F.col(c) + F.lit(i * stride)).cast("bigint"))
        if table == "documents" and i > 0:
            # length-preserving: n_chars stays valid
            p = p.withColumn(
                "text", F.translate("text", LETTERS, LETTERS[i:] + LETTERS[:i])
            )
        parts.append(p)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--src", default="/root/testdata/sf0.1")
    ap.add_argument("--out", default="/root/scale10")
    ap.add_argument("--times", type=int, default=10)
    args = ap.parse_args()
    if args.times > len(LETTERS):
        ap.error(f"--times: at most {len(LETTERS)} replicas, one letter rotation each")

    spark = get_spark("make_scale_dir")
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(args.out, exist_ok=True)
    for t in COPY_ONLY:
        src = f"{args.src}/{t}.parquet"
        dst = f"{args.out}/{t}.parquet"
        if os.path.isdir(src):
            shutil.copytree(src, dst, dirs_exist_ok=True)
        else:
            shutil.copyfile(src, dst)
        print(f"{t}: copied")
    for t in SHIFTS:
        df = spark.read.parquet(f"{args.src}/{t}.parquet")
        rep = replicate(df, t, args.times)
        # one file per ~original-partition x times is fine at this size;
        # coalesce to a handful so the scan parallelizes but footers stay few
        rep.coalesce(max(4, args.times)).write.mode("overwrite").parquet(
            f"{args.out}/{t}.parquet"
        )
        print(f"{t}: x{args.times} written")
    print(f"done -> {args.out}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
