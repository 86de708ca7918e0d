"""Equal-quietness old-vs-new A/B of declared queries.

Runs a list of declared queries (noop sink, labeled jobs, bench
session posture: warmed workers, fixture tables pre-registered)
against a given data dir and prints one JSON line of per-query run
times. The OLD shape comes from a checkout of the parent tree: pass
``--repo DIR`` and this script puts that tree FIRST on sys.path before
importing kaflow_spark, so the old implementations run unmodified.
Interleave at process level (old pass, new pass, repeat) for equal
quietness; judge per-query minima across passes. ``--plans DIR``
also writes each query's formatted plan to ``DIR/<q>_<suffix>.txt``
(``--no-time`` writes the plans only).

    python tools/scale_ab.py --sf-dir SF_DIR --tag new q116 q133 ...
    python tools/scale_ab.py --repo OLD_TREE --sf-dir SF_DIR --tag old q116 ...
    python tools/scale_ab.py --sf-dir SF_DIR --plans plans/r14 --suffix before --no-time q148
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--repo", default=None, help="alternate repo root to import kaflow_spark from")
    ap.add_argument("--sf-dir", default="/root/scale10")
    ap.add_argument("--n", type=int, default=2, help="timed runs per query (after 1 warm run)")
    ap.add_argument("--tag", default="run")
    ap.add_argument("--plans", default=None, help="directory to write <q>_<suffix>.txt explain output")
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--no-time", action="store_true", help="plans only, skip timed runs")
    args = ap.parse_args()

    repo = args.repo or os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, repo)

    from kaflow_spark.plans.explain import explain_str  # noqa: E402
    from kaflow_spark.queries import REGISTRY  # noqa: E402
    from kaflow_spark.session import get_spark, warm_python_workers  # noqa: E402

    names = []
    for q in args.queries:
        matches = [n for n in sorted(REGISTRY) if n == q or n.startswith(q + "_") or n.split("_")[0] == q]
        if not matches:
            print(f"no query matches {q!r}", file=sys.stderr)
            return 2
        names.extend(matches)

    spark = get_spark(f"scale_ab_{args.tag}")
    spark.sparkContext.setLogLevel("ERROR")
    run = lambda df: df.write.format("noop").mode("overwrite").save()
    run(REGISTRY["q01_scan_project"].spark(spark, args.sf_dir))
    warm_python_workers(spark)
    from kaflow_spark.catalog import TABLES, load  # noqa: E402

    for t in TABLES:
        load(spark, args.sf_dir, t)

    out: dict[str, list[float]] = {}
    for name in names:
        if args.plans:
            os.makedirs(args.plans, exist_ok=True)
            path = os.path.join(args.plans, f"{name}_{args.suffix}.txt")
            with open(path, "w") as f:
                f.write(explain_str(REGISTRY[name].spark(spark, args.sf_dir)))
            print(f"# plan -> {path}", file=sys.stderr)
        if args.no_time:
            continue
        times = []
        for i in range(args.n + 1):
            spark.sparkContext.setJobDescription(f"{args.tag}:{name}:{i}")
            df = REGISTRY[name].spark(spark, args.sf_dir)
            t0 = time.perf_counter()
            run(df)
            times.append(round(time.perf_counter() - t0, 3))
        spark.sparkContext.setJobDescription(None)
        out[name] = times[1:]  # drop the warm-up run
        print(f"# {name}: warm={times[0]} runs={times[1:]}", file=sys.stderr)
    print(json.dumps({
        "tag": args.tag,
        "repo": repo,
        "sf_dir": args.sf_dir,
        "loadavg": list(os.getloadavg()),
        "queries": out,
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
