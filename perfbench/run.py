"""Benchmark for kaflow_spark: three workloads timed from outside the package.

    python3 perfbench/run.py --workload {replay,relational,curation} \\
        --seed N --seconds S --trace {0,1}

Run from the repository root. The last line of stdout is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``; progress goes
to stderr. ``--trace 0`` reports the end-to-end metrics, ``--trace 1``
the per-layer metrics (see perfbench/README.md for both lists).

Every run generates its inputs from the seed into a private work
directory under ``.perfbench_work/`` and deletes it at exit; a traced
run keeps its spans and layer summary under ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import re
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("replay", "queries")

#: Relational half of the ``queries`` workload: tags avoid the curation
#: set (dedup, text, vectors, ...); per-query fixed cost (planning, job
#: count, scheduling) dominates these.
RELATIONAL = (
    "q05_join_dim_chain",
    "q12_tpch_q1_agg",
    "q22_set_ops",
    "q101_tpch_q3_shipping",
    "q104_tpch_q8_market_share",
)
#: Curation half: pandas-UDF kernels, text and vector operators, and
#: builder-side eager actions.
CURATION = (
    "q34_token_count_bpe",
    "q37_doc_fingerprint",
    "q63_ivf_topk",
    "q155_int8_quantization",
)

CATALOG_SEED = 20240101  # fixed: query cost must not depend on --seed
ARCHIVE_RECORDS = 24_000
SETUPS = 3  # setup_s is the median of this many session set-ups
#: timed warm repetitions: at least this many, more while --seconds last
MIN_WARM = {"replay": 3, "queries": 1}
MAX_WARM = 8
ORACLE_TIMEOUT_S = 60.0

PER_LAYER = (
    "session.start_s",
    "session.warm_s",
    "catalog.load_s",
    "queries.cold_build_s",
    "queries.cold_eager_jobs",
    "queries.cold_jobs",
    "queries.build_s",
    "queries.eager_jobs",
    "queries.plan_s",
    "queries.execute_s",
    "queries.isolate_s",
    "queries.relational_s",
    "queries.curation_s",
    "queries.jobs",
    "queries.stages",
    "queries.tasks",
    "queries.sched_gap_s",
    "queries.executor_run_s",
    "queries.shuffle_read_bytes",
    "queries.shuffle_write_bytes",
    "queries.spill_bytes",
    "sources.scan_s",
    "sources.rows_read_ratio",
    "app.record_handler_s",
    "app.batch_handler_s",
    "app.transform_s",
    "streaming.add_batch_ms",
    "streaming.query_planning_ms",
    "streaming.wal_commit_ms",
    "streaming.commit_offsets_ms",
    "streaming.batches",
    "exactly_once.write_s",
    "app.jobs",
    "app.tasks",
    "app.executor_run_s",
    "app.out_rows",
    "app.dlq_rows",
    "trace.overhead_s",
)
UNITS = {"_per_s": "records/s", "_s": "s", "_ms": "ms", "_bytes": "bytes", "_ratio": "ratio"}


def unit_of(name: str) -> str:
    for suffix, unit in UNITS.items():
        if name.endswith(suffix):
            return unit
    return "count"


def log(*a) -> None:
    print(*a, file=sys.stderr, flush=True)


def log_pass(kind: str, walls: dict[str, float]) -> None:
    log(f"{kind} pass {sum(walls.values()):.2f}s: " + " ".join(
        f"{n.split('_')[0]}={w:.2f}" for n, w in walls.items()
    ))


def box_env(work: str) -> None:
    """Session sizing and hygiene, set before the JVM starts: all cores,
    a quarter of the box's memory for the Spark driver JVM, every scratch path
    inside the run's work directory."""
    ncpu = len(os.sched_getaffinity(0))
    mem_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**30
    os.environ["SPARK_GRAFT_CPUS"] = str(ncpu)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{max(1, min(8, mem_gb // 4))}g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    root = os.getcwd()
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, HERE, os.environ.get("PYTHONPATH")) if p
    )
    for d in ("local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)


def parquet_rows(path: str) -> int:
    """Rows committed under a parquet directory, from the file footers
    (no Spark job, so checking outputs stays cheap)."""
    import pyarrow.parquet as pq

    return sum(f.metadata.num_rows for f in pq.ParquetDataset(path).fragments)


def tables_read(oracle_sql: str | None, tables) -> list[str]:
    """Catalog tables a query reads, from its DuckDB twin's SQL."""
    return [t for t in tables if oracle_sql and re.search(rf"\b{t}\b", oracle_sql)]


class Bench:
    def __init__(self, args, work: str) -> None:
        from spans import Tracer

        self.args = args
        self.work = work
        self.traced = bool(args.trace)
        self.tracer = Tracer(self.traced)
        self.sf = os.path.join(work, "sf0.1")
        self.events = os.path.join(work, "events")
        self.attempted = 0
        self.failed = 0
        self.layer: dict[str, float] = {}
        self.spark = None
        self.records = 0
        # roots of the traced regions the per-layer split is taken over
        self.cold_span = self.pass_span = self.replay_span = None

    # ------------------------------------------------------------ session

    def conf(self) -> dict[str, str]:
        tmp = os.path.join(self.work, "tmp")
        conf = {
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        }
        if self.traced:
            os.makedirs(self.events, exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": f"file://{self.events}",
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        return conf

    def setup_once(self) -> dict[str, float]:
        from kaflow_spark import catalog
        from kaflow_spark.queries import REGISTRY
        from kaflow_spark.session import get_spark, warm_python_workers

        tr = self.tracer
        with tr.span("setup"):
            t0 = time.perf_counter()
            with tr.span("session.start"):
                spark = get_spark(
                    "perfbench",
                    master=f"local[{os.environ['SPARK_GRAFT_CPUS']}]",
                    extra_conf=self.conf(),
                )
                spark.sparkContext.setLogLevel("ERROR")
            tr.sc = spark.sparkContext if self.traced else None
            t1 = time.perf_counter()
            with tr.span("session.warm"):
                REGISTRY["q01_scan_project"].spark(spark, self.sf).write.format(
                    "noop"
                ).mode("overwrite").save()
                warm_python_workers(spark)
            t2 = time.perf_counter()
            with tr.span("catalog.load"):
                for t in catalog.TABLES:
                    catalog.load(spark, self.sf, t)
            t3 = time.perf_counter()
        self.spark = spark
        return {
            "setup_s": t3 - t0,
            "session.start_s": t1 - t0,
            "session.warm_s": t2 - t1,
            "catalog.load_s": t3 - t2,
        }

    def setup(self) -> float:
        """Set the session up SETUPS times (stopping it in between) and
        keep the last; returns the median set-up time."""
        runs = []
        for i in range(SETUPS):
            if i:
                self.tracer.sc = None
                self.spark.stop()
            runs.append(self.setup_once())
            log(f"setup {i}: " + ", ".join(f"{k}={v:.2f}" for k, v in runs[-1].items()))
        for k in ("session.start_s", "session.warm_s", "catalog.load_s"):
            self.layer[k] = statistics.median(r[k] for r in runs)
        return statistics.median(r["setup_s"] for r in runs)

    def shutdown(self) -> None:
        """Stop the session and the JVM it runs in, and wait for it."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=120)
            SparkContext._gateway = None
            SparkContext._jvm = None

    # ------------------------------------------------------------ queries

    def isolate(self) -> None:
        """Clear Spark's cache and every package-level frame cache, so a
        query's time does not depend on what ran before it."""
        from kaflow_spark.operators.dedup import (
            release_shingle_frames,
            release_verified_pair_frames,
        )
        from kaflow_spark.operators.similarity import release_semantic_pair_frames
        from kaflow_spark.operators.skew import release_probe_caches

        self.spark.catalog.clearCache()
        release_shingle_frames()
        release_verified_pair_frames()
        release_semantic_pair_frames()
        release_probe_caches()

    def query_pass(self, names, plan: bool = False) -> dict[str, float]:
        """One pass over ``names``: isolate, build, (force the executed
        plan,) noop-write. Returns each query's wall (build + action),
        isolation excluded."""
        from kaflow_spark.queries import REGISTRY

        tr = self.tracer
        walls = {}
        for name in names:
            with tr.span("queries.query", name):
                with tr.span("queries.isolate", name):
                    self.isolate()
                self.attempted += 1
                t = time.perf_counter()
                try:
                    with tr.span("queries.build", name):
                        df = REGISTRY[name].spark(self.spark, self.sf)
                    if plan:
                        with tr.span("queries.plan", name):
                            df._jdf.queryExecution().executedPlan()
                    with tr.span("queries.execute", name):
                        df.write.format("noop").mode("overwrite").save()
                except Exception as exc:  # a failing query is a failed op
                    self.failed += 1
                    log(f"FAILED {name}: {exc!r}"[:500])
                walls[name] = time.perf_counter() - t
        return walls

    def oracle_check(self, names) -> None:
        """Spark vs DuckDB over the same generated tables, once per run,
        outside every timed region."""
        from kaflow_spark import oracle
        from kaflow_spark.queries import REGISTRY

        for name in names:
            self.isolate()
            self.attempted += 1
            try:
                res = oracle.compare(
                    REGISTRY[name], self.spark, self.sf, oracle_timeout_s=ORACLE_TIMEOUT_S
                )
                ok, detail = res.ok, res.detail
            except Exception as exc:
                ok, detail = False, repr(exc)
            if not ok:
                self.failed += 1
                log(f"ORACLE MISMATCH {name}: {detail}"[:500])

    def warm_loop(self, step) -> list[float]:
        """Repeat ``step`` (returns its wall) MIN_WARM times, then more
        while ``--seconds`` have not passed, at most MAX_WARM times."""
        walls: list[float] = []
        t_end = time.perf_counter() + self.args.seconds
        min_n = MIN_WARM[self.args.workload]
        while len(walls) < min_n or (len(walls) < MAX_WARM and time.perf_counter() < t_end):
            walls.append(step())
            log(f"warm {len(walls)}: {walls[-1]:.2f}s")
        return walls

    def run_queries(self, table_rows: dict[str, int]) -> dict[str, float]:
        from kaflow_spark.queries import REGISTRY

        names = [*RELATIONAL, *CURATION]
        random.Random(self.args.seed).shuffle(names)
        log("order: " + " ".join(n.split("_")[0] for n in names))
        with self.tracer.span("queries.cold") as cold_span:
            cold_walls = self.query_pass(names)
        self.cold_span = cold_span
        cold = sum(cold_walls.values())
        log_pass("cold", cold_walls)
        last: dict[str, float] = {}

        def warm_pass() -> float:
            last.update(self.query_pass(names))
            log_pass("warm", last)
            return sum(last.values())

        warm_s = statistics.median(self.warm_loop(warm_pass))
        self.layer["queries.relational_s"] = sum(last[n] for n in RELATIONAL)
        self.layer["queries.curation_s"] = sum(last[n] for n in CURATION)
        rows = sum(
            table_rows[t] for n in names for t in tables_read(REGISTRY[n].oracle, table_rows)
        )
        if self.traced:
            with self.tracer.span("queries.pass") as sp:
                traced = sum(self.query_pass(names, plan=True).values())
            self.pass_span = sp
            self.layer["trace.overhead_s"] = traced - warm_s
        self.oracle_check(names)
        return {"cold_s": cold, "warm_s": warm_s, "records_per_s": rows / warm_s}

    # ------------------------------------------------------------- replay

    def replay_once(self, app, archive: str, expected: dict, tag: str):
        """One ``run_replay`` into fresh output/checkpoint dirs, checked
        against the generator's counts, then deleted."""
        base = os.path.join(self.work, "replay", tag)
        t = time.perf_counter()
        query = app.run_replay(
            self.spark, archive, f"{base}/out", f"{base}/ckpt", fmt="segments"
        )
        wall = time.perf_counter() - t
        self.attempted += 1
        got = {k: parquet_rows(f"{base}/out/{k}") for k in ("out", "dlq")}
        if got != {"out": expected["out"], "dlq": expected["dlq"]}:
            self.failed += 1
            log(f"REPLAY MISMATCH {tag}: got {got}, expected {expected}")
        shutil.rmtree(base, ignore_errors=True)
        return wall, query, got

    def run_replay(self, archive: str, expected: dict) -> dict[str, float]:
        from apps import build_app

        app = build_app()
        cold, _, _ = self.replay_once(app, archive, expected, "cold")
        log(f"cold replay {cold:.2f}s")
        warm = self.warm_loop(lambda: self.replay_once(app, archive, expected, "warm")[0])
        warm_s = statistics.median(warm)
        if self.traced:
            self.trace_replay(app, archive, expected, warm_s)
        return {"cold_s": cold, "warm_s": warm_s, "records_per_s": expected["records"] / warm_s}

    def trace_replay(self, app, archive: str, expected: dict, warm_s: float) -> None:
        from kaflow_spark.sources.kafka_segment import read_segments
        from kaflow_spark.streaming.exactly_once import batch_keyed_parquet_writer

        from apps import build_app

        tr, spark = self.tracer, self.spark
        with tr.span("app.replay") as sp:
            wall, query, got = self.replay_once(app, archive, expected, "traced")
        sp.groups.append(str(query.runId))
        self.replay_span = sp
        self.layer["trace.overhead_s"] = wall - warm_s
        self.layer["app.out_rows"] = got["out"]
        self.layer["app.dlq_rows"] = got["dlq"]
        progress = [p for p in query.recentProgress if p.get("numInputRows")]
        for key, name in (
            ("addBatch", "streaming.add_batch_ms"),
            ("queryPlanning", "streaming.query_planning_ms"),
            ("walCommit", "streaming.wal_commit_ms"),
            ("commitOffsets", "streaming.commit_offsets_ms"),
        ):
            self.layer[name] = sum(p["durationMs"].get(key, 0) for p in progress)
        self.layer["streaming.batches"] = len(progress)

        def noop(df) -> float:
            t = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t

        with tr.span("sources.scan"):
            self.layer["sources.scan_s"] = noop(read_segments(spark, archive))
        env = read_segments(spark, archive).persist()
        env.count()
        for topic, name in (
            ("clicks", "app.record_handler_s"),
            ("orders", "app.batch_handler_s"),
            ("metrics", "app.transform_s"),
        ):
            with tr.span(name.removesuffix("_s")):
                out, _ = build_app((topic,)).process_batch(env)
                self.layer[name] = noop(out)
        out, _ = app.process_batch(env)
        out = out.persist()
        out.count()
        with tr.span("exactly_once.write"):
            t = time.perf_counter()
            batch_keyed_parquet_writer(os.path.join(self.work, "eo"))(out, 0)
            self.layer["exactly_once.write_s"] = time.perf_counter() - t
        out.unpersist()
        env.unpersist()

    # -------------------------------------------------------------- trace

    def layer_from_events(self) -> None:
        """Per-layer counts from the event logs of every session."""
        import eventlog
        from spans import covered, self_time_by_name

        logs = [os.path.join(self.events, f) for f in sorted(os.listdir(self.events))]
        stats = eventlog.merge(eventlog.parse_file(p) for p in logs)
        spans = self.tracer.spans
        by_id = {sp.id: sp for sp in spans}

        def under(root) -> list:
            out = []
            for sp in spans:
                p = sp
                while p is not None and p.id != root.id:
                    p = by_id.get(p.parent)
                if p is not None:
                    out.append(sp)
            return out

        def total(sps) -> eventlog.GroupStats:
            acc = eventlog.GroupStats()
            for sp in sps:
                for g in [sp.id, *sp.groups]:
                    if g in stats:
                        acc.add(stats[g])
            return acc

        if self.cold_span is not None:
            sps = under(self.cold_span)
            builds = [s for s in sps if s.name == "queries.build"]
            self.layer["queries.cold_build_s"] = sum(s.duration for s in builds)
            self.layer["queries.cold_eager_jobs"] = total(builds).jobs
            self.layer["queries.cold_jobs"] = total(sps).jobs
        if self.pass_span is not None:
            sps = under(self.pass_span)
            st = total(sps)
            names = self_time_by_name(sps)
            for n in ("build", "plan", "execute", "isolate"):
                self.layer[f"queries.{n}_s"] = names.get(f"queries.{n}", 0.0)
            self.layer["queries.eager_jobs"] = total(
                [s for s in sps if s.name == "queries.build"]
            ).jobs
            self.layer["queries.jobs"] = st.jobs
            self.layer["queries.stages"] = st.stages
            self.layer["queries.tasks"] = st.tasks
            self.layer["queries.executor_run_s"] = st.executor_run_ms / 1000
            self.layer["queries.shuffle_read_bytes"] = st.shuffle_read_bytes
            self.layer["queries.shuffle_write_bytes"] = st.shuffle_write_bytes
            self.layer["queries.spill_bytes"] = st.spill_bytes
            gap = 0.0
            for sp in sps:
                if sp.name == "queries.execute":
                    iv = [(s / 1000, e / 1000) for s, e in total([sp]).job_intervals]
                    gap += sp.duration - covered(iv, sp.start, sp.end)
            self.layer["queries.sched_gap_s"] = gap
        if self.replay_span is not None:
            st = total(under(self.replay_span))
            self.layer["app.jobs"] = st.jobs
            self.layer["app.tasks"] = st.tasks
            self.layer["app.executor_run_s"] = st.executor_run_ms / 1000
            self.layer["sources.rows_read_ratio"] = st.segment_rows / self.records

    # ---------------------------------------------------------------- run

    def run(self) -> dict:
        import gen

        box_env(self.work)
        table_rows = gen.write_catalog(self.sf, CATALOG_SEED)
        if self.args.workload == "replay":
            archive = os.path.join(self.work, "archive")
            expected = gen.write_archive(archive, self.args.seed, ARCHIVE_RECORDS)
            self.records = expected["records"]
        try:
            setup_s = self.setup()
            if self.args.workload == "replay":
                e2e = self.run_replay(archive, expected)
            else:
                e2e = self.run_queries(table_rows)
        finally:
            self.shutdown()
        e2e["setup_s"] = setup_s
        log("end-to-end: " + json.dumps(e2e))
        if self.traced:
            self.layer_from_events()
            out_dir = os.path.join(os.getcwd(), ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            stem = f"{self.args.workload}-seed{self.args.seed}-{self.tracer.run_id}"
            self.tracer.write(os.path.join(out_dir, f"{stem}.spans.jsonl"))
            with open(os.path.join(out_dir, f"{stem}.layers.json"), "w") as f:
                json.dump({"end_to_end": e2e, "layers": self.layer}, f, indent=1)
            metrics = {k: self.layer.get(k, 0.0) for k in PER_LAYER}
        else:
            metrics = e2e
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()},
        }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "kaflow_spark", "__init__.py")):
        log("run from the repository root: kaflow_spark/ not found")
        return 2
    sys.path[:0] = [root, HERE]
    # a terminated run still stops its JVM and deletes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(root, ".perfbench_work", str(os.getpid()))
    os.makedirs(work, exist_ok=True)
    try:
        result = Bench(args, work).run()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
