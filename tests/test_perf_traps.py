"""Executable regression guards for the measured perf traps in
CLAUDE.md that were previously prose-only.

Trap 1 — an expression referenced inside a higher-order-function
lambda re-evaluates PER ELEMENT: ``word_ngrams`` takes a
pre-materialized words-array column precisely so the document split
runs once, not once per n-gram window (an inline split measured 19x
slower). The guard asserts, on the optimized plan, that no lambda
body contains a ``split`` call.

Trap 3 — foreachBatch-style bodies that run two actions over one
staged frame execute the user handler twice unless the staged frame
is persisted (``process_batch(_cache_into=...)``). The guard counts
actual handler executions with an accumulator, under both calling
conventions, so the trap's existence AND the fix stay measured. Every
record and batch handler shares ONE staged frame, and fan-out to
several sinks is an ``explode`` inside a branch, so sinks add no
reads of it: a plan guard keeps one ``MapInPandas`` per frame and one
``from_json`` per transform.
"""

from __future__ import annotations

import re

import pandas as pd
from pydantic import BaseModel
from pyspark.sql import functions as F

from kaflow_spark.message import ENVELOPE_DDL
from kaflow_spark.params import FromValue, Json, Str


class _Metric(BaseModel):
    host: str
    cpu: int


def test_trap1_word_ngrams_keeps_split_out_of_lambda(spark):
    """The q95-style gram pipeline must materialize the words array as
    its own projection: a `split` inside the transform lambda would
    re-split the document once per window (O(words * windows))."""
    from kaflow_spark.operators.curation import word_ngrams, words_of

    df = (
        spark.createDataFrame([("a b c d e f g h i j",)], "text string")
        .select(words_of("text").alias("w"))
        .select(word_ngrams("w", 8).alias("g"))
    )
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "lambdafunction" in plan  # the transform is still a HOF
    for line in plan.splitlines():
        if "lambdafunction" in line:
            # collapse the line to the lambda bodies: any split( in a
            # lambda body is the reintroduced trap. split appears only
            # in the OUTER projection (words_of), a separate line.
            bodies = re.findall(r"lambdafunction\((.*)", line)
            for b in bodies:
                assert "split(" not in b, (
                    "split() re-entered a HOF lambda — it now runs "
                    "once per n-gram window instead of once per doc:\n"
                    + line
                )


def _two_action_handler_runs(spark, use_cache: bool) -> int:
    """Build a 4-record batch, run process_batch, fire TWO actions
    (outputs + dlq, the run_replay shape), and return how many times
    the user handler actually executed."""
    from kaflow_spark.app import App

    acc = spark.sparkContext.accumulator(0)
    app = App()

    @app.consume(topic="t", sink_topics=("out",))
    def handler(v: FromValue[Str]) -> bytes:
        acc.add(1)
        return v.encode()

    env = spark.createDataFrame(
        [("t", 0, i, None, 0, None, b"x%d" % i, None) for i in range(4)],
        ENVELOPE_DDL,
    ).coalesce(1)
    cached: list = []
    out, dlq = app.process_batch(
        env, _cache_into=cached if use_cache else None
    )
    out.count()
    dlq.count()
    for f in cached:
        f.unpersist()
    return acc.value


def test_trap3_cache_into_runs_handler_once(spark):
    assert _two_action_handler_runs(spark, use_cache=True) == 4


def test_trap3_without_cache_the_trap_is_real(spark):
    """Documents WHY _cache_into exists: without it the two actions
    re-execute the mapInPandas stage. If Spark ever starts
    auto-caching this (making the guard moot), this test flags it."""
    assert _two_action_handler_runs(spark, use_cache=False) == 8


def test_trap3_one_python_stage_and_one_branch_per_transform(spark):
    """Two Python topics share ONE mapInPandas stage, and a transform
    fanning out to two sinks decodes its payload in ONE branch of the
    outputs plan: a stage or a branch per topic or per sink would run
    the handlers and the from_json decode once per branch."""
    from kaflow_spark.app import App

    app = App()

    @app.consume(topic="a", sink_topics=("a.out",))
    def on_a(v: FromValue[Str]) -> bytes:
        return v.encode()

    @app.consume_batches(topic="b", sink_topics=("b.out",))
    def on_b(pdf: pd.DataFrame) -> pd.DataFrame:
        return pdf[["value"]]

    @app.transform(topic="m", sink_topics=("m.hot", "m.all"), value=Json[_Metric])
    def on_m(df):
        return df.select(F.col("value.host").cast("binary").alias("value"))

    env = spark.createDataFrame([], ENVELOPE_DDL)
    out, dlq = app.process_batch(env)

    def lines(df, needle: str) -> int:
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        return sum(needle in line for line in plan.splitlines())

    assert lines(out, "MapInPandas") == 1
    assert lines(dlq, "MapInPandas") == 1
    assert lines(out, "from_json(") == 1
