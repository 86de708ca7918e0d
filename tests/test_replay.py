"""Archive replay: the full consume→fan-out→DLQ graph over a parquet
envelope archive through REAL Structured Streaming (availableNow), no
broker required — the replay/backfill pattern for Kafka→object-store
archives."""

from __future__ import annotations

import datetime as dt
import json

import pytest
from pydantic import BaseModel

from kaflow_spark.app import App, Message
from kaflow_spark.message import ENVELOPE_DDL
from kaflow_spark.params import FromValue, Json


class Click(BaseModel):
    user_id: int
    url: str


def _envelope(topic: str, value: bytes, offset: int) -> tuple:
    return (
        topic,
        0,
        offset,
        dt.datetime(2024, 1, 1, 10, 0, offset % 60),
        0,
        None,
        value,
        [("h", b"v")],
    )


def test_replay_archive_end_to_end(spark, tmp_path):
    app = App(name="replay-app")

    @app.consume(topic="clicks", sink_topics=("clicks.out",))
    def handle(v: FromValue[Json[Click]]) -> Message:
        return Message(value=json.dumps({"u": v.user_id}).encode())

    archive = str(tmp_path / "archive")
    rows = [
        _envelope("clicks", json.dumps({"user_id": i, "url": "x"}).encode(), i)
        for i in range(5)
    ] + [_envelope("clicks", b"{broken", 99)]
    spark.createDataFrame(rows, ENVELOPE_DDL).write.parquet(archive)

    outdir = str(tmp_path / "replayed")
    ckpt = str(tmp_path / "ckpt")
    app.run_replay(spark, archive, outdir, ckpt)

    out = spark.read.parquet(f"{outdir}/out").collect()
    assert {r["topic"] for r in out} == {"clicks.out"}
    assert sorted(json.loads(bytes(r["value"]))["u"] for r in out) == [0, 1, 2, 3, 4]
    dlq = spark.read.parquet(f"{outdir}/dlq").collect()
    assert len(dlq) == 1 and dlq[0]["offset"] == 99
    assert "deserialization" in dlq[0]["error"]

    # same checkpoint => nothing reprocessed (exactly-once per record)
    app.run_replay(spark, archive, outdir, ckpt)
    assert spark.read.parquet(f"{outdir}/out").count() == 5


def test_replay_runs_handlers_once_per_record(spark, tmp_path):
    """run_replay writes outputs and dead letters as two separate
    actions; the staged-frame cache must keep the user handler at ONE
    execution per record per batch (not one per action)."""
    import os

    calls_dir = str(tmp_path / "calls")
    os.makedirs(calls_dir)
    app = App(name="count-app")

    @app.consume(topic="clicks", sink_topics=("clicks.out",))
    def handle(v: FromValue[Json[Click]]) -> Message:
        # one marker line per handler invocation (workers are separate
        # processes; O_APPEND keeps concurrent writes whole)
        with open(f"{calls_dir}/log", "a") as f:
            f.write(f"{v.user_id}\n")
        return Message(value=b"{}")

    archive = str(tmp_path / "archive")
    rows = [
        _envelope("clicks", json.dumps({"user_id": i, "url": "x"}).encode(), i)
        for i in range(8)
    ]
    spark.createDataFrame(rows, ENVELOPE_DDL).write.parquet(archive)
    app.run_replay(
        spark, archive, str(tmp_path / "o"), str(tmp_path / "ck")
    )
    with open(f"{calls_dir}/log") as f:
        calls = f.read().splitlines()
    assert sorted(map(int, calls)) == list(range(8)), (
        f"expected one handler call per record, got {len(calls)}"
    )


@pytest.mark.parametrize(
    "dlq_topic, sinks, transform, reuse",
    [
        ("clicks.dlq", ("clicks.out",), False, True),
        (None, ("clicks.out", "clicks.copy"), False, False),
        (None, ("clicks.out",), False, False),
        (None, ("clicks.out",), True, True),
    ],
)
def test_process_stream_runs_handlers_once_per_record(
    spark, tmp_path, dlq_topic, sinks, transform, reuse
):
    """run_stream's foreachBatch body is run_replay's: when the Kafka
    sink reads the batch more than once (a DLQ topic, or a transform
    branch next to the Python stage) the batch is cached, so each user
    handler still runs once per record; without either the batch is
    read once and never cached, whatever the number of sinks, because
    fan-out is an explode inside the one branch."""
    import os

    calls_dir = str(tmp_path / "calls")
    os.makedirs(calls_dir)
    app = App(name="live-app", dlq_topic=dlq_topic)

    @app.consume(topic="clicks", sink_topics=sinks)
    def handle(v: FromValue[Json[Click]]) -> Message:
        with open(f"{calls_dir}/log", "a") as f:
            f.write(f"{v.user_id}\n")
        return Message(value=b"{}")

    if transform:
        # a second branch over the batch; no record of the batch is on
        # its topic, so the output count is the handler's alone
        @app.transform(topic="views", sink_topics=("views.out",), value=Json[Click])
        def views(df):
            return df

    written: dict[str, object] = {}

    def write_outputs(out, dlq) -> None:
        # the Kafka sink's actions: outputs, then dead letters only
        # when a DLQ topic is set
        written["cached"] = batch.is_cached
        written["out"] = out.count()
        if dlq_topic is not None:
            written["dlq"] = dlq.count()

    app._write_outputs = write_outputs
    rows = [
        _envelope("clicks", json.dumps({"user_id": i, "url": "x"}).encode(), i)
        for i in range(8)
    ] + [_envelope("clicks", b"{broken", 99)]
    batch = spark.createDataFrame(rows, ENVELOPE_DDL)
    app.process_stream(batch)(batch, 0)
    with open(f"{calls_dir}/log") as f:
        calls = f.read().splitlines()
    assert sorted(map(int, calls)) == list(range(8)), (
        f"expected one handler call per record, got {len(calls)}"
    )
    expected = {"cached": reuse, "out": 8 * len(sinks)}
    if dlq_topic is not None:
        expected["dlq"] = 1
    assert written == expected
    assert not batch.is_cached  # the body unpersists what it cached


def test_write_concurrently_keeps_job_group_and_raises(spark):
    """The dead-letter write runs on its own thread, in the caller's
    job group (a streaming query's jobs carry its run id there), and
    its failure surfaces only after the outputs write has finished."""
    import threading

    from kaflow_spark.app import _write_concurrently

    sc = spark.sparkContext
    seen: dict[str, object] = {}
    sc.setJobGroup("micro-batch-7", "replay")
    try:
        _write_concurrently(
            lambda: seen.update(out=threading.get_ident()),
            lambda: seen.update(
                dlq=threading.get_ident(),
                group=sc.getLocalProperty("spark.jobGroup.id"),
            ),
        )

        def failing_dlq() -> None:
            raise ValueError("dlq sink down")

        with pytest.raises(ValueError, match="dlq sink down"):
            _write_concurrently(lambda: seen.update(second_out=True), failing_dlq)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert seen["out"] == threading.get_ident() != seen["dlq"]
    assert seen["group"] == "micro-batch-7"
    assert seen["second_out"] is True
