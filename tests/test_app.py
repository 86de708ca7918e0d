"""End-to-end app-surface tests through TestClient (the batch harness
— SURVEY §5.3). Mirrors the reference README flow: JSON value + key +
headers + metadata injection, fan-out to sinks, DLQ on malformed
payloads, typed exception handlers, declarative JVM transforms."""

from __future__ import annotations

import json

import pytest
from pydantic import BaseModel

from kaflow_spark.app import App
from kaflow_spark.message import Message
from kaflow_spark.params import (
    FromHeader,
    FromKey,
    FromValue,
    Header,
    Json,
    MessageOffset,
    MessagePartition,
    MessageTimestamp,
    Str,
)
from kaflow_spark.testclient import TestClient


class UserClick(BaseModel):
    user_id: int
    url: str
    timestamp: int


class EnvKey(BaseModel):
    environment: str


@pytest.fixture()
def app() -> App:
    return App(name="test-app")


def make_client(app, spark):
    return TestClient(app, spark)


def test_consume_roundtrip_with_injection(app, spark):
    seen = {}

    @app.consume(topic="user_clicks", sink_topics=("out1", "out2"))
    def handler(
        click: FromValue[Json[UserClick]],
        key: FromKey[Json[EnvKey]],
        corr: Header(alias="x-correlation-id"),
        offset: MessageOffset,
        partition: MessagePartition,
        ts: MessageTimestamp,
    ) -> Message:
        return Message(
            value=json.dumps(
                {
                    "user_id": click.user_id,
                    "env": key.environment,
                    "corr": corr,
                    "offset": offset,
                    "partition": partition,
                    "has_ts": ts is not None,
                }
            ).encode(),
            key=b"k",
            headers={"h": b"v"},
        )

    client = make_client(app, spark)
    msg = client.publish(
        topic="user_clicks",
        value=json.dumps({"user_id": 7, "url": "http://x", "timestamp": 1}).encode(),
        key=json.dumps({"environment": "prod"}).encode(),
        headers={"x-correlation-id": b"abc-123"},
        partition=3,
        offset=42,
        timestamp=1700000000000,
    )
    assert msg is not None
    out = json.loads(msg.value)
    assert out == {
        "user_id": 7,
        "env": "prod",
        "corr": "abc-123",
        "offset": 42,
        "partition": 3,
        "has_ts": True,
    }
    assert msg.key == b"k"
    assert msg.headers == {"h": b"v"}
    # fan-out: same Message to every sink topic
    topics = sorted(r["topic"] for r in client.last_outputs)
    assert topics == ["out1", "out2"]
    assert client.last_dlq == []


def test_none_return_drops_record(app, spark):
    @app.consume(topic="t", sink_topics=("out",))
    def handler(v: FromValue[Json]) -> Message | None:
        return None

    client = make_client(app, spark)
    assert client.publish("t", b'{"a": 1}') is None
    assert client.last_outputs == [] and client.last_dlq == []


def test_publish_runs_handler_once(app, spark, tmp_path):
    """One publish is one handler call, as in the reference: the
    outputs and the dead letters are read from one cached batch, not
    by re-running the handler once per collected frame."""
    log = tmp_path / "calls"

    @app.consume(topic="t", sink_topics=("out",))
    def handler(v: FromValue[Str]) -> Message:
        with open(log, "a") as f:
            f.write(v + "\n")
        return Message(value=v.encode())

    client = make_client(app, spark)
    assert client.publish("t", b"x").value == b"x"
    assert log.read_text().splitlines() == ["x"]
    assert client.last_dlq == []


def test_malformed_value_dead_letters(app, spark):
    @app.consume(topic="t", sink_topics=("out",))
    def handler(v: FromValue[Json[UserClick]]) -> Message:
        return Message(value=b"ok")

    client = make_client(app, spark)
    raw = b'{"user_id": '  # truncated JSON (FIXTURES A4)
    assert client.publish("t", raw) is None
    assert len(client.last_dlq) == 1
    row = client.last_dlq[0]
    assert bytes(row["value"]) == raw  # raw bytes preserved
    assert row["error"].startswith("deserialization:value")


def test_malformed_header_dead_letters(app, spark):
    """Header decode failure dead-letters like value failure — the
    reference's bug at kaflow/_consumer.py:188 is fixed here."""

    @app.consume(topic="t", sink_topics=("out",))
    def handler(v: FromValue[Json], h: FromHeader[Json]) -> Message:
        return Message(value=b"ok")

    client = make_client(app, spark)
    assert client.publish("t", b"{}", headers={"h": b"{bad json"}) is None
    assert len(client.last_dlq) == 1
    assert client.last_dlq[0]["error"].startswith("deserialization:headers")


def test_typed_exception_handler_swallows(app, spark):
    @app.consume(topic="t", sink_topics=("out",))
    def handler(v: FromValue[Json]) -> Message:
        raise ValueError("boom")

    @app.exception_handler(ValueError)
    def on_value_error(exc: ValueError) -> None:
        pass  # swallow (reference handlers return None)

    client = make_client(app, spark)
    assert client.publish("t", b"{}") is None
    assert client.last_outputs == [] and client.last_dlq == []


def test_exception_handler_mro_dispatch(app, spark):
    class Special(ValueError):
        pass

    @app.consume(topic="t", sink_topics=("out",))
    def handler(v: FromValue[Json]) -> Message:
        raise Special("boom")

    @app.exception_handler(ValueError)  # base class matches subclass
    def on_value_error(exc: ValueError) -> None:
        pass

    client = make_client(app, spark)
    assert client.publish("t", b"{}") is None
    assert client.last_dlq == []


def test_unhandled_exception_dead_letters(app, spark):
    @app.consume(topic="t", sink_topics=("out",))
    def handler(v: FromValue[Json]) -> Message:
        raise RuntimeError("kaput")

    client = make_client(app, spark)
    assert client.publish("t", b"{}") is None
    assert len(client.last_dlq) == 1
    assert "handler:RuntimeError" in client.last_dlq[0]["error"]


def test_async_handler(app, spark):
    @app.consume(topic="t", sink_topics=("out",))
    async def handler(v: FromValue[Str]) -> Message:
        return Message(value=f"echo:{v}".encode())

    client = make_client(app, spark)
    msg = client.publish("t", b"hello")
    assert msg.value == b"echo:hello"


def test_duplicate_header_keys_last_wins(app, spark):
    """Kafka allows duplicate header keys; the dict view is last-wins
    (kaflow/_consumer.py:120-125)."""
    from kaflow_spark.app import _headers_to_dict

    assert _headers_to_dict(
        [{"key": "h", "value": b"1"}, {"key": "h", "value": b"2"}]
    ) == {"h": b"2"}


def test_declarative_transform_jvm_path(app, spark):
    from pyspark.sql import functions as F

    @app.transform(topic="clicks", sink_topics=("big",), value=Json[UserClick])
    def only_power_users(df):
        return df.filter(F.col("value.user_id") >= 100).select(
            F.struct(
                F.col("value.user_id").alias("user_id"),
                F.col("value.url").alias("url"),
            ).alias("value")
        )

    client = make_client(app, spark)
    small = json.dumps({"user_id": 5, "url": "a", "timestamp": 1}).encode()
    big = json.dumps({"user_id": 500, "url": "b", "timestamp": 2}).encode()
    assert client.publish("clicks", small) is None
    msg = client.publish("clicks", big)
    assert json.loads(msg.value) == {"user_id": 500, "url": "b"}
    # malformed payload routes to DLQ on the JVM path too
    assert client.publish("clicks", b"not json at all \xff") is None
    assert len(client.last_dlq) == 1


def test_produce_decorator_buffers(app, spark):
    @app.produce(sink_topic="events_out")
    def emit(n: int) -> Message:
        return Message(value=f"n={n}".encode())

    assert emit(1).value == b"n=1"
    emit(2)
    df = app.flush_produced(spark)
    rows = df.collect()
    assert [r["topic"] for r in rows] == ["events_out", "events_out"]
    assert sorted(bytes(r["value"]) for r in rows) == [b"n=1", b"n=2"]
    assert app.flush_produced(spark).count() == 0  # buffer cleared


def test_signature_validation():
    app = App()

    with pytest.raises(TypeError, match="exactly one FromValue"):

        @app.consume(topic="t")
        def no_value(offset: MessageOffset) -> None: ...

    with pytest.raises(TypeError, match="requires a serde"):

        @app.consume(topic="t")
        def bad_type(v: FromValue[int]) -> None: ...
