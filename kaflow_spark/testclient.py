"""In-process test harness (parity: /root/reference/kaflow/testclient.py:25-64).

``TestClient.publish`` fabricates one envelope record, runs the app's
compiled graph on it as one micro-batch (each handler runs once), and
returns the handler's produced ``Message`` (or None when the record
was filtered / dead-lettered) —
sinks are intercepted: nothing leaves the process. ``last_dlq`` holds
the dead-letter rows of the most recent publish for assertions.
"""

from __future__ import annotations

import datetime as _dt
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from kaflow_spark.app import App, _headers_to_rows
from kaflow_spark.message import ENVELOPE_DDL, Message


class TestClient:
    __test__ = False  # not a pytest class

    def __init__(self, app: App, spark: SparkSession) -> None:
        self.app = app
        self.spark = spark
        self.last_dlq: list[Any] = []
        self.last_outputs: list[Any] = []

    def publish(
        self,
        topic: str,
        value: bytes | None,
        key: bytes | None = None,
        headers: dict[str, bytes] | None = None,
        partition: int = 0,
        offset: int = 0,
        timestamp: int | None = None,
    ) -> Message | None:
        if topic not in self.app._consumers:
            # parity: the reference's dispatch KeyErrors on unknown
            # topics (kaflow/applications.py:492-493)
            raise KeyError(f"no handler registered for topic {topic!r}")
        ts = (
            _dt.datetime.fromtimestamp(timestamp / 1000, _dt.timezone.utc)
            if timestamp is not None
            else _dt.datetime.now(_dt.timezone.utc)
        )
        row = (
            topic,
            partition,
            offset,
            ts,
            0,
            key,
            value,
            _headers_to_rows(headers),
        )
        envelope = self.spark.createDataFrame([row], ENVELOPE_DDL)

        def collect(out: DataFrame, dlq: DataFrame) -> None:
            self.last_outputs = out.collect()
            self.last_dlq = dlq.collect()

        # two actions over one batch: the micro-batch body caches the
        # staged frame, so the handler runs once per publish
        self.app._run_micro_batch(envelope, collect, reuse=True)
        if not self.last_outputs:
            return None
        first = self.last_outputs[0]
        hdrs = (
            {h["key"]: bytes(h["value"]) for h in first["headers"]}
            if first["headers"] is not None
            else None
        )
        return Message(
            value=bytes(first["value"]) if first["value"] is not None else None,
            key=bytes(first["key"]) if first["key"] is not None else None,
            headers=hdrs,
        )
