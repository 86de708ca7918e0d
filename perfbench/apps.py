"""The ``App`` the replay workload serves: one topic per handler shape.

* ``clicks``  — pydantic ``@consume`` record handler injecting
  ``FromValue``, ``FromKey``, ``Header`` and ``MessageOffset``
* ``orders``  — vectorized ``@consume_batches`` handler
* ``metrics`` — ``@transform`` fanning out to two sink topics

Module-level models so Spark's python workers import them by name.
"""

from __future__ import annotations

import json

import pandas as pd
from pydantic import BaseModel
from pyspark.sql import functions as F

from kaflow_spark import App, FromKey, FromValue, Header, Json, Message, MessageOffset


class Click(BaseModel):
    user_id: int
    url: str
    n: int


class RegionKey(BaseModel):
    region: str


class Metric(BaseModel):
    host: str
    cpu: int
    mem: int


def build_app(topics: tuple[str, ...] = ("clicks", "orders", "metrics")) -> App:
    """An App with the handlers of ``topics`` registered."""
    app = App("perfbench-replay")

    if "clicks" in topics:

        @app.consume(topic="clicks", sink_topics=("clicks.out",))
        def on_click(
            click: FromValue[Json[Click]],
            key: FromKey[Json[RegionKey]],
            corr: Header(alias="x-corr"),
            offset: MessageOffset,
        ) -> Message:
            out = {"u": click.user_id, "n2": click.n * 2, "r": key.region, "c": corr, "o": offset}
            return Message(value=json.dumps(out).encode())

    if "orders" in topics:

        @app.consume_batches(topic="orders", sink_topics=("orders.out",), value=Json)
        def on_orders(pdf: pd.DataFrame) -> pd.DataFrame:
            vals = [{"id": v["order_id"], "total": v["qty"] * v["price"]} for v in pdf["value"]]
            return pd.DataFrame({"value": vals})

    if "metrics" in topics:

        @app.transform(
            topic="metrics", sink_topics=("metrics.hot", "metrics.all"), value=Json[Metric]
        )
        def on_metrics(df):
            return df.select(
                F.struct(
                    F.col("value.host").alias("host"), (F.col("value.cpu") * 2).alias("cpu2")
                ).alias("value")
            )

    return app
