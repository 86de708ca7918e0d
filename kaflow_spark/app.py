"""The kaflow-parity application surface on Spark.

Re-expresses the reference's consume→transform→produce model
(/root/reference/kaflow/applications.py) on DataFrames:

- ``@app.consume(topic, sink_topics=...)`` registers a **record
  handler** with the reference's injected-parameter signature
  (FromValue/FromKey/FromHeader/MessageOffset/...). The engine
  compiles every record and batch handler into ONE Arrow-batched
  ``mapInPandas`` stage that splits each batch by topic: raw bytes
  cross into Python once per envelope partition, decode + handle +
  encode happen in-process, and outputs fan out to every sink topic
  by an ``explode`` over the topic's sinks, so the handlers run once
  whatever the number of topics and sinks.
- ``@app.transform(topic, sink_topics=..., value=...)`` registers a
  **declarative handler**: a function DataFrame→DataFrame over the
  JVM-decoded value struct (``from_json`` fast path) — zero Python
  in the data path; this is the 100 TB-preferred surface.
- Typed exception handlers (MRO dispatch, parity with
  kaflow/_consumer.py:192-198) and a deserialization-error channel
  that routes failures to a dead-letter DataFrame with the raw bytes
  preserved (parity with kaflow/_consumer.py:129-190 — including
  fixing the reference's header-failure bug at :188: here header
  decode failure dead-letters the record like value/key failure).
- One handler per topic; re-registering a topic replaces the previous
  handler (the reference does the same, silently —
  kaflow/applications.py:262-276).

Batch and streaming run the same compiled graph: ``process_batch`` for
a static envelope DataFrame, and ``_run_micro_batch`` for one micro-batch
of ``run_stream``/``run_replay`` (which write the outputs and the dead
letters as two concurrent jobs) and for each TestClient publish.
"""

from __future__ import annotations

import asyncio
import functools
from collections.abc import Callable, Iterator, Sequence
from dataclasses import dataclass, field
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kaflow_spark.exceptions import DeserializationError
from kaflow_spark.serde.serializers import BytesSerde
from kaflow_spark.message import Message, OUTPUT_DDL
from kaflow_spark.params import HandlerSpec, get_handler_spec

# mapInPandas output: handler result + error channel + raw passthrough
_STAGE_DDL = (
    "error string, out_value binary, out_key binary, "
    "out_headers array<struct<key: string, value: binary>>, "
    "topic string, partition int, offset bigint, timestamp timestamp, "
    "raw_value binary, raw_key binary"
)


def _headers_to_dict(raw: Any) -> dict[str, bytes] | None:
    """Kafka headers array<struct> -> last-wins dict (parity with
    kaflow/_consumer.py:120-125; duplicate keys collapse to last)."""
    if raw is None or (isinstance(raw, float) and pd.isna(raw)):
        return None
    out: dict[str, bytes] = {}
    for h in raw:
        k, v = (h["key"], h["value"]) if isinstance(h, dict) else (h[0], h[1])
        out[k] = bytes(v) if v is not None else None
    return out


def _headers_to_rows(headers: dict[str, bytes] | None):
    if headers is None:
        return None
    return [{"key": k, "value": v} for k, v in headers.items()]


def _ts_ms(ts: Any) -> int | None:
    if ts is None or pd.isna(ts):
        return None
    return int(pd.Timestamp(ts).value // 1_000_000)


@dataclass
class _Consumer:
    topic: str
    sink_topics: tuple[str, ...]
    spec: HandlerSpec


@dataclass
class _BatchConsumer:
    """Vectorized handler: fn(pandas.DataFrame) -> pandas.DataFrame.

    Input columns: ``value``/``key`` (decoded python objects),
    ``headers`` (dict), ``offset``/``partition``/``timestamp``.
    Output columns: ``value`` (bytes) and optionally ``key``/
    ``headers``. The scale-preferred shape for custom Python logic —
    one python call per Arrow batch instead of per record.
    """

    topic: str
    sink_topics: tuple[str, ...]
    fn: Callable[[pd.DataFrame], pd.DataFrame]
    value_serde: Any
    key_serde: Any | None = None


@dataclass
class _Transform:
    topic: str
    sink_topics: tuple[str, ...]
    fn: Callable[[DataFrame], DataFrame]
    value_serde: Any  # Serde with a JVM column codec
    key_serde: Any | None = None


@dataclass
class App:
    """Engine application: topic registry + compiled Spark pipelines."""

    name: str = "kaflow-spark-app"
    #: AsyncAPI info fields (parity: the reference constructor's
    #: title/version/description, kaflow/applications.py:187-196)
    version: str = "0.0.1"
    description: str | None = None
    brokers: str | None = None
    kafka_options: dict[str, str] = field(default_factory=dict)
    dlq_topic: str | None = None
    #: optional (async) context-manager factory run around the whole
    #: app lifetime (parity: kaflow/applications.py:218-242)
    lifespan: Callable | None = None
    # -- delivery-semantics passthrough (parity with the reference's
    # client-config surface, kaflow/applications.py:54-196). These map
    # onto the Kafka client options of the source/sink; exactly-once
    # end-to-end additionally needs checkpointing + an idempotent
    # downstream (streaming/exactly_once.py).
    acks: str | int | None = None
    enable_idempotence: bool | None = None
    transactional_id: str | None = None
    isolation_level: str | None = None
    auto_offset_reset: str | None = None
    compression_type: str | None = None
    max_offsets_per_trigger: int | None = None
    # -- typed SSL/SASL surface (parity: kaflow/applications.py:91-186
    # feeds the same flat kwargs to aiokafka's create_ssl_context; here
    # they compile to kafka.* options via security.KafkaSecurity).
    security_protocol: str = "PLAINTEXT"
    cafile: str | None = None
    cadata: str | None = None
    capath: str | None = None
    certfile: str | None = None
    keyfile: str | None = None
    cert_password: str | None = None
    sasl_mechanism: str | None = None
    sasl_plain_username: str | None = None
    sasl_plain_password: str | None = None
    sasl_kerberos_service_name: str = "kafka"
    sasl_kerberos_domain_name: str | None = None

    def _security_options(self) -> dict[str, str]:
        """Validate + compile the typed security kwargs. PLAINTEXT with
        no SASL settings emits nothing (the client default)."""
        from kaflow_spark.security import KafkaSecurity

        sec = KafkaSecurity(
            security_protocol=self.security_protocol,
            cafile=self.cafile,
            cadata=self.cadata,
            capath=self.capath,
            certfile=self.certfile,
            keyfile=self.keyfile,
            cert_password=self.cert_password,
            sasl_mechanism=self.sasl_mechanism,
            sasl_plain_username=self.sasl_plain_username,
            sasl_plain_password=self.sasl_plain_password,
            sasl_kerberos_service_name=self.sasl_kerberos_service_name,
            sasl_kerberos_domain_name=self.sasl_kerberos_domain_name,
        )
        opts = sec.options()
        if opts == {"kafka.security.protocol": "PLAINTEXT"}:
            return {}
        return opts

    def _client_options(self) -> dict[str, str]:
        """Materialize the delivery-semantics kwargs as Kafka options."""
        opts = dict(self._security_options())
        opts.update(self.kafka_options)
        mapping = {
            "kafka.acks": self.acks,
            "kafka.enable.idempotence": self.enable_idempotence,
            "kafka.transactional.id": self.transactional_id,
            "kafka.isolation.level": self.isolation_level,
            "startingOffsets": {
                "earliest": "earliest",
                "latest": "latest",
                None: None,
            }.get(self.auto_offset_reset, self.auto_offset_reset),
            "kafka.compression.type": self.compression_type,
            "maxOffsetsPerTrigger": self.max_offsets_per_trigger,
        }
        for k, v in mapping.items():
            if v is not None and k not in opts:
                opts[k] = str(v).lower() if isinstance(v, bool) else str(v)
        return opts

    def __post_init__(self) -> None:
        self._consumers: dict[str, _Consumer | _Transform] = {}
        self._exception_handlers: dict[type, Callable] = {}
        self._deser_error_handler: Callable | None = None
        self._produced: list[tuple[str, Message]] = []
        self._produce_topics: set[str] = set()
        #: test seam: substitute dependency factories
        #: (parity: kaflow/_utils/overrides.py:27-72)
        self.dependency_overrides: dict[Callable, Callable] = {}

    # ------------------------------------------------------ registration

    def consume(
        self, topic: str, sink_topics: Sequence[str] = ()
    ) -> Callable[[Callable], Callable]:
        """Register a record handler (reference decorator:
        kaflow/applications.py:345-374)."""

        def deco(func: Callable) -> Callable:
            spec = get_handler_spec(func)
            self._consumers[topic] = _Consumer(topic, tuple(sink_topics), spec)
            return func

        return deco

    def consume_batches(
        self,
        topic: str,
        sink_topics: Sequence[str] = (),
        value: object = None,
        key: object = None,
    ) -> Callable[[Callable], Callable]:
        """Register a vectorized handler fn(pd.DataFrame)->pd.DataFrame
        (decoded values in, bytes out). Same dead-letter semantics as
        @consume; the handler runs once per Arrow batch."""
        from kaflow_spark.params import resolve_serde

        vserde = resolve_serde(value) or BytesSerde()
        kserde = resolve_serde(key)

        def deco(fn: Callable[[pd.DataFrame], pd.DataFrame]) -> Callable:
            self._consumers[topic] = _BatchConsumer(
                topic, tuple(sink_topics), fn, vserde, kserde
            )
            return fn

        return deco

    def transform(
        self,
        topic: str,
        sink_topics: Sequence[str] = (),
        value: object = None,
        key: object = None,
    ) -> Callable[[Callable], Callable]:
        """Register a declarative DataFrame transform for a topic.

        ``value``/``key`` are serde annotations (e.g. ``Json[Model]``);
        the engine decodes on the JVM (from_json) and hands the typed
        DataFrame to ``fn``; the returned DataFrame's ``value`` column
        (typed) is encoded back with the same serde unless it is
        already binary.
        """
        from kaflow_spark.params import resolve_serde

        vserde = resolve_serde(value)
        if vserde is None or vserde.decode_col(F.col("value")) is None:
            raise TypeError(
                "transform() needs a value serde with a JVM column codec "
                "(Json[Model], Str, bytes)"
            )
        kserde = resolve_serde(key)

        def deco(fn: Callable[[DataFrame], DataFrame]) -> Callable:
            self._consumers[topic] = _Transform(
                topic, tuple(sink_topics), fn, vserde, kserde
            )
            return fn

        return deco

    def exception_handler(self, exc_type: type) -> Callable:
        """Typed handler registry; MRO-walk dispatch at runtime
        (kaflow/applications.py:420-431)."""

        def deco(func: Callable) -> Callable:
            self._exception_handlers[exc_type] = func
            return func

        return deco

    def deserialization_error_handler(self) -> Callable:
        def deco(func: Callable) -> Callable:
            self._deser_error_handler = func
            return func

        return deco

    def produce(self, sink_topic: str) -> Callable:
        """Driver-side push source (kaflow/applications.py:376-418):
        each call of the wrapped function publishes its returned
        Message to ``sink_topic`` (buffered; ``flush_produced`` turns
        the buffer into a DataFrame / Kafka write)."""

        self._produce_topics.add(sink_topic)

        def deco(func: Callable) -> Callable:
            def wrapper(*a: Any, **kw: Any) -> Message | None:
                res = func(*a, **kw)
                if asyncio.iscoroutine(res):
                    res = asyncio.run(res)
                if res is not None:
                    self._produced.append((sink_topic, res))
                return res

            wrapper.__name__ = getattr(func, "__name__", "produced")
            return wrapper

        return deco

    def flush_produced(self, spark: SparkSession) -> DataFrame:
        """Materialize buffered @produce messages as an output-shaped
        DataFrame (and clear the buffer)."""
        rows = [
            (t, m.value, m.key, _headers_to_rows(m.headers))
            for t, m in self._produced
        ]
        self._produced.clear()
        return spark.createDataFrame(rows, OUTPUT_DDL)

    # -------------------------------------------------------- compilation

    def _compile_consumer(self, con: _Consumer) -> Callable:
        """Build the mapInPandas stage fn for one record handler.

        Everything referenced here must pickle to executors: the spec
        (handler + serdes) and the exception-handler table.
        """
        spec = con.spec
        exc_table = dict(self._exception_handlers)
        deser_handler = self._deser_error_handler
        # dependency factories, with test overrides applied at compile
        # time (kaflow/_utils/overrides.py:27-72); app-scoped ones are
        # cached per python worker process (the executor analog of the
        # reference's "app" DI scope)
        overrides = dict(self.dependency_overrides)
        dep_specs = [
            (d.param, overrides.get(d.factory, d.factory), d.scope, d.use_cache)
            for d in spec.depends
        ]
        app_cache: dict[int, Any] = {}

        def resolve_deps() -> dict[str, Any]:
            out: dict[str, Any] = {}
            for pname, factory, scope, use_cache in dep_specs:
                if scope == "app" and use_cache:
                    key = id(factory)
                    if key not in app_cache:
                        app_cache[key] = factory()
                    out[pname] = app_cache[key]
                else:
                    out[pname] = factory()
            return out

        def lookup_exc_handler(exc: Exception) -> Callable | None:
            # MRO walk, most-specific first (kaflow/_consumer.py:192-198)
            for klass in type(exc).__mro__:
                if klass in exc_table:
                    return exc_table[klass]
            return None

        def call_handler(kwargs: dict[str, Any]) -> Message | None:
            res = spec.func(**kwargs)
            if asyncio.iscoroutine(res):
                res = asyncio.run(res)
            if res is not None and not isinstance(res, Message):
                raise TypeError(
                    f"handler must return Message or None, got {type(res)!r}"
                )
            return res

        def stage(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                out_rows: list[dict[str, Any]] = []
                for row in pdf.itertuples(index=False):
                    raw_value = None if row.value is None else bytes(row.value)
                    raw_key = None if row.key is None else bytes(row.key)
                    passthrough = {
                        "topic": row.topic,
                        "partition": row.partition,
                        "offset": row.offset,
                        "timestamp": row.timestamp,
                        "raw_value": raw_value,
                        "raw_key": raw_key,
                    }
                    raw_msg = Message(
                        value=raw_value,
                        key=raw_key,
                        headers=_headers_to_dict(row.headers),
                        offset=row.offset,
                        partition=row.partition,
                        timestamp=_ts_ms(row.timestamp),
                    )
                    # ---- deserialize (error => dead-letter the record;
                    # header failure included — the reference's :188 bug
                    # is deliberately not reproduced)
                    kwargs: dict[str, Any] = {}
                    try:
                        part = "value"
                        kwargs[spec.value.param] = (
                            None
                            if raw_value is None
                            else spec.value.serde.loads(raw_value)
                        )
                        if spec.key is not None:
                            part = "key"
                            kwargs[spec.key.param] = (
                                None
                                if raw_key is None
                                else spec.key.serde.loads(raw_key)
                            )
                        part = "headers"
                        hdrs = raw_msg.headers or {}
                        for hb in spec.headers:
                            raw_h = hdrs.get(hb.alias)
                            kwargs[hb.param] = (
                                None if raw_h is None else hb.serde.loads(raw_h)
                            )
                    except Exception as exc:  # noqa: BLE001
                        derr = DeserializationError(part, raw_msg, exc)
                        if deser_handler is not None:
                            res = deser_handler(derr)
                            if asyncio.iscoroutine(res):
                                asyncio.run(res)
                        out_rows.append(
                            {
                                "error": f"deserialization:{part}: {exc}",
                                "out_value": None,
                                "out_key": None,
                                "out_headers": None,
                                **passthrough,
                            }
                        )
                        continue
                    kwargs.update(resolve_deps())
                    if spec.offset_param:
                        kwargs[spec.offset_param] = row.offset
                    if spec.partition_param:
                        kwargs[spec.partition_param] = row.partition
                    if spec.timestamp_param:
                        kwargs[spec.timestamp_param] = raw_msg.timestamp
                    # ---- execute handler with typed-exception dispatch
                    try:
                        msg = call_handler(kwargs)
                    except Exception as exc:  # noqa: BLE001
                        handler = lookup_exc_handler(exc)
                        if handler is not None:
                            res = handler(exc)
                            if asyncio.iscoroutine(res):
                                asyncio.run(res)
                            continue  # swallowed: record dropped
                        out_rows.append(
                            {
                                "error": f"handler:{type(exc).__name__}: {exc}",
                                "out_value": None,
                                "out_key": None,
                                "out_headers": None,
                                **passthrough,
                            }
                        )
                        continue
                    if msg is None:
                        continue  # filtered (kaflow/_consumer.py:241-244)
                    out_rows.append(
                        {
                            "error": None,
                            "out_value": msg.value,
                            "out_key": msg.key,
                            "out_headers": _headers_to_rows(msg.headers),
                            **passthrough,
                        }
                    )
                cols = [
                    "error",
                    "out_value",
                    "out_key",
                    "out_headers",
                    "topic",
                    "partition",
                    "offset",
                    "timestamp",
                    "raw_value",
                    "raw_key",
                ]
                yield pd.DataFrame(out_rows, columns=cols)

        return stage

    def _compile_batch_consumer(self, con: _BatchConsumer) -> Callable:
        """mapInPandas stage for a vectorized handler: decode the whole
        Arrow batch, call fn once, encode its output frame."""
        fn = con.fn
        vserde = con.value_serde
        kserde = con.key_serde

        def stage(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            cols = [
                "error",
                "out_value",
                "out_key",
                "out_headers",
                "topic",
                "partition",
                "offset",
                "timestamp",
                "raw_value",
                "raw_key",
            ]
            for pdf in batches:
                decoded: list[dict[str, Any]] = []
                out_rows: list[dict[str, Any]] = []
                for row in pdf.itertuples(index=False):
                    raw_value = None if row.value is None else bytes(row.value)
                    raw_key = None if row.key is None else bytes(row.key)
                    try:
                        part = "value"
                        value = (
                            None if raw_value is None else vserde.loads(raw_value)
                        )
                        part = "key"
                        key = (
                            raw_key
                            if kserde is None or raw_key is None
                            else kserde.loads(raw_key)
                        )
                        part = "headers"
                        headers = _headers_to_dict(row.headers)
                        decoded.append(
                            {
                                "value": value,
                                "key": key,
                                "headers": headers,
                                "offset": row.offset,
                                "partition": row.partition,
                                "timestamp": _ts_ms(row.timestamp),
                            }
                        )
                    except Exception as exc:  # noqa: BLE001
                        out_rows.append(
                            {
                                "error": f"deserialization:{part}: {exc}",
                                "out_value": None,
                                "out_key": None,
                                "out_headers": None,
                                "topic": row.topic,
                                "partition": row.partition,
                                "offset": row.offset,
                                "timestamp": row.timestamp,
                                "raw_value": raw_value,
                                "raw_key": raw_key,
                            }
                        )
                if decoded:
                    out_pdf = fn(pd.DataFrame(decoded))
                    for r in out_pdf.itertuples(index=False):
                        val = getattr(r, "value", None)
                        if val is not None and not isinstance(val, (bytes, bytearray)):
                            val = vserde.dumps(val)
                        key = getattr(r, "key", None)
                        if key is not None and not isinstance(key, (bytes, bytearray)):
                            key = (kserde or vserde).dumps(key)
                        hdrs = getattr(r, "headers", None)
                        out_rows.append(
                            {
                                "error": None,
                                "out_value": val,
                                "out_key": key,
                                "out_headers": _headers_to_rows(hdrs),
                                "topic": con.topic,
                                "partition": None,
                                "offset": None,
                                "timestamp": None,
                                "raw_value": None,
                                "raw_key": None,
                            }
                        )
                yield pd.DataFrame(out_rows, columns=cols)

        return stage

    # --------------------------------------------------------- execution

    def _compile_python_stage(
        self, regs: Sequence[_Consumer | _BatchConsumer]
    ) -> Callable:
        """ONE mapInPandas stage fn for every record and batch handler:
        each Arrow batch is split by topic and each part goes through
        that topic's compiled stage, so one Python pass per envelope
        partition serves every topic."""
        stages = {
            reg.topic: (
                self._compile_batch_consumer(reg)
                if isinstance(reg, _BatchConsumer)
                else self._compile_consumer(reg)
            )
            for reg in regs
        }

        def stage(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                for topic, part in pdf.groupby("topic", sort=False):
                    yield from stages[topic](iter([part]))

        return stage

    def process_batch(
        self,
        envelope: DataFrame,
        _cache_into: list[DataFrame] | None = None,
    ) -> tuple[DataFrame, DataFrame]:
        """Run every registered topic pipeline over an envelope
        DataFrame (FIXTURES.md A1 schema). Returns (outputs, dlq):
        outputs has one row per (record result × sink topic) in
        OUTPUT_DDL shape; dlq carries failed records with raw bytes.

        The graph has one branch per source of results: the single
        Python stage holding every record/batch handler, plus one per
        transform topic; sinks fan out inside a branch by ``explode``.

        ``_cache_into``: internal hook for callers that will run BOTH
        returned frames as separate actions (e.g. run_replay writes
        outputs and dlq independently) — the staged Python frame is
        persisted and appended, so each user handler executes once
        instead of once per action; the caller unpersists it after its
        writes.
        """
        outputs: list[DataFrame | None] = []
        dlqs: list[DataFrame] = []
        # corruption sentinels from the segment reader (torn tail
        # records surfaced as rows with CORRUPT_HEADER) go straight to
        # the DLQ — no handler ever sees bytes the source itself could
        # not frame; the raw tail rides in `value` for forensics
        from kaflow_spark.sources.segments import CORRUPT_HEADER

        # the graph is rebuilt on the driver for every micro-batch and
        # each Column call costs about a dozen py4j round trips, so the
        # fixed expressions are SQL strings, parsed in one call each
        is_corrupt = (
            f"coalesce(exists(headers, h -> h.key = '{CORRUPT_HEADER}'), false)"
        )
        dlqs.append(
            envelope.filter(is_corrupt).selectExpr(
                "topic",
                "partition",
                "offset",
                "timestamp",
                "value",
                "key",
                "concat('segment:corrupt: ', cast(try_element_at(filter("
                f"headers, h -> h.key = '{CORRUPT_HEADER}'), 1).value AS string))"
                " AS error",
            )
        )
        envelope = envelope.filter(f"NOT {is_corrupt}")
        python = [
            r for r in self._consumers.values() if not isinstance(r, _Transform)
        ]
        if python:
            staged = envelope.filter(
                F.col("topic").isin([r.topic for r in python])
            ).mapInPandas(self._compile_python_stage(python), _STAGE_DDL)
            if _cache_into is not None:
                staged = staged.persist()
                _cache_into.append(staged)
            dlqs.append(
                staged.filter("error IS NOT NULL").selectExpr(
                    "topic",
                    "partition",
                    "offset",
                    "timestamp",
                    "raw_value AS value",
                    "raw_key AS key",
                    "error",
                )
            )
            ok = staged.filter("error IS NULL").selectExpr(
                "topic",
                "out_value AS value",
                "out_key AS key",
                "out_headers AS headers",
            )
            outputs.append(_fan_out(ok, python))
        for topic, reg in self._consumers.items():
            if isinstance(reg, _Transform):
                ok, dlq = self._run_transform(
                    reg, envelope.filter(F.col("topic") == topic)
                )
                outputs.append(_fan_out(ok, [reg]))
                dlqs.append(dlq)
        branches = [o for o in outputs if o is not None]
        out = (
            functools.reduce(DataFrame.unionAll, branches)
            if branches
            else envelope.sparkSession.createDataFrame([], OUTPUT_DDL)
        )
        return out, functools.reduce(DataFrame.unionAll, dlqs)

    def _run_transform(
        self, reg: _Transform, src: DataFrame
    ) -> tuple[DataFrame, DataFrame]:
        """JVM fast path: decode via column codec, apply the user's
        DataFrame function, re-encode. Malformed payloads (decoded
        struct null while raw bytes non-null) dead-letter.

        The decode probe is evaluated ONCE behind a Generate barrier
        (explode of a 1-element array): from_json is CodegenFallback,
        so without the barrier CollapseProject re-inlines the parse
        into every consumer — measured 6 parses/row, ~10x slower.
        """
        probe = reg.value_serde.probe_col(F.col("value"))
        serde = reg.value_serde
        decoded = src.select(
            "*", F.explode(F.array(probe)).alias("_probe")
        ).withColumn("_parsed", serde.probe_clean(F.col("_probe")))
        bad = serde.probe_bad(F.col("_probe"), F.col("value"))
        if reg.key_serde is not None:
            decoded = decoded.withColumn(
                "_key_parsed", reg.key_serde.decode_col(F.col("key"))
            )
        dlq = decoded.filter(bad).selectExpr(
            "topic",
            "partition",
            "offset",
            "timestamp",
            "value",
            "key",
            "'deserialization:value: malformed payload' AS error",
        )
        ok_in = decoded.filter(~bad)
        typed = ok_in.selectExpr(
            "_parsed AS value",
            "_key_parsed AS key" if reg.key_serde is not None else "key",
            "headers",
            "partition",
            "offset",
            "timestamp",
        )
        result = reg.fn(typed)
        if "value" not in result.columns:
            raise ValueError("transform result must include a 'value' column")
        out_cols = []
        if _is_binary(result, "value"):
            out_cols.append(F.col("value"))
        else:
            out_cols.append(reg.value_serde.encode_col(F.col("value")).alias("value"))
        if "key" not in result.columns:
            out_cols.append(F.lit(None).cast("binary").alias("key"))
        elif _is_binary(result, "key"):
            out_cols.append(F.col("key"))
        else:
            kserde = reg.key_serde or reg.value_serde
            out_cols.append(kserde.encode_col(F.col("key")).alias("key"))
        if "headers" in result.columns:
            out_cols.append(F.col("headers"))
        else:
            out_cols.append(
                F.lit(None)
                .cast("array<struct<key: string, value: binary>>")
                .alias("headers")
            )
        return result.select(*out_cols), dlq

    # --------------------------------------------------------- streaming

    def source_stream(self, spark: SparkSession) -> DataFrame:
        """Kafka source over every registered topic (reference builds
        one consumer subscribed to all topics,
        kaflow/applications.py:278-314)."""
        if not self.brokers:
            raise ValueError("App(brokers=...) required for streaming")
        reader = (
            spark.readStream.format("kafka")
            .option("kafka.bootstrap.servers", self.brokers)
            .option("subscribe", ",".join(self._consumers))
            .option("includeHeaders", "true")
        )
        for k, v in self._client_options().items():
            reader = reader.option(k, v)
        return reader.load().withColumnRenamed("timestampType", "timestamp_type")

    def process_stream(self, envelope_stream: DataFrame):
        """foreachBatch body: run the compiled graph per micro-batch."""

        def body(batch_df: DataFrame, batch_id: int) -> None:
            # the Kafka sink reads the batch once per branch (the one
            # Python stage, if any handler is registered, plus one per
            # transform; fan-out to several sinks is an explode inside
            # a branch), and once more for the DLQ topic
            regs = list(self._consumers.values())
            transforms = sum(isinstance(r, _Transform) for r in regs)
            branches = transforms + (len(regs) > transforms)
            reuse = self.dlq_topic is not None or branches > 1
            self._run_micro_batch(batch_df, self._write_outputs, reuse)

        return body

    def _run_micro_batch(
        self,
        batch_df: DataFrame,
        write: Callable[[DataFrame, DataFrame], None],
        reuse: bool,
    ) -> None:
        """The per-micro-batch body of run_stream, run_replay and
        TestClient. ``write(out, dlq)`` returns only once every action
        it starts has finished; the stream and replay writers run the
        outputs and the dead letters as two concurrent jobs
        (``_write_concurrently``). With ``reuse`` (the
        batch is read more than once: by both writes, or by several
        branches) the envelope is persisted once, so every branch and
        the DLQ read it instead of re-running the source scan and
        decode, and the staged Python frame is persisted via
        ``_cache_into``, so each user handler runs once per record
        even while both jobs read it; everything is unpersisted once
        ``write`` returns or raises. Without it the batch is read once
        and a cache would only add a materialisation."""
        cached: list[DataFrame] | None = None
        if reuse:
            batch_df = batch_df.persist()
            cached = [batch_df]
        try:
            out, dlq = self.process_batch(batch_df, _cache_into=cached)
            write(out, dlq)
        finally:
            for f in cached or ():
                f.unpersist()

    # --------------------------------------------- archive replay path

    def replay_stream(
        self, spark: SparkSession, archive_path: str, fmt: str = "parquet"
    ) -> DataFrame:
        """Archived-envelope replay source: a streaming scan over an
        archive of Kafka envelopes (ENVELOPE_DDL — the shape the Kafka
        source yields and the standard Kafka→object-store archival
        jobs write). ``fmt="parquet"`` reads columnar archives;
        ``fmt="segments"`` reads Kafka-style binary segment files
        through Spark's file stream and one Arrow decode
        (sources/kafka_segment.stream_segments). The SAME
        consume→transform→fan-out→DLQ graph runs over either, so
        reprocessing history needs no broker: this is the replay/
        backfill half of the reference's consume-loop story
        (kaflow/applications.py:495-504), which has no offline
        equivalent there at all."""
        if fmt == "segments":
            from kaflow_spark.sources.kafka_segment import stream_segments

            return stream_segments(spark, archive_path)
        from kaflow_spark.message import ENVELOPE_DDL

        return spark.readStream.schema(ENVELOPE_DDL).parquet(archive_path)

    def run_replay(
        self,
        spark: SparkSession,
        archive_path: str,
        output_dir: str,
        checkpoint: str,
        fmt: str = "parquet",
    ):
        """Replay an envelope archive ONCE through the full pipeline
        (trigger=availableNow drains what exists, then stops), writing
        sink-topic outputs under ``{output_dir}/out`` and dead letters
        under ``{output_dir}/dlq`` as batch_id-partitioned parquet.
        Exactly-once per archive record: each micro-batch OVERWRITES
        its own ``batch_id=<n>`` subdirectory (a retried batch
        converges to the same bytes, never appends duplicates) and the
        IdempotentBatchWriter commit log skips batches that fully
        committed before a restart; rerunning with the same checkpoint
        reprocesses nothing, a fresh checkpoint replays from scratch.
        The user lifespan wraps the run, as in run_stream."""
        from kaflow_spark.streaming.exactly_once import (
            IdempotentBatchWriter,
            batch_keyed_parquet_writer,
        )

        write_out = batch_keyed_parquet_writer(f"{output_dir}/out")
        write_dlq = batch_keyed_parquet_writer(f"{output_dir}/dlq")

        def write(batch_df: DataFrame, batch_id: int) -> None:
            def write_both(out: DataFrame, dlq: DataFrame) -> None:
                _write_concurrently(
                    lambda: write_out(out, batch_id),
                    lambda: write_dlq(dlq, batch_id),
                )

            # outputs and dead letters are two writes of one batch
            self._run_micro_batch(batch_df, write_both, reuse=True)

        body = IdempotentBatchWriter(f"{checkpoint}/replay-commits", write)
        stream = self.replay_stream(spark, archive_path, fmt)
        with self.run_context():
            query = (
                stream.writeStream.foreachBatch(body)
                .trigger(availableNow=True)
                .option("checkpointLocation", checkpoint)
                .start()
            )
            query.awaitTermination()
        return query

    def _write_outputs(self, out: DataFrame, dlq: DataFrame) -> None:
        if not self.brokers:
            raise ValueError("App(brokers=...) required for Kafka sinks")

        def write_dlq() -> None:
            (
                self._dlq_records(dlq)
                .write.format("kafka")
                .option("kafka.bootstrap.servers", self.brokers)
                .option("includeHeaders", "true")
                .save()
            )

        _write_concurrently(
            lambda: (
                out.write.format("kafka")
                .option("kafka.bootstrap.servers", self.brokers)
                .save()
            ),
            write_dlq if self.dlq_topic is not None else None,
        )

    def _dlq_records(self, dlq: DataFrame) -> DataFrame:
        """Shape failed records for the DLQ topic. Failure metadata
        rides as real Kafka headers so DLQ consumers can see WHY a
        record failed without parsing the (possibly binary/garbled)
        value."""
        return dlq.select(
            F.lit(self.dlq_topic).alias("topic"),
            "value",
            "key",
            F.array(
                F.struct(
                    F.lit("error").alias("key"),
                    F.encode(
                        F.coalesce(F.col("error"), F.lit("")), "utf-8"
                    ).alias("value"),
                ),
                F.struct(
                    F.lit("source_offset").alias("key"),
                    F.encode(F.col("offset").cast("string"), "utf-8").alias(
                        "value"
                    ),
                ),
                F.struct(
                    F.lit("source_partition").alias("key"),
                    F.encode(F.col("partition").cast("string"), "utf-8").alias(
                        "value"
                    ),
                ),
            ).alias("headers"),
        )

    def asyncapi(self) -> dict[str, Any]:
        """AsyncAPI 2.6.0 document for this app's topic registry —
        the working version of the reference's dead-code builder
        (kaflow/asyncapi/_builder.py:55-86 exists but its public
        entry, kaflow/applications.py:446-460, raises
        NotImplementedError). See kaflow_spark/asyncapi.py."""
        from kaflow_spark.asyncapi import build_asyncapi

        return build_asyncapi(self)

    def asyncapi_html(self, title: str | None = None) -> str:
        """Self-contained HTML docs page for :meth:`asyncapi` using
        the official AsyncAPI web-component viewer (parity with the
        reference's ``get_asyncapi_html``, kaflow/asyncapi/docs.py:9-37,
        which over there renders the never-built document)."""
        from kaflow_spark.asyncapi import get_asyncapi_html

        return get_asyncapi_html(title or self.name, self.asyncapi())

    def describe(self) -> dict[str, Any]:
        """Topic->pipeline schema catalog: the engine's answer to the
        reference's AsyncAPI builder (which is dead code there —
        kaflow/applications.py:446-460 raises NotImplementedError).
        Returns, per topic: handler kind, sink topics, and the declared
        value/key schemas (pydantic-derived Spark DDL when available).
        """
        out: dict[str, Any] = {}
        for topic, reg in self._consumers.items():
            entry: dict[str, Any] = {"sink_topics": list(reg.sink_topics)}
            if isinstance(reg, _Consumer):
                entry["kind"] = "record_handler"
                spec = reg.spec
                if spec.value and spec.value.serde is not None:
                    schema = getattr(spec.value.serde, "spark_schema", lambda: None)()
                    entry["value_schema"] = (
                        schema.simpleString() if schema is not None else None
                    )
                    entry["value_type"] = getattr(
                        spec.value.target_type, "__name__", None
                    )
                if spec.key and spec.key.serde is not None:
                    schema = getattr(spec.key.serde, "spark_schema", lambda: None)()
                    entry["key_schema"] = (
                        schema.simpleString() if schema is not None else None
                    )
                entry["headers"] = [h.alias for h in spec.headers]
            elif isinstance(reg, _BatchConsumer):
                entry["kind"] = "batch_handler"
            else:
                entry["kind"] = "dataframe_transform"
                schema = getattr(reg.value_serde, "spark_schema", lambda: None)()
                entry["value_schema"] = (
                    schema.simpleString() if schema is not None else None
                )
            out[topic] = entry
        return out

    def run_context(self):
        """Enter the user lifespan (sync or async context manager) —
        wrapped around query start/termination and around TestClient
        sessions. Returns a sync contextmanager either way."""
        import contextlib

        app = self

        @contextlib.contextmanager
        def ctx():
            if app.lifespan is None:
                yield
                return
            cm = app.lifespan(app)
            if hasattr(cm, "__aenter__"):
                loop = asyncio.new_event_loop()
                try:
                    loop.run_until_complete(cm.__aenter__())
                    try:
                        yield
                    finally:
                        loop.run_until_complete(cm.__aexit__(None, None, None))
                finally:
                    loop.close()
            else:
                with cm:
                    yield

        return ctx()

    def run_stream(self, spark: SparkSession, checkpoint: str):
        """Start the streaming query: one Kafka scan shared by every
        topic pipeline, fan-out inside foreachBatch (exactly-once via
        checkpoint + idempotent/at-least-once Kafka sink — documented
        delta vs the reference's transactional pass-through). The user
        lifespan wraps the query's lifetime."""
        stream = self.source_stream(spark)
        with self.run_context():
            query = (
                stream.writeStream.foreachBatch(self.process_stream(stream))
                .option("checkpointLocation", checkpoint)
                .start()
            )
            query.awaitTermination()
        return query


def _write_concurrently(
    write_out: Callable[[], None], write_dlq: Callable[[], None] | None
) -> None:
    """Run ``write_out`` on the caller's thread while ``write_dlq``
    runs on a ``pyspark.InheritableThread``, so the outputs job and the
    dead-letter job of one micro-batch overlap. The thread inherits the
    caller's local properties, which keeps the DLQ job in the streaming
    query's job group (a plain thread drops ``spark.jobGroup.id``).
    Returns only after both writes end — the caller then unpersists
    what they read, and a commit marker must follow both — and
    re-raises the first error, the outputs write's before the DLQ's."""
    if write_dlq is None:
        write_out()
        return
    from pyspark import InheritableThread

    errors: list[BaseException] = []

    def side() -> None:
        try:
            write_dlq()
        except BaseException as exc:  # noqa: BLE001 — re-raised below
            errors.append(exc)

    thread = InheritableThread(target=side)
    thread.start()
    try:
        write_out()
    finally:
        thread.join()
    if errors:
        raise errors[0]


def _fan_out(
    ok: DataFrame, regs: Sequence[_Consumer | _BatchConsumer | _Transform]
) -> DataFrame | None:
    """One output row per (result × sink topic) of ``ok`` (columns
    topic/value/key/headers, topic = the source topic, which a single
    registration may omit); the reference publishes the same Message
    to every sink, kaflow/_consumer.py:218-232. The sinks are exploded
    from the topic's sink list, so a topic with several sinks is still
    ONE branch and its upstream runs once. None when no topic in
    ``regs`` has a sink."""
    sinks = [r for r in regs if r.sink_topics]
    if not sinks:
        return None
    if len(regs) == 1:
        fan = F.array(*map(F.lit, sinks[0].sink_topics))
    else:
        by_topic = F.create_map(
            *(
                c
                for r in sinks
                for c in (F.lit(r.topic), F.array(*map(F.lit, r.sink_topics)))
            )
        )
        fan = F.element_at(by_topic, F.col("topic"))
    return ok.select(F.explode(fan).alias("topic"), "value", "key", "headers")


def _is_binary(df: DataFrame, col: str) -> bool:
    return dict(df.dtypes).get(col) == "binary"
