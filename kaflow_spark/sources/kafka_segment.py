"""Kafka-style segment archives as Spark frames, batch and stream.

One Arrow decoder (`decode_segment`, over `segments.iter_buffer`)
serves both halves, and the frames are ENVELOPE_DDL-shaped, so they
drop straight into `App.process_batch` / `App.run_replay`. This is the
broker-less stand-in for the reference's live Kafka source
(`kaflow/applications.py` consumer).

Batch, ``spark.read.format("kafka_segment")`` (`read_segments`): a
Spark 4 Python DataSource with one InputPartition per segment FILE, so
on a cluster each executor reads its own files and the driver reads
only the few-byte per-file headers for planning.
- topic-equality/IN pushdown skips whole files at planning time
  (`pushFilters`), the custom-source analog of partition pruning;
- offset/timestamp range predicates skip files whose sidecar min/max
  index (`segments.write_index` — the analog of a Kafka segment's
  .index/.timeindex) proves no overlap; the predicates stay in the
  plan for row-level re-application, exactly like parquet row-group
  pruning.

Stream (`stream_segments`): Spark's own file stream,
``readStream.format("binaryFile")`` over ``*.seg``, followed by one
``mapInArrow`` decode. The JVM source lists the archive and records
every file it hands out in the checkpoint's file log, so a restart
reads only files it has not seen -> exactly-once replay per record
over an append-only archive. binaryFile reads each file whole into
one value, which caps a streamed segment file at 2 GiB (Kafka's
default segment size is 1 GiB).
"""

from __future__ import annotations

import datetime as _dt
import itertools
import os
from collections.abc import Iterator, Sequence
from dataclasses import dataclass
from typing import Any

import pyarrow as pa
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

from kaflow_spark.message import ENVELOPE_DDL
from kaflow_spark.sources.segments import (
    iter_buffer,
    list_segments,
    read_header,
    read_index,
)

# canonical envelope column order, with each column's DDL and Arrow
# type; the `columns` option may list any subset (any order) and the
# emitted schema keeps THIS order so the frame shape is deterministic
# regardless of how the option was written
_ENVELOPE_FIELDS: dict[str, tuple[str, pa.DataType]] = {
    "topic": ("string", pa.string()),
    "partition": ("int", pa.int32()),
    "offset": ("bigint", pa.int64()),
    "timestamp": ("timestamp", pa.timestamp("us", tz="UTC")),
    "timestamp_type": ("int", pa.int32()),
    "key": ("binary", pa.binary()),
    "value": ("binary", pa.binary()),
    "headers": (
        "array<struct<key: string, value: binary>>",
        pa.list_(pa.struct([("key", pa.string()), ("value", pa.binary())])),
    ),
}
_PAYLOAD_COLS = {"key", "value", "headers"}
# records per Arrow batch: bounds the Python objects alive per file
_BATCH_RECORDS = 10_000


def _parse_columns(options: dict) -> list[str] | None:
    """Validated, canonically-ordered projection from the ``columns``
    option, or None for the full envelope. This is the explicit
    pruning path: this Spark build's Python DataSource API does not
    forward Catalyst's column pruning to the reader (reader() receives
    the full schema and BatchScan lists every column even under a
    narrow Project)."""
    raw = options.get("columns")
    if raw is None:
        return None
    want = {c.strip() for c in str(raw).split(",") if c.strip()}
    bad = want - set(_ENVELOPE_FIELDS)
    if bad:
        raise ValueError(
            f"kafka_segment: unknown columns {sorted(bad)}; "
            f"envelope columns are {sorted(_ENVELOPE_FIELDS)}"
        )
    if not want:
        raise ValueError("kafka_segment: columns option is empty")
    return [n for n in _ENVELOPE_FIELDS if n in want]


def _parse_corrupt(options: dict, columns: list[str] | None) -> str:
    """Corruption policy for a reader. An explicit ``corrupt`` option
    ("record" | "raise") wins. The default is "record" (torn tail ->
    one CORRUPT_HEADER sentinel row that App.process_batch DLQ-routes)
    — UNLESS the projection strips the ``headers`` column: then the
    sentinel would surface as an unmarked (offset=-1, 1970) row inside
    offset/lag audits, so the safe default flips to "raise"."""
    raw = options.get("corrupt")
    if raw is not None:
        mode = str(raw).strip().lower()
        if mode not in ("record", "raise"):
            raise ValueError(
                f"kafka_segment: corrupt option must be 'record' or "
                f"'raise', got {raw!r}"
            )
        return mode
    marker_visible = columns is None or "headers" in columns
    return "record" if marker_visible else "raise"


def decode_segment(
    buf: bytes,
    path: str,
    columns: list[str] | None = None,
    corrupt: str = "record",
) -> Iterator[pa.RecordBatch]:
    """Arrow batches, in envelope (or projected, canonical) column
    order, of one whole segment file held in ``buf``. A projection
    without key/value/headers walks record length prefixes only and
    never materializes payload bytes. ``corrupt="record"`` turns a
    torn tail into one CORRUPT_HEADER sentinel row that
    `App.process_batch` DLQ-routes, instead of an exception killing
    the whole batch/micro-batch (see `segments.iter_buffer`)."""
    names = columns or list(_ENVELOPE_FIELDS)
    schema = pa.schema([(n, _ENVELOPE_FIELDS[n][1]) for n in names])
    records = iter_buffer(
        buf, path, payload=bool(_PAYLOAD_COLS & set(names)), corrupt=corrupt
    )
    while chunk := list(itertools.islice(records, _BATCH_RECORDS)):
        cols = dict(zip(_ENVELOPE_FIELDS, zip(*chunk)))
        if "timestamp" in names:
            cols["timestamp"] = [ms * 1000 for ms in cols["timestamp"]]
        yield pa.RecordBatch.from_arrays(
            [pa.array(cols[n], f.type) for n, f in zip(names, schema)],
            schema=schema,
        )


def _decode_files(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """``mapInArrow`` body over binaryFile rows (path, content)."""
    for batch in batches:
        for row in batch.to_pylist():
            yield from decode_segment(row["content"], row["path"])


@dataclass
class SegmentPartition(InputPartition):
    path: str


def _topics_from_filters(filters: Sequence[Filter]) -> set[str] | None:
    """The set of topics the pushed filters allow, or None = all."""
    allowed: set[str] | None = None
    for f in filters:
        if isinstance(f, EqualTo) and f.attribute == ("topic",):
            vals = {f.value}
        elif isinstance(f, In) and f.attribute == ("topic",):
            vals = set(f.value)
        else:
            continue
        allowed = vals if allowed is None else (allowed & vals)
    return allowed


def _to_ms(v: Any, ceil: bool = False) -> int:
    """Filter literal -> ms-since-epoch, rounded down (or up with
    ``ceil``) so the bound stays conservative. Naive datetimes are
    session-TZ UTC."""
    if not isinstance(v, _dt.datetime):
        return int(v)
    if v.tzinfo is None:
        v = v.replace(tzinfo=_dt.timezone.utc)
    us = int(v.timestamp() * 1_000_000)
    return -((-us) // 1000) if ceil else us // 1000


def _bounds_from_filters(
    filters: Sequence[Filter],
) -> dict[str, tuple[int | None, int | None]]:
    """Conservative inclusive (lo, hi) bounds per range column
    ("offset" in record units, "timestamp" in ms) implied by the
    pushed filters. Used ONLY to skip whole segment files whose
    sidecar min/max range cannot overlap — Spark re-applies the
    predicates row-level, so widening is always safe and timestamp
    literals are floor/ceil'd to the sidecar's ms grain."""
    bounds: dict[str, tuple[int | None, int | None]] = {}
    for f in filters:
        if not isinstance(
            f, (EqualTo, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual)
        ):
            continue
        if f.attribute == ("offset",):
            col, is_ts = "offset", False
        elif f.attribute == ("timestamp",):
            col, is_ts = "timestamp", True
        else:
            continue
        if not isinstance(f.value, (int, _dt.datetime)):
            continue  # unexpected literal type: never skip on it
        lo, hi = bounds.get(col, (None, None))
        if isinstance(f, EqualTo):
            flo = _to_ms(f.value) if is_ts else int(f.value)
            fhi = _to_ms(f.value, ceil=True) if is_ts else int(f.value)
            lo = flo if lo is None else max(lo, flo)
            hi = fhi if hi is None else min(hi, fhi)
        elif isinstance(f, (GreaterThan, GreaterThanOrEqual)):
            flo = _to_ms(f.value) if is_ts else int(f.value)
            if isinstance(f, GreaterThan) and not is_ts:
                flo += 1  # exact for integer offsets; ts stays widened
            lo = flo if lo is None else max(lo, flo)
        else:  # LessThan / LessThanOrEqual
            fhi = _to_ms(f.value, ceil=True) if is_ts else int(f.value)
            if isinstance(f, LessThan) and not is_ts:
                fhi -= 1
            hi = fhi if hi is None else min(hi, fhi)
        bounds[col] = (lo, hi)
    return bounds


def _index_overlaps(
    idx: tuple[int, int, int, int, int] | None,
    bounds: dict[str, tuple[int | None, int | None]],
) -> bool:
    """False only when the sidecar PROVES no record can match. A
    missing sidecar (idx None) always overlaps."""
    if idx is None:
        return True
    min_off, max_off, min_ts, max_ts, _n = idx
    for col, (file_lo, file_hi) in (
        ("offset", (min_off, max_off)),
        ("timestamp", (min_ts, max_ts)),
    ):
        lo, hi = bounds.get(col, (None, None))
        if lo is None and hi is None:
            continue
        if file_lo > file_hi:
            return False  # empty segment: nothing can match a bound
        if lo is not None and file_hi < lo:
            return False
        if hi is not None and file_lo > hi:
            return False
    return True


class SegmentBatchReader(DataSourceReader):
    def __init__(self, options: dict) -> None:
        self.directory = options["path"]
        self.columns = _parse_columns(options)
        self.corrupt = _parse_corrupt(options, self.columns)
        self._topics: set[str] | None = None
        self._bounds: dict[str, tuple[int | None, int | None]] = {}

    def pushFilters(self, filters: list[Filter]) -> list[Filter]:
        self._topics = _topics_from_filters(filters)
        self._bounds = _bounds_from_filters(filters)
        # topic-equality/IN filters are fully absorbed (file skipping in
        # partitions()). offset/timestamp range filters are absorbed
        # PARTIALLY — they skip non-overlapping files via the sidecar
        # min/max index (parquet row-group pruning, one level up) but
        # stay in the returned list so Spark re-applies them row-level
        # inside kept files. Everything else stays in Spark's plan.
        return [
            f
            for f in filters
            if not (isinstance(f, (EqualTo, In)) and f.attribute == ("topic",))
        ]

    def partitions(self) -> Sequence[InputPartition]:
        paths = list_segments(self.directory)
        if self._topics is not None:
            paths = [p for p in paths if read_header(p)[0] in self._topics]
        if self._bounds:
            paths = [p for p in paths if _index_overlaps(read_index(p), self._bounds)]
        # empty archives still need one no-op partition
        return [SegmentPartition(p) for p in paths] or [SegmentPartition("")]

    def read(self, partition: SegmentPartition) -> Iterator[pa.RecordBatch]:
        if not partition.path:
            return iter(())
        with open(partition.path, "rb") as f:
            buf = f.read()
        return decode_segment(buf, partition.path, self.columns, self.corrupt)


@dataclass
class SegmentCommit(WriterCommitMessage):
    paths: tuple[str, ...] = ()


class SegmentWriter(DataSourceWriter):
    """``df.write.format("kafka_segment")`` — each task groups its rows
    by (topic, partition) and writes one segment file per group, named
    ``{taskId}-{topic}-{partition}.seg`` so concurrent tasks never
    collide and no name starts with ``_`` or ``.`` (Kafka topics such
    as ``_schemas`` do, and `stream_segments` refuses such names).
    Executor-side, no driver data movement; `abort` deletes every file
    the failed attempt reported. Rows must be envelope-shaped
    (ENVELOPE_DDL) — exactly what the batch/stream readers and
    `App.process_batch` produce/consume."""

    def __init__(self, options: dict, overwrite: bool) -> None:
        self.directory = options["path"]
        self.overwrite = overwrite

    def write(self, iterator: Iterator) -> "SegmentCommit":
        from pyspark import TaskContext

        from kaflow_spark.sources.segments import write_segment

        tid = TaskContext.get().partitionId() if TaskContext.get() else 0
        groups: dict[tuple[str, int], list[dict]] = {}
        for row in iterator:
            ts = row["timestamp"]
            ms = int(ts.timestamp() * 1000) if ts is not None else 0
            headers = [
                (h["key"], bytes(h["value"]) if h["value"] is not None else None)
                for h in (row["headers"] or [])
            ]
            part = row["partition"] if row["partition"] is not None else 0
            groups.setdefault((row["topic"], part), []).append(
                {
                    "offset": row["offset"] if row["offset"] is not None else 0,
                    "ts_ms": ms,
                    "timestamp_type": row["timestamp_type"] or 0,
                    "key": bytes(row["key"]) if row["key"] is not None else None,
                    "value": bytes(row["value"]) if row["value"] is not None else None,
                    "headers": headers,
                }
            )
        os.makedirs(self.directory, exist_ok=True)
        paths = []
        for (topic, part), recs in sorted(groups.items()):
            p = os.path.join(self.directory, f"{tid:05d}-{topic}-{part}.seg")
            write_segment(p, topic, part, recs)
            paths.append(p)
        return SegmentCommit(tuple(paths))

    def commit(self, messages: list) -> None:
        pass  # files are final on task success

    def abort(self, messages: list) -> None:
        for m in messages:
            if m is None:
                continue
            for p in m.paths:
                for victim in (p, p + ".idx"):
                    try:
                        os.remove(victim)
                    except OSError:
                        pass


class KafkaSegmentDataSource(DataSource):
    """``spark.read.format("kafka_segment").option("path", dir)`` —
    envelope-schema records from a segment archive directory (streams
    go through `stream_segments`)."""

    @classmethod
    def name(cls) -> str:
        return "kafka_segment"

    def schema(self) -> str:
        cols = _parse_columns(dict(self.options))
        if cols is None:
            return ENVELOPE_DDL
        return ", ".join(f"{c} {_ENVELOPE_FIELDS[c][0]}" for c in cols)

    def reader(self, schema: StructType) -> SegmentBatchReader:
        return SegmentBatchReader(dict(self.options))

    def writer(self, schema: StructType, overwrite: bool) -> SegmentWriter:
        return SegmentWriter(dict(self.options), overwrite)


def register(spark: Any) -> None:
    spark.dataSource.register(KafkaSegmentDataSource)


def read_segments(
    spark: Any,
    directory: str,
    columns: Sequence[str] | None = None,
    corrupt: str | None = None,
):
    """Batch envelope frame from a segment archive. ``columns``
    projects at the SOURCE (canonical envelope order): a metadata-only
    projection never materializes key/value/header bytes — use it for
    offset/lag audits over large archives. ``corrupt`` sets the torn-
    tail policy ("record" = DLQ-routable sentinel row, "raise" = fail
    fast); the default is "record" for full-envelope reads and "raise"
    when the projection strips the ``headers`` marker column (see
    `_parse_corrupt`).

    .. versionchanged:: round 7
       Projected reads (``columns=...`` without ``headers``) over an
       archive containing a torn tail now RAISE by default instead of
       returning an unmarked (offset=-1, epoch-1970) sentinel row.
       Pipelines that want the old best-effort behavior must opt back
       in explicitly with ``corrupt="record"`` (and should include
       ``headers`` so the sentinel is identifiable)."""
    register(spark)
    r = spark.read.format("kafka_segment").option("path", directory)
    if columns is not None:
        r = r.option("columns", ",".join(columns))
    if corrupt is not None:
        r = r.option("corrupt", corrupt)
    return r.load()


_BINARY_FILE_DDL = "path string, modificationTime timestamp, length bigint, content binary"


def stream_segments(spark: Any, directory: str):
    """Streaming envelope frame from a segment archive: Spark's file
    stream over the ``*.seg`` files, decoded by one ``mapInArrow``.
    ``maxFileAge`` is lifted to Spark's own no-limit value because the
    7-day default would silently skip a file appended after a restart
    whose mtime is a week older than the newest file already seen —
    archived segments keep their original mtimes.

    The stream must read exactly the files `list_segments` lists, but
    Spark's listing hides names starting with ``_`` or ``.`` and
    descends into subdirectories. So the archive must be flat, with no
    such names (`SegmentWriter` never writes one): a ValueError at
    start names any ``.seg`` file that breaks this, and one appended
    later with such a name is never read."""
    bad = []
    for root, dirs, files in os.walk(directory):
        dirs[:] = [d for d in dirs if d[0] not in "._"]  # hidden from both
        for f in files:
            if f.endswith(".seg") and (root != directory or f[0] in "._"):
                bad.append(os.path.join(root, f))
    if bad:
        raise ValueError(
            f"stream_segments: {directory} must be a flat archive without "
            f"'_'/'.'-prefixed .seg names; found {sorted(bad)}"
        )
    return (
        spark.readStream.format("binaryFile")
        .schema(_BINARY_FILE_DDL)
        .option("pathGlobFilter", "*.seg")
        .option("maxFileAge", f"{2**63 - 1}ms")
        .load(directory)
        .select("path", "content")
        .mapInArrow(_decode_files, ENVELOPE_DDL)
    )
