"""Kafka-style segment archive files (pure-python format layer).

The reference consumes live Kafka topics (`kaflow/applications.py` —
aiokafka consumer). Without a broker, the durable equivalent is a
*segment archive*: a directory of append-only binary files, one
topic-partition span per file, holding full record envelopes (offset,
timestamp, key, value, headers) — the same shape a Kafka log segment
stores on a broker's disk. `kafka_segment.py` decodes them to Arrow
for both its batch reader and its file stream.

Format (all integers big-endian):

    file   := magic topic_hdr partition_i32 record*
    magic  := b"KSEG1\\x00"
    topic_hdr := u16 len + utf8 bytes
    record := offset_i64  ts_ms_i64  tstype_i32
              key_i32-len  key-bytes      (-1 length => NULL)
              val_i32-len  val-bytes      (-1 length => NULL)
              nheaders_i32
              (u16 hkey-len + utf8, val_i32-len + bytes)*

The per-file topic/partition header is what makes topic-equality
pushdown a file SKIP (the reader never opens non-matching segments) —
mirroring how Kafka consumers subscribe per topic.
"""

from __future__ import annotations

import os
import struct
from collections.abc import Iterable, Iterator
from typing import Any

MAGIC = b"KSEG1\x00"

_I32 = struct.Struct(">i")
_U16 = struct.Struct(">H")
_REC_FIXED = struct.Struct(">qqi")  # offset, ts_ms, timestamp_type


def _write_bytes(out: list[bytes], b: bytes | None) -> None:
    if b is None:
        out.append(_I32.pack(-1))
    else:
        out.append(_I32.pack(len(b)))
        out.append(b)


def encode_record(
    offset: int,
    ts_ms: int,
    key: bytes | None,
    value: bytes | None,
    headers: Iterable[tuple[str, bytes | None]] = (),
    timestamp_type: int = 0,
) -> bytes:
    parts: list[bytes] = [_REC_FIXED.pack(offset, ts_ms, timestamp_type)]
    _write_bytes(parts, key)
    _write_bytes(parts, value)
    hdrs = list(headers)
    parts.append(_I32.pack(len(hdrs)))
    for hk, hv in hdrs:
        kb = hk.encode("utf-8")
        parts.append(_U16.pack(len(kb)))
        parts.append(kb)
        _write_bytes(parts, hv)
    return b"".join(parts)


def write_segment(
    path: str,
    topic: str,
    partition: int,
    records: Iterable[dict[str, Any]],
) -> int:
    """Write one segment file; returns the record count.

    Each record dict: offset, ts_ms, key, value, headers (list of
    (str, bytes) pairs), optional timestamp_type.
    """
    n = 0
    tb = topic.encode("utf-8")
    min_off = min_ts = max_off = max_ts = None
    with open(path, "wb") as f:
        f.write(MAGIC)
        f.write(_U16.pack(len(tb)))
        f.write(tb)
        f.write(_I32.pack(partition))
        for r in records:
            f.write(
                encode_record(
                    r["offset"],
                    r["ts_ms"],
                    r.get("key"),
                    r.get("value"),
                    r.get("headers", ()),
                    r.get("timestamp_type", 0),
                )
            )
            n += 1
            off, ts = r["offset"], r["ts_ms"]
            min_off = off if min_off is None else min(min_off, off)
            max_off = off if max_off is None else max(max_off, off)
            min_ts = ts if min_ts is None else min(min_ts, ts)
            max_ts = ts if max_ts is None else max(max_ts, ts)
    write_index(path, min_off, max_off, min_ts, max_ts, n)
    return n


# Sidecar min/max index — the analog of a Kafka segment's .index/
# .timeindex companions: a fixed-size stats file written next to each
# segment so a bounded replay (offset >= N, timestamp between ...)
# can skip whole non-overlapping files at PLANNING time, reading a
# handful of bytes per file instead of the file. Advisory only: a
# missing/torn sidecar disables skipping for that file (never
# correctness), and Spark re-applies the range predicates row-level.
INDEX_MAGIC = b"KIDX1\x00"
INDEX_SUFFIX = ".idx"
_IDX = struct.Struct(">qqqqq")  # min_offset, max_offset, min_ts, max_ts, n


def index_path(path: str) -> str:
    return path + INDEX_SUFFIX


def write_index(
    path: str,
    min_off: int | None,
    max_off: int | None,
    min_ts: int | None,
    max_ts: int | None,
    n: int,
) -> None:
    """Write the sidecar stats file for the segment at ``path``. An
    empty segment records an inverted (0, -1) range, so bounded reads
    skip it outright."""
    with open(index_path(path), "wb") as f:
        f.write(INDEX_MAGIC)
        f.write(
            _IDX.pack(
                min_off if min_off is not None else 0,
                max_off if max_off is not None else -1,
                min_ts if min_ts is not None else 0,
                max_ts if max_ts is not None else -1,
                n,
            )
        )


def read_index(path: str) -> tuple[int, int, int, int, int] | None:
    """(min_offset, max_offset, min_ts_ms, max_ts_ms, n) for the
    segment at ``path`` (NOT the sidecar path), or None when the
    sidecar is absent or unreadable — callers must then treat the
    file as possibly-overlapping (no skip)."""
    try:
        with open(index_path(path), "rb") as f:
            if f.read(len(INDEX_MAGIC)) != INDEX_MAGIC:
                return None
            raw = f.read(_IDX.size)
            if len(raw) != _IDX.size:
                return None
            return _IDX.unpack(raw)
    except OSError:
        return None


def parse_header(buf: bytes, path: str) -> tuple[str, int, int]:
    """(topic, partition, data_offset) from the leading bytes of a
    segment file."""
    if buf[: len(MAGIC)] != MAGIC:
        raise ValueError(f"{path}: not a KSEG1 segment file")
    pos = len(MAGIC)
    if pos + 2 > len(buf):
        raise SegmentCorruption(path, pos, "truncated topic header")
    (tlen,) = _U16.unpack_from(buf, pos)
    pos += 2
    if pos + tlen + 4 > len(buf):
        raise SegmentCorruption(path, pos, "truncated topic header")
    topic = buf[pos : pos + tlen].decode("utf-8")
    (partition,) = _I32.unpack_from(buf, pos + tlen)
    return topic, partition, pos + tlen + 4


def read_header(path: str) -> tuple[str, int, int]:
    """`parse_header` of a file on disk; reads only the header bytes —
    this is what pushdown file-skipping costs."""
    with open(path, "rb") as f:
        head = f.read(len(MAGIC) + 2)
        if len(head) == len(MAGIC) + 2 and head[: len(MAGIC)] == MAGIC:
            head += f.read(_U16.unpack_from(head, len(MAGIC))[0] + 4)
    return parse_header(head, path)


# header key marking a corruption-sentinel record (iter_segment
# corrupt="record" mode); App.process_batch routes rows carrying it
# straight to the DLQ without dispatching a handler
CORRUPT_HEADER = "__segment_corrupt__"


class SegmentCorruption(ValueError):
    """A segment file's byte stream stopped making sense mid-record
    (truncated tail, impossible length prefix, undecodable header
    key). Carries the position where parsing derailed."""

    def __init__(self, path: str, pos: int, why: str) -> None:
        super().__init__(f"{path}: corrupt record at byte {pos}: {why}")
        self.pos = pos
        self.why = why


def _skip_sized(buf: bytes, pos: int, end: int) -> int:
    if pos + 4 > end:
        raise SegmentCorruption("", pos, "truncated length prefix")
    (n,) = _I32.unpack_from(buf, pos)
    pos += 4
    if n < 0:
        return pos
    if pos + n > end:
        raise SegmentCorruption("", pos, f"length {n} overruns file")
    return pos + n


def _read_sized(buf: bytes, pos: int, end: int) -> tuple[bytes | None, int]:
    npos = _skip_sized(buf, pos, end)
    (n,) = _I32.unpack_from(buf, pos)
    return (None if n < 0 else buf[pos + 4 : npos]), npos


def iter_segment(
    path: str,
    *,
    payload: bool = True,
    corrupt: str = "raise",
) -> Iterator[tuple[str, int, int, int, int, bytes | None, bytes | None, list]]:
    """`iter_buffer` over the segment file at ``path``."""
    with open(path, "rb") as f:
        buf = f.read()
    return iter_buffer(buf, path, payload=payload, corrupt=corrupt)


def iter_buffer(
    buf: bytes,
    path: str,
    *,
    payload: bool = True,
    corrupt: str = "raise",
) -> Iterator[tuple[str, int, int, int, int, bytes | None, bytes | None, list]]:
    """Yield (topic, partition, offset, ts_ms, tstype, key, value,
    headers) for every record of one whole segment file held in
    ``buf`` (``path`` only names it in errors). This is the one record
    walker: `iter_segment`, the batch reader and the stream decoder
    all run it.

    ``payload=False`` is the metadata-only projection path: record
    boundaries are found by walking the length prefixes, but key,
    value, and header bytes are never sliced out of the buffer and
    header keys are never utf-8 decoded — a metadata scan (offset
    audits, lag/throughput accounting) pays length arithmetic only.
    The payload fields then yield as (None, None, []).

    ``corrupt`` controls what a torn byte stream does (every length
    prefix and slice is bounds-checked, so a truncated tail can never
    silently yield a wrong record):

    - ``"raise"`` (default): raise :class:`SegmentCorruption` — the
      right behavior for tooling that must not paper over damage;
    - ``"record"``: emit ONE final sentinel record carrying the raw
      undecodable tail as ``value`` and a ``CORRUPT_HEADER`` header
      naming the parse failure (offset -1, tstype -1), then stop.
      This is the pipeline route: the segment readers use it so a
      torn archive file flows into ``App.process_batch``'s DLQ with
      its bytes preserved for forensics, instead of killing the batch.
    """
    if corrupt not in ("raise", "record"):
        raise ValueError(f"corrupt={corrupt!r}: expected 'raise' or 'record'")
    topic, partition, pos = parse_header(buf, path)
    end = len(buf)
    while pos < end:
        rec_start = pos
        key = value = None
        headers: list = []
        try:
            if pos + _REC_FIXED.size > end:
                raise SegmentCorruption(path, pos, "truncated record head")
            offset, ts_ms, tstype = _REC_FIXED.unpack_from(buf, pos)
            pos += _REC_FIXED.size
            if payload:
                key, pos = _read_sized(buf, pos, end)
                value, pos = _read_sized(buf, pos, end)
            else:
                pos = _skip_sized(buf, _skip_sized(buf, pos, end), end)
            if pos + 4 > end:
                raise SegmentCorruption(path, pos, "truncated header count")
            (nh,) = _I32.unpack_from(buf, pos)
            pos += 4
            if nh < 0:
                raise SegmentCorruption(path, pos, f"negative header count {nh}")
            for _ in range(nh):
                if pos + 2 > end:
                    raise SegmentCorruption(path, pos, "truncated header key")
                (klen,) = _U16.unpack_from(buf, pos)
                pos += 2
                if pos + klen > end:
                    raise SegmentCorruption(path, pos, "header key overruns file")
                if not payload:
                    pos = _skip_sized(buf, pos + klen, end)
                    continue
                try:
                    hk = buf[pos : pos + klen].decode("utf-8")
                except UnicodeDecodeError as e:
                    raise SegmentCorruption(path, pos, f"header key not utf-8: {e}")
                hv, pos = _read_sized(buf, pos + klen, end)
                headers.append((hk, hv))
        except SegmentCorruption as e:
            if not e.args[0].startswith(path):
                e = SegmentCorruption(path, e.pos, e.why)
            if corrupt == "raise":
                raise e from None
            yield (
                topic,
                partition,
                -1,
                0,
                -1,
                None,
                bytes(buf[rec_start:]),
                [(CORRUPT_HEADER, str(e).encode("utf-8"))],
            )
            return
        yield topic, partition, offset, ts_ms, tstype, key, value, headers


def list_segments(directory: str) -> list[str]:
    """Sorted .seg paths directly in ``directory`` — lexicographic, so
    stable across listings."""
    return sorted(
        os.path.join(directory, f)
        for f in os.listdir(directory)
        if f.endswith(".seg")
    )
