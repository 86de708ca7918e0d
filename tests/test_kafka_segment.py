"""Kafka-segment archive source: format roundtrip, Python DataSource
batch reads, file-stream reads, topic pushdown file-skip, and the
envelope dropping into the app pipeline."""

from __future__ import annotations

import json
import os
import re

import pytest
from pyspark.sql import functions as F
from pyspark.sql.datasource import EqualTo, In

from kaflow_spark.app import App
from kaflow_spark.message import Message
from kaflow_spark.params import FromValue, Json

from kaflow_spark.sources.kafka_segment import (
    SegmentBatchReader,
    read_segments,
    stream_segments,
)
from kaflow_spark.sources.segments import (
    iter_segment,
    list_segments,
    read_header,
    write_segment,
)


def _recs(topic: str, n: int, base_offset: int = 0):
    for i in range(n):
        yield {
            "offset": base_offset + i,
            "ts_ms": 1_700_000_000_000 + i * 1000,
            "key": f"k{i}".encode() if i % 3 else None,
            "value": json.dumps({"topic": topic, "i": base_offset + i}).encode(),
            "headers": [("corr", f"c{i}".encode()), ("none", None)] if i % 2 else [],
        }


@pytest.fixture()
def archive(tmp_path):
    d = tmp_path / "arch"
    d.mkdir()
    write_segment(str(d / "a-0-000.seg"), "clicks", 0, _recs("clicks", 5))
    write_segment(str(d / "a-0-001.seg"), "clicks", 0, _recs("clicks", 3, 5))
    write_segment(str(d / "b-0-000.seg"), "views", 0, _recs("views", 4))
    return str(d)


def test_format_roundtrip(archive):
    paths = list_segments(archive)
    assert len(paths) == 3
    topic, part, _ = read_header(paths[0])
    assert (topic, part) == ("clicks", 0)
    rows = list(iter_segment(paths[0]))
    assert len(rows) == 5
    t, p, off, ts, tstype, key, val, hdrs = rows[1]
    assert (t, off) == ("clicks", 1)
    assert key == b"k1"
    assert json.loads(val)["i"] == 1
    assert dict(hdrs)["corr"] == b"c1"
    assert dict(hdrs)["none"] is None
    # null key on i % 3 == 0
    assert rows[0][5] is None


def test_batch_read(spark, archive):
    df = read_segments(spark, archive)
    assert df.count() == 12
    assert set(df.columns) == {
        "topic", "partition", "offset", "timestamp",
        "timestamp_type", "key", "value", "headers",
    }
    clicks = df.filter(F.col("topic") == "clicks").orderBy("offset")
    rows = clicks.collect()
    assert [r["offset"] for r in rows] == list(range(8))
    assert rows[1]["key"] == b"k1"
    assert rows[0]["key"] is None
    hdrs = {h["key"]: h["value"] for h in rows[1]["headers"]}
    assert hdrs["corr"] == b"c1"
    # timestamps decode as UTC datetimes
    assert rows[0]["timestamp"].year == 2023


def test_topic_pushdown_skips_files(archive):
    r = SegmentBatchReader({"path": archive})
    remaining = r.pushFilters([EqualTo(("topic",), "views")])
    assert remaining == []  # fully absorbed
    parts = r.partitions()
    assert len(parts) == 1 and parts[0].path.endswith("b-0-000.seg")

    r2 = SegmentBatchReader({"path": archive})
    r2.pushFilters([In(("topic",), ("clicks", "nope"))])  # In.value is the tuple
    assert len(r2.partitions()) == 2

    # offset/timestamp filters are returned to Spark for row-level
    # re-application (partial absorption: they also skip files via the
    # sidecar index — see the dedicated tests below)
    r3 = SegmentBatchReader({"path": archive})
    keep = r3.pushFilters([EqualTo(("offset",), 1)])
    assert len(keep) == 1
    # offset 1 exists in a-0-000 (0-4) and b-0-000 (0-3); a-0-001 (5-7)
    # is proven non-overlapping by its sidecar and skipped
    assert len(r3.partitions()) == 2


def test_offset_pushdown_skips_files(archive):
    from pyspark.sql.datasource import GreaterThanOrEqual

    r = SegmentBatchReader({"path": archive})
    keep = r.pushFilters([GreaterThanOrEqual(("offset",), 5)])
    assert len(keep) == 1  # stays in Spark's plan for row-level filtering
    parts = r.partitions()
    # only a-0-001 holds offsets >= 5 (sidecar ranges: 0-4, 5-7, 0-3)
    assert len(parts) == 1 and parts[0].path.endswith("a-0-001.seg")


def test_timestamp_pushdown_skips_files(archive):
    import datetime as dt

    from pyspark.sql.datasource import GreaterThanOrEqual

    # records carry ts_ms = 1_700_000_000_000 + i*1000 with i
    # restarting per file: a-0-000 spans +0..4s, a-0-001 +0..2s,
    # b-0-000 +0..3s — a cut at +4s proves only a-0-000 overlaps
    cut = dt.datetime.fromtimestamp(1_700_000_004, tz=dt.timezone.utc)
    r = SegmentBatchReader({"path": archive})
    r.pushFilters([GreaterThanOrEqual(("timestamp",), cut)])
    parts = r.partitions()
    assert len(parts) == 1 and parts[0].path.endswith("a-0-000.seg")


def test_bounded_replay_missing_sidecar_never_skips(archive):
    import os

    from pyspark.sql.datasource import GreaterThanOrEqual

    # strip one non-overlapping file's sidecar: skipping must be
    # disabled for THAT file (advisory index, never correctness)
    os.remove(os.path.join(archive, "a-0-000.seg.idx"))
    r = SegmentBatchReader({"path": archive})
    r.pushFilters([GreaterThanOrEqual(("offset",), 5)])
    kept = sorted(p.path.rsplit("/", 1)[-1] for p in r.partitions())
    assert kept == ["a-0-000.seg", "a-0-001.seg"]


def test_bounded_replay_end_to_end(spark, archive):
    # bounded replay: rows are exact AND the scan planned only the
    # overlapping segment (asserted at reader level above)
    df = read_segments(spark, archive).filter(
        (F.col("topic") == "clicks") & (F.col("offset") >= 5) & (F.col("offset") < 7)
    )
    assert [r["offset"] for r in df.orderBy("offset").collect()] == [5, 6]


def test_batch_filter_end_to_end(spark, archive):
    df = read_segments(spark, archive).filter(F.col("topic") == "views")
    assert df.count() == 4
    assert {r["topic"] for r in df.select("topic").distinct().collect()} == {"views"}


def test_stream_read_and_incremental_restart(spark, archive, tmp_path):
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def run_once():
        q = (
            stream_segments(spark, archive)
            .selectExpr("topic", "offset", "CAST(value AS STRING) AS v")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return spark.read.parquet(out).count()

    assert run_once() == 12
    # append a new segment: the checkpointed restart processes ONLY the
    # new file (exactly-once per record across restarts)
    write_segment(
        f"{archive}/c-0-002.seg", "clicks", 0, _recs("clicks", 2, 100)
    )
    assert run_once() == 14
    # a segment appended with an mtime far older than every file seen
    # so far (a restored archive keeps its original mtimes) is still
    # new to the restarted stream — the file stream's 7-day maxFileAge
    # default would drop it silently
    import os
    import time

    old = f"{archive}/d-0-003.seg"
    write_segment(old, "clicks", 0, _recs("clicks", 2, 200))
    month_ago = time.time() - 30 * 86400
    os.utime(old, (month_ago, month_ago))
    assert run_once() == 16
    got = spark.read.parquet(out)
    assert got.count() == got.dropDuplicates(["topic", "offset"]).count()


def test_envelope_into_app_pipeline(spark, archive):
    """Segment envelopes drive the app surface exactly like TestClient
    frames do — the broker-less Kafka-source replacement."""
    app = App("seg-test")

    @app.consume(topic="clicks", sink_topics=("doubled",))
    def handle(value: FromValue[Json]) -> Message:
        return Message(value=json.dumps({"i2": value["i"] * 2}).encode())

    env = read_segments(spark, archive)
    outs, dlq = app.process_batch(env)
    rows = outs.collect()
    assert {r["topic"] for r in rows} == {"doubled"}
    out = [json.loads(bytes(r["value"])) for r in rows]
    assert sorted(o["i2"] for o in out) == [i * 2 for i in range(8)]
    assert dlq.count() == 0


def test_run_replay_from_segments(spark, archive, tmp_path):
    """Full pipeline replay straight off a segment archive via
    fmt='segments' — the broker-less Kafka consume loop end to end:
    Spark's file stream + Arrow decode -> consume/serde -> fan-out ->
    DLQ -> exactly-once parquet outputs."""
    app = App("seg-replay")

    @app.consume(topic="clicks", sink_topics=("clicks.out",))
    def handle(value: FromValue[Json]) -> Message:
        return Message(value=json.dumps({"i2": value["i"] * 2}).encode())

    # one malformed record lands in the DLQ
    write_segment(
        f"{archive}/z-bad.seg",
        "clicks",
        0,
        [{"offset": 999, "ts_ms": 1_700_000_100_000, "value": b"{broken"}],
    )

    outdir = str(tmp_path / "replayed")
    ckpt = str(tmp_path / "ckpt")
    app.run_replay(spark, archive, outdir, ckpt, fmt="segments")

    out = spark.read.parquet(f"{outdir}/out").collect()
    assert {r["topic"] for r in out} == {"clicks.out"}
    assert sorted(json.loads(bytes(r["value"]))["i2"] for r in out) == [
        i * 2 for i in range(8)
    ]
    dlq = spark.read.parquet(f"{outdir}/dlq").collect()
    assert len(dlq) == 1 and dlq[0]["offset"] == 999


def test_stream_never_skips_listed_segments(spark, tmp_path):
    """Kafka topics may start with '_' (``_schemas``), but Spark's file
    listing hides names starting with '_' or '.' and descends into
    subdirectories. SegmentWriter never writes such a name, so a
    written '_schemas' archive replays in full; an archive the stream
    would read differently from `list_segments` is refused at start
    instead of losing records silently."""
    app = App("underscore")

    @app.consume(topic="_schemas", sink_topics=("schemas.out",))
    def handle(value: FromValue[Json]) -> Message:
        return Message(value=json.dumps(value).encode())

    src = tmp_path / "src"
    src.mkdir()
    write_segment(str(src / "s.seg"), "_schemas", 0, _recs("_schemas", 4))
    arch = str(tmp_path / "arch")
    (
        read_segments(spark, str(src))
        .write.format("kafka_segment")
        .option("path", arch)
        .mode("append")
        .save()
    )
    outdir = str(tmp_path / "replayed")
    app.run_replay(spark, arch, outdir, str(tmp_path / "ckpt"), fmt="segments")
    assert spark.read.parquet(f"{outdir}/out").count() == 4

    for i, name in enumerate(("_schemas-0.seg", ".h-0.seg", "sub/b.seg")):
        bad = tmp_path / f"bad{i}"
        os.makedirs(os.path.dirname(bad / name))
        write_segment(str(bad / name), "_schemas", 0, _recs("_schemas", 1))
        assert len(read_segments(spark, str(bad)).collect()) == ("/" not in name)
        with pytest.raises(ValueError, match=re.escape(name)):
            stream_segments(spark, str(bad))


def test_replay_scans_each_file_once_per_batch(spark, archive, tmp_path):
    """A segment replay persists the micro-batch envelope, so the two
    topic branches, the corruption filter and the out/DLQ writes all
    read it instead of re-running the file scan and decode: the
    binaryFile scan outputs exactly one row per archive file (without
    the persist it reads each file once per branch and action)."""
    app = App("scan-once")

    @app.consume(topic="clicks", sink_topics=("clicks.out",))
    def clicks(value: FromValue[Json]) -> Message:
        return Message(value=json.dumps({"i": value["i"]}).encode())

    @app.consume(topic="views", sink_topics=("views.out", "views.copy"))
    def views(value: FromValue[Json]) -> Message:
        return Message(value=json.dumps({"i": value["i"]}).encode())

    outdir = str(tmp_path / "replayed")
    query = app.run_replay(
        spark, archive, outdir, str(tmp_path / "ckpt"), fmt="segments"
    )
    assert spark.read.parquet(f"{outdir}/out").count() == 8 + 2 * 4
    # the micro-batch's own plan: its scan node's SQL metric counts
    # every row (= file) the scan produced, over all re-executions
    plan = query._jsq.streamingQuery().lastExecution().executedPlan()
    leaves = plan.collectLeaves()
    leaves = [leaves.apply(i) for i in range(leaves.size())]
    scans = [n for n in leaves if n.nodeName().startswith("Scan binaryFile")]
    assert len(scans) == 1
    rows = scans[0].metrics().apply("numOutputRows").value()
    assert rows == len(list_segments(archive))


def test_segment_write_roundtrip(spark, archive, tmp_path):
    """df.write.format('kafka_segment') — executor-side segment
    writing, one file per (topic, partition, task); reading the
    written archive back yields the identical envelope set."""
    src = read_segments(spark, archive)
    out = str(tmp_path / "written")
    (
        src.repartition(2)
        .write.format("kafka_segment")
        .option("path", out)
        .mode("append")
        .save()
    )
    back = read_segments(spark, out)
    assert back.count() == 12
    a = {
        (r["topic"], r["offset"], bytes(r["value"]))
        for r in src.collect()
    }
    b = {
        (r["topic"], r["offset"], bytes(r["value"]))
        for r in back.collect()
    }
    assert a == b
    # null keys and headers survive the roundtrip
    r1 = {(r["topic"], r["offset"]): r for r in back.collect()}
    assert r1[("clicks", 0)]["key"] is None
    hdrs = {h["key"]: h["value"] for h in r1[("clicks", 1)]["headers"]}
    assert hdrs["corr"] == b"c1"


def test_columns_option_projects_at_source(spark, tmp_path):
    """`columns` projects in the SOURCE schema (canonical envelope
    order regardless of option order) — the explicit pruning path,
    since this Spark build's Python DataSource API does not forward
    Catalyst column pruning to the reader."""
    d = str(tmp_path / "seg")
    import os

    os.makedirs(d)
    write_segment(f"{d}/t-0-00000.seg", "t", 0, list(_recs("t", 4)))
    df = read_segments(spark, d, columns=["offset", "topic"])
    assert df.columns == ["topic", "offset"]  # canonical order wins
    rows = sorted((r["topic"], r["offset"]) for r in df.collect())
    assert rows == [("t", 0), ("t", 1), ("t", 2), ("t", 3)]


def test_columns_option_rejects_unknown(spark, tmp_path):
    d = str(tmp_path / "seg")
    import os

    os.makedirs(d)
    write_segment(f"{d}/t-0-00000.seg", "t", 0, list(_recs("t", 1)))
    with pytest.raises(Exception, match="unknown columns"):
        read_segments(spark, d, columns=["offset", "nope"]).collect()


def test_metadata_projection_never_decodes_payload(spark, tmp_path):
    """Observable proof the metadata path skips payload decode: a
    header KEY holding invalid UTF-8 makes the full read fail, while
    the metadata-only projection (which only walks length prefixes)
    reads the same file fine."""
    import os
    import struct

    d = str(tmp_path / "seg")
    os.makedirs(d)
    p = f"{d}/t-0-00000.seg"
    write_segment(
        p, "t", 0, [{"offset": 7, "ts_ms": 1_700_000_000_000,
                     "key": None, "value": b"v", "headers": [("ok", b"h")]}]
    )
    raw = bytearray(open(p, "rb").read())
    at = raw.find(b"ok")
    assert at > 0
    raw[at] = 0xFF  # header key is no longer valid UTF-8
    open(p, "wb").write(bytes(raw))

    from kaflow_spark.sources.segments import SegmentCorruption

    with pytest.raises(SegmentCorruption, match="not utf-8"):
        list(iter_segment(p))
    meta = list(iter_segment(p, payload=False))
    assert [(m[2], m[5], m[6], m[7]) for m in meta] == [(7, None, None, [])]

    got = read_segments(spark, d, columns=["topic", "offset"]).collect()
    assert [(r["topic"], r["offset"]) for r in got] == [("t", 7)]


def test_truncation_fuzz_never_garbage(tmp_path):
    """Cut a segment file at EVERY byte position inside the record
    region: corrupt='record' mode must never raise, never fabricate a
    record, and always report the torn tail as one sentinel. The
    yielded clean records must be an exact prefix of the originals."""
    import os

    from kaflow_spark.sources.segments import CORRUPT_HEADER

    d = str(tmp_path / "seg")
    os.makedirs(d)
    p = f"{d}/t-0-00000.seg"
    recs = list(_recs("t", 5))
    write_segment(p, "t", 0, recs)
    good = list(iter_segment(p))
    full = open(p, "rb").read()
    _, _, data_start = read_header(p)

    for cut in range(data_start, len(full)):
        open(p, "wb").write(full[:cut])
        got = list(iter_segment(p, corrupt="record"))
        sentinels = [g for g in got if g[7] and g[7][0][0] == CORRUPT_HEADER]
        clean = [g for g in got if g not in sentinels]
        # clean records are an exact prefix of the uncorrupted read
        assert clean == good[: len(clean)], f"garbage record at cut={cut}"
        if cut == data_start:
            assert not sentinels  # empty record region is just empty
        else:
            assert len(sentinels) <= 1
            if sentinels:
                s = sentinels[0]
                assert s[2] == -1 and s[4] == -1
                # the sentinel's value is exactly the undecodable tail
                assert len(s[6]) > 0
                assert full[:cut].endswith(bytes(s[6]))
    open(p, "wb").write(full)  # restore


def test_corrupt_tail_routes_to_dlq(spark, tmp_path):
    """End to end: a torn segment tail flows through read_segments ->
    App.process_batch as a DLQ row (error named, raw bytes preserved)
    while every intact record is still processed."""
    import os

    d = str(tmp_path / "seg")
    os.makedirs(d)
    p = f"{d}/t-0-00000.seg"
    write_segment(p, "clicks", 0, list(_recs("clicks", 4)))
    raw = open(p, "rb").read()
    open(p, "wb").write(raw[:-7])  # tear the last record mid-payload

    app = App("corrupt-test")

    @app.consume(topic="clicks", sink_topics=("out",))
    def handle(value: FromValue[Json]) -> Message:
        return Message(value=json.dumps({"i2": value["i"] * 2}).encode())

    env = read_segments(spark, d)
    outs, dlq = app.process_batch(env)
    ok = [json.loads(bytes(r["value"])) for r in outs.collect()]
    assert sorted(o["i2"] for o in ok) == [0, 2, 4]  # records 0-2 intact
    bad = dlq.collect()
    assert len(bad) == 1
    assert bad[0]["error"].startswith("segment:corrupt: ")
    assert "truncated" in bad[0]["error"] or "overruns" in bad[0]["error"]
    assert bad[0]["offset"] == -1
    assert bad[0]["value"] is not None  # raw tail kept for forensics

    # the same torn tail reaches the DLQ through the streaming replay
    outdir = str(tmp_path / "replayed")
    app.run_replay(spark, d, outdir, str(tmp_path / "ckpt"), fmt="segments")
    out = spark.read.parquet(f"{outdir}/out").collect()
    assert sorted(json.loads(bytes(r["value"]))["i2"] for r in out) == [0, 2, 4]
    bad = spark.read.parquet(f"{outdir}/dlq").collect()
    assert len(bad) == 1
    assert bad[0]["error"].startswith("segment:corrupt: ")
    assert bad[0]["offset"] == -1
    assert raw[:-7].endswith(bytes(bad[0]["value"]))


def test_corrupt_policy_defaults(spark, tmp_path):
    """Torn-tail policy defaults: a full-envelope read records the
    corruption as a marked sentinel row (headers carry the marker), a
    metadata-only projection that strips the headers column FAILS FAST
    instead of smuggling an unmarked (offset=-1, 1970) row into
    offset/lag audits, and an explicit corrupt= option overrides both
    defaults."""
    import os

    from kaflow_spark.sources.segments import CORRUPT_HEADER

    d = str(tmp_path / "seg")
    os.makedirs(d)
    p = f"{d}/t-0-00000.seg"
    write_segment(p, "t", 0, list(_recs("t", 3)))
    raw = open(p, "rb").read()
    open(p, "wb").write(raw[:-5])  # tear the last record mid-payload

    # full envelope: default "record" -> marked sentinel, no exception
    rows = read_segments(spark, d).collect()
    sentinels = [
        r for r in rows if r["headers"] and r["headers"][0]["key"] == CORRUPT_HEADER
    ]
    assert len(sentinels) == 1 and sentinels[0]["offset"] == -1

    # metadata-only projection (marker column stripped): default flips
    # to "raise" — the audit never sees a fake 1970 row
    with pytest.raises(Exception, match="corrupt"):
        read_segments(spark, d, columns=["topic", "offset"]).collect()

    # explicit override wins in both directions
    got = read_segments(spark, d, columns=["topic", "offset"], corrupt="record")
    offs = sorted(r["offset"] for r in got.collect())
    assert offs == [-1, 0, 1]  # sentinel visible but CALLER opted in
    with pytest.raises(Exception, match="corrupt"):
        read_segments(spark, d, corrupt="raise").collect()

    # bad option value is rejected at plan time
    with pytest.raises(Exception, match="record"):
        read_segments(spark, d, corrupt="ignore").collect()
