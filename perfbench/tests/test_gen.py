"""Generator determinism: one seed, one set of bytes and counts."""

import hashlib
import json
import os

import gen


def digest(directory):
    h = hashlib.sha256()
    for name in sorted(os.listdir(directory)):
        h.update(name.encode())
        with open(os.path.join(directory, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def test_archive_same_seed_same_bytes_and_counts(tmp_path):
    a = gen.write_archive(str(tmp_path / "a"), 11, 1200)
    b = gen.write_archive(str(tmp_path / "b"), 11, 1200)
    c = gen.write_archive(str(tmp_path / "c"), 12, 1200)
    assert a == b
    assert digest(tmp_path / "a") == digest(tmp_path / "b")
    assert digest(tmp_path / "a") != digest(tmp_path / "c")


def test_archive_expected_counts_match_planted_records(tmp_path):
    from kaflow_spark.sources.segments import iter_segment, list_segments

    exp = gen.write_archive(str(tmp_path), 5, 2400)
    files = list_segments(str(tmp_path))
    assert len(files) == len(gen.TOPICS) * gen.PARTITIONS
    assert exp["records"] == 2400
    bad = good_sinks = 0
    for path in files:
        for topic, _, _, _, _, key, value, headers in iter_segment(path):
            assert key and dict(headers).get("x-corr")
            try:
                json.loads(value)
                good_sinks += gen.TOPICS[topic][1]
            except ValueError:
                bad += 1
    assert exp["dlq"] == bad > 0
    assert exp["out"] == good_sinks


def test_catalog_same_seed_same_tables():
    a = gen.catalog_tables(3, sf=0.001)
    b = gen.catalog_tables(3, sf=0.001)
    assert a.keys() == b.keys()
    assert all(a[t].equals(b[t]) for t in a)
    assert a["lineitem"].num_rows == 6000 and a["orders"].num_rows == 1500
    assert not a["documents"].equals(gen.catalog_tables(4, sf=0.001)["documents"])
