"""Seeded input generators for the benchmark.

Two kinds of input, both written only from a seed:

* ``write_catalog`` — the ten ``catalog.TABLES`` at sf0.1 scale, with
  the column names, parquet physical types and value distributions of
  the fixture tables the declared queries are written against
  (TPC-H-like star schema, an ``events`` stream, a ``documents``
  corpus with 5% planted near-duplicates and a labelled
  ``embeddings`` table).
* ``write_archive`` — a Kafka-style segment archive (3 topics x 4
  partitions) written with ``sources.segments.write_segment``. Every
  record has a JSON key and an ``x-corr`` header; a fixed share of
  payloads is malformed. It returns the counts a correct replay must
  produce.

Numpy's ``default_rng(seed)`` drives everything, so one seed gives the
same bytes on every run.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- catalog

SF = 0.1
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()


def _days(rng, lo: str, hi: str, n: int) -> np.ndarray:
    lo_d = np.datetime64(lo, "D")
    span = (np.datetime64(hi, "D") - lo_d).astype(int)
    return (lo_d + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def catalog_tables(seed: int, sf: float = SF) -> dict[str, pa.Table]:
    """Every catalog table as an Arrow table (deterministic in seed)."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_vec = int(50_000 * sf), int(20_000 * sf)
    t: dict[str, pa.Table] = {}
    i32 = pa.int32()

    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), i32), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    pk = np.arange(n_part, dtype=np.int64)
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    t["part"] = pa.table(
        {
            "p_partkey": pk,
            "p_name": names[rng.integers(0, len(names), n_part)],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": np.round(900 + (pk % 1000) * 0.1, 1),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line),
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line),
        }
    )
    start = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86_400 * 1_000_000
    ts = start + np.sort(rng.integers(0, span_us, n_ev)).astype("timedelta64[us]")
    t["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": ts,
            "user_id": rng.integers(0, int(15_000 * sf), n_ev),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    texts: list[str] = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:
            # planted near-duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(np.array(WORDS)[rng.integers(0, len(WORDS), k)]))
    t["documents"] = pa.table(
        {
            "doc_id": np.arange(n_doc, dtype=np.int64),
            "text": texts,
            "lang": np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
        }
    )
    dim = 64
    centroids = rng.normal(0, 1, (10, dim))
    labels = rng.integers(0, 10, n_vec)
    vecs = centroids[labels] + rng.normal(0, 1.2, (n_vec, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_vec, dtype=np.int64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, i32),
        }
    )
    return t


def write_catalog(out_dir: str, seed: int, sf: float = SF) -> dict[str, int]:
    """Write ``<table>.parquet`` for every catalog table; returns row
    counts by table."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in catalog_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts


# ---------------------------------------------------------------- archive

#: topic -> (handler kind, number of sink topics it fans out to)
TOPICS = {"clicks": ("record", 1), "orders": ("batch", 1), "metrics": ("transform", 2)}
PARTITIONS = 1
MALFORMED_SHARE = 0.02
REGIONS_KEY = ["eu", "us", "apac"]


def _payload(topic: str, i: int, rng) -> dict:
    if topic == "clicks":
        return {"user_id": int(rng.integers(0, 50_000)), "url": f"/p/{i % 997}", "n": i % 97}
    if topic == "orders":
        return {"order_id": i, "qty": int(rng.integers(1, 20)), "price": int(rng.integers(1, 10_000))}
    return {"host": f"h{i % 64}", "cpu": int(rng.integers(0, 100)), "mem": int(rng.integers(0, 64_000))}


def archive_records(seed: int, n_records: int):
    """Yield ``(topic, partition, records)`` per segment file and the
    number of malformed payloads planted in it."""
    rng = np.random.default_rng(seed)
    per_file = n_records // (len(TOPICS) * PARTITIONS)
    base_ms = 1_700_000_000_000
    for topic in TOPICS:
        for part in range(PARTITIONS):
            bad = rng.random(per_file) < MALFORMED_SHARE
            recs = []
            for off in range(per_file):
                i = part * per_file + off
                value = json.dumps(_payload(topic, i, rng)).encode()
                if bad[off]:
                    value = value[: len(value) // 2]  # truncated JSON
                recs.append(
                    {
                        "offset": off,
                        "ts_ms": base_ms + i * 10,
                        "key": json.dumps({"region": REGIONS_KEY[i % 3]}).encode(),
                        "value": value,
                        "headers": [("x-corr", f"{topic}-{part}-{off}".encode())],
                    }
                )
            yield topic, part, recs, int(bad.sum())


def write_archive(out_dir: str, seed: int, n_records: int) -> dict[str, int]:
    """Write the segment archive; returns ``records`` (archive total),
    ``dlq`` (malformed payloads) and ``out`` (sink rows a correct
    replay writes: one per good record per sink topic)."""
    from kaflow_spark.sources.segments import write_segment

    os.makedirs(out_dir, exist_ok=True)
    total = dlq = out = 0
    for topic, part, recs, n_bad in archive_records(seed, n_records):
        n = write_segment(os.path.join(out_dir, f"{topic}-{part}.seg"), topic, part, recs)
        total += n
        dlq += n_bad
        out += (n - n_bad) * TOPICS[topic][1]
    return {"records": total, "dlq": dlq, "out": out}
