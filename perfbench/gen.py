"""Seeded input generators for the benchmark.

Nothing here imports the engine: a change to the program cannot change
the load. The same seed gives byte-identical files.

- ``cdc_files``: CDC envelope JSON-lines files in the wire shape of
  ``sources.cdc.CDC_ENVELOPE_SCHEMA`` (type, timestamp in epoch millis,
  database, table_name, cdc_sequence_id, columns[{id, name, value}]),
  one file per micro-batch. Two shapes: ``HOT`` (a few hundred keys,
  inserts and updates only) and ``BULK`` (a Zipf-skewed key space with
  a snapshot file, deletes and late events).
- ``headline_tables``: the ten parquet tables the registry queries read
  (``tables.TABLES``), with the column names, types and value ranges of
  repository's TPC-H-like test data (TESTDATA.md).
"""

from __future__ import annotations

import datetime as dt
import json
import os
from dataclasses import dataclass, field

import numpy as np

BASE_MS = int(dt.datetime(2023, 9, 27, 10, 0, tzinfo=dt.timezone.utc).timestamp() * 1000)
PRODUCT_COLS = (
    "ProductName", "ProductBrand", "Target_Gender", "Price", "Currency",
    "Description", "Launch_date", "ProductID", "Loaded_at",
)
_BRANDS = ("Ralph Lauren", "Gucci", "Hugo Boss", "Zara", "Levis", "Uniqlo")


@dataclass(frozen=True)
class CdcShape:
    n_keys: int
    events_per_file: int
    snapshot: bool = False  # file 0 inserts every key once
    zipf_s: float = 0.0  # 0 = uniform keys
    delete_frac: float = 0.0
    late_frac: float = 0.0


HOT = CdcShape(n_keys=500, events_per_file=2500)
BULK = CdcShape(
    n_keys=20_000, events_per_file=5_000, snapshot=True, zipf_s=1.1,
    delete_frac=0.02, late_frac=0.01,
)


@dataclass
class CdcLoad:
    files: list[str] = field(default_factory=list)
    events: int = 0  # data envelopes written
    input_bytes: int = 0
    late_seq: list[int] = field(default_factory=list)  # injected late events
    deletes: int = 0
    max_ts_ms: int = 0


def _row(key: int, rng: np.random.Generator) -> dict:
    return {
        "ProductName": f"product {key}",
        "ProductBrand": _BRANDS[key % len(_BRANDS)],
        "Target_Gender": "Female" if key % 2 else "Male",
        "Price": f"{rng.integers(500, 50_000) / 100:.2f}",
        "Currency": "Euro",
        "Description": f"rev {int(rng.integers(0, 1_000_000))}",
        "Launch_date": "2023-08-01",
        "ProductID": str(key),
        "Loaded_at": "2023-09-27",
    }


def _envelope(kind: str, ts_ms: int, seq: int, row: dict) -> str:
    return json.dumps({
        "type": kind,
        "timestamp": ts_ms,
        "database": "sample_data",
        "table_name": "products_catalog",
        "cdc_sequence_id": seq,
        "columns": [
            {"id": i + 1, "name": c, "value": row[c]}
            for i, c in enumerate(PRODUCT_COLS)
        ],
    })


def cdc_files(out_dir: str, shape: CdcShape, n_files: int, seed: int) -> CdcLoad:
    """Write ``n_files`` envelope files ``batch_00000.json`` … into
    ``out_dir``; file ``i`` is meant to be micro-batch ``i``.

    Every envelope gets a distinct sequence id and a timestamp one second
    after the previous one, except late events: an update whose timestamp
    lies before the key's last committed change (the state at the end of
    the previous file), for a key that is live at that point. Deletes
    only hit live keys; the next change to a deleted key is an insert.
    File modification times increase with the file index, so a file
    stream reads them in index order."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    keys = 10_000 + rng.permutation(shape.n_keys)
    if shape.zipf_s > 0:
        w = 1.0 / np.arange(1, shape.n_keys + 1) ** shape.zipf_s
        probs = w / w.sum()
    else:
        probs = None
    live: dict[int, int] = {}  # key -> ts of its latest change, live keys only
    load = CdcLoad()
    seq = 0
    for f in range(n_files):
        committed = dict(live)  # store state the engine sees at batch start
        lines: list[str] = []
        if shape.snapshot and f == 0:
            picks = keys
        else:
            picks = keys[rng.choice(shape.n_keys, shape.events_per_file, p=probs)]
        u = rng.random(len(picks))
        for key, r in zip(picks.tolist(), u.tolist()):
            seq += 1
            ts = BASE_MS + seq * 1000
            if f > 0 and r < shape.late_frac and key in committed:
                late_ts = committed[key] - int(rng.integers(1, 3600)) * 1000
                lines.append(_envelope("update", late_ts, seq, _row(key, rng)))
                load.late_seq.append(seq)
                continue
            if f > 0 and r < shape.late_frac + shape.delete_frac and key in live:
                lines.append(_envelope("delete", ts, seq, _row(key, rng)))
                del live[key]
                load.deletes += 1
                continue
            kind = "update" if key in live else "insert"
            lines.append(_envelope(kind, ts, seq, _row(key, rng)))
            live[key] = ts
            load.max_ts_ms = ts
        path = os.path.join(out_dir, f"batch_{f:05d}.json")
        data = ("\n".join(lines) + "\n").encode()
        with open(path, "wb") as fh:
            fh.write(data)
        mtime = 1_700_000_000 + f
        os.utime(path, (mtime, mtime))
        load.files.append(path)
        load.events += len(lines)
        load.input_bytes += len(data)
    return load


# ---------------------------------------------------------------------------
# headline tables
# ---------------------------------------------------------------------------

_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_ADJ = ("small", "red", "blue", "hot", "cold", "big", "green", "dark")
_NOUN = ("ring", "widget", "bolt", "gear", "nut", "pipe", "valve", "spring")
_PTYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
_LANGS = (("en", 0.42), ("zh", 0.15), ("es", 0.15), ("fr", 0.13), ("de", 0.15))


def _days(rng, n, start: str, span_days: int):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]")


def _write(pa, pq, out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def headline_tables(out_dir: str, seed: int) -> dict[str, int]:
    """Write the ten tables under ``out_dir/<name>.parquet`` with the row
    counts of the TPC-H-like test data at sf0.01 (lineitem 60k, documents
    and embeddings 500); returns the row counts. Event timestamps are
    unique and written as microseconds."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = 1500, 100, 2000
    n_ord, n_line, n_ev, n_users = 15_000, 60_000, 10_000, 150
    n_docs = n_vecs = 500
    i32, i64, f64 = pa.int32(), pa.int64(), pa.float64()

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    _write(pa, pq, out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(pa, pq, out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, i32),
    })
    _write(pa, pq, out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": pa.array(money(-999.99, 9999.99, n_cust), f64),
        "c_mktsegment": [_SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
    })
    _write(pa, pq, out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": pa.array(money(-999.99, 9999.99, n_supp), f64),
    })
    _write(pa, pq, out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in rng.integers(0, 8, (n_part, 2))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [_PTYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) / 10, 2), f64),
    })
    _write(pa, pq, out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": pa.array(money(1000, 500_000, n_ord), f64),
        "o_orderdate": pa.array(_days(rng, n_ord, "1995-01-01", 2400), pa.timestamp("us")),
        "o_orderpriority": [_PRIORITIES[i] for i in rng.integers(0, 5, n_ord)],
    })
    _write(pa, pq, out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(float), f64),
        "l_extendedprice": pa.array(money(900, 105_000, n_line), f64),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100, f64),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100, f64),
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_line)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_line)],
        "l_shipdate": pa.array(_days(rng, n_line, "1995-01-02", 2500), pa.timestamp("us")),
    })
    # unique, sorted event times over 30 days
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.choice(span_us, n_ev, replace=False)) + np.datetime64("2024-01-01", "us")
    _write(pa, pq, out_dir, "events", {
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), i64),
        "event_type": [_EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": pa.array(np.round(rng.exponential(50, n_ev), 2) + 0.01, f64),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n_ev)],
    })
    texts: list[str] = []
    for i in range(n_docs):
        if i >= 10 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n_words = int(rng.integers(8, 100))
            texts.append(" ".join(_WORDS[j] for j in rng.integers(0, len(_WORDS), n_words)))
    langs, weights = zip(*_LANGS)
    _write(pa, pq, out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_docs), i64),
        "text": texts,
        "lang": [langs[i] for i in rng.choice(len(langs), n_docs, p=weights)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], i64),
    })
    labels = rng.integers(0, 10, n_vecs)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] * 0.15 + rng.normal(0, 1, (n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(pa, pq, out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_vecs), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, i32),
    })
    return {
        "customer": n_cust, "supplier": n_supp, "part": n_part, "orders": n_ord,
        "lineitem": n_line, "events": n_ev, "documents": n_docs, "embeddings": n_vecs,
    }
