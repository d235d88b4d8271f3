"""Seeded input generators for the benchmark.

Two inputs, both a pure function of the seed:

- ``write_catalog``: the ten catalog tables with the schemas, value
  domains and foreign-key subsets of FIXTURES.md, at a chosen row-count
  scale (``scale=0.01`` gives the sf0.01 row counts).
- ``stream_backlog``: a JSON-lines backlog for the streaming word count,
  one file per trigger, with Zipf-skewed words and a fixed share of
  events that arrive after the watermark has passed their window.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --------------------------------------------------------------------------
# catalog tables
# --------------------------------------------------------------------------

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("FURNITURE", "MACHINERY", "BUILDING", "HOUSEHOLD", "AUTOMOBILE")
PART_TYPES = ("ECONOMY", "PROMO", "LARGE", "MEDIUM", "STANDARD", "SMALL")
PART_ADJ = ("small", "large", "red", "blue", "hot", "cold", "old", "new")
PART_NOUN = ("ring", "widget", "bolt", "gear", "gizmo", "plate", "nut", "pipe")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.42, 0.145, 0.145, 0.145, 0.145)
DOC_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()

#: sf0.01 row counts (FIXTURES.md); ``scale`` multiplies the scaled ones.
_ROWS_SF001 = {
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
    "documents": 500,
    "embeddings": 500,
}
_DAY_US = 86_400 * 1_000_000


def _days(start: str, end: str) -> tuple[int, int]:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return int(lo), int(hi)


def _day_ts(rng: np.random.Generator, n: int, start: str, end: str) -> pa.Array:
    lo, hi = _days(start, end)
    days = rng.integers(lo, hi + 1, n)
    return pa.array(days * _DAY_US, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for _ in range(n):
        k = int(rng.integers(10, 100))
        texts.append(" ".join(DOC_VOCAB[i] for i in rng.integers(0, len(DOC_VOCAB), k)))
    # ~5 % near-duplicates: another document's text plus a marker word
    for i in rng.choice(n, size=max(1, n // 20), replace=False):
        j = int(rng.integers(0, n))
        if j != i:
            texts[i] = texts[j] + " dup"
    ids = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": texts,
            "lang": rng.choice(LANGS, n, p=LANG_P).tolist(),
            "source": [f"src{i % 20}" for i in ids],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    labels = rng.integers(0, 10, n).astype(np.int32)
    centers = rng.normal(0.0, 0.02, (10, dim))
    x = centers[labels] + rng.normal(0.0, 0.125, (n, dim))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(x.ravel()), dim).cast(
        pa.list_(pa.float32())
    )
    return pa.table(
        {"vec_id": np.arange(n, dtype=np.int64), "embedding": emb, "label": labels}
    )


def catalog_tables(seed: int, scale: float = 0.01) -> dict[str, pa.Table]:
    """The ten tables as Arrow tables; the same seed gives the same rows."""
    rng = np.random.default_rng([seed, 0xCA7])
    rows = {t: max(1, round(n * scale / 0.01)) for t, n in _ROWS_SF001.items()}
    # documents/embeddings stay at 500 rows up to sf0.01 (FIXTURES.md)
    for t in ("documents", "embeddings"):
        rows[t] = max(rows[t], 500)
    i32, i64 = np.int32, np.int64
    n = rows["customer"]
    customer = pa.table(
        {
            "c_custkey": np.arange(n, dtype=i64),
            "c_name": [f"Customer#{i:09d}" for i in range(n)],
            "c_nationkey": rng.integers(0, 25, n).astype(i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n),
            "c_mktsegment": rng.choice(SEGMENTS, n).tolist(),
        }
    )
    n = rows["supplier"]
    supplier = pa.table(
        {
            "s_suppkey": np.arange(n, dtype=i64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n)],
            "s_nationkey": rng.integers(0, 25, n).astype(i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n),
        }
    )
    n = rows["part"]
    pk = np.arange(n, dtype=i64)
    part = pa.table(
        {
            "p_partkey": pk,
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n), rng.integers(0, 8, n))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
            "p_type": rng.choice(PART_TYPES, n).tolist(),
            "p_size": rng.integers(1, 51, n).astype(i32),
            "p_retailprice": np.round(900 + (pk % 1000) / 10, 1),
        }
    )
    n = rows["orders"]
    orders = pa.table(
        {
            "o_orderkey": np.arange(n, dtype=i64),
            "o_custkey": rng.integers(0, rows["customer"], n).astype(i64),
            "o_orderstatus": rng.choice(("F", "P", "O"), n).tolist(),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n),
            "o_orderdate": _day_ts(rng, n, "1995-01-01", "2001-08-01"),
            "o_orderpriority": rng.choice(PRIORITIES, n).tolist(),
        }
    )
    n = rows["lineitem"]
    lineitem = pa.table(
        {
            "l_orderkey": rng.integers(0, rows["orders"], n).astype(i64),
            "l_partkey": rng.integers(0, rows["part"], n).astype(i64),
            "l_suppkey": rng.integers(0, rows["supplier"], n).astype(i64),
            "l_linenumber": rng.integers(1, 8, n).astype(i32),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": rng.choice(("N", "A", "R"), n).tolist(),
            "l_linestatus": rng.choice(("O", "F"), n).tolist(),
            "l_shipdate": _day_ts(rng, n, "1995-01-02", "2001-11-04"),
        }
    )
    n = rows["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    gaps = rng.exponential(30 * _DAY_US / n, n).astype(np.int64)
    events = pa.table(
        {
            "event_id": np.arange(n, dtype=i64),
            "ts": pa.array(start + np.cumsum(gaps), pa.timestamp("us")),
            "user_id": rng.integers(0, max(150, n // 67), n).astype(i64),
            "event_type": rng.choice(EVENT_TYPES, n).tolist(),
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )
    return {
        "region": pa.table(
            {"r_regionkey": np.arange(5, dtype=i32), "r_name": list(REGIONS)}
        ),
        "nation": pa.table(
            {
                "n_nationkey": np.arange(25, dtype=i32),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": (np.arange(25) % 5).astype(i32),
            }
        ),
        "customer": customer,
        "supplier": supplier,
        "part": part,
        "orders": orders,
        "lineitem": lineitem,
        "events": events,
        "documents": _documents(rng, rows["documents"]),
        "embeddings": _embeddings(rng, rows["embeddings"]),
    }


def write_catalog(out_dir: str, seed: int, scale: float = 0.01) -> str:
    """Write ``{out_dir}/{table}.parquet`` for all ten tables."""
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in catalog_tables(seed, scale).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


# --------------------------------------------------------------------------
# stream backlog
# --------------------------------------------------------------------------

#: Event-time span of one backlog file, in seconds. A 5 s tumbling
#: window therefore collects rows from about 2.5 consecutive files, so
#: window state is updated across micro-batches.
FILE_SPAN_S = 2
#: On-time rows may run this many seconds behind the file's span start
#: (out of order, but far ahead of the 10 s watermark delay).
JITTER_S = 1.5
#: A late row lies 10-12 files behind its file, so its window ended
#: at least 5 s before the watermark of any batch that could read it
#: (the watermark trails the newest event time by 10 s, and may lag
#: one more batch).
LATE_LAG_FILES = (10, 12)
STREAM_EPOCH_S = 1_700_000_000


@dataclass(frozen=True)
class Backlog:
    """The generated backlog and the facts the checks need about it."""

    files: list[str]
    #: per file: list of (event time in seconds, line text, is_late)
    rows: list[list[tuple[float, str, bool]]]


def _zipf_vocab(size: int) -> tuple[list[str], np.ndarray]:
    words = [f"w{i:04d}" for i in range(size)]
    p = 1.0 / np.arange(1, size + 1) ** 1.1
    return words, p / p.sum()


def stream_backlog(
    out_dir: str,
    seed: int,
    n_files: int,
    lines_per_file: int,
    words_per_line: int = 8,
    vocab: int = 2_000,
    late_share: float = 0.03,
) -> Backlog:
    """Write ``n_files`` JSON-lines files ``part-{i:05d}.json`` with rows
    ``{"ts": <timestamp>, "value": <line>}``.

    File ``i`` holds on-time rows with event time in
    ``[epoch + i*FILE_SPAN_S - JITTER_S, epoch + (i+1)*FILE_SPAN_S)``.
    From file ``LATE_LAG_FILES[1]`` on, ``late_share`` of its rows carry
    an event time ``LATE_LAG_FILES`` files in the past: far enough that
    the watermark drops them under either reading of which batch's
    watermark applies.
    """
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 0x57E])
    words, p = _zipf_vocab(vocab)
    files: list[str] = []
    rows: list[list[tuple[float, str, bool]]] = []
    mtime0 = time.time() - n_files - 60
    for i in range(n_files):
        idx = rng.choice(vocab, size=(lines_per_file, words_per_line), p=p)
        lines = [" ".join(words[j] for j in row) for row in idx]
        base = STREAM_EPOCH_S + i * FILE_SPAN_S
        ts = base + rng.uniform(-JITTER_S, FILE_SPAN_S, lines_per_file)
        ts[-1] = base + FILE_SPAN_S - 0.001  # pins the file's max event time
        late = np.zeros(lines_per_file, dtype=bool)
        if i >= LATE_LAG_FILES[1]:
            late[: int(round(lines_per_file * late_share))] = True
            rng.shuffle(late)
            late[-1] = False
            lag = rng.integers(LATE_LAG_FILES[0], LATE_LAG_FILES[1] + 1, late.sum())
            ts[late] = base - lag * FILE_SPAN_S + rng.uniform(0, FILE_SPAN_S, late.sum())
        ts = np.round(ts, 3)
        file_rows = [(float(t), line, bool(lt)) for t, line, lt in zip(ts, lines, late)]
        path = os.path.join(out_dir, f"part-{i:05d}.json")
        with open(path, "w") as fh:
            for t, line, _ in file_rows:
                stamp = np.datetime64(int(round(t * 1000)), "ms").astype(str)
                fh.write(json.dumps({"ts": stamp, "value": line}) + "\n")
        # the file source orders files by modification time
        os.utime(path, (mtime0 + i, mtime0 + i))
        files.append(path)
        rows.append(file_rows)
    return Backlog(files=files, rows=rows)
