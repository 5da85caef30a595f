"""Seeded input generation for the benchmark.

Every table follows the shape of the repo's canonical fixtures (FIXTURES.md
§B): the same columns, types and value domains, so the operators behave as
they do on the fixtures. Each table draws from its own random stream,
derived from the run's seed and the table's name, so the same seed gives
byte-identical inputs and a different seed gives different ones.
"""

from __future__ import annotations

import datetime as dt
import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
MKT_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "new", "old", "red", "small", "big"]
PART_NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget", "nut"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()

EVENTS_T0 = dt.datetime(2024, 1, 1)
_ORDER_DAY0 = dt.datetime(1995, 1, 1)

# Row counts of the canonical sf0.01 fixture; documents and embeddings do
# not scale with sf there.
SF001_ROWS = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}


def rng_for(seed: int, name: str) -> np.random.Generator:
    """The random stream of one table: depends on the seed and the name only."""
    return np.random.default_rng([seed, zlib.crc32(name.encode())])


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), size=n, p=p).astype(np.int32)
    return pa.DictionaryArray.from_arrays(pa.array(idx), pa.array(values)).cast(pa.string())


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(base: dt.datetime, day_idx: np.ndarray) -> pa.Array:
    us = np.datetime64(base, "us") + day_idx.astype("timedelta64[D]").astype("timedelta64[us]")
    return pa.array(us, type=pa.timestamp("us"))


def events_table(
    rng: np.random.Generator,
    n: int,
    first_id: int = 0,
    t0_s: float = 0.0,
    span_s: float = 30 * 86400.0,
    n_users: int | None = None,
) -> pa.Table:
    """``n`` events with ids ``first_id..`` and event times sorted by id,
    spread over ``span_s`` seconds after ``EVENTS_T0 + t0_s``."""
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    offs_us = np.sort(rng.uniform(t0_s, t0_s + span_s, n)) * 1e6
    ts = np.datetime64(EVENTS_T0, "us") + offs_us.astype("timedelta64[us]")
    users = n_users or max(15, int(n * 0.015))
    value = np.maximum(np.round(rng.exponential(50.0, n), 2), 0.01)
    props = [f'{{"k": {k}}}' for k in range(100)]
    return pa.table(
        {
            "event_id": ids,
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": rng.integers(0, users, n, dtype=np.int64),
            "event_type": _pick(rng, EVENT_TYPES, n),
            "value": value,
            "props": _pick(rng, props, n),
        }
    )


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    lengths = rng.integers(10, 100, n)
    words = rng.integers(0, len(WORDS), int(lengths.sum()))
    texts, at = [], 0
    for k in lengths:
        texts.append(" ".join(WORDS[w] for w in words[at : at + k]))
        at += k
    return pa.table(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": _pick(rng, LANGS, n, LANG_P),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    v = rng.normal(size=(n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
            "label": rng.integers(0, 10, n).astype(np.int32),
        }
    )


def catalog_tables(seed: int, rows: dict[str, int] = SF001_ROWS) -> dict[str, pa.Table]:
    """All ten canonical tables at the given row counts."""
    r = {name: rng_for(seed, name) for name in rows}
    n = rows
    c, s, p, o, li = (n[k] for k in ("customer", "supplier", "part", "orders", "lineitem"))
    part_names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    return {
        "region": pa.table(
            {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS}
        ),
        "nation": pa.table(
            {
                "n_nationkey": np.arange(25, dtype=np.int32),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": (np.arange(25) % 5).astype(np.int32),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": np.arange(c, dtype=np.int64),
                "c_name": [f"Customer#{i:09d}" for i in range(c)],
                "c_nationkey": r["customer"].integers(0, 25, c).astype(np.int32),
                "c_acctbal": _money(r["customer"], -999.99, 9999.99, c),
                "c_mktsegment": _pick(r["customer"], MKT_SEGMENTS, c),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": np.arange(s, dtype=np.int64),
                "s_name": [f"Supplier#{i:09d}" for i in range(s)],
                "s_nationkey": r["supplier"].integers(0, 25, s).astype(np.int32),
                "s_acctbal": _money(r["supplier"], -999.99, 9999.99, s),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": np.arange(p, dtype=np.int64),
                "p_name": _pick(r["part"], part_names, p),
                "p_brand": [f"Brand#{k}" for k in r["part"].integers(1, 26, p)],
                "p_type": _pick(r["part"], PART_TYPES, p),
                "p_size": r["part"].integers(1, 51, p).astype(np.int32),
                "p_retailprice": np.round(900.0 + (np.arange(p) % 1000) * 0.1, 2),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": np.arange(o, dtype=np.int64),
                "o_custkey": r["orders"].integers(0, c, o, dtype=np.int64),
                "o_orderstatus": _pick(r["orders"], ["F", "O", "P"], o),
                "o_totalprice": _money(r["orders"], 1000.0, 500000.0, o),
                "o_orderdate": _days(_ORDER_DAY0, r["orders"].integers(0, 2404, o)),
                "o_orderpriority": _pick(r["orders"], PRIORITIES, o),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": r["lineitem"].integers(0, o, li, dtype=np.int64),
                "l_partkey": r["lineitem"].integers(0, p, li, dtype=np.int64),
                "l_suppkey": r["lineitem"].integers(0, s, li, dtype=np.int64),
                "l_linenumber": r["lineitem"].integers(1, 8, li).astype(np.int32),
                "l_quantity": r["lineitem"].integers(1, 51, li).astype(np.float64),
                "l_extendedprice": _money(r["lineitem"], 900.0, 105000.0, li),
                "l_discount": r["lineitem"].integers(0, 11, li) / 100.0,
                "l_tax": r["lineitem"].integers(0, 9, li) / 100.0,
                "l_returnflag": _pick(r["lineitem"], ["A", "N", "R"], li),
                "l_linestatus": _pick(r["lineitem"], ["F", "O"], li),
                "l_shipdate": _days(_ORDER_DAY0, r["lineitem"].integers(1, 2499, li)),
            }
        ),
        "events": events_table(r["events"], n["events"]),
        "documents": _documents(r["documents"], n["documents"]),
        "embeddings": _embeddings(r["embeddings"], n["embeddings"]),
    }


def write_parquet(table: pa.Table, path: str, row_groups: int = 1) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, row_group_size=-(-table.num_rows // row_groups))


def write_catalog(out_dir: str, tables: dict[str, pa.Table], row_groups: int = 1) -> None:
    """One ``<name>.parquet`` per table; ``row_groups`` applies to events only."""
    for name, t in tables.items():
        write_parquet(t, os.path.join(out_dir, f"{name}.parquet"), row_groups if name == "events" else 1)


def write_stream_backlog(
    out_dir: str, seed: int, n_files: int, rows_per_file: int, events_per_s: float
) -> None:
    """``n_files`` event files whose ids and event times continue from one
    file to the next, so a stream reading them in name order never sees a
    late event."""
    rng = rng_for(seed, "stream_backlog")
    span = rows_per_file / events_per_s
    for i in range(n_files):
        t = events_table(
            rng, rows_per_file, first_id=i * rows_per_file, t0_s=i * span, span_s=span, n_users=1500
        )
        write_parquet(t, os.path.join(out_dir, f"part-{i:05d}.parquet"))


# Input sizes per workload. The stream backlog is drained in micro-batches
# of STREAM_FILES_PER_BATCH files; the reference-pipeline table is split
# into row groups so that a scan has at least one task per core.
STREAM_ROWS_PER_FILE = 25_000
STREAM_FILES_PER_BATCH = 4
STREAM_BATCHES_PER_DRAIN = 3
STREAM_EVENTS_PER_S = 1000.0
REF_ROWS = 500_000


def make_inputs(workload: str, seed: int, out_dir: str, nproc: int) -> None:
    """Write the inputs of one workload under ``out_dir``."""
    if workload == "stream_region_counts":
        write_stream_backlog(
            os.path.join(out_dir, "backlog"),
            seed,
            STREAM_FILES_PER_BATCH * STREAM_BATCHES_PER_DRAIN,
            STREAM_ROWS_PER_FILE,
            STREAM_EVENTS_PER_S,
        )
    elif workload == "batch_ref_pipeline":
        events = events_table(rng_for(seed, "events"), REF_ROWS)
        write_parquet(events, os.path.join(out_dir, "events.parquet"), row_groups=2 * nproc)
    elif workload == "batch_op_mix":
        write_catalog(out_dir, catalog_tables(seed))
    else:
        raise ValueError(f"unknown workload {workload!r}")
