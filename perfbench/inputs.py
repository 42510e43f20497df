"""Seeded benchmark inputs.

``write_tables`` writes the ten parquet tables the query registry reads
(``data.TABLES``) with the shapes, key ranges and value domains of the
repo's deterministic test tables (TESTDATA.md): a TPC-H-ish star schema,
an ``events`` stream table, a ``documents`` corpus with ~5% near
duplicates, and 64-d unit ``embeddings``. Row counts follow the same
scale factor convention (lineitem = 6M x sf). Everything comes from one
``numpy`` generator per table, seeded by the workload seed and the
table's name, so the same seed gives byte-identical files and a subset
of the tables has the same contents as the full set.

``write_stream_inputs`` writes the streaming workload's backlog: the
pin/geo/user Kinesis blob files from the package's own generator and the
events rows as JSON-lines files in a seed-shuffled arrival order.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.42, 0.145, 0.145, 0.145, 0.145]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
EMBED_DIM = 64
N_SOURCES = 20
DUP_FRAC = 0.05


def table_sizes(sf: float) -> dict[str, int]:
    return {
        "customer": round(150_000 * sf),
        "supplier": round(10_000 * sf),
        "part": round(200_000 * sf),
        "orders": round(1_500_000 * sf),
        "lineitem": round(6_000_000 * sf),
        "events": round(1_000_000 * sf),
        "users": max(10, round(15_000 * sf)),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
    }


def _days(rng, lo: dt.date, hi: dt.date, n: int) -> np.ndarray:
    span = (hi - lo).days
    base = np.datetime64(lo, "D")
    return (base + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values: list[str], n: int, p=None) -> list[str]:
    return [values[i] for i in rng.choice(len(values), n, p=p)]


I32, I64 = pa.int32(), pa.int64()


def _region(rng, n):
    return {"r_regionkey": pa.array(range(5), I32), "r_name": REGIONS}


def _nation(rng, n):
    return {
        "n_nationkey": pa.array(range(25), I32),
        "n_name": [f"NATION_{k}" for k in range(25)],
        "n_regionkey": pa.array([k % 5 for k in range(25)], I32)}


def _customer(rng, n):
    nc = n["customer"]
    return {
        "c_custkey": pa.array(range(nc), I64),
        "c_name": [f"Customer#{k:09d}" for k in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), I32),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": _pick(rng, SEGMENTS, nc)}


def _supplier(rng, n):
    ns = n["supplier"]
    return {
        "s_suppkey": pa.array(range(ns), I64),
        "s_name": [f"Supplier#{k:09d}" for k in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), I32),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns)}


def _part(rng, n):
    npart = n["part"]
    keys = np.arange(npart)
    return {
        "p_partkey": pa.array(keys, I64),
        "p_name": [f"{a} {b}" for a, b in zip(_pick(rng, PART_ADJ, npart),
                                              _pick(rng, PART_NOUN, npart))],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, npart)],
        "p_type": _pick(rng, PART_TYPES, npart),
        "p_size": pa.array(rng.integers(1, 51, npart), I32),
        "p_retailprice": np.round(900 + (keys % 1000) / 10, 1)}


def _orders(rng, n):
    no = n["orders"]
    return {
        "o_orderkey": pa.array(range(no), I64),
        "o_custkey": pa.array(rng.integers(0, n["customer"], no), I64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], no),
        "o_totalprice": _money(rng, 1000, 500_000, no),
        "o_orderdate": _days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), no),
        "o_orderpriority": _pick(rng, PRIORITIES, no)}


def _lineitem(rng, n):
    nl = n["lineitem"]
    return {
        "l_orderkey": pa.array(rng.integers(0, n["orders"], nl), I64),
        "l_partkey": pa.array(rng.integers(0, n["part"], nl), I64),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], nl), I64),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), I32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, nl),
        "l_discount": rng.integers(0, 11, nl) / 100,
        "l_tax": rng.integers(0, 9, nl) / 100,
        "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
        "l_linestatus": _pick(rng, ["F", "O"], nl),
        "l_shipdate": _days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), nl)}


def _events(rng, n):
    ne = n["events"]
    gaps = rng.exponential(30 * 86_400e6 / ne, ne).astype(np.int64)
    start = np.datetime64("2024-01-01T00:00:00", "us")
    return {
        "event_id": pa.array(range(ne), I64),
        "ts": pa.array(start + np.cumsum(gaps).astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n["users"], ne), I64),
        "event_type": _pick(rng, EVENT_TYPES, ne),
        "value": np.round(rng.exponential(50, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]}


def _documents(rng, n):
    nd = n["documents"]
    texts: list[str] = []
    for i in range(nd):
        if i > 0 and rng.random() < DUP_FRAC:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.choice(len(VOCAB), int(rng.integers(10, 100)))
            texts.append(" ".join(VOCAB[w] for w in words))
    return {
        "doc_id": pa.array(range(nd), I64),
        "text": texts,
        "lang": _pick(rng, LANGS, nd, LANG_P),
        "source": [f"src{i % N_SOURCES}" for i in range(nd)],
        "n_chars": pa.array([len(t) for t in texts], I64)}


def _embeddings(rng, n):
    nv = n["embeddings"]
    vecs = rng.standard_normal((nv, EMBED_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return {
        "vec_id": pa.array(range(nv), I64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), I32)}


BUILDERS = {
    "region": _region, "nation": _nation, "customer": _customer,
    "supplier": _supplier, "part": _part, "orders": _orders,
    "lineitem": _lineitem, "events": _events, "documents": _documents,
    "embeddings": _embeddings,
}


def write_tables(
    out_dir: str, sf: float, seed: int, tables: tuple[str, ...] = tuple(BUILDERS)
) -> dict[str, int]:
    """Write ``tables`` (default: all ten) for ``sf`` under ``out_dir``;
    return the row count per table."""
    os.makedirs(out_dir, exist_ok=True)
    n = table_sizes(sf)
    rows = {}
    for name in tables:
        rng = np.random.default_rng([seed, *name.encode()])
        cols = BUILDERS[name](rng, n)
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = len(next(iter(cols.values())))
    return rows


def write_stream_inputs(
    out_dir: str, records: int, files: int, events_dir: str, seed: int
) -> dict[str, str]:
    """Write the streaming backlog under ``out_dir`` and return the source
    directory per stream: ``pin``/``geo``/``user`` (package generator,
    ``records`` rows, ``files`` files each) and ``events`` (the rows of
    ``events_dir/events.parquet`` shuffled by ``seed`` into ``files`` JSON
    files, so arrival order varies with the seed)."""
    from pinterest_data_pipeline218_spark.sources.generator import (
        write_blob_stream_files,
    )

    paths = write_blob_stream_files(
        os.path.join(out_dir, "blobs"), n=records, seed=seed,
        files_per_table=files,
    )
    ev = pq.read_table(
        os.path.join(events_dir, "events.parquet"),
        columns=["event_type", "user_id"],
    ).to_pylist()
    order = np.random.default_rng(seed).permutation(len(ev))
    ev_dir = os.path.join(out_dir, "events")
    os.makedirs(ev_dir, exist_ok=True)
    for f, chunk in enumerate(np.array_split(order, files)):
        with open(os.path.join(ev_dir, f"part-{f:05d}.json"), "w") as fh:
            fh.writelines(json.dumps(ev[i]) + "\n" for i in chunk)
    return paths | {"events": ev_dir}
