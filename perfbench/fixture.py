"""Seeded generator for the benchmark's input tables.

The tables follow the schema and value distributions of the engine's
TPC-H-ish fixture (region, nation, customer, supplier, part, orders,
lineitem, events, documents, embeddings), so every registered query and its
DuckDB oracle run on them unchanged.  The same ``(sf, copies, files, seed)``
always gives the same bytes.

``copies > 1`` builds the splittable scale-up fixture: the fact tables are
key-shifted copies of one base draw, each copy's document tokens carry the
copy id as a suffix (``spark`` -> ``spark3``) so copies are isomorphic
corpora with disjoint vocabularies, and each fact table is written as
``files`` parquet files under a ``<table>.parquet`` directory so scans split
into many tasks.  Dimension tables (region, nation, supplier, part) stay 1x.

A fixture is written into a temporary directory, checked (row counts, key
uniqueness) and then renamed into place, so a cached directory is always
complete.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
FACTS = ("customer", "orders", "lineitem", "events", "documents", "embeddings")

# (table, columns shifted by copy * base_rows_of_the_key_owner)
_SHIFT = {
    "customer": {"c_custkey": "customer"},
    "orders": {"o_orderkey": "orders", "o_custkey": "customer"},
    "lineitem": {"l_orderkey": "orders"},
    "events": {"event_id": "events", "user_id": "users"},
    "documents": {"doc_id": "documents"},
    "embeddings": {"vec_id": "embeddings"},
}
_UNIQUE_KEY = {
    "region": "r_regionkey", "nation": "n_nationkey", "customer": "c_custkey",
    "supplier": "s_suppkey", "part": "p_partkey", "orders": "o_orderkey",
    "events": "event_id", "documents": "doc_id", "embeddings": "vec_id",
}

_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_ADJ = ("small", "red", "blue", "hot", "old", "large", "new", "cold")
_NOUN = ("ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "nut")
_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_PTYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
_LANGS = ("en", "de", "es", "fr", "zh")
_DIM = 64


def sizes(sf: float) -> dict[str, int]:
    n = {
        "customer": int(150_000 * sf), "supplier": int(10_000 * sf),
        "part": int(200_000 * sf), "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf), "events": int(1_000_000 * sf),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }
    n["users"] = max(1, n["customer"] // 10)
    return n


def _choice(rng, values, n, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)], pa.string())


def _money(rng, lo, hi, n) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: dt.date, end: dt.date, n) -> pa.Array:
    span = (end - start).days
    base = np.datetime64(start, "us")
    d = rng.integers(0, span + 1, n).astype("timedelta64[D]").astype("timedelta64[us]")
    return pa.array(base + d, pa.timestamp("us"))


def _base_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = sizes(sf)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(_REGIONS, pa.string()),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    nc = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": _choice(rng, _SEGMENTS, nc),
    })
    ns = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    })
    npart = n["part"]
    names = [f"{a} {b}" for a in _ADJ for b in _NOUN]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": _choice(rng, names, npart),
        "p_brand": _choice(rng, [f"Brand#{i}" for i in range(1, 26)], npart),
        "p_type": _choice(rng, _PTYPES, npart),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) / 10.0, 1),
    })
    no = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": _choice(rng, ("F", "O", "P"), no),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, no),
        "o_orderdate": _days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), no),
        "o_orderpriority": _choice(rng, _PRIORITIES, no),
    })
    nl = n["lineitem"]
    qty = rng.integers(1, 51, nl).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": _choice(rng, ("A", "N", "R"), nl),
        "l_linestatus": _choice(rng, ("F", "O"), nl),
        "l_shipdate": _days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), nl),
    })
    ne = n["events"]
    month_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, month_us, ne)) + np.datetime64("2024-01-01", "us").astype(np.int64)
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n["users"], ne), pa.int64()),
        "event_type": _choice(rng, _EVENT_TYPES, ne),
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)], pa.string()),
    })
    nd = n["documents"]
    docs: list[list[str]] = []
    for i in range(nd):
        if i > 10 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            docs.append(docs[int(rng.integers(0, i))] + ["dup"])
        else:
            docs.append([_VOCAB[j] for j in rng.integers(0, len(_VOCAB), int(rng.integers(10, 101)))])
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": pa.array([" ".join(d) for d in docs], pa.string()),
        "lang": _choice(rng, _LANGS, nd, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": pa.array([f"src{i % 20}" for i in range(nd)], pa.string()),
    })
    t["documents"] = t["documents"].append_column(
        "n_chars", pc.cast(pc.utf8_length(t["documents"]["text"]), pa.int64())
    )
    nv = n["embeddings"]
    labels = rng.integers(0, 10, nv)
    centroids = rng.normal(0.0, 1.0, (10, _DIM))
    vec = centroids[labels] * 0.5 + rng.normal(0.0, 1.0, (nv, _DIM))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return t


def _copy(table: pa.Table, name: str, copy: int, copies: int, n: dict[str, int]) -> pa.Table:
    for col, owner in _SHIFT[name].items():
        i = table.schema.get_field_index(col)
        shifted = pc.add(table[col], pa.scalar(copy * n[owner], table.schema.field(col).type))
        table = table.set_column(i, col, shifted)
    if name == "documents" and copies > 1:
        texts = [" ".join(f"{w}{copy}" for w in s.split()) for s in table["text"].to_pylist()]
        table = table.set_column(table.schema.get_field_index("text"), "text", pa.array(texts, pa.string()))
        lens = pc.cast(pc.utf8_length(table["text"]), pa.int64())
        table = table.set_column(table.schema.get_field_index("n_chars"), "n_chars", lens)
    return table


def _check(out: str, name: str, expected_rows: int) -> None:
    data = pq.read_table(f"{out}/{name}.parquet")
    if data.num_rows != expected_rows:
        raise RuntimeError(f"{name}: wrote {data.num_rows} rows, expected {expected_rows}")
    key = _UNIQUE_KEY.get(name)
    if key is not None and pc.count_distinct(data[key]).as_py() != data.num_rows:
        raise RuntimeError(f"{name}: key {key} is not unique")


def build(root: str, sf: float, seed: int, copies: int = 1, files: int = 1) -> str:
    """Return the fixture directory for these parameters, generating it once."""
    out = os.path.join(root, f"sf{sf:g}-x{copies}-f{files}-seed{seed}")
    if os.path.isdir(out):
        os.utime(out)
        return out
    os.makedirs(root, exist_ok=True)
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    n = sizes(sf)
    base = _base_tables(sf, seed)
    for name in TABLES:
        table = base[name]
        if name in FACTS and (copies > 1 or files > 1):
            table = pa.concat_tables([_copy(table, name, c, copies, n) for c in range(copies)])
            os.makedirs(f"{tmp}/{name}.parquet")
            step = -(-table.num_rows // files)
            for f in range(files):
                pq.write_table(table.slice(f * step, step), f"{tmp}/{name}.parquet/part-{f:05d}.parquet")
        else:
            pq.write_table(table, f"{tmp}/{name}.parquet")
        _check(tmp, name, table.num_rows)
    try:
        os.rename(tmp, out)
    except OSError:  # another run finished the same fixture first
        if not os.path.isdir(out):
            raise
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def evict(root: str, keep: int) -> None:
    """Delete all but the ``keep`` most recently used fixture directories."""
    if not os.path.isdir(root):
        return
    dirs = [os.path.join(root, d) for d in os.listdir(root)]
    dirs.sort(key=os.path.getmtime, reverse=True)
    for d in dirs[keep:]:
        shutil.rmtree(d, ignore_errors=True)
