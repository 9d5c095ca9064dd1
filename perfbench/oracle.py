"""Output checks: row count, schema and an order-insensitive value hash.

A key's Spark output is compared with its DuckDB oracle SQL run over the
same parquet files: column names (sorted), the kind of every column, the
row count and a hash that ignores row order.  Floats compare bit-exactly,
as the engine's oracle contract requires.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

import duckdb
import numpy as np
import pandas as pd

_KIND = {"i": "int", "u": "int", "f": "float", "b": "bool", "M": "time", "m": "delta"}


@dataclass(frozen=True)
class Digest:
    rows: int
    schema: tuple[tuple[str, str], ...]  # (column, kind), sorted by column
    value_hash: str


def _obj(v) -> str:
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_obj(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_obj(x)}" for k, x in sorted(v.items())) + "}"
    if v is None or (isinstance(v, float) and np.isnan(v)):
        return "None"
    if isinstance(v, (float, np.floating)):
        return repr(float(v))
    return str(v)


def _column(s: pd.Series) -> tuple[str, pd.Series]:
    kind = _KIND.get(s.dtype.kind, "obj")
    if kind == "int":
        return kind, s.astype(np.int64)
    if kind == "float":
        v = s.to_numpy(dtype=np.float64, copy=True)
        v[v == 0.0] = 0.0  # -0.0 and 0.0 hash alike
        return kind, pd.Series(v)
    if kind == "time":
        return kind, s.astype("datetime64[ns]").astype(np.int64)
    if pd.api.types.infer_dtype(s, skipna=True) == "string":
        return kind, s  # hashed natively, no per-value conversion
    return kind, s.map(_obj)


def digest(pdf: pd.DataFrame) -> Digest:
    cols = sorted(pdf.columns)
    schema, norm = [], {}
    for c in cols:
        kind, values = _column(pdf[c].reset_index(drop=True))
        schema.append((c, kind))
        norm[c] = values
    h = hashlib.sha256()
    if len(pdf):
        rows = pd.util.hash_pandas_object(pd.DataFrame(norm), index=False).to_numpy()
        h.update(np.sort(rows).tobytes())
    return Digest(len(pdf), tuple(schema), h.hexdigest())


def connect(fixture_dir: str, tables, threads: int) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET threads TO {threads}")
    con.execute("SET memory_limit = '1GB'")
    for t in tables:
        path = f"{fixture_dir}/{t}.parquet"
        if os.path.isdir(path):
            path = f"{path}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def problems(got: Digest, want: Digest) -> list[str]:
    """Differences between a Spark digest and its oracle digest."""
    out = []
    if [c for c, _ in got.schema] != [c for c, _ in want.schema]:
        return [f"columns {[c for c, _ in got.schema]} != {[c for c, _ in want.schema]}"]
    out += [f"kind {c}: {a} != {b}" for (c, a), (_, b) in zip(got.schema, want.schema) if a != b]
    if got.rows != want.rows:
        out.append(f"rows {got.rows} != {want.rows}")
    elif got.value_hash != want.value_hash:
        out.append("value hash differs")
    return out
