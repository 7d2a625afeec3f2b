"""Correctness gate: compare an engine output with the registry's DuckDB
oracle on the same generated input.

The oracle SQL is the one the registry ships for each query
(``registry.driver_oracle_sql()``, built by ``fixtures.defs.oracle_query``);
DuckDB runs it over the input set's parquet files. Rows are compared as a
multiset after canonicalizing each value, so row order never matters and
value types that differ only by engine (Decimal vs float, timestamp units)
compare equal. No tolerance is applied: the engine's outputs are exact by
design.
"""

from __future__ import annotations

import datetime as dt
import math
import os
from collections import Counter
from concurrent.futures import Future, ThreadPoolExecutor
from decimal import Decimal

import duckdb
import pandas as pd

BASE_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def oracle_frame(sql: str, input_dir: str) -> pd.DataFrame:
    """Run ``sql`` in DuckDB over the parquet tables of ``input_dir``. Two
    threads: the oracle runs beside the warm-up, never beside timing."""
    con = duckdb.connect()
    try:
        con.execute("SET TimeZone='UTC'")
        con.execute("SET threads=2")
        for t in BASE_TABLES:
            path = os.path.join(input_dir, f"{t}.parquet")
            if os.path.exists(path):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        return con.execute(sql).fetchdf()
    finally:
        con.close()


def _canon(v):
    if v is None:
        return None
    if hasattr(v, "item") and not isinstance(v, (str, bytes)):
        v = v.item()  # numpy scalar
    if isinstance(v, float) and math.isnan(v):
        return None
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, (pd.Timestamp, dt.datetime)):
        ts = pd.Timestamp(v)
        if ts is pd.NaT:
            return None
        if ts.tzinfo is not None:
            ts = ts.tz_convert("UTC").tz_localize(None)
        return ("ts", ts.value // 1000)  # micros
    if v is pd.NaT:
        return None
    if isinstance(v, float) and v.is_integer() and abs(v) < 2**53:
        return int(v)  # an integer read back as float compares equal
    return v


def canonical_rows(df: pd.DataFrame) -> Counter:
    cols = sorted(df.columns)
    return Counter(
        tuple(_canon(v) for v in row)
        for row in df[cols].astype(object).itertuples(index=False, name=None)
    )


def compare(actual: pd.DataFrame, expected: pd.DataFrame) -> dict:
    """Multiset comparison. ``mismatched_rows`` counts rows present on one
    side but not the other (a changed row counts once per side)."""
    if sorted(actual.columns) != sorted(expected.columns):
        return {
            "ok": False,
            "reason": f"columns {sorted(actual.columns)} != {sorted(expected.columns)}",
            "mismatched_rows": max(len(actual), len(expected)),
        }
    a, e = canonical_rows(actual), canonical_rows(expected)
    extra, missing = a - e, e - a
    n_bad = sum(extra.values()) + sum(missing.values())
    out = {"ok": n_bad == 0, "rows": len(actual), "expected_rows": len(expected)}
    if n_bad:
        out["mismatched_rows"] = n_bad
        out["example_extra"] = repr(next(iter(extra), None))[:300]
        out["example_missing"] = repr(next(iter(missing), None))[:300]
    return out


def in_background(fn, *args) -> Future:
    """Start ``fn(*args)`` on its own thread and return its future."""
    pool = ThreadPoolExecutor(1)
    fut = pool.submit(fn, *args)
    pool.shutdown(wait=False)
    return fut


def read_parquet_dir(path: str) -> pd.DataFrame:
    import pyarrow.parquet as pq

    return pq.read_table(path).to_pandas()
