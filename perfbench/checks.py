"""Output checks, run outside the timed passes.

- Registry queries are compared with their DuckDB oracle SQL under the
  project's parity rule: same column names, same row count, and equal
  values after sorting, floats within 1e-9 (relative or absolute).
- Written Parquet outputs are fingerprinted in a row-order-independent
  way, so two passes can be compared exactly.
"""

from __future__ import annotations

import glob
import hashlib
import math
import os

import pandas as pd
import pyarrow.parquet as pq


def oracle_frame(tables_dir: str, tables: tuple[str, ...], sql: str, tmp: str) -> pd.DataFrame:
    import duckdb

    con = duckdb.connect()
    try:
        con.execute(f"SET temp_directory = '{tmp}'")
        for t in tables:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{os.path.join(tables_dir, t)}.parquet')"
            )
        return con.execute(sql).df()
    finally:
        con.close()


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object and len(df) and isinstance(df[c].iloc[0], (list, tuple)):
            df[c] = df[c].apply(lambda v: tuple(v) if v is not None else None)
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[ns]")
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def _equal(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b or math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_equal(x, y) for x, y in zip(a, b))
    if pd.isna(a) and pd.isna(b):
        return True
    return a == b


def parity_error(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when ``got`` matches ``want`` under the parity rule, else
    the first difference found."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} vs {sorted(want.columns)}"
    if len(got) != len(want):
        return f"row count {len(got)} vs {len(want)}"
    g, w = _canon(got), _canon(want)
    for col in g.columns:
        for i, (a, b) in enumerate(zip(g[col].tolist(), w[col].tolist())):
            if not _equal(a, b):
                return f"{col}[{i}]: {a!r} vs {b!r}"
    return None


def parquet_fingerprint(path: str, keys: list[str]) -> tuple[str, int, dict[str, int]]:
    """(sha256 of the rows sorted by ``keys``, row count, count of
    finite values per list column) of a Parquet directory written by
    Spark."""
    import numpy as np
    import pyarrow as pa

    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    table = pq.read_table(files).sort_by([(k, "ascending") for k in keys])
    h = hashlib.sha256()
    finite: dict[str, int] = {}
    for name in table.column_names:
        col = table.column(name).combine_chunks()
        h.update(name.encode())
        if pa.types.is_list(col.type):
            vals = col.flatten().to_numpy(zero_copy_only=False)
            h.update(col.value_lengths().to_numpy(zero_copy_only=False).tobytes())
            finite[name] = int(np.isfinite(vals).sum())
        else:
            vals = col.to_numpy(zero_copy_only=False)
        h.update(np.ascontiguousarray(vals).tobytes())
    return h.hexdigest(), table.num_rows, finite
