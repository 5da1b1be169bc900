"""Output check: a Spark result against its DuckDB oracle over the same files.

The comparison is the repository gate's: same row count, same column names,
and equal values after an order-insensitive sort -- floats bit-exact, every
other column compared as text. Nothing here runs inside a timed region.
"""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pandas as pd


class Oracle:
    """A DuckDB connection with every generated table registered as a view."""

    def __init__(self, data_dir: str, tables, threads: int = 2):
        self.con = duckdb.connect()
        self.con.execute(f"SET threads = {threads}")
        for t in tables:
            path = os.path.join(data_dir, f"{t}.parquet")
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")

    def run(self, sql: str) -> pd.DataFrame:
        return self.con.execute(sql).df()

    def close(self) -> None:
        self.con.close()


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if not np.issubdtype(df[c].dtype, np.floating):
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def mismatch(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when ``got`` equals ``want``; otherwise the first difference found."""
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    g, w = _canon(got), _canon(want)
    for c in g.columns:
        gv, wv = g[c].to_numpy(), w[c].to_numpy()
        if np.issubdtype(gv.dtype, np.floating) != np.issubdtype(wv.dtype, np.floating):
            return f"column {c}: dtype {gv.dtype} != {wv.dtype}"
        if np.issubdtype(gv.dtype, np.floating):
            g64, w64 = gv.astype(np.float64), wv.astype(np.float64)
            same = (g64 == w64) | (np.isnan(g64) & np.isnan(w64))
        else:
            same = gv == wv
        if not same.all():
            return f"column {c}: {int((~same).sum())} of {len(gv)} values differ"
    return None
