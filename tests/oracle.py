"""DuckDB oracle comparison harness, mirroring the driver's correctness gate:
row-count + column names + order-insensitive value comparison.

Stricter than the driver in one way: values must match EXACTLY (no
tolerance), because the driver hashes values — any FP divergence that trips
this harness would trip the driver's hash too.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from spark_streaming_invoice_anomaly_detection_spark.schemas import TESTDATA_TABLES


def duckdb_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS "
            f"SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.copy()
    df = df[sorted(df.columns)]
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            if getattr(s.dtype, "tz", None) is not None:
                s = s.dt.tz_convert("UTC").dt.tz_localize(None)
            df[c] = s.astype("datetime64[us]")
        elif s.dtype == object:
            nonnull = s.dropna()
            if len(nonnull) and hasattr(nonnull.iloc[0], "isoformat"):
                df[c] = pd.to_datetime(s).astype("datetime64[us]")
        elif pd.api.types.is_integer_dtype(s):
            df[c] = s.astype("int64")
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.astype("float64")
    # order-insensitive: sort rows by every column (stringify for mixed/NaN)
    if len(df):
        key = df.astype(str)
        order = key.sort_values(by=list(df.columns)).index
        df = df.loc[order].reset_index(drop=True)
    return df


def assert_matches_oracle(
    spark_df: DataFrame,
    con,
    sql: str,
    name: str = "?",
    allow_empty: bool = True,
) -> None:
    got = _normalize(spark_df.toPandas())
    want = _normalize(con.execute(sql).fetchdf())
    assert allow_empty or len(got) > 0, (
        f"[{name}] degenerate: both sides empty — the comparison validates "
        f"nothing (dead filter literal?)"
    )
    assert list(got.columns) == list(want.columns), (
        f"[{name}] column mismatch: spark={list(got.columns)} duckdb={list(want.columns)}"
    )
    assert len(got) == len(want), f"[{name}] row count: spark={len(got)} duckdb={len(want)}"
    for c in got.columns:
        # Dtype parity: the driver hashes pandas
        # REPRESENTATIONS, so int64-vs-float64 on the same column (e.g. a
        # DuckDB HUGEINT rendering 83 as 83.0) hash-fails at the driver
        # even when every value compares equal.  _normalize already folds
        # int widths to int64 and float widths to float64, so any
        # remaining dtype difference is a real representation divergence.
        gd, wd = got[c].dtype, want[c].dtype
        assert gd == wd, (
            f"[{name}] dtype mismatch on '{c}': spark={gd} duckdb={wd} — "
            f"values may still compare equal, but the driver's value hash "
            f"diverges on representation (HUGEINT/DECIMAL oracle output?)"
        )
    for c in got.columns:
        g, w = got[c], want[c]
        if pd.api.types.is_float_dtype(g) or pd.api.types.is_float_dtype(w):
            g = pd.to_numeric(g, errors="coerce").astype("float64")
            w = pd.to_numeric(w, errors="coerce").astype("float64")
            both_nan = g.isna() & w.isna()
            eq = (g.to_numpy() == w.to_numpy()) | both_nan.to_numpy()
            if not eq.all():
                bad = np.flatnonzero(~eq)[:5]
                diffs = (g - w).abs().iloc[bad].to_list()
                raise AssertionError(
                    f"[{name}] float col '{c}' mismatch at rows {bad.tolist()}: "
                    f"spark={g.iloc[bad].to_list()} duckdb={w.iloc[bad].to_list()} "
                    f"absdiff={diffs}"
                )
        else:
            eq = (g.astype(str).to_numpy() == w.astype(str).to_numpy())
            if not eq.all():
                bad = np.flatnonzero(~eq)[:5]
                raise AssertionError(
                    f"[{name}] col '{c}' mismatch at rows {bad.tolist()}: "
                    f"spark={g.iloc[bad].to_list()} duckdb={w.iloc[bad].to_list()}"
                )
