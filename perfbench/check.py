"""Output checks: the typed value-hash the engine's catalog is gated on,
DuckDB oracles for the lakehouse snapshot read and change feed, and a
tolerant frame comparison for results whose float sums may differ in the
last digits between engines."""

from __future__ import annotations

import datetime as _dt
import math

import pandas as pd


def _normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    """Datetime-like values -> ISO strings; -0.0 -> 0.0. int64 and float64
    stay distinct, so an engine that widens a sum changes the hash."""
    out = {}
    for c in pdf.columns:
        s = pdf[c]
        if isinstance(s.dtype, pd.DatetimeTZDtype):
            s = s.dt.tz_convert("UTC").dt.tz_localize(None)
        if pd.api.types.is_datetime64_any_dtype(s):
            s = s.dt.strftime("%Y-%m-%dT%H:%M:%S")
        elif s.dtype == object and s.notna().any() and isinstance(
            s.dropna().iloc[0], (_dt.date, _dt.datetime)
        ):
            s = s.map(
                lambda v: None
                if v is None
                else (v.strftime("%Y-%m-%dT%H:%M:%S")
                      if isinstance(v, _dt.datetime)
                      else v.strftime("%Y-%m-%dT00:00:00"))
            )
        if pd.api.types.is_float_dtype(s):
            s = s.where(s != 0.0, 0.0)
        out[c] = s
    return pd.DataFrame(out)


def _canon(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf[sorted(pdf.columns)]
    if len(pdf):
        pdf = pdf.sort_values(list(pdf.columns), kind="mergesort")
    return pdf.reset_index(drop=True)


def value_hash(pdf: pd.DataFrame) -> int:
    """Order-insensitive, dtype-sensitive hash of a result frame."""
    canon = _canon(_normalize(pdf))
    return int(pd.util.hash_pandas_object(canon, index=False).sum())


def signature(pdf: pd.DataFrame) -> tuple:
    """What a catalog result must match: sorted columns, rows, value-hash."""
    return (tuple(sorted(pdf.columns)), len(pdf), value_hash(pdf))


def frames_close(got: pd.DataFrame, want: pd.DataFrame, keys: list[str]) -> bool:
    """Same columns, same keys, equal integers and strings, floats within
    1e-9 relative (sums accumulate in another order in each engine)."""
    if sorted(got.columns) != sorted(want.columns) or len(got) != len(want):
        return False
    a = got.sort_values(keys).reset_index(drop=True)
    b = want[list(got.columns)].sort_values(keys).reset_index(drop=True)
    for c in a.columns:
        for x, y in zip(a[c].tolist(), b[c].tolist()):
            if isinstance(x, float) or isinstance(y, float):
                if x is None or y is None or not math.isclose(
                    float(x), float(y), rel_tol=1e-9, abs_tol=1e-6
                ):
                    return False
            elif x != y:
                return False
    return True


# --------------------------------------------------------------------------
# Lakehouse oracles over the orders parquet. The table each pass builds:
# v0 and v1 insert the orders dated before / from SPLIT_DATE (one batch
# each, with date zone maps); v2 deletes the keys with o_orderkey % 100 ==
# 7; v3 upserts the keys divisible by 12 with o_totalprice raised by 1.
# --------------------------------------------------------------------------

SPLIT_DATE = _dt.date(1998, 5, 1)
DELETE_MOD, DELETE_REM = 100, 7
UPSERT_MOD = 12
SNAPSHOT_RANGE = (_dt.date(1996, 1, 1), _dt.date(1997, 12, 31))
VERSIONS = 4

_BASE = """
WITH base AS (
  SELECT o_orderkey AS k, o_orderdate AS d, o_orderpriority AS p,
         o_totalprice AS v
  FROM read_parquet('{orders}')
)"""

SNAPSHOT_SQL = _BASE + """
SELECT p AS o_orderpriority, count(*) AS n_rows,
       sum(v + CASE WHEN k % {umod} = 0 THEN 1 ELSE 0 END) AS total_price
FROM base
WHERE k % {dmod} <> {drem} AND d BETWEEN DATE '{lo}' AND DATE '{hi}'
GROUP BY p
"""

# The change feed from version 0, per change type and version.
CDF_SQL = _BASE + """,
ch AS (
  SELECT k, v, 'insert' AS ct,
         CAST(CASE WHEN d < DATE '{split}' THEN 0 ELSE 1 END AS BIGINT) AS ver
  FROM base
  UNION ALL
  SELECT k, v, 'delete', 2 FROM base WHERE k % {dmod} = {drem}
  UNION ALL
  SELECT k, v, 'update_preimage', 3 FROM base WHERE k % {umod} = 0
  UNION ALL
  SELECT k, v + 1, 'update_postimage', 3 FROM base WHERE k % {umod} = 0
)
SELECT ct AS _change_type, ver AS _commit_version, count(*) AS n_rows,
       sum(v) AS total_price
FROM ch GROUP BY ct, ver
"""


def lakehouse_expected(con, orders_path: str) -> dict[str, pd.DataFrame]:
    lo, hi = SNAPSHOT_RANGE
    fmt = {
        "orders": orders_path, "lo": lo.isoformat(), "hi": hi.isoformat(),
        "split": SPLIT_DATE.isoformat(), "dmod": DELETE_MOD,
        "drem": DELETE_REM, "umod": UPSERT_MOD,
    }
    return {
        "snapshot": con.execute(SNAPSHOT_SQL.format(**fmt)).df(),
        "cdf": con.execute(CDF_SQL.format(**fmt)).df(),
    }
