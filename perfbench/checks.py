"""Output checks, run outside the timed windows.

Responses are compared as multisets of canonical rows: every value
exact (floats by repr, timestamps by their string form), column names
equal, row order ignored. That is the comparison
``scripts/verify_contract.py`` applies (row count, sorted column names,
exact values), expressed over the JSON the serving edge returns.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import math

import numpy as np
import pandas as pd

M02_PERIODS = 14  # m02 forecasts ml.forecast's default horizon, in days


def _canon(v):
    if v is None:
        return None
    if isinstance(v, (bool, np.bool_)):
        return bool(v)
    if isinstance(v, (int, float, np.integer, np.floating)):
        f = float(v)
        return None if math.isnan(f) else repr(f)
    if isinstance(v, pd.Timestamp):
        return str(v.to_pydatetime())
    if isinstance(v, (dt.datetime, dt.date)):
        return str(v)
    return str(v)


def canon_rows(rows: list[dict]) -> list[str]:
    """Sorted canonical form of a list of row dicts."""
    return sorted(json.dumps({k: _canon(v) for k, v in sorted(r.items())})
                  for r in rows)


def frame_rows(df: pd.DataFrame) -> list[dict]:
    return [
        {c: (None if (not isinstance(v, (str, bool)) and pd.isna(v)) else v)
         for c, v in zip(df.columns, row)}
        for row in df.itertuples(index=False, name=None)
    ]


def digest(rows: list[dict]) -> str:
    return hashlib.sha256("\n".join(canon_rows(rows)).encode()).hexdigest()


def apply_filters(rows: list[dict], filters: dict | None) -> list[dict]:
    if not filters:
        return rows
    return [r for r in rows
            if all(_canon(r.get(k)) == _canon(v) for k, v in filters.items())]


def match_oracle(got: list[dict], want: list[dict]) -> str | None:
    """None if ``got`` equals ``want`` as row multisets, else a reason."""
    if len(got) != len(want):
        return f"rows {len(got)} vs oracle {len(want)}"
    if got and sorted(got[0]) != sorted(want[0]):
        return f"columns {sorted(got[0])} vs oracle {sorted(want[0])}"
    if canon_rows(got) != canon_rows(want):
        return "values differ from oracle"
    return None


# --- rows-only endpoints: invariants (FIXTURES.md §4) ----------------------

G08_COLS = ("user_id", "date", "total_value", "rolling_7_mean", "dow")


def check_m01(got: list[dict], g08_oracle: list[dict]) -> str | None:
    """m01 = g08's feature frame + (score, anomaly): the feature columns
    must equal g08's oracle rows; anomaly must agree with the score's
    |z| > 3 threshold (score = -|z|, rounded to 6 places)."""
    feats = [{c: r[c] for c in G08_COLS} for r in got]
    why = match_oracle(feats, g08_oracle)
    if why:
        return f"feature columns: {why}"
    for r in got:
        if r["score"] is None or r["score"] > 0:
            return f"score {r['score']} outside (-inf, 0]"
        if (r["anomaly"] and r["score"] > -3.0) or (not r["anomaly"] and r["score"] < -3.0):
            return f"anomaly={r['anomaly']} disagrees with score {r['score']}"
    return None


def check_m02(got: list[dict]) -> str | None:
    if len(got) != M02_PERIODS:
        return f"{len(got)} forecast rows, want {M02_PERIODS}"
    for r in got:
        if not (r["yhat_lower"] <= r["yhat"] <= r["yhat_upper"]):
            return f"interval violated at {r['ds']}"
    return None


def check_m03(got: list[dict], n_docs: int) -> str | None:
    ids = sorted(r["media_id"] for r in got)
    if ids != list(range(n_docs)):
        return f"{len(ids)} media rows, want one per document ({n_docs})"
    if any(not r["feature_dim"] or r["feature_dim"] <= 0 for r in got):
        return "empty feature vector"
    return None


# --- ingest read phase: pandas twin of the per-home anomaly request --------

def expected_home_daily(valid_rows: list[tuple[str, str, float, str]],
                        home: str) -> pd.DataFrame:
    """Dense daily series for one home from the generator's known valid
    rows: per-day kWh sum and distinct appliances, zero-filled between
    the home's first and last day, trailing 7-row mean."""
    rows = [r for r in valid_rows if r[0] == home]
    df = pd.DataFrame(rows, columns=["HomeID", "appl", "kwh", "Date"])
    df["date"] = pd.to_datetime(df["Date"], format="%d-%m-%Y")
    daily = df.groupby("date").agg(total_kwh=("kwh", "sum"),
                                   unique_appliances=("appl", "nunique"))
    spine = pd.date_range(daily.index.min(), daily.index.max(), freq="D")
    daily = daily.reindex(spine, fill_value=0)
    daily["rolling_7_mean"] = daily["total_kwh"].rolling(7, min_periods=1).mean()
    return daily


def check_home_response(got: list[dict], want: pd.DataFrame) -> str | None:
    if len(got) != len(want):
        return f"{len(got)} days, want {len(want)}"
    by_day = {str(r["date"])[:10]: r for r in got}
    for day, w in want.iterrows():
        r = by_day.get(day.strftime("%Y-%m-%d"))
        if r is None:
            return f"missing day {day.date()}"
        if r["unique_appliances"] != w["unique_appliances"]:
            return f"appliances differ on {day.date()}"
        for col in ("total_kwh", "rolling_7_mean"):
            if not math.isclose(r[col], w[col], rel_tol=1e-9, abs_tol=1e-9):
                return f"{col} {r[col]} vs {w[col]} on {day.date()}"
        if (r["anomaly"] and r["score"] > -3.0) or (not r["anomaly"] and r["score"] < -3.0):
            return f"anomaly flag disagrees with score on {day.date()}"
    return None
