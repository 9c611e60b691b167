"""Holt-Winters additive forecasting per url series — pure numpy.

Triple exponential smoothing (Holt 1957 / Winters 1960; the additive
form in Hyndman & Athanasopoulos, "Forecasting: Principles and
Practice" §8.3): level + trend + additive season, fixed smoothing
parameters (alpha, beta, gamma) — no optimizer state, so results are
partitioning- and run-deterministic.  Completes the engine's smoothing
family: EWMA (series.py) is the level-only member, this adds trend and
seasonality plus an h-step forecast horizon.

Initialization (the textbook scheme, detrended): trend_0 = difference
of the first two season means / m; level_0 = first-season mean phased
back to t = -1 (so the t = 0 one-step prediction is exact for exact
inputs); season_0[i] = y_i minus the within-season linear ramp,
centered — WITHOUT the detrending a trended series' ramp leaks into
the seasonals and the recursion must unlearn it (measured: fitted
error 1.9 on an exactly-linear series; 1e-9 with it).  Recursions:

    fitted_t  = level + trend + season[t mod m]        (one-step-ahead)
    level'    = alpha (y_t - season[t mod m]) + (1-alpha)(level+trend)
    trend'    = beta (level' - level) + (1-beta) trend
    season'   = gamma (y_t - level') + (1-gamma) season[t mod m]
    forecast(h) = level_T + h trend_T + season[(T+h-1) mod m]

Input contract: a REGULAR-cadence series (a gap-filled rollup tier —
the operator asserts cadence regularity rather than silently assuming
it).  Scale shape: one shuffle on url (plans/grouped.py), O(n)
sequential recursion per group (the algorithm is inherently sequential
in t, like the Gorilla encoder), embarrassingly parallel across urls.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from yatsm_spark.plans.grouped import group_bounds, map_sorted_groups


def holt_winters(
    y: np.ndarray,
    m: int,
    alpha: float = 0.3,
    beta: float = 0.1,
    gamma: float = 0.2,
    horizon: int = 0,
):
    """One series -> (fitted one-step-ahead values, h-step forecasts).
    Needs at least two full seasons (2m observations)."""
    y = np.asarray(y, dtype=np.float64)
    n = y.size
    if n < 2 * m:
        raise ValueError(f"holt_winters: need >= 2 seasons ({2 * m}), got {n}")
    s1_mean = float(y[:m].mean())
    trend = float((y[m : 2 * m].mean() - s1_mean) / m)
    # seasonals from the DETRENDED first season; level phased to t = -1
    season = y[:m] - (s1_mean + trend * (np.arange(m) - (m - 1) / 2.0))
    season = (season - season.mean()).copy()
    level = s1_mean - trend * ((m - 1) / 2.0 + 1.0)
    fitted = np.empty(n)
    for t in range(n):
        s = season[t % m]
        fitted[t] = level + trend + s
        new_level = alpha * (y[t] - s) + (1 - alpha) * (level + trend)
        trend = beta * (new_level - level) + (1 - beta) * trend
        season[t % m] = gamma * (y[t] - new_level) + (1 - gamma) * s
        level = new_level
    fc = np.array(
        [level + h * trend + season[(n + h - 1) % m] for h in range(1, horizon + 1)]
    )
    return fitted, fc


HW_SCHEMA = (
    "url string, ts timestamp, kind string, val double, fitted double"
)


def hw_forecast(
    obs: DataFrame,
    period_rows: int,
    horizon: int,
    id_col: str = "url",
    ts_col: str = "ts",
    val_col: str = "val",
    alpha: float = 0.3,
    beta: float = 0.1,
    gamma: float = 0.2,
    quantize: int = 6,
) -> DataFrame:
    """Per-``id_col`` Holt-Winters: one output row per input observation
    (kind='fit': observed val + one-step-ahead fitted) plus ``horizon``
    forecast rows (kind='forecast': val null, fitted = prediction,
    timestamps extrapolated by the series' cadence).  Groups shorter
    than two seasons or with irregular cadence yield no rows — loudly
    absent rather than silently wrong (gap-fill the tier first)."""

    def fit_block(pdf: pd.DataFrame) -> pd.DataFrame | None:
        ids = pdf[id_col].to_numpy()
        ts = pdf[ts_col].to_numpy()
        y = pdf[val_col].to_numpy(dtype=np.float64)
        parts = []  # (url, ts, kind, val, fitted) column arrays per emitted run
        for s, e in zip(*group_bounds(ids)):
            steps = np.diff(ts[s:e])
            if e - s < 2 * period_rows or (steps != steps[0]).any():
                continue  # too short, or irregular cadence: refuse
            fitted, fc = holt_winters(
                y[s:e], period_rows, alpha=alpha, beta=beta, gamma=gamma, horizon=horizon
            )
            parts.append((ids[s:e], ts[s:e], np.full(e - s, "fit"), y[s:e], fitted))
            parts.append(
                (
                    np.repeat(ids[s], horizon),
                    ts[e - 1] + steps[0] * np.arange(1, horizon + 1),
                    np.full(horizon, "forecast"),
                    np.full(horizon, np.nan),
                    fc,
                )
            )
        if not parts:
            return None
        url, ts_out, kind, val, fit = (np.concatenate(c) for c in zip(*parts))
        q = lambda a: np.round(a, quantize)  # noqa: E731
        return pd.DataFrame(
            {"url": url, "ts": ts_out, "kind": kind, "val": q(val), "fitted": q(fit)}
        )

    slim = obs.select(
        F.col(id_col).alias(id_col),
        F.col(ts_col).alias(ts_col),
        F.col(val_col).cast("double").alias(val_col),
    ).filter(F.col(val_col).isNotNull())
    return map_sorted_groups(slim, id_col, ts_col, fit_block, HW_SCHEMA)
