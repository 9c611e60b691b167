"""Seasonal-trend decomposition (STL-style) per url series — pure numpy.

Classic additive decomposition y = trend + seasonal + remainder in the
STL family (Cleveland, Cleveland, McRae & Terpenning 1990, "STL: a
seasonal-trend decomposition procedure based on loess", J. Official
Statistics 6(1)), built from kernels this engine already owns: the
trend smoother is functions/ccdc.py::lowess (F5, Cleveland 1979 — the
same loess STL prescribes) and the seasonal component is cycle-
subseries means (the textbook simplification of STL's cycle-subseries
loess — exact for stable seasonal shapes, deterministic, and oracle-
friendly), iterated the standard way:

    for n_iter rounds:
        seasonal <- centered cycle-subseries MEDIANS of (y - trend)
        trend    <- robust lowess(t, y - seasonal)
    remainder = y - trend - seasonal

Medians, not means, at the subseries granularity carry STL's
robustness: a single spike cannot leak spike/bin_count into every
same-phase observation the way a subseries mean lets it (and the way
a GLOBAL bisquare pass cannot fix without zeroing the whole
contaminated bin on low-noise series); the lowess trend brings its own
bisquare iterations (it=2).

Anomaly flagging on the remainder uses the robust MAD rule (|r| >
crit * 1.4826 * MAD), the same constant family as the Tmask screen,
with a scale floor (1e-3 of the series' robust scale): on noise-free
synthetic series the MAD collapses toward machine precision and the
rule would flag numerical dust.

Upstream parity note: the reference has no STL (its seasonality lives
in the harmonic regression K1/K5); this extends the engine's analytics
family (SURVEY §2.4 A15+) with the decomposition every observability
TSDB ships.  Scale shape identical to segmentation: ONE shuffle on url
(plans/grouped.py::map_sorted_groups), per-group numpy O(n · frac · n),
embarrassingly parallel across urls.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from yatsm_spark.functions.ccdc import lowess
from yatsm_spark.plans.grouped import group_bounds, map_sorted_groups

_SECONDS_PER_DAY = 86400.0


def stl_decompose(
    t_days: np.ndarray,
    y: np.ndarray,
    period_days: float,
    n_bins: int = 0,
    frac: float = 0.3,
    n_iter: int = 2,
    crit: float = 3.5,
):
    """Decompose one series: returns (trend, seasonal, remainder,
    anomaly_mask).  ``t_days`` float days (sorted), ``period_days`` the
    season length; ``n_bins`` cycle bins (0 = one bin per distinct
    integer position for daily-ish cadences, capped at 366)."""
    t_days = np.asarray(t_days, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    n = y.size
    if n_bins <= 0:
        n_bins = int(min(max(round(period_days), 2), 366))
    pos = np.floor((t_days % period_days) / period_days * n_bins).astype(np.int64)
    pos = np.clip(pos, 0, n_bins - 1)

    # per-bin MEDIANS, not means: robust at the subseries granularity
    # (classic STL robustifies within each cycle subseries — a single
    # spike must not leak spike/bin_count into every same-phase row).
    # Bins are contiguous after a stable sort by bin id; O(n log n).
    order = np.argsort(pos, kind="stable")
    sorted_pos = pos[order]
    bounds = np.searchsorted(sorted_pos, np.arange(n_bins + 1))

    def bin_medians(detr: np.ndarray) -> np.ndarray:
        ds = detr[order]
        meds = np.zeros(n_bins)
        for b in range(n_bins):
            lo, hi = bounds[b], bounds[b + 1]
            if hi > lo:
                meds[b] = np.median(ds[lo:hi])
        return meds

    cnts = np.bincount(pos, minlength=n_bins)
    trend = np.full(n, np.median(y))
    seasonal = np.zeros(n)
    for _ in range(n_iter):
        meds = bin_medians(y - trend)
        # center so the seasonal carries no level (level = trend's)
        meds -= (meds * cnts).sum() / max(cnts.sum(), 1)
        seasonal = meds[pos]
        trend = lowess(t_days, y - seasonal, frac=frac, it=2)
    remainder = y - trend - seasonal
    mad = np.median(np.abs(remainder - np.median(remainder)))
    # scale floor: on noise-free synthetics the MAD collapses to
    # machine precision and crit*sigma would flag numerical dust; the
    # absolute term covers exactly-constant series (yscale = 0 too)
    yscale = np.median(np.abs(y - np.median(y)))
    sigma = max(1.4826 * mad, 1e-3 * yscale, 1e-9 * (1.0 + abs(float(np.median(y)))))
    anom = (
        np.abs(remainder) > crit * sigma
        if sigma > 0
        else np.zeros(n, dtype=bool)
    )
    return trend, seasonal, remainder, anom


STL_SCHEMA = (
    "url string, ts timestamp, val double, trend double, seasonal double, "
    "remainder double, is_anomaly boolean"
)


def seasonal_decompose(
    obs: DataFrame,
    period_days: float,
    id_col: str = "url",
    ts_col: str = "ts",
    val_col: str = "val",
    frac: float = 0.3,
    n_iter: int = 2,
    crit: float = 3.5,
    quantize: int = 6,
) -> DataFrame:
    """Per-``id_col`` STL-style decomposition (module docstring): one
    row out per observation with (trend, seasonal, remainder,
    is_anomaly).  Components are rounded to ``quantize`` decimals so
    downstream hashing moves stable digits.

    Scale notes: ONE shuffle (hash on url), url-sorted grouped map;
    per-group work is the lowess O(n·k) bound (row-blocked inside lowess,
    so memory stays bounded for giant series); output volume equals
    input volume — no blow-up.
    """

    def fit_block(pdf: pd.DataFrame) -> pd.DataFrame:
        t = pdf[ts_col].astype("int64").to_numpy() / 1e9 / _SECONDS_PER_DAY
        y = pdf[val_col].to_numpy(dtype=np.float64)
        parts = [
            stl_decompose(t[s:e], y[s:e], period_days, frac=frac, n_iter=n_iter, crit=crit)
            for s, e in zip(*group_bounds(pdf[id_col].to_numpy()))
        ]
        trend, seas, rem, anom = (np.concatenate(c) for c in zip(*parts))
        q = lambda a: np.round(a, quantize)  # noqa: E731
        return pd.DataFrame(
            {
                "url": pdf[id_col].to_numpy(),
                "ts": pdf[ts_col].to_numpy(),
                "val": q(y),
                "trend": q(trend),
                "seasonal": q(seas),
                "remainder": q(rem),
                "is_anomaly": anom,
            }
        )

    slim = obs.select(
        F.col(id_col).alias(id_col),
        F.col(ts_col).alias(ts_col),
        F.col(val_col).cast("double").alias(val_col),
    ).filter(F.col(val_col).isNotNull())
    return map_sorted_groups(slim, id_col, ts_col, fit_block, STL_SCHEMA)
