"""The url-sorted grouped-map runner (plans/grouped.py): batch carry-over
in isolation, then every per-url kernel with groups straddling Arrow
batches, and the presorted (bucketed, zero-shuffle) scan."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from yatsm_spark.functions.ccdc import CCDCParams
from yatsm_spark.functions.decompose import seasonal_decompose
from yatsm_spark.functions.forecast import hw_forecast
from yatsm_spark.functions.pheno import longterm_pheno
from yatsm_spark.plans.blobs import encode_blobs
from yatsm_spark.plans.grouped import group_bounds, run_sorted_blocks
from yatsm_spark.plans.segmentation import segment_series
from yatsm_spark.sources.storage import write_bucketed_tier

PARAMS = CCDCParams(period=7.0, min_span=56.0, retrain_time=56.0)
BATCH_CONF = "spark.sql.execution.arrow.maxRecordsPerBatch"


def test_group_bounds():
    s, e = group_bounds(np.array(["a", "a", "b", "c", "c", "c"], dtype=object))
    assert s.tolist() == [0, 2, 3] and e.tolist() == [2, 3, 6]
    s, e = group_bounds(np.array(["a"], dtype=object))
    assert s.tolist() == [0] and e.tolist() == [1]


def test_run_sorted_blocks_carries_groups_and_drops_empty_results():
    keys = ["a"] * 5 + ["b"] + ["c"] * 9 + ["d", "e"] + ["f"] * 3
    pdf = pd.DataFrame({"k": keys, "v": np.arange(len(keys))})
    # batches of 4 rows (one empty batch too): most groups straddle a boundary
    batches = [pdf.iloc[i : i + 4] for i in range(0, len(pdf), 4)]
    batches.insert(2, pdf.iloc[:0])
    seen = []

    def fn(block):
        seen.append(block["k"].tolist())
        # "b" and "e" emit nothing (like too-short HW series): as an empty
        # frame once, as None once
        if set(block["k"]) <= {"b"}:
            return block.iloc[:0]
        if set(block["k"]) <= {"e"}:
            return None
        return block[~block["k"].isin(["b", "e"])]

    out = list(run_sorted_blocks(iter(batches), "k", fn))
    # every block holds whole groups, in order, each group exactly once
    flat = [k for b in seen for k in b]
    assert flat == keys
    for b in seen:
        for k in set(b):
            assert b.count(k) == keys.count(k)
    assert all(len(o) for o in out)  # no empty frames left behind
    got = pd.concat(out)
    assert got["v"].tolist() == [v for k, v in zip(keys, range(len(keys))) if k not in "be"]


def _series_pdf() -> pd.DataFrame:
    """Daily 1d-tier-shaped series: long ones with planted breaks and a
    weekly season, plus tiny, short and irregular ones that several
    kernels refuse — so groups of every size straddle 7-row batches."""
    rng = np.random.default_rng(5)
    rows = []
    t0 = pd.Timestamp("2023-01-01")
    for u in range(6):
        n = 150 + 37 * u
        k = np.arange(n)
        y = 100 + 0.05 * k + 5 * np.sin(2 * np.pi * k / 7) + rng.normal(0, 1, n)
        if u % 2:
            y[n // 2 :] += 40.0
        rows += [(f"https://long{u}.example/", t0 + pd.Timedelta(days=int(i)), float(v))
                 for i, v in zip(k, y)]
    for u, days in enumerate([[0], [0, 1, 2], [0, 1, 2, 3, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16]]):
        rows += [(f"https://short{u}.example/", t0 + pd.Timedelta(days=d), 10.0 + d) for d in days]
    return pd.DataFrame(rows, columns=["url", "bucket_ts", "mean_len"])


@pytest.fixture(scope="module")
def tier(spark):
    df = spark.createDataFrame(_series_pdf()).repartition(3).cache()
    df.count()
    yield df
    df.unpersist()


def _kernel_outputs(tier, table=None):
    """Every ported kernel's result, as sorted pandas frames."""
    src = table if table is not None else tier
    presorted = table is not None
    obs = tier.select("url", tier.bucket_ts.alias("ts"), tier.mean_len.alias("val"))

    def pdf(df, keys):
        return df.toPandas().sort_values(keys).reset_index(drop=True)

    segs = pdf(segment_series(src, PARAMS, presorted=presorted), ["url", "seg_id"])
    segs["coef"] = segs["coef"].map(tuple)
    blobs = pdf(encode_blobs(src, "1d", presorted=presorted), ["url"])
    blobs[["ts_blob", "val_blob"]] = blobs[["ts_blob", "val_blob"]].map(bytes)
    out = {"segments": segs, "blobs": blobs}
    if not presorted:
        out["stl"] = pdf(seasonal_decompose(obs, period_days=7.0), ["url", "ts"])
        out["hw"] = pdf(hw_forecast(obs, period_rows=7, horizon=5), ["url", "ts", "kind"])
        out["pheno"] = pdf(longterm_pheno(obs, min_doys=3), ["url"])
    return out


def _assert_same(a: dict, b: dict):
    assert a.keys() == b.keys()
    for name in a:
        pd.testing.assert_frame_equal(a[name], b[name], obj=name)


def test_kernels_equal_when_groups_straddle_batches(spark, tier):
    default = _kernel_outputs(tier)
    old = spark.conf.get(BATCH_CONF)
    spark.conf.set(BATCH_CONF, "7")
    try:
        small = _kernel_outputs(tier)
    finally:
        spark.conf.set(BATCH_CONF, old)
    _assert_same(small, default)
    # the refusals hold: HW emits nothing for the short/irregular series,
    # everything else for the long ones
    hw_urls = set(default["hw"]["url"])
    assert hw_urls == {f"https://long{u}.example/" for u in range(6)}
    assert len(default["stl"]) == len(_series_pdf())


def test_presorted_scan_equals_shuffled_path_at_small_batches(spark, tier):
    write_bucketed_tier(tier, "t_grouped_bucketed", n_buckets=2)
    old = spark.conf.get(BATCH_CONF)
    try:
        spark.conf.set(BATCH_CONF, "7")
        fast, slow = _kernel_outputs(tier, spark.table("t_grouped_bucketed")), _kernel_outputs(tier)
        _assert_same(fast, {name: slow[name] for name in fast})
    finally:
        spark.conf.set(BATCH_CONF, old)
        spark.sql("DROP TABLE IF EXISTS t_grouped_bucketed")
