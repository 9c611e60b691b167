"""The benchmark workloads.

Each workload builds its inputs from the seed in ``setup``, runs one
operation per ``op`` call (one closed-loop client), checks every output in
``verify`` (per operation, untimed) and ``check`` (once per run), and tags
each call into an engine layer with a span (perfbench/layers.py).

Crawl inputs: ``generate_crawl`` ignores its ``seed`` argument, so a seed
picks which urls of a fixed generated population are crawled.  The pick is
stratified by crawl cadence (rows per url differ 168x between classes) and
planted signal kind, so every seed crawls the same number of urls of each
stratum and the work per operation is nearly seed-independent.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import duckdb
import numpy as np
import pandas as pd
from pyspark.sql import Observation
from pyspark.sql import functions as F

from jobs.rollup import process_incremental
from yatsm_spark.datagen import START_TS, generate_crawl, write_crawl
from yatsm_spark.operators.rollup import (
    RETENTION_DEFAULTS,
    TIER_SECONDS,
    cascade,
    gap_fill,
    locf,
    merge_tiers,
    rollup,
    series_clean,
    stitch_range,
)
from yatsm_spark.sources.storage import write_bucketed_tier, write_table

TIERS = ["1h", "1d", "30d"]
# full CCDC: Lasso + Tmask + Chow commission + CUSUM omission, weekly period
CCDC_PARAMS = dict(period=7.0, min_span=56.0, retrain_time=56.0,
                   commission_alpha=0.01, omission_alpha=0.05, lasso_alpha=5.0)
START_EPOCH = int(pd.Timestamp(START_TS, tz="UTC").timestamp())
DAY = 86400


@dataclass
class OpResult:
    kind: str
    items: int
    payload: dict = field(default_factory=dict)
    errors: list = field(default_factory=list)
    wall_s: float = 0.0
    cpu_s: float = 0.0


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files if f.endswith(".parquet"))


def parquet_glob(path: str) -> str:
    return os.path.join(path, "**", "*.parquet")


def url_id(url: str) -> int:
    return int(url.rsplit("page", 1)[1])


def select_urls(spark, seed: int, n_urls: int, pop: int, max_class: int = 8) -> list[str]:
    """Seeded pick of ``n_urls`` of ``pop`` urls, stratified by crawl
    cadence and planted signal kind (url id mod 7), so every seed gets the
    same number of urls of each (cadence, kind) stratum.

    A url's cadence class is log2 of its rows over one generated week: 7
    for hot hourly urls, then 6..0 for 3h/6h/12h/24h/72h/168h cadences.
    Only classes up to ``max_class`` are drawn from."""
    week = (generate_crawl(spark, n_urls=pop, span_days=7)
            .groupBy("url").count().toPandas().sort_values("url"))
    week["cls"] = np.round(np.log2(week["count"])).astype(int)
    week["kind"] = week["url"].map(url_id) % 7
    week = week[week["cls"] <= max_class]
    rng = np.random.default_rng(seed)
    picked: list[str] = []
    for _, grp in week.groupby(["cls", "kind"]):
        quota = int(round(n_urls * len(grp) / len(week)))
        picked += list(rng.choice(grp["url"].to_numpy(), size=min(quota, len(grp)),
                                  replace=False))
    return sorted(picked)


def seeded_crawl(spark, urls: list[str], pop: int, span_days: int):
    return generate_crawl(spark, n_urls=pop, span_days=span_days).filter(F.col("url").isin(urls))


def duck_tier(crawl_glob: str, secs: int, before: int | None = None) -> pd.DataFrame:
    """Independent DuckDB rollup of the raw crawl parquet into one tier:
    duplicate (url, warc_ts) rows keep the longest text, then cnt/sum/min/
    max of length(text) and the sum of epoch seconds per epoch-aligned
    bucket (gap rows excluded), over the rows before epoch ``before``."""
    where = "" if before is None else f"WHERE epoch_us(warc_ts) < {before * 1000000}"
    q = f"""
        WITH obs AS (
            SELECT url, epoch_us(warc_ts) // 1000000 AS ts, max(length(text)) AS len
            FROM read_parquet('{crawl_glob}', hive_partitioning = 1)
            {where}
            GROUP BY url, warc_ts
        )
        SELECT url, ts // {secs} * {secs} AS bucket, count(*) AS cnt, sum(len) AS sum_len,
               min(len) AS min_len, max(len) AS max_len, sum(ts) AS sum_ts
        FROM obs GROUP BY url, bucket ORDER BY url, bucket
    """
    with duckdb.connect() as con:
        return con.execute(q).df()


def duck_stored(tier_dir: str, real_only: bool = True) -> pd.DataFrame:
    """Stored tier rows read back with DuckDB (not Spark)."""
    where = "WHERE NOT gap_filled" if real_only else ""
    q = f"""
        SELECT url, epoch_us(bucket_ts) // 1000000 AS bucket, cnt, sum_len, min_len, max_len,
               sum_ts, gap_filled
        FROM read_parquet('{parquet_glob(tier_dir)}', hive_partitioning = 1)
        {where} ORDER BY url, bucket
    """
    with duckdb.connect() as con:
        return con.execute(q).df()


def same_rows(got: pd.DataFrame, exp: pd.DataFrame, cols: list[str]) -> bool:
    a = got[cols].sort_values(cols).reset_index(drop=True)
    b = exp[cols].sort_values(cols).reset_index(drop=True)
    if len(a) != len(b):
        return False
    return all(np.array_equal(a[c].to_numpy().astype(np.int64), b[c].to_numpy().astype(np.int64))
               if c != "url" else (a[c].to_numpy() == b[c].to_numpy()).all() for c in cols)


def tier_series(tier: pd.DataFrame) -> list[tuple[np.ndarray, np.ndarray]]:
    """(t_days, value) per url from a tier frame, gap rows dropped."""
    real = tier[~tier["gap_filled"]].sort_values(["url", "bucket_ts"])
    t_days = (real["bucket_ts"].astype("int64").to_numpy() / 1e9 - START_EPOCH) / DAY
    vals = real["mean_len"].to_numpy(dtype=np.float64)
    urls = real["url"].to_numpy()
    cuts = np.flatnonzero(urls[1:] != urls[:-1]) + 1
    return list(zip(np.split(t_days, cuts), np.split(vals, cuts)))


class Workload:
    n_checks = 0  # run-level output checks; probe checks in traced runs
    n_probe_checks = 0

    def __init__(self, spark, spans, seed: int, data_dir: str):
        self.spark = spark
        self.spans = spans
        self.seed = seed
        self.dir = data_dir
        self.rng = np.random.default_rng(seed)
        self.info: dict = {}

    def path(self, name: str) -> str:
        return os.path.join(self.dir, name)

    def expect(self) -> None:
        """Untimed, after set-up: load what the output checks compare with."""

    def verify(self, res: OpResult) -> list[str]:
        return []

    def probe(self) -> list[str]:
        """Traced runs only: calls into layers the timed operation does not
        reach; returns failed output checks."""
        return []

    def replay_series(self) -> list:
        return []


# ------------------------------------------------------------------ tiers_build


class TiersBuild(Workload):
    """Full three-tier build of a seeded crawl, one per operation:
    series_clean -> rollup 1h -> cascade 1d/30d -> gap_fill -> write_table,
    tiers persisted as jobs/rollup.py does.  Scan, shuffle, aggregate and
    write bound; no Python kernels.  Traced runs also fold the next day's
    crawl into the built tiers (process_incremental with retention) and
    serve one tier-stitched range read from them."""

    POP, N_URLS, BASE_DAYS = 2000, 100, 45
    STITCH_DAYS = 5
    n_checks, n_probe_checks = 2, 2

    def setup(self, rep: int) -> None:
        self.urls = select_urls(self.spark, self.seed, self.N_URLS, self.POP)
        self.crawl_path = self.path("crawl")
        write_crawl(seeded_crawl(self.spark, self.urls, self.POP, self.BASE_DAYS + 1),
                    self.crawl_path, files_per_bucket=1)
        self.cut = START_EPOCH + self.BASE_DAYS * DAY
        self.out = self.path("tiers")
        self.info = {"urls": len(self.urls), "base_days": self.BASE_DAYS,
                     "crawl_bytes": dir_bytes(self.crawl_path)}

    def rows(self, t0: int | None, t1: int):
        crawl = self.spark.read.parquet(self.crawl_path)
        ts = F.unix_timestamp("warc_ts")
        return crawl.filter(ts < t1) if t0 is None else crawl.filter((ts >= t0) & (ts < t1))

    def op(self, i: int) -> OpResult:
        sp = self.spans
        with sp("operators.rollup.clean_rollup"):
            t1h = rollup(series_clean(self.rows(None, self.cut), keep_text=False), "1h").persist()
            sp.force(t1h)
        with sp("operators.rollup.cascade"):
            t1d = cascade(t1h, "1d").persist()
            t30 = cascade(t1d, "30d").persist()
            sp.force(t30)  # materializes t1d on the way
        rows = 0
        for t, df in zip(TIERS, (t1h, t1d, t30)):
            with sp("operators.rollup.gap_fill"):
                filled = gap_fill(df, t).withColumn("p_day", F.to_date("bucket_ts"))
                if sp.tracing:
                    filled = filled.persist()
                    sp.force(filled)
            # row counts ride the write (no extra job), as in jobs/rollup.py
            obs = Observation(f"tier_{t}")
            counted = filled.observe(obs, F.count(F.lit(1)).alias("rows"),
                                     F.sum((~F.col("gap_filled")).cast("long")).alias("real"))
            with sp("sources.storage.write_table"):
                write_table(counted, os.path.join(self.out, f"rollup_{t}"), partition_cols=("p_day",))
            rows += obs.get["rows"]
            if t == "1h":
                n1h = obs.get["real"]
            filled.unpersist()
        for df in (t1h, t1d, t30):
            df.unpersist()
        self.rows_written = rows
        self.tier_bytes = sum(dir_bytes(os.path.join(self.out, f"rollup_{t}")) for t in TIERS)
        return OpResult("build", n1h)

    def compare_tiers(self, retain: bool) -> list[str]:
        """Stored tiers against an independent DuckDB rollup of every crawl
        row written (optionally with the tiers' retention), every tier
        gap-free between a url's first and last bucket."""
        errs = []
        crawl_glob = parquet_glob(self.crawl_path)
        end = self.cut + (DAY if retain else 0)
        cols = ["url", "bucket", "cnt", "sum_len", "min_len", "max_len", "sum_ts"]
        for t in TIERS:
            secs = TIER_SECONDS[t]
            stored = duck_stored(os.path.join(self.out, f"rollup_{t}"), real_only=False)
            exp = duck_tier(crawl_glob, secs, before=end)
            keep = RETENTION_DEFAULTS[t] if retain else None
            if keep is not None:
                exp = exp[exp["bucket"] > exp["bucket"].max() - int(keep.split()[0]) * DAY]
            real = stored[~stored["gap_filled"]]
            if not same_rows(real, exp, cols):
                errs.append(f"{t} tier differs from the DuckDB rollup of the crawl")
            span = stored.groupby("url")["bucket"].agg(["min", "max", "count", "nunique"])
            expect = (span["max"] - span["min"]) // secs + 1
            if not ((span["count"] == expect) & (span["nunique"] == expect)).all():
                errs.append(f"{t} tier is not gap-free between first and last bucket")
            self.info[f"rows_{t}{'_folded' if retain else ''}"] = int(len(real))
        return errs

    def check(self) -> list[str]:
        errs = self.compare_tiers(retain=False)
        # cnt/sum_len conservation: every tier holds every crawl row once
        totals = {t: tuple(duck_stored(os.path.join(self.out, f"rollup_{t}"))[["cnt", "sum_len"]].sum())
                  for t in TIERS}
        if len(set(totals.values())) != 1:
            errs.append(f"cnt/sum_len not conserved across tiers: {totals}")
        self.info["crawl_rows"] = int(totals["1h"][0])
        return errs

    def bytes_per_item(self) -> float:
        return self.tier_bytes / self.rows_written

    def probe(self) -> list[str]:
        stored = self.spark.read.parquet(os.path.join(self.out, "rollup_1h"))
        delta_rows = self.rows(self.cut, self.cut + DAY)
        delta = rollup(series_clean(delta_rows, keep_text=False), "1h")
        with self.spans("operators.rollup.merge_tiers"):
            merge_tiers(stored, delta).write.mode("overwrite").format("noop").save()
        # stitch over the newest days of the built tiers
        t0 = self.cut - self.STITCH_DAYS * DAY + 3600 * int(self.rng.integers(0, 24))
        t1 = self.cut - 3600 * int(self.rng.integers(1, 24))
        fine = self.spark.read.parquet(os.path.join(self.out, "rollup_1h"))
        coarse = self.spark.read.parquet(os.path.join(self.out, "rollup_1d"))
        with self.spans("operators.rollup.stitch_range"):
            got = (stitch_range(fine.filter(~F.col("gap_filled")), coarse.filter(~F.col("gap_filled")),
                                t0, t1, 3600, DAY)
                   .groupBy("url").agg(F.sum("cnt").alias("cnt"), F.sum("sum_len").alias("sum_len"),
                                       F.min("min_len").alias("min_len"),
                                       F.max("max_len").alias("max_len"),
                                       F.sum("sum_ts").alias("sum_ts"))
                   .toPandas())
        errs = [] if self.stitch_matches(got, t0, t1) else ["stitch differs from the 1h tier aggregate"]
        with self.spans("jobs.rollup.process_incremental"):
            process_incremental(self.spark, delta_rows, self.out, TIERS, retain=True)
        # the fold equals a one-shot rollup of the same rows, same retention
        return errs + [f"after fold: {e}" for e in self.compare_tiers(retain=True)]

    def stitch_matches(self, got: pd.DataFrame, t0: int, t1: int) -> bool:
        """The stitched answer equals a direct filter + aggregate of the 1h tier."""
        q = f"""
            SELECT url, sum(cnt) AS cnt, sum(sum_len) AS sum_len, min(min_len) AS min_len,
                   max(max_len) AS max_len, sum(sum_ts) AS sum_ts
            FROM read_parquet('{parquet_glob(os.path.join(self.out, "rollup_1h"))}',
                              hive_partitioning = 1)
            WHERE NOT gap_filled AND epoch_us(bucket_ts) >= {t0 * 1000000}
              AND epoch_us(bucket_ts) < {t1 * 1000000}
            GROUP BY url
        """
        with duckdb.connect() as con:
            exp = con.execute(q).df()
        return same_rows(got, exp, ["url", "cnt", "sum_len", "min_len", "max_len", "sum_ts"])

    def replay_series(self) -> list:
        return tier_series(self.spark.read.parquet(os.path.join(self.out, "rollup_1d")).toPandas())


# ---------------------------------------------------------------- change_detect


class ChangeDetect(Workload):
    """The per-url kernel pass over a url-bucketed 1d tier built in set-up:
    CCDC segmentation, blob encode, STL decomposition and Holt-Winters,
    then one blob range read (decode) from a 1d blob store built in set-up.
    Python kernels and the Arrow boundary dominate; no writes."""

    POP, N_URLS, SPAN_DAYS = 2000, 120, 150
    MAX_CLASS = 4  # cadence 12h or slower: daily series without hourly crawl volume
    TABLE = "perfbench_tier_1d"
    # a planted break counts as found by a break this many days around it
    BREAK_WINDOW = (-14.0, 42.0)
    MIN_RECALL, MAX_FALSE_BREAKS = 0.4, 0.2
    n_checks = 1

    def setup(self, rep: int) -> None:
        from yatsm_spark.plans.blobs import encode_blobs

        self.urls = select_urls(self.spark, self.seed, self.N_URLS, self.POP, self.MAX_CLASS)
        crawl = seeded_crawl(self.spark, self.urls, self.POP, self.SPAN_DAYS)
        write_bucketed_tier(cascade(rollup(series_clean(crawl, keep_text=False), "1h"), "1d"),
                            self.TABLE)
        self.src = self.spark.table(self.TABLE)
        self.blob_path = self.path("blobs_1d")
        encode_blobs(self.src, "1d", presorted=True).write.mode("overwrite").parquet(self.blob_path)
        self.blobs = self.spark.read.parquet(self.blob_path)

    def expect(self) -> None:
        from yatsm_spark.datagen import _u

        self.tier = self.src.toPandas()
        # the planted break time of each url, from the generator's own hash
        ids = self.spark.createDataFrame([(u, url_id(u)) for u in self.urls], "url string, url_id long")
        self.planted = ids.select(
            "url", (F.col("url_id") % 7).alias("kind"),
            ((0.45 + _u(F.col("url_id"), salt=5) * 0.20) * self.SPAN_DAYS).alias("brk_t")).toPandas()
        self.n_points = int(len(self.tier))
        self.info = {"urls": len(self.urls), "span_days": self.SPAN_DAYS, "points_1d": self.n_points,
                     "blob_store_bytes": dir_bytes(self.blob_path)}

    def op(self, i: int) -> OpResult:
        from yatsm_spark.functions.ccdc import CCDCParams
        from yatsm_spark.functions.decompose import seasonal_decompose
        from yatsm_spark.functions.forecast import hw_forecast
        from yatsm_spark.plans.blobs import encode_blobs, read_blob_range
        from yatsm_spark.plans.segmentation import segment_series

        sp = self.spans
        with sp("plans.segmentation.segment_series"):
            segs = segment_series(self.src, CCDCParams(**CCDC_PARAMS), presorted=True).toPandas()
        with sp("plans.blobs.encode_blobs"):
            blobs = encode_blobs(self.src, "1d", presorted=True).toPandas()
        obs = self.src.select("url", F.col("bucket_ts").alias("ts"), F.col("mean_len").alias("val"))
        stl_rows = Observation("stl")
        with sp("functions.decompose.seasonal_decompose"):
            (seasonal_decompose(obs, period_days=7.0).observe(stl_rows, F.count(F.lit(1)).alias("n"))
             .write.mode("overwrite").format("noop").save())
        filled = locf(gap_fill(self.src, "1d")).select(
            "url", F.col("bucket_ts").alias("ts"), F.col("mean_len_locf").alias("val"))
        hw_rows = Observation("hw")
        with sp("functions.forecast.hw_forecast"):
            (hw_forecast(filled, period_rows=7, horizon=7).observe(hw_rows, F.count(F.lit(1)).alias("n"))
             .write.mode("overwrite").format("noop").save())
        # one range read: a seeded url set (1 url to all, log-uniform) and window
        n = int(np.clip(np.round(np.exp(self.rng.uniform(0, np.log(len(self.urls))))), 1, len(self.urls)))
        urls = sorted(self.rng.choice(self.urls, size=n, replace=False))
        t0 = START_EPOCH + DAY * int(self.rng.integers(0, self.SPAN_DAYS // 2))
        t1 = t0 + DAY * int(self.rng.integers(7, self.SPAN_DAYS // 2))
        with sp("plans.blobs.read_blob_range"):
            got = read_blob_range(self.blobs.filter(F.col("url").isin(urls)),
                                  pd.Timestamp(t0, unit="s"), pd.Timestamp(t1, unit="s")).toPandas()
        return OpResult("detect", self.n_points, {
            "segs": segs, "blobs": blobs, "stl_rows": stl_rows.get["n"], "hw_rows": hw_rows.get["n"],
            "read": got, "read_urls": urls, "t0": t0, "t1": t1})

    def verify(self, res: OpResult) -> list[str]:
        from yatsm_spark.functions.codec import decode_series

        errs = []
        p = res.payload
        self.last = p
        if set(p["segs"]["url"]) != set(self.urls):
            errs.append("segment_series returned no segment for some urls")
        tier = self.tier.sort_values(["url", "bucket_ts"])
        by_url = dict(list(tier.groupby("url")))
        exact = len(p["blobs"]) == len(by_url)
        for url, tsb, vb in zip(p["blobs"]["url"], p["blobs"]["ts_blob"], p["blobs"]["val_blob"]):
            ts_us, vals = decode_series(bytes(tsb), bytes(vb))
            exp = by_url.get(url)
            exact = exact and exp is not None and np.array_equal(
                ts_us, exp["bucket_ts"].astype("int64").to_numpy() // 1000) and np.array_equal(
                vals.view(np.int64), exp["mean_len"].to_numpy(dtype=np.float64).view(np.int64))
        if not exact:
            errs.append("blob decode is not bit-exact against the 1d tier")
        if p["stl_rows"] != self.n_points:
            errs.append(f"seasonal_decompose returned {p['stl_rows']} rows for {self.n_points}")
        span = tier.groupby("url")["bucket_ts"].agg(["min", "max"])
        n_filled = int(((span["max"] - span["min"]) // pd.Timedelta(days=1) + 1).sum())
        if p["hw_rows"] != n_filled + 7 * len(span):
            errs.append(f"hw_forecast returned {p['hw_rows']} rows, expected {n_filled + 7 * len(span)}")
        ts = tier["bucket_ts"].astype("int64") // 10**9
        exp = tier[tier["url"].isin(p["read_urls"]) & (ts >= p["t0"]) & (ts <= p["t1"])]
        got = p["read"].sort_values(["url", "bucket_ts"])
        if not (len(got) == len(exp)
                and (got["url"].to_numpy() == exp["url"].to_numpy()).all()
                and np.array_equal(got["bucket_ts"].astype("int64").to_numpy(),
                                   exp["bucket_ts"].astype("int64").to_numpy())
                and np.array_equal(got["value"].to_numpy().view(np.int64),
                                   exp["mean_len"].to_numpy(dtype=np.float64).view(np.int64))):
            errs.append(f"range read of {len(p['read_urls'])} urls differs from the 1d tier")
        return errs

    def break_quality(self) -> tuple[float, float]:
        """Share of planted-break urls (kinds 3 and 5) with a break near the
        planted time, and share of the other urls with any break."""
        segs = self.last["segs"]
        brk = segs[segs["break_ts"].notna()].copy()
        brk["t"] = (brk["break_ts"].astype("int64") / 1e9 - START_EPOCH) / DAY
        found = brk.merge(self.planted, on="url")
        lo, hi = self.BREAK_WINDOW
        near = found[(found["t"] >= found["brk_t"] + lo) & (found["t"] <= found["brk_t"] + hi)]
        planted = self.planted[self.planted["kind"].isin([3, 5])]
        clean = self.planted[~self.planted["kind"].isin([3, 5])]
        return (float(planted["url"].isin(near["url"]).mean()),
                float(clean["url"].isin(brk["url"]).mean()))

    def check(self) -> list[str]:
        recall, false_rate = self.break_quality()
        self.info.update(break_recall=recall, false_break_rate=false_rate)
        errs = []
        if recall < self.MIN_RECALL:
            errs.append(f"break_recall {recall:.3f} below {self.MIN_RECALL}")
        if false_rate > self.MAX_FALSE_BREAKS:
            errs.append(f"false_break_rate {false_rate:.3f} above {self.MAX_FALSE_BREAKS}")
        return errs

    def bytes_per_item(self) -> float:
        blob = self.last["blobs"]
        return float(blob["ts_blob"].map(len).sum() + blob["val_blob"].map(len).sum()) / self.n_points

    def replay_series(self) -> list:
        return tier_series(self.tier)


WORKLOADS = {"tiers_build": TiersBuild, "change_detect": ChangeDetect}
