"""Per-layer measurement: spans around layer calls, the Spark event log,
and a Spark-free replay of the numpy kernels.

Layers are the engine's modules: ``functions`` (numpy kernels), ``plans``
(Arrow ``mapInPandas``/``applyInPandas`` stages), ``operators`` (Spark SQL
operators), ``sources`` (table writers), ``jobs`` (whole jobs) and
``spark`` (engine stages, read from the event log).

A span wraps one call into a layer's public function and, in traced runs,
the forcing of that call's output; it tags every Spark job started inside
it with ``setJobDescription(<span>)``.  After the run the event log maps each job
description to its stages, and the stage accumulables are summed per span.
All per-span figures are per call (totals divided by the span's calls).
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager

import numpy as np

# span -> layer it is attributed to (the applyInPandas wrappers in
# functions/decompose.py and functions/forecast.py are Arrow stages, so
# they count as plans)
SPANS = {
    "operators.rollup.clean_rollup": "operators",
    "operators.rollup.cascade": "operators",
    "operators.rollup.gap_fill": "operators",
    "operators.rollup.merge_tiers": "operators",
    "operators.rollup.stitch_range": "operators",
    "sources.storage.write_table": "sources",
    "plans.segmentation.segment_series": "plans",
    "plans.blobs.encode_blobs": "plans",
    "functions.decompose.seasonal_decompose": "plans",
    "functions.forecast.hw_forecast": "plans",
    "plans.blobs.read_blob_range": "plans",
    "jobs.rollup.process_incremental": "jobs",
}
ARROW_SPANS = (
    "plans.segmentation.segment_series",
    "plans.blobs.encode_blobs",
    "functions.decompose.seasonal_decompose",
    "functions.forecast.hw_forecast",
    "plans.blobs.read_blob_range",
)
# (suffix, unit, better, stage accumulable summed into it)
STAGE_FIELDS = (
    ("executor_run_ms", "ms", "lower", "internal.metrics.executorRunTime"),
    ("gc_ms", "ms", "lower", "internal.metrics.jvmGCTime"),
    ("shuffle_write_bytes", "B", "lower", "internal.metrics.shuffle.write.bytesWritten"),
    ("spill_bytes", "B", "lower", "internal.metrics.diskBytesSpilled"),
)
ARROW_FIELDS = (
    ("python_run_ms", "ms", "lower", "time to run Python workers"),
    ("python_start_ms", "ms", "lower", "time to start Python workers"),
    ("python_bytes_sent", "B", "lower", "data sent to Python workers"),
    ("python_bytes_returned", "B", "lower", "data returned from Python workers"),
)
KERNELS = ("ccdc.fit", "ccdc.omission", "decompose.stl", "forecast.hw",
           "codec.encode", "codec.decode")
LAYER_SHARES = ("functions", "plans", "operators", "sources", "jobs")


def metric_specs() -> list[dict]:
    """Every per-layer metric as BENCHMARK.json lists it."""
    out = []
    for span in SPANS:
        out.append({"name": f"{span}.wall_s", "unit": "s", "better": "lower"})
        out += [{"name": f"{span}.{s}", "unit": u, "better": b} for s, u, b, _ in STAGE_FIELDS]
        out.append({"name": f"{span}.core_busy", "unit": "fraction", "better": "higher"})
        if span in ARROW_SPANS:
            out += [{"name": f"{span}.{s}", "unit": u, "better": b} for s, u, b, _ in ARROW_FIELDS]
    out.append({"name": "sources.storage.write_table.bytes_written", "unit": "B", "better": "lower"})
    out += [{"name": f"functions.{k}_pts_per_s", "unit": "1/s", "better": "higher"} for k in KERNELS]
    out += [{"name": f"layer.{k}.share", "unit": "fraction", "better": "lower"} for k in LAYER_SHARES]
    out.append({"name": "trace.op_p50_ms", "unit": "ms", "better": "lower"})
    return out


class Spans:
    """Wall time per span call; the job description tags the Spark jobs.

    ``mode`` says where a call happens: ``"op"`` inside a timed operation
    (the layer shares count only these), ``"probe"`` in a traced run's
    probe, or None (set-up and warm-up)."""

    def __init__(self, sc, tracing: bool):
        self.sc = sc
        self.tracing = tracing
        self.calls: list[tuple[str, float, str | None]] = []
        self.mode: str | None = None

    def force(self, df) -> None:
        """Traced runs compute ``df`` inside the current span, so its stages
        carry the span's description; untraced runs leave it to the consumer."""
        if self.tracing:
            df.count()

    @contextmanager
    def __call__(self, name: str):
        if name not in SPANS:
            raise KeyError(f"undeclared span {name}")
        self.sc.setJobDescription(name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.calls.append((name, time.perf_counter() - t0, self.mode))
            self.sc.setJobDescription(None)


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def parse_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """Sum the stage accumulables of every tagged job per job description.

    A stage shared by several jobs (a reused shuffle) is counted once, under
    the first job that listed it."""
    paths = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    if len(paths) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {len(paths)}")
    stage_desc: dict[int, str] = {}
    out: dict[str, dict[str, float]] = {}
    wanted = {f[3] for f in STAGE_FIELDS + ARROW_FIELDS} | {"internal.metrics.output.bytesWritten"}
    with open(paths[0]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                desc = (ev.get("Properties") or {}).get("spark.job.description")
                if desc in SPANS:
                    for sid in ev["Stage IDs"]:
                        stage_desc.setdefault(sid, desc)
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                desc = stage_desc.get(info["Stage ID"])
                if desc is None:
                    continue
                acc = out.setdefault(desc, {})
                for a in info.get("Accumulables", []):
                    if a.get("Name") in wanted:
                        acc[a["Name"]] = acc.get(a["Name"], 0.0) + _num(a.get("Value"))
    return out


def layer_metrics(spans: Spans, stages: dict, replay: dict, ops: list, cores: int) -> dict:
    n_ops = len(ops)
    op_wall = sum(r.wall_s for r in ops) / n_ops
    calls: dict[str, list[float]] = {}
    per_op: dict[str, float] = {}  # span wall attributed to one operation
    for name, wall, mode in spans.calls:
        calls.setdefault(name, []).append(wall)
        if mode == "op":
            per_op[name] = per_op.get(name, 0.0) + wall / n_ops
    m: dict[str, float] = {}
    for span in SPANS:
        walls = calls.get(span, [])
        n = max(len(walls), 1)
        acc = stages.get(span, {})
        wall = sum(walls) / n
        m[f"{span}.wall_s"] = wall
        for suffix, _, _, key in STAGE_FIELDS:
            m[f"{span}.{suffix}"] = acc.get(key, 0.0) / n
        m[f"{span}.core_busy"] = (m[f"{span}.executor_run_ms"] / 1000 / (wall * cores)
                                  if wall else 0.0)
        if span in ARROW_SPANS:
            for suffix, _, _, key in ARROW_FIELDS:
                m[f"{span}.{suffix}"] = acc.get(key, 0.0) / n
    writes = max(len(calls.get("sources.storage.write_table", [])), 1)
    m["sources.storage.write_table.bytes_written"] = stages.get(
        "sources.storage.write_table", {}).get("internal.metrics.output.bytesWritten", 0.0) / writes
    for k in KERNELS:
        m[f"functions.{k}_pts_per_s"] = replay.get(k, 0.0)
    for layer in LAYER_SHARES[1:]:
        m[f"layer.{layer}.share"] = sum(
            w for s, w in per_op.items() if SPANS[s] == layer) / op_wall
    # functions: share of executor time spent inside the Python workers that
    # run the numpy kernels
    run_ms = sum(v.get("internal.metrics.executorRunTime", 0.0) for v in stages.values())
    py_ms = sum(v.get("time to run Python workers", 0.0) for v in stages.values())
    m["layer.functions.share"] = py_ms / run_ms if run_ms else 0.0
    m["trace.op_p50_ms"] = float(np.median([r.wall_s for r in ops])) * 1000
    return m


# ------------------------------------------------------------ kernel replay

REPLAY_BUDGET_S = 0.6  # per kernel; at least one series is always replayed


def _timed(fn, series: list, n_points) -> float:
    """Points per second of ``fn`` over ``series`` within the budget."""
    done = 0
    busy = 0.0
    for s in series:
        t0 = time.perf_counter()
        fn(s)
        busy += time.perf_counter() - t0
        done += n_points(s)
        if busy >= REPLAY_BUDGET_S:
            break
    return done / busy if busy else 0.0


def replay_kernels(series: list[tuple[np.ndarray, np.ndarray]], seed: int) -> dict[str, float]:
    """Replay the workload's own (t_days, value) series through the
    Spark-free kernels, one process, one core.  Empty input gives 0s."""
    if not series:
        return {k: 0.0 for k in KERNELS}
    from yatsm_spark.functions.ccdc import CCDCParams, cusum_omission_batch, fit_series_chunked
    from yatsm_spark.functions.codec import decode_series, encode_series
    from yatsm_spark.functions.decompose import stl_decompose
    from yatsm_spark.functions.forecast import holt_winters

    from workloads import CCDC_PARAMS

    order = np.random.default_rng(seed).permutation(len(series))
    series = [series[i] for i in order]
    npts = lambda s: len(s[0])  # noqa: E731
    params = CCDCParams(**CCDC_PARAMS)
    collected: list = []
    out = {
        "ccdc.fit": _timed(lambda s: fit_series_chunked(s[0], s[1], params,
                                                        omission_collect=collected),
                           series, npts),
    }
    seg = [(x, y) for _, x, y in collected]
    out["ccdc.omission"] = _timed(lambda s: cusum_omission_batch([s[0]], [s[1]], 0.05),
                                  seg, lambda s: len(s[1])) if seg else 0.0
    out["decompose.stl"] = _timed(lambda s: stl_decompose(s[0], s[1], 7.0), series, npts)
    hw_in = [s for s in series if len(s[1]) >= 14]
    out["forecast.hw"] = _timed(lambda s: holt_winters(s[1], 7, horizon=7), hw_in, npts)
    coded = [(s, encode_series(np.round(s[0] * 86400e6).astype(np.int64), s[1])) for s in series]
    out["codec.encode"] = _timed(
        lambda s: encode_series(np.round(s[0] * 86400e6).astype(np.int64), s[1]), series, npts)
    out["codec.decode"] = _timed(lambda c: decode_series(*c[1]), coded, lambda c: len(c[0][0]))
    return out
