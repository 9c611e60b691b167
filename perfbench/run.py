"""Layered crawl-TSDB benchmark: one workload, one seed, one result line.

    python3 perfbench/run.py --workload tiers_build --seed 1 --seconds 10 --trace 0

Workloads (perfbench/workloads.py): ``tiers_build`` and ``change_detect``.
One closed-loop client issues the workload's operations for ``--seconds``
seconds after a timed set-up and one untimed warm-up operation; every
output is checked.

The last stdout line is one JSON object ``{"correct", "attempted",
"failed", "metrics"}``.  With ``--trace 0`` the metrics are the
``end_to_end`` metrics of BENCHMARK.json, with ``--trace 1`` the
``per_layer`` ones (Spark event log on; see perfbench/layers.py).  The
line before it is a JSON context record: host (nproc, loadavg, free
disk), input sizes, per-operation walls and CPU, output-quality fractions
and failed checks.

All scratch state (Spark local dirs, event log, tables, temp files) lives
under ``<checkout>/.perfbench_work``, which is emptied before and after
the run.  Exit code 0 only when every output check passed.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

# Set-up is repeated this many times per run; setup_s is the median of
# their CPU times.
SETUP_REPS = 3
# Free disk the run refuses to start below: shuffle and spill files land in
# SPARK_LOCAL_DIRS, and a full disk kills a run mid-way.
MIN_FREE_BYTES = 4 << 30
DRIVER_MEM = "2g"


def _host_cores() -> int:
    return len(os.sched_getaffinity(0))


def _prepare_env(trace: bool) -> dict[str, str]:
    """Point every scratch path of Python, the JVM and Spark into WORK and
    return the Spark confs that do the same for the session."""
    shutil.rmtree(WORK, ignore_errors=True)
    for d in ("tmp", "local", "eventlog", "warehouse", "data"):
        os.makedirs(os.path.join(WORK, d))
    tmp = os.path.join(WORK, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "local")
    # session.py defaults the driver heap to 48g; the workloads need ~1 GiB
    os.environ["YATSM_SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    confs = {
        "spark.local.dir": os.path.join(WORK, "local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "true" if trace else "false",
    }
    if trace:
        confs.update({
            "spark.eventLog.dir": "file://" + os.path.join(WORK, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return confs


PAGE = os.sysconf("SC_PAGE_SIZE")
TICK = os.sysconf("SC_CLK_TCK")


def proc_tree() -> dict[int, int]:
    """{pid: rss bytes} for this process and its descendants (the driver
    JVM and the Python workers it forks), read from /proc."""
    parent: dict[int, int] = {}
    rss: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
            with open(f"/proc/{name}/statm") as fh:
                pages = int(fh.read().split()[1])
        except (OSError, IndexError, ValueError):
            continue  # the process ended between listdir and open
        pid = int(name)
        parent[pid] = int(fields[1])
        rss[pid] = pages * PAGE
    tree = {os.getpid()}
    grew = True
    while grew:
        grew = False
        for pid, ppid in parent.items():
            if ppid in tree and pid not in tree:
                tree.add(pid)
                grew = True
    return {p: rss[p] for p in tree if p in rss}


def _ticks(stat: str, fields: slice) -> int:
    return sum(int(f) for f in stat.rsplit(")", 1)[1].split()[fields])


def tree_cpu_s() -> float:
    """CPU seconds (user + system) this process tree has used, without the
    JVM's JIT compiler threads: how much compiling lands inside a given
    operation varies from run to run and is not work the operation asks
    for.  Threads are summed one by one; a process's reaped children (exited
    Python workers) are included."""
    ticks = 0
    for pid in proc_tree():
        try:
            with open(f"/proc/{pid}/stat") as fh:
                ticks += _ticks(fh.read(), slice(13, 15))  # cutime, cstime
            for tid in os.listdir(f"/proc/{pid}/task"):
                with open(f"/proc/{pid}/task/{tid}/stat") as fh:
                    stat = fh.read()
                if "CompilerThre" not in stat[: stat.rindex(")")]:
                    ticks += _ticks(stat, slice(11, 13))  # utime, stime
        except OSError:
            continue  # the process or thread ended while being read
    return ticks / TICK


class RssSampler:
    """Peak summed RSS of this process's descendants, the driver JVM and
    its Python workers, sampled every ``period_s``.  This process itself
    (the benchmark client and its DuckDB/pandas checks) is left out."""

    def __init__(self, period_s: float = 0.2):
        self.period_s = period_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            rss = sum(r for pid, r in proc_tree().items() if pid != os.getpid())
            self.peak = max(self.peak, rss)
            self._stop.wait(self.period_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def _become_subreaper() -> None:
    """Have descendants whose parent dies (a Python worker orphaned by its
    daemon, say) re-parented to this process rather than to init, so that
    _end_descendants still finds and reaps them."""
    try:
        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER
    except (OSError, AttributeError):
        pass


def _reap() -> None:
    """Collect the exit status of every child that has ended."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _end_descendants(grace_s: float = 10.0) -> None:
    """SIGTERM, then SIGKILL, every process still below this one, and wait
    until each has ended and been reaped."""
    me = os.getpid()
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in proc_tree():
            if pid != me:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        deadline = time.monotonic() + grace_s
        while time.monotonic() < deadline:
            _reap()
            if not [p for p in proc_tree() if p != me]:
                return
            time.sleep(0.05)


def stop_engine() -> None:
    """Stop the Spark session, end its JVM and wait for it, then end every
    other process the run started.  Safe to call more than once and
    before a session exists."""
    if "pyspark" in sys.modules:
        from pyspark import SparkContext

        sc = SparkContext._active_spark_context
        if sc is not None:
            try:
                sc.stop()  # also flushes and closes the event log
            except Exception:  # noqa: BLE001 — a dead JVM is stopped below
                traceback.print_exc()
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            try:
                gateway.shutdown()
            except Exception:  # noqa: BLE001 — the JVM may already be gone
                pass
            if proc is not None:
                # PythonGatewayServer exits when its stdin reaches EOF
                try:
                    proc.stdin.close()
                except OSError:
                    pass
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
    _end_descendants()


def _declared(kind: str) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", help="also append the run record (JSON line) to this file")
    args = ap.parse_args()
    trace = bool(args.trace)
    _become_subreaper()
    # a SIGTERM (a timeout, say) unwinds through the finally below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    try:
        return _run(args, trace)
    finally:
        stop_engine()
        shutil.rmtree(WORK, ignore_errors=True)


def _run(args: argparse.Namespace, trace: bool) -> int:
    free = shutil.disk_usage(ROOT).free
    if free < MIN_FREE_BYTES:
        print(f"refusing to run: {free / 2**30:.1f} GiB free under {ROOT}", file=sys.stderr)
        return 3
    confs = _prepare_env(trace)

    # engine imports only after the environment points into WORK; outside a
    # full checkout they fail here, before any result is printed
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    try:
        import layers
        import workloads
        from yatsm_spark.session import get_spark
    except ImportError:
        shutil.rmtree(WORK, ignore_errors=True)
        raise

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from {sorted(workloads.WORKLOADS)}",
              file=sys.stderr)
        shutil.rmtree(WORK, ignore_errors=True)
        return 2
    cores = _host_cores()
    host = {
        "nproc": cores,
        "loadavg_start": os.getloadavg(),
        "free_disk_gib_start": round(free / 2**30, 1),
        "driver_mem": DRIVER_MEM,
    }
    try:
        with RssSampler() as rss:
            t0 = time.perf_counter()
            spark = get_spark(f"perfbench_{args.workload}", master=f"local[{cores}]",
                              extra_confs=confs)
            host["session_start_s"] = round(time.perf_counter() - t0, 3)
            phases = {"session": time.perf_counter()}
            spans = layers.Spans(spark.sparkContext, trace)
            wl = workloads.WORKLOADS[args.workload](spark, spans, args.seed,
                                                    os.path.join(WORK, "data"))
            setup_walls, setup_cpu = [], []
            for rep in range(SETUP_REPS):
                cpu0 = tree_cpu_s()
                t0 = time.perf_counter()
                wl.setup(rep)
                setup_walls.append(time.perf_counter() - t0)
                setup_cpu.append(tree_cpu_s() - cpu0)
            wl.expect()
            phases["setup"] = time.perf_counter()

            warm = wl.op(-1)  # warm-up: codegen, JIT and Python workers; not timed
            warm.errors = wl.verify(warm)
            phases["warm_up"] = time.perf_counter()
            ops = []
            # start an operation only if it can end inside the window (at
            # the last operation's pace), so every run measures ~--seconds
            t_end = time.perf_counter() + args.seconds
            i = 0
            while not ops or time.perf_counter() + ops[-1].wall_s <= t_end:
                spans.mode = "op"
                cpu0 = tree_cpu_s()
                t0 = time.perf_counter()
                res = wl.op(i)
                res.wall_s = time.perf_counter() - t0
                res.cpu_s = tree_cpu_s() - cpu0
                spans.mode = None
                res.errors = wl.verify(res)
                ops.append(res)
                i += 1
            phases["window"] = time.perf_counter()
            failed_ops = [r for r in [warm, *ops] if r.errors]
            failed_checks = wl.check()
            n_checks = wl.n_checks
            phases["checks"] = time.perf_counter()
            if trace:
                spans.mode = "probe"
                failed_checks += wl.probe()
                n_checks += wl.n_probe_checks
                replay = layers.replay_kernels(wl.replay_series(), args.seed)
            context = {"inputs": wl.info}
            bytes_per_item = wl.bytes_per_item()
            peak_rss_mb = rss.peak / 2**20
            phases["probe_replay"] = time.perf_counter()
        stop_engine()
        phases["stop"] = time.perf_counter()
        if trace:
            layer_metrics = layers.layer_metrics(
                spans, layers.parse_event_log(os.path.join(WORK, "eventlog")),
                replay, ops, cores)
    except Exception:  # noqa: BLE001 — a crashed workload is a failed run
        traceback.print_exc()
        stop_engine()
        shutil.rmtree(WORK, ignore_errors=True)
        return 1
    shutil.rmtree(WORK, ignore_errors=True)

    failures = [f"{r.kind}: {msg}" for r in failed_ops for msg in r.errors] + failed_checks
    walls_ms = [r.wall_s * 1000 for r in ops]
    e2e = {
        "setup_s": statistics.median(setup_cpu),
        "items_per_cpu_s": sum(r.items for r in ops) / sum(r.cpu_s for r in ops),
        "bytes_per_item": bytes_per_item,
    }
    kind = "per_layer" if trace else "end_to_end"
    values = layer_metrics if trace else e2e
    units = _declared(kind)
    if set(values) != set(units):
        print(f"metric set differs from BENCHMARK.json {kind}: "
              f"missing {sorted(set(units) - set(values))}, "
              f"extra {sorted(set(values) - set(units))}", file=sys.stderr)
        return 1
    context.update(
        workload=args.workload, seed=args.seed, seconds=args.seconds, trace=args.trace,
        host={**host, "loadavg_end": os.getloadavg(),
              "free_disk_gib_end": round(shutil.disk_usage(ROOT).free / 2**30, 1)},
        setup_walls_s=[round(w, 3) for w in setup_walls],
        setup_cpu_s=[round(c, 3) for c in setup_cpu],
        # wall of each run phase, seconds, from process start
        phases_s={k: round(v - T_START, 2) for k, v in phases.items()},
        peak_rss_mb=round(peak_rss_mb, 1),
        op_walls_ms=[round(w, 1) for w in walls_ms],
        op_cpu_s=[round(r.cpu_s, 2) for r in ops],
        failures=failures,
    )
    # attempted = operations (warm-up included) plus the run-level checks;
    # an operation fails when any check of its output fails
    result = {
        "correct": not failures,
        "attempted": len(ops) + 1 + n_checks,
        "failed": len(failed_ops) + len(failed_checks),
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in values.items()},
    }
    if args.out:
        with open(args.out, "a") as fh:
            fh.write(json.dumps({"context": context, "result": result}) + "\n")
    print(json.dumps({"context": context}))
    print(json.dumps(result))
    return 0 if not failures else 4


if __name__ == "__main__":
    sys.exit(main())
