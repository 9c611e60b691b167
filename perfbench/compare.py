"""Compare benchmark result sets, or check one set for steadiness.

    python3 perfbench/compare.py BASE.jsonl [CHANGE.jsonl]

A result set is the JSON lines ``perfbench/run.py --out FILE`` appends (see
perfbench/sweep.py).  Bounds and directions come from BENCHMARK.json.

One set: per workload x end-to-end metric, the median, quartiles and
spread (quartile distance / median), flagged when the spread exceeds a
third of the metric's bound (setup_s is exempt: its spread has no bound,
only its median drift).  Also the operation wall (median per run, from
the context record) and, with traced runs in the set, the tracing overhead
per workload: traced minus untraced median operation wall.

Two sets: per workload x metric, each side's median and quartiles, the
share of runs paired in order (alternate sides when running) that the
change wins, and a verdict:
  improved   wins >= 90% of pairs and the medians differ by more than the
             base's quartile distance, in the better direction
  worse      the change's median is worse than the base's by more than the
             bound and the base's spread is within the bound
  no worse   worse by at most the bound, with the base's spread within it
  unresolved otherwise (spread wider than the bound, and the change does
             not read better on every run)
Exit code 1 if any pair is ``worse`` (two sets) or any spread is flagged
(one set).
"""

from __future__ import annotations

import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(path: str) -> list[dict]:
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def series(records: list[dict], workload: str, metric: str, trace: int = 0) -> list[float]:
    return [r["result"]["metrics"][metric]["value"] for r in records
            if r["context"]["workload"] == workload and r["context"]["trace"] == trace
            and metric in r["result"]["metrics"]]


def quartiles(vals: list[float]) -> tuple[float, float, float]:
    if len(vals) < 2:
        return vals[0], vals[0], vals[0]
    q1, q2, q3 = statistics.quantiles(vals, n=4)
    return q1, q2, q3


def spread(vals: list[float]) -> float:
    q1, q2, q3 = quartiles(vals)
    return (q3 - q1) / q2 if q2 else float("inf")


def verdict(base: list[float], change: list[float], better: str, bound: float) -> tuple[str, float]:
    sign = 1.0 if better == "higher" else -1.0
    pairs = list(zip(base, change))
    wins = sum(1 for a, b in pairs if sign * (b - a) > 0)
    win_share = wins / len(pairs) if pairs else 0.0
    qa1, ma, qa3 = quartiles(base)
    mb = statistics.median(change)
    gain = sign * (mb - ma)
    if win_share >= 0.9 and gain > qa3 - qa1:
        return "improved", win_share
    steady = spread(base) <= bound
    if steady and -gain > bound * abs(ma):
        return "worse", win_share
    if steady or all(sign * (b - a) > 0 for a in base for b in change):
        return "no worse", win_share
    return "unresolved", win_share


def main() -> int:
    if len(sys.argv) not in (2, 3):
        print(__doc__, file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    metrics = spec["end_to_end"]
    workloads = [w["name"] for w in spec["workloads"]]
    base = load(sys.argv[1])
    bad = False
    if len(sys.argv) == 2:
        print(f"{'workload':<15}{'metric':<16}{'n':>3}{'q1':>12}{'median':>12}{'q3':>12}"
              f"{'spread':>9}{'limit':>8}")
        for w in workloads:
            for m in metrics:
                vals = series(base, w, m["name"])
                if not vals:
                    continue
                q1, q2, q3 = quartiles(vals)
                limit = m["bound"] / 3
                flag = "" if m["name"] == "setup_s" or spread(vals) <= limit else "  SPREAD"
                bad |= bool(flag)
                print(f"{w:<15}{m['name']:<16}{len(vals):>3}{q1:>12.4g}{q2:>12.4g}{q3:>12.4g}"
                      f"{spread(vals):>9.3f}{limit:>8.3f}{flag}")
            traced = series(base, w, "trace.op_p50_ms", trace=1)
            plain = [statistics.median(r["context"]["op_walls_ms"]) for r in base
                     if r["context"]["workload"] == w and r["context"]["trace"] == 0]
            if traced and plain:
                over = statistics.median(traced) - statistics.median(plain)
                print(f"{w:<15}tracing overhead {over:+.1f} ms per operation "
                      f"({over / statistics.median(plain):+.1%}, {len(traced)} traced runs)")
            walls = [statistics.median(r["context"]["op_walls_ms"]) for r in base
                     if r["context"]["workload"] == w and r["context"]["trace"] == 0]
            if walls:
                q1, q2, q3 = quartiles(walls)
                print(f"{w:<15}{'op wall ms':<16}{len(walls):>3}{q1:>12.4g}{q2:>12.4g}{q3:>12.4g}"
                      f"{spread(walls):>9.3f}  (context, no bound)")
        return 1 if bad else 0
    change = load(sys.argv[2])
    print(f"{'workload':<15}{'metric':<16}{'base median [q1, q3]':<36}"
          f"{'change median [q1, q3]':<36}{'wins':>5}  verdict")
    for w in workloads:
        for m in metrics:
            a, b = series(base, w, m["name"]), series(change, w, m["name"])
            if not a or not b:
                continue
            v, share = verdict(a, b, m["better"], m["bound"])
            bad |= v == "worse"
            cols = [f"{q[1]:.5g} [{q[0]:.5g}, {q[2]:.5g}]" for q in (quartiles(a), quartiles(b))]
            print(f"{w:<15}{m['name']:<16}{cols[0]:<36}{cols[1]:<36}{share:>5.0%}  {v}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
