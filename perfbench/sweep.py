"""Run the benchmark over several seeds and save the result sets.

    python3 perfbench/sweep.py --out DIR [--checkout A [--checkout B]]
        [--workloads tiers_build,change_detect] [--seeds 1-10] [--trace]

Each checkout (default: this one) runs ``perfbench/run.py`` once per
workload x seed and appends its run records to ``DIR/<n>.jsonl`` (n = the
checkout's position, 0 first).  With two checkouts the runs alternate and
the side that goes first alternates per pair, so slow phases of a shared
host hit both sides alike.  ``--trace`` adds one traced run per workload
and checkout.  Feed the files to perfbench/compare.py.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec: str) -> list[int]:
    out: list[int] = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--out", required=True)
    ap.add_argument("--checkout", action="append")
    ap.add_argument("--workloads")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", action="store_true")
    args = ap.parse_args()
    checkouts = [os.path.abspath(c) for c in (args.checkout or [os.path.dirname(HERE)])]
    with open(os.path.join(checkouts[0], "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    workloads = (args.workloads.split(",") if args.workloads
                 else [w["name"] for w in spec["workloads"]])
    os.makedirs(args.out, exist_ok=True)
    plan = [(w, s, 0) for w in workloads for s in seeds(args.seeds)]
    if args.trace:
        plan += [(w, seeds(args.seeds)[0], 1) for w in workloads]
    failed = 0
    for k, (w, s, trace) in enumerate(plan):
        order = list(enumerate(checkouts))
        if k % 2:
            order.reverse()
        for n, checkout in order:
            out = os.path.abspath(os.path.join(args.out, f"{n}.jsonl"))
            cmd = [sys.executable, "perfbench/run.py", "--workload", w, "--seed", str(s),
                   "--seconds", str(spec["run_seconds"]), "--trace", str(trace), "--out", out]
            proc = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE,
                                  stderr=subprocess.DEVNULL, text=True, timeout=900)
            last = proc.stdout.strip().splitlines()[-1:] or ["(no output)"]
            print(f"[{n}] {w} seed={s} trace={trace} rc={proc.returncode} {last[0][:160]}",
                  flush=True)
            failed += proc.returncode != 0
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
