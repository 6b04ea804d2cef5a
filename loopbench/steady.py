#!/usr/bin/env python3
"""Steadiness check: run workloads over several seeds and print, per
end-to-end metric, the median, the quartiles and the spread (quartile
distance over median, as statistics.quantiles(values, n=4) gives them)
against the metric's bound from BENCHMARK.json.

    python3 loopbench/steady.py [--workloads a,b] [--seeds 1-10] [--seconds N]

Run from the root of a graft checkout. Runs are sequential; each one's
wall time is printed, so the cost of a full pass can be estimated, with
the run's host notes (CPU steal, 1-minute load at its start, and the time
of a fixed single-threaded loop at its start and end), so a drift of the
medians can be traced to the host.
Exits non-zero if a run fails or any metric's spread exceeds its bound.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
HOST_NOTES = ["steal_pct", "load_1m_start", "host_loop_ms_start", "host_loop_ms_end"]


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    args = ap.parse_args()

    bad = False
    for w in args.workloads.split(","):
        values = {m["name"]: [] for m in bench["end_to_end"]}
        walls = []
        for s in seeds(args.seeds):
            t0 = time.time()
            p = subprocess.run([sys.executable, str(ROOT / "loopbench" / "run.py"), "--workload", w,
                                "--seed", str(s), "--seconds", str(args.seconds), "--trace", "0"],
                               cwd=ROOT, capture_output=True, text=True)
            walls.append(time.time() - t0)
            last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
            try:
                res = json.loads(last)
            except ValueError:
                res = None
            if p.returncode != 0 or not res or not res["correct"]:
                bad = True
                print(f"{w} seed {s}: FAILED rc={p.returncode}\n{p.stderr[-2000:]}{p.stdout[-2000:]}")
                continue
            for k, v in res["metrics"].items():
                values[k].append(v["value"])
            notes = dict(l.strip().split(" = ", 1) for l in p.stdout.splitlines()
                         if l.startswith("  ") and " = " in l)
            host = "  ".join(f"{k}={notes.get(k, '?')}" for k in HOST_NOTES)
            print(f"{w} seed {s}: {walls[-1]:.1f} s  " +
                  "  ".join(f"{k}={v['value']:.5g}" for k, v in res["metrics"].items()) +
                  f"  | {host}", flush=True)
        print(f"\n{w}: {len(walls)} runs, wall median {statistics.median(walls):.1f} s, "
              f"max {max(walls):.1f} s")
        print(f"  {'metric':<18} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>8} {'bound':>6}")
        for m in bench["end_to_end"]:
            vs = values[m["name"]]
            if len(vs) < 2:
                continue
            q1, med, q3 = statistics.quantiles(vs, n=4)
            spread = (q3 - q1) / med
            flag = "" if spread <= m["bound"] / 3 else (" over bound/3" if spread <= m["bound"]
                                                          else " OVER BOUND")
            if spread > m["bound"]:
                bad = True
            print(f"  {m['name']:<18} {med:>12.5g} {q1:>12.5g} {q3:>12.5g} {spread:>8.3f} "
                  f"{m['bound']:>6}{flag}")
        print(flush=True)
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
