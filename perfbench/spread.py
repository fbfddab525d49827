#!/usr/bin/env python3
"""Run a workload with several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload ingest --seeds 1-10 [--trace 0]

For every metric prints the median of the runs and the distance between
the first and third quartile as a share of the median, the figure
BENCHMARK.json's bounds are judged against. Also prints each run's wall
time. Raw results are appended to .bench_out/spread-<workload>.jsonl.

With --overhead each seed runs untraced and then traced, and the
tracing overhead is printed: the traced loop's ops_per_s against the
untraced run's.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    ap.add_argument("--overhead", action="store_true")
    ap.add_argument("--seconds", type=int,
                    default=json.loads((ROOT / "BENCHMARK.json").read_text())["run_seconds"])
    a = ap.parse_args()
    log = ROOT / ".bench_out" / f"spread-{a.workload}.jsonl"
    log.parent.mkdir(exist_ok=True)

    def run(s, trace):
        t0 = time.time()
        p = subprocess.run([sys.executable, str(BENCH / "run.py"), "--workload", a.workload,
                            "--seed", str(s), "--seconds", str(a.seconds), "--trace", trace],
                           cwd=ROOT, capture_output=True, text=True)
        wall = time.time() - t0
        if p.returncode != 0:
            print(f"seed {s}: exit {p.returncode}\n{p.stderr[-2000:]}", file=sys.stderr)
            return None
        r = json.loads(p.stdout.strip().splitlines()[-1])
        with open(log, "a") as f:
            f.write(json.dumps({"seed": s, "trace": trace, "wall_s": wall,
                                "seconds": a.seconds, **r}) + "\n")
        vals = " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items())
        print(f"seed {s} trace {trace}: wall {wall:.1f}s correct={r['correct']} "
              f"attempted={r['attempted']} failed={r['failed']} {vals}", flush=True)
        return r

    if a.overhead:
        for s in seeds(a.seeds):
            plain, traced = run(s, "0"), run(s, "1")
            if plain and traced:
                m, t = plain["metrics"], traced["metrics"]
                print(f"seed {s}: tracing overhead: ops_per_s "
                      f"{t['trace.ops_per_s']['value'] / m['ops_per_s']['value'] - 1:+.1%}")
        return
    runs = [r for r in (run(s, a.trace) for s in seeds(a.seeds)) if r]
    if len(runs) < 2:
        return
    print(f"{'metric':40} {'median':>14} {'IQR/median':>10}")
    for k in runs[0]["metrics"]:
        xs = [r["metrics"][k]["value"] for r in runs if r["metrics"][k]["value"] is not None]
        if len(xs) < 2:
            continue
        q = statistics.quantiles(xs, n=4)
        med = statistics.median(xs)
        spread = (q[2] - q[0]) / med if med else float("nan")
        print(f"{k:40} {med:14.6g} {spread:10.3f}")


if __name__ == "__main__":
    main()
