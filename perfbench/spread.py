"""Run a workload over several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload archive --seeds 1-10 [--trace 1]

For every end-to-end metric: the median, the first and third quartiles
as statistics.quantiles(values, n=4) gives them, and the spread
(Q3 - Q1) as a share of the median. Also the share of failed operations
and the wall time of each run. With --trace 1 the end-to-end figures come
from the traced runs' context line, so comparing the two tables gives
the tracing overhead. Each run's two output lines are kept in
.bench_build/spread-<workload>[-trace].jsonl.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def main():
    ap = argparse.ArgumentParser(description="seed sweep of one workload")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int,
                    default=json.load(open(os.path.join(ROOT, "BENCHMARK.json")))["run_seconds"])
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args()
    log = os.path.join(ROOT, ".bench_build",
                       f"spread-{a.workload}{'-trace' if a.trace else ''}.jsonl")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    runs = []
    for s in seeds(a.seeds):
        t0 = time.time()
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload",
                            a.workload, "--seed", str(s), "--seconds", str(a.seconds),
                            "--trace", str(a.trace)], cwd=ROOT, capture_output=True, text=True)
        wall = time.time() - t0
        if p.returncode != 0:
            print(f"seed {s}: exit {p.returncode}\n{p.stderr[-2000:]}", file=sys.stderr)
            continue
        lines = p.stdout.strip().splitlines()
        last = json.loads(lines[-1])
        last["context"] = json.loads(lines[-2])["context"]
        last["seed"], last["wall_s"] = s, round(wall, 1)
        runs.append(last)
        with open(log, "a") as f:
            f.write(json.dumps(last) + "\n")
        print(f"seed {s}: {wall:.0f} s, correct={last['correct']}, "
              f"failed {last['failed']}/{last['attempted']}", file=sys.stderr)
    if len(runs) < 2:
        sys.exit("not enough runs")
    print(f"{a.workload}: {len(runs)} runs, wall per run median "
          f"{statistics.median(r['wall_s'] for r in runs):.0f} s")
    print("failed shares:", sorted({f"{r['failed']}/{r['attempted']}" for r in runs}))
    print(f"{'metric':24} {'median':>14} {'q1':>14} {'q3':>14} {'spread':>8}")
    for name in runs[0]["context"]["end_to_end"]:
        vals = [r["context"]["end_to_end"][name] for r in runs]
        if any(v is None for v in vals):
            print(f"{name:24} (missing values)")
            continue
        q1, _, q3 = statistics.quantiles(vals, n=4)
        med = statistics.median(vals)
        spread = (q3 - q1) / med if med else float("nan")
        print(f"{name:24} {med:14.6g} {q1:14.6g} {q3:14.6g} {spread:8.3f}")


if __name__ == "__main__":
    main()
