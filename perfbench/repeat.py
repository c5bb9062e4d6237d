"""Repeatability check: run the benchmark once per seed and report each
end-to-end metric's spread across the runs.

    python3 perfbench/repeat.py --workload serve --seeds 1-10 [--seconds 10] [--out FILE]

Run it from the root of a checkout.  Each run is a fresh
``perfbench/run.py`` process, one after another.  The spread of a metric
is the distance between the first and third quartile of its values
(``statistics.quantiles(values, n=4)``) as a share of their median; the
table flags a spread above a third of the metric's bound in
BENCHMARK.json.  Per-run values, medians and spreads go to ``--out``
(default ``.perfbench_out/repeat-<workload>.json``).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def cpu_times() -> list:
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:]]


def seed_range(text: str) -> list:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", type=seed_range, default=seed_range("1-10"))
    p.add_argument("--seconds", type=int)
    p.add_argument("--out")
    args = p.parse_args(argv)
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    seconds = args.seconds or bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    runs = []
    for seed in args.seeds:
        cmd = bench["command"] + ["--workload", args.workload, "--seed", str(seed),
                                  "--seconds", str(seconds), "--trace", "0"]
        t = time.perf_counter()
        before = cpu_times()
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                              text=True, timeout=600)
        wall = time.perf_counter() - t
        # share of CPU time the host took from this machine (steal)
        delta = [b - a for a, b in zip(before, cpu_times())]
        steal = delta[7] / sum(delta) if len(delta) > 7 and sum(delta) else 0.0
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: exit {proc.returncode}", file=sys.stderr)
            return 1
        res = json.loads(lines[-1])
        runs.append({"seed": seed, "wall_s": wall, "steal": steal, "correct": res["correct"],
                     "attempted": res["attempted"], "failed": res["failed"],
                     "metrics": {k: v["value"] for k, v in res["metrics"].items()}})
        print(f"seed {seed}: {wall:.1f}s steal={steal:.1%} correct={res['correct']} "
              f"failed={res['failed']}/{res['attempted']}", flush=True)
    summary = {}
    for name, bound in bounds.items():
        values = [r["metrics"][name] for r in runs]
        q1, _, q3 = statistics.quantiles(values, n=4)
        med = statistics.median(values)
        spread = (q3 - q1) / med
        summary[name] = {"median": med, "q1": q1, "q3": q3, "spread": spread, "bound": bound}
        flag = "" if spread <= bound / 3 else "  <-- above bound/3"
        print(f"{name:28s} median {med:12.4f}  spread {spread:6.3f}  bound {bound}{flag}")
    print(f"wall: total {sum(r['wall_s'] for r in runs):.0f}s, "
          f"max {max(r['wall_s'] for r in runs):.0f}s")
    out = args.out or os.path.join(".perfbench_out", f"repeat-{args.workload}.json")
    os.makedirs(os.path.dirname(out) or ".", exist_ok=True)
    with open(out, "w") as f:
        json.dump({"workload": args.workload, "seconds": seconds, "runs": runs,
                   "summary": summary}, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
