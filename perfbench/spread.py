"""Run the benchmark over several seeds and report each end-to-end
metric's median and quartile spread ((Q3 - Q1) / median, quartiles as
``statistics.quantiles(values, n=4)`` gives them).

Usage (from the root of a checkout):

    python3 perfbench/spread.py --workloads budgeted_resume,headline_sweep \
        --seeds 1-10 [--out perfbench/RUNS.json]

Runs are sequential.  Each run's metrics, core count and 1-minute load
average are appended to ``--out`` when it is given.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

from engine import CORES

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _seeds(spec: str) -> list[int]:
    out: list[int] = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    runs = []
    if args.out and os.path.exists(args.out):
        with open(args.out) as f:
            runs = json.load(f)
    worst_ok = True
    for wl in args.workloads.split(","):
        values: dict[str, list[float]] = {m: [] for m in bounds}
        for seed in _seeds(args.seeds):
            cmd = [*bench["command"], "--workload", wl, "--seed", str(seed),
                   "--seconds", str(args.seconds), "--trace", "0"]
            load = os.getloadavg()[0]
            t0 = time.time()
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            wall = time.time() - t0
            last = proc.stdout.strip().splitlines()[-1] if proc.stdout.strip() else "{}"
            result = json.loads(last) if last.startswith("{") else {}
            ok = proc.returncode == 0 and result.get("correct") is True
            metrics = {k: v["value"] for k, v in result.get("metrics", {}).items()}
            for k in values:
                if k in metrics:
                    values[k].append(metrics[k])
            print(f"{wl} seed={seed} exit={proc.returncode} wall={wall:.1f}s load_1m={load:.2f} "
                  + " ".join(f"{k}={v:.4f}" for k, v in metrics.items()), flush=True)
            if not ok:
                worst_ok = False
                print(proc.stderr[-2000:], file=sys.stderr)
            runs.append({"workload": wl, "seed": seed, "exit": proc.returncode,
                         "wall_s": round(wall, 2), "cores": CORES, "nproc": os.cpu_count(),
                         "load_1m": round(load, 2), "metrics": metrics})
        for k, xs in values.items():
            if len(xs) >= 2:
                q1, med, q3 = statistics.quantiles(xs, n=4)
                spread = (q3 - q1) / med
                flag = "ok" if spread <= bounds[k] / 3 else ("WIDE" if spread > bounds[k] else "over 1/3")
                print(f"  {wl} {k:<10} median={med:.4f} spread={spread:.3f} "
                      f"bound={bounds[k]} [{flag}] n={len(xs)}")
    if args.out:
        with open(args.out, "w") as f:
            json.dump(runs, f, indent=1)
    return 0 if worst_ok else 1


if __name__ == "__main__":
    sys.exit(main())
