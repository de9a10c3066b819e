"""Benchmark of the integrity-check engine: one workload, one seed.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload budgeted_resume --seed 1 \
        --seconds 10 --trace 0

Workloads are defined in ``workloads.py``.  A run:

1. writes the seeded inputs and their DuckDB reference answers under
   ``.bench_work/`` in the checkout (every file the run writes,
   Spark's included, stays there);
2. times set-up three times and reports the median as ``setup_s``:
   each set-up launches a new JVM, starts a Spark session on
   ``local[4]`` and runs the workload's first operation (Python
   modules are imported once per process);
3. runs one untimed warm-up unit on the last session, gated against
   the oracle;
4. starts units back to back until ``--seconds`` have passed and the
   workload's ``min_units`` have run, checking every unit's output.

With ``--trace 0`` it reports the end-to-end metrics ``setup_s``,
``run_s`` (wall time of one unit) and ``cpu_s`` (CPU of the JVM tree
plus this process per unit), and prints per-operation latency
(``op_p50_s``, ``op_p90_s`` with the sample count), ``error_rate`` and
``cached_mb_end`` beside them.  With ``--trace 1`` it runs untraced,
traced and untraced units and reports the per-layer metrics
(``layers.py``), the share of a unit no span covers, and the tracing
overhead (traced minus untraced ``run_s``).  Human-readable lines come
first; the last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``.  The exit code is 1
when any output gate or any operation failed and 2 when the program
is not there.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPEATS = 3
# a traced run alternates untraced, traced, untraced, so the tracing
# overhead is not confused with the first unit's warm-up
MIN_TRACED_RUN_UNITS = 3


def _program_present() -> bool:
    return all(
        os.path.exists(os.path.join(ROOT, p))
        for p in ("integritychecksforvldbs_spark/__init__.py", "__spark_entry__.py", "bench.py")
    )


def _prepare_work_dir(seed: int) -> str:
    """``.bench_work/seed-<n>/`` for this seed; other seeds' inputs go."""
    base = os.path.join(ROOT, ".bench_work")
    os.makedirs(base, exist_ok=True)
    mine = f"seed-{seed}"
    for name in os.listdir(base):
        if name.startswith("seed-") and name != mine:
            shutil.rmtree(os.path.join(base, name), ignore_errors=True)
    work = os.path.join(base, mine)
    for sub in ("tmp", "spark-local", "results"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    return work


def _configure_env(work: str) -> None:
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # the inputs are a few MB; a small heap leaves the shared box's memory alone
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    # every JVM, the launcher's included: temp files in the work dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"


def _quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (q in [0, 1])."""
    xs = sorted(values)
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not _program_present():
        print(f"the program is not in {ROOT}: nothing to measure", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    import layers
    from engine import CORES, Engine, start_session, stop_session
    from spans import Tracer
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = _prepare_work_dir(args.seed)
    _configure_env(work)
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    load_start = os.getloadavg()[0]

    w = WORKLOADS[args.workload](work, args.seed)
    phases = {"start": time.perf_counter()}
    shape = w.prepare()
    phases["prepare"] = time.perf_counter()
    tracer = Tracer()
    if args.trace:
        w.install(tracer)

    # each set-up launches its own JVM; the one before it is stopped,
    # and its process gone, outside the timed span
    setup_times: list[float] = []
    spark = None
    try:
        for _ in range(SETUP_REPEATS):
            if spark is not None:
                stop_session(spark)
                spark = None
            t0 = time.perf_counter()
            spark = start_session(work)
            w.setup(spark)
            setup_times.append(time.perf_counter() - t0)
        phases["setup"] = time.perf_counter()
        gate_errors = w.warmup()
        phases["warmup"] = time.perf_counter()
        engine = Engine(spark)

        units: list[dict] = []
        results = []
        t_end = time.perf_counter() + args.seconds
        while True:
            traced = bool(args.trace) and len(units) % 2 == 1
            tracer.enabled = traced
            tracer.unit = f"unit-{len(units)}"
            tracer.counts.clear()
            snap = engine.snapshot() if traced else None
            cpu0 = engine.cpu_s()
            t0 = time.perf_counter()
            with tracer.span("unit"):
                res = w.unit(tracer)
            run_s = time.perf_counter() - t0
            cpu_s = engine.cpu_s() - cpu0
            tracer.enabled = False
            unit = {
                "traced": traced, "run_s": run_s, "cpu_s": cpu_s,
                "cached_mb_end": engine.cached_mb(), "counts": dict(tracer.counts),
            }
            if traced:
                unit["spark"] = engine.counters_since(snap)
            w.finish_unit(res)
            gate_errors += res.errors
            units.append(unit)
            results.append(res)
            least = MIN_TRACED_RUN_UNITS if args.trace else w.min_units
            if len(units) >= least and time.perf_counter() >= t_end:
                break
        phases["units"] = time.perf_counter()
    finally:
        if spark is not None:
            stop_session(spark)
    phases["stop"] = time.perf_counter()
    keys = list(phases)
    phase_s = {k: phases[k] - phases[p] for p, k in zip(keys, keys[1:])}

    untraced = [u for u, r in zip(units, results) if not u["traced"]]
    plain = [r for u, r in zip(units, results) if not u["traced"]]
    lat = [x for r in plain for x in r.op_latencies_s]
    attempted = sum(r.attempted for r in results)
    failed = sum(r.failed for r in results)
    failures = [f for r in results for f in r.failures]
    e2e = {
        "setup_s": (statistics.median(setup_times), "s"),
        "run_s": (statistics.median(u["run_s"] for u in untraced), "s"),
        "cpu_s": (statistics.median(u["cpu_s"] for u in untraced), "s"),
    }
    # printed, not gated: per-operation latency spreads too widely from
    # run to run on a shared 4-core box, and the other two can be 0
    extra = {
        "op_p50_s": (_quantile(lat, 0.5), "s"),
        "op_p90_s": (_quantile(lat, 0.9), "s"),
        "error_rate": (failed / attempted if attempted else 0.0, "ratio"),
        "cached_mb_end": (max(u["cached_mb_end"] for u in units), "MB"),
    }

    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "cores": CORES, "nproc": os.cpu_count(),
        "load_1m_start": load_start, "load_1m_end": os.getloadavg()[0],
        "shape": shape, "phases_s": phase_s, "setup_runs_s": setup_times,
        "units": units, "op_samples": len(lat),
        "attempted": attempted, "failed": failed,
        "gate_errors": gate_errors, "failures": failures,
    }
    print(
        f"# {args.workload} seed={args.seed} trace={args.trace} local[{CORES}] "
        f"load_1m={load_start:.2f} units={len(units)}"
    )
    print("# phases: " + ", ".join(f"{k}={v:.2f}s" for k, v in phase_s.items()))
    print("# inputs: " + ", ".join(f"{k}={v}" for k, v in shape.items()))
    samples = {
        "setup_s": f"median of {len(setup_times)} set-ups",
        "run_s": f"median of {len(untraced)} units",
        "cpu_s": f"median of {len(untraced)} units, JVM tree + Python",
        "op_p50_s": f"n={len(lat)} operations",
        "op_p90_s": f"n={len(lat)} operations",
        "error_rate": f"{failed}/{attempted} operations failed",
        "cached_mb_end": "largest over units",
    }
    for name, (value, unit) in {**e2e, **extra}.items():
        print(f"{name:<14} {value:12.4f} {unit:<3} ({samples[name]})")
    for msg in gate_errors[:20] + failures[:20]:
        print(f"! {msg}", file=sys.stderr)

    if args.trace:
        metrics = layers.per_layer(tracer, units, w)
        record["per_layer"] = metrics
        for name, (value, unit) in metrics.items():
            print(f"{name:<44} {value:12.4f} {unit}")
        tracer.write(os.path.join(work, "results", f"{args.workload}-spans.jsonl"))
    else:
        metrics = e2e
    with open(os.path.join(work, "results", f"{args.workload}-trace{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)

    # a failed operation (CommandLog error -1 or 1222, an exception)
    # fails the run like a wrong answer does
    correct = not gate_errors and not failed
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
