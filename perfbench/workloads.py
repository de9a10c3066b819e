"""The benchmark's workloads.

Each workload is driven from one thread as a closed loop with one
client: the next operation is issued only after the previous one
returned.  A workload object goes through these steps:

``prepare()``    write the seeded inputs and their reference answers
                 (no Spark);
``setup()``      the work a user pays on a fresh session before the
                 first unit can start (timed as ``setup_s``);
``warmup()``     one full unit, untimed, gated against the oracle;
``unit()``       one timed unit, returning a :class:`UnitResult`;
``finish_unit()`` gate the unit's output, outside the timed span;
``install()``    wrap the layers' entry points for a traced run.

``min_units`` is the fewest timed units an untraced run makes.

The registry's time is timed by the benchmark itself; the budgeted
workload's layers are reached only through the scheduler, so they are
wrapped where the scheduler looks them up.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone

import pyarrow.parquet as pq

import datagen
import oracle
from spans import Tracer

# Hard cap on invocations in one resume cycle: a cycle that needs more
# is not making progress and fails the run instead of looping.
MAX_INVOCATIONS = 12
# IC:677 -- a check may end at most one minute after the deadline
GRACE_S = 60.0


@dataclass
class UnitResult:
    """What one unit did, for the metrics and the output gates."""

    op_latencies_s: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)  # output-gate failures
    failures: list[str] = field(default_factory=list)  # operations that failed


def _utcnow() -> datetime:
    return datetime.now(timezone.utc).replace(tzinfo=None)


def _read_log(path: str):
    """The CommandLog rows, read straight from its parquet files."""
    if not os.path.exists(path):
        return []
    return pq.read_table(path).to_pylist()


class BudgetedResume:
    """A resume cycle: successive ``time_limit`` invocations of the
    scheduler over a fleet of small databases, in one session, until
    every table has been checked once and an invocation finds nothing
    left to check -- what a scheduled job that re-runs through the day
    does.

    The resume ledger is seeded before each cycle from an unbudgeted
    seeding pass: every table was last checked yesterday and carries
    the running-average duration of that pass, so the scheduler's
    skip-if-won't-fit prediction is evaluated on every pick.

    The budget does not bind on this fleet: where a deadline falls
    between two checks depends on sub-second jitter of the ledger saves
    around it, so a binding budget splits the cycle into a varying
    number of invocations and the cycle time jumps by whole
    invocations.  The deadline and grace gates are still checked.
    """

    name = "budgeted_resume"
    sf = 0.001
    # one cycle per run: a second does not fit the run's time budget,
    # and one cycle's run_s spread over ten seeds stayed near 0.15-0.17
    min_units = 1
    n_databases = 2
    max_files = 3
    time_limit_s = 120

    def __init__(self, work: str, seed: int):
        self.work = os.path.join(work, self.name)
        self.seed = seed
        self.base = os.path.join(work, "inputs", "fleet")
        self.units = 0

    # -- inputs ---------------------------------------------------------
    def prepare(self) -> dict:
        manifest = datagen.write_small_fleet(
            self.base, self.seed, self.sf, self.n_databases, self.max_files
        )
        self.expected = oracle.fleet_expectations(manifest)
        self.objects = {
            (db, t) for db, tables in manifest["databases"].items() for t in tables
        }
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(self.work)
        return datagen.manifest_summary(manifest)

    def _checker(self, state: str | None, log: str | None, time_limit: int | None):
        """CHECKTABLE with EXTENDED_LOGICAL_CHECKS over the fleet."""
        from integritychecksforvldbs_spark.plans.scheduler import (
            CheckParams,
            IntegrityChecker,
        )

        params = CheckParams(
            check_commands="CHECKTABLE",
            extended_logical_checks="Y",
            time_limit=time_limit,
        )
        return IntegrityChecker(self.spark, self.base, state, log, params)

    # -- set-up ---------------------------------------------------------
    def setup(self, spark) -> None:
        """Fresh session, then what every invocation pays before its
        first check: selection, inventory and ledger merge (an
        invocation whose budget is already spent, with no ledger file)."""
        self.spark = spark
        self._checker(None, None, 0).run()

    def warmup(self) -> list[str]:
        """The seeding pass: one unbudgeted pass with a fresh ledger,
        gated like a unit; its ledger, moved back one day, seeds every
        cycle."""
        from integritychecksforvldbs_spark.plans.state import StateStore

        seeded = os.path.join(self.work, "seeded_state")
        log = os.path.join(self.work, "seed_log")
        shutil.rmtree(seeded, ignore_errors=True)
        shutil.rmtree(log, ignore_errors=True)
        report = self._checker(seeded, log, None).run()
        gated = self._gate(_read_log(log), [report])
        errors = gated.errors + gated.failures
        store = StateStore(self.spark, seeded)
        yesterday = _utcnow().date() - timedelta(days=1)
        for row in store.rows.values():
            row.last_check_date = yesterday
        store.save()
        self.seeded = seeded
        return errors

    # -- one unit -------------------------------------------------------
    def unit(self, tracer: Tracer) -> UnitResult:
        self.units += 1
        cycle = os.path.join(self.work, f"cycle_{self.units}")
        state, log = os.path.join(cycle, "state"), os.path.join(cycle, "log")
        shutil.rmtree(cycle, ignore_errors=True)
        shutil.copytree(self.seeded, state)
        reports = []
        while len(reports) < MAX_INVOCATIONS:
            report = self._checker(state, log, self.time_limit_s).run()
            reports.append(report)
            if not report.outcomes:
                break
        self._last = (log, reports)
        return UnitResult()

    def finish_unit(self, result: UnitResult) -> None:
        """Gate the last unit (outside the timed span)."""
        log, reports = self._last
        gated = self._gate(_read_log(log), reports)
        result.op_latencies_s = gated.op_latencies_s
        result.attempted, result.failed = gated.attempted, gated.failed
        result.errors, result.failures = gated.errors, gated.failures
        if len(reports) >= MAX_INVOCATIONS:
            result.errors.append(f"cycle needed over {MAX_INVOCATIONS} invocations")

    # -- output gates ---------------------------------------------------
    def _gate(self, rows: list[dict], reports) -> UnitResult:
        out = UnitResult()
        seen: dict[tuple[str, str], int] = {}
        for r in rows:
            key = (r["database_name"], r["object_name"])
            seen[key] = seen.get(key, 0) + 1
            out.attempted += 1
            out.op_latencies_s.append((r["end_time"] - r["start_time"]).total_seconds())
            if r["error_number"] not in (0, 8900):
                out.failed += 1
                out.failures.append(f"{key}: error {r['error_number']}: {r['error_message']}")
                continue
            info = json.loads(r["extended_info"] or "{}")
            got = info.get("metrics", {})
            want = self.expected.get(key[0], {}).get(key[1])
            if want is None:
                out.errors.append(f"{key}: not in the fleet")
                continue
            diff = {k: (got.get(k), v) for k, v in want.items() if got.get(k) != v}
            if diff:
                out.errors.append(f"{key}: counters differ from the oracle {diff}")
            violations = any(v for k, v in want.items() if k not in ("n_rows", "n_fks"))
            if (r["error_number"] == 8900) != violations:
                out.errors.append(f"{key}: error {r['error_number']} disagrees with the oracle")
        missing = self.objects - set(seen)
        twice = sorted(k for k, n in seen.items() if n > 1)
        if missing:
            out.errors.append(f"not checked: {sorted(missing)}")
        if twice:
            out.errors.append(f"checked more than once: {twice}")
        # deadline gate (IC:677): per invocation, no command starts after
        # the deadline and none ends more than the grace after it
        for rep in reports:
            if rep.job_end_time is None:
                continue
            grace = rep.job_end_time + timedelta(seconds=GRACE_S)
            for o in rep.outcomes:
                if o.start_time > rep.job_end_time:
                    out.errors.append(f"{o.spec.object}: started after the deadline")
                if o.end_time > grace:
                    out.errors.append(f"{o.spec.object}: ended past the grace")
        return out

    # -- tracing --------------------------------------------------------
    def install(self, tracer: Tracer) -> None:
        from integritychecksforvldbs_spark.plans import runner, scheduler, state

        predicted: dict[tuple[str, str, str], int] = {}

        def on_pick(args, kwargs, row):
            if row is not None:
                key = (row.database_name, row.schema, row.object_name)
                predicted[key] = row.avg_run_duration_ms

        def on_record(args, kwargs, row):
            actual = row.run_duration_ms
            want = predicted.pop((row.database_name, row.schema, row.object_name), None)
            if want is not None and actual:
                tracer.count("plans.state.predict_ape_sum", abs(want - actual) / actual)
                tracer.count("plans.state.predict_n")

        def on_run(args, kwargs, report):
            tracer.count("plans.scheduler.invocations")
            tracer.count("plans.scheduler.skipped", len(report.skipped))

        tracer.wrap(state.StateStore, "save", "plans.state.save")
        tracer.wrap(state.StateStore, "_load", "plans.state.load")
        tracer.wrap(state.StateStore, "merge_inventory", "plans.state.merge_inventory")
        tracer.wrap(state.StateStore, "pick_next", "plans.state.pick_next", on_pick)
        tracer.wrap(state.StateStore, "record_run", "plans.state.record_run", on_record)
        tracer.wrap(scheduler.IntegrityChecker, "run", "plans.scheduler", on_run)
        tracer.wrap(scheduler, "run_command", "plans.runner")
        tracer.wrap(runner.CommandLog, "flush", "plans.runner.log_flush")
        tracer.wrap(scheduler, "list_objects", "sources.catalog.list_objects")
        tracer.wrap(scheduler, "load_table", "sources.loader.load_table")
        tracer.wrap(scheduler, "run_checktable", "operators.kernels.checktable")
        tracer.wrap(scheduler, "run_extended_logical", "operators.kernels.extended_logical")


class HeadlineSweep:
    """The registry's headline queries (``bench.HEADLINE``), each built
    and written to the ``noop`` sink in turn."""

    name = "headline_sweep"
    sf = 0.01
    # one sweep's run_s spread reached 0.25 over ten seeds; the median
    # of two stays steadier
    min_units = 2

    def __init__(self, work: str, seed: int):
        self.work = os.path.join(work, self.name)
        self.seed = seed
        self.sweep_dir = os.path.join(work, "inputs", "sweep")

    def prepare(self) -> dict:
        from bench import HEADLINE

        import __spark_entry__ as registry

        self.registry = registry
        self.names = list(HEADLINE)
        manifest = datagen.write_sweep_dir(self.sweep_dir, self.seed, self.sf)
        self.want = oracle.sweep_oracle(
            self.sweep_dir, registry.TABLES, registry.oracle_sql(), self.names
        )
        self.rows = {n: len(df) for n, df in self.want.items()}
        self.group_of: dict[str, str | None] = {}
        return datagen.manifest_summary(manifest)

    def setup(self, spark) -> None:
        """Fresh session and the registry.  The first query's cold run
        (about 6 s on 4 cores) is left to the warm-up: three of them
        per run would not fit the benchmark's time budget."""
        self.spark = spark
        self.qs = self.registry.queries()

    def warmup(self) -> list[str]:
        """One sweep collected to the driver and compared with the
        DuckDB oracle, query by query.  It also builds the on-disk
        versioned mirrors (cached by path), so no timed unit pays them,
        and notes each query's module group for a traced run."""
        errors = []
        for n in self.names:
            try:
                got = self._construct(n).toPandas()
            except Exception as exc:
                errors.append(f"{n}: {type(exc).__name__}: {exc}"[:300])
                continue
            why = oracle.compare_frames(got, self.want[n])
            if why:
                errors.append(f"{n}: {why}")
        self.spark.catalog.clearCache()
        return errors

    def unit(self, tracer: Tracer) -> UnitResult:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        out = UnitResult()
        for n in self.names:
            out.attempted += 1
            t0 = time.perf_counter()
            try:
                with tracer.span(f"registry.q.{n}.construct"):
                    df = self.qs[n](self.spark, self.sweep_dir)
                obs = Observation(f"rows_{n}")
                sink = df.observe(obs, F.count(F.lit(1)).alias("n"))
                with tracer.span(f"registry.q.{n}.execute"):
                    sink.write.format("noop").mode("overwrite").save()
                rows = obs.get["n"]
            except Exception as exc:  # one failed query must not end the sweep
                out.failed += 1
                out.failures.append(f"{n}: {type(exc).__name__}: {exc}"[:300])
                continue
            out.op_latencies_s.append(time.perf_counter() - t0)
            if rows != self.rows[n]:
                out.errors.append(f"{n}: {rows} rows, the oracle has {self.rows[n]}")
        self.spark.catalog.clearCache()
        return out

    def finish_unit(self, result: UnitResult) -> None:
        """The row counts were gated inside :meth:`unit`."""

    # -- tracing --------------------------------------------------------
    GROUPS = {
        "integritychecksforvldbs_spark.operators.dedup": "operators.dedup",
        "integritychecksforvldbs_spark.operators.text": "operators.text",
        "integritychecksforvldbs_spark.operators.search": "operators.search",
        "integritychecksforvldbs_spark.operators.similarity": "operators.similarity",
        "integritychecksforvldbs_spark.operators.kernels": "operators.kernels",
        "integritychecksforvldbs_spark.sources.versioned": "sources.versioned",
        "integritychecksforvldbs_spark.sources.versioned_sql": "sources.versioned",
        "integritychecksforvldbs_spark.sources.versioned_datasource": "sources.versioned",
    }

    def _construct(self, name: str):
        """Build one query while a profile hook notes the first program
        module the registry calls into; in a traced run the query's
        execute time is charged to that module's group."""
        found: list[str] = []

        def hook(frame, event, arg):
            if event != "call" or found:
                return
            group = self.GROUPS.get(frame.f_globals.get("__name__"))
            caller = frame.f_back
            if group and caller is not None and (
                caller.f_globals.get("__name__") == "__spark_entry__"
            ):
                found.append(group)

        sys.setprofile(hook)
        try:
            df = self.qs[name](self.spark, self.sweep_dir)
        finally:
            sys.setprofile(None)
        self.group_of[name] = found[0] if found else None
        return df

    def install(self, tracer: Tracer) -> None:
        """The registry spans are opened by :meth:`unit` itself."""


WORKLOADS = {w.name: w for w in (BudgetedResume, HeadlineSweep)}
