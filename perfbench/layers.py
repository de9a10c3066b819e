"""Per-layer metrics of a traced run, and the end-to-end metric each
one should move.

Every metric is the median, over the traced units of a run, of its
value in one unit.  Times are summed span durations (``_s``), self
times (``self_s``: span minus child spans) or call counts
(``_calls``).  A layer that a workload never reaches reports 0.

=============================================  ============================  ==================
layer metric                                   should move                   on workload
=============================================  ============================  ==================
plans.state.{save,load,merge_inventory,        run_s                         budgeted_resume
pick_next}_s, plans.state.save_calls
plans.state.predict_mape                       run_s (wasted/skipped picks)  budgeted_resume
plans.scheduler.{self_s,invocations,skipped}   run_s                         budgeted_resume
plans.runner.self_s, .log_flush_s              run_s, op_p50_s               budgeted_resume
sources.catalog.list_objects_{s,calls}         run_s                         budgeted_resume
sources.loader.load_table_{s,calls}            run_s                         budgeted_resume
operators.kernels.{checktable,                 run_s, cpu_s, op_p90_s        budgeted_resume
extended_logical}_{s,calls}
spark.*                                        cpu_s, run_s                  both; jobs per check
                                                                             is the launch cost
registry.{construct,execute}_s,                run_s                         headline_sweep
registry.q.<query>.{construct,execute}_s
<module>.execute_s                             run_s, cpu_s                  headline_sweep (the
                                                                             scheduler is the
                                                                             control: no change)
trace.uncovered_share, trace.overhead_s        (the tracing itself)          both
=============================================  ============================  ==================

``plans.state.predict_mape`` is the mean, over the objects a unit
checked, of ``|avg_run_duration_ms - actual| / actual``: the ledger's
running average read at pick time against the duration then recorded.
``<module>.execute_s`` charges a registry query's execute time to the
first program module the registry calls while building it.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from bench import HEADLINE

_SPAN_TOTALS = {
    "plans.state.save_s": "plans.state.save",
    "plans.state.load_s": "plans.state.load",
    "plans.state.merge_inventory_s": "plans.state.merge_inventory",
    "plans.state.pick_next_s": "plans.state.pick_next",
    "plans.runner.log_flush_s": "plans.runner.log_flush",
    "sources.catalog.list_objects_s": "sources.catalog.list_objects",
    "sources.loader.load_table_s": "sources.loader.load_table",
    "operators.kernels.checktable_s": "operators.kernels.checktable",
    "operators.kernels.extended_logical_s": "operators.kernels.extended_logical",
}
_SPAN_CALLS = {
    "plans.state.save_calls": "plans.state.save",
    "sources.catalog.list_objects_calls": "sources.catalog.list_objects",
    "sources.loader.load_table_calls": "sources.loader.load_table",
    "operators.kernels.checktable_calls": "operators.kernels.checktable",
    "operators.kernels.extended_logical_calls": "operators.kernels.extended_logical",
}
_SELF = {
    "plans.scheduler.self_s": "plans.scheduler",
    "plans.runner.self_s": "plans.runner",
}
_COUNTS = {
    "plans.scheduler.invocations": "plans.scheduler.invocations",
    "plans.scheduler.skipped": "plans.scheduler.skipped",
}
SPARK = (
    "spark.jobs", "spark.stages", "spark.tasks", "spark.executor_run_s",
    "spark.executor_cpu_s", "spark.input_mb", "spark.shuffle_write_mb", "spark.spill_mb",
)
MODULE_GROUPS = (
    "operators.dedup", "operators.text", "operators.search",
    "operators.similarity", "operators.kernels", "sources.versioned",
)


def _unit(name: str) -> str:
    if name.endswith("_calls") or name in _COUNTS.values() or name in (
        "spark.jobs", "spark.stages", "spark.tasks",
    ):
        return "count"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_s"):
        return "s"
    return "ratio"


def metric_names() -> list[str]:
    """Every per-layer metric, in report order."""
    names = [*_SPAN_TOTALS, *_SPAN_CALLS, "plans.state.predict_mape", *_SELF, *_COUNTS]
    names += list(SPARK)
    names += ["registry.construct_s", "registry.execute_s"]
    for q in HEADLINE:
        names += [f"registry.q.{q}.construct_s", f"registry.q.{q}.execute_s"]
    names += [f"{g}.execute_s" for g in MODULE_GROUPS]
    names += ["trace.uncovered_share", "trace.overhead_s"]
    return names


def _one_unit(tracer, unit_id: str, unit: dict, group_of: dict) -> dict[str, float]:
    spans = tracer.unit_spans(unit_id)
    self_t = tracer.self_times(spans)
    total: dict[str, float] = defaultdict(float)
    calls: dict[str, int] = defaultdict(int)
    own: dict[str, float] = defaultdict(float)
    for s in spans:
        total[s.name] += s.end - s.start
        calls[s.name] += 1
        own[s.name] += self_t[s.id]
    counts = unit["counts"]
    out: dict[str, float] = {}
    for m, span in _SPAN_TOTALS.items():
        out[m] = total[span]
    for m, span in _SPAN_CALLS.items():
        out[m] = float(calls[span])
    n = counts.get("plans.state.predict_n", 0)
    out["plans.state.predict_mape"] = counts.get("plans.state.predict_ape_sum", 0.0) / n if n else 0.0
    for m, span in _SELF.items():
        out[m] = own[span]
    for m, key in _COUNTS.items():
        out[m] = float(counts.get(key, 0))
    for m in SPARK:
        out[m] = unit["spark"][m]
    groups: dict[str, float] = defaultdict(float)
    out["registry.construct_s"] = out["registry.execute_s"] = 0.0
    for q in HEADLINE:
        c, e = total[f"registry.q.{q}.construct"], total[f"registry.q.{q}.execute"]
        out[f"registry.q.{q}.construct_s"] = c
        out[f"registry.q.{q}.execute_s"] = e
        out["registry.construct_s"] += c
        out["registry.execute_s"] += e
        if group_of.get(q):
            groups[group_of[q]] += e
    for g in MODULE_GROUPS:
        out[f"{g}.execute_s"] = groups[g]
    unit_spans = [s for s in spans if s.name == "unit"]
    whole = sum(s.end - s.start for s in unit_spans)
    out["trace.uncovered_share"] = sum(self_t[s.id] for s in unit_spans) / whole if whole else 0.0
    return out


def per_layer(tracer, units: list[dict], workload) -> dict[str, tuple[float, str]]:
    """Medians over the traced units, plus the tracing overhead."""
    group_of = getattr(workload, "group_of", {})
    rows = [
        _one_unit(tracer, f"unit-{i}", u, group_of)
        for i, u in enumerate(units)
        if u["traced"]
    ]
    traced = statistics.median(u["run_s"] for u in units if u["traced"])
    plain = statistics.median(u["run_s"] for u in units if not u["traced"])
    out: dict[str, tuple[float, str]] = {}
    for m in metric_names():
        if m == "trace.overhead_s":
            out[m] = (traced - plain, "s")
        else:
            out[m] = (statistics.median(r[m] for r in rows), _unit(m))
    return out
