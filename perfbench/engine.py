"""The Spark session the benchmark drives, and the counters it reads
from the process and from Spark itself.

- CPU time: the JVM's own CPU plus every process under it (the Python
  UDF daemon and its workers, whose reaped children are folded into
  the daemon's ``cutime``), read from ``/proc``, plus this Python
  process's ``os.times()``.
- Engine counters: the difference of Spark's status store (jobs and
  stages) before and after a unit.
- Cached storage: the RDD storage Spark reports still held.
"""

from __future__ import annotations

import os
from collections import defaultdict
from dataclasses import dataclass

CORES = 4
_CLK = os.sysconf("SC_CLK_TCK")
_MB = 1024.0 * 1024.0


def session_conf(work: str) -> dict[str, str]:
    """Session settings that keep Spark's warehouse inside the
    benchmark's work directory and keep its status store long enough
    to diff one unit."""
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }


def start_session(work: str):
    """Start a session on local[CORES].  With no gateway running this
    launches a new JVM, as a user's first session does."""
    from integritychecksforvldbs_spark.session import get_spark

    return get_spark(app_name="perfbench", extra_conf=session_conf(work))


def _proc_stat(pid: int) -> tuple[int, float] | None:
    """(parent pid, CPU seconds incl. reaped children) of one process."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    fields = raw[raw.rindex(")") + 2:].split()
    ticks = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return int(fields[1]), ticks / _CLK


def _proc_table() -> dict[int, tuple[int, float]]:
    """``{pid: (parent pid, CPU seconds)}`` of every process."""
    table: dict[int, tuple[int, float]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _proc_stat(int(name))
            if st is not None:
                table[int(name)] = st
    return table


def _descendants(root_pid: int, table: dict[int, tuple[int, float]]) -> list[int]:
    children: dict[int, list[int]] = defaultdict(list)
    for pid, (ppid, _) in table.items():
        children[ppid].append(pid)
    out, frontier = [], [root_pid]
    while frontier:
        kids = children[frontier.pop()]
        out += kids
        frontier += kids
    return out


def jvm_tree_cpu_s(jvm_pid: int) -> float:
    """CPU seconds of the JVM and every live process below it."""
    table = _proc_table()
    return sum(table[p][1] for p in [jvm_pid, *_descendants(jvm_pid, table)] if p in table)


def python_cpu_s() -> float:
    t = os.times()
    return t.user + t.system


@dataclass
class EngineSnapshot:
    max_job: int
    max_stage: int


class Engine:
    """Counters of one Spark session."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.jvm = spark._jvm
        self.jvm_pid = int(self.jvm.ProcessHandle.current().pid())
        self._store = self.sc._jsc.sc().statusStore()

    def cpu_s(self) -> float:
        return jvm_tree_cpu_s(self.jvm_pid) + python_cpu_s()

    def cached_mb(self) -> float:
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos) / _MB

    def _stages(self):
        gw = self.sc._gateway
        return self._store.stageList(
            None, False, False, gw.new_array(self.jvm.double, 0),
            self.jvm.java.util.ArrayList(),
        )

    def _max_job(self) -> int:
        jobs = self._store.jobsList(None)
        return max((jobs.apply(i).jobId() for i in range(jobs.size())), default=-1)

    def snapshot(self) -> EngineSnapshot:
        stages = self._stages()
        max_stage = max(
            (stages.apply(i).stageId() for i in range(stages.size())), default=-1
        )
        return EngineSnapshot(self._max_job(), max_stage)

    def counters_since(self, snap: EngineSnapshot) -> dict[str, float]:
        """``spark.*`` counters of every job and stage after ``snap``."""
        out = {
            "spark.jobs": float(self._max_job() - snap.max_job),
            "spark.stages": 0.0,
            "spark.tasks": 0.0,
            "spark.executor_run_s": 0.0,
            "spark.executor_cpu_s": 0.0,
            "spark.input_mb": 0.0,
            "spark.shuffle_write_mb": 0.0,
            "spark.spill_mb": 0.0,
        }
        stages = self._stages()
        for i in range(stages.size()):
            s = stages.apply(i)
            if s.stageId() <= snap.max_stage or s.status().toString() == "SKIPPED":
                continue
            out["spark.stages"] += 1
            out["spark.tasks"] += s.numCompleteTasks()
            out["spark.executor_run_s"] += s.executorRunTime() / 1e3
            out["spark.executor_cpu_s"] += s.executorCpuTime() / 1e9
            out["spark.input_mb"] += s.inputBytes() / _MB
            out["spark.shuffle_write_mb"] += s.shuffleWriteBytes() / _MB
            out["spark.spill_mb"] += (s.memoryBytesSpilled() + s.diskBytesSpilled()) / _MB
        return out


def stop_session(spark, timeout_s: float = 30.0) -> None:
    """Stop Spark, end the JVM and every process under it, and wait
    until they are gone."""
    import signal
    import time

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    pids = _descendants(proc.pid, _proc_table()) if proc is not None else []
    spark.stop()
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout_s)
    except Exception:
        proc.kill()
        proc.wait()
    deadline = time.time() + timeout_s
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
    SparkContext._gateway = None
    SparkContext._jvm = None
