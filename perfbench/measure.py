"""Measurement helpers: spans with Spark counters, process RSS and the
host-load probe.

Spans are recorded from the benchmark's own calls into the engine; the
engine itself is not instrumented.  Each span runs its Spark jobs under
its own job group, and its counters are summed over exactly the stages
of those jobs (looked up by job id in Spark's status store), so a span
never differences global stage totals that the store trims to
``spark.ui.retainedStages``.
"""

from __future__ import annotations

import os
import re
import time
from contextlib import contextmanager

# Idle floor of ``probe_s``: the fastest of 40 back-to-back probes on the
# 4-vCPU Intel Xeon VM (Python 3.11.7) the benchmark was calibrated on,
# with no benchmark running.  That host never reads fully idle (the
# median probe was 0.202 s), which is why bench.py's 0.10 s default
# floor never matched it.  Reported beside every sample as a load
# factor; never used to drop a sample.
PROBE_IDLE_FLOOR_S = 0.169

COUNTERS = (
    "stages",
    "tasks",
    "failed_tasks",
    "executor_run_s",
    "executor_cpu_s",
    "wait_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
)


def probe_s() -> float:
    """The fixed pure-Python loop of the repo's ``bench.py`` load probe."""
    t0 = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x += i * i % 7
    return time.perf_counter() - t0


class Spans:
    """Records named spans; each span's Spark work is attributed through
    a job group unique to that span."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self.jvm = self.sc._jvm
        self.spans: list[dict] = []
        self._no_quantiles = self.sc._gateway.new_array(self.jvm.double, 0)

    @contextmanager
    def span(self, name: str):
        group = f"perfbench-{len(self.spans)}-{name}"
        rec = {"name": name, "group": group, "rows_out": 0}
        self.sc.setJobGroup(group, name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self.sc.setJobGroup("perfbench-idle", "between spans")
            rec["busy_s"] = rec["end"] - rec["start"]
            rec.update(self.counters(group))
            self.spans.append(rec)

    def job_ids(self, group: str) -> list[int]:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(group))

    def _stage_attempts(self, group: str):
        stage_ids = set()
        for jid in self.job_ids(group):
            ids = self.store.job(jid).stageIds()
            stage_ids.update(int(ids.apply(i)) for i in range(ids.size()))
        for sid in sorted(stage_ids):
            attempts = self.store.stageData(
                sid, False, self.jvm.java.util.ArrayList(), False, self._no_quantiles
            )
            for i in range(attempts.size()):
                yield attempts.apply(i)

    def counters(self, group: str) -> dict:
        out = dict.fromkeys(COUNTERS, 0)
        out["jobs"] = len(self.job_ids(group))
        for s in self._stage_attempts(group):
            if s.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += s.numCompleteTasks() + s.numFailedTasks()
            out["failed_tasks"] += s.numFailedTasks()
            out["executor_run_s"] += s.executorRunTime() / 1e3
            out["executor_cpu_s"] += s.executorCpuTime() / 1e9
            out["shuffle_read_bytes"] += s.shuffleReadBytes()
            out["shuffle_write_bytes"] += s.shuffleWriteBytes()
            out["spill_bytes"] += s.diskBytesSpilled()
        out["wait_s"] = out["executor_run_s"] - out["executor_cpu_s"]
        return out

    def longest_stage_run_s(self, group: str) -> float:
        """Executor run time of the group's longest-running stage."""
        return max((s.executorRunTime() / 1e3 for s in self._stage_attempts(group)), default=0.0)

    def exchanges(self, group: str) -> tuple[int, int]:
        """(exchanges run, exchanges reused) in the final AQE plans of the
        SQL executions that ran the group's jobs."""
        jids = self.job_ids(group)
        execs = self.sql_store.executionsList()
        ran = reused = 0
        for i in range(execs.size()):
            e = execs.apply(i)
            if not any(e.jobs().contains(j) for j in jids):
                continue
            plan = e.physicalPlanDescription()
            final = plan.split("== Final Plan ==", 1)[-1].split("== Initial Plan ==", 1)[0]
            reused += len(re.findall(r"\bReusedExchange\b", final))
            ran += len(re.findall(r"(?<!Reused)\b(?:Broadcast)?Exchange \(\d+\)", final))
        return ran, reused


def persisted_rdds(spark) -> int:
    return int(spark.sparkContext._jsc.getPersistentRDDs().size())


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendants() -> list[int]:
    """This process and every process below it."""
    kids, todo, out = _children(), [os.getpid()], []
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and every
    process below it, read from /proc."""
    total = 0
    for pid in _descendants():
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += int(fields[11]) + int(fields[12])
    return total / os.sysconf("SC_CLK_TCK")


def peak_rss_mb() -> float:
    """Sum of the peak resident sets of this process and every process
    below it (the Spark JVM and its Python workers), read from /proc."""
    return sum(_hwm_kb(pid) for pid in _descendants()) / 1024.0


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(root, name))
    return total
