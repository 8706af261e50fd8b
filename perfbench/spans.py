"""Spans, Spark job/stage statistics, host fingerprint and memory.

A :class:`Tracer` times every call the benchmark makes into a layer of
the engine.  Untraced, a span is two ``perf_counter`` reads.  Traced, a
span also runs its calls under its own Spark job group and, when it
ends, reads back the jobs of that group from the driver's status store
(``statusTracker`` + ``statusStore().lastStageAttempt``), plus the
Catalyst phase times of the frame it consumed.  Nested spans get their
own groups, so a job counts once, in the innermost span that ran it.
Spans stay in memory and are written out when the run ends.
"""

from __future__ import annotations

import os
import platform
import resource
import shutil
import statistics
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

#: per-span job statistics, summed over the span's completed stages
STAT_KEYS = (
    "jobs", "job_s", "stages", "tasks", "executor_run_ms", "executor_cpu_ms",
    "gc_ms", "input_bytes", "output_bytes", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes",
)
PHASES = ("analysis", "optimization", "planning")


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    stats: dict = field(default_factory=dict)
    phases_ms: dict = field(default_factory=dict)
    child_s: float = 0.0
    #: time spent inside this span reading back statistics of nested
    #: spans: tracing cost, not the layer's, so ``s`` excludes it
    trace_s: float = 0.0

    @property
    def s(self) -> float:
        return self.end - self.start - self.trace_s

    @property
    def self_s(self) -> float:
        return self.s - self.child_s

    def record(self) -> dict:
        return {
            "id": self.id, "name": self.name, "parent": self.parent,
            "start": round(self.start, 6), "s": round(self.s, 6),
            "self_s": round(self.self_s, 6), **self.stats,
            **{f"{p}_ms": v for p, v in self.phases_ms.items()},
        }


class Tracer:
    """Span recorder; ``enabled=False`` keeps only the wall times."""

    def __init__(self, spark, enabled: bool) -> None:
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._group_prefix = f"perfbench-{os.getpid()}-"
        #: wall spent reading statistics back: the cost of tracing
        self.harvest_s = 0.0

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, parent.id if parent else None, 0.0)
        self.spans.append(sp)
        sc = self.spark.sparkContext
        if self.enabled:
            sc.setJobGroup(self._group_prefix + str(sp.id), name)
        self._stack.append(sp)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if self.enabled:
                if parent is not None:
                    sc.setJobGroup(self._group_prefix + str(parent.id), parent.name)
                else:
                    sc._jsc.clearJobGroup()
                t_harvest = time.perf_counter()
                sp.stats = self._job_stats(self._group_prefix + str(sp.id))
                self.harvest_s += time.perf_counter() - t_harvest
            if parent is not None:
                parent.child_s += sp.s
                parent.trace_s += sp.trace_s + (time.perf_counter() - sp.end)

    def phases(self, sp: Span, df) -> None:
        """Attach the Catalyst phase times of the consumed ``df``."""
        if not self.enabled:
            return
        tracked = df._jdf.queryExecution().tracker().phases()
        for p in PHASES:
            opt = tracked.get(p)
            sp.phases_ms[p] = int(opt.get().durationMs()) if opt.isDefined() else 0

    def _job_stats(self, group: str) -> dict:
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        # the status store is fed by the listener bus: drain it first
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        out = dict.fromkeys(STAT_KEYS, 0)
        out["stage_input_bytes"] = []
        for job_id in sc.statusTracker().getJobIdsForGroup(group):
            info = sc.statusTracker().getJobInfo(job_id)
            if info is None:
                continue
            out["jobs"] += 1
            job = store.job(job_id)
            if job.submissionTime().isDefined() and job.completionTime().isDefined():
                out["job_s"] += (
                    job.completionTime().get().getTime()
                    - job.submissionTime().get().getTime()
                ) / 1000.0
            for stage_id in info.stageIds:
                sd = store.lastStageAttempt(stage_id)
                if sd.status().toString() != "COMPLETE":
                    continue  # skipped: its shuffle output was reused
                out["stages"] += 1
                out["tasks"] += sd.numCompleteTasks()
                out["executor_run_ms"] += sd.executorRunTime()
                out["executor_cpu_ms"] += sd.executorCpuTime() / 1e6
                out["gc_ms"] += sd.jvmGcTime()
                out["input_bytes"] += sd.inputBytes()
                out["output_bytes"] += sd.outputBytes()
                out["shuffle_read_bytes"] += sd.shuffleReadBytes()
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                out["stage_input_bytes"].append(sd.inputBytes())
        return out

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]


def sum_stats(spans: list[Span]) -> dict:
    return {k: sum(s.stats.get(k, 0) for s in spans) for k in STAT_KEYS}


def mean(xs) -> float:
    xs = list(xs)
    return statistics.fmean(xs) if xs else 0.0


# ---------------------------------------------------------------------------
# host
# ---------------------------------------------------------------------------

def job_floors(spark, repeats: int = 5) -> dict:
    """Median wall of a trivial one-stage job and of a one-shuffle job
    (no Python workers, no data): the fixed per-job cost every query
    pays on this host."""
    def trivial():
        spark.range(0, 4, 1, 4).write.format("noop").mode("overwrite").save()

    def shuffle():
        spark.range(0, 4, 1, 4).repartition(4).write.format("noop").mode("overwrite").save()

    out = {}
    for name, fn in (("spark.job_floor_s", trivial), ("spark.shuffle_job_floor_s", shuffle)):
        fn()  # first call pays class loading
        walls = []
        for _ in range(repeats):
            t0 = time.perf_counter()
            fn()
            walls.append(time.perf_counter() - t0)
        out[name] = statistics.median(walls)
    return out


def host_cpu_s() -> dict:
    """CPU seconds this machine has spent busy, and waiting for a
    physical CPU the hypervisor gave to someone else (steal), so far."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    hz = os.sysconf("SC_CLK_TCK")
    return {"busy": (f[0] + f[1] + f[2] + f[5] + f[6]) / hz, "steal": f[7] / hz}


def _mem_total_mb() -> float:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024
    return 0.0


def fingerprint(spark, work_dir: str) -> dict:
    """What a result depends on besides the code: two results compare
    only if these match (``free_disk_gb`` is recorded, not compared)."""
    conf = spark.sparkContext.getConf()
    jvm = spark.sparkContext._jvm
    return {
        "cpus": os.cpu_count(),
        "ram_gb": round(_mem_total_mb() / 1024, 1),
        "python": platform.python_version(),
        "spark": spark.version,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "master": spark.sparkContext.master,
        "driver_memory": conf.get("spark.driver.memory", "1g"),
        "driver_heap_flags": " ".join(
            t for t in conf.get("spark.driver.extraJavaOptions", "").split()
            if t.startswith("-X")
        ),
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "free_disk_gb": round(shutil.disk_usage(work_dir).free / 2**30, 1),
    }


COMPARED_FINGERPRINT_KEYS = (
    "cpus", "ram_gb", "python", "spark", "java", "master", "driver_memory",
    "driver_heap_flags", "shuffle_partitions",
)


def comparable(a: dict, b: dict) -> list[str]:
    """Fingerprint keys on which two results differ (empty: comparable)."""
    return [k for k in COMPARED_FINGERPRINT_KEYS if a.get(k) != b.get(k)]


def _vm_hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the driver JVM plus this Python driver."""
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    py_kb = _vm_hwm_kb("self") or resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (_vm_hwm_kb(jvm_pid) + py_kb) / 1024


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)
