"""Spans around the benchmark's calls into the engine, and the Spark
counters of each span read from the in-process status store.

An untraced recorder only times: it sets no job group and never reads
the store.  A traced one tags every Spark job a call starts with a job
group unique to its span, and after the call sums the stages of those
jobs (``AppStatusStore.jobsList`` / ``stageList``; both work with
``spark.ui.enabled=false``).
"""

from __future__ import annotations

import itertools
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

MB = 1024.0 * 1024.0


@dataclass
class Span:
    name: str
    span_id: int
    parent_id: int | None
    run_id: str
    start: float  # epoch seconds
    end: float = 0.0
    wall_s: float = 0.0
    cpu_s: float = 0.0  # all CPU but the JIT threads
    jit_s: float = 0.0  # CPU of the JIT threads (compilers, code cache sweeper)
    counters: dict = field(default_factory=dict)
    info: dict = field(default_factory=dict)


def _stat_cpu_s(path: str) -> float:
    """User + system CPU seconds of a /proc stat file."""
    with open(path) as f:
        # utime and stime are fields 14 and 15 of stat(5); split after
        # the parenthesised command name
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def jit_threads(jvm_pid: int) -> list[int]:
    """Thread ids of the JVM's JIT compiler threads and its code cache
    sweeper.  The driver JVM runs with -XX:-UseDynamicNumberOfCompilerThreads,
    so these threads live as long as the JVM and their CPU time never
    drops out of a difference."""
    tids = []
    for tid in os.listdir(f"/proc/{jvm_pid}/task"):
        with open(f"/proc/{jvm_pid}/task/{tid}/comm") as f:
            if f.read().startswith(("C1 CompilerThre", "C2 CompilerThre", "Sweeper thread")):
                tids.append(int(tid))
    return tids


def cpu_seconds(jvm_pid: int, jit_tids: list[int]) -> tuple[float, float]:
    """(CPU seconds used so far by this Python process and the driver JVM,
    all threads, user + system; the part of it used by ``jit_tids``)."""
    t = os.times()
    total = t.user + t.system + _stat_cpu_s(f"/proc/{jvm_pid}/stat")
    jit = sum(_stat_cpu_s(f"/proc/{jvm_pid}/task/{tid}/stat") for tid in jit_tids)
    return total, jit


def _union_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Seconds of [lo, hi] covered by the union of ``intervals``."""
    covered, reach = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, reach), min(b, hi)
        if b > a:
            covered += b - a
            reach = b
    return covered


class Recorder:
    """Records one span per call, with its wall and CPU time; ``traced``
    adds the Spark counters."""

    def __init__(self, spark, run_id: str, traced: bool, jvm_pid: int):
        self.spark = spark
        self.run_id = run_id
        self.traced = traced
        self.jvm_pid = jvm_pid
        self.jit_tids = jit_threads(jvm_pid)
        self._ids = itertools.count(1)
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1].span_id if self._stack else None
        s = Span(name, next(self._ids), parent, self.run_id, time.time())
        group = f"perfbench-{self.run_id}-{s.span_id}"
        sc = self.spark.sparkContext
        if self.traced:
            s.info["jobs_before"] = self._newest_job_id()
            sc.setJobGroup(group, name, False)
        self._stack.append(s)
        cpu0, jit0 = cpu_seconds(self.jvm_pid, self.jit_tids)
        t0 = time.monotonic()
        try:
            yield s
        finally:
            s.wall_s = time.monotonic() - t0
            cpu1, jit1 = cpu_seconds(self.jvm_pid, self.jit_tids)
            s.jit_s = jit1 - jit0
            s.cpu_s = cpu1 - cpu0 - s.jit_s
            s.end = time.time()
            self._stack.pop()
            if self.traced:
                if self._stack:
                    sc.setJobGroup(f"perfbench-{self.run_id}-{self._stack[-1].span_id}",
                                   self._stack[-1].name, False)
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                s.counters = self._counters(group, s)

    def _store(self):
        return self.spark.sparkContext._jsc.sc().statusStore()

    def _newest_job_id(self) -> int:
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = self._store().jobsList(None)
        return jobs.apply(0).jobId() if jobs.size() else -1

    def _counters(self, group: str, s: Span) -> dict:
        # both lists come newest first; scan only this span's jobs/stages
        sc = self.spark.sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        store = self._store()
        jobs = store.jobsList(None)
        stage_ids: set[int] = set()
        n_jobs = 0
        for i in range(jobs.size()):
            j = jobs.apply(i)
            if j.jobId() <= s.info["jobs_before"]:
                break
            g = j.jobGroup()
            if g.isDefined() and g.get() == group:
                n_jobs += 1
                ids = j.stageIds()
                stage_ids.update(ids.apply(k) for k in range(ids.size()))
        stages = store.stageList(None, False, False,
                                 sc._gateway.new_array(sc._gateway.jvm.double, 0), None)
        c = {"jobs": n_jobs, "stages": 0, "task_s": 0.0, "shuffle_write_mb": 0.0,
             "shuffle_read_mb": 0.0, "spill_mb": 0.0, "input_mb": 0.0,
             "output_mb": 0.0, "write_task_s": 0.0}
        spans: list[tuple[float, float]] = []
        first_stage = min(stage_ids, default=0)
        for i in range(stages.size() if stage_ids else 0):
            st = stages.apply(i)
            if st.stageId() < first_stage:
                break
            if st.stageId() not in stage_ids or st.status().toString() == "SKIPPED":
                continue
            c["stages"] += 1
            run_s = st.executorRunTime() / 1000.0
            c["task_s"] += run_s
            c["shuffle_write_mb"] += st.shuffleWriteBytes() / MB
            c["shuffle_read_mb"] += st.shuffleReadBytes() / MB
            c["spill_mb"] += st.diskBytesSpilled() / MB
            c["input_mb"] += st.inputBytes() / MB
            c["output_mb"] += st.outputBytes() / MB
            if st.outputBytes() > 0:
                c["write_task_s"] += run_s
            if st.submissionTime().isDefined() and st.completionTime().isDefined():
                spans.append((st.submissionTime().get().getTime() / 1000.0,
                              st.completionTime().get().getTime() / 1000.0))
        c["gap_s"] = max(0.0, s.wall_s - _union_s(spans, s.start, s.end))
        return c



def cached_mb(spark) -> float:
    """Memory + disk size of every cached RDD/DataFrame block (the block
    manager's storage info, not the job status store)."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum((r.memSize() + r.diskSize()) / MB for r in infos)
