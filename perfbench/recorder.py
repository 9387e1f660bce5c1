"""Spans, Spark counters and process CPU time, read from outside the library.

Every span sets the Spark job group (``spark.jobGroup.id``) for the calls it
wraps, so the AppStatusStore attributes each job to the innermost open span.
Counters come from one read of the status store after the timed work is
done: jobs per group, and per stage the tasks' summed ``executorRunTime``,
shuffle read + write bytes and memory + disk spill. A stage is charged to
the first job that lists it (a reused shuffle-map stage shows up again,
skipped, in later jobs).

The session must retain every job and stage of a run; ``RETAIN_CONF`` raises
the limits and is passed to ``get_spark(extra_conf=...)``.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

RETAIN_CONF = {
    "spark.ui.retainedJobs": "1000000",
    "spark.ui.retainedStages": "1000000",
}

_GROUP_KEY = "spark.jobGroup.id"


@dataclass
class Span:
    name: str
    parent: str | None
    group: str | None
    start: float
    end: float | None = None
    note: str | None = None
    attrs: dict = field(default_factory=dict)


@dataclass
class Counters:
    jobs: int = 0
    task_s: float = 0.0
    shuffle_bytes: int = 0
    spill_bytes: int = 0


def read_status(spark) -> dict[str | None, Counters]:
    """Counters per job group over every job the session has run."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    empty = sc._jvm.java.util.ArrayList()
    stage_list = store.stageList(empty, False, False, sc._gateway.new_array(sc._jvm.double, 0), empty)
    stages: dict[int, tuple[float, int, int]] = {}
    for i in range(stage_list.size()):
        s = stage_list.apply(i)
        sid = s.stageId()
        run_s = s.executorRunTime() / 1000.0
        shuffle = s.shuffleReadBytes() + s.shuffleWriteBytes()
        spill = s.memoryBytesSpilled() + s.diskBytesSpilled()
        prev = stages.get(sid, (0.0, 0, 0))  # retried attempts add up
        stages[sid] = (prev[0] + run_s, prev[1] + shuffle, prev[2] + spill)
    job_list = store.jobsList(empty)
    jobs = []
    for i in range(job_list.size()):
        j = job_list.apply(i)
        grp = j.jobGroup()
        ids = j.stageIds()
        jobs.append(
            (j.jobId(), grp.get() if grp.isDefined() else None, [ids.apply(k) for k in range(ids.size())])
        )
    out: dict[str | None, Counters] = {}
    charged: set[int] = set()
    for _, grp, stage_ids in sorted(jobs):
        c = out.setdefault(grp, Counters())
        c.jobs += 1
        for sid in stage_ids:
            if sid in charged or sid not in stages:
                continue
            charged.add(sid)
            run_s, shuffle, spill = stages[sid]
            c.task_s += run_s
            c.shuffle_bytes += shuffle
            c.spill_bytes += spill
    return out


def tree_cpu_s() -> float:
    """CPU seconds (user + system, plus reaped children) of this process and
    every live descendant: the driver Python, the gateway JVM, the Python
    worker daemon and its workers. Unlike wall time it does not count the
    time a virtual machine's host gives to other machines (steal)."""
    root = os.getpid()
    parent: dict[int, int] = {}
    ticks: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # exited while the table was read
            continue
        pid = int(entry)
        parent[pid] = int(fields[1])
        ticks[pid] = sum(int(f) for f in fields[11:15])  # utime stime cutime cstime
    total = 0
    for pid, t in ticks.items():
        p = pid
        while p > 1 and p != root:
            p = parent.get(p, 0)
        if p == root:
            total += t
    return total / os.sysconf("SC_CLK_TCK")


class Recorder:
    """In-memory span tree. ``span(name)`` is a context manager; spans nest
    and the innermost one owns the Spark jobs started inside it."""

    def __init__(self, spark=None):
        self.spark = spark
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        #: time spent opening and closing spans (the tracing overhead)
        self.overhead_s = 0.0

    def attach(self, spark) -> None:
        self.spark = spark

    def _set_group(self, group: str | None) -> None:
        if self.spark is not None:
            self.spark.sparkContext.setLocalProperty(_GROUP_KEY, group)

    @contextmanager
    def span(self, name: str, note: str | None = None):
        t_open = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            name=name,
            parent=parent.name if parent else None,
            # before attach() (the session span) jobs carry no group
            group=f"span-{len(self.spans)}" if self.spark is not None else None,
            start=t_open,
            note=note,
        )
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp.group)
        sp.start = time.perf_counter()
        self.overhead_s += sp.start - t_open
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1].group if self._stack else None)
            self.overhead_s += time.perf_counter() - sp.end

    def counters(self) -> dict[str | None, Counters]:
        """Counters per span (own jobs only, not its children's)."""
        by_group = read_status(self.spark) if self.spark is not None else {}
        return {sp.group: by_group.get(sp.group, Counters()) for sp in self.spans}

    def to_json(self, t0: float) -> list[dict]:
        counters = self.counters()
        out = []
        for sp in self.spans:
            c = counters[sp.group]
            rec = {
                "name": sp.name,
                "parent": sp.parent,
                "start_s": sp.start - t0,
                "end_s": (sp.end or sp.start) - t0,
                "jobs": c.jobs,
                "task_s": c.task_s,
                "shuffle_bytes": c.shuffle_bytes,
                "spill_bytes": c.spill_bytes,
            }
            if sp.note:
                rec["note"] = sp.note
            rec.update(sp.attrs)
            out.append(rec)
        return out
