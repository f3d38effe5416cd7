"""Spans around calls into the program's layers, with Spark's own counts.

The tracer works from outside the program: for a traced pass it replaces
public functions on their modules (and on every module that imported them
by name) with wrappers that open a span, and it puts the originals back
afterwards. Each span runs under its own Spark job group, so the jobs a
span fires itself, not those of its child spans, are found by group in
Spark's status store. That store is filled by the status listener whether
or not the UI runs. Spans stay in memory; ``resolve`` reads their counts
once, when the run ends.
"""

from __future__ import annotations

import functools
import sys
import time
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from dataclasses import dataclass, field

# per-span counts; all but the first three are summed into ``spark.<name>``
COUNTERS = ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
            "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes", "tasks_failed")


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    group: str
    start: float
    start_ms: float  # wall clock, to compare with Spark's job submission times
    attrs: dict
    end: float = 0.0
    self_s: float = 0.0  # duration less the part its child spans cover
    counts: dict = field(default_factory=dict)
    first_job_ms: float | None = None

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records nested spans; each span is one Spark job group."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, **attrs) -> Iterator[Span]:
        parent = self._stack[-1] if self._stack else None
        if parent is not None:
            attrs = {**self.spans[parent].attrs, **attrs}
        s = Span(len(self.spans), name, parent, f"perfbench-{len(self.spans)}",
                 time.perf_counter(), time.time() * 1000.0, attrs)
        self.spans.append(s)
        self._stack.append(s.id)
        self.sc.setJobGroup(s.group, name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                self.sc.setJobGroup(self.spans[parent].group, self.spans[parent].name)

    def wrap(self, owner, attr: str, name: str | Callable[..., str],
             attrs: Callable[..., dict] | None = None) -> None:
        """Trace calls of ``owner.attr`` (a module function or a class
        method) until ``unwrap_all``. ``name`` and ``attrs`` may be
        functions of the call's arguments."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            label = name(*args, **kwargs) if callable(name) else name
            extra = attrs(*args, **kwargs) if attrs else {}
            with self.span(label, **extra):
                return orig(*args, **kwargs)

        owners = [owner]
        if isinstance(owner, type(sys)):
            owners += [m for key, m in list(sys.modules.items())
                       if key.startswith("cocktailsdb_spark") and m is not owner
                       and getattr(m, attr, None) is orig]
        for o in owners:
            setattr(o, attr, traced)
            self._patches.append((o, attr, orig))

    def unwrap_all(self) -> None:
        while self._patches:
            o, attr, orig = self._patches.pop()
            setattr(o, attr, orig)

    def resolve(self) -> None:
        """Work out self times, and read every span's job, stage and task
        counts from the status store once the listener has caught up."""
        for s in self.spans:
            s.self_s = s.duration
        for s in self.spans:
            if s.parent is not None:
                self.spans[s.parent].self_s -= s.duration
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        for s in self.spans:
            c = dict.fromkeys(COUNTERS, 0)
            submits = []
            for job_id in tracker.getJobIdsForGroup(s.group):
                job = store.job(job_id)
                c["jobs"] += 1
                if job.submissionTime().isDefined():
                    submits.append(job.submissionTime().get().getTime())
                for stage_id in tracker.getJobInfo(job_id).stageIds:
                    st = store.lastStageAttempt(stage_id)
                    if st.status().toString() == "SKIPPED":
                        continue
                    c["stages"] += 1
                    c["tasks"] += st.numTasks()
                    c["executor_run_s"] += st.executorRunTime() / 1e3
                    c["executor_cpu_s"] += st.executorCpuTime() / 1e9
                    c["gc_s"] += st.jvmGcTime() / 1e3
                    c["input_bytes"] += st.inputBytes()
                    c["shuffle_read_bytes"] += st.shuffleReadBytes()
                    c["shuffle_write_bytes"] += st.shuffleWriteBytes()
                    c["tasks_failed"] += st.numFailedTasks()
            s.counts = c
            s.first_job_ms = min(submits) if submits else None

    def dump(self) -> list[dict]:
        return [{"id": s.id, "name": s.name, "parent": s.parent,
                 "start_s": s.start, "duration_s": s.duration, "self_s": s.self_s,
                 "attrs": s.attrs, "first_job_ms": s.first_job_ms, **s.counts}
                for s in self.spans]


def layer_metrics(spans: list[Span], names, pass_no: int, pass_s: float,
                  cores: int) -> dict:
    """The per-layer metrics ``names`` for one traced pass. A span named ``<layer>``
    adds its self time to ``<layer>_s`` and its own jobs, stages and tasks
    to ``<layer>_jobs``/``_stages``/``_tasks`` where such metrics exist;
    every span adds its Spark work to the ``spark.*`` totals."""
    m = dict.fromkeys(names, 0.0)
    for s in spans:
        if s.attrs.get("pass_no") != pass_no:
            continue
        for suffix, value in (("_s", s.self_s), ("_jobs", s.counts["jobs"]),
                              ("_stages", s.counts["stages"]),
                              ("_tasks", s.counts["tasks"])):
            if s.name + suffix in m:
                m[s.name + suffix] += value
        for key in COUNTERS[3:]:
            m["spark." + key] += s.counts[key]
        if s.name == "spark.exec" and s.first_job_ms is not None:
            m["spark.plan_s"] += max(0.0, s.first_job_ms - s.start_ms) / 1e3
        if s.name == "sources.http_source.fetch":
            m["sources.http_source.keys"] += s.attrs["keys"]
    m["spark.slot_util"] = m["spark.executor_run_s"] / (pass_s * cores)
    return m
