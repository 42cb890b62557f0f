"""Spans around the benchmark's calls into the engine, and Spark's own
per-job counters read back from the status store.

A :class:`Tracer` always times its spans (the untraced run needs the
per-operation walls for its percentiles). With ``jobs=True`` it also tags
every span with its own Spark job group, so :func:`read_jobs` can hand each
job, and the counters of its stages, to the operation that caused it. Jobs
that run on threads the benchmark does not own (the Thrift server's
statement pool sets its own group) are attributed by time: to the innermost
span whose interval holds the job's submission.

The status store is the one the Spark UI reads; it is populated with the UI
disabled, and :func:`read_jobs` drains the listener bus before reading, so
every job that has ended is in it.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field

GROUP_PREFIX = "perfbench-"
COUNTERS = (
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "input_bytes",
    "output_bytes",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
)


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    t0: float  # perf_counter seconds
    epoch0: float  # wall-clock seconds, comparable with the JVM's clock
    t1: float = 0.0
    epoch1: float = 0.0
    counts: dict[str, float] = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.t1 - self.t0


@dataclass
class JobStat:
    job_id: int
    group: str | None
    start: float  # epoch seconds
    end: float
    stages: int = 0
    counters: dict[str, float] = field(default_factory=lambda: dict.fromkeys(COUNTERS, 0.0))


class Tracer:
    def __init__(self, jobs: bool = False):
        self.jobs = jobs
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._sc = None

    def bind(self, spark) -> None:
        """Attach to the (re)started session whose jobs the spans tag."""
        self._sc = spark.sparkContext

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.id if parent else None, time.perf_counter(), time.time())
        self.spans.append(s)
        self._stack.append(s)
        tag = self.jobs and self._sc is not None
        if tag:
            self._sc.setJobGroup(f"{GROUP_PREFIX}{s.id}", name)
        try:
            yield s
        finally:
            s.t1, s.epoch1 = time.perf_counter(), time.time()
            self._stack.pop()
            if tag:
                if parent is not None:
                    self._sc.setJobGroup(f"{GROUP_PREFIX}{parent.id}", parent.name)
                else:
                    self._sc.setLocalProperty("spark.jobGroup.id", None)

    def named(self, prefix: str) -> list[Span]:
        return [s for s in self.spans if s.name == prefix or s.name.startswith(prefix + ":")]

    def self_seconds(self, span: Span) -> float:
        """The span's duration minus the part its direct children cover
        (children of one span run one after another)."""
        return span.seconds - sum(c.seconds for c in self.spans if c.parent == span.id)

    def attribute(self, jobs: list[JobStat]) -> dict[int, list[JobStat]]:
        """Map span id -> the jobs it caused (its own group, else by time)."""
        out: dict[int, list[JobStat]] = {}
        for j in jobs:
            sid = None
            if j.group and j.group.startswith(GROUP_PREFIX):
                sid = int(j.group[len(GROUP_PREFIX) :])
            else:
                holders = [s for s in self.spans if s.epoch0 <= j.start <= s.epoch1]
                if holders:
                    sid = max(holders, key=lambda s: s.epoch0).id  # innermost
            if sid is not None:
                out.setdefault(sid, []).append(j)
        return out

    def jobs_under(self, span: Span, by_span: dict[int, list[JobStat]]) -> list[JobStat]:
        """Jobs of ``span`` and of every span nested in it."""
        ids = {span.id}
        for s in self.spans[span.id + 1 :]:
            if s.parent in ids:
                ids.add(s.id)
        return [j for sid in ids for j in by_span.get(sid, [])]

    def to_json(self) -> list[dict]:
        return [
            {"id": s.id, "name": s.name, "parent": s.parent, "start_s": s.t0, "seconds": s.seconds, **s.counts}
            for s in self.spans
        ]


def _opt(o):
    return o.get() if o.isDefined() else None


def read_jobs(spark) -> list[JobStat]:
    """Every job in the status store, with its stages' counters summed.
    Skipped stages (shuffle output reused from an earlier job) count
    neither as stages nor as work."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    out = []
    seq = store.jobsList(None)
    for k in range(seq.size()):
        j = seq.apply(k)
        sub, end = _opt(j.submissionTime()), _opt(j.completionTime())
        if sub is None or end is None:
            continue
        stat = JobStat(j.jobId(), _opt(j.jobGroup()), sub.getTime() / 1e3, end.getTime() / 1e3)
        ids = j.stageIds()
        for i in range(ids.size()):
            try:
                st = store.lastStageAttempt(ids.apply(i))
            except Exception:  # a stage the store has already evicted
                continue
            if st.status().toString() == "SKIPPED":
                continue
            c = stat.counters
            stat.stages += 1
            c["tasks"] += st.numCompleteTasks()
            c["executor_run_s"] += st.executorRunTime() / 1e3
            c["executor_cpu_s"] += st.executorCpuTime() / 1e9
            c["gc_s"] += st.jvmGcTime() / 1e3
            c["input_bytes"] += st.inputBytes()
            c["output_bytes"] += st.outputBytes()
            c["shuffle_read_bytes"] += st.shuffleReadBytes()
            c["shuffle_write_bytes"] += st.shuffleWriteBytes()
            c["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        out.append(stat)
    return out


def job_totals(jobs: list[JobStat]) -> dict[str, float]:
    tot = dict.fromkeys(COUNTERS, 0.0)
    for j in jobs:
        for k, v in j.counters.items():
            tot[k] += v
    tot["jobs"] = float(len(jobs))
    tot["stages"] = float(sum(j.stages for j in jobs))
    return tot


def busy_seconds(jobs: list[JobStat], start: float, end: float) -> float:
    """Wall time inside [start, end] during which at least one job ran."""
    iv = sorted((max(j.start, start), min(j.end, end)) for j in jobs if j.end > start and j.start < end)
    busy, cur_s, cur_e = 0.0, None, None
    for s, e in iv:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                busy += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        busy += cur_e - cur_s
    return busy
