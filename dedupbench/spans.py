"""In-memory span tracer with per-span Spark counters.

Each span runs its Spark actions under its own job group; when the run
ends, ``resolve`` reads the group's jobs from the status tracker and sums
their stages' metrics from the application status store (which is kept
even with the Spark UI disabled).  Spans nest: a span's self time is its
wall time minus the wall time of its direct children.

``Tracer.layers`` puts spans at the engine's layer boundaries without
copying any plan: it wraps the module attributes the plans call, so the
plan itself runs and each wrapped call's output is forced inside its span.
"""

from __future__ import annotations

import time
from contextlib import ExitStack, contextmanager
from dataclasses import dataclass, field
from unittest import mock


@dataclass
class Span:
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    group: str | None = None
    jobs: int = 0
    task_s: float = 0.0
    cpu_s: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    children_s: float = 0.0

    @property
    def wall_s(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.wall_s - self.children_s

    def idle_share(self, cores: int) -> float:
        if self.wall_s <= 0:
            return 0.0
        return 1.0 - self.task_s / (self.wall_s * cores)


@dataclass
class Tracer:
    """Records spans when ``enabled``; otherwise ``span`` is a no-op."""

    enabled: bool
    cores: int
    spark: object = None
    spans: list[Span] = field(default_factory=list)
    # span name -> (persisted output, rows) of the last wrapped call
    outputs: dict = field(default_factory=dict)
    _stack: list[int] = field(default_factory=list)

    def record(self, name: str, start: float, end: float) -> None:
        """Add a finished span that ran before Spark existed."""
        if self.enabled:
            self.spans.append(Span(name, None, start, end))

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sc = self.spark.sparkContext
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, parent, time.perf_counter(), group=f"dedupbench-{idx}")
        self.spans.append(sp)
        self._stack.append(idx)
        sc.setJobGroup(sp.group, name)
        try:
            yield
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.spans[parent].children_s += sp.wall_s
                sc.setJobGroup(self.spans[parent].group, self.spans[parent].name)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)

    def forced(self, name: str, df, keep: list):
        """Persist ``df`` and count it inside span ``name``; the persisted
        frame is added to ``keep`` for the caller to release."""
        with self.span(name):
            return self._force(name, df, keep)

    def _force(self, name: str, df, keep: list):
        from pyspark import StorageLevel

        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        keep.append(df)
        self.outputs[name] = (df, df.count())
        return df

    @contextmanager
    def layers(self, targets, keep: list):
        """While the block runs, replace each ``(owner, attr, name,
        input_name)`` of ``targets``: a call of ``owner.attr`` runs inside
        span ``name`` and its output DataFrame is forced there.  With an
        ``input_name``, the call's first argument, a step the plan built
        inline, is forced first in a span of that name."""

        def wrap(fn, name, input_name):
            def call(*args, **kwargs):
                if input_name is not None:
                    args = (self.forced(input_name, args[0], keep),) + args[1:]
                with self.span(name):
                    return self._force(name, fn(*args, **kwargs), keep)
            return call

        with ExitStack() as stack:
            for owner, attr, name, input_name in targets:
                stack.enter_context(mock.patch.object(
                    owner, attr, wrap(getattr(owner, attr), name, input_name)))
            yield

    def resolve(self) -> None:
        """Fill each span's Spark counters from its job group."""
        if not self.enabled or self.spark is None:
            return
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        gw = sc._gateway
        tracker = sc.statusTracker()
        for sp in self.spans:
            if sp.group is None:
                continue
            jobs = tracker.getJobIdsForGroup(sp.group)
            stages: set[int] = set()
            for j in jobs:
                info = tracker.getJobInfo(j)
                if info is not None:
                    stages.update(int(s) for s in info.stageIds)
            sp.jobs = len(jobs)
            run_ms = cpu_ns = shuffle = spill = 0
            for s in stages:
                attempts = store.stageData(
                    s, False, gw.jvm.java.util.ArrayList(), False,
                    gw.new_array(gw.jvm.double, 0),
                )
                for i in range(attempts.size()):
                    d = attempts.apply(i)
                    run_ms += d.executorRunTime()
                    cpu_ns += d.executorCpuTime()
                    shuffle += d.shuffleWriteBytes()
                    spill += d.diskBytesSpilled()
            sp.task_s = run_ms / 1e3
            sp.cpu_s = cpu_ns / 1e9
            sp.shuffle_write_mb = shuffle / 2**20
            sp.spill_mb = spill / 2**20

    def by_name(self) -> dict[str, list[Span]]:
        out: dict[str, list[Span]] = {}
        for sp in self.spans:
            out.setdefault(sp.name, []).append(sp)
        return out

    def dump(self) -> list[dict]:
        t0 = min((s.start for s in self.spans), default=0.0)
        return [
            {
                "id": i, "name": s.name, "parent": s.parent,
                "start_s": round(s.start - t0, 6), "end_s": round(s.end - t0, 6),
                "self_s": round(s.self_s, 6), "jobs": s.jobs,
                "task_s": s.task_s, "cpu_s": s.cpu_s,
                "shuffle_write_mb": s.shuffle_write_mb, "spill_mb": s.spill_mb,
                "idle_share": s.idle_share(self.cores),
            }
            for i, s in enumerate(self.spans)
        ]
