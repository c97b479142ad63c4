"""Spans around the benchmark's calls into the program's layers.

The tracer wraps public functions of the program's modules (by
replacing the module attribute, so calls the program makes between its
own modules are seen too) and records a span per call: name, start,
end, parent span and op id. Each span also runs its Spark jobs under a
job group of its own, so the jobs, tasks and executor time that the
engine's status store records can be attributed to the span that
launched them.

Lazy calls only build plans. A span that wraps one can ``force`` it:
the returned frame is materialised with ``localCheckpoint`` inside the
span, so the span holds that layer's compute and the layers after it
start from the materialised rows. That extra materialisation is part
of the tracing overhead the trace report gives.

Spans stay in memory and are written out once, when the run ends.
"""

from __future__ import annotations

import functools
import json
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import DataFrame


@dataclass
class Span:
    id: int
    name: str
    op: int
    parent: int | None
    start: float
    wall_start: float
    end: float = 0.0
    counts: dict = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"perfbench-span-{self.id}"


class Tracer:
    """Collects spans of the ops run under ``op``; on any other op (or
    thread) ``span`` and the wrappers cost one thread-local check."""

    def __init__(self, spark, cores: int):
        self.spark = spark
        self.cores = cores
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []

    # -- spans -------------------------------------------------------------

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def active(self) -> bool:
        return getattr(self._local, "op", None) is not None

    @contextmanager
    def op(self, i: int):
        """Trace op ``i`` on this thread, under a root span ``op``."""
        self._local.op = i
        try:
            with self.span("op") as sp:
                yield sp
        finally:
            self._local.op = None

    def add_job_group(self, group: str) -> None:
        """Attribute the jobs of another job group (a streaming query
        runs its batches under its own) to the current span."""
        stack = self._stack()
        if self.active() and stack:
            stack[-1].counts.setdefault("job_groups", []).append(group)

    @contextmanager
    def span(self, name: str):
        if not self.active():
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        with self._lock:
            sp = Span(
                id=len(self.spans),
                name=name,
                op=self._local.op,
                parent=parent.id if parent else None,
                start=time.perf_counter(),
                wall_start=time.time(),
            )
            self.spans.append(sp)
        sc = self.spark.sparkContext
        sc.setLocalProperty("spark.jobGroup.id", sp.group)
        stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            sc.setLocalProperty(
                "spark.jobGroup.id", stack[-1].group if stack else None
            )

    def wrap(
        self, owner, attr: str, name: str, force: bool = False, count=None
    ) -> None:
        """Replace ``owner.attr`` (a module function or a class method)
        with a traced twin until ``unwrap``. ``count(result)`` may
        return counts to record on the span."""
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(name) as sp:
                out = fn(*args, **kwargs)
                if sp is not None:
                    if force and isinstance(out, DataFrame):
                        out = out.localCheckpoint(eager=True)
                    if count is not None:
                        sp.counts.update(count(out))
                return out

        self._patched.append((owner, attr, fn))
        setattr(owner, attr, traced)

    def unwrap(self) -> None:
        for owner, attr, fn in reversed(self._patched):
            setattr(owner, attr, fn)
        self._patched.clear()

    # -- engine counters ---------------------------------------------------

    def harvest(self, spans: list[Span]) -> None:
        """Attach the status store's job and stage totals to each span:
        jobs, tasks, executor run / GC time, shuffle write, spill,
        input bytes, listing jobs and the first job's submission time."""
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        gw = sc._gateway
        no_status = gw.jvm.java.util.ArrayList()
        no_quantiles = gw.new_array(gw.jvm.double, 0)
        for sp in spans:
            c = dict.fromkeys(
                (
                    "jobs", "tasks", "executor_run_ms", "gc_ms",
                    "shuffle_write_b", "spill_b", "input_b",
                    "listing_jobs_ms", "listing_paths",
                ),
                0,
            )
            first_submit = None
            groups = [sp.group] + sp.counts.get("job_groups", [])
            jobs = [j for g in groups for j in tracker.getJobIdsForGroup(g)]
            for jid in jobs:
                job = store.job(jid)
                c["jobs"] += 1
                sub = job.submissionTime()
                if sub.isDefined():
                    t = sub.get().getTime() / 1000.0
                    first_submit = t if first_submit is None else min(first_submit, t)
                d = job.description()
                desc = d.get() if d.isDefined() else ""
                if desc.startswith("Listing leaf files and directories for"):
                    end = job.completionTime()
                    if sub.isDefined() and end.isDefined():
                        c["listing_jobs_ms"] += (
                            end.get().getTime() - sub.get().getTime()
                        )
                    c["listing_paths"] += int(desc.split()[6])
                ids = job.stageIds()
                for k in range(ids.size()):
                    attempts = store.stageData(
                        ids.apply(k), False, no_status, False, no_quantiles
                    )
                    for a in range(attempts.size()):
                        st = attempts.apply(a)
                        if str(st.status()) != "COMPLETE":
                            continue
                        c["tasks"] += st.numCompleteTasks()
                        c["executor_run_ms"] += st.executorRunTime()
                        c["gc_ms"] += st.jvmGcTime()
                        c["shuffle_write_b"] += st.shuffleWriteBytes()
                        c["spill_b"] += st.diskBytesSpilled()
                        c["input_b"] += st.inputBytes()
            sp.counts.update(c)
            sp.counts["first_job_wall"] = first_submit

    # -- summaries ---------------------------------------------------------

    def self_ms(self, sp: Span, children: dict[int, list[Span]]) -> float:
        covered = sum(ch.end - ch.start for ch in children.get(sp.id, ()))
        return max(0.0, (sp.end - sp.start) - covered) * 1000.0

    def children(self) -> dict[int, list[Span]]:
        out: dict[int, list[Span]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                out.setdefault(sp.parent, []).append(sp)
        return out

    def per_op_self(self) -> dict[str, list[float]]:
        """span name -> per-op total self time (ms), over the ops in
        which the span occurs."""
        kids = self.children()
        by: dict[str, dict[int, float]] = {}
        for sp in self.spans:
            by.setdefault(sp.name, {}).setdefault(sp.op, 0.0)
            by[sp.name][sp.op] += self.self_ms(sp, kids)
        return {name: list(ops.values()) for name, ops in by.items()}

    def per_op_counts(self, key: str) -> list[float]:
        """per-op total of one harvested count, over every traced op."""
        ops: dict[int, float] = {}
        for sp in self.spans:
            ops[sp.op] = ops.get(sp.op, 0.0) + sp.counts.get(key, 0)
        return list(ops.values())

    def subtree_counts(self, name: str, key: str) -> list[float]:
        """per-op total of one harvested count over every ``name`` span
        and its descendants, over the ops in which ``name`` occurs."""
        by_id = {sp.id: sp for sp in self.spans}

        def under(sp: Span) -> bool:
            while sp is not None:
                if sp.name == name:
                    return True
                sp = by_id.get(sp.parent) if sp.parent is not None else None
            return False

        ops: dict[int, float] = {}
        for sp in self.spans:
            if under(sp):
                ops[sp.op] = ops.get(sp.op, 0.0) + sp.counts.get(key, 0)
        return list(ops.values())

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for sp in self.spans:
                fh.write(
                    json.dumps(
                        {
                            "id": sp.id,
                            "name": sp.name,
                            "op": sp.op,
                            "parent": sp.parent,
                            "start": sp.start,
                            "end": sp.end,
                            "wall_start": sp.wall_start,
                            "counts": sp.counts,
                        }
                    )
                    + "\n"
                )


def load_spans(path: str) -> list[dict]:
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def median_or_zero(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0
