"""Spans and per-layer Spark metrics, measured from outside the program.

Each call into a layer is bracketed by :meth:`Tracer.span`, which tags
every Spark job the call starts with ``sc.setJobGroup(<span id>)``. After
a pass, :meth:`Tracer.harvest` reads the jobs of those groups back from
the application status store (``sc.statusTracker()``'s backing
``AppStatusStore``, populated even with ``spark.ui.enabled=false``) and
turns them into the per-layer metrics below. Reading the store happens
outside the timed region of the pass.
"""

from __future__ import annotations

import json
import os
import statistics
import time
import uuid
from contextlib import contextmanager
from dataclasses import dataclass, field

#: layer boundaries, each reached through one call site in workloads.py
BOUNDARIES = (
    "medline",
    "sentences",
    "ner",
    "conceptfilters",
    "cooccurrence.counts",
    "cooccurrence.metrics",
    "cooccurrence.idf",
    "fused",
    "dedup_index.update",
    "dedup_index.reconcile",
    "dedup_index.keep_best",
)

#: the 11 metrics every boundary records, with their units
LAYER_METRICS = {
    "wall_s": "s",
    "plan_s": "s",
    "jobs": "count",
    "task_run_s": "s",
    "task_wait_s": "s",
    "shuffle_mb": "MB",
    "spill_mb": "MB",
    "task_skew": "ratio",
    "rows_out": "count",
    "written_mb": "MB",
    "failed_tasks": "count",
}

#: metrics outside the boundary x metric grid
EXTRA_METRICS = {
    "session.wall_s": "s",
    "conceptfilters.kept_ratio": "ratio",
    "dedup.verify_yield": "ratio",
    "trace.overhead_s": "s",
    "trace.uncovered_share": "ratio",
}

MB = 1024.0 * 1024.0


def per_layer_names() -> dict[str, str]:
    """Every per-layer metric name -> unit, in a stable order."""
    out = {f"{b}.{m}": u for b in BOUNDARIES for m, u in LAYER_METRICS.items()}
    out.update(EXTRA_METRICS)
    return out


def dir_bytes(path: str) -> int:
    """Total size of the regular files under ``path`` (0 if absent)."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            if not os.path.islink(p):
                total += os.path.getsize(p)
    return total


@dataclass
class Span:
    run_id: str
    span_id: str
    parent_id: str | None
    name: str
    start: float
    end: float = 0.0
    #: bytes under the watched directory before / after the call
    bytes_before: int = 0
    bytes_after: int = 0


@dataclass
class Tracer:
    """Spans of one benchmark run, kept in memory until :meth:`write`.

    With ``enabled=False`` :meth:`span` is a no-op context, so the
    untraced passes that give the end-to-end metrics run the very same
    code without job groups, directory scans or status-store reads."""

    spark: object | None = None
    enabled: bool = True
    run_id: str = field(default_factory=lambda: uuid.uuid4().hex[:12])
    spans: list[Span] = field(default_factory=list)
    _stack: list[Span] = field(default_factory=list)

    @contextmanager
    def span(self, name: str, watch: str | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1].span_id if self._stack else None
        sp = Span(self.run_id, f"{name}#{len(self.spans)}", parent, name, 0.0)
        self.spans.append(sp)
        self._stack.append(sp)
        sc = self.spark.sparkContext if self.spark is not None else None
        if watch:
            sp.bytes_before = dir_bytes(watch)
        if sc is not None:
            sc.setJobGroup(sp.span_id, name)
        sp.start = time.time()
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            if sc is not None:
                if self._stack:
                    sc.setJobGroup(self._stack[-1].span_id, self._stack[-1].name)
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)
            if watch:
                sp.bytes_after = dir_bytes(watch)

    def children(self, parent: Span) -> list[Span]:
        return [s for s in self.spans if s.parent_id == parent.span_id]

    def harvest(self, spark, pass_span: Span) -> dict[str, float]:
        """Per-layer metrics of one traced pass: every boundary span under
        ``pass_span`` (summed when a boundary is called more than once,
        as the index update is once per batch)."""
        groups: dict[str, list[Span]] = {}
        for sp in self.children(pass_span):
            if sp.name in BOUNDARIES:
                groups.setdefault(sp.name, []).append(sp)
        jobs = _jobs_by_group(spark)
        out: dict[str, float] = {}
        for name, spans in groups.items():
            ids = set()
            for sp in spans:
                ids |= _descendant_ids(self.spans, sp)
            out.update(_boundary_metrics(spark, name, spans, [j for g in ids for j in jobs.get(g, [])]))
        return out

    def uncovered_share(self, pass_span: Span) -> float:
        """Share of the pass's wall time no boundary span covers."""
        wall = pass_span.end - pass_span.start
        covered = _union_length([(s.start, s.end) for s in self.children(pass_span)])
        return max(0.0, 1.0 - covered / wall) if wall > 0 else 0.0

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump(
                {
                    "run_id": self.run_id,
                    "spans": [
                        {
                            "run_id": s.run_id,
                            "span_id": s.span_id,
                            "parent_id": s.parent_id,
                            "name": s.name,
                            "start": s.start,
                            "end": s.end,
                        }
                        for s in self.spans
                    ],
                    **extra,
                },
                f,
                indent=1,
            )


def _descendant_ids(spans: list[Span], root: Span) -> set[str]:
    ids = {root.span_id}
    for s in spans:  # spans are recorded parent-first
        if s.parent_id in ids:
            ids.add(s.span_id)
    return ids


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _opt(o):
    return o.get() if o.isDefined() else None


def _jobs_by_group(spark) -> dict[str, list]:
    store = spark.sparkContext._jsc.sc().statusStore()
    jobs = store.jobsList(None)
    out: dict[str, list] = {}
    for i in range(jobs.size()):
        j = jobs.apply(i)
        g = _opt(j.jobGroup())
        if g is not None:
            out.setdefault(g, []).append(j)
    return out


def _boundary_metrics(spark, name: str, spans: list[Span], jobs: list) -> dict[str, float]:
    store = spark.sparkContext._jsc.sc().statusStore()
    wall = sum(s.end - s.start for s in spans)
    job_iv = []
    stage_ids: set[int] = set()
    for j in jobs:
        sub, done = _opt(j.submissionTime()), _opt(j.completionTime())
        if sub is not None and done is not None:
            job_iv.append((sub.getTime() / 1000.0, done.getTime() / 1000.0))
        ids = j.stageIds()
        stage_ids.update(ids.apply(k) for k in range(ids.size()))
    run_ms = wait_ms = 0
    shuffle_b = spill_b = rows = failed = 0
    biggest = (-1, None)  # (shuffle bytes, stage)
    for sid in sorted(stage_ids):
        st = store.lastStageAttempt(sid)
        if st.status().toString() == "SKIPPED":
            continue
        run_ms += st.executorRunTime()
        wait_ms += st.shuffleFetchWaitTime()
        shuffle_b += st.shuffleWriteBytes()
        spill_b += st.memoryBytesSpilled() + st.diskBytesSpilled()
        rows += st.outputRecords()
        failed += st.numFailedTasks()
        tasks = store.taskList(sid, st.attemptId(), 1 << 30)
        for t in range(tasks.size()):
            wait_ms += tasks.apply(t).schedulerDelay()
        moved = st.shuffleWriteBytes() + st.shuffleReadBytes()
        if moved > biggest[0]:
            biggest = (moved, st)
    skew = 0.0
    if biggest[1] is not None:
        st = biggest[1]
        tasks = store.taskList(st.stageId(), st.attemptId(), 1 << 30)
        runs = []
        for t in range(tasks.size()):
            m = _opt(tasks.apply(t).taskMetrics())
            if m is not None:
                runs.append(m.executorRunTime())
        if runs:
            skew = max(runs) / max(statistics.median(runs), 1.0)
    span_iv = [(s.start, s.end) for s in spans]
    in_jobs = _union_length(
        [
            (max(a, s), min(b, e))
            for a, b in job_iv
            for s, e in span_iv
            if min(b, e) > max(a, s)
        ]
    )
    return {
        f"{name}.wall_s": wall,
        f"{name}.plan_s": max(0.0, wall - in_jobs),
        f"{name}.jobs": float(len(jobs)),
        f"{name}.task_run_s": run_ms / 1000.0,
        f"{name}.task_wait_s": wait_ms / 1000.0,
        f"{name}.shuffle_mb": shuffle_b / MB,
        f"{name}.spill_mb": spill_b / MB,
        f"{name}.task_skew": skew,
        f"{name}.rows_out": float(rows),
        f"{name}.written_mb": sum(s.bytes_after - s.bytes_before for s in spans) / MB,
        f"{name}.failed_tasks": float(failed),
    }
