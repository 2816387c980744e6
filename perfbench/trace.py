"""Spans around the engine's public calls, rebuilt Spark job spans, and the
per-layer metrics computed from them.

The benchmark measures each layer from outside the package: while a traced
operation runs, the engine's public entry points are wrapped with span
recorders (and restored afterwards), and the Spark jobs each call launched
are read back from the driver's status store. Span tree::

    op -> plans.plan_suite | runner.validate | segmented.validate_by_group
          | checkpoint.run | checkpoint.resume | checkpoint.merge
       -> (nested public calls) -> spark.job

A span owns the jobs whose ids were handed out between its entry and exit
(one client thread submits every job of an operation, so id ranges nest like
the calls). Self time is a span's duration minus the union of its children's
intervals; ``driver_gap_s`` is a call's duration minus the union of the
Spark job intervals inside it (analysis, py4j, collects, finalizers).
"""

from __future__ import annotations

import contextlib
import statistics
import threading
import time
from dataclasses import dataclass, field
from typing import Any

LAYER_CALLS = {
    "runner": "runner.validate",
    "segmented": "segmented.validate_by_group",
}
EXECUTOR_METRICS = (
    "validate_s", "jobs", "stages", "tasks", "tasks_failed", "driver_gap_s",
    "executor_run_s", "input_rows_per_row", "shuffle_write_bytes",
)
#: counts that must repeat exactly across operations and runs
EXACT_COUNTS = tuple(
    f"{layer}.{m}" for layer in LAYER_CALLS for m in ("jobs", "stages", "tasks")
) + ("checkpoint.files_written",)


@dataclass
class Span:
    sid: int
    name: str
    op: int
    parent: int | None
    start: float
    end: float = 0.0
    job_lo: int = 0
    job_hi: int = 0
    attrs: dict[str, Any] = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


@dataclass
class Job:
    job_id: int
    start: float
    end: float
    stages: int
    tasks: int
    tasks_failed: int
    executor_run_s: float
    input_records: int
    shuffle_write_bytes: int


def _covered(lo: float, hi: float, intervals: list[tuple[float, float]]) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class Tracer:
    """Holds spans in memory for one benchmark run; ``dump()`` writes them."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.jobs: dict[int, Job] = {}
        self._stack: list[Span] = []
        self._thread: int | None = None
        self._sc = None

    def bind(self, spark) -> None:
        """Attach to the current session (sessions restart during set-up)."""
        self._sc = spark.sparkContext._jsc.sc()

    def _next_job_id(self) -> int:
        # py4j hands the scheduler's AtomicInteger back as a plain int
        return int(self._sc.dagScheduler().nextJobId())

    @property
    def active(self) -> bool:
        return self._thread == threading.get_ident()

    @contextlib.contextmanager
    def span(self, name: str, **attrs: Any):
        """Record a span; a no-op outside a traced operation or off its thread."""
        if not self.active:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            sid=len(self.spans), name=name,
            op=parent.op if parent else len([s for s in self.spans if s.parent is None]),
            parent=parent.sid if parent else None,
            start=time.time(), job_lo=self._next_job_id(), attrs=dict(attrs),
        )
        self.spans.append(sp)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp.job_hi = self._next_job_id()
            sp.end = time.time()
            self._stack.pop()

    def _wrap(self, fn, name: str, on_result=None):
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name) as sp:
                out = fn(*args, **kwargs)
                if sp is not None and on_result is not None:
                    sp.attrs.update(on_result(out))
                return out

        return traced

    @contextlib.contextmanager
    def operation(self):
        """Trace one operation: wrap the engine's entry points, open the root
        span, and restore the entry points afterwards."""
        from great_expectations_spark import runner, segmented

        patches = [
            (runner, "plan_suite", "plans.plan_suite",
             lambda plan: {"groups": len(plan.groups)}),
            (runner.SuiteRunner, "validate", "runner.validate", None),
            (segmented, "validate_by_group", "segmented.validate_by_group", None),
        ]
        saved = []
        for owner, attr, name, on_result in patches:
            orig = owner.__dict__.get(attr)
            if orig is not None:
                saved.append((owner, attr, orig))
                setattr(owner, attr, self._wrap(orig, name, on_result))
        self._thread = threading.get_ident()
        try:
            with self.span("op") as root:
                yield root
        finally:
            self._thread = None
            for owner, attr, orig in saved:
                setattr(owner, attr, orig)

    # ------------------------------------------------------------ status store
    def collect_jobs(self, root: Span) -> None:
        """Read the jobs of one finished operation back from the status store."""
        self._sc.listenerBus().waitUntilEmpty()
        store = self._sc.statusStore()
        seen_stages: set[int] = set()
        for job_id in range(root.job_lo, root.job_hi):
            jd = store.job(job_id)
            run_ms, input_records, shuffle_bytes = 0, 0, 0
            ids = jd.stageIds()
            for i in range(ids.size()):
                sid = int(ids.apply(i))
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                st = store.lastStageAttempt(sid)
                if st.status().toString() not in ("COMPLETE", "FAILED"):
                    continue
                run_ms += int(st.executorRunTime())
                input_records += int(st.inputRecords())
                shuffle_bytes += int(st.shuffleWriteBytes())
            self.jobs[job_id] = Job(
                job_id=job_id,
                start=jd.submissionTime().get().getTime() / 1000.0,
                end=jd.completionTime().get().getTime() / 1000.0,
                stages=int(jd.numCompletedStages()) + int(jd.numFailedStages()),
                tasks=int(jd.numCompletedTasks()) + int(jd.numFailedTasks())
                + int(jd.numKilledTasks()),
                tasks_failed=int(jd.numFailedTasks()),
                executor_run_s=run_ms / 1000.0,
                input_records=input_records,
                shuffle_write_bytes=shuffle_bytes,
            )

    # ----------------------------------------------------------------- metrics
    def _jobs_in(self, sp: Span) -> list[Job]:
        return [self.jobs[j] for j in range(sp.job_lo, sp.job_hi) if j in self.jobs]

    def driver_gap(self, sp: Span) -> float:
        return sp.dur - _covered(sp.start, sp.end, [(j.start, j.end) for j in self._jobs_in(sp)])

    def self_time(self, sp: Span) -> float:
        children = [(c.start, c.end) for c in self.spans if c.parent == sp.sid]
        owned = {j for c in self.spans if c.parent == sp.sid for j in range(c.job_lo, c.job_hi)}
        children += [(j.start, j.end) for j in self._jobs_in(sp) if j.job_id not in owned]
        return sp.dur - _covered(sp.start, sp.end, children)

    def op_spans(self, root: Span, name: str) -> list[Span]:
        return [s for s in self.spans if s.op == root.op and s.name == name]

    def layer_metrics(self, root: Span, rows: int, extra: dict[str, float]) -> dict[str, float]:
        """Per-layer metrics of one traced operation. ``extra`` carries the
        values the workload measured itself (checkpoint store sizes etc.)."""
        out: dict[str, float] = {}
        plans = self.op_spans(root, "plans.plan_suite")
        out["plans.plan_s"] = sum(s.dur for s in plans)
        out["plans.groups"] = plans[-1].attrs.get("groups", 0) if plans else 0
        for layer, call in LAYER_CALLS.items():
            spans = self.op_spans(root, call)
            jobs = [j for s in spans for j in self._jobs_in(s)]
            out.update({
                f"{layer}.validate_s": sum(s.dur for s in spans),
                f"{layer}.jobs": len(jobs),
                f"{layer}.stages": sum(j.stages for j in jobs),
                f"{layer}.tasks": sum(j.tasks for j in jobs),
                f"{layer}.tasks_failed": sum(j.tasks_failed for j in jobs),
                f"{layer}.driver_gap_s": sum(self.driver_gap(s) for s in spans),
                f"{layer}.executor_run_s": sum(j.executor_run_s for j in jobs),
                f"{layer}.input_rows_per_row": sum(j.input_records for j in jobs) / rows,
                f"{layer}.shuffle_write_bytes": sum(j.shuffle_write_bytes for j in jobs),
            })
        runs = self.op_spans(root, "checkpoint.run")
        resumes = self.op_spans(root, "checkpoint.resume")
        merges = self.op_spans(root, "checkpoint.merge")
        partitions = max(1, int(extra.get("partitions_validated", 1)))
        out["checkpoint.run_s"] = sum(s.dur for s in runs)
        out["checkpoint.jobs_per_partition"] = (
            sum(len(self._jobs_in(s)) for s in runs) / partitions if runs else 0
        )
        out["checkpoint.driver_gap_s"] = sum(self.driver_gap(s) for s in runs)
        out["checkpoint.resume_s"] = sum(s.dur for s in resumes)
        out["checkpoint.merge_s"] = sum(s.dur for s in merges)
        for k in ("partition_s_p50", "files_written", "manifest_bytes", "evr_bytes",
                  "violations_bytes", "store_bytes_per_row", "resume_skipped_frac"):
            out[f"checkpoint.{k}"] = extra.get(k, 0)
        return out

    def dump(self) -> dict[str, Any]:
        def owner(job_id: int) -> Span:
            # ranges nest like the calls, so the latest-opened owner is innermost
            return max((s for s in self.spans if s.job_lo <= job_id < s.job_hi),
                       key=lambda s: s.sid)

        spans = [
            {"id": s.sid, "name": s.name, "op": s.op, "parent": s.parent,
             "start": s.start, "end": s.end, "self_s": self.self_time(s),
             "jobs": [s.job_lo, s.job_hi], **({"attrs": s.attrs} if s.attrs else {})}
            for s in self.spans
        ]
        for j in self.jobs.values():
            parent = owner(j.job_id)
            spans.append({
                "name": "spark.job", "job_id": j.job_id, "op": parent.op,
                "parent": parent.sid, "start": j.start, "end": j.end,
                "self_s": j.end - j.start, "stages": j.stages, "tasks": j.tasks,
            })
        return {"spans": spans}


def median_metrics(per_op: list[dict[str, float]]) -> dict[str, float]:
    return {k: statistics.median(d[k] for d in per_op) for k in per_op[0]} if per_op else {}


def count_drift(per_op: list[dict[str, float]]) -> dict[str, list[float]]:
    """Exact-repeat counts that took more than one value across operations."""
    drift = {}
    for k in EXACT_COUNTS:
        values = sorted({d[k] for d in per_op if k in d})
        if len(values) > 1:
            drift[k] = values
    return drift
