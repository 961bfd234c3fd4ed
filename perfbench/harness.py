"""Op runner, span tracer and Spark status-store counters.

Every benchmark operation goes through :meth:`Harness.op`, which times
the call, runs its output check outside the timed region and counts
attempted and failed operations. With tracing on, the op's Spark jobs
run under a job group named after the op, spans are recorded around
the layer calls inside it, and the op's jobs are read back from the
status store as soon as it ends (the store keeps only the most recent
``spark.ui.retainedJobs`` / ``retainedStages`` entries).
"""

from __future__ import annotations

import sys
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass, field

from stats import covered, self_time


class CheckFailed(AssertionError):
    pass


def require(cond: bool, msg: str) -> None:
    if not cond:
        raise CheckFailed(msg)


@dataclass
class Span:
    name: str
    start: float  # epoch seconds, comparable with Spark's stage times
    end: float
    parent: int | None
    op: str | None


@dataclass
class OpRecord:
    kind: str
    role: str  # "read" or "write"
    pass_no: int  # < 0 for warm-up passes
    wall: float
    ok: bool
    spark: dict | None = None  # status-store counters (traced runs)
    span_ids: list[int] = field(default_factory=list)


class Tracer:
    """Spans kept in memory until the run ends; a disabled tracer
    records nothing and costs one branch per span."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.op: str | None = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.time(), 0.0, parent, self.op))
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[sid].end = time.time()


class SparkCounters:
    """Reads one job group's jobs and stages from the driver's status
    store (works with ``spark.ui.enabled=false``)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()

    @staticmethod
    def _ms(opt) -> float | None:
        return opt.get().getTime() / 1000.0 if opt.isDefined() else None

    def read(self, groups: list[str], start: float, end: float) -> dict:
        job_ids = [j for g in groups for j in self.sc.statusTracker().getJobIdsForGroup(g)]
        stage_ids: set[int] = set()
        for j in job_ids:
            seq = self.store.job(j).stageIds()
            stage_ids.update(seq.apply(i) for i in range(seq.size()))
        out = {
            "jobs": len(job_ids), "tasks": 0, "failed_tasks": 0,
            "run_s": 0.0, "cpu_s": 0.0, "shuffle_bytes": 0,
        }
        intervals = []
        for sid in sorted(stage_ids):
            sd = self.store.lastStageAttempt(sid)
            if sd.status().toString() == "SKIPPED":
                continue
            out["tasks"] += sd.numCompleteTasks()
            out["failed_tasks"] += sd.numFailedTasks()
            out["run_s"] += sd.executorRunTime() / 1000.0
            out["cpu_s"] += sd.executorCpuTime() / 1e9
            out["shuffle_bytes"] += sd.shuffleWriteBytes()
            lo, hi = self._ms(sd.submissionTime()), self._ms(sd.completionTime())
            if lo is not None and hi is not None:
                intervals.append((lo, hi))
        out["covered_s"] = covered(start, end, intervals)
        out["driver_only_s"] = self_time(start, end, intervals)
        return out


class Harness:
    """Closed-loop op runner: one client, the next op starts when the
    previous one (and its check) has finished."""

    def __init__(self, spark, trace: bool):
        self.spark = spark
        self.tracer = Tracer(trace)
        self.counters = SparkCounters(spark) if trace else None
        self.records: list[OpRecord] = []
        self.pass_no = -1
        self.kind: str | None = None  # the op running or being checked
        self.attempted = 0
        self.failed = 0
        self._groups: list[str] = []

    def span(self, name: str):
        return self.tracer.span(name)

    def also_count_group(self, group: str) -> None:
        """Attribute a second job group (a streaming query's run id)
        to the running op."""
        self._groups.append(group)

    def op(self, kind: str, role: str, fn, check=None):
        """Run ``fn()`` as one timed op; ``check(result)`` runs untimed
        and fails the op by raising. Returns the result (None on
        failure)."""
        op_id = f"{kind}#{len(self.records)}"
        self.kind = kind
        self.attempted += 1
        self._groups = [op_id]
        tracing = self.counters is not None
        n_spans = len(self.tracer.spans)
        if tracing:
            sc = self.spark.sparkContext
            sc.setJobGroup(op_id, kind)
            self.tracer.op = op_id
        ok, out = True, None
        w0, t0 = time.time(), time.perf_counter()
        try:
            with self.tracer.span(kind):
                out = fn()
        except Exception:
            ok = False
            traceback.print_exc(file=sys.stderr)
        wall = time.perf_counter() - t0
        w1 = w0 + wall
        if tracing:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            self.tracer.op = None
        if ok and check is not None:
            try:
                check(out)
            except Exception as exc:
                ok = False
                print(f"check failed: {kind} (pass {self.pass_no}): {exc}", file=sys.stderr)
        self.kind = None
        rec = OpRecord(kind, role, self.pass_no, wall, ok)
        if tracing:
            rec.spark = self.counters.read(self._groups, w0, w1)
            rec.span_ids = list(range(n_spans, len(self.tracer.spans)))
        self.records.append(rec)
        if not ok:
            self.failed += 1
        return out if ok else None

    def timed(self) -> list[OpRecord]:
        return [r for r in self.records if r.pass_no >= 0]

    def pass_walls(self, warmup: bool = False) -> dict[int, float]:
        """Summed op wall time per pass (timed passes unless ``warmup``)."""
        out: dict[int, float] = {}
        for r in self.records if warmup else self.timed():
            out[r.pass_no] = out.get(r.pass_no, 0.0) + r.wall
        return out
