"""Span recorder and Spark status-store reader for the pipeline benchmark.

Every public layer call the benchmark makes goes through
``Recorder.call``. Untraced, that only counts the call (and its failure,
if it raises). Traced, it also:

- opens a span (name, layer, start, end, parent, run id) and sets the
  Spark job group ``<workload>:<layer>`` for the call;
- materializes the layer's output at the boundary
  (``localCheckpoint(eager=True)``), so the work belongs to this layer
  and not to whichever later layer first runs an action on it;
- when the span ends, maps the group's new jobs to their stages in the
  status store and sums executor time, shuffle writes and spill. The
  store keeps only ``spark.ui.retainedStages`` stages, so it is read per
  span, not once at the end;
- counts the output rows outside the span, under the job group
  ``<workload>:trace``, so bookkeeping is charged to no layer.

Spans stay in memory; ``write_sidecar`` writes them out when the run
ends. Self time is a span's duration minus the part its child spans
cover; driver time is self time minus the part the span's own Spark
jobs cover.
"""

from __future__ import annotations

import json
import statistics
import sys
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from typing import Any, Callable, Iterator

LAYERS = (
    "io", "profiling", "normalization", "schemamatching", "translation",
    "blocking", "matching", "clustering", "fusion", "evaluation", "llmdata",
)
LAYER_STATS = (
    "self_s", "driver_s", "jobs", "executor_s", "shuffle_write_mb",
    "spill_mb", "task_skew", "rows_out",
)
MB = 1 << 20


@dataclass
class Span:
    span_id: int
    parent_id: int | None
    run_id: str
    layer: str
    name: str
    start: float
    end: float = 0.0
    job_ids: list[int] = field(default_factory=list)
    job_intervals: list[tuple[float, float]] = field(default_factory=list)
    stages: dict[str, float] = field(default_factory=dict)
    rows_out: int | None = None


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of ``[lo, hi]`` covered by the union of ``intervals``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """span id -> duration minus the time its direct children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent_id is not None:
            children.setdefault(s.parent_id, []).append((s.start, s.end))
    return {
        s.span_id: (s.end - s.start) - covered(children.get(s.span_id, []), s.start, s.end)
        for s in spans
    }


def layer_metrics(spans: list[Span]) -> dict[str, dict[str, float]]:
    """Per-layer sums over one run's spans (task skew: the worst span)."""
    selfs = self_times(spans)
    out: dict[str, dict[str, float]] = {}
    for s in spans:
        if s.layer not in LAYERS:
            continue
        m = out.setdefault(s.layer, {k: 0.0 for k in LAYER_STATS})
        own_jobs = covered(s.job_intervals, s.start, s.end)
        m["self_s"] += selfs[s.span_id]
        m["driver_s"] += max(selfs[s.span_id] - own_jobs, 0.0)
        m["jobs"] += len(s.job_ids)
        m["executor_s"] += s.stages.get("executor_s", 0.0)
        m["shuffle_write_mb"] += s.stages.get("shuffle_write_mb", 0.0)
        m["spill_mb"] += s.stages.get("spill_mb", 0.0)
        if s.stages.get("heaviest_executor_s", 0.0) >= m.get("_heaviest", 0.0):
            m["_heaviest"] = s.stages.get("heaviest_executor_s", 0.0)
            m["task_skew"] = s.stages.get("task_skew", 1.0)
        m["rows_out"] += s.rows_out or 0
    for m in out.values():
        m.pop("_heaviest", None)
    return out


def median_layer_metrics(runs: list[dict[str, dict[str, float]]]) -> dict[str, dict[str, float]]:
    """Median of each per-layer value across traced runs."""
    layers = {layer for run in runs for layer in run}
    return {
        layer: {
            k: statistics.median(run[layer][k] for run in runs if layer in run)
            for k in LAYER_STATS
        }
        for layer in layers
    }


class StatusStore:
    """Reads job and stage rows for a job group from Spark's status store."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.store = self.jsc.statusStore()
        gw = self.sc._gateway
        self.quantiles = gw.new_array(gw.jvm.double, 2)
        self.quantiles[0], self.quantiles[1] = 0.5, 1.0

    def job_ids(self, group: str) -> set[int]:
        return set(self.sc.statusTracker().getJobIdsForGroup(group))

    def settle(self) -> None:
        """Wait until the listener bus has delivered every event so far."""
        self.jsc.listenerBus().waitUntilEmpty()

    def read(self, job_ids: list[int]) -> tuple[list[tuple[float, float]], dict[str, float]]:
        """(job intervals in epoch seconds, summed stage metrics)."""
        intervals = []
        executor_ms = shuffle_write = spill = 0
        heaviest = (-1, None)  # (executor ms, stage row)
        for j in job_ids:
            job = self.store.job(j)
            if job.submissionTime().isDefined() and job.completionTime().isDefined():
                intervals.append((
                    job.submissionTime().get().getTime() / 1000.0,
                    job.completionTime().get().getTime() / 1000.0,
                ))
            info = self.sc.statusTracker().getJobInfo(j)
            for sid in info.stageIds if info else []:
                stage = self.store.lastStageAttempt(sid)
                if stage.status().toString() != "COMPLETE":
                    continue  # skipped: its work ran (and was counted) earlier
                executor_ms += stage.executorRunTime()
                shuffle_write += stage.shuffleWriteBytes()
                spill += stage.diskBytesSpilled()
                if stage.executorRunTime() > heaviest[0]:
                    heaviest = (stage.executorRunTime(), stage)
        skew = 1.0
        if heaviest[1] is not None:
            skew = self._skew(heaviest[1])
        return intervals, {
            "executor_s": executor_ms / 1000.0,
            "shuffle_write_mb": shuffle_write / MB,
            "spill_mb": spill / MB,
            "heaviest_executor_s": max(heaviest[0], 0) / 1000.0,
            "task_skew": skew,
        }

    def _skew(self, stage) -> float:
        """max / median task run time of one stage attempt."""
        summary = self.store.taskSummary(stage.stageId(), stage.attemptId(), self.quantiles)
        if not summary.isDefined():
            return 1.0
        for series in (summary.get().executorRunTime(), summary.get().duration()):
            med, top = series.apply(0), series.apply(1)
            if med > 0:
                return top / med
        return 1.0


def _materialize(out: Any) -> Any:
    """Checkpoint a layer's output so its work happens inside its span."""
    from pyspark.sql import DataFrame

    from pydi_spark import Dataset

    if isinstance(out, DataFrame):
        return out.localCheckpoint(eager=True)
    if isinstance(out, Dataset):
        return out.with_df(out.df.localCheckpoint(eager=True))
    if type(out) is tuple and out:  # (output, report); a Row is a tuple too
        return (_materialize(out[0]),) + out[1:]
    return out


def _row_count(out: Any) -> int | None:
    from pyspark.sql import DataFrame

    from pydi_spark import Dataset

    if type(out) is tuple and out:
        out = out[0]
    if isinstance(out, Dataset):
        out = out.df
    return out.count() if isinstance(out, DataFrame) else None


class Recorder:
    """Counts layer calls; when ``traced``, also records spans."""

    def __init__(self, spark, workload: str, run_id: str, traced: bool,
                 store: StatusStore | None = None):
        self.spark = spark
        self.workload = workload
        self.run_id = run_id
        self.traced = traced
        self.store = store or (StatusStore(spark) if traced else None)
        self.spans: list[Span] = []
        self.calls = 0
        self.failed = 0
        self._stack: list[Span] = []

    @contextmanager
    def span(self, layer: str, name: str) -> Iterator[Span | None]:
        if not self.traced:
            yield None
            return
        sc = self.spark.sparkContext
        group = f"{self.workload}:{layer}"
        outer = sc.getLocalProperty("spark.jobGroup.id")
        outer_desc = sc.getLocalProperty("spark.job.description")
        known = self.store.job_ids(group)
        span = Span(
            span_id=len(self.spans), parent_id=self._stack[-1].span_id if self._stack else None,
            run_id=self.run_id, layer=layer, name=name, start=time.time(),
        )
        self.spans.append(span)
        self._stack.append(span)
        sc.setJobGroup(group, name)
        try:
            yield span
        finally:
            span.end = time.time()
            self._stack.pop()
            sc.setLocalProperty("spark.jobGroup.id", outer)
            sc.setLocalProperty("spark.job.description", outer_desc)
            self.store.settle()
            span.job_ids = sorted(self.store.job_ids(group) - known)
            span.job_intervals, span.stages = self.store.read(span.job_ids)
            print(f"span {self.run_id} {layer} {name}: {span.end - span.start:.3f} s, "
                  f"{len(span.job_ids)} jobs", file=sys.stderr)

    def call(self, layer: str, name: str, fn: Callable[[], Any]) -> Any:
        """Run one public layer call; traced, materialize and count its output."""
        self.calls += 1
        try:
            with self.span(layer, name) as span:
                out = fn()
                if span is not None:
                    out = _materialize(out)
        except Exception:
            self.failed += 1
            raise
        if span is not None:
            with self.bookkeeping():
                span.rows_out = _row_count(out)
        return out

    @contextmanager
    def bookkeeping(self) -> Iterator[None]:
        """Jobs the trace itself runs: grouped apart, charged to no layer."""
        sc = self.spark.sparkContext
        outer = sc.getLocalProperty("spark.jobGroup.id")
        sc.setJobGroup(f"{self.workload}:trace", "bookkeeping")
        try:
            yield
        finally:
            sc.setLocalProperty("spark.jobGroup.id", outer)


def write_sidecar(path: str, spans: list[Span], extra: dict) -> None:
    selfs = self_times(spans)
    rows = [{**asdict(s), "self_s": selfs[s.span_id]} for s in spans]
    with open(path, "w") as f:
        json.dump({**extra, "spans": rows}, f, indent=1)
