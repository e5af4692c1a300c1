"""Spans around the calls into each engine layer, for the traced run.

The spans are recorded from the benchmark's own files: ``Tracer.install``
rebinds the layer entry points as each caller looks them up and restores
them on exit. The engine is not modified.

=====================  =========================================================
layer                  entry point wrapped
=====================  =========================================================
``cache``              ``ArtifactCache.lookup``
``sources``            ``load_table`` in ``sources.parquet`` and every plan module
``plans``              ``api.build_eventlog``; a registry query's callable
``operators``          ``api.is_empty``
``sinks``              ``api.write_xes``; the sharded ``write_xes`` call
``spark``              jobs, stages and tasks of each op, from ``statusTracker()``
=====================  =========================================================

Every op runs in its own Spark job group, so the jobs a span launched are
the group's jobs that appeared during the span. ``statusTracker()`` reads the
status store, which works with the UI off.

Which end-to-end metric each layer metric should move, and on which
workload ("per op" is per request on ``xes_selective``, per pass on
``lake_batch``):

* ``cache.lookup_s``, ``cache.hit_ratio``: latency_p50_s and ops_per_s on
  xes_selective; nothing elsewhere.
* ``sources.load_table_*_per_op``: ops_per_s on lake_batch; XES requests
  load only at set-up.
* ``plans.build_{s,jobs}_per_op``: ops_per_s and latency_p50_s on both.
* ``operators.is_empty_*_per_op``: latency_p50_s on xes_selective; the
  sharded export of lake_batch does not test for emptiness.
* ``sinks.*_per_op``: latency_p50_s and cpu_s_per_op on both; the
  driver-streamed sink on xes_selective, the sharded one on lake_batch.
* ``spark.*_per_op``: latency_p50_s and ops_per_s on both; the fixed cost
  per stage matters most on xes_selective.
* ``registry.<op>.*``: ops_per_s on lake_batch.
* ``warmup_s``, ``tracing.overhead_ratio``: none; work moved from a request
  into set-up shows in setup_s.

The counts (jobs, stages, tasks, bytes, traces, events) repeat exactly for a
seed; times do not.
"""

from __future__ import annotations

import contextlib
import importlib
import time
from collections import defaultdict
from dataclasses import dataclass, field

_PLAN_MODULES = (
    "mobsos_event_log_generator_spark.sources.parquet",
    "mobsos_event_log_generator_spark.plans.queries",
    "mobsos_event_log_generator_spark.plans.analytics",
    "mobsos_event_log_generator_spark.plans.llm",
    "mobsos_event_log_generator_spark.plans.procmining",
    "mobsos_event_log_generator_spark.plans.sketches",
    "mobsos_event_log_generator_spark.plans.temporal",
    "mobsos_event_log_generator_spark.plans.streaming_queries",
)


@dataclass
class Span:
    name: str
    op: int
    start: float
    end: float
    jobs: int


@dataclass
class OpCounts:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0


@dataclass
class Tracer:
    """In-memory spans and counters of the traced ops."""

    sc: object  # the SparkContext
    spans: list[Span] = field(default_factory=list)
    counters: dict[str, float] = field(default_factory=lambda: defaultdict(float))
    ops: dict[int, OpCounts] = field(default_factory=dict)
    active: bool = False  # spans are recorded only inside ``install``
    _op: int = -1

    def _group(self, op: int) -> str:
        return f"perfbench-op-{op}"

    def _job_ids(self) -> set[int]:
        return set(self.sc.statusTracker().getJobIdsForGroup(self._group(self._op)))

    @contextlib.contextmanager
    def op(self, index: int, name: str):
        """One benchmark op: its own job group, and its Spark counts at exit."""
        self._op = index
        self.sc.setJobGroup(self._group(index), name)
        try:
            yield
        finally:
            self.ops[index] = self._counts()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self._op = -1

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.active:
            yield
            return
        before = self._job_ids() if self._op >= 0 else set()
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            jobs = len(self._job_ids() - before) if self._op >= 0 else 0
            self.spans.append(Span(name, self._op, start, end, jobs))

    def _counts(self) -> OpCounts:
        tracker = self.sc.statusTracker()
        counts = OpCounts()
        for job_id in tracker.getJobIdsForGroup(self._group(self._op)):
            counts.jobs += 1
            job = tracker.getJobInfo(job_id)
            for stage_id in job.stageIds if job else ():
                stage = tracker.getStageInfo(stage_id)
                ran = stage.numCompletedTasks + stage.numFailedTasks if stage else 0
                if ran:  # skipped stages (reused shuffle output) ran no task
                    counts.stages += 1
                    counts.tasks += ran
                    counts.failed_tasks += stage.numFailedTasks
        return counts

    def _wrap(self, span_name: str, fn, after=None):
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(span_name):
                result = fn(*args, **kwargs)
            if after is not None:
                after(args, kwargs, result)
            return result

        return traced

    @contextlib.contextmanager
    def install(self):
        """Rebind the layer entry points for the duration of the block."""
        from mobsos_event_log_generator_spark import api
        from mobsos_event_log_generator_spark.cache import ArtifactCache

        patches: list[tuple[object, str, object]] = []

        def patch(owner, attr, span_name, after=None):
            original = getattr(owner, attr)
            patches.append((owner, attr, original))
            setattr(owner, attr, self._wrap(span_name, original, after))

        def count_hit(args, kwargs, result):
            self.counters["cache.lookups"] += 1
            self.counters["cache.hits"] += result is not None

        patch(ArtifactCache, "lookup", "cache.lookup", count_hit)
        patch(api, "build_eventlog", "plans.build")
        patch(api, "is_empty", "operators.is_empty")
        patch(api, "write_xes", "sinks.write_xes")
        for mod_name in _PLAN_MODULES:
            mod = importlib.import_module(mod_name)
            if hasattr(mod, "load_table"):
                patch(mod, "load_table", "sources.load_table")
        self.active = True
        try:
            yield self
        finally:
            self.active = False
            for owner, attr, original in reversed(patches):
                setattr(owner, attr, original)

    def totals(self, name: str) -> tuple[float, int, int]:
        """(seconds, calls, jobs) over the spans called ``name``."""
        spans = [s for s in self.spans if s.name == name]
        return sum(s.end - s.start for s in spans), len(spans), sum(s.jobs for s in spans)
