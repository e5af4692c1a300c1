"""The measuring process: set-up, warm-up, timed ops, output checks, metrics.

``perfbench/run.py`` starts this module in a process session of its own,
with the environment pinned, and reads the result file it writes. Use
``run.py``; this module expects that environment.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import time
import uuid
from collections import Counter
from collections.abc import Callable, Iterator
from contextlib import nullcontext
from dataclasses import dataclass, field

from perfbench import datagen, oracle, procfs, workloads
from perfbench.tracing import Tracer

#: Requests generated per ``xes_selective`` run; far more than a run sends.
XES_STREAM_LEN = 1_000
#: A latency percentile is reported only with this many samples beyond it.
SAMPLES_BEYOND_PERCENTILE = 10


@dataclass
class Op:
    """One timed operation and what the checks need to know about it."""

    name: str
    traced: bool
    latency: float = 0.0
    artifact: str | None = None  # XES file or sharded directory
    request: workloads.XesRequest | None = None
    error: str | None = None  # an unexpected exception
    check: str | None = None  # why the output check failed
    sizes: Counter = field(default_factory=Counter)  # {case: events} in the artifact


# (op name, call returning the artifact path or None, XES request or None)
Step = tuple[str, Callable[[int], str | None], workloads.XesRequest | None]


@dataclass
class Timed:
    """The timed interval. The unit of the end-to-end metrics is a batch:
    one request of ``xes_selective``, one pass of ``lake_batch``."""

    ops: list[Op]
    batches: list[tuple[float, bool]]  # (wall time, traced) of each batch
    wall: float
    sampler: procfs.TreeSampler
    steal_share: float
    loadavg: tuple[tuple[float, ...], tuple[float, ...]]

    def count(self, traced: bool) -> int:
        return sum(1 for _, t in self.batches if t == traced)

    def rate(self, traced: bool) -> float:
        """Batches per second of the batches run with (or without) tracing."""
        return self.count(traced) / sum(w for w, t in self.batches if t == traced)


class Bench:
    def __init__(self, args: argparse.Namespace) -> None:
        self.args = args
        self.work = args.work
        self.lake = args.lake
        self.resources = datagen.resource_ids(args.scale)
        self.artifacts = os.path.join(self.work, "artifacts")
        os.makedirs(self.artifacts, exist_ok=True)
        self.tracer: Tracer | None = None
        self.spark = None

    # -- set-up ------------------------------------------------------------

    def setup(self) -> None:
        """SparkSession, input load and service construction ("ready to serve")."""
        from mobsos_event_log_generator_spark.api import EventLogService
        from mobsos_event_log_generator_spark.cache import ArtifactCache
        from mobsos_event_log_generator_spark.plans.eventlog import (
            FIXTURE_RAW_BOT_CODE,
            FIXTURE_RECODE,
            EventLogParams,
            events_fixture_as_eventlog,
        )
        from mobsos_event_log_generator_spark.session import get_spark
        from mobsos_event_log_generator_spark.sources.parquet import KNOWN_TABLES, load_table

        self.spark = get_spark("perfbench", extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
        })
        self.spark.sparkContext.setLogLevel("ERROR")
        for name in KNOWN_TABLES if self.args.workload == "lake_batch" else ("events",):
            load_table(self.spark, self.lake, name)
        self.events = events_fixture_as_eventlog(load_table(self.spark, self.lake, "events"))
        self.params = EventLogParams(recode_map=dict(FIXTURE_RECODE), raw_bot_code=FIXTURE_RAW_BOT_CODE,
                                     remarks_keys=["k"])
        cache = ArtifactCache(os.path.join(self.work, f"cache-{uuid.uuid4().hex}"))
        self.service = EventLogService(self.events, cache, self.params)

    # -- ops -----------------------------------------------------------------

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else nullcontext()

    def xes_call(self, req: workloads.XesRequest, payload: dict) -> str | None:
        from mobsos_event_log_generator_spark.api import EmptyEventLog

        kw = dict(start_date=req.start_date, end_date=req.end_date,
                  include_bot_messages=req.include_bot_messages,
                  include_life_cycle_start=req.include_life_cycle_start,
                  deserialize_remarks=req.deserialize_remarks, use_cache=req.use_cache)
        try:
            if req.endpoint == "resource":
                return self.service.resource(req.resource_ids[0], **kw)
            if req.endpoint == "resources":
                return self.service.resources(list(req.resource_ids), **kw)
            return self.service.bot(req.bot_name, bots_payload=payload, **kw)
        except EmptyEventLog:
            return None

    def lake_call(self, name: str, tag: str, collect: bool = False):
        """One ``lake_batch`` op: the query's pandas result when ``collect``,
        else the artifact path of the export (``None`` for a query)."""
        from mobsos_event_log_generator_spark.plans.eventlog import build_eventlog
        from mobsos_event_log_generator_spark.plans.queries import QUERIES
        from mobsos_event_log_generator_spark.sinks.xes import write_xes

        if name in workloads.LAKE_QUERIES:
            with self.span("plans.build"):
                df = QUERIES[name](self.spark, self.lake)
            if collect:
                return df.toPandas()
            df.write.format("noop").mode("overwrite").save()
            return None
        target = os.path.join(self.artifacts, f"{tag}.xes")
        with self.span("plans.build"):
            log = build_eventlog(self.events, self.params)
        with self.span("sinks.write_xes"):
            write_xes(log, target, single_file=False)
        return target

    # -- workloads ----------------------------------------------------------

    def xes_steps(self) -> tuple[Iterator[list[Step]], list[float]]:
        """Warm up; return the timed requests (one per batch) and the
        warm-up request times."""
        stream = workloads.xes_selective(self.args.seed, self.resources, XES_STREAM_LEN)
        warmup = []
        for req in stream.warmup:
            start = time.perf_counter()
            self.xes_call(req, stream.bots_payload)
            warmup.append(time.perf_counter() - start)

        def batches():
            for req in stream.timed:
                yield [(req.endpoint, lambda i, r=req: self.xes_call(r, stream.bots_payload), req)]

        return batches(), warmup

    def lake_steps(self) -> tuple[Iterator[list[Step]], list[float], dict]:
        """Warm up; return the timed passes (one per batch), the warm-up
        pass times and each query's result. The first warm-up pass collects
        the results for the oracle check; the later ones run as the timed
        passes do, through the noop sink."""
        warmup, results = [], {}
        for p in range(workloads.LAKE_WARMUP_PASSES):
            start = time.perf_counter()
            for name in workloads.lake_pass(self.args.seed, p):
                collect = p == 0 and name in workloads.LAKE_QUERIES
                res = self.lake_call(name, f"warmup-{p}-{name}", collect=collect)
                if collect:
                    results[name] = res
            warmup.append(time.perf_counter() - start)

        def batches():
            p = workloads.LAKE_WARMUP_PASSES
            while True:
                yield [(n, lambda i, n=n: self.lake_call(n, f"op-{i}"), None)
                       for n in workloads.lake_pass(self.args.seed, p)]
                p += 1

        return batches(), warmup, results

    def timed(self, batches: Iterator[list[Step]], seconds: float, trace: bool) -> Timed:
        """Run whole batches until ``seconds`` are used up, and at least two,
        so a slow host does not change which ``lake_batch`` passes are timed.
        With ``trace``, every second batch runs with the layer spans
        installed, so both kinds sample the same period. The parity flips
        after each ``workloads.TIMED_BLOCK`` of requests, so that a slot of
        the request mix is not always traced or always untraced."""
        sampler = procfs.TreeSampler(os.getpid())
        steal0, load0 = procfs.cpu_times(), os.getloadavg()
        sampler.start()
        ops: list[Op] = []
        batch_walls: list[tuple[float, bool]] = []
        start = time.perf_counter()
        while time.perf_counter() - start < seconds or len(batch_walls) < 2:
            n = len(batch_walls)
            traced = trace and (n + n // len(workloads.TIMED_BLOCK)) % 2 == 1
            batch_start = time.perf_counter()
            with self.tracer.install() if traced else nullcontext():
                for name, call, req in next(batches):
                    op = Op(name=name, traced=traced, request=req)
                    ctx = self.tracer.op(len(ops), name) if traced else nullcontext()
                    t = time.perf_counter()
                    try:
                        with ctx:
                            op.artifact = call(len(ops))
                    except Exception as ex:  # a failed op is counted, not fatal
                        op.error = f"{type(ex).__name__}: {ex}"[:300]
                    op.latency = time.perf_counter() - t
                    ops.append(op)
            batch_walls.append((time.perf_counter() - batch_start, traced))
        wall = time.perf_counter() - start
        sampler.stop()
        return Timed(ops, batch_walls, wall, sampler, procfs.steal_share(steal0, procfs.cpu_times()),
                     (load0, os.getloadavg()))

    # -- checks -------------------------------------------------------------

    def check(self, ops: list[Op], query_results: dict) -> None:
        """Set ``op.check`` (``None`` = output correct) and ``op.sizes``."""
        if self.args.corrupt:  # self-test: truncate the first artifact written
            victim = oracle.artifact_files(next(op.artifact for op in ops if op.artifact))[0]
            with open(victim, "r+b") as f:
                f.truncate(os.path.getsize(victim) // 2)
        events = oracle.EventOracle(os.path.join(self.lake, "events.parquet"))
        query_checks = oracle.check_queries(query_results, self.lake) if query_results else {}
        whole_log = events.trace_sizes(None) if self.args.workload == "lake_batch" else None
        for op in ops:
            if op.error:
                op.check = op.error
            elif op.request is not None:
                op.check, op.sizes = oracle.check_artifact(op.artifact, events.expected(op.request))
            elif op.name in workloads.LAKE_EXPORTS:
                op.check, op.sizes = oracle.check_artifact(op.artifact, whole_log)
            else:
                op.check = query_checks.get(op.name, "no oracle result")

    # -- metrics ------------------------------------------------------------

    def layer_metrics(self, t: Timed, warmup: list[float]) -> dict[str, tuple[float, str]]:
        tr = self.tracer
        traced = {i: op for i, op in enumerate(t.ops) if op.traced}
        n = t.count(traced=True)
        m: dict[str, tuple[float, str]] = {
            "warmup_s": (sum(warmup), "s"),
            "tracing.overhead_ratio": (t.rate(traced=False) / t.rate(traced=True), "ratio"),
        }
        secs, calls, _ = tr.totals("cache.lookup")
        m["cache.lookup_s"] = (secs / calls if calls else 0.0, "s")
        lookups = tr.counters["cache.lookups"]
        m["cache.hit_ratio"] = (tr.counters["cache.hits"] / lookups if lookups else 0.0, "ratio")
        secs, calls, _ = tr.totals("sources.load_table")
        m["sources.load_table_calls_per_op"] = (calls / n, "count")
        m["sources.load_table_s_per_op"] = (secs / n, "s")
        for layer in ("plans.build", "operators.is_empty"):
            secs, _, jobs = tr.totals(layer)
            m[f"{layer}_s_per_op"] = (secs / n, "s")
            m[f"{layer}_jobs_per_op"] = (jobs / n, "count")
        m["sinks.write_xes_s_per_op"] = (tr.totals("sinks.write_xes")[0] / n, "s")
        written = [traced[i] for i in {s.op for s in tr.spans if s.name == "sinks.write_xes"}]
        m["sinks.bytes_per_op"] = (sum(os.path.getsize(f) for op in written
                                       for f in oracle.artifact_files(op.artifact)) / n, "bytes")
        m["sinks.traces_per_op"] = (sum(len(op.sizes) for op in written) / n, "count")
        m["sinks.events_per_op"] = (sum(sum(op.sizes.values()) for op in written) / n, "count")
        for counter in ("jobs", "stages", "tasks", "failed_tasks"):
            m[f"spark.{counter}_per_op"] = (sum(getattr(c, counter) for c in tr.ops.values()) / n, "count")
        for name in workloads.LAKE_OPS:
            idx = [i for i, op in traced.items() if op.name == name]
            k = max(1, len(idx))
            build = sum(s.end - s.start for s in tr.spans if s.op in idx and s.name == "plans.build")
            m[f"registry.{name}.build_s"] = (build / k, "s")
            m[f"registry.{name}.execute_s"] = ((sum(t.ops[i].latency for i in idx) - build) / k, "s")
            m[f"registry.{name}.stages"] = (sum(tr.ops[i].stages for i in idx) / k, "count")
        return m

    def run(self, t_spawn: float) -> dict:
        self.setup()
        # From the spawn of this process: interpreter start-up, imports and
        # the JVM launch count, as they do for a service that starts.
        setup_s = time.time() - t_spawn
        if self.args.trace:
            self.tracer = Tracer(self.spark.sparkContext)
        query_results: dict = {}
        if self.args.workload == "xes_selective":
            batches, warmup = self.xes_steps()
        else:
            batches, warmup, query_results = self.lake_steps()
        t = self.timed(batches, self.args.seconds, bool(self.args.trace))
        self.check(t.ops, query_results)

        ops = t.ops
        ok = sum(1 for op in ops if op.check is None)
        lat = [wall for wall, traced in t.batches if not traced]
        p90_supported = len(lat) * 0.1 >= SAMPLES_BEYOND_PERCENTILE
        if self.args.trace:
            metrics = self.layer_metrics(t, warmup)
        else:
            metrics = {
                "setup_s": (setup_s, "s"),
                "ops_per_s": (len(lat) / t.wall, "1/s"),
                "latency_p50_s": (statistics.median(lat), "s"),
                "cpu_s_per_op": (t.sampler.cpu_s / len(lat), "s"),
                "peak_rss_mb": (t.sampler.peak_rss_mb, "MB"),
                "ok_ratio": (ok / len(ops), "ratio"),
            }
        detail = {
            "workload": self.args.workload,
            "seed": self.args.seed,
            "holdout_seed": workloads.HOLDOUT_SEED,
            "trace": self.args.trace,
            "scale": self.args.scale,
            "spec": workloads.WORKLOADS[self.args.workload],
            "warmup_batch_s": [round(w, 3) for w in warmup],
            "timed_batch_s": [round(w, 3) for w, _ in t.batches],
            "timed_wall_s": t.wall,
            "peak_rss_mb_driver_jvm_workers": t.sampler.peak_rss_by_role,
            "op_latency_s": {name: statistics.median(op.latency for op in ops if op.name == name)
                             for name in sorted({op.name for op in ops})},
            "latency_samples": len(lat),
            "latency_p90_s": statistics.quantiles(lat, n=10)[-1] if p90_supported else None,
            "host": {
                "nproc": procfs.host_cpus(),
                "loadavg_start": t.loadavg[0],
                "loadavg_end": t.loadavg[1],
                "steal_share": t.steal_share,
            },
            "failures": [f"{op.name}: {op.check}" for op in ops if op.check][:10],
        }
        return {
            "correct": ok == len(ops),
            "attempted": len(ops),
            "failed": len(ops) - ok,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            "detail": detail,
        }


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=sorted(datagen.SCALES), default="bench")
    p.add_argument("--lake", required=True)
    p.add_argument("--work", required=True)
    p.add_argument("--result", required=True)
    p.add_argument("--corrupt", action="store_true")
    args = p.parse_args()
    bench = Bench(args)
    try:
        result = bench.run(float(os.environ["PERFBENCH_T_SPAWN"]))
    finally:
        if bench.spark is not None:
            bench.spark.stop()
    with open(args.result, "w") as f:
        json.dump(result, f)


if __name__ == "__main__":
    main()
