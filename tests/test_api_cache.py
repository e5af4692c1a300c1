"""API-layer + cache tests: the reference's three endpoint parameterizations
(E1-E3) end-to-end against an EVENTLOG fixture, plus cache/TTL semantics."""

from __future__ import annotations

import os
import threading
import time
import uuid
from datetime import datetime

import pytest

from mobsos_event_log_generator_spark.api import EmptyEventLog, EventLogService
from mobsos_event_log_generator_spark.cache import ArtifactCache, CacheJanitor, cache_key
from mobsos_event_log_generator_spark.schema import EVENTLOG_SCHEMA
from mobsos_event_log_generator_spark.sinks.xes import read_xes

ROWS = [
    ("SERVICE_CUSTOM_MESSAGE_1", "c1", "ask", datetime(2024, 1, 1, 10, 0, 0), "complete", "r1", "bot", "{}"),
    ("SERVICE_CUSTOM_MESSAGE_3", "c1", "svc", datetime(2024, 1, 1, 10, 0, 5), "complete", "r1", "bot", "{}"),
    ("SERVICE_CUSTOM_MESSAGE_1", "c2", "ask", datetime(2024, 1, 2, 9, 0, 0), "complete", "r2", "service", "{}"),
]

CASE_EVENTS = {"c1": 2, "c2": 1}

PAYLOAD = {"r1": {"name": "menuBot"}, "r2": {"name": "otherBot"}}


@pytest.fixture()
def service(spark, tmp_path):
    events = spark.createDataFrame(ROWS, EVENTLOG_SCHEMA)
    return EventLogService(events=events, cache=ArtifactCache(str(tmp_path / "cache"), ttl_seconds=3600))


def test_resource_endpoint_writes_xes(service):
    path = service.resource("r1")
    traces = read_xes(path)
    assert {t["attrs"]["concept:name"] for t in traces} == {"c1"}
    assert len(traces[0]["events"]) == 2


def test_resources_endpoint_multi(service):
    path = service.resources(["r1", "r2"])
    assert {t["attrs"]["concept:name"] for t in read_xes(path)} == {"c1", "c2"}
    with pytest.raises(ValueError):
        service.resources([])


def test_bot_endpoint_resolution(service):
    path = service.bot("menuBot", bots_payload=PAYLOAD)
    assert {t["attrs"]["concept:name"] for t in read_xes(path)} == {"c1"}
    with pytest.raises(ValueError):
        service.bot("menuBot")  # no url, no payload -> 400
    with pytest.raises(RuntimeError):
        service.bot("ghostBot", bots_payload=PAYLOAD)  # resolves nothing -> 500


def test_empty_result_raises_204(service):
    with pytest.raises(EmptyEventLog):
        service.resource("r1", start_date=datetime(2030, 1, 1))


def test_empty_request_leaves_no_file(service):
    with pytest.raises(EmptyEventLog):
        service.resources(["r1", "r2"], start_date=datetime(2030, 1, 1), use_cache=True)
    assert os.listdir(service.cache.cache_dir) == []


#: Spark jobs of one non-empty E1 request on the fixture above. The version
#: that ran a separate ``isEmpty()`` job before streaming measured 3 (the
#: emptiness job, then the shuffle-map and result jobs of the XES stream);
#: emptiness now comes from the stream's first trace, so it is 3 - 1.
REQUEST_JOBS = 2


def test_request_runs_no_separate_emptiness_job(spark, service):
    sc = spark.sparkContext
    group = f"request-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "one E1 request")
    try:
        path = service.resource("r1")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # the status store is fed asynchronously
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == REQUEST_JOBS
    assert {t["attrs"]["concept:name"] for t in read_xes(path)} == {"c1"}


def test_concurrent_requests_publish_complete_artifacts(service):
    """Four threads send same-key and different-key requests, with and
    without the cache; every returned path parses and holds its traces."""
    calls = [
        (["r1"], False, {"c1"}),
        (["r1"], True, {"c1"}),
        (["r1", "r2"], False, {"c1", "c2"}),
        (["r2"], True, {"c2"}),
    ]
    barrier = threading.Barrier(len(calls), timeout=60)
    errors: list[BaseException] = []

    def client(ids: list[str], use_cache: bool, want: set[str]) -> None:
        try:
            barrier.wait()
            for _ in range(3):
                path = service.resources(ids, use_cache=use_cache)
                sizes = {t["attrs"]["concept:name"]: len(t["events"]) for t in read_xes(path)}
                assert sizes == {case: CASE_EVENTS[case] for case in want}
        except BaseException as ex:  # surfaced in the main thread
            errors.append(ex)

    threads = [threading.Thread(target=client, args=c) for c in calls]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert all(name.endswith(".xes") for name in os.listdir(service.cache.cache_dir))


def test_cache_hit_skips_recompute(service):
    p1 = service.resource("r1", use_cache=True)
    mtime = os.path.getmtime(p1)
    p2 = service.resource("r1", use_cache=True)
    assert p1 == p2
    assert os.path.getmtime(p2) >= mtime  # probe refreshed the entry
    # different params -> different artifact
    p3 = service.resource("r1", include_bot_messages=True, use_cache=True)
    assert p3 != p1


def test_cache_key_deterministic_and_order_insensitive():
    a = cache_key({"resource_ids": ["a", "b"], "start_date": None})
    b = cache_key({"start_date": None, "resource_ids": ["a", "b"]})
    assert a == b and a.endswith(".xes")


def test_ttl_eviction(tmp_path):
    cache = ArtifactCache(str(tmp_path / "c"), ttl_seconds=0.01)
    path = os.path.join(cache.cache_dir, "x.xes")
    open(path, "w").write("<log/>")
    time.sleep(0.05)
    evicted = cache.evict_expired()
    assert path in evicted and not os.path.exists(path)


def test_janitor_background_eviction(tmp_path):
    cache = ArtifactCache(str(tmp_path / "c"), ttl_seconds=0.01)
    path = os.path.join(cache.cache_dir, "y.xes")
    open(path, "w").write("<log/>")
    janitor = CacheJanitor(cache, interval_seconds=0.05)
    janitor.start()
    try:
        deadline = time.time() + 5
        while os.path.exists(path) and time.time() < deadline:
            time.sleep(0.05)
        assert not os.path.exists(path)
    finally:
        janitor.stop()


def test_versioned_cache_invalidates_on_commit(spark, tmp_path):
    from mobsos_event_log_generator_spark.cache import ArtifactCache, versioned_params
    from mobsos_event_log_generator_spark.sources.snapshots import snapshot_append

    root = str(tmp_path / "tbl")
    snapshot_append(spark.createDataFrame([(1,)], "id long"), root)
    cache = ArtifactCache(cache_dir=str(tmp_path / "cache"))
    params = {"resource": "r1", "start": "2024-01-01"}

    p1 = versioned_params(params, {"events": root})
    path = cache.path_for(p1)
    open(path, "w").write("artifact")
    assert cache.lookup(p1) == path  # hit while the table is unchanged
    assert cache.lookup(versioned_params(params, {"events": root})) == path

    snapshot_append(spark.createDataFrame([(2,)], "id long"), root)
    assert cache.lookup(versioned_params(params, {"events": root})) is None  # invalidated
    # the old artifact is still addressable for reproducing the old version
    assert cache.lookup(p1) == path
