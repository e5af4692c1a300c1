"""Unit tests for the reference pipeline semantics (SURVEY.md §2.2-2.4).

Golden-row tests over a hand-built EVENTLOG fixture mirroring FIXTURES.md §1:
each flag combination's expected output is derivable by hand.
"""

from __future__ import annotations

import re
from dataclasses import replace
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from mobsos_event_log_generator_spark.operators import filters as Fi
from mobsos_event_log_generator_spark.operators import transforms as Tr
from mobsos_event_log_generator_spark.operators.traces import assemble_traces, global_time_bounds, is_empty, trace_stats
from mobsos_event_log_generator_spark.plans import eventlog as EL
from mobsos_event_log_generator_spark.plans.eventlog import EventLogParams, build_eventlog
from mobsos_event_log_generator_spark.schema import (
    EVENTLOG_SCHEMA,
    XES_ACTIVITY,
    XES_CASE,
    XES_LIFECYCLE,
    XES_TIMESTAMP,
)
from mobsos_event_log_generator_spark.sources.rest import resolve_bot_resources

ROWS = [
    # EVENT_TYPE, CASE_ID, ACTIVITY, TIME_STAMP, LIFECYCLE, RESOURCE, RESOURCE_TYPE, REMARKS
    ("SERVICE_CUSTOM_MESSAGE_1", "c1", "requestMenu", datetime(2024, 1, 1, 10, 0, 0), "complete", "r1", "bot", '{"user": "u1"}'),
    ("SERVICE_CUSTOM_MESSAGE_2", "c1", "botReply", datetime(2024, 1, 1, 10, 0, 5), "complete", "r1", "bot", '{"user": "u1", "intent": "menu"}'),
    ("SERVICE_CUSTOM_MESSAGE_3", "c1", "getMenu", datetime(2024, 1, 1, 10, 0, 9), "start", "r1", "bot", '{"serviceEndpoint": "/menu"}'),
    ("SERVICE_CUSTOM_MESSAGE_3", "c1", "getMenu", datetime(2024, 1, 1, 10, 0, 10), None, "r1", "bot", '{"in-service-context": true}'),
    ("SERVICE_MESSAGE", "c2", "other", datetime(2024, 1, 2, 9, 0, 0), "complete", "r2", "service", "not-json"),
    ("SERVICE_CUSTOM_MESSAGE_1", None, "requestMenu", datetime(2024, 1, 2, 9, 30, 0), "complete", "r2", "service", "{}"),
    ("SERVICE_CUSTOM_MESSAGE_1", "c3", "orderFood", datetime(2024, 1, 3, 12, 0, 0), "complete", "r2", "service", '{"user": "u2"}'),
]


@pytest.fixture(scope="module")
def eventlog(spark):
    return spark.createDataFrame(ROWS, EVENTLOG_SCHEMA).cache()


def test_default_flags_pipeline(eventlog):
    """Default flags: bot messages excluded, lifecycle starts excluded."""
    out = build_eventlog(eventlog, EventLogParams()).orderBy(XES_TIMESTAMP).collect()
    # c1: USER_MESSAGE kept; BOT_MESSAGE dropped (F6); start dropped (F4);
    # NULL lifecycle dropped (F4 3VL, matching the reference's SQL);
    # SERVICE_MESSAGE dropped (F6 keep-list); NULL case dropped (F1).
    assert [(r[XES_CASE], r["EVENT_TYPE"], r[XES_LIFECYCLE]) for r in out] == [
        ("c1", "USER_MESSAGE", "complete"),
        ("c3", "USER_MESSAGE", "complete"),
    ]


def test_all_flags_on_keeps_and_fills(eventlog):
    params = EventLogParams(include_bot_messages=True, include_life_cycle_start=True)
    out = build_eventlog(eventlog, params)
    rows = {(r[XES_CASE], r[XES_ACTIVITY], r[XES_LIFECYCLE], r["EVENT_TYPE"]) for r in out.collect()}
    # NULL lifecycle filled to 'complete' (P4); start kept; bot kept; recode applied.
    assert ("c1", "getMenu", "complete", "SERVICE_REQUEST") in rows
    assert ("c1", "getMenu", "start", "SERVICE_REQUEST") in rows
    assert ("c1", "botReply", "complete", "BOT_MESSAGE") in rows
    assert ("c2", "other", "complete", "SERVICE_MESSAGE") in rows  # unmapped passes through
    assert out.count() == 6  # only the NULL-case row dropped


def test_resource_and_date_filters(eventlog):
    params = EventLogParams(
        resource_ids=["r2"],
        start_date=datetime(2024, 1, 2),
        end_date=datetime(2024, 1, 2, 23, 59, 59),
        include_bot_messages=True,
        include_life_cycle_start=True,
    )
    out = build_eventlog(eventlog, params).collect()
    assert {r[XES_CASE] for r in out} == {"c2"}


def test_remarks_flatten(eventlog):
    params = EventLogParams(
        include_bot_messages=True,
        include_life_cycle_start=True,
        deserialize_remarks=True,
        remarks_keys=["user", "intent", "serviceEndpoint"],
    )
    out = build_eventlog(eventlog, params)
    rows = {r[XES_ACTIVITY]: r for r in out.collect()}
    assert rows["botReply"]["intent"] == "menu"
    assert rows["botReply"]["user"] == "u1"
    # P4 fills missing serviceEndpoint with '' (event_reader.py:37-40)
    assert {r["serviceEndpoint"] for r in out.collect() if r[XES_ACTIVITY] == "getMenu"} == {"/menu", ""}
    assert rows["other"]["user"] == ""  # malformed JSON -> NULL -> filled ''


def test_trace_assembly_ordering(eventlog):
    params = EventLogParams(include_bot_messages=True, include_life_cycle_start=True)
    traces = assemble_traces(build_eventlog(eventlog, params))
    c1 = traces.filter(F.col("case") == "c1").collect()[0]
    assert c1["num_events"] == 4
    assert [e["activity"] for e in c1["events"]] == ["requestMenu", "botReply", "getMenu", "getMenu"]
    assert c1["trace_start"] == datetime(2024, 1, 1, 10, 0, 0)
    assert c1["trace_end"] == datetime(2024, 1, 1, 10, 0, 10)


def test_trace_stats_path(eventlog):
    params = EventLogParams(include_bot_messages=True, include_life_cycle_start=True)
    stats = trace_stats(build_eventlog(eventlog, params))
    row = {r["case"]: r for r in stats.collect()}["c1"]
    assert row["activity_path"] == "requestMenu,botReply,getMenu,getMenu"
    assert row["duration_us"] == 10_000_000


def test_global_bounds_and_empty(spark, eventlog):
    bounds = global_time_bounds(eventlog, "TIME_STAMP").collect()[0]
    assert bounds["min_ts"] == datetime(2024, 1, 1, 10, 0, 0)
    assert bounds["max_ts"] == datetime(2024, 1, 3, 12, 0, 0)
    assert not is_empty(eventlog)
    assert is_empty(eventlog.filter(F.col("CASE_ID") == "nope"))


def test_bot_resolution_e3(eventlog):
    """E3: bot name → resource ids → E2 pipeline (app.py:130-170)."""
    payload = {
        "r1": {"name": "menuBot", "version": 1},
        "r2": {"name": "otherBot"},
        "r3": "not-a-dict",
        "r4": {"noname": True},
    }
    ids = resolve_bot_resources(payload, "menuBot")
    assert ids == ["r1"]
    out = build_eventlog(eventlog, EventLogParams(resource_ids=ids))
    assert {r["RESOURCE"] for r in out.collect()} == {"r1"}
    assert resolve_bot_resources(payload, "ghostBot") == []
    assert resolve_bot_resources("not-a-dict", "menuBot") == []


def reference_build_eventlog(events, params: EventLogParams):
    """Reference twin of ``build_eventlog``: the reference's step order, with
    F2 and F5 applied to the raw columns before any projection, nothing
    memoized."""
    df = events.filter(Fi.case_not_null())  # F1
    if params.resource_ids is not None:  # F2
        df = Fi.filter_resources(df, params.resource_ids)
    if not params.include_bot_messages:  # F3
        df = df.filter(Fi.exclude_raw_bot_events(params.raw_bot_code))
    if not params.include_life_cycle_start:  # F4
        df = df.filter(Fi.exclude_lifecycle_start())
    if params.start_date is not None:  # F5, closed interval on the raw column
        df = df.filter(F.col("TIME_STAMP") >= F.lit(params.start_date))
    if params.end_date is not None:
        df = df.filter(F.col("TIME_STAMP") <= F.lit(params.end_date))
    df = df.withColumn("EVENT_TYPE", Tr.recode_event_type(params.recode_map))  # P2
    if not params.include_bot_messages:  # F6
        df = df.filter(Fi.keep_user_and_service_events())
    df = Tr.rename_to_xes(df)  # P1
    if not params.include_life_cycle_start:  # F7
        df = df.filter(Fi.lifecycle_complete_only(XES_LIFECYCLE))
    df = Tr.cast_timestamp(df)  # P3
    if params.deserialize_remarks and params.remarks_keys:  # P5
        df = Tr.flatten_remarks(df, params.remarks_keys)
    return Tr.fill_defaults(df)  # P4


#: Windows relative to ROWS (2024-01-01 10:00 .. 2024-01-03 12:00); the
#: closed bounds sit exactly on event timestamps.
WINDOWS = [
    (None, None),
    (datetime(2024, 1, 2, 9, 0, 0), None),
    (None, datetime(2024, 1, 2, 9, 0, 0)),
    (datetime(2024, 1, 1, 10, 0, 5), datetime(2024, 1, 2, 9, 30, 0)),
    (datetime(2030, 1, 1), datetime(2030, 2, 1)),
]
ID_LISTS = [None, ["r1"], ["r1", "r2", "r9"]]
FLAGS = [(b, s, r) for b in (False, True) for s in (False, True) for r in (False, True)]


@pytest.mark.parametrize("bots,starts,remarks", FLAGS)
def test_build_eventlog_equals_reference_order(spark, eventlog, tmp_path, bots, starts, remarks):
    """Binding F2/F5 to the memoized normalization gives the reference
    order's rows and schema, and the service's XES bytes equal
    ``write_xes`` of the twin, for every window and id list."""
    from mobsos_event_log_generator_spark.api import EmptyEventLog, EventLogService
    from mobsos_event_log_generator_spark.cache import ArtifactCache
    from mobsos_event_log_generator_spark.sinks.xes import write_xes

    base = EventLogParams(remarks_keys=["user", "intent", "serviceEndpoint"])
    service = EventLogService(eventlog, ArtifactCache(str(tmp_path / "cache")), base)
    flags = {"include_bot_messages": bots, "include_life_cycle_start": starts, "deserialize_remarks": remarks}
    for start, end in WINDOWS:
        for ids in ID_LISTS:
            params = EventLogParams(start_date=start, end_date=end, resource_ids=ids, **flags,
                                    remarks_keys=base.remarks_keys)
            got, want = build_eventlog(eventlog, params), reference_build_eventlog(eventlog, params)
            assert got.dtypes == want.dtypes
            assert sorted(got.collect()) == sorted(want.collect()), (start, end, ids)

            twin = str(tmp_path / "twin.xes")
            n = write_xes(want, twin)
            if ids is None:
                path = str(tmp_path / "got.xes")
                assert write_xes(got, path) == n
            elif n == 0:
                with pytest.raises(EmptyEventLog):
                    service.resources(ids, start_date=start, end_date=end, **flags)
                continue
            else:
                path = service.resources(ids, start_date=start, end_date=end, **flags)
            with open(path, "rb") as a, open(twin, "rb") as b:
                assert a.read() == b.read(), (start, end, ids)


def test_normalization_memo_hits_and_keys(eventlog):
    """A repeated flag signature reuses the memoized plan; a changed recode
    map or remarks key list builds a new one instead of a stale hit."""
    params = EventLogParams(include_bot_messages=True, deserialize_remarks=True, remarks_keys=["user"])
    first = build_eventlog(eventlog, params)
    hits = EL._normalized.cache_info().hits
    assert build_eventlog(eventlog, params) is first  # no F2/F5 to bind: the memoized plan itself
    bound = build_eventlog(eventlog, replace(params, resource_ids=["r1"]))
    assert EL._normalized.cache_info().hits == hits + 2
    assert {r["RESOURCE"] for r in bound.collect()} == {"r1"}

    recoded = replace(params, recode_map={"SERVICE_CUSTOM_MESSAGE_1": "X"})
    misses = EL._normalized.cache_info().misses
    assert "X" in {r["EVENT_TYPE"] for r in build_eventlog(eventlog, recoded).collect()}
    assert "X" not in {r["EVENT_TYPE"] for r in first.collect()}

    rekeyed = replace(params, remarks_keys=["intent"])
    assert "intent" in build_eventlog(eventlog, rekeyed).columns
    assert "intent" not in first.columns
    assert EL._normalized.cache_info().misses == misses + 2


def _plan_shape(df) -> tuple[list[str], list[str]]:
    """Operator names of the executed plan, and the scan's sorted pushed
    filters (read from the scan node: the plan string abbreviates them)."""
    plan = df._jdf.queryExecution().executedPlan()
    ops = [re.sub(r"^[\s:+\-*()0-9]*", "", line).split(" ")[0] for line in plan.toString().splitlines()]
    pushed = plan.collectLeaves().head().metadata().apply("PushedFilters")
    return ops, sorted(pushed.strip("[]").split(", "))


def test_windowed_multi_id_plan_matches_reference(spark, tmp_path):
    """Over a parquet scan, F2/F5 applied last still land in the scan's
    Filter: same operators and PushedFilters as the reference order."""
    path = str(tmp_path / "eventlog.parquet")
    spark.createDataFrame(ROWS, EVENTLOG_SCHEMA).write.parquet(path)
    events = spark.read.parquet(path)
    params = EventLogParams(resource_ids=["r1", "r2"], start_date=datetime(2024, 1, 1),
                            end_date=datetime(2024, 1, 2, 12, 0, 0))
    got, want = _plan_shape(build_eventlog(events, params)), _plan_shape(reference_build_eventlog(events, params))
    assert got == want
    assert any("RESOURCE" in f for f in got[1]) and any("TIME_STAMP" in f for f in got[1])


def test_large_inlist_uses_semi_join(spark, eventlog):
    """F2 scale path: >threshold id lists become a broadcast left-semi join."""
    ids = [f"r{i}" for i in range(1, 20_002)]
    out = Fi.filter_resources(eventlog, ids)
    assert "LeftSemi" in out._jdf.queryExecution().optimizedPlan().toString()
    assert out.count() == 7


def test_message_table_bot_resolver(spark):
    """S3/P6/F8 — resolve bot resource ids from the MESSAGE table
    (event_reader.py:93-116)."""
    from mobsos_event_log_generator_spark.sources.message import (
        bot_resource_ids_df,
        resolve_bot_resources_from_messages,
    )

    messages = spark.createDataFrame(
        [
            ('{"botName": "menuBot", "agentId": "a1"}',),
            ('{"botName": "menuBot", "agentId": "a2"}',),
            ('{"botName": "menuBot", "agentId": "a1"}',),  # dup -> distinct
            ('{"botName": "menuBot"}',),  # null agentId -> F8 drop
            ('{"botName": "otherBot", "agentId": "a9"}',),
            ("not-json",),
        ],
        "REMARKS string",
    )
    assert sorted(resolve_bot_resources_from_messages(messages, "menuBot")) == ["a1", "a2"]
    assert bot_resource_ids_df(messages, "ghost").count() == 0


def test_sequence_patterns_counts_match_python_re(spark, tmp_path):
    """Spark regexp_count (Java regex) must agree with python re.findall on
    the alternation-free pattern library, including the tricky overlap
    cases: 'ccpcpp' has two c+p matches; 'vpvep' one clean view→purchase."""
    import re
    from datetime import datetime, timedelta

    from mobsos_event_log_generator_spark.plans.procmining import events_sequence_patterns

    seqs = {1: "ccpcppveevp", 2: "vpvep", 3: "eeeecp", 4: "ssss"}
    char2type = {"c": "click", "p": "purchase", "v": "view", "e": "error", "s": "signup"}
    rows, eid = [], 0
    t0 = datetime(2024, 1, 1)
    for uid, s in seqs.items():
        for i, ch in enumerate(s):
            rows.append((eid, t0 + timedelta(minutes=i), uid, char2type[ch], 1.0, "{}"))
            eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    out = {r["user_id"]: r for r in events_sequence_patterns(spark, str(tmp_path)).collect()}
    for uid, s in seqs.items():
        r = out[uid]
        assert r["n_events"] == len(s)
        assert r["direct_conversions"] == len(re.findall(r"c+p", s)), (uid, s)
        assert r["clean_view_purchases"] == len(re.findall(r"v[^e]*p", s)), (uid, s)
        assert r["error_bursts"] == len(re.findall(r"ee+", s)), (uid, s)


def test_alignment_cost_modal_and_replay(spark):
    """Exactly one modal variant (cost 0, flagged); every cost replays in
    pure Python as the activity-level edit distance to the modal sequence."""
    from mobsos_event_log_generator_spark.plans.procmining import eventlog_alignment_cost

    rows = eventlog_alignment_cost(spark, "/root/testdata/sf0.001").collect()
    modal = [r for r in rows if r["is_modal"]]
    assert len(modal) == 1
    assert modal[0]["alignment_cost"] == 0
    assert modal[0]["n_cases"] == max(r["n_cases"] for r in rows)

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    mseq = tuple(modal[0]["variant"].split(","))
    for r in rows:
        assert r["alignment_cost"] == lev(tuple(r["variant"].split(",")), mseq)


def test_handover_network_invariants(spark):
    """Handover edges re-aggregate to per-case transition counts; ppm shares
    partition the total; resource-type self-handovers dominate nothing odd."""
    from mobsos_event_log_generator_spark.plans.procmining import (
        _all_types_complete,
        eventlog_handover_network,
    )

    sf = "/root/testdata/sf0.001"
    rows = eventlog_handover_network(spark, sf).collect()
    assert rows
    total = sum(r["n_handovers"] for r in rows)
    # per-case transitions = n_events - 1 summed over cases with >=2 events
    sizes = (
        _all_types_complete(spark, sf).groupBy("case").count().collect()
    )
    assert total == sum(r["count"] - 1 for r in sizes if r["count"] >= 2)
    for r in rows:
        assert 1 <= r["n_cases"] <= r["n_handovers"]
        assert r["share_ppm"] == r["n_handovers"] * 1_000_000 // total


def test_dependency_graph_invariants(spark):
    """Dependency edges re-derive from raw directly-follows counts: oriented
    in the dominant direction, exact-ppm measure, loops scored n/(n+1);
    counts conserve the total number of successor pairs."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from mobsos_event_log_generator_spark.plans.procmining import (
        _all_types_complete,
        eventlog_dependency_graph,
    )

    sf = "/root/testdata/sf0.001"
    rows = eventlog_dependency_graph(spark, sf).collect()
    assert rows

    e = _all_types_complete(spark, sf)
    w = Window.partitionBy("case").orderBy("ts", "activity")
    raw = {
        (r["src"], r["dst"]): r["n"]
        for r in (
            e.withColumn("dst", F.lead("activity").over(w))
            .filter(F.col("dst").isNotNull())
            .groupBy(F.col("activity").alias("src"), "dst")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
    }
    assert sum(r["n_forward"] + r["n_reverse"] for r in rows) == sum(raw.values())
    seen = set()
    for r in rows:
        key = (r["src"], r["dst"])
        assert key not in seen
        seen.add(key)
        f, rev = r["n_forward"], r["n_reverse"]
        if r["is_loop"]:
            assert r["src"] == r["dst"] and rev == 0
            assert f == raw[key]
            assert r["dep_ppm"] == f * 1_000_000 // (f + 1)
        else:
            assert r["src"] != r["dst"]
            assert f == raw.get(key, 0) and rev == raw.get((r["dst"], r["src"]), 0)
            assert f >= rev >= 0
            if f == rev:  # tie orients lexicographically
                assert r["src"] < r["dst"]
            assert r["dep_ppm"] == (f - rev) * 1_000_000 // (f + rev + 1)
            assert (r["dst"], r["src"]) not in seen


def test_autocorrelation_matches_numpy(spark):
    """ACF rows match a pure-Python recomputation over the zero-filled daily
    series; pair counts are N - lag; |acf| bounded by 1 within rounding."""
    import datetime
    import math

    from pyspark.sql import functions as F

    from mobsos_event_log_generator_spark.plans.analytics import events_autocorrelation
    from mobsos_event_log_generator_spark.sources.parquet import load_table

    sf = "/root/testdata/sf0.001"
    rows = {r["lag"]: r for r in events_autocorrelation(spark, sf).collect()}
    assert set(rows) == {1, 2, 3, 7}

    ev = load_table(spark, sf, "events")
    daily = {
        r["d"]: r["x"]
        for r in ev.groupBy(F.to_date("ts").alias("d")).count().withColumnRenamed("count", "x").collect()
    }
    lo, hi = min(daily), max(daily)
    xs = [daily.get(lo + datetime.timedelta(days=i), 0) for i in range((hi - lo).days + 1)]
    n, s, q = len(xs), sum(xs), sum(x * x for x in xs)
    for lag, r in rows.items():
        assert r["n_pairs"] == n - lag
        sxy = sum(xs[i] * xs[i + lag] for i in range(n - lag))
        sa = sum(xs[: n - lag])
        sb = sum(xs[lag:])
        num = n * n * sxy - n * s * (sa + sb) + (n - lag) * s * s
        den = n * n * q - n * s * s
        assert r["acf"] == math.floor((num / den) * 1_000_000 + 0.5) / 1_000_000
        assert abs(r["acf"]) <= 1.000001


def test_theilsen_trend_matches_python_replay(spark):
    """Theil-Sen lower-median and OLS micro-slopes match a pure-Python
    replay over the zero-filled per-type daily series."""
    import datetime

    from pyspark.sql import functions as F

    from mobsos_event_log_generator_spark.plans.analytics import events_theilsen_trend
    from mobsos_event_log_generator_spark.sources.parquet import load_table

    def tdiv(a, b):  # truncating integer division (Spark div / DuckDB //)
        q = abs(a) // abs(b)
        return q if (a >= 0) == (b >= 0) else -q

    sf = "/root/testdata/sf0.001"
    rows = {r["event_type"]: r for r in events_theilsen_trend(spark, sf).collect()}
    assert rows

    ev = load_table(spark, sf, "events")
    daily = {}
    for r in ev.groupBy("event_type", F.to_date("ts").alias("d")).count().collect():
        daily.setdefault(r["event_type"], {})[r["d"]] = r["count"]
    all_days = [d for per in daily.values() for d in per]
    lo, hi = min(all_days), max(all_days)
    n = (hi - lo).days + 1
    for et, per in daily.items():
        xs = [per.get(lo + datetime.timedelta(days=i), 0) for i in range(n)]
        slopes = sorted(
            tdiv((xs[j] - xs[i]) * 1_000_000, j - i)
            for i in range(n)
            for j in range(i + 1, n)
        )
        r = rows[et]
        assert r["n_days"] == n
        assert r["n_pairs"] == len(slopes)
        assert r["theilsen_slope_micro"] == slopes[(len(slopes) + 1) // 2 - 1]
        st = sum(range(n))
        sy = sum(xs)
        sty = sum(i * x for i, x in enumerate(xs))
        stt = sum(i * i for i in range(n))
        assert r["ols_slope_micro"] == tdiv((n * sty - st * sy) * 1_000_000, n * stt - st * st)
