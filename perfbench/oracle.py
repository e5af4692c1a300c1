"""Independent output checks, run after the timed interval.

* XES artifacts are parsed with the standard library's ``xml.etree`` and
  their per-trace event counts compared with a pandas evaluation of the same
  request over the same parquet file. The pandas side re-implements the
  intended ``generate_eventlog`` semantics on the engine's fixture adapter
  (``events_fixture_as_eventlog`` / ``EVENTS_FIXTURE_AS_EVENTLOG_SQL``); it
  shares no code with the engine.
* Registry query results are compared cell by cell with the query's DuckDB
  oracle through ``tools.check_parity``.
"""

from __future__ import annotations

import os
import xml.etree.ElementTree as ET
from collections import Counter
from datetime import datetime

import pandas as pd

from perfbench.workloads import XesRequest

_XES_NS = "{http://www.xes-standard.org/}"

#: Raw event types a request without bot messages keeps: the fixture recode
#: (``plans.eventlog.FIXTURE_RECODE``) maps them to USER_MESSAGE and
#: SERVICE_REQUEST, and the raw bot code ``view`` is dropped.
KEPT_WITHOUT_BOTS = ("click", "purchase")


class EventOracle:
    """pandas evaluation of E1/E2/E3 requests over the lake's ``events``."""

    def __init__(self, events_parquet: str) -> None:
        ev = pd.read_parquet(events_parquet, columns=["event_id", "ts", "user_id", "event_type"])
        eid = ev["event_id"]
        lifecycle = pd.Series("complete", index=ev.index, dtype=object)
        lifecycle[eid % 7 == 0] = "start"
        lifecycle[eid % 11 == 0] = None
        self.df = pd.DataFrame({
            "case": ev["user_id"].astype(str).where(eid % 97 != 0, None),
            "resource": ev["user_id"].astype(str),
            "event_type": ev["event_type"],
            "ts": ev["ts"],
            "lifecycle": lifecycle,
        })
        self.df = self.df[self.df["case"].notna()]  # F1

    def trace_sizes(self, resource_ids, start: datetime | None = None, end: datetime | None = None,
                    include_bot_messages: bool = False, include_life_cycle_start: bool = False) -> Counter:
        """{case id: number of events} of the log the request must produce."""
        df = self.df
        if resource_ids is not None:
            df = df[df["resource"].isin(list(resource_ids))]
        if not include_bot_messages:
            df = df[df["event_type"].isin(KEPT_WITHOUT_BOTS)]
        if not include_life_cycle_start:
            df = df[df["lifecycle"] == "complete"]
        if start is not None:
            df = df[df["ts"] >= pd.Timestamp(start)]
        if end is not None:
            df = df[df["ts"] <= pd.Timestamp(end)]
        return Counter(df["case"].value_counts().to_dict())

    def expected(self, req: XesRequest) -> Counter:
        return self.trace_sizes(req.resource_ids, req.start_date, req.end_date,
                                req.include_bot_messages, req.include_life_cycle_start)


def xes_trace_sizes(paths: list[str]) -> Counter:
    """{case id: number of events} over the XES documents at ``paths``.
    Raises ``ET.ParseError`` on a truncated or malformed document."""
    sizes: Counter = Counter()
    for path in paths:
        for _, el in ET.iterparse(path, events=("end",)):
            if el.tag != _XES_NS + "trace":
                continue
            name = next((c.get("value") for c in el
                         if c.tag == _XES_NS + "string" and c.get("key") == "concept:name"), None)
            sizes[name] += sum(1 for c in el if c.tag == _XES_NS + "event")
            el.clear()
    return sizes


def artifact_files(path: str) -> list[str]:
    """The XES documents of an artifact: the file itself, or a sharded
    export's ``part-*.xes`` files."""
    if os.path.isdir(path):
        return sorted(os.path.join(path, f) for f in os.listdir(path) if f.endswith(".xes"))
    return [path]


def check_artifact(path: str | None, expected: Counter) -> tuple[str | None, Counter]:
    """(``None`` or the reason the artifact fails, its parsed trace sizes).
    It passes when it holds exactly the expected traces; ``path=None``
    means the request raised EmptyEventLog."""
    if path is None:
        return (None if not expected else f"EmptyEventLog but {len(expected)} traces expected"), Counter()
    if not expected:
        return "artifact written for an empty log", Counter()
    files = artifact_files(path)
    if not files:
        return "no XES document written", Counter()
    try:
        got = xes_trace_sizes(files)
    except (ET.ParseError, OSError) as ex:
        return f"unreadable artifact: {ex}", Counter()
    if got != expected:
        return (f"{len(got)} traces / {sum(got.values())} events, expected "
                f"{len(expected)} / {sum(expected.values())}"), got
    return None, got


def check_queries(results: dict[str, pd.DataFrame], lake_dir: str) -> dict[str, str | None]:
    """Exact-cell parity of each Spark result with its DuckDB oracle:
    ``{query: None}`` on a match, else the reason."""
    from mobsos_event_log_generator_spark.plans.queries import ORACLES
    from tools.check_parity import canon, duck_connection

    con = duck_connection(lake_dir)
    out: dict[str, str | None] = {}
    try:
        for name, got in results.items():
            want = con.execute(ORACLES[name]).df()
            if len(got) != len(want):
                out[name] = f"{len(got)} rows, oracle {len(want)}"
            elif sorted(map(str, got.columns)) != sorted(map(str, want.columns)):
                out[name] = "column names differ from the oracle"
            elif not canon(got).equals(canon(want)):
                out[name] = "cell values differ from the oracle"
            else:
                out[name] = None
    finally:
        con.close()
    return out
