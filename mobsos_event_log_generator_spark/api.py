"""Query API layer: the reference's three endpoints as a service class
(SURVEY.md §2.7, §3) over the Spark pipeline + XES sink + artifact cache.

Endpoint semantics reproduced (with intended-semantics fixes, §7.4.3):

* ``resource(id, ...)``   — E1, GET /resource/<id>   (app.py:76-99)
* ``resources(ids, ...)`` — E2, POST /resources       (app.py:102-127)
* ``bot(name, url, ...)`` — E3, GET /bot/<botName>    (app.py:130-170):
  resolves resource ids from the bot manager; missing url → ValueError
  (reference maps to HTTP 400, app.py:140-143); nothing resolved →
  RuntimeError (→ 500, app.py:149-150).

Empty result → ``EmptyEventLog`` (reference returns 204, app.py:93-94 —
with its wrong-variable bug fixed). HTTP framing itself is out of engine
scope; any WSGI layer can map these calls/exceptions 1:1.
"""

from __future__ import annotations

import functools
import itertools
from dataclasses import dataclass, replace
from datetime import datetime
from typing import Any

from pyspark.sql import DataFrame

from mobsos_event_log_generator_spark.cache import ArtifactCache

# The request path does not call ``is_empty`` (emptiness comes from the XES
# stream); the name stays bound because perfbench's tracer wraps
# build_eventlog, is_empty and write_xes in this module by name.
from mobsos_event_log_generator_spark.operators.traces import is_empty  # noqa: F401
from mobsos_event_log_generator_spark.plans.eventlog import EventLogParams, build_eventlog
from mobsos_event_log_generator_spark.sinks.xes import write_xes, xes_trace_stream
from mobsos_event_log_generator_spark.sources.rest import fetch_bots, resolve_bot_resources


class EmptyEventLog(Exception):
    """No events matched — the reference's HTTP 204 path."""


@dataclass
class EventLogService:
    """Parameterized event-log generation behind the reference's API shape.

    ``events`` is any EVENTLOG-schema DataFrame (parquet lake, JDBC, or a
    streaming sink's output table); ``base_params`` carries the recode map /
    remarks keys for the deployment's event vocabulary.
    """

    events: DataFrame
    cache: ArtifactCache
    base_params: EventLogParams = EventLogParams()

    @functools.cached_property
    def _one_input_partition(self) -> bool:
        """Whether ``events`` reads as one partition (a one-file parquet
        table, a single-partition JDBC read); planned once, no job runs."""
        return self.events.rdd.getNumPartitions() == 1

    def _params(
        self,
        resource_ids: list[str] | None,
        start_date: datetime | str | None,
        end_date: datetime | str | None,
        include_bot_messages: bool,
        include_life_cycle_start: bool,
        deserialize_remarks: bool,
    ) -> EventLogParams:
        return replace(
            self.base_params,
            resource_ids=resource_ids,
            start_date=start_date,
            end_date=end_date,
            include_bot_messages=include_bot_messages,
            include_life_cycle_start=include_life_cycle_start,
            deserialize_remarks=deserialize_remarks,
        )

    def _generate(self, params: EventLogParams, use_cache: bool) -> str:
        cache_params: dict[str, Any] = {
            "resource_ids": sorted(params.resource_ids or []),
            "start_date": params.start_date,
            "end_date": params.end_date,
            "include_bot_messages": params.include_bot_messages,
            "include_life_cycle_start": params.include_life_cycle_start,
            "deserialize_remarks": params.deserialize_remarks,
        }
        if use_cache:  # opt-in, fixing the reference's always-on probe (app.py:84-87)
            hit = self.cache.lookup(cache_params)
            if hit:
                return hit
        # Per request this binds only the ids (F2) and the window (F5): the
        # flag-dependent normalization is memoized in build_eventlog, and the
        # trace and XML Columns in the sink, so after the first request of a
        # flag signature the driver issues about a quarter of the py4j calls.
        log = build_eventlog(self.events, params)
        if self._one_input_partition:
            # One input partition already satisfies the trace grouping's
            # distribution, but a scan does not say so; coalesce(1) does.
            # Trace assembly then runs in the scan's task: no Exchange, and
            # the request is one job instead of a shuffle-map job plus a
            # result job.
            log = log.coalesce(1)
        # Intended-semantics divergences from the reference (full list:
        # SURVEY.md §7.4.3, mapped per-operator in COVERAGE.md A1/A3):
        # the reference's min/max start/end defaults are dead stores
        # (event_reader.py:26-29 — computed, never used; we expose them as
        # operators/traces.py::global_time_bounds but take no default from
        # them), and its emptiness check tests the wrong variable
        # (app.py:93). Here emptiness is read off the result itself: the
        # first trace of the filtered log's XES stream, so no separate scan
        # job runs, and an empty log never opens a file.
        traces = xes_trace_stream(log)
        try:
            first = next(traces)
        except StopIteration:
            raise EmptyEventLog() from None
        out = self.cache.path_for(cache_params)
        write_xes(itertools.chain((first,), traces), out, single_file=True)
        return out

    def resource(
        self,
        resource_id: str,
        start_date: datetime | str | None = None,
        end_date: datetime | str | None = None,
        include_bot_messages: bool = False,
        include_life_cycle_start: bool = False,
        deserialize_remarks: bool = False,
        use_cache: bool = False,
    ) -> str:
        """E1 — XES log for one resource; returns the artifact path."""
        return self._generate(
            self._params([resource_id], start_date, end_date, include_bot_messages, include_life_cycle_start, deserialize_remarks),
            use_cache,
        )

    def resources(
        self,
        resource_ids: list[str],
        start_date: datetime | str | None = None,
        end_date: datetime | str | None = None,
        include_bot_messages: bool = False,
        include_life_cycle_start: bool = False,
        deserialize_remarks: bool = False,
        use_cache: bool = False,
    ) -> str:
        """E2 — XES log for a list of resources."""
        if not resource_ids:
            raise ValueError("resource_ids must be a non-empty list")
        return self._generate(
            self._params(list(resource_ids), start_date, end_date, include_bot_messages, include_life_cycle_start, deserialize_remarks),
            use_cache,
        )

    def bot(
        self,
        bot_name: str,
        bot_manager_url: str | None = None,
        bots_payload: Any | None = None,
        **kwargs: Any,
    ) -> str:
        """E3 — resolve the bot's resource ids (via an injected payload for
        tests, or the bot-manager REST API), then E2."""
        if bots_payload is None:
            if not bot_manager_url:
                raise ValueError("bot-manager-url is required")  # → HTTP 400
            bots_payload = fetch_bots(bot_manager_url)
        ids = resolve_bot_resources(bots_payload, bot_name)
        if not ids:
            raise RuntimeError(f"no resource ids resolved for bot {bot_name!r}")  # → HTTP 500
        return self.resources(ids, **kwargs)
