"""The parameterized event-log pipeline — the reference's entire query surface.

``EventLogParams`` mirrors ``generate_eventlog(db_connection, start_date,
end_date, resource_ids, include_bot_messages, include_life_cycle_start,
deserialize_remarks)`` (reference: event_log_generator/event_reader.py:7), and
``build_eventlog`` reproduces the full E1/E2 pipeline (SURVEY.md §3) in two
parts:

    normalization, memoized per (events, flag signature):
        scan → F1 case-not-null → F3 raw bot-exclude → F4 lifecycle-not-start
             → P2 recode → F6 keep user/service → P1 rename to XES
             → F7 complete-only → P3 cast ts → P5 flatten remarks → P4 fillna
    request predicate, applied last:
        → F5 ts-range on ``time:timestamp`` → F2 resource IN

The reference applies F2 and F5 before the projections. No step rewrites
``RESOURCE`` or the timestamp value (P3 casts only a column that is not
already TIMESTAMP), so both commute with the rest, and
Catalyst pushes them into the same scan ``Filter`` as before (only the
conjunct order differs). What depends on the request's ids and window is
therefore two filters; everything else depends only on the three flags and
the deployment's mappings — at most 8 signatures per table — and is built
once. Building it costs a few hundred py4j calls per request; a memo hit
costs none.

All of it is lazy Column algebra — Catalyst fuses the filters, pushes them into
the scan, and prunes columns; nothing materializes until the sink. The memo
holds lazy plans only, never data.

Known reference quirks intentionally NOT reproduced (SURVEY.md §7.4): the
always-on cache, wrong-dir cache probe, wrong empty-check variable, and the
dead min/max default dates. The duplicated lifecycle filter (F4+F7) is kept —
Catalyst collapses it for free.
"""

from __future__ import annotations

import functools
from dataclasses import dataclass, field
from datetime import datetime

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mobsos_event_log_generator_spark.operators import filters as Fi
from mobsos_event_log_generator_spark.operators import transforms as Tr
from mobsos_event_log_generator_spark.schema import (
    BOT_RAW_EVENT_TYPE,
    EVENT_TYPE_RECODE,
    XES_LIFECYCLE,
    XES_TIMESTAMP,
)


@dataclass(frozen=True)
class EventLogParams:
    """The reference's five query params + column/value mapping knobs so the
    same pipeline runs on any EVENTLOG-shaped table."""

    start_date: datetime | str | None = None
    end_date: datetime | str | None = None
    resource_ids: list[str] | None = None
    include_bot_messages: bool = False
    include_life_cycle_start: bool = False
    deserialize_remarks: bool = False
    # Mapping knobs (defaults = the reference's MobSOS values)
    recode_map: dict[str, str] = field(default_factory=lambda: dict(EVENT_TYPE_RECODE))
    raw_bot_code: str = BOT_RAW_EVENT_TYPE
    remarks_keys: list[str] = field(default_factory=list)


#: Bound of the normalization memo: 8 flag signatures for each of a few
#: event tables (or mapping variants) a process serves.
_NORMALIZED_MEMO_SIZE = 32


def build_eventlog(events: DataFrame, params: EventLogParams) -> DataFrame:
    """E1/E2 semantics over an EVENTLOG-schema DataFrame → XES-convention DataFrame."""
    df = _normalized(events, *_signature(params))
    window = Fi.timestamp_between(params.start_date, params.end_date, XES_TIMESTAMP)
    if window is not None:  # F5
        df = df.filter(window)
    if params.resource_ids is not None:  # F2
        df = Fi.filter_resources(df, params.resource_ids)
    return df


def _signature(params: EventLogParams) -> tuple:
    """The hashable part of ``params`` the normalization depends on."""
    remarks = tuple(params.remarks_keys) if params.deserialize_remarks else ()
    return (params.include_bot_messages, params.include_life_cycle_start, remarks,
            tuple(params.recode_map.items()), params.raw_bot_code)


@functools.lru_cache(maxsize=_NORMALIZED_MEMO_SIZE)
def _normalized(
    events: DataFrame,
    include_bot_messages: bool,
    include_life_cycle_start: bool,
    remarks_keys: tuple[str, ...],
    recode_items: tuple[tuple[str, str], ...],
    raw_bot_code: str,
) -> DataFrame:
    """Every step except F2 and F5, memoized; the ``events`` object itself is
    part of the key, so another table or session misses. A hit hands the same
    DataFrame to every caller: it is immutable, and ``cache()`` acts on the
    plan, which equal plans shared before too. An entry keeps its ``events``
    plan alive (for a plan over local rows, those rows)."""
    df = events.filter(Fi.case_not_null())  # F1
    if not include_bot_messages:  # F3 (pre-recode, in-SQL in reference)
        df = df.filter(Fi.exclude_raw_bot_events(raw_bot_code))
    if not include_life_cycle_start:  # F4
        df = df.filter(Fi.exclude_lifecycle_start())

    df = df.withColumn("EVENT_TYPE", Tr.recode_event_type(dict(recode_items)))  # P2
    if not include_bot_messages:  # F6 (post-recode keep-list)
        df = df.filter(Fi.keep_user_and_service_events())

    df = Tr.rename_to_xes(df)  # P1
    if not include_life_cycle_start:  # F7 (reference re-applies post-rename)
        df = df.filter(Fi.lifecycle_complete_only(XES_LIFECYCLE))
    df = Tr.cast_timestamp(df)  # P3
    if remarks_keys:  # P5
        df = Tr.flatten_remarks(df, list(remarks_keys))
    df = Tr.fill_defaults(df)  # P4
    return df


def events_fixture_as_eventlog(events: DataFrame) -> DataFrame:
    """Adapter: the driver fixture ``events`` table → EVENTLOG shape.

    Deterministic derivations (mirrored 1:1 in the DuckDB oracle SQL so the
    correctness gate covers the real pipeline, not a toy):

    * CASE_ID: user_id as string, NULL for every 97th event (exercises F1)
    * LIFECYCLE_PHASE: NULL / 'start' / 'complete' by event_id mod (F4/P4)
    * RESOURCE: user_id as string (F2 IN-lists)
    * RESOURCE_TYPE: 'bot' for user_id % 3 == 0 else 'service'
    * REMARKS: the props JSON payload (P5/P6)
    """
    return events.select(
        F.col("event_type").alias("EVENT_TYPE"),
        F.when(F.col("event_id") % 97 == 0, F.lit(None)).otherwise(F.col("user_id").cast("string")).alias("CASE_ID"),
        F.col("event_type").alias("ACTIVITY_NAME"),
        F.col("ts").alias("TIME_STAMP"),
        F.when(F.col("event_id") % 11 == 0, F.lit(None))
        .when(F.col("event_id") % 7 == 0, F.lit("start"))
        .otherwise(F.lit("complete"))
        .alias("LIFECYCLE_PHASE"),
        F.col("user_id").cast("string").alias("RESOURCE"),
        F.when(F.col("user_id") % 3 == 0, F.lit("bot")).otherwise(F.lit("service")).alias("RESOURCE_TYPE"),
        F.col("props").alias("REMARKS"),
    )


# SQL fragment of the same adapter for the DuckDB oracle (kept adjacent so the
# two stay in lock-step; any edit here must edit both).
EVENTS_FIXTURE_AS_EVENTLOG_SQL = """
SELECT
  event_type AS "EVENT_TYPE",
  CASE WHEN event_id % 97 = 0 THEN NULL ELSE CAST(user_id AS VARCHAR) END AS "CASE_ID",
  event_type AS "ACTIVITY_NAME",
  ts AS "TIME_STAMP",
  CASE WHEN event_id % 11 = 0 THEN NULL
       WHEN event_id % 7 = 0 THEN 'start'
       ELSE 'complete' END AS "LIFECYCLE_PHASE",
  CAST(user_id AS VARCHAR) AS "RESOURCE",
  CASE WHEN user_id % 3 = 0 THEN 'bot' ELSE 'service' END AS "RESOURCE_TYPE",
  props AS "REMARKS"
FROM events
"""

# Recode map for the fixture's event_type domain {error,signup,purchase,view,click}
# — the structural analogue of the MobSOS SERVICE_CUSTOM_MESSAGE_{1,2,3} recode.
FIXTURE_RECODE = {
    "click": "USER_MESSAGE",
    "view": "BOT_MESSAGE",
    "purchase": "SERVICE_REQUEST",
}
FIXTURE_RAW_BOT_CODE = "view"
