"""Filter operators F1-F9 (SURVEY.md §2.2) as composable Column predicates.

The reference builds these by string-concatenating SQL clauses
(event_reader.py:59-69) and re-applying some in pandas (event_reader.py:18-22).
Here each predicate is a Column expression: Catalyst collapses duplicates,
pushes them into the scan (parquet row-group / JDBC WHERE), and the
string-concatenation hazard class disappears.
"""

from __future__ import annotations

import calendar
import functools
import operator
import time
from datetime import datetime

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mobsos_event_log_generator_spark.schema import KEPT_EVENT_TYPES_NO_BOT

# Broadcast-semi-join fallback threshold for IN-lists: beyond this many ids an
# ``isin`` literal list bloats the plan; a broadcast left-semi join scales.
ISIN_BROADCAST_THRESHOLD = 10_000


def case_not_null(case_col: str = "CASE_ID") -> Column:
    """F1 — ``CASE_ID IS NOT NULL`` (always applied; event_reader.py:59)."""
    return F.col(case_col).isNotNull()


def resource_in(resource_ids: list[str], resource_col: str = "RESOURCE") -> Column:
    """F2 — ``RESOURCE IN (...)`` (event_reader.py:58-59)."""
    return F.col(resource_col).isin(list(resource_ids))


def filter_resources(df: DataFrame, resource_ids: list[str], resource_col: str = "RESOURCE") -> DataFrame:
    """F2 at scale: literal IN-list for small lists, broadcast left-semi join
    for huge ones (a 1M-id ``isin`` would bloat the plan and defeat codegen)."""
    if len(resource_ids) <= ISIN_BROADCAST_THRESHOLD:
        return df.filter(resource_in(resource_ids, resource_col))
    ids_df = df.sparkSession.createDataFrame([(r,) for r in resource_ids], f"{resource_col} string")
    return df.join(F.broadcast(ids_df), on=resource_col, how="left_semi")


def exclude_raw_bot_events(raw_bot_code: str, event_type_col: str = "EVENT_TYPE") -> Column:
    """F3 — pre-recode bot-message exclusion (event_reader.py:60-61).

    SQL ``!=`` semantics: NULL event types are dropped too (3-valued logic),
    matching the reference's rendered predicate.
    """
    return F.col(event_type_col) != F.lit(raw_bot_code)


def exclude_lifecycle_start(lifecycle_col: str = "LIFECYCLE_PHASE") -> Column:
    """F4 — ``LIFECYCLE_PHASE != 'start'`` (event_reader.py:62-63).

    Note: like the reference's SQL, this drops NULL lifecycle rows when the
    start-exclusion flag is off (3VL) — the fillna-to-'complete' (P4) only ever
    sees NULLs when lifecycle starts are included.
    """
    return F.col(lifecycle_col) != F.lit("start")


def timestamp_between(
    start: datetime | str | None,
    end: datetime | str | None,
    ts_col: str = "TIME_STAMP",
) -> Column | None:
    """F5 — closed-interval timestamp range, each bound optional
    (event_reader.py:64-69); ``None`` when neither bound is given, so the
    caller adds no filter at all. On a date-partitioned lake table this
    predicate also prunes partitions.

    ``datetime`` bounds become one parsed expression over their epoch micros
    (``timestamp_micros(<integer>)``; Catalyst folds it to a timestamp
    literal, which the scan pushes down). The micros are what PySpark's
    datetime converter computes: naive = process-local time, aware = UTC.
    Unlike the converter, nothing re-reads them through
    ``java.sql.Timestamp``'s hybrid calendar in the JVM's default zone, which
    moves bounds before the 1582 Gregorian switch, and before about 1900 in
    zones with local-mean-time history. Building a two-bound window this way
    takes 3 py4j calls instead of about 75 through Column algebra. ``str``
    bounds stay string literals that Spark casts. The SQL text holds only
    integers and ``ts_col``, quoted as one top-level column name."""
    terms, sql = [], []
    quoted = "`" + ts_col.replace("`", "``") + "`"
    for op, sql_op, bound in ((operator.ge, ">=", start), (operator.le, "<=", end)):
        if isinstance(bound, datetime):
            sql.append(f"{quoted} {sql_op} timestamp_micros({_epoch_micros(bound)})")
        elif bound is not None:
            terms.append(op(F.col(ts_col), F.lit(bound)))
    if sql:
        terms.append(F.expr(" AND ".join(sql)))
    return functools.reduce(operator.and_, terms) if terms else None


def _epoch_micros(bound: datetime) -> int:
    """``bound`` as epoch microseconds, computed as PySpark's
    ``DatetimeConverter`` computes them."""
    seconds = calendar.timegm(bound.utctimetuple()) if bound.tzinfo else time.mktime(bound.timetuple())
    return int(seconds) * 1_000_000 + bound.microsecond


def keep_user_and_service_events(event_type_col: str = "EVENT_TYPE") -> Column:
    """F6 — post-recode keep-filter: only USER_MESSAGE / SERVICE_REQUEST survive
    when bot messages are excluded; drops every other event type too
    (event_reader.py:18-20 — strictly stronger than F3)."""
    return F.col(event_type_col).isin(*KEPT_EVENT_TYPES_NO_BOT)


def lifecycle_complete_only(lifecycle_col: str) -> Column:
    """F7 — keep ``lifecycle == 'complete'`` (event_reader.py:21-22; redundant
    re-application of F4 post-rename — Catalyst collapses the duplicate)."""
    return F.col(lifecycle_col) == F.lit("complete")
