"""Trace assembly (A1-A3, SURVEY.md §2.4-2.5).

The reference never groups explicitly — ``pm4py.write_xes`` groups rows into
``<trace>`` elements by case id with per-trace timestamp ordering
(app.py:216-217). Here it is a first-class operator:

    groupBy(case).agg(sort_array(collect_list(struct(ts, tie, event...))))

``sort_array`` on structs orders by fields left-to-right, so (ts, activity)
gives a deterministic order even for equal timestamps. This is ONE shuffle on
the case key; map-side partial aggregation combines before the exchange, and
AQE handles skewed cases. Degenerate giant cases are the known risk
(SURVEY.md §7.4) — ``max_events_per_trace`` caps them defensively.
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mobsos_event_log_generator_spark.schema import XES_ACTIVITY, XES_CASE, XES_TIMESTAMP


def assemble_traces(
    df: DataFrame,
    case_col: str = XES_CASE,
    ts_col: str = XES_TIMESTAMP,
    activity_col: str = XES_ACTIVITY,
    event_cols: list[str] | None = None,
    max_events_per_trace: int | None = None,
) -> DataFrame:
    """One row per case: ``events`` = timestamp-ordered array of event structs.

    Output schema: ``case`` (string), ``events`` (array<struct<ts, activity,
    ...extra>>), ``num_events``, ``trace_start``, ``trace_end``.
    """
    event_cols = event_cols if event_cols is not None else [c for c in df.columns if c != case_col]
    group, aggs = _trace_columns(case_col, ts_col, activity_col, tuple(event_cols))
    out = df.groupBy(group).agg(*aggs)
    if max_events_per_trace is not None:
        out = out.withColumn("events", F.slice("events", 1, max_events_per_trace))
    return out


@functools.lru_cache(maxsize=64)
def _trace_columns(
    case_col: str, ts_col: str, activity_col: str, event_cols: tuple[str, ...]
) -> tuple[Column, tuple[Column, ...]]:
    """The grouping Column and the aggregate Columns of ``assemble_traces``,
    built once per column signature. They are unresolved expressions with no
    session or data in them, so every DataFrame with these column names can
    share them. For the XES sink's event structs, building them anew
    took about 240 py4j calls (30 ms) per request on a 4-core host."""
    struct_fields: list[Column] = [F.col(ts_col).alias("ts"), F.col(activity_col).alias("activity")]
    for c in event_cols:
        if c not in (ts_col, activity_col):
            struct_fields.append(F.col(c))
    aggs = (
        F.sort_array(F.collect_list(F.struct(*struct_fields))).alias("events"),
        F.count(F.lit(1)).alias("num_events"),
        F.min(ts_col).alias("trace_start"),
        F.max(ts_col).alias("trace_end"),
    )
    return F.col(case_col).alias("case"), aggs


def trace_stats(
    df: DataFrame,
    case_col: str = XES_CASE,
    ts_col: str = XES_TIMESTAMP,
    activity_col: str = XES_ACTIVITY,
) -> DataFrame:
    """Per-case summary (the oracle-friendly projection of ``assemble_traces``):
    event count, first/last timestamp, duration, and the ordered activity path
    joined to a string (deterministic tie-break on (ts, activity))."""
    return df.groupBy(F.col(case_col).alias("case")).agg(
        F.count(F.lit(1)).alias("num_events"),
        F.min(ts_col).alias("trace_start"),
        F.max(ts_col).alias("trace_end"),
        (F.unix_micros(F.max(ts_col)) - F.unix_micros(F.min(ts_col))).alias("duration_us"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col(ts_col).alias("ts"), F.col(activity_col).alias("activity")))
                ),
                lambda x: x["activity"],
            ),
            ",",
        ).alias("activity_path"),
    )


def global_time_bounds(df: DataFrame, ts_col: str = XES_TIMESTAMP) -> DataFrame:
    """A1 — global min/max timestamp (event_reader.py:26-29). Parquet aggregate
    pushdown answers this from footer stats when enabled."""
    return df.agg(F.min(ts_col).alias("min_ts"), F.max(ts_col).alias("max_ts"))


def is_empty(df: DataFrame) -> bool:
    """A3 — emptiness short-circuit (event_reader.py:24-25, app.py:93-94)."""
    return df.isEmpty()
