"""Projection / column-transform operators P1-P7 (SURVEY.md §2.3).

The reference does these eagerly in pandas (event_reader.py:11-45), including a
row-wise ``df.apply(axis=1)`` JSON flatten (its only "UDF",
event_reader.py:119-126). Every transform here is a built-in Column expression —
JSON parsing is ``from_json``/``get_json_object`` (JVM-side, codegen'd), so the
hot path never leaves the JVM.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mobsos_event_log_generator_spark.schema import (
    EVENT_TYPE_RECODE,
    EVENTLOG_TO_XES,
    REMARKS_KNOWN_KEYS,
    XES_LIFECYCLE,
    XES_TIMESTAMP,
)


def recode_event_type(
    recode_map: dict[str, str] | None = None, event_type_col: str = "EVENT_TYPE"
) -> Column:
    """P2 — value recode of EVENT_TYPE; unmapped codes pass through
    (event_reader.py:11-16)."""
    recode_map = recode_map or EVENT_TYPE_RECODE
    expr: Column = F.col(event_type_col)
    for src, dst in recode_map.items():
        expr = F.when(F.col(event_type_col) == src, F.lit(dst)).otherwise(expr)
    return expr


def rename_to_xes(df: DataFrame, rename_map: dict[str, str] | None = None) -> DataFrame:
    """P1 — XES normalization rename (event_reader.py:74-75)."""
    return df.withColumnsRenamed(rename_map or EVENTLOG_TO_XES)


def cast_timestamp(df: DataFrame, ts_col: str = XES_TIMESTAMP) -> DataFrame:
    """P3 — ensure the XES timestamp column is TimestampType
    (event_reader.py:44,77 — applied twice there; once here)."""
    if ts_col in df.columns and not isinstance(df.schema[ts_col].dataType, T.TimestampType):
        df = df.withColumn(ts_col, F.to_timestamp(F.col(ts_col)))
    return df


def fill_defaults(df: DataFrame, defaults: dict[str, object] | None = None) -> DataFrame:
    """P4 — null-defaulting, guarded by column existence (event_reader.py:34-43)."""
    if defaults is None:
        defaults = {XES_LIFECYCLE: "complete", **REMARKS_KNOWN_KEYS}
    present = {k: v for k, v in defaults.items() if k in df.columns}
    if present:
        df = df.fillna(present)
    return df


def remarks_as_map(remarks_col: str = "REMARKS") -> Column:
    """P5 (canonical form) — dynamic-key JSON payload as ``map<string,string>``.

    Lossless for row-varying keys (the reference's ``_extract_remarks`` merges
    whatever keys appear per row, event_reader.py:119-126). Malformed JSON →
    NULL map, mirroring the reference's silent skip.
    """
    return F.from_json(F.col(remarks_col), T.MapType(T.StringType(), T.StringType()))


def flatten_remarks(
    df: DataFrame,
    keys: list[str],
    remarks_col: str = "REMARKS",
    prefix: str = "",
) -> DataFrame:
    """P5/P6 — project known JSON keys to typed top-level columns.

    ``get_json_object`` compiles to a JVM JSON-path evaluator (the MySQL
    ``REMARKS->>"$.key"`` analogue, event_reader.py:113); one pass, no Python.
    """
    return df.withColumns(
        {f"{prefix}{k}": F.get_json_object(F.col(remarks_col), f"$.{k}") for k in keys}
    )


def infer_remarks_keys(
    df: DataFrame, remarks_col: str = "REMARKS", sample: int | None = None
) -> list[str]:
    """Two-pass dynamic-schema discovery for the REMARKS payload (SURVEY.md
    §7.4.2): one distributed scan unions every row's JSON keys, returning
    them sorted. The caller feeds the result to ``flatten_remarks`` for
    typed projection — replacing the reference's per-row
    ``json_data.keys()`` merge (event_reader.py:119-126).

    EXACT by default: ``explode(map_keys(from_json(...)))`` + distinct is a
    single JVM-side aggregate whose result is bounded by the number of
    DISTINCT keys (small by construction), never the row count — so a key
    that first appears in the last rows of a 100 TB table is still found.
    Pass ``sample=N`` only for an explicitly advisory bounded-rows probe
    (``LIMIT N`` before the aggregate — the pre-round-11 behavior)."""
    src = df.select(remarks_col)
    if sample is not None:
        src = src.limit(sample)
    rows = (
        src.select(F.explode(F.map_keys(remarks_as_map(remarks_col))).alias("k"))
        .distinct()
        .collect()
    )
    return sorted(str(r[0]) for r in rows)
