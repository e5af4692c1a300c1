"""XES event-log sink (S5, SURVEY.md §2.1) — pm4py-compatible XML.

Reference behavior: ``pm4py.write_xes(event_log, path, case_id_key=
'case:concept:name')`` (app.py:216-217) groups rows into ``<trace>`` elements
by case id, orders events by timestamp, and types attributes (``date`` for
``time:timestamp``, ``string`` otherwise) under the standard Concept/Time/
Lifecycle extension headers.

Spark-first design: the per-trace XML is built **entirely JVM-side** as a
Column expression (``transform`` over the sorted event array + ``concat_ws``),
so serialization runs in whole-stage codegen with zero Python in the row path.
Two sink modes:

* ``single_file=True`` — one valid XES document; trace XML strings are
  streamed through ``toLocalIterator`` (bounded driver memory — never a full
  ``collect``) into one file. For interactive/e2e parity with the reference.
  ``xes_trace_stream`` exposes that stream, so a caller can look at the first
  trace (is the log empty?) before anything is written. Each partition
  reaches the driver over its own local socket; over TCP that costs about
  40 ms per partition, so ``session.get_spark`` uses Unix-domain sockets
  (ENGINEERING_NOTES pitfall 13). Trace assembly groups by case, which
  needs an Exchange unless the log's plan already has one partition:
  ``EventLogService`` coalesces a one-partition source's log to one
  partition, so its request is a single job.
* ``single_file=False`` — the 100 TB path: traces are hash-distributed and
  each partition writes one complete, independently-parseable XES file
  (``part-*.xes``) via ``mapPartitions`` (Python touches only partition-sized
  string batches, not rows).

Both modes publish atomically: a document is written under a temporary name
that does not end in ``.xes`` and moved into place with ``os.replace``, so a
reader never sees a truncated file under the final name.
"""

from __future__ import annotations

import contextlib
import functools
import html
import os
import tempfile
from collections.abc import Iterable, Iterator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mobsos_event_log_generator_spark.operators.traces import assemble_traces
from mobsos_event_log_generator_spark.schema import XES_ACTIVITY, XES_CASE, XES_TIMESTAMP

XES_HEADER = (
    '<?xml version="1.0" encoding="utf-8" ?>\n'
    '<log xes.version="1849-2016" xes.features="nested-attributes" '
    'xmlns="http://www.xes-standard.org/">\n'
    '\t<extension name="Concept" prefix="concept" '
    'uri="http://www.xes-standard.org/concept.xesext"/>\n'
    '\t<extension name="Time" prefix="time" '
    'uri="http://www.xes-standard.org/time.xesext"/>\n'
    '\t<extension name="Lifecycle" prefix="lifecycle" '
    'uri="http://www.xes-standard.org/lifecycle.xesext"/>\n'
)
XES_FOOTER = "</log>\n"

# ISO-8601 with microseconds; UTC offset rendered by Spark's XXX pattern.
_ISO_FMT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"

# The process umask, read once: published files get the mode open() gives.
_UMASK = os.umask(0)
os.umask(_UMASK)


def _xml_escape(col: Column) -> Column:
    """XML attribute-value escaping as JVM string ops (codegen-friendly).

    Also strips the control characters XML 1.0 forbids entirely (C0 except
    tab/newline/carriage-return) — they cannot be represented even escaped,
    and pm4py's parser rejects documents containing them."""
    out = F.regexp_replace(col, "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]", "")
    out = F.replace(out, F.lit("&"), F.lit("&amp;"))
    for raw, esc in (("<", "&lt;"), (">", "&gt;"), ('"', "&quot;"), ("'", "&apos;")):
        out = F.replace(out, F.lit(raw), F.lit(esc))
    # Whitespace other than plain space is legal in attributes but gets
    # normalized to spaces by conforming parsers; character references
    # survive round-trips.
    for raw, ref in (("\n", "&#10;"), ("\t", "&#9;"), ("\r", "&#13;")):
        out = F.replace(out, F.lit(raw), F.lit(ref))
    return out


def _xes_tag(dtype: str) -> str:
    """Spark dtype name → XES attribute element tag (IEEE 1849-2016 types).

    The reference emits only string/date (pm4py defaults); typed int/float/
    boolean attributes are the standard's full set and round-trip losslessly
    through conforming tools."""
    if dtype in ("byte", "tinyint", "short", "smallint", "int", "integer", "long", "bigint"):
        return "int"
    if dtype in ("float", "double") or dtype.startswith("decimal"):
        return "float"
    if dtype == "boolean":
        return "boolean"
    if dtype in ("timestamp", "timestamp_ntz", "date"):
        return "date"
    return "string"


def _attr_value(col: Column, tag: str) -> Column:
    """Render an attribute value for its XES tag (all JVM-side casts).

    ``boolean`` casts to ``true``/``false`` and ``date`` to ISO-8601 — both
    exactly what the XES schema requires; numeric casts are Spark's canonical
    decimal renderings."""
    if tag == "date":
        return F.date_format(col, _ISO_FMT)
    return _xml_escape(col.cast("string"))


def _event_xml(event: Column, attr_fields: list[str], attr_tags: dict[str, str] | None = None) -> Column:
    """One ``<event>`` element from a sorted event struct (ts, activity, ...)."""
    attr_tags = attr_tags or {}
    parts: list[Column] = [F.lit("\t\t<event>\n")]
    parts.append(
        F.concat(
            F.lit('\t\t\t<string key="concept:name" value="'),
            _xml_escape(F.coalesce(event["activity"], F.lit(""))),
            F.lit('"/>\n'),
        )
    )
    parts.append(
        F.concat(
            F.lit('\t\t\t<date key="time:timestamp" value="'),
            F.date_format(event["ts"], _ISO_FMT),
            F.lit('"/>\n'),
        )
    )
    for name in attr_fields:
        tag = attr_tags.get(name, "string")
        parts.append(
            F.when(
                event[name].isNotNull(),
                F.concat(
                    F.lit(f'\t\t\t<{tag} key="{html.escape(name, quote=True)}" value="'),
                    _attr_value(event[name], tag),
                    F.lit('"/>\n'),
                ),
            ).otherwise(F.lit(""))
        )
    parts.append(F.lit("\t\t</event>\n"))
    return F.concat(*parts)


def traces_to_xml(
    df: DataFrame,
    case_col: str = XES_CASE,
    ts_col: str = XES_TIMESTAMP,
    activity_col: str = XES_ACTIVITY,
    event_attrs: list[str] | None = None,
) -> DataFrame:
    """Normalized XES-convention DataFrame → one row per trace with its
    complete ``<trace>...</trace>`` XML in column ``xml`` (all JVM-side)."""
    if event_attrs is None:
        event_attrs = [c for c in df.columns if c not in (case_col, ts_col, activity_col)]
    dtypes = dict(df.dtypes)
    tags = tuple(_xes_tag(dtypes.get(name, "string")) for name in event_attrs)
    traces = assemble_traces(df, case_col, ts_col, activity_col, event_cols=[ts_col, activity_col, *event_attrs])
    return traces.select(F.col("case"), _trace_xml(tuple(event_attrs), tags).alias("xml"))


@functools.lru_cache(maxsize=64)
def _trace_xml(event_attrs: tuple[str, ...], tags: tuple[str, ...]) -> Column:
    """The ``<trace>`` XML Column over ``assemble_traces`` output, built once
    per attribute signature. Building it takes about 250 py4j calls (0.15 s
    on a 4-core host); the result is an unresolved expression with no
    session or data in it, so every DataFrame with the same attribute names
    and types can share it."""
    attr_tags = dict(zip(event_attrs, tags))
    event_xml = F.array_join(F.transform(F.col("events"), lambda e: _event_xml(e, list(event_attrs), attr_tags)), "")
    return F.concat(
        F.lit("\t<trace>\n"),
        F.lit('\t\t<string key="concept:name" value="'),
        _xml_escape(F.col("case")),
        F.lit('"/>\n'),
        event_xml,
        F.lit("\t</trace>\n"),
    )


def xes_trace_stream(
    df: DataFrame,
    case_col: str = XES_CASE,
    ts_col: str = XES_TIMESTAMP,
    activity_col: str = XES_ACTIVITY,
    event_attrs: list[str] | None = None,
) -> Iterator[str]:
    """The ``<trace>`` XML strings of ``df``'s log, streamed to the driver a
    partition at a time. Lazy: no Spark job starts before the first
    ``next()``. ``write_xes`` accepts the stream (also once started) in place
    of the DataFrame."""
    xml_df = traces_to_xml(df, case_col, ts_col, activity_col, event_attrs).select("xml")
    for row in xml_df.toLocalIterator(prefetchPartitions=True):
        yield row["xml"]


def _write_file(traces: Iterable[str], path: str) -> int:
    """Write one XES document to ``path`` atomically; returns the trace count.

    The document goes to a ``mkstemp`` file in the target directory (its
    name does not end in ``.xes``) and replaces ``path`` only once complete,
    so a crashed or concurrent writer never exposes a truncated log. On any
    error the temporary file is removed and the error re-raised."""
    directory = os.path.dirname(os.path.abspath(path))
    os.makedirs(directory, exist_ok=True)
    fd, tmp = tempfile.mkstemp(dir=directory, prefix=".xes-", suffix=".tmp")
    written = 0
    try:
        with os.fdopen(fd, "w", encoding="utf-8") as f:
            os.fchmod(fd, 0o666 & ~_UMASK)  # mkstemp creates 0600; keep open()'s mode
            f.write(XES_HEADER)
            for xml in traces:
                f.write(xml)
                written += 1
            f.write(XES_FOOTER)
        os.replace(tmp, path)
    except BaseException:
        with contextlib.suppress(FileNotFoundError):
            os.remove(tmp)
        raise
    return written


def write_xes(
    df: DataFrame | Iterable[str],
    path: str,
    case_col: str = XES_CASE,
    ts_col: str = XES_TIMESTAMP,
    activity_col: str = XES_ACTIVITY,
    event_attrs: list[str] | None = None,
    single_file: bool = True,
    num_shards: int | None = None,
) -> int:
    """Write a pm4py-parseable XES log; returns the number of traces written.

    ``df`` is a normalized-log DataFrame, or (single file only) the
    ``<trace>`` strings of ``xes_trace_stream``.
    ``single_file=True`` → ``path`` is one ``.xes`` file (driver-streamed).
    ``single_file=False`` → ``path`` is a directory of ``part-*.xes`` shards,
    each a complete XES document (case-hash partitioned, order-independent).
    """
    if not isinstance(df, DataFrame):
        if not single_file:
            raise ValueError("a trace stream can only be written as a single file")
        return _write_file(df, path)
    if single_file:
        return _write_file(xes_trace_stream(df, case_col, ts_col, activity_col, event_attrs), path)

    xml_df = traces_to_xml(df, case_col, ts_col, activity_col, event_attrs)
    shards = num_shards or xml_df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    os.makedirs(path, exist_ok=True)

    def _emit(partition_index: int, rows: Iterator) -> Iterator[int]:
        # Python only concatenates partition-sized string batches here. Each
        # attempt writes its own temporary file, so a retried or speculative
        # task never leaves a half-written part-*.xes behind.
        from pyspark import TaskContext

        out = os.path.join(path, f"part-{partition_index:05d}.xes")
        tmp = f"{out}.{TaskContext.get().attemptNumber()}.tmp"
        written = 0
        try:
            with open(tmp, "w", encoding="utf-8") as f:
                f.write(XES_HEADER)
                for row in rows:
                    f.write(row.xml)
                    written += 1
                f.write(XES_FOOTER)
            if written:
                os.replace(tmp, out)
            else:
                os.remove(tmp)
                with contextlib.suppress(FileNotFoundError):
                    os.remove(out)  # a stale shard of an earlier export
        except BaseException:
            with contextlib.suppress(FileNotFoundError):
                os.remove(tmp)
            raise
        yield written

    return xml_df.repartition(int(shards), "case").rdd.mapPartitionsWithIndex(_emit).sum()


def _convert_xes_value(tag: str, value: str):
    """XES element tag → native Python value (int/float/boolean typed attrs;
    date and string stay strings — timestamps re-enter Spark via to_timestamp)."""
    if tag == "int":
        return int(value)
    if tag == "float":
        return float(value)
    if tag == "boolean":
        return value == "true"
    return value


def read_xes(path: str, typed: bool = False) -> list[dict]:
    """Parse an XES file back to a list of trace dicts (driver-side; for
    round-trip tests and small-log interop, not a distributed source).

    ``typed=True`` converts ``<int>``/``<float>``/``<boolean>`` attribute
    values to native Python types; default keeps every value a string (the
    historical behavior, and what the distributed map<string,string> reader
    mirrors)."""
    import xml.etree.ElementTree as ET

    ns = {"x": "http://www.xes-standard.org/"}
    root = ET.parse(path).getroot()

    def attrs(el) -> dict:
        out = {}
        for child in el:
            tag = child.tag.split("}")[-1]
            if tag in ("string", "date", "int", "float", "boolean"):
                v = child.get("value")
                out[child.get("key")] = _convert_xes_value(tag, v) if typed else v
        return out

    traces = []
    for tr in root.findall("x:trace", ns) or root.findall("trace"):
        t = {"attrs": attrs(tr), "events": []}
        for ev in tr.findall("x:event", ns) or tr.findall("event"):
            t["events"].append(attrs(ev))
        traces.append(t)
    return traces


def read_xes_distributed(spark, path: str):
    """Distributed XES source: each (complete, independently-parseable) XES
    file in ``path`` is parsed in parallel — the read-back pair of the
    sharded writer. One executor task parses one file via the binaryFile
    source + Arrow-batched mapInPandas; output is the flat event-log shape
    (one row per event with its trace id).

    For the single-giant-file layout use the driver-side ``read_xes`` —
    XML has no split points, so a monolithic file cannot parallelize (which
    is why the scale path writes shards in the first place).
    """
    import pandas as pd
    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField("trace", T.StringType()),
            T.StructField("activity", T.StringType()),
            T.StructField("ts", T.StringType()),
            T.StructField("attrs", T.MapType(T.StringType(), T.StringType())),
            T.StructField("attr_types", T.MapType(T.StringType(), T.StringType())),
        ]
    )

    def parse_files(batches):
        import xml.etree.ElementTree as ET

        for pdf in batches:
            rows = []
            for content in pdf["content"]:
                root = ET.fromstring(bytes(content).decode("utf-8"))
                ns = {"x": "http://www.xes-standard.org/"}

                def attrs_of(el):
                    out, tags = {}, {}
                    for child in el:
                        tag = child.tag.split("}")[-1]
                        if tag in ("string", "date", "int", "float", "boolean"):
                            out[child.get("key")] = child.get("value")
                            tags[child.get("key")] = tag
                    return out, tags

                for tr in root.findall("x:trace", ns) or root.findall("trace"):
                    t_attrs, _ = attrs_of(tr)
                    trace_id = t_attrs.get("concept:name", "")
                    for ev in tr.findall("x:event", ns) or tr.findall("event"):
                        a, tags = attrs_of(ev)
                        rows.append(
                            {
                                "trace": trace_id,
                                "activity": a.get("concept:name"),
                                "ts": a.get("time:timestamp"),
                                "attrs": a,
                                # values stay strings; the tag map lets the
                                # caller re-type columns losslessly
                                "attr_types": tags,
                            }
                        )
            yield pd.DataFrame(rows, columns=["trace", "activity", "ts", "attrs", "attr_types"])

    files = spark.read.format("binaryFile").option("pathGlobFilter", "*.xes").load(path)
    return files.select("content").mapInPandas(parse_files, out_schema)
