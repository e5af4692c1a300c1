"""Parquet lake sources.

The reference reads MySQL eagerly into pandas (event_reader.py:71-72). The lake
path here is columnar parquet: Catalyst prunes columns and pushes predicates
into the scan (verify with ``df.explain`` → ``PushedFilters`` / ``ReadSchema``),
and at 100 TB the event table is expected to be date-partitioned
(``partitionBy(event_date)``) so range filters prune whole partitions.
"""

from __future__ import annotations

import functools
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

KNOWN_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


#: Logical-PLAN memo for ``load_table`` (r12, guide §1/§5 driver boundary).
#: ``spark.read.parquet`` re-reads the footer schema on EVERY call (~80 ms
#: driver latency) and the NTZ projection assembly adds 20–90 ms more —
#: measured 95–170 ms per call, and a bench pass issues 100+ calls (~6–8 s
#: of the cold lane). A DataFrame is an immutable LAZY plan: memoizing it
#: caches no data and no results — every action still scans the parquet
#: files — so this is a schema/plan cache, not result caching. Keyed by
#: (session, applicationId, absolute path, mtime, size): another session or
#: a changed file misses. An LRU bounded to a few times ``KNOWN_TABLES``, so
#: a long-lived service that sees many file versions or sessions does not
#: grow it without limit.
_PLAN_MEMO_SIZE = 4 * len(KNOWN_TABLES)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table from ``{sf_dir}/{name}.parquet``.

    Timestamp normalization: the fixtures store naive (no-timezone) parquet
    timestamps, which Spark 4 reads as TIMESTAMP_NTZ, while older fixture
    generations used TIMESTAMP(NANOS) (readable only via
    ``spark.sql.legacy.parquet.nanosAsLong`` as epoch-nanos LongType). Every
    timestamp column is normalized here to plain TIMESTAMP (LTZ) under a UTC
    session timezone, so downstream epoch math (``unix_micros``) and µs-string
    formatting behave identically in ANY caller session — including the
    driver's own plain SparkSession — and match DuckDB's naive-timestamp
    arithmetic on the same files. Confs are runtime-set (not builder-set) for
    exactly that reason.
    """
    # NTZ→LTZ cast interprets the wall clock in the session timezone; pin UTC
    # so the interpretation is deterministic and matches the DuckDB oracle.
    # (Set on every call — memo hits must behave identically for callers
    # that rely on the loader establishing these confs.)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        st = os.stat(path)
    except OSError:  # non-local path: no memo
        return _read_table(spark, path, name)
    return _memo_table(spark, spark.sparkContext.applicationId, os.path.abspath(path), st.st_mtime_ns,
                       st.st_size, name)


@functools.lru_cache(maxsize=_PLAN_MEMO_SIZE)
def _memo_table(spark: SparkSession, app_id: str, path: str, mtime_ns: int, size: int, name: str) -> DataFrame:
    """``_read_table`` memoized; the session object itself is part of the key."""
    return _read_table(spark, path, name)


def _read_table(spark: SparkSession, path: str, name: str) -> DataFrame:
    df = spark.read.parquet(path)
    if name == "events" and isinstance(df.schema["ts"].dataType, T.LongType):
        # Integer div: epoch-nanos (~1.7e18) exceeds double's exact range.
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    ntz_cols = [f.name for f in df.schema.fields if isinstance(f.dataType, T.TimestampNTZType)]
    if ntz_cols:
        # One projection (not a withColumn chain) keeps the analyzed plan flat.
        df = df.select(
            *[
                F.col(f.name).cast(T.TimestampType()).alias(f.name) if f.name in ntz_cols else F.col(f.name)
                for f in df.schema.fields
            ]
        )
    return df


def _conf_bytes(spark: SparkSession, key: str, default: int) -> int:
    """Parse a Spark size conf ("128MB", "4194304b", plain bytes)."""
    raw = str(spark.conf.get(key, str(default))).strip().lower()
    units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
    num = raw
    mult = 1
    for suffix, m in (("kb", units["k"]), ("mb", units["m"]), ("gb", units["g"]),
                      ("tb", units["t"]), ("b", 1),
                      ("k", units["k"]), ("m", units["m"]), ("g", units["g"]),
                      ("t", units["t"])):
        if raw.endswith(suffix):
            num, mult = raw[: -len(suffix)], m
            break
    try:
        return int(float(num) * mult)
    except ValueError:
        return default


def _estimated_scan_partitions(df: DataFrame) -> int | None:
    """Estimate the file-source scan's partition count from file sizes using
    Spark's own split formula (FilePartition.maxSplitBytes — public code):
    maxSplit = min(maxPartitionBytes, max(openCostInBytes, totalBytes/cores)),
    partitions ≈ Σ ceil(size / maxSplit). Local-filesystem paths only
    (returns None otherwise). The point: the exact probe
    (``df.rdd.getNumPartitions()``) forces a full plan→RDD conversion —
    measured 0.12–1.0 s of driver time PER CALL, and the similarity/
    retrieval plans call this helper at 120+ sites — where stat'ing the
    files costs ~5 ms. Estimate error only shifts the repartition
    heuristic, never results (every operator is partition-count
    insensitive by the exactness contracts)."""
    import os as _os
    from urllib.parse import urlparse

    try:
        files = df.inputFiles()
        sizes = []
        for uri in files:
            parsed = urlparse(uri)
            if parsed.scheme not in ("", "file"):
                return None
            sizes.append(_os.path.getsize(parsed.path))
    except Exception:  # noqa: BLE001 — any surprise → exact probe fallback
        return None
    if not sizes:
        return 0
    spark = df.sparkSession
    max_pb = _conf_bytes(spark, "spark.sql.files.maxPartitionBytes", 128 << 20)
    open_cost = _conf_bytes(spark, "spark.sql.files.openCostInBytes", 4 << 20)
    cores = spark.sparkContext.defaultParallelism
    total = sum(s + open_cost for s in sizes)
    max_split = min(max_pb, max(open_cost, total // max(cores, 1)))
    return sum(-(-s // max(max_split, 1)) for s in sizes)


def ensure_min_partitions(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Guard against pathological input layout (one giant/few files): if the
    scan yields fewer partitions than requested, round-robin repartition so
    downstream per-row-heavy operators use the whole cluster. A no-op on
    well-laid-out lake tables (thousands of splits), so it costs nothing at
    100 TB but un-serializes small local fixtures."""
    min_partitions = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    current = _estimated_scan_partitions(df)
    if current is None:  # non-local or non-file-scan input: exact probe
        current = df.rdd.getNumPartitions()
    if current < min_partitions:
        return df.repartition(min_partitions)
    return df


def load_tables(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = KNOWN_TABLES) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in names}


def register_temp_views(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = KNOWN_TABLES) -> None:
    """Register each table as a temp view so ``spark.sql`` can use it."""
    for name, df in load_tables(spark, sf_dir, names).items():
        df.createOrReplaceTempView(name)
