"""SparkSession factory tuned for this engine.

Local testing runs ``local[N]`` (single JVM); the conf below is written for a
real multi-executor cluster at ~100 TB and degrades gracefully to local mode:

* AQE on — runtime coalescing of shuffle partitions, skew-join splitting.
* ``spark.sql.shuffle.partitions`` sized from env (32 locally; on a cluster set
  2-3x total cores; AQE coalesces down so oversizing is cheap).
* UTC session timezone — event timestamps are instants; keeps parity with the
  DuckDB correctness oracle and avoids DST-dependent plans.
* Arrow enabled — every pandas-UDF boundary is Arrow-batched.
* Python↔JVM sockets are Unix-domain sockets in a private directory. Over
  local TCP, ``toLocalIterator`` stalls about 40 ms per partition (the XES
  sink streams every single-file artifact through it); see
  ENGINEERING_NOTES pitfall 13.
"""

from __future__ import annotations

import atexit
import functools
import os
import shutil
import tempfile

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))

#: Longest AF_UNIX socket path on Linux: ``sun_path`` is 108 bytes with its NUL.
AF_UNIX_PATH_MAX = 107
#: Bytes Spark appends to the socket directory: ``/.<uuid4>.sock``.
SOCKET_NAME_BYTES = 43


def choose_socket_dir() -> str:
    """A new mode-0700 directory for Spark's Unix-domain sockets.

    Over a Unix socket PySpark sends no auth secret, so the directory's
    permissions are the only access control. It is made under the temp
    directory when Spark's socket names fit the AF_UNIX path limit there,
    else under ``/tmp``."""
    path = tempfile.mkdtemp(prefix="spark-uds-")  # mkdtemp makes it mode 0700
    if len(os.fsencode(path)) + SOCKET_NAME_BYTES > AF_UNIX_PATH_MAX:
        os.rmdir(path)
        path = tempfile.mkdtemp(prefix="spark-uds-", dir="/tmp")
    return path


@functools.cache
def _socket_dir() -> str:
    """This process's socket directory, removed at exit."""
    path = choose_socket_dir()
    owner = os.getpid()

    def remove() -> None:
        if os.getpid() == owner:  # not in a forked child
            shutil.rmtree(path, ignore_errors=True)

    atexit.register(remove)
    return path


def get_spark(
    app_name: str = "mobsos-event-log-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's default tuning."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    shuffle_partitions = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # Driver fixtures store ts as parquet TIMESTAMP(NANOS), which Spark's
        # vectorized reader rejects; read as long and convert in the loader.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Broadcast threshold: dims like region/nation/supplier and the
        # bot-resource dimension are tiny; let them broadcast aggressively.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Catalyst sizes relations by COMPRESSED parquet bytes; columnar text
        # compresses ~10:1, so a corpus-scaled side can sit under the
        # broadcast threshold on disk while its HashedRelation blows past
        # driver memory. Round-7 x100 probe (tools/probe_round7b.py): the
        # PPJoin shingle intermediates of a 78 MB parquet were estimated at
        # 33-49 MiB, statically broadcast, and killed the 8g driver. A 4x
        # compression factor makes the estimate reflect in-memory reality
        # (probe green after) without flipping any small-SF plan — the
        # largest sf0.1 table is 11 MB -> 44 MB, still under the threshold.
        .config("spark.sql.sources.fileCompressionFactor", "4.0")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.python.unix.domain.socket.enabled", "true")
        .config("spark.python.unix.domain.socket.dir", _socket_dir())
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
