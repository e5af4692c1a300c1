"""The engine session's Python↔JVM transport: Unix-domain sockets in a
private directory that fits the AF_UNIX path limit and is removed at exit."""

from __future__ import annotations

import os
import shutil
import stat
import subprocess
import sys
import tempfile

from mobsos_event_log_generator_spark import session


def test_socket_dir_falls_back_when_tmpdir_is_too_long(tmp_path, monkeypatch):
    long_root = str(tmp_path)
    long_root += "/" + "d" * (100 - len(long_root) - 1)
    os.makedirs(long_root)
    assert len(long_root) == 100
    monkeypatch.setenv("TMPDIR", long_root)
    monkeypatch.setattr(tempfile, "tempdir", None)  # gettempdir() re-reads TMPDIR
    path = session.choose_socket_dir()
    try:
        assert len(os.fsencode(path)) + session.SOCKET_NAME_BYTES <= session.AF_UNIX_PATH_MAX
        assert stat.S_IMODE(os.stat(path).st_mode) == 0o700
        assert not path.startswith(long_root)
    finally:
        os.rmdir(path)


def test_socket_dir_uses_a_short_tmpdir(monkeypatch):
    short_root = tempfile.mkdtemp(dir="/tmp")
    monkeypatch.setenv("TMPDIR", short_root)
    monkeypatch.setattr(tempfile, "tempdir", None)
    try:
        path = session.choose_socket_dir()
        assert os.path.dirname(path) == short_root
        assert stat.S_IMODE(os.stat(path).st_mode) == 0o700
    finally:
        shutil.rmtree(short_root)


def test_socket_dir_is_removed_at_exit():
    code = "from mobsos_event_log_generator_spark import session; print(session._socket_dir())"
    out = subprocess.run([sys.executable, "-c", code], check=True, capture_output=True, text=True)
    path = out.stdout.strip()
    assert os.path.basename(path).startswith("spark-uds-")
    assert not os.path.exists(path)


def test_session_runs_python_workers_over_unix_sockets(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.unix.domain.socket.enabled") == "true"
    socket_dir = conf.get("spark.python.unix.domain.socket.dir")
    assert stat.S_IMODE(os.stat(socket_dir).st_mode) == 0o700
    df = spark.range(0, 10, numPartitions=4)
    assert [r.id for r in df.toLocalIterator(prefetchPartitions=True)] == list(range(10))
    assert df.rdd.map(lambda r: r.id * 2).sum() == 90  # a Python worker round trip
