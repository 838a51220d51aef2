"""The Python-worker floor, two causes:

* importing the package makes ``importlib.invalidate_caches()`` re-read
  a zip archive on ``sys.path`` only when the archive changed (CPython
  3.12 behaviour, installed on older interpreters by
  ``xsearch_spark/__init__.py``). PySpark's worker invalidates at the
  start of every task, so without this every Python UDF task re-reads
  pyspark.zip and the Spark jar;
* the session links the JVM to its Python workers over Unix-domain
  sockets (``session.start_session``). Over loopback TCP a warm task's
  first input batch waits ~40 ms on a delayed ACK."""

from __future__ import annotations

import importlib
import os
import statistics
import sys
import zipfile
import zipimport

import pytest

import xsearch_spark  # noqa: F401  (installs the lazy invalidation)


def _write_zip(path: str, modules: dict[str, str]) -> None:
    # write aside and rename over: a rewrite is a new file, as when a
    # deployment replaces an archive
    tmp = path + ".tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for name, src in modules.items():
            z.writestr(name, src)
    os.replace(tmp, path)


@pytest.fixture()
def reads(monkeypatch):
    """Archives whose central directory is read while the test runs."""
    seen: list[str] = []
    read = zipimport._read_directory

    def counting(archive):
        seen.append(archive)
        return read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return seen


def test_unchanged_zip_is_not_reread(tmp_path, monkeypatch, reads, request):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"floor_mod_a.py": "A = 1\n"})
    monkeypatch.syspath_prepend(archive)
    request.addfinalizer(lambda: sys.path_importer_cache.pop(archive, None))
    for name in ("floor_mod_a", "floor_mod_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("floor_mod_a").A == 1
    reads.clear()  # the importer's own first read

    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads.count(archive) == 0

    _write_zip(archive, {"floor_mod_a.py": "A = 1\n", "floor_mod_b.py": "B = 2\n"})
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
    assert importlib.import_module("floor_mod_b").B == 2
    importlib.invalidate_caches()
    assert reads.count(archive) == 1


def test_worker_keeps_zip_directories_across_tasks(spark):
    """A reused Python worker re-reads no archive on its second task."""

    def probe(batches):
        import importlib
        import os
        import sys
        import zipimport

        import pyarrow as pa

        import xsearch_spark  # noqa: F401

        n = [0]
        read = zipimport._read_directory

        def counting(archive):
            n[0] += 1
            return read(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        zips = sum(
            isinstance(sys.path_importer_cache.get(p), zipimport.zipimporter)
            for p in sys.path
        )
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict(
            {"pid": [os.getpid()], "reads": [n[0]], "zips": [zips]}
        )

    one_row = spark.range(0, 1, 1, 1)
    first_reads: dict[int, int] = {}
    # idle workers are handed out in turn, so a worker's second task
    # may come a few jobs later
    for _ in range(16):
        (row,) = one_row.mapInArrow(probe, "pid long, reads long, zips long").collect()
        if row["zips"] == 0:
            pytest.skip("the Python worker's sys.path holds no zip archive")
        if row["pid"] in first_reads:
            assert row["reads"] == 0, (row, first_reads)
            return
        first_reads[row["pid"]] = row["reads"]
    pytest.fail(f"no Python worker ran two tasks in 16 jobs: {first_reads}")


def test_session_links_workers_over_unix_sockets(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.unix.domain.socket.enabled") == "true"
    assert conf.get("spark.python.unix.domain.socket.dir") == "/tmp"


def test_warm_worker_gets_its_input_without_a_delayed_ack(spark, tmp_path):
    """A reused worker's one-row task reads its first input batch within
    20 ms of UDF entry (median of 10): ~1 ms over a Unix-domain socket,
    ~42 ms over loopback TCP."""
    stamps = str(tmp_path / "stamps")

    def probe(batches, path=stamps):
        import os
        import time

        entry = time.perf_counter()
        import xsearch_spark  # noqa: F401

        first = None
        for pdf in batches:
            if first is None:
                first = time.perf_counter()
            yield pdf
        with open(path, "a") as f:
            f.write(f"{os.getpid()} {(first - entry) * 1e3}\n")

    one_row = spark.range(0, 1, 1, 1)
    seen: set[int] = set()
    warm: list[float] = []
    for _ in range(40):
        one_row.mapInPandas(probe, "id long").collect()
        with open(stamps) as f:
            pid, ms = f.read().splitlines()[-1].split()
        if pid in seen:
            warm.append(float(ms))
            if len(warm) == 10:
                break
        seen.add(pid)
    assert len(warm) == 10, f"only {len(warm)} of 40 tasks ran in a reused worker"
    assert statistics.median(warm) < 20, warm


def test_socket_dir_too_long_raises():
    from xsearch_spark.session import SOCKET_PATH_MAX, check_socket_dir

    room = SOCKET_PATH_MAX - len("/.00000000-0000-0000-0000-000000000000.sock")
    fits = "/" + "d" * (room - 1)
    assert check_socket_dir(fits) == fits
    assert check_socket_dir(fits + "/") == fits + "/"
    for too_long in (fits + "d", fits[:-1] + "é"):  # bytes, not characters
        with pytest.raises(ValueError) as err:
            check_socket_dir(too_long)
        assert repr(too_long) in str(err.value)
        assert f"{SOCKET_PATH_MAX}-byte" in str(err.value)
