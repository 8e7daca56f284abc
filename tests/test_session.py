"""Session plumbing: the worker daemon's stat-guarded zip invalidation,
the python-worker warm-up, and the codec choice."""

import importlib
import logging
import os
import sys
import threading
import time
import zipfile
import zipimport

import pytest

from ariadna_spark import session as S
from ariadna_spark import worker_daemon

needs_zip_guard = pytest.mark.skipif(
    sys.version_info >= (3, 12), reason="the guard is installed only before 3.12"
)


def _write_zip(path, modules):
    tmp = path + ".tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for name, value in modules.items():
            z.writestr(f"{name}.py", f"VALUE = {value!r}\n")
    os.replace(tmp, path)  # a new file, as a fresh --py-files upload is


@needs_zip_guard
def test_zip_guard_rereads_only_changed_archives(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zguard_mod_a": 1})
    reads = []
    read_directory = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.setattr(
        zipimport.zipimporter,
        "invalidate_caches",
        worker_daemon._stat_guarded_invalidate,
    )
    monkeypatch.setattr(worker_daemon, "_zip_directories", {})
    sys.path.insert(0, archive)
    try:
        assert importlib.import_module("zguard_mod_a").VALUE == 1
        importlib.invalidate_caches()  # stamps, as the daemon does once
        reads.clear()
        for _ in range(3):
            importlib.invalidate_caches()
        assert reads == []

        _write_zip(archive, {"zguard_mod_a": 1, "zguard_mod_b": 2})
        importlib.invalidate_caches()
        assert reads == [archive]
        assert importlib.import_module("zguard_mod_b").VALUE == 2
    finally:
        sys.path.remove(archive)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)
        sys.modules.pop("zguard_mod_a", None)
        sys.modules.pop("zguard_mod_b", None)


@needs_zip_guard
def test_workers_run_the_zip_guard(spark):
    """A real task runs the daemon's patched method — catches a session
    whose workers silently fork from some other daemon."""
    import pyarrow as pa

    def _k(batches):
        import zipimport

        name = zipimport.zipimporter.invalidate_caches.__qualname__
        for b in batches:
            yield pa.RecordBatch.from_pydict({"q": [name] * b.num_rows})

    rows = spark.range(0, 1, 1, 1).mapInArrow(_k, "q string").collect()
    assert [r["q"] for r in rows] == [
        worker_daemon._stat_guarded_invalidate.__qualname__
    ]


class _SlowSession:
    """A stand-in session whose warm-up marker read is slow, so concurrent
    callers of an unlocked check-then-set would both see it unset."""

    def __getattr__(self, name):  # reached only while the marker is unset
        time.sleep(0.05)
        raise AttributeError(name)


def test_concurrent_warmup_starts_one_thread(monkeypatch):
    started = []
    monkeypatch.setattr(S, "_warm_python_workers", started.append)
    sess = _SlowSession()
    before = set(threading.enumerate())
    barrier = threading.Barrier(2)

    def call():
        barrier.wait(timeout=5)
        S.ensure_workers_warm(sess)

    callers = [threading.Thread(target=call) for _ in range(2)]
    for t in callers:
        t.start()
    for t in callers:
        t.join(timeout=5)
        assert not t.is_alive()
    for t in set(threading.enumerate()) - before:
        t.join(timeout=5)
    assert started == [sess]


def test_warmup_failure_is_logged(caplog):
    class _Broken:
        @property
        def sparkContext(self):
            raise RuntimeError("daemon module missing")

    with caplog.at_level(logging.WARNING, logger=S.__name__):
        S._warm_python_workers(_Broken())
    [rec] = caplog.records
    assert rec.levelno == logging.WARNING
    assert "daemon module missing" in caplog.text  # the traceback is kept


def test_codecs_scale_with_cores(monkeypatch):
    monkeypatch.delenv("ARIADNA_PARQUET_CODEC", raising=False)
    monkeypatch.delenv("ARIADNA_IO_CODEC", raising=False)
    assert S._codecs(4) == ("snappy", "lz4")
    assert S._codecs(7) == ("snappy", "lz4")
    assert S._codecs(8) == ("zstd", "zstd")
    assert S._codecs(32) == ("zstd", "zstd")


def test_codec_env_overrides_and_empty_means_default(monkeypatch):
    monkeypatch.setenv("ARIADNA_PARQUET_CODEC", "gzip")
    monkeypatch.setenv("ARIADNA_IO_CODEC", "")
    assert S._codecs(4) == ("gzip", "lz4")
    assert S._codecs(8) == ("gzip", "zstd")
    monkeypatch.setenv("ARIADNA_PARQUET_CODEC", "")
    monkeypatch.setenv("ARIADNA_IO_CODEC", "snappy")
    assert S._codecs(8) == ("zstd", "snappy")
