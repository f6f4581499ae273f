"""The zip-archive reload gate (``elevation_service_spark._gate_zip_reloads``):
a Python worker re-reads a zip archive on ``importlib.invalidate_caches()``
only when the archive's size or mtime changed."""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

import elevation_service_spark as pkg


def _count_reads(monkeypatch, archive: str) -> list:
    """Record every ``zipimport._read_directory`` call on ``archive``."""
    calls = []
    read = zipimport._read_directory

    def counting(path):
        if path == archive:
            calls.append(path)
        return read(path)
    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


@pytest.mark.skipif(sys.version_info >= (3, 12),
                    reason="3.12+ reloads zip archives lazily; the gate is a no-op")
def test_gate_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    archive = str(tmp_path / "gated.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("gate_probe_a.py", "X = 1\n")
    monkeypatch.syspath_prepend(archive)
    # restore the stdlib method when the test ends
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    try:
        import gate_probe_a
        assert gate_probe_a.X == 1
        assert isinstance(sys.path_importer_cache[archive], zipimport.zipimporter)
        pkg._gate_zip_reloads()
        calls = _count_reads(monkeypatch, archive)
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert calls == []  # recorded when the gate was installed

        with zipfile.ZipFile(archive, "w") as z:  # a different size
            z.writestr("gate_probe_a.py", "X = 1\n")
            z.writestr("gate_probe_b.py", "Y = 2\n")
        importlib.invalidate_caches()
        assert calls == [archive]
        import gate_probe_b
        assert gate_probe_b.Y == 2
        importlib.invalidate_caches()
        assert calls == [archive]
    finally:
        for name in ("gate_probe_a", "gate_probe_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)


def test_gate_leaves_the_stdlib_method_on_312(monkeypatch):
    monkeypatch.setattr(sys, "version_info", (3, 12, 0, "final", 0))
    stdlib = zipimport.zipimporter.invalidate_caches
    pkg._gate_zip_reloads()
    assert zipimport.zipimporter.invalidate_caches is stdlib


def test_driver_zipimport_unpatched(spark):
    """A driver interpreter (no task context) imports the package without
    the gate."""
    assert "pyspark" in sys.modules
    method = zipimport.zipimporter.invalidate_caches
    assert (method.__module__, method.__qualname__) == \
        ("zipimport", "zipimporter.invalidate_caches")


def test_reused_worker_rereads_no_archive(spark):
    """In a live worker, ``importlib.invalidate_caches()`` — the call
    PySpark's worker makes at the start of every task — re-reads no zip
    archive, on the worker's first task (the archives cached before the
    gate was installed are recorded) and on every task after it."""
    def probe(batches):
        import importlib
        import zipimport

        import pandas as pd

        from elevation_service_spark import kernels  # noqa: F401  (engine UDF import)
        calls = []
        read = zipimport._read_directory

        def counting(path):
            calls.append(path)
            return read(path)
        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        zips = sum(isinstance(f, zipimport.zipimporter)
                   for f in sys.path_importer_cache.values())
        for _ in batches:
            pass
        yield pd.DataFrame({"pid": [os.getpid()], "reads": [len(calls)],
                            "zips": [zips]})

    parts = spark.sparkContext.defaultParallelism
    df = spark.range(parts, numPartitions=parts)
    rows = [r for _ in range(3) for r in
            df.mapInPandas(probe, "pid long, reads long, zips long").collect()]
    assert len({r["pid"] for r in rows}) < len(rows), "no Python worker was reused"
    if not any(r["zips"] for r in rows):
        pytest.skip("the workers import nothing from a zip archive")
    assert [r["reads"] for r in rows] == [0] * len(rows)
