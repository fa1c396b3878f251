"""The zipimporter re-read gate installed by ``import gdelta_spark``: an
archive's directory is re-read on ``invalidate_caches()`` only when the
archive changed since that importer last read it."""

from __future__ import annotations

import importlib
import os
import zipfile
import zipimport

import gdelta_spark


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def _count_reads(monkeypatch) -> list[str]:
    reads: list[str] = []
    real = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    arc = tmp_path / "mods.zip"
    _write_zip(arc, {"a": "X = 1\n"})
    imp = zipimport.zipimporter(str(arc))
    reads = _count_reads(monkeypatch)
    imp.invalidate_caches()  # no stamp yet: reads once and records it
    first = len(reads)
    for _ in range(5):
        imp.invalidate_caches()
    assert first <= 1 and len(reads) == first
    assert imp.find_spec("a") is not None


def test_changed_archive_is_reread(tmp_path, monkeypatch):
    arc = tmp_path / "mods.zip"
    _write_zip(arc, {"a": "X = 1\n"})
    imp = zipimport.zipimporter(str(arc))
    imp.invalidate_caches()
    assert imp.find_spec("b") is None
    _write_zip(arc, {"a": "X = 1\n", "b": "Y = 2\n"})
    reads = _count_reads(monkeypatch)
    imp.invalidate_caches()
    assert reads == [str(arc)]
    assert imp.find_spec("b") is not None


def test_missing_archive_falls_through(tmp_path):
    arc = tmp_path / "mods.zip"
    _write_zip(arc, {"a": "X = 1\n"})
    imp = zipimport.zipimporter(str(arc))
    imp.invalidate_caches()
    os.remove(arc)
    imp.invalidate_caches()  # stat fails: the original re-read empties it
    assert imp.find_spec("a") is None


def test_gate_is_idempotent_under_reimport():
    gated = zipimport.zipimporter.invalidate_caches
    assert gated.stamp_gated
    importlib.reload(gdelta_spark)
    assert zipimport.zipimporter.invalidate_caches is gated
    assert not getattr(gated.__wrapped__, "stamp_gated", False)


def test_worker_task_runs_gated_after_kernel_import(spark):
    """In a Python worker, after a kernel import, the per-task
    ``importlib.invalidate_caches()`` re-reads no unchanged archive."""

    def probe(_):
        import importlib
        import zipimport

        import gdelta_spark.pipeline.encode  # noqa: F401 — a kernel import

        importlib.invalidate_caches()  # stamps every importer on sys.path
        reads = []
        real = zipimport._read_directory
        zipimport._read_directory = lambda a: reads.append(a) or real(a)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        yield (getattr(zipimport.zipimporter.invalidate_caches, "stamp_gated", False), reads)

    got = spark.sparkContext.parallelize(range(4), 4).mapPartitions(probe).collect()
    assert got and all(gated and not reads for gated, reads in got), got
