"""The zipimport re-scan gate that ``import kgforge`` installs in a PySpark
Python worker: ``importlib.invalidate_caches()`` (run by the worker before
every task) re-reads a zip archive's directory only when the archive
changed."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

import kgforge

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, modules: dict[str, str]) -> None:
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as zf:
        for name, source in modules.items():
            zf.writestr(name, source)
    os.replace(tmp, path)


def test_gate_skips_unchanged_archive_and_rereads_rewritten(tmp_path,
                                                            monkeypatch):
    archive = str(tmp_path / "gated_mods.zip")
    _write_zip(archive, {"gated_one.py": "VALUE = 1\n"})
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        kgforge._invalidate_zip_caches)
    monkeypatch.setattr(kgforge, "_ZIP_READS", {})
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("gated_one").VALUE == 1
        importlib.invalidate_caches()          # the gate's first read
        reads: list[str] = []
        real = zipimport._read_directory
        monkeypatch.setattr(zipimport, "_read_directory",
                            lambda a: (reads.append(a), real(a))[1])
        importlib.invalidate_caches()
        assert reads == []

        _write_zip(archive, {"gated_one.py": "VALUE = 1\n",
                             "gated_two.py": "VALUE = 2\n"})
        importlib.invalidate_caches()
        assert reads == [archive]
        assert importlib.import_module("gated_two").VALUE == 2
    finally:
        for name in ("gated_one", "gated_two"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)


def test_driver_import_leaves_zipimport_alone():
    code = (
        "import zipimport, pyspark.core.files\n"
        "stock = zipimport.zipimporter.invalidate_caches\n"
        "import kgforge, kgforge.pipeline, kgforge.queries\n"
        "assert zipimport.zipimporter.invalidate_caches is stock\n"
        "assert not kgforge._gate_zip_rescans()\n")
    subprocess.run([sys.executable, "-c", code], cwd=REPO, check=True,
                   timeout=120)


def test_worker_installs_gate(spark):
    """In a worker, after ``import kgforge``, a repeated
    ``importlib.invalidate_caches()`` re-reads no zip directory (pyspark.zip
    and the py4j zip are on the worker's path when SPARK_HOME is set)."""
    def probe(batches):
        import importlib
        import sys
        import zipimport

        import pandas as pd

        import kgforge
        gated = (zipimport.zipimporter.invalidate_caches
                 is kgforge._invalidate_zip_caches)
        importlib.invalidate_caches()
        reads = []
        real = zipimport._read_directory
        zipimport._read_directory = lambda a: (reads.append(a), real(a))[1]
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        for _ in batches:
            pass
        py = "%d.%d" % sys.version_info[:2]
        yield pd.DataFrame({"gated": [gated], "rereads": [len(reads)],
                            "py": [py]})

    rows = spark.range(1).mapInPandas(
        probe, "gated boolean, rereads long, py string").collect()
    assert rows                        # one row per task
    if tuple(map(int, rows[0]["py"].split("."))) >= (3, 13):
        pytest.skip("CPython >= 3.13 re-reads zip directories lazily")
    assert all(r["gated"] and r["rereads"] == 0 for r in rows), rows
