"""The stat-guarded zip-directory re-read (fiveg_spark/zipguard.py): an
unchanged archive is parsed once, a rewritten one is parsed again, and
a Spark Python worker that imports the engine runs with the guard."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

from fiveg_spark import zipguard

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="CPython 3.13 invalidates zip caches lazily"
)


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    zipguard.install()
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zg_same": "X = 1\n"})
    importer = zipimport.zipimporter(archive)
    reads = []
    real = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    for _ in range(5):
        importer.invalidate_caches()
    # a second importer on the same archive shares the recorded read
    sub = zipimport.zipimporter(f"{archive}/pkg")
    sub.invalidate_caches()
    assert reads == [archive]
    assert importer.find_spec("zg_same") is not None


def test_rewritten_archive_is_reread(tmp_path, monkeypatch):
    zipguard.install()
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zg_old": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("zg_old").X == 1
        importlib.invalidate_caches()  # guarded read: records the stat
        _write_zip(archive, {"zg_old": "X = 1\n", "zg_new": "Y = 2\n"})
        importlib.invalidate_caches()
        assert importlib.import_module("zg_new").Y == 2
    finally:
        for name in ("zg_old", "zg_new"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)


def test_spark_worker_runs_with_the_guard(spark):
    def probe(batches):
        import zipimport

        import fiveg_spark  # noqa: F401 — what unpickling engine code does

        for _ in batches:
            pass
        guarded = hasattr(zipimport.zipimporter.invalidate_caches, "__wrapped__")
        yield pd.DataFrame({"guarded": [guarded]})

    rows = spark.range(0, 8, numPartitions=2).mapInPandas(probe, "guarded boolean").collect()
    assert len(rows) == 2 and all(r["guarded"] for r in rows)
