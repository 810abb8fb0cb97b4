"""The Python worker daemon re-reads a zip directory only when the
archive changed, and Spark's workers run under it."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

from nightcrawlercmd_spark import pydaemon


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


@pytest.mark.skipif(
    hasattr(zipimport.zipimporter, "_get_files"),
    reason="zipimporter reads lazily; the daemon leaves it unpatched",
)
def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"pydaemon_mod_a": "X = 1\n"})
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", pydaemon.invalidate_caches)
    monkeypatch.setattr(pydaemon, "_stamps", {})
    reads = []
    read_directory = zipimport._read_directory

    def counted(path):
        if path == archive:
            reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("pydaemon_mod_a").X == 1
        reads.clear()
        importlib.invalidate_caches()  # no stamp yet: the stock re-read
        assert len(reads) == 1

        importlib.invalidate_caches()
        assert len(reads) == 1, "an unchanged archive was re-read"

        # a new module changes the archive's size: re-read, then importable
        _write_zip(archive, {"pydaemon_mod_a": "X = 1\n", "pydaemon_mod_b": "Y = 2\n"})
        importlib.invalidate_caches()
        assert len(reads) == 2
        assert importlib.import_module("pydaemon_mod_b").Y == 2

        # an archive that cannot be stat'ed takes the stock path too
        (tmp_path / "mods.zip").unlink()
        importlib.invalidate_caches()
        assert len(reads) == 3
        assert archive not in zipimport._zip_directory_cache
    finally:
        for name in ("pydaemon_mod_a", "pydaemon_mod_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)


def test_spark_workers_do_not_reread_archives(spark):
    def probe(batches):
        import importlib
        import sys
        import zipimport

        import pandas as pd

        reads = [0]
        read_directory = zipimport._read_directory

        def counted(path):
            reads[0] += 1
            return read_directory(path)

        zipimport._read_directory = counted
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        for _ in batches:
            pass
        yield pd.DataFrame(
            {"reads": [reads[0]], "daemon": ["nightcrawlercmd_spark.pydaemon" in sys.modules]}
        )

    rows = (
        spark.range(8, numPartitions=4)
        .mapInPandas(probe, "reads long, daemon boolean")
        .collect()
    )
    assert len(rows) == 4
    assert all(r.daemon for r in rows), rows
    assert all(r.reads == 0 for r in rows), rows
