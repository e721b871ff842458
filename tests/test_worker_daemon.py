"""The worker daemon re-reads a zip import archive only when it changed."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pandas as pd
import pytest
from pyspark.sql import functions as F

from entity_resolution_spark import worker_daemon


def _write_zip(path: str, modules: list[str], mtime_ns: int) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")
    os.utime(path, ns=(mtime_ns, mtime_ns))


@pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="zipimport reads lazily from Python 3.13"
)
def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, ["er_wd_m1"], 1_000_000_000)
    monkeypatch.setattr(worker_daemon, "_last_read", {})
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", worker_daemon.invalidate_caches
    )
    monkeypatch.syspath_prepend(archive)
    for name in ("er_wd_m1", "er_wd_m2"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("er_wd_m1").NAME == "er_wd_m1"

    reads = []
    read_directory = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda p: reads.append(p) or read_directory(p)
    )
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads.count(archive) == 1

    _write_zip(archive, ["er_wd_m1", "er_wd_m2"], 2_000_000_000)
    importlib.invalidate_caches()
    assert reads.count(archive) == 2
    assert importlib.import_module("er_wd_m2").NAME == "er_wd_m2"


def test_session_workers_skip_unchanged_archives(spark):
    @F.pandas_udf("long")
    def second_invalidate_reads(s: pd.Series) -> pd.Series:
        import importlib
        import zipimport

        reads = []
        read_directory = zipimport._read_directory
        zipimport._read_directory = lambda p: reads.append(p) or read_directory(p)
        try:
            importlib.invalidate_caches()
            reads.clear()
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        return pd.Series([len(reads)] * len(s))

    got = spark.range(2, numPartitions=2).select(second_invalidate_reads("id"))
    assert [r[0] for r in got.collect()] == [0, 0]
