"""The engine's Python worker daemon (``data_engineer_project_spark.pydaemon``).

Up to Python 3.12, ``importlib.invalidate_caches()`` makes every cached
``zipimporter`` re-read its archive's directory; pyspark workers call it
before each task. The daemon's replacement re-reads an archive only when
its file changed. These tests pin the replacement on a scratch zip and
the wiring: sessions from ``get_spark`` fork their workers from it.
"""

from __future__ import annotations

import importlib
import os
import sys
import uuid
import zipfile
import zipimport
from collections import Counter

import pytest

from data_engineer_project_spark import pydaemon

eager_stdlib = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="the stdlib re-reads lazily; the daemon installs nothing",
)


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(name, src)


@eager_stdlib
def test_unchanged_archive_is_read_once(tmp_path, monkeypatch):
    archive = str(tmp_path / "zpkg.zip")
    modules = {
        "zpkg/__init__.py": "",
        "zpkg/sub/__init__.py": "",
        "zpkg/sub/mod.py": "VALUE = 1\n",
    }
    _write_zip(archive, modules)
    monkeypatch.syspath_prepend(archive)
    try:
        _check_reads(archive, modules, monkeypatch)
    finally:
        for name in [m for m in sys.modules if m.split(".")[0] == "zpkg"]:
            del sys.modules[name]
        for path in [p for p in sys.path_importer_cache if p.startswith(archive)]:
            del sys.path_importer_cache[path]


def _check_reads(archive, modules, monkeypatch) -> None:
    assert importlib.import_module("zpkg.sub.mod").VALUE == 1
    importers = [
        imp
        for imp in sys.path_importer_cache.values()
        if isinstance(imp, zipimport.zipimporter) and imp.archive == archive
    ]
    # the archive, zpkg/ and zpkg/sub/ each cache an importer
    assert len(importers) >= 3

    reads = Counter()
    read_directory = zipimport._read_directory

    def counted(path):
        reads[path] += 1
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counted)

    def reads_per_invalidation(n: int = 1) -> list[int]:
        out = []
        for _ in range(n):
            reads.clear()
            importlib.invalidate_caches()
            out.append(reads[archive])
        return out

    # the stdlib method re-reads once per cached importer, every time
    assert reads_per_invalidation(2) == [len(importers)] * 2

    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    monkeypatch.setattr(pydaemon, "_stamps", {})
    pydaemon.install()
    assert zipimport.zipimporter.invalidate_caches is pydaemon.invalidate_caches
    assert reads_per_invalidation(3) == [1, 0, 0]
    cached = zipimport._zip_directory_cache[archive]
    assert all(imp._files is cached for imp in importers)

    # a rewrite changes size and mtime: read once more, and its new module imports
    st = os.stat(archive)
    _write_zip(archive, {**modules, "zpkg/sub/new.py": "VALUE = 2\n"})
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    assert reads_per_invalidation(2) == [1, 0]
    assert importlib.import_module("zpkg.sub.new").VALUE == 2


def test_session_forks_reused_workers_from_the_engine_daemon(spark, monkeypatch):
    from pyspark.sql.types import LongType, StringType

    from data_engineer_project_spark.operators.multimodal import payload_stage

    assert spark.conf.get("spark.python.daemon.module") == pydaemon.__name__
    # a key of its own in the worker env gives this test a fresh worker
    # pool (Spark keeps one daemon per python exec, modules and env)
    monkeypatch.setitem(spark.sparkContext.environment, "ENGINE_TEST_POOL", uuid.uuid4().hex)

    def row(id):
        import os
        import zipimport

        yield os.getpid(), zipimport.zipimporter.invalidate_caches.__code__.co_filename

    df = spark.range(0, 64, 1, 4)
    runs = [
        payload_stage(df, ["id"], {"pid": LongType(), "method": StringType()}, row).collect()
        for _ in range(2)
    ]
    assert [len(rows) for rows in runs] == [64, 64]
    methods = {r.method for rows in runs for r in rows}
    if sys.version_info < (3, 13):
        assert methods == {pydaemon.__file__}
    else:
        assert pydaemon.__file__ not in methods
    first, second = ({r.pid for r in rows} for rows in runs)
    assert second <= first
