"""Host-sized session defaults and the engine's Python worker daemon.  Only
the last two tests need a Spark session."""

from __future__ import annotations

import importlib
import importlib.util
import os
import time
import uuid
import zipfile
import zipimport

from reindexer_spark import pyworker
from reindexer_spark.session import default_driver_memory


def test_driver_memory_default_fits_the_host(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    mem = default_driver_memory()
    assert mem.endswith("m")
    ram = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    assert 1024 <= int(mem[:-1]) and int(mem[:-1]) * 2**20 <= ram


def test_driver_memory_env_override_wins(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "5g")
    assert default_driver_memory() == "5g"


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, body in modules.items():
            zf.writestr(f"{name}.py", body)


def _load(importer, name):
    spec = importer.find_spec(name)
    assert spec is not None, name
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def test_zip_importer_rereads_an_archive_only_when_it_changes(tmp_path, monkeypatch):
    monkeypatch.setattr(pyworker, "_reads", {})
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"mod_a": "VALUE = 1\n"})
    importer = pyworker.CachedZipImporter(archive)
    assert _load(importer, "mod_a").VALUE == 1

    reads = []
    real = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda path: reads.append(path) or real(path)
    )
    # the directory read at construction predates any stamp: the first
    # invalidation re-reads it once, and the stamp it takes then holds
    importer.invalidate_caches()
    assert reads == [archive]
    for _ in range(3):
        importer.invalidate_caches()
    assert reads == [archive]
    # a second importer over the same archive shares that read
    pyworker.CachedZipImporter(archive).invalidate_caches()
    assert reads == [archive]
    assert importer.find_spec("mod_b") is None

    size = os.path.getsize(archive)
    _write_zip(archive, {"mod_a": "VALUE = 1\n", "mod_b": "VALUE = 2\n"})
    assert os.path.getsize(archive) != size
    importer.invalidate_caches()
    assert reads == [archive, archive]
    assert _load(importer, "mod_b").VALUE == 2


def _worker_state():
    """A mapInPandas body reporting its worker's pid and the kinds of
    importer over pyspark.zip in that worker (nested, so it is pickled
    by value: workers cannot import this test module)."""

    def fn(it):
        import os
        import sys

        import pandas as pd

        from reindexer_spark.pyworker import CachedZipImporter

        kinds = ",".join(
            sorted(
                {
                    "cached" if isinstance(f, CachedZipImporter) else type(f).__name__
                    for p, f in sys.path_importer_cache.items()
                    if "pyspark.zip" in p
                }
            )
        )
        for batch in it:
            n = len(batch)
            yield pd.DataFrame({"pid": [os.getpid()] * n, "kinds": [kinds] * n})

    return fn


def test_workers_run_the_engine_zip_importer(spark):
    assert spark.conf.get("spark.python.daemon.module") == "reindexer_spark.pyworker"
    df = spark.range(0, 4, numPartitions=4)
    df.mapInPandas(_worker_state(), "pid long, kinds string").collect()  # warm
    rows = df.mapInPandas(_worker_state(), "pid long, kinds string").collect()
    assert {r.kinds for r in rows} == {"cached"}


def _since_boot_s() -> float:
    with open("/proc/uptime") as fh:
        return float(fh.read().split()[0])


def test_add_py_file_reaches_a_warm_worker(spark, tmp_path):
    name = f"rs_pyfile_{uuid.uuid4().hex[:12]}"
    archive = tmp_path / f"{name}.zip"
    _write_zip(archive, {name: "VALUE = 42\n"})
    cores = spark.sparkContext.defaultParallelism
    spark.range(0, cores, numPartitions=cores).mapInPandas(
        _worker_state(), "pid long, kinds string"
    ).collect()
    # workers fork only to run a task, so one started before this instant
    # has run tasks before the zip was added; the pause outlasts the
    # clock tick that /proc start times are counted in
    warm_until = _since_boot_s()
    time.sleep(0.1)
    spark.sparkContext.addPyFile(str(archive))

    def imports_it(it):
        import os

        import pandas as pd

        value = importlib.import_module(name).VALUE
        with open("/proc/self/stat") as fh:
            ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
        started = ticks / os.sysconf("SC_CLK_TCK")
        for batch in it:
            n = len(batch)
            yield pd.DataFrame({"started": [started] * n, "value": [value] * n})

    one = spark.range(0, 1, numPartitions=1)
    rows = one.mapInPandas(imports_it, "started double, value long").collect()
    assert [r.value for r in rows] == [42]
    assert rows[0].started < warm_until
