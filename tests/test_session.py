"""Host-sized session defaults, the engine's Python worker daemon and its
java.nio local file system.  The worker tests and the file-system
semantics tests need a Spark session."""

from __future__ import annotations

import grp
import importlib
import importlib.util
import os
import pwd
import shutil
import stat
import subprocess
import sys
import time
import uuid
import zipfile
import zipimport

import pytest

from reindexer_spark import pyworker
from reindexer_spark.session import FS_JAR, default_driver_memory, local_fs_confs

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


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


def test_committed_jar_matches_its_sources(tmp_path):
    """Every class in the committed jar is byte-identical to a rebuild
    from reindexer_spark/jvm/*.java, so the jar cannot drift from them."""
    if shutil.which("javac") is None:
        pytest.skip("no javac on PATH")
    rebuilt = tmp_path / "rebuilt.jar"
    subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "build_jvm.py"), "--out", str(rebuilt)],
        check=True,
        capture_output=True,
    )

    def classes(jar):
        with zipfile.ZipFile(jar) as zf:
            return {n: zf.read(n) for n in zf.namelist() if n.endswith(".class")}

    committed = classes(FS_JAR)
    assert committed and committed == classes(rebuilt)


def test_local_fs_confs_append_to_a_caller_classpath():
    confs = local_fs_confs("local[2]", {"spark.driver.extraClassPath": "/srv/lib/a.jar"})
    assert confs["spark.driver.extraClassPath"] == f"/srv/lib/a.jar{os.pathsep}{FS_JAR}"
    assert local_fs_confs("local[2]")["spark.driver.extraClassPath"] == FS_JAR
    # a cluster's executors would not find the jar: keep Hadoop's file system
    assert local_fs_confs("spark://head:7077") == {}


def test_local_file_system_is_the_engines(spark):
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    uri = jvm.java.net.URI("file:///")
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(uri, conf)
    assert fs.getClass().getName() == "reindexer_spark.jvm.NioLocalFileSystem"
    assert fs.getRaw().getClass().getName() == "reindexer_spark.jvm.NioRawLocalFileSystem"
    afs = jvm.org.apache.hadoop.fs.AbstractFileSystem.get(uri, conf)
    assert afs.getClass().getName() == "reindexer_spark.jvm.NioLocalFs"


def _raw_file_systems(spark):
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    uri = jvm.java.net.URI("file:///")
    nio = jvm.reindexer_spark.jvm.NioRawLocalFileSystem()
    stock = jvm.org.apache.hadoop.fs.RawLocalFileSystem()
    nio.initialize(uri, conf)
    stock.initialize(uri, conf)
    return nio, stock


def _fields(status) -> dict:
    return {
        "len": status.getLen(),
        "is_dir": status.isDirectory(),
        "mtime": status.getModificationTime(),
        "perm": status.getPermission().toShort(),
        "owner": status.getOwner(),
        "group": status.getGroup(),
        "link": str(status.getSymlink()) if status.isSymlink() else None,
    }


def _os_fields(st: os.stat_result, link=None) -> dict:
    return {
        "len": st.st_size,
        "is_dir": stat.S_ISDIR(st.st_mode),
        "mtime": st.st_mtime_ns // 1_000_000,
        "perm": st.st_mode & 0o1777,
        "owner": pwd.getpwuid(st.st_uid).pw_name,
        "group": grp.getgrgid(st.st_gid).gr_name,
        "link": link,
    }


def test_local_file_system_statuses_match_os_stat_and_stock(spark, tmp_path):
    """File, directory, symlink and dangling symlink: the engine's raw
    local file system reports what os.stat / os.lstat and Hadoop's stock
    RawLocalFileSystem report, without a child process."""
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path
    nio, stock = _raw_file_systems(spark)
    (tmp_path / "file.txt").write_bytes(b"x" * 123)
    os.chmod(tmp_path / "file.txt", 0o640)
    (tmp_path / "dir").mkdir()
    os.symlink("file.txt", tmp_path / "link")
    os.symlink("missing", tmp_path / "dangling")

    def status(fs, name, link=False):
        p = path(str(tmp_path / name))
        return _fields(fs.getFileLinkStatus(p) if link else fs.getFileStatus(p))

    for name in ("file.txt", "dir"):
        want = _os_fields(os.stat(tmp_path / name))
        assert status(nio, name) == want == status(stock, name)
        assert status(nio, name, link=True) == want == status(stock, name, link=True)
    # a link's statuses describe its target; the link status adds the
    # target's name, qualified against the link's directory
    want = _os_fields(os.stat(tmp_path / "link"))
    assert status(nio, "link") == want == status(stock, "link")
    want["link"] = f"file:{tmp_path}/file.txt"
    assert status(nio, "link", link=True) == want == status(stock, "link", link=True)
    assert os.lstat(tmp_path / "link").st_size == len("file.txt") != want["len"]
    dangling = status(nio, "dangling", link=True)
    assert dangling == status(stock, "dangling", link=True)
    assert dangling["link"] == f"file:{tmp_path}/missing" and dangling["len"] == 0
    assert str(nio.getLinkTarget(path(str(tmp_path / "link")))) == "file.txt"

    def names(fs):
        return sorted(s.getPath().getName() for s in fs.listStatus(path(str(tmp_path))))

    assert names(nio) == names(stock) == ["dir", "file.txt", "link"]  # dangling skipped
    [one] = nio.listStatus(path(str(tmp_path / "file.txt")))
    assert _fields(one) == _os_fields(os.stat(tmp_path / "file.txt"))


def test_local_file_system_sets_permissions(spark, tmp_path):
    """Plain modes go through java.nio; a sticky-bit mode falls back to
    the stock chmod."""
    jvm = spark._jvm
    nio, stock = _raw_file_systems(spark)
    FsPermission = jvm.org.apache.hadoop.fs.permission.FsPermission
    (tmp_path / "file.txt").write_bytes(b"x")
    (tmp_path / "dir").mkdir()
    for name, mode in (("file.txt", 0o640), ("dir", 0o1777)):
        p = jvm.org.apache.hadoop.fs.Path(str(tmp_path / name))
        nio.setPermission(p, FsPermission(mode))
        assert os.stat(tmp_path / name).st_mode & 0o7777 == mode
        assert nio.getFileStatus(p).getPermission().toShort() == mode
        assert stock.getFileStatus(p).getPermission().toShort() == mode


def test_checkpoint_writes_keep_their_crc_sidecar(spark, tmp_path):
    """Spark's checkpoint file manager writes through the engine's
    FileContext file system: an atomic write leaves the file and a .crc
    byte-identical to the one stock Hadoop writes for the same bytes."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    Path = jvm.org.apache.hadoop.fs.Path
    payload = b"v1\n{\"batchWatermarkMs\":0}\n" * 40
    ckpt = Path(str(tmp_path / "ckpt"))
    manager = jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.create(
        ckpt, conf
    )
    manager.mkdirs(ckpt)
    out = manager.createAtomic(Path(str(tmp_path / "ckpt" / "0")), False)
    out.write(bytearray(payload))
    out.close()
    assert sorted(os.listdir(tmp_path / "ckpt")) == [".0.crc", "0"]
    assert (tmp_path / "ckpt" / "0").read_bytes() == payload

    stock = jvm.org.apache.hadoop.fs.LocalFileSystem()
    stock.initialize(jvm.java.net.URI("file:///"), conf)
    out = stock.create(Path(str(tmp_path / "stock" / "0")))
    out.write(bytearray(payload))
    out.close()
    crc = (tmp_path / "ckpt" / ".0.crc").read_bytes()
    assert crc == (tmp_path / "stock" / ".0.crc").read_bytes()
