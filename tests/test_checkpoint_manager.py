"""The checkpoint file manager and the local filesystem of local
sessions.

``get_spark`` commits micro-batches of a local session through Spark's
FileSystem-API checkpoint manager instead of the FileContext one, and
writes files through ``dbus_spark.NioLocalFileSystem`` instead of
Hadoop's local filesystem (see ``session.py``). Each pair writes the
same files, so a checkpoint written under one resumes under the other,
keeps its ``.crc`` side files, and its files keep their modes.
"""

import contextlib
import logging
import os
import re
import stat
import subprocess
import sys
import zipfile

import pytest

from dbus_spark import session
from dbus_spark.session import _session_confs
from dbus_spark.sinks import IdempotentKeyedSink
from dbus_spark.datagen import generate_transcripts, write_stream_batches
from tests.test_streaming import _run_windowed

_KEY = "spark.sql.streaming.checkpointFileManagerClass"
_PKG = "org.apache.spark.sql.execution.streaming.checkpointing."
_FS = _PKG + "FileSystemBasedCheckpointFileManager"
_FC = _PKG + "FileContextBasedCheckpointFileManager"

_IMPL = "spark.hadoop.fs.file.impl"
_CP = "spark.driver.extraClassPath"
_NIO = "dbus_spark.NioLocalFileSystem"
_HADOOP = "org.apache.hadoop.fs.LocalFileSystem"
_STOCK = "org.apache.hadoop.hive.ql.io.ProxyLocalFileSystem"
_JAR = "/cache/dbus_spark/localfs-0123.jar"

needs_javac = pytest.mark.skipif(
    session._javac() is None, reason="no javac on this host"
)


@pytest.mark.parametrize(
    "master, manager",
    [
        ("local", _FS),
        ("local[4]", _FS),
        ("local[*]", _FS),
        ("local[4,2]", _FS),
        # cluster masters keep Spark's default manager
        ("spark://host:7077", None),
        ("yarn", None),
        ("k8s://https://host:6443", None),
        ("local-cluster[2,1,1024]", None),
    ],
)
def test_checkpoint_manager_by_master(master, manager):
    """Local masters get the FileSystem manager and, given a jar, the
    engine's local filesystem on the driver class path; cluster masters
    get neither, and with no jar no master gets the filesystem."""
    local = manager is not None
    assert _session_confs(master, 4, None).get(_KEY) == manager
    with_jar = _session_confs(master, 4, None, _JAR)
    assert with_jar.get(_KEY) == manager
    assert with_jar.get(_IMPL) == (_NIO if local else None)
    assert with_jar.get(_CP) == (_JAR if local else None)
    no_jar = _session_confs(master, 4, None, None)
    assert _IMPL not in no_jar and _CP not in no_jar


def test_explicit_manager_conf_wins():
    assert _session_confs("local[4]", 4, {_KEY: _FC})[_KEY] == _FC
    assert _session_confs("yarn", 4, {_KEY: _FS})[_KEY] == _FS


@pytest.mark.parametrize(
    "extra, impl, cp",
    [
        (None, _NIO, _JAR),
        # an explicit filesystem wins
        ({_IMPL: _HADOOP}, _HADOOP, _JAR),
        # the caller's class path is kept, the jar after it
        ({_CP: "/libs/a.jar"}, _NIO, "/libs/a.jar" + os.pathsep + _JAR),
    ],
)
def test_local_filesystem_confs_with_extra_confs(extra, impl, cp):
    confs = _session_confs("local[4]", 4, extra, _JAR)
    assert confs[_IMPL] == impl
    assert confs[_CP] == cp
    if extra:
        assert _session_confs("yarn", 4, extra, _JAR) == {
            **_session_confs("yarn", 4, None),
            **extra,
        }


@needs_javac
def test_local_fs_jar_is_compiled_once_per_source(tmp_path, monkeypatch):
    """The first call compiles, the second reuses the cached jar, and a
    changed source gets a jar of its own. A javac that is present but
    fails to compile the class fails this test (raises), so a Hadoop
    API change cannot turn the filesystem off unnoticed."""
    cache = tmp_path / "cache"
    compiles = []
    run = subprocess.run

    def counting(cmd, *args, **kwargs):
        compiles.append(cmd)
        return run(cmd, *args, **kwargs)

    monkeypatch.setattr(subprocess, "run", counting)
    jar = session._local_fs_jar(cache_dir=str(cache))
    assert jar and len(compiles) == 1
    with zipfile.ZipFile(jar) as z:
        assert sorted(z.namelist()) == [
            "dbus_spark/NioLocalFileSystem$Raw.class",
            "dbus_spark/NioLocalFileSystem.class",
        ]
    assert session._local_fs_jar(cache_dir=str(cache)) == jar
    assert len(compiles) == 1

    changed = tmp_path / "NioLocalFileSystem.java"
    with open(session._LOCAL_FS_SOURCE) as f:
        changed.write_text(f.read() + "// changed\n")
    other = session._local_fs_jar(str(changed), str(cache))
    assert other != jar and len(compiles) == 2
    # no build directory is left behind
    assert sorted(os.listdir(cache)) == sorted(
        os.path.basename(j) for j in (jar, other)
    )


def test_no_javac_gives_no_jar(tmp_path, monkeypatch):
    monkeypatch.setenv("JAVA_HOME", str(tmp_path))
    monkeypatch.setenv("PATH", str(tmp_path))
    assert session._javac() is None
    assert session._local_fs_jar(cache_dir=str(tmp_path / "cache")) is None
    assert not (tmp_path / "cache").exists()


def test_failed_build_keeps_hadoops_filesystem_with_one_warning(
    monkeypatch, caplog
):
    def failing(*args, **kwargs):
        raise subprocess.CalledProcessError(1, "javac", stderr="error: x")

    monkeypatch.setattr(session, "_local_fs_jar", failing)
    with caplog.at_level(logging.WARNING, logger=session.__name__):
        assert session._built_local_fs_jar.__wrapped__() is None
    assert [r.getMessage() for r in caplog.records] == [
        "dbus_spark: keeping Hadoop's local filesystem "
        "(javac failed: error: x)"
    ]


def _manager_class(spark, path):
    jvm = spark._jvm
    manager = jvm.org.apache.spark.sql.execution.streaming.checkpointing
    return (
        manager.CheckpointFileManager.create(
            jvm.org.apache.hadoop.fs.Path(str(path)),
            spark._jsparkSession.sessionState().newHadoopConf(),
        )
        .getClass()
        .getName()
    )


def test_local_session_resolves_the_filesystem_manager(spark, tmp_path):
    assert _manager_class(spark, tmp_path) == _FS
    original = spark.conf.get(_KEY)
    spark.conf.set(_KEY, _FC)
    try:
        assert _manager_class(spark, tmp_path) == _FC
    finally:
        spark.conf.set(_KEY, original)


def _files(ck):
    """``relative path -> mode`` of every file under ``ck``."""
    out = {}
    for root, _, names in os.walk(ck):
        for name in names:
            path = os.path.join(root, name)
            mode = stat.S_IMODE(os.stat(path).st_mode)
            out[os.path.relpath(path, ck)] = mode
    return out


def _assert_clean(ck):
    files = _files(ck)
    assert not [f for f in files if f.endswith(".tmp")], files
    for rel in files:
        head, name = os.path.split(rel)
        if not name.startswith("."):
            assert os.path.join(head, f".{name}.crc") in files, rel
    for kind in ("offsets", "commits", "sources", "state"):
        assert any(f.startswith(kind + os.sep) for f in files), kind


def test_filecontext_checkpoint_resumes_under_filesystem_manager(
    spark, tmp_path
):
    """A windowed checkpoint written by the FileContext manager and
    stopped after two sink epochs resumes under the session default,
    with three files landing between stop and restart, and the sink
    equals an uninterrupted run. Both managers leave no temp file,
    keep every ``.crc`` side file, and give each file the same mode.
    The first run drains its two files before it stops: a stop in the
    middle of a checkpoint write may leave that write's temp file
    (mid-stream kills are tested in tests/test_streaming.py)."""
    pdf = generate_transcripts(n_convs=50, seed=42)
    full, kr = tmp_path / "full", tmp_path / "kr"
    write_stream_batches(pdf, str(full / "in"), n_files=5)
    sink_full = IdempotentKeyedSink(
        str(full / "out"), keys=["conv_id", "window_start"]
    )
    _run_windowed(spark, full, sink_full)

    names = sorted(os.listdir(full / "in"))
    os.makedirs(kr / "in")
    for name in names[:2]:
        os.link(full / "in" / name, kr / "in" / name)
    sink = IdempotentKeyedSink(
        str(kr / "out"), keys=["conv_id", "window_start"]
    )
    original = spark.conf.get(_KEY)
    assert original == _FS
    spark.conf.set(_KEY, _FC)
    try:
        _run_windowed(spark, kr, sink)
    finally:
        spark.conf.set(_KEY, original)
    before = _files(kr / "ck")
    for name in names[2:]:
        os.link(full / "in" / name, kr / "in" / name)
    _run_windowed(spark, kr, sink)

    def rows(s):
        return (
            s.read(spark)
            .select("conv_id", "window_start", "n_turns")
            .toPandas()
            .sort_values(["conv_id", "window_start"])
            .reset_index(drop=True)
        )

    got, base = rows(sink), rows(sink_full)
    assert not got.duplicated(["conv_id", "window_start"]).any()
    assert len(base) > 0
    assert got.equals(base)

    for ck in (full / "ck", kr / "ck"):
        _assert_clean(ck)
    after, uninterrupted = _files(kr / "ck"), _files(full / "ck")
    # the files the FileContext manager wrote have the modes the
    # FileSystem manager gives the same files, and the new ones
    new = set(after) - set(before)
    assert {f for f in new if f.startswith("offsets")}, new
    for rel, mode in before.items():
        if rel in uninterrupted:
            assert uninterrupted[rel] == mode, rel
    assert {after[f] for f in new} <= set(before.values())


def _fs_class(spark, conf=None):
    jvm = spark._jvm
    return (
        jvm.org.apache.hadoop.fs.FileSystem.get(
            jvm.java.net.URI("file:///"),
            conf or spark._jsparkSession.sessionState().newHadoopConf(),
        )
        .getClass()
        .getName()
    )


@contextlib.contextmanager
def _filesystem(spark, impl):
    """Run a block with the session's ``file:`` scheme on ``impl``
    (uncached, so each ``FileSystem.get`` builds one), then restore the
    session default. A session conf reaches the Hadoop conf of the
    session's jobs under its own key, without ``spark.hadoop.``."""
    confs = {"fs.file.impl": impl, "fs.file.impl.disable.cache": "true"}
    for key, value in confs.items():
        spark.conf.set(key, value)
    try:
        assert _fs_class(spark) == impl
        yield
    finally:
        for key in confs:
            spark.conf.unset(key)


def _stock_class(spark):
    """The class Hadoop gives the ``file:`` scheme without the session's
    confs (through its service loader)."""
    jvm = spark._jvm
    return (
        jvm.org.apache.hadoop.fs.FileSystem.getFileSystemClass(
            "file", jvm.org.apache.hadoop.conf.Configuration()
        )
        .getName()
    )


def _bytes_written(spark, raw_class):
    jvm = spark._jvm
    cls = jvm.java.lang.Class.forName(raw_class)
    return jvm.org.apache.hadoop.fs.FileSystem.getStatistics(
        "file", cls
    ).getBytesWritten()


@needs_javac
def test_local_session_resolves_the_nio_filesystem(spark):
    # a bundled Hive jar registers the stock class in this PySpark
    assert _stock_class(spark) == _STOCK
    assert _fs_class(spark) == _NIO
    assert _fs_class(spark, spark._jsc.hadoopConfiguration()) == _NIO
    fs = spark._jvm.org.apache.hadoop.fs.FileSystem.get(
        spark._jvm.java.net.URI("file:///"), spark._jsc.hadoopConfiguration()
    )
    assert fs.getRawFileSystem().getClass().getName() == _NIO + "$Raw"


_UUID = re.compile(r"[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}")


def _written(spark, root):
    """A parquet write, then a windowed stream with a checkpoint and
    the keyed sink, under ``root``; every file's and directory's name
    (UUIDs masked) and mode."""
    spark.range(0, 40, 1, 2).write.parquet(str(root / "table"))
    write_stream_batches(
        generate_transcripts(n_convs=30, seed=7), str(root / "in"), n_files=3
    )
    sink = IdempotentKeyedSink(
        str(root / "out"), keys=["conv_id", "window_start"]
    )
    _run_windowed(spark, root, sink)
    dirs = [
        os.path.relpath(os.path.join(top, d), root) + os.sep
        for top, subdirs, _ in os.walk(root)
        for d in subdirs
    ]
    modes = {
        **_files(root),
        **{d: stat.S_IMODE(os.stat(root / d).st_mode) for d in dirs},
    }
    return sorted(
        (_UUID.sub("U", rel), mode)
        for rel, mode in modes.items()
        if not rel.startswith("in" + os.sep)
    )


@needs_javac
def test_nio_filesystem_writes_the_files_the_stock_one_writes(
    spark, tmp_path
):
    """The stock checksummed local filesystem and the engine's write the
    same file names, ``.crc`` siblings and modes for a parquet table, a
    streaming checkpoint and a sink."""
    raws = ("org.apache.hadoop.fs.RawLocalFileSystem", _NIO + "$Raw")
    stock = _stock_class(spark)
    got = {}
    for impl in (stock, _NIO):
        before = [_bytes_written(spark, raw) for raw in raws]
        with _filesystem(spark, impl):
            got[impl] = _written(spark, tmp_path / impl)
        after = [_bytes_written(spark, raw) for raw in raws]
        # the files went through the filesystem under test
        wrote = [a > b for a, b in zip(after, before)]
        assert wrote == ([True, False] if impl == stock else [False, True])
    names = [rel for rel, _ in got[_NIO]]
    for rel in names:
        head, name = os.path.split(rel)
        # directories have no checksum; the sink's epoch markers are
        # written by Python, not Hadoop
        if name and not name.startswith(".") and not head.endswith("_batches"):
            assert os.path.join(head, f".{name}.crc") in names, rel
    assert any(rel.startswith("table" + os.sep) for rel in names)
    assert any(rel.startswith("ck" + os.sep + "state") for rel in names)
    assert any(rel.startswith("out" + os.sep) for rel in names)
    assert got[_NIO] == got[stock]


@needs_javac
def test_nio_filesystem_renames_as_the_stock_one(spark, tmp_path):
    """A rename onto a new name, onto an existing file (which the stock
    class refuses) and of a directory gives the stock result, ``.crc``
    side files included."""
    jvm = spark._jvm
    fs_api, uri = jvm.org.apache.hadoop.fs, jvm.java.net.URI("file:///")
    stock = fs_api.FileSystem.newInstance(
        uri, jvm.org.apache.hadoop.conf.Configuration()
    )
    filesystems = {
        "stock": stock,
        "nio": fs_api.FileSystem.get(uri, spark._jsc.hadoopConfiguration()),
    }
    outcome = {}
    try:
        for name, fs in filesystems.items():
            root = tmp_path / name
            for f in ("a", "b", "c", "d/e"):
                out = fs.create(fs_api.Path(str(root / f)))
                out.writeBytes(f)
                out.close()
            renames = [
                fs.rename(*(fs_api.Path(str(root / p)) for p in pair))
                for pair in (("a", "b"), ("c", "n"), ("d", "m"))
            ]
            files = {
                rel: (root / rel).read_bytes() for rel in _files(root)
            }
            outcome[name] = (renames, files)
    finally:
        stock.close()
    assert outcome["stock"][0] == [False, True, True]
    assert ".a.crc" in outcome["stock"][1]
    assert outcome["nio"] == outcome["stock"]


@needs_javac
def test_stock_filesystem_checkpoint_resumes_under_nio(spark, tmp_path):
    """A windowed checkpoint written through the stock local filesystem
    and stopped after two sink epochs resumes under the session
    default, with two files landing between stop and restart, and the
    sink equals an uninterrupted run."""
    pdf = generate_transcripts(n_convs=50, seed=43)
    full, kr = tmp_path / "full", tmp_path / "kr"
    write_stream_batches(pdf, str(full / "in"), n_files=5)
    sink_full = IdempotentKeyedSink(
        str(full / "out"), keys=["conv_id", "window_start"]
    )
    _run_windowed(spark, full, sink_full)

    names = sorted(os.listdir(full / "in"))
    os.makedirs(kr / "in")
    for name in names[:3]:
        os.link(full / "in" / name, kr / "in" / name)
    sink = IdempotentKeyedSink(
        str(kr / "out"), keys=["conv_id", "window_start"]
    )
    with _filesystem(spark, _stock_class(spark)):
        _run_windowed(spark, kr, sink, stop_after=2)
    for name in names[3:]:
        os.link(full / "in" / name, kr / "in" / name)
    assert _fs_class(spark) == _NIO
    _run_windowed(spark, kr, sink)

    def rows(s):
        return (
            s.read(spark)
            .select("conv_id", "window_start", "n_turns")
            .toPandas()
            .sort_values(["conv_id", "window_start"])
            .reset_index(drop=True)
        )

    got, base = rows(sink), rows(sink_full)
    assert not got.duplicated(["conv_id", "window_start"]).any()
    assert len(base) > 0
    assert got.equals(base)


_RUNNING_JVM = """
import os
from pyspark.sql import SparkSession
from dbus_spark.session import get_spark, _local_fs_for
SparkSession.builder.master("local[1]").getOrCreate().stop()
s = get_spark("fallback", master="local[1]", shuffle_partitions=1,
              extra_confs={"spark.driver.memory": "512m"})
jvm = s._jvm
fs = jvm.org.apache.hadoop.fs.FileSystem.get(
    jvm.java.net.URI("file:///"), s._jsc.hadoopConfiguration())
print(_local_fs_for("local[1]"))
print(fs.getClass().getName())
out = os.path.join(os.environ["OUT"], "t")
s.range(5).write.parquet(out)
print(s.read.parquet(out).count())
s.stop()
"""


@needs_javac
def test_running_jvm_without_the_jar_keeps_hadoops_filesystem(tmp_path):
    """A JVM that was started without the jar cannot load the class, so
    a later ``get_spark`` in it keeps Hadoop's filesystem and works."""
    env = {
        **os.environ,
        "OUT": str(tmp_path),
        "PYTHONPATH": os.pathsep.join(
            [os.getcwd(), os.environ.get("PYTHONPATH", "")]
        ),
    }
    out = subprocess.run(
        [sys.executable, "-c", _RUNNING_JVM],
        env=env, cwd=os.path.dirname(os.path.dirname(__file__)),
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    jar, fs, count = out.stdout.split()[-3:]
    assert jar == "None"
    assert fs != _NIO
    assert count == "5"
