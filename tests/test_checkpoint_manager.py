"""The checkpoint file manager of local sessions.

``get_spark`` commits micro-batches of a local session through Spark's
FileSystem-API checkpoint manager instead of the FileContext one (see
``session.py``). Both write the same files with the same
temp-file-then-rename protocol, so a checkpoint written under one
resumes under the other, keeps its ``.crc`` side files, and its files
keep their modes.
"""

import os
import stat

import pytest

from dbus_spark.session import _session_confs
from dbus_spark.sinks import IdempotentKeyedSink
from dbus_spark.datagen import generate_transcripts, write_stream_batches
from tests.test_streaming import _run_windowed

_KEY = "spark.sql.streaming.checkpointFileManagerClass"
_PKG = "org.apache.spark.sql.execution.streaming.checkpointing."
_FS = _PKG + "FileSystemBasedCheckpointFileManager"
_FC = _PKG + "FileContextBasedCheckpointFileManager"


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
    assert _session_confs(master, 4, None).get(_KEY) == manager


def test_explicit_manager_conf_wins():
    assert _session_confs("local[4]", 4, {_KEY: _FC})[_KEY] == _FC
    assert _session_confs("yarn", 4, {_KEY: _FS})[_KEY] == _FS


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
    with two files landing between stop and restart, and the sink
    equals an uninterrupted run. Both managers leave no temp file,
    keep every ``.crc`` side file, and give each file the same mode."""
    pdf = generate_transcripts(n_convs=50, seed=42)
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
    original = spark.conf.get(_KEY)
    assert original == _FS
    spark.conf.set(_KEY, _FC)
    try:
        _run_windowed(spark, kr, sink, stop_after=2)
    finally:
        spark.conf.set(_KEY, original)
    before = _files(kr / "ck")
    for name in names[3:]:
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
