"""SparkSession factory with scale-oriented defaults.

Replaces the reference engine's hand-tuned runtime knobs
(pool sizes / channel depths, reference: engine/global.go:72-87,
cmd/dbusd/option.go:53-69) with the Spark-native equivalents:
AQE, shuffle-partition sizing, Arrow batching, and state-store tuning.
"""

from __future__ import annotations

import functools
import glob
import hashlib
import logging
import os
import re
import shutil
import subprocess
import tempfile
import zipfile

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

_log = logging.getLogger(__name__)

# Defaults chosen for the sandbox (local[N], 128 GiB, parquet inputs).
# On a real 1000-executor cluster only master/shuffle.partitions change;
# everything else is scale-invariant policy.
_DEFAULT_CONFS = {
    # Let AQE coalesce/split shuffle partitions at runtime; handles skew
    # joins without manual salting where Spark supports it.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for every pandas UDF / applyInPandas crossing (input_hint:
    # no per-row Python anywhere).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # Commit deltas instead of full RocksDB snapshots per micro-batch —
    # the recommended production setting for frequent small commits;
    # snapshots still happen in the background for bounded replay.
    # (Applies whenever the RocksDB provider is selected below.)
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing"
    ".enabled": "true",
    # Streaming micro-batch planning.
    "spark.sql.streaming.noDataMicroBatches.enabled": "false",
    # collect_list/collect_set aggregations (session role sequences)
    # use ObjectHashAggregate, which falls back to sort-based
    # aggregation at 128 distinct keys PER TASK — absurdly low for
    # sessionization (thousands of sessions per partition). Raising it
    # keeps the hash path; memory stays bounded by per-session payload.
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold": "65536",
    # Deterministic timezone for window arithmetic + oracle comparison.
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.parquet.compression.codec": "snappy",
    "spark.ui.enabled": "false",
    # local mode runs everything in the driver JVM: size the heap for
    # the thread count (the 1g default thrashes GC at local[32]).
    # On a real cluster this maps to executor memory instead.
    "spark.driver.memory": "48g",
    "spark.memory.fraction": "0.7",
}

# Local masters commit micro-batches through the FileSystem-API
# checkpoint manager. Spark's default, the FileContext manager, renames
# each checkpoint file (offsets, commits, source log, one state delta
# per store instance) through FileContext, which asks for the link
# status of the source, the target and their .crc files; without
# libhadoop (pip-installed PySpark ships none) each such call forks a
# `readlink` child, about 4.5 ms apiece and ~100 per micro-batch of a
# windowed query. On a POSIX disk both managers write the same files
# (.crc side files and permission bits included) with the same
# temp-file-then-rename protocol, and rename(2) replaces the target
# atomically. A cluster master keeps Spark's default: its checkpoints
# live on a distributed store, where FileContext's rename is the one
# that refuses an existing target atomically.
_LOCAL_MASTER = re.compile(r"local(\[(\d+|\*)(,\d+)?\])?")
_LOCAL_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)

# Local masters also write every file (checkpoint logs, state deltas,
# sink parts) through a checksummed local filesystem that sets file
# modes in-process: NioLocalFileSystem.java, next to this module.
# Without libhadoop, Hadoop's RawLocalFileSystem forks `/bin/chmod`
# (~4.5 ms) for each file it creates and again for the file's .crc
# sibling; a JFR census of the driver's child processes counted ~41
# such forks per micro-batch of a windowed query with a parquet sink
# (16 from the state deltas, ~13 from the sink epoch, 6 from the
# checkpoint logs) and ~15 per micro-batch of a stateless routed
# output. The class extends Hadoop's LocalFileSystem, so the .crc side
# files, checksum verification and the modes themselves are unchanged;
# only the chmod is a java.nio call. It also keeps the one rule of the
# stock `file:` class of this PySpark (Hive's ProxyLocalFileSystem,
# registered by a bundled Hive jar): a rename never replaces an
# existing file. `get_spark` compiles it once per
# source, Hadoop jar and JDK into a per-user cache and puts the jar on
# the driver's class path. Without a javac, or when the compile or the
# cache fails, the session keeps Hadoop's filesystem and one warning is
# logged. Cluster masters keep Hadoop's filesystem: their executors
# would not have the jar.
_LOCAL_FS_CLASS = "dbus_spark.NioLocalFileSystem"
_LOCAL_FS_SOURCE = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "NioLocalFileSystem.java"
)


def get_spark(
    app_name: str = "dbus_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (the driver's
    contract), shuffle partitions default to the core count — at cluster
    scale set this to 2-3x total cores instead.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    shuffle = shuffle_partitions if shuffle_partitions is not None else cpus
    fs_jar = _local_fs_for(master)
    builder = SparkSession.builder.appName(app_name).master(master)
    for k, v in _session_confs(master, shuffle, extra_confs, fs_jar).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def _session_confs(
    master: str,
    shuffle: int,
    extra_confs: dict[str, str] | None,
    fs_jar: str | None = None,
) -> dict[str, str]:
    """The confs :func:`get_spark` sets, in order; a later key wins, so
    ``extra_confs`` overrides every default. ``fs_jar`` holds the local
    filesystem class (:func:`_local_fs_jar`); a local master then uses
    it unless ``extra_confs`` names another ``fs.file.impl``, and the
    jar is added to any driver class path ``extra_confs`` sets."""
    # Micro-batch state store, parameterized (SPARK_GRAFT_STATE_STORE
    # = hdfs | rocksdb). Default: the in-memory HDFS-backed provider —
    # every stateful operator in this engine keeps deliberately
    # BOUNDED state (watermark-evicted windows/sessions, TTL'd +
    # rep-capped sketch cells, bucket-coarsened ordering frontiers),
    # so per-instance RocksDB spin-up/commit is pure per-micro-batch
    # overhead (the r5 sweep measured ~1.4x on the near-dup filter;
    # the flagship window pipeline shows ~10% wall and ~15% p95).
    # RocksDB remains the right opt-in when a single pipeline's live
    # key space exceeds executor memory (unbounded keys, huge TTL
    # horizons) — it spills state to disk instead of OOMing.
    providers = {
        "hdfs": (
            "org.apache.spark.sql.execution.streaming.state."
            "HDFSBackedStateStoreProvider"
        ),
        "rocksdb": (
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider"
        ),
    }
    store = os.environ.get("SPARK_GRAFT_STATE_STORE", "hdfs").lower()
    if store not in providers:
        raise ValueError(
            f"SPARK_GRAFT_STATE_STORE must be one of {sorted(providers)}, "
            f"got {store!r}"
        )
    confs = {
        "spark.sql.streaming.stateStore.providerClass": providers[store],
        **_DEFAULT_CONFS,
        "spark.sql.shuffle.partitions": str(shuffle),
        "spark.default.parallelism": str(shuffle),
    }
    if _LOCAL_MASTER.fullmatch(master):
        confs["spark.sql.streaming.checkpointFileManagerClass"] = (
            _LOCAL_CHECKPOINT_MANAGER
        )
    confs.update(extra_confs or {})
    if fs_jar and _LOCAL_MASTER.fullmatch(master):
        confs.setdefault("spark.hadoop.fs.file.impl", _LOCAL_FS_CLASS)
        cp = confs.get("spark.driver.extraClassPath")
        confs["spark.driver.extraClassPath"] = (
            f"{cp}{os.pathsep}{fs_jar}" if cp else fs_jar
        )
    return confs


def _javac() -> str | None:
    """``$JAVA_HOME/bin/javac``, else the ``javac`` on ``PATH``."""
    home = os.environ.get("JAVA_HOME")
    if home and os.access(os.path.join(home, "bin", "javac"), os.X_OK):
        return os.path.join(home, "bin", "javac")
    return shutil.which("javac")


def _local_fs_jar(
    source: str = _LOCAL_FS_SOURCE, cache_dir: str | None = None
) -> str | None:
    """The jar of the class in ``source``, compiled against Spark's
    Hadoop client jar on first use and reused from ``cache_dir``
    (default ``$XDG_CACHE_HOME/dbus_spark``, else
    ``~/.cache/dbus_spark``) after that. The cache key hashes the
    source, the Hadoop jar's name and the JDK's ``release`` file.
    None when there is no javac or no Hadoop client jar; a failed
    compile or an unwritable cache raises."""
    javac = _javac()
    hadoop = sorted(
        glob.glob(
            os.path.join(
                _find_spark_home(), "jars", "hadoop-client-api-*.jar"
            )
        )
    )
    if javac is None or not hadoop:
        return None
    javac = os.path.realpath(javac)
    try:
        with open(
            os.path.join(os.path.dirname(os.path.dirname(javac)), "release")
        ) as f:
            jdk = f.read()
    except OSError:
        jdk = ""
    with open(source, "rb") as f:
        code = f.read()
    key = hashlib.sha256(
        repr((code, os.path.basename(hadoop[-1]), javac, jdk)).encode()
    ).hexdigest()[:16]
    cache_dir = cache_dir or os.path.join(
        os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache"),
        "dbus_spark",
    )
    jar = os.path.join(cache_dir, f"localfs-{key}.jar")
    if os.path.exists(jar):
        return jar
    os.makedirs(cache_dir, exist_ok=True)
    build = tempfile.mkdtemp(prefix=".build-", dir=cache_dir)
    try:
        classes = os.path.join(build, "classes")
        subprocess.run(
            [javac, "--release", "17", "-cp", hadoop[-1],
             "-d", classes, source],
            check=True, capture_output=True, text=True,
        )
        tmp = os.path.join(build, "out.jar")
        with zipfile.ZipFile(tmp, "w") as z:
            for root, _, names in os.walk(classes):
                for name in names:
                    path = os.path.join(root, name)
                    z.write(path, os.path.relpath(path, classes))
        os.replace(tmp, jar)
    finally:
        shutil.rmtree(build, ignore_errors=True)
    return jar


@functools.lru_cache(maxsize=None)
def _built_local_fs_jar() -> str | None:
    """:func:`_local_fs_jar` once per process; None, with one warning,
    when it cannot give a jar."""
    try:
        jar = _local_fs_jar()
        why = "no javac or no Hadoop client jar"
    except subprocess.CalledProcessError as e:
        jar, why = None, f"javac failed: {e.stderr.strip()}"
    except OSError as e:
        jar, why = None, str(e)
    if jar is None:
        _log.warning("dbus_spark: keeping Hadoop's local filesystem (%s)", why)
    return jar


def _local_fs_for(master: str) -> str | None:
    """The local filesystem jar for a session on ``master``, or None.
    A JVM that is already running keeps its class path, so its sessions
    get the class only if that JVM was started with the jar."""
    if not _LOCAL_MASTER.fullmatch(master):
        return None
    jar = _built_local_fs_jar()
    jvm = SparkContext._jvm
    if jar and jvm is not None:
        utils = jvm.org.apache.spark.util.Utils
        if not utils.classIsLoadable(_LOCAL_FS_CLASS):
            return None
    return jar


def _n_partitions(spark: SparkSession) -> int:
    """The session's ``spark.sql.shuffle.partitions`` as an int, for
    stages that pin their partition count. Platforms that allow a
    non-numeric value there (``auto``) get ``defaultParallelism``
    instead of a plan-construction crash."""
    value = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        return int(value)
    except (TypeError, ValueError):
        return spark.sparkContext.defaultParallelism
