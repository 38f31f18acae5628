"""SparkSession factory with scale-oriented defaults.

Replaces the reference engine's hand-tuned runtime knobs
(pool sizes / channel depths, reference: engine/global.go:72-87,
cmd/dbusd/option.go:53-69) with the Spark-native equivalents:
AQE, shuffle-partition sizing, Arrow batching, and state-store tuning.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

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
    builder = SparkSession.builder.appName(app_name).master(master)
    for k, v in _session_confs(master, shuffle, extra_confs).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def _session_confs(
    master: str, shuffle: int, extra_confs: dict[str, str] | None
) -> dict[str, str]:
    """The confs :func:`get_spark` sets, in order; a later key wins, so
    ``extra_confs`` overrides every default."""
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
    return confs


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
