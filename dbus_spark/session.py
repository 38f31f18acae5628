"""SparkSession factory with scale-oriented defaults.

Replaces the reference engine's hand-tuned runtime knobs
(pool sizes / channel depths, reference: engine/global.go:72-87,
cmd/dbusd/option.go:53-69) with the Spark-native equivalents:
AQE, shuffle-partition sizing, Arrow batching, and state-store tuning.
"""

from __future__ import annotations

import os

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

    builder = SparkSession.builder.appName(app_name).master(master)
    builder = builder.config(
        "spark.sql.streaming.stateStore.providerClass", providers[store]
    )
    for k, v in _DEFAULT_CONFS.items():
        builder = builder.config(k, v)
    builder = builder.config("spark.sql.shuffle.partitions", str(shuffle))
    builder = builder.config("spark.default.parallelism", str(shuffle))
    for k, v in (extra_confs or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


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
