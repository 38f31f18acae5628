"""Streaming execution of a Pipeline: the `dbusd` run loop analog.

Each Output plugin becomes one StreamingQuery over the shared routed
plan (the reference's router hub = the shared micro-batch; each sink's
DAG is source.filter(match) — SURVEY.md §2.3). Lifecycle parity:

- ``start()``      ≈ Engine.ServeForever (engine/engine.go:271-433)
- ``stop()``       ≈ drain-and-stop shutdown (engine/router.go:146-192)
- ``pause(name)`` / ``resume(name)`` ≈ REST pause/resume of a plugin
  (engine/api_v1.go:10-47) — implemented as query stop / restart from
  the same checkpoint, which is the exactly-once-safe form of pausing
- ``peek(...)``    ≈ `dbc peek` (cmd/dbc/command/peek.go:21-72)

Streaming Inputs come from source plugins whose factory returns a
streaming DataFrame (FileStreamInput, RateInput, KafkaInput); Outputs
use streaming sink factories registered alongside the batch ones.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from typing import Callable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from dbus_spark.datagen import write_stream_batches
from dbus_spark.pipeline.dag import Pipeline, _idempotent_sink
from dbus_spark.schema import TRANSCRIPT_SCHEMA
from dbus_spark.streaming.checkpoint import recorded_source_count

# class name → factory(options) -> fn(df, name, checkpoint) -> query
STREAM_SINKS: dict[str, Callable] = {}


def register_stream_sink(class_name: str, factory: Callable) -> None:
    if class_name in STREAM_SINKS:
        raise ValueError(f"stream sink already registered: {class_name}")
    STREAM_SINKS[class_name] = factory


def _noop_stream(options: dict) -> Callable:
    def fn(df: DataFrame, name: str, ckpt: str) -> StreamingQuery:
        return (
            df.writeStream.outputMode(options.get("output_mode", "append"))
            .format("noop")
            .option("checkpointLocation", ckpt)
            .start()
        )

    return fn


def _memory_stream(options: dict) -> Callable:
    def fn(df: DataFrame, name: str, ckpt: str) -> StreamingQuery:
        return (
            df.writeStream.outputMode(options.get("output_mode", "append"))
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", ckpt)
            .start()
        )

    return fn


def _parquet_stream(options: dict) -> Callable:
    path = options["path"]

    def fn(df: DataFrame, name: str, ckpt: str) -> StreamingQuery:
        return (
            df.writeStream.outputMode("append")
            .format("parquet")
            .option("path", path)
            .option("checkpointLocation", ckpt)
            .start()
        )

    return fn


def _idempotent_stream(options: dict) -> Callable:
    def fn(df: DataFrame, name: str, ckpt: str) -> StreamingQuery:
        sink = _idempotent_sink(options)
        return (
            df.writeStream.outputMode(options.get("output_mode", "append"))
            .foreachBatch(sink.foreach_batch())
            .option("checkpointLocation", ckpt)
            .start()
        )

    return fn


def _kafka_stream(options: dict) -> Callable:
    """Kafka sink (KafkaOutput analog) — requires the kafka connector
    jar + a broker; config shape kept for production use."""

    def fn(df: DataFrame, name: str, ckpt: str) -> StreamingQuery:
        return (
            df.writeStream.format("kafka")
            .option("kafka.bootstrap.servers", options["servers"])
            .option("topic", options["topic"])
            .option("checkpointLocation", ckpt)
            .start()
        )

    return fn


for _n, _f in [
    ("NoopOutput", _noop_stream),
    ("MemoryOutput", _memory_stream),
    ("ParquetOutput", _parquet_stream),
    ("IdempotentOutput", _idempotent_stream),
    ("KafkaOutput", _kafka_stream),
]:
    register_stream_sink(_n, _f)


def _plan_sources(df: DataFrame) -> int:
    """Sources a query over ``df`` records per offsets entry: one per
    streaming leaf of the analyzed plan (a source read by two union
    branches counts twice)."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    return sum(leaves.apply(i).isStreaming() for i in range(leaves.size()))


class StreamingPipeline:
    """Run a Pipeline's outputs as streaming queries."""

    def __init__(
        self,
        pipeline: Pipeline,
        checkpoint_root: str,
        sources: dict[str, DataFrame] | None = None,
    ):
        self.pipeline = pipeline
        self.checkpoint_root = checkpoint_root
        self.sources = sources or {}
        self.queries: dict[str, StreamingQuery] = {}
        self._spark: SparkSession | None = None

    def _ckpt(self, name: str) -> str:
        return os.path.join(self.checkpoint_root, name)

    def _start_one(self, spark: SparkSession, name: str) -> StreamingQuery:
        out_df = self.pipeline.outputs(spark, self.sources)[name]
        recorded = recorded_source_count(self._ckpt(name))
        if recorded is not None and recorded != _plan_sources(out_df):
            # a checkpoint written before route pruning records one
            # source per unpruned branch, and Spark resumes it only with
            # as many; keep that plan shape for this checkpoint
            out_df = self.pipeline._outputs(spark, self.sources, prune=False)[
                name
            ]
        plug = self.pipeline.plugins[name]
        factory = STREAM_SINKS.get(plug.class_name)
        if factory is None:
            raise ValueError(
                f"no streaming sink for class {plug.class_name!r}"
            )
        return factory(plug.options)(out_df, name, self._ckpt(name))

    def start(self, spark: SparkSession) -> "StreamingPipeline":
        """Outputs first, like the reference's strict start order
        (engine/engine.go:303-339: outputs → filters → inputs)."""
        self._spark = spark
        for p in self.pipeline.plugins.values():
            if p.kind == "Output":
                self.queries[p.name] = self._start_one(spark, p.name)
        return self

    def process_all_available(self) -> None:
        for q in self.queries.values():
            q.processAllAvailable()

    def stop(self) -> None:
        for q in self.queries.values():
            q.stop()
        for q in self.queries.values():
            q.awaitTermination(60)

    # -- hot reload (engine/engine.go:355-363 analog) --------------------

    def reload(self, new_pipeline: Pipeline) -> "StreamingPipeline":
        """Config-change hot reload: gracefully drain and stop every
        query, swap in the new Pipeline, and restart each output from
        its existing checkpoint — the reference's config-watch →
        graceful-restart loop (engine/engine.go:355-363,
        cmd/dbusd/main.go:70-90), with Spark's checkpoint making the
        restart exactly-once instead of best-effort. Plan changes must
        be checkpoint-compatible per Spark's usual stateful-operator
        evolution rules (adding sinks/routes or changing stateless
        transforms is fine; reshaping stateful operators is not)."""
        assert self._spark is not None, "pipeline not started"
        self.stop()
        self.pipeline = new_pipeline
        self.queries = {}
        return self.start(self._spark)

    # -- pause / resume (engine/api_v1.go analog) -----------------------

    def pause(self, name: str) -> None:
        """Stop one output's query; its checkpoint keeps the position
        (the reference pauses the *input*; with per-sink checkpoints,
        pausing the query is the equivalent safe point)."""
        self.queries[name].stop()
        self.queries[name].awaitTermination(60)

    def resume(self, name: str) -> None:
        assert self._spark is not None, "pipeline not started"
        self.queries[name] = self._start_one(self._spark, name)

    # -- introspection ---------------------------------------------------

    def progress(self) -> dict[str, dict]:
        return {
            n: (q.lastProgress or {}) for n, q in self.queries.items()
        }


def peek(
    spark: SparkSession,
    dir_path: str,
    n: int = 10,
    schema=TRANSCRIPT_SCHEMA,
) -> list:
    """`dbc peek` analog: tail a streaming directory without side
    effects — one-shot availableNow read into memory, return n rows."""
    df = spark.readStream.schema(schema).parquet(dir_path)
    q = (
        df.writeStream.outputMode("append")
        .format("memory")
        .queryName("_peek")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql(f"SELECT * FROM _peek LIMIT {n}").collect()
    return rows


def replay(
    spark: SparkSession,
    frame: pd.DataFrame,
    schema,
    build: Callable[[DataFrame], DataFrame],
    n_files: int = 4,
    then=(),
) -> pd.DataFrame:
    """Replay ``frame`` as a file stream and return what ``build`` emits.

    ``frame`` is written as ``n_files`` parquet files, then each frame
    of ``then`` as one more file (``datagen.write_stream_batches``).
    They are read with ``schema``, one file per trigger, into
    ``build(src)`` in append mode, and every emitted batch is
    collected. Each file is moved into the source directory only after
    the previous one has been drained: ``FileStreamSource`` orders new
    files by modification time at millisecond resolution, so two small
    files written back to back can tie and swap (a flush sentinel
    overtaking the rows it closes), and a rename never shows a reader a
    half-written file.

    Returns the batches as one frame; when nothing was emitted, an
    empty frame with the query's output columns."""
    tmp = tempfile.mkdtemp(prefix="replay_")
    try:
        staged = os.path.join(tmp, "staged")
        paths = write_stream_batches(frame, staged, n_files)
        for j, extra in enumerate(then):
            paths += write_stream_batches(
                extra, staged, 1, start_index=n_files + j
            )
        in_dir = os.path.join(tmp, "in")
        os.makedirs(in_dir)
        src = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir)
        )
        out = build(src)
        got: list[pd.DataFrame] = []
        q = (
            out.writeStream.outputMode("append")
            .option("checkpointLocation", os.path.join(tmp, "ck"))
            .foreachBatch(lambda df, _epoch: got.append(df.toPandas()))
            .start()
        )
        try:
            for p in paths:
                os.rename(p, os.path.join(in_dir, os.path.basename(p)))
                q.processAllAvailable()
        finally:
            q.stop()
        if not got:
            return pd.DataFrame(columns=out.columns)
        return pd.concat(got, ignore_index=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
