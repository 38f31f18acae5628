"""The databus workloads, driven through the engine's public API.

Each workload builds its plan from ``sources``, ``functions.vectorized``,
``operators``, ``pipeline`` and ``sinks``, runs ``WARMUP_DRAINS`` warm-up
drains of that plan on throwaway checkpoints, and then runs measured passes.
A pass is one stream from a fresh checkpoint into fresh sinks that
drains a pre-written backlog (closed loop); a run drains the same files
again and again until its seconds are up, and at least ``MIN_PASSES``
times.

Every file holds ``Workload.rows_per_file`` turns cut from the head of
the arrival-ordered ``generate_transcripts(seed=...)`` fixture, so each
seed offers the engine the same amount of work per file.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field
from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from dbus_spark.datagen import generate_transcripts, write_stream_batches
from dbus_spark.functions.vectorized import enrich_turns
from dbus_spark.operators import windowed_agg
from dbus_spark.pipeline import Pipeline
from dbus_spark.pipeline.streaming import StreamingPipeline
from dbus_spark.sinks import IdempotentKeyedSink
from dbus_spark.sources import transcript_file_stream

from perfbench import checks
from perfbench.probes import cpu_ticks, live_heap_bytes

ROLES = ["user", "assistant", "tool"]
# a run's timings are medians over its passes, so it holds a few at least
MIN_PASSES = 2
# the first drain after the cold one still ran about 10 % slower than
# the drains after it, so set-up drains twice
WARMUP_DRAINS = 2


@dataclass
class Fixture:
    """Input rows in arrival order; ``_file`` names each row's file."""

    rows: pd.DataFrame  # datagen columns incl. _arrival, plus _file
    names: list[str]

    @property
    def source(self) -> pd.DataFrame:
        return self.rows.drop(columns=["_arrival"])

    def write(self, out_dir: str) -> list[str]:
        """Write the files with ``write_stream_batches``; returns their
        paths, in ``names`` order."""
        return write_stream_batches(
            self.rows.drop(columns=["_file"]), out_dir, n_files=len(self.names)
        )


def make_fixture(seed: int, n_files: int, rows_per_file: int) -> Fixture:
    needed = n_files * rows_per_file
    n_convs = max(needed // 30, 20)
    while True:
        pdf = generate_transcripts(n_convs=n_convs, seed=seed)
        if len(pdf) >= needed:
            break
        n_convs *= 2
    rows = pdf.head(needed).reset_index(drop=True)
    names = [f"batch-{i:05d}.parquet" for i in range(n_files)]
    rows["_file"] = np.repeat(names, rows_per_file)
    return Fixture(rows, names)


@dataclass
class Query:
    name: str
    query: object  # pyspark StreamingQuery
    ckpt: str
    sink: IdempotentKeyedSink


@dataclass(eq=False)
class Pass:
    """One stream from a fresh checkpoint, and what the harness saw."""

    queries: list[Query]
    source: pd.DataFrame  # rows offered in this pass, with _file
    t_start: float  # just before the plan was started
    t_end: float  # processAllAvailable returned on every query
    start_ms: float  # duration of the start call(s)
    due: dict[str, float]  # file name -> visible to the source
    steal: float  # share of the host's CPU time taken from this VM
    live_heap_bytes: int  # driver heap in use after the drain, after a GC
    # filled in from the checkpoints and progress records after the pass
    batch_files: list = field(default_factory=list)  # per query
    figures: dict = field(default_factory=dict)  # per-batch timings etc.
    dropped: int = 0  # rows dropped as late, all queries
    rows_written: int = 0  # rows in the sinks after the pass

    @property
    def turns(self) -> int:
        return len(self.source)


# --- plans -------------------------------------------------------------


def _foreach_batch(df, sink: IdempotentKeyedSink, ckpt: str):
    return (
        df.writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch(sink.foreach_batch())
        .start()
    )


def start_window(spark, in_dir: str, work: str) -> list[Query]:
    sink = IdempotentKeyedSink(
        os.path.join(work, "out"),
        keys=["conv_id", "window_start"],
        dedup_mode="epoch_overwrite",
        track_counts=False,
    )
    src = transcript_file_stream(spark, in_dir, max_files_per_trigger=1)
    agg = windowed_agg(
        enrich_turns(src),
        "1 minute",
        aggs={"n_turns": F.count("*"), "tok_sum": F.sum("n_tokens")},
        keys=["conv_id"],
        watermark="10 minutes",
    )
    ckpt = os.path.join(work, "ck")
    return [Query("windows", _foreach_batch(agg, sink, ckpt), ckpt, sink)]


def route_config(work: str) -> dict:
    plugins = [
        {"name": "turns", "class": "MemoryInput"},
        {
            "name": "rekey",
            "class": "RekeyFilter",
            "match": ["turns"],
            "options": {"ident_col": "role"},
        },
    ]
    for role in ROLES:
        plugins.append(
            {
                "name": role,
                "class": "IdempotentOutput",
                "match": [role],
                "options": {"path": os.path.join(work, f"out_{role}")},
            }
        )
    return {"plugins": plugins}


def start_route(spark, in_dir: str, work: str) -> list[Query]:
    src = transcript_file_stream(spark, in_dir, max_files_per_trigger=1)
    ck_root = os.path.join(work, "ck")
    sp = StreamingPipeline(
        Pipeline(route_config(work)), ck_root, sources={"turns": src}
    ).start(spark)
    return [
        Query(
            role,
            sp.queries[role],
            os.path.join(ck_root, role),
            IdempotentKeyedSink(os.path.join(work, f"out_{role}")),
        )
        for role in ROLES
    ]


# --- passes ------------------------------------------------------------


def _process_all(queries: list[Query]) -> None:
    for q in queries:
        q.query.processAllAvailable()


def stop_all(queries: list[Query]) -> None:
    for q in queries:
        q.query.stop()
    for q in queries:
        q.query.awaitTermination(60)


def warm_up(spark, start, fixture: Fixture, work: str) -> None:
    """Drain the fixture's files ``WARMUP_DRAINS`` times with the same
    plan, on throwaway checkpoints, sinks and input directory."""
    in_dir = os.path.join(work, "in")
    fixture.write(in_dir)
    for i in range(WARMUP_DRAINS):
        queries = start(spark, in_dir, os.path.join(work, f"drain{i}"))
        try:
            _process_all(queries)
        finally:
            stop_all(queries)
    shutil.rmtree(work)


def drain_pass(spark, start, fixture: Fixture, in_dir: str, work: str):
    """Closed loop: drain the whole pre-written backlog."""
    ticks = cpu_ticks()
    t0 = time.time()
    queries = start(spark, in_dir, work)
    t1 = time.time()
    try:
        _process_all(queries)
        t_end = time.time()
        stolen, total = (b - a for a, b in zip(ticks, cpu_ticks()))
        # the queries still hold their state here
        live = live_heap_bytes(spark)
    finally:
        stop_all(queries)
    due = {n: t0 for n in fixture.names}
    return Pass(
        queries, fixture.source, t0, t_end, (t1 - t0) * 1000, due,
        stolen / max(total, 1), live,
    )


@dataclass
class Workload:
    name: str
    start: object  # fn(spark, in_dir, work) -> list[Query]
    rows_per_file: int
    drain_files: int  # files in the backlog one pass drains

    def fixture(self, seed: int) -> Fixture:
        return make_fixture(seed, self.drain_files, self.rows_per_file)

    def run_passes(
        self, spark, fixture, work, seconds, min_passes=MIN_PASSES
    ) -> list[Pass]:
        """Drain the backlog until ``seconds`` have passed; the pass
        under way then ends, so every pass is whole."""
        in_dir = os.path.join(work, "in")
        fixture.write(in_dir)
        passes: list[Pass] = []
        deadline = time.time() + seconds
        while len(passes) < min_passes or time.time() < deadline:
            passes.append(drain_pass(
                spark, self.start, fixture, in_dir,
                os.path.join(work, f"pass{len(passes)}"),
            ))
        return passes

    def check(self, p: Pass, sinks: dict[str, pd.DataFrame]):
        """Value-check a pass against its sinks' committed rows; returns
        (failed file names, detail)."""
        if self.name == "route_fanout":
            failed, detail = checks.check_fanout(p.source, sinks)
        else:
            failed, detail = checks.check_windows(
                p.source, p.batch_files[0], sinks["windows"]
            )
        detail["rows_written"] = sum(len(s) for s in sinks.values())
        return failed, detail


def read_sinks(spark, passes: list[Pass]) -> list[dict[str, pd.DataFrame]]:
    """Committed rows of every sink of every pass, read with each sink's
    own ``read`` in one Spark job; one ``{query name: frame}`` per pass."""
    parts = [
        q.sink.read(spark).select(
            "*", F.lit(i).alias("_pass"), F.lit(q.name).alias("_sink")
        )
        for i, p in enumerate(passes)
        for q in p.queries
    ]
    rows = reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True), parts
    ).toPandas()
    groups = dict(tuple(rows.groupby(["_pass", "_sink"])))
    empty = rows.iloc[:0]
    return [
        {
            q.name: groups.get((i, q.name), empty)
            .drop(columns=["_pass", "_sink"])
            .reset_index(drop=True)
            for q in p.queries
        }
        for i, p in enumerate(passes)
    ]


WORKLOADS = {
    w.name: w
    for w in [
        Workload("window_drain", start_window, 1500, drain_files=3),
        Workload("route_fanout", start_route, 600, drain_files=3),
    ]
}
