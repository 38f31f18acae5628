"""Fused ingest vertical: enrich → streaming NEAR-dup filter →
per-conversation ordering → exactly-once sink (VERDICT r4 #6).

The two flagship stateful operators composed end to end over ONE
transcript stream. Spark cannot run them in one query — chaining two
``applyInPandasWithState`` operators raises ``AnalysisException:
Multiple applyInPandasWithStates are not supported`` (verified on
Spark 4.1; the near-dup resolve is a per-micro-batch OR across state
cells, which also cannot be expressed as a mid-stream streaming
aggregation in append mode). So the composition is the engine's BUS
HOP — the same architecture the reference uses to chain plugin
stages through its databus (reference: engine/router.go — Input →
bus → Output are separate goroutine stages, not one call stack):

- **stage A** (query 1): transcript stream → one-pass Arrow enrich →
  near-dup verdicts (mutated redeliveries share almost all shingles
  with their original → flagged; byte-identical fingerprint dedup
  cannot catch them) → per-batch resolve → idempotent keyed sink
  into the bus directory. Sink key = ``doc_id`` (a hash of
  (conv_id, turn_idx, text)): each kept delivery lands exactly once
  even under epoch replay.
- **stage B** (query 2): file-stream TAIL of the bus directory →
  per-conversation ordering/dedup state → idempotent sink keyed
  (conv_id, turn_idx).
- **stage C** (query 3, optional): tail of stage B's ordered sink →
  streaming CEP pattern match (``operators/cep.py``) → match sink
  keyed (key, start_order).  Stage B's contiguous-frontier output IS
  the CEP operator's in-order input contract, making this the third
  stateful stage on one bus without ever chaining two
  ``applyInPandasWithState`` operators in a query.

Delivery contract across the hop: stage A's sink is exactly-once per
doc_id, but a stage-A epoch REPLAY rewrites its epoch directory with
fresh file names, and a file-stream tracks file NAMES — so stage B
must tolerate re-reads. It does by construction: the ordering
frontier drops any (conv_id, turn_idx) it has already emitted. That
is the classic at-least-once bus + idempotent consumer = end-to-end
exactly-once, and it is also the backstop for the few mutated
redeliveries whose estimated similarity falls below the near-dup
threshold (short texts). Watermarks do NOT propagate across the hop:
each query derives its own from its input — stage A's bounds
near-dup rep state (TTL), stage B's bounds ordering state. State
partition counts are per-query launch decisions baked into each
checkpoint (near-dup wants few fat cells, ordering wants
bucket-count parallelism — they no longer have to share one
``spark.sql.shuffle.partitions`` value, which a single-query fusion
WOULD have forced).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession, functions as F

from dbus_spark.functions.vectorized import doc_enrich_v
from dbus_spark.operators.dedup_stream import (
    neardup_filter_foreach_batch,
    streaming_neardup_verdicts,
)
from dbus_spark.operators.ordering import OUT_SCHEMA, ordered_turns_stream
from dbus_spark.sinks import IdempotentKeyedSink

BUS_SCHEMA = OUT_SCHEMA + ", quality double, n_tokens int, doc_id bigint"

_TURN_COLS = [f.strip().split(" ")[0] for f in OUT_SCHEMA.split(",")]


def stage_a_neardup(
    spark: SparkSession,
    in_dir: str,
    bus_dir: str,
    ckpt_dir: str,
    watermark: str = "30 minutes",
    n_state_buckets: int = 16,
    max_files_per_trigger: int = 2,
    quality_min: float = 0.0,
):
    """Start query 1: enrich → near-dup filter → bus sink. Returns
    (query, sink)."""
    src = (
        spark.readStream.schema(OUT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(in_dir)
    )
    enriched = (
        src.withColumn("e", doc_enrich_v(F.col("text")))
        # null text enriches to quality NULL; a bare >= filter would
        # silently drop the turn and leave a PERMANENT gap that stalls
        # its conversation at stage B until deadline flush. Coalesce to
        # 0.0 so the default quality_min keeps such turns; a caller
        # setting quality_min > 0 is consciously choosing gap-making
        # filtration (ordering then closes the gaps by deadline).
        .filter(F.coalesce(F.col("e.quality"), F.lit(0.0)) >= quality_min)
        .select("*", "e.quality", "e.n_tokens")
        .drop("e")
        .withColumn("doc_id", F.xxhash64("conv_id", "turn_idx", "text"))
    )
    verdicts = streaming_neardup_verdicts(
        enriched,
        id_col="doc_id",
        watermark=watermark,
        n_state_buckets=n_state_buckets,
    )
    sink = IdempotentKeyedSink(
        bus_dir,
        keys=["doc_id"],
        dedup_mode="epoch_overwrite",
        track_counts=True,  # per-epoch kept counts = the drop metric
        # ONE part file per epoch: a single rename is atomic, so the
        # stage-B tail sees whole epochs or nothing. With multiple
        # part files a concurrent listing can catch an epoch half
        # committed, splitting redelivered copies of one turn across
        # stage-B batches — then a contiguous-at-frontier copy emits
        # before the earlier-event-time copy arrives and the ts
        # tie-break never gets to run (caught by the fused text-
        # equality invariant, r5). The production bus (Kafka topic /
        # Iceberg table) gets this from its atomic batch commit;
        # coalesce(1) is the file-bus analog and bounds neither
        # correctness nor scale — epochs are micro-batch-sized.
        coalesce_output=1,
        key_types={"doc_id": "bigint"},
    )
    q = (
        verdicts.writeStream.outputMode("append")
        .option("checkpointLocation", ckpt_dir)
        .foreachBatch(neardup_filter_foreach_batch(sink.foreach_batch(), "doc_id"))
        .start()
    )
    return q, sink


def stage_b_ordered(
    spark: SparkSession,
    bus_dir: str,
    out_dir: str,
    ckpt_dir: str,
    watermark: str = "10 minutes",
    n_buckets: int = 32,
    max_files_per_trigger: int = 8,
):
    """Start query 2: bus tail → per-conv ordering → final sink.
    Returns (query, sink)."""
    src = (
        spark.readStream.schema(BUS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .option("recursiveFileLookup", "true")  # flat view of batch=N dirs
        # a stage-A epoch REPLAY (restart between sink write and offset
        # commit) deletes the epoch's file and rewrites identical rows
        # under a fresh name; if the tail listed the old file first, the
        # read must skip it rather than kill the query — the rewritten
        # copy is re-read under its new name and the ordering frontier
        # absorbs the redelivery
        .option("ignoreMissingFiles", "true")
        .parquet(os.path.join(bus_dir, "data"))
        .select(*_TURN_COLS)
    )
    ordered = ordered_turns_stream(
        src, watermark=watermark, n_buckets=n_buckets
    )
    sink = IdempotentKeyedSink(
        out_dir,
        keys=["conv_id", "turn_idx"],
        dedup_mode="epoch_overwrite",
        track_counts=False,
        # ONE part file per epoch, same reasoning as the stage-A bus
        # sink: stage C TAILS this directory, and parquet part files
        # become visible at TASK commit (one rename each), so a
        # multi-file epoch can be listed half-written. Its rows are
        # hash-split, not order-split — a partial epoch hands the CEP
        # stage a gap-ridden subsequence, which manufactures spurious
        # gap-spanning matches and then suppresses the real ones via
        # the freshness filter (observed as a flaky
        # test_fused_three_stage_cep before this pin, r5).
        coalesce_output=1,
        key_types={"conv_id": "string", "turn_idx": "int"},
    )
    q = (
        ordered.writeStream.outputMode("append")
        .option("checkpointLocation", ckpt_dir)
        .foreachBatch(sink.foreach_batch())
        .start()
    )
    return q, sink


def stage_c_cep(
    spark: SparkSession,
    ordered_out_dir: str,
    match_dir: str,
    ckpt_dir: str,
    pattern: tuple[str, ...] = ("user", "assistant", "tool"),
    watermark: str = "10 minutes",
    n_buckets: int = 16,
    ttl_ms: int = 86_400_000,
    max_files_per_trigger: int = 8,
):
    """Start query 3: ordered-sink tail → streaming CEP → match sink.

    The CEP operator's in-order input contract is exactly what stage B
    manufactures: the ordering frontier emits each conversation's
    turns in contiguous ``turn_idx`` order, so tailing its sink is the
    composition point the operator docstring names.  A stage-B epoch
    replay redelivers rows the tail already saw; the CEP state's
    (key, order) dedup plus the end-order freshness filter make that
    harmless (same reasoning as stage B absorbing stage A replays —
    at-least-once bus + idempotent consumer), and the match sink is
    keyed (key, start_order) as the final backstop.  Returns
    (query, sink)."""
    from dbus_spark.operators.cep import streaming_match_sequence

    src = (
        spark.readStream.schema(OUT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .option("recursiveFileLookup", "true")
        .option("ignoreMissingFiles", "true")
        .parquet(os.path.join(ordered_out_dir, "data"))
    )
    matches = streaming_match_sequence(
        src,
        list(pattern),
        key="conv_id",
        order="turn_idx",
        sym="role",
        watermark=watermark,
        ttl_ms=ttl_ms,
        n_buckets=n_buckets,
    )
    sink = IdempotentKeyedSink(
        match_dir,
        keys=["key", "start_order"],
        dedup_mode="epoch_overwrite",
        track_counts=False,
        coalesce_output=4,
        key_types={"key": "string", "start_order": "bigint"},
    )
    q = (
        matches.writeStream.outputMode("append")
        .option("checkpointLocation", ckpt_dir)
        .foreachBatch(sink.foreach_batch())
        .start()
    )
    return q, sink


def drain_fused(qa, qb, qc=None):
    """Run both queries to quiescence. Stage A's input is finite, so
    its processAllAvailable completes the bus; with A stopped every
    bus file is final (atomic marker-after-data commit) and ONE stage-B
    processAllAvailable drains the rest. B ran concurrently the whole
    time — this is the shutdown barrier, not the pipeline."""
    qa.processAllAvailable()
    qa.stop()
    qa.awaitTermination(120)
    qb.processAllAvailable()
    qb.stop()
    qb.awaitTermination(120)
    if qc is not None:
        qc.processAllAvailable()
        qc.stop()
        qc.awaitTermination(120)
