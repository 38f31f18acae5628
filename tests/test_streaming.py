"""Streaming end-to-end tests (the reference's chaos checklist analog:
kill → resume → no duplicates; replay-stable output — TODO.md "reset
binlog pos, and check kafka did not recv dup events")."""

import json
import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from dbus_spark.datagen import (
    TranscriptKnobs,
    generate_transcripts,
    write_stream_batches,
)
from dbus_spark.operators import windowed_agg, ordered_turns_stream
from dbus_spark.operators.ordering import dedup_within_watermark
from dbus_spark.pipeline.streaming import replay
from dbus_spark.schema import TRANSCRIPT_SCHEMA
from dbus_spark.sinks import IdempotentKeyedSink
from dbus_spark.sources import transcript_file_stream
from dbus_spark.streaming import MetricsListener
from tests import oracle_pd


@pytest.fixture()
def stream_fixture(tmp_path):
    pdf = generate_transcripts(n_convs=50, seed=42)
    paths = write_stream_batches(pdf, str(tmp_path / "in"), n_files=5)
    return pdf, paths, tmp_path


def _run_windowed(spark, tmp_path, sink, stop_after=None):
    src = transcript_file_stream(spark, str(tmp_path / "in"), 1)
    agg = windowed_agg(
        src,
        "1 minute",
        aggs={"n_turns": F.count("*")},
        keys=["conv_id"],
        watermark="10 minutes",
    )
    q = (
        agg.writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .foreachBatch(sink.foreach_batch())
        .start()
    )
    run_id = str(q.runId)
    if stop_after is None:
        q.processAllAvailable()
        q.stop()
    else:
        import time

        while len(os.listdir(sink.meta_path)) < stop_after:
            time.sleep(0.2)
        q.stop()
    q.awaitTermination(60)
    return run_id


def test_streaming_window_matches_micro_batch_oracle(
    spark, stream_fixture
):
    pdf, paths, tmp_path = stream_fixture
    sink = IdempotentKeyedSink(
        str(tmp_path / "out"), keys=["conv_id", "window_start"]
    )
    listener = MetricsListener()
    spark.streams.addListener(listener)
    try:
        run_id = _run_windowed(spark, tmp_path, sink)
    finally:
        spark.streams.removeListener(listener)
    got = (
        sink.read(spark)
        .select("conv_id", "window_start", "n_turns")
        .toPandas()
    )
    # reconstruct the oracle's micro-batch split from the checkpoint's
    # file-source lineage (don't assume 1 file = 1 batch: the source
    # may group files, which changes the watermark trajectory)
    from dbus_spark.streaming.checkpoint import file_source_batches

    grouped = file_source_batches(str(tmp_path / "ck"))
    batches = [
        pd.concat(
            [pd.read_parquet(p.replace("file://", "")) for p in files],
            ignore_index=True,
        )
        for files in grouped
        if files
    ]
    assert sum(len(b) for b in batches) == len(pdf)
    exp = oracle_pd.expected_append_mode_windows(batches, 600, 60)[
        ["conv_id", "window_start", "n_turns"]
    ]
    from tests.conftest import assert_pdf_equal

    assert_pdf_equal(got, exp, ["conv_id", "window_start"])
    # the listener captured per-batch lineage + rates. Delivery is
    # async: poll (scoped to this query's runId — a shared session
    # also delivers other queries' events).
    import time

    deadline = time.time() + 20
    while time.time() < deadline:
        s = listener.summary(run_id)
        if s.get("total_input_rows", 0) == len(pdf):
            break
        time.sleep(0.25)
    assert s["total_input_rows"] == len(pdf)
    assert s["batches"] >= 1
    assert s["sustained_rows_per_sec"] > 0


def test_kill_resume_exactly_once(spark, stream_fixture):
    """Kill mid-stream, resume from checkpoint: same rows, no dups —
    upgrades the reference's at-least-once (batch rewind duplicates,
    pkg/kafka/producer.go:219-224) to exactly-once."""
    pdf, paths, tmp_path = stream_fixture
    sink = IdempotentKeyedSink(
        str(tmp_path / "out"), keys=["conv_id", "window_start"]
    )
    _run_windowed(spark, tmp_path, sink, stop_after=2)  # kill
    _run_windowed(spark, tmp_path, sink)  # resume, drain
    out = sink.read(spark)
    dups = (
        out.groupBy("conv_id", "window_start")
        .count()
        .filter("count > 1")
        .count()
    )
    assert dups == 0
    from dbus_spark.streaming.checkpoint import file_source_batches

    batches = [
        pd.concat(
            [pd.read_parquet(p.replace("file://", "")) for p in files],
            ignore_index=True,
        )
        for files in file_source_batches(str(tmp_path / "ck"))
        if files
    ]
    exp = oracle_pd.expected_append_mode_windows(batches, 600, 60)
    assert out.count() == len(exp)


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """The declared-but-empty dedup store of the reference
    (pkg/idempotent/repository.go), actually implemented."""
    knobs = TranscriptKnobs(late_frac=0.0, dup_frac=0.05)
    pdf = generate_transcripts(n_convs=30, seed=5, knobs=knobs)
    write_stream_batches(pdf, str(tmp_path / "in"), n_files=3)
    src = transcript_file_stream(spark, str(tmp_path / "in"), 1)
    deduped = dedup_within_watermark(src, watermark="30 minutes")
    collected = []
    q = (
        deduped.writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .foreachBatch(lambda df, bid: collected.append(df.toPandas()))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(60)
    got = pd.concat(collected, ignore_index=True)
    uniq = pdf.drop_duplicates(["conv_id", "turn_idx"])
    assert len(got) == len(uniq)
    assert got.duplicated(["conv_id", "turn_idx"]).sum() == 0


def _sentinel(ts):
    df = pd.DataFrame(
        {
            "conv_id": ["zzz_sentinel"],
            "turn_idx": pd.array([0], dtype="int32"),
            "role": ["user"],
            "text": ["sentinel"],
            "tool": pd.array([None], dtype="string"),
            "ts": [pd.Timestamp(ts)],
        }
    )
    df["ts"] = df["ts"].astype("datetime64[us]")
    return df


def test_ordered_turns_stream_per_turn_text_equality(spark, tmp_path):
    """The BASELINE.json invariant on the streaming path: the stateful
    per-conversation operator emits every turn exactly once, in
    turn_idx order, byte-identical text — despite out-of-order arrival
    and duplicate redelivery."""
    knobs = TranscriptKnobs(late_frac=0.0, dup_frac=0.02)
    pdf = generate_transcripts(n_convs=25, seed=11, knobs=knobs)
    in_dir = tmp_path / "in"
    write_stream_batches(pdf, str(in_dir), n_files=4)
    # two sentinel batches: the first advances the watermark past every
    # buffered key's timeout, the second triggers the timeout sweep
    far = pdf["ts"].max() + pd.Timedelta(hours=2)
    _sentinel(far).to_parquet(in_dir / "batch-90000.parquet", index=False)
    _sentinel(far + pd.Timedelta(minutes=1)).to_parquet(
        in_dir / "batch-90001.parquet", index=False
    )

    src = transcript_file_stream(spark, str(in_dir), 1)
    ordered = ordered_turns_stream(
        src, watermark="10 minutes", flush_after_ms=1_000
    )
    collected = []
    q = (
        ordered.writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .foreachBatch(lambda df, bid: collected.append(df.toPandas()))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(60)

    got = pd.concat(collected, ignore_index=True)
    got = got[got["conv_id"] != "zzz_sentinel"]
    exp = oracle_pd.expected_ordered(pdf.drop(columns=["_arrival"]))
    # exactly once
    assert got.duplicated(["conv_id", "turn_idx"]).sum() == 0
    assert len(got) == len(exp)
    # per-turn text equality under stable ordering
    g = got.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    pd.testing.assert_series_equal(g["text"], exp["text"], check_names=False)
    pd.testing.assert_series_equal(
        g["turn_idx"].astype("int64"),
        exp["turn_idx"].astype("int64"),
        check_names=False,
    )


def test_streaming_salted_agg_matches_plain(spark, tmp_path):
    """The salted two-phase aggregation runs as a genuine streaming
    query — two chained stateful aggregations (partial on
    (window, key, salt), merge on (window, key)), supported since
    Spark's multiple-stateful-operator work — and its append-mode
    output is row-identical to the single-phase windowed aggregation
    on the same replay. Skew is a streaming problem at 10^12 turns;
    this pins the streaming form, not just the batch equivalence."""
    from dbus_spark.operators.windows import salted_windowed_agg

    pdf = generate_transcripts(n_convs=40, seed=13)
    write_stream_batches(pdf, str(tmp_path / "in"), n_files=4)

    def run(df, ck):
        coll = []
        q = (
            df.writeStream.outputMode("append")
            .option("checkpointLocation", str(tmp_path / ck))
            .foreachBatch(lambda d, b: coll.append(d.toPandas()))
            .start()
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination(60)
        return pd.concat(coll, ignore_index=True)

    salted = salted_windowed_agg(
        transcript_file_stream(spark, str(tmp_path / "in"), 1),
        "1 minute",
        aggs={
            "n_turns": ("count", "turn_idx"),
            "max_turn": ("max", "turn_idx"),
        },
        keys=["conv_id"],
        n_salts=8,
        salt_source="turn_idx",
        watermark="10 minutes",
    )
    got_salted = run(salted, "ck_salted")
    plain = windowed_agg(
        transcript_file_stream(spark, str(tmp_path / "in"), 1),
        "1 minute",
        aggs={"n_turns": F.count("*"), "max_turn": F.max("turn_idx")},
        keys=["conv_id"],
        watermark="10 minutes",
    )
    got_plain = run(plain, "ck_plain")
    assert len(got_salted) == len(got_plain) > 0
    from tests.conftest import assert_pdf_equal

    assert_pdf_equal(got_salted, got_plain, ["conv_id", "window_start"])


def test_ordered_bucket_count_is_policy_only(spark, tmp_path):
    """n_buckets is a scheduling knob, not semantics: different bucket
    counts produce identical output rows, and state stays O(buckets)
    rows in the store (the 10^12-turn state-size design point)."""
    knobs = TranscriptKnobs(late_frac=0.0, dup_frac=0.02)
    pdf = generate_transcripts(n_convs=30, seed=23, knobs=knobs)
    write_stream_batches(pdf, str(tmp_path / "in"), n_files=3)

    def run(n_buckets, tag):
        listener = MetricsListener()
        spark.streams.addListener(listener)
        src = transcript_file_stream(spark, str(tmp_path / "in"), 1)
        ordered = ordered_turns_stream(
            src, watermark="10 minutes", n_buckets=n_buckets
        )
        coll = []
        q = (
            ordered.writeStream.outputMode("append")
            .option("checkpointLocation", str(tmp_path / f"ck{tag}"))
            .foreachBatch(lambda d, b: coll.append(d.toPandas()))
            .start()
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination(60)
        run_id = str(q.runId)
        import time

        deadline = time.time() + 15
        while time.time() < deadline:
            s = listener.summary(run_id)
            if s.get("batches", 0) >= 3:
                break
            time.sleep(0.25)
        spark.streams.removeListener(listener)
        return pd.concat(coll, ignore_index=True), s

    got4, s4 = run(4, "a")
    got64, s64 = run(64, "b")
    from tests.conftest import assert_pdf_equal

    assert len(got4) > 0
    assert_pdf_equal(got4, got64, ["conv_id", "turn_idx"])
    # state rows are bucket-count-bounded, never conversation-bounded
    assert s4["max_state_rows"] <= 4
    assert s64["max_state_rows"] <= 64


def test_ordered_stream_hot_conversation_skew(spark, tmp_path):
    """One conversation holding ~40% of all turns (extreme Zipf head)
    arriving shuffled across every batch: the bucketed state machine
    must still emit it (and everyone else) exactly once in order —
    the hot-key case salting cannot fix for keyed state (the key must
    stay conv_id), handled instead by bounded per-conv buffers."""
    knobs = TranscriptKnobs(
        late_frac=0.0, dup_frac=0.05, hot_conv_frac=0.4
    )
    pdf = generate_transcripts(n_convs=15, seed=77, knobs=knobs)
    hot_turns = pdf.groupby("conv_id")["turn_idx"].nunique().max()
    assert hot_turns > 40  # the head really is hot
    in_dir = tmp_path / "in"
    write_stream_batches(pdf, str(in_dir), n_files=5)
    far = pdf["ts"].max() + pd.Timedelta(hours=2)
    _sentinel(far).to_parquet(in_dir / "batch-90000.parquet", index=False)
    _sentinel(far + pd.Timedelta(minutes=1)).to_parquet(
        in_dir / "batch-90001.parquet", index=False
    )
    src = transcript_file_stream(spark, str(in_dir), 1)
    ordered = ordered_turns_stream(
        src, watermark="10 minutes", flush_after_ms=1_000, n_buckets=8
    )
    coll = []
    q = (
        ordered.writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .foreachBatch(lambda d, b: coll.append(d.toPandas()))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(60)
    got = pd.concat(coll, ignore_index=True)
    got = got[got["conv_id"] != "zzz_sentinel"]
    exp = oracle_pd.expected_ordered(pdf.drop(columns=["_arrival"]))
    assert got.duplicated(["conv_id", "turn_idx"]).sum() == 0
    assert len(got) == len(exp)
    g = got.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    pd.testing.assert_series_equal(g["text"], exp["text"], check_names=False)


def test_ordered_stream_flood_cannot_grow_bucket_blob(spark, tmp_path):
    """A hot-conversation flood behind a never-closing gap (turn 0
    withheld) must not grow one bucket's state blob unboundedly: the
    pending cap force-flushes the conversation early with deadline
    semantics. Every flooded row still emits exactly once, in index
    order within each emission."""
    n_flood = 400
    ts0 = pd.Timestamp("2026-01-01 00:00:00")
    flood = pd.DataFrame(
        {
            "conv_id": "floodconv",
            "turn_idx": pd.array(range(1, n_flood + 1), dtype="int32"),
            "role": "user",
            "text": [f"flood-t{i}" for i in range(1, n_flood + 1)],
            "tool": pd.array([None] * n_flood, dtype="string"),
            "ts": [ts0 + pd.Timedelta(seconds=i) for i in range(n_flood)],
        }
    )
    flood["ts"] = flood["ts"].astype("datetime64[us]")
    flood["_arrival"] = range(n_flood)
    in_dir = tmp_path / "in"
    write_stream_batches(flood, str(in_dir), n_files=4)
    far = flood["ts"].max() + pd.Timedelta(hours=2)
    _sentinel(far).to_parquet(in_dir / "batch-90000.parquet", index=False)
    _sentinel(far + pd.Timedelta(minutes=1)).to_parquet(
        in_dir / "batch-90001.parquet", index=False
    )
    src = transcript_file_stream(spark, str(in_dir), 1)
    ordered = ordered_turns_stream(
        src,
        watermark="10 minutes",
        flush_after_ms=1_000,
        n_buckets=4,
        max_pending_per_bucket=100,  # << n_flood: forces mid-stream spills
    )
    coll = []
    q = (
        ordered.writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .foreachBatch(lambda d, b: coll.append(d.toPandas()))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(60)
    got = pd.concat(coll, ignore_index=True)
    got = got[got["conv_id"] != "zzz_sentinel"]
    # exactly once, all 400 rows, each emission chunk in index order
    assert got.duplicated(["conv_id", "turn_idx"]).sum() == 0
    assert len(got) == n_flood
    assert set(got["turn_idx"]) == set(range(1, n_flood + 1))
    # spilled early: emissions happened across multiple batches, not
    # one deadline mega-flush (the blob never held all 400 rows)
    assert sum(len(c) > 0 for c in coll) >= 2


def test_streaming_doc_ingest_quality_dedup(spark, tmp_path):
    """Composite training-data ingest, streaming form: documents
    pushed through the drop zone → Arrow-vectorized quality scoring →
    quality filter → streaming exact-dedup on the normalized
    fingerprint → exactly-once sink. The LLM-pipeline operators
    composing with the databus machinery end to end."""
    import numpy as np

    from dbus_spark.functions.vectorized import quality_score_v
    from dbus_spark.operators.text import fingerprint
    from dbus_spark.sinks import IdempotentKeyedSink
    from dbus_spark.sources.dropzone import post_payload

    rng = np.random.default_rng(9)
    drop = str(tmp_path / "drop")
    docs, payloads = [], []
    base = pd.Timestamp("2026-01-01 00:00:00")
    for i in range(60):
        words = " ".join(
            rng.choice(["alpha", "beta", "gamma", "delta"], size=20)
        )
        text = words if i % 5 else "x"  # every 5th doc is junk-short
        # ~25% redeliveries share a doc_id+text with an earlier doc
        if i % 4 == 3:
            src = docs[i - 1]
            doc = dict(src)
        else:
            doc = {
                "doc_id": i,
                "text": text,
                "ts": str(base + pd.Timedelta(minutes=i)),
            }
        docs.append(doc)
        payloads.append(json.dumps(doc))
    for chunk in range(0, 60, 20):
        post_payload(drop, "\n".join(payloads[chunk : chunk + 20]))

    from pyspark.sql import functions as F

    src = (
        spark.readStream.schema("doc_id long, text string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .json(drop)
    )
    cleaned = (
        src.withColumn("quality", quality_score_v(F.col("text")))
        .filter("quality >= 0.5")
        .withColumn("fp", fingerprint("text"))
        # wider than the fixture's whole event-time span: the file
        # source orders same-mtime files arbitrarily, and a narrower
        # horizon would (correctly) drop an earlier file's rows as
        # late when a later file happens to process first
        .withWatermark("ts", "2 hours")
        .dropDuplicatesWithinWatermark(["fp"])
    )
    sink = IdempotentKeyedSink(str(tmp_path / "out"), keys=["fp"])
    q = (
        cleaned.writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .foreachBatch(sink.foreach_batch())
        .start()
    )
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(60)

    got = sink.read(spark).toPandas()
    # oracle: quality-passing distinct normalized texts
    pdf = pd.DataFrame(docs)
    ok = pdf[pdf["text"].str.len() >= 32]
    exp_fps = ok["text"].str.strip().str.lower().str.replace(
        r"\s+", " ", regex=True
    ).drop_duplicates()
    assert len(got) == len(exp_fps)
    assert got["fp"].is_unique


def test_streaming_session_windows_match_batch(spark):
    """sessionize() as a genuine streaming query (state-store-backed
    session_window + watermark, append mode): once the watermark passes
    every session's gap, the emitted sessions are row-identical to the
    batch run over the same data — sessions split across micro-batches
    must merge in state, not emit fragments."""
    knobs = TranscriptKnobs(late_frac=0.0, dup_frac=0.0)
    pdf = generate_transcripts(n_convs=20, seed=31, knobs=knobs)
    from dbus_spark.operators import sessionize

    # two sentinels: the first advances the watermark past every
    # session's gap, the second triggers the state flush that emits
    far = pdf["ts"].max() + pd.Timedelta(hours=3)
    got = replay(
        spark,
        pdf,
        TRANSCRIPT_SCHEMA,
        lambda src: sessionize(src, gap="2 minutes", watermark="2 hours"),
        then=(_sentinel(far), _sentinel(far + pd.Timedelta(minutes=1))),
    )
    got = got[got["conv_id"] != "zzz_sentinel"]

    batch = sessionize(
        spark.createDataFrame(pdf.drop(columns=["_arrival"])),
        gap="2 minutes",
    ).toPandas()

    key = ["conv_id", "session_start"]
    g = got.sort_values(key).reset_index(drop=True)
    e = batch.sort_values(key).reset_index(drop=True)
    assert len(g) == len(e) > 20
    for c in ["conv_id", "n_turns", "roles"]:
        pd.testing.assert_series_equal(g[c], e[c], check_names=False)


def test_streaming_embedding_ingest_srp_bucketing(spark, tmp_path):
    """ANN composes with the streaming machinery: an embedding stream
    gets its SRP bucket assigned in-flight (stateless Arrow map — the
    index-build shape: at scale the sink partitions by bucket) and
    lands in the exactly-once sink; bucket assignments are identical
    to the batch path on the same rows."""
    import numpy as np

    from dbus_spark.operators.similarity import lsh_bucket
    from dbus_spark.sinks import IdempotentKeyedSink

    rng = np.random.default_rng(17)
    pdf = pd.DataFrame(
        {
            "vec_id": np.arange(200, dtype="int64"),
            # keep float32 ndarrays: .tolist() would upcast to python
            # floats and parquet DOUBLE, mismatching the stream schema
            "embedding": [
                rng.standard_normal(64).astype("float32")
                for _ in range(200)
            ],
        }
    )
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    for i in range(4):
        pdf.iloc[i * 50 : (i + 1) * 50].to_parquet(
            in_dir / f"batch-{i:05d}.parquet", index=False
        )
    src = (
        spark.readStream.schema("vec_id long, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir))
    )
    bucketed = lsh_bucket(src, dim=64)
    sink = IdempotentKeyedSink(
        str(tmp_path / "out"), keys=["vec_id"],
        key_types={"vec_id": "long"}, dedup_mode="epoch_overwrite",
    )
    q = (
        bucketed.writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .foreachBatch(sink.foreach_batch())
        .start()
    )
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(60)

    got = spark.read.parquet(str(tmp_path / "out" / "data")).drop("batch")
    batch = lsh_bucket(
        spark.createDataFrame(pdf, "vec_id long, embedding array<float>"),
        dim=64,
    ).select("vec_id", "bucket")
    g = {(r.vec_id, r.bucket) for r in got.select("vec_id", "bucket").collect()}
    e = {(r.vec_id, r.bucket) for r in batch.collect()}
    assert g == e and len(g) == 200
