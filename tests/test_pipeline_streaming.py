"""StreamingPipeline lifecycle tests: start/stop, pause/resume, peek,
checkpoint inspection — the dbusd run-loop + dbc CLI analogs."""

import os

import pandas as pd

from dbus_spark.datagen import generate_transcripts, write_stream_batches
from dbus_spark.pipeline import Pipeline
from dbus_spark.pipeline.streaming import StreamingPipeline, peek, replay
from dbus_spark.sinks import IdempotentKeyedSink
from dbus_spark.streaming.checkpoint import (
    list_offsets,
    position_summary,
)


def _write_fixture(tmp_path, n_convs=30, n_files=3, seed=9):
    pdf = generate_transcripts(n_convs=n_convs, seed=seed)
    write_stream_batches(pdf, str(tmp_path / "in"), n_files=n_files)
    return pdf


def _config(tmp_path):
    return {
        "plugins": [
            {
                "name": "turns",
                "class": "FileStreamInput",
                "options": {
                    "path": str(tmp_path / "in"),
                    "max_files_per_trigger": 1,
                },
            },
            {
                "name": "rekey",
                "class": "RekeyFilter",
                "match": ["turns"],
                "options": {"ident_col": "role"},
            },
            {
                "name": "user_out",
                "class": "IdempotentOutput",
                "match": ["user"],
                "options": {
                    "path": str(tmp_path / "user_out"),
                    "keys": ["conv_id", "turn_idx"],
                },
            },
            {
                "name": "tool_out",
                "class": "IdempotentOutput",
                "match": ["tool"],
                "options": {
                    "path": str(tmp_path / "tool_out"),
                    "keys": ["conv_id", "turn_idx"],
                },
            },
        ]
    }


def test_streaming_pipeline_routes_per_role(spark, tmp_path):
    """canal.cf over a stream: re-key on role, one exactly-once sink
    per ident, both fed from the same source plan."""
    pdf = _write_fixture(tmp_path)
    sp = StreamingPipeline(
        Pipeline(_config(tmp_path)), str(tmp_path / "ck")
    ).start(spark)
    sp.process_all_available()
    sp.stop()

    uniq = pdf.drop_duplicates(["conv_id", "turn_idx"])
    user_sink = IdempotentKeyedSink(str(tmp_path / "user_out"))
    tool_sink = IdempotentKeyedSink(str(tmp_path / "tool_out"))
    assert user_sink.read(spark).count() == (uniq["role"] == "user").sum()
    assert tool_sink.read(spark).count() == (uniq["role"] == "tool").sum()
    # routed rows carry the rewritten ident
    assert (
        user_sink.read(spark).select("ident").distinct().collect()[0][0]
        == "user"
    )


def test_pause_resume_continues_from_checkpoint(spark, tmp_path):
    pdf = _write_fixture(tmp_path, n_files=3)
    sp = StreamingPipeline(
        Pipeline(_config(tmp_path)), str(tmp_path / "ck")
    ).start(spark)
    sp.process_all_available()
    sp.pause("user_out")
    # new data lands while paused
    extra = generate_transcripts(n_convs=10, seed=77)
    extra.drop(columns=["_arrival"]).assign(
        conv_id=lambda d: "late_" + d["conv_id"]
    ).to_parquet(tmp_path / "in" / "batch-99999.parquet", index=False)
    sp.resume("user_out")
    sp.process_all_available()
    sp.stop()
    user = IdempotentKeyedSink(str(tmp_path / "user_out")).read(spark)
    assert user.filter("conv_id like 'late_%'").count() > 0
    dups = (
        user.groupBy("conv_id", "turn_idx").count().filter("count > 1")
    ).count()
    assert dups == 0


def test_peek(spark, tmp_path):
    _write_fixture(tmp_path)
    rows = peek(spark, str(tmp_path / "in"), n=5)
    assert len(rows) == 5
    assert {"conv_id", "turn_idx", "text"} <= set(rows[0].asDict())


def test_replay_reads_ns_keeps_columns_and_orders_then(spark):
    from pyspark.sql import functions as F

    frame = pd.DataFrame(
        {
            "id": range(6),
            "ts": pd.to_datetime("2026-01-01 00:00:00.000001")
            + pd.to_timedelta(range(6), unit="s"),
        }
    )
    assert frame["ts"].dtype == "datetime64[ns]"
    # a nanosecond column reads back under ``ts timestamp``, unchanged
    out = replay(spark, frame, "id long, ts timestamp", lambda src: src)
    assert list(out["id"]) == list(frame["id"])
    assert list(out["ts"]) == list(frame["ts"])
    # nothing emitted: an empty frame with the query's output columns
    out = replay(
        spark,
        frame,
        "id long, ts timestamp",
        lambda src: src.filter("id < 0").select(
            "id", F.col("ts").alias("at")
        ),
    )
    assert len(out) == 0
    assert list(out.columns) == ["id", "at"]
    # each ``then`` frame is one more file, streamed after the split
    # files and in its own position
    first = frame.iloc[:1].assign(id=100)
    second = frame.iloc[:1].assign(id=200)
    out = replay(
        spark,
        frame,
        "id long, ts timestamp",
        lambda src: src.select("id", F.input_file_name().alias("f")),
        n_files=2,
        then=(first, second),
    )
    assert list(out["id"]) == [0, 1, 2, 3, 4, 5, 100, 200]
    files = [os.path.basename(f) for f in out["f"]]
    assert files[-2:] == ["batch-00002.parquet", "batch-00003.parquet"]
    assert set(files[:-2]) == {"batch-00000.parquet", "batch-00001.parquet"}


def test_checkpoint_inspection(spark, tmp_path):
    _write_fixture(tmp_path)
    sp = StreamingPipeline(
        Pipeline(_config(tmp_path)), str(tmp_path / "ck")
    ).start(spark)
    sp.process_all_available()
    sp.stop()
    ck = str(tmp_path / "ck" / "user_out")
    batches = list_offsets(ck)
    assert len(batches) >= 3
    assert all(b.committed for b in batches)
    assert batches[-1].watermark_ms is not None or True  # wm optional
    s = position_summary(ck)
    assert s["latest_committed"] == s["latest_batch"]
    assert s["uncommitted"] == []
    assert s["last_sources"]  # per-partition lineage present


def test_file_source_lineage_survives_log_compaction(spark, tmp_path):
    """The file-source metadata log compacts every 10 batches
    ('9.compact' replaces batch 9 and may absorb older plain files);
    lineage inspection must keep per-batch grouping across a run of
    >= 10 micro-batches."""
    from dbus_spark.sources import transcript_file_stream
    from dbus_spark.streaming.checkpoint import file_source_batches

    pdf = _write_fixture(tmp_path, n_convs=40, n_files=12)
    src = transcript_file_stream(spark, str(tmp_path / "in"), 1)
    q = (
        src.writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .format("noop")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(60)
    log_dir = tmp_path / "ck" / "sources" / "0"
    assert any(
        n.endswith(".compact") for n in os.listdir(log_dir)
    ), "fixture did not trigger log compaction — raise n_files"
    grouped = file_source_batches(str(tmp_path / "ck"))
    files = [f for batch in grouped for f in batch]
    assert len(grouped) >= 10  # one group per micro-batch, none lost
    assert len(files) == len(set(files)) == 12
    total = sum(
        len(pd.read_parquet(p.replace("file://", ""))) for p in files
    )
    assert total == len(pdf)


def test_out_ident_restamps_every_filter_kind(spark):
    """Every planned filter honors out_ident, so a filter's emission
    stops re-matching the matcher that fed it (round-1 gap: regex/
    rename/split/sort silently dropped the option)."""
    from dbus_spark.pipeline.dag import PLUGIN_REGISTRY
    from dbus_spark.schema import IDENT_COL
    import pyspark.sql.functions as F

    df = spark.createDataFrame(
        [("a", "x y", 2), ("b", "y z", 1)], ["ident", "txt", "k"]
    )
    cases = {
        "RegexFilter": {"col": "txt", "pattern": "y"},
        "RenameFilter": {"mapping": {"k": "k2"}},
        "SplitFilter": {"col": "txt"},
        "SortFilter": {"by": ["k"]},
        "PredicateFilter": {"where": "k >= 1"},
        "CountFilter": {"by": ["ident"]},
    }
    for cls, opts in cases.items():
        fn = PLUGIN_REGISTRY[cls]({**opts, "out_ident": "routed"})
        out = fn(df)
        idents = {r[0] for r in out.select(IDENT_COL).collect()}
        assert idents == {"routed"}, f"{cls} ignored out_ident"


def test_http_dropzone_input_routes_through_pipeline(spark, tmp_path):
    """HTTPInput analog end-to-end: payloads pushed with post_payload
    (the POST /v1/payload side) flow through the config→DAG layer and
    arrive at the matched sink exactly once."""
    from dbus_spark.sources.dropzone import post_payload

    drop = str(tmp_path / "drop")
    for i in range(3):
        post_payload(drop, {"seq": i, "body": f"payload-{i}"})
    cfg = {
        "plugins": [
            {
                "name": "http",
                "class": "HTTPInput",
                "options": {
                    "path": drop,
                    "schema": "seq int, body string",
                },
            },
            {"name": "sink", "class": "MemoryOutput", "match": ["http"]},
        ]
    }
    sp = StreamingPipeline(
        Pipeline(cfg), str(tmp_path / "ck")
    ).start(spark)
    sp.process_all_available()
    # push more after the query started: the drop zone is live
    post_payload(drop, {"seq": 3, "body": "payload-3"})
    sp.process_all_available()
    sp.stop()
    got = (
        spark.sql("SELECT seq, body FROM sink ORDER BY seq").toPandas()
    )
    assert list(got["seq"]) == [0, 1, 2, 3]
    assert list(got["body"]) == [f"payload-{i}" for i in range(4)]


def test_hot_reload_swaps_config_continues_checkpoint(spark, tmp_path):
    """Config hot reload (engine/engine.go:355-363 analog): drain,
    swap the DAG, restart — existing sinks continue exactly-once from
    their checkpoints, newly-added routes see the full input."""
    pdf = _write_fixture(tmp_path, n_convs=20, n_files=2, seed=17)

    def config(with_tool: bool):
        plugins = [
            {
                "name": "turns",
                "class": "FileStreamInput",
                "options": {
                    "path": str(tmp_path / "in"),
                    "max_files_per_trigger": 1,
                },
            },
            {
                "name": "rekey",
                "class": "RekeyFilter",
                "match": ["turns"],
                "options": {"ident_col": "role"},
            },
            {
                "name": "user_out",
                "class": "IdempotentOutput",
                "match": ["user"],
                "options": {
                    "path": str(tmp_path / "user_out"),
                    "keys": ["conv_id", "turn_idx"],
                },
            },
        ]
        if with_tool:
            plugins.append(
                {
                    "name": "tool_out",
                    "class": "IdempotentOutput",
                    "match": ["tool"],
                    "options": {
                        "path": str(tmp_path / "tool_out"),
                        "keys": ["conv_id", "turn_idx"],
                    },
                }
            )
        return {"plugins": plugins}

    sp = StreamingPipeline(
        Pipeline(config(False)), str(tmp_path / "ck")
    ).start(spark)
    sp.process_all_available()

    # more data lands, then the config gains a tool route
    from dbus_spark.datagen import generate_transcripts, write_stream_batches

    extra = generate_transcripts(n_convs=10, seed=18)
    write_stream_batches(
        extra, str(tmp_path / "in"), n_files=1, start_index=100
    )
    sp.reload(Pipeline(config(True)))
    sp.process_all_available()
    sp.stop()

    both = pd.concat([pdf, extra], ignore_index=True)
    users = both[both["role"] == "user"].drop_duplicates(
        ["conv_id", "turn_idx"]
    )
    tools = both[both["tool"].notna()].drop_duplicates(
        ["conv_id", "turn_idx"]
    )
    from dbus_spark.sinks import IdempotentKeyedSink

    got_u = IdempotentKeyedSink(str(tmp_path / "user_out")).read(spark)
    got_t = IdempotentKeyedSink(str(tmp_path / "tool_out")).read(spark)
    assert got_u.count() == len(users)  # continued, no dups, no gaps
    assert (
        got_u.groupBy("conv_id", "turn_idx").count().filter("count > 1").count()
        == 0
    )
    assert got_t.count() == len(tools)  # new route saw the full input
