"""IdempotentKeyedSink unit tests: epoch overwrite, replay, partial-
write recovery, cross-epoch redelivery (the at-least-once fixtures)."""

import os

import pytest


@pytest.fixture()
def df(spark):
    return spark.createDataFrame(
        [("c1", 1, "a"), ("c1", 2, "b"), ("c1", 1, "a")],
        ["conv_id", "turn_idx", "text"],
    )


def _sink(tmp_path, mode):
    from dbus_spark.sinks import IdempotentKeyedSink

    return IdempotentKeyedSink(
        str(tmp_path / "out"), keys=["conv_id", "turn_idx"], dedup_mode=mode
    )


@pytest.mark.parametrize("mode", ["anti_join", "epoch_overwrite"])
def test_in_batch_dup_collapses(spark, tmp_path, df, mode):
    sink = _sink(tmp_path, mode)
    assert sink.write_batch(df, 0) == 2
    assert sink.read(spark).count() == 2


def test_epoch_replay_skipped(spark, tmp_path, df):
    sink = _sink(tmp_path, "anti_join")
    sink.write_batch(df, 0)
    assert sink.write_batch(df, 0) == 0  # marker short-circuit
    assert sink.read(spark).count() == 2


def test_partial_write_recovery(spark, tmp_path, df):
    """Crash between parquet write and marker write: the epoch replays
    and must converge (overwrite), not double-append."""
    sink = _sink(tmp_path, "anti_join")
    # simulate the failed first attempt: files exist, marker missing
    df.dropDuplicates(["conv_id", "turn_idx"]).write.mode(
        "overwrite"
    ).parquet(sink._epoch_dir(0))
    assert not sink.committed(0)
    n = sink.write_batch(df, 0)
    assert n == 2
    assert sink.read(spark).count() == 2


def test_cross_epoch_redelivery_anti_join(spark, tmp_path, df):
    sink = _sink(tmp_path, "anti_join")
    sink.write_batch(df, 0)
    assert sink.write_batch(df, 1) == 0  # same keys, new epoch → no-op
    assert sink.read(spark).count() == 2


def test_cross_epoch_new_keys_append(spark, tmp_path, df):
    sink = _sink(tmp_path, "anti_join")
    sink.write_batch(df, 0)
    more = spark.createDataFrame(
        [("c1", 3, "c"), ("c2", 1, "d")], ["conv_id", "turn_idx", "text"]
    )
    assert sink.write_batch(more, 1) == 2
    assert sink.read(spark).count() == 4


def test_epoch_overwrite_mode_skips_target_read(spark, tmp_path, df):
    """epoch_overwrite trusts single-emission upstreams: a key re-sent
    in another epoch is NOT deduped (documented trade-off)."""
    sink = _sink(tmp_path, "epoch_overwrite")
    sink.write_batch(df, 0)
    sink.write_batch(df, 1)
    assert sink.read(spark).count() == 4  # duplicated by design


def test_merge_sql_form(tmp_path):
    sink = _sink(tmp_path, "anti_join")
    sql = sink.merge_sql("lake.transcripts")
    assert sql == (
        "MERGE INTO lake.transcripts t USING batch s ON "
        "t.conv_id = s.conv_id AND t.turn_idx = s.turn_idx "
        "WHEN NOT MATCHED THEN INSERT *"
    )


def test_track_counts_off_and_coalesce(spark, tmp_path, df):
    """Hot-path mode: no count job, bounded files per epoch — rows
    still land exactly once and replays stay idempotent."""
    import os

    from dbus_spark.sinks import IdempotentKeyedSink

    sink = IdempotentKeyedSink(
        str(tmp_path / "s"),
        keys=["conv_id", "turn_idx"],
        dedup_mode="epoch_overwrite",
        track_counts=False,
        coalesce_output=1,
    )
    sink.write_batch(df, 0)
    sink.write_batch(df, 0)  # replay: marker short-circuits
    # fixture has 3 rows, 2 unique keys (in-batch dup collapses)
    assert sink.read(spark).count() == 2
    epoch = os.path.join(sink.data_path, "batch=0")
    parts = [f for f in os.listdir(epoch) if f.endswith(".parquet")]
    assert len(parts) == 1  # coalesced
    import json

    marker = json.load(
        open(os.path.join(sink.meta_path, "batch-" + "0" * 20 + ".json"))
    )
    assert marker["rows_appended"] is None  # counts off the hot path


def test_empty_read_schema_from_keys(spark, tmp_path):
    from dbus_spark.sinks import IdempotentKeyedSink

    sink = IdempotentKeyedSink(
        str(tmp_path / "s2"), keys=["user_id", "window_start"]
    )
    empty = sink.read(spark)
    assert empty.columns == ["user_id", "window_start"]
    assert empty.count() == 0


def test_empty_sink_read_schema_matches_populated_types(spark, tmp_path):
    """read() on an empty sink must type the key columns the same as a
    populated sink would, so consumers built before the first commit
    (unions, typed joins) don't break when data arrives."""
    from dbus_spark.sinks import IdempotentKeyedSink

    sink = IdempotentKeyedSink(str(tmp_path / "s"))
    empty = sink.read(spark)
    assert dict(empty.dtypes) == {"conv_id": "string", "turn_idx": "int"}
    custom = IdempotentKeyedSink(
        str(tmp_path / "s2"),
        keys=["window_start", "conv_id"],
        key_types={"window_start": "timestamp", "conv_id": "string"},
    )
    assert dict(custom.read(spark).dtypes) == {
        "window_start": "timestamp",
        "conv_id": "string",
    }


def test_batch_backfill_then_streaming_handoff(spark, tmp_path):
    """The lambda-bootstrap pattern: a BATCH backfill lands through the
    same IdempotentKeyedSink a streaming query later writes to, the
    stream's replay OVERLAPS the backfilled range, and the sink's
    anti-join mode absorbs the overlap — final contents are the exact
    distinct key set, no dups, no gaps."""
    import os

    import numpy as np
    import pandas as pd

    from dbus_spark.sinks import IdempotentKeyedSink

    rows = [(f"c{i % 7}", i // 7, f"t-{i}") for i in range(70)]
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "text"])
    in_dir = tmp_path / "in"
    os.makedirs(in_dir)
    for i, idx in enumerate(np.array_split(np.arange(len(pdf)), 6)):
        pdf.iloc[idx].to_parquet(in_dir / f"b-{i:04d}.parquet", index=False)

    sink = IdempotentKeyedSink(
        str(tmp_path / "out"), keys=["conv_id", "turn_idx"]
    )
    # batch backfill: the first half of the corpus, one epoch
    backfill = spark.createDataFrame(pdf.iloc[:35])
    sink.foreach_batch()(backfill, 0)
    assert sink.read(spark).count() == 35

    # streaming handoff replays EVERYTHING (overlap with the backfill)
    src = (
        spark.readStream.schema("conv_id string, turn_idx long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir))
    )
    q = (
        src.writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .foreachBatch(sink.foreach_batch())
        .start()
    )
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(60)

    out = sink.read(spark).toPandas()
    assert len(out) == 70
    assert not out.duplicated(["conv_id", "turn_idx"]).any()
    got = set(zip(out.conv_id, out.turn_idx, out.text))
    assert got == set(zip(pdf.conv_id, pdf.turn_idx, pdf.text))


def test_read_as_of_snapshot_semantics(spark, tmp_path):
    """Time-travel reads: read_as_of(e) sees exactly the keys landed by
    committed epochs <= e; later epochs are invisible (partition-pruned,
    not filtered in Python); epochs() lists the snapshot history."""
    import pandas as pd

    from dbus_spark.sinks import IdempotentKeyedSink

    sink = IdempotentKeyedSink(str(tmp_path / "out"), keys=["k"])
    fb = sink.foreach_batch()
    for epoch, lo in ((0, 0), (1, 10), (2, 20)):
        fb(
            spark.createDataFrame(
                pd.DataFrame({"k": range(lo, lo + 10), "v": range(10)})
            ),
            epoch,
        )
    assert sink.epochs() == [0, 1, 2]
    as_of_1 = sink.read_as_of(spark, 1).toPandas()
    assert set(as_of_1.k) == set(range(20))
    assert sink.read_as_of(spark, 0).count() == 10
    assert sink.read_as_of(spark, -1).count() == 0
    # full read == as-of the latest epoch
    assert sink.read(spark).count() == sink.read_as_of(spark, 2).count() == 30


def test_read_as_of_hides_uncommitted_epoch(spark, tmp_path):
    """A crashed write leaves an epoch directory without its marker;
    snapshot reads must never expose it (markers gate visibility)."""
    import os

    import pandas as pd

    from dbus_spark.sinks import IdempotentKeyedSink

    sink = IdempotentKeyedSink(str(tmp_path / "out"), keys=["k"])
    fb = sink.foreach_batch()
    fb(spark.createDataFrame(pd.DataFrame({"k": [1, 2], "v": [0, 0]})), 0)
    # simulate a crash: epoch-1 data lands, marker never does
    spark.createDataFrame(
        pd.DataFrame({"k": [9], "v": [9], })
    ).write.mode("overwrite").parquet(
        os.path.join(str(tmp_path / "out"), "data", "batch=1")
    )
    assert sink.epochs() == [0]
    as_of = sink.read_as_of(spark, 5).toPandas()
    assert set(as_of.k) == {1, 2}  # the phantom epoch stays invisible


def test_read_hides_uncommitted_epoch(spark, tmp_path):
    import os

    import pandas as pd

    from dbus_spark.sinks import IdempotentKeyedSink

    sink = IdempotentKeyedSink(str(tmp_path / "out"), keys=["k"])
    sink.foreach_batch()(
        spark.createDataFrame(pd.DataFrame({"k": [1], "v": [0]})), 0
    )
    spark.createDataFrame(
        pd.DataFrame({"k": [9], "v": [9]})
    ).write.mode("overwrite").parquet(
        os.path.join(str(tmp_path / "out"), "data", "batch=1")
    )
    assert set(sink.read(spark).toPandas().k) == {1}
    # an all-phantom sink reads as the typed empty frame
    sink2 = IdempotentKeyedSink(str(tmp_path / "out2"), keys=["k"])
    spark.createDataFrame(
        pd.DataFrame({"k": [9], "v": [9]})
    ).write.mode("overwrite").parquet(
        os.path.join(str(tmp_path / "out2"), "data", "batch=0")
    )
    assert sink2.read(spark).count() == 0


def _marker_rows(sink, epoch):
    import json

    with open(sink._marker(epoch)) as f:
        return json.load(f)["rows_appended"]


def _epoch_rows(sink, epoch):
    import pandas as pd

    return len(pd.read_parquet(sink._epoch_dir(epoch)))


def test_rows_appended_equals_epoch_rows(spark, tmp_path, df):
    """The observed count in each marker is the rows that epoch's
    directory holds: new keys, an all-redelivered anti-join epoch (0),
    and a mix of both."""
    sink = _sink(tmp_path, "anti_join")
    mix = spark.createDataFrame(
        [("c1", 2, "b"), ("c3", 1, "e")], ["conv_id", "turn_idx", "text"]
    )
    for epoch, batch, want in ((0, df, 2), (1, df, 0), (2, mix, 1)):
        assert sink.write_batch(batch, epoch) == want
        assert _marker_rows(sink, epoch) == _epoch_rows(sink, epoch) == want
    assert sink.read(spark).count() == 3


def test_rows_appended_coalesced_stage_a(spark, tmp_path):
    """fused.py's stage-A sink shape (epoch_overwrite, counts on, one
    part file per epoch): the count still equals the epoch's rows."""
    from dbus_spark.sinks import IdempotentKeyedSink

    sink = IdempotentKeyedSink(
        str(tmp_path / "bus"),
        keys=["doc_id"],
        dedup_mode="epoch_overwrite",
        track_counts=True,
        coalesce_output=1,
        key_types={"doc_id": "bigint"},
    )
    batch = spark.range(0, 50, 1, 4).selectExpr("id % 37 AS doc_id", "id AS v")
    assert sink.write_batch(batch, 0) == 37
    assert _marker_rows(sink, 0) == _epoch_rows(sink, 0) == 37
    parts = [
        f for f in os.listdir(sink._epoch_dir(0)) if f.endswith(".parquet")
    ]
    assert len(parts) == 1


def test_track_counts_launches_no_extra_job(spark, tmp_path, df):
    """Counting rides the write: an anti-join write_batch with
    track_counts=True launches no more jobs than with it off."""
    from dbus_spark.sinks import IdempotentKeyedSink

    sc = spark.sparkContext
    more = spark.createDataFrame(
        [("c1", 2, "b"), ("c3", 1, "e")], ["conv_id", "turn_idx", "text"]
    )

    def jobs(track_counts: bool) -> int:
        group = f"sink-jobs-{track_counts}"
        sink = IdempotentKeyedSink(
            str(tmp_path / group), track_counts=track_counts
        )
        sink.write_batch(df, 0)  # an earlier epoch, so the probe runs
        sc.setLocalProperty("spark.jobGroup.id", group)
        try:
            sink.write_batch(more, 1)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    counted, uncounted = jobs(True), jobs(False)
    assert 0 < counted <= uncounted


@pytest.mark.parametrize("mode", ["anti_join", "epoch_overwrite"])
def test_marker_is_the_epochs_one_commit_record(spark, tmp_path, df, mode):
    """An epoch directory holds its data files and no ``_SUCCESS``: the
    ``_batches`` marker is the epoch's one commit record. Reads,
    snapshots, the epoch history and the anti-join replay see the same
    rows as with the marker file beside a ``_SUCCESS``; an epoch written
    with a ``_SUCCESS`` (the earlier layout) still reads the same."""
    sink = _sink(tmp_path, mode)
    # epoch 0 in the earlier layout: the default write leaves _SUCCESS
    df.dropDuplicates(["conv_id", "turn_idx"]).write.mode(
        "overwrite"
    ).parquet(sink._epoch_dir(0))
    sink._commit_marker(0, 2)
    assert "_SUCCESS" in os.listdir(sink._epoch_dir(0))
    mix = spark.createDataFrame(
        [("c1", 2, "b"), ("c3", 1, "e")], ["conv_id", "turn_idx", "text"]
    )
    more = spark.createDataFrame(
        [("c4", 1, "f")], ["conv_id", "turn_idx", "text"]
    )
    sink.write_batch(mix, 1)
    sink.write_batch(more, 2)
    for epoch in (1, 2):
        names = os.listdir(sink._epoch_dir(epoch))
        assert [n for n in names if n.endswith(".parquet")], names
        assert not [n for n in names if "_SUCCESS" in n], names

    def keys(frame):
        return sorted(
            (r.conv_id, r.turn_idx, r.text) for r in frame.collect()
        )

    first = [("c1", 1, "a"), ("c1", 2, "b")]
    later = [("c3", 1, "e"), ("c4", 1, "f")]
    if mode == "epoch_overwrite":  # no cross-epoch dedup, by design
        later.append(("c1", 2, "b"))
    committed = sorted(first + later)
    assert sink.epochs() == [0, 1, 2]
    assert keys(sink.read(spark)) == committed
    assert keys(sink.read_as_of(spark, 0)) == first
    assert len(keys(sink.read_as_of(spark, 1))) == len(committed) - 1
    # replays: the marker short-circuits a committed epoch, and the
    # anti-join drops keys already committed by another epoch
    assert sink.write_batch(mix, 1) == 0
    if mode == "anti_join":
        assert sink.write_batch(df, 3) == 0
        assert sink.epochs() == [0, 1, 2, 3]
        assert keys(sink.read(spark)) == committed
