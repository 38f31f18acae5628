"""Plan-time route pruning: an emission whose static ident a matcher
rejects is never offered to it, so each routed output reads its source
once — and the routed rows, columns and checkpoints stay as they were
with every emission offered to every matcher."""

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from dbus_spark.datagen import generate_transcripts, write_stream_batches
from dbus_spark.pipeline import Pipeline, dag
from dbus_spark.pipeline.streaming import StreamingPipeline
from dbus_spark.schema import IDENT_COL
from dbus_spark.sinks import IdempotentKeyedSink
from dbus_spark.sources import transcript_file_stream
from tests.test_pipeline_streaming import _config, _write_fixture


@pytest.fixture()
def rows_events_df(spark):
    from dbus_spark.datagen import generate_rows_events

    return spark.createDataFrame(generate_rows_events(400, seed=42))


def _dotted_sources(rows_events_df):
    # inputs named like dotted topics, so wildcard matchers can hit or
    # miss their static idents
    cols = [c for c in rows_events_df.columns if c != IDENT_COL]
    df = rows_events_df.select(*cols)
    return {
        "a.x.b": df.filter("pos % 3 = 0"),
        "a.y.c": df.filter("pos % 3 = 1"),
        "a.z.b": df.filter("pos % 3 = 2"),
    }


CONFIGS = {
    "exact": (
        [
            {"name": "src", "class": "MemoryInput"},
            {
                "name": "rekey",
                "class": "RekeyFilter",
                "match": ["src"],
                "options": {"ident_col": "db"},
            },
            {"name": "db1_out", "class": "MemoryOutput", "match": ["db1"]},
            {"name": "mixed", "class": "MemoryOutput", "match": ["src", "db2"]},
            {"name": "none", "class": "MemoryOutput", "match": ["nothing"]},
        ],
        lambda df: {"src": df},
    ),
    "wildcard": (
        [
            {"name": "a.x.b", "class": "MemoryInput"},
            {"name": "a.y.c", "class": "MemoryInput"},
            {"name": "a.z.b", "class": "MemoryInput"},
            {
                "name": "rekey",
                "class": "RekeyFilter",
                "match": ["a.*.c"],
                "options": {"ident_col": "db"},
            },
            {"name": "ab", "class": "MemoryOutput", "match": ["a.*.b"]},
            {"name": "ac_db", "class": "MemoryOutput", "match": ["a.*.c", "db3"]},
            {"name": "deep", "class": "MemoryOutput", "match": ["a.*"]},
        ],
        _dotted_sources,
    ),
    "out_ident": (
        [
            {"name": "src", "class": "MemoryInput"},
            {
                "name": "rekey",
                "class": "RekeyFilter",
                "match": ["src"],
                "options": {"ident_col": "db"},
            },
            {
                "name": "ins",
                "class": "PredicateFilter",
                "match": ["db3"],
                "options": {"where": "dml = 'I'", "out_ident": "inserts"},
            },
            {
                "name": "split",
                "class": "SplitFilter",
                "match": ["src"],
                "options": {"col": "db", "sep": "b", "out_ident": "split.db"},
            },
            {"name": "ins_out", "class": "MemoryOutput", "match": ["inserts"]},
            {"name": "split_out", "class": "MemoryOutput", "match": ["split.*"]},
            {
                "name": "wide",
                "class": "MemoryOutput",
                "match": ["inserts", "db1"],
            },
            {"name": "all_src", "class": "MemoryOutput", "match": ["src", "split.db"]},
        ],
        lambda df: {"src": df},
    ),
}


def _rows(df):
    return df.columns, sorted(repr(r) for r in df.collect())


@pytest.mark.parametrize("name", sorted(CONFIGS))
def test_pruned_routes_equal_unpruned(spark, rows_events_df, monkeypatch, name):
    """Pipeline.run / unmatched give the same columns and rows with and
    without pruning (every producer offered to every matcher)."""
    plugins, sources = CONFIGS[name]
    p = Pipeline({"plugins": plugins})
    src = sources(rows_events_df)
    pruned = {k: _rows(v) for k, v in p.run(spark, src).items()}
    full = {
        k: _rows(v) for k, v in p._outputs(spark, src, prune=False).items()
    }
    assert pruned == full
    assert any(rows for _, rows in pruned.values())
    pruned_unmatched = _rows(p.unmatched(spark, src))
    with monkeypatch.context() as m:
        m.setattr(dag, "matches_ident", lambda matches, ident: True)
        assert _rows(p.unmatched(spark, src)) == pruned_unmatched


def _branches(df, matcher: str) -> int:
    """Union branches routed into ``df`` through ``matcher``."""
    return df._jdf.queryExecution().analyzed().toString().count(matcher)


def test_pruning_drops_dead_branches(spark, rows_events_df):
    """The canal shape: the db1 output is fed only by the rekey filter,
    not by a union with the input's always-false branch; a restamped
    emission reaches only matchers of its out_ident, dynamic ones reach
    every matcher; the dot edges are the same offers."""
    plugins, _ = CONFIGS["exact"]
    outs = Pipeline({"plugins": plugins}).outputs(
        spark, {"src": rows_events_df}
    )
    assert _branches(outs["db1_out"], "IN (db1)") == 1
    assert _branches(outs["none"], "IN (nothing)") == 1  # only rekey's
    # nothing can match: the unpruned (empty) union, not an error
    lone = Pipeline(
        {"plugins": [plugins[0], {**plugins[-1], "name": "lone"}]}
    ).outputs(spark, {"src": rows_events_df})["lone"]
    assert _branches(lone, "IN (nothing)") == 1 and lone.count() == 0

    plugins, _ = CONFIGS["out_ident"]
    p = Pipeline({"plugins": plugins})
    outs = p.outputs(spark, {"src": rows_events_df})
    assert _branches(outs["ins_out"], "IN (inserts)") == 2  # rekey + ins
    assert _branches(outs["split_out"], "RLIKE") == 2  # rekey + split
    dot = p.to_dot()
    assert '"ins" -> "ins_out"' in dot
    assert '"ins" -> "split_out"' not in dot
    assert '"split" -> "split_out"' in dot
    assert '"src" -> "ins_out"' not in dot
    assert '"rekey" -> "ins_out"' in dot


def _scans(query) -> int:
    plan = query._jsq.streamingQuery().lastExecution().executedPlan()
    return plan.toString().count("FileScan")


def test_streaming_outputs_scan_each_file_once(spark, tmp_path):
    """canal.cf over a stream: every output query reads its source
    through exactly one FileScan, and each batch's numInputRows is the
    rows of the one file it took (two scans would double it)."""
    _write_fixture(tmp_path)
    file_rows = sorted(
        len(pd.read_parquet(tmp_path / "in" / f))
        for f in os.listdir(tmp_path / "in")
        if f.endswith(".parquet")
    )
    sp = StreamingPipeline(
        Pipeline(_config(tmp_path)), str(tmp_path / "ck")
    ).start(spark)
    try:
        sp.process_all_available()
        for name, q in sp.queries.items():
            assert _scans(q) == 1, name
            per_batch = sorted(
                pr["numInputRows"]
                for pr in q.recentProgress
                if pr["numInputRows"] > 0
            )
            assert per_batch == file_rows, name
    finally:
        sp.stop()


def test_unpruned_checkpoint_resumes_under_pruned_pipeline(spark, tmp_path):
    """A checkpoint written by the unpruned plan shape (the same file
    source unioned twice, one branch behind an always-false ident
    filter) records two sources, so the pruned pipeline resumes it with
    that shape: files that landed between stop and restart are read
    once, no key is lost or duplicated. A new checkpoint beside it gets
    the pruned, one-scan plan."""
    pdf = _write_fixture(tmp_path, n_convs=20, n_files=2, seed=21)
    ck = tmp_path / "ck"
    src = transcript_file_stream(spark, str(tmp_path / "in"), 1)
    tagged = src.withColumn(IDENT_COL, F.lit("turns"))
    rekeyed = tagged.filter(F.col(IDENT_COL).isin("turns")).withColumn(
        IDENT_COL, F.col("role").cast("string")
    )
    user = F.col(IDENT_COL).isin("user")
    old_plan = tagged.filter(user).unionByName(
        rekeyed.filter(user), allowMissingColumns=True
    )
    sink = IdempotentKeyedSink(str(tmp_path / "user_out"))
    q = (
        old_plan.writeStream.outputMode("append")
        .foreachBatch(sink.foreach_batch())
        .option("checkpointLocation", str(ck / "user_out"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(60)
    epochs_before = sink.epochs()
    assert len(epochs_before) == 2

    extra = generate_transcripts(n_convs=10, seed=22)
    write_stream_batches(extra, str(tmp_path / "in"), n_files=1, start_index=50)
    sp = StreamingPipeline(Pipeline(_config(tmp_path)), str(ck)).start(spark)
    try:
        sp.process_all_available()
        assert _scans(sp.queries["user_out"]) == 2  # the recorded shape
        assert _scans(sp.queries["tool_out"]) == 1  # new checkpoint
    finally:
        sp.stop()

    assert sink.epochs() == epochs_before + [epochs_before[-1] + 1]
    both = pd.concat([pdf, extra], ignore_index=True)
    want = set(
        both[both["role"] == "user"][["conv_id", "turn_idx"]].itertuples(
            index=False, name=None
        )
    )
    got = sink.read(spark).select("conv_id", "turn_idx").toPandas()
    assert not got.duplicated().any()
    assert set(got.itertuples(index=False, name=None)) == want
    tools = both[both["tool"].notna()].drop_duplicates(["conv_id", "turn_idx"])
    got_t = IdempotentKeyedSink(str(tmp_path / "tool_out")).read(spark)
    assert got_t.count() == len(tools)
