"""Routing DAG semantics (FIXTURES.md F3 ≈ reference etc/*.cf)."""

import pytest

from pyspark.sql import functions as F

from dbus_spark.pipeline import Pipeline
from dbus_spark.pipeline.matcher import wildcard_to_regex, build_matcher


@pytest.fixture()
def rows_events_df(spark):
    from dbus_spark.datagen import generate_rows_events

    return spark.createDataFrame(generate_rows_events(400, seed=42))


def test_mock_pipeline(spark):
    """etc/mock.cf: MockInput → MockOutput."""
    cfg = {
        "plugins": [
            {"name": "mock_in", "class": "MockInput", "options": {"rows": 100}},
            {"name": "out", "class": "MemoryOutput", "match": ["mock_in"]},
        ]
    }
    res = Pipeline(cfg).run(spark)
    assert res["out"].count() == 100
    assert res["out"].select("ident").distinct().collect()[0][0] == "mock_in"


def test_fanout_both_sinks_get_every_row(spark, rows_events_df):
    """etc/fanout.cf: one source, two sinks matching the same ident —
    the refcount fan-out invariant (router.go:117-133)."""
    cfg = {
        "plugins": [
            {"name": "src", "class": "MemoryInput"},
            {"name": "out1", "class": "MemoryOutput", "match": ["src"]},
            {"name": "out2", "class": "MemoryOutput", "match": ["src"]},
        ]
    }
    res = Pipeline(cfg).run(spark, sources={"src": rows_events_df})
    n = rows_events_df.count()
    assert res["out1"].count() == n
    assert res["out2"].count() == n


def test_canal_rekey_dispatch(spark, rows_events_df):
    """etc/canal.cf: binlog → MysqlbinlogFilter (ident := db) → per-db
    sinks; also the db-exclude predicate."""
    cfg = {
        "plugins": [
            {"name": "binlog", "class": "MemoryInput"},
            {
                "name": "rekey",
                "class": "RekeyFilter",
                "match": ["binlog"],
                "options": {"ident_col": "db"},
            },
            {"name": "db1_out", "class": "MemoryOutput", "match": ["db1"]},
            {"name": "db2_out", "class": "MemoryOutput", "match": ["db2"]},
        ]
    }
    res = Pipeline(cfg).run(spark, sources={"binlog": rows_events_df})
    for db, out in [("db1", "db1_out"), ("db2", "db2_out")]:
        got = res[out]
        assert got.count() == rows_events_df.filter(F.col("db") == db).count()
        assert got.select("db").distinct().collect()[0][0] == db


def test_two_inputs_one_sink(spark, rows_events_df):
    """etc/inputs.cf: 2 sources → 1 sink matching both."""
    half1 = rows_events_df.filter("pos % 2 = 0")
    half2 = rows_events_df.filter("pos % 2 = 1")
    cfg = {
        "plugins": [
            {"name": "in1", "class": "MemoryInput"},
            {"name": "in2", "class": "MemoryInput"},
            {"name": "out", "class": "MemoryOutput", "match": ["in1", "in2"]},
        ]
    }
    res = Pipeline(cfg).run(
        spark, sources={"in1": half1, "in2": half2}
    )
    assert res["out"].count() == rows_events_df.count()


def test_unmatched_rows_dropped_and_observable(spark, rows_events_df):
    """router.go:135-140: no matching sink → dropped, not an error."""
    cfg = {
        "plugins": [
            {"name": "src", "class": "MemoryInput"},
            {
                "name": "rekey",
                "class": "RekeyFilter",
                "match": ["src"],
                "options": {"ident_col": "db"},
            },
            {"name": "out", "class": "MemoryOutput", "match": ["db1"]},
        ]
    }
    p = Pipeline(cfg)
    res = p.run(spark, sources={"src": rows_events_df})
    n_db1 = rows_events_df.filter("db = 'db1'").count()
    assert res["out"].count() == n_db1
    # db2..db4 rows match no consumer after the rekey (the golden row's
    # db='mydabase' is unmatched too, but under a different ident)
    unmatched = p.unmatched(spark, sources={"src": rows_events_df})
    n_other_db = rows_events_df.filter(
        "db like 'db%' and db <> 'db1'"
    ).count()
    assert unmatched.filter("ident like 'db%'").count() == n_other_db
    assert unmatched.filter("ident = 'mydabase'").count() == 1


def test_filter_chain_and_predicate(spark, rows_events_df):
    """complex.cf-style: source → predicate filter → sink, plus a
    direct source → sink edge."""
    cfg = {
        "plugins": [
            {"name": "src", "class": "MemoryInput"},
            {
                "name": "rekey",
                "class": "RekeyFilter",
                "match": ["src"],
                "options": {"ident_col": "db"},
            },
            {
                "name": "only_inserts",
                "class": "PredicateFilter",
                "match": ["db3"],
                "options": {"where": "dml = 'I'", "out_ident": "inserts"},
            },
            {"name": "ins_out", "class": "MemoryOutput", "match": ["inserts"]},
            {"name": "db_out", "class": "MemoryOutput", "match": ["db1", "db2"]},
        ]
    }
    p = Pipeline(cfg)
    res = p.run(spark, sources={"src": rows_events_df})
    assert res["db_out"].count() == rows_events_df.filter(
        "db in ('db1','db2')"
    ).count()
    assert res["ins_out"].count() == rows_events_df.filter(
        "db = 'db3' and dml = 'I'"
    ).count()


def test_duplicate_plugin_name_raises():
    cfg = {
        "plugins": [
            {"name": "x", "class": "MockInput"},
            {"name": "x", "class": "MemoryOutput", "match": ["x"]},
        ]
    }
    with pytest.raises(ValueError, match="duplicate plugin name"):
        Pipeline(cfg)


def test_every_stream_sink_class_has_a_batch_plugin():
    """A config that names a stream sink class must also build as a
    batch Pipeline (KafkaOutput was registered for streams only)."""
    from dbus_spark.pipeline.dag import PLUGIN_REGISTRY
    from dbus_spark.pipeline.streaming import STREAM_SINKS

    assert set(STREAM_SINKS) <= set(PLUGIN_REGISTRY)
    Pipeline({"plugins": [
        {"name": "in", "class": "MemoryInput"},
        {"name": "k", "class": "KafkaOutput", "match": ["in"],
         "options": {"servers": "x", "topic": "t"}},
    ]})


def test_wildcard_matcher_semantics(spark):
    """matcher_v2: '*' matches exactly one dot segment — including an
    empty one, exactly like the reference's strings.Split + equality
    compare (engine/matcher_v2_naive.go:73-90)."""
    assert wildcard_to_regex("a.*.c") == "^a\\.[^.]*\\.c$"
    df = spark.createDataFrame(
        [("a.b.c",), ("a.x.c",), ("a.b.b.c",), ("a.c",), ("z.b.c",), ("a..c",)],
        ["ident"],
    )
    got = sorted(
        r[0] for r in df.filter(build_matcher(["a.*.c"])).collect()
    )
    assert got == ["a..c", "a.b.c", "a.x.c"]
    # exact patterns still work through build_matcher
    got2 = sorted(r[0] for r in df.filter(build_matcher(["a.c", "z.b.c"])).collect())
    assert got2 == ["a.c", "z.b.c"]


def test_subprocess_output_pipes_json_lines(spark, tmp_path):
    """StreamOutput analog: routed rows reach an external consumer
    process as JSON lines (consumer here: cat > file)."""
    import json

    from dbus_spark.pipeline import Pipeline

    out_file = tmp_path / "consumed.jsonl"
    cfg = {
        "plugins": [
            {"name": "src", "class": "MemoryInput"},
            {
                "name": "pipe_out",
                "class": "SubprocessOutput",
                "match": ["src"],
                "options": {"cmd": ["cat"], "stdout": str(out_file)},
            },
        ]
    }
    df = spark.range(5).selectExpr("id", "concat('p', id) AS payload")
    res = Pipeline(cfg).run(spark, sources={"src": df})
    assert res["pipe_out"] == 5
    lines = [json.loads(x) for x in out_file.read_text().splitlines()]
    assert sorted(r["payload"] for r in lines) == [f"p{i}" for i in range(5)]


def test_subprocess_output_nonzero_exit_raises(spark):
    from dbus_spark.pipeline import Pipeline

    cfg = {
        "plugins": [
            {"name": "src", "class": "MemoryInput"},
            {
                "name": "bad",
                "class": "SubprocessOutput",
                "match": ["src"],
                "options": {"cmd": ["false"]},
            },
        ]
    }
    df = spark.range(3)
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="exited"):
        Pipeline(cfg).run(spark, sources={"src": df})


def test_subprocess_output_executor_scope(spark, tmp_path):
    """The cluster form: one consumer process per partition on the
    executors, no driver data path; union of the per-partition outputs
    is the full row set."""
    import json

    from dbus_spark.pipeline import Pipeline

    out_dir = tmp_path / "parts"
    out_dir.mkdir()
    cfg = {
        "plugins": [
            {"name": "src", "class": "MemoryInput"},
            {
                "name": "pipe_out",
                "class": "SubprocessOutput",
                "match": ["src"],
                "options": {
                    "cmd": ["cat"],
                    "scope": "executor",
                    "stdout_dir": str(out_dir),
                },
            },
        ]
    }
    df = spark.range(0, 20, 1, 4).selectExpr("id", "concat('p', id) AS payload")
    Pipeline(cfg).run(spark, sources={"src": df})
    rows = []
    for f in out_dir.iterdir():
        rows += [json.loads(x) for x in f.read_text().splitlines()]
    assert sorted(r["id"] for r in rows) == list(range(20))
    assert len(list(out_dir.iterdir())) == 4  # one consumer per partition


def test_subprocess_output_truncating_consumer_raises(spark):
    """A consumer that stops reading and exits 0 (head -1) must NOT be
    reported as a successful delivery — review fix pinned."""
    from dbus_spark.pipeline import Pipeline

    cfg = {
        "plugins": [
            {"name": "src", "class": "MemoryInput"},
            {
                "name": "trunc",
                "class": "SubprocessOutput",
                "match": ["src"],
                "options": {"cmd": ["head", "-1"]},
            },
        ]
    }
    # enough rows to overrun the OS pipe buffer after head exits
    df = spark.range(300000).selectExpr(
        "id", "repeat('x', 64) AS pad"
    )
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="closed stdin|exited"):
        Pipeline(cfg).run(spark, sources={"src": df})


def test_doc_ingest_stream_batch_form(spark):
    """The ingest vertical's batch form: one-pass enrichment columns,
    quality filter applied, exact dedup on the normalized fingerprint
    (keeps first-seen fp)."""
    from dbus_spark.pipeline.ingest import doc_ingest_stream

    rows = [
        (1, "a solid paragraph of reasonable english text " * 4),
        (2, "a solid paragraph of reasonable english text " * 4),  # dup
        (3, "5" * 200_000),  # one huge digit token: every band fails
        (4, "another perfectly ordinary document with many words " * 3),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = doc_ingest_stream(df, quality_min=0.3, dedup=True).toPandas()
    assert {"doc_id", "text", "quality", "n_tokens", "fp"} <= set(out.columns)
    assert set(out["doc_id"]) <= {1, 2, 4} and len(out) == 2  # dedup + filter
    assert (out["quality"] >= 0.3).all()
    no_dedup = doc_ingest_stream(df, quality_min=0.3, dedup=False).toPandas()
    assert len(no_dedup) == 3
