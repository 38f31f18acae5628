"""Arrow pandas-UDF text transforms (the input_hint throughput path)."""

import pandas as pd
import pytest

from dbus_spark.functions.vectorized import (
    doc_enrich_v,
    enrich_turns,
    lang_id_v,
    quality_score_v,
    stopword_ratio_v,
    token_count_v,
)
from dbus_spark.operators.text import token_count


def test_token_count_v_matches_jvm(spark, transcripts_df):
    df = transcripts_df.limit(500).select("text")
    got = df.select(
        token_count_v("text").alias("v"),
        token_count("text").alias("jvm"),
    ).toPandas()
    assert (got["v"] == got["jvm"]).all()


def test_lang_id_v_examples(spark):
    df = spark.createDataFrame(
        [
            ("the cat and the hat is a cat",),
            ("le chat et la maison des les",),
            ("xyzzy plugh quux",),
        ],
        ["text"],
    )
    got = [r[0] for r in df.select(lang_id_v("text")).collect()]
    assert got == ["en", "fr", "und"]


def test_stopword_ratio_v(spark):
    df = spark.createDataFrame([("the cat runs",), ("cat runs fast",)], ["text"])
    got = [r[0] for r in df.select(stopword_ratio_v("text")).collect()]
    assert got[0] > got[1]


def test_lang_and_stopwords_match_jvm_on_punctuation(spark):
    """The vectorized path must tokenize exactly like operators.text
    (whitespace tokens), including punctuation-adjacent words that \\b
    word boundaries would miscount."""
    from dbus_spark.operators.text import lang_id

    rows = [
        ("the, cat and. the hat",),   # "the," is NOT a token match
        ("the cat and the hat is a cat",),
        ("le chat! et la maison des les",),
    ]
    df = spark.createDataFrame(rows, ["text"])
    got = df.select(
        lang_id_v("text").alias("v"), lang_id("text").alias("jvm")
    ).toPandas()
    assert (got["v"] == got["jvm"]).all()


def test_enrich_turns_deterministic(spark, transcripts_df):
    df = transcripts_df.limit(300)
    a = enrich_turns(df).select("conv_id", "turn_idx", "n_tokens", "fp64", "lang")
    p1 = a.toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    p2 = a.toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(p1, p2)
    # fingerprints separate distinct texts (and collide on the
    # duplicate-redelivery fixture rows, which share text)
    texts = df.select("text").toPandas()["text"]
    assert p1["fp64"].nunique() == texts.nunique()


def test_doc_enrich_v_matches_single_column_udfs(spark):
    """The fused struct UDF (one Arrow pass, nondeterministic so a
    filter can't duplicate it) must be value-identical to the two
    single-column UDFs it replaces in the streaming ingest path."""
    from pyspark.sql import functions as F

    rows = [
        ("short",),
        ("a solid paragraph of reasonable english text " * 4,),
        ("",),
        ("   \t\n  ",),
        ("x" * 200,),
    ]
    df = spark.createDataFrame(rows, ["text"])
    got = (
        df.withColumn("e", doc_enrich_v("text"))
        .withColumn("q1", quality_score_v("text"))
        .withColumn("t1", token_count_v("text"))
        .select("e.quality", "e.n_tokens", "q1", "t1")
        .toPandas()
    )
    assert (got["quality"] == got["q1"]).all()
    assert (got["n_tokens"] == got["t1"]).all()

    # the nondeterministic flag keeps one evaluation under a filter:
    # the optimized plan must contain the UDF exactly once
    plan = (
        df.withColumn("e", doc_enrich_v("text"))
        .filter("e.quality >= 0.3")
        .select("text", "e.quality")
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert plan.count("_doc_enrich_v") == 1, plan


def test_turn_enrich_fused_matches_singles(spark):
    """r7: the fused one-crossing enrich struct must equal the five
    single-column UDFs on hostile inputs (null, empty, punctuation,
    tabs, unicode whitespace, U+0000)."""
    from dbus_spark.functions.vectorized import (
        fingerprint64_v,
        turn_enrich_frame,
        turn_enrich_v,
    )

    rows = [
        ("the cat and the hat is a cat",),
        ("le chat et la maison des les",),
        ("xyzzy plugh quux",),
        ("",),
        (" ",),
        (None,),
        ("the, cat. and; the!",),
        ("tabs\tand\nnewlines the of is",),
        ("el los las que y " * 40,),
        ("x",),
    ]
    # texts equal up to a NUL, in one Arrow batch without a null: a
    # hash that compares C strings gives them one fingerprint
    nul_rows = [("a\x00 first",), ("a\x00 second",), ("the\x00 cat",)]
    got = []
    for part in (rows, nul_rows):
        df = spark.createDataFrame(part, ["text"]).coalesce(1)
        got += df.select(
            "text",
            turn_enrich_v("text").alias("e"),
            token_count_v("text").alias("n_tokens"),
            fingerprint64_v("text").alias("fp64"),
            lang_id_v("text").alias("lang"),
            stopword_ratio_v("text").alias("stop_ratio"),
            quality_score_v("text").alias("quality"),
        ).collect()
    for r in got:
        e = r["e"]
        assert e["n_tokens"] == r["n_tokens"]
        assert e["fp64"] == r["fp64"]
        assert e["lang"] == r["lang"]
        assert e["stop_ratio"] == r["stop_ratio"]
        assert (
            e["quality"] == r["quality"]
            or (e["quality"] is None and r["quality"] is None)
        )
        # the fingerprint of a text does not depend on its batch
        alone = turn_enrich_frame(pd.Series([r["text"]]))["fp64"][0]
        assert e["fp64"] == alone, r["text"]
    assert len({r["fp64"] for r in got[-len(nul_rows):]}) == len(nul_rows)


def test_fp64_is_nul_exact_and_batch_independent():
    """``fp64`` hashes every byte of the normalized text, one text at a
    time: texts equal up to a NUL differ, a text's value is the same in
    any batch, and NUL-free texts and nulls keep the values
    ``hash_pandas_object`` gave them."""
    from dbus_spark.functions.vectorized import turn_enrich_frame

    def fp(texts):
        return turn_enrich_frame(pd.Series(texts, dtype=object))[
            "fp64"
        ].tolist()

    nul = ["a\x00 first", "a\x00 second", "a\x00", "a"]
    assert fp(nul) == [fp([t])[0] for t in nul]
    assert len(set(fp(nul))) == len(nul)
    assert fp(["a\x00 second"]) == [-8112799508425030236]

    plain = ["The  Cat\tsat", "x", "", " ", None, "le chat"]
    norm = (
        pd.Series(plain, dtype=object)
        .str.strip()
        .str.lower()
        .str.replace(r"\s+", " ", regex=True)
    )
    legacy = pd.util.hash_pandas_object(norm, index=False).astype("int64")
    assert fp(plain) == legacy.tolist()
    assert fp([None]) == [-1]


@pytest.mark.filterwarnings("error::FutureWarning")
@pytest.mark.parametrize(
    "texts",
    [[None, None], [None, "the cat and the hat is a cat", None]],
    ids=["all_null", "mixed"],
)
def test_enrich_kernels_on_null_batches(texts):
    """A null text gets 0 tokens, fp64 -1, ``und``, ratio 0.0 and a
    NaN quality, also when every text of the batch is null (whose
    ``str.len()`` is an object Series), without leaning on pandas'
    deprecated ``fillna`` downcast."""
    from dbus_spark.functions.vectorized import (
        doc_enrich_frame,
        turn_enrich_frame,
    )

    s = pd.Series(texts, dtype=object)
    null = s.isna().to_numpy()
    turn = turn_enrich_frame(s)
    doc = doc_enrich_frame(s)
    assert turn["n_tokens"].dtype == "int32"
    assert doc["n_tokens"].dtype == "int32"
    assert turn["n_tokens"][null].tolist() == [0] * null.sum()
    assert turn["fp64"][null].tolist() == [-1] * null.sum()
    assert turn["lang"][null].tolist() == ["und"] * null.sum()
    assert turn["stop_ratio"][null].tolist() == [0.0] * null.sum()
    assert turn["quality"][null].isna().all()
    assert doc["n_tokens"][null].tolist() == [0] * null.sum()
    assert doc["quality"][null].isna().all()
    if not null.all():
        assert turn[~null].to_dict("list") == {
            "n_tokens": [8],
            "fp64": [3800797827017677322],
            "lang": ["en"],
            "stop_ratio": [0.625],
            "quality": [0.6],
        }
        assert doc[~null].to_dict("list") == {
            "quality": [0.6],
            "n_tokens": [8],
        }
