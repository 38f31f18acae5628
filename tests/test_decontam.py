"""Benchmark decontamination: n-gram overlap report + drop filter.

Contract under test: a doc is flagged iff it shares >=1 distinct word
n-gram with the benchmark set; contam_frac counts DISTINCT doc n-grams
(duplicates inside a doc count once); sub-n-token docs produce no row;
and the scale shape is broadcast-join (plan-asserted), never a
corpus x benchmark shuffle join.
"""

import io
from contextlib import redirect_stdout

import pytest

from dbus_spark.operators.decontam import decontaminate, ngram_contamination


def _docs(spark):
    rows = [
        # fully contaminated: IS the benchmark item
        (1, "the quick brown fox jumps over the lazy dog today"),
        # partial: shares one 3-gram window with doc 1's text
        (2, "start pad quick brown fox ends here now clean tail"),
        # clean: no shared 3-gram
        (3, "completely unrelated words in this document body here"),
        # too short for a 3-gram: no output row at all
        (4, "two tokens"),
        # repeated contaminated 3-gram must count ONCE (distinct)
        (5, "lazy dog today lazy dog today lazy dog today"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _bench(spark):
    return spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog today")],
        "doc_id long, text string",
    )


def test_contamination_report(spark):
    got = {
        r["doc_id"]: (r["n_ngrams"], r["n_hit"], r["contam_frac"])
        for r in ngram_contamination(
            _docs(spark), _bench(spark), n=3
        ).collect()
    }
    # doc 1: 8 distinct 3-grams, all in the benchmark
    assert got[1] == (8, 8, 1.0)
    # doc 2: 8 distinct 3-grams, exactly one ("quick brown fox") hits
    assert got[2] == (8, 1, 0.125)
    assert got[3][1] == 0 and got[3][2] == 0.0
    assert 4 not in got  # < n tokens -> no n-grams -> no row
    # doc 5: "lazy dog today" repeats 3x but is ONE distinct shingle;
    # the bridging shingles ("dog today lazy", "today lazy dog") are
    # not benchmark n-grams
    assert got[5] == (3, 1, 0.3333)


def test_decontaminate_drops_flagged(spark):
    kept = {
        r["doc_id"]
        for r in decontaminate(_docs(spark), _bench(spark), n=3).collect()
    }
    # any-overlap policy: 1, 2, 5 dropped; 3 clean; 4 unshingleable
    # (nothing to match -> kept, the conservative call for short docs)
    assert kept == {3, 4}
    loose = {
        r["doc_id"]
        for r in decontaminate(
            _docs(spark), _bench(spark), n=3, max_frac=0.5
        ).collect()
    }
    assert loose == {2, 3, 4, 5}  # only the fully-contaminated doc out


def test_benchmark_side_broadcasts(spark):
    """100 TB shape: the benchmark n-gram set must broadcast — a
    shuffle join here would move the whole corpus's shingles."""
    plan_df = ngram_contamination(_docs(spark), _bench(spark), n=3)
    buf = io.StringIO()
    with redirect_stdout(buf):
        plan_df.explain("formatted")
    plan = buf.getvalue()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


# -------------------------------------------------- streaming twin

def test_streaming_filter_matches_batch_decontaminate(spark):
    """Map-side streaming filter keeps exactly the docs the batch
    anti-join keeps — incl. the sub-n-token doc (passes) and the
    distinct-gram fraction semantics under max_frac."""
    from dbus_spark.operators.decontam import (
        collect_bench_ngrams,
        streaming_decontam_filter,
    )

    docs = _docs(spark)
    # a null benchmark text adds no n-gram on either side
    bench = _bench(spark).union(
        spark.createDataFrame([(101, None)], "doc_id long, text string")
    )
    grams = collect_bench_ngrams(bench, n=3)
    for max_frac in (0.0, 0.2):
        batch_kept = {
            r.doc_id
            for r in decontaminate(docs, bench, n=3, max_frac=max_frac)
            .select("doc_id")
            .collect()
        }
        stream_kept = {
            r.doc_id
            for r in streaming_decontam_filter(
                docs, grams, n=3, max_frac=max_frac
            )
            .select("doc_id")
            .collect()
        }
        assert stream_kept == batch_kept, max_frac


def test_streaming_filter_tokenization_parity(spark):
    """Tab-edged text: Spark split keeps the leading empty token; the
    closure tokenizer must match or the n-gram keys diverge."""
    from dbus_spark.operators.decontam import (
        collect_bench_ngrams,
        streaming_decontam_filter,
    )

    hostile = "\tquick brown fox"
    docs = spark.createDataFrame([(1, hostile)], "doc_id long, text string")
    bench = spark.createDataFrame([(9, hostile)], "doc_id long, text string")
    grams = collect_bench_ngrams(bench, n=3)
    kept_stream = streaming_decontam_filter(docs, grams, n=3).count()
    kept_batch = decontaminate(docs, bench, n=3).count()
    assert kept_stream == kept_batch == 0  # both flag the identical text


def test_policy_stage_streaming_equals_batch(spark, tmp_path):
    """doc_policy_stage (mixture sample → decontam → PII redact) gives
    the same surviving (id, text) set run as a real streaming query or
    as one batch call — the zero-state composability contract."""
    import os

    from dbus_spark.operators.decontam import collect_bench_ngrams
    from dbus_spark.pipeline.ingest import doc_policy_stage

    rows = [
        (i,
         f"body w{i} mail u{i}@ex.com " + " ".join(f"t{i}_{j}" for j in range(6)),
         ["en", "de"][i % 2])
        for i in range(60)
    ]
    # make doc 7 contaminated vs the bench set
    rows[7] = (7, "the quick brown fox jumps over the lazy dog today", "de")
    pdf_dir = str(tmp_path / "in")
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    docs.repartition(3).write.parquet(pdf_dir)
    bench = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog today")],
        "doc_id long, text string",
    )
    grams = collect_bench_ngrams(bench, n=3)
    kw = dict(bench_ngrams=grams, ngram_n=3,
              mixture_rates={"en": 0.6, "de": 1.0}, sample_seed=5,
              redact=True)

    batch = {
        (r.doc_id, r.text)
        for r in doc_policy_stage(spark.read.parquet(pdf_dir), **kw).collect()
    }
    assert 7 not in {i for i, _ in batch}  # decontam dropped it
    assert all("@" not in t for _, t in batch)  # emails redacted

    got = []
    src = (spark.readStream.schema("doc_id long, text string, lang string")
           .option("maxFilesPerTrigger", 1).parquet(pdf_dir))
    q = (doc_policy_stage(src, **kw)
         .writeStream.outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .foreachBatch(lambda b, _e: got.extend(
             (r.doc_id, r.text) for r in b.collect()))
         .start())
    q.processAllAvailable(); q.stop(); q.awaitTermination(30)
    assert set(got) == batch


def test_excise_contaminated_spans_golden(spark):
    from dbus_spark.operators.decontam import (
        collect_bench_ngrams,
        excise_contaminated_spans,
    )

    grams = collect_bench_ngrams(["bad evil words"], n=3)
    docs = spark.createDataFrame(
        [
            # middle span contaminated; neighbors survive
            (0, "keep me one\n\nxx bad evil words yy\n\nkeep me two"),
            # n-gram straddles a span boundary: exists in NEITHER span
            (1, "tail is bad\n\nevil words head"),
            # every span contaminated -> empty doc, audit counts say so
            (2, "bad evil words\n\nso bad evil words here"),
            # span shorter than n can never match
            (3, "bad evil"),
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: (r.n_spans, r.n_excised, r.text)
        for r in excise_contaminated_spans(docs, grams, n=3).collect()
    }
    assert out[0] == (3, 1, "keep me one\n\nkeep me two")
    assert out[1] == (2, 0, "tail is bad\n\nevil words head")
    assert out[2] == (2, 2, "")
    assert out[3] == (1, 0, "bad evil")


def test_hash_mode_matches_exact_mode(spark):
    """The int64 roll-hash arm returns the same verdicts as the
    exact-string arm (collision probability ~1e-13 at this scale)."""
    from dbus_spark.operators.decontam import (
        collect_bench_ngrams,
        hash_bench_ngrams,
        streaming_decontam_filter,
    )

    docs, bench = _docs(spark), _bench(spark)
    exact = collect_bench_ngrams(bench, n=3)
    hashed = hash_bench_ngrams(bench, n=3)
    for max_frac in (0.0, 0.2):
        a = {
            r.doc_id
            for r in streaming_decontam_filter(
                docs, exact, n=3, max_frac=max_frac
            ).select("doc_id").collect()
        }
        b = {
            r.doc_id
            for r in streaming_decontam_filter(
                docs, hashed, n=3, max_frac=max_frac
            ).select("doc_id").collect()
        }
        assert a == b, max_frac


def test_fused_ingest_policy_matches_staged(spark, tmp_path):
    """doc_ingest_stream(bench_ngram_hashes=...) — the one-Arrow-pass
    fused form — keeps exactly the docs the staged filter-then-ingest
    composition keeps (batch mode; same quality threshold)."""
    from dbus_spark.operators.decontam import (
        hash_bench_ngrams,
        streaming_decontam_filter,
    )
    from dbus_spark.pipeline.ingest import doc_ingest_stream

    rows = [(i, " ".join(f"w{i}_{j}" for j in range(30)))
            for i in range(50)]
    rows[9] = (9, "the quick brown fox " * 8)  # vs bench below
    df = spark.createDataFrame(rows, "doc_id long, text string")
    grams = hash_bench_ngrams(["the quick brown fox " * 8], n=3)

    fused = {
        r.doc_id
        for r in doc_ingest_stream(
            df, quality_min=0.0, dedup=False,
            bench_ngram_hashes=grams, ngram_n=3,
        ).select("doc_id").collect()
    }
    staged = {
        r.doc_id
        for r in doc_ingest_stream(
            streaming_decontam_filter(df, grams, n=3),
            quality_min=0.0, dedup=False,
        ).select("doc_id").collect()
    }
    assert fused == staged
    assert 9 not in fused


def test_bloom_mode_never_passes_contaminated(spark):
    """Bloom error is one-sided: every doc the hash arm drops, the
    bloom arm drops (a false positive can only over-drop)."""
    from dbus_spark.operators.decontam import (
        bloom_bench_ngrams,
        hash_bench_ngrams,
        streaming_decontam_filter,
    )

    def text(i):
        if i % 9 == 1:  # contaminated NON-bench doc: copies a run
            return " ".join(f"w{i - 1}x{j}" for j in range(12))
        return " ".join(f"w{i}x{j}" for j in range(20))

    rows = [(i, text(i)) for i in range(120)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    bench = df.filter("doc_id % 9 = 0")
    hb = hash_bench_ngrams(bench, n=8)
    bb = bloom_bench_ngrams(bench, n=8)
    kept_h = {r.doc_id for r in
              streaming_decontam_filter(df, hb, n=8)
              .select("doc_id").collect()}
    kept_b = {r.doc_id for r in
              streaming_decontam_filter(df, bb, n=8)
              .select("doc_id").collect()}
    assert kept_b <= kept_h          # no false passes, ever
    assert len(kept_h) > 0           # the test corpus has clean docs
    # at 14 bits/gram the FP rate is ~1e-3: over-drops are rare
    assert len(kept_h - kept_b) <= max(2, len(kept_h) // 50)


def test_bloom_bitset_is_smaller_than_hash_array(spark):
    from dbus_spark.operators.decontam import (
        bloom_bench_ngrams,
        hash_bench_ngrams,
    )

    rows = [(i, " ".join(f"t{(i * 13 + j) % 997}" for j in range(40)))
            for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    hb = hash_bench_ngrams(df, n=8)
    bits, m_bits, k = bloom_bench_ngrams(df, n=8)
    assert bits.nbytes < hb.nbytes       # the point of the arm
    assert m_bits % 64 == 0 and k >= 1
    # empty benchmark degrades gracefully: nothing flagged
    import numpy as np
    from dbus_spark.operators.decontam import bloom_probe
    eb = bloom_bench_ngrams([], n=8)
    assert not bloom_probe(np.array([1, 2, 3], dtype=np.int64), eb).any()


def test_fused_ingest_policy_lm_matches_staged(spark):
    """doc_ingest_stream(..., lm=...) — decontam AND the LM cut in the
    one Arrow pass — keeps exactly the docs the staged composition
    (lm_quality_filter → streaming_decontam_filter → ingest) keeps."""
    import math

    from dbus_spark.operators.decontam import (
        hash_bench_ngrams,
        streaming_decontam_filter,
    )
    from dbus_spark.operators.text import (
        hash_unigram_lm,
        lm_quality_filter,
        unigram_logprobs,
    )
    from dbus_spark.pipeline.ingest import doc_ingest_stream

    def text(i):
        if i % 7 == 0:
            return "the cat sat on the mat again and again"  # fluent
        if i % 7 == 1:
            return "zz" + " ".join(f"q{i}_{j}" for j in range(10))  # OOV
        return " ".join(f"w{i}_{j}" for j in range(30))

    rows = [(i, text(i)) for i in range(60)]
    rows[9] = (9, "the quick brown fox " * 8)  # contaminated vs bench
    df = spark.createDataFrame(rows, "doc_id long, text string")
    grams = hash_bench_ngrams(["the quick brown fox " * 8], n=3)
    train = spark.createDataFrame(
        [(0, "the cat sat on the mat again and again " * 3)],
        "doc_id long, text string",
    )
    lm_tbl = unigram_logprobs(train)
    lm = hash_unigram_lm(lm_tbl)
    oov = round(math.log(1e-7) * 1e6)
    cut = 14.0

    fused = {
        r.doc_id
        for r in doc_ingest_stream(
            df, quality_min=0.0, dedup=False,
            bench_ngram_hashes=grams, ngram_n=3,
            lm=lm, lm_max_logppl=cut, lm_oov_lp6=oov,
        ).select("doc_id").collect()
    }
    staged = {
        r.doc_id
        for r in doc_ingest_stream(
            streaming_decontam_filter(
                lm_quality_filter(df, lm, cut, oov_lp6=oov),
                grams, n=3,
            ),
            quality_min=0.0, dedup=False,
        ).select("doc_id").collect()
    }
    assert fused == staged
    assert 9 not in fused            # decontam still applies
    # the LM cut did real work: some docs dropped on perplexity alone
    no_lm = {
        r.doc_id
        for r in doc_ingest_stream(
            df, quality_min=0.0, dedup=False,
            bench_ngram_hashes=grams, ngram_n=3,
        ).select("doc_id").collect()
    }
    assert fused < no_lm


def test_map_side_filters_refuse_unknown_input_type(spark):
    """The decontam and LM filters pick their arm from the type of the
    closure input; a plain list is none of the accepted forms."""
    from dbus_spark.operators.decontam import streaming_decontam_filter
    from dbus_spark.operators.text import lm_quality_filter

    df = spark.createDataFrame([(0, "a b c")], "doc_id long, text string")
    with pytest.raises(TypeError, match="hash_bench_ngrams"):
        streaming_decontam_filter(df, ["a b c"], n=3)
    with pytest.raises(TypeError, match="hash_unigram_lm"):
        lm_quality_filter(df, [("a", -1)], 3.0, oov_lp6=-10)
