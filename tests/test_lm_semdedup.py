"""Unit semantics for the unigram-LM perplexity scorer
(operators/text.py::doc_logppl) and SemDeDup
(operators/similarity.py::semdedup) — the oracle-parity gate covers
value equality at sf0.01; these pin the RULES on constructed inputs."""

import math

import pytest


def _replica_logppl(texts):
    toks = [t.strip(" ").split() if t.strip(" ") else [""] for t in texts]
    # NB: python str.split() drops empties; the operator splits on the
    # Java \s+ regex over trimmed text — the test corpus is single-
    # space separated so the two agree here
    cnt = {}
    for tt in toks:
        for w in tt:
            cnt[w] = cnt.get(w, 0) + 1
    T, V = sum(cnt.values()), len(cnt)

    def lp6(w):
        return round(math.log((cnt[w] + 1) / (T + V)) * 1e6)

    out = {}
    for i, tt in enumerate(toks):
        s = sum(lp6(w) for w in tt)
        out[i] = (len(tt), round(-s / (len(tt) * 1e6), 4))
    return out


def test_doc_logppl_matches_python_replica(spark):
    from dbus_spark.operators.text import doc_logppl

    texts = [
        "the cat sat on the mat",
        "the the the the",
        "zyzzyva qwfp zxcv plugh",
        "the cat",
    ]
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {
        r.doc_id: (r.n_tokens, r.logppl)
        for r in doc_logppl(df).collect()
    }
    assert got == _replica_logppl(texts)
    # rare-token doc scores strictly higher perplexity than the
    # common-token doc — the property the quality cut relies on
    assert got[2][1] > got[1][1]


def test_doc_logppl_held_out_lm_oov(spark):
    from dbus_spark.operators.text import doc_logppl, unigram_logprobs

    train = spark.createDataFrame(
        [(0, "a a a b")], "doc_id long, text string"
    )
    lm = unigram_logprobs(train)
    # floor = unseen-token logprob under the trained smoothing
    T, V = 4, 2
    floor = round(math.log(1 / (T + V)) * 1e6)
    score = spark.createDataFrame(
        [(1, "a zz")], "doc_id long, text string"
    )
    with pytest.raises(ValueError):
        doc_logppl(score, lm=lm)  # oov_lp6 is required with a held-out lm
    got = doc_logppl(score, lm=lm, oov_lp6=floor).collect()[0]
    lp_a = round(math.log((3 + 1) / (T + V)) * 1e6)
    assert got.n_tokens == 2
    assert got.logppl == round(-(lp_a + floor) / (2 * 1e6), 4)


def test_semdedup_keeps_farthest_from_centroid(spark):
    from dbus_spark.operators.similarity import semdedup

    cents = [[1.0, 0.0], [0.0, 1.0]]
    deg = lambda d: [math.cos(math.radians(d)), math.sin(math.radians(d))]
    # a 0°, b 15°, c 30°: adjacent cos ≈ .966 > .95, a↔c cos ≈ .866 < .95
    # (a chain); cent_sim ranks c < b < a, so c survives, a and b drop;
    # d sits alone in the other cell and always survives
    rows = [(0, deg(0)), (1, deg(15)), (2, deg(30)), (3, deg(85))]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    kept = semdedup(
        df, threshold=0.95, dim=2, centroids=cents
    ).toPandas()
    assert set(kept.vec_id) == {2, 3}
    assert set(kept.cell) == {0, 1}


def test_semdedup_tie_breaks_on_id(spark):
    from dbus_spark.operators.similarity import semdedup

    cents = [[1.0, 0.0], [0.0, 1.0]]
    # identical vectors: identical cent_sim, so the LOWER id survives
    rows = [(7, [1.0, 0.01]), (3, [1.0, 0.01])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    kept = semdedup(df, threshold=0.9, dim=2, centroids=cents).toPandas()
    assert list(kept.vec_id) == [3]


def _lm_corpus(spark):
    # reference corpus: common words; raw corpus: a fluency gradient
    train = spark.createDataFrame(
        [(i, "the cat sat on the mat and the dog ran") for i in range(6)]
        + [(10, "a b c the cat")],
        "doc_id long, text string",
    )
    raw = spark.createDataFrame(
        [
            (0, "the cat sat on the mat"),        # fluent — keep
            (1, "the dog ran and the cat sat"),   # fluent — keep
            (2, "zz qq ww ee rr tt yy uu"),       # all-OOV — drop
            (3, "the cat zz zz zz zz"),           # mixed
            (4, None),                            # null — keeps
            (5, "\tthe cat"),                     # tab edge: empty token
        ],
        "doc_id long, text string",
    )
    return train, raw


def test_lm_filter_matches_batch_doc_logppl(spark):
    """Map-side streaming LM filter keeps exactly the docs the batch
    explode→join→groupBy operator keeps at the same cut (null text
    keeps by convention — the batch op emits no row for it)."""
    import math

    from dbus_spark.operators.text import (
        collect_unigram_lm,
        doc_logppl,
        lm_quality_filter,
        unigram_logprobs,
    )

    train, raw = _lm_corpus(spark)
    lm = unigram_logprobs(train)
    n_vocab = lm.count()
    n_total = sum(r.c for r in lm.select("c").collect())
    oov = round(math.log(1 / (n_total + n_vocab)) * 1e6)
    lmd = collect_unigram_lm(lm)
    for cut in (10.0, 2.5, 0.0):
        batch_kept = {
            r.doc_id
            for r in doc_logppl(raw, lm=lm, oov_lp6=oov)
            .filter(f"logppl <= {cut}")
            .select("doc_id")
            .collect()
        } | {4}  # null-text doc: no batch row, streaming keeps
        stream_kept = {
            r.doc_id
            for r in lm_quality_filter(raw, lmd, cut, oov_lp6=oov)
            .select("doc_id")
            .collect()
        }
        assert stream_kept == batch_kept, cut


def test_lm_filter_hash_mode_matches_exact(spark):
    import math

    from dbus_spark.operators.text import (
        collect_unigram_lm,
        hash_unigram_lm,
        lm_quality_filter,
        unigram_logprobs,
    )

    train, raw = _lm_corpus(spark)
    lm = unigram_logprobs(train)
    oov = round(math.log(1e-6) * 1e6)
    for cut in (8.0, 3.0):
        ke = {r.doc_id for r in lm_quality_filter(
            raw, collect_unigram_lm(lm), cut, oov_lp6=oov).collect()}
        kh = {r.doc_id for r in lm_quality_filter(
            raw, hash_unigram_lm(lm), cut, oov_lp6=oov
        ).collect()}
        assert ke == kh, cut


def test_policy_stage_lm_knob(spark):
    """The LM cut composes into doc_policy_stage between sampling and
    decontam; default knobs remain the identity transform."""
    import math

    from dbus_spark.operators.text import collect_unigram_lm, unigram_logprobs
    from dbus_spark.pipeline.ingest import doc_policy_stage

    train, raw = _lm_corpus(spark)
    lm = unigram_logprobs(train)
    oov = round(math.log(1e-6) * 1e6)
    out = doc_policy_stage(
        raw, lm=collect_unigram_lm(lm), lm_max_logppl=3.0, lm_oov_lp6=oov
    )
    kept = {r.doc_id for r in out.select("doc_id").collect()}
    assert 2 not in kept          # all-OOV garbage dropped
    assert {0, 1, 4} <= kept      # fluent + null kept
    # identity default untouched
    assert doc_policy_stage(raw).count() == raw.count()


def test_dsir_logratio_separates_domains(spark):
    """Docs from the target domain score positive (more likely under
    the target LM than the raw mixture); off-domain docs negative."""
    from dbus_spark.operators.text import dsir_logratio

    rows = (
        [(i, "the cat sat on the mat", "en") for i in range(5)]
        + [(10 + i, "le chat est sur le tapis", "fr") for i in range(5)]
    )
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    from pyspark.sql import functions as F

    got = {
        r.doc_id: r.dsir_logratio
        for r in dsir_logratio(df, df.filter(F.col("lang") == "en")).collect()
    }
    assert all(got[i] > 0 for i in range(5))
    assert all(got[10 + i] < 0 for i in range(5))
    # exact n_tokens parity with the tokenizer
    assert all(v is not None for v in got.values())


def test_dsir_hashed_arm_agrees_directionally(spark):
    """The hashed unigram+bigram arm (the paper's shipped form) must
    sign-agree with the unigram oracle arm on clearly-separated
    domains, and its feature count must be exactly unigrams + bigrams
    = 2·n_tokens − 1 per doc."""
    from pyspark.sql import functions as F

    from dbus_spark.operators.text import (
        dsir_logratio,
        dsir_logratio_hashed,
    )

    rows = (
        [(i, "the cat sat on the mat", "en") for i in range(5)]
        + [(10 + i, "le chat est sur le tapis", "fr") for i in range(5)]
    )
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    target = df.filter(F.col("lang") == "en")
    uni = {
        r.doc_id: r.dsir_logratio
        for r in dsir_logratio(df, target).collect()
    }
    hashed = {
        r.doc_id: (r.dsir_logratio, r.n_feats)
        for r in dsir_logratio_hashed(df, target, n_buckets=65536).collect()
    }
    assert set(uni) == set(hashed)
    for i in range(5):
        assert uni[i] > 0 and hashed[i][0] > 0
        assert uni[10 + i] < 0 and hashed[10 + i][0] < 0
    # 6 tokens per fixture doc -> 6 unigrams + 5 bigrams = 11 features
    assert all(n == 11 for _, n in hashed.values())


def test_dsir_hashed_single_token_doc_has_no_bigrams(spark):
    """size<2 guard: Spark's sequence(1, 0) would yield a DESCENDING
    [1, 0] rather than an empty list — one-token docs must produce
    exactly one feature."""
    from dbus_spark.operators.text import hashed_ngram_features

    df = spark.createDataFrame(
        [(1, "hello"), (2, "two tokens")], "doc_id long, text string"
    )
    got = (
        hashed_ngram_features(df)
        .groupBy("doc_id")
        .count()
        .collect()
    )
    assert {r.doc_id: r["count"] for r in got} == {1: 1, 2: 3}


def test_topk_tokens_arms_agree(spark):
    """Exact vs candidate+verify heavy hitters: identical (token, c,
    rank) on the fixture corpus, and the scale arm's shuffle carries
    candidates only."""
    from dbus_spark.operators.text import topk_tokens

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    ex = [(r.token, r.c, r.rank) for r in topk_tokens(docs, k=15).collect()]
    ap = [
        (r.token, r.c, r.rank)
        for r in topk_tokens(
            docs, k=15, exact=False, candidates_per_partition=50
        ).collect()
    ]
    assert ex == ap and len(ex) == 15
    # counts strictly ordered with the documented tie rule
    assert all(
        ex[i][1] > ex[i + 1][1]
        or (ex[i][1] == ex[i + 1][1] and ex[i][0] < ex[i + 1][0])
        for i in range(len(ex) - 1)
    )


def test_streaming_dsir_filter_matches_batch(spark):
    """Map-side DSIR selection keeps exactly the docs the batch
    two-LM operator keeps at the same cut (floors = each LM's
    smoothing floor, the batch rule)."""
    import math

    from pyspark.sql import functions as F

    from dbus_spark.operators.text import (
        dsir_logratio,
        hash_unigram_lm,
        streaming_dsir_filter,
        unigram_logprobs,
    )

    rows = (
        [(i, "the cat sat on the mat", "en") for i in range(6)]
        + [(10 + i, "le chat est sur le tapis", "fr") for i in range(6)]
        + [(20 + i, f"w{i} mixed the cat tapis", "xx") for i in range(6)]
    )
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    target = df.filter(F.col("lang") == "en")
    raw_tbl = unigram_logprobs(df)
    tgt_tbl = unigram_logprobs(target)

    def floor(tbl):
        r = tbl.agg(F.sum("c").alias("t"), F.count("*").alias("v")).first()
        return round(math.log(1.0 / (r["t"] + r["v"])) * 1e6)

    for cut in (0.0, -1.0, 1.5):
        batch_kept = {
            r.doc_id
            for r in dsir_logratio(df, target)
            .filter(f"dsir_logratio >= {cut}")
            .select("doc_id")
            .collect()
        }
        stream_kept = {
            r.doc_id
            for r in streaming_dsir_filter(
                df,
                hash_unigram_lm(raw_tbl),
                hash_unigram_lm(tgt_tbl),
                cut,
                raw_floor_lp6=floor(raw_tbl),
                target_floor_lp6=floor(tgt_tbl),
            )
            .select("doc_id")
            .collect()
        }
        assert stream_kept == batch_kept, cut
    # the selection is real: target-domain docs survive a 0 cut,
    # off-domain drop
    assert {i for i in range(6)} <= stream_kept or cut != 0.0
