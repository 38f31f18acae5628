"""r7 optimization parity pins: the Arrow/numpy execution paths must
reproduce their Catalyst forms byte-for-byte (same rows, same values).

Every operator rewritten this round keeps its oracle check in
test_entry_oracle.py (value-exact vs DuckDB on the fixtures); these
tests pin the HOSTILE-INPUT corners the fixtures don't exercise —
Java-vs-Python whitespace classes, empty/null texts, trailing
separators, NUL characters, ties — against Catalyst reference
implementations, which live in this file (md5 only: the engine runs
the Arrow kernels alone)."""

import hashlib

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dbus_spark.operators import dedup as D
from dbus_spark.operators import similarity as S
from dbus_spark.operators import tokenize as TK
from dbus_spark.operators.text import tokens

HOSTILE = [
    (0, "plain token salad words here"),
    (1, ""),
    (2, " "),
    (3, "\tleading tab"),
    (4, "trailing tab\t"),
    (5, "a nbsp words"),  # NBSP is NOT Java \s
    (6, "multi   space   runs"),
    (7, "\t\t"),
    (8, "mixed \t\n\x0b\f\r separators"),
    (9, None),
    (10, "UPPER Case MiXeD"),
    (11, "x"),  # shorter than any k-gram
    (12, "exactly8"),  # == k for winnowing
    (13, "abcdefghijk"),  # a few k-grams, fewer than w windows
    (14, "repeat repeat repeat repeat repeat repeat repeat"),
    # U+0000 is an ordinary Java character; pandas' C-string hashing
    # cuts at it ("a\x00" == "a") and numpy S-views drop trailing NULs
    (15, "a\x00 a b c"),
    (16, "x y\x00 p q x y\x00 r s"),
    (17, "word\x00 other word\x00 more word other"),
    (18, "\x00" * 12 + "aaaa"),
    (19, "ab\x00\x00\x00\x00\x00\x00\x00\x00 ab\x00 ab"),
    (20, None),  # a null text last in its Arrow batch
]


@pytest.fixture(scope="module")
def hostile_df(spark):
    return spark.createDataFrame(HOSTILE, "doc_id long, text string")


def _rows(df, cols):
    return sorted(
        tuple(r[c] for c in cols) for r in df.collect()
    )


def _h32(c: Column) -> Column:
    """md5-h32: the first 8 md5-hex chars as an int in [0, 2^32), the
    value DuckDB computes as ``('0x'||substr(md5(s),1,8))::BIGINT``."""
    return F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long")


def _hash_bits(c: Column, n_bits: int) -> Column:
    """An md5 hash with at least ``n_bits`` of entropy (≤ 60): the
    32-bit ``_h32`` for narrow sketches, a 60-bit md5 slice for wide
    ones — a 32-bit base hash under a wider sketch would leave every
    bit ≥ 32 voting negative (zero entropy)."""
    if n_bits <= 32:
        return _h32(c)
    # 15 hex chars = 60 bits, fits a signed long
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def _winnow_fingerprints_catalyst(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    w: int = 4,
) -> DataFrame:
    """The Catalyst HOF winnowing pass — the reference the Arrow
    kernel ``dedup.winnow_fingerprints`` is pinned against."""
    norm = F.regexp_replace(
        F.lower(F.trim(F.col(text_col))), r"\s+", " "
    )

    # Evaluation-order trap: referencing a per-row EXPRESSION inside a
    # higher-order-function lambda inlines it per ELEMENT (the norm
    # regex would run once per character position — measured O(n²),
    # 292 s for 5 k docs at sf0.1). Binding it as a lambda VARIABLE via
    # a singleton-array transform evaluates it once per row: lambda
    # vars are bound values, not expressions. Same trick for the hash
    # array before the window pass. 292 s → ~2 s, plan stays map-side.
    def _once(expr: Column, body) -> Column:
        return F.get(F.transform(F.array(expr), body), 0)

    def _grams(t: Column) -> Column:
        idx = F.when(
            F.length(t) >= k,
            F.sequence(F.lit(1), F.length(t) - k + 1),
        ).otherwise(F.array().cast("array<int>"))
        return F.transform(idx, lambda i: _h32(t.substr(i, F.lit(k))))

    def _window_mins(hs: Column) -> Column:
        idx = F.when(
            F.size(hs) >= w,
            F.sequence(F.lit(1), F.size(hs) - w + 1),
        ).otherwise(F.array().cast("array<int>"))
        return F.array_distinct(
            F.transform(idx, lambda j: F.array_min(F.slice(hs, j, w)))
        )

    mins = _once(_once(norm, _grams), _window_mins)
    return df.select(
        F.col(id_col), F.explode_outer(mins).alias("fp")
    )


def _shingle_hashes(text_col: str, shingle_n: int) -> Column:
    """Base-hash every shingle once (the only md5 work of the MinHash
    signature)."""
    return F.transform(
        D.word_shingles(text_col, shingle_n),
        lambda s: _h32(s) % F.lit(TK.MINHASH_P),
    )


def minhash_sig_col(hashes: Column, n_hashes: int) -> Column:
    """The signature as a COLUMN over pre-hashed shingles:
    sig[i] = min over shingles of (h * a_i + b_i) % p."""
    coeffs = D.minhash_coeffs(n_hashes)

    def _perm(a: int, b: int):
        # must be a strictly unary lambda: pyspark counts every
        # parameter (defaults included) as a lambda argument
        return lambda h: (h * F.lit(a) + F.lit(b)) % F.lit(TK.MINHASH_P)

    return F.array(
        *[
            F.array_min(F.transform(hashes, _perm(a, b)))
            for (a, b) in coeffs
        ]
    )


def minhash_signature_catalyst(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """The Catalyst HOF signature — the reference the Arrow kernel
    ``dedup.minhash_signature`` is pinned against."""
    hashed = df.select(
        F.col(id_col),
        _shingle_hashes(text_col, shingle_n).alias("_hs"),
    )
    return hashed.select(
        F.col(id_col), minhash_sig_col(F.col("_hs"), n_hashes).alias("sig")
    )


def _simhash_catalyst(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_bits: int = 32,
) -> DataFrame:
    """The Catalyst HOF SimHash — the reference the Arrow kernel
    ``dedup.simhash`` is pinned against."""
    toks = tokens(text_col)
    # hash each token once, then fold the ±1 bit votes
    hashes = F.transform(toks, lambda t: _hash_bits(t, n_bits))
    votes = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0).cast("long"), n_bits),
        lambda acc, h: F.zip_with(
            acc,
            F.array(
                *[
                    F.when(
                        F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1,
                        F.lit(1),
                    )
                    .otherwise(F.lit(-1))
                    .cast("long")
                    for j in range(n_bits)
                ]
            ),
            lambda a, b: a + b,
        ),
    )
    # bit j set iff vote > 0 — each element 2^j is a single power of
    # two (exactly representable in double for any j, then cast to
    # long), and the SUM runs in long arithmetic: summing in double,
    # a running total spanning >= 53 bits silently drops the low bits
    sh = F.aggregate(
        F.zip_with(
            votes,
            F.sequence(F.lit(0), F.lit(n_bits - 1)),
            lambda v, j: F.when(
                v > 0, F.pow(F.lit(2.0), j).cast("long")
            ).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return df.select(F.col(id_col), sh.alias("simhash"))


def repetition_metrics_catalyst(
    df: DataFrame, id_col: str = "doc_id", col: str = "text"
) -> DataFrame:
    """The Catalyst aggregation form — two explode → per-(doc, gram)
    count → per-doc max/sum pipelines sharing the doc-keyed shuffle,
    joined on the doc id; the parity reference for the Arrow kernel."""
    toks = tokens(col)
    uni = df.select(F.col(id_col), F.explode(toks).alias("g"))

    # bind the token array as a lambda VARIABLE (singleton-array
    # transform): referencing the split expression inside the bigram
    # lambda would re-tokenize the text once per bigram (the winnow
    # O(n²) inlining trap)
    def _bigrams(tk: Column) -> Column:
        idx = F.when(
            F.size(tk) >= 2, F.sequence(F.lit(0), F.size(tk) - 2)
        ).otherwise(F.array().cast("array<int>"))
        return F.transform(
            idx, lambda i: F.concat_ws(" ", F.get(tk, i), F.get(tk, i + 1))
        )

    bi_arr = F.get(F.transform(F.array(toks), _bigrams), 0)
    # explode_outer (not explode: the InferFiltersFromGenerate
    # re-evaluation trap) emits a NULL gram for docs with < 2 tokens —
    # drop it AFTER the generate, or the NULL group counts as a real
    # bigram and top_bigram_share reads 1.0 instead of NULL for such
    # docs (review finding: diverged from the oracle on 1-token docs)
    bi = df.select(
        F.col(id_col), F.explode_outer(bi_arr).alias("g")
    ).filter(F.col("g").isNotNull())

    def share(ex):
        per = ex.groupBy(id_col, "g").agg(F.count("*").alias("n"))
        return per.groupBy(id_col).agg(
            F.round(F.max("n") / F.sum("n"), 4).alias("share")
        )

    u = share(uni).withColumnRenamed("share", "top_token_share")
    b = share(bi).withColumnRenamed("share", "top_bigram_share")
    return u.join(b, on=id_col, how="left")


def hashed_ngram_features_catalyst(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 65536,
) -> DataFrame:
    """The JVM-side twin of :func:`hashed_ngram_features` (split +
    transform + md5-derived h32 per occurrence) — the parity reference
    the Arrow kernel is pinned against."""
    toks = tokens(text_col)
    # bigrams: t[i] + ' ' + t[i+1]; guard size<2 — Spark's sequence(1,0)
    # would yield a DEScending [1,0], not an empty list
    bigrams = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.concat_ws(
                " ", F.element_at(toks, i), F.element_at(toks, i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return df.select(
        F.col(id_col),
        F.explode(F.concat(toks, bigrams)).alias("_feat"),
    ).select(
        id_col,
        (_h32(F.col("_feat")) % F.lit(n_buckets)).alias("bucket"),
    )


def test_simhash_arrow_matches_catalyst_md5(spark, hostile_df):
    got = _rows(D.simhash(hostile_df), ["doc_id", "simhash"])
    ref = _rows(
        _simhash_catalyst(hostile_df, "doc_id", "text", 32),
        ["doc_id", "simhash"],
    )
    assert got == ref


def test_simhash_arrow_matches_catalyst_md5_wide(spark, hostile_df):
    got = _rows(D.simhash(hostile_df, n_bits=60), ["doc_id", "simhash"])
    ref = _rows(
        _simhash_catalyst(hostile_df, "doc_id", "text", 60),
        ["doc_id", "simhash"],
    )
    assert got == ref


def test_winnow_arrow_matches_catalyst_md5(spark, hostile_df):
    got = _rows(D.winnow_fingerprints(hostile_df), ["doc_id", "fp"])
    ref = _rows(
        _winnow_fingerprints_catalyst(hostile_df, "doc_id", "text"),
        ["doc_id", "fp"],
    )
    assert got == ref


def test_java_split_tokens_matches_spark_split(spark, hostile_df):
    """The Python tokenizer replica, scalar and series forms, vs
    F.split(F.trim(c), r"\\s+") — the exact expression
    operators.text.tokens builds (a null text has no tokens)."""
    ref = {
        r["doc_id"]: r["toks"]
        for r in hostile_df.select(
            "doc_id",
            F.split(F.trim(F.col("text")), r"\s+").alias("toks"),
        ).collect()
    }
    texts = [t for _, t in HOSTILE]
    series = TK.split_series(pd.Series(texts, dtype=object))
    by_pos = {p: list(g) for p, g in series.groupby(level=0)}
    for pos, (i, t) in enumerate(HOSTILE):
        want = ref[i] if ref[i] is not None else []
        assert TK.split(t) == want, f"doc {i}: {TK.split(t)!r} != {want!r}"
        assert by_pos.get(pos, []) == want, f"doc {i} (series form)"


def _brute_pairs_pd(ids, V, threshold):
    """Independent numpy brute force with the documented fold-exact
    association + decimal-free rounding via Spark itself is overkill
    here; this reference only checks SET equality of (id_a, id_b)."""
    V = V.astype(np.float64)
    n = np.sqrt((V * V).sum(axis=1))
    sims = (V @ V.T) / np.outer(n, n)
    out = set()
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            if round(sims[i, j], 4) > threshold:
                a, b = ids[i], ids[j]
                out.add((min(a, b), max(a, b)))
    return out


def test_blocked_bruteforce_matches_reference(spark):
    rng = np.random.default_rng(3)
    V = rng.standard_normal((300, 16)).astype(np.float32)
    V /= np.linalg.norm(V, axis=1, keepdims=True)
    # plant near-dups
    V[50] = V[10] + 0.01 * rng.standard_normal(16).astype(np.float32)
    V[51] = V[10] + 0.01 * rng.standard_normal(16).astype(np.float32)
    ids = np.arange(300)
    df = spark.createDataFrame(
        pd.DataFrame({"vec_id": ids, "embedding": list(V)}),
        "vec_id long, embedding array<float>",
    )
    got = {
        (r["id_a"], r["id_b"])
        for r in S.neardup_pairs(df, threshold=0.8).collect()
    }
    ref = _brute_pairs_pd(ids, V, 0.8)
    # the reference's BLAS dot may wobble the 4th decimal at the exact
    # threshold; tolerate only pairs whose rounded sim sits exactly at
    # the boundary
    sym = got.symmetric_difference(ref)
    for a, b in sym:
        va, vb = V[a].astype(np.float64), V[b].astype(np.float64)
        s = (va @ vb) / (np.linalg.norm(va) * np.linalg.norm(vb))
        assert abs(round(s, 4) - 0.8) <= 1e-4, (a, b, s)


def test_blocked_bruteforce_no_cartesian(spark):
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "vec_id": np.arange(10),
                "embedding": list(
                    np.eye(10, 8, dtype=np.float32)
                ),
            }
        ),
        "vec_id long, embedding array<float>",
    )
    plan = S.neardup_pairs(df)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_semdedup_keep_rule_ties(spark):
    """Tie handling in the group-side drop rule: equal cent_sim
    resolves to the smaller id as keeper (the join form's
    (cs, id) strict order)."""
    # two identical vectors → same cell, same cent_sim, cosine 1.0
    v = np.array([1.0, 0.0, 0.0, 0.0], dtype=np.float32)
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "vec_id": [7, 3],
                "embedding": [v, v.copy()],
            }
        ),
        "vec_id long, embedding array<float>",
    )
    kept = S.semdedup(df, threshold=0.9, dim=4, n_centroids=4).collect()
    assert {r["vec_id"] for r in kept} == {3}


def test_hashed_ngram_features_arrow_matches_catalyst(spark, hostile_df):
    """The DSIR feature kernel (Arrow, md5-per-distinct-feature) must
    emit the same (id, bucket) MULTISET as the Catalyst per-occurrence
    form on hostile whitespace/empty/null texts."""
    from dbus_spark.operators import text as TX

    got = _rows(
        TX.hashed_ngram_features(hostile_df, n_buckets=64),
        ["doc_id", "bucket"],
    )
    ref = _rows(
        hashed_ngram_features_catalyst(hostile_df, n_buckets=64),
        ["doc_id", "bucket"],
    )
    assert got == ref


def test_winnow_match_pairs_segment_matches_join_form(spark, hostile_df):
    """The one-shuffle segment-pair enumeration must emit exactly the
    self-join's pair counts (including the local max_df cut)."""
    for max_df in (None, 3):
        got = _rows(
            D.winnow_match_pairs(
                hostile_df, min_shared=1, max_df=max_df
            ),
            ["id_a", "id_b", "n_shared"],
        )
        base = D.winnow_fingerprints(hostile_df).filter(
            F.col("fp").isNotNull()
        )
        fps = base
        if max_df is not None:
            rare = (
                base.groupBy("fp")
                .agg(F.count("*").alias("_df"))
                .filter(F.col("_df") <= max_df)
                .select("fp")
            )
            fps = base.join(rare, on="fp", how="left_semi")
        a, b = fps.alias("a"), fps.alias("b")
        ref = _rows(
            a.join(b, on="fp")
            .filter(F.col("a.doc_id") < F.col("b.doc_id"))
            .groupBy(
                F.col("a.doc_id").alias("id_a"),
                F.col("b.doc_id").alias("id_b"),
            )
            .agg(F.count("*").alias("n_shared"))
            .filter(F.col("n_shared") >= 1),
            ["id_a", "id_b", "n_shared"],
        )
        assert got == ref, f"max_df={max_df}"


def test_ngram_jaccard_segment_matches_join_form(spark, hostile_df):
    """The one-aggregation segment form (pairs + self-size rows) must
    reproduce the self-join's jaccard values exactly."""
    from dbus_spark.operators.dedup import shingles_exploded_arrow

    for max_df in (None, 3):
        got = _rows(
            D.ngram_jaccard_pairs(
                hostile_df, n=2, threshold=0.0, max_df=max_df
            ),
            ["id_a", "id_b", "jaccard"],
        )
        sh = shingles_exploded_arrow(hostile_df, "doc_id", "text", 2)
        sh = sh.persist()
        fps = sh
        if max_df is not None:
            rare = (
                sh.groupBy("s")
                .agg(F.count("*").alias("_df"))
                .filter(F.col("_df") <= max_df)
                .select("s")
            )
            fps = sh.join(rare, on="s", how="left_semi")
        sizes = fps.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
        a, b = fps.alias("a"), fps.alias("b")
        pairs = (
            a.join(b, on="s")
            .filter(F.col("a.doc_id") < F.col("b.doc_id"))
            .groupBy(
                F.col("a.doc_id").alias("id_a"),
                F.col("b.doc_id").alias("id_b"),
            )
            .agg(F.count("*").alias("common"))
            .join(sizes.select(F.col("doc_id").alias("id_a"),
                               F.col("n_sh").alias("n_a")), on="id_a")
            .join(sizes.select(F.col("doc_id").alias("id_b"),
                               F.col("n_sh").alias("n_b")), on="id_b")
        )
        jac = F.col("common") / (
            F.col("n_a") + F.col("n_b") - F.col("common")
        )
        ref = _rows(
            pairs.select(
                "id_a", "id_b", F.round(jac, 4).alias("jaccard")
            ).filter(F.col("jaccard") > 0.0),
            ["id_a", "id_b", "jaccard"],
        )
        sh.unpersist()
        assert got == ref, f"max_df={max_df}"


def test_minhash_signature_arrow_matches_catalyst(spark, hostile_df):
    """The Arrow MinHash signature kernel must reproduce the Catalyst
    md5 form exactly, including the all-null signature of short/null
    docs."""
    for shingle_n in (3, 1):
        got = sorted(
            (r["doc_id"], tuple(r["sig"]) if r["sig"] is not None else None)
            for r in D.minhash_signature(
                hostile_df, shingle_n=shingle_n
            ).collect()
        )
        ref = sorted(
            (r["doc_id"], tuple(r["sig"]) if r["sig"] is not None else None)
            for r in minhash_signature_catalyst(
                hostile_df, shingle_n=shingle_n
            ).collect()
        )
        assert got == ref, f"shingle_n={shingle_n}"


def test_repetition_metrics_arrow_matches_catalyst(spark, hostile_df):
    """The map-side repetition kernel (r7) must emit the same rows as
    the Catalyst two-aggregation + join form on hostile
    whitespace/empty/null texts — including the NULL bigram share of
    < 2-token docs, the absence of null-text docs, and the HALF_UP
    4 dp rounding of the shares."""
    from dbus_spark.operators import text as TX

    got = _rows(
        TX.repetition_metrics(hostile_df),
        ["doc_id", "top_token_share", "top_bigram_share"],
    )
    ref = _rows(
        repetition_metrics_catalyst(hostile_df),
        ["doc_id", "top_token_share", "top_bigram_share"],
    )
    assert got == ref


def test_round4_half_up_matches_spark_round(spark):
    """The numpy HALF_UP replica must match F.round(x, 4) bit-for-bit,
    including values that land within float error of a .00005
    boundary (the Decimal band path)."""
    import numpy as np

    from dbus_spark.operators.text import _round4_half_up

    vals = [0.12345, 0.12344999999999999, 1.0, 0.0, 0.00005,
            0.99995, 0.33333333333333331, 2.0 / 3.0, 1.0 / 7.0,
            0.5, 0.74999999999999989, 3.0 / 7.0, 0.25]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    ref = [r["r"] for r in
           df.select(F.round("v", 4).alias("r")).collect()]
    got = _round4_half_up(np.array(vals)).tolist()
    assert got == ref
