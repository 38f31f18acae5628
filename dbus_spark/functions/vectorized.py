"""Vectorized (Arrow) pandas UDFs — the engine's text-transform path.

The BASELINE.json input_hint mandates that all text transforms run as
vectorized Arrow pandas UDFs with no per-row Python: each UDF below
receives whole Arrow batches as pandas Series and answers with
C-backed pandas/numpy kernels (str ops, hash_array) — no
Python-level row loop anywhere.

Besides the mandate, these have a scale property the JVM higher-order
functions in ``operators/text.py`` lack in local mode: pandas UDFs
execute in separate Python worker processes (one per core), so heavy
text stages sidestep single-JVM GC/allocator contention. The JVM
variants remain the oracle-parity path (md5-reproducible in SQL);
these are the throughput path.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from dbus_spark.operators.text import LANG_MARKERS, _LANG_ORDER, STOPWORDS


def _n_tokens(s: pd.Series) -> pd.Series:
    """Whitespace-token count of each text: float64, NaN for a null
    text — float also on an all-null batch, whose ``str.len()`` is an
    object Series that ``fillna`` would only downcast with a
    deprecation warning."""
    return s.str.split().str.len().astype("float64")


def _quality(s: pd.Series, n_tok: pd.Series) -> pd.Series:
    """Composite quality score from the text and its token count
    (:func:`_n_tokens`): length band + alpha ratio + mean token length
    band; NaN for a null text."""
    n_chars = s.str.len().clip(lower=1)
    alpha = s.str.count(r"[A-Za-z]")
    n_tok = n_tok.clip(lower=1)
    mean_tok = (n_chars - n_tok + 1) / n_tok
    len_band = ((n_chars >= 32) & (n_chars <= 100_000)).astype(float)
    tok_band = ((mean_tok >= 2.0) & (mean_tok <= 12.0)).astype(float)
    return (
        (0.4 * (alpha / n_chars) + 0.3 * len_band + 0.3 * tok_band)
        .astype(float)
        .round(4)
    )


# The UDF bodies call module-level helpers, so cloudpickle ships them by
# reference and a worker that runs one imports ``dbus_spark``.
@pandas_udf(T.IntegerType())
def token_count_v(s: pd.Series) -> pd.Series:
    return _n_tokens(s).fillna(0).astype("int32")


def fingerprint64(s: pd.Series) -> np.ndarray:
    """64-bit fingerprint of each whitespace-normalized, lower-cased
    text: ``pandas.util.hash_array`` of its UTF-8 bytes, one text at a
    time (``categorize=False``), so NUL-exact and independent of the
    batch; a null text gets -1. For NUL-free texts this is the value
    ``hash_pandas_object`` gives, whose factorize step compares an
    all-string batch as C strings (the NUL rule of
    ``operators/tokenize.py``)."""
    norm = s.str.strip().str.lower().str.replace(r"\s+", " ", regex=True)
    out = np.full(len(norm), -1, dtype=np.int64)
    ok = norm.notna().to_numpy()
    out[ok] = pd.util.hash_array(norm.to_numpy()[ok], categorize=False)
    return out


@pandas_udf(T.LongType())
def fingerprint64_v(s: pd.Series) -> pd.Series:
    """64-bit normalized-text fingerprint (:func:`fingerprint64`; not
    the md5 oracle fingerprint — use operators.text.fingerprint for
    that)."""
    return pd.Series(fingerprint64(s), index=s.index)


# whitespace-delimited whole-token match: identical tokenization to
# operators.text.tokens (split on \s+), unlike \b word boundaries which
# would also count punctuation-adjacent words ("the," counts for \bthe\b
# but is not a whitespace token)
def _tok_count(low: pd.Series, word: str) -> pd.Series:
    """Whole-token matches of ``word`` per text: float64, NaN for a null
    text, like :func:`_n_tokens` (an all-null batch counts to an object
    Series otherwise)."""
    return low.str.count(rf"(?<!\S){word}(?!\S)").astype("float64")


@pandas_udf(T.StringType())
def lang_id_v(s: pd.Series) -> pd.Series:
    """Marker-word voting, same semantics as operators.text.lang_id,
    computed with C-backed regex counts."""
    low = s.str.lower()
    scores = {
        lang: sum(_tok_count(low, m) for m in markers)
        for lang, markers in LANG_MARKERS.items()
    }
    best = pd.Series("und", index=s.index)
    best_score = pd.Series(0.0, index=s.index)
    for lang in reversed(_LANG_ORDER):
        sc = scores[lang]
        take = sc >= best_score.where(best_score > 1, 1)
        best = best.mask(take, lang)
        best_score = best_score.mask(take, sc)
    return best


@pandas_udf(T.DoubleType())
def stopword_ratio_v(s: pd.Series) -> pd.Series:
    low = s.str.lower()
    n_stop = sum(_tok_count(low, w) for w in STOPWORDS)
    return (n_stop / _n_tokens(s)).fillna(0.0).round(4)


@pandas_udf(T.DoubleType())
def quality_score_v(s: pd.Series) -> pd.Series:
    """Composite quality score (:func:`_quality`) — the cheap pre-dedup
    filter of a training pipeline."""
    return _quality(s, _n_tokens(s))


def doc_enrich_frame(s: pd.Series) -> pd.DataFrame:
    """The plain-pandas enrich kernel shared by ``doc_enrich_v`` and
    the fused policy variant (``pipeline.ingest.doc_enrich_policy_udf``)
    — one tokenization pass producing quality + token count."""
    n_tok = _n_tokens(s)
    return pd.DataFrame(
        {
            "quality": _quality(s, n_tok),
            "n_tokens": n_tok.fillna(0).astype("int32"),
        }
    )


@pandas_udf(
    T.StructType(
        [
            T.StructField("quality", T.DoubleType()),
            T.StructField("n_tokens", T.IntegerType()),
        ]
    )
)
def _doc_enrich_v(s: pd.Series) -> pd.DataFrame:
    return doc_enrich_frame(s)


# Single-pass struct variant of quality_score_v + token_count_v for
# hot paths that FILTER on the result: a deterministic pandas UDF gets
# duplicated when Catalyst pushes `filter(quality >= x)` beneath the
# projection that computes it — profiling the streaming doc-ingest
# showed the whole enrichment evaluated twice (~2x Arrow cost).
# Marking it nondeterministic pins it to one evaluation (the filter
# stays above the project); the struct shares one tokenization pass.
# Values are identical to the two single-column UDFs (test-pinned).
doc_enrich_v = _doc_enrich_v.asNondeterministic()


def turn_enrich_frame(s: pd.Series) -> pd.DataFrame:
    """ONE-pass kernel computing every enrich_turns column — value-
    identical to the five single-column UDFs (pinned by test), but one
    tokenization + five set-membership passes instead of ~30 full-text
    regex scans, and ONE Arrow crossing instead of five.

    Marker/stopword counts: the singles count whitespace-delimited
    whole tokens via ``(?<!\\S)w(?!\\S)``; counting equal tokens of the
    split gives the same multiset count (a token matches the regex iff
    it equals the word)."""
    low = s.str.lower()
    toks = low.str.split()
    n_tok_f = toks.str.len().astype("float64")  # as _n_tokens
    flat = toks.explode().dropna()

    def count_in(words) -> pd.Series:
        if not len(flat):
            return pd.Series(0.0, index=s.index)
        return (
            flat.isin(words)
            .groupby(level=0)
            .sum()
            .reindex(s.index, fill_value=0)
            .astype(float)
        )

    # language vote (same tie logic as lang_id_v)
    scores = {
        lang: count_in(markers) for lang, markers in LANG_MARKERS.items()
    }
    best = pd.Series("und", index=s.index)
    best_score = pd.Series(0, index=s.index)
    for lang in reversed(_LANG_ORDER):
        sc = scores[lang]
        take = sc >= best_score.where(best_score > 1, 1)
        best = best.mask(take, lang)
        best_score = best_score.mask(take, sc)
    # stopword ratio (same NaN path as stopword_ratio_v: null text →
    # NaN ratio → 0.0)
    n_stop = count_in(STOPWORDS)
    stop_ratio = (n_stop / n_tok_f).fillna(0.0).round(4)
    return pd.DataFrame(
        {
            "n_tokens": n_tok_f.fillna(0).astype("int32"),
            "fp64": fingerprint64(s),
            "lang": best,
            "stop_ratio": stop_ratio,
            "quality": _quality(s, n_tok_f),
        }
    )


@pandas_udf(
    T.StructType(
        [
            T.StructField("n_tokens", T.IntegerType()),
            T.StructField("fp64", T.LongType()),
            T.StructField("lang", T.StringType()),
            T.StructField("stop_ratio", T.DoubleType()),
            T.StructField("quality", T.DoubleType()),
        ]
    )
)
def _turn_enrich_v(s: pd.Series) -> pd.DataFrame:
    return turn_enrich_frame(s)


# nondeterministic for the same reason as doc_enrich_v: pipelines
# FILTER on quality, and a pushed-down filter would otherwise evaluate
# the whole struct twice
turn_enrich_v = _turn_enrich_v.asNondeterministic()


def enrich_turns(df: DataFrame, text_col: str = "text") -> DataFrame:
    """The flagship per-turn enrichment stage: token count, 64-bit
    fingerprint, language, stopword ratio, quality score — all
    Arrow-vectorized, fused into ONE pandas-UDF crossing (r7: the five
    separate UDFs cost five Arrow round-trips of the text column and
    ~30 per-marker regex scans per batch; the fused kernel is
    value-identical, pinned by test_vectorized)."""
    c = F.col(text_col)
    return (
        df.withColumn("_e", turn_enrich_v(c))
        .withColumn("n_tokens", F.col("_e.n_tokens"))
        .withColumn("fp64", F.col("_e.fp64"))
        .withColumn("lang", F.col("_e.lang"))
        .withColumn("stop_ratio", F.col("_e.stop_ratio"))
        .withColumn("quality", F.col("_e.quality"))
        .drop("_e")
    )
