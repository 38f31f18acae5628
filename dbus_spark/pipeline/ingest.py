"""The LLM training-data ingest vertical as a reusable pipeline stage.

Shape (the one a crawl re-ingest actually runs): document stream →
one-pass Arrow enrichment (quality + token count) → quality filter →
streaming exact-dedup on the normalized fingerprint
(``dropDuplicatesWithinWatermark`` state) → exactly-once keyed sink.
``bench.py``'s streaming_doc_ingest section drives exactly this
function.

Scale notes baked in (profiled on the micro-batch listener, r4):

- the enrichment runs as ONE nondeterministic Arrow struct UDF
  (``functions.vectorized.doc_enrich_v``): a deterministic pandas UDF
  is duplicated when Catalyst pushes the quality filter beneath the
  projection that computes it — measured 2x the Arrow cost.
- the fingerprint is xxhash64 of the normalized text: an 8-byte
  state key + one codegen'd JVM hash (md5's 32-hex-char key exists
  for the oracle rows, see ``operators.text.fingerprint``).
- state-partition sizing is the caller's launch decision, NOT set
  here: per-partition state-store commit is fixed overhead, so size
  ``spark.sql.shuffle.partitions`` to the expected distinct-key
  volume before starting the query (the partition count is baked into
  the checkpoint). ~5k keys want ~8 partitions; 10^9 keys at 100 TB
  want thousands.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from dbus_spark.functions.vectorized import doc_enrich_v
from dbus_spark.operators.text import fingerprint


def doc_enrich_policy_udf(
    bench_hashes,
    n: int = 8,
    max_frac: float = 0.0,
    lm=None,
    lm_max_logppl: "float | None" = None,
    lm_oov_lp6: "int | None" = None,
):
    """Fused enrich + decontam (+ optional LM-perplexity cut) struct
    UDF: ONE Arrow pass computing ``{quality, n_tokens, clean}`` —
    the text column crosses the JVM↔Python boundary once instead of
    two or three times (BENCH.md §22 measured the extra Arrow stage,
    not the probes, as the policy stage's real micro-batch cost).
    ``bench_hashes`` is the sorted int64 array from
    ``decontam.hash_bench_ngrams``; the verdict is the hash-arm
    semantics of ``streaming_decontam_filter``.  ``lm`` (the arrays
    from ``text.hash_unigram_lm``) folds the hash-arm semantics of
    ``text.lm_quality_filter`` into the same pass — the token hashes
    are computed ONCE and feed both the n-gram roll and the LM probe.
    Both verdicts are the ``operators/tokenize.py`` ones the staged
    filters call.  Nondeterministic for the same reason as
    ``doc_enrich_v``: a downstream filter must not re-evaluate the
    pass."""
    import numpy as np

    from pyspark.sql.functions import pandas_udf

    from dbus_spark.functions.vectorized import doc_enrich_frame
    from dbus_spark.operators import tokenize as tk
    from dbus_spark.operators.dedup_stream import _ngram_roll

    if lm is not None and (lm_max_logppl is None or lm_oov_lp6 is None):
        raise ValueError("lm requires lm_max_logppl and lm_oov_lp6")

    @pandas_udf("struct<quality: double, n_tokens: int, clean: boolean>")
    def _f(s: pd.Series) -> pd.DataFrame:
        out = doc_enrich_frame(s)
        toks = tk.split_series(s)
        doc_of_t, th = toks.index.to_numpy(), tk.token_hashes(toks)
        doc_of, grams = _ngram_roll(doc_of_t, th, n)
        keep = tk.contamination_verdict(
            doc_of, grams, len(s), lambda g: np.isin(g, bench_hashes),
            max_frac,
        )
        if lm is not None:
            keep &= tk.lm_verdict(
                doc_of_t, th, len(s), lm, lm_oov_lp6, lm_max_logppl
            )
        out["clean"] = keep
        return out

    return _f.asNondeterministic()


def doc_ingest_stream(
    src: DataFrame,
    quality_min: float = 0.3,
    watermark: str = "2 hours",
    ts_col: str = "ts",
    text_col: str = "text",
    dedup: bool = True,
    bench_ngram_hashes=None,
    ngram_n: int = 8,
    max_contam_frac: float = 0.0,
    lm=None,
    lm_max_logppl: "float | None" = None,
    lm_oov_lp6: "int | None" = None,
) -> DataFrame:
    """Enrich → quality-filter → (optionally) streaming-dedup a
    document stream. Works on batch DataFrames too (the watermark/
    dedup step is skipped unless ``df.isStreaming`` and ``dedup``).

    ``bench_ngram_hashes`` (from ``decontam.hash_bench_ngrams``)
    fuses benchmark decontamination into the SAME Arrow pass as the
    enrichment — contaminated docs drop alongside low-quality ones at
    zero extra serialization cost.  ``lm`` (from
    ``text.hash_unigram_lm``, with ``lm_max_logppl``/``lm_oov_lp6``)
    folds the LM-perplexity cut into that same pass too: one token
    hashing feeds quality, decontam AND the LM probe.

    Returns the cleaned frame with added columns ``quality``,
    ``n_tokens``, ``fp``; feed it to ``writeStream.foreachBatch(
    IdempotentKeyedSink(..., keys=['fp']).foreach_batch())`` for the
    exactly-once landing."""
    if bench_ngram_hashes is not None:
        enrich = doc_enrich_policy_udf(
            bench_ngram_hashes,
            n=ngram_n,
            max_frac=max_contam_frac,
            lm=lm,
            lm_max_logppl=lm_max_logppl,
            lm_oov_lp6=lm_oov_lp6,
        )
        out = (
            src.withColumn("e", enrich(F.col(text_col)))
            .filter((F.col("e.quality") >= quality_min) & F.col("e.clean"))
            .select("*", "e.quality", "e.n_tokens")
            .drop("e")
            .withColumn("fp", fingerprint(text_col, hash_fn="xxhash64"))
        )
    else:
        out = (
            src.withColumn("e", doc_enrich_v(F.col(text_col)))
            .filter(F.col("e.quality") >= quality_min)
            .select("*", "e.quality", "e.n_tokens")
            .drop("e")
            .withColumn("fp", fingerprint(text_col, hash_fn="xxhash64"))
        )
    if dedup and out.isStreaming:
        out = out.withWatermark(ts_col, watermark)
        out = out.dropDuplicatesWithinWatermark(["fp"])
    elif dedup:
        out = out.dropDuplicates(["fp"])
    return out


def doc_policy_stage(
    df: DataFrame,
    bench_ngrams=None,
    ngram_n: int = 8,
    max_contam_frac: float = 0.0,
    mixture_rates: "dict[str, float] | None" = None,
    strata_col: str = "lang",
    sample_seed: int = 0,
    default_rate: float = 0.0,
    redact: bool = False,
    lm=None,
    lm_max_logppl: float | None = None,
    lm_oov_lp6: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus-policy stage: mixture sampling → LM-perplexity quality
    cut → benchmark decontam → PII redaction, in that order (cheapest
    predicate first — the codegen'd md5 sampling filter drops rows
    before any Arrow UDF sees them; the LM cut runs before decontam
    because a vocab probe per token is cheaper than an n-gram roll
    per window and typically drops more).

    Every step is MAP-SIDE (zero shuffle, zero state), so the stage
    composes identically into a batch job or ANYWHERE in a streaming
    query — before the stateful dedup of :func:`doc_ingest_stream`,
    after it, or standalone.  Pass only the knobs you want; the
    default configuration is the identity transform.
    """
    from dbus_spark.operators.corpus import redact_pii, sample_mixture
    from dbus_spark.operators.decontam import streaming_decontam_filter

    out = df
    if mixture_rates is not None:
        out = sample_mixture(
            out,
            mixture_rates,
            strata_col=strata_col,
            id_col=id_col,
            seed=sample_seed,
            default_rate=default_rate,
        )
    if lm is not None:
        from dbus_spark.operators.text import lm_quality_filter

        out = lm_quality_filter(
            out, lm, max_logppl=lm_max_logppl, oov_lp6=lm_oov_lp6,
            text_col=text_col,
        )
    if bench_ngrams is not None:
        out = streaming_decontam_filter(
            out, bench_ngrams, text_col=text_col, n=ngram_n,
            max_frac=max_contam_frac,
        )
    if redact:
        out = redact_pii(out, text_col=text_col)
    return out
