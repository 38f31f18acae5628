"""Benchmark decontamination — n-gram overlap between a training
corpus and an evaluation/benchmark set.

The standard LLM-training-data hygiene pass (the n-gram protocol from
the GPT-3 appendix / Dolma / FineWeb pipelines, all public): a
document is contaminated when it shares at least one word n-gram
(n usually 8-13) with any benchmark item; contaminated docs are
dropped or the matching spans are excised before training.  The
reference engine has no analog — this is target-scope for the
training-data pipeline the survey's §6 asks for.

Scale shape (100 TB corpus, MB-scale benchmark): the benchmark's
distinct n-gram set is tiny — it broadcasts.  The corpus side is one
Arrow shingle pass (reusing ``shingles_exploded_arrow``, the measured
fast path from the dedup ladder) feeding a broadcast LEFT join and ONE
hash aggregation on doc_id: a single scan of the corpus, no
corpus-sized shuffle beyond the per-doc rollup, no candidate blowup.
The same shape at any corpus size; only the rollup shuffle grows, and
it is doc-count-, not token-count-, sized.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from dbus_spark.operators import tokenize as tk
from dbus_spark.operators.dedup import shingles_exploded_arrow


def ngram_contamination(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str = "text",
    n: int = 8,
) -> DataFrame:
    """Per-document benchmark-overlap report.

    Output: ``<id_col>, n_ngrams, n_hit, contam_frac`` — distinct
    n-grams in the doc, how many of those appear anywhere in the
    benchmark, and the ratio (rounded to 4 dp).  Docs shorter than
    ``n`` tokens have no n-grams and produce no row.  Filtering is the
    caller's policy (``contam_frac > 0`` is the usual drop rule; a
    ``left_semi`` against the flagged ids excises them from the
    corpus).

    Both sides shingle with the SAME tokenization (the dedup ladder's
    Java-whitespace-parity Arrow path), so equality is byte-exact —
    no hashing in the match key.  At true 100 TB scale the join key
    would be ``xxhash64(s)`` to shrink the broadcast; that swap
    changes no counts short of a 64-bit collision.
    """
    doc_sh = shingles_exploded_arrow(docs, id_col, text_col, n)
    bench_sh = (
        shingles_exploded_arrow(benchmark, id_col, bench_text_col, n)
        .select("s")
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    flagged = doc_sh.join(F.broadcast(bench_sh), on="s", how="left")
    return flagged.groupBy(id_col).agg(
        F.count("*").alias("n_ngrams"),
        F.count("_hit").alias("n_hit"),
        F.round(F.count("_hit") / F.count("*"), 4).alias("contam_frac"),
    )


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str = "text",
    n: int = 8,
    max_frac: float = 0.0,
) -> DataFrame:
    """Drop documents whose benchmark n-gram overlap exceeds
    ``max_frac`` (default: any overlap).  Anti-join on the flagged id
    set — the corpus is scanned once for stats and once for the
    projection, both with the filter pushed down."""
    flagged = (
        ngram_contamination(
            docs, benchmark, id_col, text_col, bench_text_col, n
        )
        .filter(F.col("contam_frac") > max_frac)
        .select(id_col)
    )
    return docs.join(flagged, on=id_col, how="left_anti")


def collect_bench_ngrams(
    benchmark, text_col: str = "text", n: int = 8
) -> frozenset:
    """Materialize the benchmark's distinct n-gram set on the driver.

    Eval/benchmark sets are MB-scale by definition (the 100 TB side is
    the corpus, never the benchmark), so collecting them is the point:
    the returned frozenset ships to executors inside the streaming
    filter's closure, the decontam analog of a broadcast join side.
    Accepts a DataFrame or an iterable of strings; tokenization is the
    same Java-whitespace-parity split the batch operator uses, and a
    null text adds no n-gram."""
    if isinstance(benchmark, DataFrame):
        texts = [r[0] for r in benchmark.select(text_col).collect()]
    else:
        texts = list(benchmark)
    out = set()
    for t in texts:
        toks = tk.split(t)
        for i in range(len(toks) - n + 1):
            out.add(" ".join(toks[i : i + n]))
    return frozenset(out)


def hash_bench_ngrams(
    benchmark, text_col: str = "text", n: int = 8
) -> "object":
    """Benchmark n-gram set as a SORTED int64 hash array (the
    polynomial-roll scheme shared with the streaming near-dup kernel,
    ``dedup_stream.ngram_hash_arrays``) for
    ``streaming_decontam_filter(..., mode='hash')``.  ~8 bytes per
    gram instead of a Python string — both smaller to ship and ~10x
    cheaper to probe."""
    import numpy as np

    from dbus_spark.operators.dedup_stream import ngram_hash_arrays

    if isinstance(benchmark, DataFrame):
        texts = [r[0] for r in benchmark.select(text_col).collect()]
    else:
        texts = list(benchmark)
    _, grams = ngram_hash_arrays(pd.Series(texts, dtype=object), n)
    return np.unique(grams)


def streaming_decontam_filter(
    df: DataFrame,
    bench_ngrams,
    text_col: str = "text",
    n: int = 8,
    max_frac: float = 0.0,
    mode: str = "exact",
) -> DataFrame:
    """Streaming-safe decontamination: drop rows whose benchmark
    n-gram overlap fraction exceeds ``max_frac``.

    The batch operator's explode → broadcast-join → groupBy shape is a
    streaming aggregation (disallowed mid-query in append mode), so
    the streaming twin is MAP-SIDE: the benchmark n-gram set rides the
    UDF closure (it is benchmark-sized, not corpus-sized) and each
    Arrow batch tests its docs against it in-process — zero shuffle,
    zero state, composes with any downstream stateful stage.  Rows
    where the text yields no n-gram (shorter than ``n`` tokens) have
    overlap 0 and pass, matching the batch operator (which emits no
    row for them, so they can never exceed ``max_frac``).

    Same verdict per doc as ``ngram_contamination(...)
    .filter(contam_frac > max_frac)`` — pinned by a test.

    ``mode='exact'`` (default, with a frozenset from
    :func:`collect_bench_ngrams`) matches gram STRINGS — the
    oracle-parity arm.  ``mode='hash'`` (with the sorted int64 array
    from :func:`hash_bench_ngrams`) compares polynomial-roll hashes
    via a vectorized probe — the 100 TB arm (the near-dup kernel
    lesson: per-row gram-string building dominates; rolling int64
    hashes through C kernels removes it).  Verdicts agree short of a
    hash collision (pinned by a test): the token hashes are
    ``tokenize.token_hashes``, exact on NUL-bearing tokens too, and
    the verdict is ``tokenize.contamination_verdict``.
    ``mode='bloom'`` (with the bitset from :func:`bloom_bench_ngrams`)
    is the giant-exclusion-set arm: ~4.6x smaller closure than the
    hash array, one-sided error — every doc hash-mode drops,
    bloom-mode drops (no false PASSES; pinned by a test), plus an
    FP-rate's worth of clean docs over-dropped."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    bench = bench_ngrams  # closure capture; ships once per executor
    if mode not in ("exact", "hash", "bloom"):
        raise ValueError(f"mode must be exact|hash|bloom: {mode}")

    if mode in ("hash", "bloom"):
        from dbus_spark.operators.dedup_stream import ngram_hash_arrays

        probe = (
            (lambda g: np.isin(g, bench))
            if mode == "hash"
            else (lambda g: bloom_probe(g, bench))
        )

        @pandas_udf("boolean")
        def _clean(texts: pd.Series) -> pd.Series:
            doc_of, grams = ngram_hash_arrays(texts, n)
            return pd.Series(
                tk.contamination_verdict(
                    doc_of, grams, len(texts), probe, max_frac
                ),
                dtype=bool,
            )

    else:

        @pandas_udf("boolean")
        def _clean(texts: pd.Series) -> pd.Series:
            flags = []
            for t in texts:
                if t is None:
                    flags.append(True)
                    continue
                toks = tk.split(t)
                grams = {
                    " ".join(toks[i : i + n])
                    for i in range(len(toks) - n + 1)
                }
                if not grams:
                    flags.append(True)
                    continue
                hits = len(grams & bench)
                flags.append(hits / len(grams) <= max_frac)
            return pd.Series(flags, dtype=bool)

    return df.filter(_clean(F.col(text_col)))


def excise_contaminated_spans(
    df: DataFrame,
    bench_ngrams: frozenset,
    text_col: str = "text",
    out_col: str | None = None,
    n: int = 8,
    delim: str = "\n\n",
) -> DataFrame:
    """Span-level decontamination (the Dolma variant of the drop rule):
    instead of discarding a whole document, remove only the
    delim-separated spans that contain a benchmark n-gram and keep the
    rest — plus ``n_spans``/``n_excised`` audit columns.

    Map-side like :func:`streaming_decontam_filter` (the benchmark
    set rides the closure), so it is streaming-safe and adds zero
    shuffle; a span shorter than ``n`` tokens can never match and is
    always kept.  Spans are tested INDEPENDENTLY: an n-gram straddling
    a span boundary does not exist in either span, mirroring the batch
    operator's per-span tokenization (spans are separate documents to
    the n-gram protocol)."""
    from pyspark.sql.functions import pandas_udf

    out_col = out_col or text_col
    bench = bench_ngrams

    @pandas_udf(
        "struct<text: string, n_spans: int, n_excised: int>"
    )
    def _excise(texts: pd.Series) -> pd.DataFrame:
        kept_texts, n_spans_l, n_exc_l = [], [], []
        for t in texts:
            if t is None:
                kept_texts.append(None)
                n_spans_l.append(0)
                n_exc_l.append(0)
                continue
            spans = t.split(delim)
            kept = []
            for sp in spans:
                toks = tk.split(sp)
                dirty = any(
                    " ".join(toks[i : i + n]) in bench
                    for i in range(len(toks) - n + 1)
                )
                if not dirty:
                    kept.append(sp)
            kept_texts.append(delim.join(kept))
            n_spans_l.append(len(spans))
            n_exc_l.append(len(spans) - len(kept))
        return pd.DataFrame(
            {"text": kept_texts, "n_spans": n_spans_l, "n_excised": n_exc_l}
        )

    tmp = df.withColumn("_ex", _excise(F.col(text_col)))
    return (
        tmp.withColumn(out_col, F.col("_ex.text"))
        .withColumn("n_spans", F.col("_ex.n_spans"))
        .withColumn("n_excised", F.col("_ex.n_excised"))
        .drop("_ex")
    )


# ---------------------------------------------------------------------------
# Bloom-filter arm — for benchmark/exclusion sets too big to ship whole
# ---------------------------------------------------------------------------

_SM64_C1 = 0x9E3779B97F4A7C15
_SM64_C2 = 0xBF58476D1CE4E5B9
_SM64_C3 = 0x94D049BB133111EB


def _splitmix64(x: "object") -> "object":
    """Vectorized splitmix64 finalizer (public domain constant mix, the
    standard Bloom double-hash base).  uint64 wraparound arithmetic."""
    import numpy as np

    x = (x + np.uint64(_SM64_C1)) & np.uint64(0xFFFFFFFFFFFFFFFF)
    x = (x ^ (x >> np.uint64(30))) * np.uint64(_SM64_C2)
    x = (x ^ (x >> np.uint64(27))) * np.uint64(_SM64_C3)
    return x ^ (x >> np.uint64(31))


def _bloom_set(grams, m_bits: int, k: int):
    """Bit positions for each gram under k-fold double hashing:
    idx_i = (h1 + i*h2) mod m, h2 forced odd so the stride cycles the
    power-of-two table."""
    import numpy as np

    g = grams.astype(np.uint64)
    h1 = _splitmix64(g)
    h2 = _splitmix64(g ^ np.uint64(0xA5A5A5A5A5A5A5A5)) | np.uint64(1)
    mask = np.uint64(m_bits - 1)
    return [
        ((h1 + np.uint64(i) * h2) & mask) for i in range(k)
    ]


def bloom_bench_ngrams(
    benchmark,
    text_col: str = "text",
    n: int = 8,
    bits_per_gram: int = 14,
) -> tuple:
    """Benchmark n-gram set as a BLOOM bitset: ``(bits, m_bits, k)``
    with ``bits`` a packed uint64 array — for
    ``streaming_decontam_filter(..., mode='bloom')``.

    The regime: :func:`hash_bench_ngrams` ships 8 bytes per gram,
    fine for MB-scale eval sets; a full eval-SUITE exclusion list (or
    a cross-corpus "everything already trained on" set) can reach
    10^9 grams = 8 GB per executor.  At 14 bits/gram the Bloom form
    is ~4.6x smaller with FP rate ~(1-e^{-k/14})^k ≈ 1e-3 — and the
    error is ONE-SIDED: a false positive can only OVERSTATE a doc's
    contamination (dropping a clean doc), never pass a contaminated
    one; training-data hygiene wants exactly that asymmetry.  Probe
    is k vectorized gathers per gram batch, no set objects.
    """
    import numpy as np

    grams = hash_bench_ngrams(benchmark, text_col, n)
    n_grams = max(1, len(grams))
    m_bits = 1 << max(6, int(np.ceil(np.log2(n_grams * bits_per_gram))))
    k = max(1, int(round(bits_per_gram * 0.6931)))
    bits = np.zeros(m_bits // 64, dtype=np.uint64)
    for idx in _bloom_set(np.asarray(grams), m_bits, k):
        np.bitwise_or.at(
            bits, (idx >> np.uint64(6)).astype(np.int64),
            np.uint64(1) << (idx & np.uint64(63)),
        )
    return bits, m_bits, k


def bloom_probe(grams, bloom) -> "object":
    """Vectorized membership test of int64 gram hashes against a
    :func:`bloom_bench_ngrams` bitset — boolean array, True = maybe
    present (contaminated), False = definitely absent."""
    import numpy as np

    bits, m_bits, k = bloom
    if len(grams) == 0:
        return np.zeros(0, dtype=bool)
    hit = np.ones(len(grams), dtype=bool)
    for idx in _bloom_set(np.asarray(grams), m_bits, k):
        word = bits[(idx >> np.uint64(6)).astype(np.int64)]
        hit &= (word >> (idx & np.uint64(63))) & np.uint64(1) != 0
    return hit
