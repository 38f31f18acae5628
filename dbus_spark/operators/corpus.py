"""Corpus curation operators — mixture sampling, sequence packing,
PII redaction, span-level exact dedup.

The last mile of an LLM training-data pipeline, downstream of the
dedup/quality ladder (`operators/dedup.py`, `operators/text.py`):
decide HOW MUCH of each stratum to keep, scrub what must not be
trained on, drop repeated spans inside surviving documents, and pack
the result into fixed-token-budget training sequences.  The reference
engine (funkygao/dbus) has no analog for any of these — its pipeline
stops at route-and-deliver (`pipeline/router.go`); this module is
target-scope for the survey's §6 training-data extensions.

Scale notes (100 TB corpus):

- :func:`sample_mixture` is a map-side filter — zero shuffle.  The
  keep/drop decision is a pure function of (id, seed, stratum), so it
  is reproducible across engines, retries and re-runs, and the same
  row set survives on any cluster size.
- :func:`pack_sequences` shards the corpus first (map-side), then
  packs each shard independently — the only shuffle is the groupBy on
  the shard key, and the Python side of `applyInPandas` sees ONLY
  int64 token counts (never the text), so a shard's state is a few MB
  even when its documents are gigabytes.
- :func:`redact_pii` is pure Catalyst `regexp_replace` — codegen'd,
  map-side, streams through.
- :func:`dedup_spans` is the Dolma/RefinedWeb paragraph-dedup shape:
  explode spans, ONE window shuffle keyed by the span hash to pick
  each span's first occurrence, one groupBy to reassemble.  Shuffle
  volume is span-count-sized; the span payload rides the shuffle only
  once (the reassembly carries kept spans only).
"""

from __future__ import annotations

from typing import Mapping, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from dbus_spark.operators.state import callback, keyed_apply

__all__ = [
    "sample_mixture",
    "sample_token_budget",
    "streaming_token_budget_filter",
    "mixture_report",
    "pack_sequences",
    "pack_sequences_dense",
    "pack_report",
    "PII_PATTERNS",
    "redact_pii",
    "pii_counts",
    "dedup_spans",
    "shard_plan",
    "streaming_shard_assign",
    "shard_manifest",
    "export_shards",
]


# ---------------------------------------------------------------------------
# Deterministic stratified mixture sampling
# ---------------------------------------------------------------------------

_HEX_SPACE = 16 ** 8  # first 8 hex chars of md5 → uniform 32-bit draw


def _rate_threshold(rate: float) -> str:
    """Keep-threshold as an 8-hex-char string: a row survives iff its
    md5-derived draw sorts strictly below it.  rate>=1 keeps all rows
    ('g' > every hex char)."""
    if rate >= 1.0:
        return "g"
    if rate <= 0.0:
        return "0" * 8
    return format(int(rate * _HEX_SPACE), "08x")


def _draw(id_col: str, seed: int) -> Column:
    """The per-row uniform draw: first 8 hex chars of
    md5('<id>:<seed>').  md5 of the same bytes is identical in every
    engine (Spark, DuckDB, Python hashlib), which makes the sample
    reproducible anywhere — the property that matters when a 100 TB
    sampling decision must be re-derivable months later.  At pure
    production scale xxhash64 would be ~5x cheaper per row; md5 is the
    cross-engine-checkable default and still map-side codegen."""
    return F.substring(
        F.md5(F.concat_ws(":", F.col(id_col).cast("string"), F.lit(str(seed)))),
        1,
        8,
    )


def sample_mixture(
    df: DataFrame,
    rates: Mapping[str, float],
    strata_col: str = "lang",
    id_col: str = "doc_id",
    seed: int = 0,
    default_rate: float = 0.0,
) -> DataFrame:
    """Deterministic stratified down-sampling to target mixture rates.

    ``rates`` maps stratum value → keep fraction.  Every row gets a
    uniform draw that is a pure function of (id, seed); it survives iff
    the draw falls under its stratum's rate.  Strata absent from
    ``rates`` use ``default_rate`` (drop, by default).

    Zero shuffle, zero state: the filter is a codegen'd predicate, so
    Parquet row groups whose strata are all dropped never leave the
    scan when ``strata_col`` is a partition column.
    """
    thr = F.lit(_rate_threshold(default_rate))
    for stratum, rate in rates.items():
        thr = F.when(
            F.col(strata_col) == F.lit(stratum), F.lit(_rate_threshold(rate))
        ).otherwise(thr)
    return df.filter(_draw(id_col, seed) < thr)


def mixture_report(
    df: DataFrame,
    sampled: DataFrame,
    strata_col: str = "lang",
) -> DataFrame:
    """Achieved-vs-source mixture: per stratum, source rows, kept rows
    and the realized keep rate (4 dp).  Two count-aggregations joined
    on the stratum key — both map-side-combined, stratum-cardinality
    shuffle only."""
    src = df.groupBy(strata_col).agg(F.count("*").alias("n_source"))
    kept = sampled.groupBy(strata_col).agg(F.count("*").alias("n_kept"))
    return (
        src.join(kept, on=strata_col, how="left")
        .select(
            strata_col,
            "n_source",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            F.round(F.coalesce("n_kept", F.lit(0)) / F.col("n_source"), 4).alias(
                "keep_rate"
            ),
        )
    )


def sample_token_budget(
    df: DataFrame,
    budgets: Mapping[str, int],
    strata_col: str = "lang",
    id_col: str = "doc_id",
    tokens_col: str | Column | None = None,
    text_col: str = "text",
    seed: int = 0,
) -> DataFrame:
    """Deterministic per-stratum TOKEN-budget sampling: real training
    mixtures are specified in tokens ("30B tokens of code, 5B of
    math"), not document counts.  Documents are ranked inside each
    stratum by the same md5 draw :func:`sample_mixture` uses (a pure
    function of (id, seed) — reproducible anywhere), and the stratum
    keeps the longest PREFIX of that order whose token total fits the
    budget: a document is kept iff its running cumsum (including
    itself) is <= budget.  The first document that crosses the budget,
    and everything after it in draw order, is dropped — the plain
    prefix cut (skip-and-continue greedy would need sequential state;
    the prefix rule is one window and within one document of the same
    total).  Strata absent from ``budgets`` are dropped entirely.

    One window shuffle keyed by the stratum (the draw is the sort
    key); at 100 TB the per-stratum ordering is the cost — if strata
    are few and huge, pre-aggregate per (stratum, draw-prefix) bucket
    to bound the sort, or accept the documented greedy-prefix rule per
    hash-bucket.  Output = input columns (filter semantics).
    """
    from dbus_spark.operators.text import token_count

    if tokens_col is None:
        tokens_col = token_count(text_col)
    elif isinstance(tokens_col, str):
        tokens_col = F.col(tokens_col)
    budget_expr = F.lit(None).cast("long")
    for stratum, b in budgets.items():
        budget_expr = F.when(
            F.col(strata_col) == F.lit(stratum), F.lit(int(b))
        ).otherwise(budget_expr)
    w = (
        Window.partitionBy(strata_col)
        .orderBy(_draw(id_col, seed), id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    staged = (
        df.withColumn("_tb_n", tokens_col.cast("long"))
        .withColumn("_tb_b", budget_expr)
        .withColumn("_tb_cum", F.sum("_tb_n").over(w))
    )
    return (
        staged.filter(
            F.col("_tb_b").isNotNull() & (F.col("_tb_cum") <= F.col("_tb_b"))
        )
        .drop("_tb_n", "_tb_b", "_tb_cum")
    )


# ---------------------------------------------------------------------------
# Sequence packing (token-budget bin packing for training batches)
# ---------------------------------------------------------------------------


def pack_sequences(
    df: DataFrame,
    budget: int,
    n_shards: int = 32,
    id_col: str = "doc_id",
    tokens_col: str | Column | None = None,
    text_col: str = "text",
) -> DataFrame:
    """Greedy next-fit sequence packing: assign each document to a
    training pack of at most ``budget`` tokens.

    Deterministic contract (the one a recursive-SQL oracle can
    replay): shard = ``id % n_shards``; within a shard documents are
    taken in ``id`` order and a document joins the current pack iff
    the pack's running token total stays <= budget, else it OPENS a
    new pack — so a document longer than the budget occupies an
    oversized pack alone.  Output: ``(id, shard, pack_id, n_tokens)``
    with ``pack_id`` dense per shard from 0.

    Scale shape: the token count is computed Catalyst-side BEFORE the
    shuffle, so `applyInPandas` groups carry (id, n_tokens) int64
    pairs only — a 100 TB corpus at ~1 KB/doc is ~10^11 docs, 1.6 GB
    of longs per 1000th shard; `n_shards` is the knob that sizes
    that.  Inside a shard the boundary scan is cumsum + repeated
    searchsorted — O(n_packs · log n) numpy, no per-row Python.
    Production would hash-shard (`xxhash64(id) % n`) to break id
    locality; modulo is the oracle-replayable default and identical
    in distribution for dense synthetic ids.
    """
    from dbus_spark.operators.text import token_count

    if tokens_col is None:
        tokens_col = token_count(text_col)
    elif isinstance(tokens_col, str):
        tokens_col = F.col(tokens_col)
    slim = df.select(
        F.col(id_col).alias("_pk_id"),
        F.pmod(F.col(id_col), F.lit(n_shards)).cast("int").alias("shard"),
        tokens_col.cast("long").alias("n_tokens"),
    )

    def _pack(pdf):
        import numpy as np
        import pandas as pd

        pdf = pdf.sort_values("_pk_id").reset_index(drop=True)
        t = pdf["n_tokens"].to_numpy(dtype=np.int64)
        cs = np.cumsum(t)
        pack = np.empty(len(t), dtype=np.int64)
        start, pid = 0, 0
        while start < len(t):
            base = cs[start - 1] if start > 0 else 0
            # last index whose running total (since pack start) fits
            j = int(np.searchsorted(cs, base + budget, side="right")) - 1
            j = max(j, start)  # an oversized doc packs alone
            pack[start : j + 1] = pid
            pid += 1
            start = j + 1
        return pd.DataFrame(
            {
                "_pk_id": pdf["_pk_id"],
                "shard": pdf["shard"],
                "pack_id": pack,
                "n_tokens": pdf["n_tokens"],
            }
        )

    out_schema = "_pk_id long, shard int, pack_id long, n_tokens long"
    packed = slim.groupBy("shard").applyInPandas(_pack, schema=out_schema)
    return packed.withColumnRenamed("_pk_id", id_col)


def pack_sequences_dense(
    df: DataFrame,
    budget: int,
    n_shards: int = 32,
    id_col: str = "doc_id",
    tokens_col: str | Column | None = None,
    text_col: str = "text",
) -> DataFrame:
    """Dense (concat-and-chunk) sequence packing: per shard, documents
    in ``id`` order form ONE token stream cut every ``budget`` tokens;
    a document spans every pack its token range touches — zero padding
    waste, the packed-pretraining-batch shape (documents separated by
    EOS and sliced into fixed-length rows).

    Output: one row per (document, pack) slice —
    ``(id, shard, pack_id, slice_start, slice_len, n_tokens)`` where
    ``slice_start`` is the offset INSIDE the document and pack_id =
    floor(stream_offset / budget).  Unlike :func:`pack_sequences`
    there is no greedy state: the mapping is pure cumsum arithmetic,
    so it runs as ONE window over the shard (no recursion, no Python)
    and an oracle can replay it with the same window in SQL.
    """
    from dbus_spark.operators.text import token_count

    if tokens_col is None:
        tokens_col = token_count(text_col)
    elif isinstance(tokens_col, str):
        tokens_col = F.col(tokens_col)
    slim = df.select(
        F.col(id_col),
        F.pmod(F.col(id_col), F.lit(n_shards)).cast("int").alias("shard"),
        tokens_col.cast("long").alias("n_tokens"),
    )
    w = Window.partitionBy("shard").orderBy(id_col)
    base = slim.withColumn(
        "_start",
        F.coalesce(F.sum("n_tokens").over(w) - F.col("n_tokens"), F.lit(0)),
    )
    # packs touched: floor(start/b) .. floor((start+n-1)/b); empty docs
    # (0 tokens) land wholly in floor(start/b) with slice_len 0
    first = (F.col("_start") / budget).cast("long")
    last = F.greatest(
        first, ((F.col("_start") + F.col("n_tokens") - 1) / budget).cast("long")
    )
    return (
        base.withColumn("pack_id", F.explode(F.sequence(first, last)))
        .withColumn(
            "slice_start",
            F.greatest(F.lit(0), F.col("pack_id") * budget - F.col("_start")),
        )
        .withColumn(
            "slice_len",
            F.least(
                F.col("n_tokens"),
                (F.col("pack_id") + 1) * budget - F.col("_start"),
            )
            - F.col("slice_start"),
        )
        .select(
            id_col, "shard", "pack_id", "slice_start", "slice_len", "n_tokens"
        )
    )


def pack_report(packed: DataFrame, budget: int) -> DataFrame:
    """Per-pack rollup: docs, token total, fill fraction (4 dp).
    One stratum-sized aggregation over the packing output."""
    return packed.groupBy("shard", "pack_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("pack_tokens"),
        F.round(F.sum("n_tokens") / F.lit(budget), 4).alias("fill_frac"),
    )


# ---------------------------------------------------------------------------
# PII redaction
# ---------------------------------------------------------------------------

# Order matters: the card pattern must run before phones (a 16-digit
# card contains phone-shaped substrings).  Patterns stay inside the
# regex subset that Java (Spark) and RE2 (DuckDB) evaluate identically:
# character classes, bounded repeats, alternation — no lookaround, no
# backreferences.
PII_PATTERNS: Sequence[tuple[str, str, str]] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("card", r"[0-9]{4}[- ][0-9]{4}[- ][0-9]{4}[- ][0-9]{4}", "<CARD>"),
    ("phone", r"[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}", "<PHONE>"),
    ("ipv4", r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}", "<IP>"),
)


def redact_pii(
    df: DataFrame,
    text_col: str = "text",
    out_col: str | None = None,
    patterns: Sequence[tuple[str, str, str]] = PII_PATTERNS,
) -> DataFrame:
    """Replace PII spans with typed placeholders.

    A chain of Catalyst ``regexp_replace`` calls — whole-stage
    codegen, map-side, no Python.  ``patterns`` is ordered; each entry
    is (name, regex, replacement).
    """
    out_col = out_col or text_col
    c: Column = F.col(text_col)
    for _name, pat, repl in patterns:
        c = F.regexp_replace(c, pat, repl)
    return df.withColumn(out_col, c)


def pii_counts(
    df: DataFrame,
    text_col: str = "text",
    patterns: Sequence[tuple[str, str, str]] = PII_PATTERNS,
) -> DataFrame:
    """Per-row PII hit counts, one ``n_<name>`` column per pattern.
    Counts are taken in the same order as redaction WOULD apply, each
    on the text with earlier patterns already redacted — so a card
    never double-counts as two phones, matching what
    :func:`redact_pii` actually removes."""
    out = df
    cur: Column = F.col(text_col)
    for name, pat, repl in patterns:
        out = out.withColumn(
            f"n_{name}", F.size(F.regexp_extract_all(cur, F.lit(pat), F.lit(0)))
        )
        cur = F.regexp_replace(cur, pat, repl)
    return out


# ---------------------------------------------------------------------------
# Span-level (paragraph) exact dedup
# ---------------------------------------------------------------------------


def dedup_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    delim: str = "\n\n",
    out_col: str = "text_dedup",
    hash_key: bool = False,
) -> DataFrame:
    """Corpus-wide span-level exact dedup (the Dolma / RefinedWeb
    "paragraph dedup" pass): split every document on ``delim``, keep
    only each distinct span's FIRST occurrence — first by ``id``, then
    by position within the document — and reassemble the survivors in
    original order.

    Output: ``(id, n_spans, n_kept, out_col)``; documents whose spans
    were all seen before come back with ``n_kept = 0`` and an empty
    string (dropping them is the caller's policy).

    Plan shape: posexplode (map-side) → ONE window shuffle partitioned
    by the span text to rank occurrences → groupBy(id) to reassemble.
    ``hash_key=True`` is the 100 TB arm: the ranking window runs over
    ``xxhash64(span)`` with an (id, pos, hash)-only projection — the
    rank shuffle carries 20 bytes/span instead of the paragraph text
    (and never sorts on long strings) — then joins the verdict back on
    (id, pos).  One extra hash-sized shuffle buys a text-free ranking
    path; results are identical short of a 64-bit collision (pinned by
    a test).  The literal-key default is the oracle-checkable form.
    ``delim`` is a literal, not a regex (split uses its quoted form),
    so windows-newline corpora pass ``'\\r\\n\\r\\n'`` explicitly.
    """
    import re

    spans = df.select(
        F.col(id_col).alias("_sp_id"),
        F.posexplode(F.split(F.col(text_col), re.escape(delim))).alias(
            "pos", "span"
        ),
    )
    if hash_key:
        w = Window.partitionBy("_h").orderBy("_sp_id", "pos")
        ranked_slim = (
            spans.select("_sp_id", "pos", F.xxhash64("span").alias("_h"))
            .withColumn("_rk", F.row_number().over(w))
            .drop("_h")
        )
        ranked = spans.join(ranked_slim, on=["_sp_id", "pos"])
    else:
        w = Window.partitionBy("span").orderBy("_sp_id", "pos")
        ranked = spans.withColumn("_rk", F.row_number().over(w))
    return (
        ranked.groupBy("_sp_id")
        .agg(
            F.count("*").alias("n_spans"),
            F.sum(F.when(F.col("_rk") == 1, 1).otherwise(0)).alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("_rk") == 1,
                                F.struct(
                                    F.col("pos").alias("pos"),
                                    F.col("span").alias("span"),
                                ),
                            )
                        )
                    ),
                    lambda s: s["span"],
                ),
                delim,
            ).alias(out_col),
        )
        .withColumnRenamed("_sp_id", id_col)
    )


# ---------------------------------------------------------------------------
# Deterministic export sharding (WebDataset / Dolma-style shard plans)
# ---------------------------------------------------------------------------


def shard_plan(
    df: DataFrame,
    shard_bytes: int,
    strata_col: str = "lang",
    id_col: str = "doc_id",
    bytes_col: str | Column | None = None,
    text_col: str = "text",
) -> DataFrame:
    """Deterministic export-shard assignment: the plan an exporter
    follows to cut a curated corpus into ~``shard_bytes`` files per
    stratum (the WebDataset/Dolma shard shape — training jobs stream
    shards, so shard boundaries must be stable across re-runs).

    Rule (the offset-bucket rule — one window, no recursion, SQL-
    replayable): within a stratum, documents are taken in ``id``
    order; a document's shard is ``floor(start_offset / shard_bytes)``
    where ``start_offset`` is the byte offset where the document
    WOULD begin in the concatenated stratum stream.  Documents are
    never split, so a shard can overflow by at most the one document
    that straddles its boundary — the standard bounded-overflow
    trade against greedy next-fit's sequential state.

    Output: ``(id, strata, n_bytes, shard_idx)``.

    Scale shape: byte length is a codegen expression computed before
    the ONE window shuffle, which partitions by the stratum — no
    global ordering bottleneck (a per-language cumsum at 100 TB is
    wide but each stratum orders independently; split giant strata on
    a hash prefix if one language dominates).  The plan is a pure
    function of (id order, byte sizes), so re-running it months later
    reproduces the same shard cut — the same property
    :func:`sample_mixture` pins for sampling decisions.
    """
    if bytes_col is None:
        bytes_col = F.octet_length(F.col(text_col))
    elif isinstance(bytes_col, str):
        bytes_col = F.col(bytes_col)
    w = (
        Window.partitionBy(strata_col)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        df.select(
            F.col(id_col),
            F.col(strata_col),
            bytes_col.cast("long").alias("n_bytes"),
        )
        .withColumn(
            "shard_idx",
            F.floor(
                (F.sum("n_bytes").over(w) - F.col("n_bytes"))
                / F.lit(int(shard_bytes))
            ).cast("int"),
        )
    )


def shard_manifest(
    plan: DataFrame, strata_col: str = "lang", id_col: str = "doc_id"
) -> DataFrame:
    """Per-shard manifest over a :func:`shard_plan`: doc count, byte
    total, id range — the sidecar an exporter writes next to each
    shard so a reader can seek without scanning.  One shard-count-
    sized aggregation."""
    return plan.groupBy(strata_col, "shard_idx").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_bytes").alias("shard_bytes"),
        F.min(id_col).alias("first_id"),
        F.max(id_col).alias("last_id"),
    )


def export_shards(
    df: DataFrame,
    path: str,
    shard_bytes: int,
    strata_col: str = "lang",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Materialize the shard cut: join the :func:`shard_plan` verdict
    back onto the corpus and write parquet partitioned by
    ``(strata, shard_idx)`` — each shard directory is one seekable
    unit a loader mounts independently.  Returns the manifest.

    The plan side is (id, stratum, bytes, shard) — slim — and joins
    back on the id; the write repartitions by the partition columns
    so each shard is produced by one task (one file per shard at
    default settings, the property loaders want).  At 100 TB the
    partitioned write IS the shuffle; there is no second one.
    """
    plan = shard_plan(
        df, shard_bytes, strata_col, id_col, text_col=text_col
    )
    joined = df.join(
        plan.select(id_col, "n_bytes", "shard_idx"), on=id_col
    )
    (
        joined.repartition(F.col(strata_col), F.col("shard_idx"))
        .write.mode("overwrite")
        .partitionBy(strata_col, "shard_idx")
        .parquet(path)
    )
    return shard_manifest(plan, strata_col)


def streaming_token_budget_filter(
    df: DataFrame,
    budgets: Mapping[str, int],
    strata_col: str = "lang",
    id_col: str = "doc_id",
    text_col: str = "text",
    ts: str = "ts",
) -> DataFrame:
    """Streaming token-budget admission: keep a document iff its
    tokens still FIT its stratum's remaining budget — the stream-side
    twin of :func:`sample_token_budget` ("ingest until each stratum's
    token budget fills").  Strata absent from ``budgets`` drop.

    Semantics differ from the batch op exactly where a stream must:
    the batch rule cuts a PREFIX of the md5-draw order (a global
    order only a batch can see); the streaming rule admits greedily
    in ARRIVAL order — (ts, id) within a micro-batch, state across
    batches — and skips-and-continues: a document too big for the
    remainder drops while later smaller ones may still fit (fills
    budgets tighter; pinned by a sequential-replica test over
    arbitrary micro-batch splits).

    Scale shape: the token count is a codegen'd expression computed
    BEFORE the shuffle; the only state is ONE int64 per stratum (the
    running total), so a million-strata corpus carries ~8 MB of state
    total; the shuffle is keyed by the stratum (strata count is the
    parallelism bound, same knob note as the streaming SemDeDup's
    cells).  No watermark or TTL: a budget is a job-lifetime fact,
    not a window.
    """
    from pyspark.sql import types as T

    from dbus_spark.operators.text import token_count

    in_cols = df.columns
    staged = df.withColumn("_tb_n", token_count(text_col).cast("long"))
    out_schema = T.StructType([df.schema[c] for c in in_cols])
    budget_map = {k: int(v) for k, v in budgets.items()}
    return keyed_apply(
        staged,
        _make_budget_fn(budget_map, strata_col, id_col, ts, in_cols),
        out_schema,
        strata_col,
    )


def _make_budget_fn(
    budget_map: dict, strata_col: str, id_col: str, ts: str, in_cols: list
):
    """State: the stratum's running token total (one int)."""

    def step(cum, batch, wm):
        if batch is None:
            return cum, [], None
        budget = budget_map.get(batch[strata_col].iat[0])
        if budget is None:
            return None, [], None
        batch = batch.sort_values([ts, id_col], kind="stable").reset_index(
            drop=True
        )
        keep = []
        for n in batch["_tb_n"].to_numpy():
            if cum + n <= budget:
                cum += int(n)
                keep.append(True)
            else:
                keep.append(False)
        return cum, [batch.loc[keep, in_cols]], None

    return callback(step, int, timeout=False)


def streaming_shard_assign(
    df: DataFrame,
    shard_bytes: int,
    strata_col: str = "lang",
    id_col: str = "doc_id",
    text_col: str = "text",
    ts: str = "ts",
) -> DataFrame:
    """Streaming shard assignment: the arrival-order twin of
    :func:`shard_plan` for a continuously-landing curated stream —
    each document gets the shard its start offset falls into, where
    the offset is the stratum's RUNNING byte total (state: one int64
    per stratum, the :func:`streaming_token_budget_filter` shape).
    Same offset-bucket rule (docs never split, ≤ 1-doc overflow);
    the only semantic difference from the batch plan is the order the
    offsets accumulate in — id order there (a batch can sort), (ts,
    id) arrival order here.  Output: input columns + ``n_bytes`` +
    ``shard_idx``.
    """
    from pyspark.sql import types as T

    in_cols = df.columns
    staged = df.withColumn(
        "_sh_n", F.octet_length(F.col(text_col)).cast("long")
    )
    out_schema = T.StructType(
        [df.schema[c] for c in in_cols]
        + [
            T.StructField("n_bytes", T.LongType()),
            T.StructField("shard_idx", T.IntegerType()),
        ]
    )
    return keyed_apply(
        staged,
        _make_shard_fn(int(shard_bytes), id_col, ts, in_cols),
        out_schema,
        strata_col,
    )


def _make_shard_fn(budget: int, id_col: str, ts: str, in_cols: list):
    """State: the stratum's running byte total (one int)."""
    import pandas as pd

    def step(cum, batch, wm):
        if batch is None:
            return cum, [], None
        batch = batch.sort_values([ts, id_col], kind="stable").reset_index(
            drop=True
        )
        sizes = batch["_sh_n"].to_numpy()
        shards = []
        for n in sizes:
            shards.append(cum // budget)
            cum += int(n)
        out = batch[in_cols].copy()
        out["n_bytes"] = sizes
        out["shard_idx"] = pd.array(shards, dtype="int32")
        return cum, [out], None

    return callback(step, int, timeout=False)
