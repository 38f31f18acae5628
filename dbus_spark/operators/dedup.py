"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

The reference declares a dedup store and never implements it
(reference: pkg/idempotent/repository.go:1-5); a 100 TB training-data
pipeline needs the full ladder:

- exact: hash-groupBy on a normalized fingerprint — one shuffle on the
  hash, combiner-friendly.
- n-gram Jaccard: explode-shingle → self-join on shingle → agg. The
  join is shuffle-on-shingle (hot shingles behave like hot keys — we
  drop top-frequency shingles like classic suffix-array dedup does).
- MinHash + LSH: per-doc signature (map-side only, no shuffle), band →
  bucket-join so candidate generation shuffles |docs|·n_bands rows,
  never the O(n²) pair space.
- SimHash: 32-bit sketch via bit-vote aggregation, hamming-adjacent
  buckets as the candidate filter.

Every sketch hashes with md5-h32: the first 8 md5-hex chars of the
token, shingle or k-gram as an int in [0, 2^32) (15 chars, 60 bits,
for SimHash sketches wider than 32 bits). DuckDB reproduces the same
value as ``('0x'||substr(md5(s),1,8))::BIGINT``, so the driver's oracle
rows check every sketch exactly. The sketches run as Arrow batch
kernels that hash each distinct value once per batch
(``tokenize.distinct_md5``); their Catalyst forms are the parity
references in ``tests/test_arrow_kernels_parity.py``.
``ngram_jaccard_pairs`` has no hash at all (it joins raw shingles).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dbus_spark.operators import tokenize as tk
from dbus_spark.operators.text import fingerprint, tokens
from dbus_spark.operators.tokenize import MINHASH_P
from dbus_spark.session import _n_partitions


def exact_dedup_groups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """One row per distinct normalized text: keeper id + copy count."""
    return (
        df.select(fingerprint(text_col).alias("fp"), F.col(id_col))
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("keeper"),
            F.count("*").alias("n_copies"),
        )
    )


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep the lowest-id representative of each duplicate group."""
    keepers = exact_dedup_groups(df, text_col, id_col).select(
        F.col("keeper").alias(id_col)
    )
    # broadcast-free: semi join on the id (both sides shuffle on id)
    return df.join(keepers, on=id_col, how="left_semi")


def word_shingles(col: str | Column = "text", n: int = 3) -> Column:
    """Distinct word n-gram shingles of a document.

    The token split is bound as a lambda variable (singleton-array
    transform) so it evaluates once per row — referenced directly
    inside the shingle lambda it would re-split the text once per
    shingle (the winnow_fingerprints evaluation-order lesson)."""

    def _shingles(toks: Column) -> Column:
        # guard: Spark's sequence(0, k) descends for k<0 — short docs
        # get an empty shingle set instead
        idx = F.when(
            F.size(toks) >= n, F.sequence(F.lit(0), F.size(toks) - n)
        ).otherwise(F.array().cast("array<int>"))
        return F.array_distinct(
            F.transform(
                idx,
                lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
            )
        )

    return F.get(F.transform(F.array(tokens(col)), _shingles), 0)


def shingles_exploded_arrow(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Distinct word n-gram shingles, EXPLODED (one row per (id,
    shingle)) — the Arrow throughput path for the shingle stage.
    Byte-identical strings to ``word_shingles`` + explode, computed
    with C-backed pandas kernels: explode + group-wise shift +
    vectorized concat — no per-row python. The Catalyst form evaluates
    an interpreted slice+array_join per shingle (~15 µs each, measured:
    3.9 s for 260k shingles at sf0.1); this path batches it all.

    Tokenization, n-grams and the per-doc distinct are the shared
    primitives of ``operators/tokenize.py`` (Java-whitespace and NUL
    parity, pinned by parity tests with hostile texts)."""
    import numpy as np
    import pandas as pd

    def gen(it):
        for pdf in it:
            if not len(pdf):
                continue
            sh = tk.ngrams(tk.split_series(pdf[text_col]), n)
            row = sh.index.to_numpy()
            # array_distinct parity: distinct (row, shingle) codes
            codes, _ = tk.distinct(sh)
            _, first = np.unique(
                (row << 32) | codes.astype(np.int64), return_index=True
            )
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy()[row[first]],
                    "s": sh.to_numpy()[first],
                }
            )

    id_type = df.schema[id_col].dataType.simpleString()
    return df.select(id_col, text_col).mapInPandas(
        gen, schema=f"{id_col} {id_type}, s string"
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.0,
    max_df: int | None = None,
) -> DataFrame:
    """Pairwise n-gram Jaccard similarity via explode + shuffle-join —
    the distributed formulation: |docs|·|shingles| rows shuffled, never
    the O(n²) pair matrix materialized below the threshold.

    ``max_df`` drops shingles occurring in more than that many docs
    before pairing — the classic document-frequency cut: a shingle
    shared by thousands of documents is non-discriminative but costs
    count² join rows (the hot-key blowup). With it set, similarity is
    Jaccard over the *rare-shingle* sets of each doc (set sizes are
    recomputed after the cut, so the measure stays a true Jaccard)."""
    # Execution (r7): ONE shuffle of the (s, id) shingle stream into s
    # segments; the run-length kernel applies max_df locally (a
    # segment's length IS its shingle's document frequency after hash
    # partitioning), emits the shared-shingle pair stream AND one
    # (id, id) self row per surviving shingle — so a single
    # aggregation produces both the pair commons and the per-doc
    # rare-set sizes. The former plan paid a persisted scan, a
    # df-count aggregation, a semi-join, a two-sided self-join and a
    # separate sizes aggregation (5 exchanges of the shingle stream).
    # The (tiny) sizes frame attaches to the (tiny) pair set with two
    # broadcast-eligible joins; values are unchanged (pinned by parity
    # test and the DuckDB oracle).
    sh = shingles_exploded_arrow(df, id_col, text_col, n)
    seg = _segment_pairs(
        sh.select("s", id_col), ["s"], id_col, max_df, emit_self=True
    )
    agg = seg.groupBy("id_a", "id_b").agg(F.count("*").alias("_cnt"))
    # materialize the aggregated (pair + size) frame ONCE: it feeds
    # three subtrees below, and Spark does not reuse mapInPandas
    # exchanges across them (verified: 3x kernel executions without
    # this). localCheckpoint blocks are reference-tracked and
    # GC-cleaned, so nothing leaks into the session.
    agg = agg.localCheckpoint(eager=True)
    sizes = agg.filter(F.col("id_a") == F.col("id_b")).select(
        F.col("id_a").alias("_sid"), F.col("_cnt").alias("n_sh")
    )
    # sizes is |docs|-sized: leave the join strategy to AQE (broadcast
    # when it fits, sort-merge at scale) — the exchange feeding `agg`
    # is reused across the three subtrees, so the shingle kernel and
    # its shuffle run once
    pairs = (
        agg.filter(F.col("id_a") < F.col("id_b"))
        .withColumnRenamed("_cnt", "common")
        .join(
            sizes.select(F.col("_sid").alias("id_a"),
                         F.col("n_sh").alias("n_a")),
            on="id_a",
        )
        .join(
            sizes.select(F.col("_sid").alias("id_b"),
                         F.col("n_sh").alias("n_b")),
            on="id_b",
        )
    )
    jac = F.col("common") / (F.col("n_a") + F.col("n_b") - F.col("common"))
    return pairs.select(
        "id_a", "id_b", F.round(jac, 4).alias("jaccard")
    ).filter(F.col("jaccard") > threshold)


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (the MOSS scheme): hash every
    character ``k``-gram of the normalized text (the rolling hash —
    here the md5-derived h32 so the oracle reproduces it), then keep
    the minimum hash of every ``w``-wide window and dedup. Guarantees
    any match of length ≥ w+k-1 shares a fingerprint, at ~2/(w+1)
    selection density. Map-side — the shuffle, if any, belongs to the
    downstream fingerprint join.

    Normalization is trim-spaces → lower → Java-\\s runs to one space;
    short/null docs emit one null fingerprint row (``explode_outer``
    semantics). Execution (r7): an Arrow batch kernel. k-grams are
    extracted as fixed-width byte views (ASCII fast path) and uniqued
    per batch before hashing — one md5 per DISTINCT k-gram
    (``tokenize.distinct_md5``) plus numpy sliding-window minima,
    instead of one interpreted md5+conv HOF step per character
    position (~n_chars·2 steps/doc) in the Catalyst form."""
    import numpy as np
    import pandas as pd
    from numpy.lib.stride_tricks import sliding_window_view

    def gen(it):
        for pdf in it:
            if not len(pdf):
                continue
            ids = pdf[id_col].to_numpy()
            texts = pdf[text_col].tolist()
            norms: list[str | None] = [
                None
                if t is None
                else tk.JAVA_WS.sub(" ", t.strip(" ").lower())
                for t in texts
            ]
            # gather every k-gram of the batch as fixed-width bytes
            subs_per_doc: list[np.ndarray | None] = []
            all_subs: list[np.ndarray] = []
            for s in norms:
                if s is None or len(s) < k:
                    subs_per_doc.append(None)
                    continue
                if s.isascii():
                    a = np.frombuffer(s.encode(), dtype=np.uint8)
                    wins = sliding_window_view(a, k)
                    # V, not S: an S{k} item drops trailing NULs
                    subs = (
                        np.ascontiguousarray(wins)
                        .view(f"V{k}")
                        .ravel()
                    )
                else:
                    # character semantics for non-ASCII (Spark substr
                    # counts chars): per-position UTF-8 encode
                    subs = np.array(
                        [
                            s[i : i + k].encode("utf-8")
                            for i in range(len(s) - k + 1)
                        ],
                        dtype=object,
                    )
                subs_per_doc.append(subs)
                all_subs.append(
                    subs.astype(object) if subs.dtype != object else subs
                )
            out_ids: list[np.ndarray] = []
            out_fps: list[np.ndarray] = []
            null_ids: list[object] = []
            if all_subs:
                # hash-based distinct, not np.unique: a sort-based
                # unique over millions of OBJECT grams was 6.2 s of a
                # 10k-doc batch vs 0.47 s hashed
                inv, uh = tk.distinct_md5(np.concatenate(all_subs))
                pos = 0
                for rid, subs in zip(ids, subs_per_doc):
                    if subs is None:
                        null_ids.append(rid)
                        continue
                    n = len(subs)
                    hs = uh[inv[pos : pos + n]]
                    pos += n
                    if n < w:
                        null_ids.append(rid)
                        continue
                    mins = np.unique(
                        sliding_window_view(hs, w).min(axis=1)
                    )
                    out_ids.append(np.full(len(mins), rid))
                    out_fps.append(mins)
            else:
                null_ids.extend(ids)
            frames = []
            if out_ids:
                frames.append(
                    pd.DataFrame(
                        {
                            id_col: np.concatenate(out_ids),
                            "fp": np.concatenate(out_fps),
                        }
                    )
                )
            if null_ids:
                frames.append(
                    pd.DataFrame(
                        {
                            id_col: np.array(null_ids),
                            # object/None, not NaN: a float column would
                            # poison the long fp dtype on concat
                            "fp": np.full(
                                len(null_ids), None, dtype=object
                            ),
                        }
                    )
                )
            if frames:
                yield pd.concat(frames, ignore_index=True)

    id_type = df.schema[id_col].dataType.simpleString()
    return df.select(id_col, text_col).mapInPandas(
        gen, schema=f"{id_col} {id_type}, fp long"
    )


_PAIR_CHUNK = 4_000_000  # pairs per index chunk of _pair_chunks


def _runs(keys: list) -> tuple:
    """Run-length layout of a partition sorted on ``keys`` (equal-length
    arrays): a segment is a run of rows equal on every key. Returns
    ``(starts, lens, seg_of_row, pos)``: each segment's first row and
    length, each row's segment and its position in it."""
    import numpy as np

    n = len(keys[0])
    change = np.zeros(n, dtype=bool)
    for a in keys:
        change[1:] |= a[1:] != a[:-1]
    starts = np.concatenate([[0], np.flatnonzero(change[1:]) + 1])
    lens = np.diff(np.concatenate([starts, [n]]))
    seg_of_row = np.repeat(np.arange(len(starts)), lens)
    return starts, lens, seg_of_row, np.arange(n) - starts[seg_of_row]


def _pair_chunks(rep: "object", base: "object", chunk: int = _PAIR_CHUNK):
    """The pairs of a run-length layout: row i pairs with rows
    ``base[i] .. base[i] + rep[i] - 1``. Yields ``(a_idx, b_idx)``
    row-index arrays, built with the repeat/offset trick (zero Python
    per row or segment), about ``chunk`` pairs at a time so the live
    arrays stay bounded even when one segment is quadratic-hot. One
    row's pairs are never split across chunks. Indices are int32
    while the partition has fewer than 2^31 rows (half the gather
    traffic)."""
    import numpy as np

    n = len(rep)
    csum = np.concatenate([[0], np.cumsum(rep)])
    idx_t = np.int32 if n < (1 << 31) else np.int64
    lo_row = 0
    while lo_row < n:
        hi_row = int(
            np.searchsorted(csum, csum[lo_row] + chunk, side="left")
        )
        hi_row = min(max(hi_row, lo_row + 1), n)
        r = rep[lo_row:hi_row]
        t = int(r.sum())
        if t:
            a_idx = np.repeat(np.arange(lo_row, hi_row, dtype=idx_t), r)
            w = np.arange(t, dtype=idx_t) - np.repeat(
                np.cumsum(np.concatenate([[0], r[:-1]])).astype(idx_t), r
            )
            yield a_idx, base[a_idx] + w
        lo_row = hi_row


def _segment_pairs(
    keyed: DataFrame,
    key_cols: list[str],
    id_col: str,
    max_df: int | None,
    emit_self: bool = False,
) -> DataFrame:
    """Within-segment (id_a < id_b) pair enumeration after ONE shuffle:
    repartition on the key(s), sort within partitions, and emit every
    same-key pair from a run-length kernel — the self-join-free pair
    generator (the `_bucketed_hamming_pairs` geometry, without a
    sketch verify).  ``max_df`` drops whole segments longer than the
    cap BEFORE pairing: hash partitioning puts every row of a key into
    one segment, so the segment length IS that key's document
    frequency — the df-cut needs no separate aggregation or semi-join.
    Pair-list construction is chunked so live arrays stay bounded even
    when one key is quadratic-hot (only possible with max_df=None).

    ``emit_self`` additionally emits one (id, id) row per SURVIVING
    input row — a per-doc set-size carrier: downstream, rows with
    id_a == id_b count the doc's surviving keys while id_a < id_b rows
    count shared keys, so one aggregation yields both."""
    import numpy as np
    import pandas as pd

    id_type = keyed.schema[id_col].dataType.simpleString()

    def gen(it):
        chunks = [p for p in it if len(p)]
        if not chunks:
            return
        pdf = (
            chunks[0]
            if len(chunks) == 1
            else pd.concat(chunks, ignore_index=True)
        )
        n = len(pdf)
        _, lens, seg_of_row, pos = _runs(
            [pdf[c].to_numpy() for c in key_cols]
        )
        seg_len = lens[seg_of_row]
        alive = seg_len <= (n if max_df is None else max_df)
        rep = np.where(alive, seg_len - pos - 1, 0)
        ids = pdf[id_col].to_numpy()
        if emit_self and alive.any():
            sid = ids[alive]
            yield pd.DataFrame({"id_a": sid, "id_b": sid})
        emitted = False
        for a_idx, b_idx in _pair_chunks(rep, np.arange(1, n + 1)):
            ia, ib = ids[a_idx], ids[b_idx]
            emitted = True
            yield pd.DataFrame(
                {"id_a": np.minimum(ia, ib), "id_b": np.maximum(ia, ib)}
            )
        if not (emitted or emit_self):
            yield pd.DataFrame({"id_a": ids[:0], "id_b": ids[:0]})

    # EXPLICIT partition count: a bare repartition(cols) is an AQE
    # coalescing target, and this shuffle's byte size wildly
    # understates the downstream work (pair enumeration is quadratic
    # in segment length) — measured on sf1.0, AQE folded the stream to
    # 13 partitions and serialized the hot buckets' grids (guide §2.5:
    # partition by work, not bytes). repartition(N, cols) pins it; N
    # follows the session's shuffle sizing, so it scales with the
    # cluster rather than the local core count.
    n_part = _n_partitions(keyed.sparkSession)
    part = keyed.repartition(
        n_part, *[F.col(c) for c in key_cols]
    ).sortWithinPartitions(*key_cols)
    return part.mapInPandas(
        gen, schema=f"id_a {id_type}, id_b {id_type}"
    )


def winnow_match_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    w: int = 4,
    min_shared: int = 2,
    max_df: int | None = 50,
) -> DataFrame:
    """The MOSS match step over :func:`winnow_fingerprints`: pairs of
    documents sharing at least ``min_shared`` selected fingerprints,
    with the shared count — near-verbatim overlap detection (any
    common substring of length ≥ w+k-1 is guaranteed to surface at
    least one shared fingerprint).

    Execution (r7): ONE shuffle of the (id, fp) stream into fp
    segments + run-length pair enumeration (:func:`_segment_pairs`),
    then the pair-count aggregation.  The former plan paid a persisted
    scan, a df-count aggregation, a semi-join, and a two-sided
    self-join (4 exchanges of the fingerprint stream); the segment
    form applies ``max_df`` locally — a segment's length is its
    fingerprint's document frequency — and emits exactly the join's
    pair multiset (per-doc fingerprints are distinct, so multiplicity
    per shared fp is 1; pinned by parity test)."""
    base = winnow_fingerprints(df, id_col, text_col, k, w).filter(
        F.col("fp").isNotNull()
    )
    pairs = _segment_pairs(
        base.select("fp", id_col), ["fp"], id_col, max_df
    )
    return (
        pairs.groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


_PC16 = None  # lazy per-process 16-bit popcount table (64 KB)


def _pc16() -> "object":
    """Popcount of every 16-bit value, as uint8 — built once per
    worker process by doubling (t[2^b : 2^(b+1)] = t[0 : 2^b] + 1),
    so construction is 16 vectorized copies, exact by induction."""
    global _PC16
    if _PC16 is None:
        import numpy as np

        t = np.zeros(65536, dtype=np.uint8)
        for b in range(16):
            t[1 << b : 2 << b] = t[: 1 << b] + 1
        _PC16 = t
    return _PC16


def _popcount64(v: "object") -> "object":
    """Vectorized 64-bit popcount via the 16-bit lookup table —
    numpy < 2.0 has no ``bitwise_count``; identical to JVM
    ``bit_count`` for the non-negative sketches used here. The
    L1-resident table gathers beat the 10-op SWAR chain ~3x on the
    pair stream (measured, this box)."""
    import numpy as np

    t = _pc16()
    v = v.astype(np.uint64)
    m = np.uint64(0xFFFF)
    return (
        t[v & m]
        + t[(v >> np.uint64(16)) & m]
        + t[(v >> np.uint64(32)) & m]
        + t[v >> np.uint64(48)]
    ).astype(np.int64)


def _popcount32(v: "object") -> "object":
    """32-bit popcount over uint32 via the 16-bit lookup table — two
    gathers + one add instead of the 10-op SWAR chain (~3.3x measured
    on the gather+xor+popcount+mask pair pipeline), at half the
    memory traffic of the 64-bit form; used by the pair kernel
    whenever every sketch in the partition fits 32 bits (the default
    n_bits=32 sketches always do)."""
    import numpy as np

    t = _pc16()
    # index with the uint32 values directly: an .astype(uint16) of the
    # masked halves costs a full extra copy per half (measured 5.6x)
    return t[v & np.uint32(0xFFFF)] + t[v >> np.uint32(16)]


def _bucketed_hamming_pairs(
    sk: DataFrame,
    key_cols: list[str],
    id_col: str,
    max_hamming: int | None,
    emit_hamming: bool,
    n_sub: int = 1,
    *,
    key_widths: list[int],
) -> DataFrame:
    """Within-bucket pair enumeration + popcount verify, fully
    vectorized: shuffle the sketch rows once on the bucket key(s),
    sort within partitions, and emit every same-bucket (id_a < id_b)
    pair from ONE ``mapInPandas`` pass — pair construction is the
    repeat/offset trick over segment run-lengths (zero Python per
    group; a per-group ``applyInPandas`` paid ~0.5 ms × tens of
    thousands of near-empty buckets, slower than the join it
    replaced). Hamming is SWAR popcount over the xor'd sketch pairs;
    ``max_hamming`` filters, ``emit_hamming`` keeps the column. Pairs
    come from :func:`_pair_chunks`, chunked so the live arrays stay
    bounded even when one bucket is quadratic-hot.

    ``n_sub`` > 1 splits every bucket into ``n_sub`` deterministic
    id-hash sub-blocks and keys the shuffle on (bucket, sub-block
    PAIR) — a quadratic-hot bucket's pair work then spreads over
    n_sub·(n_sub+1)/2 partitions instead of serializing on one core
    (measured: one 13 k-doc block bucket ≈ 90 M pairs on the blocked
    simhash at sf1.0). Every unordered pair still lands in exactly
    one (gi ≤ gj) group, so results are identical."""
    import numpy as np
    import pandas as pd

    out_cols = ["id_a", "id_b"] + (["hamming"] if emit_hamming else [])
    # null sketches (null text) never join on their bucket in the join
    # form — drop them before pairing, same semantics
    sk = sk.filter(F.col("simhash").isNotNull())
    # ``key_widths`` (bit width per key_col; each key must lie in
    # [0, 2^width), checked per row): pack (keys, gi, gj, sub) into
    # ONE long so the Arrow crossing ships 3 columns instead of 7 and
    # the JVM sort compares one long — measured several-fold on the
    # per-task read wall at 32 concurrent local tasks. Sort order of
    # the packed long equals the multi-column (keys..., gi, gj, sub)
    # order exactly (non-negative fields, high-to-low layout).
    sb = max(1, (n_sub - 1).bit_length())  # bits for each of gi/gj/sub
    if len(key_widths) != len(key_cols):
        raise ValueError("key_widths must align with key_cols")
    if sum(key_widths) + 3 * sb > 62:
        raise ValueError("packed segment key exceeds 62 bits")
    # an out-of-range key would spill into its neighbour's bits and
    # pair rows of different segments: raise instead
    keys = [
        F.when((F.col(c) >= 0) & (F.col(c) < 2**w), F.col(c).cast("long"))
        .otherwise(F.raise_error(
            F.lit(f"packed segment key {c} out of range [0, 2^{w})")
        ))
        for c, w in zip(key_cols, key_widths)
    ]
    kp = keys[0]
    for k, w in zip(keys[1:], key_widths[1:]):
        kp = F.shiftleft(kp, w).bitwiseOR(k)
    if n_sub > 1:
        sub = F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_sub)).cast(
            "long"
        )
        grp = F.array(
            *[
                F.struct(
                    F.least(F.col("_sub"), F.lit(q)).alias("gi"),
                    F.greatest(F.col("_sub"), F.lit(q)).alias("gj"),
                )
                for q in range(n_sub)
            ]
        )
        sk = (
            sk.withColumn("_kp", kp)
            .withColumn("_sub", sub)
            .select(
                "_kp", id_col, "simhash", "_sub",
                F.explode(grp).alias("_g"),
            )
            .select(
                F.shiftleft(
                    F.shiftleft(
                        F.shiftleft(F.col("_kp"), sb).bitwiseOR(
                            F.col("_g.gi").cast("long")
                        ),
                        sb,
                    ).bitwiseOR(F.col("_g.gj").cast("long")),
                    sb,
                )
                .bitwiseOR(F.col("_sub"))
                .alias("_packed"),
                id_col,
                "simhash",
            )
        )
    else:
        sk = sk.select(
            F.shiftleft(kp, 3 * sb).alias("_packed"),
            id_col,
            "simhash",
        )

    def _empty():
        d = {
            "id_a": np.array([], np.int64),
            "id_b": np.array([], np.int64),
        }
        if emit_hamming:
            # int32: parity with the JVM bit_count column type
            d["hamming"] = np.array([], np.int32)
        return pd.DataFrame(d)

    def gen(it):
        chunks = [p for p in it if len(p)]
        if not chunks:
            return
        pdf = (
            chunks[0]
            if len(chunks) == 1
            else pd.concat(chunks, ignore_index=True)
        )
        n = len(pdf)
        pk = pdf["_packed"].to_numpy(np.int64)
        seg = pk >> sb  # segment identity excludes sub
        ids = pdf[id_col].to_numpy(np.int64)
        sks = pdf["simhash"].to_numpy(np.int64)
        # 32-bit fast path: xor + popcount at half the memory traffic
        # (identical hamming values — pinned by the parity suite)
        sks32 = (
            sks.astype(np.uint32)
            if n and 0 <= sks.min() and sks.max() < (1 << 32)
            else None
        )
        starts, lens, seg_of_row, pos = _runs([seg])
        if n_sub > 1:
            submask = (1 << sb) - 1
            seg_start = seg[starts]
            gi = (seg_start >> sb) & submask
            gj = seg_start & submask
            subv = pk & submask
            diag_seg = gi == gj
            # cross segments: a-side (sub == gi) sorts first
            is_a = subv == gi[seg_of_row]
            n_a = np.add.reduceat(is_a.astype(np.int64), starts)
            n_b = lens - n_a
            diag_r = lens[seg_of_row] - pos - 1
            cross_r = np.where(is_a, n_b[seg_of_row], 0)
            rep = np.where(diag_seg[seg_of_row], diag_r, cross_r)
            # partner base index: next row (diag) / b-side start (cross)
            b_start = starts + n_a
            base = np.where(
                diag_seg[seg_of_row],
                np.arange(n) + 1,
                b_start[seg_of_row],
            )
        else:
            rep = lens[seg_of_row] - pos - 1
            base = np.arange(n) + 1
        emitted = False
        for a_idx, b_idx in _pair_chunks(rep, base):
            if sks32 is not None:
                ham = _popcount32(sks32[a_idx] ^ sks32[b_idx]).astype(
                    np.int64
                )
            else:
                ham = _popcount64(sks[a_idx] ^ sks[b_idx])
            if max_hamming is not None:
                m = ham <= max_hamming
                a_idx, b_idx, ham = a_idx[m], b_idx[m], ham[m]
            if len(a_idx):
                ia, ib = ids[a_idx], ids[b_idx]
                d = {
                    "id_a": np.minimum(ia, ib),
                    "id_b": np.maximum(ia, ib),
                }
                if emit_hamming:
                    d["hamming"] = ham.astype(np.int32)
                emitted = True
                yield pd.DataFrame(d)
        if not emitted:
            yield _empty()

    # explicit N: same AQE-coalescing hazard as _segment_pairs — the
    # sketch stream is tiny in bytes (AQE folded sf1.0's 1.6M rows to
    # 13 partitions) but pair enumeration is quadratic per segment, so
    # the n_sub spread only works if the partition count holds
    n_part = _n_partitions(sk.sparkSession)
    # shuffle on the segment identity (sub excluded — every row of a
    # segment must land together), sort on the full packed key
    part = sk.repartition(
        n_part, F.shiftright(F.col("_packed"), sb)
    ).sortWithinPartitions("_packed")
    schema = f"id_a long, id_b long" + (
        ", hamming integer" if emit_hamming else ""
    )
    return part.mapInPandas(gen, schema=schema).select(
        *out_cols
    )


def simhash_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    prefix_bits: int = 16,
) -> DataFrame:
    """SimHash near-dup candidates: docs whose sketches share the top
    ``prefix_bits`` bits land in one bucket and pair up — the cheap
    hamming-prefix filter (full hamming-distance verify happens on the
    tiny candidate set downstream).

    Execution (r7): pairs are enumerated segment-wise after one
    shuffle of the sketch rows (:func:`_bucketed_hamming_pairs`)
    instead of a self-join + distinct. Each doc owns exactly ONE
    (sketch, bucket) row, so within a bucket every unordered pair
    occurs once — the former ``.distinct()`` was a full shuffle of
    the pair stream that never removed a row, and the self-join
    evaluated the sketch subtree twice. (``id_col`` is a key;
    duplicate ids would previously have been collapsed by the
    distinct — that degenerate input is excluded by contract, as in
    the oracle.)"""
    sk = simhash(df, id_col, text_col).withColumn(
        "bucket", F.shiftright("simhash", 32 - prefix_bits)
    )
    return _bucketed_hamming_pairs(
        sk, ["bucket"], id_col, None, emit_hamming=False,
        key_widths=[prefix_bits],  # bucket < 2^prefix_bits
    )


def simhash_neardup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    prefix_bits: int = 16,
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-duplicates, candidate + verify: prefix-bucket
    candidates (the cheap filter of ``simhash_candidate_pairs``) pass
    through the exact hamming-distance check —
    ``bit_count(xor(a, b)) <= max_hamming`` — entirely in the JVM.
    Bucket-join shuffle + per-candidate popcount; never O(n²).
    Classic Manku/Jain/Das Sarma near-dup detection, with the single
    prefix table as the (documented) recall trade-off: rotations/
    multi-prefix tables extend it the same way the SRP multi-table
    construction does in similarity.py."""
    sk = simhash(df, id_col, text_col).withColumn(
        "bucket", F.shiftright("simhash", 32 - prefix_bits)
    )
    # segment-wise pair enumeration + numpy popcount verify (r7): one
    # shuffle of |docs| sketch rows replaces the self-join's double
    # sketch evaluation and per-candidate JVM verify; each doc has one
    # bucket so pair multiplicity is 1 and no distinct is needed
    # (id_col is a key, same contract as the oracle)
    return _bucketed_hamming_pairs(
        sk, ["bucket"], id_col, max_hamming, emit_hamming=True,
        key_widths=[prefix_bits],  # bucket < 2^prefix_bits
    )


def simhash_neardup_pairs_blocked(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    n_bits: int = 32,
) -> DataFrame:
    """SimHash near-duplicates with GUARANTEED full recall — the
    pigeonhole (blocked) construction of Manku/Jain/Das Sarma: split
    the ``n_bits`` sketch into ``max_hamming + 1`` equal blocks; two
    sketches within hamming distance ``max_hamming`` must agree exactly
    on at least one block (d differing bits cannot touch d+1 blocks),
    so bucketing each block into its own table and exact-verifying
    candidates returns EXACTLY the brute-force hamming-ball answer —
    unlike the single-prefix variant (``simhash_neardup_pairs``) whose
    recall depends on where the differing bits fall.

    Cost: shuffle = |docs|·(max_hamming+1) rows of (id, sketch, tbl,
    bucket); per-bucket pair fan-in is corpus/2^block_bits — with a
    32-bit sketch and d=3 that is 8-bit blocks (256 buckets), fine to
    ~10^5 docs per partition-disjoint domain; at larger corpora widen
    the sketch (n_bits=48 → 12-bit blocks, n_bits=60 → 15-bit; the
    packed long + 60-bit base hash cap n_bits at 60) to keep
    buckets sparse.
    All JVM: the sketch rides through the bucket join so the hamming
    verify is a codegen'd ``bit_count(xor)``, no second join."""
    if not 1 <= n_bits <= 60:
        raise ValueError(f"n_bits must be in [1, 60], got {n_bits}")
    n_blocks = max_hamming + 1
    block_bits = n_bits // n_blocks
    sk = simhash(df, id_col, text_col, n_bits)
    entries = F.array(
        *[
            F.struct(
                F.lit(t).cast("int").alias("tbl"),
                F.shiftright("simhash", t * block_bits)
                .bitwiseAND(F.lit((1 << block_bits) - 1))
                .alias("bucket"),
            )
            for t in range(n_blocks)
        ]
    )
    tb = sk.select(
        F.col(id_col), F.col("simhash"), F.explode(entries).alias("e")
    ).select(id_col, "simhash", F.col("e.tbl").alias("tbl"), F.col("e.bucket").alias("bucket"))
    # segment-wise enumerate + popcount verify (r7), same shape as the
    # prefix variant; a pair agreeing on several blocks emits one
    # bitwise-identical (id_a, id_b, hamming) row per agreeing table
    # (hamming is a pure function of the two sketches), so the
    # distinct collapses multi-table duplicates exactly as the join
    # form's did — but over the (tiny) verified set instead of the
    # full candidate stream
    # n_sub=8: the fixture's biased bit votes concentrate ~25% of the
    # corpus in a handful of block buckets (measured 285 M candidate
    # pairs, 90 M in ONE bucket at sf1.0) — the sub-block split
    # spreads a hot bucket's pair grid over 36 partitions
    return _bucketed_hamming_pairs(
        tb, ["tbl", "bucket"], id_col, max_hamming,
        emit_hamming=True, n_sub=8,
        # tbl < n_blocks, bucket < 2^block_bits
        key_widths=[max(1, (n_blocks - 1).bit_length()), block_bits],
    ).distinct()


# Affine MinHash permutations over the prime field GF(p), p =
# MINHASH_P = 2^31-1. One (expensive, md5-based) base hash per shingle,
# then n cheap arithmetic permutations h_i(x) = (a_i*x + b_i) mod p --
# the classic formulation; a_i*x stays < 2^62 so 64-bit arithmetic
# never overflows.


def minhash_coeffs(n_hashes: int, seed: int = 1337) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs shared by the Spark operator and the
    SQL oracle generator."""
    import numpy as np

    rng = np.random.default_rng(seed)
    a = rng.integers(1, MINHASH_P, size=n_hashes)
    b = rng.integers(0, MINHASH_P, size=n_hashes)
    return [(int(x), int(y)) for x, y in zip(a, b)]


def minhash_signature(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """MinHash signature: sig[i] = min over shingles of
    (h32(shingle) % p * a_i + b_i) % p. One md5 per shingle total;
    pure map-side -- no shuffle.

    Tokenization is the Java-\\s parity split and shingles are
    per-doc DISTINCT word shingles; docs with no shingles (fewer than
    ``shingle_n`` tokens, incl. null text) get an all-null signature
    (array_min over an empty array). Execution (r7): an Arrow batch
    kernel — one md5 per DISTINCT shingle per batch + numpy affine
    permutations and a segmented min, instead of an interpreted
    md5+conv+mod HOF step per (shingle × permutation evaluation) in
    the Catalyst form; value-identical (pinned by the parity test and
    the DuckDB oracle)."""
    import numpy as np
    import pandas as pd

    coeffs = np.asarray(minhash_coeffs(n_hashes), dtype=np.int64)
    id_type = df.schema[id_col].dataType.simpleString()
    null_sig = [None] * n_hashes

    def gen(it):
        for pdf in it:
            if not len(pdf):
                continue
            sh = tk.ngrams(tk.split_series(pdf[text_col]), shingle_n)
            sigs: list = [null_sig] * len(pdf)
            if len(sh):
                inv, uh = tk.distinct_md5(sh)
                # array_distinct parity: distinct (doc, shingle) codes,
                # sorted by doc, so a searchsorted segmentation is valid
                key = np.unique(
                    (sh.index.to_numpy() << 32) | inv.astype(np.int64)
                )
                doc_of = key >> 32
                base = uh[key & 0xFFFFFFFF] % MINHASH_P
                perms = (
                    base[:, None] * coeffs[None, :, 0]
                    + coeffs[None, :, 1]
                ) % MINHASH_P
                have = np.unique(doc_of)
                starts = np.searchsorted(doc_of, have)
                mins = np.minimum.reduceat(perms, starts, axis=0)
                for row_i, doc in enumerate(have):
                    sigs[doc] = mins[row_i].tolist()
            yield pd.DataFrame(
                {id_col: pdf[id_col].to_numpy(), "sig": sigs}
            )

    return df.select(id_col, text_col).mapInPandas(
        gen, schema=f"{id_col} {id_type}, sig array<long>"
    )


def _band_candidates(
    sigs: DataFrame, n_hashes: int, n_bands: int, id_col: str
) -> DataFrame:
    """Banded LSH candidate generation over a signature frame: explode
    each signature into (band, band-values) rows, bucket-join, emit
    distinct (id_a < id_b) pairs. The ONE implementation behind both
    ``lsh_candidate_pairs`` and ``lsh_estimated_jaccard`` — a banding
    change cannot silently diverge their candidate sets."""
    if n_hashes % n_bands != 0:
        # same guard as the streaming filter: a non-divisible split
        # silently drops the trailing signature slots from every band
        raise ValueError(
            f"n_hashes ({n_hashes}) must be divisible by n_bands "
            f"({n_bands})"
        )
    rows_per_band = n_hashes // n_bands
    bands = sigs.select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.slice(
                            "sig", b * rows_per_band + 1, rows_per_band
                        ).alias("vals"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bk"),
    ).select(id_col, "bk.band", "bk.vals")
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(b, on=["band", "vals"])
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 16,
    n_bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """MinHash-LSH candidate pairs: split the signature into bands,
    bucket-join on (band_idx, band values). Shuffle volume is
    |docs|·n_bands, and only same-bucket docs ever meet."""
    sigs = minhash_signature(df, id_col, text_col, n_hashes, shingle_n)
    return _band_candidates(sigs, n_hashes, n_bands, id_col)


def lsh_estimated_jaccard(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 16,
    n_bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """The MinHash payoff: for each LSH candidate pair, ESTIMATE the
    Jaccard similarity as the fraction of agreeing signature slots —
    E[agree/n] = J(a,b), the property MinHash exists for — without
    ever touching the documents again. Candidates and signatures share
    one signature computation (persisted scan); the estimate join
    moves only (id, sig) rows. At 100 TB this replaces the exact
    verify for pipelines that tolerate ±1/√n estimation error, keeping
    the whole dedup decision sketch-resident."""
    sigs = minhash_signature(
        df, id_col, text_col, n_hashes, shingle_n
    ).persist()
    cand = _band_candidates(sigs, n_hashes, n_bands, id_col)
    sa = sigs.select(F.col(id_col).alias("id_a"), F.col("sig").alias("_sa"))
    sb = sigs.select(F.col(id_col).alias("id_b"), F.col("sig").alias("_sb"))
    agree = F.size(
        F.filter(
            F.zip_with(F.col("_sa"), F.col("_sb"), lambda x, y: x == y),
            lambda t: t,
        )
    )
    out = (
        cand.join(sa, on="id_a")
        .join(sb, on="id_b")
        .select(
            "id_a",
            "id_b",
            F.round(agree / F.lit(n_hashes), 4).alias("est_jaccard"),
        )
    )
    out = out.localCheckpoint(eager=True)
    sigs.unpersist()
    return out


def simhash(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_bits: int = 32,
) -> DataFrame:
    """SimHash sketch: bit j is the sign of the ±1 vote over all token
    hashes' j-th bits (token multiset, not distinct — classic SimHash).
    Single pass over the token array per row, no shuffle. ``n_bits``
    up to 60: the packed sketch must fit a signed long AND the base
    hash supplies at most 60 bits of entropy (15 md5 hex chars, the
    8-char h32 up to 32 bits) — bits beyond the base hash's width would
    always vote negative and sit permanently at zero, the same
    degenerate-bit class the long-arithmetic packing fix addressed.

    Execution (r7): an Arrow ``mapInPandas`` batch kernel — tokens
    are uniqued before hashing (one md5 per DISTINCT token per batch,
    ``tokenize.distinct_md5``) and the bit votes are one numpy
    reduceat over the token stream, instead of the Catalyst form's
    interpreted ±1 vote per token × bit (~tokens×n_bits steps per
    row); value-identical (pinned by the golden and parity tests). A
    null text gives a null sketch."""
    if not 1 <= n_bits <= 60:
        raise ValueError(f"n_bits must be in [1, 60], got {n_bits}")
    import numpy as np
    import pandas as pd

    hexlen = 8 if n_bits <= 32 else 15
    shifts = np.arange(n_bits, dtype=np.uint64)
    weights = (np.int64(1) << np.arange(n_bits, dtype=np.int64))

    def gen(it):
        for pdf in it:
            if not len(pdf):
                continue
            toks = tk.split_series(pdf[text_col])
            counts = np.bincount(toks.index.to_numpy(), minlength=len(pdf))
            sk = np.zeros(len(pdf), dtype=np.int64)
            if len(toks):
                inv, uh = tk.distinct_md5(toks, hexlen)
                # ±1 votes per (token, bit), summed per row via
                # reduceat over the flat token stream, at the offsets
                # of the rows that have tokens only: a token-less (null)
                # row's offset repeats its neighbor's or, at the end of
                # the batch, is past the stream
                bits = (
                    (uh.astype(np.uint64)[inv, None] >> shifts[None, :])
                    & np.uint64(1)
                ).astype(np.int64) * 2 - 1
                offsets = np.concatenate([[0], np.cumsum(counts)[:-1]])
                has = counts > 0
                votes = np.zeros((len(pdf), n_bits), dtype=np.int64)
                votes[has] = np.add.reduceat(bits, offsets[has], axis=0)
                sk = ((votes > 0) * weights[None, :]).sum(axis=1)
            # null text → null sketch (Catalyst: split(null) is null and
            # the vote fold stays null)
            isnull = pdf[text_col].isna().to_numpy()
            if isnull.any():
                sk = sk.astype(object)
                sk[isnull] = None
            yield pd.DataFrame(
                {id_col: pdf[id_col].to_numpy(), "simhash": sk}
            )

    id_type = df.schema[id_col].dataType.simpleString()
    return df.select(id_col, text_col).mapInPandas(
        gen, schema=f"{id_col} {id_type}, simhash long"
    )


def doc_neardup_groups(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 16,
    n_bands: int = 4,
    shingle_n: int = 3,
    min_est_jaccard: float = 0.5,
    max_iter: int = 20,
) -> DataFrame:
    """Text-side near-duplicate GROUPS — the dedup decision step of a
    training-data pipeline: MinHash-LSH candidates → sketch-resident
    Jaccard estimate (documents never re-read) → edges with estimate ≥
    ``min_est_jaccard`` → connected components → every doc labelled
    with its group's min doc_id (``grp``). Keep-one-per-group is then
    ``filter(doc_id == grp)`` — a map-side predicate, no extra
    shuffle.

    Scale shape: candidate generation is band-bounded (shuffle =
    docs×bands), the estimate join moves (id, sig) rows only, and the
    CC step is size-adaptive (driver union-find under
    ``graph._DRIVER_EDGES`` edges, distributed min-label propagation
    above — see ``graph.components_from_pairs``)."""
    from dbus_spark.operators.graph import components_from_pairs

    edges = lsh_estimated_jaccard(
        df, id_col, text_col, n_hashes, n_bands, shingle_n
    ).filter(F.col("est_jaccard") >= min_est_jaccard)
    return components_from_pairs(
        edges, df.select(F.col(id_col)), id_col, max_iter=max_iter
    )
