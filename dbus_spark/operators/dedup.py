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

Every sketch operator takes ``hash_fn``:

- ``"md5"`` (default): first 8 md5-hex chars → int. Chosen for
  cross-engine reproducibility (same value in DuckDB:
  ``('0x'||substr(md5(s),1,8))::BIGINT``) — the oracle-parity mode the
  driver correctness gate pins.
- ``"xxhash64"``: Spark's codegen'd non-cryptographic hash folded into
  the same [0, 2^32) range — the production mode: at 100 TB the
  per-shingle md5 is the dominant sketch CPU and buys nothing (dedup
  needs uniformity, not collision resistance). Bucket assignments
  differ between modes (different hash, different permutation), but
  the verified near-dup answer is the same — pinned by an equivalence
  test that verifies both modes' candidates against exact similarity.

``ngram_jaccard_pairs`` has no hash at all (it joins raw shingles), so
it takes no knob.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dbus_spark.operators import tokenize as tk
from dbus_spark.operators.text import fingerprint, tokens
from dbus_spark.operators.tokenize import MINHASH_P
from dbus_spark.session import _n_partitions


def _h32(c: Column, hash_fn: str = "md5") -> Column:
    """Deterministic hash into [0, 2^32): md5-derived (reproducible in
    ANSI SQL, the oracle mode) or xxhash64-derived (codegen'd JVM hash,
    the production mode — several-fold cheaper per shingle)."""
    if hash_fn == "md5":
        return F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long")
    if hash_fn == "xxhash64":
        return F.pmod(F.xxhash64(c), F.lit(1 << 32)).cast("long")
    raise ValueError(f"hash_fn must be 'md5' or 'xxhash64', got {hash_fn!r}")


def _hash_bits(c: Column, n_bits: int, hash_fn: str = "md5") -> Column:
    """Deterministic hash with at least ``n_bits`` of entropy (≤ 60):
    the 32-bit ``_h32`` for narrow sketches (oracle-parity form), a
    60-bit md5 slice / folded xxhash64 for wide ones — a 32-bit base
    hash under a wider sketch would leave every bit ≥ 32 voting
    negative (zero entropy), which for the blocked near-dup tables
    means whole blocks of always-colliding zero buckets."""
    if n_bits <= 32:
        return _h32(c, hash_fn)
    if hash_fn == "md5":
        # 15 hex chars = 60 bits, fits a signed long
        return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")
    return F.pmod(F.xxhash64(c), F.lit(1 << 60)).cast("long")


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


def _winnow_fingerprints_arrow(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    w: int,
) -> DataFrame:
    """Arrow/numpy execution of the md5 winnowing pass — identical
    rows to the Catalyst HOF form: same normalization (trim-spaces →
    lower → Java-\\s runs to one space), same md5-h32 per character
    k-gram, same w-window minima, per-doc distinct, explode_outer
    (short/null docs emit a null fingerprint row). k-grams are
    extracted as fixed-width byte views (ASCII fast path) and uniqued
    per batch before hashing — one md5 per DISTINCT k-gram instead of
    one interpreted HOF step per position (``tokenize.distinct_md5``)."""
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


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    w: int = 4,
    hash_fn: str = "md5",
) -> DataFrame:
    """Winnowing document fingerprints (the MOSS scheme): hash every
    character ``k``-gram of the normalized text (the rolling hash —
    here the md5-derived h32 so the oracle reproduces it), then keep
    the minimum hash of every ``w``-wide window and dedup. Guarantees
    any match of length ≥ w+k-1 shares a fingerprint, at ~2/(w+1)
    selection density. Map-side either way — the shuffle, if any,
    belongs to the downstream fingerprint join.

    Execution (r7): the md5 mode runs as the Arrow batch kernel
    (:func:`_winnow_fingerprints_arrow`) — same rows, one md5 per
    distinct k-gram per batch + numpy sliding-window minima, instead
    of one interpreted md5+conv HOF step per character position
    (~n_chars·2 steps/doc). xxhash64 stays Catalyst (codegen'd hash,
    no Python replica)."""
    if hash_fn == "md5":
        return _winnow_fingerprints_arrow(df, id_col, text_col, k, w)
    return _winnow_fingerprints_catalyst(df, id_col, text_col, k, w, hash_fn)


def _winnow_fingerprints_catalyst(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    w: int = 4,
    hash_fn: str = "md5",
) -> DataFrame:
    """The Catalyst HOF winnowing pass — the xxhash64 production mode,
    and (with md5) the parity reference the Arrow kernel is pinned
    against."""
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
        return F.transform(idx, lambda i: _h32(t.substr(i, F.lit(k)), hash_fn))

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
        change = np.zeros(n, dtype=bool)
        for c in key_cols:
            a = pdf[c].to_numpy()
            change[1:] |= a[1:] != a[:-1]
        starts = np.concatenate([[0], np.flatnonzero(change[1:]) + 1])
        lens = np.diff(np.concatenate([starts, [n]]))
        seg_of_row = np.repeat(np.arange(len(starts)), lens)
        rep = lens[seg_of_row] - (np.arange(n) - starts[seg_of_row]) - 1
        if max_df is not None:
            rep = np.where(lens[seg_of_row] <= max_df, rep, 0)
        ids = pdf[id_col].to_numpy()
        if emit_self:
            alive = (
                lens[seg_of_row] <= max_df
                if max_df is not None
                else np.ones(n, dtype=bool)
            )
            if alive.any():
                sid = ids[alive]
                yield pd.DataFrame({"id_a": sid, "id_b": sid})
        csum = np.concatenate([[0], np.cumsum(rep)])
        total = int(csum[-1])
        if total == 0:
            if not emit_self:
                yield pd.DataFrame(
                    {"id_a": ids[:0], "id_b": ids[:0]}
                )
            return
        CHUNK = 4_000_000
        lo_row = 0
        while lo_row < n:
            hi_row = int(
                np.searchsorted(csum, csum[lo_row] + CHUNK, side="left")
            )
            hi_row = min(max(hi_row, lo_row + 1), n)
            r = rep[lo_row:hi_row]
            t = int(r.sum())
            if t:
                a_idx = np.repeat(np.arange(lo_row, hi_row), r)
                w = np.arange(t) - np.repeat(
                    np.cumsum(np.concatenate([[0], r[:-1]])), r
                )
                b_idx = a_idx + 1 + w
                ia, ib = ids[a_idx], ids[b_idx]
                yield pd.DataFrame(
                    {
                        "id_a": np.minimum(ia, ib),
                        "id_b": np.maximum(ia, ib),
                    }
                )
            lo_row = hi_row

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
    hash_fn: str = "md5",
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
    base = winnow_fingerprints(df, id_col, text_col, k, w, hash_fn).filter(
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
    key_widths: list[int] | None = None,
) -> DataFrame:
    """Within-bucket pair enumeration + popcount verify, fully
    vectorized: shuffle the sketch rows once on the bucket key(s),
    sort within partitions, and emit every same-bucket (id_a < id_b)
    pair from ONE ``mapInPandas`` pass — pair construction is the
    repeat/offset trick over segment run-lengths (zero Python per
    group; a per-group ``applyInPandas`` paid ~0.5 ms × tens of
    thousands of near-empty buckets, slower than the join it
    replaced). Hamming is SWAR popcount over the xor'd sketch pairs;
    ``max_hamming`` filters, ``emit_hamming`` keeps the column.
    Pair-list construction is chunked so the live arrays stay bounded
    even when one bucket is quadratic-hot.

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
    # ``key_widths`` (bit width per key_col, caller-guaranteed bounds,
    # all values non-negative): pack (keys, gi, gj, sub) into ONE long
    # so the Arrow crossing ships 3 columns instead of 7 and the JVM
    # sort compares one long — measured several-fold on the per-task
    # read wall at 32 concurrent local tasks. Sort order of the packed
    # long equals the multi-column (keys..., gi, gj, sub) order
    # exactly (non-negative fields, high-to-low layout), and the
    # kernel decodes the same arrays, so results are identical.
    packed_mode = key_widths is not None
    sb = max(1, (n_sub - 1).bit_length())  # bits for each of gi/gj/sub
    if packed_mode:
        if len(key_widths) != len(key_cols):
            raise ValueError("key_widths must align with key_cols")
        if sum(key_widths) + 3 * sb > 62:
            raise ValueError("packed segment key exceeds 62 bits")
        kp = F.col(key_cols[0]).cast("long")
        for c, w in zip(key_cols[1:], key_widths[1:]):
            kp = F.shiftleft(kp, w).bitwiseOR(F.col(c).cast("long"))
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
        seg_cols = sort_cols = shuffle_cols = ["_packed"]  # unused below
    elif n_sub > 1:
        sub = F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_sub)).cast("int")
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
            sk.withColumn("_sub", sub)
            .select(
                *key_cols, id_col, "simhash", "_sub",
                F.explode(grp).alias("_g"),
            )
            .select(
                *key_cols, id_col, "simhash", "_sub",
                F.col("_g.gi").alias("_gi"), F.col("_g.gj").alias("_gj"),
            )
        )
        seg_cols = list(key_cols) + ["_gi", "_gj"]
        sort_cols = seg_cols + ["_sub"]
        shuffle_cols = seg_cols
    else:
        sk = sk.withColumn("_sub", F.lit(0).cast("int"))
        seg_cols = list(key_cols)
        sort_cols = seg_cols
        shuffle_cols = seg_cols

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
        if packed_mode:
            pk = pdf["_packed"].to_numpy(np.int64)
            keyarrs = [pk >> sb]  # segment identity excludes sub
        else:
            keyarrs = [pdf[c].to_numpy(np.int64) for c in seg_cols]
        ids = pdf[id_col].to_numpy(np.int64)
        sks = pdf["simhash"].to_numpy(np.int64)
        # 32-bit fast path: xor + popcount at half the memory traffic
        # (identical hamming values — pinned by the parity suite)
        sks32 = (
            sks.astype(np.uint32)
            if n and 0 <= sks.min() and sks.max() < (1 << 32)
            else None
        )
        change = np.zeros(n, dtype=bool)
        for a in keyarrs:
            change[1:] |= a[1:] != a[:-1]
        starts = np.concatenate([[0], np.flatnonzero(change[1:]) + 1])
        lens = np.diff(np.concatenate([starts, [n]]))
        seg_of_row = np.repeat(np.arange(len(starts)), lens)
        pos = np.arange(n) - starts[seg_of_row]
        if n_sub > 1:
            if packed_mode:
                submask = (1 << sb) - 1
                seg_start = keyarrs[0][starts]
                gi = (seg_start >> sb) & submask
                gj = seg_start & submask
                subv = pk & submask
            else:
                gi = pdf["_gi"].to_numpy(np.int64)[starts]
                gj = pdf["_gj"].to_numpy(np.int64)[starts]
                subv = pdf["_sub"].to_numpy(np.int64)
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
        csum = np.concatenate([[0], np.cumsum(rep)])
        total = int(csum[-1])
        if total == 0:
            yield _empty()
            return
        CHUNK = 4_000_000
        emitted = False
        lo_row = 0
        while lo_row < n:
            hi_row = int(
                np.searchsorted(csum, csum[lo_row] + CHUNK, side="left")
            )
            hi_row = min(max(hi_row, lo_row + 1), n)
            r = rep[lo_row:hi_row]
            t = int(r.sum())
            if t:
                idx_t = np.int32 if n < (1 << 31) else np.int64
                a_idx = np.repeat(
                    np.arange(lo_row, hi_row, dtype=idx_t), r
                )
                w = np.arange(t, dtype=idx_t) - np.repeat(
                    np.cumsum(np.concatenate([[0], r[:-1]])).astype(idx_t),
                    r,
                )
                b_idx = base[a_idx] + w
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
            lo_row = hi_row
        if not emitted:
            yield _empty()

    # explicit N: same AQE-coalescing hazard as _segment_pairs — the
    # sketch stream is tiny in bytes (AQE folded sf1.0's 1.6M rows to
    # 13 partitions) but pair enumeration is quadratic per segment, so
    # the n_sub spread only works if the partition count holds
    n_part = _n_partitions(sk.sparkSession)
    if packed_mode:
        # shuffle on the segment identity (sub excluded — every row of
        # a segment must land together), sort on the full packed key
        part = sk.repartition(
            n_part, F.shiftright(F.col("_packed"), sb)
        ).sortWithinPartitions("_packed")
        sel = ["_packed", id_col, "simhash"]
    else:
        part = sk.repartition(
            n_part, *[F.col(c) for c in shuffle_cols]
        ).sortWithinPartitions(*sort_cols)
        sel = list(dict.fromkeys(sort_cols + [id_col, "simhash"]))
    schema = f"id_a long, id_b long" + (
        ", hamming integer" if emit_hamming else ""
    )
    return part.select(*sel).mapInPandas(gen, schema=schema).select(
        *out_cols
    )


def simhash_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    prefix_bits: int = 16,
    hash_fn: str = "md5",
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
    sk = simhash(df, id_col, text_col, hash_fn=hash_fn).withColumn(
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
    hash_fn: str = "md5",
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
    sk = simhash(df, id_col, text_col, hash_fn=hash_fn).withColumn(
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
    hash_fn: str = "md5",
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
    sk = simhash(df, id_col, text_col, n_bits, hash_fn)
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
    hash_fn: str = "md5",
) -> DataFrame:
    """MinHash signature: sig[i] = min over shingles of
    (h32(shingle) % p * a_i + b_i) % p. One md5 per shingle total;
    pure map-side -- no shuffle.

    Execution (r7): the md5 mode runs as an Arrow batch kernel
    (:func:`_minhash_signature_arrow`) — one md5 per DISTINCT shingle
    per batch + numpy affine permutations and a segmented min, instead
    of an interpreted md5+conv+mod HOF step per (shingle × permutation
    evaluation) — value-identical incl. the [null]*n signature of
    short/null docs (pinned by parity test and the DuckDB oracle).
    xxhash64 stays Catalyst (codegen'd hash, no cheap Python
    replica)."""
    if hash_fn == "md5":
        return _minhash_signature_arrow(
            df, id_col, text_col, n_hashes, shingle_n
        )
    return minhash_signature_catalyst(
        df, id_col, text_col, n_hashes, shingle_n, hash_fn
    )


def minhash_signature_catalyst(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 16,
    shingle_n: int = 3,
    hash_fn: str = "md5",
) -> DataFrame:
    """The Catalyst HOF signature — the xxhash64 production mode, and
    (with md5) the parity reference for the Arrow kernel."""
    hashed = df.select(
        F.col(id_col),
        _shingle_hashes(text_col, shingle_n, hash_fn).alias("_hs"),
    )
    return hashed.select(
        F.col(id_col), minhash_sig_col(F.col("_hs"), n_hashes).alias("sig")
    )


def _minhash_signature_arrow(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int,
    shingle_n: int,
) -> DataFrame:
    """Arrow/numpy execution of the md5 MinHash signature — identical
    values to the Catalyst HOF form: same tokenization (the Java-\\s
    parity split), same per-doc DISTINCT word shingles, same
    md5-h32 % p base hash and affine permutations; docs with no
    shingles (fewer than ``shingle_n`` tokens, incl. null text) emit
    the same all-null signature the Catalyst array_min-over-empty
    produces."""
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


def _shingle_hashes(
    text_col: str, shingle_n: int, hash_fn: str
) -> Column:
    """Base-hash every shingle once (the only md5/xxhash work in the
    MinHash operators)."""
    return F.transform(
        word_shingles(text_col, shingle_n),
        lambda s: _h32(s, hash_fn) % F.lit(MINHASH_P),
    )


def minhash_sig_col(hashes: Column, n_hashes: int) -> Column:
    """The signature as a composable COLUMN over pre-hashed shingles —
    the one implementation behind ``minhash_signature`` and the
    streaming near-dup filter (which must keep its other columns)."""
    coeffs = minhash_coeffs(n_hashes)

    def _perm(a: int, b: int):
        # must be a strictly unary lambda: pyspark counts every
        # parameter (defaults included) as a lambda argument
        return lambda h: (h * F.lit(a) + F.lit(b)) % F.lit(MINHASH_P)

    return F.array(
        *[
            F.array_min(F.transform(hashes, _perm(a, b)))
            for (a, b) in coeffs
        ]
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
    hash_fn: str = "md5",
) -> DataFrame:
    """MinHash-LSH candidate pairs: split the signature into bands,
    bucket-join on (band_idx, band values). Shuffle volume is
    |docs|·n_bands, and only same-bucket docs ever meet."""
    sigs = minhash_signature(df, id_col, text_col, n_hashes, shingle_n, hash_fn)
    return _band_candidates(sigs, n_hashes, n_bands, id_col)


def lsh_estimated_jaccard(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 16,
    n_bands: int = 4,
    shingle_n: int = 3,
    hash_fn: str = "md5",
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
        df, id_col, text_col, n_hashes, shingle_n, hash_fn
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


def _simhash_arrow(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_bits: int,
) -> DataFrame:
    """Arrow/numpy execution of the md5 SimHash sketch — identical
    values to the Catalyst HOF form (same tokenization, same md5-slice
    base hash, same ±1 bit votes and power-of-two packing), computed
    per batch: tokens are uniqued before hashing (one md5 per DISTINCT
    token per batch instead of one interpreted HOF step per token ×
    bit), bit votes are one numpy reduceat over the token stream."""
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


def simhash(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_bits: int = 32,
    hash_fn: str = "md5",
) -> DataFrame:
    """SimHash sketch: bit j is the sign of the ±1 vote over all token
    hashes' j-th bits (token multiset, not distinct — classic SimHash).
    Single pass over the token array per row, no shuffle. ``n_bits``
    up to 60: the packed sketch must fit a signed long AND ``_hash_bits``
    supplies at most 60 bits of entropy (15 md5 hex chars / pmod 2^60
    on the xxhash64 path) — bits beyond the base hash's width would
    always vote negative and sit permanently at zero, the same
    degenerate-bit class the long-arithmetic packing fix addressed.

    Execution (r7): the md5 mode runs as an Arrow ``mapInPandas``
    batch kernel (:func:`_simhash_arrow`) — the Catalyst HOF form
    evaluated an interpreted ±1 vote per token × bit (~tokens×n_bits
    steps per row); the Arrow kernel hashes each DISTINCT token once
    per batch and folds the votes in numpy, value-identical (pinned by
    the golden and parity tests). The xxhash64 mode stays Catalyst —
    Spark's codegen'd xxhash64 has no cheap Python replica."""
    if not 1 <= n_bits <= 60:
        raise ValueError(f"n_bits must be in [1, 60], got {n_bits}")
    if hash_fn == "md5":
        return _simhash_arrow(df, id_col, text_col, n_bits)
    return _simhash_catalyst(df, id_col, text_col, n_bits, hash_fn)


def _simhash_catalyst(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_bits: int = 32,
    hash_fn: str = "md5",
) -> DataFrame:
    """The Catalyst HOF SimHash — the xxhash64 production mode, and
    (with md5) the parity reference for the Arrow kernel."""
    if not 1 <= n_bits <= 60:
        raise ValueError(f"n_bits must be in [1, 60], got {n_bits}")
    toks = tokens(text_col)
    # hash each token once, then fold the ±1 bit votes
    hashes = F.transform(toks, lambda t: _hash_bits(t, n_bits, hash_fn))
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
    # long), and the SUM runs in long arithmetic: the previous packing
    # summed in double, where a running total spanning >= 53 bits
    # silently dropped the low bits
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


def doc_neardup_groups(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 16,
    n_bands: int = 4,
    shingle_n: int = 3,
    min_est_jaccard: float = 0.5,
    hash_fn: str = "md5",
    max_iter: int = 20,
    small_graph_threshold: int = 100_000,
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
    ``small_graph_threshold`` edges, distributed min-label propagation
    above — see ``graph.components_from_pairs``)."""
    from dbus_spark.operators.graph import components_from_pairs

    edges = lsh_estimated_jaccard(
        df, id_col, text_col, n_hashes, n_bands, shingle_n, hash_fn
    ).filter(F.col("est_jaccard") >= min_est_jaccard)
    return components_from_pairs(
        edges,
        df.select(F.col(id_col)),
        id_col,
        max_iter=max_iter,
        small_graph_threshold=small_graph_threshold,
    )
