"""Deterministic synthetic data generators (FIXTURES.md F1/F2).

Everything is seeded; the same (seed, knobs) always produces
byte-identical tables — the per-turn text equality invariant from
BASELINE.json depends on this. Pure numpy/pandas: the generator is the
*fixture*, not the engine, so it deliberately avoids Spark.

The transcript generator models the reference's load generator
(MockInput, reference: plugins/bootstrap.go:5, etc/mock.cf) plus the
fault fixtures its chaos checklist exercises (reference: TODO.md "test
cases": duplicate delivery, replay, out-of-order resume).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd

EPOCH_BASE = np.datetime64("2026-01-01T00:00:00", "us")

_VOCAB = [
    f"w{i:03d}" for i in range(256)
]  # fixed token vocabulary — text is a deterministic "token salad"

_TOOLS = np.array(["search", "python", "browser", "sql"])
_ROLES = np.array(["user", "assistant", "tool"])


@dataclass(frozen=True)
class TranscriptKnobs:
    """Perturbation knobs (FIXTURES.md F1); all on by default."""

    late_frac: float = 0.02
    dup_frac: float = 0.01
    jitter_seconds: float = 30.0  # bounded out-of-order arrival horizon
    watermark_seconds: float = 600.0  # horizon used to size late shifts
    hot_conv_frac: float = 0.05  # top conversation holds ~5% of turns
    # redeliveries whose payload MUTATED in flight (retry stamped a
    # token) — byte-level dedup can't catch these; the streaming
    # near-dup filter exists for exactly this shape (r5 fused soak)
    mutated_dup_frac: float = 0.0


def generate_transcripts(
    n_convs: int = 100,
    seed: int = 42,
    mean_turns: int = 12,
    knobs: TranscriptKnobs | None = None,
) -> pd.DataFrame:
    """Generate the transcript table with skew/late/dup/ooo fixtures.

    Returns a pandas DataFrame with the BASELINE.json input_hint columns
    ``conv_id, turn_idx, role, text, tool, ts`` plus an ``_arrival``
    timestamp column (processing-time order; drop before handing the
    frame to the engine, use it to split streaming micro-batch files).
    Rows are sorted by ``_arrival``.
    """
    knobs = knobs or TranscriptKnobs()
    rng = np.random.default_rng(seed)

    # Conversation sizes: Zipf(s=1.2) clipped, so a few convs are hot.
    sizes = np.clip(rng.zipf(1.2, size=n_convs), 2, mean_turns * 8)
    total = int(sizes.sum())
    # Force the skew fixture: conv 0 holds ~hot_conv_frac of all turns.
    hot = max(int(total * knobs.hot_conv_frac), int(sizes.max()) + 1)
    sizes[0] = hot
    total = int(sizes.sum())

    conv_ord = np.repeat(np.arange(n_convs), sizes)
    # per-CONVERSATION name table indexed per row, as OBJECT dtype: a
    # fixed-width numpy unicode array here means pandas re-converts all
    # total rows U->object at frame build (measured ~0.4 s per column);
    # an object table fancy-indexes as pointer copies. Identical values.
    conv_names = np.char.add(
        "conv", np.char.zfill(np.arange(n_convs).astype(str), 8)
    ).astype(object)
    conv_id = conv_names[conv_ord]
    turn_idx = np.concatenate([np.arange(s) for s in sizes]).astype(np.int32)

    # Roles: user starts every conversation; then a user/assistant cycle
    # with seeded tool turns replacing ~30% of assistant follow-ups.
    # Computed as int codes (0=user, 1=assistant, 2=tool) so the string
    # materialization is one fancy index into a 3-element object table
    # instead of per-row unicode compares + a U->object re-conversion.
    role_code = (turn_idx % 3).astype(np.int8)  # user, assistant, tool, ...
    demote = rng.random(total) < 0.3
    role_code = np.where((role_code == 2) & demote, np.int8(1), role_code)
    role_code[turn_idx == 0] = 0
    role = _ROLES.astype(object)[role_code]

    tool = np.where(
        role_code == 2,
        _TOOLS.astype(object)[rng.integers(0, len(_TOOLS), total)],
        None,
    )

    # Event time: conversation k starts at base + k*7s; per-turn gaps
    # Exp(mean 20 s), cumulative within the conversation.
    gaps = rng.exponential(20.0, size=total)
    gaps[turn_idx == 0] = 0.0
    starts = conv_ord.astype(np.float64) * 7.0
    # cumulative sum per conversation, vectorized via global cumsum reset
    g = np.cumsum(gaps)
    first_pos = np.concatenate([[0], np.cumsum(sizes)[:-1]])
    offset_at_start = np.repeat(g[first_pos], sizes)
    within = g - offset_at_start + np.repeat(gaps[first_pos], sizes)
    ts_sec = starts + within
    ts = EPOCH_BASE + (ts_sec * 1e6).astype("timedelta64[us]")

    # Text: deterministic token salad, 5..40 vocab words per turn.
    n_words = rng.integers(5, 41, size=total)
    word_ids = rng.integers(0, len(_VOCAB), size=int(n_words.sum()))
    vocab = np.array(_VOCAB)
    # vectorized join (r7): the per-row " ".join loop was ~2 s of every
    # streaming-bench fixture build. All vocab words are fixed-width
    # ASCII, so lay out (word + " ") rows in one byte matrix and slice
    # each document's span off the flat buffer — byte-identical output
    # (separator dropped from the last word), no rng involved.
    wlen = len(_VOCAB[0])
    ends = np.cumsum(n_words)
    starts = ends - n_words
    if all(len(w) == wlen for w in _VOCAB):
        cells = np.empty((len(word_ids), wlen + 1), dtype=np.uint8)
        cells[:, :wlen] = (
            vocab.astype(f"S{wlen}")[word_ids]
            .view(np.uint8)
            .reshape(-1, wlen)
        )
        cells[:, wlen] = 0x20
        # decode the flat buffer ONCE and slice the str — a bytes
        # slice + per-row .decode was ~1.7x slower (same characters)
        big = cells.tobytes().decode("ascii")
        W = wlen + 1
        joined = [
            big[s * W : e * W - 1] for s, e in zip(starts, ends)
        ]
    else:  # future-proof fallback, identical semantics
        joined = [
            " ".join(vocab[word_ids[s:e]]) for s, e in zip(starts, ends)
        ]
    # "t{conv}-{turn} {salad}", assembled from per-conversation and
    # per-turn-value piece tables (tiny: n_convs / max_turns entries)
    # so the per-row work is two str concats, no int formatting. Kept
    # as a plain list — np.array() on 273k variable-length strings
    # builds a fixed-width U-array that pandas immediately re-converts,
    # ~1.1 s of pure dtype churn per fixture build.
    pref = np.array([f"t{c}-" for c in conv_names], dtype=object)[conv_ord]
    mid = np.array(
        [f"{i} " for i in range(int(turn_idx.max()) + 1)], dtype=object
    )[turn_idx]
    text = list(map(str.__add__, map(str.__add__, pref, mid), joined))

    # Arrival (processing) time: event time + bounded jitter (the
    # out-of-order fixture) + big shifts for the late-data fixture.
    arrival_sec = ts_sec + rng.uniform(0, knobs.jitter_seconds, total)
    n_late = int(total * knobs.late_frac)
    late_rows = rng.choice(total, size=n_late, replace=False)
    half = n_late // 2
    # half inside the watermark horizon (must be included) ...
    arrival_sec[late_rows[:half]] += rng.uniform(
        knobs.jitter_seconds, knobs.watermark_seconds * 0.8, half
    )
    # ... half far beyond it (must be dropped by watermarked operators)
    arrival_sec[late_rows[half:]] += rng.uniform(
        knobs.watermark_seconds * 1.2,
        knobs.watermark_seconds * 1.5,
        n_late - half,
    )

    df = pd.DataFrame(
        {
            "conv_id": conv_id,
            "turn_idx": turn_idx,
            "role": role,
            "text": text,
            "tool": tool,
            "ts": ts,
            "_arrival": arrival_sec,
        }
    )

    # Duplicates: 1% of rows re-emitted with a later arrival (the
    # at-least-once redelivery fixture the idempotent sink must absorb).
    n_dup = int(total * knobs.dup_frac)
    dup_rows = df.iloc[rng.choice(total, size=n_dup, replace=False)].copy()
    dup_rows["_arrival"] = dup_rows["_arrival"] + rng.uniform(
        1.0, knobs.jitter_seconds, n_dup
    )
    df = pd.concat([df, dup_rows], ignore_index=True)

    # Mutated redeliveries: same (conv_id, turn_idx), later arrival,
    # ONE salad word swapped — a retry that stamped/edited the payload.
    # Byte-identical dedup (fingerprint state) cannot catch these; the
    # near-dup filter should (high shingle overlap with the original),
    # and the per-conv ordering frontier is the backstop for the few
    # short-text ones whose estimated similarity falls under threshold.
    n_mut = int(total * knobs.mutated_dup_frac)
    if n_mut:
        mut = df.iloc[rng.choice(total, size=n_mut, replace=False)].copy()
        parts = mut["text"].str.split(" ")
        swap_at = rng.integers(1, parts.str.len().clip(lower=2))
        repl = vocab[rng.integers(0, len(vocab), n_mut)]
        mut["text"] = [
            " ".join(p[:i] + ["re" + w] + p[i + 1 :])
            for p, i, w in zip(parts, swap_at, repl)
        ]
        # the retry re-stamps its event time too (+1s): the original
        # strictly precedes its mutated copy in (ts, id) order, so a
        # near-dup filter deterministically keeps the ORIGINAL as the
        # cluster representative
        mut["ts"] = mut["ts"] + pd.Timedelta(seconds=1)
        mut["_arrival"] = mut["_arrival"] + rng.uniform(
            1.0, knobs.jitter_seconds, n_mut
        )
        df = pd.concat([df, mut], ignore_index=True)

    df = df.sort_values("_arrival", kind="stable").reset_index(drop=True)
    df["ts"] = df["ts"].astype("datetime64[us]")
    return df


def write_stream_batches(
    df: pd.DataFrame,
    out_dir: str,
    n_files: int = 8,
    start_index: int = 0,
    row_group_size: int = 2000,
) -> list[str]:
    """Split an ``_arrival``-ordered transcript frame into N parquet
    files (micro-batch fixture for the file-stream source). Returns the
    file paths in arrival order. ``start_index`` offsets the file
    numbering so later calls append to a live drop directory without
    clobbering files the stream already consumed. Any frame will do:
    an ``_arrival`` column is dropped when present, and
    ``datetime64[ns]`` columns are written as microseconds (parquet
    ``TIMESTAMP(NANOS)`` is rejected by Spark's ``timestamp`` reader).

    ``row_group_size`` keeps the files SPLITTABLE: pandas' default
    writes each file as one row group, and a parquet split cannot
    cross a row-group boundary, so every map-side stage of a
    1-file-per-trigger stream ran as a single task regardless of
    ``maxPartitionBytes`` (found r5 — 2.6x on the near-dup ingest
    from this alone). Real crawl/transcript shards are
    multi-row-group."""
    os.makedirs(out_dir, exist_ok=True)
    body = df.drop(columns=["_arrival"], errors="ignore")
    ns = body.select_dtypes("datetime64[ns]").columns
    body = body.astype({c: "datetime64[us]" for c in ns})
    paths = []
    for i, chunk in enumerate(np.array_split(np.arange(len(body)), n_files)):
        p = os.path.join(out_dir, f"batch-{start_index + i:05d}.parquet")
        body.iloc[chunk].to_parquet(
            p, index=False, row_group_size=row_group_size
        )
        paths.append(p)
    return paths


# --- F2: reference-shaped CDC events (golden-compat fixture) ---------

GOLDEN_ROWS_EVENT = {
    # the canonical event from the reference's golden serialization test
    # (reference: pkg/model/rowsevent_test.go:11-21)
    "log": "mysql-bin.0001",
    "pos": 498876,
    "db": "mydabase",
    "tbl": "user_account",
    "dml": "I",
    "ts": 1486554654,
    "cols": ["name", "age", "note"],
    "rows": [["user", "15", "hello world"]],
}


def generate_rows_events(
    n_events: int = 1000, seed: int = 42, golden_first: bool = True
) -> pd.DataFrame:
    """Reference-shaped binlog rows-event table (FIXTURES.md F2).

    dbs db1..db4 (allow/exclude fixture ≈ etc/canal.cf db_excluded),
    monotone pos per log file with rotation every 10^4, 10% update
    events carrying [before, after] row pairs.
    """
    rng = np.random.default_rng(seed)
    dbs = np.array([f"db{i}" for i in range(1, 5)])
    tbls = np.array([f"tbl{i}" for i in range(1, 4)])

    db = dbs[rng.integers(0, len(dbs), n_events)]
    tbl = tbls[rng.integers(0, len(tbls), n_events)]
    dml = np.where(
        rng.random(n_events) < 0.10,
        "U",
        np.where(rng.random(n_events) < 0.5, "I", "D"),
    )
    file_no = np.arange(n_events) // 10_000
    log = np.array([f"mysql-bin.{i:04d}" for i in file_no])
    pos = (np.arange(n_events) % 10_000) * 217 + 4
    ts_sec = 1486554654 + np.cumsum(rng.exponential(0.5, n_events))
    ts = np.datetime64("1970-01-01", "us") + (ts_sec * 1e6).astype(
        "timedelta64[us]"
    )
    dt = ts + np.timedelta64(50_000, "us")

    cols = [["name", "age", "note"]] * n_events
    rows = []
    for i in range(n_events):
        after = [f"user{i}", str(int(rng.integers(10, 90))), "hello world"]
        if dml[i] == "U":
            before = [f"user{i}", str(int(rng.integers(10, 90))), "old"]
            rows.append([before, after])
        else:
            rows.append([after])

    df = pd.DataFrame(
        {
            "log": log,
            "pos": pos.astype(np.int64),
            "db": db,
            "tbl": tbl,
            "dml": dml,
            "ts": ts.astype("datetime64[us]"),
            "dt": dt.astype("datetime64[us]"),
            "cols": cols,
            "rows": rows,
        }
    )
    if golden_first:
        g = GOLDEN_ROWS_EVENT
        df.iloc[0] = {
            "log": g["log"],
            "pos": g["pos"],
            "db": g["db"],
            "tbl": g["tbl"],
            "dml": g["dml"],
            "ts": np.datetime64(g["ts"], "s").astype("datetime64[us]"),
            "dt": np.datetime64(g["ts"], "s").astype("datetime64[us]"),
            "cols": g["cols"],
            "rows": g["rows"],
        }
    return df


# --- corpus generators (scale-growth evidence) -------------------------
#
# /root/testdata stops at sf0.1 (5k docs / 2k embeddings); the pair-join
# ladder's "never O(n^2)" claim needs measured growth ACROSS scales, so
# these generate self-similar corpora at any size: the same recipe at
# 1x/3x/10x keeps token distribution, duplicate-cluster sizes, and
# near-dup density per doc constant — only the doc count grows — which
# is exactly the regime where a sub-quadratic operator must show a
# near-linear wall-clock exponent.

_DOC_LANGS = np.array(["en", "en", "zh", "es", "fr", "de"])


def generate_documents(
    n_docs: int,
    seed: int = 42,
    dup_frac: float = 0.15,
    mean_cluster: int = 3,
    mutate_frac: float = 0.08,
    n_sources: int = 20,
    vocab_size: int | None = None,
) -> pd.DataFrame:
    """Documents table with the testdata shape (doc_id, text, lang,
    source, n_chars): token-salad base docs plus near-duplicate
    clusters — ``dup_frac`` of docs are members of a cluster whose
    copies mutate ``mutate_frac`` of tokens. Cluster-size distribution
    is scale-free (geometric with the same mean at any n_docs), so
    true-pair count grows ~linearly in n_docs.

    ``vocab_size`` defaults to ``max(512, n_docs // 4)`` — vocabulary
    growing with the corpus (Heaps' law) keeps the PER-SHINGLE document
    frequency roughly constant across scales, so a fixed ``max_df``
    boilerplate cut means the same thing at 5k docs and 50k docs. A
    fixed small vocab would instead make every shingle "hot" at scale
    and the df-cut would silently delete the whole corpus."""
    rng = np.random.default_rng(seed)
    if vocab_size is None:
        vocab_size = max(512, n_docs // 4)
    # random-letter words, NOT serial "w00042"-style tokens: serial
    # names share most of their characters, so character-shingle
    # operators (winnowing k-grams) would see near-universal cross-doc
    # overlap and the corpus would degenerate to all-pairs
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < vocab_size:
        need = vocab_size - len(words)
        lens = rng.integers(3, 9, size=need * 2)
        flat = rng.integers(0, 26, size=int(lens.sum()))
        off = 0
        for ln in lens:
            w = "".join(letters[flat[off:off + ln]])
            off += ln
            if w not in seen:
                seen.add(w)
                words.append(w)
                if len(words) >= vocab_size:
                    break
    vocab = np.array(words)
    n_base = int(n_docs * (1 - dup_frac))
    lengths = rng.integers(8, 90, size=n_base)
    base_texts = [
        " ".join(rng.choice(vocab, size=ln)) for ln in lengths
    ]
    texts = list(base_texts)
    # near-dup clusters: pick base docs, append mutated copies
    while len(texts) < n_docs:
        src = texts[rng.integers(0, n_base)]
        toks = src.split()
        k = max(1, min(rng.geometric(1 / mean_cluster), n_docs - len(texts)))
        for _ in range(k):
            t = list(toks)
            n_mut = max(1, int(len(t) * mutate_frac))
            for pos in rng.integers(0, len(t), size=n_mut):
                t[pos] = vocab[rng.integers(0, vocab_size)]
            texts.append(" ".join(t))
            if len(texts) >= n_docs:
                break
    texts = texts[:n_docs]
    lang = _DOC_LANGS[rng.integers(0, len(_DOC_LANGS), size=n_docs)]
    source = np.array(
        [f"src{i}" for i in rng.integers(0, n_sources, size=n_docs)]
    )
    return pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": lang,
            "source": source,
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def generate_embeddings(
    n_vecs: int,
    dim: int = 64,
    seed: int = 42,
    n_clusters: int | None = None,
    neardup_frac: float = 0.05,
    neardup_noise: float = 0.05,
) -> pd.DataFrame:
    """Embeddings table with the testdata shape (vec_id, embedding
    float32-array, label): unit-norm cluster-plus-noise vectors;
    ``neardup_frac`` of vectors are tight copies of an earlier vector
    (cosine ~ 1 - neardup_noise^2/2), giving a scale-free near-dup
    pair density for the SRP/IVF growth runs. ``dim`` is a first-class
    knob — the dim-768 evidence run uses the same generator.

    ``n_clusters`` defaults to ``max(64, n_vecs // 30)``: cluster
    COUNT grows with the corpus so cluster occupancy stays constant.
    A fixed cluster count would make within-cluster occupancy grow
    linearly and the upper tail of same-cluster cosine pairs grow
    QUADRATICALLY — the corpus itself would be O(n^2), and no
    candidate-bounded operator could show sub-quadratic wall-clock on
    it (measured: 10x vecs gave 37x pairs before this fix)."""
    rng = np.random.default_rng(seed)
    if n_clusters is None:
        n_clusters = max(64, n_vecs // 30)
    centers = rng.standard_normal((n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, n_clusters, size=n_vecs)
    V = centers[labels] + 0.35 * rng.standard_normal((n_vecs, dim))
    n_nd = int(n_vecs * neardup_frac)
    if n_nd:
        dst = rng.choice(n_vecs, size=n_nd, replace=False)
        src = rng.integers(0, n_vecs, size=n_nd)
        V[dst] = V[src] + neardup_noise * rng.standard_normal((n_nd, dim))
        labels[dst] = labels[src]
    V /= np.linalg.norm(V, axis=1, keepdims=True)
    V = V.astype(np.float32)
    return pd.DataFrame(
        {
            "vec_id": np.arange(n_vecs, dtype=np.int64),
            "embedding": [v for v in V],
            "label": labels.astype(np.int32),
        }
    )
