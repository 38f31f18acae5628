"""Map-side text primitives shared by the Arrow text kernels.

Every ``mapInPandas`` / ``pandas_udf`` text kernel (shingles, MinHash,
SimHash, winnowing, repetition shares, DSIR hashed features, the
streaming near-dup sketch, and the decontam and LM probes) builds on
the primitives here, so the three rules below are stated, and kept,
in one place.  This module imports no other ``dbus_spark`` operator.

**Parity rule.**  A kernel must produce the bytes its Catalyst twin
produces from ``text.tokens`` = ``F.split(F.trim(c), r"\\s+")``.
Spark ``trim`` strips only 0x20, and Java ``\\s`` is the ASCII class
``[ \\t\\n\\x0b\\f\\r]`` (NBSP and other Unicode spaces are token
characters).  Spark's ``split`` is ``Pattern.split(s, -1)``, which
keeps leading and trailing empty tokens exactly as Python
``re.split`` does: ``"\\ta\\t"`` gives ``["", "a", ""]`` and ``""``
gives ``[""]``.  A null text has no tokens.

**NUL rule.**  Java strings may hold U+0000 like any other character.
pandas 2.2 compares and hashes an object array that holds only
strings (no null) as C strings in ``factorize``, ``groupby``,
``drop_duplicates`` and ``hash_pandas_object``, which cut each string
at its first NUL: ``"a\\x00"``, ``"a\\x00b"`` and ``"a"`` become one
value, and which one stands for the group depends on the order of the
batch (an array that also holds a null is compared exactly).  So no
kernel groups, dedups or hashes token strings with those calls:
:func:`distinct` encodes values with Arrow (``dictionary_encode``
over binary, which compares every byte), and every per-document
distinct or count runs on its integer codes.

**Token-hash scheme.**  :func:`token_hashes` is the one token hash of
the streaming near-dup sketch, the decontam hash and bloom arms and
the LM and DSIR probes: ``pandas.util.hash_array`` of the token
(SipHash over its UTF-8 bytes, pandas' default key) modulo
:data:`MINHASH_P`.  For every token without a NUL this equals
``hash_pandas_object(tokens, index=False) % MINHASH_P``, so sketches
stored in near-dup checkpoints keep their bytes; a token with a NUL
hashes by all of its bytes, the same in every batch.  The build side
(``text.hash_unigram_lm``, ``decontam.hash_bench_ngrams``) and the
probe side call the same function, so they agree byte for byte; two
tokens still share a hash when their 64-bit hashes agree modulo
:data:`MINHASH_P` (a 31-bit collision), which the hash arms accept.
"""

from __future__ import annotations

import hashlib
import re

import numpy as np
import pandas as pd
import pyarrow as pa

# Java \s; the one copy of the class (see the parity rule)
JAVA_WS = re.compile(r"[ \t\n\x0b\f\r]+")

# 2^31 - 1 (Mersenne prime): the token-hash modulus and the MinHash
# prime field
MINHASH_P = 2_147_483_647


def split(text: str | None) -> list[str]:
    """``text.tokens`` for one Python string; a null text gives no
    tokens."""
    if text is None:
        return []
    return JAVA_WS.split(text.strip(" "))


def split_series(texts: pd.Series) -> pd.Series:
    """``text.tokens`` over a batch, exploded: one row per token,
    indexed by its text's position in ``texts`` (non-decreasing, in
    token order), with null texts dropped."""
    toks = (
        texts.reset_index(drop=True)
        .str.strip(" ")
        .str.split(JAVA_WS, regex=True)
        .explode()
    )
    return toks[toks.notna()]


def ngrams(toks: pd.Series, n: int) -> pd.Series:
    """Word ``n``-grams inside each document of a :func:`split_series`
    result: tokens joined by one space, indexed like ``toks``, in
    order; a document with fewer than ``n`` tokens has none."""
    g = toks.groupby(level=0)
    out = toks
    for k in range(1, n):
        out = out + " " + g.shift(-k)
    return out.dropna()


def distinct(values) -> "tuple[np.ndarray, np.ndarray]":
    """``(codes, uniques)`` for a NaN-free array of ``str`` or
    ``bytes``: ``uniques`` holds each distinct value once, in order of
    first appearance, and ``values[i]`` equals ``uniques[codes[i]]``.
    NUL-exact (see the NUL rule)."""
    values = np.asarray(values, dtype=object)
    codes = (
        pa.array(values, type=pa.large_binary())
        .dictionary_encode()
        .indices.to_numpy()
    )
    # codes number the values in order of first appearance, so a
    # value's code is new where the running maximum steps up; taking
    # those values avoids building a Python object per distinct value
    step = np.diff(np.maximum.accumulate(codes), prepend=-1)
    return codes, values[np.flatnonzero(step)]


def distinct_md5(
    values, hexlen: int = 8
) -> "tuple[np.ndarray, np.ndarray]":
    """:func:`distinct`, then one md5 per distinct value: ``(codes,
    h)`` with ``h[c]`` the int64 value of the first ``hexlen`` hex
    digits of the md5 of the UTF-8 bytes of distinct value ``c``: the
    Catalyst ``conv(substr(md5(v), 1, hexlen), 16, 10)``.  ``hexlen``
    is 8 (the h32 of the oracles) or 15 (SimHash's 60-bit base hash)."""
    codes, uniq = distinct(values)
    h = np.fromiter(
        (
            int(
                hashlib.md5(
                    u if isinstance(u, bytes) else u.encode("utf-8")
                ).hexdigest()[:hexlen],
                16,
            )
            for u in uniq
        ),
        dtype=np.int64,
        count=len(uniq),
    )
    return codes, h


def token_hashes(toks: pd.Series) -> np.ndarray:
    """One int64 hash per token, in ``[0, MINHASH_P)``: the token-hash
    scheme of the module docstring."""
    codes, uniq = distinct(toks)
    h = pd.util.hash_array(uniq, categorize=False) % np.uint64(MINHASH_P)
    return h.astype(np.int64)[codes]


def lm_probe(lm: tuple, hashes: np.ndarray, miss: int) -> np.ndarray:
    """The lp6 of each token hash under ``lm`` = ``(sorted hashes,
    aligned lp6)`` (``text.hash_unigram_lm``), or ``miss`` for a hash
    not in it."""
    h_sorted, lp6 = lm
    if not len(h_sorted):
        return np.full(len(hashes), miss, dtype=np.int64)
    pos = np.clip(np.searchsorted(h_sorted, hashes), 0, len(h_sorted) - 1)
    return np.where(h_sorted[pos] == hashes, lp6[pos], miss)


def lm_verdict(
    doc_of: np.ndarray,
    hashes: np.ndarray,
    n_docs: int,
    lm: tuple,
    oov_lp6: int,
    max_logppl: float,
) -> np.ndarray:
    """Keep mask of the LM-perplexity cut: document ``d`` keeps when
    ``round(-sum(lp6) / (n_tokens * 1e6), 4) <= max_logppl`` over its
    tokens (``doc_of`` gives each token hash its document), with
    out-of-vocabulary tokens at ``oov_lp6``.  A document without
    tokens keeps."""
    lp = lm_probe(lm, hashes, int(oov_lp6))
    n = np.bincount(doc_of, minlength=n_docs)
    s = np.bincount(doc_of, weights=lp, minlength=n_docs)
    keep = np.ones(n_docs, dtype=bool)
    has = n > 0
    keep[has] = np.round(-s[has] / (n[has] * 1e6), 4) <= float(max_logppl)
    return keep


def contamination_verdict(
    doc_of: np.ndarray,
    grams: np.ndarray,
    n_docs: int,
    probe,
    max_frac: float,
) -> np.ndarray:
    """Keep mask of the decontam cut: document ``d`` keeps when the
    share of its DISTINCT n-gram hashes (``grams``, each < 2^31, owned
    per ``doc_of``) that ``probe`` (hash array -> bool array) flags is
    ``<= max_frac``.  A document without n-grams keeps."""
    keep = np.ones(n_docs, dtype=bool)
    if len(grams):
        # distinct (doc, gram) via a PACKED 1-D key: 2-D
        # np.unique(axis=0) was 2.2 s vs 0.05 s packed at 40k docs
        key = (doc_of.astype(np.int64) << np.int64(31)) | grams
        uk = np.unique(key)
        d = uk >> np.int64(31)
        hit = probe(uk & np.int64((1 << 31) - 1))
        n_grams = np.bincount(d, minlength=n_docs)
        n_hit = np.bincount(d, weights=hit, minlength=n_docs)
        has = n_grams > 0
        keep[has] = n_hit[has] / n_grams[has] <= max_frac
    return keep
