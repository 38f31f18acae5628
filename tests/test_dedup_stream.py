"""Streaming near-dup filter: stream == sequential replica for any
micro-batch split (the operator's contract: decisions depend on
arrival order and bucket state, not on batching or partitioning)."""

import os

import numpy as np
import pandas as pd
import pytest

from dbus_spark.datagen import generate_documents
from dbus_spark.operators.dedup_stream import (
    minhash_sigs_pandas,
    neardup_filter_foreach_batch,
    resolve_neardup_verdicts,
    streaming_neardup_verdicts,
)

N_HASHES, N_BANDS, MIN_EST = 16, 4, 0.5


def _replica_keep_set(pdf: pd.DataFrame, sigs: dict) -> set:
    """Sequential reference: docs in (ts, doc_id) order; per band
    bucket (band, band-values) independently — dup iff ANY bucket has
    a rep with signature agreement >= MIN_EST; a doc becomes a rep in
    every bucket where it did NOT hit (mirroring the operator's
    independent bucket cells: a doc dropped via one band still seeds
    the others — dup-of-dup chains collapse onto canonicals)."""
    r = N_HASHES // N_BANDS
    reps: dict = {}
    keep = set()
    for _, row in pdf.sort_values(["ts", "doc_id"]).iterrows():
        sig = np.asarray(sigs[row["doc_id"]])
        hit_any = False
        for b in range(N_BANDS):
            bkt = (b, tuple(sig[b * r:(b + 1) * r]))
            rs = reps.setdefault(bkt, [])
            hit = any(
                (np.asarray(s) == sig).mean() >= MIN_EST for s in rs
            )
            if hit:
                hit_any = True
            else:
                rs.append(sig)
        if not hit_any:
            keep.add(row["doc_id"])
    return keep


@pytest.fixture(scope="module")
def corpus():
    pdf = generate_documents(250, seed=9)[["doc_id", "text"]]
    base = pd.Timestamp("2026-01-01")
    pdf["ts"] = (
        base + pd.to_timedelta(pdf["doc_id"] * 7, unit="s")
    ).astype("datetime64[us]")
    return pdf


@pytest.fixture(scope="module")
def expected_keep(spark, corpus):
    # the SAME signature kernel the streaming operator's Arrow UDF
    # calls — one implementation, so the replica can't drift
    mat = minhash_sigs_pandas(
        corpus["text"], corpus["doc_id"], N_HASHES, 3
    )
    sigs = dict(zip(corpus["doc_id"], mat))
    keep = _replica_keep_set(corpus, sigs)
    # the fixture corpus must actually contain near-dups or the test
    # proves nothing
    assert 0 < len(keep) < len(corpus)
    return keep


def _run_stream(spark, corpus, tmp_path, n_files: int) -> set:
    in_dir = tmp_path / f"in_{n_files}"
    os.makedirs(in_dir)
    parts = np.array_split(np.arange(len(corpus)), n_files)
    for i, idx in enumerate(parts):
        corpus.iloc[idx].to_parquet(
            in_dir / f"b-{i:04d}.parquet", index=False
        )
    src = (
        spark.readStream.schema("doc_id long, text string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir))
    )
    v = streaming_neardup_verdicts(
        src, min_est_jaccard=MIN_EST, n_hashes=N_HASHES, n_bands=N_BANDS
    )
    got: list = []

    def collect(batch_df, _epoch):
        got.append(
            resolve_neardup_verdicts(batch_df).select("doc_id").toPandas()
        )

    q = (
        v.writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / f"ck_{n_files}"))
        .foreachBatch(collect)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(60)
    out = pd.concat(got, ignore_index=True)
    assert out["doc_id"].is_unique  # each doc resolved exactly once
    return set(out["doc_id"])


def test_stream_matches_replica_single_batch(
    spark, corpus, expected_keep, tmp_path
):
    assert _run_stream(spark, corpus, tmp_path, 1) == expected_keep


def test_stream_matches_replica_multi_batch(
    spark, corpus, expected_keep, tmp_path
):
    # state carries reps across micro-batches; the split must not
    # change any decision
    assert _run_stream(spark, corpus, tmp_path, 5) == expected_keep


def test_foreach_batch_composition(spark, corpus, tmp_path):
    from dbus_spark.sinks import IdempotentKeyedSink

    in_dir = tmp_path / "in_fb"
    os.makedirs(in_dir)
    corpus.to_parquet(in_dir / "b-0000.parquet", index=False)
    src = (
        spark.readStream.schema("doc_id long, text string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir))
    )
    v = streaming_neardup_verdicts(src, min_est_jaccard=MIN_EST)
    sink = IdempotentKeyedSink(
        str(tmp_path / "out_fb"), keys=["doc_id"],
        dedup_mode="epoch_overwrite", track_counts=False,
    )
    q = (
        v.writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_fb"))
        .foreachBatch(neardup_filter_foreach_batch(sink.foreach_batch()))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(60)
    out = sink.read(spark).toPandas()
    assert out["doc_id"].is_unique and len(out) > 0
    assert {"doc_id", "text", "ts"} <= set(out.columns)


def test_stream_kill_resume_preserves_decisions(
    spark, corpus, expected_keep, tmp_path
):
    """Restart mid-stream from the checkpoint: rep state must carry
    over so post-resume decisions are identical to the uninterrupted
    run (and the sink stays exactly-once under epoch replay)."""
    from dbus_spark.sinks import IdempotentKeyedSink

    in_dir = tmp_path / "in_kr"
    os.makedirs(in_dir)
    parts = np.array_split(np.arange(len(corpus)), 4)
    for i, idx in enumerate(parts):
        corpus.iloc[idx].to_parquet(
            in_dir / f"b-{i:04d}.parquet", index=False
        )
    sink = IdempotentKeyedSink(
        str(tmp_path / "out_kr"), keys=["doc_id"],
        dedup_mode="epoch_overwrite", track_counts=False,
    )

    def start():
        src = (
            spark.readStream.schema(
                "doc_id long, text string, ts timestamp"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(str(in_dir))
        )
        v = streaming_neardup_verdicts(
            src, min_est_jaccard=MIN_EST, n_hashes=N_HASHES,
            n_bands=N_BANDS,
        )
        return (
            v.writeStream.outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ck_kr"))
            .foreachBatch(
                neardup_filter_foreach_batch(sink.foreach_batch())
            )
            .start()
        )

    import time as _time

    q = start()
    while len(os.listdir(sink.meta_path)) < 2:  # ≥2 committed epochs
        _time.sleep(0.2)
    q.stop()
    q.awaitTermination(60)

    q2 = start()
    q2.processAllAvailable()
    q2.stop()
    q2.awaitTermination(60)

    out = sink.read(spark).select("doc_id").toPandas()
    assert out["doc_id"].is_unique
    assert set(out["doc_id"]) == expected_keep


def test_string_doc_ids(spark, tmp_path):
    """ADVICE r4: a string id_col (public-API option) must work — the
    sentinel derives from a hash of the id instead of an int64 cast."""
    pdf = generate_documents(120, seed=11)[["doc_id", "text"]]
    pdf["doc_id"] = "doc-" + pdf["doc_id"].astype(str)
    # include short docs (< shingle_n tokens) so the sentinel path runs
    pdf.loc[pdf.index[:5], "text"] = "hi"
    base = pd.Timestamp("2026-01-01")
    pdf["ts"] = (
        base + pd.to_timedelta(np.arange(len(pdf)) * 3, unit="s")
    ).astype("datetime64[us]")
    in_dir = tmp_path / "in_str"
    os.makedirs(in_dir)
    pdf.to_parquet(in_dir / "b-0000.parquet", index=False)
    src = (
        spark.readStream.schema("doc_id string, text string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir))
    )
    v = streaming_neardup_verdicts(src, min_est_jaccard=MIN_EST)
    got: list = []

    def collect(batch_df, _epoch):
        got.append(
            resolve_neardup_verdicts(batch_df).select("doc_id").toPandas()
        )

    q = (
        v.writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_str"))
        .foreachBatch(collect)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(60)
    out = pd.concat(got, ignore_index=True)
    assert out["doc_id"].is_unique and 0 < len(out) < len(pdf)
    # sentinel contract: short docs are always kept, never matched
    short_ids = set(pdf["doc_id"].iloc[:5])
    assert short_ids <= set(out["doc_id"])


def test_bands_must_divide_hashes(spark):
    """ADVICE r4: n_hashes % n_bands != 0 silently dropped trailing
    signature slots from every band key — now a hard error, streaming
    and batch."""
    from dbus_spark.operators.dedup import lsh_candidate_pairs

    src = spark.readStream.format("rate").load()
    with pytest.raises(ValueError, match="divisible"):
        streaming_neardup_verdicts(src, n_hashes=16, n_bands=3)
    docs = spark.createDataFrame(
        [(1, "a b c d e")], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="divisible"):
        lsh_candidate_pairs(docs, n_hashes=16, n_bands=3)


def test_catalyst_mode_null_and_short_text(spark, tmp_path):
    """ADVICE r4: sig_mode='catalyst' with a null/short text used to
    produce a null signature and crash np.stack for the whole
    micro-batch; it now coalesces to the per-doc sentinel."""
    pdf = generate_documents(60, seed=13)[["doc_id", "text"]]
    pdf.loc[pdf.index[0], "text"] = None
    pdf.loc[pdf.index[1], "text"] = "one two"  # < 3 tokens, no shingles
    base = pd.Timestamp("2026-01-01")
    pdf["ts"] = (
        base + pd.to_timedelta(np.arange(len(pdf)) * 3, unit="s")
    ).astype("datetime64[us]")
    in_dir = tmp_path / "in_cat"
    os.makedirs(in_dir)
    pdf.to_parquet(in_dir / "b-0000.parquet", index=False)
    src = (
        spark.readStream.schema("doc_id long, text string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir))
    )
    v = streaming_neardup_verdicts(
        src, min_est_jaccard=MIN_EST, sig_mode="catalyst"
    )
    got: list = []

    def collect(batch_df, _epoch):
        got.append(
            resolve_neardup_verdicts(batch_df).select("doc_id").toPandas()
        )

    q = (
        v.writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_cat"))
        .foreachBatch(collect)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(60)
    out = pd.concat(got, ignore_index=True)
    assert out["doc_id"].is_unique and len(out) > 0
    # the null-text and short-text docs are sentinel rows: always kept
    assert {pdf["doc_id"].iloc[0], pdf["doc_id"].iloc[1]} <= set(
        out["doc_id"]
    )


class _FakeState:
    """Minimal GroupState stand-in for driving the cell fn directly."""

    def __init__(self, wm_ms=10**15):
        self._wm = wm_ms
        self._val = None
        self.hasTimedOut = False

    def getCurrentWatermarkMs(self):
        return self._wm

    @property
    def exists(self):
        return self._val is not None

    @property
    def get(self):
        return self._val

    def update(self, v):
        self._val = v

    def remove(self):
        self._val = None

    def setTimeoutTimestamp(self, ts):
        pass


def test_single_hot_bucket_10k_bounded(spark):
    """VERDICT r4 #3: a degenerate first batch funneling 10k ALL-NOVEL
    rows into ONE LSH bucket must complete in bounded time — the
    in-batch novel-vs-novel pass is blockwise-vectorized, not a python
    loop with a numpy call per row. Decisions must equal the
    sequential replica's."""
    import time as _time

    from dbus_spark.operators.dedup_stream import _make_cell_fn

    n, h = 10_000, 16
    rng = np.random.default_rng(5)
    # unique random signatures -> every row is novel (worst case);
    # plant 50 near-dup pairs to pin correctness of the forward pass
    sig = rng.integers(0, 2**31, size=(n, h)).astype(np.int64)
    for k in range(50):
        sig[2 * k + 1] = sig[2 * k]  # exact dup of its predecessor
    base = pd.Timestamp("2026-01-01").value // 10**3
    batch = pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": ["x"] * n,
            "ts": pd.to_datetime(
                base + np.arange(n, dtype=np.int64), unit="us"
            ),
            "band": np.zeros(n, dtype=np.int32),
            "_ndsig": list(sig),
            "_ndid": np.arange(n, dtype=np.int64),
            "_ndbkt": np.zeros(n, dtype=np.int64),  # ONE hot bucket
        }
    )
    fn = _make_cell_fn(
        ["doc_id", "text", "ts", "band"],
        min_est=MIN_EST,
        rep_ttl_ms=10**12,
        max_reps=10**9,
    )
    st = _FakeState()
    t0 = _time.time()
    (out,) = list(fn((0,), iter([batch]), st))
    wall = _time.time() - t0
    assert wall < 30, f"hot-bucket batch took {wall:.1f}s"
    dup_ids = set(out.loc[out["is_dup"], "doc_id"])
    assert dup_ids == {2 * k + 1 for k in range(50)}
    assert len(out) == n  # all band-0 rows emitted


def test_minhash_kernel_matches_slow_reference():
    """The r5 kernel (polynomial-roll token hashing + segmented min)
    must equal a per-doc, per-shingle reference implementation built
    from the same primitives — pins the vectorized index arithmetic
    (window validity, doc boundaries, sentinel rows) that replaced the
    r4 shingle-string path."""
    from dbus_spark.operators.dedup import MINHASH_P, minhash_coeffs
    from dbus_spark.operators.dedup_stream import _ROLL_B
    from dbus_spark.operators.tokenize import JAVA_WS as _JAVA_WS

    import re

    n_hashes, shingle_n = 16, 3
    texts = pd.Series(
        [
            "alpha beta gamma delta epsilon",
            "alpha beta gamma",          # exactly one shingle
            "two words",                  # no shingles -> sentinel
            "",                           # splits to [''] -> no shingles
            None,                         # null text -> sentinel
            "alpha  beta\tgamma  delta",  # multi-whitespace runs
            "alpha beta gamma delta epsilon",  # dup of row 0
        ]
    )
    ids = pd.Series([10, 11, 12, 13, 14, 15, 16], dtype="int64")
    got = minhash_sigs_pandas(texts, ids, n_hashes, shingle_n)

    coeffs = minhash_coeffs(n_hashes)

    def slow_sig(text, doc_id):
        if text is None:
            return [-doc_id - 1] * n_hashes
        toks = re.split(_JAVA_WS, text.strip(" "))
        shingles = [
            toks[i : i + shingle_n]
            for i in range(len(toks) - shingle_n + 1)
        ]
        if not shingles:
            return [-doc_id - 1] * n_hashes
        hs = []
        for sh in shingles:
            th = [
                # int() BEFORE the modulo: uint64 % python-int routes
                # through float64 in numpy and loses precision
                int(
                    pd.util.hash_pandas_object(
                        pd.Series([t]), index=False
                    ).iloc[0]
                )
                % MINHASH_P
                for t in sh
            ]
            acc = th[0]
            for x in th[1:]:
                acc = (acc * _ROLL_B + x) % MINHASH_P
            hs.append(acc)
        return [
            min((h * a + b) % MINHASH_P for h in hs) for a, b in coeffs
        ]

    for r, (text, doc_id) in enumerate(zip(texts, ids)):
        assert list(got[r]) == slow_sig(text, int(doc_id)), (r, text)
    # identical texts -> identical signatures; sentinels unique per id
    assert list(got[0]) == list(got[6])
    assert list(got[2]) != list(got[3]) != list(got[4])


def test_minhash_sketch_of_nul_text_is_batch_independent():
    """A token holding U+0000 hashes by all of its bytes in every
    batch. pandas' C-string hashing of an all-string batch would merge
    "alpha\x00" into an earlier "alpha" and make the sketch depend on
    the other documents of the micro-batch."""
    nul = "alpha\x00 beta\x00x gamma delta"
    alone = minhash_sigs_pandas(pd.Series([nul]), pd.Series([1]))
    after = minhash_sigs_pandas(
        pd.Series(["alpha beta gamma delta", nul]), pd.Series([0, 1])
    )
    assert list(alone[0]) == list(after[1])
    assert list(after[0]) != list(after[1])
