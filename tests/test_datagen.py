import hashlib
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from dbus_spark.datagen import (
    TranscriptKnobs,
    generate_documents,
    generate_embeddings,
    generate_rows_events,
    generate_transcripts,
    write_stream_batches,
)


def test_determinism():
    a = generate_transcripts(n_convs=30, seed=7)
    b = generate_transcripts(n_convs=30, seed=7)
    pd.testing.assert_frame_equal(a, b)


def _sha256(path):
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def test_write_stream_batches_bytes_and_timestamp_unit(tmp_path):
    # a transcript frame (with ``_arrival``) gives the bytes the
    # original writer gave: drop ``_arrival``, split by position,
    # ``to_parquet`` each part with the row-group size
    pdf = generate_transcripts(n_convs=40, seed=11)
    paths = write_stream_batches(pdf, str(tmp_path / "a"), n_files=3)
    body = pdf.drop(columns=["_arrival"])
    os.makedirs(tmp_path / "ref")
    for i, idx in enumerate(np.array_split(np.arange(len(body)), 3)):
        ref = tmp_path / "ref" / f"batch-{i:05d}.parquet"
        body.iloc[idx].to_parquet(ref, index=False, row_group_size=2000)
        assert os.path.basename(paths[i]) == ref.name
        assert _sha256(paths[i]) == _sha256(ref)
    # any frame: no ``_arrival`` needed, nanoseconds written as micros
    ns = pd.DataFrame(
        {"id": [1, 2], "ts": pd.to_datetime(["2026-01-01", "2026-01-02"])}
    )
    assert ns["ts"].dtype == "datetime64[ns]"
    (path,) = write_stream_batches(ns, str(tmp_path / "b"), n_files=1)
    assert pq.read_schema(path).field("ts").type == pa.timestamp("us")
    assert pd.read_parquet(path)["ts"].tolist() == ns["ts"].tolist()


def test_schema_and_invariants(transcripts_pd):
    df = transcripts_pd
    assert list(df.columns) == [
        "conv_id", "turn_idx", "role", "text", "tool", "ts", "_arrival",
    ]
    uniq = df.drop_duplicates(["conv_id", "turn_idx"])
    # every conversation starts with a user turn and has contiguous idx
    first = uniq[uniq["turn_idx"] == 0]
    assert (first["role"] == "user").all()
    per_conv = uniq.groupby("conv_id")["turn_idx"]
    assert (per_conv.max() + 1 == per_conv.size()).all()
    # tool set only on tool turns
    assert (uniq["tool"].notna() == (uniq["role"] == "tool")).all()


def test_skew_and_duplicates(transcripts_pd):
    df = transcripts_pd
    uniq = df.drop_duplicates(["conv_id", "turn_idx"])
    hot_share = (uniq["conv_id"] == "conv00000000").mean()
    assert hot_share > 0.03  # hot-key fixture present
    n_dups = len(df) - len(uniq)
    assert 0 < n_dups <= int(0.02 * len(df))  # ~1% duplicate fixture


def test_arrival_out_of_order(transcripts_pd):
    df = transcripts_pd
    # arrival order differs from event-time order (the ooo fixture) ...
    assert not df["ts"].is_monotonic_increasing
    # ... and _arrival is sorted (stream replay order)
    assert (np.diff(df["_arrival"].to_numpy()) >= 0).all()


def test_no_late_knob():
    knobs = TranscriptKnobs(late_frac=0.0, dup_frac=0.0)
    df = generate_transcripts(n_convs=20, seed=3, knobs=knobs)
    assert len(df) == len(df.drop_duplicates(["conv_id", "turn_idx"]))


def test_rows_events_golden_row():
    df = generate_rows_events(n_events=50, seed=42)
    g = df.iloc[0]
    assert g["log"] == "mysql-bin.0001"
    assert g["pos"] == 498876
    assert g["db"] == "mydabase"
    assert g["dml"] == "I"
    assert g["rows"] == [["user", "15", "hello world"]]
    # update events carry [before, after] pairs
    ups = df[df["dml"] == "U"]
    assert all(len(r) == 2 for r in ups["rows"])


def test_documents_generator_shape_and_determinism():
    a = generate_documents(800, seed=5)
    b = generate_documents(800, seed=5)
    assert a.equals(b)
    assert list(a.columns) == ["doc_id", "text", "lang", "source", "n_chars"]
    assert a["doc_id"].is_unique
    assert (a["n_chars"] == a["text"].str.len()).all()
    # near-dup clusters exist but don't dominate: some docs share most
    # tokens with a base doc, exact-dup rate stays low
    assert a["text"].nunique() > 0.95 * len(a)


def test_documents_vocab_scales_with_corpus():
    """Heaps'-law scaling: distinct tokens grow with the corpus so a
    fixed max_df boilerplate cut keeps its meaning at every scale."""
    small = generate_documents(2500, seed=5)
    big = generate_documents(25000, seed=5)
    v_small = set(" ".join(small["text"]).split())
    v_big = set(" ".join(big["text"]).split())
    assert len(v_big) > 3 * len(v_small)


def test_embeddings_generator_unit_norm_and_neardups():
    e = generate_embeddings(500, dim=32, seed=5)
    assert e.equals(generate_embeddings(500, dim=32, seed=5))
    V = np.stack(e["embedding"].to_numpy())
    assert V.dtype == np.float32 and V.shape == (500, 32)
    norms = np.linalg.norm(V, axis=1)
    assert np.allclose(norms, 1.0, atol=1e-5)
    # planted near-dups: ~neardup_frac of vectors have a >0.99-cosine
    # neighbor; unrelated cluster members sit far below near-dup range
    sims = V @ V.T
    np.fill_diagonal(sims, -1)
    n_nd = (sims.max(axis=1) > 0.99).sum()
    assert 30 <= n_nd <= 120  # 5% planted -> ~50 rows (src+dst)
