"""Streaming SemDeDup filter: stream == sequential replica for any
micro-batch split, kill/resume continuity, TTL/cap contracts
(operators/dedup_stream.py::streaming_semdedup_filter)."""

import os

import numpy as np
import pandas as pd
import pytest

from dbus_spark.datagen import generate_embeddings
from dbus_spark.operators.dedup_stream import streaming_semdedup_filter
from dbus_spark.operators.similarity import ivf_centroids
from dbus_spark.pipeline.streaming import replay

THR, DIM, NC = 0.4, 64, 16


def _assign_cells(V: np.ndarray, cents: np.ndarray) -> np.ndarray:
    # the operator's own fold-exact accumulation (similarity._fold_dots),
    # so a near-tie cell can't diverge between replica and stream
    from dbus_spark.operators.similarity import _fold_dots

    dots = _fold_dots(V.astype(np.float64), cents)
    return dots.argmax(axis=1)  # first index on ties — the ivf rule


def _replica_keep_set(pdf: pd.DataFrame) -> set:
    """Sequential reference in the operator's own arithmetic: rows in
    (ts, id) order; per cell, dup iff float32 unit-vector dot vs any
    SURVIVING earlier row >= THR."""
    cents = np.asarray(ivf_centroids(NC, DIM, seed=11))
    V = np.stack(pdf["embedding"].to_numpy()).astype(np.float32)
    nrm = np.linalg.norm(V, axis=1, keepdims=True)
    nrm[nrm == 0] = 1.0
    U = V / nrm
    cells = _assign_cells(np.stack(pdf["embedding"].to_numpy()), cents)
    order = pdf.reset_index(drop=True)
    order["_row"] = np.arange(len(order))
    keep: set = set()
    reps: dict = {}
    for _, row in order.sort_values(["ts", "vec_id"]).iterrows():
        i, c = int(row["_row"]), int(cells[int(row["_row"])])
        R = reps.setdefault(c, [])
        if R and (np.stack(R) @ U[i] >= np.float32(THR)).any():
            continue
        R.append(U[i])
        keep.add(row["vec_id"])
    return keep


@pytest.fixture(scope="module")
def corpus():
    pdf = generate_embeddings(300, dim=DIM, seed=5)[["vec_id", "embedding"]]
    base = pd.Timestamp("2026-01-01")
    pdf = pdf.reset_index(drop=True)
    pdf["ts"] = (
        base + pd.to_timedelta(pdf["vec_id"] * 3, unit="s")
    ).astype("datetime64[us]")
    return pdf


@pytest.fixture(scope="module")
def expected_keep(corpus):
    keep = _replica_keep_set(corpus)
    # the fixture must actually contain semantic dups or this proves
    # nothing
    assert 0 < len(keep) < len(corpus)
    return keep


def _run_stream(spark, corpus, n_files: int, **kw) -> set:
    out = replay(
        spark,
        corpus,
        "vec_id long, embedding array<float>, ts timestamp",
        lambda src: streaming_semdedup_filter(
            src, threshold=THR, dim=DIM, n_centroids=NC, **kw
        ).select("vec_id", "cell"),
        n_files,
    )
    assert out["vec_id"].is_unique  # a kept row is emitted exactly once
    return set(out["vec_id"])


def test_stream_matches_replica_single_batch(spark, corpus, expected_keep):
    assert _run_stream(spark, corpus, 1) == expected_keep


def test_stream_matches_replica_multi_batch(spark, corpus, expected_keep):
    # arbitrary micro-batch splits must not change the keep set
    assert _run_stream(spark, corpus, 5) == expected_keep


def test_kill_resume_exactly_once(spark, corpus, expected_keep, tmp_path):
    in_dir = tmp_path / "in_kr"
    os.makedirs(in_dir)
    parts = np.array_split(np.arange(len(corpus)), 6)
    for i, idx in enumerate(parts):
        corpus.iloc[idx].to_parquet(
            in_dir / f"b-{i:04d}.parquet", index=False
        )

    def start(got):
        src = (
            spark.readStream.schema(
                "vec_id long, embedding array<float>, ts timestamp"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(str(in_dir))
        )
        kept = streaming_semdedup_filter(
            src, threshold=THR, dim=DIM, n_centroids=NC
        )
        return (
            kept.writeStream.outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ck_kr"))
            .foreachBatch(
                lambda b, e: got.append(b.select("vec_id").toPandas())
            )
            .start()
        )

    got: list = []
    q = start(got)
    while len(got) < 2:
        import time

        time.sleep(0.2)
    q.stop()
    q.awaitTermination(60)
    q = start(got)
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(60)
    out = pd.concat(got, ignore_index=True)
    # the restart may REPLAY the in-flight epoch (at-least-once at the
    # foreachBatch boundary — the idempotent sink dedups by key); the
    # final KEY SET must equal the replica exactly
    assert set(out["vec_id"]) == expected_keep


def test_cap_under_dedups_never_over_drops(spark):
    # 10 near-identical vectors in one cell with max_reps_per_cell=1:
    # the first is the only rep; all others are dups of IT (cap never
    # drops a non-dup)
    base = np.zeros(DIM, dtype=np.float32)
    base[0] = 1.0
    rows = []
    for i in range(10):
        v = base.copy()
        v[1] = 0.001 * i
        rows.append((i, v))  # np.float32 -> parquet list<float>
    pdf = pd.DataFrame(rows, columns=["vec_id", "embedding"])
    pdf["ts"] = pd.Timestamp("2026-01-01") + pd.to_timedelta(
        np.arange(10), unit="s"
    )
    kept = _run_stream(spark, pdf, 2, max_reps_per_cell=1)
    assert kept == {0}
    # and a genuinely distinct vector still passes under the cap
    far = -base
    pdf2 = pd.DataFrame(
        [(0, base), (1, far)],
        columns=["vec_id", "embedding"],
    )
    pdf2["ts"] = pd.Timestamp("2026-01-01") + pd.to_timedelta(
        np.arange(2), unit="s"
    )
    kept2 = _run_stream(spark, pdf2, 1, max_reps_per_cell=1)
    assert kept2 == {0, 1}  # overflow row passes as kept (under-dedup)


def test_null_vector_kept_never_crashes(spark):
    """A null embedding must pass through as kept (no dup evidence)
    without killing the micro-batch or burning a rep slot."""
    base = np.zeros(DIM, dtype=np.float32)
    base[0] = 1.0
    pdf = pd.DataFrame(
        [(0, base), (1, None), (2, base.copy())],
        columns=["vec_id", "embedding"],
    )
    pdf["ts"] = pd.Timestamp("2026-01-01") + pd.to_timedelta(
        np.arange(3), unit="s"
    )
    kept = _run_stream(spark, pdf, 1)
    # 0 is the rep, 2 is its dup, 1 (null) passes as kept
    assert kept == {0, 1}


def test_emb_cell_state_format_versioned():
    """The emb-cell blob carries the 1-byte version tag and decodes
    both the tagged and the legacy untagged pickle — the checkpoint
    wire-format contract the ordering/minhash cells already pin."""
    import pickle

    from dbus_spark.operators.dedup_stream import _load_reps
    from dbus_spark.operators.state import FORMAT_V1 as _STATE_FMT_V1
    from dbus_spark.operators.state import decode

    ids = np.array([3, 7], dtype=np.int64)
    mat = np.arange(8, dtype=np.float32).reshape(2, 4)
    last = np.array([100, 200], dtype=np.int64)
    payload = (ids, np.ascontiguousarray(mat).reshape(-1), last)

    class FakeState:
        def __init__(self, blob):
            self.get = (blob,)

    tagged = FakeState(_STATE_FMT_V1 + pickle.dumps(payload, protocol=5))
    legacy = FakeState(pickle.dumps(payload, protocol=5))
    for st in (tagged, legacy):
        i2, m2, l2 = _load_reps(decode(st.get[0]))
        assert (i2 == ids).all() and (l2 == last).all()
        assert m2.shape == (2, 4) and (m2 == mat).all()


def test_streaming_semdedup_with_trained_centroids(spark, corpus):
    """The streaming filter composes with the k-means trainer: pass a
    trained quantizer and the replica (same centroids) still matches —
    the batch/stream assignment rule is centroid-agnostic."""
    import pandas as pd

    from dbus_spark.operators.similarity import kmeans_centroids_local

    V = np.stack(corpus["embedding"].to_numpy())
    cents = kmeans_centroids_local(V, n_centroids=NC, seed=11, n_iter=3)

    # replica with the trained centroids
    cent_arr = np.asarray(cents)
    U = V.astype(np.float32)
    nrm = np.linalg.norm(U, axis=1, keepdims=True)
    nrm[nrm == 0] = 1.0
    U = U / nrm
    cells = _assign_cells(V, cent_arr)
    keep, reps = set(), {}
    order = corpus.reset_index(drop=True)
    order["_row"] = np.arange(len(order))
    for _, row in order.sort_values(["ts", "vec_id"]).iterrows():
        i, c = int(row["_row"]), int(cells[int(row["_row"])])
        R = reps.setdefault(c, [])
        if R and (np.stack(R) @ U[i] >= np.float32(THR)).any():
            continue
        R.append(U[i])
        keep.add(row["vec_id"])
    assert 0 < len(keep) < len(corpus)

    got = _run_stream(spark, corpus, 3, centroids=cents)
    assert got == keep
