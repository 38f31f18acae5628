"""The keyed-state scaffold (``dbus_spark/operators/state.py``) and the
ten ``applyInPandasWithState`` operators built on it.

Pins, with no Spark session, that the wire format stays readable in
both directions (what earlier releases wrote still loads, and what is
written now is byte-identical to the tagged format those releases
wrote), and that a blob of unknown format raises ``StateFormatError``
at every site, also under ``python -O``; and that the in-order
intake of the CEP and as-of twins applies one redelivery rule. The
last test resumes an ``ordered_turns_stream`` checkpoint whose state
schema names its field ``state`` (the name earlier releases recorded).
"""

import inspect
import os
import pickle
import subprocess
import sys

import numpy as np
import pandas as pd
import pytest

from dbus_spark.operators import cep, corpus, dedup_stream, join, ordering
from dbus_spark.operators import state as S

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class _FakeState:
    """GroupState stand-in: one binary field, a watermark, a flag."""

    def __init__(self, blob=None, wm_ms=1, timed_out=False):
        self.blob = blob
        self.wm = wm_ms
        self.hasTimedOut = timed_out
        self.timer = None

    @property
    def exists(self):
        return self.blob is not None

    @property
    def get(self):
        return (self.blob,)

    def update(self, t):
        (self.blob,) = t

    def remove(self):
        self.blob = None

    def getCurrentWatermarkMs(self):
        return self.wm

    def setTimeoutTimestamp(self, ts):
        self.timer = ts


# one state callback per site: (builder, event-time timeouts?)
_SITES = {
    "ordering": (lambda: ordering._make_bucket_fn(60_000), True),
    "cep_sequence": (
        lambda: cep._make_cep_fn(["a", "b"], None, 600_000), True
    ),
    "cep_absence": (
        lambda: cep._make_absence_fn("a", "b", 10**6, 600_000), True
    ),
    "cep_funnel": (lambda: cep._make_funnel_fn(2, 600_000), True),
    "cep_quantified": (
        lambda: cep._make_quant_fn([("a", 1, None)], None, 600_000), True
    ),
    "neardup": (
        lambda: dedup_stream._make_cell_fn(["doc_id", "band"], 0.5, 10**6, 10),
        True,
    ),
    "semdedup": (
        lambda: dedup_stream._make_emb_cell_fn(
            ["vec_id"], 0.4, 10**6, 10, "ts", "vec_id"
        ),
        True,
    ),
    "asof_join": (lambda: join._make_asof_fn(["v"], 600_000), True),
    "token_budget": (
        lambda: corpus._make_budget_fn(
            {"en": 10}, "lang", "doc_id", "ts", ["doc_id"]
        ),
        False,
    ),
    "shard_assign": (
        lambda: corpus._make_shard_fn(100, "doc_id", "ts", ["doc_id"]),
        False,
    ),
}


def _resave(site: str, blob: bytes) -> bytes:
    """Drive the site's callback once on a key holding ``blob`` with no
    rows (a timeout call where the site has timeouts) and return what
    it saves."""
    make, timed = _SITES[site]
    st = _FakeState(blob, timed_out=timed)
    emitted = list(make()((0,), iter([]), st))
    assert emitted == []
    return st.blob


def _check_foreign_blob_rejected() -> None:
    foreign = b"\x02" + pickle.dumps({"x": 1}, protocol=5)
    for blob in (foreign, b"", b"{}"):
        with pytest.raises(S.StateFormatError):
            S.decode(blob)
    for site in _SITES:
        with pytest.raises(S.StateFormatError):
            _resave(site, foreign)


def test_foreign_state_blob_raises_named_error():
    _check_foreign_blob_rejected()
    assert issubclass(S.StateFormatError, ValueError)


def test_foreign_state_blob_raises_under_python_O():
    """``-O`` strips ``assert``: the format check must not be one."""
    code = (
        "import sys\n"
        "assert False, 'not reached under -O'\n"
        "from tests.test_keyed_state import _check_foreign_blob_rejected\n"
        "_check_foreign_blob_rejected()\n"
        "print('ok', sys.flags.optimize)\n"
    )
    res = subprocess.run(
        [sys.executable, "-O", "-c", code],
        cwd=_REPO,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    assert res.stdout.split() == ["ok", "1"]


# --- wire format pin -----------------------------------------------------
#
# One sample state per site, as the payload earlier releases built it
# (their save code, spelled out here). The blob they wrote was
# b"\x01" + pickle.dumps(payload, protocol=5) -- except the corpus
# totals, written untagged as pickle.dumps(cum).

_K = np.array(["c1", "c2"], dtype=object)
_T_US = np.array([1_700_000_000_000_000, 1_700_000_001_000_000], np.int64)
_FAR = np.array([10**13, 10**13], np.int64)  # deadlines no sweep reaches


def _payload_ordering():
    meta = pd.DataFrame(
        {"next_idx": np.array([3, 1], "int64"), "deadline": _FAR},
        index=pd.Index(_K, dtype=object),
    )
    pending = pd.DataFrame(
        {
            "conv_id": np.array(["c1"], object),
            "turn_idx": np.array([5], "int64"),
            "role": np.array(["user"], object),
            "text": np.array(["hi"], object),
            "tool": np.array([None], object),
            "ts": _T_US[:1].astype("datetime64[us]"),
        }
    )
    return (
        meta.index.to_numpy(dtype=object),
        meta["next_idx"].to_numpy("int64"),
        meta["deadline"].to_numpy("int64"),
        {c: pending[c].to_numpy() for c in pending.columns},
    )


def _cols(frame):
    return {c: frame[c].to_numpy() for c in frame.columns}


def _payload_cep_sequence():
    return _cols(
        pd.DataFrame(
            {
                "key": _K,
                "sym": np.array(["a", "b"], object),
                "order": np.array([1, 2], np.int64),
                "ts_us": _T_US,
                "deadline": _FAR,
            }
        )
    )


def _payload_cep_absence():
    pending = pd.DataFrame(
        {
            "key": _K[:1],
            "order": np.array([4], np.int64),
            "ts_us": _T_US[:1],
            "deadline_us": _FAR[:1] * 1000,
        }
    )
    frontier = pd.DataFrame(
        {
            "key": _K,
            "max_order": np.array([4, 9], np.int64),
            "last_ts_us": _T_US,
        }
    )
    return (_cols(pending), _cols(frontier))


def _payload_cep_funnel():
    return _cols(
        pd.DataFrame(
            {
                "key": _K,
                "n_reached": np.array([1, 0], np.int64),
                "last_ts_us": _T_US,
                "max_order": np.array([3, 7], np.int64),
                "last_seen_us": _T_US,
            }
        )
    )


def _payload_cep_quantified():
    return _cols(
        pd.DataFrame(
            {
                "key": _K,
                "sym": np.array(["a", "a"], object),
                "len": np.array([2, 1], np.int64),
                "so": np.array([0, 4], np.int64),
                "eo": np.array([1, 4], np.int64),
                "sts_us": _T_US,
                "ets_us": _T_US,
                "pos": np.array([0, 0], np.int64),
                "open": np.array([True, False]),
                "deadline": _FAR,
            }
        )
    )


def _payload_neardup():
    cell = {
        7: (
            np.array([11, 12], np.int64),
            np.arange(8, dtype=np.int64).reshape(2, 4),
            np.array([10**12, 10**12], np.int64),
        ),
        -3: (
            np.array([13], np.int64),
            np.arange(4, dtype=np.int64).reshape(1, 4),
            np.array([10**12], np.int64),
        ),
    }
    return [
        (b, ids, np.ascontiguousarray(mat).reshape(-1), last)
        for b, (ids, mat, last) in cell.items()
    ]


def _payload_semdedup():
    ids = np.array([3, 7], np.int64)
    mat = np.arange(8, dtype=np.float32).reshape(2, 4)
    last = np.array([10**12, 10**12], np.int64)
    return (ids, np.ascontiguousarray(mat).reshape(-1), last)


def _payload_asof_join():
    return _cols(
        pd.DataFrame(
            {
                "key": _K,
                "max_order": np.array([2, 5], np.int64),
                "last_seen_us": _FAR * 1000,
                "r_ts_us": _T_US,
                "r_ord": np.array([1, -(2**62)], np.int64),
                "v": np.array(["x", None], object),
            }
        )
    )


_PAYLOADS = {
    "ordering": _payload_ordering,
    "cep_sequence": _payload_cep_sequence,
    "cep_absence": _payload_cep_absence,
    "cep_funnel": _payload_cep_funnel,
    "cep_quantified": _payload_cep_quantified,
    "neardup": _payload_neardup,
    "semdedup": _payload_semdedup,
    "asof_join": _payload_asof_join,
    "token_budget": lambda: 7,
    "shard_assign": lambda: 12_345,
}


def _dump_frame(f):
    return {c: f[c].to_numpy() for c in f.columns}


# the payload earlier releases built from a site's working state
_PARENT_DUMP = {
    "ordering": lambda st: (
        st[0].index.to_numpy(dtype=object),
        st[0]["next_idx"].to_numpy("int64"),
        st[0]["deadline"].to_numpy("int64"),
        {c: st[1][c].to_numpy() for c in st[1].columns},
    ),
    "cep_sequence": _dump_frame,
    "cep_absence": lambda st: (_dump_frame(st[0]), _dump_frame(st[1])),
    "cep_funnel": _dump_frame,
    "cep_quantified": _dump_frame,
    "neardup": lambda cell: [
        (b, ids, np.ascontiguousarray(mat).reshape(-1), last)
        for b, (ids, mat, last) in cell.items()
    ],
    "semdedup": lambda c: (c[0], np.ascontiguousarray(c[1]).reshape(-1), c[2]),
    "asof_join": _dump_frame,
    "token_budget": lambda cum: cum,
    "shard_assign": lambda cum: cum,
}

# each site's (load, dump) pair around the scaffold's codec
_ADAPTERS = {
    "ordering": (ordering._load_state, ordering._dump_state),
    "cep_sequence": (pd.DataFrame, S.to_columns),
    "cep_absence": (cep._load_absence, cep._dump_absence),
    "cep_funnel": (pd.DataFrame, S.to_columns),
    "cep_quantified": (pd.DataFrame, S.to_columns),
    "neardup": (dedup_stream._load_cell, dedup_stream._dump_cell),
    "semdedup": (dedup_stream._load_reps, dedup_stream._dump_reps),
    "asof_join": (pd.DataFrame, S.to_columns),
    "token_budget": (int, int),
    "shard_assign": (int, int),
}


def _assert_same(a, b):
    assert type(a) is type(b)
    if isinstance(a, (tuple, list)):
        assert len(a) == len(b)
        for x, y in zip(a, b):
            _assert_same(x, y)
    elif isinstance(a, dict):
        assert list(a) == list(b)
        for k in a:
            _assert_same(a[k], b[k])
    elif isinstance(a, np.ndarray):
        assert (a.dtype, a.shape) == (b.dtype, b.shape)
        assert a.tolist() == b.tolist()
    else:
        assert a == b


@pytest.mark.parametrize("site", sorted(_SITES))
def test_wire_format_pinned_per_site(site):
    load, dump = _ADAPTERS[site]
    working = load(_PAYLOADS[site]())
    parent = _PARENT_DUMP[site](working)
    tagged = b"\x01" + pickle.dumps(parent, protocol=5)
    # what the scaffold writes for a state is what earlier releases wrote
    assert S.encode(dump(working)) == tagged
    # their tagged blob, and the untagged pickle (default protocol, as
    # the corpus totals were written), load through the site's callback
    # and are saved back tagged, holding the same payload
    for blob in (tagged, pickle.dumps(parent)):
        out = _resave(site, blob)
        assert out[:1] == b"\x01"
        _assert_same(S.decode(out), parent)


def test_legacy_untagged_total_decodes():
    assert pickle.dumps(123)[:1] == b"\x80"
    assert S.decode(pickle.dumps(123)) == 123
    assert S.decode(S.encode(123)) == 123


def test_public_operator_signatures_unchanged():
    """No knob added or removed on the ten stateful operators."""
    want = {
        ordering.ordered_turns_stream: "(df: 'DataFrame', watermark: 'str' = '10 minutes', flush_after_ms: 'int' = 60000, n_buckets: 'int' = 64, max_pending_per_bucket: 'int' = 100000) -> 'DataFrame'",
        cep.streaming_match_sequence: "(df: 'DataFrame', pattern: 'list[str]', key: 'str' = 'conv_id', order: 'str' = 'turn_idx', ts: 'str' = 'ts', sym: 'str' = 'sym', within: 'str | None' = None, watermark: 'str' = '10 minutes', ttl_ms: 'int' = 600000, n_buckets: 'int' = 64) -> 'DataFrame'",
        cep.streaming_match_absence: "(df: 'DataFrame', first: 'str', absent: 'str', within: 'str', key: 'str' = 'conv_id', order: 'str' = 'turn_idx', ts: 'str' = 'ts', sym: 'str' = 'sym', watermark: 'str' = '10 minutes', ttl_ms: 'int' = 600000, n_buckets: 'int' = 64) -> 'DataFrame'",
        cep.streaming_funnel: "(df: 'DataFrame', stages: 'list[tuple[str, Column | str]]', key: 'str' = 'conv_id', order: 'str' = 'turn_idx', ts: 'str' = 'ts', watermark: 'str' = '10 minutes', ttl_ms: 'int' = 600000, n_buckets: 'int' = 64) -> 'DataFrame'",
        cep.streaming_match_quantified: "(df: 'DataFrame', pattern: 'list[tuple]', key: 'str' = 'conv_id', order: 'str' = 'turn_idx', ts: 'str' = 'ts', sym: 'str' = 'sym', within: 'str | None' = None, watermark: 'str' = '10 minutes', ttl_ms: 'int' = 600000, n_buckets: 'int' = 64) -> 'DataFrame'",
        dedup_stream.streaming_neardup_verdicts: "(df: 'DataFrame', id_col: 'str' = 'doc_id', text_col: 'str' = 'text', ts: 'str' = 'ts', n_hashes: 'int' = 16, n_bands: 'int' = 4, shingle_n: 'int' = 3, min_est_jaccard: 'float' = 0.5, watermark: 'str' = '2 hours', rep_ttl_ms: 'int' = 7200000, n_state_buckets: 'int' = 64, max_reps_per_bucket: 'int' = 100000) -> 'DataFrame'",
        dedup_stream.streaming_semdedup_filter: "(df: 'DataFrame', threshold: 'float' = 0.4, dim: 'int' = 64, n_centroids: 'int' = 16, seed: 'int' = 11, centroids: \"'list[list[float]] | None'\" = None, id_col: 'str' = 'vec_id', vec_col: 'str' = 'embedding', ts: 'str' = 'ts', watermark: 'str' = '2 hours', rep_ttl_ms: 'int' = 7200000, max_reps_per_cell: 'int' = 100000) -> 'DataFrame'",
        join.streaming_asof_join: "(df: 'DataFrame', is_right, right_cols: 'list[str]', key: 'str' = 'conv_id', order: 'str' = 'turn_idx', ts: 'str' = 'ts', watermark: 'str' = '10 minutes', ttl_ms: 'int' = 600000, n_buckets: 'int' = 64) -> 'DataFrame'",
        corpus.streaming_token_budget_filter: "(df: 'DataFrame', budgets: 'Mapping[str, int]', strata_col: 'str' = 'lang', id_col: 'str' = 'doc_id', text_col: 'str' = 'text', ts: 'str' = 'ts') -> 'DataFrame'",
        corpus.streaming_shard_assign: "(df: 'DataFrame', shard_bytes: 'int', strata_col: 'str' = 'lang', id_col: 'str' = 'doc_id', text_col: 'str' = 'text', ts: 'str' = 'ts') -> 'DataFrame'",
    }
    for fn, sig in want.items():
        assert str(inspect.signature(fn)) == sig, fn.__name__


# --- the in-order intake ---------------------------------------------------


def test_in_order_rows_types_sorts_and_guards():
    """One redelivery rule for the five in-order twins: rows at or
    below the key's frontier go, the first copy of a ``(key, order)``
    stays, and the rest come back typed and sorted."""
    ts = pd.to_datetime(["2026-01-01 00:00:0%d" % i for i in range(7)])
    new = pd.DataFrame(
        {
            "key": ["b", "a", "a", "b", "a", "c", "b"],
            "sym": ["x", "p", "q", "y", "r", "s", "dup"],
            "order": [5, 3, 2, 4, 1, -5, 5],
            "mask": np.arange(7, dtype=np.int32),
            "ts": ts,
        }
    )
    frontier = pd.Series({"a": 2, "b": 3})
    got = S.in_order_rows(new, frontier, sym=object)
    assert list(got.columns) == ["key", "sym", "order", "ts_us"]
    assert list(got.dtypes) == [object, object, np.int64, np.int64]
    # a@2 sits AT its frontier and goes with a@1; c has no frontier
    # (NEG fill) and keeps order -5; b@5's first copy "x" wins
    assert list(got.itertuples(index=False, name=None)) == [
        ("a", "p", 3, ts[1].value // 1000),
        ("b", "y", 4, ts[3].value // 1000),
        ("b", "x", 5, ts[0].value // 1000),
        ("c", "s", -5, ts[5].value // 1000),
    ]
    # without a frontier only the duplicate goes
    assert len(S.in_order_rows(new, sym=object)) == 6
    # everything at or below its frontier: an empty, still typed, frame
    frontier = pd.Series({"a": 9, "b": 9, "c": -5})
    none = S.in_order_rows(new, frontier, mask=np.int64, sym=object)
    assert len(none) == 0
    assert list(none.columns) == ["key", "mask", "sym", "order", "ts_us"]
    assert none["mask"].dtype == np.int64 and none["ts_us"].dtype == np.int64


# --- resume across the state field rename ----------------------------------


def _ordered_run(spark, in_dir, ck, sink):
    from dbus_spark.sources import transcript_file_stream

    src = transcript_file_stream(spark, str(in_dir), 1)
    out = ordering.ordered_turns_stream(
        src, watermark="10 minutes", flush_after_ms=1_000, n_buckets=4
    )
    q = (
        out.writeStream.outputMode("append")
        .option("checkpointLocation", str(ck))
        .foreachBatch(lambda df, _e: sink.append(df.toPandas()))
        .start()
    )
    q.processAllAvailable()
    progress = q.lastProgress
    q.stop()
    q.awaitTermination(60)
    return progress


def test_ordered_checkpoint_with_state_field_name_resumes(
    spark, tmp_path, monkeypatch
):
    """A checkpoint recorded under the ``state binary`` state schema
    resumes under the scaffold's ``blob binary`` one, with a file
    landing between stop and restart, and the output equals an
    uninterrupted run."""
    from dbus_spark.datagen import (
        TranscriptKnobs,
        generate_transcripts,
        write_stream_batches,
    )
    from tests.test_streaming import _sentinel

    knobs = TranscriptKnobs(late_frac=0.0, dup_frac=0.05)
    pdf = generate_transcripts(n_convs=12, seed=5, knobs=knobs)
    far = pdf["ts"].max() + pd.Timedelta(hours=2)

    def write_all(d):
        write_stream_batches(pdf, str(d), n_files=3)
        _sentinel(far).to_parquet(d / "batch-90000.parquet", index=False)
        _sentinel(far + pd.Timedelta(minutes=1)).to_parquet(
            d / "batch-90001.parquet", index=False
        )

    full_dir, kr_dir = tmp_path / "full", tmp_path / "kr"
    write_all(full_dir)
    uninterrupted = []
    _ordered_run(spark, full_dir, tmp_path / "ck_full", uninterrupted)

    # phase 1: two files, state schema as earlier releases recorded it
    os.makedirs(kr_dir)
    for name in sorted(os.listdir(full_dir))[:2]:
        os.link(full_dir / name, kr_dir / name)
    got = []
    with monkeypatch.context() as m:
        m.setattr(S, "STATE_SCHEMA", "state binary")
        progress = _ordered_run(spark, kr_dir, tmp_path / "ck_kr", got)
    assert progress["stateOperators"][0]["numRowsTotal"] > 0
    recorded = (tmp_path / "ck_kr/state/0/0/_metadata/schema").read_bytes()
    assert b'"name":"state","type":"binary"' in recorded
    # the rest lands while the query is down; resume with today's schema
    for name in sorted(os.listdir(full_dir))[2:]:
        os.link(full_dir / name, kr_dir / name)
    _ordered_run(spark, kr_dir, tmp_path / "ck_kr", got)

    def rows(parts):
        out = pd.concat(parts, ignore_index=True)
        out = out[out["conv_id"] != "zzz_sentinel"]
        return out.sort_values(["conv_id", "turn_idx"]).reset_index(
            drop=True
        )[["conv_id", "turn_idx", "role", "text"]]

    resumed, base = rows(got), rows(uninterrupted)
    assert not resumed.duplicated(["conv_id", "turn_idx"]).any()
    assert len(base) == pdf.drop_duplicates(["conv_id", "turn_idx"]).shape[0]
    pd.testing.assert_frame_equal(resumed, base)
