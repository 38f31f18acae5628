"""Unit tests for text/dedup/similarity/multimodal operators and the
scalar function surface (SURVEY.md §2.6 parity checks)."""

import hashlib

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from dbus_spark import functions as FN
from dbus_spark.operators import dedup as D
from dbus_spark.operators import multimodal as MM
from dbus_spark.operators import similarity as S
from dbus_spark.operators import text as TX


# --- scalar surface ---------------------------------------------------


def test_rows_event_golden_json(spark):
    """Golden wire-JSON assertion — the analog of the reference's
    pkg/model/rowsevent_test.go:38-47, with the documented deviation
    that our string-lifted cells serialize quoted."""
    from dbus_spark.datagen import generate_rows_events

    df = spark.createDataFrame(generate_rows_events(5, seed=42))
    js = df.filter("pos = 498876").select(
        FN.encode_rows_event_json().alias("js")
    ).collect()[0]["js"]
    assert js == (
        '{"log":"mysql-bin.0001","pos":498876,"db":"mydabase",'
        '"tbl":"user_account","dml":"I","ts":1486554654,'
        '"rows":[["user","15","hello world"]]}'
    )


def test_alter_table_regex(spark):
    """Same classification semantics as pkg/myslave/alter.go:8-20."""
    df = spark.createDataFrame(
        [
            ("ALTER TABLE `mydb`.`user_account` ADD COLUMN x INT",),
            ("alter table foo add column y int",),
            ("INSERT INTO foo VALUES (1)",),
            ("SELECT * FROM t",),
        ],
        ["query"],
    )
    got = df.select(
        FN.is_alter_table("query").alias("is_alter"),
        FN.alter_table_target("query").alias("tbl"),
    ).collect()
    assert [r["is_alter"] for r in got] == [True, True, False, False]
    assert got[0]["tbl"] == "user_account"
    assert got[1]["tbl"] == "foo"


def test_dsn_parsing():
    assert FN.parse_dsn("kafka:local://me/foobar") == (
        "kafka",
        "local://me/foobar",
    )
    d = FN.parse_kafka_dsn("kafka:prod://cluster1/topicA#3")
    assert (d.zone, d.cluster, d.topic, d.partition) == (
        "prod", "cluster1", "topicA", 3,
    )
    d2 = FN.parse_kafka_dsn("kafka:z://c/t")
    assert d2.partition == FN.INVALID_PARTITION
    with pytest.raises(FN.IllegalDSN):
        FN.parse_dsn("no-colon-here")
    with pytest.raises(FN.IllegalDSN):
        FN.parse_kafka_dsn("mysql:z://c/t")


def test_max_event_length_guard(spark):
    df = spark.createDataFrame([("x" * 10,), ("x" * 100,)], ["text"])
    assert FN.max_event_length_guard(df, max_len=50).count() == 1


# --- text ops ---------------------------------------------------------


def test_lang_id_votes(spark):
    df = spark.createDataFrame(
        [
            ("the cat and the hat is a cat",),  # en
            ("le chat et la maison des les",),  # fr
            ("der hund und die katze das ein",),  # de
            ("xyzzy plugh quux",),  # no markers
        ],
        ["text"],
    )
    got = [r[0] for r in df.select(TX.lang_id("text")).collect()]
    assert got == ["en", "fr", "de", "und"]


def test_short_doc_shingles_empty(spark):
    df = spark.createDataFrame([("one two",), ("a b c d",)], ["text"])
    got = df.select(F.size(D.word_shingles("text", 3)).alias("n")).collect()
    assert [r["n"] for r in got] == [0, 2]


def test_simhash_golden(spark):
    """SimHash reproduces a pure-python reference bit-for-bit."""
    text = "spark window agg spark window"
    toks = text.split()
    votes = [0] * 32
    for t in toks:
        h = int(hashlib.md5(t.encode()).hexdigest()[:8], 16)
        for j in range(32):
            votes[j] += 1 if (h >> j) & 1 else -1
    expect = sum(1 << j for j in range(32) if votes[j] > 0)
    df = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    got = D.simhash(df).collect()[0]["simhash"]
    assert got == expect


def test_exact_dedup_keeps_lowest_id(spark):
    df = spark.createDataFrame(
        [(3, "same  text"), (1, "same text"), (2, "other")],
        ["doc_id", "text"],
    )
    # whitespace-normalized fingerprint → rows 1 and 3 are duplicates
    kept = sorted(
        r["doc_id"] for r in D.exact_dedup(df).select("doc_id").collect()
    )
    assert kept == [1, 2]


def test_minhash_lsh_finds_near_duplicates(spark):
    base = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12 w13 w14 w15 w16"
    near = base.replace("w16", "w17")  # one token differs
    far = "z1 z2 z3 z4 z5 z6 z7 z8 z9 z10 z11 z12 z13 z14 z15 z16"
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], ["doc_id", "text"]
    )
    pairs = {
        (r["id_a"], r["id_b"])
        for r in D.lsh_candidate_pairs(df, n_hashes=16, n_bands=8).collect()
    }
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs
    jac = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs(df).collect()
    }
    assert jac[(1, 2)] > 0.7


# --- similarity -------------------------------------------------------


def test_cosine_matches_numpy(spark):
    rng = np.random.default_rng(0)
    vecs = rng.standard_normal((10, 16)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, vecs[i].tolist()) for i in range(10)],
        "vec_id int, embedding array<float>",
    )
    got = {
        (r["q_id"], r["n_id"]): r["sim"]
        for r in S.knn_bruteforce(df, [0], k=9, id_col="vec_id").collect()
    }
    v0 = vecs[0].astype(np.float64)
    for i in range(1, 10):
        vi = vecs[i].astype(np.float64)
        expect = float(v0 @ vi / (np.linalg.norm(v0) * np.linalg.norm(vi)))
        assert abs(got[(0, i)] - round(expect, 4)) <= 1e-4


def test_lsh_ann_subset_of_bucket(spark):
    rng = np.random.default_rng(1)
    vecs = rng.standard_normal((50, 16)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, vecs[i].tolist()) for i in range(50)],
        "vec_id int, embedding array<float>",
    )
    got = S.knn_lsh(df, [0], dim=16, k=5, n_planes=4).collect()
    assert len(got) <= 5
    # determinism: same seed → same result
    again = S.knn_lsh(df, [0], dim=16, k=5, n_planes=4).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, again))


# --- multimodal plumbing ----------------------------------------------


def test_multimodal_fake_decode_deterministic(spark):
    df = spark.createDataFrame([(i,) for i in range(20)], ["doc_id"])
    media = MM.attach_fake_media(df, n_bytes=256)
    f1 = MM.extract_media_features(media).toPandas()
    f2 = MM.extract_media_features(media).toPandas()
    assert len(f1) == 20
    assert (f1["n_bytes"] == 256).all()
    f1s = f1.sort_values("doc_id").reset_index(drop=True)
    f2s = f2.sort_values("doc_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(f1s, f2s)
    # features match the python-side fake decoder on the same bytes
    import hashlib as hl

    content = (hl.md5(b"0").hexdigest() * 16).encode()[:512]
    # attach_fake_media repeats the md5 HEX string then hex-decodes
    blob = bytes.fromhex(hl.md5(b"0").hexdigest() * 16)
    expect = MM.fake_decoder(blob)
    got = f1s[f1s["doc_id"] == 0]["features"].iloc[0]
    assert np.allclose(np.array(got), expect)


def test_multimodal_real_decoder_stubbed():
    with pytest.raises(NotImplementedError):
        MM.real_decoder(b"bytes")


def test_multimodal_resize_and_frames(spark):
    df = spark.createDataFrame([(i,) for i in range(5)], ["doc_id"])
    media = MM.attach_fake_media(df, n_bytes=128)
    resized = MM.resize_images(media, 32, 32).toPandas()
    assert len(resized) == 5
    assert (resized["content"].str.len() == 32 * 32 // 64).all()
    frames = MM.sample_frames(media, every_n=2).toPandas()
    assert len(frames) == 5 * 4  # 128/16 = 8 frames, every 2nd → 4
    assert (frames["frame"].str.len() == 16).all()


def test_count_sort_filters(spark):
    from dbus_spark.pipeline import Pipeline

    cfg = {
        "plugins": [
            {"name": "src", "class": "MockInput", "options": {"rows": 20}},
            {
                "name": "cnt",
                "class": "CountFilter",
                "match": ["src"],
                "options": {"by": ["payload"], "out_ident": "counts"},
            },
            {"name": "out", "class": "MemoryOutput", "match": ["counts"]},
        ]
    }
    res = Pipeline(cfg).run(spark)
    rows = res["out"].collect()
    assert len(rows) == 1 and rows[0]["n"] == 20


def test_avro_encode_gated(spark):
    from dbus_spark import functions as FN2
    from dbus_spark.datagen import generate_rows_events

    df = spark.createDataFrame(generate_rows_events(3, seed=1))
    try:
        out = df.select(FN2.encode_rows_event_avro().alias("avro")).collect()
        assert all(isinstance(r["avro"], (bytes, bytearray)) for r in out)
    except Exception as e:
        # avro module jar absent in this container — gated path
        assert "avro" in str(e).lower() or "AVRO" in str(e)


# --- near-dup recall on the fixture (md5 sketches) ---------------------


def _shingle_sets(docs):
    import re

    texts = {r.doc_id: r.text for r in docs.select("doc_id", "text").collect()}
    out = {}
    for k, t in texts.items():
        toks = re.split(r"\s+", t.strip())
        out[k] = set(" ".join(toks[i : i + 3]) for i in range(len(toks) - 2))
    return out


def _true_pairs(ss, threshold):
    import itertools

    def jac(a, b):
        sa, sb = ss[a], ss[b]
        return len(sa & sb) / len(sa | sb) if (sa or sb) else 1.0

    return {
        (a, b)
        for a, b in itertools.combinations(sorted(ss), 2)
        if jac(a, b) >= threshold
    }


def test_hash_fn_modes_equivalent_after_verify_minhash_lsh(spark):
    """MinHash-LSH candidates, after exact-Jaccard verification,
    recover the full brute-force truth set (100% recall on the
    fixture's >=0.8 near-dups)."""
    docs = spark.read.parquet(
        "/root/testdata/sf0.01/documents.parquet"
    ).repartition(32)
    ss = _shingle_sets(docs)
    truth = _true_pairs(ss, 0.8)
    assert len(truth) > 0

    def jac(a, b):
        sa, sb = ss[a], ss[b]
        return len(sa & sb) / len(sa | sb) if (sa or sb) else 1.0

    cand = D.lsh_candidate_pairs(docs, n_hashes=16, n_bands=4)
    pairs = {(r.id_a, r.id_b) for r in cand.collect()}
    verified = {p for p in pairs if jac(*p) >= 0.8}
    assert verified == truth


def test_hash_fn_simhash_recall_is_mode_dependent_but_sound(spark):
    """SimHash recall IS sketch-dependent (it rests on where the bit
    votes fall) — the single-prefix form is sound (every verified
    candidate is a true near-dup) and recovers a substantial share of
    the truth set; equality is NOT expected and that trade-off is the
    documented difference from the MinHash path."""
    docs = spark.read.parquet(
        "/root/testdata/sf0.01/documents.parquet"
    ).repartition(32)
    ss = _shingle_sets(docs)
    truth = _true_pairs(ss, 0.8)

    def jac(a, b):
        sa, sb = ss[a], ss[b]
        return len(sa & sb) / len(sa | sb) if (sa or sb) else 1.0

    cand = D.simhash_neardup_pairs(docs, prefix_bits=16, max_hamming=3)
    pairs = {(r.id_a, r.id_b) for r in cand.collect()}
    verified = {p for p in pairs if jac(*p) >= 0.8}
    assert verified <= truth  # sound: no false positives survive
    assert len(verified) >= 5  # deterministic fixture recall floor


def test_pair_chunks_match_nested_loops():
    """The run-length pair enumerator shared by both pair kernels
    emits exactly the nested-loop pair multiset at every chunk size
    (chunk boundaries inside and between segments), never splits one
    row's pairs over two chunks, and handles the diagonal layout
    (i < j within a segment) and an n_sub cross segment (each a-row
    with each b-row) in one partition."""
    from collections import Counter

    rng = np.random.default_rng(7)
    lens = np.concatenate([[1, 1, 2], rng.integers(1, 9, size=20), [1]])
    starts = np.concatenate([[0], np.cumsum(lens)[:-1]])
    n_diag = int(lens.sum())
    got_starts, got_lens, seg_of_row, pos = D._runs(
        [np.repeat(np.arange(len(lens)) % 2, lens)]
    )
    assert got_starts.tolist() == starts.tolist()
    assert got_lens.tolist() == lens.tolist()
    # the diagonal segments, then one cross segment of n_a a-rows
    # followed by n_b b-rows (b-rows and segment tails pair with none)
    n_a, n_b = 4, 5
    rep = np.concatenate(
        [lens[seg_of_row] - pos - 1, [n_b] * n_a, [0] * n_b]
    )
    base = np.concatenate(
        [np.arange(1, n_diag + 1), [n_diag + n_a] * (n_a + n_b)]
    )
    ref = Counter(
        (s + i, s + j)
        for s, m in zip(starts.tolist(), lens.tolist())
        for i in range(m)
        for j in range(i + 1, m)
    )
    ref.update(
        (n_diag + i, n_diag + n_a + j)
        for i in range(n_a)
        for j in range(n_b)
    )
    for chunk in (1, 3, 7, D._PAIR_CHUNK):
        got: Counter = Counter()
        rows_per_chunk = []
        for a_idx, b_idx in D._pair_chunks(rep, base, chunk=chunk):
            got.update(zip(a_idx.tolist(), b_idx.tolist()))
            rows_per_chunk.append(set(a_idx.tolist()))
        assert got == ref, f"chunk={chunk}"
        assert sum(map(len, rows_per_chunk)) == len(
            set().union(*rows_per_chunk)
        ), f"chunk={chunk}: a row's pairs split over chunks"


def test_packed_segment_key_out_of_range_raises(spark):
    """A segment key outside [0, 2^width) would spill into the
    neighbouring packed field and pair rows of different buckets: it
    raises, naming the column and its width. In-range keys pair."""

    def pairs(rows, key_cols, key_widths, n_sub=1):
        cols = ", ".join(f"{c} long" for c in key_cols)
        sk = spark.createDataFrame(
            rows, f"doc_id long, simhash long, {cols}"
        )
        return {
            (r.id_a, r.id_b)
            for r in D._bucketed_hamming_pairs(
                sk, key_cols, "doc_id", None, emit_hamming=False,
                n_sub=n_sub, key_widths=key_widths,
            ).collect()
        }

    assert pairs([(1, 5, 15), (2, 6, 15)], ["bucket"], [4]) == {(1, 2)}
    for bad in (16, -1):
        with pytest.raises(Exception, match=r"bucket out of range \[0, 2\^4"):
            pairs([(1, 5, bad), (2, 6, bad)], ["bucket"], [4])
    with pytest.raises(Exception, match=r"tbl out of range \[0, 2\^2"):
        pairs(
            [(1, 5, 4, 0), (2, 6, 4, 0)], ["tbl", "bucket"], [2, 8], n_sub=8
        )


def test_asof_join_right_cols_come_from_one_row(spark):
    """Multiple carried right columns must originate from the SAME
    right row even when some right columns are null (the struct-carry
    guarantee), and <= tie semantics hold."""
    from dbus_spark.operators.join import asof_join

    left = spark.createDataFrame(
        [("u", 10, "L1"), ("u", 20, "L2"), ("u", 5, "L0")],
        "k string, t long, lbl string",
    )
    right = spark.createDataFrame(
        # at t=10: val=None but src='a' — a naive per-column last()
        # would pair val=1 (from t=8) with src='a' (from t=10)
        [("u", 8, 1, None), ("u", 10, None, "a"), ("u", 15, 3, "c")],
        "k string, t long, val int, src string",
    )
    out = {
        r.lbl: (r.val, r.src)
        for r in asof_join(
            left, right, by="k", ts="t", right_cols=["val", "src"],
            order_col="t",
        ).collect()
    }
    assert out["L0"] == (None, None)  # nothing at or before t=5
    assert out["L1"] == (None, "a")  # t=10 row atomically (tie: <=)
    assert out["L2"] == (3, "c")


def test_neardup_groups_strategies_agree(spark, monkeypatch):
    """The driver union-find fast path (small graphs) and the
    distributed min-label loop must produce identical group labels."""
    from dbus_spark.operators import graph
    from dbus_spark.operators import similarity as S

    emb = spark.read.parquet(
        "/root/testdata/sf0.01/embeddings.parquet"
    ).repartition(32)
    fast = {
        (r.vec_id, r.grp)
        for r in S.neardup_groups(emb, threshold=0.4, dim=64).collect()
    }
    monkeypatch.setattr(graph, "_DRIVER_EDGES", 0)
    loop = {
        (r.vec_id, r.grp)
        for r in S.neardup_groups(emb, threshold=0.4, dim=64).collect()
    }
    assert fast == loop and len(fast) == 500


def test_arrow_shingles_match_catalyst_on_hostile_whitespace(spark):
    """Byte-parity of the Arrow shingle path with the JVM tokenization
    on the cases where Python and Java whitespace semantics diverge:
    tab/newline edges (Spark trim strips only 0x20; leading separator
    yields an empty first token) and Unicode whitespace (NBSP is NOT a
    Java \\s separator)."""
    from pyspark.sql import functions as F

    from dbus_spark.operators.dedup import (
        shingles_exploded_arrow,
        word_shingles,
    )

    texts = [
        "\ta b c d",          # leading tab -> empty first token survives
        "a b c d\n",          # trailing newline
        "a b c d e",     # NBSP inside a token (not a separator)
        "  a  b\tc  d  ",     # 0x20 runs + tab
        "a b c d e",     # EM SPACE (unicode ws, not Java \s)
        "",                   # empty
        "one two",            # too short for 3-grams
        "x y\x00 p q x y\x00 r s",  # NUL inside a token is a char
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    cat = set(
        map(
            tuple,
            df.select(F.col("doc_id"), word_shingles("text", 3).alias("sh"))
            .select("doc_id", F.explode("sh").alias("s"))
            .collect(),
        )
    )
    arr = set(map(tuple, shingles_exploded_arrow(df).collect()))
    assert arr == cat


def test_simhash_wide_sketch_exact_and_validated(spark):
    """Review fixes pinned: wide sketches pack in long arithmetic AND
    switch to a 60-bit base hash (a 32-bit hash leaves bits >= 32
    voting uniformly negative — zero entropy). Verified bit-for-bit
    against a python recomputation; out-of-range n_bits raises; the
    narrow form still uses the oracle-parity 32-bit hash."""
    import hashlib
    import re

    import pytest as _pytest

    text = "alpha beta gamma delta epsilon zeta"
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    got = D.simhash(df, n_bits=60).collect()[0]["simhash"]

    def h60(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    toks = re.split(r"[ \t\n\x0b\f\r]+", text)
    votes = [0] * 60
    for t in toks:
        hv = h60(t)
        for j in range(60):
            votes[j] += 1 if (hv >> j) & 1 else -1
    exp = sum(1 << j for j in range(60) if votes[j] > 0)
    assert got == exp
    assert exp >= (1 << 53)  # high bits genuinely populated
    # single-token doc: sketch == the token's 60-bit hash exactly
    one = spark.createDataFrame([(2, "solo")], "doc_id long, text string")
    assert D.simhash(one, n_bits=60).collect()[0]["simhash"] == h60("solo")
    with _pytest.raises(ValueError):
        D.simhash(df, n_bits=63)
    # 61-62 fit a signed long but exceed _hash_bits' 60 bits of
    # entropy — bits 60-61 would sit permanently at zero (advisor)
    with _pytest.raises(ValueError):
        D.simhash(df, n_bits=61)
    with _pytest.raises(ValueError):
        D.simhash_neardup_pairs_blocked(df, n_bits=62)


def test_ordering_state_wire_format_versioned_and_legacy():
    """The bucket-state blob is version-tagged (0x01 + pickle); blobs
    written by earlier releases — untagged 4-tuple-of-arrays and the
    original (meta, pending) pandas 2-tuple — must still resume
    (advisor: 'a checkpoint must outlive library upgrades')."""
    import pickle

    import numpy as np
    import pandas as pd

    from dbus_spark.operators import ordering as O
    from dbus_spark.operators import state as S

    meta = pd.DataFrame(
        {"next_idx": np.array([3], "int64"),
         "deadline": np.array([99], "int64")},
        index=pd.Index(["c1"], dtype=object),
    )
    pending = O._empty_pending()

    class FakeState:
        def __init__(self, blob=None):
            self.blob = blob

        @property
        def get(self):
            return (self.blob,)

        def update(self, t):
            (self.blob,) = t

    # current format round-trips and is tagged
    st = FakeState()
    st.update((S.encode(O._dump_state((meta, pending))),))
    assert st.blob[:1] == S.FORMAT_V1
    m2, p2 = O._load_state(S.decode(st.get[0]))
    pd.testing.assert_frame_equal(m2, meta)
    assert len(p2) == 0

    # legacy untagged 4-tuple of numpy arrays (r3 format)
    legacy4 = pickle.dumps(
        (
            meta.index.to_numpy(dtype=object),
            meta["next_idx"].to_numpy("int64"),
            meta["deadline"].to_numpy("int64"),
            {c: pending[c].to_numpy() for c in pending.columns},
        ),
        protocol=5,
    )
    m3, _ = O._load_state(S.decode(FakeState(legacy4).get[0]))
    pd.testing.assert_frame_equal(m3, meta)

    # legacy (meta, pending) pandas 2-tuple (r2 format)
    legacy2 = pickle.dumps((meta, pending), protocol=5)
    m4, _ = O._load_state(S.decode(FakeState(legacy2).get[0]))
    pd.testing.assert_frame_equal(m4, meta)


def test_asof_join_rejects_colliding_right_cols(spark):
    from dbus_spark.operators.join import asof_join

    left = spark.createDataFrame([("u", 1, 9)], "k string, t long, val int")
    right = spark.createDataFrame([("u", 1, 7)], "k string, t long, val int")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="collide"):
        asof_join(left, right, by="k", ts="t", right_cols=["val"])


def test_neardup_lsh_max_bucket_caps_hot_cells(spark):
    """max_bucket bounds the hot-key blowup of the bucket join: capped
    output is a subset of the uncapped answer, and a tiny cap on a
    dense cluster (all near-identical vectors hash together) prunes
    that cell while leaving sparse cells' pairs intact."""
    import numpy as np

    from dbus_spark.operators import similarity as S

    rng = np.random.default_rng(3)
    base = rng.standard_normal(64).astype("float32")
    rows = []
    # a dense clump of 30 near-identical vectors (one hot cell) plus
    # a couple of isolated near-dup pairs elsewhere
    for i in range(30):
        rows.append((i, (base + rng.standard_normal(64).astype("float32") * 0.01).tolist()))
    for i, seed2 in ((100, 5), (200, 9)):
        v = rng.standard_normal(64).astype("float32")
        rows.append((i, v.tolist()))
        rows.append((i + 1, (v + rng.standard_normal(64).astype("float32") * 0.01).tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    full = {(r.id_a, r.id_b) for r in S.neardup_pairs_lsh(df, threshold=0.9, dim=64).collect()}
    capped = {(r.id_a, r.id_b) for r in S.neardup_pairs_lsh(df, threshold=0.9, dim=64, max_bucket=10).collect()}
    assert capped <= full
    assert (100, 101) in capped and (200, 201) in capped  # sparse pairs kept
    assert len(capped) < len(full)  # the clump's cells were pruned


def test_repetition_metrics_short_docs_null_bigram_share(spark):
    """Review fix pinned: docs with < 2 tokens have NO bigrams — the
    share must be NULL (as the SQL oracle computes), not 1.0 from the
    exploded-NULL placeholder row being counted as a gram."""
    df = spark.createDataFrame(
        [(1, "hello"), (2, ""), (3, "two words here")],
        "doc_id long, text string",
    )
    got = {r.doc_id: (r.top_token_share, r.top_bigram_share)
           for r in TX.repetition_metrics(df).collect()}
    assert got[1] == (1.0, None)
    assert got[2] == (1.0, None)  # "" tokenizes to one empty token
    assert got[3][1] == 0.5  # 2 bigrams, each once


def test_lsh_estimated_jaccard_tracks_exact(spark):
    """The signature-agreement estimate must track the exact Jaccard
    on the candidate pairs (E[est] = J; 16 hashes -> sigma ~ 0.125):
    mean absolute error under 0.15 and every estimate within 0.45."""
    docs = spark.read.parquet(
        "/root/testdata/sf0.01/documents.parquet"
    ).repartition(32)
    est = {
        (r.id_a, r.id_b): r.est_jaccard
        for r in D.lsh_estimated_jaccard(docs, n_hashes=16).collect()
    }
    assert len(est) > 10
    ss = _shingle_sets(docs)

    def jac(a, b):
        sa, sb = ss[a], ss[b]
        return len(sa & sb) / len(sa | sb) if (sa or sb) else 1.0

    errs = [abs(v - jac(*p)) for p, v in est.items()]
    assert sum(errs) / len(errs) < 0.15
    assert max(errs) < 0.45


def test_winnow_match_pairs_releases_its_cache(spark):
    """Review fix pinned: the df-cut rebinding must not orphan the
    persisted fingerprint frame — after the call returns, no cached
    RDD beyond the (GC-tracked) localCheckpoint block remains."""
    docs = spark.read.parquet(
        "/root/testdata/sf0.01/documents.parquet"
    ).repartition(32)
    sc = spark.sparkContext
    before = len([r for r in sc._jsc.sc().getRDDStorageInfo()])
    D.winnow_match_pairs(docs, min_shared=2, max_df=50).count()
    after = len([r for r in sc._jsc.sc().getRDDStorageInfo()])
    # at most the localCheckpoint block survives (it is GC-cleaned);
    # the leaked form left TWO extra entries
    assert after - before <= 1


def test_doc_neardup_groups_keep_one(spark):
    """Text-side dedup decision: every doc gets a group label, the
    label is a member of the group (min id), and keep-one-per-group
    (doc_id == grp) keeps exactly one doc per distinct label."""
    from dbus_spark.operators import dedup as D

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    g = D.doc_neardup_groups(docs, min_est_jaccard=0.5).toPandas()
    assert len(g) == docs.count()  # total coverage, singletons included
    assert (g.groupby("grp")["doc_id"].min() ==
            g.groupby("grp")["doc_id"].apply(lambda s: s.min())).all()
    # label is the min id of its own group
    assert (g.groupby("grp")["doc_id"].min().index ==
            g.groupby("grp")["doc_id"].min().values).all()
    kept = g[g["doc_id"] == g["grp"]]
    assert len(kept) == g["grp"].nunique()
    # the fixture has near-dup docs: at least one non-trivial group
    assert g["grp"].nunique() < len(g)


def test_components_from_pairs_chain_and_singletons(spark, monkeypatch):
    """The shared CC core directly: a long chain collapses to one
    min-label group in BOTH strategies, edge-free nodes stay
    singletons, and the non-convergence guard warns instead of
    silently under-merging."""
    import warnings

    from dbus_spark.operators import graph
    from dbus_spark.operators.graph import components_from_pairs

    # chain 0-1-2-...-9 plus isolated nodes 100, 101
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], "id_a long, id_b long"
    )
    ids = spark.createDataFrame(
        [(i,) for i in list(range(10)) + [100, 101]], "vec_id long"
    )
    for thr in (100_000, 0):  # union-find path, then distributed loop
        monkeypatch.setattr(graph, "_DRIVER_EDGES", thr)
        got = {
            (r.vec_id, r.grp)
            for r in components_from_pairs(pairs, ids, "vec_id").collect()
        }
        expected = {(i, 0) for i in range(10)} | {(100, 100), (101, 101)}
        assert got == expected, f"threshold={thr}"

    # diameter > max_iter (on the distributed loop, _DRIVER_EDGES still
    # 0): the loop must WARN about split components
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        components_from_pairs(pairs, ids, "vec_id", max_iter=2).collect()
    assert any("did not converge" in str(x.message) for x in w)

def test_components_from_pairs_id_col_no_collision(spark, monkeypatch):
    """ADVICE r4: internal join columns must not collide with the
    caller's id_col — id_col='id' or 'label' used to raise ambiguous
    AnalysisException; 'grp'/_cc_* are validated away explicitly."""
    import pytest

    from dbus_spark.operators import graph
    from dbus_spark.operators.graph import components_from_pairs

    pairs = spark.createDataFrame(
        [(0, 1), (1, 2)], "id_a long, id_b long"
    )
    for col in ("id", "label"):
        ids = spark.createDataFrame(
            [(i,) for i in (0, 1, 2, 9)], f"{col} long"
        )
        for thr in (100_000, 0):
            monkeypatch.setattr(graph, "_DRIVER_EDGES", thr)
            got = {
                (r[col], r.grp)
                for r in components_from_pairs(pairs, ids, col).collect()
            }
            assert got == {(0, 0), (1, 0), (2, 0), (9, 9)}, (col, thr)

    ids = spark.createDataFrame([(0,)], "grp long")
    with pytest.raises(ValueError, match="collides"):
        components_from_pairs(pairs, ids, "grp")

def test_grouped_quantiles_both_arms(spark):
    """VERDICT r4 #5: one quantile API, two physical arms. The exact
    arm is the oracle-pinned F.percentile; the approx arm
    (percentile_approx, mergeable sketch — the 100 TB path) must land
    within its rank-error bound of the exact answer."""
    from dbus_spark.operators.quantiles import grouped_quantiles

    events = spark.read.parquet("/root/testdata/sf0.01/events.parquet")
    ex = {
        r["event_type"]: r
        for r in grouped_quantiles(events, "value", ["event_type"]).collect()
    }
    ap = {
        r["event_type"]: r
        for r in grouped_quantiles(
            events, "value", ["event_type"], exact=False, accuracy=10_000
        ).collect()
    }
    assert ex.keys() == ap.keys() and len(ex) >= 3
    for k in ex:
        assert ex[k]["n"] == ap[k]["n"]
        spread = ex[k]["p99"] - ex[k]["p50"] or 1.0
        for q in ("p50", "p95", "p99"):
            # accuracy=10k on ~10k-row groups => ~1-rank error; allow
            # 2% of the p50-p99 spread for the no-interpolation gap
            assert abs(ex[k][q] - ap[k][q]) <= 0.02 * abs(spread) + 1e-6, (
                k, q, ex[k][q], ap[k][q]
            )

    import pytest

    with pytest.raises(ValueError, match="same length"):
        grouped_quantiles(events, "value", ["event_type"], probs=(0.5,))


def test_grouped_distinct_both_arms(spark):
    """One distinct-count API, two physical arms: exact countDistinct
    (oracle-pinned) vs HyperLogLog++ (mergeable sketch, the 100 TB /
    streaming arm) within its rsd bound."""
    from dbus_spark.operators.quantiles import grouped_distinct

    events = spark.read.parquet("/root/testdata/sf0.01/events.parquet")
    ex = {
        r["event_type"]: r
        for r in grouped_distinct(events, "user_id", ["event_type"]).collect()
    }
    ap = {
        r["event_type"]: r
        for r in grouped_distinct(
            events, "user_id", ["event_type"], exact=False, rsd=0.02
        ).collect()
    }
    assert ex.keys() == ap.keys() and len(ex) >= 3
    for k in ex:
        assert ex[k]["n"] == ap[k]["n"]
        # HLL++ at rsd=0.02: allow 3 sigma
        assert abs(ap[k]["n_distinct"] - ex[k]["n_distinct"]) <= max(
            3, 0.06 * ex[k]["n_distinct"]
        ), k


def test_n_partitions_falls_back_on_non_numeric_conf():
    """The pinned-partition stages read spark.sql.shuffle.partitions
    through one helper; a platform value like 'auto' falls back to
    defaultParallelism instead of crashing plan construction."""
    from types import SimpleNamespace

    from dbus_spark.session import _n_partitions

    def stub(value):
        return SimpleNamespace(
            conf=SimpleNamespace(get=lambda key: value),
            sparkContext=SimpleNamespace(defaultParallelism=7),
        )

    assert _n_partitions(stub("12")) == 12
    assert _n_partitions(stub("auto")) == 7
    assert _n_partitions(stub(None)) == 7
