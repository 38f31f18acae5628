"""CEP pattern matching: batch operators vs pandas oracles, and the
streaming twin's stream == batch contract for any micro-batch split
(state tail carries cross-batch matches; duplicates are dropped)."""

import datetime as dt
import os

import numpy as np
import pandas as pd
import pytest

from dbus_spark.operators.cep import (
    classify,
    funnel,
    match_quantified,
    match_runs,
    match_sequence,
    streaming_funnel,
    streaming_match_quantified,
    streaming_match_sequence,
)
from dbus_spark.pipeline.streaming import replay

PATTERN = ["user", "assistant", "tool"]
TURNS = "conv_id string, turn_idx long, role string, ts timestamp"


# --- fixtures ----------------------------------------------------------


@pytest.fixture(scope="module")
def turns_pd():
    """In-order per-conv turn stream with a seeded role mix rich in
    short patterns; ts strictly increasing within each conv and unique
    globally (so a global-ts file split preserves per-key order)."""
    rng = np.random.default_rng(7)
    rows = []
    base = dt.datetime(2026, 1, 1)
    n_convs, n_turns = 40, 30
    for c in range(n_convs):
        tsec = 0
        for t in range(n_turns):
            # ~8% of inter-turn gaps are 2 h (vs 60 s) so a `within`
            # bound in the tens-of-minutes range actually bites
            tsec += 7200 if rng.random() < 0.08 else 60
            rows.append(
                {
                    "conv_id": f"conv{c:04d}",
                    "turn_idx": t,
                    "role": ["user", "assistant", "tool"][
                        int(rng.integers(0, 3))
                    ],
                    "ts": base
                    + dt.timedelta(seconds=tsec, milliseconds=c),
                }
            )
    pdf = pd.DataFrame(rows)
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    return pdf


@pytest.fixture(scope="module")
def turns_df(spark, turns_pd):
    return spark.createDataFrame(turns_pd).cache()


def _pd_matches(pdf: pd.DataFrame, pattern, within=None) -> set:
    """Row-at-a-time reference: contiguous window scan per conv."""
    L = len(pattern)
    out = set()
    for cid, g in pdf.sort_values(["conv_id", "turn_idx"]).groupby(
        "conv_id"
    ):
        syms = g["role"].tolist()
        idxs = g["turn_idx"].tolist()
        tss = g["ts"].tolist()
        for i in range(len(syms) - L + 1):
            if syms[i : i + L] == pattern:
                if within is not None and tss[i + L - 1] - tss[i] > within:
                    continue
                out.add((cid, idxs[i], idxs[i + L - 1]))
    return out


# --- batch -------------------------------------------------------------


def test_classify_precedence_and_default(spark):
    df = spark.createDataFrame(
        [(1, "user"), (2, "assistant"), (3, "weird")], "id int, role string"
    )
    out = classify(
        df,
        {"U": "role = 'user'", "ANY": "role in ('user','assistant')"},
    )
    got = {r["id"]: r["sym"] for r in out.collect()}
    # dict order = precedence: 'user' rows take U, not ANY
    assert got == {1: "U", 2: "ANY", 3: None}


def test_match_sequence_vs_pandas(turns_df, turns_pd):
    got = {
        (r["conv_id"], r["start_turn_idx"], r["end_turn_idx"])
        for r in match_sequence(
            turns_df, PATTERN, key="conv_id", order="turn_idx", sym="role"
        ).collect()
    }
    assert got == _pd_matches(turns_pd, PATTERN)
    assert len(got) > 20  # fixture must actually contain patterns


def test_match_sequence_within(spark):
    base = dt.datetime(2026, 1, 1)
    rows = [
        ("c1", 0, "user", base),
        ("c1", 1, "assistant", base + dt.timedelta(minutes=5)),
        ("c1", 2, "tool", base + dt.timedelta(minutes=20)),
        ("c2", 0, "user", base),
        ("c2", 1, "assistant", base + dt.timedelta(minutes=5)),
        ("c2", 2, "tool", base + dt.timedelta(hours=3)),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx long, role string, ts timestamp"
    )
    got = match_sequence(
        df, PATTERN, key="conv_id", order="turn_idx", sym="role",
        within="30 minutes",
    ).collect()
    assert [(r["conv_id"]) for r in got] == ["c1"]


def test_match_runs_vs_pandas(turns_df, turns_pd):
    got = {
        (r["conv_id"], r["role"], r["run_len"], r["start_turn_idx"])
        for r in match_runs(
            turns_df, key="conv_id", order="turn_idx", sym="role",
            min_len=3,
        ).collect()
    }
    exp = set()
    for cid, g in turns_pd.sort_values(["conv_id", "turn_idx"]).groupby(
        "conv_id"
    ):
        syms, idxs = g["role"].tolist(), g["turn_idx"].tolist()
        i = 0
        while i < len(syms):
            j = i
            while j < len(syms) and syms[j] == syms[i]:
                j += 1
            if j - i >= 3:
                exp.add((cid, syms[i], j - i, idxs[i]))
            i = j
    assert got == exp
    assert len(got) > 5


def test_funnel_ordered_cascade(spark):
    base = dt.datetime(2026, 1, 1)
    rows = [
        # k1 completes in order; k2 has the purchase BEFORE its click
        # (stage-2 time), so it must not count as stage 3
        ("k1", "view", base),
        ("k1", "click", base + dt.timedelta(minutes=1)),
        ("k1", "purchase", base + dt.timedelta(minutes=2)),
        ("k2", "view", base),
        ("k2", "purchase", base + dt.timedelta(minutes=1)),
        ("k2", "click", base + dt.timedelta(minutes=2)),
        ("k3", "click", base),
    ]
    df = spark.createDataFrame(rows, "uid string, et string, ts timestamp")
    out = funnel(
        df,
        [
            ("view", "et = 'view'"),
            ("click", "et = 'click'"),
            ("purchase", "et = 'purchase'"),
        ],
        key="uid",
    )
    got = {(r["stage_idx"], r["stage"]): r["n_keys"] for r in out.collect()}
    assert got == {(0, "view"): 2, (1, "click"): 2, (2, "purchase"): 1}


# --- streaming ---------------------------------------------------------


def _run_cep_stream(spark, turns_pd, n_files, within=None):
    # ttl far beyond the fixture's event-time span: these tests pin the
    # stream == batch contract, not the (documented) eviction trade
    out = replay(
        spark,
        turns_pd.sort_values("ts"),
        TURNS,
        lambda src: streaming_match_sequence(
            src, PATTERN, key="conv_id", order="turn_idx", sym="role",
            within=within, n_buckets=8, ttl_ms=86_400_000,
        ),
        n_files,
    )
    return {
        (r.key, r.start_order, r.end_order)
        for r in out.itertuples(index=False)
    }


def test_stream_matches_batch_single(spark, turns_pd):
    exp = _pd_matches(turns_pd, PATTERN)
    assert _run_cep_stream(spark, turns_pd, 1) == exp


def test_stream_matches_batch_split(spark, turns_pd):
    """Matches spanning micro-batch boundaries must still fire (state
    tail), and none may fire twice (end-order threshold)."""
    exp = _pd_matches(turns_pd, PATTERN)
    assert _run_cep_stream(spark, turns_pd, 7) == exp


def test_stream_within_matches_batch(spark, turns_pd):
    within = pd.Timedelta(minutes=90)
    exp = _pd_matches(turns_pd, PATTERN, within=within)
    got = _run_cep_stream(spark, turns_pd, 5, within="90 minutes")
    assert got == exp
    # the bound must bite on this fixture or the test proves nothing
    assert got != _pd_matches(turns_pd, PATTERN)


def test_stream_dedups_redelivered_rows(spark, turns_pd):
    """An exact (key, order) redelivery in a later file must not
    create new matches: first copy (already in state) wins."""
    dup = turns_pd.sort_values("ts").head(len(turns_pd) // 2)
    exp = _pd_matches(turns_pd, PATTERN)
    out = replay(
        spark,
        turns_pd.sort_values("ts"),
        TURNS,
        lambda src: streaming_match_sequence(
            src, PATTERN, key="conv_id", order="turn_idx", sym="role",
            n_buckets=8, ttl_ms=86_400_000,
        ),
        n_files=1,
        then=(dup.tail(200),),
    )
    assert (
        {(r.key, r.start_order, r.end_order) for r in out.itertuples(index=False)}
        == exp
    )
    assert not out.duplicated(["key", "start_order"]).any()


def test_stream_kill_resume(spark, turns_pd, tmp_path):
    """Restart from checkpoint mid-stream: the state tail must carry
    over so the union of outputs equals the uninterrupted run, with no
    duplicate matches."""
    in_dir = tmp_path / "in_kr"
    os.makedirs(in_dir)
    ordered = turns_pd.sort_values("ts").reset_index(drop=True)
    parts = np.array_split(np.arange(len(ordered)), 6)
    # phase 1: first 3 files exist
    for i, idx in enumerate(parts[:3]):
        ordered.iloc[idx].to_parquet(
            in_dir / f"b-{i:04d}.parquet", index=False
        )
    got = []

    def collect(batch_df, _epoch):
        got.append(batch_df.toPandas())

    def start():
        src = (
            spark.readStream.schema(
                "conv_id string, turn_idx long, role string, ts timestamp"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(str(in_dir))
        )
        v = streaming_match_sequence(
            src, PATTERN, key="conv_id", order="turn_idx", sym="role",
            n_buckets=8, ttl_ms=86_400_000,
        )
        return (
            v.writeStream.outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ck_kr"))
            .foreachBatch(collect)
            .start()
        )

    q = start()
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(60)
    for i, idx in enumerate(parts[3:], start=3):
        ordered.iloc[idx].to_parquet(
            in_dir / f"b-{i:04d}.parquet", index=False
        )
    q = start()
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(60)
    out = pd.concat(got, ignore_index=True)
    matches = {
        (r.key, r.start_order, r.end_order)
        for r in out.itertuples(index=False)
    }
    assert matches == _pd_matches(turns_pd, PATTERN)
    assert not out.duplicated(["key", "start_order", "end_order"]).any()


# --- absence / timeout patterns ---------------------------------------


def _pd_absence_emitted(pdf, first, absent, within, wm_delay):
    """Replica of the streaming absence contract: batch-unanswered
    `first` events that are RESOLVABLE — by a later same-key row past
    the deadline, or by the final watermark (global max ts − delay)
    passing it."""
    out = set()
    final_wm = pdf["ts"].max() - wm_delay
    for cid, g in pdf.sort_values(["conv_id", "turn_idx"]).groupby(
        "conv_id"
    ):
        rows = list(g.itertuples())
        for i, r in enumerate(rows):
            if r.role != first:
                continue
            deadline = r.ts + within
            nb = next(
                (x.ts for x in rows[i + 1:] if x.role == absent), None
            )
            if nb is not None and nb <= deadline:
                continue  # answered in-stream
            if rows[-1].ts > deadline or deadline <= final_wm:
                out.add((cid, r.turn_idx))
    return out


def test_match_absence_vs_pandas(turns_df, turns_pd):
    from dbus_spark.operators.cep import match_absence

    got = {
        (r["conv_id"], r["start_turn_idx"])
        for r in match_absence(
            turns_df, first="user", absent="tool", within="5 minutes",
            key="conv_id", order="turn_idx", sym="role",
        ).collect()
    }
    exp = set()
    for cid, g in turns_pd.sort_values(["conv_id", "turn_idx"]).groupby(
        "conv_id"
    ):
        rows = list(g.itertuples())
        for i, r in enumerate(rows):
            if r.role != "user":
                continue
            nb = next(
                (x.ts for x in rows[i + 1:] if x.role == "tool"), None
            )
            if nb is None or nb > r.ts + pd.Timedelta(minutes=5):
                exp.add((cid, r.turn_idx))
    assert got == exp
    # the horizon must bite both ways
    n_user = (turns_pd["role"] == "user").sum()
    assert 0 < len(got) < n_user


class _no_data_batches:
    """Enable watermark-only micro-batches for the query under test:
    the session default disables them (bench overhead choice), but
    end-of-stream timeout EMISSION needs one — see the
    streaming_match_absence docstring."""

    KEY = "spark.sql.streaming.noDataMicroBatches.enabled"

    def __init__(self, spark):
        self.spark = spark

    def __enter__(self):
        self.prev = self.spark.conf.get(self.KEY)
        self.spark.conf.set(self.KEY, "true")

    def __exit__(self, *exc):
        self.spark.conf.set(self.KEY, self.prev)


def _run_absence_stream(spark, turns_pd, n_files):
    from dbus_spark.operators.cep import streaming_match_absence

    with _no_data_batches(spark):
        out = replay(
            spark,
            turns_pd.sort_values("ts"),
            TURNS,
            lambda src: streaming_match_absence(
                src, first="user", absent="tool", within="5 minutes",
                key="conv_id", order="turn_idx", sym="role",
                watermark="10 minutes", n_buckets=8, ttl_ms=86_400_000,
            ),
            n_files,
        )
    assert not out.duplicated(["key", "start_order"]).any()
    return {(r.key, r.start_order) for r in out.itertuples(index=False)}


def test_stream_absence_matches_replica(spark, turns_pd):
    exp = _pd_absence_emitted(
        turns_pd, "user", "tool",
        pd.Timedelta(minutes=5), pd.Timedelta(minutes=10),
    )
    assert len(exp) > 10
    assert _run_absence_stream(spark, turns_pd, 1) == exp


def test_stream_absence_split_equivalence(spark, turns_pd):
    """The emitted set must not depend on the micro-batch split:
    pending entries carry across batches; in-stream resolution and
    the final-watermark sweep land on the same verdicts."""
    exp = _pd_absence_emitted(
        turns_pd, "user", "tool",
        pd.Timedelta(minutes=5), pd.Timedelta(minutes=10),
    )
    assert _run_absence_stream(spark, turns_pd, 7) == exp


def test_stream_absence_dedups_redelivered_rows(spark, turns_pd):
    """Exact (key, order) redelivery in a later file must not emit a
    ``first`` event twice (frontier guard).  The watermark delay
    exceeds the fixture's time span, so Spark's late-row filter keeps
    the redelivered rows and only the guard can drop them."""
    from dbus_spark.operators.cep import streaming_match_absence

    ordered = turns_pd.sort_values("ts")
    delay = pd.Timedelta(hours=24)
    assert ordered["ts"].max() - ordered["ts"].min() < delay
    with _no_data_batches(spark):
        out = replay(
            spark,
            ordered,
            TURNS,
            lambda src: streaming_match_absence(
                src, first="user", absent="tool", within="5 minutes",
                key="conv_id", order="turn_idx", sym="role",
                watermark="24 hours", n_buckets=8, ttl_ms=86_400_000,
            ),
            n_files=1,
            then=(ordered.head(len(ordered) // 2),),
        )
    assert not out.duplicated(["key", "start_order"]).any()
    exp = _pd_absence_emitted(
        turns_pd, "user", "tool", pd.Timedelta(minutes=5), delay
    )
    assert len(exp) > 10
    assert {(r.key, r.start_order) for r in out.itertuples(index=False)} == exp


def test_stream_absence_kill_resume(spark, turns_pd, tmp_path):
    from dbus_spark.operators.cep import streaming_match_absence

    in_dir = tmp_path / "in_abs_kr"
    os.makedirs(in_dir)
    ordered = turns_pd.sort_values("ts").reset_index(drop=True)
    parts = np.array_split(np.arange(len(ordered)), 6)
    for i, idx in enumerate(parts[:3]):
        ordered.iloc[idx].to_parquet(
            in_dir / f"b-{i:04d}.parquet", index=False
        )
    got = []

    def collect(batch_df, _epoch):
        got.append(batch_df.toPandas())

    def start():
        src = (
            spark.readStream.schema(
                "conv_id string, turn_idx long, role string, ts timestamp"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(str(in_dir))
        )
        v = streaming_match_absence(
            src, first="user", absent="tool", within="5 minutes",
            key="conv_id", order="turn_idx", sym="role",
            watermark="10 minutes", n_buckets=8, ttl_ms=86_400_000,
        )
        return (
            v.writeStream.outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ck_abs_kr"))
            .foreachBatch(collect)
            .start()
        )

    with _no_data_batches(spark):
        q = start()
        q.processAllAvailable()
        q.stop()
        q.awaitTermination(60)
        for i, idx in enumerate(parts[3:], start=3):
            ordered.iloc[idx].to_parquet(
                in_dir / f"b-{i:04d}.parquet", index=False
            )
        q = start()
        q.processAllAvailable()
        q.stop()
        q.awaitTermination(60)
    out = pd.concat(got, ignore_index=True)
    exp = _pd_absence_emitted(
        turns_pd, "user", "tool",
        pd.Timedelta(minutes=5), pd.Timedelta(minutes=10),
    )
    assert {
        (r.key, r.start_order) for r in out.itertuples(index=False)
    } == exp
    assert not out.duplicated(["key", "start_order"]).any()


# --- alternation -------------------------------------------------------


def _pd_matches_alt(pdf, pattern):
    L = len(pattern)
    out = set()
    for cid, g in pdf.sort_values(["conv_id", "turn_idx"]).groupby(
        "conv_id"
    ):
        syms = g["role"].tolist()
        idxs = g["turn_idx"].tolist()
        for i in range(len(syms) - L + 1):
            if all(
                syms[i + j] in p if isinstance(p, (list, set, tuple))
                else syms[i + j] == p
                for j, p in enumerate(pattern)
            ):
                out.add((cid, idxs[i], idxs[i + L - 1]))
    return out


ALT_PATTERN = ["user", ["assistant", "tool"], "user"]


def test_match_sequence_alternation(turns_df, turns_pd):
    from dbus_spark.operators.cep import match_sequence

    got = {
        (r["conv_id"], r["start_turn_idx"], r["end_turn_idx"])
        for r in match_sequence(
            turns_df, ALT_PATTERN, key="conv_id", order="turn_idx",
            sym="role",
        ).collect()
    }
    exp = _pd_matches_alt(turns_pd, ALT_PATTERN)
    assert got == exp
    # alternation must be wider than either single-symbol middle
    narrow = _pd_matches_alt(turns_pd, ["user", "assistant", "user"])
    assert narrow < exp


def test_stream_alternation_matches_batch(spark, turns_pd):
    out = replay(
        spark,
        turns_pd.sort_values("ts"),
        TURNS,
        lambda src: streaming_match_sequence(
            src, ALT_PATTERN, key="conv_id", order="turn_idx", sym="role",
            n_buckets=8, ttl_ms=86_400_000,
        ),
        n_files=5,
    )
    assert {
        (r.key, r.start_order, r.end_order)
        for r in out.itertuples(index=False)
    } == _pd_matches_alt(turns_pd, ALT_PATTERN)


def test_stream_ttl_eviction_contract(spark):
    """The documented bounded-state trade: a key silent for longer
    than ttl has its tail evicted, so a pattern straddling the gap is
    missed — while a within <= ttl match is never lost (the invariant
    the operator docstring states)."""
    base = dt.datetime(2026, 1, 1)
    rows = [
        # c1: user,assistant then a 2h silence, then tool — the match
        # straddles the gap and must be LOST at ttl=10min
        ("c1", 0, "user", base),
        ("c1", 1, "assistant", base + dt.timedelta(seconds=60)),
        ("c1", 2, "tool", base + dt.timedelta(hours=2)),
        # filler traffic DURING the silence: advances the watermark
        # past c1's tail deadlines so the sweep (same bucket —
        # n_buckets=1) evicts it before c1 resumes
        ("c4", 0, "user", base + dt.timedelta(minutes=20)),
        ("c4", 1, "user", base + dt.timedelta(minutes=40)),
        ("c4", 2, "user", base + dt.timedelta(minutes=60)),
        # c2: tight match (1 min spacing) — must survive
        ("c2", 0, "user", base + dt.timedelta(hours=2, minutes=1)),
        ("c2", 1, "assistant", base + dt.timedelta(hours=2, minutes=2)),
        ("c2", 2, "tool", base + dt.timedelta(hours=2, minutes=3)),
    ]
    pdf = pd.DataFrame(
        rows, columns=["conv_id", "turn_idx", "role", "ts"]
    )
    # one row per file: the 2h gap lands across micro-batches
    out = replay(
        spark,
        pdf.sort_values("ts"),
        TURNS,
        lambda src: streaming_match_sequence(
            src, PATTERN, key="conv_id", order="turn_idx", sym="role",
            watermark="1 minute", n_buckets=1, ttl_ms=600_000,
        ),
        n_files=len(pdf),
    )
    keys = set(out["key"])
    assert "c2" in keys  # tight match survived
    assert "c1" not in keys  # straddling match evicted — the trade


# --- quantified (Kleene) patterns --------------------------------------


def _pd_runs(g: pd.DataFrame) -> list[tuple]:
    """Contract one conv's in-order rows to maximal runs:
    (sym, len, start_idx, end_idx, start_ts, end_ts)."""
    runs = []
    for _, row in g.sort_values("turn_idx").iterrows():
        if runs and runs[-1][0] == row["role"]:
            s, n, si, _, sts, _ = runs[-1]
            runs[-1] = (s, n + 1, si, row["turn_idx"], sts, row["ts"])
        else:
            runs.append(
                (row["role"], 1, row["turn_idx"], row["turn_idx"],
                 row["ts"], row["ts"])
            )
    return runs


def _pd_quantified(pdf: pd.DataFrame, pattern, within=None) -> set:
    """Reference for maximal-run semantics: position i consumes one
    maximal run with length in [mn, mx]."""
    L = len(pattern)
    out = set()
    for cid, g in pdf.groupby("conv_id"):
        runs = _pd_runs(g)
        for i in range(len(runs) - L + 1):
            ok = True
            for j, (elem, mn, mx) in enumerate(pattern):
                sym, n = runs[i + j][0], runs[i + j][1]
                elems = (
                    elem if isinstance(elem, (list, tuple, set)) else [elem]
                )
                if sym not in elems or n < mn or (mx is not None and n > mx):
                    ok = False
                    break
            if ok:
                span = runs[i + L - 1][5] - runs[i][4]
                if within is not None and span > within:
                    continue
                out.add(
                    (cid, runs[i][2], runs[i + L - 1][3])
                    + tuple(runs[i + j][1] for j in range(L))
                )
    return out


QPATTERN = [("user", 1, 2), ("assistant", 1, None), ("tool", 1, 1)]


def test_match_quantified_vs_pandas(turns_df, turns_pd):
    from dbus_spark.operators.cep import match_quantified

    got = {
        (
            r["conv_id"], r["start_turn_idx"], r["end_turn_idx"],
            r["len_0"], r["len_1"], r["len_2"],
        )
        for r in match_quantified(
            turns_df, QPATTERN, key="conv_id", order="turn_idx", sym="role"
        ).collect()
    }
    exp = _pd_quantified(turns_pd, QPATTERN)
    assert got == exp
    assert len(got) > 20  # fixture must actually contain the pattern
    # quantifier bounds must BITE: some maximal user-runs exceed 2
    loose = _pd_quantified(
        turns_pd, [("user", 1, None), ("assistant", 1, None), ("tool", 1, 1)]
    )
    assert len(loose) > len(exp)


def test_match_quantified_within(turns_df, turns_pd):
    from dbus_spark.operators.cep import match_quantified

    got = {
        (
            r["conv_id"], r["start_turn_idx"], r["end_turn_idx"],
            r["len_0"], r["len_1"], r["len_2"],
        )
        for r in match_quantified(
            turns_df, QPATTERN, key="conv_id", order="turn_idx",
            sym="role", within="30 minutes",
        ).collect()
    }
    exp = _pd_quantified(
        turns_pd, QPATTERN, within=dt.timedelta(minutes=30)
    )
    assert got == exp
    # the bound must bite: the unbounded set is strictly larger
    assert len(_pd_quantified(turns_pd, QPATTERN)) > len(got)


def test_match_quantified_maximal_run_semantics(spark):
    """a{1,2} b{1,1} does NOT match the tail of `a a a b` — maximal
    runs, not regex backtracking (the documented distributed
    semantics); and alternation positions consume exactly one run."""
    from dbus_spark.operators.cep import match_quantified

    base = dt.datetime(2026, 1, 1)
    rows = []
    for i, s in enumerate("aaab"):
        rows.append(("c1", i, s, base + dt.timedelta(minutes=i)))
    for i, s in enumerate("aab"):
        rows.append(("c2", i, s, base + dt.timedelta(minutes=i)))
    # c3: a b a — middle position alternation {b, c} takes the b-run
    for i, s in enumerate("aba"):
        rows.append(("c3", i, s, base + dt.timedelta(minutes=i)))
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx long, role string, ts timestamp"
    )
    got = {
        (r["conv_id"], r["start_turn_idx"], r["end_turn_idx"])
        for r in match_quantified(
            df, [("a", 1, 2), ("b", 1, 1)], key="conv_id",
            order="turn_idx", sym="role",
        ).collect()
    }
    assert got == {("c2", 0, 2), ("c3", 0, 1)}
    alt = {
        (r["conv_id"], r["start_turn_idx"], r["end_turn_idx"])
        for r in match_quantified(
            df, [("a", 1, 2), (["b", "c"], 1, 1), ("a", 1, None)],
            key="conv_id", order="turn_idx", sym="role",
        ).collect()
    }
    assert alt == {("c3", 0, 2)}


# --- streaming quantified twin -----------------------------------------


def _flush_pd(turns_pd: pd.DataFrame) -> pd.DataFrame:
    """Append one per-conv sentinel END turn after the last real turn:
    closes every run (streaming emission needs closure to prove
    maximality) while matching no pattern position, so the batch match
    set is unchanged."""
    last = turns_pd.sort_values("turn_idx").groupby("conv_id").tail(1)
    flush = last.assign(
        turn_idx=last["turn_idx"] + 1,
        role="END",
        ts=last["ts"] + pd.Timedelta(seconds=1),
    )
    out = (
        pd.concat([turns_pd, flush], ignore_index=True)
        .sort_values(["ts", "conv_id"])
        .reset_index(drop=True)
    )
    # Timedelta arithmetic promotes to ns; parquet then stores
    # TIMESTAMP(NANOS), which Spark's TIMESTAMP reader rejects
    out["ts"] = out["ts"].astype("datetime64[us]")
    return out


def _run_quant_stream(spark, pdf, n_files, within=None):
    return replay(
        spark,
        pdf.sort_values("ts"),
        TURNS,
        lambda src: streaming_match_quantified(
            src, QPATTERN, key="conv_id", order="turn_idx", sym="role",
            within=within, n_buckets=8, ttl_ms=86_400_000,
        ),
        n_files,
    )


def _quant_set(out: pd.DataFrame) -> set:
    return {
        (r.key, r.start_order, r.end_order, r.len_0, r.len_1, r.len_2)
        for r in out.itertuples(index=False)
    }


def test_stream_quantified_matches_batch(spark, turns_pd):
    """With a per-key flush sentinel, the stream must emit exactly the
    batch twin's match set — for single-batch AND split replays (runs
    straddling micro-batch boundaries must merge, and no match may
    fire twice)."""
    pdf = _flush_pd(turns_pd)
    exp = _pd_quantified(turns_pd, QPATTERN)
    assert len(exp) > 20
    one = _quant_set(_run_quant_stream(spark, pdf, 1))
    assert one == exp
    many = _quant_set(_run_quant_stream(spark, pdf, 9))
    assert many == exp


def test_stream_quantified_within(spark, turns_pd):
    pdf = _flush_pd(turns_pd)
    exp = _pd_quantified(
        turns_pd, QPATTERN, within=dt.timedelta(minutes=30)
    )
    got = _quant_set(
        _run_quant_stream(spark, pdf, 5, within="30 minutes")
    )
    assert got == exp
    assert got != _pd_quantified(turns_pd, QPATTERN)  # bound bites


def test_stream_quantified_open_run_holds(spark, turns_pd):
    """Without the flush sentinel, matches whose FINAL run is the
    key's last run never emit (closure proves maximality) — and
    everything else still does."""
    exp_all = _pd_quantified(turns_pd, QPATTERN)
    got = _quant_set(
        _run_quant_stream(spark, turns_pd, 4)
    )
    assert got <= exp_all
    # the held-back matches are exactly those ending at a conv's tail
    last_idx = turns_pd.groupby("conv_id")["turn_idx"].max()
    held_back = {
        m for m in exp_all if m[2] == last_idx[m[0]]
    }
    assert exp_all - got == held_back


def test_stream_quantified_redelivery(spark, turns_pd):
    """Redelivered (at-least-once) tail rows must not re-extend or
    re-emit: replay the last file's rows once more."""
    ordered = _flush_pd(turns_pd).sort_values("ts")
    n = len(ordered)
    # files: first 80% in 4 files, then the tail, then the tail AGAIN
    tailpart = ordered.iloc[int(n * 0.8):]
    out = replay(
        spark,
        ordered.iloc[: int(n * 0.8)],
        TURNS,
        lambda src: streaming_match_quantified(
            src, QPATTERN, key="conv_id", order="turn_idx", sym="role",
            n_buckets=8, ttl_ms=86_400_000,
        ),
        n_files=4,
        then=(tailpart, tailpart),
    )
    assert not out.duplicated(["key", "start_order"]).any()
    assert _quant_set(out) == _pd_quantified(turns_pd, QPATTERN)


def test_stream_quantified_kill_resume(spark, turns_pd, tmp_path):
    """Checkpoint kill/resume mid-replay: final match set unchanged."""
    from dbus_spark.operators.cep import streaming_match_quantified

    pdf = _flush_pd(turns_pd)
    in_dir = tmp_path / "qin_kill"
    os.makedirs(in_dir)
    ordered = pdf.sort_values("ts").reset_index(drop=True)
    parts = np.array_split(np.arange(len(ordered)), 8)
    for i, idx in enumerate(parts):
        ordered.iloc[idx].to_parquet(
            in_dir / f"b-{i:04d}.parquet", index=False
        )
    sink_dir = tmp_path / "qsink"
    os.makedirs(sink_dir)

    def start():
        src = (
            spark.readStream.schema(
                "conv_id string, turn_idx long, role string, ts timestamp"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(str(in_dir))
        )
        v = streaming_match_quantified(
            src, QPATTERN, key="conv_id", order="turn_idx", sym="role",
            n_buckets=8, ttl_ms=86_400_000,
        )

        def sink(batch_df, epoch):
            batch_df.write.mode("overwrite").parquet(
                str(sink_dir / f"epoch={epoch}")
            )

        return (
            v.writeStream.outputMode("append")
            .option("checkpointLocation", str(tmp_path / "qck_kill"))
            .foreachBatch(sink)
            .start()
        )

    q = start()
    import time as _t

    for _ in range(600):
        if len(os.listdir(sink_dir)) >= 3:
            break
        _t.sleep(0.1)
    q.stop()
    q.awaitTermination(60)
    q = start()
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(60)
    out = (
        spark.read.option("recursiveFileLookup", "false")
        .parquet(str(sink_dir))
        .toPandas()
        .drop_duplicates(["key", "start_order", "end_order"])
    )
    assert _quant_set(out) == _pd_quantified(turns_pd, QPATTERN)


def test_parse_pattern_grammar():
    from dbus_spark.operators.cep import parse_pattern

    assert parse_pattern("a b c") == (
        [("a", 1, 1), ("b", 1, 1), ("c", 1, 1)],
        None,
    )
    assert parse_pattern("view{1,3} click{2,} buy{4}") == (
        [("view", 1, 3), ("click", 2, None), ("buy", 4, 4)],
        None,
    )
    pat, within = parse_pattern("(view|hover){2,} click within 30 minutes")
    assert pat == [(["view", "hover"], 2, None), ("click", 1, 1)]
    assert within == "30 minutes"
    import pytest

    for bad in ("", "within 1 hour", "a{}", "a{,3}", "(a|)", "a b{1,2}c"):
        with pytest.raises(ValueError):
            parse_pattern(bad)


def test_match_pattern_equals_match_quantified(spark):
    """The DSL front end is a pure parser: identical rows to the
    explicit-tuple call for the same pattern."""
    from dbus_spark.operators.cep import match_pattern, match_quantified

    events = spark.read.parquet("/root/testdata/sf0.01/events.parquet")
    via_dsl = match_pattern(
        events,
        "view{1,3} (click|view){1,} purchase{1,} within 24 hours",
        key="user_id",
        order="event_id",
        sym="event_type",
    ).collect()
    via_tuples = match_quantified(
        events,
        [("view", 1, 3), (["click", "view"], 1, None), ("purchase", 1, None)],
        key="user_id",
        order="event_id",
        sym="event_type",
        within="24 hours",
    ).collect()
    assert sorted(map(tuple, via_dsl)) == sorted(map(tuple, via_tuples))
    assert len(via_dsl) > 0


# --- streaming funnel ----------------------------------------------------


FUNNEL_STAGES = [
    ("user", "role = 'user'"),
    ("assistant", "role = 'assistant'"),
    ("tool", "role = 'tool'"),
]


def _pd_funnel_advances(pdf: pd.DataFrame, stage_syms: list) -> set:
    """Greedy in-order reference: stage i is reached at the first
    event matching stage i's symbol strictly later (ts) than stage
    i-1's reached time — exactly the batch funnel's earliest-
    qualifying-event semantics on in-order input."""
    out = set()
    for cid, g in pdf.sort_values(["conv_id", "turn_idx"]).groupby(
        "conv_id"
    ):
        r, last = 0, None
        for row in g.itertuples(index=False):
            if (
                r < len(stage_syms)
                and row.role == stage_syms[r]
                and (last is None or row.ts > last)
            ):
                out.add((cid, r, row.ts))
                last = row.ts
                r += 1
    return out


def _run_funnel_stream(spark, turns_pd, n_files):
    out = replay(
        spark,
        turns_pd.sort_values("ts"),
        TURNS,
        lambda src: streaming_funnel(
            src, FUNNEL_STAGES, key="conv_id", order="turn_idx",
            n_buckets=8, ttl_ms=86_400_000,
        ),
        n_files,
    )
    # exactly-once advances: a key reaches a stage at most once
    assert not out.duplicated(["key", "stage_idx"]).any()
    # stage names resolve from stage_idx
    assert set(out["stage"]) <= {n for n, _ in FUNNEL_STAGES}
    return {
        (r.key, r.stage_idx, r.reached_ts)
        for r in out.itertuples(index=False)
    }


def test_stream_funnel_matches_reference_single(spark, turns_pd):
    exp = _pd_funnel_advances(turns_pd, [n for n, _ in FUNNEL_STAGES])
    assert len(exp) > 60  # all 40 convs reach stage 0; most go deeper
    assert _run_funnel_stream(spark, turns_pd, 1) == exp


def test_stream_funnel_split_equivalence(spark, turns_pd):
    """Advance events must not depend on the micro-batch split: the
    (n_reached, last_ts) frontier carries across batches."""
    exp = _pd_funnel_advances(turns_pd, [n for n, _ in FUNNEL_STAGES])
    assert _run_funnel_stream(spark, turns_pd, 7) == exp


def test_stream_funnel_aggregates_to_batch_counts(
    spark, turns_df, turns_pd
):
    """The advance log replayed to end-of-stream aggregates to exactly
    the batch operator's per-stage n_keys — the twin contract."""
    adv = _run_funnel_stream(spark, turns_pd, 5)
    batch = {
        (r["stage_idx"], r["n_keys"])
        for r in funnel(
            turns_df,
            [(n, f"role = '{n}'") for n, _ in FUNNEL_STAGES],
            key="conv_id",
        ).collect()
    }
    stream_counts = {
        (s, sum(1 for (_, si, _) in adv if si == s)) for s in range(3)
    }
    assert stream_counts == batch


def test_stream_funnel_ordered_cascade(spark):
    """Out-of-order stage events must not advance (purchase before
    click) — mirrors test_funnel_ordered_cascade on the batch side."""
    base = dt.datetime(2026, 1, 1)
    rows = pd.DataFrame(
        [
            ("k1", 0, "view", base),
            ("k2", 0, "view", base),
            ("k3", 0, "click", base),
            ("k2", 1, "purchase", base + dt.timedelta(minutes=1)),
            ("k1", 1, "click", base + dt.timedelta(minutes=1)),
            ("k1", 2, "purchase", base + dt.timedelta(minutes=2)),
            ("k2", 2, "click", base + dt.timedelta(minutes=2)),
        ],
        columns=["conv_id", "turn_idx", "role", "ts"],
    )
    out = replay(
        spark,
        rows.sort_values(["ts", "conv_id"]),
        TURNS,
        lambda src: streaming_funnel(
            src,
            [
                ("view", "role = 'view'"),
                ("click", "role = 'click'"),
                ("purchase", "role = 'purchase'"),
            ],
            key="conv_id",
            order="turn_idx",
            n_buckets=4,
            ttl_ms=86_400_000,
        ),
        n_files=1,
    )
    reached = {
        (r.key, r.stage_idx) for r in out.itertuples(index=False)
    }
    # k1 full cascade; k2 view only (purchase precedes its click-stage
    # advance... click at minute 2 DOES advance stage 1, but purchase
    # at minute 1 is not strictly later than it); k3 nothing
    assert reached == {("k1", 0), ("k1", 1), ("k1", 2), ("k2", 0), ("k2", 1)}


def test_stream_funnel_dedups_redelivered_rows(spark, turns_pd):
    """Exact (key, order) redelivery in a later file must not advance
    anything twice (frontier guard) nor resurrect completed keys."""
    ordered = turns_pd.sort_values("ts")
    out = replay(
        spark,
        ordered,
        TURNS,
        lambda src: streaming_funnel(
            src, FUNNEL_STAGES, key="conv_id", order="turn_idx",
            n_buckets=8, ttl_ms=86_400_000,
        ),
        n_files=1,
        then=(ordered.head(len(ordered) // 2),),
    )
    assert not out.duplicated(["key", "stage_idx"]).any()
    exp = _pd_funnel_advances(turns_pd, [n for n, _ in FUNNEL_STAGES])
    assert {
        (r.key, r.stage_idx, r.reached_ts)
        for r in out.itertuples(index=False)
    } == exp


def test_stream_funnel_kill_resume(spark, turns_pd, tmp_path):
    """Restart from checkpoint mid-stream: frontier state carries over
    — union of outputs equals the uninterrupted run, no duplicates."""
    from dbus_spark.operators.cep import streaming_funnel

    in_dir = tmp_path / "in_fun_kr"
    os.makedirs(in_dir)
    ordered = turns_pd.sort_values("ts").reset_index(drop=True)
    parts = np.array_split(np.arange(len(ordered)), 6)
    for i, idx in enumerate(parts[:3]):
        ordered.iloc[idx].to_parquet(
            in_dir / f"b-{i:04d}.parquet", index=False
        )
    got = []

    def collect(batch_df, _epoch):
        got.append(batch_df.toPandas())

    def start():
        src = (
            spark.readStream.schema(
                "conv_id string, turn_idx long, role string, ts timestamp"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(str(in_dir))
        )
        v = streaming_funnel(
            src, FUNNEL_STAGES, key="conv_id", order="turn_idx",
            n_buckets=8, ttl_ms=86_400_000,
        )
        return (
            v.writeStream.outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ck_fun_kr"))
            .foreachBatch(collect)
            .start()
        )

    q = start()
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(60)
    for i, idx in enumerate(parts[3:], start=3):
        ordered.iloc[idx].to_parquet(
            in_dir / f"b-{i:04d}.parquet", index=False
        )
    q = start()
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(60)
    out = pd.concat(got, ignore_index=True)
    exp = _pd_funnel_advances(turns_pd, [n for n, _ in FUNNEL_STAGES])
    assert {
        (r.key, r.stage_idx, r.reached_ts)
        for r in out.itertuples(index=False)
    } == exp
    assert not out.duplicated(["key", "stage_idx"]).any()


# --- input contracts fail loudly (ValueError, not a strippable assert) --


@pytest.mark.parametrize(
    "call",
    [
        pytest.param(lambda df: match_sequence(df, []), id="empty_pattern"),
        pytest.param(lambda df: classify(df, {}), id="no_symbols"),
        pytest.param(lambda df: funnel(df, []), id="no_stages"),
        pytest.param(
            lambda df: match_quantified(df, [("user", 0, None)], sym="role"),
            id="quantifier_min_0",
        ),
        pytest.param(
            lambda df: streaming_match_quantified(
                df, [("user", 3, 2)], sym="role"
            ),
            id="quantifier_max_below_min",
        ),
        pytest.param(
            lambda df: streaming_funnel(
                df, [(f"s{i}", "true") for i in range(63)]
            ),
            id="funnel_63_stages",
        ),
    ],
)
def test_cep_input_contracts_raise_value_error(turns_df, call):
    with pytest.raises(ValueError):
        call(turns_df)
