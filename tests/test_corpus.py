"""Unit tests for the corpus-curation operators (mixture sampling,
sequence packing, PII redaction, span dedup)."""

import hashlib

import pandas as pd
import pytest
from pyspark.sql import functions as F

from dbus_spark.operators.corpus import (
    PII_PATTERNS,
    dedup_spans,
    mixture_report,
    pack_report,
    pack_sequences,
    pii_counts,
    redact_pii,
    sample_mixture,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (i, f"doc {i} body " + " ".join(f"w{i}_{j}" for j in range(i % 7)),
         ["en", "de", "fr"][i % 3])
        for i in range(300)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string").cache()


# ---------------------------------------------------------------- mixture

def test_sample_mixture_deterministic_and_stratified(docs):
    rates = {"en": 0.5, "de": 1.0}
    a = sample_mixture(docs, rates, seed=3)
    b = sample_mixture(docs, rates, seed=3)
    ids_a = {r.doc_id for r in a.select("doc_id").collect()}
    ids_b = {r.doc_id for r in b.select("doc_id").collect()}
    assert ids_a == ids_b  # pure function of (id, seed)
    rep = {
        r.lang: r
        for r in mixture_report(docs, a).collect()
    }
    assert rep["de"].n_kept == rep["de"].n_source  # rate 1.0 keeps all
    assert rep["fr"].n_kept == 0  # absent stratum -> default drop
    # rate 0.5 keeps roughly half (uniform draw; 100 docs/stratum)
    assert 0.3 <= rep["en"].keep_rate <= 0.7


def test_sample_mixture_matches_python_md5(docs):
    """The keep decision replays exactly from hashlib — the
    cross-engine reproducibility contract."""
    kept = {
        r.doc_id
        for r in sample_mixture(docs, {"en": 0.5}, seed=3)
        .select("doc_id")
        .collect()
    }
    for i in range(0, 300, 3):  # lang == 'en'
        draw = hashlib.md5(f"{i}:3".encode()).hexdigest()[:8]
        assert (i in kept) == (draw < "80000000")


def test_sample_mixture_no_shuffle(docs):
    plan = sample_mixture(docs, {"en": 0.5})._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # map-side filter only


# ---------------------------------------------------------------- packing

def _naive_greedy(tokens, budget):
    packs, acc, pid = [], None, -1
    for t in tokens:
        if acc is None or acc + t > budget:
            pid += 1
            acc = t
        else:
            acc += t
        packs.append(pid)
    return packs


def test_pack_sequences_matches_naive_greedy(spark):
    toks = [10, 20, 30, 64, 5, 99, 1, 1, 62, 2, 3]  # 99 > budget: packs alone
    rows = [(i, t) for i, t in enumerate(toks)]
    df = spark.createDataFrame(rows, "doc_id long, n_toks long")
    got = (
        pack_sequences(df, budget=64, n_shards=1, tokens_col="n_toks")
        .orderBy("doc_id")
        .collect()
    )
    expect = _naive_greedy(toks, 64)
    assert [r.pack_id for r in got] == expect
    assert [r.n_tokens for r in got] == toks
    # the oversized doc occupies a pack alone
    big_pack = got[5].pack_id
    assert sum(1 for r in got if r.pack_id == big_pack) == 1


def test_pack_exact_fit_uses_le(spark):
    df = spark.createDataFrame([(0, 32), (1, 32), (2, 1)], "doc_id long, n_toks long")
    got = pack_sequences(df, budget=64, n_shards=1, tokens_col="n_toks").orderBy("doc_id").collect()
    assert [r.pack_id for r in got] == [0, 0, 1]  # 32+32 == budget fits


def test_pack_report_rollup(spark):
    df = spark.createDataFrame([(i, 16) for i in range(8)], "doc_id long, n_toks long")
    rep = pack_report(
        pack_sequences(df, budget=64, n_shards=2, tokens_col="n_toks"), budget=64
    ).collect()
    # 4 docs per shard (ids alternate), each shard = one full pack
    assert {(r.shard, r.pack_id, r.n_docs, r.pack_tokens, r.fill_frac) for r in rep} == {
        (0, 0, 4, 64, 1.0),
        (1, 0, 4, 64, 1.0),
    }


# ---------------------------------------------------------------- PII

def test_redact_pii_golden(spark):
    raw = (
        "mail a.smith+x@my-site.co.uk card 4111 1111 1111 1111 "
        "call 415-555-0199 host 10.0.42.7 end"
    )
    df = spark.createDataFrame([(raw,)], "text string")
    out = redact_pii(df).collect()[0].text
    assert out == "mail <EMAIL> card <CARD> call <PHONE> host <IP> end"


def test_pii_counts_card_not_double_counted_as_phone(spark):
    df = spark.createDataFrame(
        [("pay 4111-1111-1111-1111 or 415-555-0199",)], "text string"
    )
    r = pii_counts(df).collect()[0]
    assert (r.n_email, r.n_card, r.n_phone, r.n_ipv4) == (0, 1, 1, 0)


def test_redact_pii_plan_has_no_exchange(spark):
    df = spark.createDataFrame([("x",)], "text string")
    plan = redact_pii(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


# ---------------------------------------------------------------- spans

def test_dedup_spans_first_occurrence_wins(spark):
    df = spark.createDataFrame(
        [
            (0, "alpha\n\nbeta"),
            (1, "beta\n\ngamma\n\nalpha"),
            (2, "beta\n\nalpha"),  # nothing new survives
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in dedup_spans(df).collect()}
    assert (out[0].n_spans, out[0].n_kept, out[0].text_dedup) == (2, 2, "alpha\n\nbeta")
    assert (out[1].n_spans, out[1].n_kept, out[1].text_dedup) == (3, 1, "gamma")
    assert (out[2].n_spans, out[2].n_kept, out[2].text_dedup) == (2, 0, "")


def test_dedup_spans_within_doc_repeat(spark):
    df = spark.createDataFrame([(5, "x\n\nx\n\nyy")], "doc_id long, text string")
    r = dedup_spans(df).collect()[0]
    # the doc's own repeat is deduped too; order of survivors preserved
    assert (r.n_spans, r.n_kept, r.text_dedup) == (3, 2, "x\n\nyy")


def test_dedup_spans_regex_metachar_delim(spark):
    # delim is treated literally even when it is a regex metachar
    df = spark.createDataFrame([(0, "a|b"), (1, "b|c")], "doc_id long, text string")
    out = {r.doc_id: r.text_dedup for r in dedup_spans(df, delim="|").collect()}
    assert out == {0: "a|b", 1: "c"}


def test_pack_dense_slices_cover_docs_exactly(spark):
    toks = [10, 64, 100, 1, 63, 2]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(toks)], "doc_id long, n_toks long"
    )
    from dbus_spark.operators.corpus import pack_sequences_dense

    got = pack_sequences_dense(df, budget=64, n_shards=1, tokens_col="n_toks")
    rows = sorted(
        ((r.doc_id, r.pack_id, r.slice_start, r.slice_len) for r in got.collect())
    )
    # slices of each doc are contiguous, start at 0, sum to n_tokens
    by_doc = {}
    for d, p, s, l in rows:
        by_doc.setdefault(d, []).append((p, s, l))
    for d, sl in by_doc.items():
        sl.sort()
        assert sl[0][1] == 0
        assert sum(x[2] for x in sl) == toks[d]
        packs = [p for p, _, _ in sl]
        assert packs == list(range(packs[0], packs[-1] + 1))
    # every pack is exactly 64 tokens except the last
    pack_tot = {}
    for _, p, _, l in rows:
        pack_tot[p] = pack_tot.get(p, 0) + l
    last = max(pack_tot)
    assert all(v == 64 for p, v in pack_tot.items() if p != last)
    assert pack_tot[last] == sum(toks) - 64 * last


def test_pack_dense_doc_spanning_three_packs(spark):
    from dbus_spark.operators.corpus import pack_sequences_dense

    df = spark.createDataFrame([(0, 10), (1, 150)], "doc_id long, n_toks long")
    got = {
        (r.pack_id, r.slice_start, r.slice_len)
        for r in pack_sequences_dense(
            df, budget=64, n_shards=1, tokens_col="n_toks"
        ).filter("doc_id = 1").collect()
    }
    # doc 1 starts at stream offset 10: packs 0..2
    assert got == {(0, 0, 54), (1, 54, 64), (2, 118, 32)}


def test_dedup_spans_hash_key_arm_identical(spark):
    rows = [
        (0, "alpha\n\nbeta"),
        (1, "beta\n\ngamma\n\nalpha"),
        (2, "beta\n\nalpha"),
        (3, "x\n\nx\n\nyy"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    lit = {(r.doc_id, r.n_spans, r.n_kept, r.text_dedup)
           for r in dedup_spans(df).collect()}
    hsh = {(r.doc_id, r.n_spans, r.n_kept, r.text_dedup)
           for r in dedup_spans(df, hash_key=True).collect()}
    assert lit == hsh


def test_sample_token_budget_prefix_rule(spark):
    from dbus_spark.operators.corpus import sample_token_budget

    rows = [(i, " ".join(["w"] * (5 + i % 7)), "en" if i % 2 == 0 else "xx")
            for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    kept = {
        r.doc_id
        for r in sample_token_budget(df, {"en": 50}, seed=9)
        .select("doc_id")
        .collect()
    }
    # python replica: en docs in md5-draw order, longest prefix <= 50
    en = [(i, 5 + i % 7) for i in range(0, 40, 2)]
    en.sort(key=lambda x: (hashlib.md5(f"{x[0]}:9".encode()).hexdigest()[:8], x[0]))
    expect, cum = set(), 0
    for i, t in en:
        cum += t
        if cum <= 50:
            expect.add(i)
        else:
            break
    assert kept == expect and len(kept) > 0
    # stratum without a budget is dropped entirely
    assert all(i % 2 == 0 for i in kept)


def test_shard_plan_offset_bucket_rule(spark):
    from dbus_spark.operators.corpus import shard_manifest, shard_plan

    # per-stratum byte sizes chosen so shards overflow: budget 100,
    # docs of 40/70/90 bytes force boundary-straddling documents
    rows = [(i, "x" * (40 + (i * 17) % 60), "en" if i % 2 == 0 else "fr")
            for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    plan = shard_plan(df, 100).toPandas().sort_values(["lang", "doc_id"])
    # python replica of the offset-bucket rule
    for lang, grp in plan.groupby("lang"):
        start = 0
        for _, r in grp.iterrows():
            assert r.shard_idx == start // 100
            start += r.n_bytes
    # a doc is never split and every shard's FIRST doc starts inside it
    man = shard_manifest(shard_plan(df, 100)).toPandas()
    assert (man.n_docs >= 1).all()
    # shard indexes are dense from 0 per stratum
    for lang, grp in man.groupby("lang"):
        assert sorted(grp.shard_idx) == list(range(len(grp)))
    # deterministic across recomputation
    again = shard_plan(df, 100).toPandas().sort_values(["lang", "doc_id"])
    assert plan.reset_index(drop=True).equals(again.reset_index(drop=True))


def test_export_shards_roundtrip(spark, tmp_path):
    from dbus_spark.operators.corpus import export_shards

    rows = [(i, "y" * (30 + i % 50), "en" if i % 3 else "de")
            for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    man = export_shards(df, str(tmp_path / "shards"), 200).toPandas()
    back = spark.read.parquet(str(tmp_path / "shards"))
    # every doc comes back exactly once with its text intact
    got = {(r.doc_id, r.text) for r in back.select("doc_id", "text").collect()}
    assert got == {(i, t) for i, t, _ in rows}
    # manifest byte totals equal what landed in each partition
    per = (back.groupBy("lang", "shard_idx").count().toPandas()
           .set_index(["lang", "shard_idx"])["count"])
    for _, r in man.iterrows():
        assert per[(r.lang, r.shard_idx)] == r.n_docs


def _run_budget_stream(spark, pdf, n_files, budgets):
    from dbus_spark.operators.corpus import streaming_token_budget_filter
    from dbus_spark.pipeline.streaming import replay

    out = replay(
        spark,
        pdf,
        "doc_id long, text string, lang string, ts timestamp",
        lambda src: streaming_token_budget_filter(src, budgets).select(
            "doc_id"
        ),
        n_files,
    )
    assert out["doc_id"].is_unique
    return set(out["doc_id"])


def _budget_corpus():
    import numpy as np
    import pandas as pd

    rows = [
        (i, " ".join(["w"] * (3 + i % 9)), ["en", "fr", "xx"][i % 3])
        for i in range(60)
    ]
    pdf = pd.DataFrame(rows, columns=["doc_id", "text", "lang"])
    pdf["ts"] = (
        pd.Timestamp("2026-01-01") + pd.to_timedelta(np.arange(60), unit="s")
    ).astype("datetime64[us]")
    return pdf


def _budget_replica(pdf, budgets):
    keep, cum = set(), {}
    for _, r in pdf.sort_values(["ts", "doc_id"]).iterrows():
        b = budgets.get(r["lang"])
        if b is None:
            continue
        n = len(r["text"].split())
        if cum.get(r["lang"], 0) + n <= b:
            cum[r["lang"]] = cum.get(r["lang"], 0) + n
            keep.add(r["doc_id"])
    return keep


def test_streaming_token_budget_matches_replica(spark):
    pdf = _budget_corpus()
    budgets = {"en": 40, "fr": 25}
    expected = _budget_replica(pdf, budgets)
    assert 0 < len(expected) < len(pdf)
    # skip-and-continue must actually trigger: some doc overflows but a
    # later smaller one still fits
    assert _run_budget_stream(spark, pdf, 1, budgets) == expected
    assert _run_budget_stream(spark, pdf, 5, budgets) == expected


def test_streaming_token_budget_kill_resume(spark, tmp_path):
    import os
    import time

    import numpy as np
    import pandas as pd

    from dbus_spark.operators.corpus import streaming_token_budget_filter

    pdf = _budget_corpus()
    budgets = {"en": 40, "fr": 25}
    expected = _budget_replica(pdf, budgets)
    in_dir = tmp_path / "in_kr"
    os.makedirs(in_dir)
    for i, idx in enumerate(np.array_split(np.arange(len(pdf)), 6)):
        pdf.iloc[idx].to_parquet(in_dir / f"b-{i:04d}.parquet", index=False)

    def start(got):
        src = (
            spark.readStream.schema(
                "doc_id long, text string, lang string, ts timestamp"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(str(in_dir))
        )
        return (
            streaming_token_budget_filter(src, budgets)
            .writeStream.outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ck_kr"))
            .foreachBatch(
                lambda b, e: got.append(b.select("doc_id").toPandas())
            )
            .start()
        )

    got = []
    q = start(got)
    while len(got) < 2:
        time.sleep(0.2)
    q.stop()
    q.awaitTermination(60)
    q = start(got)
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(60)
    out = pd.concat(got, ignore_index=True)
    # epoch replay at the foreachBatch boundary is at-least-once; the
    # budget state itself must not double-count (key set == replica)
    assert set(out["doc_id"]) == expected


def test_streaming_shard_assign_matches_replica(spark):
    """Arrival-order shard assignment == python replica of the
    offset-bucket rule over any micro-batch split; state carries the
    running byte offset across batches."""
    import numpy as np
    import pandas as pd

    from dbus_spark.operators.corpus import streaming_shard_assign
    from dbus_spark.pipeline.streaming import replay

    rows = [
        (i, "x" * (40 + (i * 17) % 60), ["en", "fr"][i % 2])
        for i in range(40)
    ]
    pdf = pd.DataFrame(rows, columns=["doc_id", "text", "lang"])
    pdf["ts"] = pd.Timestamp("2026-01-01") + pd.to_timedelta(
        np.arange(40), unit="s"
    )

    exp, cum = {}, {}
    for _, r in pdf.sort_values(["ts", "doc_id"]).iterrows():
        c = cum.get(r["lang"], 0)
        exp[r["doc_id"]] = c // 100
        cum[r["lang"]] = c + len(r["text"])

    for n_files in (1, 4):
        out = replay(
            spark,
            pdf,
            "doc_id long, text string, lang string, ts timestamp",
            lambda src: streaming_shard_assign(src, 100).select(
                "doc_id", "shard_idx"
            ),
            n_files,
        )
        assert out["doc_id"].is_unique
        assert dict(zip(out.doc_id, out.shard_idx)) == exp, n_files


def test_streaming_shard_assign_kill_resume(spark, tmp_path):
    """The running byte offset survives a checkpoint restart: the
    final (doc -> shard) map equals the replica even when the query is
    killed mid-stream (epoch replay may duplicate emissions; the
    assignment per doc must be identical, so last-write wins)."""
    import os
    import time

    import numpy as np
    import pandas as pd

    from dbus_spark.operators.corpus import streaming_shard_assign

    rows = [(i, "y" * (30 + (i * 13) % 70), "en") for i in range(48)]
    pdf = pd.DataFrame(rows, columns=["doc_id", "text", "lang"])
    pdf["ts"] = (
        pd.Timestamp("2026-01-01") + pd.to_timedelta(np.arange(48), unit="s")
    ).astype("datetime64[us]")
    exp, cum = {}, 0
    for _, r in pdf.iterrows():
        exp[r["doc_id"]] = cum // 100
        cum += len(r["text"])

    in_dir = tmp_path / "in_kr"
    os.makedirs(in_dir)
    for i, idx in enumerate(np.array_split(np.arange(len(pdf)), 6)):
        pdf.iloc[idx].to_parquet(in_dir / f"b-{i:04d}.parquet", index=False)

    def start(got):
        src = (
            spark.readStream.schema(
                "doc_id long, text string, lang string, ts timestamp"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(str(in_dir))
        )
        return (
            streaming_shard_assign(src, 100)
            .writeStream.outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ck_kr"))
            .foreachBatch(
                lambda b, e: got.append(
                    b.select("doc_id", "shard_idx").toPandas()
                )
            )
            .start()
        )

    got = []
    q = start(got)
    while len(got) < 2:
        time.sleep(0.2)
    q.stop()
    q.awaitTermination(60)
    q = start(got)
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(60)
    out = pd.concat(got, ignore_index=True).drop_duplicates(
        "doc_id", keep="last"
    )
    assert dict(zip(out.doc_id, out.shard_idx)) == exp
