"""Streaming as-of join (latest-value carry state) vs the batch
asof_join: same rows for any micro-batch split, redelivery-proof,
tie rules identical (right visible at equal ts; max order wins among
same-ts rights)."""

import datetime as dt

import numpy as np
import pandas as pd
import pytest

from dbus_spark.operators.join import asof_join, streaming_asof_join
from dbus_spark.pipeline.streaming import replay


@pytest.fixture(scope="module")
def events_pd():
    """Per-key ts-ordered mixed stream: 'click' rows are the reference
    side (register updates), 'buy' rows probe it.  Includes same-ts
    right/left ties and keys with no reference rows at all."""
    rng = np.random.default_rng(11)
    base = dt.datetime(2026, 2, 1)
    rows = []
    oid = 0
    for u in range(30):
        tsec = 0
        for _ in range(40):
            tsec += int(rng.integers(10, 300))
            kind = "click" if rng.random() < 0.4 else "buy"
            rows.append(
                {
                    "user": f"u{u:03d}",
                    "order": oid,
                    "kind": kind,
                    "ref_id": oid if kind == "click" else None,
                    "ts": base + dt.timedelta(seconds=tsec),
                }
            )
            oid += 1
        if u % 7 == 0 and rows:
            # same-ts tie: a click AND a buy at an identical timestamp
            last = rows[-1]
            for kind in ("click", "buy"):
                rows.append(
                    {
                        "user": last["user"],
                        "order": oid,
                        "kind": kind,
                        "ref_id": oid if kind == "click" else None,
                        "ts": last["ts"],
                    }
                )
                oid += 1
    pdf = pd.DataFrame(rows)
    pdf["ref_id"] = pdf["ref_id"].astype("Int64")
    return pdf.sort_values(["ts", "order"]).reset_index(drop=True)


def _batch_expected(spark, pdf) -> set:
    df = spark.createDataFrame(
        pdf.rename(columns={"user": "user"}),
        "user string, order long, kind string, ref_id long, ts timestamp",
    )
    buys = df.filter("kind = 'buy'").select("user", "order", "ts")
    clicks = df.filter("kind = 'click'").select(
        "user", "ts", F.col("ref_id").alias("carried")
    )
    out = asof_join(
        buys.withColumnRenamed("order", "border").withColumnRenamed(
            "user", "user"
        ),
        clicks,
        by="user",
        ts="ts",
        right_cols=["carried"],
        order_col="carried",
    )
    return {
        (r["user"], r["border"], r["carried"]) for r in out.collect()
    }


def _run_stream(spark, pdf, n_files):
    out = replay(
        spark,
        pdf,
        "user string, order long, kind string, ref_id long, ts timestamp",
        lambda src: streaming_asof_join(
            src,
            is_right="kind = 'click'",
            right_cols=["ref_id"],
            key="user",
            order="order",
            ts="ts",
            n_buckets=8,
            ttl_ms=86_400_000,
        ),
        n_files,
    )
    assert not out.duplicated(["key", "order"]).any()
    return {
        (
            r.key,
            r.order,
            None if pd.isna(r.ref_id) else int(r.ref_id),
        )
        for r in out.itertuples(index=False)
    }


from pyspark.sql import functions as F  # noqa: E402


def test_asof_stream_matches_batch_single(spark, events_pd):
    exp = _batch_expected(spark, events_pd)
    got = _run_stream(spark, events_pd, 1)
    assert got == exp
    # the fixture must exercise both no-ref nulls and ties
    assert any(v is None for _, _, v in exp)
    assert len(exp) > 300


def test_asof_stream_split_equivalence(spark, events_pd):
    """Register state must carry across micro-batches: a probe in
    batch k attributes to a reference row from batch j < k."""
    exp = _batch_expected(spark, events_pd)
    assert _run_stream(spark, events_pd, 7) == exp


def test_asof_stream_dedups_redelivery(spark, events_pd):
    """Byte-identical redelivery of a prefix must not re-emit probes
    or regress the register."""
    exp = _batch_expected(spark, events_pd)
    feed = pd.concat(
        [events_pd, events_pd.head(len(events_pd) // 2)],
        ignore_index=True,
    )
    got = _run_stream(spark, feed, 5)
    assert got == exp


def test_asof_register_atomic_with_null_right_col(spark):
    """The register fold must take the newest right row ATOMICALLY
    (advisor r6): when the latest click carries a NULL in one right_col
    and the probe arrives in a LATER micro-batch, the carried values
    must all come from that newest click — a per-column groupby().last()
    (pandas skipna) would tear the register, mixing the older click's
    non-null value with the newest click's ts/order."""
    base = dt.datetime(2026, 3, 1)
    rows = pd.DataFrame(
        {
            "user": ["u1", "u1", "u1"],
            "order": [1, 2, 3],
            "kind": ["click", "click", "buy"],
            "ref_id": pd.array([1, 2, None], dtype="Int64"),
            # newest click's aux is NULL — the tear bait (string dtype
            # pinned so the all-null second file keeps a string column)
            "aux": pd.array(["A", None, None], dtype="string"),
            "ts": pd.to_datetime(
                [base + dt.timedelta(seconds=s) for s in (0, 60, 120)]
            ),
        }
    )
    # split so the probe is in its own micro-batch: the register must
    # be read back from STATE, not recomputed from the live batch
    out = replay(
        spark,
        rows,
        "user string, order long, kind string, ref_id long, "
        "aux string, ts timestamp",
        lambda src: streaming_asof_join(
            src,
            is_right="kind = 'click'",
            right_cols=["ref_id", "aux"],
            key="user",
            order="order",
            ts="ts",
            n_buckets=4,
            ttl_ms=86_400_000,
        ),
        n_files=2,
    )
    assert len(out) == 1
    r = out.iloc[0]
    # atomic register: BOTH carried columns come from click order=2
    assert int(r["ref_id"]) == 2
    assert r["aux"] is None or pd.isna(r["aux"])


def test_streaming_asof_rejects_reserved_right_cols(spark):
    """right_cols colliding with the internal frame names must raise
    the same clear ValueError the batch asof_join gives for clashes."""
    df = spark.createDataFrame(
        [], "user string, order long, kind string, ts timestamp"
    )
    src = df  # schema-only use; the guard fires before any plan work
    with pytest.raises(ValueError, match="collide"):
        streaming_asof_join(
            src,
            is_right="kind = 'click'",
            right_cols=["order"],
            key="user",
            order="order",
            ts="ts",
        )
