"""Stream-stream correlation: user turns ⋈ tool-call turns.

Target-scope operator (SURVEY.md §2.5 "Stream-stream correlation").
Each user turn pairs with the tool turns of the same conversation whose
timestamp falls in (user_ts, user_ts + horizon]. On streams both sides
carry watermarks and the join condition is a time-interval predicate,
so Spark bounds join state to the horizon (SURVEY.md §7.4 risk 4 —
without the interval the state grows without bound).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dbus_spark.operators.state import (
    NEG,
    callback,
    empty_frame,
    in_order_rows,
    in_order_src,
    keyed_apply,
    to_columns,
)


def correlate_user_tool(
    df: DataFrame,
    horizon: str = "2 minutes",
    watermark: str | None = None,
    how: str = "inner",
) -> DataFrame:
    """Pair user turns with subsequent tool turns within ``horizon``.

    Output: ``conv_id, user_turn_idx, tool_turn_idx, tool, user_ts,
    tool_ts`` (FIXTURES.md F4 ``expected_joined`` shape).
    """
    user = df.filter(F.col("role") == "user").select(
        F.col("conv_id"),
        F.col("turn_idx").alias("user_turn_idx"),
        F.col("ts").alias("user_ts"),
    )
    tool = df.filter(F.col("tool").isNotNull()).select(
        F.col("conv_id").alias("t_conv_id"),
        F.col("turn_idx").alias("tool_turn_idx"),
        F.col("tool"),
        F.col("ts").alias("tool_ts"),
    )
    if watermark:
        user = user.withWatermark("user_ts", watermark)
        tool = tool.withWatermark("tool_ts", watermark)
    cond = (
        (user.conv_id == tool.t_conv_id)
        & (tool.tool_ts > user.user_ts)
        & (tool.tool_ts <= F.expr(f"user_ts + INTERVAL {horizon}"))
    )
    joined = user.join(tool, cond, how)
    return joined.select(
        "conv_id", "user_turn_idx", "tool_turn_idx", "tool",
        "user_ts", "tool_ts",
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    by: str,
    ts: str,
    right_cols: list[str],
    order_col: str | None = None,
) -> DataFrame:
    """As-of join: every left row picks the single most recent right
    row with ``right.ts <= left.ts`` within its ``by`` group (backward
    inexact match — the market-data / attribution join Spark has no
    built-in for).

    Spark-first formulation: NOT a range join (whose candidate set is
    every right row in the window, exploding with density) but the
    union-and-carry trick — tag the two sides, union them, and let one
    per-key window ``last(right_col, ignorenulls=True)`` carry the
    latest right values forward onto each left row. ONE shuffle on
    ``by`` total, state O(1) per row, no pair blowup at any density;
    exactly the plan a 100 TB attribution join wants.

    Ties: a right row at the identical timestamp IS visible to the left
    row (<= semantics; right sorts before left at equal ts), and
    several right rows at one timestamp resolve to the greatest
    ``order_col`` — deterministic, and mirrored by the SQL oracle.

    Output: every left row (count preserved) + the carried
    ``right_cols`` (null when no right row precedes)."""
    from pyspark.sql.window import Window

    l_cols = [c for c in left.columns if c != by and c != ts]
    clash = set(right_cols) & set(l_cols)
    if clash:
        raise ValueError(
            f"asof_join: right_cols {sorted(clash)} collide with left "
            "payload columns — rename one side (a silent duplicate "
            "column name would break every downstream reference)"
        )
    # the right payload rides as ONE struct so every carried column
    # comes atomically from the same right row (independent per-column
    # last() could mix rows when right columns contain nulls)
    rv_type = (
        "struct<"
        + ",".join(
            f"{c}:{right.schema[c].dataType.simpleString()}"
            for c in right_cols
        )
        + ">"
    )
    lt = left.select(
        by,
        ts,
        *l_cols,
        F.lit(None).cast(rv_type).alias("_rv"),
        F.lit(True).alias("_is_l"),
        (
            F.col(order_col) if order_col and order_col in left.columns
            else F.lit(0).cast("long")
        ).alias("_ord"),
    )
    rt = right.select(
        by,
        ts,
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in l_cols],
        F.struct(*right_cols).alias("_rv"),
        F.lit(False).alias("_is_l"),
        (F.col(order_col) if order_col else F.lit(0).cast("long")).alias(
            "_ord"
        ),
    )
    w = (
        Window.partitionBy(by)
        .orderBy(F.col(ts).asc(), F.col("_is_l").asc(), F.col("_ord").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = lt.unionByName(rt).withColumn(
        "_rv", F.last("_rv", ignorenulls=True).over(w)
    )
    return carried.filter("_is_l").select(
        by,
        ts,
        *l_cols,
        *[F.col(f"_rv.{c}").alias(c) for c in right_cols],
    )


# --- streaming as-of (latest-value carry) --------------------------------
#
# The streaming twin of asof_join for the one-stream attribution shape:
# reference ("right") rows update a per-key latest-value register;
# probe ("left") rows emit enriched with the register's value as of
# their event time.  State is ONE right row per live key (plus the
# redelivery frontier and TTL clock) — O(live keys) regardless of
# stream length, the 100 TB register join.  Same per-key IN-ORDER
# exactly-once input contract as the other twins (compose after
# ordered_turns_stream); within a micro-batch, pandas merge_asof
# reproduces the batch operator's tie rules exactly: a right row at
# the identical timestamp IS visible (<= semantics), several same-ts
# right rows resolve to the greatest order.


def _make_asof_fn(right_cols: list[str], ttl_ms: int):
    right_dtypes = dict.fromkeys(right_cols, object)

    def empty() -> pd.DataFrame:
        return empty_frame(
            key=object, r_ts_us=np.int64, r_ord=np.int64,
            max_order=np.int64, last_seen_us=np.int64, **right_dtypes,
        )

    def step(st, new, wm):
        emits: list[pd.DataFrame] = []
        if new is not None:
            new = in_order_rows(
                new,
                st.set_index("key")["max_order"],
                _is_r=bool,
                **right_dtypes,
            )
            if len(new):
                rights = new[new["_is_r"].to_numpy()]
                # register rows from state ride as far-past rights
                st_r = st[st["r_ord"].to_numpy() > NEG]

                def both(st_col, new_col, dt):
                    return np.concatenate(
                        [
                            st_r[st_col].to_numpy(dt),
                            rights[new_col].to_numpy(dt),
                        ]
                    )

                r_all = pd.DataFrame(
                    {
                        "key": both("key", "key", object),
                        "ts_us": both("r_ts_us", "ts_us", np.int64),
                        "_ord": both("r_ord", "order", np.int64),
                        **{c: both(c, c, object) for c in right_cols},
                    }
                ).sort_values(["ts_us", "_ord"], kind="stable")
                lefts = new[~new["_is_r"].to_numpy()].sort_values(
                    "ts_us", kind="stable"
                )
                if len(lefts):
                    if len(r_all):
                        m = pd.merge_asof(
                            lefts[["key", "order", "ts_us"]],
                            r_all[["key", "ts_us", *right_cols]],
                            on="ts_us",
                            by="key",
                            direction="backward",
                            allow_exact_matches=True,
                        )
                    else:
                        m = lefts[["key", "order", "ts_us"]].copy()
                        for c in right_cols:
                            m[c] = None
                    emits.append(
                        pd.DataFrame(
                            {
                                "key": m["key"].to_numpy(object),
                                "order": m["order"].to_numpy(np.int64),
                                "ts": m["ts_us"]
                                .to_numpy(np.int64)
                                .view("datetime64[us]"),
                                **{
                                    # no-match probes: merge_asof
                                    # leaves NaN — Arrow wants None
                                    c: m[c]
                                    .where(pd.notna(m[c]), None)
                                    .to_numpy(object)
                                    for c in right_cols
                                },
                            }
                        )
                    )
                # fold batch into state: latest right per key + the
                # frontier and TTL clock
                g = new.groupby("key", sort=False)
                seen = pd.DataFrame(
                    {
                        "key": g["order"].max().index.to_numpy(object),
                        "max_order": g["order"].max().to_numpy(np.int64),
                        "last_seen_us": g["ts_us"].max().to_numpy(np.int64),
                    }
                )
                # take the last right row ATOMICALLY: groupby().last()
                # skips NaN per column, so a null right_col in the
                # newest right row would tear the register (that
                # column from an older row, ts/ord from the newest) —
                # a mix the batch asof_join's struct-atomic payload
                # can never produce (advisor finding, r6). r_all is
                # already sorted by (ts_us, _ord).
                last_r = (
                    r_all.drop_duplicates("key", keep="last")
                    .rename(columns={"ts_us": "r_ts_us", "_ord": "r_ord"})
                    if len(r_all)
                    else None
                )
                st = (
                    pd.concat(
                        [
                            st[["key", "max_order", "last_seen_us"]],
                            seen,
                        ],
                        ignore_index=True,
                    )
                    .sort_values("max_order")
                    .drop_duplicates("key", keep="last")
                )
                st["last_seen_us"] = st.groupby("key")[
                    "last_seen_us"
                ].transform("max")
                if last_r is not None and len(last_r):
                    st = st.merge(last_r, on="key", how="left")
                    st["r_ts_us"] = (
                        st["r_ts_us"].fillna(NEG).astype(np.int64)
                    )
                    st["r_ord"] = st["r_ord"].fillna(NEG).astype(np.int64)
                else:
                    st["r_ts_us"] = NEG
                    st["r_ord"] = NEG
                    for c in right_cols:
                        st[c] = None
        # TTL sweep (the whole of a timeout call)
        st = st[st["last_seen_us"].to_numpy() // 1000 + ttl_ms > wm]
        return (st if len(st) else None), emits, wm + ttl_ms

    return callback(step, empty, pd.DataFrame, to_columns)


def streaming_asof_join(
    df: DataFrame,
    is_right,
    right_cols: list[str],
    key: str = "conv_id",
    order: str = "turn_idx",
    ts: str = "ts",
    watermark: str = "10 minutes",
    ttl_ms: int = 600_000,
    n_buckets: int = 64,
) -> DataFrame:
    """Streaming as-of join over one stream: rows where ``is_right``
    (a Column or SQL string) holds are reference rows whose
    ``right_cols`` values become visible to every LATER (or same-ts)
    row of the same key; all other rows are probes, emitted as
    ``key, order, ts, *right_cols`` with the as-of values (null when
    no reference row precedes).  Emission is exactly-once by
    construction: a probe row is processed in exactly one micro-batch
    (after the redelivery frontier guard).

    Reference anchor: funkygao/dbus keeps per-table latest-schema
    registers beside the binlog stream (pkg/myslave/table.go:7-40);
    this is that register generalized to event-time as-of semantics,
    matching operators/join.py::asof_join row-for-row (pinned by
    tests/test_cep... test_asof_stream tests and the
    asof_stream_replica driver row).

    Boundary condition on the equal-ts tie rule (advisor, r6): the
    batch rule "a right row at the identical ts is visible, greatest
    order wins" holds in streaming only when that right row does not
    FOLLOW the probe across a micro-batch boundary. Append-mode
    emission is final: a same-ts right arriving in a LATER micro-batch
    cannot retroactively re-match an already-emitted probe. Stream ==
    batch is therefore guaranteed for any split where equal-ts rights
    precede their probes in arrival order (the in-order input contract
    this operator documents: compose after ordered_turns_stream).
    """
    from pyspark.sql import types as T

    _RESERVED = {"key", "order", "ts", "_is_r", "_bkt"}
    clash = set(right_cols) & _RESERVED
    if clash:
        # same guard as asof_join's right_cols/left clash: a collision
        # with the internal frame names would duplicate columns in
        # ``src`` and break the state fn (advisor finding, r6)
        raise ValueError(
            f"streaming_asof_join: right_cols {sorted(clash)} collide "
            f"with internal column names {sorted(_RESERVED)} — rename "
            "the column before joining"
        )
    cond = F.expr(is_right) if isinstance(is_right, str) else is_right
    # a null condition makes a probe row, as it fails a filter
    src = in_order_src(
        df, key, order, ts,
        F.coalesce(cond, F.lit(False)).alias("_is_r"),
        *[F.col(c) for c in right_cols],
    )
    right_types = {
        c: df.schema[c].dataType.simpleString() for c in right_cols
    }
    out_schema = T.StructType(
        [
            T.StructField("key", T.StringType()),
            T.StructField("order", T.LongType()),
            T.StructField("ts", T.TimestampType()),
        ]
        + [
            T.StructField(
                c, T._parse_datatype_string(right_types[c])
            )
            for c in right_cols
        ]
    )
    return keyed_apply(
        src,
        _make_asof_fn(list(right_cols), ttl_ms),
        out_schema,
        "key",
        n_buckets=n_buckets,
        watermark=watermark,
    )
