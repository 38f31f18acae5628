"""Per-conversation ordering + dedup — the engine's keyed state machine.

Re-creates, in event-stream terms, what the reference achieves with its
transaction-boundary commit gate (only checkpoint at safe replay
points — reference: pkg/myslave/myslave.go:118-150) and its declared-
but-empty dedup store (pkg/idempotent/repository.go:1-5): downstream
consumers see each conversation's turns exactly once, in ``turn_idx``
order, regardless of arrival order or redelivery.

Batch path: window-function dedup (pure Catalyst, no Python).

Streaming path: ``applyInPandasWithState`` keyed on a **hash bucket of
conv_id**, not conv_id itself (key coarsening), through the shared
keyed-state scaffold ``operators/state.py`` (bucketing rule, wire
format, timeout policy); this module keeps only the bucket
transition. Rationale, measured in
round 1: with per-conv keys the cost is dominated by per-key machinery
— one Arrow frame, one state get/update and one Python call per
conversation per micro-batch (~1.5 ms each) — while the actual
ordering work is microseconds. Coarsening to N_BUCKETS keys amortizes
that fixed cost over every conversation in the bucket, and the state
transition is computed for ALL conversations of a bucket in one
vectorized pandas/numpy pass (sort + groupby-cumcount + cummin — no
per-row or per-conversation Python loop, per the input_hint mandate).

State per bucket is O(active conversations in bucket): per-conv
``next_idx`` (the contiguous emission frontier) + per-conv flush
deadline + only the out-of-order pending rows — never the turn history
(SURVEY.md §7.4 risk 2). Conversations are swept from the bucket when
the event-time watermark passes their deadline, exactly the per-key
EventTimeTimeout semantics of the per-conv formulation: the bucket's
Spark timeout is the min over its conversations' deadlines, and a
conversation receiving data in a batch has its deadline superseded
before the sweep (data supersedes timeout, as in Spark itself). At
10^12-turn scale the state volume is identical to per-conv keying;
only the key count (and with it the per-key overhead and state-store
row count) shrinks.

Sizing rule (the blob bound). Each micro-batch rewrites the whole blob
of every touched bucket, so the blob must stay small and its size is a
first-class knob, not an accident:

- ``n_buckets`` ≈ ``expected_active_conversations / 10_000`` (per-conv
  meta is two int64s + the id, so ~10k convs/bucket keeps the meta
  frame ~1 MB), clamped below by the wanted parallelism (buckets are
  the unit of task scheduling) and above by the point where per-key
  machinery (~1.5 ms/key/batch, measured) dominates again. 64 fits
  this sandbox's fixtures; a 10^8-active-conversation deployment wants
  ~10^4 buckets.
- ``max_pending_per_bucket`` hard-caps the out-of-order buffer, the
  only unbounded part of the blob (a flood of rows behind a gap that
  never closes). When a batch leaves a bucket over the cap, whole
  conversations' buffers are force-flushed in oldest-deadline-first
  order until under the cap: the buffered suffix emits in index order
  and the conversation's frontier advances past it — the meta entry is
  KEPT (unlike deadline expiry, which only forgets a conversation once
  the watermark guarantees redeliveries would be dropped as late), so
  a redelivered already-emitted turn is still filtered by the frontier
  and the no-duplicates guarantee survives the flush. The flush makes
  the same judgement deadline expiry makes — "this gap is not coming"
  — just early: if a flooded conversation's missing gap turns DO
  straggle in afterwards they are dropped (they could no longer emit
  in order anyway), i.e. under forced flushes delivery for the flooded
  conversation degrades to at-most-once-per-turn, never to duplicates.
  Worst-case blob = meta (bounded by convs/bucket) +
  ``max_pending_per_bucket`` row payloads, regardless of input
  adversity.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from dbus_spark.operators.state import (
    callback,
    empty_frame,
    keyed_apply,
    to_columns,
)

OUT_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, "
    "tool string, ts timestamp"
)
_COLS = ["turn_idx", "role", "text", "tool", "ts"]
_ALL = ["conv_id", *_COLS]


def restore_order_batch(
    df: DataFrame, key: str = "conv_id", order: str = "turn_idx"
) -> DataFrame:
    """Dedup redelivered turns and restore per-key order (batch).

    One row per (key, order): redeliveries are byte-identical copies in
    the fixture, so keeping the earliest-arriving copy is sufficient.
    Catalyst plans this as a single shuffle on the grouping key; at
    scale, pre-bucketing the table by ``conv_id`` removes even that.
    """
    w = Window.partitionBy(key, order).orderBy(F.col("ts"))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def dedup_within_watermark(
    df: DataFrame,
    keys: list[str] | None = None,
    ts: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming dedup bounded by the watermark horizon — implements
    what the reference only declared (idempotent.Repository)."""
    return df.withWatermark(ts, watermark).dropDuplicatesWithinWatermark(
        keys or ["conv_id", "turn_idx"]
    )


# --- bucket state ------------------------------------------------------
#
# One state cell per bucket holding (meta, pending): meta is a frame
# indexed by conv_id with int64 columns (next_idx, deadline), pending a
# frame [conv_id, *_COLS] of out-of-order rows. The payload is a
# 4-tuple of PLAIN NUMPY ARRAYS (ids, next_idx, deadline, pending
# columns) -- ~20x cheaper than a per-conv JSON round-trip -- under the
# tagged wire format of ``operators/state.py``. Blobs from earlier
# releases still load: the untagged 4-tuple through the scaffold's
# legacy rule, and the original (meta, pending) pandas 2-tuple here.


def _empty_meta() -> pd.DataFrame:
    return pd.DataFrame(
        {"next_idx": np.array([], "int64"), "deadline": np.array([], "int64")},
        index=pd.Index([], dtype=object),
    )


def _empty_pending() -> pd.DataFrame:
    return empty_frame(
        conv_id=object, turn_idx="int64", role=object, text=object,
        tool=object, ts="datetime64[us]",
    )


def _empty_state() -> tuple[pd.DataFrame, pd.DataFrame]:
    return _empty_meta(), _empty_pending()


def _load_state(obj) -> tuple[pd.DataFrame, pd.DataFrame]:
    if isinstance(obj, tuple) and len(obj) == 2:
        meta, pending = obj  # legacy (meta, pending) pandas 2-tuple
        return meta, pd.DataFrame(pending)
    ids, ni, dl, pend = obj
    meta = pd.DataFrame(
        {"next_idx": ni, "deadline": dl}, index=pd.Index(ids, dtype=object)
    )
    return meta, pd.DataFrame(pend)


def _dump_state(st: tuple[pd.DataFrame, pd.DataFrame]) -> tuple:
    meta, pending = st
    return (
        meta.index.to_numpy(dtype=object),
        meta["next_idx"].to_numpy("int64"),
        meta["deadline"].to_numpy("int64"),
        to_columns(pending),
    )


def _advance_bucket(
    meta: pd.DataFrame,
    pending: pd.DataFrame,
    new: pd.DataFrame,
    new_deadline: int,
) -> tuple[pd.DataFrame, pd.DataFrame, pd.DataFrame]:
    """One vectorized state transition for every conversation that
    received data: merge its pending buffer with the new rows, drop
    duplicates and already-emitted turns, emit each conversation's
    contiguous run starting at its frontier. Returns
    (emit, meta', pending')."""
    touched = pd.unique(new["conv_id"])
    on_pending = pending["conv_id"].isin(touched).to_numpy()
    pt = pending[on_pending]
    # skip concat with empty frames: besides the wasted work, pandas'
    # empty/all-NA concat dtype semantics are changing underfoot
    allp = (
        new
        if not len(pt)
        else pd.concat([pt, new], ignore_index=True, copy=False)
    )
    # ts in the sort key: among redelivered copies of one turn the
    # EARLIEST event-time copy wins deterministically (ties: input
    # order) — same tie-break as the batch twin restore_order_batch's
    # orderBy(ts). Matters when a retry re-stamped its payload/ts and
    # upstream filters let both copies through (fused pipeline, r5).
    allp = allp.sort_values(
        ["conv_id", "turn_idx", "ts"], kind="stable"
    ).drop_duplicates(["conv_id", "turn_idx"])

    ni = meta["next_idx"].reindex(touched, fill_value=0)
    row_ni = ni.to_numpy()[
        pd.Index(touched).get_indexer(allp["conv_id"])
    ]
    keep = allp["turn_idx"].to_numpy() >= row_ni
    allp, row_ni = allp[keep], row_ni[keep]

    # contiguous-prefix emission, all conversations at once:
    # ok_i = (turn_idx == frontier + position-within-conv); a prefix
    # emits while the running cummin of ok stays 1
    pos = allp.groupby("conv_id", sort=False).cumcount().to_numpy()
    ok = allp["turn_idx"].to_numpy() == row_ni + pos
    emit_mask = (
        pd.Series(ok.astype("int8"), index=allp.index)
        .groupby(allp["conv_id"].to_numpy(), sort=False)
        .cummin()
        .to_numpy()
        .astype(bool)
    )
    emit = allp[emit_mask]
    rest = allp[~emit_mask]

    emitted = (
        emit.groupby("conv_id", sort=False).size().reindex(touched, fill_value=0)
    )
    meta = meta.reindex(meta.index.union(touched, sort=False))
    meta.loc[touched, "next_idx"] = (ni + emitted).astype("int64")
    meta.loc[touched, "deadline"] = np.int64(new_deadline)
    pu = pending[~on_pending]
    if not len(pu):
        pending = rest.reset_index(drop=True)
    elif not len(rest):
        pending = pu.reset_index(drop=True)
    else:
        pending = pd.concat([pu, rest], ignore_index=True, copy=False)
    return emit, meta, pending


def _flush_expired(
    meta: pd.DataFrame, pending: pd.DataFrame, wm_ms: int
) -> tuple[pd.DataFrame, pd.DataFrame, pd.DataFrame]:
    """Sweep conversations whose flush deadline the watermark passed:
    their late gaps are not coming — emit any buffered suffix in index
    order and forget the conversation (state removal, as the per-conv
    EventTimeTimeout formulation would)."""
    expired = meta.index[meta["deadline"].to_numpy() <= wm_ms]
    if len(expired) == 0:
        return pending.iloc[0:0], meta, pending
    on_expired = pending["conv_id"].isin(expired).to_numpy()
    emit = pending[on_expired].sort_values(
        ["conv_id", "turn_idx"], kind="stable"
    )
    return emit, meta.drop(index=expired), pending[~on_expired]


def _force_flush(
    meta: pd.DataFrame, pending: pd.DataFrame, cap: int
) -> tuple[pd.DataFrame, pd.DataFrame, pd.DataFrame]:
    """Bound the bucket blob: if pending exceeds ``cap`` rows, flush
    whole conversations' BUFFERS early — oldest deadline first, minimal
    prefix that brings the buffer under the cap — emitting each
    buffered suffix in index order and advancing that conversation's
    frontier past it. The meta entry (two int64s) is KEPT, unlike the
    deadline-expiry path: deadline expiry only fires once the watermark
    guarantees any redelivery would be dropped as late, but a forced
    flush happens while the watermark is still behind, so dropping the
    frontier here would let a redelivered already-emitted turn re-enter
    at next_idx=0 and emit twice. The conversation is still swept
    normally when its deadline passes. Returns (emit, meta', pending')."""
    if len(pending) <= cap:
        return pending.iloc[0:0], meta, pending
    sizes = pending["conv_id"].value_counts()
    dl = meta["deadline"].reindex(sizes.index, fill_value=np.int64(-1))
    order = dl.sort_values(kind="stable").index
    csum = sizes.reindex(order).to_numpy().cumsum()
    need = len(pending) - cap
    k = int(np.searchsorted(csum, need)) + 1
    victims = order[:k]
    on_v = pending["conv_id"].isin(victims).to_numpy()
    emit = pending[on_v].sort_values(["conv_id", "turn_idx"], kind="stable")
    # frontier jumps past the flushed suffix: later in-order rows still
    # emit; duplicates of anything at-or-below it are filtered
    new_front = emit.groupby("conv_id")["turn_idx"].max() + 1
    meta = meta.reindex(meta.index.union(new_front.index, sort=False))
    meta.loc[new_front.index, "next_idx"] = np.maximum(
        meta.loc[new_front.index, "next_idx"].fillna(0).to_numpy("int64"),
        new_front.to_numpy("int64"),
    )
    meta["next_idx"] = meta["next_idx"].astype("int64")
    # a victim with no prior meta entry (defensive: cannot happen via
    # _advance_bucket) gets deadline 0 -> swept at the next timeout
    meta["deadline"] = meta["deadline"].fillna(0).astype("int64")
    return emit, meta, pending[~on_v]


def _make_bucket_fn(timeout_ms: int, max_pending: int = 100_000):
    def step(st, new, wm):
        meta, pending = st
        emits = []
        if new is not None:
            emit, meta, pending = _advance_bucket(
                meta, pending, new[_ALL], wm + timeout_ms
            )
            emits.append(emit)
        flushed, meta, pending = _flush_expired(meta, pending, wm)
        forced, meta, pending = _force_flush(meta, pending, max_pending)
        emits = [e[_ALL] for e in (*emits, flushed, forced)]
        if not len(meta):
            return None, emits, None
        return (meta, pending), emits, meta["deadline"].min()

    return callback(step, _empty_state, _load_state, _dump_state)


def ordered_turns_stream(
    df: DataFrame,
    watermark: str = "10 minutes",
    flush_after_ms: int = 60_000,
    n_buckets: int = 64,
    max_pending_per_bucket: int = 100_000,
) -> DataFrame:
    """Streaming ordered+deduped turn stream (per-turn text equality).

    Emits each conversation's turns in contiguous ``turn_idx`` order as
    they become complete; once the event-time watermark passes a
    conversation's flush deadline (last activity + grace) any
    still-buffered out-of-order suffix is flushed in index order.

    ``n_buckets`` is the key-coarsening factor and
    ``max_pending_per_bucket`` the out-of-order buffer cap — together
    they bound every state blob (sizing rule in the module docstring).
    Both must stay constant across restarts of one checkpoint, like any
    stateful operator's grouping. Output rows are identical for any
    ``n_buckets``; the cap only changes WHEN a flooded conversation's
    buffered suffix emits (early instead of at its deadline), never
    whether rows emit.
    """
    return keyed_apply(
        df,
        _make_bucket_fn(flush_after_ms, max_pending_per_bucket),
        OUT_SCHEMA,
        "conv_id",
        n_buckets=n_buckets,
        watermark=watermark,
    )
