"""Keyed state shared by every ``applyInPandasWithState`` operator.

The stateful streaming operators (``ordering.ordered_turns_stream``,
the four CEP twins, the two streaming dedup filters, the as-of join
and the two corpus running totals) keep one binary cell per group
key. This module owns everything about that cell that more than one
operator needs to know: its schema, its wire format, the callback
that loads, steps, saves and re-arms it, and the grouping call that
places it. An operator keeps only its transition logic.

Wire format
-----------
The state row has one binary field, ``blob``. A blob is a 1-byte
format tag followed by the payload:

- ``0x01`` (current): ``pickle.dumps(payload, protocol=5)``. Payloads
  are plain numpy arrays, dicts and tuples of them, and Python ints --
  never pandas objects, whose pickled internals shift between pandas
  releases (a checkpoint must outlive library upgrades). Operators
  rebuild their frames from the arrays on load.
- ``0x80`` (legacy): no tag; the whole blob is a raw pickle (every
  pickle of protocol 2 or later starts with ``0x80``, so the two forms
  cannot be confused). Earlier releases wrote these: the ordering and
  dedup cells before they were tagged, and the corpus running totals.
  They decode as-is and are rewritten tagged on the key's next update,
  so a checkpoint written by any earlier release resumes.
- any other first byte raises :class:`StateFormatError`. A blob from a
  newer release or a foreign writer is refused by name, never
  misread; the check is an ``if``, so ``python -O`` keeps it.

Step contract
-------------
An operator supplies a pure transition::

    step(state, new, wm) -> (state', emits, deadline_ms)

- ``state`` is the operator's working form of the cell: ``load`` of
  the decoded payload, or ``empty()`` for a key without state;
- ``new`` is the key's rows of this call, concatenated into one frame
  (empty chunks dropped), or ``None`` when there are none -- always
  the case on a timeout call;
- ``wm`` is the event-time watermark in ms (``None`` when the
  operator runs without timeouts);
- ``state'`` of ``None`` removes the cell; otherwise it is saved as
  ``encode(dump(state'))`` and, with timeouts on, the key's event-time
  timer is set to ``max(deadline_ms, wm + 1)`` (Spark refuses a timer
  at or behind the watermark);
- ``emits`` are output frames; empty ones are not yielded.

Grouping
--------
:func:`keyed_apply` adds the optional watermark and the optional
bucket column, then groups and applies. The bucketing rule is
``_bkt = pmod(xxhash64(key), n_buckets)``: keys are coarsened so the
fixed per-key cost of the state machinery (one Arrow frame, one state
read and write, one Python call per key per micro-batch) is paid per
bucket (sizing rule in ``ordering.py``). The bucket count and the
column name are part of a checkpoint's state key, so both stay fixed
across restarts.

In-order twins
--------------
The four CEP twins and the as-of join read a per-key in-order stream,
delivered at least once: a failed micro-batch is replayed whole. They
share one intake. :func:`in_order_src` selects ``key``, the payload
columns, ``order`` (long) and ``ts``; in ``step``,
:func:`in_order_rows` types the rows (``ts`` becomes int64 ``ts_us``)
and applies the redelivery rule: a ``(key, order)`` is processed once,
the first copy to arrive wins, and nothing at or below the key's
frontier (the greatest order already processed) is processed again.
:data:`NEG` is the "no order yet" sentinel, and :func:`empty_frame`
builds a typed empty state frame.
"""

from __future__ import annotations

import pickle
from typing import Callable, Iterable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

FORMAT_V1 = b"\x01"
_LEGACY_PICKLE = b"\x80"

STATE_SCHEMA = T.StructType([T.StructField("blob", T.BinaryType())])

# below any real order or timestamp, with headroom for the arithmetic
NEG = np.int64(-(2**62))


class StateFormatError(ValueError):
    """A state blob whose format tag this release does not know."""


def encode(obj) -> bytes:
    return FORMAT_V1 + pickle.dumps(obj, protocol=5)


def decode(blob):
    blob = bytes(blob)
    if blob[:1] == FORMAT_V1:
        return pickle.loads(blob[1:])
    if blob[:1] == _LEGACY_PICKLE:
        return pickle.loads(blob)
    raise StateFormatError(
        f"unknown state format byte {blob[:1].hex() or '(empty blob)'}: "
        "expected 01 (tagged) or 80 (legacy pickle)"
    )


def to_columns(frame: pd.DataFrame) -> dict:
    """Payload form of a state frame: one numpy array per column
    (``pd.DataFrame`` of the dict restores it)."""
    return {c: frame[c].to_numpy() for c in frame.columns}


def empty_frame(**dtypes) -> pd.DataFrame:
    """An empty frame with one typed column per keyword, in order."""
    return pd.DataFrame({c: np.array([], dt) for c, dt in dtypes.items()})


def in_order_src(
    df: DataFrame, key: str, order: str, ts: str, *payload
) -> DataFrame:
    """The ``key, *payload, order, ts`` frame an in-order twin feeds
    its state step (``payload`` are aliased Columns)."""
    return df.select(
        F.col(key).alias("key"),
        *payload,
        F.col(order).cast("long").alias("order"),
        F.col(ts).alias("ts"),
    )


def in_order_rows(
    new: pd.DataFrame, frontier: pd.Series | None = None, /, **payload
) -> pd.DataFrame:
    """A key group's rows from :func:`in_order_src`, typed and guarded:
    ``key``, the ``payload`` columns (``name=dtype``, in order),
    ``order`` and ``ts_us`` (int64 µs), sorted by ``(key, order)``.
    Rows at or below ``frontier`` (key -> greatest order processed) are
    dropped, and of a repeated ``(key, order)`` the first copy stays."""
    rows = pd.DataFrame(
        {
            "key": new["key"].to_numpy(object),
            **{c: new[c].to_numpy(dt) for c, dt in payload.items()},
            "order": new["order"].to_numpy(np.int64),
            "ts_us": new["ts"].to_numpy("datetime64[us]").view(np.int64),
        }
    )
    if frontier is not None and len(frontier):
        thresh = frontier.reindex(rows["key"], fill_value=NEG)
        rows = rows[rows["order"].to_numpy() > thresh.to_numpy(np.int64)]
    return rows.sort_values(["key", "order"], kind="stable").drop_duplicates(
        ["key", "order"]
    )


def _concat_rows(pdfs: Iterable[pd.DataFrame]) -> pd.DataFrame | None:
    # skip concat with empty frames: besides the wasted work, pandas'
    # empty/all-NA concat dtype semantics are changing underfoot
    chunks = [p for p in pdfs if len(p)]
    if not chunks:
        return None
    if len(chunks) == 1:
        return chunks[0]
    return pd.concat(chunks, ignore_index=True, copy=False)


def callback(
    step: Callable,
    empty: Callable,
    load: Callable | None = None,
    dump: Callable | None = None,
    timeout: bool = True,
):
    """Wrap a pure ``step`` (module docstring) into an
    ``applyInPandasWithState`` function. ``timeout`` must match the
    query: True for an event-time-timeout query (``keyed_apply`` with a
    watermark), False for a query without timeouts."""

    def fn(key, pdfs, state):
        wm = state.getCurrentWatermarkMs() if timeout else None
        if state.exists:
            obj = decode(state.get[0])
            cur = obj if load is None else load(obj)
        else:
            cur = empty()
        new = None if state.hasTimedOut else _concat_rows(pdfs)
        cur, emits, deadline_ms = step(cur, new, wm)
        if cur is None:
            state.remove()
        else:
            state.update((encode(cur if dump is None else dump(cur)),))
            if timeout:
                state.setTimeoutTimestamp(max(int(deadline_ms), wm + 1))
        for e in emits:
            if len(e):
                yield e

    return fn


def keyed_apply(
    df: DataFrame,
    fn,
    out_schema,
    key: str,
    *,
    n_buckets: int | None = None,
    watermark: str | None = None,
    ts: str = "ts",
) -> DataFrame:
    """Group ``df`` by ``key`` -- or by its ``n_buckets`` hash bucket
    ``_bkt`` -- and apply the state callback ``fn`` in append mode,
    with event-time timeouts iff a ``watermark`` on ``ts`` is given."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    if n_buckets is not None:
        df = df.withColumn(
            "_bkt", F.pmod(F.xxhash64(key), F.lit(n_buckets)).cast("int")
        )
        key = "_bkt"
    if watermark is not None:
        df = df.withWatermark(ts, watermark)
    return df.groupBy(key).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.EventTimeTimeout
            if watermark is not None
            else GroupStateTimeout.NoTimeout
        ),
    )
