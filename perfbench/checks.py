"""Value checks of sink output against the input files, in plain pandas.

An operation is one input file. A file fails when any row it carries is
missing from a sink, duplicated there, or has a wrong value; a wrong or
phantom output row fails every file that contributed to it (all files,
when none did). Each check returns ``(failed_file_names, detail)``.

``source`` is the concatenated input in arrival order, with a ``_file``
column naming the file each row came from. ``batch_files`` lists, per
micro-batch, the file names the stream grouped into it (from
``streaming.checkpoint.file_source_batches``).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from dbus_spark.functions.vectorized import turn_enrich_frame
from tests.oracle_pd import (
    expected_append_mode_windows,
    simulate_watermark_survivors,
)

KEYS = ["conv_id", "turn_idx"]
TURN_COLS = ["role", "text", "tool", "ts"]
WINDOW_S = 60
HORIZON_S = 600


def as_us(df: pd.DataFrame, cols) -> pd.DataFrame:
    """``df`` with its datetime columns among ``cols`` in microseconds."""
    out = df.copy()
    for c in cols:
        if c in out and pd.api.types.is_datetime64_any_dtype(out[c]):
            out[c] = out[c].astype("datetime64[us]")
    return out


def files_of(source: pd.DataFrame, by: list[str]) -> pd.Series:
    """The input files that hold rows of each ``by`` key."""
    return source.groupby(by)["_file"].agg(frozenset)


def _blame(bad: pd.DataFrame, owners: pd.Series, by, all_files) -> set:
    """Files behind each bad output key; all files for a phantom key."""
    failed: set = set()
    for key in bad[by].drop_duplicates().itertuples(index=False):
        key = tuple(key) if len(by) > 1 else key[0]
        failed |= owners.get(key, all_files)
    return failed


def compare_keyed(expected, actual, keys, value_cols, owners, all_files):
    """Match ``actual`` to ``expected`` on ``keys``; return the failed
    files and the counts of missing, duplicated, wrong and extra keys."""
    expected = as_us(expected, value_cols)
    actual = as_us(actual, value_cols)
    counts = actual.groupby(keys).size().rename("_n").reset_index()
    dup = counts[counts["_n"] > 1]
    m = expected[keys + value_cols].merge(
        actual.drop_duplicates(keys)[keys + value_cols],
        on=keys,
        how="outer",
        suffixes=("", "_out"),
        indicator=True,
    )
    missing = m[m["_merge"] == "left_only"]
    extra = m[m["_merge"] == "right_only"]
    both = m[m["_merge"] == "both"]
    differs = np.zeros(len(both), dtype=bool)
    for c in value_cols:
        a, b = both[c], both[c + "_out"]
        differs |= ~((a == b) | (a.isna() & b.isna())).to_numpy()
    wrong = both[differs]
    failed = set()
    for bad in (dup, missing, extra, wrong):
        failed |= _blame(bad, owners, keys, all_files)
    detail = {
        "missing": len(missing),
        "duplicated": len(dup),
        "wrong": len(wrong),
        "extra": len(extra),
    }
    return failed, detail


def check_fanout(source: pd.DataFrame, sinks: dict[str, pd.DataFrame]):
    """Each role sink holds exactly the unique turns of that role, each
    once, with the source values and ``ident`` set to the role."""
    owners = files_of(source, KEYS)
    all_files = frozenset(source["_file"])
    uniq = source.drop_duplicates(KEYS)
    failed, detail = set(), {}
    for role, out in sinks.items():
        exp = uniq[uniq["role"] == role].assign(ident=role)
        f, d = compare_keyed(
            exp, out, KEYS, TURN_COLS + ["ident"], owners, all_files
        )
        failed |= f
        detail[role] = d
    return failed, detail


def _batches(source: pd.DataFrame, batch_files) -> list[pd.DataFrame]:
    by_file = dict(tuple(source.groupby("_file", sort=False)))
    return [
        pd.concat([by_file[f] for f in files if f in by_file])
        for files in batch_files
        if any(f in by_file for f in files)
    ]


def expected_windows(source: pd.DataFrame, batch_files) -> pd.DataFrame:
    """Append-mode 1-minute windows per conversation after a replay of
    the batches: keys and ``n_turns`` from the test oracle, ``tok_sum``
    from the enrich kernel's token counts over the surviving rows."""
    batches = _batches(source, batch_files)
    exp = expected_append_mode_windows(batches, HORIZON_S, WINDOW_S)
    survivors, _ = simulate_watermark_survivors(batches, HORIZON_S, WINDOW_S)
    tok = (
        survivors.assign(
            window_start=survivors["ts"].dt.floor(f"{WINDOW_S}s"),
            tok=turn_enrich_frame(survivors["text"])["n_tokens"].to_numpy(),
        )
        .groupby(["conv_id", "window_start"])["tok"]
        .sum()
        .rename("tok_sum")
        .reset_index()
    )
    return exp.merge(tok, on=["conv_id", "window_start"], how="left")


def check_windows(source: pd.DataFrame, batch_files, out: pd.DataFrame):
    keys = ["conv_id", "window_start"]
    src = source.assign(window_start=source["ts"].dt.floor(f"{WINDOW_S}s"))
    owners = files_of(src, keys)
    exp = expected_windows(source, batch_files)
    return compare_keyed(
        as_us(exp, ["window_start"]),
        as_us(out, ["window_start"]),
        keys,
        ["n_turns", "tok_sum"],
        owners,
        frozenset(source["_file"]),
    )

