"""Ident matchers — the routing predicates of the databus.

Re-creates the reference's two matcher generations as Catalyst
predicates over the ``ident`` column:

- exact set-membership (reference: engine/matcher.go:5-27)
- dot-delimited wildcard topics, ``*`` matching exactly one segment
  (reference: engine/matcher_v2_naive.go:14-90)

The reference's roaring-bitmap inverted index
(engine/matcher_v2_bitmap.go:12-120) is a lookup-speed trick, not a
semantic: Catalyst evaluates these predicates vectorized inside
whole-stage codegen, so no index is needed.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

from dbus_spark.schema import IDENT_COL


def exact_match(idents: list[str], col: str = IDENT_COL) -> Column:
    """`matches: [identA, ...]` → set membership on the ident column."""
    if not idents:
        return F.lit(False)
    return F.col(col).isin(*idents)


def wildcard_to_regex(pattern: str) -> str:
    """One dot-delimited topic pattern → anchored regex.

    ``*`` matches exactly one segment (no dots) — including the EMPTY
    segment, mirroring the reference's per-segment compare exactly
    (engine/matcher_v2_naive.go:73-90: strings.Split + equality, so
    "a..b" matches "a.*.b"). Found by the property test in
    tests/test_matcher_property.py — `[^.]+` diverged on that edge.
    """
    parts = [
        "[^.]*" if seg == "*" else re.escape(seg)
        for seg in pattern.split(".")
    ]
    return "^" + "\\.".join(parts) + "$"


def wildcard_match(patterns: list[str], col: str = IDENT_COL) -> Column:
    """v2 topic matcher: any-of over wildcard patterns."""
    if not patterns:
        return F.lit(False)
    pred = F.lit(False)
    for p in patterns:
        if "*" in p:
            pred = pred | F.col(col).rlike(wildcard_to_regex(p))
        else:
            pred = pred | (F.col(col) == F.lit(p))
    return pred


def matches_ident(matches: list[str], ident: str) -> bool:
    """Whether ``build_matcher(matches)`` accepts one known ident —
    the same rule evaluated in Python, for routing decisions made when
    the plan is built."""
    return any(
        re.search(wildcard_to_regex(m), ident) is not None
        if "*" in m
        else m == ident
        for m in matches
    )


def build_matcher(matches: list[str], col: str = IDENT_COL) -> Column:
    """Pick exact vs wildcard automatically (configs mix both)."""
    if any("*" in m for m in matches):
        return wildcard_match(matches, col)
    return exact_match(matches, col)
