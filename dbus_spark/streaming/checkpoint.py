"""Checkpoint inspection — the `dbc checkpoint` CLI analog.

The reference exposes per-source positions and their deltas from
ZooKeeper (reference: cmd/dbc/command/checkpoint.go:24-105); Spark
keeps the same information in the checkpoint directory's offsets WAL
and commits log. These helpers read them without touching the running
query (off-path, like the reference's read-only CLI).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass


@dataclass(frozen=True)
class BatchOffsets:
    batch_id: int
    committed: bool
    watermark_ms: int | None
    sources: list  # raw per-source offset JSON


def _read_log(dir_path: str) -> dict[int, list[str]]:
    out: dict[int, list[str]] = {}
    if not os.path.isdir(dir_path):
        return out
    for name in os.listdir(dir_path):
        if name.startswith(".") or not name.isdigit():
            continue
        with open(os.path.join(dir_path, name)) as f:
            out[int(name)] = f.read().splitlines()
    return out


def list_offsets(checkpoint_dir: str) -> list[BatchOffsets]:
    """Per-batch source offsets + watermark from a checkpoint dir,
    flagged with whether the batch's sink commit completed (the
    ack→position-commit pairing of the reference, batch-grained)."""
    offsets = _read_log(os.path.join(checkpoint_dir, "offsets"))
    commits = _read_log(os.path.join(checkpoint_dir, "commits"))
    out = []
    for batch_id in sorted(offsets):
        lines = offsets[batch_id]
        wm = None
        sources = []
        for line in lines[1:]:  # line 0 is the version header
            try:
                obj = json.loads(line)
            except json.JSONDecodeError:
                continue
            if isinstance(obj, dict) and (
                "batchWatermarkMs" in obj or "watermarkMs" in obj
            ):
                # the batch metadata line, not a source offset
                wm = int(
                    obj.get("batchWatermarkMs", obj.get("watermarkMs", 0))
                )
            else:
                sources.append(obj)
        out.append(
            BatchOffsets(
                batch_id=batch_id,
                committed=batch_id in commits,
                watermark_ms=wm,
                sources=sources,
            )
        )
    return out


def recorded_source_count(checkpoint_dir: str) -> int | None:
    """Sources the checkpoint's latest offsets entry records (None
    before the first batch). The log line layout is a version header,
    the batch metadata, then one offset (or ``-``) per source; a
    restart must present that many sources."""
    offsets = _read_log(os.path.join(checkpoint_dir, "offsets"))
    if not offsets:
        return None
    return len(offsets[max(offsets)]) - 2


def file_source_batches(
    checkpoint_dir: str, source_idx: int = 0
) -> list[list[str]]:
    """Which files the file stream source actually grouped into each
    micro-batch (the per-batch input lineage). Reads the source's
    metadata log ``sources/<idx>/<batch>``; one entry per batch, in
    batch order.

    The source log compacts every ``compactInterval`` batches (default
    10): batch N's log becomes ``N.compact`` holding EVERY entry so far
    (each stamped with its original ``batchId``), and older plain files
    may be cleaned up. We therefore replay the newest compact first and
    overlay the plain files after it — without this, any run of ≥10
    micro-batches silently loses the compacted batches' lineage."""
    log_dir = os.path.join(checkpoint_dir, "sources", str(source_idx))
    if not os.path.isdir(log_dir):
        return []
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    compacts = sorted(
        int(n.split(".", 1)[0])
        for n in names
        if n.endswith(".compact") and n.split(".", 1)[0].isdigit()
    )
    plains = sorted(int(n) for n in names if n.isdigit())

    batches: dict[int, list[str]] = {}

    def _ingest(path: str, default_bid: int) -> None:
        with open(path) as f:
            lines = f.read().splitlines()
        for line in lines[1:]:  # line 0 = version header
            try:
                obj = json.loads(line)
            except json.JSONDecodeError:
                continue
            if isinstance(obj, dict) and "path" in obj:
                bid = int(obj.get("batchId", default_bid))
                batches.setdefault(bid, []).append(obj["path"])

    last_compact = -1
    if compacts:
        last_compact = compacts[-1]
        _ingest(
            os.path.join(log_dir, f"{last_compact}.compact"), last_compact
        )
    for bid in plains:
        if bid > last_compact:
            _ingest(os.path.join(log_dir, str(bid)), bid)
    return [batches[b] for b in sorted(batches)]


def last_committed_batch(checkpoint_dir: str) -> int | None:
    commits = _read_log(os.path.join(checkpoint_dir, "commits"))
    return max(commits) if commits else None


def position_summary(checkpoint_dir: str) -> dict:
    """`dbc checkpoint -top`-style summary: latest batch, commit lag
    (offsets written but not yet committed), last watermark."""
    batches = list_offsets(checkpoint_dir)
    if not batches:
        return {"batches": 0}
    last = batches[-1]
    return {
        "batches": len(batches),
        "latest_batch": last.batch_id,
        "latest_committed": last_committed_batch(checkpoint_dir),
        "uncommitted": [b.batch_id for b in batches if not b.committed],
        "last_watermark_ms": last.watermark_ms,
        "last_sources": last.sources,
    }
