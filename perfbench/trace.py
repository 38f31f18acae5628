"""Spans of a traced run and the per-layer table built from them.

Spans live in memory and are written as JSONL when the run ends. Each
span has an id, a parent, a name, a start and an end (epoch seconds):

- set-up spans and one ``pipeline.start`` span per pass at the top;
- one ``batch`` span per micro-batch, id ``<runId>:<batchId>``, laid
  out from the progress record's timestamp and ``triggerExecution``;
- under it, the progress phases in the order Spark runs them, placed
  back to back from the batch start (Spark reports durations only);
- under ``addBatch``, the real-clock ``sinks.write_batch`` span.
"""

from __future__ import annotations

import json
from datetime import datetime

import numpy as np

# Spark's order of the micro-batch phases, and the layer each belongs to
PHASES = [
    ("latestOffset", "sources.latest_offset"),
    ("walCommit", "streaming.wal_commit"),
    ("getBatch", "sources.get_batch"),
    ("queryPlanning", "pipeline.query_planning"),
    ("addBatch", "streaming.add_batch"),
    ("commitOffsets", "streaming.commit_offsets"),
]
WRITE = "sinks.write_batch"
TRIGGER = "streaming.trigger"


def _epoch_s(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


class Spans:
    def __init__(self) -> None:
        self.spans: list[dict] = []

    def add(self, name, start, end, parent=None, span_id=None, **attrs):
        span_id = span_id or f"{name}#{len(self.spans)}"
        self.spans.append(
            {
                "id": span_id,
                "parent": parent,
                "name": name,
                "start": start,
                "end": end,
                **({"attrs": attrs} if attrs else {}),
            }
        )
        return span_id

    def add_batch(self, rec: dict, write: dict) -> None:
        """A batch span with its phase children and the sink write."""
        dur = rec["durationMs"]
        t0 = _epoch_s(rec["timestamp"])
        bid = self.add(
            TRIGGER,
            t0,
            t0 + dur["triggerExecution"] / 1000,
            span_id=f"{rec['runId']}:{rec['batchId']}",
            rows=rec["numInputRows"],
        )
        t = t0
        known = [p for p, _ in PHASES]
        extra = [(k, f"streaming.{k}") for k in dur if k not in known]
        for phase, layer in PHASES + extra:
            if phase not in dur or phase == "triggerExecution":
                continue
            end = t + dur[phase] / 1000
            pid = self.add(layer, t, end, parent=bid)
            if phase == "addBatch":
                self.add(WRITE, write["start"], write["end"], parent=pid)
            t = end

    def write_jsonl(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")

    def self_times_ms(self) -> dict[str, list[float]]:
        """Per span name, each span's duration minus its children's."""
        child_ms: dict[str, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                d = (s["end"] - s["start"]) * 1000
                child_ms[s["parent"]] = child_ms.get(s["parent"], 0.0) + d
        out: dict[str, list[float]] = {}
        for s in self.spans:
            d = (s["end"] - s["start"]) * 1000 - child_ms.get(s["id"], 0.0)
            out.setdefault(s["name"], []).append(max(d, 0.0))
        return out


def layer_table(spans: Spans, busy_ms: dict[str, list[float]]) -> str:
    """Markdown table: per layer, self time p50/p95 per batch and the
    layer's share of all batch time. ``busy_ms`` rows are task-summed
    busy time (not wall time), so they get no share."""
    selfs = spans.self_times_ms()
    batch_layers = [TRIGGER, WRITE] + [layer for _, layer in PHASES]
    total = sum(
        (s["end"] - s["start"]) * 1000
        for s in spans.spans
        if s["name"] == TRIGGER
    )
    lines = [
        "| layer | self p50 ms | self p95 ms | share of batch | spans |",
        "|---|---:|---:|---:|---:|",
    ]
    names = [n for n in batch_layers if n in selfs]
    names += sorted(n for n in selfs if n.startswith("streaming.") and n not in names)
    for name in names:
        v = np.array(selfs[name])
        share = f"{v.sum() / total:.1%}" if total else "-"
        lines.append(
            f"| {name} | {np.percentile(v, 50):.1f} | "
            f"{np.percentile(v, 95):.1f} | {share} | {len(v)} |"
        )
    for name, vals in busy_ms.items():
        v = np.array(vals or [0.0])
        lines.append(
            f"| {name} (task-summed busy) | {np.percentile(v, 50):.1f} | "
            f"{np.percentile(v, 95):.1f} | - | {len(vals)} |"
        )
    return "\n".join(lines)
