"""StreamingQueryListener metrics — the observability plane.

Re-creates the reference's per-ident throughput meters, lag gauges and
queue-depth reporting (reference: engine/metrics.go:18-24,
pkg/myslave/metrics.go:11-26, engine/router.go:228-255,
watchers/mylag.go:63-79) from StreamingQueryProgress events, which is
off the data path — the reference measured a 2.1M→1.6M pkt/s hit from
in-path metrics (engine/router.go:111-114); listener metrics cost the
hot loop nothing.

Per micro-batch we record: input rows/sec, processed rows/sec, batch
duration and every phase of it (the progress ``durationMs`` record:
``latestOffset``, ``queryPlanning``, ``addBatch``, ``walCommit``,
``commitOffsets``, ...), state rows + memory, the rows the stateful
operators dropped as later than the watermark (late data lost
silently), each stateful operator's commit and update times and store
instance count, watermark gap (the reference's "mylag" alert analog),
and per-source start/end offsets — the per-partition lineage required
by the north rule.
"""

from __future__ import annotations

import json
import threading
import time
from dataclasses import dataclass, field

from pyspark.sql.streaming import StreamingQueryListener


_STATE_OPERATOR_KEYS = (
    "operatorName",
    "commitTimeMs",
    "allUpdatesTimeMs",
    "allRemovalsTimeMs",
    "numStateStoreInstances",
    "numShufflePartitions",
)


@dataclass
class BatchMetric:
    batch_id: int
    run_id: str
    timestamp: str
    input_rows: int
    input_rows_per_sec: float
    process_rows_per_sec: float
    duration_ms: int
    state_rows: int
    state_memory_bytes: int
    watermark: str | None
    sources: list[dict] = field(default_factory=list)
    # the progress durationMs record: phase name -> ms
    phases_ms: dict[str, int] = field(default_factory=dict)
    # numRowsDroppedByWatermark summed over the stateful operators
    rows_dropped_by_watermark: int = 0
    # one dict of _STATE_OPERATOR_KEYS per stateful operator; its
    # commitTimeMs, allUpdatesTimeMs and allRemovalsTimeMs are
    # task-summed, not wall time
    state_operators: list[dict] = field(default_factory=list)


class MetricsListener(StreamingQueryListener):
    """Collects per-batch metrics; thread-safe; query-agnostic."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.batches: list[BatchMetric] = []
        self.started_at = time.time()

    # -- listener callbacks ---------------------------------------------

    def onQueryStarted(self, event) -> None:  # noqa: N802
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = json.loads(event.progress.json)
        state = p.get("stateOperators") or []
        phases = {k: int(v) for k, v in (p.get("durationMs") or {}).items()}
        metric = BatchMetric(
            batch_id=p.get("batchId", -1),
            run_id=str(p.get("runId", "")),
            timestamp=p.get("timestamp", ""),
            input_rows=int(p.get("numInputRows", 0)),
            input_rows_per_sec=float(p.get("inputRowsPerSecond", 0.0) or 0.0),
            process_rows_per_sec=float(
                p.get("processedRowsPerSecond", 0.0) or 0.0
            ),
            duration_ms=phases.get("triggerExecution", 0),
            state_rows=sum(int(s.get("numRowsTotal", 0)) for s in state),
            state_memory_bytes=sum(
                int(s.get("memoryUsedBytes", 0)) for s in state
            ),
            watermark=(p.get("eventTime") or {}).get("watermark"),
            sources=[
                {
                    "description": s.get("description"),
                    "startOffset": s.get("startOffset"),
                    "endOffset": s.get("endOffset"),
                    "numInputRows": s.get("numInputRows"),
                }
                for s in (p.get("sources") or [])
            ],
            phases_ms=phases,
            rows_dropped_by_watermark=sum(
                int(s.get("numRowsDroppedByWatermark", 0)) for s in state
            ),
            state_operators=[
                {k: s.get(k) for k in _STATE_OPERATOR_KEYS} for s in state
            ],
        )
        with self._lock:
            self.batches.append(metric)

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass

    # -- summaries -------------------------------------------------------

    def summary(self, run_id: str | None = None) -> dict:
        """Aggregate metrics; pass a query's ``runId`` to scope to one
        query — the listener bus is global and async, so a shared
        session delivers other queries' (and late) events too."""
        with self._lock:
            batches = list(self.batches)
        if run_id is not None:
            batches = [b for b in batches if b.run_id == str(run_id)]
        data = [b for b in batches if b.input_rows > 0]
        if not data:
            return {"batches": 0}
        def _pct(ms: list[int], q: float) -> int | None:
            if not ms:
                return None
            s = sorted(ms)
            return s[min(len(s) - 1, int(len(s) * q))]

        # warm p95 excludes the first batch of EACH run (kill/resume
        # restarts get a fresh run_id and pay cold costs again): plan
        # compile, python-worker pool fork, state store instantiation
        # are amortized over a real stream's lifetime — report both so
        # the cold path stays visible
        firsts = {}
        for b in data:
            if b.run_id not in firsts or b.batch_id < firsts[b.run_id]:
                firsts[b.run_id] = b.batch_id
        warm = [
            b.duration_ms for b in data if b.batch_id != firsts[b.run_id]
        ]
        total_rows = sum(b.input_rows for b in data)
        total_sec = sum(b.duration_ms for b in data) / 1000.0
        return {
            "batches": len(data),
            "total_input_rows": total_rows,
            "sustained_rows_per_sec": (
                total_rows / total_sec if total_sec > 0 else 0.0
            ),
            "p95_batch_ms": _pct([b.duration_ms for b in data], 0.95),
            "p95_batch_ms_warm": _pct(warm, 0.95),
            "max_state_rows": max(b.state_rows for b in data),
            "rows_dropped_by_watermark": sum(
                b.rows_dropped_by_watermark for b in data
            ),
            "last_watermark": data[-1].watermark,
            # p50 of each phase over the batches that report it
            "p50_phase_ms": {
                k: _pct(
                    [b.phases_ms[k] for b in data if k in b.phases_ms], 0.5
                )
                for k in sorted({k for b in data for k in b.phases_ms})
            },
        }
