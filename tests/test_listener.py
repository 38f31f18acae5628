"""MetricsListener without Spark: replay recorded progress events.

``data/progress_window.jsonl`` holds the three ``StreamingQueryProgress``
JSON records of a windowed file-stream query (one file per trigger,
append-mode window aggregation into the keyed sink), as Spark 4.1
delivered them to a listener.
"""

import json
import os
from types import SimpleNamespace

from dbus_spark.streaming import MetricsListener

_RECORDED = os.path.join(
    os.path.dirname(__file__), "data", "progress_window.jsonl"
)


def _replay(listener, lines):
    for line in lines:
        event = SimpleNamespace(progress=SimpleNamespace(json=line))
        listener.onQueryProgress(event)


def test_listener_keeps_every_phase_of_recorded_progress():
    with open(_RECORDED) as f:
        lines = [line for line in f if line.strip()]
    listener = MetricsListener()
    _replay(listener, lines)

    assert [b.batch_id for b in listener.batches] == [0, 1, 2]
    b = listener.batches[1]
    assert b.phases_ms == {
        "addBatch": 962,
        "commitOffsets": 10,
        "getBatch": 13,
        "latestOffset": 10,
        "queryPlanning": 61,
        "triggerExecution": 1077,
        "walCommit": 13,
    }
    assert b.duration_ms == 1077
    assert b.input_rows == 150
    assert b.state_rows == 100
    assert b.state_memory_bytes == 34688
    assert b.watermark == "2025-12-31T23:57:22.690Z"
    assert b.sources == [
        {
            "description": "FileStreamSource[file:/data/in]",
            "startOffset": {"logOffset": 0},
            "endOffset": {"logOffset": 1},
            "numInputRows": 150,
        }
    ]
    for line, batch in zip(lines, listener.batches):
        assert batch.phases_ms == json.loads(line)["durationMs"]
    assert b.rows_dropped_by_watermark == 0
    assert [b.state_operators for b in listener.batches] == [
        [
            {
                "operatorName": "stateStoreSave",
                "commitTimeMs": commit,
                "allUpdatesTimeMs": updates,
                "allRemovalsTimeMs": removals,
                "numStateStoreInstances": 2,
                "numShufflePartitions": 2,
            }
        ]
        for commit, updates, removals in (
            (66, 238, 335),
            (22, 63, 31),
            (9, 64, 38),
        )
    ]

    s = listener.summary(b.run_id)
    assert s["batches"] == 3
    assert s["total_input_rows"] == 451
    assert s["p95_batch_ms"] == 4619
    assert s["p95_batch_ms_warm"] == 1077
    assert s["rows_dropped_by_watermark"] == 0
    # p50 of each phase over the three batches
    assert s["p50_phase_ms"] == {
        "addBatch": 962,
        "commitOffsets": 11,
        "getBatch": 13,
        "latestOffset": 11,
        "queryPlanning": 61,
        "triggerExecution": 1077,
        "walCommit": 13,
    }
    assert listener.summary("another-run") == {"batches": 0}


def test_listener_phases_skip_empty_and_missing_records():
    """An idle progress (no input rows) does not count, and a record
    without ``durationMs`` has no phases."""
    listener = MetricsListener()
    _replay(
        listener,
        [
            json.dumps({"batchId": 0, "runId": "r", "numInputRows": 5}),
            json.dumps(
                {
                    "batchId": 1,
                    "runId": "r",
                    "numInputRows": 0,
                    "durationMs": {"triggerExecution": 9, "walCommit": 7},
                }
            ),
        ],
    )
    assert listener.batches[0].phases_ms == {}
    assert listener.batches[0].duration_ms == 0
    s = listener.summary("r")
    assert s["batches"] == 1
    assert s["p50_phase_ms"] == {}


def test_listener_sums_rows_dropped_by_watermark():
    """Late rows dropped by every stateful operator of a batch add up,
    per batch and over the run."""
    def op(name, dropped):
        return {
            "operatorName": name,
            "numRowsDroppedByWatermark": dropped,
            "commitTimeMs": 5,
            "allUpdatesTimeMs": 7,
            "allRemovalsTimeMs": 2,
            "numStateStoreInstances": 4,
            "numShufflePartitions": 4,
        }

    listener = MetricsListener()
    _replay(
        listener,
        [
            json.dumps(
                {
                    "batchId": 0,
                    "runId": "r",
                    "numInputRows": 10,
                    "stateOperators": [op("a", 3), op("b", 4)],
                }
            ),
            json.dumps(
                {
                    "batchId": 1,
                    "runId": "r",
                    "numInputRows": 10,
                    "stateOperators": [op("a", 5)],
                }
            ),
            json.dumps({"batchId": 2, "runId": "r", "numInputRows": 10}),
        ],
    )
    assert [b.rows_dropped_by_watermark for b in listener.batches] == [
        7,
        5,
        0,
    ]
    assert [len(b.state_operators) for b in listener.batches] == [2, 1, 0]
    assert listener.batches[0].state_operators[1] == {
        "operatorName": "b",
        "commitTimeMs": 5,
        "allUpdatesTimeMs": 7,
        "allRemovalsTimeMs": 2,
        "numStateStoreInstances": 4,
        "numShufflePartitions": 4,
    }
    assert listener.summary("r")["rows_dropped_by_watermark"] == 12
