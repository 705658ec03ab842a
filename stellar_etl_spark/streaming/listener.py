"""K4: transform stats / metrics — the PrintTransformStats analog
(``cmd/command_utils.go:90-103``; accumulation at
``cmd/ledger_batch_export.go:72-85``), upgraded to a
``StreamingQueryListener`` that captures per-micro-batch throughput,
watermark progression, and state-store size.
"""

from __future__ import annotations

import json
import threading

from pyspark.sql.streaming import StreamingQueryListener

# kept per state operator from each progress event
_STATE_FIELDS = (
    "numRowsTotal",
    "numRowsUpdated",
    "memoryUsedBytes",
    "numStateStoreInstances",
    "commitTimeMs",
    "allUpdatesTimeMs",
    "numRowsDroppedByWatermark",
    # the provider's own timings, e.g. RocksDB's
    # rocksdbChangeLogWriterCommitLatencyMs and rocksdbCommitFileSyncLatencyMs
    "customMetrics",
)
# how long wait_terminated waits for a run's termination event
_TERMINATED_TIMEOUT_SEC = 30.0


class MetricsListener(StreamingQueryListener):
    """Collects per-batch progress: rows/sec, durations, state rows.

    ``snapshots`` is driver-side only (tiny: one dict per micro-batch);
    :meth:`summary` aggregates to the headline numbers BENCH reports.
    Spark delivers events asynchronously and to every listener of the
    session: :meth:`wait_terminated` waits for one run's last event, and
    ``summary(run_id)`` keeps that run's batches only.
    """

    def __init__(self, sink_path: str | None = None):
        self.snapshots: list[dict] = []
        self.sink_path = sink_path
        self._terminated: set[str] = set()
        self._cv = threading.Condition()

    def onQueryStarted(self, event) -> None:  # noqa: N802
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = json.loads(event.progress.json)
        snap = {
            "runId": p.get("runId"),
            "batchId": p.get("batchId"),
            "numInputRows": p.get("numInputRows", 0),
            "inputRowsPerSecond": p.get("inputRowsPerSecond"),
            "processedRowsPerSecond": p.get("processedRowsPerSecond"),
            "durationMs": p.get("durationMs", {}),
            "eventTime": p.get("eventTime", {}),
            "stateOperators": [
                {k: s.get(k) for k in _STATE_FIELDS} for s in p.get("stateOperators", [])
            ],
        }
        self.snapshots.append(snap)

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        with self._cv:
            self._terminated.add(str(event.runId))
            self._cv.notify_all()
        if self.sink_path:
            try:
                with open(self.sink_path, "w") as f:
                    json.dump(self.snapshots, f)
            except OSError:
                pass

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def wait_terminated(self, run_id: str) -> bool:
        """Wait until the termination event of run ``run_id`` (a query's
        ``runId``) has arrived; every progress event of the run precedes it.
        False if it has not arrived within ``_TERMINATED_TIMEOUT_SEC``."""
        with self._cv:
            return self._cv.wait_for(
                lambda: str(run_id) in self._terminated, _TERMINATED_TIMEOUT_SEC
            )

    def summary(self, run_id: str) -> dict:
        """Headline numbers of run ``run_id`` (a query's ``runId``)."""
        snaps = [s for s in self.snapshots if s["runId"] == str(run_id)]
        rows = sum(s["numInputRows"] for s in snaps)
        total_ms = sum((s["durationMs"] or {}).get("triggerExecution", 0) for s in snaps)
        state_rows = [
            sum(op.get("numRowsTotal") or 0 for op in s["stateOperators"])
            for s in snaps
            if s["stateOperators"]
        ]
        state_bytes = [
            sum(op.get("memoryUsedBytes") or 0 for op in s["stateOperators"])
            for s in snaps
            if s["stateOperators"]
        ]
        return {
            "batches": len(snaps),
            "input_rows": rows,
            "wall_ms": total_ms,
            "rows_per_sec": (rows / (total_ms / 1000.0)) if total_ms else None,
            # watermark-eviction health: peak/final state footprint (rows and
            # bytes across all stateful operators) — bounded state means the
            # final snapshot is far below cumulative input
            "max_state_rows": max(state_rows, default=0),
            "final_state_rows": state_rows[-1] if state_rows else 0,
            "max_state_bytes": max(state_bytes, default=0),
            # state-store instances (= state partitions) of the widest operator
            "state_partitions": max(
                (
                    op.get("numStateStoreInstances") or 0
                    for s in snaps
                    for op in s["stateOperators"]
                ),
                default=0,
            ),
        }
