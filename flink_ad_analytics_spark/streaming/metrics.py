"""In-flight data-quality metrics for streaming (and batch) plans.

The reference deployment watches its jobs through the Flink dashboard
(numRecordsIn/Out, watermark lag -- docker-compose.yml exposes the Web
UI; SURVEY.md §6). Spark's native counterpart for *semantic* counters
is ``Dataset.observe``: named aggregates evaluated inline with the
plan (no second pass, no extra action) and surfaced per micro-batch in
``StreamingQueryProgress.observedMetrics`` (or on the
QueryExecutionListener for batch).

These helpers standardize the engine's quality counters so every job
can report rows / malformed-rate / event-time bounds without paying a
second scan -- the at-scale property: a 100 TB pipeline cannot afford
`df.count()` side-queries for monitoring, so the counters ride the
existing plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

#: Name under which quality metrics are observed; progress consumers
#: key on it.
QUALITY_OBSERVATION = "quality"


def with_quality_metrics(
    df: DataFrame,
    event_time_col: str = "event_time",
    malformed_predicate: F.Column | None = None,
    name: str = QUALITY_OBSERVATION,
) -> DataFrame:
    """Attach inline quality counters to a (streaming) DataFrame.

    Observed per micro-batch:
      n_rows         rows flowing through this point of the plan
      n_malformed    rows matching ``malformed_predicate`` (0 if None)
      min_event_time / max_event_time   event-time bounds (watermark
                     lag = processing time - max_event_time)

    ``observe`` is plan-transparent: Catalyst still pushes filters and
    prunes columns around it, and the aggregates are computed by the
    same tasks that process the data.
    """
    malformed = (
        F.count_if(malformed_predicate)
        if malformed_predicate is not None
        else F.lit(0).cast("long")
    )
    return df.observe(
        name,
        F.count(F.lit(1)).alias("n_rows"),
        malformed.alias("n_malformed"),
        F.min(event_time_col).alias("min_event_time"),
        F.max(event_time_col).alias("max_event_time"),
    )


def last_quality(progress: dict, name: str = QUALITY_OBSERVATION) -> dict | None:
    """Extract the quality row from a StreamingQueryProgress dict
    (``q.lastProgress`` / ``q.recentProgress`` entries)."""
    if not progress:
        return None
    return (progress.get("observedMetrics") or {}).get(name)


# -- listener-based health recorder -----------------------------------------
#
# The observe() counters above are SEMANTIC metrics riding inside the
# plan; the recorder below captures the ENGINE's own per-micro-batch
# progress (input/processing rate, state-store size, watermark) from
# StreamingQueryListener -- together they are the dashboard surface:
# "is the data healthy" + "is the job keeping up". The listener runs
# on Spark's listener-bus thread, decoupled from the query: recording
# cost is O(1) per micro-batch and can never slow or fail the
# pipeline.

import json
import threading
from datetime import datetime

from pyspark.sql.streaming import StreamingQueryListener


class QueryMetricsRecorder(StreamingQueryListener):
    """Records a compact health row per micro-batch per query.

    Usage::

        rec = QueryMetricsRecorder()
        spark.streams.addListener(rec)
        ...run queries...
        rec.snapshot()   # -> list[dict], oldest first
        rec.summary()    # -> per-query rollup for alerting

    Callbacks arrive asynchronously AFTER the batch that produced them;
    call `spark.streams.resetTerminated()`/`processAllAvailable` then
    poll `snapshot()` (tests use a bounded wait) rather than assuming
    synchronous delivery.
    """

    def __init__(self, max_rows: int = 10_000) -> None:
        self._lock = threading.Lock()
        self._rows: list[dict] = []
        self._max_rows = max_rows

    # -- listener interface -------------------------------------------------

    def onQueryStarted(self, event) -> None:  # noqa: N802 (Spark API)
        pass

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        try:
            p = json.loads(event.progress.json)
        except Exception:  # malformed progress must never kill the bus
            return
        state = p.get("stateOperators") or []
        row = {
            "query_name": p.get("name"),
            "query_id": p.get("id"),
            "batch_id": p.get("batchId"),
            "timestamp": p.get("timestamp"),
            "num_input_rows": p.get("numInputRows", 0),
            "input_rows_per_second": p.get("inputRowsPerSecond", 0.0),
            "processed_rows_per_second": p.get("processedRowsPerSecond", 0.0),
            "trigger_duration_ms": (p.get("durationMs") or {}).get(
                "triggerExecution"
            ),
            "watermark": (p.get("eventTime") or {}).get("watermark"),
            "state_rows_total": sum(s.get("numRowsTotal", 0) for s in state),
            "rows_dropped_late": sum(
                s.get("numRowsDroppedByWatermark", 0) for s in state
            ),
            "state_rows_updated": sum(s.get("numRowsUpdated", 0) for s in state),
            "state_memory_bytes": sum(s.get("memoryUsedBytes", 0) for s in state),
            "num_state_operators": len(state),
            # full engine-side duration breakdown (addBatch,
            # queryPlanning, walCommit, commitOffsets, getBatch,
            # latestOffset, triggerExecution): the numbers that
            # attribute a throughput gap to per-batch constants vs
            # per-row work (VERDICT r9 item 5)
            "duration_ms": p.get("durationMs") or {},
            "state_operator_detail": [
                {
                    "operator": s.get("operatorName"),
                    "commit_ms": s.get("commitTimeMs", 0),
                    "updates_ms": s.get("allUpdatesTimeMs", 0),
                    "removals_ms": s.get("allRemovalsTimeMs", 0),
                    "rows_total": s.get("numRowsTotal", 0),
                }
                for s in state
            ],
        }
        with self._lock:
            self._rows.append(row)
            if len(self._rows) > self._max_rows:  # bounded: ops buffer, not a log
                del self._rows[: -self._max_rows]

    # -- consumption --------------------------------------------------------

    def snapshot(self) -> list[dict]:
        with self._lock:
            return list(self._rows)

    def summary(self) -> dict[str, dict]:
        """Per-query rollup: totals, peak state, last watermark --
        the numbers an alert rule reads."""
        out: dict[str, dict] = {}
        for r in self.snapshot():
            name = r["query_name"] or r["query_id"]
            s = out.setdefault(
                name,
                {
                    "batches": 0,
                    "total_input_rows": 0,
                    "max_state_rows": 0,
                    "max_state_memory_bytes": 0,
                    "total_rows_dropped_late": 0,
                    "last_watermark": None,
                    "max_processed_rows_per_second": 0.0,
                },
            )
            s["batches"] += 1
            s["total_input_rows"] += r["num_input_rows"]
            s["max_state_rows"] = max(s["max_state_rows"], r["state_rows_total"])
            s["total_rows_dropped_late"] += r.get("rows_dropped_late", 0)
            s["max_state_memory_bytes"] = max(
                s["max_state_memory_bytes"], r["state_memory_bytes"]
            )
            if r["watermark"]:
                s["last_watermark"] = r["watermark"]
            s["max_processed_rows_per_second"] = max(
                s["max_processed_rows_per_second"],
                r["processed_rows_per_second"] or 0.0,
            )
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"progress": self.snapshot(), "summary": self.summary()}, f)


def health_alerts(
    summary: dict[str, dict],
    *,
    max_state_rows: int | None = None,
    min_processed_rows_per_second: float | None = None,
    progress: list[dict] | None = None,
    retention_ms: int | None = None,
) -> list[dict]:
    """Turn a QueryMetricsRecorder.summary() into alert rows -- the
    rule layer a pager hangs off. Rules are deliberately dumb
    threshold checks (alerting logic belongs in the alerting system;
    this just normalizes the signal):

    * state growth: max_state_rows exceeded -> suspect a missing/too-
      lax watermark (unbounded state is the classic streaming leak);
    * throughput: peak processed rate below the floor -> the job is
      not keeping up with its source;
    * eviction (needs ``progress`` and ``retention_ms``): see
      ``eviction_alerts``. A fixed row threshold cannot tell a leak
      from a large but bounded state; this rule can.
    """
    alerts: list[dict] = []
    for name, s in summary.items():
        if max_state_rows is not None and s["max_state_rows"] > max_state_rows:
            alerts.append(
                {
                    "query": name,
                    "alert": "STATE_GROWTH",
                    "observed": s["max_state_rows"],
                    "threshold": max_state_rows,
                }
            )
        if (
            min_processed_rows_per_second is not None
            and s["batches"] > 0
            and s["max_processed_rows_per_second"] < min_processed_rows_per_second
        ):
            alerts.append(
                {
                    "query": name,
                    "alert": "THROUGHPUT_FLOOR",
                    "observed": s["max_processed_rows_per_second"],
                    "threshold": min_processed_rows_per_second,
                }
            )
    if progress is not None and retention_ms is not None:
        alerts += eviction_alerts(progress, retention_ms)
    return alerts


def _epoch_ms(ts: str | None) -> int | None:
    """Progress timestamps ('2024-01-01T00:00:00.000Z') as epoch ms."""
    if not ts:
        return None
    dt = datetime.fromisoformat(ts.replace("Z", "+00:00"))
    return int(dt.timestamp() * 1000)


def eviction_alerts(progress: list[dict], retention_ms: int) -> list[dict]:
    """STATE_NOT_EVICTED for each stateful operator whose state outlives
    the watermark.

    ``progress`` holds StreamingQueryProgress dicts (``q.recentProgress``
    entries, one or more queries); ``retention_ms`` is the longest time
    any operator may keep a row past its event time as the watermark
    sees it (watermark delay + join band + window, say). Once a
    trigger's watermark is ``retention_ms`` past the earliest event time
    the query has reported, the oldest rows must have left every
    operator's state. An operator is flagged if its ``numRowsRemoved``
    is 0 in every trigger while its ``numRowsTotal`` holds rows and has
    never shrunk. Operators are matched across triggers by their
    position in ``stateOperators``, which a query's plan fixes.
    """
    by_query: dict[str, list[dict]] = {}
    for p in progress:
        by_query.setdefault(p.get("name") or p.get("id"), []).append(p)
    alerts: list[dict] = []
    for name, ps in by_query.items():
        ps = sorted(ps, key=lambda p: p.get("batchId", 0))
        event_time = [p.get("eventTime") or {} for p in ps]
        times = [t for e in event_time if (t := _epoch_ms(e.get("min"))) is not None]
        if not times or not any(
            (_epoch_ms(e.get("watermark")) or 0) >= min(times) + retention_ms
            for e in event_time
        ):
            continue
        n_ops = min(len(p.get("stateOperators") or []) for p in ps)
        for k in range(n_ops):
            ops = [p["stateOperators"][k] for p in ps]
            first, last = ops[0].get("numRowsTotal", 0), ops[-1].get("numRowsTotal", 0)
            if last > 0 and last >= first and not any(
                o.get("numRowsRemoved", 0) for o in ops
            ):
                alerts.append(
                    {
                        "query": name,
                        "alert": "STATE_NOT_EVICTED",
                        "operator": f"{k}:{ops[-1].get('operatorName')}",
                        "observed": last,
                        "threshold": 0,
                    }
                )
    return alerts
