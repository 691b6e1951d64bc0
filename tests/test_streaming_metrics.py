"""QueryMetricsRecorder: captures per-batch input counts, stateful-
operator state size, and an advancing watermark from a real windowed
streaming query."""

from __future__ import annotations

import datetime as dt
import time

import pandas as pd
from pyspark.sql import functions as F, types as T

from flink_ad_analytics_spark.streaming.metrics import QueryMetricsRecorder

BASE = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)

SCHEMA = T.StructType(
    [
        T.StructField("k", T.StringType()),
        T.StructField("event_time_ms", T.LongType()),
    ]
)


def _wait_for(cond, timeout_s=30.0):
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        if cond():
            return True
        time.sleep(0.25)
    return False


def test_recorder_captures_rates_state_and_watermark(spark, tmp_path):
    n = 40
    base_ms = int(BASE.timestamp() * 1000)
    pdf = pd.DataFrame(
        {
            "k": ["a" if i % 2 else "b" for i in range(n)],
            "event_time_ms": [base_ms + 500 * i for i in range(n)],
        }
    )
    src = tmp_path / "in"
    src.mkdir()
    pdf.iloc[: n // 2].to_parquet(src / "p0.parquet", index=False)
    pdf.iloc[n // 2 :].to_parquet(src / "p1.parquet", index=False)

    rec = QueryMetricsRecorder()
    spark.streams.addListener(rec)
    try:
        stream = (
            spark.readStream.schema(SCHEMA)
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src))
            .withColumn("event_time", F.timestamp_millis(F.col("event_time_ms")))
            .withWatermark("event_time", "5 seconds")
        )
        agg = stream.groupBy(F.window("event_time", "10 seconds"), "k").count()
        q = (
            agg.writeStream.format("memory")
            .queryName("metrics_probe")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

        # listener delivery is async on the bus thread
        assert _wait_for(
            lambda: sum(
                r["num_input_rows"]
                for r in rec.snapshot()
                if r["query_name"] == "metrics_probe"
            )
            >= n
        ), rec.snapshot()
    finally:
        spark.streams.removeListener(rec)

    rows = [r for r in rec.snapshot() if r["query_name"] == "metrics_probe"]
    assert sum(r["num_input_rows"] for r in rows) == n
    assert max(r["state_rows_total"] for r in rows) > 0, "windowed agg keeps state"
    assert max(r["num_state_operators"] for r in rows) >= 1
    watermarks = [r["watermark"] for r in rows if r["watermark"]]
    assert watermarks and max(watermarks) > "2024-01-01T00:00:00.000Z"

    s = rec.summary()["metrics_probe"]
    assert s["total_input_rows"] == n
    # ordered fixture delivery: nothing may be dropped as late
    assert s["total_rows_dropped_late"] == 0
    assert s["batches"] >= 2, "maxFilesPerTrigger=1 over 2 files"
    assert s["max_state_rows"] > 0
    assert s["last_watermark"] == max(watermarks)

    out = tmp_path / "metrics.json"
    rec.dump(str(out))
    import json

    dumped = json.load(open(out))
    assert dumped["summary"]["metrics_probe"]["total_input_rows"] == n


def test_health_alerts_rules():
    from flink_ad_analytics_spark.streaming.metrics import health_alerts

    summary = {
        "leaky": {
            "batches": 3,
            "total_input_rows": 100,
            "max_state_rows": 5_000_000,
            "max_state_memory_bytes": 1,
            "last_watermark": None,
            "max_processed_rows_per_second": 9000.0,
        },
        "slow": {
            "batches": 2,
            "total_input_rows": 10,
            "max_state_rows": 10,
            "max_state_memory_bytes": 1,
            "last_watermark": None,
            "max_processed_rows_per_second": 3.0,
        },
    }
    alerts = health_alerts(
        summary, max_state_rows=1_000_000, min_processed_rows_per_second=100.0
    )
    kinds = {(a["query"], a["alert"]) for a in alerts}
    assert kinds == {("leaky", "STATE_GROWTH"), ("slow", "THROUGHPUT_FLOOR")}
    assert health_alerts(summary) == []  # no thresholds -> no alerts


def _progress(name, batch, watermark, ops, t_min="2024-01-01T00:00:00.000Z"):
    """A StreamingQueryProgress dict with the fields the eviction rule
    reads; ``ops`` holds (numRowsTotal, numRowsRemoved) per operator."""
    return {
        "name": name,
        "batchId": batch,
        "eventTime": {"min": t_min, "watermark": watermark},
        "stateOperators": [
            {"operatorName": "dedupeWithinWatermark", "numRowsTotal": t,
             "numRowsRemoved": r}
            for t, r in ops
        ],
    }


def test_eviction_alert_rule():
    """STATE_NOT_EVICTED fires for the operator that holds rows and
    never removes any once the watermark is past retention, and only
    then -- the leak shape a fixed STATE_GROWTH threshold misses."""
    from flink_ad_analytics_spark.streaming.metrics import health_alerts

    epoch = "1970-01-01T00:00:00.000Z"
    early = "2024-01-01T00:00:30.000Z"  # 30 s past the earliest event
    late = "2024-01-01T03:00:00.000Z"
    leak = [
        _progress("q", 0, epoch, [(100, 0), (100, 0)]),
        _progress("q", 1, early, [(180, 20), (180, 0)]),
        _progress("q", 2, late, [(1, 179), (180, 0)]),
    ]
    minute = 60_000
    alerts = health_alerts({}, progress=leak, retention_ms=minute)
    assert alerts == [
        {"query": "q", "alert": "STATE_NOT_EVICTED",
         "operator": "1:dedupeWithinWatermark", "observed": 180, "threshold": 0}
    ]
    # A large threshold rule cannot see it: 180 rows is small.
    summary = {"q": {"batches": 3, "max_state_rows": 181,
                     "max_processed_rows_per_second": 1.0}}
    assert health_alerts(summary, max_state_rows=1_000) == []
    # The watermark has not yet passed retention: no verdict.
    assert health_alerts({}, progress=leak[:2], retention_ms=minute) == []
    # An operator that evicts once, or holds nothing, is healthy.
    healthy = [
        _progress("q", 0, epoch, [(100, 0), (0, 0)]),
        _progress("q", 1, late, [(1, 99), (0, 0)]),
    ]
    assert health_alerts({}, progress=healthy, retention_ms=minute) == []
    # Without retention_ms the rule is off.
    assert health_alerts({}, progress=leak) == []
    # Queries are judged separately, by name.
    other = [_progress("r", 0, late, [(5, 0)])]
    assert {a["query"] for a in health_alerts(
        {}, progress=leak + other, retention_ms=minute)} == {"q", "r"}
