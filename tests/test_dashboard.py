"""Dashboard consumer (tools/dashboard.py): panels populated from a
real bus produced by the engine's own jobs; resilience to empty and
half-written directories."""

from __future__ import annotations

import sys
from pathlib import Path

from pyspark.sql import functions as F

# the tree this test file sits in, not an installed or other copy
sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from flink_ad_analytics_spark.fixtures import generate
from flink_ad_analytics_spark.operators.anomaly import detect_anomalies
from flink_ad_analytics_spark.operators.ctr import ctr_windows
from flink_ad_analytics_spark.operators.engagement import engagement_windows
from tools.dashboard import render, snapshot


def test_snapshot_over_engine_bus(spark, tmp_path):
    fx = generate(duration_sec=900)
    imp = spark.createDataFrame(fx.impressions).withColumn(
        "event_time", F.timestamp_millis(F.col("event_timestamp"))
    )
    clk = (
        spark.createDataFrame(fx.clicks)
        .withColumn("click_time", F.timestamp_millis(F.col("event_timestamp")))
        .drop("event_timestamp")
    )
    ctr = ctr_windows(imp, clk)
    bus = tmp_path / "bus"
    for name, df in (
        ("ctr_results", ctr),
        ("engagement_results", engagement_windows(imp, clk)),
        ("anomaly_alerts", detect_anomalies(ctr)),
    ):
        (bus / name).mkdir(parents=True)
        df.toPandas().to_parquet(bus / name / "p0.parquet", index=False)
    # half-written file must be skipped, not crash the poll
    (bus / "ctr_results" / "p1.parquet").write_bytes(b"not parquet")

    snap = snapshot(str(bus))
    panels = snap["panels"]
    assert panels["ctr_results"]["n_total"] > 0
    assert panels["engagement_results"]["n_total"] > 0
    assert panels["anomaly_alerts"]["n_total"] > 0
    row = panels["ctr_results"]["rows"][-1]
    assert {"window_start", "campaign_id", "ctr"} <= set(row)
    alert = panels["anomaly_alerts"]["rows"][-1]
    assert alert["alert_type"] in ("SPIKE", "DROP")

    text = render(snap)
    assert "ctr_results" in text and "anomaly_alerts" in text


def test_snapshot_empty_bus(tmp_path):
    snap = snapshot(str(tmp_path))
    assert all(p["n_total"] == 0 for p in snap["panels"].values())
    assert "(empty)" in render(snap)
