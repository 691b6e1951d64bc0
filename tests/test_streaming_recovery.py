"""Checkpoint recovery: a streaming query stopped mid-stream and
restarted from its checkpoint must produce the complete, duplicate-free
result -- the engine-side half of the reference's exactly-once posture
(RocksDB + checkpoints, docker-compose.yml:74-79).

Also covers the streaming engagement job (COALESCE segment key) for
batch-equality, completing the reference job surface in streaming mode.
"""

from __future__ import annotations

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from flink_ad_analytics_spark.fixtures import generate
from flink_ad_analytics_spark.operators.engagement import engagement_windows
from flink_ad_analytics_spark.streaming.jobs import (
    streaming_ctr_windows,
    streaming_engagement_windows,
)
from flink_ad_analytics_spark.streaming.sources import file_event_stream
from tests.test_streaming import (
    SENTINEL_MS,
    _assert_state_evicted,
    _sentinel_clk,
    _sentinel_imp,
)


@pytest.fixture(scope="module")
def fx():
    return generate(duration_sec=900, seed=7)


def _dirs(base, fx):
    imp_dir, clk_dir = str(base / "imp"), str(base / "clk")
    os.makedirs(imp_dir)
    os.makedirs(clk_dir)
    imp = fx.impressions.sort_values("event_timestamp").reset_index(drop=True)
    clk = fx.clicks.sort_values("event_timestamp").reset_index(drop=True)
    return imp_dir, clk_dir, imp, clk


def _streams(spark, imp_dir, clk_dir):
    imp_schema = spark.read.parquet(imp_dir).schema
    clk_schema = spark.read.parquet(clk_dir).schema
    imp = file_event_stream(spark, imp_dir, imp_schema, watermark="5 seconds",
                            max_files_per_trigger=None)
    clk = (
        file_event_stream(spark, clk_dir, clk_schema, watermark=None,
                          max_files_per_trigger=None,
                          event_time_col="click_time")
        .drop("event_timestamp")
        .withWatermark("click_time", "5 seconds")
    )
    return imp, clk


def test_restart_from_checkpoint_completes(spark, fx, tmp_path):
    """Process half the data, STOP the query, restart with the same
    checkpoint, feed the rest + sentinel: the combined output must be
    complete and duplicate-free."""
    imp_dir, clk_dir, imp, clk = _dirs(tmp_path, fx)
    half_i, half_c = len(imp) // 2, len(clk) // 2
    imp.iloc[:half_i].to_parquet(f"{imp_dir}/part-0.parquet", index=False)
    clk.iloc[:half_c].to_parquet(f"{clk_dir}/part-0.parquet", index=False)

    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def start():
        i, c = _streams(spark, imp_dir, clk_dir)
        result = streaming_ctr_windows(i, c, window="1 minute", band="10 minutes")
        return (
            result.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )

    q = start()
    q.processAllAvailable()
    q.stop()  # simulated failure/redeploy

    # Crash window: the last batch wrote its state deltas but died before
    # its commit-log entry. The restart re-executes that batch and
    # rewrites the existing deltas (createAtomic with overwrite).
    commits = os.path.join(ckpt, "commits")
    last = max(int(f) for f in os.listdir(commits) if f.isdigit())
    os.remove(os.path.join(commits, str(last)))
    os.remove(os.path.join(commits, f".{last}.crc"))

    imp.iloc[half_i:].to_parquet(f"{imp_dir}/part-1.parquet", index=False)
    clk.iloc[half_c:].to_parquet(f"{clk_dir}/part-1.parquet", index=False)
    _sentinel_imp().to_parquet(f"{imp_dir}/part-2.parquet", index=False)
    _sentinel_clk().to_parquet(f"{clk_dir}/part-2.parquet", index=False)

    q2 = start()
    q2.processAllAvailable()
    q2.stop()
    assert q2.recentProgress[0]["batchId"] == last  # re-executed, not skipped

    got = (
        spark.read.parquet(out)
        .filter(F.col("campaign_id") != "camp-sentinel")
        .toPandas()
        .sort_values(["window_start", "campaign_id"])
        .reset_index(drop=True)
    )
    # no duplicate (window, campaign) rows across the restart
    assert not got.duplicated(["window_start", "campaign_id"]).any()

    imp_b = spark.createDataFrame(fx.impressions).withColumn(
        "event_time", F.timestamp_millis(F.col("event_timestamp"))
    )
    clk_b = spark.createDataFrame(fx.clicks).withColumn(
        "click_time", F.timestamp_millis(F.col("event_timestamp"))
    ).drop("event_timestamp")
    from flink_ad_analytics_spark.operators.ctr import ctr_windows

    batch = (
        ctr_windows(imp_b, clk_b, window="1 minute", band="10 minutes")
        .toPandas()
        .sort_values(["window_start", "campaign_id"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got[batch.columns], batch, check_dtype=False)

    # Checkpoint integrity: every state delta carries Spark's checkpoint
    # checksum (<v>.delta.crc) and Hadoop's .crc of each file.
    files = set(os.listdir(os.path.join(ckpt, "state", "0", "0")))
    deltas = sorted(f for f in files if f.endswith(".delta"))
    assert len(deltas) > last + 1, files
    for d in deltas:
        assert {f"{d}.crc", f".{d}.crc", f".{d}.crc.crc"} <= files, (d, files)

    # The engine's own (local) session writes checkpoints through the
    # FileSystem-based manager; a handed session keeps Spark's default,
    # because the key is a build-time conf, not a runtime one.
    from flink_ad_analytics_spark.session import ENGINE_RUNTIME_CONF

    jvm = spark._jvm
    manager = jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
    hadoop_conf = spark._jsparkSession.sessionState().newHadoopConf()
    resolved = manager.create(jvm.org.apache.hadoop.fs.Path(f"file:{ckpt}"), hadoop_conf)
    assert resolved.getClass().getSimpleName() == "FileSystemBasedCheckpointFileManager"
    assert "spark.sql.streaming.checkpointFileManagerClass" not in ENGINE_RUNTIME_CONF


def test_streaming_engagement_equals_batch(spark, fx, tmp_path):
    """The engagement job's streaming form == batch, including the
    COALESCE(device_type,'Unknown') segment (P7)."""
    imp_dir, clk_dir, imp, clk = _dirs(tmp_path, fx)
    imp.to_parquet(f"{imp_dir}/part-0.parquet", index=False)
    clk.to_parquet(f"{clk_dir}/part-0.parquet", index=False)
    _sentinel_imp().to_parquet(f"{imp_dir}/part-1.parquet", index=False)
    _sentinel_clk().to_parquet(f"{clk_dir}/part-1.parquet", index=False)

    i, c = _streams(spark, imp_dir, clk_dir)
    result = streaming_engagement_windows(
        i, c, window="1 minute", band="10 minutes"
    )
    q = (
        result.writeStream.format("memory")
        .queryName("eng_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_eng"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    # every operator evicts behind the watermark, the join-side
    # impression dedup included
    _assert_state_evicted(q)
    # sentinel excluded by time bound (its device_type collides with
    # real segments, so filtering by campaign/device would be wrong)
    streamed = (
        spark.table("eng_stream")
        .filter(F.col("window_start") < F.timestamp_millis(F.lit(SENTINEL_MS)))
        .toPandas()
        .sort_values(["window_start", "device_type"])
        .reset_index(drop=True)
    )
    imp_b = spark.createDataFrame(fx.impressions).withColumn(
        "event_time", F.timestamp_millis(F.col("event_timestamp"))
    )
    clk_b = spark.createDataFrame(fx.clicks).withColumn(
        "click_time", F.timestamp_millis(F.col("event_timestamp"))
    ).drop("event_timestamp")
    batch = (
        engagement_windows(imp_b, clk_b, window="1 minute", band="10 minutes")
        .toPandas()
        .sort_values(["window_start", "device_type"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(streamed[batch.columns], batch, check_dtype=False)


def test_engagement_null_vs_literal_default(spark, tmp_path):
    """A window holding both a NULL device_type and a LITERAL 'Unknown'
    device_type must emit TWO rows (both displaying 'Unknown'), exactly
    like the reference SQL that groups on the raw column and coalesces
    only in the projection (flink_job.sql:106,118). The pre-round-5
    twin coalesced before grouping and silently merged them -- this is
    the regression gate for that fix (ADVICE r4)."""
    base_ms = 1704067200000
    imp = pd.DataFrame(
        [
            {"impression_id": f"imp-{i}", "user_id": "u", "campaign_id": "c",
             "ad_id": "a", "device_type": dt, "browser": "chrome",
             "event_timestamp": base_ms + 1000 * i, "cost": 0.01}
            for i, dt in enumerate([None, None, None, "Unknown", "Unknown"])
        ]
    )
    clk = pd.DataFrame(
        [
            {"click_id": "clk-0", "impression_id": "imp-0", "user_id": "u",
             "event_timestamp": base_ms + 1500},
            {"click_id": "clk-3", "impression_id": "imp-3", "user_id": "u",
             "event_timestamp": base_ms + 4500},
        ]
    )
    imp_dir, clk_dir = str(tmp_path / "imp"), str(tmp_path / "clk")
    os.makedirs(imp_dir)
    os.makedirs(clk_dir)
    imp.to_parquet(f"{imp_dir}/part-0.parquet", index=False)
    clk.to_parquet(f"{clk_dir}/part-0.parquet", index=False)
    _sentinel_imp().to_parquet(f"{imp_dir}/part-1.parquet", index=False)
    _sentinel_clk().to_parquet(f"{clk_dir}/part-1.parquet", index=False)

    i, c = _streams(spark, imp_dir, clk_dir)
    result = streaming_engagement_windows(
        i, c, window="1 minute", band="10 minutes"
    )
    q = (
        result.writeStream.format("memory")
        .queryName("eng_null_lit")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    streamed = (
        spark.table("eng_null_lit")
        .filter(F.col("window_start") < F.timestamp_millis(F.lit(SENTINEL_MS)))
        .toPandas()
        .sort_values(["impression_count"])
        .reset_index(drop=True)
    )
    # two rows, both 'Unknown': (3 null imps, 1 click) + (2 literal, 1)
    assert list(streamed["device_type"]) == ["Unknown", "Unknown"]
    assert sorted(zip(streamed["impression_count"], streamed["click_count"])) \
        == [(2, 1), (3, 1)]

    imp_b = spark.createDataFrame(imp).withColumn(
        "event_time", F.timestamp_millis(F.col("event_timestamp"))
    )
    clk_b = spark.createDataFrame(clk).withColumn(
        "click_time", F.timestamp_millis(F.col("event_timestamp"))
    ).drop("event_timestamp")
    batch = (
        engagement_windows(imp_b, clk_b, window="1 minute", band="10 minutes")
        .toPandas()
        .sort_values(["impression_count"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        streamed[batch.columns], batch, check_dtype=False
    )
