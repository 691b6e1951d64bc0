"""Streaming maintenance of the events-family warehouse rollups ==
the batch build, cell for cell, on the real sf0.001 events corpus --
including at-least-once redelivery (planted duplicate deliveries
collapse to the clean corpus) -- and the family queries served from
the maintained tables equal the batch-served family.

This closes the loop on the rollup-serving path
(queries.py::family_outputs_from): at 100 TB the rollup is maintained
incrementally by exactly this job; the batch build is the
backfill/recovery path. Both sides share the rollup DEFINITION
(family_imp_pre_from / family_clk_pre_from), so parity here proves
the streaming decomposition (dedup + count == countDistinct; combo
dedup == DISTINCT), not two copies of one formula.
"""

from __future__ import annotations

import pandas as pd
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F, types as T

from flink_ad_analytics_spark.queries import (
    _family_counts,
    family_clk_pre_from,
    family_imp_pre_from,
    family_outputs_from,
    q_anomaly_alerts,
    q_campaign_spend,
    q_ctr_hourly,
    q_engagement_hourly,
)
from flink_ad_analytics_spark.sources.batch import load_events
from flink_ad_analytics_spark.streaming.jobs import (
    maintain_family_rollups,
    streaming_family_rollups,
)
from tests.conftest import SF_CORRECT, assert_df_equal

SF_DIR = "/root/testdata/sf0.001"

SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("event_time_ms", T.LongType()),
    ]
)


def _events_pdf() -> pd.DataFrame:
    pdf = pq.read_table(f"{SF_DIR}/events.parquet").to_pandas()
    # ms truncation so the file bus (epoch millis, the S5 computed-col
    # path) and the batch frame see bit-identical timestamps
    pdf["event_time_ms"] = (
        pdf["ts"].astype("datetime64[ms]").astype("int64")
    )
    return pdf[
        ["event_id", "user_id", "event_type", "value", "event_time_ms"]
    ].sort_values("event_time_ms", kind="stable").reset_index(drop=True)


def _with_time(df):
    return df.withColumn(
        "event_time", F.timestamp_millis(F.col("event_time_ms"))
    ).drop("event_time_ms")


@pytest.fixture(scope="module")
def maintained(spark, tmp_path_factory):
    """Stream the corpus (plus planted duplicate deliveries and a
    watermark-flushing sentinel) through the maintenance job once;
    every test reads the landed tables."""
    base = tmp_path_factory.mktemp("family_rollup")
    clean = _events_pdf()
    half = len(clean) // 2

    # at-least-once redelivery: same-batch duplicates (a view + a
    # click re-delivered inside half 1) and a cross-batch duplicate
    # (the LAST half-1 row re-delivered at the head of half 2 --
    # its dedup state is necessarily still inside the watermark).
    h1, h2 = clean.iloc[:half], clean.iloc[half:]
    dup_in_batch = h1[h1.event_type.isin(["view", "click"])].tail(4)
    cross = h1.tail(1)
    h1_fed = pd.concat([h1, dup_in_batch], ignore_index=True)
    h2_fed = pd.concat([cross, h2], ignore_index=True)

    # sentinel: +3h past the corpus max on BOTH derived streams (the
    # view advances the impression watermark, the click the click
    # watermark); negative user ids are filtered out of every read.
    far = int(clean.event_time_ms.max()) + 3 * 3600 * 1000
    sentinel = pd.DataFrame(
        [
            {"event_id": -1, "user_id": -1, "event_type": "view",
             "value": 0.0, "event_time_ms": far},
            {"event_id": -2, "user_id": -2, "event_type": "click",
             "value": 0.0, "event_time_ms": far},
        ]
    )

    src = base / "events_in"
    src.mkdir()
    out = str(base / "rollups")

    h1_fed.to_parquet(src / "part-0.parquet", index=False)
    stream = _with_time(
        spark.readStream.schema(SCHEMA).parquet(str(src))
    )
    queries = maintain_family_rollups(
        streaming_family_rollups(stream, watermark="5 seconds"), out
    )
    try:
        for q in queries.values():
            q.processAllAvailable()
        h2_fed.to_parquet(src / "part-1.parquet", index=False)
        for q in queries.values():
            q.processAllAvailable()
        sentinel.to_parquet(src / "part-2-sentinel.parquet", index=False)
        for q in queries.values():
            q.processAllAvailable()
    finally:
        for q in queries.values():
            q.stop()

    batch_ev = _with_time(spark.createDataFrame(clean, schema=SCHEMA))
    return {
        "out": out,
        "imp_pre": spark.read.parquet(f"{out}/imp_pre").filter(
            F.col("__key") >= 0
        ),
        "clk_pre": spark.read.parquet(f"{out}/clk_pre").filter(
            F.col("__key") >= 0
        ),
        "batch_imp_pre": family_imp_pre_from(batch_ev),
        "batch_clk_pre": family_clk_pre_from(batch_ev),
    }


def _flat(df, cols):
    return (
        df.select(
            F.col("w.start").alias("w_start"),
            F.col("w.end").alias("w_end"),
            *cols,
        )
        .toPandas()
        .sort_values(["w_start", *[c for c in cols if c != "__spend"]])
        .reset_index(drop=True)
    )


def test_imp_pre_cells_equal_batch(maintained):
    got = _flat(
        maintained["imp_pre"],
        ["__key", "campaign_id", "__seg", "__ki", "__spend"],
    )
    want = _flat(
        maintained["batch_imp_pre"],
        ["__key", "campaign_id", "__seg", "__ki", "__spend"],
    )
    got["__spend"] = got["__spend"].astype(float)
    want["__spend"] = want["__spend"].astype(float)
    assert len(want) > 50, "fixture must exercise real cells"
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_clk_pre_combos_equal_batch(maintained):
    cols = ["__key", "campaign_id", "__seg", "click_id"]
    got = _flat(maintained["clk_pre"], cols)
    want = _flat(maintained["batch_clk_pre"], cols)
    assert len(want) > 0, "fixture must produce band matches"
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


@pytest.mark.parametrize(
    "group_col,day,with_spend",
    [("campaign_id", False, False), ("campaign_id", True, True),
     ("__seg", False, False)],
)
def test_served_family_equals_batch(maintained, group_col, day, with_spend):
    """The family tail over the MAINTAINED tables == the same tail
    over the batch-built rollups: the serving layer cannot tell who
    built its tables."""
    kw = {"day": day, "with_spend": with_spend}
    got = _family_counts(
        maintained["imp_pre"], maintained["clk_pre"], group_col, **kw
    )
    want = _family_counts(
        maintained["batch_imp_pre"], maintained["batch_clk_pre"],
        group_col, **kw,
    )
    cols = [group_col, "impression_count", "click_count"] + (
        ["spend"] if with_spend else []
    )
    got_p = _flat(got.withColumnRenamed("ww", "w"), cols)
    want_p = _flat(want.withColumnRenamed("ww", "w"), cols)
    assert len(want_p) > 10
    pd.testing.assert_frame_equal(got_p, want_p, check_dtype=False)


def test_family_outputs_equal_flat_queries(spark):
    """The four outputs served from batch-built rollups equal the flat
    q_* entries on the sf0.01 corpus: the rollup-serving path is one
    more plan for the same answers, not a second definition."""
    ev = load_events(spark, SF_CORRECT)
    got = family_outputs_from(family_imp_pre_from(ev), family_clk_pre_from(ev))
    for name, flat in (
        ("ctr_hourly", q_ctr_hourly),
        ("engagement_hourly", q_engagement_hourly),
        ("campaign_spend", q_campaign_spend),
        ("anomaly_alerts", q_anomaly_alerts),
    ):
        assert_df_equal(got[name], flat(spark, SF_CORRECT), name)


def test_restart_from_checkpoint_completes(spark, tmp_path):
    """Maintenance stopped mid-corpus and restarted from its
    checkpoints must land the complete, duplicate-free rollups --
    the restart-safety half of the maintenance contract."""
    clean = _events_pdf().iloc[:400].reset_index(drop=True)
    half = len(clean) // 2
    far = int(clean.event_time_ms.max()) + 3 * 3600 * 1000
    sentinel = pd.DataFrame(
        [
            {"event_id": -1, "user_id": -1, "event_type": "view",
             "value": 0.0, "event_time_ms": far},
            {"event_id": -2, "user_id": -2, "event_type": "click",
             "value": 0.0, "event_time_ms": far},
        ]
    )

    src = tmp_path / "events_in"
    src.mkdir()
    out = str(tmp_path / "rollups")
    clean.iloc[:half].to_parquet(src / "part-0.parquet", index=False)

    def start():
        stream = _with_time(
            spark.readStream.schema(SCHEMA).parquet(str(src))
        )
        return maintain_family_rollups(
            streaming_family_rollups(stream, watermark="5 seconds"), out
        )

    queries = start()
    try:
        for q in queries.values():
            q.processAllAvailable()
    finally:
        for q in queries.values():
            q.stop()

    # restart from the same checkpoints; feed the rest + sentinel
    clean.iloc[half:].to_parquet(src / "part-1.parquet", index=False)
    queries = start()
    try:
        for q in queries.values():
            q.processAllAvailable()
        sentinel.to_parquet(src / "part-2-sentinel.parquet", index=False)
        for q in queries.values():
            q.processAllAvailable()
    finally:
        for q in queries.values():
            q.stop()

    batch_ev = _with_time(spark.createDataFrame(clean, schema=SCHEMA))
    got = _flat(
        spark.read.parquet(f"{out}/imp_pre").filter(F.col("__key") >= 0),
        ["__key", "campaign_id", "__seg", "__ki", "__spend"],
    )
    want = _flat(
        family_imp_pre_from(batch_ev),
        ["__key", "campaign_id", "__seg", "__ki", "__spend"],
    )
    got["__spend"] = got["__spend"].astype(float)
    want["__spend"] = want["__spend"].astype(float)
    assert len(want) > 20
    pd.testing.assert_frame_equal(got, want, check_dtype=False)

    cols = ["__key", "campaign_id", "__seg", "click_id"]
    got_c = _flat(
        spark.read.parquet(f"{out}/clk_pre").filter(F.col("__key") >= 0),
        cols,
    )
    want_c = _flat(family_clk_pre_from(batch_ev), cols)
    pd.testing.assert_frame_equal(got_c, want_c, check_dtype=False)


def test_late_data_drops_and_batch_backfill_reconciles(spark, tmp_path):
    """The documented division of labor (T6 + recovery path): an
    impression arriving past the watermark is dropped by the
    maintenance job -- its cell is simply absent from the maintained
    table -- and the batch backfill over the full corpus is exactly
    the maintained table plus the late contribution. No silent wrong
    counts in either mode."""
    clean = _events_pdf().iloc[:300].reset_index(drop=True)
    half = len(clean) // 2
    # late row: a 'view' with a UNIQUE user far below the corpus's id
    # range, timestamped at the corpus start but delivered mid-stream
    # (the stream is ~15 days in by then -- hopelessly late under a
    # 5s watermark), so its cell exists in batch and only in batch.
    late = pd.DataFrame(
        [
            {"event_id": 10**9, "user_id": 10**9, "event_type": "view",
             "value": 7.5,
             "event_time_ms": int(clean.event_time_ms.min())},
        ]
    )
    far = int(clean.event_time_ms.max()) + 3 * 3600 * 1000
    sentinel = pd.DataFrame(
        [
            {"event_id": -1, "user_id": -1, "event_type": "view",
             "value": 0.0, "event_time_ms": far},
            {"event_id": -2, "user_id": -2, "event_type": "click",
             "value": 0.0, "event_time_ms": far},
        ]
    )

    src = tmp_path / "events_in"
    src.mkdir()
    out = str(tmp_path / "rollups")
    clean.iloc[:half].to_parquet(src / "part-0.parquet", index=False)

    stream = _with_time(spark.readStream.schema(SCHEMA).parquet(str(src)))
    queries = maintain_family_rollups(
        streaming_family_rollups(stream, watermark="5 seconds"), out
    )
    try:
        for q in queries.values():
            q.processAllAvailable()
        pd.concat([late, clean.iloc[half:]], ignore_index=True).to_parquet(
            src / "part-1.parquet", index=False
        )
        for q in queries.values():
            q.processAllAvailable()
        sentinel.to_parquet(src / "part-2-sentinel.parquet", index=False)
        for q in queries.values():
            q.processAllAvailable()
    finally:
        for q in queries.values():
            q.stop()

    cols = ["__key", "campaign_id", "__seg", "__ki", "__spend"]
    streamed = _flat(
        spark.read.parquet(f"{out}/imp_pre").filter(F.col("__key") >= 0),
        cols,
    )
    # the late cell is absent from the maintained table...
    assert (streamed["__key"] == 10**9).sum() == 0

    # ...and the batch backfill over the full corpus (late row
    # included) is the maintained table + exactly that one cell.
    full = pd.concat([clean, late], ignore_index=True)
    backfill = _flat(
        family_imp_pre_from(
            _with_time(spark.createDataFrame(full, schema=SCHEMA))
        ),
        cols,
    )
    late_cells = backfill[backfill["__key"] == 10**9]
    assert len(late_cells) == 1 and late_cells.iloc[0]["__ki"] == 1
    rest = backfill[backfill["__key"] != 10**9].reset_index(drop=True)
    streamed["__spend"] = streamed["__spend"].astype(float)
    rest["__spend"] = rest["__spend"].astype(float)
    pd.testing.assert_frame_equal(streamed, rest, check_dtype=False)


def test_rollup_compaction_preserves_cells(spark, maintained, tmp_path):
    """Continuous maintenance appends a few files per micro-batch --
    the classic streaming small-files debt. compact_corpus over the
    maintained dir produces the size-budgeted serving snapshot (the
    live dir stays the append log) with every cell intact."""
    import glob

    from flink_ad_analytics_spark.sources.corpus_writer import (
        compact_corpus,
    )

    src = f"{maintained['out']}/clk_pre"
    n_small = len(glob.glob(f"{src}/*.parquet"))
    assert n_small > 1, "micro-batches must have fragmented the table"

    dst = str(tmp_path / "clk_pre_compact")
    budget = compact_corpus(
        spark, src, dst, sort_within=("__key",), id_col="__key"
    )
    assert len(glob.glob(f"{dst}/*.parquet")) == budget <= n_small

    cols = ["__key", "campaign_id", "__seg", "click_id"]
    got = _flat(
        spark.read.parquet(dst).filter(F.col("__key") >= 0), cols
    )
    want = _flat(maintained["clk_pre"], cols)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
