"""Property-based testing of the CTR pipeline: on ARBITRARY workloads
(hypothesis-generated impressions/clicks with adversarial shapes:
orphan clicks, multi-click impressions, duplicate ids, boundary
timestamps) the engine must match an independently-written pandas
oracle. This is a third implementation of the semantics -- DuckDB
(tests/test_oracle_parity.py) and pandas here -- so a shared
misreading of the spec would have to hit all three."""

from __future__ import annotations

import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from flink_ad_analytics_spark.fixtures import VIRTUAL_START_MS
from flink_ad_analytics_spark.operators.ctr import ctr_windows

BAND_MS = 10 * 60 * 1000
WINDOW_MS = 60 * 1000

impressions_st = st.lists(
    st.tuples(
        st.integers(0, 30),  # impression id
        st.integers(0, 3),  # campaign
        st.integers(0, 30 * 60 * 1000),  # offset ms within 30 min
    ),
    min_size=1,
    max_size=40,
)
clicks_st = st.lists(
    st.tuples(
        st.integers(0, 50),  # click id (duplicates possible)
        st.integers(0, 35),  # impression fk (orphans possible)
        st.integers(-1000, 12 * 60 * 1000),  # delay vs impression (can be
        #                                      negative or out of band)
    ),
    max_size=60,
)


def pandas_oracle(imp: pd.DataFrame, clk: pd.DataFrame) -> pd.DataFrame:
    joined = imp.merge(clk, on="impression_id", how="left", suffixes=("", "_c"))
    in_band = (joined["click_ts"] >= joined["ts"]) & (
        joined["click_ts"] <= joined["ts"] + BAND_MS
    )
    joined.loc[~in_band.fillna(False), "click_id"] = None
    joined["window_start_ms"] = (joined["ts"] // WINDOW_MS) * WINDOW_MS
    out = (
        joined.groupby(["window_start_ms", "campaign_id"])
        .agg(
            impression_count=("impression_id", "nunique"),
            click_count=("click_id", "nunique"),
        )
        .reset_index()
    )
    out["ctr"] = out.apply(
        lambda r: r.click_count / r.impression_count if r.impression_count else 0.0,
        axis=1,
    )
    return out.sort_values(["window_start_ms", "campaign_id"]).reset_index(drop=True)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(imps=impressions_st, clks=clicks_st)
def test_ctr_matches_pandas_oracle(spark, imps, clks):
    # dedupe impression ids (unique at source in the reference model);
    # click ids may repeat (at-least-once delivery)
    seen = {}
    for iid, camp, off in imps:
        seen[iid] = (camp, off)
    imp = pd.DataFrame(
        [
            {
                "impression_id": f"i{iid}",
                "campaign_id": f"c{camp}",
                "ts": VIRTUAL_START_MS + off,
            }
            for iid, (camp, off) in seen.items()
        ]
    )
    imp_by_id = {r.impression_id: r.ts for r in imp.itertuples()}
    clk_rows = []
    for cid, fk, delay in clks:
        base = imp_by_id.get(f"i{fk}", VIRTUAL_START_MS)
        clk_rows.append(
            {
                "click_id": f"k{cid}",
                "impression_id": f"i{fk}",
                "click_ts": base + delay,
            }
        )
    clk = pd.DataFrame(
        clk_rows, columns=["click_id", "impression_id", "click_ts"]
    )

    imp_s = spark.createDataFrame(imp).withColumn(
        "event_time", F.timestamp_millis(F.col("ts"))
    )
    clk_s = spark.createDataFrame(
        clk, schema="click_id string, impression_id string, click_ts long"
    ).withColumn("click_time", F.timestamp_millis(F.col("click_ts")))
    got = (
        ctr_windows(imp_s, clk_s, window="1 minute", band="10 minutes")
        .withColumn(
            "window_start_ms", F.unix_millis(F.col("window_start"))
        )
        .select(
            "window_start_ms",
            "campaign_id",
            "impression_count",
            "click_count",
            "ctr",
        )
        .toPandas()
        .sort_values(["window_start_ms", "campaign_id"])
        .reset_index(drop=True)
    )
    expected = pandas_oracle(imp, clk)
    pd.testing.assert_frame_equal(got, expected, check_dtype=False)
