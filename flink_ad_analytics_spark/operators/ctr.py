"""CTR pipeline: event-time interval LEFT join + tumbling-window
click-through-rate aggregation.

Reference semantics (`/root/reference/flink/flink_job.sql:77-98`):

    impressions LEFT JOIN clicks
      ON i.impression_id = c.impression_id
     AND c.event_time BETWEEN i.event_time
                          AND i.event_time + INTERVAL '10' MINUTE
    GROUP BY TUMBLE(i.event_time, INTERVAL '1' MINUTE), campaign_id
    -> COUNT(DISTINCT impression_id), COUNT(DISTINCT click_id),
       ctr = CASE WHEN imps > 0 THEN clicks/imps ELSE 0.0 END

Correctness traps this module owns (the reference author hit a Flink
1.17 bug exactly here, README.md:127 -- LEFT JOIN + COUNT gave
impressions == clicks):

* an impression with N matching clicks contributes 1 impression and N
  distinct clicks (COUNT(DISTINCT) over the join fan-out);
* an unmatched impression contributes a NULL click side -- COUNT over a
  nullable column skips NULLs, so it adds 0 clicks but 1 impression;
* duplicate click deliveries (at-least-once bus) must count once.

Scale notes:
* Batch: the equi-key part of the join condition shuffles both sides on
  the key; Catalyst plans SortMergeJoin with the band predicate applied
  as a post-join filter, or BroadcastHashJoin when one side is small.
  At 100 TB the key (impression_id / user_id) is high-cardinality and
  well distributed, so the shuffle partitions evenly; AQE skew-join
  splits any hot key.
* The distinct aggregation is Spark's expand + two-phase
  (partial/final) plan -- map-side partial aggregation bounds shuffle
  volume.
* Streaming: COUNT(DISTINCT) is unsupported in Structured Streaming;
  the streaming counterpart (streaming/jobs.py) dedups ids within the
  watermark and counts impression rows and interval-join matched-click
  rows in one aggregate over their union, proven equal to this batch
  spec by tests/test_streaming.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def attribute_clicks(
    impressions: DataFrame,
    clicks: DataFrame,
    *,
    key: str = "impression_id",
    click_key: str | None = None,
    imp_time: str = "event_time",
    click_time: str = "click_time",
    band: str = "10 minutes",
) -> DataFrame:
    """Interval LEFT OUTER join: each impression keeps clicks with the
    same key whose time falls in [imp_time, imp_time + band].

    Unmatched impressions survive with NULL click columns (J1-J3 in
    SURVEY.md §2.3). Column names must be disjoint across the two
    inputs except for the key.
    """
    click_key = click_key or key
    i = impressions.alias("i")
    c = clicks.alias("c")
    cond: Column = (
        (F.col(f"i.{key}") == F.col(f"c.{click_key}"))
        & (F.col(f"c.{click_time}") >= F.col(f"i.{imp_time}"))
        & (F.col(f"c.{click_time}") <= F.col(f"i.{imp_time}") + F.expr(f"INTERVAL {band}"))
    )
    joined = i.join(c, cond, "left_outer")
    if click_key == key:
        joined = joined.drop(F.col(f"c.{click_key}"))
    return joined


def ctr_windows(
    impressions: DataFrame,
    clicks: DataFrame,
    *,
    key: str = "impression_id",
    click_key: str | None = None,
    group_key: str = "campaign_id",
    imp_id: str = "impression_id",
    click_id: str = "click_id",
    imp_time: str = "event_time",
    click_time: str = "click_time",
    window: str = "1 minute",
    band: str = "10 minutes",
) -> DataFrame:
    """Tumbling-window CTR per (window, group_key) -- the batch form
    and SEMANTIC SPEC. The streaming counterpart (Structured Streaming
    forbids countDistinct) is ``streaming.jobs.streaming_ctr_windows``,
    a dedup-decomposed plan proven equal to this one by
    tests/test_streaming.py.

    Output columns: window_start, window_end, <group_key>,
    impression_count, click_count, ctr -- matching the reference sink
    schema (flink_job.sql:44-57).
    """
    joined = attribute_clicks(
        impressions,
        clicks,
        key=key,
        click_key=click_key,
        imp_time=imp_time,
        click_time=click_time,
        band=band,
    )

    agg = joined.groupBy(
        F.window(F.col(f"i.{imp_time}"), window).alias("w"),
        F.col(f"i.{group_key}").alias(group_key),
    ).agg(
        F.countDistinct(F.col(f"i.{imp_id}")).alias("impression_count"),
        F.countDistinct(F.col(f"c.{click_id}")).alias("click_count"),
    )

    # CASE WHEN imps > 0 THEN clicks/imps ELSE 0.0 (flink_job.sql:87-90).
    ctr = F.when(
        F.col("impression_count") > 0,
        F.col("click_count").cast("double") / F.col("impression_count").cast("double"),
    ).otherwise(F.lit(0.0))
    return agg.select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        group_key,
        "impression_count",
        "click_count",
        ctr.alias("ctr"),
    )


def linear_attribution(
    impressions: DataFrame,
    clicks: DataFrame,
    *,
    band: str = "10 minutes",
    imp_time: str = "event_time",
    clk_time: str = "click_time",
) -> DataFrame:
    """Multi-touch LINEAR attribution over the interval-join output:
    each impression within ``band`` before a click shares the click's
    credit equally; credit is integer basis points per click
    (10000 * campaign_touches DIV total_touches -- exact, engine-
    independent; float 1/n sums are order-dependent).

    Output: (campaign_id, credit_bp, n_click_touches).

    Scale: ONE user-keyed band join (the ctr interval-join shape);
    per-click touch counts ride a window over the join output's
    click partitioning; the campaign rollup is a small-key aggregate.
    """
    from pyspark.sql import Window

    j = clicks.alias("c").join(
        impressions.alias("i"),
        (F.col("c.user_id") == F.col("i.user_id"))
        & (F.col(f"i.{imp_time}") <= F.col(f"c.{clk_time}"))
        & (
            F.col(f"i.{imp_time}")
            >= F.col(f"c.{clk_time}") - F.expr(f"INTERVAL {band}")
        ),
    )
    w = Window.partitionBy("c.click_id")
    credited = j.select(
        F.col("c.click_id").alias("click_id"),
        F.col("i.campaign_id").alias("campaign_id"),
        F.count(F.lit(1)).over(w).alias("n_touch"),
    )
    per_click_camp = credited.groupBy("click_id", "campaign_id", "n_touch").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    credit_bp = F.expr("CAST(10000 * cnt AS BIGINT) DIV n_touch")
    return (
        per_click_camp.select("campaign_id", credit_bp.alias("credit_bp"))
        .groupBy("campaign_id")
        .agg(
            F.sum("credit_bp").alias("credit_bp"),
            F.count(F.lit(1)).alias("n_click_touches"),
        )
    )


def position_attribution(
    impressions: DataFrame,
    clicks: DataFrame,
    *,
    band: str = "10 minutes",
    imp_time: str = "event_time",
    clk_time: str = "click_time",
) -> DataFrame:
    """Multi-touch U-SHAPED (position-based) attribution: 40% of each
    click's credit to the first touch, 40% to the last, 20% split
    across the middles -- the standard complement to last-touch
    (click_attribution_asof) and linear (linear_attribution).

    Exact integer scheme, 10000 bp per click, engine-independent:

    * n = 1 -> 10000; n = 2 -> 5000 / 5000
    * n >= 3 -> first 4000, last 4000, each middle
      2000 DIV (n-2), with the remainder 2000 % (n-2) going +1 each to
      the EARLIEST middles -- so every click's credits sum to exactly
      10000 and no float ever appears. Touch order is
      (impression time, impression_id): the id tie-break makes
      positions -- and therefore credits -- deterministic under
      same-timestamp touches.

    Scale: same single user-keyed band join as linear_attribution; the
    position numbering is one window over the join output's click
    partitioning; the campaign rollup is a small-key aggregate.
    """
    from pyspark.sql import Window

    j = clicks.alias("c").join(
        impressions.alias("i"),
        (F.col("c.user_id") == F.col("i.user_id"))
        & (F.col(f"i.{imp_time}") <= F.col(f"c.{clk_time}"))
        & (
            F.col(f"i.{imp_time}")
            >= F.col(f"c.{clk_time}") - F.expr(f"INTERVAL {band}")
        ),
    )
    w = Window.partitionBy("c.click_id")
    wo = Window.partitionBy("c.click_id").orderBy(
        F.col(f"i.{imp_time}"), F.col("i.impression_id")
    )
    touches = j.select(
        F.col("c.click_id").alias("click_id"),
        F.col("i.campaign_id").alias("campaign_id"),
        F.row_number().over(wo).alias("pos"),
        F.count(F.lit(1)).over(w).alias("n_touch"),
    )
    credit = (
        F.when(F.col("n_touch") == 1, F.lit(10000))
        .when(F.col("n_touch") == 2, F.lit(5000))
        .when(F.col("pos") == 1, F.lit(4000))
        .when(F.col("pos") == F.col("n_touch"), F.lit(4000))
        .otherwise(
            F.expr("2000 DIV (n_touch - 2)")
            + F.when(
                F.col("pos") - 2 < F.expr("2000 % (n_touch - 2)"), 1
            ).otherwise(0)
        )
        .cast("long")
    )
    return (
        touches.select("campaign_id", credit.alias("credit_bp"))
        .groupBy("campaign_id")
        .agg(
            F.sum("credit_bp").alias("credit_bp"),
            F.count(F.lit(1)).alias("n_click_touches"),
        )
    )
