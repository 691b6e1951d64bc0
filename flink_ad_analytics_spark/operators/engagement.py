"""Engagement aggregation: tumbling-window metrics per segment key.

Reference semantics (`/root/reference/flink/flink_job.sql:102-118`):
same interval-join upstream as CTR, grouped by window and
``COALESCE(device_type, 'Unknown')``, emitting distinct impressions,
distinct matched clicks, and ctr.

Generalized here to any segment column with a COALESCE default
(P7 in SURVEY.md §2.2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .ctr import ctr_windows


def engagement_windows(
    impressions: DataFrame,
    clicks: DataFrame,
    *,
    segment_col: str = "device_type",
    default: str = "Unknown",
    **kwargs,
) -> DataFrame:
    """CTR-style windowed aggregation keyed by a null-defaulted segment.

    The reference groups on the RAW column and coalesces only in the
    projection (flink_job.sql:106,118), so a window holding both a
    NULL and a literal 'Unknown' emits TWO rows. Coalescing before the
    groupBy -- this operator's shape before round 5 -- merged them.

    The segment is TAG-ENCODED to a non-null key for the pipeline
    ('\\x00' for NULL, '\\x01'+value otherwise -- injective, so no
    value can collide with the NULL tag) and decoded to COALESCE
    semantics in the output projection. Neither ctr_windows nor its
    streaming twin needs the encoding to keep NULL keys (both group
    the segment in a single groupBy, where NULLs form one group);
    batch and streaming share this one segment-key definition so the
    duality tests compare identical pipelines end to end.
    """
    segmented = impressions.withColumn("segment", _tag(segment_col))
    out = ctr_windows(segmented, clicks, group_key="segment", **kwargs)
    return out.withColumn("segment", _untag("segment", default)).withColumnRenamed(
        "segment", segment_col
    )


_NULL_TAG = "\x00"


def _tag(col: str) -> F.Column:
    """Injective non-null encoding of a nullable string key."""
    return F.when(F.col(col).isNull(), F.lit(_NULL_TAG)).otherwise(
        F.concat(F.lit("\x01"), F.col(col))
    )


def _untag(col: str, default: str) -> F.Column:
    """Decode ``_tag`` output, mapping the NULL tag to ``default``
    (the COALESCE-in-projection of the reference SQL)."""
    return F.when(F.col(col) == _NULL_TAG, F.lit(default)).otherwise(
        F.expr(f"substring({col}, 2)")
    )
