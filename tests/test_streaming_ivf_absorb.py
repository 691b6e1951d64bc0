"""Streaming-maintained IVF inverted lists: the ANN twin of the
profile-index maintenance. Replaying the embeddings corpus as
micro-batches against FIXED standing centroids must land a list table
row-identical to the batch assignment, serving (topk over the
maintained lists) must equal the batch serve, and at-least-once
replay double-appends must be harmless under the c_id-grain dedup."""

from __future__ import annotations

from pyspark.sql import functions as F

from flink_ad_analytics_spark.operators.clustering import (
    ivf_fixedpoint_assign,
    ivf_fixedpoint_topk,
    kmeans_fixedpoint,
)
from flink_ad_analytics_spark.sources.batch import load_table
from flink_ad_analytics_spark.streaming.jobs import streaming_ivf_absorb

SF_CORRECT = "/root/testdata/sf0.01"


def _rows(df):
    return {
        (r["c_id"], r["bucket"], tuple(r["c_q"])) for r in df.collect()
    }


def test_streaming_lists_equal_batch_assignment_and_serve(spark, tmp_path):
    emb = load_table(spark, SF_CORRECT, "embeddings")
    cent = kmeans_fixedpoint(emb, k=4, iters=2, seed=11)
    cent = spark.createDataFrame(cent.collect(), cent.schema)  # pin fit

    src = str(tmp_path / "emb_in")
    emb.repartition(4).write.parquet(src)
    lists_path = str(tmp_path / "ivf_lists")
    q = streaming_ivf_absorb(
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src),
        cent=cent,
        lists_path=lists_path,
        checkpoint=str(tmp_path / "ckpt"),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    landed = spark.read.parquet(lists_path).dropDuplicates(["c_id"])
    want = ivf_fixedpoint_assign(emb, cent)
    assert _rows(landed) == _rows(want)

    # served topk over the maintained lists == batch serve
    def serve(assigned):
        return {
            (r["q_id"], r["c_id"], r["dist2"], r["rank"])
            for r in ivf_fixedpoint_topk(
                emb,
                cent,
                query_filter=F.col("vec_id") < 10,
                k=3,
                nprobe=2,
                assigned=assigned,
            ).collect()
        }

    batch_serve = serve(want)
    assert serve(landed) == batch_serve
    assert batch_serve  # non-vacuous

    # at-least-once replay: re-append one micro-batch's rows, then
    # serve the RAW maintained parquet -- no caller-side dedup; the
    # one-list-row-per-vector contract is enforced inside
    # ivf_fixedpoint_topk (ADVICE r11), so the serve must be identical
    one_file = spark.read.parquet(lists_path).limit(50)
    one_file.write.mode("append").parquet(lists_path)
    assert serve(spark.read.parquet(lists_path)) == batch_serve
