"""Streaming-maintained standing profile index: the table_profile
analogue of the events-family rollup maintenance. A replayed orders
corpus must yield an index whose SERVED profile matches the batch
exact profile on every mergeable-exact stat (n_rows / nulls / min /
max byte-equal) with distinct counts inside the same 2% HLL gate as
q_table_profile_served, and replay double-appends must be harmless."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from flink_ad_analytics_spark.operators.profile import (
    build_profile_index,
    profile_from_index,
    profile_index_aggs,
)
from flink_ad_analytics_spark.queries import _PROFILE_COLS, q_table_profile
from flink_ad_analytics_spark.sources.batch import load_table
from flink_ad_analytics_spark.streaming.jobs import streaming_profile_index

SF_CORRECT = "/root/testdata/sf0.01"


def _served_vs_exact(spark, idx_df):
    served = {
        r["col_name"]: r
        for r in profile_from_index(idx_df, _PROFILE_COLS).collect()
    }
    exact = {
        r["col_name"]: r
        for r in q_table_profile(spark, SF_CORRECT).collect()
    }
    assert set(served) == set(exact)
    for col, e in exact.items():
        s = served[col]
        for field in ("n_rows", "n_nulls", "min_repr", "max_repr"):
            assert s[field] == e[field], f"{col}.{field}: {s[field]} != {e[field]}"
        rel = abs(s["n_distinct"] - e["n_distinct"]) / max(1, e["n_distinct"])
        assert rel <= 0.02, f"{col}: {s['n_distinct']} vs {e['n_distinct']}"


def test_streaming_index_serves_batch_equal_profile(spark, tmp_path):
    orders = load_table(spark, SF_CORRECT, "orders")
    src = str(tmp_path / "orders_in")
    orders.repartition(4).write.parquet(src)

    idx_path = str(tmp_path / "profile_index")
    q = streaming_profile_index(
        spark.readStream.schema(orders.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src),
        cols=_PROFILE_COLS,
        index_path=idx_path,
        checkpoint=str(tmp_path / "ckpt"),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    idx = spark.read.parquet(idx_path)
    n_shards = idx.count()
    assert n_shards >= 2, "replay should produce multiple index rows"
    _served_vs_exact(spark, idx)

    # replay idempotence: duplicate one shard row (the at-least-once
    # foreachBatch retry shape); the served profile must not change
    one = idx.orderBy("__shard").limit(1)
    _served_vs_exact(spark, idx.unionByName(one))


def test_batch_index_matches_streaming_contract(spark):
    """build_profile_index (hash shards) serves the same contract as
    the streaming-maintained index -- the batch/streaming duality of
    the profile index."""
    orders = load_table(spark, SF_CORRECT, "orders")
    idx = build_profile_index(
        orders, _PROFILE_COLS, n_shards=8, shard_key="o_orderkey"
    )
    assert idx.count() == 8
    _served_vs_exact(spark, idx)


def test_incremental_shard_absorb(spark):
    """Appending a new shard's row to a standing index equals
    rebuilding over the union -- mergeability, the property exact
    distinct counts do not have."""
    orders = load_table(spark, SF_CORRECT, "orders")
    part = F.pmod(F.xxhash64("o_orderkey"), F.lit(5))
    standing = build_profile_index(
        orders.filter(part != 0),
        _PROFILE_COLS,
        n_shards=4,
        shard_key="o_orderkey",
    )
    fresh = orders.filter(part == 0).groupBy(
        F.lit("fresh/100").alias("__shard")
    )
    fresh = fresh.agg(*profile_index_aggs(_PROFILE_COLS))
    _served_vs_exact(spark, standing.unionByName(fresh))


def test_lineage_namespace_survives_restart_on_uri_checkpoint(
    spark, tmp_path
):
    """ADVICE r11: the shard-id namespace must live on the CHECKPOINT's
    filesystem (resolved through the Hadoop FileSystem API), not the
    driver's local disk -- a restart from the same checkpoint URI must
    re-derive the SAME namespace, so replayed batches land under their
    pre-failure shard ids. Exercised with an explicit scheme-qualified
    file:// URI, the shape a remote FS checkpoint takes."""
    orders = load_table(spark, SF_CORRECT, "orders").limit(200)
    src = str(tmp_path / "orders_in")
    orders.repartition(2).write.parquet(src)
    idx_path = str(tmp_path / "profile_index")
    ckpt = f"file://{tmp_path}/ckpt_uri"

    def _run():
        q = streaming_profile_index(
            spark.readStream.schema(orders.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src),
            cols=_PROFILE_COLS,
            index_path=idx_path,
            checkpoint=ckpt,
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    _run()
    ns1 = {
        r["__shard"].rsplit("/", 1)[0]
        for r in spark.read.parquet(idx_path).select("__shard").collect()
    }
    assert len(ns1) == 1, ns1
    # new data + restart from the SAME checkpoint: same namespace
    orders.repartition(1).write.mode("append").parquet(src)
    _run()
    ns2 = {
        r["__shard"].rsplit("/", 1)[0]
        for r in spark.read.parquet(idx_path).select("__shard").collect()
    }
    assert ns2 == ns1, (ns1, ns2)


def test_replay_with_nonidentical_sketch_bytes_serves(spark):
    """ADVICE r11: DataSketches HLL serialization is not byte-
    deterministic for small batches (LIST/SET-mode coupon order follows
    insertion / partial-merge order), so an at-least-once replay can
    legally append a row whose DETERMINISTIC stats match the original
    while the sketch BYTES differ. Serving must collapse it (either
    sketch summarizes the same rows), not trip the collision guard."""
    orders = load_table(spark, SF_CORRECT, "orders")
    part = F.pmod(F.xxhash64("o_orderkey"), F.lit(5))
    shard_rows = orders.filter(part == 0)
    # same rows, two aggregation shapes -> different coupon insertion /
    # partial-merge order -> (typically) different sketch bytes
    a = (
        shard_rows.coalesce(1)
        .sortWithinPartitions("o_orderkey")
        .groupBy(F.lit("ns/0").alias("__shard"))
        .agg(*profile_index_aggs(_PROFILE_COLS))
    )
    b = (
        shard_rows.repartition(7, "o_custkey")
        .sortWithinPartitions(F.desc("o_orderkey"))
        .groupBy(F.lit("ns/0").alias("__shard"))
        .agg(*profile_index_aggs(_PROFILE_COLS))
    )
    ra, rb = a.collect()[0], b.collect()[0]
    det = [c for c in a.columns if not c.endswith("__sketch")]
    sk = [c for c in a.columns if c.endswith("__sketch")]
    assert all(ra[c] == rb[c] for c in det), "replay fixture must be a replay"
    assert any(bytes(ra[c]) != bytes(rb[c]) for c in sk), (
        "fixture vacuous: every replayed sketch serialized byte-identically"
    )
    # full-row identity dedup (the pre-r12 behavior) would see 2 rows on
    # one shard id and raise; deterministic-stat dedup must serve the
    # EXACT profile (n_rows not double-counted, distincts in-gate)
    standing = build_profile_index(
        orders.filter(part != 0),
        _PROFILE_COLS,
        n_shards=4,
        shard_key="o_orderkey",
    )
    _served_vs_exact(spark, standing.unionByName(a).unionByName(b))


def test_shard_namespace_collision_loud_fails(spark):
    """ADVICE r10: two producers reusing a shard id (batch hash shards
    vs streaming batch ids, or a reset-checkpoint restart) must raise,
    not silently drop whole shards of real data; identical replayed
    rows must still dedup harmlessly."""
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    orders = load_table(spark, SF_CORRECT, "orders")
    part = F.pmod(F.xxhash64("o_orderkey"), F.lit(2))
    a = (
        orders.filter(part == 0)
        .groupBy(F.lit("ns/0").alias("__shard"))
        .agg(*profile_index_aggs(_PROFILE_COLS))
    )
    b = (
        orders.filter(part == 1)
        .groupBy(F.lit("ns/0").alias("__shard"))  # COLLIDING shard id
        .agg(*profile_index_aggs(_PROFILE_COLS))
    )
    clash = a.unionByName(b)
    with pytest.raises(SparkRuntimeException, match="shard-id collision"):
        profile_from_index(clash, _PROFILE_COLS).collect()

    # distinct namespaces over the same split serve the exact profile
    b_ok = b.withColumn("__shard", F.lit("other/0"))
    _served_vs_exact(spark, a.unionByName(b_ok))
