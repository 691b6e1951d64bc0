"""Standing-IVF drift signal + refit trigger (VERDICT r11 item 2).

The absorb contract fixes centroids forever; under distribution drift
its recall decays silently. These tests plant a shifted-distribution
shard and assert the full loop: the ratio rises, recall measurably
decays, the trigger fires, and the refit branch recovers recall --
plus the ledger algebra (per-batch partials re-aggregate exactly) and
the absorb branch staying intact for in-distribution shards.
Threshold provenance: .benchmarks/ivf_drift_threshold.json (pin 1.85
between ratio 1.34 = no decay and 2.37 = first material decay at
sf0.1/400 queries).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from flink_ad_analytics_spark.operators.clustering import (
    IVF_DRIFT_STALE_RATIO,
    ivf_absorb_or_refit,
    ivf_drift_stats,
    ivf_fixedpoint_assign,
    ivf_fixedpoint_topk,
    kmeans_fixedpoint,
)
from flink_ad_analytics_spark.sources.batch import load_table

SF = "/root/testdata/sf0.01"
K, ITERS, SEED = 8, 3, 11
FRESH_BASE = 1_000_000


@pytest.fixture(scope="module")
def standing(spark):
    return load_table(spark, SF, "embeddings").localCheckpoint(eager=True)


@pytest.fixture(scope="module")
def fixed_index(standing):
    cent = kmeans_fixedpoint(
        standing, k=K, iters=ITERS, seed=SEED
    ).localCheckpoint(eager=True)
    lists = ivf_fixedpoint_assign(standing, cent).localCheckpoint(
        eager=True
    )
    return cent, lists


def _drifted(emb, delta: float):
    """Deterministic per-(vec_id, dim) uniform noise in [-delta, delta]
    -- the campaign's drift model -- re-identified as a fresh shard."""
    noise = (
        "transform(embedding, (x, d) -> CAST(x AS DOUBLE) + "
        f"{delta!r} * ((pmod(xxhash64(vec_id * 64 + d), 10007) "
        "/ 10007.0) * 2.0 - 1.0))"
    )
    return emb.select(
        (F.col("vec_id") + F.lit(FRESH_BASE)).alias("vec_id"),
        F.expr(noise).alias("embedding"),
        "label",
    )


def _recall(union_emb, cent, assigned, n_queries=100, k=5, nprobe=2):
    qf = (F.col("vec_id") >= FRESH_BASE) & (
        F.col("vec_id") < FRESH_BASE + n_queries
    )

    def topk(np_):
        out: dict = {}
        for r in ivf_fixedpoint_topk(
            union_emb, cent, query_filter=qf, k=k, nprobe=np_,
            assigned=assigned,
        ).collect():
            out.setdefault(r["q_id"], set()).add(r["c_id"])
        return out

    approx, exact = topk(nprobe), topk(K)  # nprobe=K probes every list
    return sum(
        len(approx.get(q, set()) & hits) / len(hits)
        for q, hits in exact.items()
    ) / len(exact)


def test_in_distribution_shard_stays_in_gate(standing, fixed_index):
    """A fresh shard drawn from the fit-time distribution must NOT
    trip the trigger: ratio ~1, absorb branch taken, merged lists
    equal to a from-scratch assignment of the union (mergeability)."""
    cent, lists = fixed_index
    fresh = _drifted(standing, 0.0)
    action, out_cent, merged, stats = ivf_absorb_or_refit(
        standing, fresh, cent, lists, k=K, iters=ITERS, seed=SEED
    )
    assert action == "absorb"
    assert not stats["stale"]
    assert 0.9 < stats["drift_ratio"] < 1.1, stats["drift_ratio"]
    full = ivf_fixedpoint_assign(
        standing.unionByName(fresh), out_cent
    )
    key = lambda df: {  # noqa: E731
        (r["c_id"], r["bucket"], tuple(r["c_q"]), r["dist2"])
        for r in df.collect()
    }
    assert key(merged) == key(full)


def test_drift_decays_recall_trigger_fires_refit_recovers(
    standing, fixed_index
):
    """The headline loop: heavy drift (delta=0.5, ~4x data std) pushes
    the ratio past the measured gate, fixed-centroid recall decays
    measurably, and the refit branch recovers it."""
    cent, lists = fixed_index
    fresh = _drifted(standing, 0.5).localCheckpoint(eager=True)
    union = standing.unionByName(fresh)

    baseline = _recall(
        standing.unionByName(_drifted(standing, 0.0)),
        cent,
        lists.unionByName(
            ivf_fixedpoint_assign(_drifted(standing, 0.0), cent)
        ),
    )
    action, new_cent, new_lists, stats = ivf_absorb_or_refit(
        standing, fresh, cent, lists, k=K, iters=ITERS, seed=SEED
    )
    assert action == "refit"
    assert stats["stale"] and stats["drift_ratio"] > IVF_DRIFT_STALE_RATIO

    decayed = _recall(
        union, cent, lists.unionByName(ivf_fixedpoint_assign(fresh, cent))
    )
    recovered = _recall(union, new_cent, new_lists)
    assert decayed < baseline - 0.03, (baseline, decayed)
    assert recovered > decayed + 0.05, (decayed, recovered)


def test_drift_stats_merge_from_partials(standing, fixed_index):
    """Ledger algebra: the report over a shard equals the report
    re-aggregated from per-batch partial (n, sum) rows -- what makes
    the streaming drift ledger replay-safe and windowable."""
    cent, lists = fixed_index
    fresh = _drifted(standing, 0.125).localCheckpoint(eager=True)
    assigned = ivf_fixedpoint_assign(fresh, cent).localCheckpoint(
        eager=True
    )
    whole = ivf_drift_stats(lists, assigned).collect()[0]
    parts = (
        assigned.groupBy(F.pmod("c_id", F.lit(4)).alias("b"))
        .agg(
            F.count(F.lit(1)).alias("n_vec"),
            F.sum("dist2").alias("sum_dist2"),
        )
        .collect()
    )
    n = sum(p["n_vec"] for p in parts)
    s = sum(p["sum_dist2"] for p in parts)
    assert n == whole["n_fresh"]
    assert float(s) / n == whole["fresh_mean_dist2"]


def test_streaming_drift_ledger(spark, standing, fixed_index, tmp_path):
    """streaming_ivf_absorb with drift_path appends one mergeable
    drift row per micro-batch; in-distribution batches stay in-gate,
    a drifted source raises refit_requested rows."""
    from flink_ad_analytics_spark.streaming.jobs import (
        streaming_ivf_absorb,
    )

    cent, lists = fixed_index
    inert = lists.agg(
        F.sum("dist2").alias("s"), F.count(F.lit(1)).alias("n")
    ).collect()[0]
    fit_inertia = (inert["s"], inert["n"])

    def run(df, tag):
        src = str(tmp_path / f"in_{tag}")
        df.repartition(3).write.parquet(src)
        q = streaming_ivf_absorb(
            spark.readStream.schema(df.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src),
            cent=cent,
            lists_path=str(tmp_path / f"lists_{tag}"),
            checkpoint=str(tmp_path / f"ckpt_{tag}"),
            drift_path=str(tmp_path / f"drift_{tag}"),
            fit_inertia=fit_inertia,
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        return spark.read.parquet(str(tmp_path / f"drift_{tag}"))

    calm = run(_drifted(standing, 0.0), "calm").collect()
    assert len(calm) >= 2
    assert not any(r["refit_requested"] for r in calm)
    assert sum(r["n_vec"] for r in calm) == standing.count()

    hot = run(_drifted(standing, 0.5), "hot").collect()
    assert all(r["refit_requested"] for r in hot)
    assert all(r["drift_ratio"] > IVF_DRIFT_STALE_RATIO for r in hot)

    # missing fit_inertia with a drift_path is a loud config error
    with pytest.raises(ValueError, match="fit_inertia"):
        streaming_ivf_absorb(
            spark.readStream.schema(standing.schema).parquet(
                str(tmp_path / "in_calm")
            ),
            cent=cent,
            lists_path=str(tmp_path / "x"),
            checkpoint=str(tmp_path / "xc"),
            drift_path=str(tmp_path / "xd"),
        )
