#!/usr/bin/env python3
"""Round-9 experiment harness for VERDICT r8 item 2: where do flat
market_share's sf10 seconds go, and which plan shape gets it under
1.8s steady?

Candidates (each timed with the query_floor 1-cold + 2-steady
protocol, min(steady) reported):

  current        the shipped _market_share_from flat plan
  scan_only      bare lineitem narrow-column scan+checksum (floor)
  ordersf_only   the orders x customer x region map derivation alone
  join_count     fact join to orders_f, COUNT only (probe cost)
  prune_first    region-prune CUSTOMER before the orders join
                 (VERDICT suggestion: broadcast the nation/region
                 prune before orders><customer)
  preagg         partial-agg the fact per (orderkey, year) BEFORE the
                 orderkey join, then join the ~4x smaller pre-agg
  preagg_prune   both of the above

Usage: SPARK_GRAFT_SF_DIR=/root/repo/.scale_data/sf10 python3 tools/market_share_experiments.py [names...]
Writes .benchmarks/market_share_floor_sf10.json-adjacent diagnostics
to stdout (JSON line per candidate).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, functions as F  # noqa: E402

from bench import materialize  # noqa: E402
from flink_ad_analytics_spark.queries import (  # noqa: E402
    _cents,
    q_market_share,
)
from flink_ad_analytics_spark.session import build_session  # noqa: E402
from flink_ad_analytics_spark.sources.batch import load_table  # noqa: E402


def _tables(spark, sf_dir):
    return dict(
        li=load_table(spark, sf_dir, "lineitem"),
        orders=load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey"
        ),
        cust=load_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_nationkey"
        ),
        nation=load_table(spark, sf_dir, "nation").select(
            "n_nationkey", "n_name", "n_regionkey"
        ),
        region=load_table(spark, sf_dir, "region")
        .filter(F.col("r_name") == "ASIA")
        .select("r_regionkey"),
    )


def _nations_in_region(t):
    return t["nation"].join(
        F.broadcast(t["region"]),
        F.col("n_regionkey") == F.col("r_regionkey"),
    ).select("n_nationkey", "n_name")


def _cust_pruned(t):
    """Customer restricted to the region FIRST (broadcast 5-row nation
    list into the 1.5M-row customer scan): the orders join then builds
    its hash table over 20% of customers and emits 20% of orders."""
    return t["cust"].join(
        F.broadcast(_nations_in_region(t)),
        F.col("c_nationkey") == F.col("n_nationkey"),
    ).select("c_custkey", F.col("n_name").alias("nation"))


def _orders_f_prune_first(t):
    return (
        t["orders"]
        .join(_cust_pruned(t).hint("shuffle_hash"),
              F.col("o_custkey") == F.col("c_custkey"))
        .select("o_orderkey", "nation")
    )


def _li_n(t):
    return t["li"].select(
        "l_orderkey",
        F.year("l_shipdate").cast("long").alias("o_year"),
        (_cents("l_extendedprice") * (F.lit(100) - _cents("l_discount"))
         ).alias("rev_e4"),
    )


def _finish(per_pre: DataFrame) -> DataFrame:
    """Merge partials -> shares (identical to _market_share_from)."""
    from pyspark.sql import Window

    per = per_pre.groupBy("o_year", "nation").agg(
        F.round(
            F.sum(F.col("p_rev").cast("decimal(38,0)")) / F.lit(10_000), 4
        ).alias("rev_dec")
    )
    w = Window.partitionBy("o_year")
    tot = F.sum("rev_dec").over(w)
    return per.select(
        "o_year", "nation",
        F.col("rev_dec").cast("double").alias("revenue"),
        (F.col("rev_dec").cast("double") / tot.cast("double")).alias(
            "mkt_share"),
    ).orderBy("o_year", "nation")


def cand_current(spark, sf_dir):
    return q_market_share(spark, sf_dir)


def cand_scan_only(spark, sf_dir):
    return _li_n(_tables(spark, sf_dir))


def cand_ordersf_only(spark, sf_dir):
    t = _tables(spark, sf_dir)
    nir = _nations_in_region(t)
    return (
        t["orders"].join(t["cust"].hint("shuffle_hash"),
                         F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nir), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("o_orderkey", F.col("n_name").alias("nation"))
    )


def cand_ordersf_prune_first(spark, sf_dir):
    return _orders_f_prune_first(_tables(spark, sf_dir))


def cand_join_count(spark, sf_dir):
    t = _tables(spark, sf_dir)
    of = _orders_f_prune_first(t)
    return (
        _li_n(t).join(of.hint("shuffle_hash"),
                      F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("nation").count()
    )


def cand_prune_first(spark, sf_dir):
    t = _tables(spark, sf_dir)
    of = _orders_f_prune_first(t)
    return _finish(
        _li_n(t).join(of.hint("shuffle_hash"),
                      F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(F.spark_partition_id().alias("__pid"), "o_year", "nation")
        .agg(F.sum("rev_e4").alias("p_rev"))
    )


def cand_preagg(spark, sf_dir):
    t = _tables(spark, sf_dir)
    nir = _nations_in_region(t)
    of = (
        t["orders"].join(t["cust"].hint("shuffle_hash"),
                         F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nir), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("o_orderkey", F.col("n_name").alias("nation"))
    )
    li_pre = (
        _li_n(t)
        .groupBy("l_orderkey", "o_year")
        .agg(F.sum("rev_e4").alias("rev_o"))
    )
    per_pre = (
        li_pre.join(of.hint("shuffle_hash"),
                    F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(F.spark_partition_id().alias("__pid"), "o_year", "nation")
        .agg(F.sum("rev_o").alias("p_rev"))
    )
    return _finish(per_pre)


def cand_preagg_prune(spark, sf_dir):
    t = _tables(spark, sf_dir)
    of = _orders_f_prune_first(t)
    li_pre = (
        _li_n(t)
        .groupBy("l_orderkey", "o_year")
        .agg(F.sum("rev_e4").alias("rev_o"))
    )
    per_pre = (
        li_pre.join(of.hint("shuffle_hash"),
                    F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(F.spark_partition_id().alias("__pid"), "o_year", "nation")
        .agg(F.sum("rev_o").alias("p_rev"))
    )
    return _finish(per_pre)


CANDIDATES = {
    "current": cand_current,
    "scan_only": cand_scan_only,
    "ordersf_only": cand_ordersf_only,
    "ordersf_prune_first": cand_ordersf_prune_first,
    "join_count": cand_join_count,
    "prune_first": cand_prune_first,
    "preagg": cand_preagg,
    "preagg_prune": cand_preagg_prune,
}


def main() -> None:
    sf_dir = os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/repo/.scale_data/sf10"
    )
    names = sys.argv[1:] or list(CANDIDATES)
    spark = build_session(
        app_name="market-share-exp",
        cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "32")),
        shuffle_partitions=32,
        extra_conf={"spark.ui.enabled": "false"},
    )
    out = {}
    for name in names:
        fn = CANDIDATES[name]
        t0 = time.perf_counter()
        materialize(fn(spark, sf_dir))
        first = time.perf_counter() - t0
        steady = []
        for _ in range(2):
            t0 = time.perf_counter()
            materialize(fn(spark, sf_dir))
            steady.append(time.perf_counter() - t0)
        out[name] = {"first": round(first, 2),
                     "steady": round(min(steady), 2)}
        print(json.dumps({name: out[name]}), file=sys.stderr)
    print(json.dumps(out))




def _orders_f_int(t, bcast_cust=True):
    """order -> nationkey (INT payload; the name string joins on at the
    END over ~175 agg rows, not 60M fact rows). cust pruned to the
    region first; at sf10 that is ~300k rows -> broadcast into the
    orders scan, removing the orders/customer shuffle entirely."""
    nir = t["nation"].join(
        F.broadcast(t["region"]),
        F.col("n_regionkey") == F.col("r_regionkey"),
    ).select("n_nationkey")
    cust_p = t["cust"].join(
        F.broadcast(nir), F.col("c_nationkey") == F.col("n_nationkey")
    ).select("c_custkey", "c_nationkey")
    side = F.broadcast(cust_p) if bcast_cust else cust_p.hint("shuffle_hash")
    return (
        t["orders"].join(side, F.col("o_custkey") == F.col("c_custkey"))
        .select("o_orderkey", "c_nationkey")
    )


def _finish_int(per_pre, t):
    from pyspark.sql import Window

    per = (
        per_pre.groupBy("o_year", "c_nationkey")
        .agg(
            F.round(
                F.sum(F.col("p_rev").cast("decimal(38,0)")) / F.lit(10_000),
                4,
            ).alias("rev_dec")
        )
        .join(F.broadcast(t["nation"].select("n_nationkey", "n_name")),
              F.col("c_nationkey") == F.col("n_nationkey"))
        .withColumnRenamed("n_name", "nation")
    )
    w = Window.partitionBy("o_year")
    tot = F.sum("rev_dec").over(w)
    return per.select(
        "o_year", "nation",
        F.col("rev_dec").cast("double").alias("revenue"),
        (F.col("rev_dec").cast("double") / tot.cast("double")).alias(
            "mkt_share"),
    ).orderBy("o_year", "nation")


def cand_shj_int(spark, sf_dir):
    t = _tables(spark, sf_dir)
    of = _orders_f_int(t)
    per_pre = (
        _li_n(t).join(of.hint("shuffle_hash"),
                      F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(F.spark_partition_id().alias("__pid"),
                 "o_year", "c_nationkey")
        .agg(F.sum("rev_e4").alias("p_rev"))
    )
    return _finish_int(per_pre, t)


def cand_bcast_map(spark, sf_dir):
    t = _tables(spark, sf_dir)
    of = _orders_f_int(t)
    per_pre = (
        _li_n(t).join(F.broadcast(of),
                      F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(F.spark_partition_id().alias("__pid"),
                 "o_year", "c_nationkey")
        .agg(F.sum("rev_e4").alias("p_rev"))
    )
    return _finish_int(per_pre, t)


CANDIDATES["shj_int"] = cand_shj_int
CANDIDATES["bcast_map"] = cand_bcast_map



def cand_ordersf_int_only(spark, sf_dir):
    return _orders_f_int(_tables(spark, sf_dir))


def cand_bcast_map_late(spark, sf_dir):
    """bcast_map, but the decimal revenue math moves AFTER the join:
    only the ~20% of fact rows matching an in-region order pay the
    decimal casts; the probe carries raw columns."""
    t = _tables(spark, sf_dir)
    of = _orders_f_int(t)
    per_pre = (
        t["li"].select("l_orderkey", "l_shipdate",
                       "l_extendedprice", "l_discount")
        .join(F.broadcast(of), F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            F.year("l_shipdate").cast("long").alias("o_year"),
            "c_nationkey",
            (_cents("l_extendedprice")
             * (F.lit(100) - _cents("l_discount"))).alias("rev_e4"),
        )
        .groupBy(F.spark_partition_id().alias("__pid"),
                 "o_year", "c_nationkey")
        .agg(F.sum("rev_e4").alias("p_rev"))
    )
    return _finish_int(per_pre, t)


def cand_shj_int_late(spark, sf_dir):
    t = _tables(spark, sf_dir)
    of = _orders_f_int(t)
    per_pre = (
        t["li"].select("l_orderkey", "l_shipdate",
                       "l_extendedprice", "l_discount")
        .join(of.hint("shuffle_hash"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            F.year("l_shipdate").cast("long").alias("o_year"),
            "c_nationkey",
            (_cents("l_extendedprice")
             * (F.lit(100) - _cents("l_discount"))).alias("rev_e4"),
        )
        .groupBy(F.spark_partition_id().alias("__pid"),
                 "o_year", "c_nationkey")
        .agg(F.sum("rev_e4").alias("p_rev"))
    )
    return _finish_int(per_pre, t)


CANDIDATES["ordersf_int_only"] = cand_ordersf_int_only
CANDIDATES["bcast_map_late"] = cand_bcast_map_late
CANDIDATES["shj_int_late"] = cand_shj_int_late

if __name__ == "__main__":
    main()
