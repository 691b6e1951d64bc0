"""Physical-plan quality gates: the properties that make these
queries survive a 100x scale-up, asserted against explain() output so
regressions are caught like correctness bugs.

These mirror the scale checklist: filters/columns push into the
parquet scan, small dimensions broadcast, the hot expressions stay in
whole-stage codegen, and the InferFiltersFromGenerate pathology (an
inferred filter re-inlining a generator's expensive expression into
the scan) stays excluded.
"""

from __future__ import annotations

import re

import pytest

from flink_ad_analytics_spark.operators.dedup import minhash_signatures
from flink_ad_analytics_spark.queries import (
    q_local_supplier_volume,
    q_pricing_summary,
    q_shipping_priority,
)
from tests.conftest import SF_CORRECT


def plan_of(df, mode: str = "formatted") -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), mode
    )


def test_filter_pushdown_reaches_scan(spark):
    """The shipdate filter must reach the parquet reader as a pushed
    filter, and the scan must prune to the referenced columns only."""
    plan = plan_of(q_pricing_summary(spark, SF_CORRECT))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # column pruning: the 11-column lineitem scan reads only 7 columns
    read_schema = next(
        line for line in plan.splitlines() if "ReadSchema" in line
    )
    assert "l_orderkey" not in read_schema  # unused columns pruned
    assert "l_quantity" in read_schema


def test_dim_joins_broadcast(spark):
    """Q3/Q5-style joins must broadcast the dimension sides -- no
    shuffle of the big fact table against small dims."""
    for q in (q_shipping_priority, q_local_supplier_volume):
        plan = plan_of(q(spark, SF_CORRECT))
        assert "BroadcastHashJoin" in plan, q.__name__
    # Q3: top-10 must run as TakeOrderedAndProject, not a global sort
    plan3 = plan_of(q_shipping_priority(spark, SF_CORRECT))
    assert "TakeOrderedAndProject" in plan3
    assert "GlobalSort" not in plan3


def test_no_inferred_generate_filter(spark):
    """Regression guard: explode() must not grow an inferred
    size(..)>0 filter that pushes the shingle expression into the
    scan (single-threaded re-splitting; measured 3-4x total runtime).
    """
    docs = spark.read.parquet(f"{SF_CORRECT}/documents.parquet")
    posting = minhash_signatures(docs)
    plan = plan_of(posting, "simple")
    scan_section = plan[plan.index("FileScan") :] if "FileScan" in plan else plan
    # the defining transform must not appear inside the scan's filters
    assert "DataFilters: [(size(CASE WHEN" not in plan
    assert "transform" not in scan_section.split("\n")[0]


def test_whole_stage_codegen_covers_aggregation(spark):
    """The CTR aggregation pipeline must run inside whole-stage
    codegen (JVM-compiled), not interpreted."""
    from flink_ad_analytics_spark.queries import q_ctr_hourly

    # AQE's pre-execution wrapper hides codegen subtrees; disable it
    # for the inspection only (execution behavior is unchanged).
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = plan_of(q_ctr_hourly(spark, SF_CORRECT), "codegen")
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    # codegen explain reports "Found N WholeStageCodegen subtrees"
    first = plan.splitlines()[0]
    n = int(first.split("Found ")[1].split(" ")[0])
    assert n >= 1


def test_exchange_reuse_in_lsh_self_join(spark):
    """The LSH band self-join should reuse one exchange/subtree for
    both sides where Spark supports it, rather than recomputing the
    signature pipeline twice."""
    from flink_ad_analytics_spark.operators.dedup import minhash_lsh_pairs

    docs = spark.read.parquet(f"{SF_CORRECT}/documents.parquet")
    plan = plan_of(minhash_lsh_pairs(docs), "formatted")
    # ReusedExchange appears when the band subtree is shared
    assert "ReusedExchange" in plan or plan.count("Generate explode") <= 4


def test_rollup_single_expand_single_shuffle(spark):
    """ROLLUP must execute as one Expand serving all grouping levels
    from ONE scan. Round-6 two-level form: the Expand runs over the
    (partition, status, priority) long-cents PARTIALS, so the plan has
    exactly two exchanges -- the partial aggregate's (whose volume is
    bounded by map-side combine to ~groups-per-task rows) and the tiny
    rollup merge of ~hundreds of partial rows. The anti-pattern gated
    against is unchanged: no per-level rescans, no Expand over raw
    scan rows."""
    from flink_ad_analytics_spark.queries import q_order_rollup

    plan = plan_of(q_order_rollup(spark, SF_CORRECT), "simple")
    assert plan.count("Expand") == 1
    assert plan.count("FileScan") == 1  # one scan serves all 3 levels
    # Expand must sit ABOVE the partial aggregate (operate on partials,
    # not scan rows): the aggregate keyed by __pid appears below it
    assert "spark_partition_id" in plan.lower()
    assert plan.count("Exchange") <= 2


def test_top_terms_single_corpus_pass(spark):
    """top_terms must scan/explode the corpus once: the per-doc term
    count exchange is consumed by both the tf and df branches via
    ReusedExchange."""
    from flink_ad_analytics_spark.operators.text import top_terms
    from flink_ad_analytics_spark.sources.batch import load_table

    # AQE reuses identical exchange stages at RUNTIME; the static plan
    # only shows ReusedExchange with AQE off (execution behavior is
    # the same -- this is an inspection-only toggle, as in the codegen
    # gate above).
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = plan_of(top_terms(load_table(spark, SF_CORRECT, "documents")))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert "ReusedExchange" in plan, plan
    # exactly one scan of documents feeds the explode pipeline (the
    # separate count() for N runs as its own job, not in this plan).
    # formatted mode prints each node twice: tree line + detail block.
    assert plan.count("Scan parquet") == 2, plan


def test_volume_shipping_single_fact_shuffle(spark):
    """Q7-style 6-way join: all four dim joins broadcast; lineitem's
    shipdate range filter reaches the scan. The fact table must not
    shuffle for any dim join (the one exchange pair feeds
    lineitem<->orders)."""
    from flink_ad_analytics_spark.queries import q_volume_shipping

    df = q_volume_shipping(spark, SF_CORRECT)
    # simple mode prints each node once (formatted prints tree+detail);
    # >= 4: the four dims always broadcast, and at toy SF the pruned
    # orders side may legitimately broadcast too
    assert plan_of(df, "simple").count("BroadcastHashJoin") >= 4
    plan = plan_of(df)
    assert "PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipdate" in plan
    # the nation pair OR-filter must not force a post-join sort
    assert "GlobalSort" not in plan


def test_repetition_quality_single_exchange(spark):
    """Both aggregation levels must reuse the explicit doc-id
    partitioning: exactly one exchange in the whole plan."""
    from flink_ad_analytics_spark.operators.text import repetition_features
    from flink_ad_analytics_spark.sources.batch import load_table

    docs = load_table(spark, SF_CORRECT, "documents")
    plan = plan_of(repetition_features(docs), "simple")
    assert plan.count("Exchange") == 1, plan


def test_sampling_ops_no_shuffle(spark):
    """Split/sample assignment is a pure projection/filter: zero
    exchanges before any user-added aggregation."""
    from flink_ad_analytics_spark.operators.sampling import (
        hash_split,
        stratified_sample,
    )
    from flink_ad_analytics_spark.sources.batch import load_table

    docs = load_table(spark, SF_CORRECT, "documents")
    for df in (
        hash_split(docs),
        stratified_sample(docs, "lang", {"en": 0.5}),
    ):
        assert plan_of(df, "simple").count("Exchange") == 0


def test_asof_join_plan_has_no_join(spark):
    """The as-of query must run as union + ONE window pass -- zero
    join operators, zero fan-out. An equi-join formulation would
    materialize |imps_per_user| x |clicks_per_user| rows per user."""
    from flink_ad_analytics_spark.queries import q_click_attribution_asof

    plan = plan_of(q_click_attribution_asof(spark, SF_CORRECT))
    assert "Join" not in plan
    assert plan.count("(1) Scan parquet") <= 1  # events scanned per side
    assert "Window" in plan and "Union" in plan
    # both scans prune to the 4 referenced columns and push the
    # event_type filter
    assert "PushedFilters: [IsNotNull(event_type), EqualTo(event_type,view)" in plan
    assert "PushedFilters: [IsNotNull(event_type), EqualTo(event_type,click)" in plan


def test_min_cost_supplier_single_fact_pass(spark):
    """Q2 shape: the window-min decorrelation must evaluate the
    offers subplan ONCE -- lineitem appears in exactly one scan (the
    agg+join-back form scans it twice and re-runs the dim joins)."""
    from flink_ad_analytics_spark.queries import q_min_cost_supplier

    plan = plan_of(q_min_cost_supplier(spark, SF_CORRECT))
    # formatted mode prints each node twice (tree + detail)
    li_scans = plan.count("file:" + SF_CORRECT + "/lineitem.parquet")
    assert li_scans <= 2, f"lineitem scanned {li_scans} times (want 1 node)"
    assert "BroadcastHashJoin" in plan  # nation/region dims broadcast


def test_sole_late_suppliers_single_orderkey_exchange(spark):
    """Q21 shape: the decorrelated plan shuffles the fact rows ONCE
    (the pinned l_orderkey repartition); both aggregation grains and
    the sole-order join reuse that partitioning."""
    from flink_ad_analytics_spark.queries import q_sole_late_suppliers

    plan = plan_of(q_sole_late_suppliers(spark, SF_CORRECT))
    # partitioning expressions: exactly one hashpartitioning on
    # l_orderkey alone (tree+detail print it; REPARTITION_BY_COL tags it)
    assert plan.count("REPARTITION_BY_COL") <= 2
    assert "hashpartitioning(l_orderkey" in plan


def test_returned_items_preaggregates_before_dim_joins(spark):
    """Q10 shape: the custkey aggregation must sit BELOW the customer/
    nation joins (only aggregate rows reach the attribute joins, not
    the full fact stream), and top-20 must be TakeOrderedAndProject."""
    from flink_ad_analytics_spark.queries import q_returned_items

    plan = plan_of(q_returned_items(spark, SF_CORRECT))
    assert "TakeOrderedAndProject" in plan
    lines = plan.splitlines()
    # in the formatted plan's numbered-tree header, the final HashAggregate
    # on o_custkey must appear deeper (higher node number read bottom-up)
    # than the customer-side BroadcastHashJoin consuming it. Cheap proxy:
    # the plan contains an Exchange hashpartitioning(o_custkey...) --
    # i.e. the aggregation's shuffle, keyed on custkey, not a join key
    # carrying c_name through the fact stream.
    assert any("hashpartitioning(o_custkey" in l for l in lines), plan[:2000]
    # customer attributes must NOT appear in the aggregate's grouping
    agg_lines = [l for l in lines if "Keys [1]" in l or "Keys: [o_custkey" in l]
    assert not any("c_name" in l for l in agg_lines)


def test_sparse_cosine_no_cartesian(spark):
    """The inverted-index candidate join must be a term-keyed join --
    never a cartesian/broadcast-nested-loop over the corpus."""
    from flink_ad_analytics_spark.operators.text import sparse_cosine_pairs
    from flink_ad_analytics_spark.sources.batch import load_table

    docs = load_table(spark, SF_CORRECT, "documents")
    plan = plan_of(sparse_cosine_pairs(docs))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_lm_quality_bigrams_without_self_join(spark):
    """Bigram generation must be an array transform on the scan side
    (zero shuffle), not a positional self-join of the token relation:
    the only Exchanges are the count/lookup/doc aggregations."""
    from flink_ad_analytics_spark.operators.text import bigram_logprob
    from flink_ad_analytics_spark.sources.batch import load_table

    docs = load_table(spark, SF_CORRECT, "documents")
    plan = plan_of(bigram_logprob(docs))
    assert "Generate explode" in plan or "Generate" in plan
    # no join keyed on a position column (the self-join anti-pattern)
    assert "pos#" not in plan.lower() or "join" not in plan.lower().split("pos#")[0][-200:]


def test_disjunctive_revenue_pushes_or_filter_to_part_scan(spark):
    """Q19 shape: Catalyst must derive a side-local filter from the
    OR-of-ANDs and push it into the part scan (brand/size disjunction),
    keep the join broadcast, and never expand the OR into a union."""
    from flink_ad_analytics_spark.queries import q_disjunctive_revenue

    plan = plan_of(q_disjunctive_revenue(spark, SF_CORRECT), "simple")
    # the brand/size disjunction derived from the OR-of-ANDs reaches
    # the part scan as a pushed filter (it exists nowhere else; simple
    # mode truncates the list, so match its head)
    assert "Or(Or(And(EqualTo(p_brand" in plan
    assert "BroadcastHashJoin" in plan
    assert plan.count("FileScan parquet") == 2  # no OR-expansion re-scan


def test_order_count_distribution_preaggregates_orders(spark):
    """Q13 shape: the orders side must aggregate to one row per
    custkey BEFORE the customer join (partial_count below the first
    exchange), so the join input is |customers|, not |orders|."""
    from flink_ad_analytics_spark.queries import q_order_count_distribution

    plan = plan_of(q_order_count_distribution(spark, SF_CORRECT), "simple")
    # exactly one o_custkey exchange: the orders pre-aggregate (whose
    # output then feeds the join -- broadcast at toy SF, co-partitioned
    # SMJ at scale; joining raw orders first would add a second)
    assert plan.count("hashpartitioning(o_custkey") == 1
    assert "partial_count" in plan
    # the priority filter reaches the orders scan
    assert "Not(EqualTo(o_orderpriority,1-URGENT))" in plan


def test_small_qty_revenue_single_partkey_exchange(spark):
    """Q17 shape: the decorrelated window form must pay exactly ONE
    l_partkey exchange (agg+join-back would pay it twice) after the
    broadcast part filter."""
    from flink_ad_analytics_spark.queries import q_small_qty_revenue

    plan = plan_of(q_small_qty_revenue(spark, SF_CORRECT), "simple")
    assert plan.count("hashpartitioning(l_partkey") == 1
    assert "BroadcastHashJoin" in plan
    assert "Window" in plan


def test_customer_value_ranks_single_window_operator(spark):
    """All six rank functions ride ONE c_mktsegment exchange: the
    tiebreak-ordered group (ntile/percent_rank/cume_dist/first) and
    the ties-by-value group (rank/dense_rank) differ only in ordering,
    so they compile to two Window nodes over the same partitioning --
    a local prefix re-sort, never a second shuffle."""
    from flink_ad_analytics_spark.queries import q_customer_value_ranks

    plan = plan_of(q_customer_value_ranks(spark, SF_CORRECT), "simple")
    assert plan.count("Window [") == 2
    assert plan.count("hashpartitioning(c_mktsegment") == 1


def test_rebalance_corpus_side_never_shuffles(spark):
    """rebalance_to_mix: exchanges exist only under the tiny per-
    stratum count aggregate; the documents scan feeding the kept rows
    reaches the filter without any exchange above it."""
    from flink_ad_analytics_spark.operators.sampling import rebalance_to_mix
    from flink_ad_analytics_spark.sources.batch import load_table

    docs = load_table(spark, SF_CORRECT, "documents")
    target = {f"src{i}": 0.05 for i in range(20)}
    plan = plan_of(rebalance_to_mix(docs, "source", target), "simple")
    # corpus row path: Scan -> Filter -> BroadcastHashJoin with the
    # hash-threshold predicate; the weight map broadcasts.
    assert "BroadcastHashJoin" in plan
    assert "conv(substring(md5" in plan  # threshold filter present
    # shuffles exist only under the tiny weight-map aggregate: the
    # per-stratum count (1) + the single-partition window total (1).
    shuffles = plan.count("Exchange ") - plan.count("BroadcastExchange")
    assert shuffles <= 2, plan
    # ONE corpus scan feeds the kept rows, one column-pruned scan
    # feeds the stratum counts -- not three
    assert plan.count("FileScan parquet") == 2


def test_capped_sessions_single_user_exchange(spark):
    """Gap flag, carry-forward session mark, and slice index must all
    ride ONE user_id exchange; the final per-slice aggregate reuses
    the same partitioning (grouping keys prefix-extend user_id)."""
    from flink_ad_analytics_spark.queries import q_capped_sessions

    plan = plan_of(q_capped_sessions(spark, SF_CORRECT), "simple")
    shuffles = plan.count("Exchange ") - plan.count("BroadcastExchange")
    assert shuffles == 1, plan
    assert plan.count("hashpartitioning(user_id") == 1


def test_product_profit_single_fact_shuffle(spark):
    """Q9 shape: part/supplier/nation all broadcast; the only shuffle
    is the final (nation, year) aggregate."""
    from flink_ad_analytics_spark.queries import q_product_profit

    plan = plan_of(q_product_profit(spark, SF_CORRECT), "simple")
    assert plan.count("BroadcastHashJoin") == 3
    shuffles = plan.count("Exchange ") - plan.count("BroadcastExchange")
    assert shuffles <= 2  # agg + output sort
    assert plan.count("SortMergeJoin") == 0


def test_key_part_concentration_reuses_partkey_stage(spark):
    """Q11 shape: the per-part aggregate feeds BOTH the row stream and
    the global total; at execution AQE must reuse the l_partkey
    shuffle stage instead of re-scanning lineitem."""
    from flink_ad_analytics_spark.queries import q_key_part_concentration

    df = q_key_part_concentration(spark, SF_CORRECT)
    df.collect()
    plan = plan_of(df, "simple")
    assert "isFinalPlan=true" in plan
    assert "Reused" in plan, plan


def test_grouping_sets_single_expand_single_shuffle(spark):
    """Explicit GROUPING SETS keeps the rollup shape: one Expand (3
    replicas), one aggregation shuffle."""
    from flink_ad_analytics_spark.queries import q_priority_grouping_sets

    plan = plan_of(q_priority_grouping_sets(spark, SF_CORRECT), "simple")
    assert plan.count("Expand") == 1
    shuffles = plan.count("Exchange ") - plan.count("BroadcastExchange")
    assert shuffles <= 2  # agg + output sort


def test_ann_filtered_pushes_label_predicate_to_scan(spark):
    """Filtered vector search: the metadata predicate must reach the
    candidate parquet scan (pre-filtering), not run post-scoring."""
    from flink_ad_analytics_spark.queries_ext import q_ann_filtered_topk

    plan = plan_of(q_ann_filtered_topk(spark, SF_CORRECT), "simple")
    assert "EqualTo(label,3)" in plan, plan


def test_forecast_revenue_change_is_pure_scan_aggregate(spark):
    """Q6 shape: scan -> filter -> partial agg -> 1-row gather. All
    three predicates pushed to the reader; 3 of 11 columns read; the
    only exchange is the SinglePartition gather."""
    from flink_ad_analytics_spark.queries import q_forecast_revenue_change

    plan = plan_of(q_forecast_revenue_change(spark, SF_CORRECT), "simple")
    shuffles = plan.count("Exchange ") - plan.count("BroadcastExchange")
    assert shuffles == 1 and "SinglePartition" in plan
    assert "PushedFilters: [IsNotNull" in plan
    assert plan.count("FileScan parquet") == 1
    rs = plan.split("ReadSchema: ")[1].split("\n")[0]
    assert "l_extendedprice" in rs and "l_orderkey" not in rs


def test_top_revenue_supplier_single_lineitem_scan(spark):
    """Q15 shape: the per-supplier revenue aggregate feeds BOTH the
    scalar-max branch and the join branch; ReuseExchange must collapse
    them to ONE lineitem scan + one supplier-key shuffle (the explicit
    isNotNull(l_suppkey) in the builder keeps the two subtrees
    byte-identical -- this gate catches anything that re-splits them)."""
    from flink_ad_analytics_spark.queries import q_top_revenue_supplier

    df = q_top_revenue_supplier(spark, SF_CORRECT)
    df.collect()
    plan = plan_of(df, "simple")
    final = plan.split("Initial Plan")[0] if "Initial Plan" in plan else plan
    assert final.count("FileScan parquet") <= 2  # lineitem once + supplier
    assert "Reused" in final, final


def test_dominant_suppliers_window_replaces_self_join(spark):
    """Q20 shape: the per-part total is a window sum over the
    (partkey, suppkey) aggregate -- one partkey shuffle, not an
    agg+self-join (two exchanges of the same rows)."""
    from flink_ad_analytics_spark.queries import q_dominant_suppliers

    plan = plan_of(q_dominant_suppliers(spark, SF_CORRECT), "simple")
    assert "Window" in plan
    # lineitem scanned exactly once
    assert plan.count("lineitem.parquet") == 1


def test_market_share_flat_fact_never_exchanged(spark):
    """Round-9 flat Q8 gate (VERDICT r8 #2, adjudicated in
    .benchmarks/market_share_floor_sf10.json): under the size-aware
    broadcast path the 60M-row fact flows scan -> broadcast-hash probe
    -> map-side partial agg with NO exchange; the only exchanges are
    post-agg (merge, window on o_year, final orderBy) -- and the map
    derivation itself is exchange-free (region-pruned customer
    broadcasts into orders). A regression to the r8 shape re-adds the
    orders/customer shuffle + the fact shuffle and blows the bound.
    Bound = 4, all value-sized: two-level agg partial (__pid grain) +
    merge, window re-partition on o_year, final orderBy range. The
    structural 100 TB
    path (broadcast_map=False) must instead hash-build the map and
    stream the fact: ShuffledHashJoin, never a fact sort."""
    from pyspark.sql import functions as F

    from flink_ad_analytics_spark.queries import (
        _market_share_from,
        q_market_share,
    )
    from flink_ad_analytics_spark.sources.batch import load_table

    df = q_market_share(spark, SF_CORRECT)  # small orders -> broadcast
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    assert "SortMergeJoin" not in plan
    n_ex = (
        plan.count("Exchange hashpartitioning")
        + plan.count("Exchange rangepartitioning")
        + plan.count("Exchange SinglePartition")
    )
    assert n_ex <= 4, f"{n_ex} exchanges\n{plan[:3000]}"

    shj = _market_share_from(
        load_table(spark, SF_CORRECT, "lineitem"),
        load_table(spark, SF_CORRECT, "orders").select(
            "o_orderkey", "o_custkey"
        ),
        load_table(spark, SF_CORRECT, "customer").select(
            "c_custkey", "c_nationkey"
        ),
        load_table(spark, SF_CORRECT, "nation").select(
            "n_nationkey", "n_name", "n_regionkey"
        ),
        load_table(spark, SF_CORRECT, "region")
        .filter(F.col("r_name") == "ASIA")
        .select("r_regionkey"),
        broadcast_map=False,
    )
    splan = plan_of(shj, "simple")
    assert "ShuffledHashJoin" in splan
    assert "SortMergeJoin" not in splan


# --- plan-shape digests --------------------------------------------------
#
# One query per engine subsystem: relational core, TPC-H shapes, window
# functions, dedup family, ANN, text, curation, multimodal, and the
# band-join/classifier/quality paths. Each digest counts operators in the
# pre-execution physical plan at sf0.01, so a plan regression (a new
# shuffle in ctr_hourly, a Python stage in a codegen path) fails here.
# After an intentional plan change, update the expectation in the same
# commit. Counts are static upper bounds: AQE can reuse an identical
# exchange subtree at run time, which the executed-plan gates above
# check separately.

_PY_NODES = (
    "MapInPandas",
    "FlatMapGroupsInPandas",
    "ArrowEvalPython",
    "BatchEvalPython",
)


def digest(df) -> dict:
    """Operator counts of ``df``'s physical plan.

    * shuffles -- Exchange nodes other than BroadcastExchange;
    * broadcasts -- BroadcastExchange nodes;
    * scans -- FileScan nodes (a re-scan of one table counts twice);
    * sorts -- Sort nodes;
    * py_stages -- Python/Arrow evaluation boundaries, the deliberate
      non-codegen islands;
    * pushed_filters -- at least one scan carries a non-empty
      PushedFilters list (matched to end of line, so a filter holding
      a nested bracket such as ``In(a, [1,2])`` is not cut short).

    Only counts, never operator order: the Expand that plans
    ``ctr_windows``' two COUNT(DISTINCT)s can list its groups in
    either order from one planning to the next, and that cannot move
    any count.
    """
    plan = plan_of(df, "simple")
    return {
        "shuffles": len(
            re.findall(r"Exchange (hash|range|single|SinglePartition)", plan, re.I)
        ),
        "broadcasts": plan.count("BroadcastExchange"),
        "scans": plan.count("FileScan"),
        "sorts": plan.count("Sort ["),
        "py_stages": sum(plan.count(n) for n in _PY_NODES),
        "pushed_filters": any(
            s.strip()
            for s in re.findall(r"PushedFilters: \[(.*?)\]\s*(?:$|,)", plan, re.M)
        ),
    }


FLAGSHIP_DIGESTS = {
    "ctr_hourly": {
        "shuffles": 3, "broadcasts": 1, "scans": 2,
        "sorts": 0, "py_stages": 0, "pushed_filters": True,
    },
    "anomaly_alerts": {
        "shuffles": 4, "broadcasts": 1, "scans": 2,
        "sorts": 1, "py_stages": 0, "pushed_filters": True,
    },
    "pricing_summary": {
        "shuffles": 2, "broadcasts": 0, "scans": 1,
        "sorts": 0, "py_stages": 0, "pushed_filters": True,
    },
    "shipping_priority": {
        "shuffles": 3, "broadcasts": 2, "scans": 3,
        "sorts": 0, "py_stages": 0, "pushed_filters": True,
    },
    "top_revenue_supplier": {
        "shuffles": 5, "broadcasts": 2, "scans": 3,
        "sorts": 0, "py_stages": 0, "pushed_filters": True,
    },
    "dedup_exact": {
        "shuffles": 1, "broadcasts": 0, "scans": 1,
        "sorts": 0, "py_stages": 0, "pushed_filters": False,
    },
    "dedup_minhash_lsh": {
        "shuffles": 15, "broadcasts": 3, "scans": 6,
        "sorts": 8, "py_stages": 0, "pushed_filters": True,
    },
    "dedup_simhash_pairs": {
        "shuffles": 3, "broadcasts": 1, "scans": 2,
        "sorts": 0, "py_stages": 0, "pushed_filters": True,
    },
    "ann_cosine_topk": {
        "shuffles": 4, "broadcasts": 3, "scans": 4,
        "sorts": 3, "py_stages": 0, "pushed_filters": True,
    },
    "text_quality": {
        "shuffles": 0, "broadcasts": 0, "scans": 1,
        "sorts": 0, "py_stages": 0, "pushed_filters": False,
    },
    "classifier_scores": {
        "shuffles": 0, "broadcasts": 0, "scans": 1,
        "sorts": 0, "py_stages": 0, "pushed_filters": False,
    },
    "event_bursts": {
        "shuffles": 3, "broadcasts": 1, "scans": 3,
        "sorts": 2, "py_stages": 0, "pushed_filters": True,
    },
    "semantic_dedup": {
        "shuffles": 5, "broadcasts": 1, "scans": 0,
        "sorts": 2, "py_stages": 0, "pushed_filters": False,
    },
    "data_quality": {
        "shuffles": 6, "broadcasts": 1, "scans": 4,
        "sorts": 0, "py_stages": 0, "pushed_filters": True,
    },
    "multimodal_phash": {
        "shuffles": 2, "broadcasts": 1, "scans": 2,
        "sorts": 0, "py_stages": 2, "pushed_filters": False,
    },
    "quality_weighted_sample": {
        "shuffles": 0, "broadcasts": 0, "scans": 1,
        "sorts": 0, "py_stages": 0, "pushed_filters": False,
    },
    "curated_corpus": {
        "shuffles": 16, "broadcasts": 8, "scans": 9,
        "sorts": 1, "py_stages": 0, "pushed_filters": True,
    },
}


@pytest.mark.parametrize("name", FLAGSHIP_DIGESTS)
def test_flagship_plan_digest(spark, name):
    import __spark_entry__ as entry

    got = digest(entry.queries()[name](spark, SF_CORRECT))
    assert got == FLAGSHIP_DIGESTS[name], (
        f"{name}: plan shape changed.\n  now:      {got}\n"
        f"  expected: {FLAGSHIP_DIGESTS[name]}"
    )


def test_ctr_hourly_digest_stable_across_plannings(spark):
    """Planning ctr_hourly again under the same conf gives one digest,
    whichever order the Expand lists its distinct groups in."""
    import __spark_entry__ as entry

    build = entry.queries()["ctr_hourly"]
    digests = [digest(build(spark, SF_CORRECT)) for _ in range(3)]
    assert all(d == digests[0] for d in digests), digests
