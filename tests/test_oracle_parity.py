"""Every declared query must hash-match its DuckDB oracle at sf0.01 —
the local mirror of the driver's CORRECTNESS gate."""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from flink_ad_analytics_spark.queries import (
    family_clk_pre_from,
    family_imp_pre_from,
    family_outputs_from,
)
from flink_ad_analytics_spark.sources.batch import load_events
from tests.conftest import SF_CORRECT
from tests.oracle import compare, duckdb_connection

QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()

# The four ad reports served from the events rollups (family_outputs_from
# over batch-built family_imp_pre_from/family_clk_pre_from): no queries()
# entry of their own, each checked against its flat report's oracle.
FAMILY = {
    f"{flat}_family": flat
    for flat in (
        "ctr_hourly",
        "engagement_hourly",
        "campaign_spend",
        "anomaly_alerts",
    )
}
assert not set(FAMILY) & set(QUERIES)


@pytest.fixture(scope="module")
def con():
    c = duckdb_connection(SF_CORRECT)
    yield c
    c.close()


@pytest.mark.parametrize("name", sorted([*QUERIES, *FAMILY]))
def test_query_matches_oracle(spark, con, name):
    if name in FAMILY:
        flat = FAMILY[name]
        ev = load_events(spark, SF_CORRECT)
        df = family_outputs_from(
            family_imp_pre_from(ev), family_clk_pre_from(ev)
        )[flat]
        compare(df, con, ORACLES[flat], name=name)
        return
    df = QUERIES[name](spark, SF_CORRECT)
    if name in ORACLES:
        compare(df, con, ORACLES[name], name=name)
    else:
        # rows-only check, mirroring the driver's weaker gate
        assert df.count() >= 0


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert len(df.columns) == 6


def test_table_profile_served_accuracy(spark):
    """The standing-index serving path's accuracy contract:
    nulls/min/max/n_rows byte-identical to the exact profile (sums and
    min/max folds are exact over any partition of the rows), merged
    HLL distinct estimates within 2% (lgConfigK=14 gives ~0.8%
    standard error; 2% is > 2 sigma and deterministic for a fixed
    dataset)."""
    exact = {
        r["col_name"]: r
        for r in QUERIES["table_profile"](spark, SF_CORRECT).collect()
    }
    served = {
        r["col_name"]: r
        for r in QUERIES["table_profile_served"](spark, SF_CORRECT).collect()
    }
    assert set(exact) == set(served)
    for col, e in exact.items():
        s = served[col]
        for field in ("n_rows", "n_nulls", "min_repr", "max_repr"):
            assert s[field] == e[field], f"{col}.{field}: {s[field]} != {e[field]}"
        rel = abs(s["n_distinct"] - e["n_distinct"]) / max(1, e["n_distinct"])
        assert rel <= 0.02, (
            f"{col}: served distinct {s['n_distinct']} vs exact "
            f"{e['n_distinct']} (rel err {rel:.4f} > 2%)"
        )


def test_order_value_percentiles_approx_accuracy(spark):
    """GK-sketch percentiles vs the exact sort-based aggregate: group
    counts byte-equal, every percentile within 0.5% relative error
    (accuracy=10000 bounds rank error at 0.01%; 0.5% value slack
    covers value-vs-rank conversion on this distribution)."""
    exact = {
        r["o_orderstatus"]: r
        for r in QUERIES["order_value_percentiles"](spark, SF_CORRECT).collect()
    }
    approx = {
        r["o_orderstatus"]: r
        for r in QUERIES["order_value_percentiles_approx"](
            spark, SF_CORRECT
        ).collect()
    }
    assert set(exact) == set(approx)
    for status, e in exact.items():
        a = approx[status]
        assert a["n_orders"] == e["n_orders"]
        for p in ("p25", "p50", "p75", "p95"):
            rel = abs(a[p] - e[p]) / e[p]
            assert rel <= 0.005, f"{status}.{p}: {a[p]} vs {e[p]} ({rel:.5f})"


def test_table_profile_plans(spark):
    """Plan-shape contracts for both profile strategies: NEITHER may
    contain an Expand (the |cols|+1x row-replication multi-
    countDistinct compile both are designed to avoid); the exact
    profile is one column-pruned DISTINCT-ONLY scan per profiled
    column plus ONE wide nulls/n_rows scan (the round-9 terminal
    split-payload shape: the dominant near-unique-column exchanges
    carry bare values, no cnt longs -- adjudicated in
    .benchmarks/table_profile_floor_sf10.json), while the HLL
    profile index that table_profile_served serves from is built in
    exactly ONE read of the table."""
    from flink_ad_analytics_spark.operators.profile import build_profile_index
    from flink_ad_analytics_spark.queries import (
        _PROFILE_COLS,
        _PROFILE_INDEX_SHARDS,
    )
    from flink_ad_analytics_spark.sources.batch import load_table

    def plan_of(df):
        return df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "simple"
        )

    orders = load_table(spark, SF_CORRECT, "orders")
    index = plan_of(
        build_profile_index(
            orders,
            _PROFILE_COLS,
            n_shards=_PROFILE_INDEX_SHARDS,
            shard_key="o_orderkey",
        )
    )
    assert "Expand" not in index, index
    assert index.count("FileScan") == 1, index

    exact = plan_of(QUERIES["table_profile"](spark, SF_CORRECT))
    assert "Expand" not in exact, exact
    # one single-column distinct scan per profiled column + the wide
    # nulls/n_rows scan; any (value, cnt) payload regression re-adds
    # a partial_count under the distinct aggregates

    assert exact.count("FileScan") == len(_PROFILE_COLS) + 1, exact
    # the lone count(1) is the wide scan's n_rows; the per-column
    # distinct subplans must not re-grow (value, cnt) payloads
    assert exact.count("partial_count(1)") == 1, exact
