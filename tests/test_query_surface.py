"""The runtime query surface is the plain union of the three family
dicts: a name declared in two families would be silently shadowed by
the merge, so collisions fail here. Two names sharing one oracle are
two paths to the same answer, and each such pair is listed here with
the reason it stays."""

from __future__ import annotations

from collections import defaultdict

import __spark_entry__ as entrymod
from flink_ad_analytics_spark.queries import RELATIONAL_QUERIES
from flink_ad_analytics_spark.queries_ext import EXTENSION_QUERIES
from flink_ad_analytics_spark.queries_pipeline import PIPELINE_QUERIES

FAMILIES = (RELATIONAL_QUERIES, EXTENSION_QUERIES, PIPELINE_QUERIES)


def test_queries_is_disjoint_union_of_families():
    names = [name for family in FAMILIES for name in family]
    dupes = sorted({n for n in names if names.count(n) > 1})
    assert not dupes, f"declared in more than one family: {dupes}"
    assert len(entrymod.queries()) == sum(len(f) for f in FAMILIES)


def test_every_oracle_names_a_query():
    assert set(entrymod.oracle_sql()) <= set(entrymod.queries())


def test_oracle_sharing_is_limited_to_kept_pairs():
    by_sql = defaultdict(set)
    for name, sql in entrymod.oracle_sql().items():
        by_sql[sql].add(name)
    shared = sorted(sorted(names) for names in by_sql.values() if len(names) > 1)
    assert shared == [
        # ann_cosine_topk is the reference the vectorized path is
        # tested against, and a perfbench query.
        ["ann_cosine_topk", "ann_topk_vectorized"],
        # Each solver wins on some graph: star converges in O(log^2 n)
        # rounds on long chains, where min-label propagation needs one
        # round per hop of the diameter but is cheaper per round.
        ["dedup_clusters", "dedup_clusters_star"],
    ], f"a second path shares an oracle: {shared}"
