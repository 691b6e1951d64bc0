"""The runtime query surface is the plain union of the three family
dicts: a name declared in two families would be silently shadowed by
the merge, so collisions fail here."""

from __future__ import annotations

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
