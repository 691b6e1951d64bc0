from __future__ import annotations

import os

import pytest

from flink_ad_analytics_spark.session import build_session

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    # A per-run warehouse: fitstore fits left in a cwd spark-warehouse/
    # by an earlier run would otherwise be served instead of refitted.
    # A per-run local dir for shuffle and spill files too (Spark lets
    # $SPARK_LOCAL_DIRS, when set, take precedence over it).
    warehouse = str(tmp_path_factory.mktemp("warehouse"))
    local_dir = str(tmp_path_factory.mktemp("spark-local"))
    # One task slot and one shuffle partition per core of the host, or
    # of $SPARK_GRAFT_CPUS when set.
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or 0) or os.cpu_count()
    spark = build_session(app_name="fas-tests", cpus=cpus,
                          shuffle_partitions=cpus,
                          extra_conf={"spark.ui.enabled": "false",
                                      "spark.sql.warehouse.dir": warehouse,
                                      "spark.local.dir": local_dir})
    yield spark
    spark.stop()


def sorted_rows(df):
    """Column-name-sorted tuples for order-insensitive comparison."""
    cols = sorted(df.columns)
    return [tuple(r[c] for c in cols) for r in df.select(*cols).collect()], cols


def assert_df_equal(a, b, name):
    """Order-insensitive non-empty value equality of two DataFrames."""
    ra, ca = sorted_rows(a)
    rb, cb = sorted_rows(b)
    assert ca == cb, f"{name}: columns {ca} != {cb}"

    # None-safe ordering (recursively, so array columns with NULL
    # elements sort too): a column mixing None and values would make a
    # bare sorted() raise TypeError inside the assertion instead of
    # reporting the value diff. No type tag in the key -- 1 and 1.0
    # must stay in one equality class, as they were under plain sort.
    def _kv(v):
        if v is None:
            return (1, 0)
        if isinstance(v, (list, tuple)):
            return (0, tuple(_kv(x) for x in v))
        return (0, v)

    def _key(t):
        return [_kv(v) for v in t]

    assert sorted(ra, key=_key) == sorted(rb, key=_key), (
        f"{name}: values differ"
    )
    assert ra, f"{name}: empty result"
