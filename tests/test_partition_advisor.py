"""Partition advisor (tools/): footer-only stats, scan/shuffle knob
advice, unsplittable-row-group detection on the known fixture shape."""

from __future__ import annotations

import sys
from pathlib import Path

# the tree this test file sits in, not an installed or other copy
sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from tools.partition_advisor import advise, table_stats


def test_footer_stats_match_known_fixture():
    s = table_stats("/root/testdata/sf0.001/lineitem.parquet")
    assert s["rows"] > 5000
    assert s["row_groups"] >= 1
    assert 0 < s["compressed_bytes"] <= s["uncompressed_bytes"]


def test_advice_shapes_and_row_group_floor():
    d = advise("/root/testdata/sf0.1", scale=1000.0, cores=1000)
    a = d["advice"]
    assert a["largest_table"] == "lineitem"
    assert a["spark.sql.shuffle.partitions"] >= 1000
    assert 4 * 1024 * 1024 <= a["spark.sql.files.maxPartitionBytes"] <= 128 * 1024 * 1024
    # the measured single-task scan floor of this repo's fixtures must
    # be DETECTED: driver parquet ships one row group per file
    warned = {w["table"] for w in d["row_group_warnings"]}
    assert "lineitem" in warned, d["row_group_warnings"]


def test_small_scale_no_spurious_warnings():
    d = advise("/root/testdata/sf0.001", scale=1.0, cores=2)
    # 6k-row files fit any task target comfortably at scale 1
    assert d["advice"]["spark.sql.shuffle.partitions"] >= 2
    assert d["row_group_warnings"] == [], d["row_group_warnings"]
