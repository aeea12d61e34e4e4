"""The r14 shuffle-writer pin: every real exchange must take the
unified sort-based writer, not the bypass-merge writer.

The bypass writer opens one file per reduce partition per map task
(map_tasks x initialPartitionNum files per exchange — 4,096 at the
local 32x128 geometry), which is what a production-scale partition
count (R > 200) never does; pinning
``spark.shuffle.sort.bypassMergeThreshold`` below the engine's
8-partition shuffle floor makes the local writer match the at-scale
one.  Deployers override it through ``get_spark(extra_conf=...)``."""

from __future__ import annotations


def test_bypass_threshold_below_engine_shuffle_floor(spark):
    thr = int(spark.conf.get("spark.shuffle.sort.bypassMergeThreshold"))
    # session.get_spark floors shuffle_partitions at 8 and starts AQE
    # at 4x that, so any real exchange has R >= 8 > thr: sort writer.
    assert thr < 8
    assert thr == 7


def test_dataframe_debugging_off(spark):
    """The other speed setting the session keeps: no per-call Python
    stack capture while plans are built."""
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
