"""as-of join operator: backward match, inclusivity, tolerance, nulls."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import Row

from data_pipeline_bigquery_spark.operators.asof import asof_join

TS = dt.datetime


def _frames(spark):
    left = spark.createDataFrame(
        [
            Row(id=1, k=1, ts=TS(2024, 1, 1, 10, 0)),   # before any right → null
            Row(id=2, k=1, ts=TS(2024, 1, 1, 12, 0)),   # matches r@11:00
            Row(id=3, k=1, ts=TS(2024, 1, 1, 13, 0)),   # equal ts → inclusive match r@13:00
            Row(id=4, k=2, ts=TS(2024, 1, 1, 12, 0)),   # other key → r2@09:00
        ],
        "id long, k long, ts timestamp",
    )
    right = spark.createDataFrame(
        [
            Row(k=1, ts=TS(2024, 1, 1, 11, 0), v=10.0),
            Row(k=1, ts=TS(2024, 1, 1, 13, 0), v=20.0),
            Row(k=2, ts=TS(2024, 1, 1, 9, 0), v=30.0),
        ],
        "k long, ts timestamp, v double",
    )
    return left, right


def test_asof_backward_inclusive(spark):
    left, right = _frames(spark)
    out = {r["id"]: r for r in asof_join(left, right, "k", "ts", ["v"]).collect()}
    assert out[1]["asof_v"] is None and out[1]["asof_ts"] is None
    assert out[2]["asof_v"] == 10.0 and out[2]["asof_ts"] == TS(2024, 1, 1, 11, 0)
    assert out[3]["asof_v"] == 20.0  # ts == right ts is a match
    assert out[4]["asof_v"] == 30.0
    assert len(out) == 4  # left row count preserved


def test_asof_tolerance(spark):
    left, right = _frames(spark)
    out = {
        r["id"]: r
        for r in asof_join(left, right, "k", "ts", ["v"], tolerance_s=3600).collect()
    }
    assert out[2]["asof_v"] == 10.0    # 1h old — at the limit, kept
    assert out[4]["asof_v"] is None    # 3h old — nulled by tolerance
    assert out[4]["asof_ts"] is None


def _lit_tolerance_reference(left, right, tol):
    """The tolerance rule as the Column form spelled it,
    ``staleness <= F.lit(tol)``, applied to the untolerated match."""
    from pyspark.sql import functions as F

    out = asof_join(left, right, "k", "ts", ["v"])
    stale = F.unix_seconds("ts") - F.unix_seconds("asof_ts")
    fresh = stale <= F.lit(tol)
    return {
        r["id"]: (r["asof_ts"], r["asof_v"])
        for r in out.select(
            "id",
            F.when(fresh, F.col("asof_ts")).alias("asof_ts"),
            F.when(fresh, F.col("asof_v")).alias("asof_v"),
        ).collect()
    }


def test_asof_fractional_tolerance_is_not_truncated(spark):
    """``int(tolerance_s)`` turned -0.5 into 0, which keeps the exact
    (zero-staleness) match that a negative tolerance rules out."""
    left, right = _frames(spark)
    for tol in (3600.5, 0.5, -0.5, -3599.5):
        got = {
            r["id"]: (r["asof_ts"], r["asof_v"])
            for r in asof_join(left, right, "k", "ts", ["v"], tolerance_s=tol).collect()
        }
        assert got == _lit_tolerance_reference(left, right, tol), tol
    neg = {
        r["id"]: r["asof_v"]
        for r in asof_join(left, right, "k", "ts", ["v"], tolerance_s=-0.5).collect()
    }
    assert neg[3] is None  # equal-ts match has staleness 0 > -0.5
