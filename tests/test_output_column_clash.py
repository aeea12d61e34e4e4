"""Operators whose parsed projections append a column must replace an
input column of the same name, never emit a duplicate beside it."""

from __future__ import annotations

import datetime as dt

from data_pipeline_bigquery_spark.operators.asof import asof_join
from data_pipeline_bigquery_spark.operators.dedup import dedup_keep_latest
from data_pipeline_bigquery_spark.operators.metadata import zip_emitted_info
from data_pipeline_bigquery_spark.operators.windows import group_concat, version_row_number

TS = dt.datetime


def _events(spark, extra: str):
    return spark.createDataFrame(
        [(1, 10, "b", -1), (1, 20, "a", -1), (2, 5, "c", -1)],
        f"k long, t long, v string, {extra} long",
    )


def _unique(df):
    assert len(df.columns) == len(set(df.columns)), df.columns


def test_version_row_number_replaces_out_col(spark):
    df = _events(spark, "version")
    out = version_row_number(df, ["k"], ["t"])
    _unique(out)
    assert out.columns == df.columns  # replaced in place, like withColumn
    assert sorted((r.k, r.t, r.version) for r in out.collect()) == [
        (1, 10, 1), (1, 20, 2), (2, 5, 1)
    ]


def test_group_concat_replaces_out_col_even_the_value_col(spark):
    df = _events(spark, "joined")
    out = group_concat(df, ["k"], "v", "joined")
    _unique(out)
    assert {(r.k, r.joined) for r in out.collect()} == {(1, "a,b"), (2, "c")}
    # the value column itself as the output: the window still reads the input
    out = group_concat(df, ["k"], "v", "v")
    _unique(out)
    assert {(r.k, r.v) for r in out.collect()} == {(1, "a,b"), (2, "c")}


def test_zip_emitted_info_replaces_stamp_cols(spark):
    df = spark.createDataFrame(
        [(1, "old", "old", "x")], "id long, emitted_at string, emitted_id string, associations string"
    )
    out = zip_emitted_info(df, "2026-01-01", "run-1", archived_defaults=True)
    _unique(out)
    row = out.first()
    assert (row.emitted_at, row.emitted_id, row.associations, row.archivedAt) == (
        TS(2026, 1, 1), "run-1", "{}", None
    )
    assert out.columns[:4] == df.columns


def test_dedup_keep_latest_with_input_rn_col(spark):
    df = _events(spark, "__rn")
    out = dedup_keep_latest(df, ["k"], ["t"])
    _unique(out)
    assert sorted((r.k, r.t) for r in out.collect()) == [(1, 20), (2, 5)]
    # the Column form replaces an input __rn the same way
    assert out.columns == dedup_keep_latest(df, ["k"], [df.t]).columns


def test_asof_with_internal_and_output_cols_on_left(spark):
    left = spark.createDataFrame(
        [(1, 1, TS(2024, 1, 1, 12), 7, 8, 9.0)],
        "id long, k long, ts timestamp, __asof_tag int, __p int, asof_v double",
    )
    right = spark.createDataFrame(
        [(1, TS(2024, 1, 1, 11), 10.0)], "k long, ts timestamp, v double"
    )
    out = asof_join(left, right, "k", "ts", ["v"])
    _unique(out)
    assert out.columns == ["id", "k", "ts", "asof_ts", "asof_v"]
    row = out.first()
    assert (row.asof_ts, row.asof_v) == (TS(2024, 1, 1, 11), 10.0)
