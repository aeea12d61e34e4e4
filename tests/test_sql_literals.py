"""Caller-supplied strings spliced into parsed SQL must come back
verbatim: Spark unescapes backslashes inside string literals, so a
value's ``\\n`` used to become a real newline and a trailing backslash
a ``ParseException``.  Column names spliced as identifiers must resolve
to exactly themselves, backticks included."""

from __future__ import annotations

import datetime as dt
import hashlib

import pytest
from pyspark.sql import types as T

from data_pipeline_bigquery_spark.extensions.text_analysis import quality_score
from data_pipeline_bigquery_spark.functions.sql import sql_ident, sql_str_lit
from data_pipeline_bigquery_spark.operators.asof import asof_join
from data_pipeline_bigquery_spark.operators.dedup import dedup_keep_latest
from data_pipeline_bigquery_spark.operators.merge import merge_upsert
from data_pipeline_bigquery_spark.operators.metadata import zip_emitted_info
from data_pipeline_bigquery_spark.operators.windows import group_concat, version_row_number
from data_pipeline_bigquery_spark.plans import association_edges_plan, change_log_plan
from data_pipeline_bigquery_spark.queries import _ntz_output_boundary

HOSTILE = ["run\\n1", "trail\\", "o'k", "\\'", "\\\\'x", "\\u0041", "%_\\%", "a\nb", "ü", ""]


def test_sql_str_lit_round_trips(spark):
    row = spark.sql(
        "SELECT " + ", ".join(f"{sql_str_lit(s)} AS c{i}" for i, s in enumerate(HOSTILE))
    ).first()
    assert list(row) == HOSTILE


@pytest.mark.parametrize("emitted_id", ["run\\n1", "trail\\", "o'k\\"])
def test_zip_emitted_info_keeps_id_verbatim(spark, emitted_id):
    row = zip_emitted_info(spark.range(1), "2026-01-01", emitted_id).first()
    assert row.emitted_id == emitted_id
    assert row.emitted_at == dt.datetime(2026, 1, 1)


def test_group_concat_hostile_separator(spark):
    df = spark.createDataFrame([(1, "a"), (1, "b")], "g long, v string")
    out = group_concat(df, ["g"], "v", "joined", sep="\\'")
    assert {r.joined for r in out.collect()} == {"a\\'b"}


def test_association_edges_plan_hostile_edge_type(spark):
    edge_type = "deal\\to'company\\"
    edges = spark.createDataFrame([(1, 2)], "f long, t long")
    row = association_edges_plan(
        edges, None, "f", "t", edge_type, "2026-01-01", "run\\1"
    ).first()
    assert row.type == edge_type
    assert row.association_id == hashlib.md5(f"1_{edge_type}_2".encode()).hexdigest()
    assert row.emitted_id == "run\\1"


def test_change_log_plan_hostile_literals(spark):
    events = spark.createDataFrame(
        [
            (7, "sign\\up", '{"k": "x"}', dt.datetime(2026, 1, 2)),
            (7, "purchase", '{"k": "y"}', dt.datetime(2026, 1, 3)),
        ],
        "user_id long, event_type string, props string, ts timestamp",
    )
    out = change_log_plan(
        events,
        cursor="2026-01-01",
        emitted_at="2026-01-04",
        emitted_id="id\\",
        object_type="de'al\\",
        tracked_types=("sign\\up", "o'k"),
    ).collect()
    assert [(r.field, r.object_type, r.emitted_id) for r in out] == [
        ("sign\\up", "de'al\\", "id\\")
    ]


HOSTILE_NAMES = ["a`b", "`", "``x``", "x.y", "sp ace", "o'k", "ü", "AS"]


def test_sql_ident_round_trips(spark):
    df = spark.range(1).selectExpr(
        *[f"{i} AS {sql_ident(n)}" for i, n in enumerate(HOSTILE_NAMES)]
    )
    assert df.columns == HOSTILE_NAMES
    again = df.selectExpr(*[sql_ident(n) for n in reversed(HOSTILE_NAMES)])
    assert list(again.first()) == list(reversed(range(len(HOSTILE_NAMES))))


def _hostile_frame(spark, names, rows):
    fields = [T.StructField(n, T.LongType()) for n in names]
    return spark.createDataFrame(rows, T.StructType(fields))


def test_window_and_dedup_with_backtick_names(spark):
    key, order, out = "k`ey", "`t`", "ver`sion"
    df = _hostile_frame(spark, [key, order], [(1, 10), (1, 20), (2, 5)])
    got = version_row_number(df, [key], [order], out_col=out)
    assert sorted(tuple(r) for r in got.collect()) == [(1, 10, 1), (1, 20, 2), (2, 5, 1)]
    latest = dedup_keep_latest(df, [key], [order])
    assert sorted(tuple(r) for r in latest.collect()) == [(1, 20), (2, 5)]


def test_merge_upsert_with_backtick_names(spark):
    pk, cur = "p`k", "c`ur"
    target = _hostile_frame(spark, [pk, cur], [(1, 1), (2, 1)])
    source = _hostile_frame(spark, [pk, cur], [(2, 5), (3, 1)])
    got = merge_upsert(target, source, pk, cur)
    assert got.columns == [pk, cur]
    assert sorted(tuple(r) for r in got.collect()) == [(1, 1), (2, 5), (3, 1)]


def test_asof_with_backtick_names(spark):
    on, ts, val = "k`", "t`s", "v`al"
    left = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1, 12))],
        T.StructType([T.StructField(on, T.LongType()), T.StructField(ts, T.TimestampType())]),
    )
    right = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1, 11), 3.0)],
        T.StructType(
            [
                T.StructField(on, T.LongType()),
                T.StructField(ts, T.TimestampType()),
                T.StructField(val, T.DoubleType()),
            ]
        ),
    )
    out = asof_join(left, right, on, ts, [val], tolerance_s=3600)
    assert out.columns == [on, ts, "asof_ts", "asof_" + val]
    assert out.first()["asof_" + val] == 3.0


def test_text_and_boundary_with_backtick_names(spark):
    df = spark.createDataFrame(
        [(7, "The cat and a dog", dt.datetime(2024, 1, 1))],
        T.StructType(
            [
                T.StructField("i`d", T.LongType()),
                T.StructField("te`xt", T.StringType()),
                T.StructField("w`hen", T.TimestampType()),
            ]
        ),
    )
    assert quality_score(df, "i`d", "te`xt").first().word_count == 5
    out = _ntz_output_boundary(lambda _s, _d: df)(spark, "")
    assert out.columns == df.columns
    assert isinstance(out.schema["w`hen"].dataType, T.TimestampNTZType)


def test_association_edges_with_backtick_names(spark):
    edges = _hostile_frame(spark, ["f`rom", "t`o"], [(1, 2)])
    row = association_edges_plan(edges, None, "f`rom", "t`o", "x", "2026-01-01", "r").first()
    assert (row.from_id, row.to_id) == ("1", "2")
