"""Caller-supplied strings spliced into parsed SQL must come back
verbatim: Spark unescapes backslashes inside string literals, so a
value's ``\\n`` used to become a real newline and a trailing backslash
a ``ParseException``."""

from __future__ import annotations

import datetime as dt
import hashlib

import pytest

from data_pipeline_bigquery_spark.functions.sql import sql_str_lit
from data_pipeline_bigquery_spark.operators.metadata import zip_emitted_info
from data_pipeline_bigquery_spark.operators.windows import group_concat
from data_pipeline_bigquery_spark.plans import association_edges_plan, change_log_plan

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
