"""sources/lake.py: footer-read schemas instead of schema-inference jobs
on the sync batch's reads, and the per-gateway JVM class-handle cache."""

from __future__ import annotations

import datetime as dt
import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from data_pipeline_bigquery_spark import catalog
from data_pipeline_bigquery_spark.sources import snapshots
from data_pipeline_bigquery_spark.sources.lake import parquet_schema
from data_pipeline_bigquery_spark.state.cursor import CursorStore
from tests.conftest import jobs_started

SF_MID = "/root/testdata/sf0.01"


def _orders(spark, n=40):
    return spark.range(n).selectExpr(
        "id AS o_orderkey",
        "CAST(id % 3 AS INT) AS o_shard",
        "CAST(id * 1.5 AS DECIMAL(12, 2)) AS o_totalprice",
        "timestamp_seconds(1700000000 + id * 86400) AS o_orderdate",
        "CASE WHEN id % 4 = 0 THEN NULL ELSE concat('c', id) END AS o_comment",
    )


def _schema_cases(spark, tmp_path):
    for name in sorted(os.listdir(SF_MID)):
        yield name, os.path.join(SF_MID, name)
    base = str(tmp_path / "snap")
    v = snapshots.write_snapshot(_orders(spark), base)
    yield "plain version", f"{base}/v={v}"
    v = snapshots.write_snapshot(_orders(spark), base, partition_by=["o_shard"])
    yield "partition_by version", f"{base}/v={v}"
    v = snapshots.write_snapshot(_orders(spark).limit(0), base)
    yield "empty-frame version", f"{base}/v={v}"
    nanos = tmp_path / "nanos"
    nanos.mkdir()
    pq.write_table(
        pa.table(
            {
                "k": pa.array([1, 2], pa.int32()),
                "ts": pa.array([1_700_000_000_123_456_789, None], pa.timestamp("ns")),
            }
        ),
        str(nanos / "part-0.parquet"),
        version="2.6",
    )
    yield "TIMESTAMP(NANOS) file", str(nanos)


def test_footer_schema_equals_inferred_schema(spark, tmp_path):
    assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"
    cases = list(_schema_cases(spark, tmp_path))
    assert len(cases) >= 14
    for label, path in cases:
        assert parquet_schema(spark, path) == spark.read.parquet(path).schema, label
    nanos_schema = parquet_schema(spark, cases[-1][1])
    assert nanos_schema["ts"].dataType.simpleString() == "bigint"
    partitioned = dict(cases)["partition_by version"]
    assert parquet_schema(spark, partitioned).names[-1] == "o_shard"


def test_footer_pick_skips_hidden_dirs_and_empty_dirs(spark, tmp_path):
    """A staging dir swallowed into ``v=N`` holds files of another schema;
    it must never be the footer read.  With no data file at all the
    caller's plain read raises Spark's own error."""
    base = str(tmp_path / "snap")
    v = snapshots.write_snapshot(_orders(spark), base)
    other = spark.range(3).selectExpr("'x' AS other")
    other.write.parquet(f"{base}/v={v}/.tmp-{uuid.uuid4().hex}")
    other.write.parquet(f"{base}/v={v}/_side")
    got = snapshots.read_snapshot(spark, base, v)
    assert got.schema == spark.read.parquet(f"{base}/v={v}").schema
    assert "other" not in got.columns
    assert got.count() == 40
    empty = tmp_path / "empty"
    empty.mkdir()
    (empty / "_SUCCESS").write_bytes(b"")
    assert parquet_schema(spark, str(empty)) is None
    assert parquet_schema(spark, str(tmp_path / "missing")) is None


def test_sync_reads_start_no_spark_job(spark, tmp_path):
    base = str(tmp_path / "snap")
    snapshots.write_snapshot(_orders(spark), base)
    v = snapshots.write_snapshot(_orders(spark, 50), base)
    changes = str(tmp_path / "changes")
    _orders(spark, 30).write.parquet(os.path.join(changes, "batch.parquet"))
    # the counter sees the job an inferred read starts
    assert jobs_started(spark, lambda: spark.read.parquet(f"{base}/v=1")) >= 1
    assert jobs_started(spark, lambda: snapshots.read_snapshot(spark, base)) == 0
    assert jobs_started(spark, lambda: snapshots.read_snapshot(spark, base, 1)) == 0
    catalog.invalidate_plan_cache(spark)
    assert jobs_started(spark, lambda: catalog.load(spark, changes, "batch")) == 0
    assert snapshots.read_snapshot(spark, base).count() == 50
    latest = snapshots.read_snapshot(spark, base)
    assert latest.schema == spark.read.parquet(f"{base}/v={v}").schema


# pyspark itself resolves a few imported JVM names per call (e.g.
# ``PythonUtils`` when converting a list, ``functions`` per ``F.expr``);
# a Hadoop ``Path``/``GlobFilter`` built through ``spark._jvm.org…``
# would add 5-6 each, dozens per batch.
MAX_REFLECTION_WALKS = 40


def test_sync_step_sends_few_reflection_commands(spark, tmp_path):
    base, cursors = str(tmp_path / "snap"), str(tmp_path / "cursor")
    snapshots.write_snapshot(_orders(spark), base)
    store = CursorStore(spark, cursors)

    def batch(i):
        source = _orders(spark, 45).withColumn(
            "o_orderdate", F.col("o_orderdate") + F.expr(f"INTERVAL {i} DAYS")
        )
        snapshots.merge_into_snapshot(
            spark, base, source, pk="o_orderkey", cursor_col="o_orderdate"
        )
        store.append("orders", dt.datetime(2024, 1, 1 + i), dt.datetime(2026, 1, 1), f"b{i}")

    batch(0)  # first calls walk each class once
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    sent = []

    def counted(command, *args, **kwargs):
        sent.append(command)
        return send(command, *args, **kwargs)

    client.send_command = counted
    try:
        batch(1)
    finally:
        client.send_command = send
    walks = [c for c in sent if c.startswith("r\nu\n")]
    assert len(walks) <= MAX_REFLECTION_WALKS, sorted({c.split("\n")[2] for c in walks})
    assert snapshots.read_snapshot(spark, base).count() == 45
