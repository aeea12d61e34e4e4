"""Sources, sinks, cursor state, and the incremental/streaming
harnesses (SURVEY §2.1/§2.2/§2.11)."""

from __future__ import annotations

import pytest as _pytest_tier

# slow tier (r13 VERDICT #1): streaming convergence/replay/restart
# integration proof — multi-trigger micro-batch runs costing 10-90 s
# each.  These re-prove invariants that only change when the streaming
# machinery changes; run with --full (or SPARK_GRAFT_FULL_TESTS=1)
# before committing changes to streaming/ paths.
pytestmark = _pytest_tier.mark.slow

import datetime as dt
import os

from pyspark.sql import Row
from pyspark.sql import functions as F

from data_pipeline_bigquery_spark.sources.lake import read_lake_prefix, write_lake
from data_pipeline_bigquery_spark.sources.rest import (
    FakeTransport,
    RestSource,
    foreach_partition_writeback,
)
from data_pipeline_bigquery_spark.sources.staging import read_staged_json, write_staged_json
from data_pipeline_bigquery_spark.state.cursor import CursorStore
from data_pipeline_bigquery_spark.streaming.incremental import (
    incremental_batch_run,
    streaming_upsert,
)

TS = dt.datetime


class TestRestSource:
    def test_paginated_scan_walks_cursor_chain(self, spark):
        records = [{"id": i, "v": f"r{i}"} for i in range(25)]
        transport = FakeTransport(records, page_size=10)
        src = RestSource(transport, "https://fake/objects")
        df = src.to_dataframe(spark, "id long, v string")
        assert df.count() == 25
        assert transport.calls == 3  # 10 + 10 + 5

    def test_writeback_batches_and_retries(self, spark, tmp_path):
        # send() runs inside executor workers — observe through the
        # filesystem (local mode shares the disk), not closure state.
        out_dir = tmp_path / "sent"
        out_dir.mkdir()
        flaky_marker = tmp_path / "failed_once"

        def send(batch):
            import json
            import os
            import uuid

            if not os.path.exists(str(flaky_marker)):
                open(str(flaky_marker), "w").close()
                raise ConnectionError("flaky")
            with open(str(out_dir / f"{uuid.uuid4()}.json"), "w") as f:
                json.dump(batch, f)

        df = spark.createDataFrame([(i,) for i in range(10)], "id: long").coalesce(1)
        foreach_partition_writeback(df, send, batch_size=4, backoff_s=0.01)

        import json

        batches = [json.load(open(p)) for p in out_dir.iterdir()]
        assert sorted(r["id"] for b in batches for r in b) == list(range(10))
        assert max(len(b) for b in batches) <= 4


class TestLakeAndStaging:
    def test_partitioned_lake_roundtrip_prunes(self, spark, tmp_path):
        df = spark.createDataFrame(
            [(i, 2020 + i % 3, f"v{i}") for i in range(30)], "id long, year int, v string"
        )
        path = str(tmp_path / "lake")
        write_lake(df, path, mode="overwrite", partition_by=("year",))
        back = read_lake_prefix(spark, path).filter(F.col("year") == 2021)
        assert back.count() == 10
        # partition pruning visible in the physical plan
        assert "PartitionFilters" in back._jdf.queryExecution().executedPlan().toString()

    def test_staged_json_roundtrip(self, spark, tmp_path):
        df = spark.createDataFrame([Row(a=1, b="x"), Row(a=2, b="y")])
        path = str(tmp_path / "staged")
        write_staged_json(df, path)
        back = read_staged_json(spark, path, schema="a long, b string")
        assert sorted(r.a for r in back.collect()) == [1, 2]


class TestIncrementalHarness:
    def test_two_runs_second_is_incremental(self, spark, tmp_path):
        store = CursorStore(spark, str(tmp_path / "cursor"))
        target = str(tmp_path / "target")
        src1 = spark.createDataFrame(
            [Row(id=1, cursor=TS(2024, 1, 1), v="a"), Row(id=2, cursor=TS(2024, 1, 2), v="b")],
            "id long, cursor timestamp, v string",
        )
        n1 = incremental_batch_run(spark, src1, target, store, "obj", "id", "cursor")
        assert n1 == 2
        assert store.max_cursor("obj") == TS(2024, 1, 2)

        # second run: one updated row (cursor advanced), one stale duplicate
        src2 = spark.createDataFrame(
            [
                Row(id=2, cursor=TS(2024, 1, 5), v="b2"),   # newer → update
                Row(id=1, cursor=TS(2024, 1, 1), v="stale"),  # ≤ cursor → filtered
                Row(id=3, cursor=TS(2024, 1, 4), v="c"),    # new → insert
            ],
            "id long, cursor timestamp, v string",
        )
        n2 = incremental_batch_run(spark, src2, target, store, "obj", "id", "cursor")
        assert n2 == 2  # stale row filtered by cursor
        final = {r.id: r.v for r in spark.read.parquet(target).collect()}
        assert final == {1: "a", 2: "b2", 3: "c"}
        assert store.max_cursor("obj") == TS(2024, 1, 5)

    def test_empty_batch_appends_no_cursor(self, spark, tmp_path):
        store = CursorStore(spark, str(tmp_path / "cursor"))
        target = str(tmp_path / "target")
        schema = "id long, cursor timestamp, v string"
        empty = spark.createDataFrame([], schema)
        assert incremental_batch_run(spark, empty, target, store, "obj", "id", "cursor") == 0
        assert store.max_cursor("obj") is None
        assert not os.path.exists(str(tmp_path / "cursor"))

        src = spark.createDataFrame([Row(id=1, cursor=TS(2024, 1, 3), v="a")], schema)
        assert incremental_batch_run(spark, src, target, store, "obj", "id", "cursor") == 1
        # every row is at or below the cursor: nothing new, no new cursor row
        assert incremental_batch_run(spark, src, target, store, "obj", "id", "cursor") == 0
        assert store.max_cursor("obj") == TS(2024, 1, 3)
        assert spark.read.parquet(str(tmp_path / "cursor")).count() == 1
        assert {r.id: r.v for r in spark.read.parquet(target).collect()} == {1: "a"}


class TestStreamingUpsert:
    def test_stream_merges_and_dedups(self, spark, tmp_path):
        stream_dir = tmp_path / "in"
        stream_dir.mkdir()
        target = str(tmp_path / "tgt")
        schema = "id long, ts timestamp, v string"

        batch1 = spark.createDataFrame(
            [Row(id=1, ts=TS(2024, 1, 1, 10), v="a"), Row(id=1, ts=TS(2024, 1, 1, 10), v="a-dup")],
            schema,
        )
        batch1.coalesce(1).write.mode("append").parquet(str(stream_dir))

        q = streaming_upsert(
            spark,
            str(stream_dir),
            schema,
            target,
            pk="id",
            event_time_col="ts",
            checkpoint=str(tmp_path / "ckpt"),
        )
        try:
            q.processAllAvailable()
            first = spark.read.parquet(target).collect()
            assert len(first) == 1  # duplicate id dropped within watermark

            batch2 = spark.createDataFrame(
                [Row(id=1, ts=TS(2024, 1, 1, 12), v="a2"), Row(id=2, ts=TS(2024, 1, 1, 11), v="b")],
                schema,
            )
            batch2.coalesce(1).write.mode("append").parquet(str(stream_dir))
            q.processAllAvailable()
        finally:
            q.stop()
        final = {r.id: r.v for r in spark.read.parquet(target).collect()}
        assert final[2] == "b"
        assert final[1] in ("a2",)  # newer cursor wins

    def test_stream_partitioned_sink_touches_only_hot_partitions(self, spark, tmp_path):
        """partition_col routes batches through merge_partitioned: the
        second batch touches only day=2024-01-02, so day=2024-01-01's
        files must stay byte-identical (O(touched partitions) IO)."""
        import glob
        import hashlib
        import os

        stream_dir = tmp_path / "in"
        stream_dir.mkdir()
        target = str(tmp_path / "tgt")
        schema = "id long, ts timestamp, day string, v string"

        batch1 = spark.createDataFrame(
            [
                Row(id=1, ts=TS(2024, 1, 1, 10), day="2024-01-01", v="a"),
                Row(id=2, ts=TS(2024, 1, 2, 9), day="2024-01-02", v="b"),
            ],
            schema,
        )
        batch1.coalesce(1).write.mode("append").parquet(str(stream_dir))

        q = streaming_upsert(
            spark,
            str(stream_dir),
            schema,
            target,
            pk="id",
            event_time_col="ts",
            checkpoint=str(tmp_path / "ckpt2"),
            partition_col="day",
        )
        try:
            q.processAllAvailable()

            def digests(day):
                return {
                    os.path.basename(p): hashlib.md5(open(p, "rb").read()).hexdigest()
                    for p in glob.glob(f"{target}/day={day}/*.parquet")
                }

            day1_before = digests("2024-01-01")
            assert day1_before  # partitioned layout written

            batch2 = spark.createDataFrame(
                [
                    Row(id=2, ts=TS(2024, 1, 2, 12), day="2024-01-02", v="b2"),
                    Row(id=3, ts=TS(2024, 1, 2, 13), day="2024-01-02", v="c"),
                ],
                schema,
            )
            batch2.coalesce(1).write.mode("append").parquet(str(stream_dir))
            q.processAllAvailable()
        finally:
            q.stop()

        final = {r.id: r.v for r in spark.read.parquet(target).collect()}
        assert final == {1: "a", 2: "b2", 3: "c"}
        # untouched partition: same files, same bytes
        assert digests("2024-01-01") == day1_before
