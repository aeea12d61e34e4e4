"""state/cursor.py: the Arrow-local cursor append, the filename-tagged
max-cursor pointer, its scan fallback, and crash convergence of the
sync loop's state step."""

from __future__ import annotations

import datetime as dt
import os
import time

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from data_pipeline_bigquery_spark.catalog import CURSOR_SCHEMA
from data_pipeline_bigquery_spark.state import cursor as cursor_mod
from data_pipeline_bigquery_spark.state.cursor import CursorStore

TS = dt.datetime
EMITTED = TS(2026, 1, 1)


def _row_path_append(spark, path, object_name, cursor_date, emitted_at, emitted_id):
    """The pickled-``Row`` append the store used before the Arrow path:
    the reference encoding the stored microseconds must match."""
    spark.createDataFrame(
        [
            Row(
                emitted_id=emitted_id,
                emitted_at=emitted_at,
                cursor_date=cursor_date,
                object=object_name,
            )
        ],
        CURSOR_SCHEMA,
    ).coalesce(1).write.mode("append").parquet(path)


def _stored(spark, path):
    return sorted(
        tuple(r)
        for r in spark.read.parquet(path)
        .select(
            "object",
            "emitted_id",
            F.unix_micros("emitted_at"),
            F.unix_micros("cursor_date"),
        )
        .collect()
    )


def _scanned_max(spark, path, object_name):
    return (
        spark.read.parquet(path)
        .filter(F.col("object") == object_name)
        .agg(F.max("cursor_date"))
        .first()[0]
    )


def _pointers(path):
    return sorted(n for n in os.listdir(path) if n.startswith("_CURSOR_"))


@pytest.fixture
def pacific_tz():
    """Python-side TZ is what ``TimestampType.toInternal`` reads for
    naive datetimes; the JVM keeps its own."""
    old = os.environ.get("TZ")
    os.environ["TZ"] = "America/Los_Angeles"
    time.tzset()
    try:
        yield
    finally:
        if old is None:
            del os.environ["TZ"]
        else:
            os.environ["TZ"] = old
        time.tzset()


def test_arrow_append_matches_row_path_non_utc_pre_epoch(spark, tmp_path, pacific_tz):
    rows = [
        ("orders", TS(1969, 7, 20, 20, 17, 40, 123456), TS(1955, 11, 5, 6, 0, 0, 1), "moon"),
        # daylight and standard time; wall times inside a DST switch
        # are left out: mktime resolves those from its previous call,
        # so even the Row path does not store them deterministically
        ("orders", TS(2024, 7, 4, 23, 59, 59, 999999), TS(2024, 12, 31, 1, 30), "dst"),
        ("deals", TS(1901, 1, 1), EMITTED, "old"),
    ]
    new, old = str(tmp_path / "arrow"), str(tmp_path / "row")
    store = CursorStore(spark, new)
    for obj, cur, at, eid in rows:
        store.append(obj, cur, at, eid)
        _row_path_append(spark, old, obj, cur, at, eid)
    assert _stored(spark, new) == _stored(spark, old)
    for obj in ("orders", "deals"):
        assert store.max_cursor(obj) == _scanned_max(spark, old, obj)
    assert store.max_cursor("deals") == TS(1901, 1, 1)


def test_append_plans_as_local_table_scan(spark, tmp_path):
    """The pickled-Row path planned ``Scan ExistingRDD`` and started a
    Python worker for every cursor write."""
    store = CursorStore(spark, str(tmp_path / "c"))
    plan = (
        store._row("orders", 0, 0, "x")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "LocalTableScan" in plan
    assert "ExistingRDD" not in plan


def test_older_cursor_does_not_lower_max(spark, tmp_path):
    path = str(tmp_path / "c")
    store = CursorStore(spark, path)
    assert store.max_cursor("orders") is None
    store.append("orders", TS(2024, 5, 1), EMITTED, "a")
    store.append("orders", TS(2024, 1, 1), EMITTED, "b")
    assert store.max_cursor("orders") == TS(2024, 5, 1)
    assert len(_pointers(path)) == 1
    store.append("orders", TS(2024, 6, 1), EMITTED, "c")
    assert store.max_cursor("orders") == TS(2024, 6, 1)
    assert len(_pointers(path)) == 1  # the ratchet swept the old tag
    assert len(_stored(spark, path)) == 3  # the audit log keeps every run


def test_hostile_object_names_keep_their_own_max(spark, tmp_path):
    path = str(tmp_path / "c")
    store = CursorStore(spark, path)
    names = ["a/b", "_x", "o'k\\", "ü", "", "long" * 60]
    for i, name in enumerate(names):
        store.append(name, TS(2020 + i, 1, 1), EMITTED, f"r{i}")
        store.append(name, TS(2000, 1, 1), EMITTED, f"s{i}")
    # the over-long name has no pointer: its reads scan the log
    assert len(_pointers(path)) == len(names) - 1
    for i, name in enumerate(names):
        assert store.max_cursor(name) == TS(2020 + i, 1, 1)
        assert _scanned_max(spark, path, name) == TS(2020 + i, 1, 1)
    assert store.max_cursor("a") is None
    # the tags stay invisible to the parquet reader
    assert spark.read.parquet(path).count() == 2 * len(names)


def test_store_without_pointer_falls_back_to_scan(spark, tmp_path):
    """A store written before pointers existed: rows, no tag."""
    path = str(tmp_path / "c")
    _row_path_append(spark, path, "orders", TS(2024, 3, 1), EMITTED, "a")
    _row_path_append(spark, path, "orders", TS(2024, 2, 1), EMITTED, "b")
    store = CursorStore(spark, path)
    assert _pointers(path) == []
    assert store.max_cursor("orders") == TS(2024, 3, 1)
    # the first append seeds the pointer from the log, not from its own
    # (older) row
    store.append("orders", TS(2024, 1, 1), EMITTED, "c")
    assert len(_pointers(path)) == 1
    assert store.max_cursor("orders") == TS(2024, 3, 1)


def test_pointer_crash_leaves_max_behind_log_and_retry_converges(
    spark, tmp_path, monkeypatch
):
    path = str(tmp_path / "c")
    store = CursorStore(spark, path)
    store.append("orders", TS(2024, 1, 1), EMITTED, "a")

    def crash(*_a, **_k):
        raise OSError("crashed before the pointer advanced")

    monkeypatch.setattr(cursor_mod, "advance_tag", crash)
    with pytest.raises(OSError):
        store.append("orders", TS(2024, 2, 1), EMITTED, "b")
    # the row landed, the pointer did not: behind the log, never ahead
    log_max = _scanned_max(spark, path, "orders")
    assert log_max == TS(2024, 2, 1)
    assert store.max_cursor("orders") == TS(2024, 1, 1)
    assert store.max_cursor("orders") <= log_max

    monkeypatch.undo()
    store.append("orders", TS(2024, 2, 1), EMITTED, "b")
    assert store.max_cursor("orders") == _scanned_max(spark, path, "orders")
    assert store.max_cursor("orders") == TS(2024, 2, 1)


LOOKBACK = dt.timedelta(days=1)
SCHEMA = "k long, ts timestamp, v string"
BATCHES = [
    [(1, TS(2024, 1, 2), "a2"), (4, TS(2024, 1, 2), "d"), (4, TS(2024, 1, 3), "d2")],
    # re-delivery of batch 0 rows plus updates and a new key
    [(1, TS(2024, 1, 2), "a2"), (2, TS(2024, 1, 4), "b2"), (5, TS(2024, 1, 4), "e")],
    [(3, TS(2024, 1, 5), "c2"), (5, TS(2024, 1, 2, 12), "e-late"), (6, TS(2024, 1, 6), "f")],
]


def _sync(spark, root, crash_batch=None):
    """The cursor-driven sync loop: max cursor -> lookback filter and
    latest-wins dedup -> MERGE into the snapshot -> cursor append.
    ``crash_batch`` fails that batch between the MERGE commit and the
    cursor append once, then re-runs it."""
    from data_pipeline_bigquery_spark.plans import entity_sync_plan
    from data_pipeline_bigquery_spark.sources import snapshots

    store, cursors = str(root / "store"), CursorStore(spark, str(root / "cursor"))
    base = [(1, TS(2024, 1, 1), "a"), (2, TS(2024, 1, 1), "b"), (3, TS(2024, 1, 1), "c")]
    snapshots.write_snapshot(spark.createDataFrame(base, SCHEMA), store)
    cursors.append("orders", TS(2024, 1, 1), EMITTED, "seed")

    def run(b, crash):
        cursor = cursors.max_cursor("orders")
        source = entity_sync_plan(
            spark.createDataFrame(BATCHES[b], SCHEMA),
            pk="k",
            cursor_col="ts",
            cursor=cursor - LOOKBACK,
            emitted_at=EMITTED + dt.timedelta(seconds=b),
            emitted_id=f"batch-{b}",
        )
        snapshots.merge_into_snapshot(spark, store, source, pk="k", cursor_col="ts")
        if crash:
            raise RuntimeError("crashed between MERGE and cursor append")
        batch_max = max(r[1] for r in BATCHES[b])
        cursors.append("orders", batch_max, EMITTED + dt.timedelta(seconds=b), f"batch-{b}")

    for b in range(len(BATCHES)):
        if b == crash_batch:
            with pytest.raises(RuntimeError):
                run(b, crash=True)
        run(b, crash=False)
    final = snapshots.read_snapshot(spark, store)
    return sorted(tuple(r) for r in final.collect()), cursors.max_cursor("orders")


def test_sync_batch_crash_before_cursor_append_converges(spark, tmp_path):
    want, want_cursor = _sync(spark, tmp_path / "clean")
    got, got_cursor = _sync(spark, tmp_path / "crash", crash_batch=1)
    assert got == want
    assert got_cursor == want_cursor == TS(2024, 1, 6)
    assert {r[0]: r[2] for r in want} == {
        1: "a2", 2: "b2", 3: "c2", 4: "d2", 5: "e", 6: "f"
    }

