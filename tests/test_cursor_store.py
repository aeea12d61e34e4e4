"""state/cursor.py: the job-free cursor append and the files it
publishes, the filename-tagged max-cursor pointer, its scan fallback,
and crash convergence of the sync loop when a batch fails at a step
boundary and is re-run."""

from __future__ import annotations

import datetime as dt
import os
import time
from pathlib import Path

import duckdb
import pyarrow.parquet as pq
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from data_pipeline_bigquery_spark.catalog import CURSOR_SCHEMA
from data_pipeline_bigquery_spark.sources.lake import parquet_schema
from data_pipeline_bigquery_spark.state import cursor as cursor_mod
from data_pipeline_bigquery_spark.state.cursor import CursorStore
from tests.conftest import jobs_started

TS = dt.datetime
EMITTED = TS(2026, 1, 1)


def _row_path_append(spark, path, object_name, cursor_date, emitted_at, emitted_id):
    """The pickled-``Row`` append through a Spark write job: the
    reference file the store's files must match."""
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


def _duckdb_max(path):
    return duckdb.sql(
        f"SELECT max(cursor_date) FROM read_parquet('{path}/*.parquet')"
    ).fetchone()[0]


def _timestamp_columns(path):
    """(name, physical type, logical type) of every timestamp column in
    every parquet file of the log."""
    out = set()
    for f in Path(path).glob("*.parquet"):
        schema = pq.ParquetFile(f).schema
        for i in range(len(schema)):
            col = schema.column(i)
            if col.name in ("emitted_at", "cursor_date"):
                out.add((col.name, col.physical_type, str(col.logical_type)))
    return out


def _spark_footer_keys(path):
    """The ``org.apache.spark.*`` footer entries of the log's files."""
    return {
        (k, v)
        for f in Path(path).glob("*.parquet")
        for k, v in pq.ParquetFile(f).metadata.metadata.items()
        if k.startswith(b"org.apache.spark.")
    }


OUTPUT_TS_TYPE = "spark.sql.parquet.outputTimestampType"
# read modes that rebase files a reader takes as not written by Spark 3+
LEGACY_READ = (
    "spark.sql.parquet.int96RebaseModeInRead",
    "spark.sql.parquet.datetimeRebaseModeInRead",
)


def test_arrow_append_matches_row_path_non_utc_pre_epoch(spark, tmp_path, pacific_tz):
    rows = [
        ("orders", TS(1969, 7, 20, 20, 17, 40, 123456), TS(1955, 11, 5, 6, 0, 0, 1), "moon"),
        # daylight and standard time; wall times inside a DST switch
        # are left out: mktime resolves those from its previous call,
        # so even the Row path does not store them deterministically
        ("orders", TS(2024, 7, 4, 23, 59, 59, 999999), TS(2024, 12, 31, 1, 30), "dst"),
        ("deals", TS(1901, 1, 1), EMITTED, "old"),
        # pre-1900 (local mean time in TZ) and pre-Gregorian: where a
        # reader's calendar rebase applies unless the footer says Spark
        # wrote the file in the proleptic calendar
        ("ancient", TS(1850, 3, 1, 12, 0, 0, 5), TS(1500, 1, 1, 0, 0, 7), "pre1900"),
    ]
    held = {k: spark.conf.get(k) for k in (OUTPUT_TS_TYPE, *LEGACY_READ)}
    try:
        for ts_type, physical in (
            ("INT96", "INT96"),
            ("TIMESTAMP_MICROS", "INT64"),
            ("TIMESTAMP_MILLIS", "INT64"),
        ):
            spark.conf.set(OUTPUT_TS_TYPE, ts_type)
            new, old = str(tmp_path / ts_type / "arrow"), str(tmp_path / ts_type / "row")
            store = CursorStore(spark, new)
            for obj, cur, at, eid in rows:
                store.append(obj, cur, at, eid)
                _row_path_append(spark, old, obj, cur, at, eid)
            assert _stored(spark, new) == _stored(spark, old)
            for obj in ("orders", "deals", "ancient"):
                assert store.max_cursor(obj) == _scanned_max(spark, old, obj)
            assert store.max_cursor("deals") == TS(1901, 1, 1)
            # file level: what readers other than this store see
            assert parquet_schema(spark, new) == parquet_schema(spark, old)
            assert parquet_schema(spark, new) == spark.read.parquet(old).schema
            columns = _timestamp_columns(new)
            assert columns == _timestamp_columns(old)
            assert {c[1] for c in columns} == {physical}, ts_type
            assert _spark_footer_keys(new) == _spark_footer_keys(old)
            for k in LEGACY_READ:
                spark.conf.set(k, "LEGACY")
            assert _stored(spark, new) == _stored(spark, old)
            for k in LEGACY_READ:
                spark.conf.set(k, held[k])
            got, want = _duckdb_max(new), _duckdb_max(old)
            assert (got, got.tzinfo) == (want, want.tzinfo)
            if ts_type == "INT96":
                assert got.tzinfo is None
    finally:
        for k, v in held.items():
            spark.conf.set(k, v)


def test_append_starts_no_spark_job(spark, tmp_path):
    """The row is encoded on the driver and published by a rename: a
    cursor commit runs no Spark job."""
    path = str(tmp_path / "c")
    # the counter sees the job a Spark write starts
    assert (
        jobs_started(
            spark,
            lambda: _row_path_append(spark, str(tmp_path / "row"), "o", TS(2024, 1, 1), EMITTED, "r"),
        )
        >= 1
    )
    store = CursorStore(spark, path)
    # an object's first append seeds its pointer from a scan of the log
    store.append("o", TS(2024, 1, 1), EMITTED, "seed")
    assert jobs_started(spark, lambda: store.append("o", TS(2024, 2, 1), EMITTED, "a")) == 0
    assert jobs_started(spark, lambda: store.append("o", TS(2024, 1, 5), EMITTED, "b")) == 0
    assert store.max_cursor("o") == TS(2024, 2, 1)
    assert len(_stored(spark, path)) == 3


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
KEEP_LAST = 2
SCHEMA = "k long, ts timestamp, v string"
BATCHES = [
    [(1, TS(2024, 1, 2), "a2"), (4, TS(2024, 1, 2), "d"), (4, TS(2024, 1, 3), "d2")],
    # re-delivery of batch 0 rows plus updates and a new key
    [(1, TS(2024, 1, 2), "a2"), (2, TS(2024, 1, 4), "b2"), (5, TS(2024, 1, 4), "e")],
    [(3, TS(2024, 1, 5), "c2"), (5, TS(2024, 1, 2, 12), "e-late"), (6, TS(2024, 1, 6), "f")],
]


class InjectedCrash(RuntimeError):
    """The one-shot failure a test injects into one sync batch."""


def _raise_once(fn):
    """``fn``, except that its first call raises :class:`InjectedCrash`
    instead of running."""
    fired = []

    def once(*args, **kwargs):
        if not fired:
            fired.append(True)
            raise InjectedCrash(fn.__name__)
        return fn(*args, **kwargs)

    return once


def _sync(spark, root, arm=None):
    """The cursor-driven sync loop: max cursor -> lookback filter and
    latest-wins dedup -> MERGE into the snapshot -> cursor append ->
    retention.  ``arm`` installs a one-shot fault just before batch 1,
    which must then fail; the batch is re-run.

    Returns the final rows, the max cursor and the number of staging
    dirs ``vacuum_snapshots`` swept at the end."""
    from data_pipeline_bigquery_spark.plans import entity_sync_plan
    from data_pipeline_bigquery_spark.sources import snapshots

    store, cursors = str(root / "store"), CursorStore(spark, str(root / "cursor"))
    base = [(1, TS(2024, 1, 1), "a"), (2, TS(2024, 1, 1), "b"), (3, TS(2024, 1, 1), "c")]
    snapshots.write_snapshot(spark.createDataFrame(base, SCHEMA), store)
    cursors.append("orders", TS(2024, 1, 1), EMITTED, "seed")

    def run(b):
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
        batch_max = max(r[1] for r in BATCHES[b])
        cursors.append("orders", batch_max, EMITTED + dt.timedelta(seconds=b), f"batch-{b}")
        snapshots.expire_snapshots(spark, store, KEEP_LAST)

    for b in range(len(BATCHES)):
        if arm is not None and b == 1:
            arm()
            with pytest.raises(InjectedCrash):
                run(b)
        run(b)
    swept = snapshots.vacuum_snapshots(spark, store)
    left = os.listdir(store)
    assert not [n for n in left if n.startswith(".tmp-")]
    # no marker-less version dir survives retention
    on_disk = sorted(int(n[2:]) for n in left if n.startswith("v="))
    assert on_disk == snapshots.list_versions(spark, store)
    final = snapshots.read_snapshot(spark, store)
    return sorted(tuple(r) for r in final.collect()), cursors.max_cursor("orders"), swept


@pytest.fixture(scope="module")
def clean_sync(spark, tmp_path_factory):
    rows, cursor, swept = _sync(spark, tmp_path_factory.mktemp("clean"))
    assert swept == 0
    assert cursor == TS(2024, 1, 6)
    assert {r[0]: r[2] for r in rows} == {
        1: "a2", 2: "b2", 3: "c2", 4: "d2", 5: "e", 6: "f"
    }
    return rows, cursor


def test_sync_batch_crash_before_cursor_append_converges(
    spark, tmp_path, monkeypatch, clean_sync
):
    def arm():
        monkeypatch.setattr(CursorStore, "append", _raise_once(CursorStore.append))

    rows, cursor, swept = _sync(spark, tmp_path, arm)
    assert (rows, cursor) == clean_sync
    assert swept == 0


def test_sync_batch_crash_before_commit_rename_converges(
    spark, tmp_path, monkeypatch, clean_sync
):
    """The data is staged and the ``_LATEST_`` pointer is about to move:
    no version is committed, and the staging dir is left for vacuum."""
    from data_pipeline_bigquery_spark.sources import snapshots

    def arm():
        monkeypatch.setattr(
            snapshots, "_advance_tag", _raise_once(snapshots._advance_tag)
        )

    rows, cursor, swept = _sync(spark, tmp_path, arm)
    assert (rows, cursor) == clean_sync
    assert swept == 1


def test_sync_batch_crash_mid_expire_converges(
    spark, tmp_path, monkeypatch, clean_sync
):
    """Retention fails after it deleted the oldest version's marker and
    before its data dir; the re-run's retention reclaims the orphan."""
    from data_pipeline_bigquery_spark.sources import snapshots

    fs_and_path, crashed = snapshots._fs_and_path, []

    class CrashAfterMarkerDelete:
        def __init__(self, fs):
            self.fs = fs

        def __getattr__(self, name):
            return getattr(self.fs, name)

        def delete(self, path, recursive):
            out = self.fs.delete(path, recursive)
            if not crashed and path.getName() == snapshots._MARKER:
                crashed.append(path.getParent().getName())
                raise InjectedCrash("expire_snapshots")
            return out

    def crashing_fs_and_path(spark, p):
        fs, jpath = fs_and_path(spark, p)
        return CrashAfterMarkerDelete(fs), jpath

    def arm():
        monkeypatch.setattr(snapshots, "_fs_and_path", crashing_fs_and_path)

    rows, cursor, swept = _sync(spark, tmp_path, arm)
    assert crashed == ["v=1"]
    assert (rows, cursor) == clean_sync
    assert swept == 0


def test_sync_batch_crash_before_cursor_rename_converges(
    spark, tmp_path, monkeypatch, clean_sync
):
    """The cursor row is written under its hidden name and not yet
    renamed into the log: the run's row is missing, the re-run adds it,
    and the leftover hidden file stays out of every reader."""
    from data_pipeline_bigquery_spark.sources import lake

    fs_and_path, crashed = cursor_mod.fs_and_path, []

    class CrashBeforeRename:
        def __init__(self, fs):
            self.fs = fs

        def __getattr__(self, name):
            return getattr(self.fs, name)

        def rename(self, src, dst):
            if not crashed:
                crashed.append(src.getName())
                raise InjectedCrash("cursor rename")
            return self.fs.rename(src, dst)

    def crashing_fs_and_path(spark, p):
        fs, jpath = fs_and_path(spark, p)
        return CrashBeforeRename(fs), jpath

    def arm():
        monkeypatch.setattr(cursor_mod, "fs_and_path", crashing_fs_and_path)

    rows, cursor, swept = _sync(spark, tmp_path, arm)
    assert (rows, cursor) == clean_sync
    assert swept == 0

    log = str(tmp_path / "cursor")
    assert [n for n in os.listdir(log) if n.startswith(".tmp-")] == crashed
    runs = ["batch-0", "batch-1", "batch-2", "seed"]
    assert sorted(r[1] for r in _stored(spark, log)) == runs
    assert parquet_schema(spark, log) == spark.read.parquet(log).schema
    fs, root = fs_and_path(spark, log)
    assert lake._first_data_file(fs, root)[1].getName().startswith("part-")
    assert duckdb.sql(
        f"SELECT count(*), max(cursor_date) FROM read_parquet('{log}/*.parquet')"
    ).fetchone() == (len(runs), clean_sync[1])
    for name in os.listdir(log):
        if name.startswith("_CURSOR_"):
            os.remove(os.path.join(log, name))
    assert CursorStore(spark, log).max_cursor("orders") == clean_sync[1]
