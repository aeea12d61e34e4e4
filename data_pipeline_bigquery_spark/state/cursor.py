"""Incremental cursor state (SURVEY §2.11 ST1/ST2).

Reference: a ``hubspot_object_cursor`` BigQuery table
(``/root/reference/constants.py:19-25``) read through a delegated Redash
query ``select max(cursor_date) ... where object = X``
(``pipeline/functions/functions.py:58-67``) and appended to after each
run (``pipeline/hubspot_2_bigquery_migration/companies_pipeline.py:129-132``).

Here the store is an append-only parquet directory: one row per run per
object, the audit log.  Neither state step of the sync loop pays for
Spark machinery it does not need:

* **append** starts no Spark job.  Its one row is a ``pyarrow.Table``
  encoded to parquet bytes on the driver, written through the Hadoop
  FileSystem to a hidden ``.tmp-<uuid>`` in the log dir and renamed to
  ``part-<uuid>-c000.snappy.parquet``.  Timestamps go through
  ``TimestampType().toInternal``, the conversion ``createDataFrame``
  applies to Python rows, so the stored microseconds are the ones a
  ``Row`` would store, in any process ``TZ``.  The file must read back
  as a Spark-written one, so the encoding follows Spark's writer: the
  physical timestamp type is the session's
  ``spark.sql.parquet.outputTimestampType`` (INT96 by default; a plain
  Arrow write stores INT64 adjusted-to-UTC, which DuckDB returns
  tz-aware), and the footer carries Spark's ``org.apache.spark.version``
  key (without it a reader takes the file as foreign and rebases its
  timestamps by the session's INT96/datetime rebase read mode) and its
  ``org.apache.spark.sql.parquet.row.metadata`` schema (which restores
  Spark's own types on read).
* **max_cursor** reads a filename-tagged pointer per object,
  ``_CURSOR_<hex(object)>_<micros + 2**63>`` (the ``sources.lake`` tag
  helpers the snapshot store uses for ``_LATEST_``): one name-filtered
  listing, no Spark job.  The ``_`` prefix and the missing ``.parquet``
  suffix keep the tag out of every parquet reader; the object name is
  hex-encoded because callers supply it; the shift makes pre-1970
  cursors digits.

Crash ordering: hidden write -> rename -> pointer.  The row is written
under a hidden name and published by one rename, so a reader sees all
of it or none of it; a crash before the rename leaves a ``.tmp-`` file
that no parquet reader lists (``.``-prefixed, no ``.parquet`` suffix)
and leaves the log and the pointer as a crash before the append would.
The pointer ratchets up only AFTER the rename, so it can lag the log
but never lead it.  A crash in between leaves the pointer one run
behind: the next run re-reads under its lookback and the idempotent
MERGE absorbs the replay.  When an object has no pointer (a store
written before pointers existed, a crash before the first one, or a
name too long for a file name) ``max_cursor`` falls back to scanning
the log, and the next ``append`` seeds the pointer from that scan so it
never starts below the log.
"""

from __future__ import annotations

import datetime as _dt
import json
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import TimestampType

from data_pipeline_bigquery_spark.catalog import CURSOR_SCHEMA
from data_pipeline_bigquery_spark.sources.lake import (
    advance_tag,
    fs_and_path,
    hadoop_path,
    tagged_values,
)

_TS = TimestampType()
# signed int64 microseconds -> non-negative, so the tag value is digits
_SHIFT = 1 << 63
# keeps ``._CURSOR_<hex>_<20 digits>.crc`` (the local checksum file)
# under the 255-byte file-name limit; longer names use the scan
_MAX_HEX = 200
# TIMESTAMP columns map to timestamp[us, tz=UTC]: the stored instants
# are the microseconds as given, with no session-TZ localization
_ARROW_SCHEMA = to_arrow_schema(CURSOR_SCHEMA)
# the schema footer key Spark's parquet writer sets, byte for byte
_ROW_METADATA = json.dumps(CURSOR_SCHEMA.jsonValue(), separators=(",", ":"))
# spark.sql.parquet.outputTimestampType -> (microseconds per stored
# unit, write options); Spark floors to the stored unit, and so does
# the pointer, which must not lead the log
_TS_OUTPUT = {
    "INT96": (1, {"use_deprecated_int96_timestamps": True}),
    "TIMESTAMP_MICROS": (1, {}),
    "TIMESTAMP_MILLIS": (1000, {"coerce_timestamps": "ms"}),
}


def _pointer_prefix(object_name: str) -> str | None:
    hexname = object_name.encode("utf-8").hex()
    return f"_CURSOR_{hexname}_" if len(hexname) <= _MAX_HEX else None


class CursorStore:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def _scan_micros(self, object_name: str) -> int | None:
        """Max cursor of ``object_name`` in the parquet log, as
        microseconds (one Spark job)."""
        fs, jpath = fs_and_path(self.spark, self.path)
        if not fs.exists(jpath):
            return None
        return (
            self.spark.read.schema(CURSOR_SCHEMA)
            .parquet(self.path)
            .filter(F.col("object") == object_name)
            .agg(F.unix_micros(F.max("cursor_date")))
            .first()[0]
        )

    def max_cursor(self, object_name: str) -> _dt.datetime | None:
        """``get_object_cursor_date`` analog: scalar max cursor for one
        object type (None on first run)."""
        prefix = _pointer_prefix(object_name)
        held = tagged_values(self.spark, self.path, prefix) if prefix else []
        micros = held[-1] - _SHIFT if held else self._scan_micros(object_name)
        return _TS.fromInternal(micros)

    def _publish_row(
        self, object_name: str, cursor: int | None, emitted_at: int | None, emitted_id: str
    ) -> int | None:
        """Add the one cursor row, timestamps given as microseconds, to
        the log as a file Spark reads like its own: encoded here, written
        hidden, published by rename.  Returns the cursor as stored."""
        step, options = _TS_OUTPUT[
            self.spark.conf.get("spark.sql.parquet.outputTimestampType")
        ]

        def stored(micros):
            return None if micros is None else micros // step * step

        table = pa.Table.from_pydict(
            {
                "emitted_id": [emitted_id],
                "emitted_at": [stored(emitted_at)],
                "cursor_date": [stored(cursor)],
                "object": [object_name],
            },
            schema=_ARROW_SCHEMA.with_metadata(
                {
                    "org.apache.spark.version": self.spark.version,
                    "org.apache.spark.sql.parquet.row.metadata": _ROW_METADATA,
                }
            ),
        )
        buf = pa.BufferOutputStream()
        pq.write_table(table, buf, compression="snappy", **options)
        fs, jdir = fs_and_path(self.spark, self.path)
        name = uuid.uuid4()
        hidden = hadoop_path(self.spark, jdir, f".tmp-{name}")
        out = fs.create(hidden, False)
        try:
            out.write(buf.getvalue().to_pybytes())
        finally:
            out.close()
        part = hadoop_path(self.spark, jdir, f"part-{name}-c000.snappy.parquet")
        if not fs.rename(hidden, part):
            raise RuntimeError(f"could not publish cursor row {hidden} as {part}")
        return stored(cursor)

    def append(
        self,
        object_name: str,
        cursor_date: _dt.datetime,
        emitted_at: _dt.datetime,
        emitted_id: str,
    ) -> None:
        """Append one cursor row (``create_cursor`` analog), then ratchet
        the object's pointer up to it."""
        # each datetime is converted once, in the Row path's field order:
        # mktime resolves a wall time inside a DST switch from its
        # previous call, and the row and the pointer must agree
        at = _TS.toInternal(emitted_at)
        value = _TS.toInternal(cursor_date)
        value = self._publish_row(object_name, value, at, emitted_id)
        prefix = _pointer_prefix(object_name)
        if value is None or prefix is None:
            return
        if not tagged_values(self.spark, self.path, prefix):
            # first pointer: older rows may already be in the log
            scanned = self._scan_micros(object_name)
            if scanned is not None:
                value = max(value, scanned)
        advance_tag(self.spark, self.path, prefix, value + _SHIFT)
