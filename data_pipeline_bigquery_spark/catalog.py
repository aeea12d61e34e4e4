"""Schema registry + table loaders.

The reference declares schemas three ways (SURVEY §1.3): hard-coded
``{column: bigquery_type}`` dicts (``/root/reference/constants.py:19-59``),
a YAML catalog (``config/bigquery/bigquery.py:41-90``), and runtime
property discovery.  Here a single registry maps logical table names to
Spark ``StructType``; the Spark session catalog (temp views) plays the
role of the YAML metastore.

Loaders read the driver's parquet fixtures with no registry schema
imposed: parquet is self-describing, so each table's schema comes from
its own footer, and Catalyst prunes columns and pushes filters into the
scan — the same code path works against a 100 TB partitioned lake
directory.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from data_pipeline_bigquery_spark.sources.lake import parquet_schema

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

FIXTURE_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# BigQuery-type dicts from the reference, mapped to Spark types
# (reference: constants.py:19-25 cursor, constants.py:27-38 companies,
#  constants.py:40-59 email_read_log).
_BQ_TO_SPARK: dict[str, T.DataType] = {
    "STRING": T.StringType(),
    "TIMESTAMP": T.TimestampType(),
    "BOOLEAN": T.BooleanType(),
    "BOOL": T.BooleanType(),
    "INT64": T.LongType(),
    "FLOAT64": T.DoubleType(),
    "JSON": T.StringType(),  # JSON kept as string at the edge; structs internally
}


def schema_from_bq_dict(columns: dict[str, str]) -> T.StructType:
    """Translate a reference-style ``{name: BQ type}`` dict to StructType."""
    return T.StructType(
        [T.StructField(name, _BQ_TO_SPARK[bq.upper()], True) for name, bq in columns.items()]
    )


# The reference's cursor table (constants.py:19-25).
CURSOR_SCHEMA = schema_from_bq_dict(
    {
        "emitted_id": "STRING",
        "emitted_at": "TIMESTAMP",
        "cursor_date": "TIMESTAMP",
        "object": "STRING",
    }
)

# Entity tables like hubspot_companies (constants.py:27-38).
ENTITY_SCHEMA = schema_from_bq_dict(
    {
        "emitted_id": "STRING",
        "emitted_at": "TIMESTAMP",
        "createdAt": "TIMESTAMP",
        "id": "STRING",
        "updatedAt": "TIMESTAMP",
        "associations": "JSON",
        "properties": "JSON",
        "archived": "BOOLEAN",
        "archivedAt": "TIMESTAMP",
    }
)


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


# tables whose parquet files have historically carried TIMESTAMP(NANOS) —
# Spark has no nanos type, so when the session-level legacy conf
# (session.get_spark) makes them arrive as bigint they are converted
# losslessly (fixture data is µs-aligned; TESTDATA.md).
_NANOS_TS_COLUMNS: dict[str, tuple[str, ...]] = {"events": ("ts",)}

# The NTZ→TIMESTAMP normalization below is value-preserving ONLY under a
# UTC session zone; any other zone would silently shift instants.
_UTC_ZONES = frozenset({"UTC", "Etc/UTC", "GMT", "Etc/GMT", "Z", "+00:00"})


def _require_utc_session(spark: SparkSession, table: str, col: str) -> None:
    tz = spark.conf.get("spark.sql.session.timeZone")
    if tz not in _UTC_ZONES:
        raise ValueError(
            f"refusing to cast TIMESTAMP_NTZ column {table}.{col} under "
            f"session timezone {tz!r}: the cast is value-preserving only "
            "under UTC. Use session.get_spark() or set "
            "spark.sql.session.timeZone=UTC on your session."
        )


# Per-session plan/metadata cache for fixture reads (r13 optimization,
# key hardened r14).
#
# Building the frame costs a driver-side footer read
# (``sources.lake.parquet_schema``) plus DataFrameReader py4j chatter on
# EVERY call, and the bench headliners call ``load`` 1-5 times inside
# each timed run (OPTIMIZATION_r13.md "measure first" table).
# A catalog is exactly the component whose job is to remember table
# metadata, so ``load`` memoizes the normalized LAZY DataFrame per
# (session, path, listing-fingerprint).  Nothing materialized is cached
# — a DataFrame is a logical plan; every action still recomputes from
# the parquet input (the partition-invariance and oracle-parity sweeps
# run unchanged on this path).
#
# The fingerprint covers every file under the path (relative name, size,
# mtime_ns), not just the top-level mtime: a part file rewritten IN
# PLACE inside a directory table doesn't bump the directory mtime, and
# the cached frame's InMemoryFileIndex would otherwise serve stale
# FileStatus sizes (r13 VERDICT "what's wrong" #2).  At lake scale this
# walk is the metastore's job — a table format (Iceberg/Delta) or schema
# registry owns invalidation there; the walk only runs against the
# driver-local fixture layout.
#
# Lifetime: the WeakKeyDictionary scopes entries per session but cannot
# collect them while a cached DataFrame strongly references its session,
# so ``load`` additionally purges entries of STOPPED sessions on each
# call, and ``invalidate_plan_cache`` drops everything explicitly.
from weakref import WeakKeyDictionary

_PLAN_CACHE: "WeakKeyDictionary[SparkSession, dict]" = WeakKeyDictionary()


def _listing_fingerprint(path: str) -> tuple:
    """(relpath, size, mtime_ns) for every regular file under ``path``
    (or the file itself), sorted — the cache key component that changes
    whenever any byte source the scan could read changes."""
    try:
        st = os.stat(path)
    except OSError:
        return ("<missing>",)
    if not os.path.isdir(path):
        return ((os.path.basename(path), st.st_size, st.st_mtime_ns),)
    out = []
    for root, _dirs, files in os.walk(path):
        for f in files:
            fp = os.path.join(root, f)
            try:
                fst = os.stat(fp)
            except OSError:
                out.append((os.path.relpath(fp, path), -1, -1))
                continue
            out.append((os.path.relpath(fp, path), fst.st_size, fst.st_mtime_ns))
    return tuple(sorted(out))


def _session_stopped(spark: SparkSession) -> bool:
    try:
        return spark.sparkContext._jsc is None
    except Exception:
        return True


def invalidate_plan_cache(spark: SparkSession | None = None) -> None:
    """Drop cached plans — for ``spark`` only, or everything."""
    if spark is None:
        _PLAN_CACHE.clear()
    else:
        _PLAN_CACHE.pop(spark, None)


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table. Plain ``spark.read.parquet`` so pushdown,
    pruning, and partition discovery all apply; the schema comes from
    one footer read on the driver, so a cache miss starts no Spark job.

    Timestamp columns are normalized to ``TIMESTAMP`` instants at this
    boundary, whatever the file encoding — nanos-as-bigint (driver rounds
    1-2), or ``timestamp[us]`` with no zone ⇒ ``TIMESTAMP_NTZ`` (round 3+;
    the NTZ→TIMESTAMP cast is value-preserving under the UTC session TZ).
    Downstream operators therefore always see one timestamp type; epoch
    math (``unix_millis`` etc.) is additionally routed through
    :func:`..functions.timestamps.as_instant` as belt-and-suspenders.
    No session conf is mutated here (conf-at-read is global; the legacy
    nanos switch lives in ``session.get_spark`` only).
    """
    path = table_path(sf_dir, name)
    fprint = _listing_fingerprint(path)
    for s in [s for s in _PLAN_CACHE if _session_stopped(s)]:
        _PLAN_CACHE.pop(s, None)
    per_session = _PLAN_CACHE.setdefault(spark, {})
    cached = per_session.get((path, fprint))
    if cached is not None:
        df, guard_tz = cached
        # a frame whose build performed the NTZ→TIMESTAMP cast is only
        # valid while the session TZ it was guarded under still holds:
        # a mid-session TZ flip must re-run the loud UTC guard, never
        # silently serve a cast that now shifts instants
        if guard_tz is None or guard_tz == spark.conf.get(
            "spark.sql.session.timeZone"
        ):
            return df
    from pyspark.sql import functions as F

    schema = parquet_schema(spark, path)
    df = (spark.read if schema is None else spark.read.schema(schema)).parquet(path)

    nanos_cols = _NANOS_TS_COLUMNS.get(name, ())
    projected, changed, ntz_cast = [], False, False
    for c, dt in df.dtypes:
        if c in nanos_cols and dt == "bigint":
            projected.append(F.timestamp_micros(F.expr(f"`{c}` div 1000")).alias(c))
            changed = True
        elif dt == "timestamp_ntz":
            _require_utc_session(spark, name, c)
            projected.append(F.col(c).cast("timestamp").alias(c))
            changed = True
            ntz_cast = True
        else:
            projected.append(F.col(c))
    out = df.select(*projected) if changed else df
    # one live entry per path: a rewritten fixture's old-fingerprint
    # entry would never be hit again, so drop it rather than accrete
    for stale in [k for k in per_session if k[0] == path and k[1] != fprint]:
        del per_session[stale]
    per_session[(path, fprint)] = (
        out,
        spark.conf.get("spark.sql.session.timeZone") if ntz_cast else None,
    )
    return out


def register_views(spark: SparkSession, sf_dir: str, tables=FIXTURE_TABLES) -> None:
    """Register every fixture table as a temp view for the SQL API."""
    for name in tables:
        load(spark, sf_dir, name).createOrReplaceTempView(name)
