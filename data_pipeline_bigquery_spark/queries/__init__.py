"""Query registry — the driver-facing catalog.

Every implemented operator from SURVEY §2 (plus the scale-out
extensions) registers a :class:`QuerySpec` here: a Spark callable
``(spark, sf_dir) -> DataFrame`` and, where SQL-expressible, the
equivalent ANSI SQL the DuckDB oracle runs on the same parquet tables.

Column names are aliased identically on both sides — the driver's
compare sorts columns by name before hashing values.

Output-boundary TIMESTAMP → TIMESTAMP_NTZ (round 11): PySpark's
``collect()`` renders instant-semantics TIMESTAMP columns as naive
datetimes in the PYTHON PROCESS's local timezone — not the pinned UTC
session TZ — so a driver running under a non-UTC TZ reads shifted
values while the DuckDB oracle's tz-naive timestamps never move
(45 of 351 keys diverged under TZ=Pacific/Chatham; probe: a UTC-noon
instant collected as 00:45 next day).  :func:`registry` therefore
casts every top-level TimestampType output column to TIMESTAMP_NTZ —
under the pinned UTC session the cast extracts the UTC wall clock, so
values are bit-identical for a UTC driver and now PROVEN identical
under a hostile one (re-swept 0 divergent).  Engine-INTERNAL
timestamps stay instant-semantics TIMESTAMP; only the driver-facing
boundary is wall-clock.
"""

from __future__ import annotations

import functools
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from data_pipeline_bigquery_spark.functions.sql import sql_ident


def _ntz_output_boundary(
    fn: Callable[[SparkSession, str], DataFrame],
) -> Callable[[SparkSession, str], DataFrame]:
    """Cast top-level TIMESTAMP output columns to TIMESTAMP_NTZ (see
    module docstring) — a no-op select when no timestamp is emitted."""

    @functools.wraps(fn)
    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pyspark.sql import types as T

        df = fn(spark, sf_dir)
        if not any(
            isinstance(f.dataType, T.TimestampType) for f in df.schema.fields
        ):
            return df
        # ONE parsed selectExpr, not a Column build per output column:
        # each F.col/cast/alias is its own py4j round-trip (~0.25-0.9 ms)
        # and this wrapper runs inside the bench's timed region on every
        # timestamp-emitting key (r14 session 2, guide §1.2) — the
        # parsed expression tree is identical to the Column form
        return df.selectExpr(
            *[
                f"CAST({sql_ident(f.name)} AS TIMESTAMP_NTZ) AS {sql_ident(f.name)}"
                if isinstance(f.dataType, T.TimestampType)
                else sql_ident(f.name)
                for f in df.schema.fields
            ]
        )

    return wrapped


@dataclass(frozen=True)
class QuerySpec:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL, or None → driver runs rows-only check


# the ONE list of registry modules — registry() and the collision
# guard in tests/test_oracle_parity.py both iterate this, so adding a
# module here automatically puts it under the shadowing check
MODULE_NAMES = (
    "core", "pipelines", "coverage", "coverage2", "coverage3",
    "coverage4", "corpus_ops", "formats", "extensions", "training",
    "curation", "curation2", "sketches", "analytics5", "analytics6",
    "analytics7", "training3", "analytics8", "analytics9", "evalops",
    "analytics10", "analytics11", "analytics12", "analytics13",
    "analytics14", "analytics15", "analytics16", "analytics17",
    "analytics18", "analytics19", "analytics20", "analytics21", "analytics22",
    "analytics23", "analytics24", "analytics25", "analytics26",
)


def registry_modules():
    import importlib

    return [
        importlib.import_module(f"data_pipeline_bigquery_spark.queries.{n}")
        for n in MODULE_NAMES
    ]


def registry() -> dict[str, QuerySpec]:
    merged: dict[str, QuerySpec] = {}
    for mod in registry_modules():
        merged.update(mod.QUERIES)
    return {
        name: QuerySpec(_ntz_output_boundary(spec.fn), spec.oracle)
        for name, spec in merged.items()
    }
