"""Run-metadata stamping (SURVEY §2.3 P4, §2.11 ST4).

Reference: ``zip_emitted_info`` appends ``(emitted_at, emitted_id)`` to
every row via a python list-zip
(``/root/reference/pipeline/functions/functions.py:123-134``), with the
run id a ``uuid4``/md5 generated per run
(``pipeline/functions/functions.py:80-88``,
``pipeline/email_read_log/email_read_log.py:20-28``).

The engine takes both values as *parameters* (generated once,
driver-side) so runs are reproducible and the oracle hash is stable —
per-row ``uuid()`` would be non-deterministic across retries, which
breaks Spark task re-execution semantics too.
"""

from __future__ import annotations

import datetime as _dt
import uuid as _uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_pipeline_bigquery_spark.functions.sql import sql_str_lit


def generate_emitted_info(now: _dt.datetime | None = None) -> tuple[_dt.datetime, str]:
    """Driver-side analog of ``genegrate_emitted_info`` (sic) — one
    timestamp + run-uuid pair per pipeline run."""
    at = now or _dt.datetime.now(_dt.timezone.utc)
    return at, str(_uuid.uuid4())


def zip_emitted_info(
    df: DataFrame,
    emitted_at: _dt.datetime | str,
    emitted_id: str,
    archived_defaults: bool = False,
) -> DataFrame:
    """P4 add_literal_columns: stamp run metadata onto every row.

    ``archived_defaults`` adds the reference's companion defaults
    (``archivedAt=None``, ``associations='{}'`` — transformation.py:18-29).
    """
    if isinstance(emitted_at, str):
        # one parsed selectExpr instead of 2-4 withColumn round-trip
        # chains (r14, guide §1.2); CAST('<s>' AS TIMESTAMP) is the
        # same tree F.lit(<s>).cast("timestamp") builds
        exprs = [
            "*",
            f"CAST({sql_str_lit(emitted_at)} AS TIMESTAMP) AS emitted_at",
            f"{sql_str_lit(emitted_id)} AS emitted_id",
        ]
        if archived_defaults:
            exprs += [
                "CAST(NULL AS TIMESTAMP) AS archivedAt",
                "'{}' AS associations",
            ]
        return df.selectExpr(*exprs)
    out = df.withColumn("emitted_at", F.lit(emitted_at).cast("timestamp")).withColumn(
        "emitted_id", F.lit(emitted_id)
    )
    if archived_defaults:
        out = out.withColumn("archivedAt", F.lit(None).cast("timestamp")).withColumn(
            "associations", F.lit("{}")
        )
    return out
