"""Change-log plan — the deal-stage history pipeline (SURVEY §3.2).

Reference: ``extract_deal_stage``
(``/root/reference/pipeline/hubspot_deal_logs/hubspot_deal_log_pipeline.py:44-136``):
explode property-version arrays, extract nested fields, number versions
per deal, convert epoch-ms, serialize a ``raw`` audit JSON column,
project/rename, and filter ``updated_at_date > cursor``.

Spark shape: narrow ops + ONE shuffle (the version window), with the
audit JSON built by ``to_json(struct(...))`` instead of a per-row
python dict.
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_pipeline_bigquery_spark.functions.sql import sql_str_lit
from data_pipeline_bigquery_spark.functions.timestamps import to_epoch_millis
from data_pipeline_bigquery_spark.operators.nested import serialize_row_json
from data_pipeline_bigquery_spark.operators.windows import version_row_number


def change_log_plan(
    events: DataFrame,
    cursor: _dt.datetime | str | None,
    emitted_at: _dt.datetime | str,
    emitted_id: str,
    object_type: str = "deal",
    tracked_types: tuple[str, ...] = ("purchase", "signup"),
) -> DataFrame:
    """``events`` plays the exploded version stream: each row is one
    property-version of entity ``user_id`` (≙ dealId), ordered by ``ts``.

    Output matches the reference's ``hubspot_change_log`` shape
    (``hubspot_deal_log_pipeline.py:192-204``): object_id, raw, field,
    version, updated_value, updated_at_timestamp (ms),
    updated_at_date, object_type, emitted_at, emitted_id.
    """
    # parsed SQL projections (r14, guide §1.2): per-Column builds cost
    # ~6 py4j round-trips each at plan-build time; these strings parse
    # to the identical expression trees (get_json_object, CASE-free
    # casts, string literals)
    in_list = ", ".join(sql_str_lit(t) for t in tracked_types)
    df = events.filter(f"event_type IN ({in_list})").selectExpr(
        "CAST(user_id AS STRING) AS object_id",
        "event_type AS field",
        "get_json_object(props, '$.k') AS updated_value",
        "ts",
    )
    # version numbering per entity, ordered by event time (W1)
    df = version_row_number(
        df, ["object_id"], ["ts", "updated_value"], out_col="version"
    )
    df = df.withColumns(
        {"updated_at_timestamp": to_epoch_millis("ts"), "updated_at_date": F.col("ts")}
    )
    df = serialize_row_json(
        df, ["object_id", "field", "updated_value", "version"], out_col="raw"
    )
    if cursor is not None and isinstance(cursor, str):
        df = df.filter(f"updated_at_date > CAST({sql_str_lit(cursor)} AS TIMESTAMP)")
    elif cursor is not None:
        df = df.filter(F.col("updated_at_date") > F.lit(cursor).cast("timestamp"))
    emit = (
        [
            f"CAST({sql_str_lit(emitted_at)} AS TIMESTAMP) AS emitted_at",
            f"{sql_str_lit(emitted_id)} AS emitted_id",
        ]
        if isinstance(emitted_at, str)
        else None
    )
    out = df.selectExpr(
        "object_id",
        "raw",
        "field",
        "CAST(version AS BIGINT) AS version",
        "updated_value",
        "updated_at_timestamp",
        "updated_at_date",
        f"{sql_str_lit(object_type)} AS object_type",
        *(emit or []),
    )
    if emit is None:
        out = out.withColumns(
            {
                "emitted_at": F.lit(emitted_at).cast("timestamp"),
                "emitted_id": F.lit(emitted_id),
            }
        )
    return out
