"""Association edge-table plan (SURVEY §3, J3/U3/C5).

Reference: ``hubspot_association_bigquery.py``
(``/root/reference/pipeline/hubspot_association_bigquery/hubspot_association_bigquery.py:60-89``):
explode per-object ``to`` adjacency lists into edge rows, mint an md5
surrogate ``association_id = md5(from + type + to)``, then insert only
edges that don't already exist — the reference ships the id list to a
Redash NOT-EXISTS query (``:53-58``); here it is one ``left_anti`` join.
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_pipeline_bigquery_spark.functions.sql import sql_str_lit
from data_pipeline_bigquery_spark.operators.joins import anti_join
from data_pipeline_bigquery_spark.operators.metadata import zip_emitted_info


def association_edges_plan(
    edges: DataFrame,
    existing: DataFrame | None,
    from_col: str,
    to_col: str,
    edge_type: str,
    emitted_at: _dt.datetime | str,
    emitted_id: str,
    broadcast_existing: bool = False,
    assume_distinct: bool = False,
) -> DataFrame:
    """``edges``: one row per (from, to) pair (pre-exploded adjacency).
    ``existing``: edge table already in the lake (``association_id``
    column), or None on first run.

    ``broadcast_existing`` should stay False when the existing edge set
    is large (it usually is — it's the whole history): the anti-join
    then runs as a shuffled hash join on ``association_id``, both sides
    hash-partitioned, which scales linearly.

    ``assume_distinct=True`` skips the pair dedup when the caller's
    ``edges`` are already unique (e.g. they come out of a groupBy on the
    same keys) — Catalyst can't prove the string cast injective, so the
    redundant distinct would cost a full extra exchange.
    """
    # distinct on the raw (usually numeric) key pair BEFORE casting:
    # the shuffle then moves 2 longs instead of 2 strings per row, and
    # the constant `type` column stays out of the grouping key.  The
    # cast is injective, so the distinct set is identical.
    def q(name: str) -> str:
        return "`" + name.replace("`", "``") + "`"

    df = edges.selectExpr(f"{q(from_col)} AS from_id", f"{q(to_col)} AS to_id")
    if not assume_distinct:
        df = df.distinct()
    # one parsed projection (r14, guide §1.2): the cast/lit/md5 Column
    # builds cost ~30 py4j round-trips; the md5 runs over the same
    # casted values the Column form concatenated
    type_lit = sql_str_lit(edge_type)
    df = df.selectExpr(
        "CAST(from_id AS STRING) AS from_id",
        "CAST(to_id AS STRING) AS to_id",
        f"{type_lit} AS type",
        "md5(concat_ws('_', CAST(from_id AS STRING),"
        f" {type_lit}, CAST(to_id AS STRING))) AS association_id",
    )
    if existing is not None:
        df = anti_join(
            df,
            existing.select("association_id"),
            "association_id",
            broadcast=broadcast_existing,
        )
    df = zip_emitted_info(df, emitted_at, emitted_id)
    return df.selectExpr(
        "association_id", "from_id", "to_id", "type", "emitted_at", "emitted_id"
    )
