"""Dedup + data-quality guard operators (SURVEY §2.5 A1/A2/A6/A7).

Reference: ``drop_duplicates_by_id``
(``/root/reference/pipeline/functions/functions.py:91-106``) keeps the
*first-arriving* row per id — an order-dependent semantic that a
distributed engine must not rely on.  The engine makes the ordering
explicit: latest-by-cursor wins, which is also what the downstream
BigQuery MERGE intends (``config/bigquery/bigquery.py:249-251``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from data_pipeline_bigquery_spark.functions.sql import sql_ident as q


def dedup_keep_latest(
    df: DataFrame,
    keys: list[str],
    order_by: list[Column | str],
    descending: bool = True,
) -> DataFrame:
    """A1 dedup_keep_first, determinized.

    One row per ``keys``, the one ranking first by ``order_by``
    (descending by default ⇒ latest wins).  Implementation is a
    ``row_number`` window — a single hash-partition shuffle on ``keys``,
    which AQE will coalesce/skew-split at scale.  Ties broken by the
    full ordering; add a unique column to ``order_by`` for total
    determinism.
    """
    if all(isinstance(c, str) for c in order_by):
        # ONE parsed window expression instead of a Column build per
        # order column (r14, guide §1.2).  SQL DESC/ASC and Column
        # .desc()/.asc() share the same null ordering defaults
        # (DESC ⇒ NULLS LAST, ASC ⇒ NULLS FIRST), so the tree is
        # identical to the Column form below; withColumn replaces an
        # input ``__rn`` just as that form does.
        dirn = "DESC" if descending else "ASC"
        rn = (
            f"row_number() OVER (PARTITION BY {', '.join(q(k) for k in keys)}"
            f" ORDER BY {', '.join(f'{q(c)} {dirn}' for c in order_by)})"
        )
        return df.withColumn("__rn", F.expr(rn)).filter("__rn = 1").drop("__rn")
    ordering = [
        (F.col(c) if isinstance(c, str) else c).desc() if descending
        else (F.col(c) if isinstance(c, str) else c).asc()
        for c in order_by
    ]
    w = Window.partitionBy(*keys).orderBy(*ordering)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def distinct_values(df: DataFrame, column: str) -> DataFrame:
    """A2 distinct_values (``pipeline/functions/functions.py:149``) —
    map-side partial distinct then exchange, courtesy of HashAggregate."""
    return df.select(column).distinct()


def null_pk_check(df: DataFrame, pk: str) -> int:
    """A6 null_count_check (``pipeline/functions/functions.py:108-121``):
    count NULL primary keys. Scan-only, filter pushed to parquet."""
    return df.filter(F.col(pk).isNull()).count()


def dup_pk_check(df: DataFrame, pk: str) -> DataFrame:
    """A7 duplicate_pk_check (``config/bigquery/bigquery.py:227-229``):
    return offending keys + counts (empty ⇒ safe to merge)."""
    return df.groupBy(pk).agg(F.count(F.lit(1)).alias("cnt")).filter(F.col("cnt") > 1)
