"""Window operators (SURVEY §2.6 W1/W2, §2.5 A3).

Reference: per-deal version numbering via sort + ``groupby().cumcount()+1``
(``/root/reference/pipeline/hubspot_deal_logs/hubspot_deal_log_pipeline.py:88-89``)
and group-wise string concatenation broadcast back to every row via
``groupby().transform(','.join)``
(``pipeline/mautic_hubspot_email_log/mautic_hubspot_email_read_activities.py:192``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from data_pipeline_bigquery_spark.functions.sql import sql_ident as q, sql_str_lit


def version_row_number(
    df: DataFrame,
    partition_by: list[str],
    order_by: list[Column | str],
    out_col: str = "version",
) -> DataFrame:
    """W1 version_row_number: 1-based change version per entity.

    One shuffle on ``partition_by``; at scale this is the same hash
    exchange an aggregation would need, so chains of window + groupBy on
    the same keys reuse the exchange (Catalyst ReuseExchange).  An input
    column named ``out_col`` is replaced in place, as ``withColumn`` does.
    """
    if all(isinstance(c, str) for c in order_by):
        # ONE parsed expression instead of a Column build per key/order
        # column (~6 py4j round-trips each at plan-build time, r14
        # guide §1.2); ASC here and .orderBy's default are both
        # NULLS FIRST, so the window tree is identical
        rn = (
            f"row_number() OVER (PARTITION BY"
            f" {', '.join(q(c) for c in partition_by)}"
            f" ORDER BY {', '.join(q(c) for c in order_by)})"
        )
        return df.withColumn(out_col, F.expr(rn))
    w = Window.partitionBy(*partition_by).orderBy(
        *[F.col(c) if isinstance(c, str) else c for c in order_by]
    )
    return df.withColumn(out_col, F.row_number().over(w))


def group_concat(
    df: DataFrame,
    partition_by: list[str],
    value: Column | str,
    out_col: str,
    sep: str = ",",
    distinct: bool = True,
    sort: bool = True,
) -> DataFrame:
    """A3/W2 group_concat as an unbounded window (value replicated to all
    rows of the partition, matching pandas ``transform``).

    ``sort=True`` makes output order deterministic across partitionings —
    ``collect_list`` order is otherwise arrival order, which is not stable
    in a distributed shuffle (the reference silently depends on pandas
    row order here).
    """
    if isinstance(value, str):
        # single parsed expression — same RTT rationale as
        # version_row_number; the tree (collect_list window →
        # array_distinct → array_sort → concat_ws) is unchanged
        arr_sql = (
            f"collect_list({q(value)}) OVER (PARTITION BY"
            f" {', '.join(q(c) for c in partition_by)})"
        )
        if distinct:
            arr_sql = f"array_distinct({arr_sql})"
        if sort:
            arr_sql = f"array_sort({arr_sql})"
        concat = f"concat_ws({sql_str_lit(sep)}, {arr_sql})"
        return df.withColumn(out_col, F.expr(concat))
    v = value
    w = Window.partitionBy(*partition_by)
    arr = F.collect_list(v).over(w)
    if distinct:
        arr = F.array_distinct(arr)
    if sort:
        arr = F.array_sort(arr)
    return df.withColumn(out_col, F.concat_ws(sep, arr))
