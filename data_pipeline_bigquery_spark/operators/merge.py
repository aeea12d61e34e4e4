"""Join-based MERGE upsert — the reference's core write (SURVEY §2.2 K2).

Reference semantics (generated SQL at
``/root/reference/config/bigquery/bigquery.py:245-256``)::

    MERGE `target` T USING `target_temp` S ON T.pk = S.pk
    WHEN MATCHED AND T.cursor != S.cursor THEN UPDATE SET <all columns>
    WHEN NOT MATCHED THEN INSERT <all columns>

i.e. source wins only when the row is new or its cursor *differs*;
re-delivered unchanged rows are no-ops (the reference's late/duplicate
handling, SURVEY §2.11 ST3).  ``!=`` is deliberately null-hostile SQL —
a NULL cursor on either side never updates (``bigquery.py:249``); we
reproduce that default and expose ``null_safe`` to opt into ``IS
DISTINCT FROM`` semantics.

No Delta/Iceberg in this environment, so the merge is a full-outer
join with conditional column resolution.  Scale notes:

* The join shuffles both sides hash-partitioned on ``pk`` — the same
  exchange Delta's MERGE performs under the hood.  AQE handles skewed
  pks.
* In a 100 TB lake the target would be partitioned (e.g. by date) and
  bucketed by pk: semi-join ``source``'s distinct partition values
  first and rewrite only affected partitions
  (``spark.sql.sources.partitionOverwriteMode=dynamic``).  See
  :func:`affected_partitions`.
* Sources with duplicate pks make MERGE non-deterministic; the
  reference aborts the load (``bigquery.py:227-229``) — pass
  ``validate=True`` for the same guard.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_pipeline_bigquery_spark.functions.sql import sql_ident as q


def merge_upsert(
    target: DataFrame,
    source: DataFrame,
    pk: str,
    cursor_col: str,
    null_safe: bool = False,
    validate: bool = False,
    build_source: bool = True,
) -> DataFrame:
    """Return the post-MERGE state of ``target``.

    Columns are taken from ``target``'s schema; ``source`` must contain
    them all (extra source columns are ignored — the reference loads
    through a temp table with the target schema).

    ``build_source=True`` (default) hints the planner to run the
    full-outer join as a ShuffledHashJoin built from ``source``,
    deleting both sort passes — **valid only under the MERGE contract
    that the delta is much smaller than the target**: each build
    partition of ``source`` must fit in executor memory (Spark can't
    spill a hash build the way a SortMergeJoin spills its sort).  A
    caller merging a delta that rivals the target must pass
    ``build_source=False`` to keep the spill-safe SortMergeJoin.
    Catalyst's own size estimates can't arbitrate this (a filtered
    scan keeps its parent's estimate without CBO stats), so the switch
    is explicit rather than inferred.
    """
    if validate:
        dup = (
            source.groupBy(pk).agg(F.count(F.lit(1)).alias("c")).filter(F.col("c") > 1).count()
        )
        if dup:
            raise ValueError(
                f"source has {dup} duplicate primary key(s) on {pk!r}; "
                "MERGE would be non-deterministic (reference aborts too: "
                "config/bigquery/bigquery.py:227-229)"
            )
        nulls = source.filter(F.col(pk).isNull()).count()
        if nulls:
            raise ValueError(f"source has {nulls} NULL primary key(s) on {pk!r}")

    cols = target.columns
    t = target.alias("t")
    # shuffle_hash on the SOURCE side (build_source): turns the
    # full-outer SortMergeJoin into a ShuffledHashJoin (BuildRight) and
    # deletes BOTH Sort nodes — the target-side sort is O(target) work
    # per merge that the hash join never does (guide §3.2;
    # plans/r13/merge_upsert_{before,after}.txt).  Exchange count is
    # unchanged (both sides still hash-partition on pk) and AQE skew
    # splitting still applies.  Memory contract: see docstring.
    s = source.selectExpr(*map(q, cols))
    if build_source:
        s = s.hint("shuffle_hash")
    s = s.alias("s")

    joined = t.join(s, F.col(f"t.{q(pk)}") == F.col(f"s.{q(pk)}"), "full_outer")

    # parsed SQL strings (r14, guide §1.2): the per-column
    # when/otherwise Column builds cost ~6 py4j round-trips each at
    # plan-build time; the CASE trees below are the identical
    # expressions in one parse per output column
    if null_safe:
        cursor_differs = (
            f"NOT (t.{q(cursor_col)} <=> s.{q(cursor_col)})"
        )
    else:
        # SQL `!=`: NULL on either side ⇒ not true ⇒ no update.
        cursor_differs = f"t.{q(cursor_col)} != s.{q(cursor_col)}"

    take_source = (
        f"(t.{q(pk)} IS NULL OR (s.{q(pk)} IS NOT NULL"
        f" AND coalesce({cursor_differs}, false)))"
    )
    return joined.selectExpr(
        *[
            f"CASE WHEN {take_source} THEN s.{q(c)} ELSE t.{q(c)} END AS {q(c)}"
            for c in cols
        ]
    )


def affected_partitions(source: DataFrame, partition_col: str) -> DataFrame:
    """Distinct partition values touched by ``source`` — join this
    (broadcast) against the target scan so a partitioned lake only
    rewrites affected partitions instead of the full table."""
    return source.select(partition_col).distinct()
