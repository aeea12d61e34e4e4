"""As-of (backward) join — align each left row with the most recent
right row at or before its timestamp, per key.

The reference has no as-of join (SURVEY §2.4: every reference join is a
small equi-join), but event/feature alignment is core to a training-data
pipeline, and Spark has no built-in ASOF JOIN.  A pandas
``merge_asof``-per-group would serialize every row through Python; the
scalable Spark-native form is the *union trick*:

    union(left tagged 1, right tagged 0)
    → window per key ordered by (ts, tag)
    → last(right value, ignorenulls) over rows unbounded-preceding
    → keep tag 1

One shuffle (the window), no Python, no row explosion — right rows at
ts == left ts sort first, so semantics are ``left.ts >= right.ts``
(DuckDB/pandas ``direction='backward'``, inclusive).

Determinism: if the right side can hold several rows per (key, ts),
pre-aggregate it — ``last`` between equal sort keys is tie-ambiguous.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from data_pipeline_bigquery_spark.functions.sql import sql_ident as q, sql_num_lit

_TAG = "__asof_tag"


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    ts_col: str,
    value_cols: list[str],
    tolerance_s: float | None = None,
    direction: str = "backward",
) -> DataFrame:
    """Append ``asof_<value_col>`` columns (and ``asof_ts``) to ``left``:
    values from the latest ``right`` row with ``right.ts <= left.ts``
    (``direction="backward"``) or the EARLIEST right row with
    ``right.ts >= left.ts`` (``direction="forward"`` — the
    time-to-next-event alignment), for the same ``on`` key, or NULL if
    none (left-join semantics).  Both directions are inclusive at
    equal timestamps, matching pandas ``merge_asof``.

    ``tolerance_s``: max allowed |staleness| in seconds — matches
    further away are nulled out (pandas ``merge_asof(tolerance=...)``);
    fractional values compare as given, never truncated.

    Left columns named like an output (``asof_ts``, ``asof_<col>``) or
    like an internal helper (``__asof_tag``, ``__asof_payload``,
    ``__p``) are projected out first: outputs replace them.

    Forward is the mirrored union trick: the per-key window orders by
    ``(ts, tag DESC)`` so an equal-ts right row sorts AFTER the left
    row (inside its following frame), and ``first(ignorenulls)`` over
    ``[current, unbounded following]`` picks the next right value —
    still one shuffle, no Python.
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction}")

    # parsed SQL strings throughout (r14, guide §1.2): each F.col /
    # F.when / .over Column build is its own py4j round-trip, and this
    # operator sits inside the bench's timed region — the expression
    # trees below are the ones the Column form produced (same window
    # frame, same ignore-nulls picks), just built in ~6 parses
    outputs = {"asof_ts", *(f"asof_{c}" for c in value_cols)}
    internal = {_TAG, "__asof_payload", "__p"}
    keep = [c for c in left.columns if c not in outputs | internal]
    lhs = left.selectExpr(*map(q, keep), f"1 AS {_TAG}")
    # the whole matched row travels as ONE struct (non-null for every
    # right row, even when an individual value is NULL): picking the
    # struct with first/last(ignorenulls) selects ts AND values from
    # the SAME matched row — per-column picks would skip a NULL value
    # and take it from a different (further) row, diverging from the
    # pandas merge_asof contract
    payload_fields = ", ".join(
        [f"'__rts', {q(ts_col)}"]
        + [f"'__v{i}', {q(c)}" for i, c in enumerate(value_cols)]
    )
    rhs = right.selectExpr(
        q(on),
        q(ts_col),
        f"named_struct({payload_fields}) AS __asof_payload",
        f"0 AS {_TAG}",
    )
    both = lhs.unionByName(rhs, allowMissingColumns=True)

    epoch = "unix_seconds(cast({c} as timestamp))"
    if direction == "backward":
        picked = (
            f"last(__asof_payload, true) OVER (PARTITION BY {q(on)}"
            f" ORDER BY {q(ts_col)}, {_TAG}"
            " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
        )
        staleness = (
            epoch.format(c=q(ts_col)) + " - " + epoch.format(c="__p.__rts")
        )
    else:
        picked = (
            f"first(__asof_payload, true) OVER (PARTITION BY {q(on)}"
            f" ORDER BY {q(ts_col)} ASC, {_TAG} DESC"
            " ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)"
        )
        staleness = (
            epoch.format(c="__p.__rts") + " - " + epoch.format(c=q(ts_col))
        )

    if tolerance_s is None:
        asof_ts = "__p.__rts AS asof_ts"
        vals = [
            f"__p.__v{i} AS {q('asof_' + c)}" for i, c in enumerate(value_cols)
        ]
    else:
        fresh = f"({staleness}) <= {sql_num_lit(tolerance_s)}"
        asof_ts = f"CASE WHEN {fresh} THEN __p.__rts END AS asof_ts"
        vals = [
            f"CASE WHEN {fresh} THEN __p.__v{i} END AS {q('asof_' + c)}"
            for i, c in enumerate(value_cols)
        ]
    return (
        both.selectExpr("*", f"{picked} AS __p")
        .filter(f"{_TAG} = 1")
        .selectExpr(*map(q, keep), asof_ts, *vals)
    )
