"""Pivot aggregations A1-A6 and row-normalization A12-A13 (SURVEY §2.5).

Design for 100 TB: the reference pivots first and then does row-wise math
over 400-column rows (/root/reference/run.py:238-430).  We keep data LONG
(user, key, value) for as long as possible — normalization and horizontal
stats are per-(user) aggregates over the long form (one shuffle, bounded
state) — and pivot to the wide matrix only as the final presentation step,
with a FROZEN ``values=`` vocabulary so Spark never runs the implicit
distinct-values job.

The pivot expressions are built as SQL text, one ``F.expr`` parse per
output column.  In PySpark 4.x every Column-API call also captures its
call site (active-session lookup, a conf read, origin set/clear), so
the 5-13 Column ops of one conditional aggregate cost tens of py4j
round trips.  Built that way, branch C plus the scorer's feature vector
over a 70-code vocabulary took ~30k round trips; as text it takes ~2.2k
(tests/test_build_cost.py), with the same analyzed plan.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import sqlgen


def pivot_exprs(
    pivot_col: str,
    vocab: Sequence,
    agg: str = "count",
    value_col: str | None = None,
    prefix: str | None = None,
) -> list:
    """The conditional-aggregate expression list behind ``pivot_agg`` —
    exposed so multiple pivot blocks can FUSE into one hash aggregate
    (plans.features.branch_c_features): the expressions are identical
    whether they run in their own groupBy or alongside 200 others, and
    counts / decimal sums are order-insensitive, so fusion is
    bitwise-free.  ``vocab`` holds ints or strings (``sqlgen.lit``)."""
    prefix = prefix or f"{pivot_col}_{agg}"
    col = sqlgen.ident(pivot_col)
    aggs = []
    for v in vocab:
        cond = f"{col} = {sqlgen.lit(v)}"
        if agg == "count":
            e = f"count(case when {cond} then 1 end)"
        elif agg == "sum":
            e = sqlgen.dsum_cast(f"case when {cond} then {sqlgen.ident(value_col)} end")
        else:
            raise ValueError(f"unsupported agg: {agg}")
        aggs.append(F.expr(f"{e} as {sqlgen.ident(f'{prefix}-{v}')}"))
    return aggs


def pivot_agg(
    df: DataFrame,
    group_col: str,
    pivot_col: str,
    vocab: Sequence,
    agg: str = "count",
    value_col: str | None = None,
    prefix: str | None = None,
    fill: float | int = 0,
) -> DataFrame:
    """A1-A6: pivot with a FROZEN vocabulary as conditional aggregation.

    ``agg``: 'count' | 'sum' (sum is decimal-exact — see sqlgen.dsum_cast).
    Columns are named ``{prefix}-{v}`` like the reference's
    ``f'mcc_freq-{code}'`` scheme (/root/reference/run.py:241).

    NOT ``DataFrame.pivot``: Spark's pivot plans TWO exchanges (a
    (group, key) pre-aggregate then a group-level pivotfirst).  With a
    closed vocabulary, one conditional aggregate per category collapses
    that to a SINGLE shuffle on ``group_col`` with map-side partials —
    plan-shape-tested in tests/test_plan_shapes.py.
    """
    aggs = pivot_exprs(pivot_col, vocab, agg, value_col, prefix)
    return df.groupBy(group_col).agg(*aggs).na.fill(fill)


def row_normalize(
    df_long: DataFrame, group_col: str, value_col: str, out_col: str = "freq"
) -> DataFrame:
    """A12 done PRE-pivot: value / total-per-group via one partition window
    (/root/reference/run.py:258 ``m.div(m.sum(axis=1), axis=0)``).

    Long-form normalization == the reference's row-normalize of the pivoted
    matrix, but the shuffle key stays (group), state stays O(1) per row,
    and the 400-wide matrix never exists until presentation.
    """
    total = sqlgen.wdsum(value_col, group_col)
    return df_long.withColumn(out_col, F.expr(f"({value_col} / {total})"))


def row_sum(df_long: DataFrame, group_col: str, value_col: str, out_col: str = "row_sum") -> DataFrame:
    """A13: per-group total of the (long-form) pivoted block."""
    return df_long.withColumn(out_col, F.expr(sqlgen.wdsum(value_col, group_col)))
