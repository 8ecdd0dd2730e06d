"""Exact-libm tables.

JVM ``Math.log`` and libm ``ln`` disagree by 1 ulp on ~9% of inputs
(measured), so an in-plan ``F.log`` cannot bitwise-match a libm-based
oracle.  Where a logarithm's argument is an integer, the
distinct arguments are collected to the driver (:func:`exact_ints`),
``f(int)`` is evaluated there with Python's libm, and the table is
broadcast-joined back (:func:`join_exact`).  Past
:data:`EXACT_LN_GUARD` distinct arguments the collect returns None and
the caller falls back to in-plan ``F.log`` (1-ulp engine variance,
:func:`with_ln` picks the side) or raises where a 1-ulp difference would
change an integer result.
"""

from __future__ import annotations

import math
from collections.abc import Callable, Iterable
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..sources.readers import small_frame

# Most distinct integer arguments an exact-libm table holds.  Distinct
# count values grow ~O(sqrt(total tokens)) — ~3M at 10^13 tokens — so
# the guard bounds the driver-side collect and the broadcast table
# (100k (bigint, double) rows is ~1.6 MB).  Read at call time.
EXACT_LN_GUARD = 100_000


def guarded(values: Iterable | None) -> list[int] | None:
    """Sorted ``values`` as ints, or None if there are more than
    :data:`EXACT_LN_GUARD` of them."""
    values = list(values or [])
    if len(values) > EXACT_LN_GUARD:
        return None
    return sorted(int(v) for v in values)


def exact_ints_agg(c: Column) -> Column:
    """Aggregate form of :func:`exact_ints` for a caller that folds the
    collect into an aggregate it runs anyway: the sorted distinct
    non-null values of ``c``, at most ``EXACT_LN_GUARD + 1`` of them
    (read back through :func:`guarded`)."""
    return F.slice(F.array_sort(F.collect_set(c)), 1, EXACT_LN_GUARD + 1)


def exact_ints(*sources: tuple[DataFrame, str]) -> list[int] | None:
    """Sorted distinct non-null integers of the ``(frame, col)`` sources,
    collected in one job through ``limit(EXACT_LN_GUARD + 1)`` — the
    driver never holds more than the guard — or None past the guard."""
    values = reduce(
        DataFrame.unionByName,
        [frame.select(F.col(col).cast("bigint").alias("_v")) for frame, col in sources],
    )
    rows = values.filter(F.col("_v").isNotNull()).distinct().limit(EXACT_LN_GUARD + 1).collect()
    return guarded(r[0] for r in rows)


def join_exact(
    frame: DataFrame,
    col: str,
    values: Iterable[int],
    fn: Callable[[int], float],
    out: str,
    how: str = "inner",
    dtype: str = "double",
) -> DataFrame:
    """``frame`` with ``out = fn(frame[col])`` from a driver-side table of
    ``(v, fn(v))`` over ``values``, broadcast-joined on ``col``.  The
    table is a JVM-side local relation (``small_frame``), so no job that
    reads it starts a Python worker."""
    table = small_frame(
        frame.sparkSession, [(v, fn(v)) for v in values], f"`{col}` bigint, `{out}` {dtype}"
    )
    return frame.join(F.broadcast(table), col, how)


def with_ln(
    frame: DataFrame, src: str, values: list[int] | None, dst: str, over: int = 1
) -> DataFrame:
    """``frame`` with ``dst = ln(src / over)``: from the exact-libm table
    over ``values`` (a left join, so a NULL ``src`` keeps its row with a
    NULL ``dst``), or in-plan ``F.log`` when ``values`` is None (past
    :data:`EXACT_LN_GUARD`)."""
    if values is not None:
        return join_exact(frame, src, values, lambda v: math.log(v / over), dst, how="left")
    arg = F.col(src).cast("double")
    return frame.withColumn(dst, F.log(arg if over == 1 else arg / F.lit(float(over))))
