"""Statistical expression shims (SURVEY §7.3/§7.4.2).

Parity targets (reference semantics are pandas/sklearn):

- ``std/var/sem``: ddof=1 (pandas default) → ``stddev_samp/var_samp``;
  ``sem = stddev_samp / sqrt(n)``.
- ``skew``: pandas computes the adjusted Fisher-Pearson G1; Spark's
  ``skewness`` is the biased g1 = m3/m2^1.5.  Shim:
  ``G1 = g1 * sqrt(n*(n-1)) / (n-2)`` (NULL for n<3, like pandas).
- z-score inside the VRAE prep uses sklearn StandardScaler ⇒ ddof=0
  (population std) — ``stddev_pop`` (/root/reference/run.py:113-115).

Oracle-determinism helpers: double sums are order-dependent in a parallel
engine, so cross-engine hash comparison of raw double aggregates is
fragile.  ``dsum``/``davg`` sum through an exact DECIMAL and cast back —
bitwise-stable under any partitioning/ordering, in Spark and in the DuckDB
oracle alike (and at 100 TB, decimal sums also make results run-to-run
reproducible regardless of task scheduling).

Exact-libm tables: JVM ``Math.log`` and libm ``ln`` disagree by 1 ulp on
~9% of inputs (measured), so an in-plan ``F.log`` cannot bitwise-match a
libm-based oracle.  Where a logarithm's argument is an integer, the
distinct arguments are collected to the driver (:func:`exact_ints`),
``f(int)`` is evaluated there with Python's libm, and the table is
broadcast-joined back (:func:`join_exact`).  Past
:data:`EXACT_LN_GUARD` distinct arguments the collect returns None and
the caller falls back to in-plan ``F.log`` (1-ulp engine variance) or
raises where a 1-ulp difference would change an integer result.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable
from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..sources.readers import small_frame

# 38 total digits keeps 6-decimal exactness up to ~1e31 — enough headroom
# for 100 TB-scale sums of 1e5-magnitude values.
DECIMAL_SUM_TYPE = "decimal(38,6)"


def dsum(col: Column | str, scale_type: str = DECIMAL_SUM_TYPE) -> Column:
    """Order-insensitive exact sum of a double column, returned as double.

    The decimal->double conversion uses the integral/fractional split (see
    ``sqlgen.dec_to_double``) so the bits match the SQL-oracle fragments
    exactly, including beyond 2^53."""
    c = F.col(col) if isinstance(col, str) else col
    s = F.sum(c.cast(scale_type))
    ipart = (s - s % 1).cast("decimal(38,0)").cast("double")
    frac = (s % 1).cast("double")
    return ipart + frac


def davg(col: Column | str) -> Column:
    """Deterministic mean: exact decimal sum / count, in double."""
    c = F.col(col) if isinstance(col, str) else col
    return dsum(c) / F.count(c)


def sem(col: Column | str) -> Column:
    """Standard error of the mean, pandas ``DataFrame.sem`` (ddof=1)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.stddev_samp(c) / F.sqrt(F.count(c))


def skew_adjusted(col: Column | str) -> Column:
    """pandas ``.skew()``: adjusted Fisher-Pearson G1 (NULL when n < 3)."""
    c = F.col(col) if isinstance(col, str) else col
    n = F.count(c)
    g1 = F.skewness(c)
    return F.when(n >= 3, g1 * F.sqrt(n * (n - 1)) / (n - 2))


def zscore_window(col: Column | str, *partition_cols: str) -> Column:
    """W3: per-group z-score with POPULATION std (sklearn StandardScaler).

    Expressed as an unordered partition window → one shuffle per key set,
    reused by every column standardized over the same keys.
    """
    c = F.col(col) if isinstance(col, str) else col
    w = Window.partitionBy(*partition_cols)
    return (c - F.avg(c).over(w)) / F.stddev_pop(c).over(w)


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
