"""Group statistics: A7 dynamic-p percentiles, A10 vertical stats,
A11 horizontal stats (SURVEY §2.5).

Scale design: everything here is a single hash-aggregate (or one window +
one aggregate) keyed by the group columns — partial aggregation map-side,
bounded per-group state, AQE-coalesced output.  The reference's row-wise
``get_stats`` over a 400-wide pivoted matrix (/root/reference/run.py:207-234)
is re-expressed over the LONG form: stats over the per-(group,key) values
with non-positive cells masked — identical numbers, shuffle-friendly.

Float determinism: stats derive from exact decimal moment sums via the
shared SQL fragments in ``sqlgen`` so results are bit-stable under
any partitioning (and hash-comparable to the DuckDB oracle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import sqlgen


def vertical_stats(
    df: DataFrame, group_cols: list[str], value_col: str, prefix: str
) -> DataFrame:
    """A10: pandas ``groupby(...).agg(['mean','std','min','max','median',
    'sem','skew','var','sum'])`` + amplitude (/root/reference/run.py:428-430).
    ddof=1, adjusted G1 skew (SURVEY §7.4.2)."""
    frags = sqlgen.moment_stats(value_col, prefix, percentile_fn="percentile")
    return df.groupBy(*group_cols).agg(*[F.expr(s) for s in frags])


def horizontal_stats(
    df_long: DataFrame,
    group_col: str,
    value_col: str,
    prefix: str,
) -> DataFrame:
    """A11: the reference's ``get_stats`` (/root/reference/run.py:207-234)
    over the long form of a pivoted block.

    Masks non-positive cells (F5: ``m[m > 0]``), computes
    mean/median/max/min/std/sem/skew/var, 5 amplitudes, 5 ratios, then
    NaN->0 like the reference's ``fillna(0)`` — while genuine ``inf``
    (none possible here: masked min > 0) would be preserved (§7.4.4).
    """
    return horizontal_stats_multi(df_long, group_col, [(value_col, prefix)])


def horizontal_stats_multi(
    df_long: DataFrame,
    group_col: str,
    specs: list[tuple[str, str]],
    extra_aggs: list = (),
) -> DataFrame:
    """``horizontal_stats`` for several (value_col, prefix) families in
    ONE hash aggregate: every stat is an order-insensitive aggregate
    (exact decimal moment sums, exact percentile, min/max), so N families
    over the same long table fuse into a single exchange instead of N —
    the submission pipeline's cnt_b + freq stats share one shuffle.
    Output per family is bitwise-identical to ``horizontal_stats``.

    ``extra_aggs``: additional aggregate Columns to ride the same
    exchange (e.g. a frequency pivot over the same long table); their
    output columns lead the result verbatim — no stat post-processing."""
    frags: list[str] = []
    for value_col, prefix in specs:
        masked = f"(case when {value_col} > 0 then {value_col} end)"
        frags += sqlgen.moment_stats(masked, prefix, percentile_fn="percentile")
    agg = df_long.groupBy(group_col).agg(*extra_aggs, *[F.expr(s) for s in frags])
    n_extra = len(list(extra_aggs))
    extra_cols = agg.columns[1 : 1 + n_extra]
    # Extras are identified by this positional slice and later excluded
    # from the NaN->0 pass BY NAME — an extra aliased to a generated stat
    # name (or a duplicate / the group key) would silently misclassify
    # the real stat column and skip its coalesce.  Fail loudly instead.
    generated = {
        f"{p}_{s}" for _, p in specs for s in sqlgen.MOMENT_COLS + sqlgen.HSTAT_COLS
    }
    bad = [c for c in extra_cols if c in generated or c == group_col]
    if bad or len(set(extra_cols)) != n_extra:
        raise ValueError(
            f"extra_aggs aliases must be unique and disjoint from the group "
            f"key and generated stat names; offending: {bad or extra_cols}"
        )
    derived = [s for _, p in specs for s in sqlgen.hstat_derived(p)]
    out = agg.select("*", *[F.expr(s) for s in derived])
    for _, p in specs:
        out = out.drop(*[f"{p}_{c}" for c in sqlgen.HSTAT_DROPPED])
    # pandas fillna(0): NaN -> 0 across every stat column.  The inner cast
    # keeps bigint min/max as double (coalesce with a bare 0.0 literal
    # would promote the whole thing to DECIMAL in Spark).
    stat_cols = [c for c in out.columns if c != group_col and c not in extra_cols]
    return out.select(
        group_col,
        *[F.col(f"`{c}`") for c in extra_cols],
        *[F.expr(f"coalesce(cast({c} as double), cast(0 as double)) as {c}") for c in stat_cols],
    )


def group_percentiles(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    n_amt: int = 10,
) -> DataFrame:
    """A7: per-group count, median, and DYNAMIC percentile bounds for the
    winsorization step (/root/reference/run.py:49-58): the tail fraction is
    ``p = clamp(n_amt / cnt, 0, 1)`` — i.e. "winsorize the ~n_amt most
    extreme values on each side".

    Spark's builtin ``percentile`` needs a foldable fraction, so the
    dynamic quantile is computed exactly (numpy linear interpolation
    semantics) from rank statistics: one window ranking per group + one
    aggregate — two passes over the shuffled group, no collect.
    """
    # NULL values must not enter the ranking: Spark's ASC default is
    # NULLS FIRST while DuckDB's is NULLS LAST, so a NULL would shift
    # every rank (corrupting the interpolation) differently per engine.
    # Percentiles are statistics of the OBSERVED values (numpy/pandas
    # quantile semantics ignore NaN), so cnt is the non-null count.
    w = Window.partitionBy(*keys).orderBy(F.col(value_col).asc())
    ranked = df.filter(F.col(value_col).isNotNull()).select(
        *keys,
        F.col(value_col).alias("_v"),
        (F.row_number().over(w) - 1).alias("_rk"),  # 0-based rank
        F.count(F.lit(1)).over(Window.partitionBy(*keys)).alias("_cnt"),
    )
    return dyn_percentiles(ranked, keys, n_amt)


def dyn_percentiles(ranked: DataFrame, keys: list[str], n_amt: int, **extra) -> DataFrame:
    """A7's aggregate over a frame ranked per ``keys`` (columns ``_v``,
    ``_rk``, ``_cnt``; see ``sqlgen.dyn_percentile_frac``): one row per
    group with ``cnt, p_lo, p_hi, p_median``, then each ``extra``
    aggregate Column under its keyword name, riding the same aggregate."""
    agg = (
        ranked.select("*", F.expr(sqlgen.dyn_percentile_frac(n_amt)))
        .select("*", *[F.expr(s) for s in sqlgen.DYN_PERCENTILE_TARGETS])
        .groupBy(*keys)
        .agg(
            *[F.expr(s) for s in sqlgen.DYN_PERCENTILE_AGGS],
            *[c.alias(name) for name, c in extra.items()],
        )
    )
    return agg.select(*keys, "cnt", *[F.expr(s) for s in sqlgen.DYN_PERCENTILE_FINAL], *extra)


def group_percentiles_sql(
    table: str, keys: list[str], value_col: str, n_amt: int = 10
) -> str:
    """DuckDB oracle for ``group_percentiles`` — the same ``sqlgen``
    rank-interpolation text, so the float ops are identical."""
    ks = ", ".join(keys)
    return f"""
with ranked as (
  select {ks}, {value_col} as _v,
         row_number() over (partition by {ks} order by {value_col} asc) - 1 as _rk,
         count(*) over (partition by {ks}) as _cnt
  from {table}
  where {value_col} is not null
), frac as (
  select *, {sqlgen.dyn_percentile_frac(n_amt)} from ranked
), pos as (
  select *, {", ".join(sqlgen.DYN_PERCENTILE_TARGETS)} from frac
), agg as (
  select {ks}, {", ".join(sqlgen.DYN_PERCENTILE_AGGS)} from pos group by {ks}
)
select {ks}, cnt, {", ".join(sqlgen.DYN_PERCENTILE_FINAL)} from agg
"""
