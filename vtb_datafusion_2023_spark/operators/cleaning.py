"""Robust-cleaning operators A7-A9 / F3 (SURVEY §2.5).

The reference's defence-track cleaning (/root/reference/run.py:25-85) is a
per-user python loop: for each user, (1) winsorize amounts of frequent MCC
codes to the code's median beyond dynamic percentile bounds, (2) rewrite
rare codes (count <= n_mcc) to the user's most frequent code and its
median amount.  O(users * rows) single-threaded scans.

Spark-first shape: one (user, code) statistics frame (:func:`_clean_stats`:
one window + one aggregate over one shuffle, the user's top code as a
window over the stats rows), one left join of the transactions to it on
(user, code), and the rewrite as a projection.  A skewed power-user
inflates one group only; AQE skew-join splitting covers it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .gstats import dyn_percentiles


def _clean_stats(
    df: DataFrame, user_col: str, cat_col: str, value_col: str, n_amt: int
) -> DataFrame:
    """The statistics of A8 and A9 in ONE (user, cat) window + ONE
    aggregate, plus one per-user window over the stats rows.

    Returns one row per (user, cat) of ``df`` with
    ``cnt, p_lo, p_hi, p_median`` (A7 over the non-NULL values, as
    ``group_percentiles``), ``_cat_cnt`` (ALL rows, the A9 count) and the
    user's top category ``_top_cat`` with its median ``_top_cat_median``.

    The two count contracts meet in one window: NULL values sort FIRST
    under Spark's ASC default, so the rank of a non-null value among
    non-nulls is ``row_number - (#nulls in partition)``, computable from
    the same sorted stream; null rows land at ranks <= -1, which no
    interpolation position k >= 0 can select (and their ``_v`` is NULL
    anyway, so even an all-null group's k = -1 probes contribute
    nothing).  The interpolation is ``group_percentiles``' text over the
    same non-NULL row sets, so p_lo/p_hi/p_median are bitwise the same.
    The one difference from ``group_percentiles``: an all-null-value
    group EXISTS here with cnt = 0 instead of being absent, which the
    winsorize gate cannot see — cnt = 0 and a missing row (cnt NULL)
    both fail ``cnt > min_count``, and p_lo/p_hi/p_median are NULL
    either way (``sqlgen.dyn_percentile_frac`` guards ``_cnt = 0``).

    The category median is the builtin ``percentile`` (the weighted
    ``(1-f)*lo + f*hi`` interpolation the DuckDB oracle's
    ``quantile_cont`` matches bitwise; NULL for an all-null group), not
    ``p_median``, whose ``lo + (hi-lo)*f`` differs in the last ulp.

    Top category: most frequent, smallest category among equal counts —
    np.unique sorts ascending and argmax takes the first hit
    (/root/reference/run.py:41-45, SURVEY §7.4.3) — so ``first(...)``
    over ``partition by user order by _cat_cnt desc, cat asc``.  The
    (user, cat) rows are unique, so the first row is the one
    ``row_number() = 1`` would keep, a NULL category included.
    """
    keys = [user_col, cat_col]
    v = F.col(value_col)
    w_part = Window.partitionBy(*keys)
    ranked = df.select(
        *keys,
        v.alias("_v"),
        (
            F.row_number().over(w_part.orderBy(v.asc()))
            - (F.count(F.lit(1)).over(w_part) - F.count(v).over(w_part))
            - 1
        ).alias("_rk"),
        F.count(v).over(w_part).alias("_cnt"),
    )
    stats = dyn_percentiles(
        ranked,
        keys,
        n_amt,
        _cat_cnt=F.count(F.lit(1)),
        _cat_median=F.expr("percentile(_v, 0.5)"),
    )
    top = Window.partitionBy(user_col).orderBy(F.col("_cat_cnt").desc(), F.col(cat_col).asc())
    return stats.select(
        *keys,
        "cnt",
        "p_lo",
        "p_hi",
        "p_median",
        "_cat_cnt",
        F.first(cat_col).over(top).alias("_top_cat"),
        F.first("_cat_median").over(top).alias("_top_cat_median"),
    )


def _rewrite(
    df: DataFrame,
    user_col: str,
    cat_col: str,
    value_col: str,
    n_amt: int,
    new: dict[str, Column],
) -> DataFrame:
    """``df`` left-joined to its :func:`_clean_stats` on (user, cat), with
    the columns named in ``new`` replaced.  A row whose user or category
    is NULL finds no stats row, so every rewrite condition is NULL and
    the row keeps its values."""
    stats = _clean_stats(df, user_col, cat_col, value_col, n_amt)
    joined = df.join(stats, on=[user_col, cat_col], how="left")
    return joined.select(*[new[c].alias(c) if c in new else F.col(c) for c in df.columns])


def _winsorized(v: Column, min_count: int) -> Column:
    """A8's value: the group median where ``v`` leaves [p_lo, p_hi] in a
    group of more than ``min_count`` values (run.py:60-67)."""
    outside = (F.col("cnt") > min_count) & ((v > F.col("p_hi")) | (v < F.col("p_lo")))
    return F.when(outside, F.col("p_median")).otherwise(v)


def _if_rare(min_count: int, top: str, other: Column) -> Column:
    """A9's rewrite (run.py:69-76): column ``top`` on rows of a (user, cat)
    seen at most ``min_count`` times, else ``other``."""
    return F.when(F.col("_cat_cnt") <= min_count, F.col(top)).otherwise(other)


def winsorize_to_median(
    df: DataFrame,
    user_col: str,
    cat_col: str,
    value_col: str,
    n_amt: int = 10,
    min_count: int = 10,
) -> DataFrame:
    """A8: values outside the (user, cat) group's dynamic percentile
    bounds are replaced by the group median (/root/reference/run.py:60-67);
    applies only to groups of more than ``min_count`` non-NULL values.
    Catalyst prunes the stats columns this does not read (the A9 count,
    the top-category window)."""
    new = {value_col: _winsorized(F.col(value_col), min_count)}
    return _rewrite(df, user_col, cat_col, value_col, n_amt, new)


def rare_category_rewrite(
    df: DataFrame,
    user_col: str,
    cat_col: str,
    value_col: str,
    min_count: int = 10,
) -> DataFrame:
    """A9: rows whose (user, cat) count <= ``min_count`` get cat <- the
    user's most frequent category and value <- that category's median
    (/root/reference/run.py:69-76); statistics via :func:`_clean_stats`,
    whose percentile columns Catalyst prunes here."""
    return _rewrite(
        df,
        user_col,
        cat_col,
        value_col,
        n_amt=10,  # the bounds are not read
        new={
            cat_col: _if_rare(min_count, "_top_cat", F.col(cat_col)),
            value_col: _if_rare(min_count, "_top_cat_median", F.col(value_col)),
        },
    )


def clean_transactions(
    df: DataFrame,
    user_col: str = "user_id",
    cat_col: str = "mcc_code",
    value_col: str = "transaction_amt",
    n_amt: int = 10,
    n_mcc: int = 10,
) -> DataFrame:
    """The composed robust-cleaning transform (/root/reference/run.py:25-85):
    winsorize frequent categories, then rewrite rare ones.

    Both steps read statistics of the ORIGINAL ``df``: the reference
    copies per-code amount arrays before winsorization mutates them
    (run.py:49-50).  The winsorize condition fires only on groups with
    cnt > ``n_mcc`` and the rare rewrite only on _cat_cnt <= ``n_mcc``
    (cnt counts a subset of the _cat_cnt rows), so both resolve in ONE
    projection over ONE join to :func:`_clean_stats` — equal, row for
    row, to winsorizing and then rewriting with counts, top category and
    medians taken from ``df`` (pinned in tests/test_scale_properties.py,
    including mixed-sign medians and all-null-value top categories)."""
    return _rewrite(
        df,
        user_col,
        cat_col,
        value_col,
        n_amt,
        {
            cat_col: _if_rare(n_mcc, "_top_cat", F.col(cat_col)),
            value_col: _if_rare(n_mcc, "_top_cat_median", _winsorized(F.col(value_col), n_mcc)),
        },
    )


def mad_outliers(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    k: float = 3.0,
) -> DataFrame:
    """Robust per-group outlier flagging by Median Absolute Deviation:
    ``|x - median| > k * median(|x - median|)``.

    The robust sibling of the reference's percentile winsorization
    (/root/reference/run.py:49-67): MAD is insensitive to the outliers
    it hunts, unlike stddev-based z-scores.  Two grouped exact-percentile
    passes on the same keys (shared shuffle layout) joined back; the
    comparison arithmetic is textually stable SQL so the flag is
    bitwise-reproducible cross-engine.  Groups with MAD = 0 (constant
    value) flag nothing.
    """
    med = df.groupBy(*group_cols).agg(
        F.expr(f"percentile({value_col}, cast(0.5 as double))").alias("med")
    )
    with_med = df.join(med, group_cols)
    mad = (
        with_med.withColumn("_adev", F.expr(f"abs({value_col} - med)"))
        .groupBy(*group_cols)
        .agg(F.expr("percentile(_adev, cast(0.5 as double))").alias("mad"))
    )
    return with_med.join(mad, group_cols).withColumn(
        "is_outlier",
        F.expr(f"abs({value_col} - med) > cast({k} as double) * mad and mad > cast(0 as double)"),
    )


def latest_by_key(
    df: DataFrame,
    key_cols: list[str],
    version_cols: list[str],
) -> DataFrame:
    """CDC compaction / latest-wins upsert: keep exactly one row per key —
    the one with the greatest ``version_cols`` (compared lexicographically;
    include a unique id last so the winner is deterministic).

    The standard change-log -> snapshot step of an incremental 100 TB
    pipeline: applied as row_number over (key, version desc) + ``= 1``,
    which Catalyst rewrites to WindowGroupLimit — each map task keeps only
    its per-key latest row before the shuffle, so the exchange carries one
    row per (task, key), not the full change log.
    """
    w = Window.partitionBy(*key_cols).orderBy(*[F.desc(c) for c in version_cols])
    return df.withColumn("_rk", F.row_number().over(w)).filter(F.col("_rk") == 1).drop("_rk")


def scd2_intervals(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    value_cols: list[str],
    ord_cols: list[str] | None = None,
) -> DataFrame:
    """Slowly-changing-dimension type 2: collapse a change log into
    validity intervals — one row per (key, value-change) with
    ``valid_from`` / ``valid_to`` (NULL = current) and ``is_current``.

    The complement of :func:`latest_by_key` (SCD1 latest-wins): history is
    kept, consecutive rows with unchanged tracked values are collapsed
    into one interval.  Downstream point-in-time lookups are the as-of
    join (``temporal_joins``) against this table.

    Scale: everything runs in one (key) window partitioning — change
    detection (lag), interval close (lead), currency flag — a single
    shuffle+sort shared across the three expressions.  Null-safe value
    comparison keeps NULL attribute states as real states.
    """
    order = [F.col(ts_col), *[F.col(c) for c in (ord_cols or [])]]
    w = Window.partitionBy(*key_cols).orderBy(*order)
    unchanged = F.lit(True)
    for c in value_cols:
        unchanged = unchanged & F.col(c).eqNullSafe(F.lag(c).over(w))
    first = F.row_number().over(w) == 1
    changes = df.withColumn("_keep", first | ~unchanged).filter(F.col("_keep"))
    w2 = Window.partitionBy(*key_cols).orderBy(*order)
    return changes.select(
        *key_cols,
        *value_cols,
        F.col(ts_col).alias("valid_from"),
        F.lead(ts_col).over(w2).alias("valid_to"),
        F.lead(ts_col).over(w2).isNull().alias("is_current"),
    )


def pseudonymize(df, cols: list[str], secret: str):
    """GDPR-style keyed pseudonymization: replace each value with
    ``md5(secret || ':' || value)`` — deterministic (joins/groupBys on the
    token still work across tables tokenized with the same secret),
    irreversible without the secret, engine-portable (the md5 cross-engine
    family), and a pure codegen projection (no shuffle, no vocabulary).

    NULLs stay NULL so missingness semantics survive tokenization.  Rotate the secret to unlink releases.
    """
    from pyspark.sql import functions as F

    out = df
    for c in cols:
        tok = F.md5(F.concat_ws(":", F.lit(secret), F.col(c).cast("string")))
        out = out.withColumn(c, F.when(F.col(c).isNotNull(), tok))
    return out
