"""Robust-cleaning operators A7-A9 / F3 (SURVEY §2.5).

The reference's defence-track cleaning (/root/reference/run.py:25-85) is a
per-user python loop: for each user, (1) winsorize amounts of frequent MCC
codes to the code's median beyond dynamic percentile bounds, (2) rewrite
rare codes (count <= n_mcc) to the user's most frequent code and its
median amount.  O(users * rows) single-threaded scans.

Spark-first shape: group statistics once (one shuffle on (user, code)),
broadcast-free join back (same key => co-partitioned sort-merge or AQE
shuffled-hash), conditional rewrite as a projection.  A skewed power-user
inflates one group only; AQE skew-join splitting covers it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .gstats import group_percentiles


def winsorize_to_median(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    n_amt: int = 10,
    min_count: int = 10,
) -> DataFrame:
    """A8: values outside the group's dynamic percentile bounds are
    replaced by the group median (/root/reference/run.py:60-67); applies
    only to groups seen more than ``min_count`` times."""
    stats = group_percentiles(df, keys, value_col, n_amt=n_amt)
    joined = df.join(stats, on=keys, how="left")
    v = F.col(value_col)
    rewritten = (
        F.when(
            (F.col("cnt") > min_count) & ((v > F.col("p_hi")) | (v < F.col("p_lo"))),
            F.col("p_median"),
        )
        .otherwise(v)
        .alias(value_col)
    )
    keep = [c for c in df.columns if c != value_col]
    return joined.select(*keep, rewritten)


def _cat_counts_top(
    src: DataFrame, user_col: str, cat_col: str, value_col: str
) -> tuple[DataFrame, DataFrame]:
    """The shared A9 statistics block: per-(user, cat) row counts with
    the category's exact median riding the SAME aggregate (builtin
    ``percentile`` — the weighted ``(1-f)*lo + f*hi`` interpolation the
    DuckDB oracle's ``quantile_cont`` matches bitwise, and NULL for
    all-null-value groups, which stay present because the count
    aggregates every row), plus the per-user top category carrying its
    own median.  One aggregation, one window — no median re-join.

    Tie-break for "most frequent": smallest category among equal counts —
    np.unique sorts ascending and argmax takes the first hit
    (/root/reference/run.py:41-45, SURVEY §7.4.3) =>
    ``orderBy(cnt desc, cat asc)``.

    Returns ``(counts(user, cat, _cat_cnt), top(user, _top_cat,
    _cat_median))``."""
    counts = src.groupBy(user_col, cat_col).agg(
        F.count(F.lit(1)).alias("_cat_cnt"),
        F.expr(f"percentile({value_col}, 0.5)").alias("_cat_median"),
    )
    top_w = Window.partitionBy(user_col).orderBy(
        F.col("_cat_cnt").desc(), F.col(cat_col).asc()
    )
    top = (
        counts.withColumn("_rn", F.row_number().over(top_w))
        .filter(F.col("_rn") == 1)
        .select(F.col(user_col), F.col(cat_col).alias("_top_cat"), "_cat_median")
    )
    return counts.select(user_col, cat_col, "_cat_cnt"), top


def rare_category_rewrite(
    df: DataFrame,
    user_col: str,
    cat_col: str,
    value_col: str,
    min_count: int = 10,
    stats_source: DataFrame | None = None,
) -> DataFrame:
    """A9: rows whose (user, cat) count <= ``min_count`` get cat <- the
    user's most frequent category and value <- that category's group
    median (/root/reference/run.py:69-76); statistics via
    :func:`_cat_counts_top`.

    ``stats_source``: DataFrame to compute counts/top-category/medians
    from (defaults to ``df``).  The reference captures per-code amount
    arrays BEFORE winsorization mutates them (run.py:49-50 copies), so the
    composed cleaner passes the original transactions here.
    """
    src = stats_source if stats_source is not None else df
    counts, top_med = _cat_counts_top(src, user_col, cat_col, value_col)

    enriched = (
        df.join(counts, on=[user_col, cat_col], how="left")
        .join(top_med, on=user_col, how="left")
    )
    is_rare = F.col("_cat_cnt") <= min_count
    out_cols = []
    for c in df.columns:
        if c == cat_col:
            out_cols.append(
                F.when(is_rare, F.col("_top_cat")).otherwise(F.col(cat_col)).alias(cat_col)
            )
        elif c == value_col:
            out_cols.append(
                F.when(is_rare, F.col("_cat_median")).otherwise(F.col(value_col)).alias(value_col)
            )
        else:
            out_cols.append(F.col(c))
    return enriched.select(*out_cols)


def _clean_stats_fused(
    df: DataFrame, user_col: str, cat_col: str, value_col: str, n_amt: int
) -> tuple[DataFrame, DataFrame]:
    """A7 + A9 statistics in ONE (user, cat) window + ONE aggregate.

    ``group_percentiles`` and ``_cat_counts_top`` both key on (user, cat)
    but ran as two separate aggregations (two exchanges + two scans of
    the transaction log) joined back one by one.  Their statistics fuse
    into a single pass because the only conflict — group_percentiles
    ranks NON-NULL values while _cat_cnt counts ALL rows — resolves
    inside one window: NULL values sort FIRST under Spark's ASC default,
    so the rank of a non-null value among non-nulls is
    ``row_number - (#nulls in partition)``, computable from the same
    sorted stream; null rows land at ranks <= -1, which no interpolation
    position k >= 0 can ever select (and their ``_v`` is NULL anyway, so
    even the all-null group's k = -1 probes contribute nothing).

    Bitwise-identical outputs to the two-block form (differential-pinned
    in tests/test_r11_opt.py over nulls / all-null groups / ties /
    singletons, plus the two-step pin in tests/test_scale_properties.py):
    the interpolation arithmetic, the builtin ``percentile`` median, and
    the count contracts (cnt = non-null, _cat_cnt = all rows) are
    textually the same expressions over the same row sets.  The one
    observable difference — all-null-value groups now EXIST in the stats
    table with cnt = 0 instead of being absent — is invisible through
    the left join: cnt = 0 and cnt = NULL both fail the ``cnt > n_mcc``
    winsorize gate, and the group's p_lo/p_hi/p_median are NULL either
    way.  (``_q`` guards ``_cnt = 0`` explicitly so that group divides
    by nothing.)

    Returns ``(onestats(user, cat, cnt, p_lo, p_hi, p_median, _cat_cnt),
    top(user, _top_cat, _top_cat_median))``.
    """
    keys = [user_col, cat_col]
    v = F.col(value_col)
    w_ord = Window.partitionBy(*keys).orderBy(v.asc())
    w_part = Window.partitionBy(*keys)
    ranked = df.select(
        *keys,
        v.alias("_v"),
        (
            F.row_number().over(w_ord)
            - (F.count(F.lit(1)).over(w_part) - F.count(v).over(w_part))
            - 1
        ).alias("_rk"),
        F.count(v).over(w_part).alias("_cnt"),
    )
    pos = ranked.select(
        "*",
        F.expr(
            f"case when _cnt = 0 then cast(1.0 as double) "
            f"when cast({n_amt} as double) / _cnt > 1.0 then 1.0 "
            f"else cast({n_amt} as double) / _cnt end"
        ).alias("_q"),
    ).select(
        "*",
        F.expr("(_cnt - 1) * _q").alias("_t_lo"),
        F.expr("(_cnt - 1) * (1.0 - _q)").alias("_t_hi"),
        F.expr("(_cnt - 1) * 0.5").alias("_t_md"),
    )

    def interp(t: str, alias: str) -> list:
        k = f"cast(floor({t}) as bigint)"
        return [
            F.expr(f"max(case when _rk = {k} then _v end) as _{alias}_lo"),
            F.expr(f"max(case when _rk = {k} + 1 then _v end) as _{alias}_hi"),
            F.expr(f"max({t} - {k}) as _{alias}_frac"),
        ]

    agg = pos.groupBy(*keys).agg(
        F.max("_cnt").alias("cnt"),
        *interp("_t_lo", "lo"),
        *interp("_t_hi", "hi"),
        *interp("_t_md", "md"),
        F.count(F.lit(1)).alias("_cat_cnt"),
        F.expr("percentile(_v, 0.5)").alias("_cat_median"),
    )

    def finish(alias: str, out: str) -> str:
        lo, hi, fr = f"_{alias}_lo", f"_{alias}_hi", f"_{alias}_frac"
        return (
            f"(case when {hi} is null then {lo} "
            f"else {lo} + ({hi} - {lo}) * {fr} end) as {out}"
        )

    onestats = agg.select(
        *keys,
        "cnt",
        F.expr(finish("lo", "p_lo")),
        F.expr(finish("hi", "p_hi")),
        F.expr(finish("md", "p_median")),
        "_cat_cnt",
        "_cat_median",
    )
    top_w = Window.partitionBy(user_col).orderBy(
        F.col("_cat_cnt").desc(), F.col(cat_col).asc()
    )
    top = (
        onestats.withColumn("_rn", F.row_number().over(top_w))
        .filter(F.col("_rn") == 1)
        .select(
            F.col(user_col),
            F.col(cat_col).alias("_top_cat"),
            F.col("_cat_median").alias("_top_cat_median"),
        )
    )
    return onestats.drop("_cat_median"), top


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

    Row-identical to ``rare_category_rewrite(winsorize_to_median(df),
    stats_source=df)`` (pinned by tests/test_scale_properties.py,
    including mixed-sign medians and all-null-value top categories) but
    FUSED twice over:

    - the winsorize condition fires only on groups with cnt > ``n_mcc``
      and the rare rewrite only on cnt <= ``n_mcc`` — disjoint — so both
      resolve in ONE projection off one enriched join (the r5 fusion);
    - the A7 percentile statistics and the A9 count/median statistics
      both key on (user, cat), so they ride ONE window + ONE aggregate
      (:func:`_clean_stats_fused`, r11) instead of two aggregations and
      three join legs — one fewer scan + exchange of the transaction
      log per call, bitwise-identical outputs (see its docstring for the
      null-handling argument; the builtin ``percentile`` median still
      rides the counts, never ``group_percentiles``' differently-rounded
      interpolation)."""
    keys = [user_col, cat_col]
    # rare-rewrite statistics come from the ORIGINAL df: the reference
    # copies per-code amount arrays before winsorization mutates them
    # (run.py:49-50).  _cat_cnt counts ALL rows (the a9 contract), while
    # cnt counts non-null values (the winsorize/percentile contract) —
    # they differ on groups holding null values.
    onestats, top_med = _clean_stats_fused(df, user_col, cat_col, value_col, n_amt)

    enriched = df.join(onestats, on=keys, how="left").join(top_med, on=user_col, how="left")
    v = F.col(value_col)
    is_rare = F.col("_cat_cnt") <= n_mcc
    winsorize = (F.col("cnt") > n_mcc) & ((v > F.col("p_hi")) | (v < F.col("p_lo")))
    out_cols = []
    for c in df.columns:
        if c == cat_col:
            out_cols.append(
                F.when(is_rare, F.col("_top_cat")).otherwise(F.col(cat_col)).alias(cat_col)
            )
        elif c == value_col:
            out_cols.append(
                F.when(is_rare, F.col("_top_cat_median"))
                .otherwise(F.when(winsorize, F.col("p_median")).otherwise(v))
                .alias(value_col)
            )
        else:
            out_cols.append(F.col(c))
    return enriched.select(*out_cols)


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
