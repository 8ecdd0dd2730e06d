"""Round-11 optimization pins.

1. The one-table cleaning statistics (operators.cleaning._clean_stats:
   one (user,cat) window + one aggregate, the top category as a window
   over the stats rows, one join) — differential against the two-block
   form it replaced (group_percentiles + ``reference_cat_counts_top``,
   three join legs), on data engineered to hit every null/tie edge the
   fusion argument relies on: NULL values (rank-among-non-nulls =
   row_number − null count), ALL-null (user,cat) groups (present with
   cnt=0 in the fused stats vs absent before — must be invisible through
   the left join), ties, singleton groups, and NULL categories.

2. The min_by/max_by OHLC open/close (operators.analytics.ohlc_bars, r11:
   no windows, no sort, ONE partial-aggregating hash aggregate) —
   differential against the historical two-window row_number form,
   including NULL values at the bucket's first/last row (max_by must
   carry a NULL value sitting at the extreme key, not skip it) and
   ts ties broken by the tie column.
"""

from __future__ import annotations

import random

from pyspark.sql import Window
from pyspark.sql import functions as F


def _hexrows(df, order_cols):
    rows = df.orderBy(*order_cols).collect()
    return [
        tuple(x.hex() if isinstance(x, float) else x for x in r) for r in rows
    ]


def reference_cat_counts_top(src, user_col: str, cat_col: str, value_col: str):
    """The A9 statistics as two blocks: per-(user, cat) row counts with
    the category's builtin ``percentile`` median (NULL for an
    all-null-value group, which stays present because the count takes
    every row), and the per-user top category (most rows, then the
    smallest category: run.py:41-45) picked by ``row_number() = 1``
    with its median.

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


def test_fused_clean_stats_match_two_block_form(spark):
    from vtb_datafusion_2023_spark.operators.cleaning import clean_transactions
    from vtb_datafusion_2023_spark.operators.gstats import group_percentiles

    rnd = random.Random(7)
    rows = []
    i = 0
    for u in range(12):
        for c in [None, 0, 1, 2, 3, 4]:
            n = rnd.choice([0, 1, 2, 3, 11, 25, 40])
            for _ in range(n):
                v = None if rnd.random() < 0.15 else round(rnd.uniform(-100, 100), 2)
                if c == 4:
                    v = None  # all-null (user, cat) group
                if rnd.random() < 0.3 and v is not None:
                    v = 42.0  # ties inside the rank window
                rows.append((i, u, c, v))
                i += 1
    df = spark.createDataFrame(rows, "ord long, user_id int, cat int, value double")

    # the historical two-block composition, inlined (the shape
    # clean_transactions had before the r11 fusion)
    keys = ["user_id", "cat"]
    stats = group_percentiles(df, keys, "value", n_amt=10)
    counts, top_med = reference_cat_counts_top(df, "user_id", "cat", "value")
    enriched = (
        df.join(stats, on=keys, how="left")
        .join(counts, on=keys, how="left")
        .join(top_med, on="user_id", how="left")
    )
    v = F.col("value")
    is_rare = F.col("_cat_cnt") <= 10
    winsorize = (F.col("cnt") > 10) & ((v > F.col("p_hi")) | (v < F.col("p_lo")))
    two_block = enriched.select(
        "ord",
        F.col("user_id"),
        F.when(is_rare, F.col("_top_cat")).otherwise(F.col("cat")).alias("cat"),
        F.when(is_rare, F.col("_cat_median"))
        .otherwise(F.when(winsorize, F.col("p_median")).otherwise(v))
        .alias("value"),
    )

    fused = clean_transactions(
        df, user_col="user_id", cat_col="cat", value_col="value", n_amt=10, n_mcc=10
    ).select("ord", "user_id", "cat", "value")

    a = _hexrows(two_block, ["ord"])
    b = _hexrows(fused, ["ord"])
    assert len(a) == len(b) == len(rows)
    assert a == b


def test_ohlc_min_by_matches_two_window_form(spark):
    import datetime as dt

    from vtb_datafusion_2023_spark.operators.analytics import ohlc_bars

    t0 = dt.datetime(2023, 1, 1, 10, 0, 0)
    rows = [
        # NULL value first AND last in the bucket — open/close must be NULL
        (1, t0, None, 1),
        (1, t0.replace(minute=5), 5.0, 2),
        (1, t0.replace(minute=9), None, 3),
        # ts tie broken by the tie column
        (2, t0, 7.0, 4),
        (2, t0, 3.0, 5),
        # all-null bucket
        (3, t0, None, 6),
        # multi-bucket key
        (2, t0.replace(hour=11), 9.0, 7),
    ]
    rnd = random.Random(11)
    for i in range(500):
        rows.append(
            (
                rnd.randrange(4),
                t0.replace(hour=rnd.randrange(10, 14), minute=rnd.randrange(60)),
                None if rnd.random() < 0.1 else round(rnd.uniform(-10, 10), 3),
                100 + i,
            )
        )
    df = spark.createDataFrame(rows, "user_id int, ts timestamp, value double, event_id int")

    # historical form: two row_number windows (asc + desc) + flag-fold agg
    b = df.select(
        "user_id",
        F.date_trunc("hour", F.col("ts")).alias("bucket"),
        F.col("value").cast("double").alias("_v"),
        F.col("ts").alias("_ts"),
        F.col("event_id").alias("_tie"),
    )
    wa = Window.partitionBy("user_id", "bucket").orderBy(F.col("_ts").asc(), F.col("_tie").asc())
    wd = Window.partitionBy("user_id", "bucket").orderBy(F.col("_ts").desc(), F.col("_tie").desc())
    two_window = (
        b.withColumn("_ra", F.row_number().over(wa))
        .withColumn("_rd", F.row_number().over(wd))
        .groupBy("user_id", "bucket")
        .agg(
            F.max(F.when(F.col("_ra") == 1, F.col("_v"))).alias("open"),
            F.max(F.when(F.col("_rd") == 1, F.col("_v"))).alias("close"),
            F.max("_v").alias("high"),
            F.min("_v").alias("low"),
            F.count(F.lit(1)).alias("n"),
        )
    )

    got = _hexrows(ohlc_bars(df, ["user_id"]), ["user_id", "bucket"])
    want = _hexrows(two_window, ["user_id", "bucket"])
    assert got == want
