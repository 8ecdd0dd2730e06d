"""Window / sequence operators W1-W7 (SURVEY §2.6).

Row order is load-bearing in the reference (pandas positional semantics —
SURVEY §7.4.1): every windowed op here takes explicit order columns
(timestamp + a unique ``ord`` tie-break).  All windows over the same
(partition, order) share one shuffle+sort — Catalyst reuses the exchange.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F

from .. import sqlgen


def _w(user_col: str, order_cols: list[str]) -> WindowSpec:
    return Window.partitionBy(user_col).orderBy(*order_cols)


def with_cumsum(
    df: DataFrame,
    user_col: str,
    order_cols: list[str],
    value_cols: list[str],
    suffix: str = "_cum",
) -> DataFrame:
    """W1: running sums per user in row order
    (/root/reference/run.py:116-118 ``cumsum()`` x3).

    Decimal-exact accumulation => bit-stable at any partitioning."""
    order = ", ".join(order_cols)
    out = df
    for c in value_cols:
        out = out.withColumn(f"{c}{suffix}", F.expr(sqlgen.wcumsum(c, user_col, order)))
    return out


def reanchor_first(
    df: DataFrame, user_col: str, order_cols: list[str], col: str, out_col: str | None = None
) -> DataFrame:
    """W2: subtract the group's first value in row order
    (/root/reference/run.py:120 ``x - x.iloc[0]``)."""
    w = _w(user_col, order_cols)
    return df.withColumn(out_col or f"{col}_re", F.col(col) - F.first(col).over(w))


def zscore(
    df: DataFrame, user_col: str, cols: list[str], suffix: str = "_z"
) -> DataFrame:
    """W3: per-user z-score with POPULATION std — sklearn StandardScaler
    fit per user, ddof=0 (/root/reference/run.py:113-115).

    Deterministic variant: mean/std from exact decimal window sums with
    identical arithmetic to the SQL oracle.
    """
    out = df
    for c in cols:
        out = out.withColumn(f"{c}{suffix}", F.expr(sqlgen.zscore_pop(c, user_col)))
    return out


def keep_last_n(
    df: DataFrame, user_col: str, order_cols: list[str], n: int
) -> DataFrame:
    """W4 (truncation half): keep the last ``n`` rows per user in row
    order — the RNN's ``x[:, -300:]`` (/root/reference/model.py:185-196)."""
    w = Window.partitionBy(user_col).orderBy(*[F.col(c).desc() for c in order_cols])
    return (
        df.withColumn("_rn_last", F.row_number().over(w))
        .filter(F.col("_rn_last") <= n)
        .drop("_rn_last")
    )


def assemble_sequences(
    df: DataFrame,
    user_col: str,
    order_cols: list[str],
    feature_cols: list[str],
    seq_len: int | None = None,
    pad_value: float = 0.0,
) -> DataFrame:
    """W7 (+W4 padding half): per-user ordered sequence tensor.

    Returns (user, seq: array<array<double>>) where seq[i] is the feature
    vector of the i-th event in row order.  With ``seq_len``, sequences
    are LEFT-truncated to the last ``seq_len`` steps and right-padded with
    ``pad_value`` rows (the reference pads the tail when shorter —
    /root/reference/model.py:185-196).

    One shuffle on user; ``collect_list(struct(ord, features))`` +
    ``array_sort`` orders within the group without a sort exchange.  At
    100 TB, per-user state is bounded by max sequence length (~thousands),
    so grouped state stays executor-resident; for unbounded histories use
    keep_last_n first.
    """
    ord_struct = F.struct(
        *[F.col(c) for c in order_cols],
        F.array(*[F.col(c).cast("double") for c in feature_cols]).alias("_fv"),
    )
    grouped = df.groupBy(user_col).agg(
        F.array_sort(F.collect_list(ord_struct)).alias("_seq_structs")
    )
    seq = F.transform(F.col("_seq_structs"), lambda s: s["_fv"])
    if seq_len is not None:
        n_feat = len(feature_cols)
        pad_row = F.array_repeat(F.lit(float(pad_value)), n_feat)
        truncated = F.slice(seq, F.greatest(F.lit(1), F.size(seq) - F.lit(seq_len - 1)), F.lit(seq_len))
        seq = F.concat(
            truncated,
            F.array_repeat(pad_row, F.greatest(F.lit(0), F.lit(seq_len) - F.size(seq))),
        )
    return grouped.select(F.col(user_col), seq.alias("seq"))


def with_rolling(
    df: DataFrame,
    user_col: str,
    order_cols: list[str],
    value_col: str,
    n: int,
    prefix: str | None = None,
) -> DataFrame:
    """Trailing-window stats: sum and mean of ``value_col`` over the last
    ``n`` rows per user in row order (current row inclusive) — the
    sliding-window companion to W1's cumulative sum.

    Decimal-exact sum; the mean derives from the same exact sum and the
    window count with SQL-text-identical arithmetic (bitwise equal to the
    oracle).  Shares the single (partition, order) shuffle+sort with every
    other window over the same key.
    """
    order = ", ".join(order_cols)
    p = prefix or f"{value_col}_roll{n}"
    rsum = sqlgen.wrollsum(value_col, user_col, order, n)
    rcnt = sqlgen.wrollcount(value_col, user_col, order, n)
    return df.withColumn(f"{p}_sum", F.expr(rsum)).withColumn(
        f"{p}_mean", F.expr(f"({rsum} / {rcnt})")
    )


def with_event_deltas(
    df: DataFrame,
    user_col: str,
    order_cols: list[str],
    ts_col: str,
    out_col: str = "delta_us",
) -> DataFrame:
    """Inter-event time per user: microseconds since the previous event in
    row order (NULL for each user's first event).  Integer µs on both
    engines (``unix_micros`` / ``epoch_us``) — no float rounding.  The
    cast makes the operator safe on a raw TIMESTAMP_NTZ scan (no-op when
    the input is already session-UTC TIMESTAMP)."""
    w = _w(user_col, order_cols)
    ts = F.col(ts_col).cast("timestamp")
    return df.withColumn(
        out_col,
        F.unix_micros(ts) - F.unix_micros(F.lag(ts).over(w)),
    )


def quantile_bin(
    df: DataFrame,
    partition_cols: list[str],
    order_cols: list[str],
    n: int,
    out_col: str = "qbin",
) -> DataFrame:
    """Equi-depth binning: ``ntile(n)`` per partition in (order_cols)
    order — the data-driven complement to P7's fixed-edge binning.
    ``order_cols`` must end with a unique tie-break for determinism.

    Scale: per-group ntile shuffles once on the partition key.  For a
    GLOBAL equi-depth bin at 100 TB, don't window over one partition —
    compute approx percentile edges on a sample and use P7
    (``bin_by_edges``) instead.
    """
    w = Window.partitionBy(*partition_cols).orderBy(*order_cols)
    return df.withColumn(out_col, F.ntile(n).over(w))


def minmax_scale(
    df: DataFrame, user_col: str, cols: list[str], suffix: str = "_mm"
) -> DataFrame:
    """Per-user min-max scaling to [0, 1] (constant groups -> NULL) — the
    bounded-range companion to W3's z-score, same single-window shape."""
    out = df
    for c in cols:
        out = out.withColumn(f"{c}{suffix}", F.expr(sqlgen.minmax_window(c, user_col)))
    return out


def with_rolling_time(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    value_col: str,
    window: str = "24 hours",
    prefix: str = "tw",
) -> DataFrame:
    """Trailing TIME-window stats: sum/count/mean of ``value_col`` over
    the last ``window`` of event time per user (current row inclusive) —
    the event-time companion to ``with_rolling``'s row-count frames, e.g.
    'spend in the trailing 24h at each transaction'.

    Implemented as a numeric RANGE frame over epoch seconds (engines
    agree on integer range bounds; interval RANGE frames differ across
    dialects).  One shuffle+sort on (user, time), state is O(rows in the
    window) per key — no self-join blowup at 100 TB.  On whole-second
    data it equals Spark's native ``RANGE BETWEEN INTERVAL ... PRECEDING``
    frame over the timestamp bitwise (a test reference in
    tests/test_reference_parity.py).
    """
    n_sec = {"hours": 3600, "hour": 3600, "minutes": 60, "minute": 60, "days": 86400, "day": 86400}
    qty, unit = window.split()
    sec = int(qty) * n_sec[unit]
    epoch = f"_epoch_{ts_col}"
    rsum = sqlgen.wrangesum(value_col, user_col, epoch, sec)
    rcnt = sqlgen.wrangecount(value_col, user_col, epoch, sec)
    return (
        df.withColumn(epoch, F.expr(f"unix_timestamp({ts_col})"))
        .withColumn(f"{prefix}_sum", F.expr(rsum))
        .withColumn(f"{prefix}_n", F.expr(rcnt))
        .withColumn(f"{prefix}_mean", F.expr(f"({rsum} / {rcnt})"))
        .drop(epoch)
    )


def with_ewma(
    df: DataFrame,
    user_col: str,
    order_cols: list[str],
    value_col: str,
    alpha: float = 0.1,
    n: int = 32,
    out_col: str | None = None,
) -> DataFrame:
    """Exponentially-weighted moving average per user in row order,
    bounded to the trailing ``n`` rows (current inclusive):
    ``y_t = (1-alpha)*y_{t-1} + alpha*x_t`` seeded with the oldest value
    in the frame — the smoothing companion to ``with_rolling``'s flat
    trailing mean (pandas ``ewm(alpha).mean()`` over a clipped window).

    The recurrence is a left Horner fold over the frame, evaluated with
    ``aggregate`` on a window-ordered ``collect_list`` — both engines
    fold oldest->newest with the identical ``acc*(1-a) + x*a`` double
    expression, so results are bitwise-reproducible (the oracle uses
    DuckDB ``list_reduce`` over the same frame).

    Scale: one shuffle+sort on (user, order) shared with every other
    window over the same key; per-row state is the O(n) trailing frame
    (n is a small constant), not the whole partition.
    """
    out = out_col or f"{value_col}_ewma"
    w = _w(user_col, order_cols).rowsBetween(-(n - 1), Window.currentRow)
    arr = F.collect_list(F.col(value_col).cast("double")).over(w)
    a = F.lit(float(alpha))
    one_m = F.lit(1.0 - float(alpha))
    # collect_list skips NULL values, so a frame of only-NULL rows yields
    # an EMPTY array: the seed must be try_element_at (plain element_at
    # throws INVALID_ARRAY_INDEX under ANSI mode, Spark 4's default) and
    # the fold then propagates the NULL seed — such rows get NULL ewma,
    # the same answer pandas ewm gives an all-NaN window.
    fold = F.aggregate(
        F.slice(arr, 2, n),
        F.try_element_at(arr, F.lit(1)),
        lambda acc, x: acc * one_m + x * a,
    )
    return df.withColumn(out, fold)


def ts_gap_fill(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    bucket: str = "day",
    prefix: str = "gf",
) -> DataFrame:
    """Regularize an event stream into a dense per-key time grid:
    bucket -> aggregate -> fill missing buckets -> forward-fill.

    Emits one row per (key, bucket) over each key's [first, last] span:
    ``{prefix}_n`` (0 in gaps), ``{prefix}_sum`` (decimal-exact, NULL in
    gaps), ``{prefix}_ffill`` (last seen sum carried forward — the
    standard feed for downstream models that need equally-spaced input).

    Scale: the aggregate is one (key, bucket) shuffle; the grid comes
    from a per-key ``sequence`` explode (rows bounded by span/bucket, no
    cross join); the fill join re-uses the same key partitioning; the
    forward fill is one window over it.  ``bucket``: 'hour' | 'day'.
    """
    if bucket not in ("hour", "day"):
        raise ValueError("bucket must be 'hour' or 'day'")
    step = f"interval 1 {bucket}"
    agg = (
        df.withColumn("_bucket", F.date_trunc(bucket, F.col(ts_col)))
        .groupBy(key_col, "_bucket")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.expr(sqlgen.dsum(value_col)).alias("_sum"),
        )
    )
    grid = (
        agg.groupBy(key_col)
        .agg(F.min("_bucket").alias("_mn"), F.max("_bucket").alias("_mx"))
        .select(
            key_col,
            F.explode(F.sequence(F.col("_mn"), F.col("_mx"), F.expr(step))).alias("_bucket"),
        )
    )
    joined = grid.join(agg, [key_col, "_bucket"], "left")
    w = (
        Window.partitionBy(key_col)
        .orderBy("_bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        key_col,
        F.col("_bucket").alias("bucket_ts"),
        F.coalesce(F.col("_n"), F.lit(0)).cast("bigint").alias(f"{prefix}_n"),
        F.col("_sum").alias(f"{prefix}_sum"),
        F.last("_sum", ignorenulls=True).over(w).alias(f"{prefix}_ffill"),
    )
