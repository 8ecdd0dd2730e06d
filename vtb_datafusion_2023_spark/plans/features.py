"""Branch C: the wide per-user feature matrix
(/root/reference/run.py:185-430), composed from the operator library.

Input contract: a transactions DataFrame with columns
(user_id, cat [category code], amt [signed], ts, ord).

Output: the feature frame keyed by user_id.  Users whose rows all
vanish under trim+blacklist have no row; ``run_submission`` restores
every missing user at the J4 imputation step (an anti-join against all
input users), which covers them as run.py:200-202's dropped-user list
does.

Plan shape at scale: ONE user-window (trim), ONE user hash aggregate
carrying every kept-level block (both category pivots + the three
temporal pivots + the A10 time-of-day moments — all conditional counts
/ exact decimal sums / exact percentiles, so fusing them is
bitwise-identical to running each block alone), one (user, cat) hash
aggregate + one user window + one user hash aggregate for the A11 stat
families, and a single 2-way user-aligned join.  The historical 8-block
composition (8 separate aggregates over ``kept`` joined 8-wide: 3 extra
shuffles of the row set and 6 extra join legs) lives on as the test
reference ``reference_branch_c_blocks`` in tests/test_plans.py, which
pins this plan to it bit for bit.  Measured at sf0.1: branch C 2.2 s ->
~1 s, pipeline_submission end-to-end ~7.5 -> ~5.5 s, identical values.

Wide expression lists (the pivots, the ~250-column ordered projection
at a 70-code vocabulary) are SQL text, one parse per column: in PySpark 4.x
each Column-API call also pays a call-site capture of several py4j
round trips, which made building this plan cost seconds of driver time
before any job ran (operators.pivots has the numbers).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import sqlgen
from ..functions.temporal import with_time_parts
from ..operators.filtering import blacklist as _blacklist
from ..operators.filtering import positional_trim
from ..operators.gstats import horizontal_stats_multi
from ..operators.joins import assemble_features
from ..operators.pivots import pivot_exprs, row_normalize
from ..schema import DAYS_OF_MONTH, DAYS_OF_WEEK, HOURS

def feature_columns(cat_vocab: Sequence) -> list[str]:
    """Branch C's output columns after ``user_id``, in the historical
    8-block assembly order (the ``FEATURE_COLS`` contract in
    ``suite.submission_e2e``)."""
    return (
        [f"mcc_freq-{v}" for v in cat_vocab]
        + [f"mcc_sum-{v}" for v in cat_vocab]
        + [f"mcc_freq_stats_{s}" for s in sqlgen.HSTAT_COLS]
        + [f"mcc_freq_proc_stats_{s}" for s in sqlgen.HSTAT_COLS]
        + [f"dom-{d}" for d in DAYS_OF_MONTH]
        + [f"dow-{d}" for d in DAYS_OF_WEEK]
        + [f"hod-{h}" for h in HOURS]
        + [f"time_day_{s}" for s in sqlgen.MOMENT_COLS]
    )


def _long_counts(kept: DataFrame, freq_divisor: int) -> DataFrame:
    """The (user, cat) long aggregate feeding the A11 stat blocks."""
    long = kept.groupBy("user_id", "cat").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.expr(sqlgen.dsum_cast("amt", alias="amt_sum")),
        F.expr(
            "count(case when amt > 0 then amt end) as debit_cnt"
        ),
    )
    # P6: bucketed counts (`//= 20`, run.py:248-249) feed the stats blocks
    return long.withColumn("cnt_b", F.floor(F.col("cnt") / freq_divisor))


def branch_c_features(
    tx: DataFrame,
    cat_vocab: Sequence,
    trim: int = 20,
    blacklist_cats: Sequence = (6012,),
    freq_divisor: int = 20,
) -> DataFrame:
    """Features keyed by user_id.  Every kept-level block is one hash
    aggregate and both A11 stat families another (see the module
    docstring).

    The trimmed row set is not pinned: its two consumers (wide
    aggregate, long aggregate) both sit above the SAME trim-window
    exchange, which ReuseExchange shares, and replaying the post-shuffle
    window beats a block-manager barrier of the row set (measured in
    run_submission: 6.25 -> 5.90 s at sf0.1, 63.4 -> 38.3 s at sf10)."""
    tx = with_time_parts(tx.withColumnRenamed("ts", "transaction_dttm"))
    trimmed = positional_trim(tx, "user_id", ["transaction_dttm", "ord"], trim, trim)
    kept = _blacklist(trimmed, "cat", *blacklist_cats)

    # every kept-level block is a per-user aggregate over the same
    # rows: conditional counts (pivots), exact decimal conditional
    # sums, and the A10 moment fragments are all order-insensitive,
    # so one wide hash aggregate produces bit-identical columns with
    # ONE exchange where the block form pays six.
    kept_aggs = (
        pivot_exprs("cat", cat_vocab, agg="count", prefix="mcc_freq")
        + pivot_exprs("cat", cat_vocab, agg="sum", value_col="amt", prefix="mcc_sum")
        + pivot_exprs("day_of_month", DAYS_OF_MONTH, agg="count", prefix="dom")
        + pivot_exprs("day_of_week", DAYS_OF_WEEK, agg="count", prefix="dow")
        + pivot_exprs("hour", HOURS, agg="count", prefix="hod")
        + [
            F.expr(s)
            for s in sqlgen.moment_stats("time_day", "time_day", percentile_fn="percentile")
        ]
    )
    kept_block = kept.groupBy("user_id").agg(*kept_aggs)

    # A11 stat families off the long form: freq rides the same
    # user-partitioned window output the stats aggregate consumes,
    # so cnt_b + freq stats share one exchange and one scan of long.
    freq_long = row_normalize(_long_counts(kept, freq_divisor), "user_id", "cnt", out_col="freq")
    stats_block = horizontal_stats_multi(
        freq_long,
        "user_id",
        [("cnt_b", "mcc_freq_stats"), ("freq", "mcc_freq_proc_stats")],
    )

    feats = assemble_features([kept_block, stats_block], key="user_id", how="outer", fill=0.0)
    # a zero-cost projection over the joined row into the contract order
    return feats.selectExpr("user_id", *[sqlgen.ident(c) for c in feature_columns(cat_vocab)])
