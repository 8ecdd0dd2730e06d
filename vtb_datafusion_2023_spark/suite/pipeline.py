"""Suite: the composed flagship pipeline (SURVEY §7.2) — the reference's
branch-C per-user profile as one end-to-end plan:

scan -> positional trim (F4) -> category blacklist (F2) -> long pivot
counts (A1) -> row-normalized frequencies (A12) -> horizontal stats (A11)
-> time-of-day vertical stats (A10) -> multi-way feature assembly (J2).

Scale shape: two shuffles total (user-window for the trim; user hash-agg
reused by every downstream block), broadcast-free same-key joins, no wide
matrix until the final projection.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .. import sqlgen
from ..functions.temporal import seconds_since_midnight
from ..operators.filtering import blacklist, positional_trim
from ..operators.gstats import horizontal_stats_multi, vertical_stats
from ..operators.joins import assemble_features
from ..operators.pivots import row_normalize
from . import register
from ._util import BLACKLIST_TYPE, T

_PROFILE_VOCAB = ["click", "purchase", "signup", "view"]  # post-blacklist closed vocab

_TRIMMED_SQL = f"""
select user_id, event_type, value, ts from (
  select user_id, event_type, value, ts,
         row_number() over (partition by user_id order by ts asc, event_id asc) as rn_a,
         row_number() over (partition by user_id order by ts desc, event_id desc) as rn_d
  from events
) where rn_a > 20 and rn_d > 20
  and (event_type is null or event_type <> '{BLACKLIST_TYPE}')
"""

_LONG_SQL = f"select user_id, event_type, count(*) as cnt from ({_TRIMMED_SQL}) group by 1, 2"

_FREQ_COLS = ", ".join(
    f"coalesce(max(case when event_type = '{v}' then freq end), cast(0 as double)) "
    f'as "freq-{v}"'
    for v in _PROFILE_VOCAB
)

_TD_FRAGS = sqlgen.moment_stats("time_day", "td", percentile_fn="quantile_cont")


def _pipeline_oracle() -> str:
    hs = sqlgen.horizontal_stats_sql(_LONG_SQL, key="user_id", val="cnt", prefix="hs")
    return f"""
with freq_long as (
  select user_id, event_type, cnt,
         (cnt / {sqlgen.wdsum('cnt', 'user_id')}) as freq
  from ({_LONG_SQL})
),
freq_wide as (select user_id, {_FREQ_COLS} from freq_long group by user_id),
hs as ({hs}),
td as (
  select user_id, {', '.join(_TD_FRAGS)}
  from (select user_id, hour(ts)*3600 + minute(ts)*60 + second(ts) as time_day
        from ({_TRIMMED_SQL}))
  group by user_id
)
select freq_wide.*, {', '.join('hs.hs_' + c for c in sqlgen.HSTAT_COLS)},
       {', '.join('td.td_' + c for c in sqlgen.MOMENT_COLS)}
from freq_wide
join hs using (user_id)
join td using (user_id)
"""


@register(
    "pipeline_user_profile",
    oracle=_pipeline_oracle(),
    survey_ref="S1,F2,F4,A1,A10,A11,A12,J2,P2",
    doc="composed branch-C profile: trim -> blacklist -> normalized category mix "
    "+ horizontal stats + time-of-day stats per user (run.py:185-430).",
)
def pipeline_user_profile(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    trimmed = blacklist(
        positional_trim(ev, "user_id", ["ts", "event_id"], 20, 20),
        "event_type",
        BLACKLIST_TYPE,
    ).select("user_id", "event_type", "value", "ts")
    # Three downstream blocks consume `trimmed`; measured A/B at sf0.1
    # says recomputing the (cheap) trim window per branch beats caching
    # (1.0s vs 4.4s — block-manager materialization dominates).  For a
    # reused EXPENSIVE intermediate use sources.writers.checkpoint_parquet
    # (the reference's S4 materialization, run.py:84-90).

    long = trimmed.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("cnt"))
    freq_long = row_normalize(long, "user_id", "cnt", out_col="freq")
    # the frequency pivot (conditional aggregation, not DataFrame.pivot)
    # and the A11 stats are both per-user aggregates over the same long
    # table — FUSE them into one hash aggregate riding the freq window's
    # user partitioning (same pattern as plans.features.branch_c_features;
    # bitwise-identical, one exchange + one join leg fewer).
    freq_and_hs = horizontal_stats_multi(
        freq_long,
        "user_id",
        [("cnt", "hs")],
        extra_aggs=[
            F.expr(
                f"coalesce(max(case when event_type = '{v}' then freq end), cast(0 as double))"
            ).alias(f"freq-{v}")
            for v in _PROFILE_VOCAB
        ],
    )
    td = vertical_stats(
        trimmed.withColumn("time_day", seconds_since_midnight(F.col("ts"))),
        ["user_id"],
        "time_day",
        "td",
    )
    return assemble_features([freq_and_hs, td], key="user_id", how="inner", fill=None)
