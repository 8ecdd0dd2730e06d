"""Suite: aggregations A1-A6, A10-A16 (SURVEY §2.5).

Scale notes: every pivot uses a FROZEN vocabulary (single shuffle, no
distinct-values pass); normalization and horizontal stats run over the
LONG form pre-pivot so the wide matrix never exists mid-plan.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .. import sqlgen
from ..operators.gstats import horizontal_stats, vertical_stats
from ..operators.joins import ensemble_mean
from ..operators.pivots import pivot_agg, row_normalize, row_sum
from ..schema import DAYS_OF_WEEK, HOURS
from . import register
from ._util import SIGNED_AMT, T

_VOCAB = ["click", "error", "purchase", "refund", "signup", "view"]  # 'refund' absent -> 0s


def _pivot_count_oracle(key_expr: str, vocab, prefix: str, from_tbl: str = "events") -> str:
    cols = ", ".join(
        f'count(*) filter (where {key_expr} = {v!r}) as "{prefix}-{v}"' for v in vocab
    )
    return f"select user_id, {cols} from {from_tbl} group by user_id"


@register(
    "a1_pivot_count",
    oracle=_pivot_count_oracle("event_type", _VOCAB, "cnt"),
    survey_ref="A1,P8,P9",
    doc="group-pivot count user x category, frozen vocab (run.py:238-240).",
)
def a1_pivot_count(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    return pivot_agg(ev, "user_id", "event_type", _VOCAB, agg="count", prefix="cnt")


@register(
    "a2_pivot_count_dom",
    oracle="select user_id, "
    + ", ".join(
        f'count(*) filter (where dayofmonth(ts) = {d}) as "dom-{d}"' for d in range(1, 32)
    )
    + " from events group by user_id",
    survey_ref="A2",
    doc="group-pivot count user x day-of-month (run.py:335-337).",
)
def a2_pivot_count_dom(spark, sf_dir):
    ev = T(spark, sf_dir, "events").withColumn("dom", F.dayofmonth("ts"))
    return pivot_agg(ev, "user_id", "dom", list(range(1, 32)), agg="count", prefix="dom")


@register(
    "a3_pivot_count_dow",
    oracle="select user_id, "
    + ", ".join(
        f'count(*) filter (where (dayofweek(ts)+6)%7 = {d}) as "dow-{d}"' for d in DAYS_OF_WEEK
    )
    + " from events group by user_id",
    survey_ref="A3",
    doc="group-pivot count user x day-of-week, pandas Mon=0 (run.py:366-368).",
)
def a3_pivot_count_dow(spark, sf_dir):
    ev = T(spark, sf_dir, "events").withColumn("dow", F.expr("(dayofweek(ts)+5)%7"))
    return pivot_agg(ev, "user_id", "dow", DAYS_OF_WEEK, agg="count", prefix="dow")


@register(
    "a4_pivot_count_hour",
    oracle="select user_id, "
    + ", ".join(f'count(*) filter (where hour(ts) = {h}) as "hod-{h}"' for h in HOURS)
    + " from events group by user_id",
    survey_ref="A4",
    doc="group-pivot count user x hour-of-day (run.py:397-399).",
)
def a4_pivot_count_hour(spark, sf_dir):
    ev = T(spark, sf_dir, "events").withColumn("hod", F.hour("ts"))
    return pivot_agg(ev, "user_id", "hod", HOURS, agg="count", prefix="hod")


@register(
    "a5_pivot_sum",
    oracle="select user_id, "
    + ", ".join(
        f"coalesce({sqlgen.dsum(f'case when event_type = {v!r} then value end')}, 0.0)"
        f' as "sum-{v}"'
        for v in _VOCAB
    )
    + " from events group by user_id",
    survey_ref="A5",
    doc="group-pivot sum of amount user x category (run.py:272-274).",
)
def a5_pivot_sum(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    return pivot_agg(
        ev, "user_id", "event_type", _VOCAB, agg="sum", value_col="value", prefix="sum", fill=0.0
    )


@register(
    "a6_pivot_sum_debit_credit",
    oracle=f"""
with s as (select user_id, event_type, {SIGNED_AMT} as amt from events)
select user_id,
"""
    + ", ".join(
        f"coalesce({sqlgen.dsum(f'case when event_type = {v!r} then (case when amt > 0 then amt end) end')}, 0.0)"
        f' as "debit-{v}", '
        f"coalesce({sqlgen.dsum(f'case when event_type = {v!r} then (case when amt < 0 then amt end) end')}, 0.0)"
        f' as "credit-{v}"'
        for v in _VOCAB
    )
    + " from s group by user_id",
    survey_ref="A6,P4",
    doc="group-pivot sums of conditional debit/credit columns (run.py:290-312).",
)
def a6_pivot_sum_debit_credit(spark, sf_dir):
    ev = T(spark, sf_dir, "events").withColumn("amt", F.expr(SIGNED_AMT))
    ev = ev.withColumn("debit", F.expr("case when amt > 0 then amt end")).withColumn(
        "credit", F.expr("case when amt < 0 then amt end")
    )
    d = pivot_agg(ev, "user_id", "event_type", _VOCAB, agg="sum", value_col="debit", prefix="debit", fill=0.0)
    c = pivot_agg(ev, "user_id", "event_type", _VOCAB, agg="sum", value_col="credit", prefix="credit", fill=0.0)
    return d.join(c, "user_id")


# ---------------------------------------------------------------------------
# A10: vertical stats (pandas .agg(['mean','std',...]) — run.py:428-430).

_A10_FRAGS_DUCK = sqlgen.moment_stats("o_totalprice", "tp", percentile_fn="quantile_cont")


@register(
    "a10_vertical_stats",
    oracle="select o_custkey, "
    + ", ".join(_A10_FRAGS_DUCK)
    + " from orders group by o_custkey",
    survey_ref="A10",
    doc="vertical distribution stats per customer over order totals.",
)
def a10_vertical_stats(spark, sf_dir):
    od = T(spark, sf_dir, "orders")
    return vertical_stats(od, ["o_custkey"], "o_totalprice", "tp")


# ---------------------------------------------------------------------------
# A11: horizontal stats over the (long-form) pivot row (run.py:207-234).


def _a11_oracle() -> str:
    return sqlgen.horizontal_stats_sql(
        "select user_id, event_type, count(*) as cnt from events group by 1, 2",
        key="user_id",
        val="cnt",
        prefix="hs",
    )


@register(
    "a11_horizontal_stats",
    oracle=_a11_oracle(),
    survey_ref="A11,F5",
    doc="row-wise get_stats over pivoted counts, computed pre-pivot on the long form.",
)
def a11_horizontal_stats(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    long = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("cnt"))
    out = horizontal_stats(long, "user_id", "cnt", "hs")
    # column order parity with oracle (hash sorts by name anyway)
    return out


# ---------------------------------------------------------------------------
# A12 + A13: row-normalize + row-sum, long form (run.py:258 etc.).


@register(
    "a12_a13_row_normalize",
    oracle=f"""
with long as (select user_id, event_type, count(*) as cnt from events group by 1, 2)
select user_id, event_type, cnt,
       (cnt / {sqlgen.wdsum('cnt', 'user_id')}) as freq,
       {sqlgen.wdsum('cnt', 'user_id')} as row_total
from long
""",
    survey_ref="A12,A13",
    doc="per-user normalized frequencies (rows sum to 1) + row totals.",
)
def a12_a13_row_normalize(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    long = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("cnt"))
    freq = row_normalize(long, "user_id", "cnt", out_col="freq")
    return row_sum(freq, "user_id", "cnt", out_col="row_total")


# ---------------------------------------------------------------------------
# A15: ensemble mean across 50 repetitions (model.py:293).  Repetition
# scores are a deterministic arithmetic fixture (bootstrap draws are not
# cross-engine reproducible — SURVEY §7.4.5; A15 is about the union+agg).

_SCORE = "(cast((user_id * 2654435761 + rep * 97) % 1000 as double) / 1000.0)"


@register(
    "a15_ensemble_mean",
    oracle=f"""
with users as (select distinct user_id from events),
reps as (select range as rep from range(50)),
scored as (select user_id, rep, {_SCORE} as target from users cross join reps)
select user_id, ({sqlgen.dsum('target')} / count(target)) as target_mean
from scored group by user_id
""",
    survey_ref="A15,SO3",
    doc="mean of 50 per-repetition prediction tables via union + hash agg.",
)
def a15_ensemble_mean(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    users = ev.select("user_id").distinct()
    reps = spark.range(50).select(F.col("id").alias("rep"))
    scored = users.crossJoin(reps).select(
        "user_id", F.expr(f"{_SCORE} as target")
    )
    # the 50 repetitions arrive as one frame: the union of one run is
    # the run itself, so this certifies ensemble_mean's aggregate text
    return ensemble_mean([scored], key="user_id", score_col="target")


# ---------------------------------------------------------------------------
# A16: ROC-AUC, rank-based (Mann-Whitney), pure SQL in both engines.
# Half-integer rank sums are exactly representable => order-insensitive.


@register(
    "a16_roc_auc",
    oracle="""
with s as (select c_acctbal as score,
                  case when c_mktsegment = 'BUILDING' then 1 else 0 end as label
           from customer),
r as (select label,
             rank() over (order by score) as rk,
             count(*) over (partition by score) as ties
      from s),
a as (select sum(case when label = 1 then rk + (ties - 1) / cast(2 as double) end) as spr,
             cast(sum(label) as bigint) as npos,
             count(*) as n
      from r)
select npos, cast(n - npos as bigint) as nneg,
       ((spr - npos * (npos + 1) / cast(2 as double)) / (npos * (n - npos))) as auc
from a
""",
    survey_ref="A16",
    doc="areaUnderROC via average-rank Mann-Whitney statistic (model.py:100-103).",
)
def a16_roc_auc(spark, sf_dir):
    cu = T(spark, sf_dir, "customer")
    cu.createOrReplaceTempView("_a16_customer")
    # `ties` counts the CURRENT ROW'S PEERS under the rank()'s own global
    # score order (RANGE CURRENT ROW AND CURRENT ROW = all rows tied with
    # this one) — value-identical to the oracle's `partition by score`
    # count, but it shares the rank window's single-partition sort instead
    # of planning a second Exchange+Sort on score (r11 guide §2.4; plan:
    # 2 exchanges + 2 sorts -> 1 + 1, plans/r11/a16_roc_auc_*.txt).
    return spark.sql(
        """
with s as (select c_acctbal as score,
                  case when c_mktsegment = 'BUILDING' then 1 else 0 end as label
           from _a16_customer),
r as (select label,
             rank() over (order by score) as rk,
             count(*) over (order by score range between current row and current row) as ties
      from s),
a as (select sum(case when label = 1 then rk + (ties - 1) / cast(2 as double) end) as spr,
             cast(sum(label) as bigint) as npos,
             count(*) as n
      from r)
select npos, cast(n - npos as bigint) as nneg,
       ((spr - npos * (npos + 1) / cast(2 as double)) / (npos * (n - npos))) as auc
from a
"""
    )


@register(
    "agg_time_rollup",
    oracle=f"""
select date_trunc('day', ts) as day, hour(ts) as hour,
       count(*) as n,
       {sqlgen.dsum('value', 'total')},
       grouping(date_trunc('day', ts), hour(ts)) as lvl
from events
group by rollup(date_trunc('day', ts), hour(ts))
""",
    survey_ref="time-rollup",
    doc="hypertable-style multi-granularity rollup: (day,hour) detail + "
    "day subtotals + grand total in ONE shuffle via ROLLUP grouping sets.",
)
def agg_time_rollup(spark, sf_dir):
    from ..operators.rollup import time_rollup

    return time_rollup(T(spark, sf_dir, "events"))


@register(
    "sk_heavy_hitters",
    oracle="""
with counts as (
  select user_id, event_type, count(*) as cnt
  from events group by 1, 2
)
select user_id, event_type, cnt,
       (cast(cnt as double) /
        cast(sum(cnt) over (partition by user_id) as double)) as share
from counts
qualify share >= 0.25
""",
    survey_ref="sketch-heavy-hitters",
    doc="exact per-user heavy hitters (frequency share >= 0.25); two "
    "partial-aggregable passes sharing one shuffle layout.",
)
def sk_heavy_hitters(spark, sf_dir):
    from ..functions.sketches import heavy_hitters

    return heavy_hitters(T(spark, sf_dir, "events"), ["user_id"], "event_type", 0.25)


@register(
    "sk_approx_distinct",
    oracle=None,  # HLL++ is engine-specific; pytest bounds it vs exact
    survey_ref="sketch-approx-distinct",
    doc="per-type HLL++ distinct users (rsd 5%): constant-memory, "
    "partial-aggregable distinct at 100 TB; error-bound-tested vs exact.",
)
def sk_approx_distinct(spark, sf_dir):
    from ..functions.sketches import approx_distinct

    return approx_distinct(T(spark, sf_dir, "events"), ["event_type"], "user_id")


_KMV_K = 64
_KMV_H = sqlgen.hex_to_int("md5((user_id || ''))", nibbles=8)


@register(
    "sk_kmv_distinct",
    oracle=f"""
with hashed as (
  select distinct event_type, {_KMV_H} as _h from events
),
ranked as (
  select event_type, _h,
         row_number() over (partition by event_type order by _h asc) as _rk,
         count(*) over (partition by event_type) as _nd
  from hashed
),
agg as (
  select event_type, max(_nd) as _nd,
         max(case when _rk = {_KMV_K} then _h end) as _hk
  from ranked group by event_type
)
select event_type,
       case when _nd < {_KMV_K} then cast(_nd as double)
            else cast({_KMV_K - 1} as double) * cast(4294967296 as double)
                 / cast(_hk as double) end as kmv_nd
from agg
""",
    survey_ref="sketch-approx-distinct",
    doc="per-type KMV distinct-user sketch — the md5 hash-certifiable "
    "twin of the HLL++ sk_approx_distinct (engine-agnostic estimate, "
    "exactly replayable by the oracle); err ~ 1/sqrt(k-2) at k=64.",
)
def sk_kmv_distinct(spark, sf_dir):
    from ..functions.sketches import kmv_distinct

    return kmv_distinct(T(spark, sf_dir, "events"), ["event_type"], "user_id", k=_KMV_K)


def _kmv_set_ops_oracle() -> str:
    from ..functions.sketches import kmv_set_ops_final_sql

    finals = ",\n       ".join(kmv_set_ops_final_sql(_KMV_K))
    return f"""
with hashed as (
  select distinct event_type as _s, {_KMV_H} as _h from events
),
sk as (
  select _s, _h from (
    select _s, _h, row_number() over (partition by _s order by _h asc) as _rk
    from hashed
  ) where _rk <= {_KMV_K}
),
sets as (select distinct _s from sk),
pairs as (
  select a._s as set_a, b._s as set_b
  from sets a join sets b on a._s < b._s
),
comb as (
  select p.set_a, p.set_b, s._h,
         max(case when s._s = p.set_a then 1 else 0 end) as _ina,
         max(case when s._s = p.set_b then 1 else 0 end) as _inb
  from pairs p join sk s on s._s = p.set_a or s._s = p.set_b
  group by 1, 2, 3
),
r2 as (
  select set_a, set_b, _h, _ina, _inb,
         row_number() over (partition by set_a, set_b order by _h asc) as _rk,
         count(*) over (partition by set_a, set_b) as _nl
  from comb
),
agg as (
  select set_a, set_b, max(_nl) as _nl,
         max(case when _rk = {_KMV_K} then _h end) as _hk,
         sum(case when _rk <= least({_KMV_K}, _nl)
                   and _ina = 1 and _inb = 1 then 1 else 0 end) as _both
  from r2 group by set_a, set_b
)
select set_a, set_b,
       {finals}
from agg
"""


@register(
    "sk_kmv_overlap",
    oracle=_kmv_set_ops_oracle(),
    survey_ref="sketch-approx-distinct",
    doc="KMV set-operation estimates (Beyer et al. SIGMOD'07) for every "
    "event-type pair: |A∪B| from the combined sketch's k-th minimum, "
    "Jaccard from the both-members fraction of the first k, |A∩B| as "
    "their product — source/shard overlap estimation WITHOUT a pairwise "
    "distinct join over raw data.  Pairwise work runs on the |sets|·k "
    "sketch table only; md5 hashing keeps the estimate engine-agnostic "
    "(exactly replayed by the oracle, shared float grammar).",
)
def sk_kmv_overlap(spark, sf_dir):
    from ..functions.sketches import kmv_set_ops

    return kmv_set_ops(T(spark, sf_dir, "events"), "event_type", "user_id", k=_KMV_K)


@register(
    "agg_cube_source_lang",
    oracle=f"""
select source, lang, count(*) as n,
       {sqlgen.dsum('n_chars', 'total')},
       grouping(source, lang) as lvl
from documents
group by cube(source, lang)
""",
    survey_ref="agg-cube",
    doc="CUBE over (source, lang): all four grouping-set levels in one "
    "shuffle (Expand + single hash agg), decimal-exact totals.",
)
def agg_cube_source_lang(spark, sf_dir):
    from ..operators.rollup import cube_agg

    return cube_agg(T(spark, sf_dir, "documents"), ["source", "lang"], "n_chars")


@register(
    "an_funnel",
    oracle="""
with s1 as (
  select user_id, min(ts) as t0, min(ts) + interval 7 day as deadline
  from events where event_type = 'view' group by 1
),
s2 as (
  select e.user_id, any_value(s1.deadline) as deadline, min(e.ts) as t1
  from events e join s1 using (user_id)
  where e.event_type = 'click' and e.ts > s1.t0 and e.ts <= s1.deadline
  group by 1
),
s3 as (
  select e.user_id, min(e.ts) as t2
  from events e join s2 using (user_id)
  where e.event_type = 'purchase' and e.ts > s2.t1 and e.ts <= s2.deadline
  group by 1
)
select 1 as step, 'view' as step_name, count(*) as n_users from s1
union all
select 2 as step, 'click' as step_name, count(*) as n_users from s2
union all
select 3 as step, 'purchase' as step_name, count(*) as n_users from s3
""",
    survey_ref="an-funnel",
    doc="ordered funnel (view -> click -> purchase within 7 days of the "
    "first view): per-step first-occurrence aggs, all co-partitioned "
    "on user_id.",
)
def an_funnel(spark, sf_dir):
    from ..operators.analytics import funnel

    return funnel(
        T(spark, sf_dir, "events"), ["view", "click", "purchase"], within="7 days"
    )


@register(
    "an_retention",
    oracle="""
with first as (
  select user_id, date_trunc('week', min(ts)) as cohort_week
  from events group by 1
),
active as (
  select distinct user_id, date_trunc('week', ts) as week from events
)
select cohort_week,
       cast(date_diff('day', cohort_week, week) / 7 as int) as weeks_since,
       count(distinct user_id) as n_active
from active join first using (user_id)
group by 1, 2
""",
    survey_ref="an-retention",
    doc="weekly retention triangle: first-seen-week cohorts x active "
    "week; two hash aggs + one user-keyed co-partitioned join.",
)
def an_retention(spark, sf_dir):
    from ..operators.analytics import retention_cohorts

    return retention_cohorts(T(spark, sf_dir, "events"))


@register(
    "agg_topk_per_group",
    oracle=f"""
select event_type, user_id, total from (
  select event_type, user_id, total,
         row_number() over (partition by event_type
                            order by total desc, user_id) as rk
  from (
    select event_type, user_id, {sqlgen.dsum("value", "total")}
    from events group by event_type, user_id
  )
) where rk <= 3
""",
    survey_ref="agg-topk",
    doc="top-3 users by exact total value per event type; the rank "
    "filter plans as WindowGroupLimit (per-task k-row heaps pre-shuffle).",
)
def agg_topk_per_group(spark, sf_dir):
    from ..operators.analytics import topk_per_group

    totals = (
        T(spark, sf_dir, "events")
        .groupBy("event_type", "user_id")
        .agg(F.expr(sqlgen.dsum("value", "total")))
    )
    return topk_per_group(
        totals, ["event_type"], "total", 3, descending=True, tie_cols=["user_id"]
    )


@register(
    "agg_grouping_sets",
    oracle=f"""
select coalesce(event_type, '<all>') as event_type,
       coalesce(source, '<all>') as source,
       grouping(event_type) + 2 * grouping(source) as gid,
       count(*) as n, {sqlgen.dsum("value", "total")}
from (select e.event_type, d.source, e.value
      from events e join documents d on e.user_id % 500 = d.doc_id)
group by grouping sets ((event_type, source), (event_type), (source))
""",
    survey_ref="agg-grouping-sets",
    doc="explicit GROUPING SETS with grouping() disambiguation of NULL "
    "vs all — all three levels from one Expand shuffle.",
)
def agg_grouping_sets(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    docs = T(spark, sf_dir, "documents").select("doc_id", "source")
    joined = ev.join(docs, ev.user_id % 500 == docs.doc_id).select(
        "event_type", "source", "value"
    )
    joined.createOrReplaceTempView("_gs_in")
    return joined.sparkSession.sql(
        f"""
        select coalesce(event_type, '<all>') as event_type,
               coalesce(source, '<all>') as source,
               cast(grouping(event_type) + 2 * grouping(source) as bigint) as gid,
               count(*) as n, {sqlgen.dsum("value", "total")}
        from _gs_in
        group by grouping sets ((event_type, source), (event_type), (source))
        """
    )


@register(
    "agg_incremental_merge",
    oracle=f"""
select event_type, date_trunc('day', ts) as day,
       count(*) as n, {sqlgen.fsum("value", "total")}
from events
group by event_type, date_trunc('day', ts)
""",
    survey_ref="agg-incremental",
    doc="incremental rollup maintenance: old and new event batches "
    "aggregate to mergeable integer hi/lo states independently; merging "
    "the partials is bitwise identical to this full-recompute oracle — "
    "daily ingest never rescans history.",
)
def agg_incremental_merge(spark, sf_dir):
    from ..operators.rollup import finalize_partials, merge_partials, partial_agg

    ev = T(spark, sf_dir, "events").select(
        "event_type", F.date_trunc("day", "ts").alias("day"), "value"
    )
    cut = F.lit("2024-01-21 00:00:00").cast("timestamp")
    old = partial_agg(ev.filter(F.col("day") < cut), ["event_type", "day"], "value")
    new = partial_agg(ev.filter(F.col("day") >= cut), ["event_type", "day"], "value")
    return finalize_partials(merge_partials([old, new], ["event_type", "day"]))


_KQ_FRACS = [0.25, 0.5, 0.75, 0.95]


def _kq_oracle() -> str:
    sels = ",\n       ".join(
        f"max(case when rn = greatest(1, cast(ceil(cast({f!r} as double) * n) as bigint))"
        f" then value end) as kq_{int(round(f * 1000)):03d}"
        for f in _KQ_FRACS
    )
    return f"""
with s as (
  select user_id, value,
         row_number() over (partition by user_id order by value) as rn,
         count(*) over (partition by user_id) as n
  from events where value is not null
)
select user_id,
       {sels}
from s group by user_id
"""


@register(
    "agg_incremental_quantiles",
    oracle=_kq_oracle(),
    survey_ref="rollup-quantiles",
    doc="incrementally-maintained per-user value quantiles "
    "(p25/p50/p75/p95): two ingest shards sketch independently "
    "(DataSketches KLL via kll_sketch_agg_double), merge with "
    "kll_merge_agg_double, finalize to values — completing the "
    "mergeable-state trio (HLL distinct / CMS frequency / KLL order "
    "statistics).  Per-user counts sit inside the sketch's exact "
    "retained regime, so every estimate EQUALS the oracle's order "
    "statistic at ceil(q*n) — certifying the whole "
    "partial->merge->finalize path, not an approximation.",
)
def agg_incremental_quantiles(spark, sf_dir):
    from ..operators.rollup import (
        merge_quantile_partials,
        partial_quantiles,
        quantile_estimate,
    )

    ev = T(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    shard1 = partial_quantiles(ev.filter(F.col("event_id") < 5000), ["user_id"], "value")
    shard2 = partial_quantiles(ev.filter(F.col("event_id") >= 5000), ["user_id"], "value")
    merged = merge_quantile_partials([shard1, shard2], ["user_id"])
    return quantile_estimate(merged, _KQ_FRACS)
